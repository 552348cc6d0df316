package graft.ops

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.tables.Tables

/** Deduplication operators over the `documents` table — the LLM-pipeline
  * surface: exact dedup, MinHash signatures, banded-LSH candidate pairs,
  * n-gram Jaccard verification, and SimHash.
  *
  * Scale design (the part that matters at 100 TB):
  * - exact dedup is a hash groupBy on the content key — one shuffle,
  *   map-side partial aggregation;
  * - near-dup never goes all-pairs: MinHash signatures are per-row work,
  *   candidate generation is an equi-join on (band, hash-value) — each
  *   bucket joins only within itself;
  * - Jaccard verification runs only on LSH candidates, joined back to
  *   shingle sets by (doc, shingle) equi-keys.
  *
  * Hash function: md5-derived BIGINT ([[graft.functions.Md5Low63]] — the
  * DuckDB oracle computes the identical value via `md5_number_lower`, so
  * signatures are byte-identical cross-engine). In a hot production path
  * you'd swap in `xxhash64` — same plan shape, cheaper hash (the native
  * [[graft.functions.MinHashSketch]] default mode does exactly that).
  */
object DedupQueries {

  /** 4-hash MinHash signature per doc (seeded by prefixing the hash input)
    * — ONE native per-row expression ([[graft.functions.ShingleSig]]): the
    * shingle loop, both digests (each md5 yields two independent 63-bit
    * halves — 4 lanes from 2 digests), and the per-lane mins all run inside
    * the scan.
    *
    * Zero shuffles: the earlier explode + `groupBy(doc_id).agg(4 × min)`
    * form shuffled the corpus to regroup by a key that is UNIQUE per input
    * row — every doc's shingles already live in its own row, so that
    * exchange re-colocated rows that were never apart. Removing it cuts the
    * signature stage of q_minhash_sig / q_lsh_pairs / q_jaccard_pairs /
    * q_dedup_clusters / q_corpus_keep from one full exchange to none, at
    * any scale.
    *
    * Hash values are BIGINT (`md5_number_lower/upper % (2^63-1)`,
    * byte-identical in DuckDB — hex-string mins would ship 32-char band
    * keys; these ship 8 bytes/hash into the band shuffle). */
  /** The docs shingle_sig(text) is non-null for — phrased as a PREDICATE on
    * raw columns (not `shingle_sig(text) IS NOT NULL`) because Catalyst
    * pushes the filter below the signature projection and would evaluate
    * the whole digest loop TWICE per row, once in the Filter and once in
    * the Project (subexpression elimination does not span operators). The
    * split here is Spark's own, so the predicate is the oracle's
    * `len(w) >= 3` word-array filter verbatim; the expression's null case
    * is then unreachable. */
  private def hasShingles =
    col("text").isNotNull && size(split(trim(col("text")), "\\s+")) >= 3

  private[ops] def minhashSigOf(docs: DataFrame,
                                extra: Seq[String] = Nil): DataFrame = {
    docs
      .filter(hasShingles)
      .select(Seq(col("doc_id"), expr("shingle_sig(text)").as("g")) ++
        extra.map(col): _*)
      .select(Seq(col("doc_id"), col("g.mh0"), col("g.mh1"), col("g.mh2"),
        col("g.mh3")) ++ extra.map(col): _*)
  }

  /** [[minhashSigOf]] WITHOUT the hasShingles row filter: no-signature
    * docs come through with null mh0..mh3. For consumers that only stack
    * the signature into band buckets (the pair pipelines), the filter is
    * pure overhead — its predicate re-tokenizes every document (measured
    * +0.12 s at sf0.1, ~60% of the signature pass itself), while a
    * g-IS-NOT-NULL filter would be alias-substituted below the projection
    * and evaluate the 64-perm signature twice. The band stack nulls out
    * rows with null signatures instead (see [[lshPairsFromSig]]).
    * Callers that must EMIT only signature-bearing rows (q_minhash_sig)
    * keep the filtered form. */
  private[ops] def minhashSigAllOf(docs: DataFrame,
                                   extra: Seq[String] = Nil): DataFrame = {
    docs
      .select(Seq(col("doc_id"), expr("shingle_sig(text)").as("g")) ++
        extra.map(col): _*)
      .select(Seq(col("doc_id"), col("g.mh0"), col("g.mh1"), col("g.mh2"),
        col("g.mh3")) ++ extra.map(col): _*)
  }

  private def minhashSig(s: SparkSession, d: String): DataFrame =
    minhashSigOf(Tables.documents(s, d))

  /** Banded-LSH candidate pairs: bands of 1 hash each; docs are grouped by
    * their (band, hash) bucket and pairs expand WITHIN each bucket
    * (`doc_a < doc_b` via the sorted id list). A self-join on the bucket
    * key gives the same pairs but evaluates the whole signature pipeline
    * once per join side — grouping evaluates it exactly once and replaces
    * the join with one aggregation. Bucket sizes are bounded by the LSH
    * design (that is the point of banding), so the in-bucket expansion is
    * per-group work; a pathological hot bucket at 100 TB auto-salts —
    * see [[lshPairsFromSig]]'s size-triggered split. */
  private[ops] def lshPairsOf(docs: DataFrame): DataFrame =
    lshPairsFromSig(minhashSigAllOf(docs))

  /** Candidate pairs with each endpoint's `source` riding the band stream
    * (q_source_overlap's feed) — same pipeline, pair payload instead of
    * two corpus re-joins on doc_id. */
  private[ops] def lshSourcePairs(docs: DataFrame): DataFrame =
    lshPairsFromSig(minhashSigAllOf(docs, extra = Seq("source")),
      extra = Seq("source"))

  /** Incremental near-dup dedup (r8, beyond reference): screen a DELTA
    * batch against an existing CORPUS — the operation a daily ingestion
    * pipeline actually runs, where re-deriving corpus×corpus pairs every
    * day is the cost that kills you. Both relations flow through ONE
    * signature union and ONE band shuffle, and the in-bucket pair
    * expansion REJECTS corpus×corpus pairs before any struct allocates
    * (`pairFilter` — the corpus side contributes bucket membership only,
    * never quadratic expansion), so per-run cost is driven by the delta
    * and the bucket overlap it touches, not by the corpus size.
    *
    * Per delta doc: `n_corpus_matches` (banded near-dup partners in the
    * corpus), `n_prior_delta_matches` (smaller-id partners within the
    * delta — the standard greedy first-wins rule, deterministic on any
    * partitioning), and `keep` = no match of either kind. Deliberately
    * NOT transitive (a delta doc whose only match was itself dropped
    * still drops): greedy incremental dedup trades that recall sliver
    * for a closed-form per-doc decision; the nightly batch
    * q_dedup_clusters pass reconciles. */
  private[ops] def dedupDelta(corpus: DataFrame, delta: DataFrame): DataFrame = {
    // no row filter: hs (from the signature struct — NOT a second
    // tokenizing hasShingles pass, NOT an alias-substituted g filter that
    // would evaluate the 64-perm signature twice) makes the stack IFs in
    // dedupDeltaFromTagged drop no-signature corpus rows for free
    def tag(docs: DataFrame, side: Int): DataFrame = docs
      .select(col("doc_id"), expr("shingle_sig(text)").as("g"),
        lit(side).as("side"))
      .select(col("doc_id"), col("g.mh0"), col("g.mh1"), col("g.mh2"),
        col("g.mh3"), col("g").isNotNull.as("hs"), col("side"))
    dedupDeltaFromTagged(tag(corpus, 0).unionByName(tag(delta, 1)))
  }

  /** [[dedupDelta]] over a pre-tagged frame: one row per doc with
    * `side` (0 corpus / 1 delta), `hs` (has a signature — ≥3 tokens) and
    * mh0..mh3 (null when !hs). MUST contain every hasShingles corpus doc
    * and EVERY delta doc (a no-signature delta doc never pairs but still
    * surfaces with keep = true). Split out so a caller whose corpus and
    * delta live in the SAME relation (the registered query: one
    * `documents` table split on an id watermark) tags both columns inside
    * a single signature scan.
    *
    * Baseline shape (r9): each delta doc's zero row rides the band
    * exchange as a 5th stack entry — band 4, keyed by its own doc_id, so
    * it lands in a singleton bucket that can never expand a pair (unique
    * key; and the band predicate is false for band 4 by construction).
    * The expansion CASE (see [[expandBandBuckets]] `baselineBand`) turns
    * those singletons into (doc_a, doc_b = NULL) sentinel rows inside the
    * SAME single-branch plan, replacing the r8 unionByName branch that
    * re-scanned the delta relation just to enumerate the output universe:
    * one fewer corpus pass, one scan, one band exchange — and the added
    * shuffle volume is one 6-long struct per delta doc. Docs without a
    * signature emit ONLY their band-4 row (bands 0–3 are nulled out and
    * filtered before the exchange), keeping the r8 semantics where
    * sub-3-token docs never pair. */
  private[ops] def dedupDeltaFromTagged(tagged: DataFrame): DataFrame = {
    val stacked = tagged.selectExpr(
      "doc_id", "mh0", "mh1", "mh2", "mh3", "side",
      "stack(5, IF(hs, 0, CAST(NULL AS INT)), mh0, IF(hs, 1, NULL), mh1," +
        " IF(hs, 2, NULL), mh2, IF(hs, 3, NULL), mh3," +
        " IF(side = 1, 4, NULL), doc_id) AS (band, h)")
      .filter(col("band").isNotNull)
    // the size predicate keeps the disjunction non-pushable, so the
    // bucket aggregate stays ONE subtree (see expandBandBuckets scaladoc)
    val buckets = groupBands(stacked, extra = Seq("side"))
      .filter(col("band") === 4 || size(col("ms")) > 1)
    val rows = expandBandBuckets(buckets, extra = Seq("side"),
      pairFilter = Some("a.side = 1 OR b.side = 1"), baselineBand = Some(4))
    // doc_b NULL = a delta doc's zero baseline row; every delta doc has
    // one, so the match-count aggregate ALSO enumerates the output
    // universe — no re-join, no second scan.
    val contrib = rows.select(
      when(col("doc_b").isNull, col("doc_a"))
        .when(col("side_a") === 1 && col("side_b") === 0, col("doc_a"))
        .otherwise(col("doc_b")).as("doc_id"), // (0,1) → doc_b; (1,1) → larger id doc_b
      when(col("doc_b").isNotNull &&
        (col("side_a") === 0 || col("side_b") === 0), 1L)
        .otherwise(0L).as("cm"),
      when(col("doc_b").isNotNull &&
        col("side_a") === 1 && col("side_b") === 1, 1L)
        .otherwise(0L).as("dm"))
    contrib
      .groupBy("doc_id")
      .agg(sum("cm").as("n_corpus_matches"),
        sum("dm").as("n_prior_delta_matches"))
      .withColumn("keep",
        col("n_corpus_matches") === 0L && col("n_prior_delta_matches") === 0L)
  }

  /** Connected-component labels over `(doc_a, doc_b)` edges: every id in
    * `universe` gets its component's minimum id. Edges with an endpoint
    * outside `universe` are dropped before anything else runs.
    *
    * One algorithm: alternating large-star/small-star contraction (the
    * MapReduce formulation of Kiveris et al., "Connected Components in
    * MapReduce and Beyond", reproduced from the published algorithm), with
    * the last rounds placed by size:
    * - the self-loop-free edge list is `localCheckpoint`ed once; an
    *   Observation on that same job records its `(count, Σhash)`
    *   fingerprint;
    * - while the residual edge list is bigger than a relation Spark would
    *   broadcast (`count × 16 B` over `spark.sql.autoBroadcastJoinThreshold`),
    *   a round rewires it with one large-star and one small-star step, each
    *   ONE aggregate + ONE equi-join over the current edge list:
    *   - large-star(u): every neighbor v > u re-points to
    *     m = min({u} ∪ N(u));
    *   - small-star(u): every neighbor v < u (and u itself) re-points to
    *     m = min over the smaller neighborhood.
    *   The round's checkpoint job carries the next fingerprint in its own
    *   Observation, so a round is one action. Edges only ever rewire toward
    *   smaller ids and every component keeps its node set, so an unchanged
    *   fingerprint is the fixed point: a union of stars rooted at component
    *   minima, reached in O(log² n) rounds even on a path graph, with the
    *   labels read directly off the edges;
    * - a residual under the threshold is collected once and finished in
    *   memory by union-find ([[componentMinima]]), and the
    *   `(doc_id, cluster)` map is broadcast-joined back onto the universe.
    *   Contraction preserves connectivity over the same node set, so those
    *   are the original graph's labels, with nothing to compose. On the
    *   near-dup graphs the dedup queries produce, this is the whole run: a
    *   graph small enough to broadcast is finished in one place rather than
    *   over dozens of serial shuffles.
    *
    * A threshold of `-1` runs star to its fixed point, at any size.
    * Needing more than `maxRounds` rounds throws. */
  private[ops] def clusterLabels(universe: DataFrame, edges: DataFrame,
                                 maxRounds: Int = 50): DataFrame = {
    val ids = universe.select(col("doc_id"))
    def sym(e: DataFrame): DataFrame =
      e.union(e.select(col("v").as("u"), col("u").as("v")))
    def largeStar(e: DataFrame): DataFrame = {
      val dir = sym(e)
      val m = dir.groupBy("u").agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("u"), col("mv")).as("m"))
      dir.join(m, "u").filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v")).distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      val dirLt = sym(e).filter(col("v") < col("u"))
      val m = dirLt.groupBy("u").agg(min(col("v")).as("m"))
      val rewired = dirLt.join(m, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .union(m.select(col("u"), col("m").as("v")))
      rewired.filter(col("u") =!= col("v")).distinct()
    }
    // materialize an edge list and read its (count, hash-sum) fingerprint
    // off the same job; the rewiring is monotone, so an unchanged
    // fingerprint means an unchanged edge multiset
    def checkpoint(e: DataFrame): (DataFrame, (Long, Long)) = {
      val obs = Observation()
      val done = e.observe(obs, count(lit(1)).as("n"),
          sum(hash(col("u"), col("v")).cast("long")).as("h"))
        .localCheckpoint(true)
      val m = obs.get
      (done, (m("n").asInstanceOf[Long], Option(m("h")).fold(0L)(_.asInstanceOf[Long])))
    }
    val threshold =
      universe.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    var (e, fp) = checkpoint(edges.filter(col("doc_a") =!= col("doc_b"))
      .join(ids, col("doc_a") === col("doc_id"), "left_semi")
      .join(ids, col("doc_b") === col("doc_id"), "left_semi")
      .select(col("doc_a").as("u"), col("doc_b").as("v")))
    var rounds = 0
    var converged = false
    while (!converged && !(threshold >= 0 && fp._1 * 16 <= threshold)) {
      if (rounds == maxRounds) {
        ScaleOps.freeBlocks(e)
        throw new IllegalStateException(
          s"connected components did not converge in $maxRounds rounds: " +
            s"${fp._1} edges left, fingerprint (${fp._1}, ${fp._2})")
      }
      rounds += 1
      val (next, cur) = checkpoint(smallStar(largeStar(e)))
      converged = cur == fp
      fp = cur
      ScaleOps.freeBlocks(e)
      e = next
    }
    val clusters =
      if (converged) // every edge points a node at its component min
        e.groupBy(col("u").as("doc_id")).agg(min(col("v")).as("cluster"))
      else {
        val pairs = e.collect().map(r => (r.getLong(0), r.getLong(1)))
        ScaleOps.freeBlocks(e)
        broadcast(universe.sparkSession.createDataFrame(
          componentMinima(pairs).toSeq).toDF("doc_id", "cluster"))
      }
    ids.join(clusters, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster"), col("doc_id")).as("cluster"))
  }

  /** `(node, component minimum)` for every node of an undirected edge list
    * that is not its own component's minimum, by union-find: the larger
    * root always links under the smaller, so a root is its component's
    * minimum, and finds compress their path in a loop (a chain of any
    * depth never touches the stack). */
  private[ops] def componentMinima(edges: Array[(Long, Long)]): Array[(Long, Long)] = {
    val nodes = edges.flatMap { case (a, b) => Array(a, b) }.distinct.sorted
    val parent = Array.range(0, nodes.length)
    def find(x: Int): Int = {
      var root = x
      while (parent(root) != root) root = parent(root)
      var i = x
      while (parent(i) != root) {
        val up = parent(i)
        parent(i) = root
        i = up
      }
      root
    }
    def index(id: Long): Int = java.util.Arrays.binarySearch(nodes, id)
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(index(a)), find(index(b)))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    nodes.indices.iterator.map(i => (i, find(i))).collect {
      case (i, r) if r != i => (nodes(i), nodes(r))
    }.toArray
  }

  private def lshPairs(s: SparkSession, d: String): DataFrame =
    lshPairsOf(Tables.documents(s, d))

  /** Triangle census of the near-dup candidate graph (r15) — nodes, edges,
    * wedges, triangles and the global clustering coefficient
    * (3·triangles / wedges) over the banded-LSH pair graph. The curation
    * read: q_dup_degree counts partners per doc; this measures how CLIQUEY
    * the graph is. Template/boilerplate families close their triangles
    * (every page near-dups every other page), chained drift (A~B~C without
    * A~C) does not — so the coefficient answers "will q_dedup_clusters
    * collapse this graph in a round or two, or drag long chains?" BEFORE
    * the CC loop spends its iterations.
    *
    * Plan — the node-iterator with degree ordering (the standard MR
    * triangle discipline): orient every undirected edge from its
    * lower-(degree, id) endpoint to its higher, so out-degrees are
    * O(√|E|)-bounded regardless of skew — a template hub that would mint
    * deg² wedges from its star instead RECEIVES those edges and mints
    * none. Wedges are the i<j pairs of each source's sorted out-neighbor
    * list (the same in-bucket expansion discipline as LSH banding — a
    * groupBy + row-local expansion, never a join fan-out), and a wedge
    * closes iff its endpoint pair is an edge — one LEFT SEMI probe into
    * the edge list, multiplicity preserved on the wedge side so each
    * triangle counts exactly once (at its minimum-order vertex). The edge
    * list localCheckpoints once (bounded: one row per candidate pair) and
    * feeds all three consumers — degrees, wedge source, close probe —
    * without re-running the LSH pipeline. n_wedges reports the
    * orientation-independent Σ d(d−1)/2; nodes are docs with ≥1 candidate
    * edge (isolated docs are not in the pair graph by construction). */
  private[ops] def triangleStatsOf(pairs: DataFrame): DataFrame = {
    val e = pairs.select(col("doc_a").as("a"), col("doc_b").as("b"))
      .localCheckpoint(true) // one row per candidate pair; three consumers
    val deg = e.select(explode(array(col("a"), col("b"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("d"))
      .localCheckpoint(true) // one row per touched doc; three consumers
    val lowFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val oriented = e
      .join(deg.select(col("v").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("d").as("db")), "b")
      .select(when(lowFirst, col("a")).otherwise(col("b")).as("src"),
        when(lowFirst, col("b")).otherwise(col("a")).as("dst"))
    // Each wedge leaves as its closing probe's undirected (min id, max id)
    // key: out-neighbor ids are distinct (the edge list is a set), so the
    // sorted list's i<j pairs are already (min, max).
    val wedges = oriented.groupBy("src")
      .agg(sort_array(collect_list(col("dst"))).as("ns"))
      .filter(size(col("ns")) > 1)
      .select(explode(expr(pairExpansionSql("ns",
        "named_struct('a', a, 'b', b)"))).as("w"))
      .select(col("w.a").as("a"), col("w.b").as("b"))
    val closed = wedges.join(e, Seq("a", "b"), "left_semi")
    e.agg(count(lit(1)).as("n_edges"))
      .select(
        deg.agg(count(lit(1)).as("n")).scalar().as("n_nodes"),
        col("n_edges"),
        deg.agg(sum(expr("(d * (d - 1)) div 2")).cast("long").as("w"))
          .scalar().as("n_wedges"),
        closed.agg(count(lit(1)).as("t")).scalar().as("n_triangles"))
      .withColumn("clustering",
        when(col("n_wedges") > 0,
          lit(3.0) * col("n_triangles") / col("n_wedges")))
  }

  /** PageRank over the near-dup candidate graph (r15) — the third graph
    * read beside q_dup_degree (local) and q_triangle_count (clustering):
    * a stationary CENTRALITY, the "which documents sit at the center of a
    * template family" score that degree alone misses (a doc bridging two
    * families outranks an equal-degree doc buried in one). Undirected
    * edges walk both ways; damping 0.85; a FIXED five iterations — a
    * convergence test would make the result depend on scheduling, and the
    * tolerance twin must unroll the identical computation.
    *
    * Plan: the symmetric edge list localCheckpoints ONCE (it is read
    * every round — the CC-loop discipline) and degrees hang off it; each
    * round is one join of the current ranks to the edges on the source
    * key followed by one sum-by-destination — the canonical two-exchange
    * PageRank round, map-side-combined, nothing corpus-quadratic. Every
    * node of the pair graph has degree ≥ 1, so there are no dangling
    * nodes and no rank mass correction term.
    *
    * Like budgetSample, CONSTRUCTING this frame runs eager jobs (the
    * edge-list checkpoint + the node count) — plan-only consumers
    * (explain, audits) pay them too; the localCheckpoint cluster caveat
    * in budgetSample's scaladoc applies.
    *
    * Correctness gate: rows-only by DESIGN for the driver's hash gate —
    * per-node contribution sums reduce in engine-specific order, so the
    * last ulp of a double sum is not reproducible; the DuckDB twin
    * (five unrolled CTE rounds of the identical arithmetic) value-gates
    * it under rel-tol 1e-9 in `tools/check_tolerance.py`, the
    * q_bm25_logidf convention. */
  private[ops] def pageRankOf(pairs: DataFrame, iters: Int = 5,
                              damping: Double = 0.85): DataFrame = {
    val sym = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .localCheckpoint(true) // read every round; bounded by the pair list
    // r18 (guide §2.4): deg is joined EVERY round and seeded the rank
    // table, but was never materialized — each consumer re-ran the
    // edge-list aggregation (5 re-aggregations across the fixed rounds,
    // plus the node-count job). One row per graph node, bounded by the
    // pair list — checkpoint once, every round reads blocks. Arithmetic
    // untouched (same degrees, same divisions).
    val deg = sym.groupBy("src").agg(count(lit(1)).as("deg"))
      .localCheckpoint(true)
    val n = deg.count()
    var ranks = deg.select(col("src").as("doc_id"),
      (lit(1.0) / lit(n.toDouble)).as("pr"))
    for (_ <- 1 to iters) {
      val contrib = sym
        .join(ranks.withColumnRenamed("doc_id", "src"), "src")
        .join(deg, "src")
        .select(col("dst").as("doc_id"), (col("pr") / col("deg")).as("c"))
      ranks = contrib.groupBy("doc_id")
        .agg(sum(col("c")).as("s"))
        .select(col("doc_id"),
          (lit((1.0 - damping) / n.toDouble) +
            lit(damping) * col("s")).as("pr"))
    }
    // r19 (ADVICE r18): sym and deg blocks were never freed — every
    // invocation left two checkpoint block sets alive for the session's
    // lifetime (the CC-loop accumulation pattern). Materialize the final
    // ranks (one bounded block set, one row per node) and free both
    // inputs before returning; the caller's frame reads ranks blocks only.
    val out = ranks.localCheckpoint(true)
    ScaleOps.freeBlocks(sym)
    ScaleOps.freeBlocks(deg)
    out
  }

  /** SQL for the sorted in-bucket pair expansion: for each i<j element pair
    * (a, b) of the array column `ms`, emit `build`; `keepAb` optionally
    * filters the PAIR before the struct is built (it may reference both
    * lambda sides `a` and `b`, plus outer columns — the first-agreeing-band
    * and salt predicates live here, so rejected pairs never allocate a
    * struct); `keep` filters the emitted struct `p`. ALL band-bucket
    * expansions (LSH cold/hot, Jaccard, SimHash) share this one template so
    * the slice arithmetic cannot silently diverge between them. The
    * positional lambda variable is `__i` — predicates may reference OUTER
    * columns (the salted path filters on its group columns i/j), which a
    * lambda variable named `i` would shadow. */
  private def pairExpansionSql(ms: String, build: String,
                               keep: Option[String] = None,
                               keepAb: Option[String] = None): String = {
    val side =
      keepAb.fold(s"slice($ms, __i + 2, size($ms) - __i - 1)")(k =>
        s"filter(slice($ms, __i + 2, size($ms) - __i - 1), b -> $k)")
    val inner = s"transform($side, b -> $build)"
    val kept = keep.fold(inner)(k => s"filter($inner, p -> $k)")
    s"flatten(transform($ms, (a, __i) -> $kept))"
  }

  /** First-agreeing-band predicate for the 4-band MinHash family (the
    * Manku-style dedup q_simhash_pairs already uses): a pair whose docs
    * agree on bands {b₁ < b₂ < …} is emitted ONLY from bucket b₁ — i.e.
    * from band `band` only when every earlier band's hashes differ. Each
    * candidate pair therefore surfaces exactly once across the whole band
    * stream, which deletes the per-pair dedup exchange (the old
    * groupBy(doc_a, doc_b)) AND computes each pair's payload arithmetic
    * (set intersection, lane matches) once instead of once per shared
    * band. Price: the four band hashes ride the bucket payload (32
    * bytes/doc) so the predicate can look sideways; on the set-carrying
    * queries that is noise against the shingle sets already aboard.
    *
    * Null-SAFE inequality (`NOT (a <=> b)`) on purpose: every current
    * caller filters hasShingles so mh0..mh3 are non-null, but
    * lshPairsFromSig is a private[ops] API over arbitrary sig frames, and
    * a plain `<>` on a NULL band hash would go NULL and silently drop the
    * pair from bands 1-3 — the exact class of bug the old groupBy-dedup
    * path (NULL-equal grouping) could not have. */
  private val firstAgreeingBand: String =
    "(band = 0 OR (NOT (a.mh0 <=> b.mh0) AND (band = 1 OR (NOT (a.mh1 <=> b.mh1)" +
      " AND (band = 2 OR NOT (a.mh2 <=> b.mh2))))))"

  /** Band-bucket aggregation shared by the pair-expansion paths: group the
    * stacked (band, h) rows, collect the member structs sorted by doc_id.
    * Split from the expansion so a caller can hang a SECOND consumer off
    * the same exchange — [[dedupDeltaFromTagged]] reads its per-delta-doc
    * baseline rows (band 4 singletons) from the exact aggregate whose
    * other branch expands pairs, and ReuseExchange makes the corpus
    * shuffle happen once. */
  private def groupBands(stacked: DataFrame, extra: Seq[String]): DataFrame = {
    val memberCols =
      Seq(col("doc_id"), col("mh0"), col("mh1"), col("mh2"), col("mh3")) ++
        extra.map(col)
    stacked.groupBy("band", "h")
      .agg(sort_array(collect_list(struct(memberCols: _*))).as("ms"))
  }

  /** In-bucket pair expansion over grouped band buckets (already filtered
    * to size > 1), including the size-triggered hot-bucket salting — the
    * shared back half of [[lshPairsFromSig]] and [[dedupDeltaFromTagged]].
    *
    * `baselineBand`: buckets of this band emit ONE sentinel row
    * (doc_a = the singleton member's id, doc_b NULL) instead of pairs —
    * dedupDeltaFromTagged's per-delta-doc zero rows. Emitted INSIDE the
    * expansion CASE rather than as a second consumer branch of `grouped`:
    * a `band = N` filter is a group-KEY predicate, so Catalyst pushes a
    * branch's filter below the bucket aggregate and its exchange, and two
    * branches then plan two full scan+shuffle subtrees (measured: the
    * branch form was 0.34 s SLOWER at sf0.1 than the r8 second scan it
    * replaced; the CASE form keeps the plan single-branch). Such buckets
    * must be singletons by construction (key = a unique per-doc value) —
    * they bypass the pair machinery entirely. */
  private def expandBandBuckets(grouped: DataFrame,
                                extra: Seq[String],
                                pairFilter: Option[String],
                                baselineBand: Option[Int] = None,
                                saltThreshold: Int = LshSaltThreshold,
                                salts: Int = LshSaltFactor): DataFrame = {
    require(saltThreshold >= 1 && salts >= 1,
      s"bad lsh salting: threshold=$saltThreshold salts=$salts")
    val buildExtra =
      extra.map(c => s", a.$c AS ${c}_a, b.$c AS ${c}_b").mkString
    val outCols =
      Seq(col("p.doc_a"), col("p.doc_b"),
        col("p.sb").cast("long").as("shared_bands")) ++
        extra.flatMap(c => Seq(col(s"p.${c}_a"), col(s"p.${c}_b")))
    // <=> (not =) so a NULL lane counts as agreeing iff BOTH sides are
    // NULL — exactly how the old per-band groupBy bucketed NULL keys
    val sharedBands =
      "CAST(a.mh0 <=> b.mh0 AS INT) + CAST(a.mh1 <=> b.mh1 AS INT) + " +
        "CAST(a.mh2 <=> b.mh2 AS INT) + CAST(a.mh3 <=> b.mh3 AS INT)"
    val build =
      s"struct(a.doc_id AS doc_a, b.doc_id AS doc_b, $sharedBands AS sb$buildExtra)"
    val pf = pairFilter.map(f => s"($f) AND ").getOrElse("")
    // CASE-wrapped baseline emission (see scaladoc): NULL types for the
    // absent b-side come from the bucket member schema so the two CASE
    // arms carry the identical struct type
    val wrapBaseline: String => String = baselineBand.map { b =>
      val memberT = grouped.schema("ms").dataType
        .asInstanceOf[org.apache.spark.sql.types.ArrayType]
        .elementType.asInstanceOf[org.apache.spark.sql.types.StructType]
      val extraFields = extra.map(c =>
        s", '${c}_a', ms[0].$c, '${c}_b', CAST(NULL AS ${memberT(c).dataType.sql})")
        .mkString
      (pairsSql: String) =>
        s"CASE WHEN band = $b THEN array(named_struct(" +
          s"'doc_a', ms[0].doc_id, 'doc_b', CAST(NULL AS BIGINT), " +
          s"'sb', 0$extraFields)) ELSE $pairsSql END"
    }.getOrElse(identity[String] _)
    def expand(buckets: DataFrame): DataFrame = buckets
      .select(explode(expr(wrapBaseline(pairExpansionSql("ms", build,
        keepAb = Some(s"$pf$firstAgreeingBand"))))).as("p"))
      .select(outCols: _*)
    val cold = expand(grouped.filter(size(col("ms")) <= saltThreshold))
    val saltedMemberCols =
      Seq(col("m.doc_id").as("doc_id"), col("s"),
        col("m.mh0").as("mh0"), col("m.mh1").as("mh1"),
        col("m.mh2").as("mh2"), col("m.mh3").as("mh3")) ++
        extra.map(c => col(s"m.$c").as(c))
    val hot = grouped.filter(size(col("ms")) > saltThreshold)
      .select(col("band"), col("h"), explode(col("ms")).as("m"))
      .withColumn("s", pmod(hash(col("m.doc_id")), lit(salts)))
      .select(col("band"), col("h"), col("m"), col("s"),
        explode(expr(s"sequence(0, ${salts - 1})")).as("t"))
      .select(col("band"), col("h"), col("m"), col("s"),
        least(col("s"), col("t")).as("i"), greatest(col("s"), col("t")).as("j"))
      .groupBy("band", "h", "i", "j")
      .agg(sort_array(collect_list(struct(saltedMemberCols: _*))).as("ms"))
      // ms sorted by doc_id (first struct field) ⇒ doc_a < doc_b, as cold
      .select(explode(expr(pairExpansionSql("ms", build,
        keepAb = Some(s"$pf(i = j OR a.s <> b.s) AND $firstAgreeingBand")))).as("p"))
      .select(outCols: _*)
    cold.union(hot)
  }

  /** Hot-bucket salting of [[expandBandBuckets]]: a bucket over
    * [[LshSaltThreshold]] members splits into [[LshSaltFactor]] salts. */
  private[ops] val LshSaltThreshold = 1 << 16
  private[ops] val LshSaltFactor = 16

  /** Pair generation from an existing signature relation — split out so
    * q_jaccard_pairs can feed the shared sig+set aggregate through it.
    *
    * Hot buckets auto-salt (VERDICT r5 stretch): a bucket whose size
    * exceeds `saltThreshold` ([[LshSaltThreshold]], 2^16) would expand
    * C(n,2) pairs inside ONE task — the quadratic straggler that kills the
    * job long before shuffle volume does. Instead of a hand-salted join
    * (one side replicated over S salts), the split is SIZE-TRIGGERED
    * after the bucket aggregation: oversize buckets explode back out, each
    * doc takes a deterministic salt `s = pmod(hash(doc_id), S)`
    * (`salts`, [[LshSaltFactor]] = 16) and is replicated to the
    * S salt-pair groups `(min(s,t), max(s,t))` for t in [0,S), and pairs
    * expand per group — same-salt pairs only in group (s,s), cross-salt
    * pairs only in their unique (min,max) group, so every pair is emitted
    * EXACTLY once and the per-task expansion drops from C(n,2) to
    * ~2·C(n/S,2) over S(S+1)/2 parallel groups. Cold buckets (ALL buckets,
    * on an unskewed corpus) take the original path with zero added
    * shuffles — the hot branch is in the plan but empty, and its cost is a
    * filter. Equivalence is property-proven on adversarial single-bucket
    * corpora (LshSaltSpec). Residual boundary: the oversize bucket's
    * collect_list still lands in one reducer (bytes LINEAR in bucket size,
    * spillable via the object-agg fallback) — the quadratic expansion is
    * what this removes.
    *
    * The four band hashes ride each bucket member (struct of 5 longs vs
    * the bare id) so the pair site can (a) emit each pair only from its
    * FIRST agreeing band — the per-pair dedup exchange this replaces was
    * a whole extra shuffle stage — and (b) read shared_bands directly as
    * the count of agreeing lanes. Payload grows ~2.3× on the bucket
    * shuffle; the dedup exchange, its stage barrier, and the up-to-4×
    * duplicate pair emission are gone (VERDICT r6 #4).
    *
    * `extra` columns of the sig frame ride each bucket member and come
    * back as `<c>_a`/`<c>_b` on every emitted pair — so a consumer that
    * only needs a small per-doc attribute of each pair endpoint (e.g.
    * q_source_overlap's `source`) gets it straight off the band stream
    * instead of re-joining the corpus twice on doc_id.
    *
    * `pairFilter` (a SQL predicate over lambda sides `a`/`b`, like the
    * band predicate itself) rejects pairs INSIDE the expansion, before
    * any struct allocates — dedupDeltaFromTagged uses it to never expand
    * the corpus×corpus side of an incremental run. */
  private[ops] def lshPairsFromSig(sig: DataFrame,
                                   extra: Seq[String] = Nil,
                                   pairFilter: Option[String] = None,
                                   saltThreshold: Int = LshSaltThreshold,
                                   salts: Int = LshSaltFactor): DataFrame =
    // A WHOLLY-null signature (mh0 IS NULL — shingle_sig is atomic: all
    // lanes null or none) emits NO band rows, so unfiltered sig frames
    // (minhashSigAllOf) cost nothing past the scan. A partially-null
    // frame (never produced here, but this is a private API over
    // arbitrary frames) still buckets its null lanes under (band, NULL)
    // exactly as before — the null-safe band predicates cover it.
    expandBandBuckets(
      groupBands(
        sig.selectExpr(Seq("doc_id", "mh0", "mh1", "mh2", "mh3") ++ extra ++
          Seq("stack(4, IF(mh0 IS NULL, CAST(NULL AS INT), 0), mh0," +
            " IF(mh0 IS NULL, NULL, 1), mh1, IF(mh0 IS NULL, NULL, 2), mh2," +
            " IF(mh0 IS NULL, NULL, 3), mh3) AS (band, h)"): _*)
          .filter(col("band").isNotNull),
        extra)
        .filter(size(col("ms")) > 1),
      extra, pairFilter, saltThreshold = saltThreshold, salts = salts)

  /** Shared LSH-candidate set arithmetic: (doc_a, doc_b, |A∩B|, |A|, |B|)
    * for every candidate pair, sets riding WITH the signatures through the
    * band stream (two shuffles total — the q_jaccard_pairs shape; see that
    * query's scaladoc for the full 100 TB rationale and history). Each
    * per-pair similarity (Jaccard, containment) is a cheap final projection
    * over these three counts, so the variants share one pipeline instead of
    * re-deriving the set plumbing.
    *
    * Signature AND distinct band-0 hash set come from one per-row
    * expression — see minhashSigOf: the groupBy(doc_id) this replaced was a
    * shuffle on an already-unique key (and collect_set built the same set
    * this computes locally, minus the exchange). */
  private def candidateSetCounts(s: SparkSession, d: String): DataFrame = {
    // no row filter (r9): hasShingles re-tokenizes every doc; null-sig
    // rows emit zero band rows via the stack IFs instead — see
    // minhashSigAllOf for the measured cost and the substitution trap
    val sig = Tables.documents(s, d)
      .select(col("doc_id"), expr("shingle_sig_set(text)").as("g"))
      .select(col("doc_id"), col("g.mh0"), col("g.mh1"), col("g.mh2"),
        col("g.mh3"), col("g.ss").as("ss"))
    // First-agreeing-band emission (see [[firstAgreeingBand]]): the four
    // band hashes ride next to the set (32 bytes against a whole shingle
    // set — noise), each pair is born exactly once, its intersection is
    // computed ONCE instead of once per shared band, and the per-pair
    // dedup exchange the old min()-groupBy provided is gone — one full
    // shuffle stage removed from q_jaccard_pairs / q_containment_pairs
    // (VERDICT r6 #4).
    sig
      .selectExpr("doc_id", "ss", "mh0", "mh1", "mh2", "mh3",
        "stack(4, IF(mh0 IS NULL, CAST(NULL AS INT), 0), mh0," +
          " IF(mh0 IS NULL, NULL, 1), mh1, IF(mh0 IS NULL, NULL, 2), mh2," +
          " IF(mh0 IS NULL, NULL, 3), mh3) AS (band, h)")
      .filter(col("band").isNotNull)
      .groupBy("band", "h")
      .agg(sort_array(collect_list(struct(col("doc_id"), col("mh0"),
        col("mh1"), col("mh2"), col("mh3"), col("ss")))).as("ms"))
      .filter(size(col("ms")) > 1)
      .select(explode(expr(pairExpansionSql("ms",
        "struct(a.doc_id AS doc_a, b.doc_id AS doc_b, a.ss AS sa, b.ss AS sb)",
        keepAb = Some(firstAgreeingBand))))
        .as("p"))
      .select(col("p.doc_a"), col("p.doc_b"),
        size(array_intersect(col("p.sa"), col("p.sb"))).cast("long").as("ni"),
        size(col("p.sa")).cast("long").as("na"),
        size(col("p.sb")).cast("long").as("nb"))
  }

  /** q_simjoin_prefix's pipeline (r17) — EXACT threshold similarity
    * self-join via AllPairs/PPJoin prefix filtering (Bayardo, Ma &
    * Srikant, WWW'07; Chaudhuri et al.'s SSJoin prefix bound), the
    * no-false-negatives complement to the LSH family: banding MISSES
    * pairs (BeaconStreamingSpec pins a 1-of-4-band near-dup the stream
    * keeps), while this join returns EVERY pair with shingle-set
    * Jaccard ≥ t, exactly — same shingle universe and hash as
    * q_jaccard_pairs, so the two are directly comparable.
    *
    * Why not all-pairs: a doc pair with J(A,B) ≥ t must share an
    * element inside each side's PREFIX — the first |S| − ⌈t·|S|⌉ + 1
    * elements under any global total order (if all shared elements sat
    * outside A's prefix, |A∩B| ≤ ⌈t·|A|⌉ − 1 < t·|A| ≤ |A∩B|). Ordering
    * rarest-first makes those prefixes collide as little as possible,
    * so the candidate join is driven by RARE shingles — the frequent
    * shingle that would hot-key a naive posting join lands in a prefix
    * only when a doc consists almost entirely of frequent shingles.
    *
    * Plan (r18 diet — VERDICT r17 #1): (1) shingle sets from the same
    * codegen'd shingle_sig_set the LSH family uses, (2) one df
    * aggregation (count per shingle hash), (3) per-doc LONG arrays
    * re-sorted rarest-first by (df, hash) — the global order is
    * established at build time, so NO driver-side rank table and no
    * single-partition window, and the arrays stay primitive
    * (array_intersect's atomic fast path; the struct-array form of this
    * op cost 400× its twin in interpreted O(n·m) comparisons — the r17
    * born-probe caught it). The (doc_id, arr, n, p) table is
    * CHECKPOINTED once: the prefix explode and both array lookups read
    * the materialized rows instead of each re-running the
    * tokenize→df→sort pipeline (the r17 plan executed it up to 4×; the
    * q_topk_diverse one-tokenize discipline; a local checkpoint, like
    * the other materialisation sites in this package). (4) prefix
    * explode + self-equi-join on the bare (shingle, doc) rows with the
    * AllPairs LENGTH filter (t·|A| ≤ |B| ≤ |A|/t) as a join residual —
    * no array payload rides the skew-prone exchange, (5) arrays join
    * back once per side onto the RAW candidate stream and each row
    * computes ONE primitive array_intersect behind a Generate barrier
    * (the one-element-transform idiom — CollapseProject would otherwise
    * re-evaluate it per consumer); the row survives only when its join
    * shingle IS the globally-first shared element (`ix[0] = sh`) — the
    * first-agreeing-band discipline (q_phash_neardup) applied to
    * prefixes, replacing r17's whole DISTINCT exchange on the candidate
    * stream with a predicate. Exactly one row per qualifying pair
    * survives: the globally-min shared element s1 sits inside BOTH
    * prefixes (if it didn't, every shared element of that side would
    * sit outside its prefix, capping |A∩B| at ⌈t·|A|⌉ − 1 < t·|A| —
    * contradiction), and array_intersect preserves the first argument's
    * rarest-first order, so ix[0] = s1 on that row alone. Measured at
    * sf0.1: 328.8k matched rows → 131.6k after the positional filter
    * (2.5× cut), ~1.05 rows per distinct pair — so verifying raw rows
    * costs ~5% over deduped ones, far less than the exchange the
    * DISTINCT paid. (6) threshold filter.
    * Shuffles: shingle df, doc-array rebuild, prefix join, two array
    * lookups — all gram-, prefix- or candidate-volume, never all-pairs,
    * and no pair-stream exchange at all. Hot-prefix skew: the
    * rare-first order IS the de-skewer; the residual hatch is a
    * hand-salted join, same as q_jaccard_pairs. */
  private[graft] def simjoinPrefixOf(s: SparkSession, docs: DataFrame,
                                     t: Double = 0.5): DataFrame = {
    // shingle_set = the ss lane alone at one digest per shingle (half of
    // shingle_sig_set's cost — this query never reads the MinHash lanes).
    // spread BEFORE tokenize (unlike the signature path, which dropped
    // it): FromSets fans the scan into TWO consumers (df aggregate +
    // occurrence stream), so a row-group-bound scan would run the
    // tokenize serially AND twice; the guard makes it a no-op at
    // production row-group counts.
    simjoinPrefixFromSets(ScaleOps.spread(docs)
      .select(col("doc_id"), expr("shingle_set(text)").as("ss")), t)
  }

  /** [[simjoinPrefixOf]] over a pre-hashed (doc_id, ss) frame — split out
    * (r18) so q_lsh_recall feeds the exact-truth side and the LSH
    * candidate side from ONE materialized shingle pass instead of
    * tokenizing the corpus twice (VERDICT r17 #1b). Null/empty sets are
    * dropped here, so callers may pass unfiltered signature frames. */
  private[graft] def simjoinPrefixFromSets(sets: DataFrame,
                                           t: Double = 0.5): DataFrame = {
    val clean = sets.filter(col("ss").isNotNull && size(col("ss")) > 0)
    // df attach, AQE-flexible (r18): no explicit repartition — the df
    // aggregate exchanges only its map-side-combined partials (narrow),
    // and the rejoin lets AQE pick the physical side: at bench scale the
    // df table broadcasts (the occurrence stream is never shuffled and
    // stays fused with the tokenize scan); at crawl scale AQE falls back
    // to SMJ, paying the same single occurrence-stream exchange the r17
    // explicit-repartition shape paid, plus one narrow post-agg dfreq
    // exchange. Strictly better small, equal large.
    val occ = clean
      .select(col("doc_id"), explode(col("ss")).as("sh"))
    val dfreq = occ.groupBy("sh").agg(count(lit(1)).as("df"))
    val ordered = occ.join(dfreq, Seq("sh"))
      .groupBy("doc_id")
      .agg(expr("transform(array_sort(collect_list(struct(df, sh)))," +
        " x -> x.sh)").as("arr"))
      .select(col("doc_id"), col("arr"), size(col("arr")).as("n"))
      .withColumn("p",
        (col("n") - ceil(lit(t) * col("n")).cast("int") + 1))
      .localCheckpoint(true)
    val prefix = ordered.select(Seq(col("doc_id"), col("n")) :+
      posexplode(expr("slice(arr, 1, p)")).as(Seq("pos0", "sh")): _*)
    // PPJoin POSITIONAL filter (Xiao et al., WWW'08) as a join residual:
    // at this row's match positions (1-based i = pos0+1), the overlap can
    // reach at most min(na−i, nb−j) + 1 = min(na−pos0_a, nb−pos0_b) —
    // every shared element of the FIRST-shared row sits at-or-after the
    // match on both sides. J ≥ t ⟺ ni ≥ t·(na+nb)/(1+t), so a first-
    // shared row below that bound can never verify; pruning it (and any
    // duplicate row — those the ix[0] predicate drops anyway) is sound
    // because the EXACT threshold filter still runs last. The 1e-9 slack
    // makes float rounding strictly LOOSEN the prefilter, never drop a
    // qualifying row. Collisions concentrate on the highest-df (= last)
    // prefix positions, exactly where this bound bites — measured 328.8k
    // raw matches → 131.6k surviving rows at sf0.1 (PERF.md, "r18 diet"),
    // a 2.5× cut in what the array joins carry.
    val cands = prefix.alias("a").join(prefix.alias("b"),
        col("a.sh") === col("b.sh") &&
          col("a.doc_id") < col("b.doc_id") &&
          col("a.n") >= lit(t) * col("b.n") &&
          col("b.n") >= lit(t) * col("a.n") &&
          least(col("a.n") - col("a.pos0"), col("b.n") - col("b.pos0"))
            .cast("double") >=
            lit(t) * (col("a.n") + col("b.n")) / lit(1.0 + t) - lit(1e-9))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.sh").as("sh"))
    // both array lookups read the SAME checkpointed table exchanged on
    // doc_id once (ReusedExchange — keep the subtrees canonically equal:
    // no renames below the join, pin in PlanAuditSpec)
    val arrs = ordered.select(col("doc_id"), col("arr"), col("n"))
    cands
      .join(arrs.alias("x"), col("doc_a") === col("x.doc_id"))
      .join(arrs.alias("y"), col("doc_b") === col("y.doc_id"))
      // one intersect per surviving row, Generate-barriered so the dedup
      // predicate and ni read the SAME evaluation; ix[0] = sh keeps
      // exactly the first-shared-element row of each pair
      .select(col("doc_a"), col("doc_b"), col("sh"),
        col("x.n").as("na"), col("y.n").as("nb"),
        explode(expr("transform(array(array_intersect(x.arr, y.arr))," +
          " ix -> named_struct('first', ix[0]," +
          " 'ni', CAST(size(ix) AS BIGINT)))")).as("r"))
      .filter(col("r.first") === col("sh"))
      .select(col("doc_a"), col("doc_b"), col("r.ni").as("ni"),
        (col("r.ni").cast("double") /
          (col("na") + col("nb") - col("r.ni"))).as("jaccard"))
      .filter(col("jaccard") >= t)
  }

  /** q_lsh_recall's pipeline over an arbitrary documents frame (the
    * registered query binds it to the sf dir). Empty truth reads recall
    * NULL, matching the twin's NULLIF (ADVICE r17). */
  private[graft] def lshRecallOf(s: SparkSession, docs: DataFrame): DataFrame = {
    val sigset = ScaleOps.spread(docs)
      .select(col("doc_id"), expr("shingle_sig_set(text)").as("g"))
      .select(col("doc_id"), col("g.mh0"), col("g.mh1"), col("g.mh2"),
        col("g.mh3"), col("g.ss").as("ss"))
      .localCheckpoint(true)
    val truth = simjoinPrefixFromSets(sigset.select(col("doc_id"),
        col("ss")))
      .select(col("doc_a"), col("doc_b"), lit(0).as("side"))
    val cand = lshPairsFromSig(sigset
        .select("doc_id", "mh0", "mh1", "mh2", "mh3"))
      .select(col("doc_a"), col("doc_b"), lit(1).as("side"))
    // r19 (guide §2.4): the truth ⋈ cand left_outer exchanged BOTH pair
    // streams on the pair key and sort-merge-joined them (two exchange
    // stages + two sorts) only to count matches. The tagged UNION needs
    // ONE pair-keyed exchange (both subtrees computed in the same stage)
    // and a hash aggregate — no sorts at any scale, and each side's pairs
    // are unique by construction (the exact join emits each pair once;
    // first-agreeing-band emission likewise), so "matched" = "both tags
    // present in the pair's group", exactly what count(hit) counted.
    truth.union(cand)
      .groupBy("doc_a", "doc_b")
      .agg(max(col("side") === 0).as("is_true"),
        max(col("side") === 1).as("is_cand"))
      .agg(count(when(col("is_true"), 1)).as("n_true"),
        count(when(col("is_true") && col("is_cand"), 1)).as("n_caught"))
      .select(col("n_true"), col("n_caught"),
        when(col("n_true") === 0, lit(null).cast("double"))
          .otherwise(col("n_caught").cast("double") /
            col("n_true").cast("double"))
          .as("recall"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // EXACT Jaccard-threshold similarity self-join (r17) — see
    // [[simjoinPrefixOf]]: the candidate generator is the prefix-filter
    // bound, not banding, so unlike q_jaccard_pairs NOTHING above the
    // threshold is missed. The twin is the brute-force all-shared-
    // shingle join — any pair the prefix bound wrongly dropped is a
    // hash mismatch, so the gate proves the bound, not just the math.
    "q_simjoin_prefix" -> ((s, d) =>
      simjoinPrefixOf(s, Tables.documents(s, d))),

    // LSH recall, graded by the exact join (r17): every production
    // near-dup pipeline runs banded LSH and ASSUMES its recall; this
    // operator MEASURES it — ground truth = q_simjoin_prefix's exact
    // J ≥ 0.5 pair set, candidates = q_lsh_pairs' banded stream, output
    // = one (n_true, n_caught, recall) row. The join is pair-key equi
    // (left_outer + count(hit) — one aggregation, no second pass over
    // either pipeline); both inputs are the REGISTERED pipelines, so
    // the number quoted is the number shipped. r18 (VERDICT r17 #1b):
    // both subplans feed from ONE checkpointed shingle_sig_set pass —
    // shingle_sig_set emits the band lanes AND the hashed set in one
    // tokenize, so the truth side takes (doc_id, ss) and the candidate
    // side takes (doc_id, mh0..mh3) off the same materialized rows
    // (the r17 plan tokenized and hashed the corpus once per subplan).
    // Empty truth (no exact pair at the threshold) reads recall NULL,
    // not NaN — the twin's NULLIF agrees (ADVICE r17). The twin
    // recomputes both sides from the shared shingle CTEs — brute-force
    // truth × SQL banding — so the recall itself is hash-gated, not
    // just row-shaped.
    "q_lsh_recall" -> ((s, d) =>
      lshRecallOf(s, Tables.documents(s, d))),

    // C15 / exact dedup: hash-groupBy on the exact content key.
    "q_dedup_exact" -> ((s, d) =>
      Tables.documents(s, d)
        .groupBy("text")
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("dup_count"))),

    "q_minhash_sig" -> ((s, d) => minhashSig(s, d)),

    // Production-grade signature: ONE native TypedImperativeAggregate
    // ([[graft.functions.MinHashSketch]]) walks the shingle stream once and
    // emits a 64-permutation signature — vs 64 separate min(md5(...))
    // aggregate columns. Registered in `md5p` mode (base hash =
    // `md5_number_lower`, modular linear permutations over Z_{2^31-1}),
    // which DuckDB reproduces exactly — so the native aggregate is
    // hash-checked end-to-end, not rows-only. The default xxhash64 family
    // (cheaper per token; not expressible in DuckDB) is spec-tested in
    // MinHashSketchSpec. The signature serializes to JSON (integer
    // contents — engine-neutral): a raw array column crashes the driver's
    // pandas sorter.
    "q_minhash_native" -> ((s, d) => {
      // r6: the 64-perm signature is per-row work inside the scan
      // ([[graft.functions.ShingleMinHash]]) — the aggregate form exploded
      // one row per shingle and regrouped by the already-unique doc_id
      // (the same artificial exchange r5 removed from the 4-lane path).
      // The [[graft.functions.MinHashSketch]] AGGREGATE remains the
      // library surface for genuinely pre-exploded token streams;
      // ShingleSigSpec proves the two paths equal on the real corpus,
      // chaining the aggregate to this query's oracle.
      Tables.documents(s, d)
        .filter(hasShingles)
        .select(col("doc_id"),
          to_json(expr("shingle_minhash(text, 64)")).as("sig"))
    }),

    "q_lsh_pairs" -> ((s, d) => lshPairs(s, d)),

    // Near-dup DEGREE per document (r12) — how many banded candidate
    // partners each doc has. The curation read: high-degree docs are
    // templates/boilerplate (every crawl's nav chrome near-dups hundreds
    // of pages) and deserve a template gate, not one-by-one dedup. Rides
    // the verified shared pair pipeline; the endpoint fan-out is one
    // 2-element explode per pair and the degree agg is (doc, count) with
    // map-side combine — nothing beyond the pipeline's own exchanges is
    // corpus-sized.
    "q_dup_degree" -> ((s, d) => {
      lshPairsOf(Tables.documents(s, d))
        .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("degree"))
    }),

    // Triangle census of the candidate graph (r15) — see
    // [[triangleStatsOf]] for the degree-ordered node-iterator plan.
    "q_triangle_count" -> ((s, d) => {
      triangleStatsOf(lshPairs(s, d))
    }),

    // PageRank centrality over the candidate graph (r15) — see
    // [[pageRankOf]]; rows-only for the hash gate by design, value-gated
    // under rel-tol 1e-9 by the tolerance twin.
    "q_pagerank" -> ((s, d) => {
      pageRankOf(lshPairs(s, d))
    }),

    // Incremental dedup: the last 20% of the id space plays today's delta
    // batch, the first 80% the standing corpus (the split is an in-plan
    // scalar subquery so the same query runs at every SF — see dedupDelta
    // for the no-corpus×corpus-expansion contract).
    "q_dedup_delta" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      // explicit FLOOR (the q_cdc_merge cross-engine cast note): DuckDB's
      // bare CAST rounds where Spark truncates
      val k = docs.select(floor(max("doc_id") * lit(0.8)).cast("long")).scalar()
      // corpus and delta share one relation, so side AND hs are tagged
      // inside ONE signature scan; the r8 second scan that enumerated
      // delta ids is gone (baseline rides the band exchange — see
      // dedupDeltaFromTagged)
      // NO row filter at all: a hasShingles pre-filter re-tokenizes every
      // document (measured +0.12 s at sf0.1), a g-IS-NOT-NULL filter gets
      // alias-substituted below the projection and evaluates the 64-perm
      // signature twice — the stack IFs in dedupDeltaFromTagged drop
      // no-signature corpus rows for free instead
      dedupDeltaFromTagged(docs
        .withColumn("side", (col("doc_id") >= k).cast("int"))
        .select(col("doc_id"), expr("shingle_sig(text)").as("g"), col("side"))
        .select(col("doc_id"), col("g.mh0"), col("g.mh1"), col("g.mh2"),
          col("g.mh3"), col("g").isNotNull.as("hs"), col("side")))
    }),

    // n-gram Jaccard, verified only on LSH candidates (never all-pairs).
    // Each doc's distinct shingle SET rides WITH its signature through the
    // band-bucket stream: one PER-ROW expression emits (signature, set)
    // inside the scan, the band grouping collects (doc_id, set) structs per
    // bucket, and the in-bucket pair expansion yields both sides' sets
    // inline — so |A∩B| is computed where the pair is BORN. ONE shuffle
    // total: first-agreeing-band emission (candidateSetCounts) makes each
    // pair surface exactly once, so the old per-pair dedup exchange is
    // gone and the similarity is a straight projection off the expansion.
    // History: the r4 form materialized a sig AGGREGATE behind an explicit
    // exchange and joined the pair list back to the sets by doc_a then
    // doc_b — two extra shuffle+join stages just to re-attach data the
    // bucket stream already had in hand (measured 2.1× slower interleaved);
    // r5 fused the aggregate itself away (it grouped by the already-unique
    // doc_id — see minhashSigOf), halving the measured time again; r7
    // removed the dedup exchange via first-band emission.
    //
    // The per-doc set holds the band-0 HASH (8-byte long), not the shingle
    // string: the value is already computed for mh0, the collect_set and
    // band shuffles then carry longs instead of ~20-char strings, and
    // array_intersect compares primitives. |A∩B| over distinct hashes
    // equals |A∩B| over distinct shingles up to md5 collisions, which the
    // oracle reproduces exactly (same hash, same collisions).
    //
    // 100 TB view: sets are bounded by doc length and shipped ≤4× (once per
    // band) instead of once per join side — a constant-factor payload trade
    // for shuffle stages removed and no second read of the sig exchange;
    // each pair computes its intersection exactly once, at its first
    // agreeing band, CPU that is local and embarrassingly parallel where
    // the join stages were a scheduling barrier. Hot buckets:
    // q_lsh_pairs' pair generation auto-salts (lshPairsFromSig); HERE a
    // hand-salted join (the set side replicated over S salts, the pair
    // side scattered over them) remains the documented answer — the
    // per-doc set payload makes salt replication S× heavier, so the
    // automatic split deliberately stops at the signature stream.
    "q_jaccard_pairs" -> ((s, d) =>
      candidateSetCounts(s, d)
        .select(col("doc_a"), col("doc_b"), col("ni"),
          (col("ni").cast("double") / (col("na") + col("nb") - col("ni")))
            .as("jaccard"))),

    // CONTAINMENT on the same LSH candidates: C(A,B) = |A∩B| / |A| and its
    // mirror — the asymmetric near-dup signal Jaccard misses. A short doc
    // fully quoted inside a long one has tiny Jaccard (the union is large)
    // but containment ≈ 1 in one direction; dedup pipelines that only
    // threshold Jaccard keep every such quote-expansion pair. Identical
    // pipeline and cost to q_jaccard_pairs (one shared candidateSetCounts
    // stream, two shuffles); only the final per-pair divisions differ.
    "q_containment_pairs" -> ((s, d) =>
      candidateSetCounts(s, d)
        .select(col("doc_a"), col("doc_b"), col("ni"),
          (col("ni").cast("double") / col("na")).as("c_ab"),
          (col("ni").cast("double") / col("nb")).as("c_ba"))),

    // MinHash estimator quality as a first-class query: for every LSH
    // candidate pair, the EXACT shingle Jaccard (q_jaccard_pairs' math)
    // next to the 64-permutation signature ESTIMATE (matching lanes / 64)
    // — the number a production pipeline thresholds on when exact sets are
    // too large to carry. Same ride-with-the-stream layout as
    // q_jaccard_pairs with the 64-long signature riding too: the pair
    // computes both numbers where it is born; only five scalars cross the
    // dedup shuffle. At 100 TB this query IS the dedup tuning loop:
    // measure est-vs-exact on a sample, pick the signature threshold, then
    // run signature-only dedup everywhere.
    "q_minhash_est" -> ((s, d) => {
      // Payload diet (VERDICT r6 #6): the 64 md5p lanes live in Z_{2^31-1}
      // (MinHashSketch.P), so the signature rides the bucket shuffle as
      // array<int> — 256 bytes/doc, half the long form, lossless, and lane
      // equality is unchanged. With first-agreeing-band emission the pair's
      // set intersection AND lane-match count are computed once (not once
      // per shared band) and the dedup exchange is gone; only five scalars
      // leave the pair site. Residual payload over q_jaccard_pairs is the
      // int signature next to the set — within the 2× bytes budget.
      val sig = Tables.documents(s, d)
        .filter(hasShingles)
        .select(col("doc_id"), expr("shingle_sig_set(text)").as("g"),
          expr("transform(shingle_minhash(text, 64), x -> int(x))").as("sig64"))
        .select(col("doc_id"), col("g.mh0"), col("g.mh1"), col("g.mh2"),
          col("g.mh3"), col("g.ss").as("ss"), col("sig64"))
      sig
        .selectExpr("doc_id", "ss", "sig64", "mh0", "mh1", "mh2", "mh3",
          "stack(4, 0, mh0, 1, mh1, 2, mh2, 3, mh3) AS (band, h)")
        .groupBy("band", "h")
        .agg(sort_array(collect_list(
          struct(col("doc_id"), col("mh0"), col("mh1"), col("mh2"),
            col("mh3"), col("ss"), col("sig64")))).as("ms"))
        .filter(size(col("ms")) > 1)
        .select(explode(expr(pairExpansionSql("ms",
          "struct(a.doc_id AS doc_a, b.doc_id AS doc_b, a.ss AS sa, " +
            "b.ss AS sb, a.sig64 AS ga, b.sig64 AS gb)",
          keepAb = Some(firstAgreeingBand)))).as("p"))
        .select(col("p.doc_a"), col("p.doc_b"),
          size(array_intersect(col("p.sa"), col("p.sb"))).cast("long").as("ni"),
          size(col("p.sa")).cast("long").as("na"),
          size(col("p.sb")).cast("long").as("nb"),
          expr("size(filter(zip_with(p.ga, p.gb, (x, y) -> x = y), v -> v))")
            .cast("long").as("nm"))
        .select(col("doc_a"), col("doc_b"), col("ni"),
          (col("ni").cast("double") / (col("na") + col("nb") - col("ni")))
            .as("jaccard"),
          (col("nm").cast("double") / 64).as("jaccard_est"))
    }),

    // Near-dup CLUSTERS: connected components over the LSH candidate graph,
    // labelled by each component's minimum doc_id — the step a production
    // dedup pipeline runs after pair generation (keep one doc per cluster).
    // clusterLabels contracts the candidate graph with large-star/small-star
    // rounds until it fits under the broadcast threshold, then finishes it
    // with an in-memory union-find; the fixture's graph fits from the start.
    // Star alone (threshold -1) is property-proven O(log² n) on a 1000-node
    // chain and gives the same labels on every tested graph.
    "q_dedup_clusters" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      clusterLabels(docs.select("doc_id"),
        lshPairsOf(docs).select("doc_a", "doc_b"))
    }),

    // 16-bit SimHash from per-word md5 bit votes (integer-only arithmetic →
    // bit-identical to the oracle) as ONE native per-row expression
    // ([[graft.functions.SimHash16]]): the whole word loop, digest, and
    // vote accumulation run inside the scan — zero shuffles, no explode, no
    // per-word hex strings. The earlier composed form (explode + 16
    // conditional aggregate columns, one groupBy shuffle of 16 longs/doc)
    // was already single-digest-per-word, but its ~750k exploded rows at
    // sf0.1 made it the suite's most load-amplified query (3.2× under the
    // churn A/B); a null-text doc is dropped, exactly as explode(null)
    // dropped it. At 100 TB SimHash is per-row work inside the scan, and
    // now the plan says so.
    "q_simhash" -> ((s, d) => {
      // simhash16 is null ONLY for null text (an empty text still votes via
      // its one "" token), so the null-doc drop is a plain column predicate
      // — filtering on the expression's own null would push the digest loop
      // into the Filter and evaluate it twice per row (see minhashSigOf)
      ScaleOps.spread(Tables.documents(s, d))
        .filter(col("text").isNotNull)
        .select(col("doc_id"), expr("simhash16(text)").as("simhash"))
    }),

    // SimHash near-dup PAIRS (r6): candidates from the two 8-bit byte
    // bands of the 16-bit signature, verified by exact hamming distance
    // ≤ 1. The band split is exhaustive for that radius by pigeonhole —
    // one differing bit leaves the other band identical — so the bucket
    // join has FULL recall at the verify threshold, never goes all-pairs,
    // and both stages are the LSH shapes the engine already scales:
    // per-row signature + band keys inside the scan, in-bucket expansion
    // bounded by band-bucket size, cross-band dedup on the pair key. The
    // same plan at 64-bit SimHash / 4×16-bit bands / radius 3 is the
    // standard Manku-style web-dedup layout; the 16-bit width (the
    // oracle-reproducible choice — see q_simhash) fixes the band/radius
    // budget, and band width is the load-bearing knob: a 4-band/radius-3
    // variant at this width means 16-value bands, ~n/16-doc buckets, and
    // a near-quadratic candidate mass (measured 15.6 s and a 1.9M-row
    // answer at sf0.1 on the template-heavy corpus before this was
    // narrowed).
    "q_simhash_pairs" -> ((s, d) => {
      val sig = ScaleOps.spread(Tables.documents(s, d))
        .filter(col("text").isNotNull)
        .select(col("doc_id"), expr("simhash16(text)").as("simhash"))
      sig
        .select(col("doc_id"), col("simhash"),
          posexplode(expr("transform(sequence(0, 1), b -> (simhash >> (8 * b)) & 255)"))
            .as(Seq("band", "key")))
        .groupBy("band", "key")
        .agg(sort_array(collect_list(struct(col("doc_id"), col("simhash")))).as("ms"))
        .filter(size(col("ms")) > 1)
        // Verify AND dedup where the pair is born: hamming rides the built
        // struct, and a pair is emitted only from its FIRST agreeing band —
        // a hamming-0 pair agrees on both bands (band 1 drops it via
        // ka = kb), a hamming-1 pair agrees on exactly one (the other
        // band's buckets never see it) — so every surviving pair exits the
        // expansion EXACTLY once and the cross-band dropDuplicates
        // exchange (~2× the answer in shuffled rows) disappears. The whole
        // query is now one shuffle: the band-bucket groupBy.
        .select(explode(expr(pairExpansionSql("ms",
          "struct(a.doc_id AS doc_a, b.doc_id AS doc_b, " +
            "CAST(bit_count(a.simhash ^ b.simhash) AS INT) AS hamming, " +
            "a.simhash & 255 AS ka, b.simhash & 255 AS kb)",
          keep = Some("p.hamming <= 1 AND (band = 0 OR p.ka <> p.kb)"))))
          .as("p"))
        .select(col("p.doc_a"), col("p.doc_b"), col("p.hamming"))
    })
  )

  /** The shared shingle→signature→bands→pairs CTE chain, parameterized by
    * the source relation so pipeline oracles ([[CorpusQueries]]) can run it
    * over a filtered corpus. */
  private[ops] def shingleCteFrom(src: String): String =
    s"""ws AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
              FROM $src),""" + shingleCteTail

  private val shingleCte =
    """ws AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
              FROM documents),""" + shingleCteTail

  private lazy val shingleCteTail = """
       sh AS (SELECT doc_id,
                     UNNEST(list_transform(generate_series(1, len(w) - 2),
                       i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
              FROM ws WHERE len(w) >= 3),
       sig AS (SELECT doc_id,
                      MIN(CAST(md5_number_lower('0:' || sh) % 9223372036854775807 AS BIGINT)) AS mh0,
                      MIN(CAST(md5_number_upper('0:' || sh) % 9223372036854775807 AS BIGINT)) AS mh1,
                      MIN(CAST(md5_number_lower('1:' || sh) % 9223372036854775807 AS BIGINT)) AS mh2,
                      MIN(CAST(md5_number_upper('1:' || sh) % 9223372036854775807 AS BIGINT)) AS mh3
               FROM sh GROUP BY doc_id),
       bands AS (SELECT doc_id, 0 AS band, mh0 AS h FROM sig
                 UNION ALL SELECT doc_id, 1, mh1 FROM sig
                 UNION ALL SELECT doc_id, 2, mh2 FROM sig
                 UNION ALL SELECT doc_id, 3, mh3 FROM sig),
       pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                        COUNT(DISTINCT a.band) AS shared_bands
                 FROM bands a JOIN bands b
                   ON a.band = b.band AND a.h = b.h AND a.doc_id < b.doc_id
                 GROUP BY 1, 2)"""

  /** Tolerance twin for q_pagerank (see [[pageRankOf]]'s correctness-gate
    * scaladoc): five unrolled rounds of the identical arithmetic;
    * `tools/check_tolerance.py` compares pr per doc_id at rel-tol 1e-9. */
  private[graft] val toleranceOracle: Map[String, String] = Map(
    "q_pagerank" -> {
      val rounds = (1 to 5).map { k =>
        s"""r$k AS (SELECT s.dst AS doc_id,
                          (1 - 0.85) / (SELECT n FROM nn)
                            + 0.85 * SUM(r.pr / d.deg) AS pr
                   FROM sym s
                   JOIN r${k - 1} r ON r.doc_id = s.src
                   JOIN deg d ON d.src = s.src
                   GROUP BY s.dst)"""
      }.mkString(",\n          ")
      s"""WITH $shingleCte,
          sym AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                  UNION ALL SELECT doc_b, doc_a FROM pairs),
          deg AS (SELECT src, COUNT(*) AS deg FROM sym GROUP BY src),
          nn AS (SELECT COUNT(*) AS n FROM deg),
          r0 AS (SELECT src AS doc_id, 1.0 / (SELECT n FROM nn) AS pr
                 FROM deg),
          $rounds
          SELECT doc_id, pr FROM r5"""
    })

  val oracle: Map[String, String] = Map(
    // brute force over the SAME hashed shingle universe: every pair of
    // docs sharing any shingle, thresholded — if the Spark side's
    // prefix bound drops a qualifying pair, this twin has it and the
    // hash gate fails
    "q_simjoin_prefix" ->
      s"""WITH $shingleCte,
          ssh AS (SELECT DISTINCT doc_id,
                         CAST(md5_number_lower('0:' || sh)
                              % 9223372036854775807 AS BIGINT) AS sh
                  FROM sh),
          cnt AS (SELECT doc_id, COUNT(*) AS n FROM ssh GROUP BY doc_id),
          i AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS ni
                FROM ssh a JOIN ssh b
                  ON a.sh = b.sh AND a.doc_id < b.doc_id
                GROUP BY 1, 2)
          SELECT da AS doc_a, db AS doc_b, ni,
                 CAST(ni AS DOUBLE) / (ca.n + cb.n - ni) AS jaccard
          FROM i
          JOIN cnt ca ON ca.doc_id = da
          JOIN cnt cb ON cb.doc_id = db
          WHERE CAST(ni AS DOUBLE) / (ca.n + cb.n - ni) >= 0.5""",
    // truth from the brute-force exact join, candidates from the SQL
    // banding pipeline (the q_lsh_pairs twin's `pairs` CTE) — the
    // recall number itself is cross-engine checked
    "q_lsh_recall" ->
      s"""WITH $shingleCte,
          ssh AS (SELECT DISTINCT doc_id,
                         CAST(md5_number_lower('0:' || sh)
                              % 9223372036854775807 AS BIGINT) AS sh
                  FROM sh),
          cnt AS (SELECT doc_id, COUNT(*) AS n FROM ssh GROUP BY doc_id),
          i AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS ni
                FROM ssh a JOIN ssh b
                  ON a.sh = b.sh AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
          truth AS (SELECT da, db FROM i
                    JOIN cnt ca ON ca.doc_id = da
                    JOIN cnt cb ON cb.doc_id = db
                    WHERE CAST(ni AS DOUBLE) / (ca.n + cb.n - ni) >= 0.5),
          caught AS (SELECT t.da FROM truth t
                     JOIN pairs p ON p.doc_a = t.da AND p.doc_b = t.db)
          SELECT (SELECT COUNT(*) FROM truth) AS n_true,
                 (SELECT COUNT(*) FROM caught) AS n_caught,
                 CAST((SELECT COUNT(*) FROM caught) AS DOUBLE)
                   / NULLIF(CAST((SELECT COUNT(*) FROM truth) AS DOUBLE),
                            0) AS recall""",
    "q_dedup_exact" ->
      """SELECT text, MIN(doc_id) AS keep_id, COUNT(*) AS dup_count
         FROM documents GROUP BY text""",
    "q_minhash_sig" ->
      s"""WITH $shingleCte
          SELECT doc_id, mh0, mh1, mh2, mh3 FROM sig""",
    "q_minhash_native" -> {
      // the identical md5p permutation family, constants interpolated from
      // the same splitmix stream the Scala aggregate uses
      import graft.functions.MinHashSketch.{P, mulA, incB}
      val mins = (0 until 64)
        .map(j => s"MIN((${mulA(j)} * b + ${incB(j)}) % $P) AS m$j")
        .mkString(",\n                        ")
      val list = (0 until 64).map(j => s"m$j").mkString(", ")
      s"""WITH $shingleCte,
          base AS (SELECT doc_id,
                          CAST(md5_number_lower(sh) % $P AS BIGINT) AS b
                   FROM sh),
          m AS (SELECT doc_id,
                        $mins
                FROM base GROUP BY doc_id)
          SELECT doc_id, CAST(to_json([$list]) AS VARCHAR) AS sig FROM m"""
    },
    "q_lsh_pairs" ->
      s"""WITH $shingleCte
          SELECT doc_a, doc_b, shared_bands FROM pairs""",
    "q_dup_degree" ->
      s"""WITH $shingleCte,
          ends AS (SELECT doc_a AS doc_id FROM pairs
                   UNION ALL SELECT doc_b FROM pairs)
          SELECT doc_id, COUNT(*) AS degree FROM ends GROUP BY doc_id""",
    // naive triple self-join (each triangle once, from its min-id vertex a
    // with a < b < c) — fine at oracle scale; the Spark side's
    // degree-ordered count is provably the same number
    "q_triangle_count" ->
      s"""WITH $shingleCte,
          e AS (SELECT doc_a AS a, doc_b AS b FROM pairs),
          deg AS (SELECT v, COUNT(*) AS d
                  FROM (SELECT a AS v FROM e UNION ALL SELECT b FROM e) u
                  GROUP BY v),
          tri AS (SELECT COUNT(*) AS t
                  FROM e e1
                  JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
                  JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b),
          agg AS (SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
                         (SELECT COUNT(*) FROM e) AS n_edges,
                         (SELECT CAST(SUM(d * (d - 1) // 2) AS BIGINT)
                          FROM deg) AS n_wedges,
                         (SELECT t FROM tri) AS n_triangles)
          SELECT n_nodes, n_edges, n_wedges, n_triangles,
                 CASE WHEN n_wedges > 0
                      THEN (3.0 * n_triangles) / n_wedges END AS clustering
          FROM agg""",
    // pairs is one row per banded pair (grouped), exactly the Spark side's
    // first-agreeing-band multiplicity; the 80/20 split threshold is the
    // same FLOOR(MAX(doc_id)*0.8) scalar both engines compute (explicit
    // FLOOR — DuckDB's bare CAST rounds, Spark's truncates)
    "q_dedup_delta" ->
      s"""WITH $shingleCte,
          kk AS (SELECT CAST(FLOOR(MAX(doc_id) * 0.8) AS BIGINT) AS k FROM documents),
          cand AS (SELECT doc_a, doc_b FROM pairs
                   WHERE doc_a >= (SELECT k FROM kk) OR doc_b >= (SELECT k FROM kk)),
          contrib AS (SELECT CASE WHEN doc_a >= (SELECT k FROM kk)
                                   AND doc_b < (SELECT k FROM kk) THEN doc_a
                                  ELSE doc_b END AS doc_id,
                             CASE WHEN doc_a < (SELECT k FROM kk)
                                    OR doc_b < (SELECT k FROM kk) THEN 1 ELSE 0 END AS cm,
                             CASE WHEN doc_a >= (SELECT k FROM kk)
                                   AND doc_b >= (SELECT k FROM kk) THEN 1 ELSE 0 END AS dm
                      FROM cand),
          agg AS (SELECT doc_id, SUM(cm) AS cm, SUM(dm) AS dm
                  FROM contrib GROUP BY doc_id)
          SELECT d.doc_id,
                 CAST(COALESCE(agg.cm, 0) AS BIGINT) AS n_corpus_matches,
                 CAST(COALESCE(agg.dm, 0) AS BIGINT) AS n_prior_delta_matches,
                 COALESCE(agg.cm, 0) = 0 AND COALESCE(agg.dm, 0) = 0 AS keep
          FROM (SELECT doc_id FROM documents
                WHERE doc_id >= (SELECT k FROM kk)) d
          LEFT JOIN agg USING (doc_id)""",
    // transitive closure (recursive CTE) reaches the same labels Spark's
    // clusterLabels computes: min reachable doc_id
    "q_dedup_clusters" ->
      s"""WITH RECURSIVE $shingleCte,
          sym AS (SELECT doc_a, doc_b FROM pairs
                  UNION ALL SELECT doc_b, doc_a FROM pairs),
          reach(doc_id, cluster) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT s.doc_a, r.cluster
            FROM sym s JOIN reach r ON r.doc_id = s.doc_b)
          SELECT doc_id, MIN(cluster) AS cluster FROM reach GROUP BY doc_id""",
    "q_jaccard_pairs" ->
      s"""WITH $shingleCte,
          ssh AS (SELECT DISTINCT doc_id,
                         CAST(md5_number_lower('0:' || sh)
                              % 9223372036854775807 AS BIGINT) AS sh
                  FROM sh),
          cnt AS (SELECT doc_id, COUNT(*) AS n FROM ssh GROUP BY doc_id),
          inter AS (SELECT p.doc_a, p.doc_b, COUNT(*) AS ni
                    FROM pairs p
                    JOIN ssh a ON a.doc_id = p.doc_a
                    JOIN ssh b ON b.doc_id = p.doc_b AND b.sh = a.sh
                    GROUP BY 1, 2)
          SELECT i.doc_a, i.doc_b, i.ni,
                 CAST(i.ni AS DOUBLE) / (ca.n + cb.n - i.ni) AS jaccard
          FROM inter i
          JOIN cnt ca ON ca.doc_id = i.doc_a
          JOIN cnt cb ON cb.doc_id = i.doc_b""",
    "q_containment_pairs" ->
      s"""WITH $shingleCte,
          ssh AS (SELECT DISTINCT doc_id,
                         CAST(md5_number_lower('0:' || sh)
                              % 9223372036854775807 AS BIGINT) AS sh
                  FROM sh),
          cnt AS (SELECT doc_id, COUNT(*) AS n FROM ssh GROUP BY doc_id),
          inter AS (SELECT p.doc_a, p.doc_b, COUNT(*) AS ni
                    FROM pairs p
                    JOIN ssh a ON a.doc_id = p.doc_a
                    JOIN ssh b ON b.doc_id = p.doc_b AND b.sh = a.sh
                    GROUP BY 1, 2)
          SELECT i.doc_a, i.doc_b, i.ni,
                 CAST(i.ni AS DOUBLE) / ca.n AS c_ab,
                 CAST(i.ni AS DOUBLE) / cb.n AS c_ba
          FROM inter i
          JOIN cnt ca ON ca.doc_id = i.doc_a
          JOIN cnt cb ON cb.doc_id = i.doc_b""",
    "q_minhash_est" -> {
      import graft.functions.MinHashSketch.{P, mulA, incB}
      val mins = (0 until 64)
        .map(j => s"MIN((${mulA(j)} * b + ${incB(j)}) % $P) AS m$j")
        .mkString(",\n                        ")
      val matches = (0 until 64)
        .map(j => s"(CASE WHEN ma.m$j = mb.m$j THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH $shingleCte,
          ssh AS (SELECT DISTINCT doc_id,
                         CAST(md5_number_lower('0:' || sh)
                              % 9223372036854775807 AS BIGINT) AS sh
                  FROM sh),
          cnt AS (SELECT doc_id, COUNT(*) AS n FROM ssh GROUP BY doc_id),
          inter AS (SELECT p.doc_a, p.doc_b, COUNT(*) AS ni
                    FROM pairs p
                    JOIN ssh a ON a.doc_id = p.doc_a
                    JOIN ssh b ON b.doc_id = p.doc_b AND b.sh = a.sh
                    GROUP BY 1, 2),
          base AS (SELECT doc_id,
                          CAST(md5_number_lower(sh) % $P AS BIGINT) AS b
                   FROM sh),
          m AS (SELECT doc_id,
                        $mins
                FROM base GROUP BY doc_id)
          SELECT i.doc_a, i.doc_b, i.ni,
                 CAST(i.ni AS DOUBLE) / (ca.n + cb.n - i.ni) AS jaccard,
                 CAST($matches AS DOUBLE) / 64 AS jaccard_est
          FROM inter i
          JOIN cnt ca ON ca.doc_id = i.doc_a
          JOIN cnt cb ON cb.doc_id = i.doc_b
          JOIN m ma ON ma.doc_id = i.doc_a
          JOIN m mb ON mb.doc_id = i.doc_b"""
    },
    "q_simhash" ->
      """WITH w AS (SELECT doc_id,
                           UNNEST(string_split_regex(trim(text), '\s+')) AS w
                    FROM documents),
          bits AS (SELECT doc_id, t.i,
                          (strpos('0123456789abcdef',
                             substr(md5(w), CAST(t.i AS INT), 1)) - 1) % 2 AS bit
                   FROM w CROSS JOIN range(1, 17) t(i)),
          sgns AS (SELECT doc_id, i,
                          SUM(CASE WHEN bit = 1 THEN 1 ELSE -1 END) AS sgn
                   FROM bits GROUP BY doc_id, i)
          SELECT doc_id,
                 CAST(SUM(CASE WHEN sgn >= 0
                               THEN CAST(1 AS BIGINT) << CAST(i - 1 AS INT)
                               ELSE 0 END) AS BIGINT) AS simhash
          FROM sgns GROUP BY doc_id""",
    // identical signature CTE, then the identical nibble-band candidate
    // join + exact hamming verify
    "q_simhash_pairs" ->
      """WITH w AS (SELECT doc_id,
                           UNNEST(string_split_regex(trim(text), '\s+')) AS w
                    FROM documents),
          bits AS (SELECT doc_id, t.i,
                          (strpos('0123456789abcdef',
                             substr(md5(w), CAST(t.i AS INT), 1)) - 1) % 2 AS bit
                   FROM w CROSS JOIN range(1, 17) t(i)),
          sgns AS (SELECT doc_id, i,
                          SUM(CASE WHEN bit = 1 THEN 1 ELSE -1 END) AS sgn
                   FROM bits GROUP BY doc_id, i),
          smh AS (SELECT doc_id,
                         CAST(SUM(CASE WHEN sgn >= 0
                                       THEN CAST(1 AS BIGINT) << CAST(i - 1 AS INT)
                                       ELSE 0 END) AS BIGINT) AS simhash
                  FROM sgns GROUP BY doc_id),
          bands AS (SELECT doc_id, simhash,
                           t.b, (simhash >> CAST(8 * t.b AS INT)) & 255 AS key
                    FROM smh CROSS JOIN range(0, 2) t(b)),
          cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                          a.simhash AS sa, b.simhash AS sb
                   FROM bands a JOIN bands b
                     ON a.b = b.b AND a.key = b.key AND a.doc_id < b.doc_id)
          SELECT doc_a, doc_b,
                 CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
          FROM cand WHERE bit_count(xor(sa, sb)) <= 1"""
  )
}
