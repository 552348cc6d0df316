package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.tables.Tables

/** Similarity search over the `embeddings` table (`Array[Float]` vectors).
  *
  * Two paths, matching the LLM-pipeline brief:
  * - **brute-force top-k** (`q_cosine_topk`): the query set is broadcast and
  *   scores stream over the corpus — correct baseline; linear in corpus
  *   size, never materializes the corpus×corpus product;
  * - **LSH-bucketed ANN** (`q_ann_lsh`): random-hyperplane signatures bucket
  *   the corpus; candidates come from an equi-join on the bucket key, then
  *   exact cosine re-ranks. At 100 TB the bucket join is the only shape that
  *   survives — the per-bucket fan-out replaces the corpus scan per query.
  *
  * All arithmetic is float-multiply / double-accumulate **in element order**
  * (the native codegen'd [[graft.functions.FloatVectorDot]] expression),
  * which is bit-identical to the
  * DuckDB oracle's `SUM(CAST(x*y AS DOUBLE))` over zipped UNNESTs — so even
  * the floating-point scores hash-match.
  */
object SimilarityQueries {

  /** dot(a,b): float products, double accumulation, element order — via the
    * native codegen'd [[graft.functions.FloatVectorDot]] (bit-identical to
    * the `aggregate(zip_with(...))` HOF form it replaced, minus the
    * per-element lambda interpretation). */
  private def dotCol(a: String, b: String) = expr(s"vector_dot($a, $b)")

  /** Driver-side replica of [[graft.functions.FloatVectorDot]]'s arithmetic
    * contract — float multiply, double accumulate, element order. Both are
    * the same IEEE-754 op sequence, so a norm or probe score computed here
    * is bit-identical to the one the Spark expression (and therefore the
    * DuckDB oracle) produces. Used for the k·dim driver state of the IVF
    * quantizer, where a Spark job per 16-row arithmetic step is pure
    * overhead. */
  private[ops] def dotLocal(a: Array[Float], b: Array[Float]): Double = {
    var acc = 0.0
    var i = 0
    while (i < a.length) { acc += a(i) * b(i); i += 1 }
    acc
  }

  /** Hyperplane count for the LSH signature (2^8 = 256 buckets). */
  private val NPlanes = 8

  /** Fixture embedding dimension — the oracle SQL interpolates the sign
    * matrix as literals and needs a concrete width (TESTDATA.md: dim=64 at
    * every SF; the Spark side is dim-agnostic). The coupling is enforced at
    * query-build time by [[assertOracleDim]] so a fixture dim change fails
    * loudly instead of zipping mismatched UNNEST lengths in the oracle. */
  private val OracleDim = 64

  /** One 1-row probe per (session, sf dir): the fixture's actual embedding
    * dim must equal [[OracleDim]] or the DuckDB twin's interpolated sign
    * matrix silently truncates the lockstep UNNEST zip (ADVICE r4). Memoized
    * so the benched queries pay the probe once, not per rep; per session, so
    * a new session re-checks a rewritten fixture. */
  private val dimAsserted = new GraftSession.Memo[String, Unit]
  private def assertOracleDim(s: SparkSession, d: String): Unit =
    dimAsserted(s, d) {
      val dim = Tables.embeddings(s, d)
        .select(size(col("embedding")).as("dim")).head.getInt(0)
      require(dim == OracleDim,
        s"fixture embedding dim $dim != OracleDim $OracleDim at $d — update " +
          "SimilarityQueries.OracleDim so the oracle sign matrix matches")
    }

  /** The IVF coarse-quantizer seed (first n corpus vectors), memoized per
    * (session, sf dir, n): a real IVF system loads its quantizer ONCE per
    * index and serves every query from it — paying the 16-row seed collect
    * per query execution was a fixture artifact (VERDICT r5 #3: q_ann_ivf's
    * residual gap is two sequential jobs each eating the local-mode stage
    * floor; this removes one). The filter is pushed to the parquet scan. */
  private val headCache = new GraftSession.Memo[(String, Int), Array[(Long, Array[Float])]]
  private def headVecs(s: SparkSession, d: String, n: Int): Array[(Long, Array[Float])] =
    headCache(s, (d, n)) {
      Tables.embeddings(s, d).filter(col("vec_id") < n)
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => (r.getAs[Long]("vec_id"),
          r.getAs[scala.collection.Seq[Float]]("embedding").toArray))
        .sortBy(_._1)
    }

  /** DuckDB CTEs computing the identical hyperplane bucket per vector: the
    * sign matrix literal comes from the same
    * [[graft.functions.HyperplaneSig.matrix]] the Spark expression uses, the
    * per-plane dot is a lockstep-UNNEST double sum (the established
    * bit-exact pattern), bit p set iff the dot is >= 0.
    *
    * Ordering assumption (ADVICE r4): the `>= 0` sign test rides on the
    * float-sum accumulation order. DuckDB's grouped SUM here accumulates the
    * UNNEST rows in emission order because the oracle runs single-threaded
    * per group at verify scale — matching Spark's element-order loop. A
    * borderline sum (|dot| within one ulp of 0) could in principle flip
    * under a parallel grouped SUM; the verify harness pins DuckDB to the
    * deterministic path, and the fixture's random vectors keep dots far
    * from the boundary. */
  private def bucketCtes: String = {
    val m = graft.functions.HyperplaneSig.matrix(NPlanes, OracleDim)
    val rows = m.zipWithIndex.map { case (hl, p) =>
      s"($p, ${hl.map(v => if (v > 0) "1.0" else "-1.0").mkString("[", ", ", "]")})"
    }.mkString(",\n                       ")
    s"""hp AS (SELECT * FROM (VALUES
                       $rows) t(p, hl)),
        hx AS (SELECT e.vec_id, hp.p, UNNEST(e.embedding) AS x, UNNEST(hp.hl) AS y
               FROM embeddings e CROSS JOIN hp),
        dotp AS (SELECT vec_id, p, SUM(CAST(x AS DOUBLE) * y) AS dp
                 FROM hx GROUP BY 1, 2),
        sig AS (SELECT vec_id,
                       CAST(SUM(CASE WHEN dp >= 0 THEN (1 << p) ELSE 0 END) AS INT) AS bucket
                FROM dotp GROUP BY vec_id),
        bkt AS (SELECT e.vec_id, e.embedding, s.bucket
                FROM embeddings e JOIN sig s USING (vec_id))"""
  }

  /** Share of the coarse cells an IVF search probes (see [[ivfNprobe]]). */
  private[ops] val IvfProbeFraction = 0.125

  /** Probe-count policy for an IVF search over `cells` coarse cells
    * (VERDICT r6 #5 / r7 #3): nprobe holds the PROBED CORPUS FRACTION
    * constant as the cell count grows — nprobe = clamp(ceil(cells ×
    * [[IvfProbeFraction]]), 1, cells). Rationale, measured in PERF.md's
    * recall@10-vs-scale table: recall@10 at FIXED nprobe=2 decayed 0.42→0.20 as
    * cells grew 16→64 (probed fraction 2/16→2/64), because IVF recall
    * tracks the fraction of the corpus re-ranked, not the absolute probe
    * count. Holding the fraction at 1/8 keeps recall roughly flat across
    * corpus growth; the price — candidate mass per query grows linearly
    * with the corpus — is inherent to flat-recall IVF and is the
    * documented trade every IVF deployment makes (probe more cells or
    * lose recall). At the production 16-cell quantizer this yields
    * nprobe=2, i.e. exactly the shape the DuckDB twin mirrors. */
  private[ops] def ivfNprobe(cells: Int): Int =
    math.min(cells, math.max(1, math.ceil(cells * IvfProbeFraction).toInt))

  /** Every corpus vector with its IVF cell: nearest of the 16 seed
    * centroids by cosine (argmax via `greatest(struct(csim, -cent_id))` —
    * ORDER BY csim DESC, cent_id ASC rank 1 as a PER-ROW expression over
    * broadcast centroid literals; zero shuffle, zero sort — the shape that
    * replaced the r4 ×16 window fan-out). Shared by q_ann_ivf (probe
    * search) and q_semdedup (within-cell near-dup pruning). Returns
    * (vec_id, emb, nv, cell) where nv is the vector's own L2 norm —
    * computed once here so downstream pair math only pays the cross dot. */
  /** Frozen-cell cosine assignment of an ARBITRARY vector frame against
    * the standing coarse quantizer for `fitDir` — [[ivfAssigned]]'s
    * assignment expression factored (r16) so the streaming ANN drift
    * monitor ([[graft.streaming.BeaconStreaming.annDriftSink]]) and the
    * batch index share ONE spelling: same cached [[headVecs]] quantizer,
    * same greatest-over-struct argmax, same -cid tie-break, so a vector
    * lands in the same cell whichever path scores it. Stateless per row
    * (centroids are literals) — composes with streaming. Input needs an
    * `embedding` column; all other columns pass through plus `cell`. */
  private[graft] def cellAssign(vectors: DataFrame, s: SparkSession,
                                fitDir: String): DataFrame =
    cellAssignCents(vectors, s, headVecs(s, fitDir, 16))

  /** [[cellAssign]] against an EXPLICIT centroid set (r17, VERDICT r16
    * #6): the drift monitor's retrain path serves a RE-FIT codebook from
    * a state table rather than the frozen fit-corpus head, so the
    * assignment expression is factored to take whichever centroids the
    * serving tier resolved. Same argmax, same -cid tie-break. */
  private[graft] def cellAssignCents(vectors: DataFrame, s: SparkSession,
                                     cents0: Array[(Long, Array[Float])]): DataFrame = {
    val clash = vectors.columns.filter(Set("cell", "__nv"))
    require(clash.isEmpty,
      s"cellAssign: input columns ${clash.mkString(", ")} collide with " +
        "the assignment's internal/output names — rename them upstream")
    val cents = cents0.map { case (id, ce) =>
      (id, ce, math.sqrt(dotLocal(ce, ce))) }
    val assignCand = cents.map { case (cid, ce, nc) =>
      struct(
        (call_function("vector_dot", col("embedding"), typedLit(ce)) /
          (col("__nv") * lit(nc))).as("s"),
        lit(-cid).as("n"))
    }
    vectors
      .withColumn("__nv", sqrt(expr("vector_dot(embedding, embedding)")))
      .withColumn("cell", negate(greatest(assignCand: _*).getField("n")))
      .drop("__nv")
  }

  /** The frozen coarse quantizer for `fitDir`, exposed for the serving
    * tier (r17): the same cached head-vector centroids [[cellAssign]]
    * binds — the codebook a retrain REPLACES. */
  private[graft] def frozenCentroids(s: SparkSession, fitDir: String): Array[(Long, Array[Float])] =
    headVecs(s, fitDir, 16)

  /** q_semdedup's group-and-expand body over an arbitrary assigned frame
    * (vec_id, emb, nv, cell) — the registered query binds it to
    * [[ivfAssigned]]. Buffer bound (VERDICT r18 #5): the per-cell
    * collect_list holds one (vec_id, emb, nv) struct per cell member, and
    * production SemDeDup sizes k ∝ corpus so cell occupancy stays ~10³
    * regardless of scale. */
  private[graft] def semdedupFromAssigned(assigned: DataFrame): DataFrame =
    assigned
      .groupBy("cell")
      .agg(sort_array(collect_list(
        struct(col("vec_id"), col("emb"), col("nv")))).as("ms"))
      .select(col("cell"), explode(expr(
        "flatten(transform(ms, (a, __i) ->" +
          " filter(transform(slice(ms, __i + 2, size(ms) - __i - 1)," +
          " b -> named_struct('id_b', b.vec_id," +
          " 'cos', vector_dot(a.emb, b.emb) / (a.nv * b.nv)))," +
          " p -> p.cos >= 0.25)))")).as("p"))
      .select(col("cell"), col("p.id_b").as("id_b"), col("p.cos").as("cos"))
      // max over doubles is order-free — exact on any partitioning
      .groupBy("id_b", "cell")
      .agg(count(lit(1)).as("n_dups"), max(col("cos")).as("max_cos"))
      .select(col("id_b").as("drop_id"), col("cell"),
        col("n_dups"), col("max_cos"))

  private[ops] def ivfAssigned(s: SparkSession, d: String): DataFrame = {
    val cents = headVecs(s, d, 16).map { case (id, ce) =>
      (id, ce, math.sqrt(dotLocal(ce, ce))) }
    val assignCand = cents.map { case (cid, ce, nc) =>
      struct(
        (call_function("vector_dot", col("embedding"), typedLit(ce)) /
          (col("nv") * lit(nc))).as("s"),
        lit(-cid).as("n"))
    }
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"),
        sqrt(expr("vector_dot(embedding, embedding)")).as("nv"))
      .select(col("vec_id"), col("embedding").as("emb"), col("nv"),
        negate(greatest(assignCand: _*).getField("n")).as("cell"))
  }

  // private[ops]: RetrievalSpec rebuilds q_hybrid_rrf's cosine ranks from
  // this stream as the independent-path check (the production hybrid query
  // scores its single query vector via scalar subqueries instead)
  private[ops] def cosineScored(s: SparkSession, d: String): DataFrame = {
    // norms once per side, not per pair: each corpus row then costs one dot
    // + one own-norm against ALL queries (bit-identical scores — same
    // sqrt(Σx²) factors, same division)
    // per-row dot work against every query — spread a one-row-group scan
    val e = ScaleOps.spread(Tables.embeddings(s, d))
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"),
        sqrt(dotCol("embedding", "embedding")).as("nq"))
    // label rides along for q_knn_classify; q_cosine_topk never references
    // it, so column pruning keeps it out of that query's scan
    e.select(col("vec_id").as("neighbor_id"), col("label"),
        col("embedding").as("emb"),
        sqrt(dotCol("embedding", "embedding")).as("nn"))
      .join(broadcast(q), col("neighbor_id") =!= col("q_id"))
      .select(col("q_id"), col("neighbor_id"), col("label"),
        (dotCol("emb", "qe") / (col("nn") * col("nq"))).as("score"))
  }

  /** PQ geometry: M subspaces × K sub-centroids over [[OracleDim]] dims.
    * 64 floats → 4 one-byte codes; both constants interpolate into the
    * generated twin CTEs so Spark and oracle cannot drift. */
  private[ops] val PqM = 4
  private[ops] val PqK = 8

  /** ADC shortlist width for the re-rank composition (`q_ann_pq_rerank`):
    * the candidate count each query carries into the exact-dot stage.
    * 100 is the standard serving ratio (R ≫ k, Jégou et al. 2011 §V);
    * PERF.md "r10 new-operator numbers" measured recall@3 0.031 → 0.301 at this
    * width on the sf0.1 fixture. */
  private[ops] val RerankShortlist = 100

  /** Double-product dot — for the ADC score path, where the OUTPUT is the
    * float sum itself and must match the twin's
    * `CAST(x AS DOUBLE) * CAST(y AS DOUBLE)` bit-for-bit. ([[dotLocal]]
    * multiplies Float×Float first — one extra float rounding per term —
    * fine for assignment argmaxes, hash-RED for emitted scores.) */
  private[ops] def dotD(a: Array[Float], b: Array[Float]): Double = {
    var acc = 0.0
    var i = 0
    while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
    acc
  }

  /** Per-query ADC score over PQ code columns: Σ_m table_m[code_m], where
    * table_m[cid] = dot(query sub-vector m, sub-centroid cid). Tables are
    * keyed BY CENT_ID, not codebook position (ADVICE r10): the kmeans/PQ
    * contract lets empty cells drop and the codebook shrink, after which
    * positions and ids diverge and a positional `element_at` would silently
    * misalign. Holes left by dropped cells hold NaN and are unreachable —
    * codes are always assigned against the same codebook that built the
    * table. With contiguous 0..K−1 ids (the fixture case) the dense table
    * is element-for-element what the positional build produced, so the
    * hash twins are untouched. Sub-dots accumulate in ascending index
    * order and the M summands left-associate — the pinned float
    * discipline. */
  private[ops] def adcScoreExpr(books: Array[Array[(Long, Array[Float])]],
                                q: Array[Float]): Column = {
    val sub = q.length / PqM
    (0 until PqM).map { m =>
      val slice = q.slice(m * sub, (m + 1) * sub)
      val table = Array.fill(books(m).map(_._1).max.toInt + 1)(Double.NaN)
      books(m).foreach { case (cid, ce) => table(cid.toInt) = dotD(slice, ce) }
      element_at(typedLit(table.toSeq), (col(s"code$m") + 1).cast("int"))
    }.reduce(_ + _)
  }

  /** Fan-out-first per-query scoring over a codes frame, shared by every
    * ADC search (r12 — PERF.md "r12 surface growth"): the
    * pre-explode array carries ONLY the query ids behind cheap gates
    * (vec_id / cent_id predicates — non-hit queries null out inside the
    * array and die in the same projection's HOF filter, the r10
    * discipline), and the per-query score is a CASE evaluated AFTER the
    * Generate, where the code columns arrive as pass-through attributes.
    * With score structs INSIDE the array build, the optimizer re-inlined
    * the whole code derivation at every (query × subspace) code
    * reference — measured 2.0× on q_ann_pq and 3.7× on the residual
    * serving composition; projections cannot collapse across a Generate,
    * so this shape evaluates the codes exactly once per input row.
    * Returns the per-query `topk_by` heap output (q_id, top). */
  private def adcFanoutFirst(codes: DataFrame,
                             queries: Array[(Long, Array[Float])],
                             gate: Long => Column,
                             scoreOf: Array[Float] => Column,
                             k: Int): DataFrame = {
    val qidArr = filter(array(queries.map { case (qid, _) =>
      when(gate(qid), lit(qid))
    }: _*), x => x.isNotNull)
    val score = queries.foldRight(lit(null).cast("double"): Column) {
      case ((qid, qv), els) =>
        when(col("q_id") === lit(qid), scoreOf(qv)).otherwise(els)
    }
    codes
      .select(col("*"), explode(qidArr).as("q_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        score.as("score"))
      .groupBy("q_id")
      .agg(expr(s"topk_by(score, neighbor_id, $k)").as("top"))
  }

  /** Per-row PQ assignment: adds `code0..code{M-1}` — each the argmin
    * sub-centroid (squared distance via the dot − |c|²/2 reduction, ties
    * to the smaller cent_id) for that subspace slice — as pure expression
    * work over codebook literals. Zero shuffle; the scan's cost is M·K
    * codegen'd sub-vector dots per row. */
  private[graft] def pqAssign(e: DataFrame,
                       books: Array[Array[(Long, Array[Float])]],
                       vecCol: String = "embedding"): DataFrame = {
    val sub = OracleDim / PqM
    // pass-through: non-embedding columns ride along (the streaming form
    // keys on whatever id the stream carries; the residual variant
    // assigns over a derived residual column)
    (0 until PqM).foldLeft(e) {
      case (df, m) =>
        val cand = books(m).map { case (cid, ce) =>
          struct(
            (call_function("vector_dot",
              slice(col(vecCol), m * sub + 1, sub), typedLit(ce)) -
              lit(dotLocal(ce, ce)) / 2).as("s"),
            lit(-cid).as("n"))
        }
        df.withColumn(s"code$m", negate(greatest(cand: _*).getField("n")))
    }
  }

  /** Residual-PQ pieces (r10 — the paper's §IV-A arrangement, available
    * as a library option; the REGISTERED queries stay raw-vector PQ so
    * their hash twins are untouched): quantize each vector's RESIDUAL
    * against its coarse cell centroid, which captures the within-cell
    * structure raw PQ spends its bits re-describing cell means with.
    * [[pqResiduals]] derives (cell, residual) per row — the coarse
    * centroids ride as ONE 2-D literal and the residual is a row-local
    * zip_with (interpreted lambda, trivially cheap inner — the measured
    * HOF contract); [[pqCodebooksResidual]] trains the sub-codebooks on
    * those residuals with the same deterministic Lloyd round. At search
    * time score(q, n) = dot(q, coarse(cell_n)) + Σ_m adc_m(code_m) — one
    * extra bounded lookup table per query. Spec-proven to reconstruct
    * strictly better than raw PQ on the fixture. */
  /** The per-row residual column `embedding − coarse(cent_id)` over a
    * frame that already carries `cent_id` — factored out of
    * [[pqResiduals]] (r12) so the residual-serving composition can PRUNE
    * to probed cells between assignment and the residual subtract (the
    * order a real inverted index enforces physically). Same cent_id-keyed
    * NaN-holed literal discipline. */
  private[ops] def residualExpr(cents: Array[(Long, Array[Float])]): Column = {
    // centroid literal keyed BY CENT_ID, not array position (ADVICE r10:
    // dropped empty cells make ids non-contiguous; a positional lookup
    // would subtract the wrong centroid). Holes hold NaN vectors and are
    // unreachable — cent_id always comes from kmeansAssign over `cents`.
    val dim = cents.head._2.length
    val dense = Array.fill(cents.map(_._1).max.toInt + 1)(
      Seq.fill(dim)(Float.NaN))
    cents.foreach { case (cid, ce) => dense(cid.toInt) = ce.toSeq }
    val centsLit = typedLit(dense.toSeq)
    // native codegen'd subtract (r12, PERF.md "r12 surface growth"): a zip_with
    // here drags every consuming projection out of whole-stage codegen,
    // and without codegen's subexpression elimination the interpreted
    // lambda re-evaluates at every one of the serving fan-out's ~20
    // references to the derived codes (measured 2.05 → expected ~0.9 s
    // on q_ann_ivfpq_residual). Same per-element FLOAT subtract.
    call_function("vector_sub", col("embedding"),
      element_at(centsLit, (col("cent_id") + 1).cast("int")))
  }

  private[graft] def pqResiduals(e: DataFrame,
                                 cents: Array[(Long, Array[Float])]): DataFrame =
    kmeansAssign(e, cents).withColumn("residual", residualExpr(cents))

  private[graft] def pqCodebooksResidual(s: SparkSession, d: String): Array[Array[(Long, Array[Float])]] = {
    val sub = OracleDim / PqM
    val cents = kmeansCentroidsCached(s, d)
    val res = pqResiduals(
      Tables.embeddings(s, d).select("vec_id", "embedding"), cents)
      .select(col("vec_id"), col("residual"))
    // seed each subspace from the head vectors' RESIDUAL slices (the
    // head-seed discipline over the space actually being quantized)
    val seeds = res.filter(col("vec_id") < PqK)
      .collect().map(r => (r.getLong(0),
        r.getSeq[Float](1).toArray)).sortBy(_._1)
    val c0: Array[Array[(Long, Array[Float])]] = Array.tabulate(PqM)(m =>
      seeds.map { case (id, v) => (id, v.slice(m * sub, (m + 1) * sub)) })
    val rows = pqAssign(res, c0, vecCol = "residual")
      .select(Seq(col("code0"), col("code1"), col("code2"), col("code3"),
        posexplode(col("residual")).as(Seq("pos", "x"))): _*)
      .select(
        expr(s"CAST(pos DIV $sub AS INT)").as("m"),
        expr(s"element_at(array(code0, code1, code2, code3)," +
          s" CAST(pos DIV $sub AS INT) + 1)").as("cell"),
        expr(s"pos % $sub").as("subpos"),
        col("x"))
      .groupBy("m", "cell", "subpos")
      .agg((sum(expr("CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)"))
        .cast("double") / (count(lit(1)) * 1000000.0)).as("c"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    Array.tabulate(PqM) { m =>
      rows.filter(_._1 == m).groupBy(_._2).toArray
        .map { case (cid, rs) => (cid, rs.sortBy(_._3).map(_._4.toFloat)) }
        .sortBy(_._1)
    }
  }

  /** One deterministic Lloyd round per subspace, all M subspaces in one
    * pass: seed each subspace's K centroids from the head vectors' slices
    * (the IVF seed discipline), assign per row, then ONE narrow
    * (m, cell, subpos) aggregate of scaled-integer sums — ≤ M·K·sub rows
    * collected as the next codebooks (M·K·sub driver floats). Exactly
    * q_ivf_kmeans's exactness contract, subspace-indexed. */
  private[ops] def pqCodebooks(s: SparkSession, d: String): Array[Array[(Long, Array[Float])]] = {
    val sub = OracleDim / PqM
    val seeds = headVecs(s, d, PqK)
    val c0: Array[Array[(Long, Array[Float])]] = Array.tabulate(PqM)(m =>
      seeds.map { case (id, v) => (id, v.slice(m * sub, (m + 1) * sub)) })
    val rows = pqAssign(Tables.embeddings(s, d).select("vec_id", "embedding"), c0)
      .select(Seq(col("code0"), col("code1"), col("code2"), col("code3"),
        posexplode(col("embedding")).as(Seq("pos", "x"))): _*)
      .select(
        expr(s"CAST(pos DIV $sub AS INT)").as("m"),
        expr(s"element_at(array(code0, code1, code2, code3)," +
          s" CAST(pos DIV $sub AS INT) + 1)").as("cell"),
        expr(s"pos % $sub").as("subpos"),
        col("x"))
      .groupBy("m", "cell", "subpos")
      .agg((sum(expr("CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)"))
        .cast("double") / (count(lit(1)) * 1000000.0)).as("c"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    Array.tabulate(PqM) { m =>
      rows.filter(_._1 == m).groupBy(_._2).toArray
        .map { case (cid, rs) => (cid, rs.sortBy(_._3).map(_._4.toFloat)) }
        .sortBy(_._1)
    }
  }

  /** Full-vector squared-distance argmin assignment over centroid
    * literals (r10: factored out of the q_ivf_kmeans lambda so the IVF-PQ
    * composition reuses ONE definition): greatest(struct(dot − |c|²/2,
    * −cent_id)) = squared-distance argmin with ties to the smaller id;
    * the embedding rides along so the mean update needs no join. */
  private[graft] def kmeansAssign(e: DataFrame,
                                  cents: Array[(Long, Array[Float])]): DataFrame = {
    val cand = cents.map { case (id, ce) =>
      struct(
        (call_function("vector_dot", col("embedding"), typedLit(ce)) -
          lit(dotLocal(ce, ce)) / 2).as("s"),
        lit(-id).as("n"))
    }
    e.select(col("vec_id"), col("embedding"),
      negate(greatest(cand: _*).getField("n")).as("cent_id"))
  }

  /** Trained Lloyd centroids: seed from [[headVecs]] (the cached
    * per-(session, dir) head read — filter pushed to the parquet scan on
    * the one cold load), then `rounds` iterations of assign → k·dim
    * scaled-integer mean aggregate collected as driver state
    * (CAST(c AS FLOAT) ≡ Double.toFloat, IEEE round-to-nearest on both
    * engines — every round is bit-reproducible on any partitioning).
    * `rounds` defaults to 1 — the unrolled twin's depth, bit-identical
    * (r10 turned "more rounds = a loop over the same two steps" from a
    * claim into code; only tests run more). Each round is
    * one corpus pass + one ≤k·dim-row collect — the standard scalable
    * Lloyd shape at any corpus size. An empty cell drops out of the
    * aggregate and the codebook shrinks, same as the single-round
    * behavior. */
  private[graft] def kmeansCentroids(s: SparkSession, d: String,
                                     k: Int = 16,
                                     rounds: Int = 1): Array[(Long, Array[Float])] = {
    require(rounds >= 1, s"kmeans rounds must be >= 1, got $rounds")
    val e = Tables.embeddings(s, d).select("vec_id", "embedding")
    def update(cents: Array[(Long, Array[Float])]): Array[(Long, Array[Float])] =
      kmeansAssign(e, cents)
        .select(col("cent_id"), posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy("cent_id", "pos")
        .agg((sum(expr("CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)"))
          .cast("double") / (count(lit(1)) * 1000000.0)).as("c"))
        .collect()
        .map(r => (r.getAs[Long]("cent_id"), r.getAs[Int]("pos"),
          r.getAs[Double]("c")))
        .groupBy(_._1).toArray
        .map { case (cid, rows) =>
          (cid, rows.sortBy(_._2).map(_._3.toFloat)) }
        .sortBy(_._1)
    (1 to rounds).foldLeft(headVecs(s, d, k)) { (cents, _) => update(cents) }
  }

  /** Trained coarse centroids memoized per (session, dir) for SEARCH
    * consumers (q_ann_ivfpq) — the same standing-index contract as
    * [[pqCodebooksCached]]; q_ivf_kmeans, the training operator, does
    * not read this memo. */
  private val kmeansCache = new GraftSession.Memo[String, Array[(Long, Array[Float])]]
  private[graft] def kmeansCentroidsCached(s: SparkSession, d: String): Array[(Long, Array[Float])] =
    kmeansCache(s, d)(kmeansCentroids(s, d))

  /** Trained codebooks memoized per (session, sf dir) for the SEARCH query
    * only — a production PQ index trains its codebooks once and serves
    * every query from them (the exact argument that memoizes [[headVecs]];
    * q_ann_pq paying the training passes per execution is a fixture
    * artifact). q_pq_codes — the TRAINING operator — deliberately does
    * NOT read this memo: its benched cost must include the train. */
  private val pqBooksCache = new GraftSession.Memo[String, Array[Array[(Long, Array[Float])]]]
  private[graft] def pqCodebooksCached(s: SparkSession, d: String): Array[Array[(Long, Array[Float])]] =
    pqBooksCache(s, d)(pqCodebooks(s, d))

  /** Residual sub-codebooks memoized for the SEARCH side (r12 —
    * q_ann_ivfpq_residual serves from the standing two-stage index;
    * q_pq_residual, the TRAINING operator, deliberately does not read
    * this memo: its benched cost must include the train). */
  private val pqResBooksCache = new GraftSession.Memo[String, Array[Array[(Long, Array[Float])]]]
  private[graft] def pqResidualBooksCached(s: SparkSession, d: String): Array[Array[(Long, Array[Float])]] =
    pqResBooksCache(s, d)(pqCodebooksResidual(s, d))

  /** q_ann_ivf's pipeline (factored r18 so q_ann_recall grades the
    * REGISTERED serving path — see that entry). */
  private[ops] def annIvf(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
      // The coarse quantizer AND the probe selection are DRIVER state —
      // k·dim floats and nq·k scores (KBs even at k=2^16), exactly how
      // every IVF system holds them: probe selection happens client-side
      // before the index is touched. The 16-row seed is cached per
      // (session, dir) — loaded once per index, like every IVF deployment —
      // so execution is ONE distributed job. All driver arithmetic
      // replicates FloatVectorDot's op sequence (dotLocal), so cells,
      // probes, and scores stay bit-identical to the all-Spark form and
      // the DuckDB oracle.
      val head = headVecs(s, d, 16)
      val nprobe = ivfNprobe(16)
      val cents = head.map { case (id, ce) =>
        (id, ce, math.sqrt(dotLocal(ce, ce))) }
      // queries → nprobe probe cells (csim DESC, cent_id ASC), in the driver
      val probeRows = head.filter(_._1 < 5).flatMap { case (qid, qe) =>
        val nq = math.sqrt(dotLocal(qe, qe))
        cents.map { case (cid, ce, nc) =>
          (qid, qe, nq, cid, dotLocal(qe, ce) / (nq * nc)) }
          .sortBy { case (_, _, _, cid, csim) => (-csim, cid) }
          .take(nprobe)
      }
      val probes = s.createDataset(probeRows.toSeq
        .map { case (qid, qe, nq, cid, _) => (qid, qe, nq, cid) })
        .toDF("q_id", "qe", "nq", "cell")
      // corpus → nearest cell: the shared per-row argmax (see ivfAssigned)
      val assigned = ivfAssigned(s, d)
        .select(col("vec_id").as("neighbor_id"), col("emb"),
          col("nv").as("nn"), col("cell"))
      // search only the probed cells; exact top-3 per query. The top-k is
      // the bounded topk_by heap (map-side partials, k rows per group per
      // partition over the shuffle) — the r8 replacement for the last
      // WindowExec in the similarity family, which sorted every scored
      // candidate into one reducer per query (at a probed fraction of a
      // 100 TB corpus, that sort IS the job). The candidate's cell rides
      // the heap packed into the id lane (id·16 + cell — cells < 16 by
      // construction, so the packing is lossless and order-preserving:
      // equal-score ties still break by neighbor_id because cell is a
      // function of the neighbor), the q_knn_classify label trick.
      assigned
        .join(broadcast(probes), Seq("cell"))
        .filter(col("neighbor_id") =!= col("q_id"))
        .select(col("q_id"),
          (expr("vector_dot(emb, qe)") / (col("nn") * col("nq"))).as("score"),
          (col("neighbor_id") * 16L + col("cell")).as("packed"))
        .groupBy("q_id")
        .agg(expr("topk_by(score, packed, 3)").as("top"))
        .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "t")))
        .select(col("q_id"),
          expr("t.id div 16").as("neighbor_id"),
          pmod(col("t.id"), lit(16L)).as("cell"),
          (col("pos") + 1).as("rnk"),
          col("t.score").as("score"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Brute-force cosine top-10 for 5 broadcast query vectors. Top-k is the
    // bounded [[graft.functions.TopKByScore]] aggregate, NOT a window: the
    // r5 Window.partitionBy(q_id) form shuffled ALL corpus×nq scored rows
    // into nq reducers and sorted each full slice — at 100 TB that is an
    // nq-task sort of the whole corpus (VERDICT r5 #2). The aggregate keeps
    // a size-10 heap per query on the map side, so only 10 entries per
    // (query, partition) cross the shuffle and nothing sorts the stream.
    // Selection by the exact (score DESC, id ASC) total order is
    // merge-order-independent ⇒ bit-identical to the window form.
    "q_cosine_topk" -> ((s, d) => {
      cosineScored(s, d)
        .groupBy("q_id")
        .agg(expr("topk_by(score, neighbor_id, 10)").as("top"))
        .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "t")))
        .select(col("q_id"), col("t.id").as("neighbor_id"),
          (col("pos") + 1).as("rnk"), col("t.score").as("score"))
    }),

    // Contrastive hard-negative mining (r13) — per query, the top-5
    // HIGHEST-scoring candidates BELOW the positive threshold (0.25, the
    // same cut q_embed_neardup/q_semdedup treat as "same content"): the
    // boundary region a contrastive trainer wants as negatives — similar
    // enough to be hard, dissimilar enough to be safely non-positive.
    // Plan: the q_cosine_topk scoring pass (broadcast queries, one
    // corpus scan), a threshold filter, the bounded topk_by heap. The
    // score crosses a one-element explode(array(...)) Generate before
    // the filter so it becomes an ATTRIBUTE — a plain filter-on-alias
    // would be pushed through the projection by SUBSTITUTING the dot
    // expression, evaluating the 64-float dot twice per row (the
    // alias-substitution trap, third confirmation r12; measured 2× on
    // shingle_sig in r9).
    "q_hard_negatives" -> ((s, d) => {
      cosineScored(s, d)
        .select(col("q_id"), col("neighbor_id"),
          explode(array(col("score"))).as("score"))
        .filter(col("score") < 0.25)
        .groupBy("q_id")
        .agg(expr("topk_by(score, neighbor_id, 5)").as("top"))
        .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "t")))
        .select(col("q_id"), col("t.id").as("neighbor_id"),
          (col("pos") + 1).as("rnk"), col("t.score").as("score"))
    }),

    // Per-vector L2 norm + dimension — the cheap full-corpus feature pass.
    "q_vector_norms" -> ((s, d) => {
      Tables.embeddings(s, d).select(
        col("vec_id"), col("label"),
        sqrt(dotCol("embedding", "embedding")).as("l2_norm"),
        size(col("embedding")).as("dim"))
    }),

    // Embedding-cosine near-dup: candidate pairs come from the LSH band
    // BLOCKING key (the same 8-hyperplane signature q_ann_lsh buckets on),
    // then exact cosine keeps pairs above a threshold (0.25 — the synthetic
    // corpus is random vectors, so a real-dup threshold like 0.99 would be
    // vacuously empty; the arithmetic is what the oracle verifies). Earlier
    // rounds blocked on `label` (10 distinct values → per-block pairing is
    // quadratic in corpus/10, a scale-killer flagged by VERDICT r2); the
    // signature key keeps block sizes bounded BY DESIGN — more corpus means
    // more buckets at the same density, and near-dups land in the same
    // bucket because that is what the hyperplane family preserves.
    // Output: the duplicate edge list (keep-lowest-id, id_a < id_b).
    "q_embed_neardup" -> ((s, d) => {
      assertOracleDim(s, d)
      // norm once per ROW before the pair join — per pair only the cross
      // dot remains (the norm recompute would otherwise scale with pair
      // count, which is quadratic per block)
      // group-and-expand, not a bucket self-join (the lshPairsOf lesson):
      // a self-join evaluates the hplane_sig + norm pipeline once per join
      // SIDE and shuffles the corpus twice; grouping evaluates it exactly
      // once, shuffles once, and expands i<j pairs inside each bucket —
      // bucket sizes are bounded by the hyperplane family's density, so
      // the in-bucket expansion is per-group work. sort_array orders
      // members by vec_id (first struct field), which IS the id_a < id_b
      // rule. The cosine formula (dot / (na·nb)) is unchanged to the op.
      // NO ScaleOps.spread (PERF.md "r12 q_embed_neardup diet"): the bucket
      // exchange right below already distributes the quadratic expansion
      // work, and the pre-exchange per-row work (one 8-plane signature +
      // one norm) is trivial — the probe measured the projection at the
      // bare-scan floor. At 100 TB the scan arrives wide and spread is a
      // no-op; at fixture scale it was one extra full-corpus round-robin
      // exchange costing 0.27 s (full 0.472 → nospread 0.205 min, ≈1.0×
      // the DuckDB twin).
      Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"),
          expr(s"hplane_sig(embedding, $NPlanes)").as("bucket"),
          sqrt(expr("vector_dot(embedding, embedding)")).as("n"))
        .groupBy("bucket")
        .agg(sort_array(collect_list(
          struct(col("vec_id"), col("embedding"), col("n")))).as("ms"))
        .select(col("bucket"), explode(expr(
          "flatten(transform(ms, (a, __i) ->" +
            " filter(transform(slice(ms, __i + 2, size(ms) - __i - 1)," +
            " b -> named_struct('id_a', a.vec_id, 'id_b', b.vec_id," +
            " 'cos', vector_dot(a.embedding, b.embedding) / (a.n * b.n)))," +
            " p -> p.cos >= 0.25)))")).as("p"))
        .select(col("bucket"), col("p.id_a"), col("p.id_b"), col("p.cos"))
    }),

    // SemDeDup-style semantic dedup (Abbas et al. 2023, public preprint):
    // cluster the corpus by embedding (here the IVF cell assignment — the
    // same per-row argmax q_ann_ivf scans with), then WITHIN each cell drop
    // every vector that has a higher-similarity twin with a smaller id.
    // Differs from q_embed_neardup in blocking key (semantic cells vs
    // hyperplane buckets) and in output (the DROP decisions a curation run
    // executes, not the raw edge list). Scale shape: assignment is per-row
    // work inside the scan; the within-cell self-join is the published
    // algorithm's shape, with per-cell cost bounded BY DESIGN — production
    // SemDeDup picks k proportional to corpus size so cells hold ~10³
    // vectors regardless of scale (k is 16 here only because the fixture
    // oracle interpolates 16 seed centroids).
    // r18 (guide §2.4 + §4, the lshPairsOf/q_embed_neardup lesson applied
    // here too): the r13 cell SELF-JOIN evaluated the 16-centroid argmax
    // assignment once per join SIDE (2× seventeen vector_dots per corpus
    // row, visible as two full Project subtrees in the before-plan), and
    // its cos threshold was pushed into the join condition while the
    // projection recomputed the identical dot — 2× the per-pair work,
    // which is the quadratic part. Group-and-expand runs the assignment
    // exactly once, exchanges the corpus once (on cell), and the in-cell
    // i<j lambda computes each pair's cos ONCE, filtering inside the
    // expansion. Per-cell members are bounded by design (production
    // SemDeDup sizes k so cells hold ~10³ vectors — the collect_list
    // buffer is that bound, the q_embed_neardup argument verbatim).
    // sort_array orders members by vec_id (first struct field) = the
    // id_a < id_b rule; cos operand order (a=smaller id) is unchanged.
    "q_semdedup" -> ((s, d) => semdedupFromAssigned(ivfAssigned(s, d))),

    // kNN weak labeling: classify the query vectors by majority label of
    // their exact top-10 cosine neighbors — the annotation bootstrap a
    // training pipeline runs to extend a small labeled seed set over an
    // unlabeled corpus. Reuses the q_cosine_topk machinery (broadcast
    // queries, bounded topk_by heaps — nothing sorts the scored stream).
    // The neighbor's label (already on the corpus row — cosineScored
    // carries it) rides THROUGH the top-k heap packed into the id lane
    // (id·1024 + label — fixture labels are small non-negative ints,
    // vec_ids far below 2^53, so the packing is lossless and
    // order-preserving: equal-score ties still break by neighbor_id
    // because label is a function of the neighbor) — ONE aggregation over
    // the scored stream, no second corpus scan, no label join. The vote
    // argmax is max(struct(votes, -label)) — pure integers, deterministic
    // ties (most votes, then smallest label) on any engine/partitioning.
    "q_knn_classify" -> ((s, d) => {
      cosineScored(s, d) // (q_id, neighbor_id, label, score)
        .groupBy("q_id")
        .agg(expr("topk_by(score, neighbor_id * 1024L + label, 10)").as("top"))
        .select(col("q_id"), explode(col("top.id")).as("packed"))
        .select(col("q_id"), pmod(col("packed"), lit(1024)).as("label"))
        .groupBy("q_id", "label")
        .agg(count(lit(1)).as("votes"))
        .groupBy("q_id")
        .agg(max(struct(col("votes"), negate(col("label")).as("nl"))).as("best"))
        .select(col("q_id"), negate(col("best.nl")).cast("int").as("pred_label"),
          col("best.votes").as("votes"))
    }),

    // IVF-style ANN: a deterministic coarse quantizer (the first 16 vectors
    // act as centroids — production would k-means; the plan shape is
    // identical) assigns every vector to its nearest cell; each query
    // probes its ivfNprobe(cells) nearest cells (nprobe=2 at the 16-cell
    // default — recall-vs-cells policy in ivfNprobe's scaladoc) and
    // re-ranks exactly ONLY within them. At 100 TB the cell assignment is
    // pure per-row work inside the scan and the search is an equi-join on
    // cell id — the inverted-file alternative to q_ann_lsh's hyperplane
    // buckets.
    "q_ann_ivf" -> ((s, d) => annIvf(s, d)),

    // IVF recall, graded by the exact scan (r18, VERDICT r17 #5) — the
    // q_lsh_recall pattern applied to the serving tier: ground truth =
    // exact cosine top-3 per query via the bounded topk_by heap (the
    // q_cosine_topk machinery at the SAME k and the same (score DESC,
    // id ASC) total order), candidates = the registered q_ann_ivf
    // pipeline's probed top-3, output = one (n_true, n_caught, recall)
    // row. Both inputs are the REGISTERED pipelines, so the recall
    // quoted is the recall shipped, and the number itself is hash-gated
    // cross-engine (the twin recomputes truth and IVF from the same
    // CTE chains; scores are bit-identical — q_cosine_topk and
    // q_ann_ivf are both hash-green, so top-3 membership is too).
    // Empty truth reads NULL, the q_lsh_recall NULLIF discipline.
    "q_ann_recall" -> ((s, d) => {
      val truth = cosineScored(s, d)
        .groupBy("q_id")
        .agg(expr("topk_by(score, neighbor_id, 3)").as("top"))
        .select(col("q_id"), explode(col("top.id")).as("neighbor_id"))
      val cand = annIvf(s, d)
        .select(col("q_id"), col("neighbor_id"), lit(1).as("hit"))
      truth.join(cand, Seq("q_id", "neighbor_id"), "left_outer")
        .agg(count(lit(1)).as("n_true"), count(col("hit")).as("n_caught"))
        .select(col("n_true"), col("n_caught"),
          when(col("n_true") === 0, lit(null).cast("double"))
            .otherwise(col("n_caught").cast("double") /
              col("n_true").cast("double"))
            .as("recall"))
    }),

    // Symmetric int8 quantization of the embedding column — the storage
    // path for vectors at 100 TB (4× smaller than float32, dot products
    // stay integer until the final rescale). Per-row arithmetic only:
    // scale = max|x|/127 (max is order-independent — no cross-element FP
    // accumulation anywhere), q_i = clamp(round(x_i/scale)). round() is
    // half-away-from-zero on BOTH engines, and the div/round sequence is
    // the same IEEE ops, so the quantized bytes hash-match exactly.
    "q_embed_quantize" -> ((s, d) =>
      ScaleOps.spread(Tables.embeddings(s, d))
        .select(col("vec_id"), col("embedding"),
          expr("array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))")
            .as("amax"))
        .select(col("vec_id"), (col("amax") / 127.0).as("scale"),
          expr("""transform(embedding, x ->
                    IF(amax = 0, 0,
                       LEAST(127, GREATEST(-127,
                         CAST(round(CAST(x AS DOUBLE) / (amax / 127.0)) AS INT)))))""")
            .as("q"))
        .select(col("vec_id"), col("scale"),
          to_json(col("q")).as("qvec"),
          expr("size(filter(q, v -> abs(v) = 127))").as("n_sat"))),

    // Binary (1-bit sign) embedding codes + Hamming top-k — the cheapest
    // retrieval tier below int8 (q_embed_quantize) and PQ (q_ann_pq): 64
    // float dims pack to 8 BYTES of code, distance = popcount(xor) — pure
    // integer end to end, so the twin hash-matches with no float
    // discipline needed. Codes are packed as TWO 32-bit halves carried in
    // BIGINTs: a single 64-bit pack would need bit 63, and 2^63 overflows
    // signed BIGINT on the oracle side (DuckDB checks overflow; Spark
    // wraps) — halves keep both engines in safe exact range. Scale shape:
    // the corpus-wide pass touches only the 8 B/row codes (vs 256 B of
    // floats); the nq query codes broadcast; the score is codegen'd
    // xor+bit_count; topk_by's bounded heap crosses the shuffle with k
    // rows per query per partition. Hamming ties are dense (range 0..64)
    // — determinism comes from topk_by's (score DESC, id ASC) total order
    // with score = -distance, mirrored by the twin's ORDER BY hd,
    // neighbor_id.
    "q_ann_hamming" -> ((s, d) => {
      def half(lo: Int): Column = expr(
        s"aggregate(sequence($lo, ${lo + 31}), 0L, " +
          s"(acc, i) -> acc + IF(embedding[i] > 0, shiftleft(1L, i - $lo), 0L))")
      val codes = ScaleOps.spread(Tables.embeddings(s, d))
        .select(col("vec_id"), half(0).as("lo"), half(32).as("hi"))
      val q = codes.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("lo").as("qlo"),
          col("hi").as("qhi"))
      codes.join(broadcast(q), col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("nid"),
          expr("bit_count(lo ^ qlo) + bit_count(hi ^ qhi)").as("hd"))
        .groupBy("q_id")
        .agg(expr("topk_by(-CAST(hd AS DOUBLE), nid, 10)").as("top"))
        .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "t")))
        .select(col("q_id"), col("t.id").as("neighbor_id"),
          (col("pos") + 1).as("rnk"),
          (-col("t.score")).cast("long").as("hd"))
    }),

    // Pairwise source similarity over domain centroids — the "how close
    // are two sources" input to mixing decisions (q_mix_weights picks HOW
    // MUCH of each source; this measures which sources are redundant).
    // Exactness discipline: embeddings quantize per-row to integers
    // (round(x*1024), identical IEEE multiply+round on both engines), the
    // per-(source, dim) centroid accumulation is then an INTEGER sum —
    // exact and order-free on any partitioning, where a float sum would
    // hash-diverge — and cosine is computed directly on the sum vectors
    // (scale-invariant: mean = sum/n differs by a positive scalar), so the
    // only double math is three correctly-rounded ops at the very end.
    // Scale shape: one equi-join embeddings⋈documents (linear, shuffled on
    // id), one (source, dim) agg with map-side combine down to
    // #sources×dim rows; everything after — the pairwise self-join over
    // #sources² ×dim rows — is negligible because #sources is small by
    // definition. At larger quantization scales the int64 dot headroom
    // (|sum| ≤ docs_per_source × 1024 here) is the documented limit.
    "q_source_sim" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val docs = Tables.documents(s, d).select(col("doc_id"), col("source"))
      val sums = e.join(docs, e("vec_id") === docs("doc_id"))
        .select(col("source"), posexplode(col("embedding")).as(Seq("pos", "x")))
        .select(col("source"), col("pos"),
          round(col("x").cast("double") * 1024).cast("long").as("q"))
        .groupBy("source", "pos").agg(sum("q").as("sv"))
        // r19 (guide §2.4): the a/b sides of the pairwise self-join each
        // owned a full copy of the corpus subtree (join + explode + agg),
        // deduped only by runtime ReusedExchange. One bounded checkpoint
        // (#sources × dim rows) makes the single corpus pass STRUCTURAL —
        // one scan in the plan, robust to planner changes that would
        // break canonical-subtree equality.
        .localCheckpoint(true)
      val a = sums.select(col("source").as("src_a"), col("pos"),
        col("sv").as("va"))
      val b = sums.select(col("source").as("src_b"), col("pos"),
        col("sv").as("vb"))
      a.join(b, Seq("pos")).filter(col("src_a") < col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(sum(col("va") * col("vb")).as("dot"),
          sum(col("va") * col("va")).as("na2"),
          sum(col("vb") * col("vb")).as("nb2"))
        .select(col("src_a"), col("src_b"),
          (col("dot").cast("double") /
            (sqrt(col("na2").cast("double")) *
              sqrt(col("nb2").cast("double")))).as("cos_sim"))
    }),

    // Distributed k-means training for the IVF quantizer — the production
    // answer to q_ann_ivf's "first 16 vectors as centroids" seed. One Lloyd
    // round (assign → recompute means → reassign), with centroids held as
    // DRIVER state between steps (k·dim floats — exactly how production
    // Lloyd iterates): assignment is a PER-ROW argmax over centroid
    // literals (the squared-distance argmin reduces to argmax of
    // dot - |c|²/2, so each centroid costs ONE codegen'd vector_dot — no
    // shuffle, no sort; the previous broadcast-join + Window form fanned
    // the corpus ×k through a full shuffle); the mean is computed in
    // SCALED-INTEGER space (floor(x·1e6) summed as BIGINT, divided once)
    // because a cross-row float sum's value depends on partition order —
    // integer sums are associative, so the centroid is bit-reproducible on
    // any cluster layout AND in the DuckDB twin. New centroids round to
    // FLOAT on both engines before round 2. At 100 TB: per round = one
    // narrow (cell, pos) aggregate + one k-row collect — the standard
    // scalable Lloyd shape; more rounds = a loop over the same two steps.
    "q_ivf_kmeans" -> ((s, d) => {
      kmeansAssign(Tables.embeddings(s, d).select("vec_id", "embedding"),
        kmeansCentroids(s, d))
        .select(col("vec_id"), col("cent_id").as("cell"))
    }),

    // ANN via 8-bit random-hyperplane LSH: signatures come from the native
    // codegen'd [[graft.functions.HyperplaneSig]] expression (md5-parity
    // sign family — deterministic, so the DuckDB oracle reproduces the
    // exact buckets from the interpolated sign matrix). Bucket join, exact
    // re-rank, top-3 per query within its bucket. The interpreted
    // aggregate/zip_with HOF pipeline this replaced was the suite's last
    // CodegenFallback hot path.
    "q_ann_lsh" -> ((s, d) => {
      assertOracleDim(s, d)
      val bucketed = ScaleOps.spread(Tables.embeddings(s, d))
        .select(col("vec_id"), col("embedding"),
          expr(s"hplane_sig(embedding, $NPlanes)").as("bucket"),
          sqrt(dotCol("embedding", "embedding")).as("n"))
      val q = bucketed.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("qe"),
          col("bucket"), col("n").as("nq"))
      val cand = bucketed
        .select(col("vec_id").as("neighbor_id"), col("embedding").as("emb"),
          col("bucket"), col("n").as("nn"))
        .join(broadcast(q), Seq("bucket"))
        .filter(col("neighbor_id") =!= col("q_id"))
      // top-3 via the bounded topk_by aggregate (as q_cosine_topk, r6):
      // the bucket rides in the grouping key — it is the equi-join key, so
      // it is constant per query — and the bucket-bounded window sort
      // becomes map-side heaps
      cand
        .select(col("q_id"), col("neighbor_id"), col("bucket"),
          (dotCol("emb", "qe") / (col("nn") * col("nq"))).as("score"))
        .groupBy("q_id", "bucket")
        .agg(expr("topk_by(score, neighbor_id, 3)").as("top"))
        .select(col("q_id"), col("bucket"),
          posexplode(col("top")).as(Seq("pos", "t")))
        .select(col("q_id"), col("t.id").as("neighbor_id"), col("bucket"),
          (col("pos") + 1).as("rnk"), col("t.score").as("score"))
    }),

    // Product quantization (Jégou et al. 2011, public paper) — the
    // billion-scale ANN compression the IVF/LSH/int8 family was missing:
    // split each vector into M subspaces, k-means each subspace
    // independently (the SAME deterministic scaled-integer Lloyd
    // discipline as q_ivf_kmeans, all M subspaces trained in ONE
    // assignment pass + ONE 512-row mean aggregate, codebooks as M·K·sub
    // driver floats), and store each vector as M small integer codes —
    // 64 floats compress to 4 codes here. Codes are INTEGER, so the
    // DuckDB twin hash-matches the full train+assign pipeline end to end.
    // Scale shape: assignment is per-row expression work over codebook
    // literals (zero shuffle); training's only exchange is the narrow
    // (m, cell, subpos) mean aggregate.
    "q_pq_codes" -> ((s, d) => {
      assertOracleDim(s, d)
      pqAssign(Tables.embeddings(s, d).select("vec_id", "embedding"),
        pqCodebooks(s, d))
        .drop("embedding")
    }),

    // ANN search over PQ codes via asymmetric distance computation (ADC):
    // each query's M×K lookup table (dot of query sub-vector with every
    // sub-centroid) is computed ONCE on the driver and rides as literal
    // arrays; every corpus vector scores with M table lookups on its
    // CODES — the raw embedding column is never read on the corpus side
    // past the one-time code assignment, which is the entire point of PQ
    // at 100 TB: the search-time scan is M bytes per vector, not 4·dim.
    // The q_bm25_multi stack shape fans each code row to its 5 query
    // scores with no query-dimension join; per-query top-3 via bounded
    // heaps. Scores are fixed-order float sums (sub-dots on the driver in
    // ascending index order, the M summands left-associated) so the twin
    // hash-matches — same precedent as q_ivf_kmeans's float discipline.
    "q_ann_pq" -> ((s, d) => {
      assertOracleDim(s, d)
      val books = pqCodebooksCached(s, d)
      val queries = headVecs(s, d, 5)
      val codes = pqAssign(Tables.embeddings(s, d).select("vec_id", "embedding"), books).drop("embedding")
      // fan-out-first + post-Generate CASE score (r12, PERF.md "r12 surface growth":
      // 0.715 → 0.350 s min — see [[adcFanoutFirst]]); ADC table_m keyed
      // by cent_id (see adcScoreExpr)
      adcFanoutFirst(codes, queries,
        gate = qid => col("vec_id") =!= lit(qid),
        scoreOf = qv => adcScoreExpr(books, qv), k = 3)
        .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "t")))
        .select(col("q_id"), col("t.id").as("neighbor_id"),
          (col("pos") + 1).as("rnk"), col("t.score").as("score"))
    }),

    // PQ shortlist + exact re-rank — the production serving policy (Jégou
    // et al. 2011 §V): ADC ranks the WHOLE corpus from its M-byte codes
    // (same scan shape as q_ann_pq), a bounded heap keeps the top-R=100
    // candidates per query, and ONLY those nq·R rows pay an exact
    // full-precision dot before the final top-3. Measured on the fixture
    // this lifts recall@3 from 0.031 to 0.301 (PERF.md r10) — the 10×
    // quality lever at ~zero extra scan cost. At 100 TB the shape is the
    // point: the corpus-wide stage reads codes only; the shortlist
    // (nq·R ids) broadcasts back against the raw-vector scan as a
    // broadcast hash join, so full vectors are fetched for a bounded,
    // corpus-size-independent row count. Exact scores go through the same
    // float-multiply/double-accumulate vector_dot as q_cosine_topk, so
    // the twin hash-matches on values.
    "q_ann_pq_rerank" -> ((s, d) => {
      assertOracleDim(s, d)
      val books = pqCodebooksCached(s, d)
      val queries = headVecs(s, d, 5)
      val e = Tables.embeddings(s, d).select("vec_id", "embedding")
      val codes = pqAssign(e, books).drop("embedding")
      // stage 1: ADC over codes, exactly q_ann_pq's fan-out-first shape
      // (r12, [[adcFanoutFirst]]), but the heap keeps the R-wide
      // shortlist instead of the final k
      val shortlist = adcFanoutFirst(codes, queries,
          gate = qid => col("vec_id") =!= lit(qid),
          scoreOf = qv => adcScoreExpr(books, qv), k = RerankShortlist)
        .select(col("q_id"), explode(col("top.id")).as("neighbor_id"))
      // stage 2: exact re-rank of the shortlist only — the raw-vector scan
      // keeps just broadcast-matched rows, then per-query exact dots and
      // the final bounded top-3 heap
      e.join(broadcast(shortlist), e("vec_id") === shortlist("neighbor_id"))
        .select(col("q_id"), col("neighbor_id"),
          coalesce(queries.map { case (qid, qv) =>
            when(col("q_id") === lit(qid),
              call_function("vector_dot", col("embedding"),
                typedLit(qv.toSeq)))
          }: _*).as("score"))
        .groupBy("q_id")
        .agg(expr("topk_by(score, neighbor_id, 3)").as("top"))
        .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "t")))
        .select(col("q_id"), col("t.id").as("neighbor_id"),
          (col("pos") + 1).as("rnk"), col("t.score").as("score"))
    }),

    // Residual PQ train+assign — the paper's §IV-A arrangement registered
    // as a first-class training operator (spec-proven strictly better
    // reconstruction; measured 1.5× relative recall at the same bits,
    // PERF.md r10): each vector quantizes its RESIDUAL against its coarse
    // cell centroid, so the sub-codebooks spend their bits on within-cell
    // structure instead of re-describing cell means. The coarse quantizer
    // loads from the standing-index cache (a residual-PQ train consumes an
    // already-trained coarse stage — the paper's ordering); the PQ stage
    // itself trains per execution like q_pq_codes, so its benched cost
    // includes the train. Output: (vec_id, coarse cent_id, code0..3) —
    // the full two-stage code a serving index stores per vector.
    "q_pq_residual" -> ((s, d) => {
      assertOracleDim(s, d)
      val cents = kmeansCentroidsCached(s, d)
      val resBooks = pqCodebooksResidual(s, d)
      pqAssign(
        pqResiduals(Tables.embeddings(s, d).select("vec_id", "embedding"),
          cents),
        resBooks, vecCol = "residual")
        .select("vec_id", "cent_id", "code0", "code1", "code2", "code3")
    }),

    // IVF-PQ composed search — the production billion-scale ANN
    // architecture (Jégou et al. 2011 §IV): the trained coarse quantizer
    // prunes the corpus to each query's nprobe=2 nearest cells, and ONLY
    // those candidates score via PQ ADC lookups. Both standing-index
    // pieces load from their caches (coarse centroids + codebooks — a
    // search never retrains); probe lists are driver-computed (k cells ×
    // 5 queries of double math, matching the twin's arithmetic exactly).
    // The corpus side is ONE scan emitting (cell, codes) per row, a
    // pre-filter on the probed-cell union, then the per-query fan-out and
    // bounded top-3 heaps — at 100 TB the scan reads M-byte codes + one
    // small cell id per vector and the cell filter prunes (k−nprobe)/k of
    // the corpus before any per-query work, which is the entire point of
    // the composition. PQ is on RAW vectors, not residuals — stated
    // delta from the paper's §IV-A; residual PQ is a literal change to
    // the training input. Delta vs q_ann_ivf, stated: cells come from the
    // TRAINED quantizer (one Lloyd round) under the squared-distance
    // reduction, not cosine over raw seeds.
    "q_ann_ivfpq" -> ((s, d) => {
      assertOracleDim(s, d)
      val cents = kmeansCentroidsCached(s, d)
      val books = pqCodebooksCached(s, d)
      val queries = headVecs(s, d, 5)
      val probes: Map[Long, Seq[Long]] = queries.map { case (qid, qv) =>
        qid -> cents.map { case (cid, ce) =>
          (dotD(qv, ce) - dotD(ce, ce) / 2, cid)
        }.sortBy { case (score, cid) => (-score, cid) }.take(2).map(_._2).toSeq
      }.toMap
      val allProbed = probes.values.flatten.toSeq.distinct
      // cell-prune BEFORE code computation: rows outside every probe list
      // never pay the M·K sub-dot assignment (the order a real index
      // enforces physically by storing codes per inverted list); then the
      // r12 fan-out-first shape ([[adcFanoutFirst]]) — query ids behind
      // cheap cent_id/vec_id gates in the array, the ADC CASE score after
      // the Generate where the codes are pass-through attributes
      adcFanoutFirst(
        pqAssign(kmeansAssign(
            Tables.embeddings(s, d).select("vec_id", "embedding"), cents)
          .filter(col("cent_id").isin(allProbed: _*)), books)
          .select("vec_id", "cent_id", "code0", "code1", "code2", "code3"),
        queries,
        gate = qid => col("cent_id").isin(probes(qid): _*) &&
          col("vec_id") =!= lit(qid),
        scoreOf = qv => adcScoreExpr(books, qv), k = 3)
        .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "t")))
        .select(col("q_id"), col("t.id").as("neighbor_id"),
          (col("pos") + 1).as("rnk"), col("t.score").as("score"))
    }),

    // Residual IVF-PQ serving (r12 — Jégou §IV-A AT SEARCH TIME,
    // completing the two-stage index's serving matrix: q_pq_residual
    // trains it, this query serves from it). score(q, n) =
    // dot(q, coarse(cell_n)) + Σ_m adc_m(res_code_m): the first term is
    // a per-(query, cell) DOUBLE from the trained coarse centroids — a
    // cent_id-keyed literal lookup, since nprobe cells per query make it
    // a bounded table — and the second is the standard ADC sum over the
    // RESIDUAL sub-codebooks with the RAW query sub-vectors (for the dot
    // metric the residual ADC table is cell-independent: dot(q, c + r) =
    // dot(q, c) + dot(q, r) exactly, so one table per query serves every
    // probed cell — the identity that makes residual serving cheap).
    // Both standing-index pieces load from caches (coarse centroids +
    // residual codebooks); candidates cell-prune BEFORE the residual
    // subtract and code assignment, the inverted-list order. Association
    // fixed as cdot + (((s0+s1)+s2)+s3) on both engines.
    "q_ann_ivfpq_residual" -> ((s, d) => {
      assertOracleDim(s, d)
      val cents = kmeansCentroidsCached(s, d)
      val resBooks = pqResidualBooksCached(s, d)
      val queries = headVecs(s, d, 5)
      val probes: Map[Long, Seq[Long]] = queries.map { case (qid, qv) =>
        qid -> cents.map { case (cid, ce) =>
          (dotD(qv, ce) - dotD(ce, ce) / 2, cid)
        }.sortBy { case (score, cid) => (-score, cid) }.take(2).map(_._2).toSeq
      }.toMap
      val allProbed = probes.values.flatten.toSeq.distinct
      // per-query cent_id-keyed dot(q, coarse centroid) table (NaN holes
      // unreachable — cent_id always comes from kmeansAssign over cents)
      def cellDot(qv: Array[Float]): Column = {
        val table = Array.fill(cents.map(_._1).max.toInt + 1)(Double.NaN)
        cents.foreach { case (cid, ce) => table(cid.toInt) = dotD(qv, ce) }
        element_at(typedLit(table.toSeq), (col("cent_id") + 1).cast("int"))
      }
      // FAN OUT FIRST, SCORE AFTER the Generate (r12, PERF.md "r12 surface growth"
      // — the lesson now shared as [[adcFanoutFirst]]): with score
      // structs inside the array build, the optimizer re-inlined the
      // ENTIRE residual code computation at every one of the 20
      // (query × subspace) code references — measured 1.87 s vs the
      // 0.50 s this shape runs.
      adcFanoutFirst(
        pqAssign(kmeansAssign(
            Tables.embeddings(s, d).select("vec_id", "embedding"), cents)
          .filter(col("cent_id").isin(allProbed: _*))
          .withColumn("residual", residualExpr(cents)),
          resBooks, vecCol = "residual")
          .select("vec_id", "cent_id", "code0", "code1", "code2", "code3"),
        queries,
        gate = qid => col("cent_id").isin(probes(qid): _*) &&
          col("vec_id") =!= lit(qid),
        scoreOf = qv => cellDot(qv) + adcScoreExpr(resBooks, qv), k = 3)
        .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "t")))
        .select(col("q_id"), col("t.id").as("neighbor_id"),
          (col("pos") + 1).as("rnk"), col("t.score").as("score"))
    })
  )

  /** The PQ train+assign chain (subv..a1), parameterized on the source
    * relation `src(vec_id, embedding)` so the SAME unrolled-Lloyd text
    * trains on raw vectors (`q_pq_codes`/`q_ann_pq`, src = e) or on
    * coarse-cell residuals (`q_pq_residual`, src = res) — one definition,
    * two quantized spaces, exactly mirroring how the Scala side passes
    * `vecCol` through [[pqAssign]]. */
  private def pqChain(src: String): String = {
    val sub = OracleDim / PqM
    s"""subv AS (SELECT vec_id, CAST(mm.range AS INT) AS m,
                          embedding[CAST(mm.range * $sub + 1 AS INT):
                                    CAST((mm.range + 1) * $sub AS INT)] AS v
                   FROM $src, range(0, $PqM) mm),
          c0 AS (SELECT m, vec_id AS cent_id,
                        list_transform(v, x -> CAST(x AS REAL)) AS ce
                 FROM subv WHERE vec_id < $PqK),
          p0 AS (SELECT s.vec_id, s.m, c.cent_id,
                        UNNEST(s.v) AS x, UNNEST(c.ce) AS y
                 FROM subv s JOIN c0 c USING (m)),
          s0 AS (SELECT vec_id, m, cent_id,
                        SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dot,
                        SUM(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) AS nc2
                 FROM p0 GROUP BY 1, 2, 3),
          a0 AS (SELECT vec_id, m, cent_id FROM (
                   SELECT vec_id, m, cent_id,
                          ROW_NUMBER() OVER (PARTITION BY vec_id, m
                            ORDER BY dot - nc2 / 2 DESC, cent_id) AS rnk
                   FROM s0) t WHERE rnk = 1),
          px AS (SELECT a.m, a.cent_id, CAST(t.i AS INT) AS subpos,
                        s.v[CAST(t.i + 1 AS INT)] AS x
                 FROM a0 a JOIN subv s ON s.vec_id = a.vec_id AND s.m = a.m,
                      UNNEST(range(len(s.v))) t(i)),
          mg AS (SELECT m, cent_id, subpos,
                        CAST(SUM(CAST(floor(CAST(x AS DOUBLE) * 1000000)
                                      AS BIGINT)) AS DOUBLE)
                          / (COUNT(*) * 1000000.0) AS c
                 FROM px GROUP BY 1, 2, 3),
          c1 AS (SELECT m, cent_id, list(CAST(c AS REAL) ORDER BY subpos) AS ce
                 FROM mg GROUP BY 1, 2),
          p1 AS (SELECT s.vec_id, s.m, c.cent_id,
                        UNNEST(s.v) AS x, UNNEST(c.ce) AS y
                 FROM subv s JOIN c1 c USING (m)),
          s1 AS (SELECT vec_id, m, cent_id,
                        SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dot,
                        SUM(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) AS nc2
                 FROM p1 GROUP BY 1, 2, 3),
          a1 AS (SELECT vec_id, m, cent_id FROM (
                   SELECT vec_id, m, cent_id,
                          ROW_NUMBER() OVER (PARTITION BY vec_id, m
                            ORDER BY dot - nc2 / 2 DESC, cent_id) AS rnk
                   FROM s1) t WHERE rnk = 1)"""
  }

  /** Raw-vector PQ chain: the corpus itself is the quantized space. */
  private def pqCtes: String =
    s"""e AS (SELECT vec_id, embedding FROM embeddings),
          ${pqChain("e")}"""

  /** The trained coarse quantizer chain (kc0..ka1, k-prefixed to coexist
    * with a PQ chain in the same WITH): head-seeded Lloyd round under the
    * squared-distance reduction, final per-vector cell in `ka1(vec_id,
    * cell)`, trained centroids in `kc1(cent_id, ce)`. Shared by the
    * q_ann_ivfpq twin (which adds its probe CTEs) and the q_pq_residual
    * twin (which subtracts kc1 centroids to form residuals). References
    * `e`. */
  private def coarseCtes: String =
    """kc0 AS (SELECT vec_id AS cent_id,
                         list_transform(embedding, x -> CAST(x AS REAL)) AS ce
                  FROM e WHERE vec_id < 16),
          kp0 AS (SELECT e.vec_id, c.cent_id,
                         UNNEST(e.embedding) AS x, UNNEST(c.ce) AS y
                  FROM e CROSS JOIN kc0 c),
          ks0 AS (SELECT vec_id, cent_id,
                         SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dot,
                         SUM(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) AS nc2
                  FROM kp0 GROUP BY 1, 2),
          ka0 AS (SELECT vec_id, cent_id FROM (
                    SELECT vec_id, cent_id,
                           ROW_NUMBER() OVER (PARTITION BY vec_id
                             ORDER BY dot - nc2 / 2 DESC, cent_id) AS rnk
                    FROM ks0) t WHERE rnk = 1),
          kpx AS (SELECT a.cent_id, CAST(t.i AS INT) AS pos,
                         e.embedding[CAST(t.i + 1 AS INT)] AS x
                  FROM ka0 a JOIN e USING (vec_id),
                       UNNEST(range(len(e.embedding))) t(i)),
          kmn AS (SELECT cent_id, pos,
                         CAST(SUM(CAST(floor(CAST(x AS DOUBLE) * 1000000)
                                       AS BIGINT)) AS DOUBLE)
                           / (COUNT(*) * 1000000.0) AS c
                  FROM kpx GROUP BY 1, 2),
          kc1 AS (SELECT cent_id, list(CAST(c AS REAL) ORDER BY pos) AS ce
                  FROM kmn GROUP BY cent_id),
          kp1 AS (SELECT e.vec_id, c.cent_id,
                         UNNEST(e.embedding) AS x, UNNEST(c.ce) AS y
                  FROM e CROSS JOIN kc1 c),
          ks1 AS (SELECT vec_id, cent_id,
                         SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dot,
                         SUM(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) AS nc2
                  FROM kp1 GROUP BY 1, 2),
          ka1 AS (SELECT vec_id, cent_id AS cell FROM (
                    SELECT vec_id, cent_id,
                           ROW_NUMBER() OVER (PARTITION BY vec_id
                             ORDER BY dot - nc2 / 2 DESC, cent_id) AS rnk
                    FROM ks1) t WHERE rnk = 1)"""

  val oracle: Map[String, String] = Map(
    "q_pq_codes" ->
      s"""WITH $pqCtes
          SELECT vec_id,
                 MAX(CASE WHEN m = 0 THEN cent_id END) AS code0,
                 MAX(CASE WHEN m = 1 THEN cent_id END) AS code1,
                 MAX(CASE WHEN m = 2 THEN cent_id END) AS code2,
                 MAX(CASE WHEN m = 3 THEN cent_id END) AS code3
          FROM a1 GROUP BY vec_id""",
    // the coarse chain (k-prefixed to coexist with the PQ chain) + probe
    // pruning + the SAME ADC scoring as q_ann_pq, restricted to probed
    // candidates — hash-exact end to end
    "q_ann_ivfpq" ->
      s"""WITH $pqCtes,
          $coarseCtes,
          kprobe AS (SELECT q_id, cell FROM (
                       SELECT vec_id AS q_id, cent_id AS cell,
                              ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY dot - nc2 / 2 DESC, cent_id) AS prnk
                       FROM ks1 WHERE vec_id < 5) p WHERE prnk <= 2),
          kcand AS (SELECT p.q_id, a.vec_id AS neighbor_id
                    FROM kprobe p JOIN ka1 a ON a.cell = p.cell
                    WHERE a.vec_id <> p.q_id),
          qs AS (SELECT vec_id AS q_id, m, v AS qv FROM subv WHERE vec_id < 5),
          qp AS (SELECT q.q_id, c.m, c.cent_id,
                        UNNEST(q.qv) AS x, UNNEST(c.ce) AS y
                 FROM qs q JOIN c1 c USING (m)),
          qd AS (SELECT q_id, m, cent_id,
                        SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS s
                 FROM qp GROUP BY 1, 2, 3),
          sc0 AS (SELECT qd.q_id, a.vec_id AS neighbor_id, a.m, qd.s
                  FROM a1 a
                  JOIN qd ON qd.m = a.m AND qd.cent_id = a.cent_id
                  JOIN kcand k ON k.q_id = qd.q_id AND k.neighbor_id = a.vec_id),
          sp AS (SELECT q_id, neighbor_id,
                        MAX(CASE WHEN m = 0 THEN s END) AS s0,
                        MAX(CASE WHEN m = 1 THEN s END) AS s1,
                        MAX(CASE WHEN m = 2 THEN s END) AS s2,
                        MAX(CASE WHEN m = 3 THEN s END) AS s3
                 FROM sc0 GROUP BY 1, 2),
          sc AS (SELECT q_id, neighbor_id,
                        ((s0 + s1) + s2) + s3 AS score
                 FROM sp),
          r AS (SELECT q_id, neighbor_id, score,
                       ROW_NUMBER() OVER (PARTITION BY q_id
                         ORDER BY score DESC, neighbor_id) AS rnk
                FROM sc)
          SELECT q_id, neighbor_id, rnk, score FROM r WHERE rnk <= 3""",
    // coarse chain → residuals → the SAME PQ chain text over `res` (so
    // c1/a1 are the RESIDUAL codebooks/codes) → probe pruning → ADC from
    // RAW query sub-vectors against the residual codebooks, plus the
    // per-(query, cell) coarse dot — association fixed as
    // cdot + (((s0+s1)+s2)+s3) to mirror the Spark expression tree
    "q_ann_ivfpq_residual" ->
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
          $coarseCtes,
          rs0 AS (SELECT a.vec_id, CAST(t.i AS INT) AS pos,
                         CAST(e.embedding[CAST(t.i + 1 AS INT)] AS REAL)
                           - c.ce[CAST(t.i + 1 AS INT)] AS x
                  FROM ka1 a JOIN e USING (vec_id)
                       JOIN kc1 c ON c.cent_id = a.cell,
                       UNNEST(range(len(e.embedding))) t(i)),
          res AS (SELECT vec_id, list(CAST(x AS REAL) ORDER BY pos) AS embedding
                  FROM rs0 GROUP BY vec_id),
          ${pqChain("res")},
          kprobe AS (SELECT q_id, cell FROM (
                       SELECT vec_id AS q_id, cent_id AS cell,
                              ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY dot - nc2 / 2 DESC, cent_id) AS prnk
                       FROM ks1 WHERE vec_id < 5) p WHERE prnk <= 2),
          kcand AS (SELECT p.q_id, a.vec_id AS neighbor_id, a.cell
                    FROM kprobe p JOIN ka1 a ON a.cell = p.cell
                    WHERE a.vec_id <> p.q_id),
          qsub AS (SELECT vec_id AS q_id, CAST(mm.range AS INT) AS m,
                          embedding[CAST(mm.range * ${OracleDim / PqM} + 1 AS INT):
                                    CAST((mm.range + 1) * ${OracleDim / PqM} AS INT)] AS qv
                   FROM e, range(0, $PqM) mm WHERE vec_id < 5),
          qp AS (SELECT q.q_id, c.m, c.cent_id,
                        UNNEST(q.qv) AS x, UNNEST(c.ce) AS y
                 FROM qsub q JOIN c1 c USING (m)),
          qd AS (SELECT q_id, m, cent_id,
                        SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS s
                 FROM qp GROUP BY 1, 2, 3),
          kqp AS (SELECT qe.vec_id AS q_id, c.cent_id,
                         UNNEST(qe.embedding) AS x, UNNEST(c.ce) AS y
                  FROM e qe CROSS JOIN kc1 c WHERE qe.vec_id < 5),
          kqd AS (SELECT q_id, cent_id,
                         SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS cdot
                  FROM kqp GROUP BY 1, 2),
          sc0 AS (SELECT qd.q_id, a.vec_id AS neighbor_id, a.m, qd.s
                  FROM a1 a
                  JOIN qd ON qd.m = a.m AND qd.cent_id = a.cent_id
                  JOIN kcand k ON k.q_id = qd.q_id AND k.neighbor_id = a.vec_id),
          sp AS (SELECT q_id, neighbor_id,
                        MAX(CASE WHEN m = 0 THEN s END) AS s0,
                        MAX(CASE WHEN m = 1 THEN s END) AS s1,
                        MAX(CASE WHEN m = 2 THEN s END) AS s2,
                        MAX(CASE WHEN m = 3 THEN s END) AS s3
                 FROM sc0 GROUP BY 1, 2),
          sc AS (SELECT sp.q_id, sp.neighbor_id,
                        kqd.cdot + (((s0 + s1) + s2) + s3) AS score
                 FROM sp
                 JOIN kcand k ON k.q_id = sp.q_id
                             AND k.neighbor_id = sp.neighbor_id
                 JOIN kqd ON kqd.q_id = sp.q_id AND kqd.cent_id = k.cell),
          r AS (SELECT q_id, neighbor_id, score,
                       ROW_NUMBER() OVER (PARTITION BY q_id
                         ORDER BY score DESC, neighbor_id) AS rnk
                FROM sc)
          SELECT q_id, neighbor_id, rnk, score FROM r WHERE rnk <= 3""",
    "q_ann_pq" ->
      s"""WITH $pqCtes,
          qs AS (SELECT vec_id AS q_id, m, v AS qv FROM subv WHERE vec_id < 5),
          qp AS (SELECT q.q_id, c.m, c.cent_id,
                        UNNEST(q.qv) AS x, UNNEST(c.ce) AS y
                 FROM qs q JOIN c1 c USING (m)),
          qd AS (SELECT q_id, m, cent_id,
                        SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS s
                 FROM qp GROUP BY 1, 2, 3),
          sc0 AS (SELECT qd.q_id, a.vec_id AS neighbor_id, a.m, qd.s
                  FROM a1 a JOIN qd ON qd.m = a.m AND qd.cent_id = a.cent_id),
          sp AS (SELECT q_id, neighbor_id,
                        MAX(CASE WHEN m = 0 THEN s END) AS s0,
                        MAX(CASE WHEN m = 1 THEN s END) AS s1,
                        MAX(CASE WHEN m = 2 THEN s END) AS s2,
                        MAX(CASE WHEN m = 3 THEN s END) AS s3
                 FROM sc0 GROUP BY 1, 2),
          sc AS (SELECT q_id, neighbor_id,
                        ((s0 + s1) + s2) + s3 AS score
                 FROM sp WHERE neighbor_id <> q_id),
          r AS (SELECT q_id, neighbor_id, score,
                       ROW_NUMBER() OVER (PARTITION BY q_id
                         ORDER BY score DESC, neighbor_id) AS rnk
                FROM sc)
          SELECT q_id, neighbor_id, rnk, score FROM r WHERE rnk <= 3""",
    // q_ann_pq's ADC ranking widened to the R=RerankShortlist cut, then an
    // exact full-precision dot (the q_cosine_topk UNNEST-zip discipline —
    // bit-identical to vector_dot) re-ranks only the shortlist
    "q_ann_pq_rerank" ->
      s"""WITH $pqCtes,
          qs AS (SELECT vec_id AS q_id, m, v AS qv FROM subv WHERE vec_id < 5),
          qp AS (SELECT q.q_id, c.m, c.cent_id,
                        UNNEST(q.qv) AS x, UNNEST(c.ce) AS y
                 FROM qs q JOIN c1 c USING (m)),
          qd AS (SELECT q_id, m, cent_id,
                        SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS s
                 FROM qp GROUP BY 1, 2, 3),
          sc0 AS (SELECT qd.q_id, a.vec_id AS neighbor_id, a.m, qd.s
                  FROM a1 a JOIN qd ON qd.m = a.m AND qd.cent_id = a.cent_id),
          sp AS (SELECT q_id, neighbor_id,
                        MAX(CASE WHEN m = 0 THEN s END) AS s0,
                        MAX(CASE WHEN m = 1 THEN s END) AS s1,
                        MAX(CASE WHEN m = 2 THEN s END) AS s2,
                        MAX(CASE WHEN m = 3 THEN s END) AS s3
                 FROM sc0 GROUP BY 1, 2),
          sc AS (SELECT q_id, neighbor_id,
                        ((s0 + s1) + s2) + s3 AS score
                 FROM sp WHERE neighbor_id <> q_id),
          sl AS (SELECT q_id, neighbor_id FROM (
                   SELECT q_id, neighbor_id,
                          ROW_NUMBER() OVER (PARTITION BY q_id
                            ORDER BY score DESC, neighbor_id) AS arnk
                   FROM sc) t WHERE arnk <= $RerankShortlist),
          rrx AS (SELECT sl.q_id, sl.neighbor_id,
                         UNNEST(ne.embedding) AS x, UNNEST(qe.embedding) AS y
                  FROM sl JOIN e ne ON ne.vec_id = sl.neighbor_id
                          JOIN e qe ON qe.vec_id = sl.q_id),
          rex AS (SELECT q_id, neighbor_id,
                         SUM(CAST(x * y AS DOUBLE)) AS score
                  FROM rrx GROUP BY 1, 2),
          rr AS (SELECT q_id, neighbor_id, score,
                        ROW_NUMBER() OVER (PARTITION BY q_id
                          ORDER BY score DESC, neighbor_id) AS rnk
                 FROM rex)
          SELECT q_id, neighbor_id, rnk, score FROM rr WHERE rnk <= 3""",
    // coarse chain → per-vector residual against the trained cell
    // centroid (REAL subtract, positionally re-listed) → the SAME PQ
    // train+assign chain text, just sourced from `res` — mirroring the
    // Scala side's pqAssign(vecCol = "residual") exactly
    "q_pq_residual" ->
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
          $coarseCtes,
          rs0 AS (SELECT a.vec_id, CAST(t.i AS INT) AS pos,
                         CAST(e.embedding[CAST(t.i + 1 AS INT)] AS REAL)
                           - c.ce[CAST(t.i + 1 AS INT)] AS x
                  FROM ka1 a JOIN e USING (vec_id)
                       JOIN kc1 c ON c.cent_id = a.cell,
                       UNNEST(range(len(e.embedding))) t(i)),
          res AS (SELECT vec_id, list(CAST(x AS REAL) ORDER BY pos) AS embedding
                  FROM rs0 GROUP BY vec_id),
          ${pqChain("res")}
          SELECT a.vec_id, k.cell AS cent_id,
                 MAX(CASE WHEN m = 0 THEN a.cent_id END) AS code0,
                 MAX(CASE WHEN m = 1 THEN a.cent_id END) AS code1,
                 MAX(CASE WHEN m = 2 THEN a.cent_id END) AS code2,
                 MAX(CASE WHEN m = 3 THEN a.cent_id END) AS code3
          FROM a1 a JOIN ka1 k USING (vec_id)
          GROUP BY 1, 2""",
    "q_cosine_topk" ->
      """WITH q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings
                    WHERE vec_id < 5),
          p AS (SELECT q.q_id, e.vec_id AS neighbor_id, e.embedding AS emb, q.qe
                FROM embeddings e, q WHERE e.vec_id <> q.q_id),
          t AS (SELECT q_id, neighbor_id, UNNEST(emb) AS x, UNNEST(qe) AS y
                FROM p),
          sc AS (SELECT q_id, neighbor_id,
                        SUM(CAST(x * y AS DOUBLE)) AS dot,
                        SUM(CAST(x * x AS DOUBLE)) AS nx,
                        SUM(CAST(y * y AS DOUBLE)) AS ny
                 FROM t GROUP BY 1, 2),
          r AS (SELECT q_id, neighbor_id,
                       dot / (sqrt(nx) * sqrt(ny)) AS score,
                       ROW_NUMBER() OVER (PARTITION BY q_id
                         ORDER BY dot / (sqrt(nx) * sqrt(ny)) DESC,
                                  neighbor_id) AS rnk
                FROM sc)
          SELECT q_id, neighbor_id, rnk, score FROM r WHERE rnk <= 10""",
    "q_hard_negatives" ->
      """WITH q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings
                    WHERE vec_id < 5),
          p AS (SELECT q.q_id, e.vec_id AS neighbor_id, e.embedding AS emb, q.qe
                FROM embeddings e, q WHERE e.vec_id <> q.q_id),
          t AS (SELECT q_id, neighbor_id, UNNEST(emb) AS x, UNNEST(qe) AS y
                FROM p),
          sc AS (SELECT q_id, neighbor_id,
                        SUM(CAST(x * y AS DOUBLE)) AS dot,
                        SUM(CAST(x * x AS DOUBLE)) AS nx,
                        SUM(CAST(y * y AS DOUBLE)) AS ny
                 FROM t GROUP BY 1, 2),
          r AS (SELECT q_id, neighbor_id,
                       dot / (sqrt(nx) * sqrt(ny)) AS score,
                       ROW_NUMBER() OVER (PARTITION BY q_id
                         ORDER BY dot / (sqrt(nx) * sqrt(ny)) DESC,
                                  neighbor_id) AS rnk
                FROM sc
                WHERE dot / (sqrt(nx) * sqrt(ny)) < 0.25)
          SELECT q_id, neighbor_id, rnk, score FROM r WHERE rnk <= 5""",
    "q_vector_norms" ->
      """SELECT vec_id, label, sqrt(nx) AS l2_norm, dim FROM (
           SELECT vec_id, label, SUM(CAST(x * x AS DOUBLE)) AS nx,
                  COUNT(*) AS dim
           FROM (SELECT vec_id, label, UNNEST(embedding) AS x FROM embeddings) t
           GROUP BY vec_id, label) s""",
    "q_embed_neardup" ->
      s"""WITH $bucketCtes,
          p AS (SELECT a.bucket, a.vec_id AS id_a, b.vec_id AS id_b,
                       a.embedding AS ea, b.embedding AS eb
                FROM bkt a JOIN bkt b
                  ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
          t AS (SELECT bucket, id_a, id_b, UNNEST(ea) AS x, UNNEST(eb) AS y
                FROM p),
          sc AS (SELECT bucket, id_a, id_b,
                        SUM(CAST(x * y AS DOUBLE)) AS dot,
                        SUM(CAST(x * x AS DOUBLE)) AS nx,
                        SUM(CAST(y * y AS DOUBLE)) AS ny
                 FROM t GROUP BY 1, 2, 3)
          SELECT bucket, id_a, id_b, dot / (sqrt(nx) * sqrt(ny)) AS cos
          FROM sc WHERE dot / (sqrt(nx) * sqrt(ny)) >= 0.25""",
    // the IVF assignment CTEs are q_ann_ivf's (verbatim argmax contract);
    // the pair stage is q_embed_neardup's lockstep-UNNEST cosine
    "q_semdedup" ->
      """WITH cents AS (SELECT vec_id AS cent_id, embedding AS ce
                        FROM embeddings WHERE vec_id < 16),
          pc AS (SELECT e.vec_id, c.cent_id, e.embedding AS v, c.ce
                 FROM embeddings e CROSS JOIN cents c),
          tc AS (SELECT vec_id, cent_id, UNNEST(v) AS x, UNNEST(ce) AS y
                 FROM pc),
          sim AS (SELECT vec_id, cent_id,
                         SUM(CAST(x * y AS DOUBLE)) /
                           (sqrt(SUM(CAST(x * x AS DOUBLE))) *
                            sqrt(SUM(CAST(y * y AS DOUBLE)))) AS csim
                  FROM tc GROUP BY 1, 2),
          assigned AS (SELECT vec_id, cell FROM (
                         SELECT vec_id, cent_id AS cell,
                                ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY csim DESC, cent_id) AS rnk
                         FROM sim) s WHERE rnk = 1),
          p AS (SELECT a.cell, a.vec_id AS id_a, b.vec_id AS id_b,
                       ea.embedding AS va, eb.embedding AS vb
                FROM assigned a
                JOIN assigned b ON a.cell = b.cell AND a.vec_id < b.vec_id
                JOIN embeddings ea ON ea.vec_id = a.vec_id
                JOIN embeddings eb ON eb.vec_id = b.vec_id),
          t AS (SELECT cell, id_a, id_b, UNNEST(va) AS x, UNNEST(vb) AS y
                FROM p),
          sc AS (SELECT cell, id_a, id_b,
                        SUM(CAST(x * y AS DOUBLE)) AS dot,
                        SUM(CAST(x * x AS DOUBLE)) AS nx,
                        SUM(CAST(y * y AS DOUBLE)) AS ny
                 FROM t GROUP BY 1, 2, 3)
          SELECT id_b AS drop_id, cell, COUNT(*) AS n_dups,
                 MAX(dot / (sqrt(nx) * sqrt(ny))) AS max_cos
          FROM sc WHERE dot / (sqrt(nx) * sqrt(ny)) >= 0.25
          GROUP BY 1, 2""",
    // the knn CTEs are q_cosine_topk's (same exact top-10 cut — proved
    // equal to the topk_by selection by that query's green oracle); the
    // vote argmax is pure-integer with (votes DESC, label ASC) ties
    "q_knn_classify" ->
      """WITH q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings
                    WHERE vec_id < 5),
          p AS (SELECT q.q_id, e.vec_id AS neighbor_id, e.embedding AS emb, q.qe
                FROM embeddings e, q WHERE e.vec_id <> q.q_id),
          t AS (SELECT q_id, neighbor_id, UNNEST(emb) AS x, UNNEST(qe) AS y
                FROM p),
          sc AS (SELECT q_id, neighbor_id,
                        SUM(CAST(x * y AS DOUBLE)) AS dot,
                        SUM(CAST(x * x AS DOUBLE)) AS nx,
                        SUM(CAST(y * y AS DOUBLE)) AS ny
                 FROM t GROUP BY 1, 2),
          r AS (SELECT q_id, neighbor_id,
                       ROW_NUMBER() OVER (PARTITION BY q_id
                         ORDER BY dot / (sqrt(nx) * sqrt(ny)) DESC,
                                  neighbor_id) AS rnk
                FROM sc),
          knn AS (SELECT q_id, neighbor_id FROM r WHERE rnk <= 10),
          v AS (SELECT k.q_id, e.label, COUNT(*) AS votes
                FROM knn k JOIN embeddings e ON e.vec_id = k.neighbor_id
                GROUP BY 1, 2)
          SELECT q_id, pred_label, votes FROM (
            SELECT q_id, label AS pred_label, votes,
                   ROW_NUMBER() OVER (PARTITION BY q_id
                     ORDER BY votes DESC, label) AS rn
            FROM v) t WHERE rn = 1""",
    "q_ann_lsh" ->
      s"""WITH $bucketCtes,
          q AS (SELECT vec_id AS q_id, embedding AS qe, bucket FROM bkt
                WHERE vec_id < 5),
          cand AS (SELECT q.q_id, b.vec_id AS neighbor_id, b.bucket,
                          b.embedding AS emb, q.qe
                   FROM bkt b JOIN q ON b.bucket = q.bucket
                   WHERE b.vec_id <> q.q_id),
          tt AS (SELECT q_id, neighbor_id, bucket,
                        UNNEST(emb) AS x, UNNEST(qe) AS y FROM cand),
          sc AS (SELECT q_id, neighbor_id, bucket,
                        SUM(CAST(x * y AS DOUBLE)) AS dot,
                        SUM(CAST(x * x AS DOUBLE)) AS nx,
                        SUM(CAST(y * y AS DOUBLE)) AS ny
                 FROM tt GROUP BY 1, 2, 3),
          r AS (SELECT q_id, neighbor_id, bucket,
                       dot / (sqrt(nx) * sqrt(ny)) AS score,
                       ROW_NUMBER() OVER (PARTITION BY q_id
                         ORDER BY dot / (sqrt(nx) * sqrt(ny)) DESC,
                                  neighbor_id) AS rnk
                FROM sc)
          SELECT q_id, neighbor_id, bucket, rnk, score FROM r WHERE rnk <= 3""",
    "q_embed_quantize" ->
      """SELECT vec_id, amax / 127.0 AS scale,
                CAST(to_json(list_transform(embedding, x ->
                  CASE WHEN amax = 0 THEN 0
                       ELSE LEAST(127, GREATEST(-127,
                         CAST(round(CAST(x AS DOUBLE) / (amax / 127.0)) AS INT)))
                  END)) AS VARCHAR) AS qvec,
                len(list_filter(list_transform(embedding, x ->
                  CASE WHEN amax = 0 THEN 0
                       ELSE LEAST(127, GREATEST(-127,
                         CAST(round(CAST(x AS DOUBLE) / (amax / 127.0)) AS INT)))
                  END), v -> abs(v) = 127)) AS n_sat
         FROM (SELECT vec_id, embedding,
                      list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS amax
               FROM embeddings) t""",
    // same two-halves sign pack (1-based UNNEST pos ↔ Spark's 0-based
    // element index); integer xor+popcount, ROW_NUMBER mirrors the
    // (distance ASC, id ASC) heap order
    "q_ann_hamming" ->
      """WITH t AS (SELECT vec_id, UNNEST(embedding) AS x,
                           generate_subscripts(embedding, 1) AS pos
                    FROM embeddings),
          codes AS (SELECT vec_id,
                           CAST(SUM(CASE WHEN pos <= 32 AND x > 0
                             THEN CAST(1 AS BIGINT) << (pos - 1) ELSE 0 END)
                             AS BIGINT) AS lo,
                           CAST(SUM(CASE WHEN pos > 32 AND x > 0
                             THEN CAST(1 AS BIGINT) << (pos - 33) ELSE 0 END)
                             AS BIGINT) AS hi
                    FROM t GROUP BY 1),
          q AS (SELECT vec_id AS q_id, lo AS qlo, hi AS qhi
                FROM codes WHERE vec_id < 5),
          sc AS (SELECT q.q_id, c.vec_id AS neighbor_id,
                        CAST(bit_count(xor(c.lo, q.qlo))
                          + bit_count(xor(c.hi, q.qhi)) AS BIGINT) AS hd
                 FROM codes c, q WHERE c.vec_id <> q.q_id),
          r AS (SELECT q_id, neighbor_id, hd,
                       ROW_NUMBER() OVER (PARTITION BY q_id
                         ORDER BY hd, neighbor_id) AS rnk
                FROM sc)
         SELECT q_id, neighbor_id, rnk, hd FROM r WHERE rnk <= 10""",
    // integer centroid sums via the lockstep-UNNEST zip; cosine on the sum
    // vectors — the one double division happens after all exact math
    "q_source_sim" ->
      """WITH j AS (SELECT d.source, e.embedding
                    FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id),
          q AS (SELECT source, pos,
                       CAST(round(CAST(x AS DOUBLE) * 1024) AS BIGINT) AS q
                FROM (SELECT source, UNNEST(embedding) AS x,
                             generate_subscripts(embedding, 1) AS pos
                      FROM j) t),
          sums AS (SELECT source, pos, SUM(q) AS sv
                   FROM q GROUP BY source, pos)
          SELECT a.source AS src_a, b.source AS src_b,
                 CAST(SUM(a.sv * b.sv) AS DOUBLE) /
                   (sqrt(CAST(SUM(a.sv * a.sv) AS DOUBLE)) *
                    sqrt(CAST(SUM(b.sv * b.sv) AS DOUBLE))) AS cos_sim
          FROM sums a JOIN sums b ON a.pos = b.pos AND a.source < b.source
          GROUP BY a.source, b.source""",
    // the k-means twin unrolls ONE Lloyd round with the same arithmetic
    // contract: lockstep-UNNEST double dots, argmax of dot - |c|²/2 with
    // (score DESC, cent_id) tiebreak, scaled-BIGINT means divided once,
    // centroids rounded to REAL between rounds
    "q_ivf_kmeans" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings),
          c0 AS (SELECT vec_id AS cent_id,
                        list_transform(embedding, x -> CAST(x AS REAL)) AS ce
                 FROM e WHERE vec_id < 16),
          p0 AS (SELECT e.vec_id, c.cent_id, UNNEST(e.embedding) AS x, UNNEST(c.ce) AS y
                 FROM e CROSS JOIN c0 c),
          s0 AS (SELECT vec_id, cent_id,
                        SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dot,
                        SUM(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) AS nc2
                 FROM p0 GROUP BY 1, 2),
          a0 AS (SELECT vec_id, cent_id FROM (
                   SELECT vec_id, cent_id,
                          ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY dot - nc2 / 2 DESC, cent_id) AS rnk
                   FROM s0) t WHERE rnk = 1),
          px AS (SELECT a.cent_id, CAST(t.i AS INT) AS pos,
                        e.embedding[CAST(t.i + 1 AS INT)] AS x
                 FROM a0 a JOIN e USING (vec_id),
                      UNNEST(range(len(e.embedding))) t(i)),
          m AS (SELECT cent_id, pos,
                       CAST(SUM(CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS DOUBLE)
                         / (COUNT(*) * 1000000.0) AS c
                FROM px GROUP BY 1, 2),
          c1 AS (SELECT cent_id, list(CAST(c AS REAL) ORDER BY pos) AS ce
                 FROM m GROUP BY cent_id),
          p1 AS (SELECT e.vec_id, c.cent_id, UNNEST(e.embedding) AS x, UNNEST(c.ce) AS y
                 FROM e CROSS JOIN c1 c),
          s1 AS (SELECT vec_id, cent_id,
                        SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dot,
                        SUM(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) AS nc2
                 FROM p1 GROUP BY 1, 2)
          SELECT vec_id, cent_id AS cell FROM (
            SELECT vec_id, cent_id,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                     ORDER BY dot - nc2 / 2 DESC, cent_id) AS rnk
            FROM s1) t WHERE rnk = 1""",
    "q_ann_ivf" ->
      """WITH cents AS (SELECT vec_id AS cent_id, embedding AS ce
                        FROM embeddings WHERE vec_id < 16),
          pc AS (SELECT e.vec_id, c.cent_id, e.embedding AS v, c.ce
                 FROM embeddings e CROSS JOIN cents c),
          tc AS (SELECT vec_id, cent_id, UNNEST(v) AS x, UNNEST(ce) AS y
                 FROM pc),
          sim AS (SELECT vec_id, cent_id,
                         SUM(CAST(x * y AS DOUBLE)) /
                           (sqrt(SUM(CAST(x * x AS DOUBLE))) *
                            sqrt(SUM(CAST(y * y AS DOUBLE)))) AS csim
                  FROM tc GROUP BY 1, 2),
          assigned AS (SELECT vec_id, cell FROM (
                         SELECT vec_id, cent_id AS cell,
                                ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY csim DESC, cent_id) AS rnk
                         FROM sim) s WHERE rnk = 1),
          probes AS (SELECT q_id, cell FROM (
                       SELECT vec_id AS q_id, cent_id AS cell,
                              ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY csim DESC, cent_id) AS prnk
                       FROM sim WHERE vec_id < 5) s WHERE prnk <= 2),
          cand AS (SELECT p.q_id, a.vec_id AS neighbor_id, a.cell
                   FROM probes p JOIN assigned a ON a.cell = p.cell
                   WHERE a.vec_id <> p.q_id),
          pq AS (SELECT cand.q_id, cand.neighbor_id, cand.cell,
                        e1.embedding AS emb, e2.embedding AS qe
                 FROM cand
                 JOIN embeddings e1 ON e1.vec_id = cand.neighbor_id
                 JOIN embeddings e2 ON e2.vec_id = cand.q_id),
          ts AS (SELECT q_id, neighbor_id, cell,
                        UNNEST(emb) AS x, UNNEST(qe) AS y FROM pq),
          scs AS (SELECT q_id, neighbor_id, cell,
                         SUM(CAST(x * y AS DOUBLE)) /
                           (sqrt(SUM(CAST(x * x AS DOUBLE))) *
                            sqrt(SUM(CAST(y * y AS DOUBLE)))) AS score
                  FROM ts GROUP BY 1, 2, 3),
          r AS (SELECT q_id, neighbor_id, cell, score,
                       ROW_NUMBER() OVER (PARTITION BY q_id
                         ORDER BY score DESC, neighbor_id) AS rnk
                FROM scs)
          SELECT q_id, neighbor_id, cell, rnk, score FROM r WHERE rnk <= 3""",
    // truth = the q_cosine_topk twin's exact scores at k = 3, candidates
    // = the q_ann_ivf twin's probed top-3 (both CTE chains verbatim) —
    // the recall number itself is cross-engine hash-checked
    "q_ann_recall" ->
      """WITH q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings
                    WHERE vec_id < 5),
          p AS (SELECT q.q_id, e.vec_id AS neighbor_id, e.embedding AS emb, q.qe
                FROM embeddings e, q WHERE e.vec_id <> q.q_id),
          t AS (SELECT q_id, neighbor_id, UNNEST(emb) AS x, UNNEST(qe) AS y
                FROM p),
          sc AS (SELECT q_id, neighbor_id,
                        SUM(CAST(x * y AS DOUBLE)) AS dot,
                        SUM(CAST(x * x AS DOUBLE)) AS nx,
                        SUM(CAST(y * y AS DOUBLE)) AS ny
                 FROM t GROUP BY 1, 2),
          tr AS (SELECT q_id, neighbor_id,
                        ROW_NUMBER() OVER (PARTITION BY q_id
                          ORDER BY dot / (sqrt(nx) * sqrt(ny)) DESC,
                                   neighbor_id) AS rnk
                 FROM sc),
          truth AS (SELECT q_id, neighbor_id FROM tr WHERE rnk <= 3),
          cents AS (SELECT vec_id AS cent_id, embedding AS ce
                    FROM embeddings WHERE vec_id < 16),
          pc AS (SELECT e.vec_id, c.cent_id, e.embedding AS v, c.ce
                 FROM embeddings e CROSS JOIN cents c),
          tc AS (SELECT vec_id, cent_id, UNNEST(v) AS x, UNNEST(ce) AS y
                 FROM pc),
          sim AS (SELECT vec_id, cent_id,
                         SUM(CAST(x * y AS DOUBLE)) /
                           (sqrt(SUM(CAST(x * x AS DOUBLE))) *
                            sqrt(SUM(CAST(y * y AS DOUBLE)))) AS csim
                  FROM tc GROUP BY 1, 2),
          assigned AS (SELECT vec_id, cell FROM (
                         SELECT vec_id, cent_id AS cell,
                                ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY csim DESC, cent_id) AS rnk
                         FROM sim) s WHERE rnk = 1),
          probes AS (SELECT q_id, cell FROM (
                       SELECT vec_id AS q_id, cent_id AS cell,
                              ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY csim DESC, cent_id) AS prnk
                       FROM sim WHERE vec_id < 5) s WHERE prnk <= 2),
          cand AS (SELECT p.q_id, a.vec_id AS neighbor_id
                   FROM probes p JOIN assigned a ON a.cell = p.cell
                   WHERE a.vec_id <> p.q_id),
          iq AS (SELECT cand.q_id, cand.neighbor_id,
                        e1.embedding AS emb, e2.embedding AS qe
                 FROM cand
                 JOIN embeddings e1 ON e1.vec_id = cand.neighbor_id
                 JOIN embeddings e2 ON e2.vec_id = cand.q_id),
          its AS (SELECT q_id, neighbor_id,
                         UNNEST(emb) AS x, UNNEST(qe) AS y FROM iq),
          iscs AS (SELECT q_id, neighbor_id,
                          SUM(CAST(x * y AS DOUBLE)) /
                            (sqrt(SUM(CAST(x * x AS DOUBLE))) *
                             sqrt(SUM(CAST(y * y AS DOUBLE)))) AS score
                   FROM its GROUP BY 1, 2),
          ir AS (SELECT q_id, neighbor_id,
                        ROW_NUMBER() OVER (PARTITION BY q_id
                          ORDER BY score DESC, neighbor_id) AS rnk
                 FROM iscs),
          ivf AS (SELECT q_id, neighbor_id FROM ir WHERE rnk <= 3),
          caught AS (SELECT t.q_id FROM truth t
                     JOIN ivf i ON i.q_id = t.q_id
                       AND i.neighbor_id = t.neighbor_id)
          SELECT (SELECT COUNT(*) FROM truth) AS n_true,
                 (SELECT COUNT(*) FROM caught) AS n_caught,
                 CAST((SELECT COUNT(*) FROM caught) AS DOUBLE)
                   / NULLIF(CAST((SELECT COUNT(*) FROM truth) AS DOUBLE),
                            0) AS recall"""
  )
}
