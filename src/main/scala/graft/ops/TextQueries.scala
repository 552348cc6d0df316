package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.tables.Tables

/** Text-analysis operators over the `documents` table: token counting,
  * quality signals, language-ID heuristic, document fingerprinting, and the
  * multimodal binary-column metadata pass.
  *
  * Everything is per-row `functions._` work — embarrassingly parallel, stays
  * inside whole-stage codegen, no shuffle except where an aggregate is the
  * point. That is the property that makes these ops run at 100 TB: the cost
  * is one pass over the column, partition-local.
  */
object TextQueries {

  private val stopwords = Seq("the", "a", "an", "of", "to", "and")
  private val stopList = stopwords.map(w => s"'$w'").mkString(", ")

  /** Highest-frequency character bigrams per language (public corpus
    * statistics; chosen with distinct characters so non-overlapping
    * replace-counting is exact). */
  val LangProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("th", "he", "in", "er", "an"),
    "de" -> Seq("ch", "ei", "nd", "ie", "sc"),
    "fr" -> Seq("es", "le", "de", "re", "ou"))

  /** Pareto skyline over the curation plane (r15) — the documents no other
    * document weakly dominates on (n_chars, stopword hits), both
    * maximized: the "longest AND most natural-language" frontier a
    * curation pass keeps when it refuses to collapse two quality axes
    * into one weighted score. A doc is dominated iff some other doc is ≥
    * on both axes and > on at least one; ties on both axes keep both.
    *
    * Plan — collapse, then frontier, then admit: (1) one map-side-combined
    * aggregate collapses the corpus to (x, max y) — bounded by |distinct
    * n_chars| (the VALUE domain), not by corpus size; (2) the frontier
    * condition "y strictly above every strictly-longer collapsed point"
    * is one running max over the collapsed table sorted by x DESC — a
    * single-reducer window, deliberately: its input is the bounded
    * collapsed table, never the corpus (the q_concurrency_peak carry
    * table makes the same call); (3) the admitted (x, y) pairs broadcast
    * back as a semi-join-shaped equality filter over the per-doc rows —
    * the corpus is touched exactly twice, both times scan-shaped. The
    * classic partition-local-prune distributed skyline falls out for
    * free: step (1) IS the prune (anything below its x-group's max is
    * dominated within the partition stream before the exchange). */
  private[ops] def skylineOf(docs: DataFrame): DataFrame = {
    val t = docs.select(col("doc_id"), col("n_chars"),
      expr(s"size(filter(split(trim(text), '\\\\s+'), x -> x IN ($stopList)))")
        .cast("long").as("n_stop"))
    val collapsed = t.groupBy("n_chars").agg(max("n_stop").as("ymax"))
    val wLonger = org.apache.spark.sql.expressions.Window
      .orderBy(col("n_chars").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        -1)
    val admit = collapsed
      .withColumn("cm", max("ymax").over(wLonger))
      .filter(col("cm").isNull || col("ymax") > col("cm"))
      .select(col("n_chars").as("ax"), col("ymax").as("ay"))
    t.join(broadcast(admit),
        t("n_chars") === col("ax") && t("n_stop") === col("ay"), "left_semi")
      .select(col("doc_id"), col("n_chars"), col("n_stop"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Pareto skyline (r15) — see [[skylineOf]].
    "q_skyline" -> ((s, d) => skylineOf(Tables.documents(s, d))),

    // Collocation mining by lift (r17): the 100 most frequent token
    // bigrams, each scored lift = P(ab)/(P(a)·P(b)) — the PMI exponent,
    // monotone in PMI with ZERO libm on either engine: the score is one
    // division of exact BIGINT cross-products (n_ab·N and n_a·n_b, both
    // far under 2^53 at oracle scales), so the twin is hash-exact where
    // a log-PMI would be tolerance-tier. Selection before scoring:
    // top-100 by (count DESC, w1, w2) is a TakeOrderedAndProject — the
    // unigram table joins against 100 rows, not the corpus, and rides
    // broadcast. Bigrams stream off the token arrays row-locally
    // (zip_with over two slices; attribute-bound w, the substrToks
    // barrier discipline — no split re-eval).
    "q_colloc_lift" -> ((s, d) => {
      val tok = Tables.documents(s, d).filter(col("text").isNotNull)
        .select(split(trim(lower(col("text"))), "\\s+").as("w"))
      val uni = tok.select(explode_outer(col("w")).as("t"))
        .filter(col("t").isNotNull)
      val un = uni.groupBy("t").agg(count(lit(1)).as("n"))
      val tot = uni.groupBy().agg(count(lit(1)).as("nn"))
      val top = tok.select(explode_outer(expr(
          "zip_with(slice(w, 1, greatest(size(w) - 1, 0)), " +
            "slice(w, 2, greatest(size(w) - 1, 0)), " +
            "(a, b) -> struct(a AS w1, b AS w2))")).as("b"))
        .filter(col("b").isNotNull)
        .groupBy(col("b.w1").as("w1"), col("b.w2").as("w2"))
        .agg(count(lit(1)).as("n_ab"))
        .orderBy(col("n_ab").desc, col("w1"), col("w2"))
        .limit(100)
      val withA = un.join(broadcast(top), col("t") === col("w1"))
        .select(col("w1"), col("w2"), col("n_ab"), col("n").as("n_a"))
      un.join(broadcast(withA), col("t") === col("w2"))
        .crossJoin(broadcast(tot))
        .select(col("w1"), col("w2"), col("n_ab"), col("n_a"),
          col("n").as("n_b"),
          ((col("n_ab") * col("nn")).cast("double") /
            (col("n_a") * col("n")).cast("double")).as("lift"))
    }),

    // Token counting: whitespace tokens + a BPE-ish lowercase-run count.
    "q_token_count" -> ((s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        size(split(trim(col("text")), "\\s+")).as("n_tokens"),
        regexp_count(col("text"), lit("[a-z]+")).as("n_alpha_runs"),
        length(col("text")).as("len_chars"),
        col("n_chars"))),

    // Quality signals: length ratios + stopword ratio (higher-order filter
    // keeps the stoplist check codegen'd; no UDF).
    "q_text_quality" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), col("text"),
          split(trim(col("text")), "\\s+").as("w"))
        .select(
          col("doc_id"),
          length(col("text")).as("len_chars"),
          size(col("w")).as("n_tokens"),
          expr(s"size(filter(w, x -> x IN ($stopList)))").as("n_stop"),
          (length(regexp_replace(col("text"), "\\s+", "")).cast("double") /
            length(col("text"))).as("char_density"),
          (length(col("text")).cast("double") / size(col("w")))
            .as("avg_token_len"))),

    // Language-ID heuristic: English-stopword vote (the data's `lang` label
    // is random; the guess column is the operator under test).
    "q_lang_guess" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          split(trim(col("text")), "\\s+").as("w"))
        .select(col("doc_id"), col("lang"),
          expr(s"size(filter(w, x -> x IN ($stopList)))").as("en_votes"))
        .withColumn("guess",
          when(col("en_votes") >= 2, "en").otherwise("other"))),

    // Language-ID, character-n-gram profile variant: per language, count
    // occurrences of its 5 highest-frequency bigrams (non-overlapping count
    // via length-delta of replace — identical semantics in the oracle) and
    // pick the argmax with a deterministic tiebreak. Pure per-row string
    // expressions — codegen'd, partition-local.
    "q_lang_ngram" -> ((s, d) => {
      def hits(t: Column, grams: Seq[String]): Column =
        grams.map(g => (length(t) - length(regexp_replace(t, g, ""))) / 2)
          .reduce(_ + _)
      val t = lower(col("text"))
      // ~15 regexp passes per row — spread an under-partitioned scan first
      ScaleOps.spread(Tables.documents(s, d))
        .select(col("doc_id"),
          hits(t, LangProfiles("en")).as("en_hits"),
          hits(t, LangProfiles("de")).as("de_hits"),
          hits(t, LangProfiles("fr")).as("fr_hits"))
        .withColumn("guess",
          when(col("en_hits") >= col("de_hits") &&
               col("en_hits") >= col("fr_hits"), "en")
            .when(col("de_hits") >= col("fr_hits"), "de")
            .otherwise("fr"))
    }),

    // Salient terms per document — count-ratio TF-IDF (score =
    // tf * N / df, the log dropped so the score stays a single correctly-
    // rounded division of exact integers; log is monotone in df alone but
    // cross-engine libm log is not bit-stable, ratios are). Scale shape:
    // explode → (doc_id, term) count with map-side combine (repeated words
    // collapse before the shuffle), the vocabulary aggregate joins back
    // under AQE's size decision (broadcast when it fits, shuffled hash
    // join for a web-scale vocabulary), N is a 1-row broadcast, and the
    // per-doc top-5 is a bounded sort_array/slice over collect_list —
    // payload capped by per-doc vocabulary, no window over an unbounded
    // stream anywhere.
    "q_doc_tfidf" -> ((s, d) => docTfidf(Tables.documents(s, d))),

    // Rare-term novelty — the fraction of a document's DISTINCT terms
    // that are corpus-unique (df = 1): "is this doc adding vocabulary or
    // repeating the corpus", a cheap curation signal next to q_doc_tfidf.
    // Integer counts end to end with ONE double division at the very end
    // → hash-exact with no float discipline. Plan: per-doc distinct
    // terms via array_distinct INSIDE the row (no corpus-wide distinct
    // exchange), then the same two-pass vocabulary shape as q_doc_tfidf
    // (term-df agg + join back on term + per-doc agg) — the r9-decomposed
    // algorithmic minimum for any df-dependent per-doc score; exchanges
    // key on high-cardinality terms, so the shape holds at 100 TB.
    "q_novelty" -> ((s, d) => {
      val terms = Tables.documents(s, d)
        .filter(col("text").isNotNull)
        .select(col("doc_id"),
          explode(array_distinct(split(trim(lower(col("text"))), "\\s+")))
            .as("term"))
      val df = terms.groupBy("term").agg(count(lit(1)).as("df"))
      terms.join(df, "term")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_terms"),
          sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_unique"))
        .select(col("doc_id"), col("n_terms"), col("n_unique"),
          (col("n_unique").cast("double") / col("n_terms")).as("novelty"))
    }),

    // Document fingerprint: md5 over whitespace-normalized lowercase text.
    "q_fingerprint" -> ((s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        md5(lower(trim(regexp_replace(col("text"), "\\s+", " ")))).as("fp"))),

    // Winnowing fingerprint (the rolling-hash fingerprint of the brief, à
    // la MOSS): polynomial hash of every 8-char gram of the normalized
    // text, then the minimum per 4-gram window, distinct. Near-identical
    // documents share most fingerprints even at different offsets — the
    // property whole-document hashing (q_fingerprint) lacks. Per-row
    // expression work + one distinct; integer-exact, so the DuckDB twin
    // hash-matches.
    "q_fingerprint_rolling" -> ((s, d) => {
      // ONE native codegen'd expression per row ([[graft.functions
      // .WinnowFingerprint]]): rolling gram hash + sliding min + per-doc
      // distinct, all inside the scan — zero shuffles, no explode-per-char.
      // (The previous window formulation exploded one row per CHARACTER and
      // sorted ~5M rows at sf0.1; its GC footprint amplified bench-host
      // contention ~12×. Identical integer semantics — the DuckDB oracle is
      // unchanged and still hash-matches.)
      ScaleOps.spread(Tables.documents(s, d))
        .select(col("doc_id"),
          lower(trim(regexp_replace(col("text"), "\\s+", " "))).as("t"))
        .filter(length(col("t")) >= 8 + 3) // at least one full window
        .select(col("doc_id"), explode(expr("winnow_fps(t, 8, 4)")).as("fp"))
    }),

    // Repetition quality signals (the Gopher-rules family): duplicate-word
    // fraction, most-common-token fraction, duplicate-bigram fraction —
    // the filters that catch boilerplate/template spam which
    // length/stopword ratios (q_text_quality) miss. The integer counts
    // come from ONE per-row hash pass ([[graft.functions.RepetitionStats]]
    // — the composed array form needed O(distinct × n) interpreted
    // comparisons per row for the top-token count, quadratic pain at real
    // document lengths; equality is spec-proven in ShingleSigSpec).
    // Fractions stay in SQL so the double math matches the oracle
    // bit-for-bit. Zero shuffle.
    "q_repetition" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"), expr("repetition_stats(lower(text))").as("r"))
        .select(col("doc_id"),
          col("r.n_tokens").as("n_tokens"),
          (lit(1.0) - col("r.n_distinct").cast("double") /
            col("r.n_tokens")).as("dup_word_frac"),
          (col("r.top_count").cast("double") / col("r.n_tokens"))
            .as("top_token_frac"),
          when(col("r.n_tokens") >= 2,
            lit(1.0) - col("r.n_bigrams_distinct").cast("double") /
              (col("r.n_tokens") - 1)).as("dup_bigram_frac"))
    }),

    // Token-distribution Shannon entropy per document (r16) — the classic
    // gibberish/boilerplate filter the ratio signals above don't subsume:
    // low entropy = template spam (few tokens dominate), suspiciously
    // high entropy at short length = random noise. H = ln(N) − Σc·ln(c)/N
    // over the per-doc term-frequency table — ONE codegen'd term_counts
    // pass per row, the integer moments and the Σc·ln(c) fold all
    // row-local HOFs over that array, zero shuffles. Single-eval
    // discipline: the folds consume the GENERATE output attribute
    // (explode_outer of a 1-element transform array), so CollapseProject
    // cannot inline term_counts into each use site (cross-engine
    // checklist #5/#7). Rows-only for the hash gate BY DESIGN: ln is libm
    // and the oracle's Σ runs in engine-specific group order — the 7th
    // tolerance twin value-gates it (identity columns exact, entropy
    // rel-tol 1e-12).
    "q_entropy" -> ((s, d) => {
      entropyOf(Tables.documents(s, d))
    }),

    // Corpus-level n-gram statistics: the top-20 bigrams by frequency —
    // the first table a tokenizer-training or repetition-audit run asks
    // for. Bigrams are built per-row (a doc's adjacent-token pairs never
    // leave its row), counted by one hash aggregate (partial+final: each
    // partition collapses to its distinct bigrams before the exchange),
    // and the cut is orderBy+limit → TakeOrderedAndProject: every
    // partition keeps its own top-20, the driver merges 20-row heads —
    // no full sort, no window, bounded memory at any vocabulary size.
    // Tie at the boundary breaks on the bigram string (binary ASC) so the
    // kept SET is deterministic cross-engine.
    "q_ngram_stats" -> ((s, d) =>
      Tables.documents(s, d)
        .filter(col("text").isNotNull)
        .select(split(trim(lower(col("text"))), "\\s+").as("w"))
        .filter(size(col("w")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, size(w) - 1)," +
            " i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"))
          .as("bigram"))
        .groupBy("bigram").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("bigram"))
        .limit(20)),

    // BPE merge learning (Sennrich et al. 2016) — the first R rounds of
    // byte-pair-encoding tokenizer training, distributed. Round r: count
    // adjacent symbol pairs over the VOCABULARY (word types weighted by
    // corpus frequency — pair work is vocab-bound, not corpus-bound, which
    // is what makes BPE trainable at 100 TB), pick the most frequent pair
    // (count DESC, then symbol strings ASC — deterministic), merge it
    // everywhere, repeat. Output: the learned merge table.
    //
    // Cross-engine exactness: symbol sequences live as space-joined
    // padded strings, and a merge is `replace(replace(seq, ' l r ', ' lr '))`
    // — TWO sequential left-to-right non-overlapping scans, the same
    // primitive with the same semantics on both engines, so the result is
    // identical by construction. (One scan leaves the even occurrences of
    // a self-adjacent chain unmerged because the match consumes the
    // boundary space; the second scan catches them. Chains needing a
    // third scan are left for the next round's count — a documented,
    // deterministic approximation of greedy-left.) The per-round argmax
    // is a 1-row orderBy+limit consumed as a scalar subquery, so the
    // whole R-round loop is ONE declarative plan with no driver state.
    "q_bpe_merges" -> ((s, d) => bpeMerges(Tables.documents(s, d))),

    // The APPLY side of the learned tokenizer: every document's size under
    // the 3-merge vocabulary, plus the chars-per-token compression the
    // merges bought. Per-row double-replace work over FROZEN merges cached
    // per (session, dir) — r10: a tokenizer trains once and applies
    // everywhere (the q_ann_pq codebook-cache / IVF-seed precedent;
    // re-running the 3 training rounds inside every apply execution was a
    // fixture artifact — q_bpe_merges, the TRAINING operator, still pays
    // its full cost every run). Identical output to the in-plan
    // [[bpeTokenize]] by construction: same merges, same char-sequence +
    // double-replace primitive (OpPropertiesSpec pins both paths).
    "q_bpe_tokenize" -> ((s, d) =>
      bpeApplyTokenize(Tables.documents(s, d), learnedMergesCached(s, d))),

    // CCNet-style LM fluency gate over a hashed bigram model — per-doc
    // mean conditional bigram probability in fixed point, bucketed
    // head/middle/tail against the corpus average. See [[lmFluency]].
    "q_lm_fluency" -> ((s, d) => lmFluency(Tables.documents(s, d))),
    // the CCNet-faithful sampled-tercile split — rows-only checked by
    // declared design (approximate pivots are sketch-specific); see
    // [[lmFluencyTerciles]]
    "q_lm_fluency_terciles" ->
      ((s, d) => lmFluencyTerciles(Tables.documents(s, d))),

    // In-engine TRAINED quality classifier, fit side (r10): the exact
    // integer sufficient statistics (XᵀX Gram, Xᵀy, n) of a ridge linear
    // probe over hashed bag-of-words features, distilled from the
    // stopword-density heuristic — the practice pattern where a cheap
    // model learns an expensive-or-heuristic label and then scores the
    // whole corpus. ONE dense-aggregate corpus pass; see [[probeFit]].
    "q_probe_fit" -> ((s, d) => probeFit(Tables.documents(s, d))),
    // ...and the scoring side: the driver-solved ridge weights ride the
    // plan as one literal array, every doc scores row-locally (zero
    // exchanges after the fit pass). Tolerance-checked (the solve is
    // float); see [[probeScore]].
    "q_probe_score" -> ((s, d) => probeScore(Tables.documents(s, d))),

    // Multimodal metadata pass: text treated as an opaque payload — byte
    // length + content hash, the same schema shape used for image/audio
    // binary columns (see graft.ops.Multimodal for the binary pipeline).
    "q_multimodal_meta" -> ((s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        octet_length(col("text")).as("n_bytes"),
        md5(col("text")).as("content_hash"),
        col("n_chars")))
  )

  /** q_doc_tfidf's pipeline over an arbitrary documents frame (needs
    * doc_id, text).
    *
    * Stage accounting (r7: 7.1× twin, r8: 4.8×, r9: ~2.7×): tf is a
    * PER-ROW [[graft.functions.TermCounts]] expression, and r9 deleted
    * the two remaining data-shaped stages — the tf⋈df join and the
    * corpus-wide per-doc regroup — by folding the whole vocabulary into
    * ONE [[graft.functions.TermDfAgg]] aggregate (scalar subquery) and
    * selecting each doc's top-5 row-locally with
    * [[graft.functions.TfidfTopK]]. The plan is two corpus passes (the
    * vocabulary aggregate's, then the zero-exchange score scan), which is
    * the algorithmic minimum: df is a corpus-global fact consumed by
    * every row. Trade, stated: the scan+term_counts runs twice rather
    * than caching the tokenized corpus — at 100 TB one extra columnar
    * scan of (doc_id, text) beats materializing vocab×docs strings in
    * executor storage. PERF.md carries the measured floor decomposition. */
  /** q_bpe_merges' pipeline: R unrolled BPE rounds over the corpus
    * vocabulary. Scale shape: ONE corpus-sized token aggregate collapses
    * to word types; every round after that is vocab-sized (pair explode →
    * partial+final count → 1-row TakeOrdered argmax as a scalar
    * subquery → per-row double-replace merge). */
  /** BPE training rounds — one value feeding the Spark loop AND the
    * unrolled oracle CTE chain so the two can never drift. */
  private[ops] val BpeRounds = 3

  /** The shared DuckDB CTE chain: vocabulary v0, then per round r the pair
    * count p_r, winner m_r and (between rounds) merged vocabulary v_r —
    * the same unrolled-round technique as the kmeans oracle, with the
    * merge as the identical double-replace primitive the Spark side runs.
    * pair_count is CAST to BIGINT inside p$r: DuckDB types SUM over BIGINT
    * as HUGEINT, which the comparison harness surfaces as float64
    * (`4568.0` vs Spark's int64 `4568`) — same artifact as the r6
    * q_corpus_stats fix, cast at the source so every downstream CTE
    * (merges AND tokenize) inherits the exact integer type. */
  private def bpeOracleCtes(rounds: Int): String = {
    def countCtes(r: Int): String =
      s"""pe$r AS (SELECT cnt, t, UNNEST(generate_series(1, len(t) - 1)) AS i
                FROM (SELECT cnt, string_split(trim(seq), ' ') AS t
                      FROM v${r - 1}) s$r
                WHERE len(t) >= 2),
        p$r AS (SELECT t[i] AS l, t[i + 1] AS r, CAST(SUM(cnt) AS BIGINT) AS pair_count
                FROM pe$r GROUP BY 1, 2),
        m$r AS (SELECT l, r, pair_count FROM p$r
                ORDER BY pair_count DESC, l, r LIMIT 1)"""
    def mergeCte(r: Int): String =
      s"""v$r AS (SELECT cnt,
                  replace(replace(seq,
                      ' ' || m.l || ' ' || m.r || ' ',
                      ' ' || m.l || m.r || ' '),
                      ' ' || m.l || ' ' || m.r || ' ',
                      ' ' || m.l || m.r || ' ') AS seq
                FROM v${r - 1}, m$r m)"""
    val chain = (1 to rounds).map { r =>
      if (r < rounds) countCtes(r) + ",\n        " + mergeCte(r)
      else countCtes(r)
    }.mkString(",\n        ")
    s"""v0 AS (SELECT CAST(COUNT(*) AS BIGINT) AS cnt,
                ' ' || array_to_string(
                    list_transform(generate_series(1, length(w)),
                      i -> substring(w, i, 1)), ' ') || ' ' AS seq
         FROM (SELECT UNNEST(string_split_regex(trim(lower(text)), '\\s+')) AS w
               FROM documents WHERE text IS NOT NULL) toks
         WHERE length(w) > 0
         GROUP BY w),
        $chain"""
  }

  /** The double-replace merge of pair `m` (a struct<l,r> scalar) applied to
    * a space-joined padded symbol string — the exact cross-engine merge
    * primitive (see q_bpe_merges' scaladoc). */
  private def bpeMergeStep(seq: Column, m: Column): Column = {
    val pat = concat(lit(" "), m.getField("l"), lit(" "),
      m.getField("r"), lit(" "))
    val rep = concat(lit(" "), m.getField("l"), m.getField("r"), lit(" "))
    call_function("replace", call_function("replace", seq, pat, rep), pat, rep)
  }

  /** The per-round winning pairs (1-row frames, columns l/r/pair_count) of
    * R BPE rounds over the corpus vocabulary.
    *
    * Each round's vocabulary is `localCheckpoint`ed (the clusterLabels
    * pattern): round r's argmax rides into round r+1's merge as a scalar
    * subquery, so without the cut the nested subquery chain re-derives the
    * corpus-sized token aggregate once per PLAN INSTANCE — measured ~10
    * corpus scans for 3 rounds (2.85 s at sf0.1 vs 0.9 s checkpointed).
    * With the cut, the corpus is scanned exactly once (the v0 collapse to
    * word types) and every round is a vocab-sized job. The checkpointed
    * frames are word-type-sized and session-freed by the callers'
    * existing block hygiene. */
  private def bpeTops(documents: DataFrame, rounds: Int): Seq[DataFrame] = {
    val vocab = documents.filter(col("text").isNotNull)
      .select(explode(split(trim(lower(col("text"))), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .withColumn("seq", expr(
        "concat(' ', array_join(transform(sequence(1, length(w))," +
          " i -> substring(w, i, 1)), ' '), ' ')"))
      .select(col("cnt"), col("seq"))
    // LAZY checkpoints (eager = false): the cut still guarantees each
    // vocab-level frame materializes once at EXECUTION (the first subquery
    // to touch it computes it, later references read the blocks), but
    // plan-only callers — PlanAuditSpec walks every registered query's
    // physical plan — no longer trigger the training jobs just by
    // CONSTRUCTING the query. Blocks live until the caller's unpersist
    // hygiene (Verify per query, Bench per rep) releases them, like every
    // other checkpointing operator here.
    var cur = vocab.localCheckpoint(false)
    val tops = Seq.newBuilder[DataFrame]
    for (r <- 1 to rounds) {
      // r9: the round's argmax is ONE bpe_top_pair aggregate — the
      // explode of every symbol pair, the (l, r) exchange and the
      // TakeOrdered job are gone (pair space is vocabulary-bounded, so
      // each map task folds its word types into a pair→count map and the
      // winner falls out of the final merge). The isNotNull filter keeps
      // the old empty-frame semantics when no word has a pair.
      val top = cur
        .agg(expr("bpe_top_pair(seq, cnt)").as("p"))
        .filter(col("p").isNotNull)
        .select(col("p.l").as("l"), col("p.r").as("r"),
          col("p.pair_count").as("pair_count"))
      tops += top
      if (r < rounds) {
        val m = top.select(struct(col("l"), col("r")).as("s")).scalar()
        cur = cur.withColumn("m", m)
          .select(col("cnt"), bpeMergeStep(col("seq"), col("m")).as("seq"))
          .localCheckpoint(false)
      }
    }
    tops.result()
  }

  private[ops] def bpeMerges(documents: DataFrame, rounds: Int = BpeRounds): DataFrame =
    bpeTops(documents, rounds).zipWithIndex.map { case (top, i) =>
      top.select(lit(i + 1).as("round"), col("l").as("left_sym"),
        col("r").as("right_sym"), concat(col("l"), col("r")).as("merged"),
        col("pair_count"))
    }.reduce(_ unionByName _)

  /** q_bpe_tokenize: apply the R learned merges to every document and
    * report its size under the learned vocabulary. Words are separated by
    * DOUBLE spaces in the symbol string, so a merge pattern (single
    * interior spaces) can never span a word boundary. Per-row work plus R
    * scalar subqueries — the apply side of the tokenizer is embarrassingly
    * parallel, exactly as it must be at 100 TB. */
  /** The double-space-separated character sequence of `textCol` — BPE's
    * working representation (word separators are two spaces so merges
    * never span word boundaries). Null text → null, by propagation. */
  private def charSeqSql(textCol: String): String =
    s"concat(' ', array_join(transform(split(trim(lower($textCol)), '\\\\s+')," +
      " w -> array_join(transform(sequence(1, length(w))," +
      " i -> substring(w, i, 1)), ' ')), '  '), ' ')"

  /** The learned merge pairs of R rounds, COLLECTED — R strings pairs
    * cross the driver (bounded by the round count; the frozen-model
    * pattern of the streaming scorers). The batch queries keep merges
    * in-plan as scalar subqueries instead; this is the deployment shape —
    * train once, freeze, apply anywhere (a stream cannot carry subqueries
    * against a static corpus). */
  private[graft] def learnedMerges(fit: DataFrame,
                                   rounds: Int = BpeRounds): Seq[(String, String)] =
    // A degenerate fit corpus (all single-symbol words) yields an empty
    // winner frame; stop collecting at the first empty round — the lazy
    // iterator never executes later rounds — mirroring the batch path's
    // null-scalar tolerance instead of throwing at plan-build time.
    bpeTops(fit, rounds).iterator
      .map(_.select("l", "r").collect().headOption
        .map(row => (row.getString(0), row.getString(1))))
      .takeWhile(_.isDefined)
      .flatten
      .toSeq

  /** Learned merges memoized per (session, dir, rounds) — the frozen-model
    * contract of the registered q_bpe_tokenize (and any caller applying
    * a standing tokenizer): train once per fixture corpus, serve every
    * apply from the R memoized pairs. */
  private val mergeCache = new GraftSession.Memo[(String, Int), Seq[(String, String)]]
  private[graft] def learnedMergesCached(s: SparkSession, d: String,
                                         rounds: Int = BpeRounds): Seq[(String, String)] =
    mergeCache(s, (d, rounds))(learnedMerges(Tables.documents(s, d), rounds))

  /** [[bpeTokenize]]'s output over FROZEN merges: the identical final
    * projection (n_chars, token count under the merged vocabulary,
    * compression), with the pairs as literals instead of in-plan scalar
    * subqueries. */
  private[graft] def bpeApplyTokenize(documents: DataFrame,
                                      merges: Seq[(String, String)]): DataFrame =
    bpeApply(documents.filter(col("text").isNotNull), merges)
      .select("doc_id", "n_chars", "n_bpe_tokens", "compression")

  /** Apply frozen merges to any frame (batch or stream): the identical
    * char-sequence construction and double-replace merge primitive as
    * [[bpeTokenize]], with the pairs as literals. Null text rows keep
    * null outputs — a stream must not silently swallow rows. */
  private[graft] def bpeApply(df: DataFrame, merges: Seq[(String, String)],
                              textCol: String = "text"): DataFrame = {
    var out = df
      .withColumn("__seq", expr(charSeqSql(textCol)))
      .withColumn("n_chars",
        length(regexp_replace(trim(lower(col(textCol))), "\\s+", ""))
          .cast("long"))
    merges.foreach { case (l, r) =>
      out = out.withColumn("__seq", bpeMergeStep(col("__seq"),
        struct(lit(l).as("l"), lit(r).as("r"))))
    }
    out
      .withColumn("n_bpe_tokens",
        expr("CAST(size(split(trim(__seq), ' +')) AS BIGINT)"))
      .withColumn("compression",
        col("n_chars").cast("double") / col("n_bpe_tokens"))
      .drop("__seq")
  }

  private[ops] def bpeTokenize(documents: DataFrame, rounds: Int = BpeRounds): DataFrame = {
    val tops = bpeTops(documents, rounds)
    var df = documents.filter(col("text").isNotNull)
      .select(col("doc_id"),
        expr(charSeqSql("text")).as("seq"),
        length(regexp_replace(trim(lower(col("text"))), "\\s+", ""))
          .cast("long").as("n_chars"))
    tops.foreach { top =>
      val m = top.select(struct(col("l"), col("r")).as("s")).scalar()
      df = df.withColumn("m", m)
        .select(col("doc_id"), bpeMergeStep(col("seq"), col("m")).as("seq"),
          col("n_chars"))
    }
    df.select(col("doc_id"), col("n_chars"),
      expr("CAST(size(split(trim(seq), ' +')) AS BIGINT)").as("n_bpe_tokens"))
      .withColumn("compression",
        col("n_chars").cast("double") / col("n_bpe_tokens"))
  }

  /** q_lm_fluency: CCNet-shaped language-model quality gate (Wenzek et
    * al. 2020, "CCNet: Extracting High Quality Monolingual Datasets from
    * Web Crawl Data" — score every document under an n-gram LM, split the
    * corpus into head/middle/tail by how fluent it reads), re-expressed
    * for distributed integer exactness:
    *
    *  - The model is a HASHED bigram LM fit on the corpus itself (Talbot
    *    & Osborne-style randomized LM): bigram-prefix counts in B1=1024
    *    buckets, bigram counts in B2=65536 buckets. Both tables are
    *    BOUNDED at any corpus size, so both ride to the score pass as
    *    in-plan map scalars — an exact-vocabulary bigram table would be
    *    corpus-sized and turn scoring into a data-scaled shuffle join.
    *  - Per-bigram score is the smoothed conditional probability in 0.20
    *    fixed point: round((c2+1)/(c1+B2) · 2^20) — correctly-rounded
    *    IEEE ops only (two adds, one divide, one multiply, half-up
    *    round), never ln(), whose last ulp is library-specific — the
    *    importanceWeights discipline. Per-doc `fluency` is then an
    *    INTEGER sum: exact and order-free on any partitioning.
    *  - CCNet's head/middle/tail is corpus-relative (perplexity
    *    terciles). A tercile needs a global ntile — a single-partition
    *    window over the scored stream, the exact shape this codebase
    *    bans — so the split is against the corpus-average PER-BIGRAM
    *    score `cm = round(Σfluency / Σn_bigrams)`: head = doc mean ≥ cm
    *    (fluency ≥ cm·n_bigrams, pure int64 — products stay ≤ ~2^51
    *    because cm ≤ 2^20 and n is per-doc), middle = within 2× of cm,
    *    tail = rest, keep = not tail. `cm` is ONE corpus scalar; its
    *    single half-up rounding (from exact decimal sums through one
    *    IEEE division) is the only quantization in the pipeline, and it
    *    is identical cross-engine.
    *
    * Plan: two corpus scans (fit + score, like DSIR) and ONE exchange
    * total — the fit aggregate produces both bucket tables from a single
    * `stack`-tagged groupBy (map-side combine bounds the shuffle by
    * (B1+B2)×partitions), and the score pass is pure per-row work
    * against the two map scalars (no joins, no doc_id regroup). The
    * per-doc frame is lazily checkpointed so the `cm` scalar subquery
    * and the final labeling read materialized narrow rows instead of
    * re-running the scoring scan. Docs with <2 tokens have no bigrams
    * and are not scored (no LM opinion), deliberately — the twin
    * matches. */
  /** Shared fit+score front half of the fluency queries: the bounded
    * bigram LM fit, the dense-array scalars, and the per-doc
    * (n_bigrams, fluency) pass — everything up to (but excluding) the
    * head/middle/tail pivot, which is where [[lmFluency]] (exact
    * mean-split) and [[lmFluencyTerciles]] (sampled tercile split)
    * diverge. */
  private def fluencyPerDoc(documents: DataFrame): DataFrame = {
    val B1 = 1024
    val B2 = 65536
    // ONE digest per token (not per-bigram endpoint + concat'd bigram
    // string — that form ran 2·(n−1) md5s of longer inputs per doc and
    // measured 1.8× slower): each token hashes once inside the transform,
    // and both bucket ids derive from the hash PAIR by exact modular
    // arithmetic ((h1·31 + h2) mod B2 mixes uniformly; everything stays
    // far below 2^63 so no engine can overflow).
    def hashed = documents.filter(col("text").isNotNull)
      .select(col("doc_id"),
        expr("transform(split(trim(lower(text)), '\\\\s+')," +
          " t -> md5_low63(t))").as("h"))
      .filter(size(col("h")) >= 2)
    // Both bounded count tables come from ONE
    // [[graft.functions.BigramCountsAgg]] aggregate consumed as a scalar
    // (r9 — the previous form exploded one row per bigram, stack(2)'d it
    // into 2 rows, hash-aggregated the whole per-bigram stream, then ran
    // a range(B1+B2) fill job to densify tables whose size was fixed
    // from the start; each map task now owns one ~0.5 MB dense array and
    // the fill job is gone). The tables enter the score pass as in-plan
    // DENSE ARRAY scalars — position = bucket id, so every lookup is
    // O(1) `element_at` (a map scalar was tried in r8 and measured 2.6×
    // SLOWER overall: Spark's map element_at linear-scans the entries,
    // ~32k comparisons per lookup on the B2 table) — and ride the
    // torrent-broadcast task binary once per executor, exactly like a
    // broadcast build side. Each doc's (n_bigrams, fluency) is then a
    // row-local aggregate over its own token-hash array: the earlier
    // explode → two broadcast joins → groupBy(doc_id) form shuffled the
    // full per-bigram stream only to regroup rows by a key they started
    // with. Same weight arithmetic in the same IEEE op order, so outputs
    // are unchanged.
    val dense = hashed
      .agg(expr(s"bigram_counts(h, $B1, $B2)").as("d"))
      .scalar()
    hashed
      .withColumn("c1a", dense.getField("c1"))
      .withColumn("c2a", dense.getField("c2"))
      .select(col("doc_id"),
        expr("bigram_fluency(h, c1a, c2a)").as("z"))
      .select(col("doc_id"), col("z.n").as("n_bigrams"),
        col("z.s").as("fluency"))
      .localCheckpoint(false)
  }

  private[graft] def lmFluency(documents: DataFrame): DataFrame = {
    val perDoc = fluencyPerDoc(documents)
    // decimal sums (Σfluency nears int64 at 100 TB), one IEEE division,
    // one half-up round — cm is bit-identical on any engine
    val cm = perDoc.select(
      round(sum(col("fluency").cast("decimal(38,0)")).cast("double") /
        sum(col("n_bigrams")).cast("double")).cast("long")).scalar()
    perDoc
      .withColumn("cm", cm)
      .select(col("doc_id"), col("n_bigrams"), col("fluency"),
        when(col("fluency") >= col("cm") * col("n_bigrams"), "head")
          .when(col("fluency") * 2 >= col("cm") * col("n_bigrams"), "middle")
          .otherwise("tail").as("bucket"),
        (col("fluency") * 2 >= col("cm") * col("n_bigrams")).as("keep"))
  }

  /** q_lm_fluency_terciles — the CCNet-faithful split (Wenzek et al. 2020
    * §3.2 partitions the corpus into head/middle/tail TERCILES of the
    * per-document LM score). [[lmFluency]]'s default deliberately pivots
    * on the corpus-average per-bigram score instead, because an exact
    * tercile needs a full ntile sort in one partition — the scale-killer
    * — and because an integer pivot is hash-exact cross-engine. This
    * variant recovers the paper's semantics without the sort: the two cut
    * points are `percentile_approx(fluency / n_bigrams, [1/3, 2/3])` —
    * ONE aggregate (Greenwald–Khanna sketch, mergeable partial/final, the
    * same plan shape as the mean) consumed as a scalar — and every doc
    * labels row-locally against them. By construction ~⅓ of docs land in
    * each bucket regardless of the score distribution's shape (the
    * mean-split's buckets skew when the distribution does). Approximate
    * pivots are engine- and sketch-specific, so this query is rows-only
    * checked (no DuckDB twin); the bucket-proportion and boundary
    * semantics are spec-pinned instead. `keep` = middle or better, as in
    * the default. */
  /** Probe dimensions — shared by fit, score, the hash twin and the
    * tolerance checker so the four can never drift. B hashed token
    * buckets + one bias feature at index B; integer features
    * `x[b] = (tf_b·FS) div dl`; ridge λ ≈ FS²/100 keeps the
    * normal-equation matrix well-conditioned far from the data scale. */
  private[graft] val ProbeB = 256
  private[graft] val ProbeFs = 256
  private[graft] val ProbeLambda = 655.0

  /** The distilled label, as one integer-exact SQL expression over the
    * `tc` column: y = 1 iff the stopword token mass is ≤ 1/16 of the
    * document ("low stopword density" — the same heuristic family as
    * q_text_quality, thresholded at the fixture's median so the classes
    * balance). Every comparison is integer, so the label cannot drift
    * cross-engine. */
  private[graft] def probeYSql(tcCol: String = "tc"): String =
    s"IF(16 * aggregate(filter($tcCol, e -> e.term IN ($stopList)), 0L," +
      s" (a, e) -> a + e.tf) <= aggregate($tcCol, 0L, (a, e) -> a + e.tf)," +
      " 1L, 0L)"

  /** q_probe_fit — ONE corpus pass producing the probe's exact-integer
    * sufficient statistics as (i, j, v) rows (dense Gram upper triangle,
    * Xᵀy at j = B+1, n at (B+1, B+1)). The whole fit is a single
    * [[graft.functions.ProbeGramAgg]] ObjectHashAggregate: ~270 KB
    * bounded partials, elementwise merge — the dense-aggregate pattern
    * (term_df, bigram_counts, dsir_counts) extended from counting to
    * MODEL FITTING. Hash-exact DuckDB twin (integer sums commute). */
  private[graft] def probeFit(documents: DataFrame): DataFrame = {
    documents.filter(col("text").isNotNull)
      .select(expr("term_counts(text)").as("tc"))
      .select(col("tc"), expr(probeYSql()).as("y"))
      .agg(expr(s"probe_gram(tc, y, $ProbeB, $ProbeFs)").as("g"))
      .select(explode(col("g")).as("e"))
      .select(col("e.i").as("i"), col("e.j").as("j"), col("e.v").as("v"))
  }

  /** The driver-side ridge solve — (B+1)² doubles of driver state, the
    * same bounded-model contract as the IVF quantizer's k·dim centroids.
    * Plain Cholesky (the ridge guarantees SPD); ~(B+1)³/6 ≈ 2.8M flops
    * at B = 256, microseconds. */
  private[graft] def probeWeights(documents: DataFrame): Array[Double] = {
    val nf = ProbeB + 1
    val a = Array.ofDim[Double](nf, nf)
    val bv = new Array[Double](nf)
    probeFit(documents).collect().foreach { r =>
      val i = r.getInt(0); val j = r.getInt(1); val v = r.getLong(2).toDouble
      if (j <= ProbeB) { a(i)(j) = v; a(j)(i) = v }
      else if (j == ProbeB + 1 && i <= ProbeB) bv(i) = v
    }
    var d = 0
    while (d < nf) { a(d)(d) += ProbeLambda; d += 1 }
    choleskySolve(a, bv)
  }

  private def choleskySolve(a: Array[Array[Double]], b: Array[Double]): Array[Double] = {
    val n = b.length
    val l = Array.ofDim[Double](n, n)
    var i = 0
    while (i < n) {
      var j = 0
      while (j <= i) {
        var s = a(i)(j)
        var k = 0
        while (k < j) { s -= l(i)(k) * l(j)(k); k += 1 }
        if (i == j) l(i)(i) = math.sqrt(s) else l(i)(j) = s / l(j)(j)
        j += 1
      }
      i += 1
    }
    val yv = new Array[Double](n)
    i = 0
    while (i < n) {
      var s = b(i)
      var k = 0
      while (k < i) { s -= l(i)(k) * yv(k); k += 1 }
      yv(i) = s / l(i)(i)
      i += 1
    }
    val x = new Array[Double](n)
    i = n - 1
    while (i >= 0) {
      var s = yv(i)
      var k = i + 1
      while (k < n) { s -= l(k)(i) * x(k); k += 1 }
      x(i) = s / l(i)(i)
      i -= 1
    }
    x
  }

  /** q_probe_score — every document scored by the trained probe,
    * row-locally: the solved weights ride as ONE literal array (no join,
    * no broadcast exchange, no shuffle after the fit pass), and
    * [[graft.functions.ProbeScore]] rebuilds the identical integer
    * features per row. Emits (doc_id, y, score, keep = score ≥ 0.5) so
    * the heuristic label and the model's decision sit side by side — the
    * disagreement rate IS the probe's training error, inspectable in
    * SQL. Tolerance-checked against a numpy re-solve of the same
    * statistics (floats differ in ulps across solvers; declared). */
  private[graft] def probeScore(documents: DataFrame): DataFrame = {
    val docs = documents.filter(col("text").isNotNull)
    val w = probeWeights(docs)
    docs
      .select(col("doc_id"), expr("term_counts(text)").as("tc"))
      .select(col("doc_id"), col("tc"), expr(probeYSql()).as("y"))
      .select(col("doc_id"), col("y"),
        call_function("probe_score", col("tc"), typedLit(w.toSeq),
          lit(ProbeFs)).as("score"))
      .withColumn("keep", col("score") >= 0.5)
  }

  private[graft] def lmFluencyTerciles(documents: DataFrame): DataFrame = {
    val perDoc = fluencyPerDoc(documents)
    val pivots = perDoc.select(
      percentile_approx(col("fluency").cast("double") / col("n_bigrams"),
        array(lit(1.0 / 3), lit(2.0 / 3)), lit(10000)).as("p"))
      .scalar()
    perDoc
      .withColumn("p", pivots)
      .withColumn("avg_score",
        col("fluency").cast("double") / col("n_bigrams"))
      .select(col("doc_id"), col("n_bigrams"), col("fluency"),
        when(col("avg_score") >= col("p").getItem(1), "head")
          .when(col("avg_score") >= col("p").getItem(0), "middle")
          .otherwise("tail").as("bucket"),
        (col("avg_score") >= col("p").getItem(0)).as("keep"))
  }

  /** q_doc_tfidf — per-doc top-5 TF-IDF terms with a ZERO-exchange scoring
    * side. r8 shape: tf stream ⋈ df (AQE broadcast) then a corpus-wide
    * doc_id regroup for the per-doc top-5 — two of the five measured stage
    * floors. r9: the vocabulary (term, df, plus the doc count) rides ONE
    * scalar-subquery aggregate as two sorted parallel arrays, and each
    * document picks its top-5 ROW-LOCALLY via the native
    * [[graft.functions.TfidfTopK]] (binary-search df lookup + bounded
    * k-slot insertion) — no join node, no regroup; the only exchanges left
    * is the vocabulary aggregate's single one: the whole df table (plus
    * n_docs) is built by the [[graft.functions.TermDfAgg]]
    * ObjectHashAggregate — each map task folds its docs into a
    * vocabulary-bounded term→df map, #partitions maps cross the wire once,
    * and the sorted parallel arrays come out of the final merge.
    *
    * r10: the vocabulary scalar can be pruned — `minDf` (1 in the
    * registered query = bit-identical to the unfloored plan, the fixtures
    * and the DuckDB twin) floors df inside [[graft.functions.TermDfAgg]]'s
    * final eval, so the driver never materializes the web-scale typo tail
    * (at `minDf = 2` the hapax majority of a raw-crawl vocabulary never
    * leaves the aggregate). Terms under the floor are absent from the
    * vocabulary and score no TF-IDF entry — the standard min-df contract;
    * `n_docs` still counts every document so surviving IDFs are unchanged. */
  private[graft] def docTfidf(documents: DataFrame,
                              minDf: Long = 1L): DataFrame = {
    require(minDf >= 1L, s"tfidf minDf must be >= 1, got $minDf")
    val docs = documents.filter(col("text").isNotNull)
    val vocab = docs
      .agg(expr(s"term_df(term_counts(text), ${minDf}L)").as("v"))
      .scalar()
    docs
      .select(col("doc_id"), col("text"), vocab.as("v"))
      .select(col("doc_id"), posexplode(expr(
        "tfidf_topk(term_counts(text), v.terms, v.dfs, v.n_docs, 5)"))
        .as(Seq("pos", "t")))
      .select(col("doc_id"), (col("pos") + 1).as("rnk"),
        col("t.term").as("term"), col("t.tf").as("tf"),
        col("t.df").as("df"), col("t.score").as("score"))
  }

  /** The per-document fluency CTE chain (hashed-bigram model, fixed-point
    * scores) — ONE definition feeding the q_lm_fluency hash twin and the
    * q_lm_fluency_terciles tolerance twin, so the model the two compare
    * against cannot drift. */
  private val fluencyPerDocCtes: String =
    """d AS (SELECT doc_id,
                           list_transform(
                             string_split_regex(trim(lower(text)), '\s+'),
                             t -> CAST(md5_number_lower(t)
                                       % 9223372036854775807 AS BIGINT)) AS h
                    FROM documents WHERE text IS NOT NULL),
          bg AS (SELECT doc_id,
                        h[i] % 1024 AS b1,
                        ((h[i] % 65536) * 31 + h[i + 1] % 65536) % 65536 AS b2
                 FROM (SELECT doc_id, h,
                              UNNEST(generate_series(1, len(h) - 1)) AS i
                       FROM d WHERE len(h) >= 2) u),
          c1 AS (SELECT b1, COUNT(*) AS c1 FROM bg GROUP BY b1),
          c2 AS (SELECT b2, COUNT(*) AS c2 FROM bg GROUP BY b2),
          perdoc AS (SELECT doc_id, COUNT(*) AS n_bigrams,
                            SUM(CAST(round((c2 + 1.0) / (c1 + 65536.0)
                                           * 1048576.0) AS BIGINT)) AS fl
                     FROM bg JOIN c1 USING (b1) JOIN c2 USING (b2)
                     GROUP BY doc_id)"""

  /** Tolerance twins for the rows-only-by-design queries (r10): natural
    * DuckDB expressions whose values ARE compared — by
    * `tools/check_tolerance.py` — under explicit tolerances instead of
    * hash equality. Terciles: DuckDB's exact `quantile_disc` pivots stand
    * in for the Greenwald–Khanna sketch; per-doc model columns must match
    * EXACTLY, buckets within a small disagreement budget (docs between the
    * exact and sketched pivot), proportions near thirds. */
  /** q_entropy's pipeline over an arbitrary documents frame — factored
    * (r16) so the property spec exercises the SAME expression chain the
    * registered query runs. */
  private[graft] def entropyOf(docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), explode_outer(expr(
        """transform(array(term_counts(lower(text))), tc -> named_struct(
             'n_tokens', aggregate(tc, 0L, (a, p) -> a + p.tf),
             'n_distinct', CAST(size(tc) AS BIGINT),
             'sclnc', aggregate(tc, CAST(0 AS DOUBLE),
               (a, p) -> a + CAST(p.tf AS DOUBLE) * ln(CAST(p.tf AS DOUBLE)))))"""))
        .as("r"))
      .select(col("doc_id"),
        col("r.n_tokens").as("n_tokens"),
        col("r.n_distinct").as("n_distinct"),
        (log(col("r.n_tokens").cast("double")) -
          col("r.sclnc") / col("r.n_tokens").cast("double")).as("entropy"))

  private[graft] val toleranceOracle: Map[String, String] = Map(
    // q_entropy's natural twin: identical integer counts, the same
    // H = ln(N) − Σc·ln(c)/N — but DuckDB's SUM adds in engine-specific
    // group order and ln is libm, so entropy is value-gated (rel-tol
    // 1e-12) rather than hash-gated; doc_id/n_tokens/n_distinct exact.
    "q_entropy" ->
      """WITH tok AS (SELECT doc_id,
                             string_split_regex(trim(lower(text)), '\s+') AS w
                      FROM documents WHERE text IS NOT NULL),
          ex AS (SELECT doc_id, UNNEST(w) AS t FROM tok),
          tf AS (SELECT doc_id, t, CAST(COUNT(*) AS BIGINT) AS c
                 FROM ex GROUP BY 1, 2),
          agg AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
                         CAST(COUNT(*) AS BIGINT) AS n_distinct,
                         SUM(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)))
                           AS sclnc
                  FROM tf GROUP BY doc_id)
          SELECT doc_id, n_tokens, n_distinct,
                 ln(CAST(n_tokens AS DOUBLE))
                   - sclnc / CAST(n_tokens AS DOUBLE) AS entropy
          FROM agg""",
    // Per-doc integer features + label for the probe — the checker
    // rebuilds X/y in numpy, re-solves the identical ridge system
    // (λ = 655) and compares scores under tolerance (the solve is float;
    // Cholesky-vs-LAPACK differ in ulps).
    "q_probe_score" ->
      s"""WITH tok AS (SELECT doc_id,
                              string_split_regex(trim(lower(text)), '\\s+') AS w
                       FROM documents WHERE text IS NOT NULL),
          dl AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl,
                        CAST(len(list_filter(w, x -> x IN ($stopList)))
                             AS BIGINT) AS nstop
                 FROM tok),
          ex AS (SELECT doc_id, UNNEST(w) AS t FROM tok),
          tf AS (SELECT doc_id,
                        CAST(CAST(md5_number_lower(t) % 9223372036854775807
                                  AS BIGINT) % $ProbeB AS INT) AS b,
                        CAST(COUNT(*) AS BIGINT) AS c
                 FROM ex GROUP BY 1, 2),
          x0 AS (SELECT doc_id, b, (c * $ProbeFs) // dl AS x
                 FROM tf JOIN dl USING (doc_id)),
          x AS (SELECT * FROM x0 WHERE x > 0
                UNION ALL
                SELECT doc_id, $ProbeB AS b, CAST($ProbeFs AS BIGINT) AS x
                FROM dl),
          y AS (SELECT doc_id,
                       CASE WHEN 16 * nstop <= dl THEN 1 ELSE 0 END AS y
                FROM dl)
          SELECT y.doc_id, y.y,
                 list(struct_pack(b := x.b, x := x.x)) AS feats
          FROM x JOIN y USING (doc_id)
          GROUP BY 1, 2""",
    "q_lm_fluency_terciles" ->
      s"""WITH $fluencyPerDocCtes,
          piv AS (SELECT quantile_disc(CAST(fl AS DOUBLE) / n_bigrams,
                                       [1.0/3, 2.0/3]) AS p
                  FROM perdoc)
          SELECT doc_id, n_bigrams, CAST(fl AS BIGINT) AS fluency,
                 CASE WHEN CAST(fl AS DOUBLE) / n_bigrams >= p[2] THEN 'head'
                      WHEN CAST(fl AS DOUBLE) / n_bigrams >= p[1] THEN 'middle'
                      ELSE 'tail' END AS bucket,
                 CAST(fl AS DOUBLE) / n_bigrams >= p[1] AS keep
          FROM perdoc CROSS JOIN piv""")

  val oracle: Map[String, String] = Map(
    // identical selection key (count DESC, w1, w2 — a total order, so
    // the LIMIT boundary cannot disagree) and the identical exact-
    // BIGINT cross-product division
    "q_colloc_lift" ->
      """WITH ws AS (SELECT string_split_regex(trim(lower(text)), '\s+') AS w
                     FROM documents WHERE text IS NOT NULL),
          uni AS (SELECT UNNEST(w) AS t FROM ws),
          un AS (SELECT t, COUNT(*) AS n FROM uni GROUP BY t),
          tot AS (SELECT COUNT(*) AS nn FROM uni),
          bi AS (SELECT UNNEST(list_transform(
                          generate_series(1, len(w) - 1),
                          i -> struct_pack(w1 := w[i], w2 := w[i+1]))) AS b
                 FROM ws WHERE len(w) >= 2),
          bc AS (SELECT b.w1 AS w1, b.w2 AS w2, COUNT(*) AS n_ab
                 FROM bi GROUP BY 1, 2),
          top AS (SELECT w1, w2, n_ab FROM bc
                  ORDER BY n_ab DESC, w1, w2 LIMIT 100)
          SELECT t.w1, t.w2, t.n_ab, a.n AS n_a, b.n AS n_b,
                 CAST(t.n_ab * (SELECT nn FROM tot) AS DOUBLE)
                   / CAST(a.n * b.n AS DOUBLE) AS lift
          FROM top t JOIN un a ON a.t = t.w1 JOIN un b ON b.t = t.w2""",
    // definitional NOT EXISTS dominance — fine at oracle scale; the Spark
    // side's collapse-then-frontier plan is provably the same set
    "q_skyline" ->
      s"""WITH t AS (SELECT doc_id, n_chars,
                            CAST(len(list_filter(
                              string_split_regex(trim(text), '\\s+'),
                              x -> x IN ($stopList))) AS BIGINT) AS n_stop
                     FROM documents)
          SELECT a.doc_id, a.n_chars, a.n_stop
          FROM t a
          WHERE NOT EXISTS (
            SELECT 1 FROM t b
            WHERE b.n_chars >= a.n_chars AND b.n_stop >= a.n_stop
              AND (b.n_chars > a.n_chars OR b.n_stop > a.n_stop))""",
    // The probe's sufficient statistics are integer sums over integer
    // features, so this twin is hash-EXACT — an engine-neutral trained
    // model's fit side, checked to the bit. The densifying range join at
    // the end mirrors the Spark aggregate's dense zero cells.
    "q_probe_fit" ->
      s"""WITH tok AS (SELECT doc_id,
                              string_split_regex(trim(lower(text)), '\\s+') AS w
                       FROM documents WHERE text IS NOT NULL),
          dl AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl,
                        CAST(len(list_filter(w, x -> x IN ($stopList)))
                             AS BIGINT) AS nstop
                 FROM tok),
          ex AS (SELECT doc_id, UNNEST(w) AS t FROM tok),
          tf AS (SELECT doc_id,
                        CAST(CAST(md5_number_lower(t) % 9223372036854775807
                                  AS BIGINT) % $ProbeB AS INT) AS b,
                        CAST(COUNT(*) AS BIGINT) AS c
                 FROM ex GROUP BY 1, 2),
          x0 AS (SELECT doc_id, b, (c * $ProbeFs) // dl AS x
                 FROM tf JOIN dl USING (doc_id)),
          x AS (SELECT * FROM x0 WHERE x > 0
                UNION ALL
                SELECT doc_id, $ProbeB AS b, CAST($ProbeFs AS BIGINT) AS x
                FROM dl),
          y AS (SELECT doc_id,
                       CASE WHEN 16 * nstop <= dl THEN 1 ELSE 0 END AS y
                FROM dl),
          gram AS (SELECT a.b AS i, c.b AS j,
                          CAST(SUM(a.x * c.x) AS BIGINT) AS v
                   FROM x a JOIN x c USING (doc_id) WHERE a.b <= c.b
                   GROUP BY 1, 2),
          xty AS (SELECT a.b AS i, CAST(SUM(a.x * y.y) AS BIGINT) AS v
                  FROM x a JOIN y USING (doc_id) GROUP BY 1),
          cells AS (SELECT i.range AS i, j.range AS j
                    FROM range(0, ${ProbeB + 1}) i, range(0, ${ProbeB + 1}) j
                    WHERE i.range <= j.range)
          SELECT CAST(cells.i AS INT) AS i, CAST(cells.j AS INT) AS j,
                 COALESCE(gram.v, 0) AS v
          FROM cells LEFT JOIN gram ON cells.i = gram.i AND cells.j = gram.j
          UNION ALL
          SELECT CAST(r.range AS INT) AS i, ${ProbeB + 1} AS j,
                 COALESCE(xty.v, 0) AS v
          FROM range(0, ${ProbeB + 1}) r LEFT JOIN xty ON r.range = xty.i
          UNION ALL
          SELECT ${ProbeB + 1} AS i, ${ProbeB + 1} AS j,
                 CAST(COUNT(*) AS BIGINT) AS v
          FROM y""",
    "q_doc_tfidf" ->
      """WITH ws AS (SELECT doc_id,
                            UNNEST(string_split_regex(trim(lower(text)), '\s+')) AS term
                     FROM documents WHERE text IS NOT NULL),
          tf AS (SELECT doc_id, term, COUNT(*) AS tf
                 FROM ws GROUP BY doc_id, term),
          df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
          n AS (SELECT COUNT(*) AS n_docs FROM documents
                WHERE text IS NOT NULL),
          scored AS (SELECT t.doc_id, t.term, t.tf, d.df,
                            CAST(t.tf AS DOUBLE) * n.n_docs / d.df AS score
                     FROM tf t JOIN df d USING (term), n)
          SELECT doc_id, rnk, term, tf, df, score FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                        ORDER BY score DESC, term) AS rnk
            FROM scored) t
          WHERE rnk <= 5""",
    // SELECT DISTINCT over the unnested stream ≡ Spark's in-row
    // array_distinct (a term appears once per doc either way); the CASE
    // sum casts to BIGINT at the source (the HUGEINT trap)
    "q_novelty" ->
      """WITH ws AS (SELECT DISTINCT doc_id, term
                     FROM (SELECT doc_id,
                                  UNNEST(string_split_regex(trim(lower(text)),
                                    '\s+')) AS term
                           FROM documents WHERE text IS NOT NULL) t),
          df AS (SELECT term, COUNT(*) AS df FROM ws GROUP BY 1)
         SELECT doc_id, COUNT(*) AS n_terms,
                CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_unique,
                CAST(CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
                  AS DOUBLE) / COUNT(*) AS novelty
         FROM ws JOIN df USING (term)
         GROUP BY doc_id""",
    // Same hashed-bigram model, fixed-point weights and single-rounded
    // corpus-mean scalar as the Spark side — every comparison that decides
    // a bucket is integer, so the CASE labels cannot drift cross-engine.
    "q_lm_fluency" ->
      s"""WITH $fluencyPerDocCtes,
          tot AS (SELECT CAST(round(CAST(SUM(fl) AS DOUBLE) /
                                    CAST(SUM(n_bigrams) AS DOUBLE))
                              AS BIGINT) AS cm
                  FROM perdoc)
          SELECT doc_id, n_bigrams, CAST(fl AS BIGINT) AS fluency,
                 CASE WHEN fl >= cm * n_bigrams THEN 'head'
                      WHEN fl * 2 >= cm * n_bigrams THEN 'middle'
                      ELSE 'tail' END AS bucket,
                 fl * 2 >= cm * n_bigrams AS keep
          FROM perdoc CROSS JOIN tot""",
    "q_token_count" ->
      """SELECT doc_id,
                len(string_split_regex(trim(text), '\s+')) AS n_tokens,
                len(regexp_extract_all(text, '[a-z]+')) AS n_alpha_runs,
                length(text) AS len_chars, n_chars
         FROM documents""",
    "q_text_quality" ->
      s"""SELECT doc_id, length(text) AS len_chars,
                 len(w) AS n_tokens,
                 len(list_filter(w, x -> x IN ($stopList))) AS n_stop,
                 CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE)
                   / length(text) AS char_density,
                 CAST(length(text) AS DOUBLE) / len(w) AS avg_token_len
          FROM (SELECT doc_id, text,
                       string_split_regex(trim(text), '\\s+') AS w
                FROM documents) t""",
    "q_lang_guess" ->
      s"""SELECT doc_id, lang, en_votes,
                 CASE WHEN en_votes >= 2 THEN 'en' ELSE 'other' END AS guess
          FROM (SELECT doc_id, lang,
                       len(list_filter(string_split_regex(trim(text), '\\s+'),
                         x -> x IN ($stopList))) AS en_votes
                FROM documents) t""",
    "q_fingerprint" ->
      """SELECT doc_id,
                md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
         FROM documents""",
    "q_lang_ngram" -> {
      def hits(lang: String) = LangProfiles(lang)
        .map(g => s"(length(t) - length(replace(t, '$g', ''))) / 2")
        .mkString(" + ")
      s"""SELECT doc_id, en_hits, de_hits, fr_hits,
                 CASE WHEN en_hits >= de_hits AND en_hits >= fr_hits THEN 'en'
                      WHEN de_hits >= fr_hits THEN 'de' ELSE 'fr' END AS guess
          FROM (SELECT doc_id,
                       ${hits("en")} AS en_hits,
                       ${hits("de")} AS de_hits,
                       ${hits("fr")} AS fr_hits
                FROM (SELECT doc_id, lower(text) AS t FROM documents) n) h"""
    },
    "q_bpe_merges" -> {
      val finals = (1 to BpeRounds).map { r =>
        s"""SELECT $r AS round, l AS left_sym, r AS right_sym,
                   l || r AS merged, pair_count FROM m$r"""
      }.mkString("\n          UNION ALL ")
      s"""WITH ${bpeOracleCtes(BpeRounds)}
          $finals"""
    },
    "q_bpe_tokenize" -> {
      // same learned-merge CTE chain, applied per document; double-space
      // word separators keep merges from spanning word boundaries
      def applyCte(r: Int): String = {
        val prev = if (r == 1) "ds" else s"a${r - 1}"
        s"""a$r AS (SELECT doc_id, n_chars,
                    replace(replace(seq,
                        ' ' || m.l || ' ' || m.r || ' ',
                        ' ' || m.l || m.r || ' '),
                        ' ' || m.l || ' ' || m.r || ' ',
                        ' ' || m.l || m.r || ' ') AS seq
                  FROM $prev, m$r m)"""
      }
      s"""WITH ${bpeOracleCtes(BpeRounds)},
          ds AS (SELECT doc_id,
                   ' ' || array_to_string(list_transform(
                       string_split_regex(trim(lower(text)), '\\s+'),
                       w -> array_to_string(list_transform(
                              generate_series(1, length(w)),
                              i -> substring(w, i, 1)), ' ')), '  ') || ' '
                     AS seq,
                   CAST(length(regexp_replace(trim(lower(text)), '\\s+', '', 'g'))
                     AS BIGINT) AS n_chars
                 FROM documents WHERE text IS NOT NULL),
          ${(1 to BpeRounds).map(applyCte).mkString(",\n          ")}
          SELECT doc_id, n_chars,
                 CAST(len(string_split_regex(trim(seq), ' +')) AS BIGINT)
                   AS n_bpe_tokens,
                 CAST(n_chars AS DOUBLE)
                   / CAST(len(string_split_regex(trim(seq), ' +')) AS BIGINT)
                   AS compression
          FROM a$BpeRounds"""
    },
    "q_ngram_stats" ->
      """WITH d AS (SELECT string_split_regex(trim(lower(text)), '\s+') AS w
                    FROM documents WHERE text IS NOT NULL),
          b AS (SELECT UNNEST(list_transform(
                         generate_series(1, len(w) - 1),
                         i -> w[i] || ' ' || w[i + 1])) AS bigram
                FROM d WHERE len(w) >= 2)
          SELECT bigram, COUNT(*) AS cnt FROM b
          GROUP BY bigram ORDER BY cnt DESC, bigram LIMIT 20""",
    "q_multimodal_meta" ->
      """SELECT doc_id, octet_length(encode(text)) AS n_bytes,
                md5(text) AS content_hash, n_chars
         FROM documents""",
    "q_repetition" ->
      """SELECT doc_id,
                len(w) AS n_tokens,
                1.0 - CAST(len(list_distinct(w)) AS DOUBLE) / len(w)
                  AS dup_word_frac,
                CAST(list_max(list_transform(list_distinct(w),
                       x -> len(list_filter(w, y -> y = x)))) AS DOUBLE)
                  / len(w) AS top_token_frac,
                CASE WHEN len(w) >= 2 THEN
                  1.0 - CAST(len(list_distinct(list_transform(
                      generate_series(1, len(w) - 1),
                      i -> w[i] || ' ' || w[i+1]))) AS DOUBLE)
                    / (len(w) - 1)
                END AS dup_bigram_frac
         FROM (SELECT doc_id,
                      string_split_regex(trim(lower(text)), '\s+') AS w
               FROM documents) t""",
    "q_fingerprint_rolling" ->
      """WITH norm AS (SELECT doc_id,
                             lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS t
                      FROM documents),
          ok AS (SELECT doc_id, t, length(t) - 7 AS ng FROM norm
                 WHERE length(t) >= 11),
          pos AS (SELECT doc_id, ng, t,
                         UNNEST(range(1, CAST(ng + 1 AS BIGINT))) AS i
                  FROM ok),
          grams AS (SELECT doc_id, ng, i,
                           CAST(list_sum(list_transform(range(8), j ->
                             CAST(unicode(substr(t, CAST(i + j AS INT), 1)) AS BIGINT) *
                             CAST(power(31, 7 - j) AS BIGINT))) AS BIGINT) AS gh
                    FROM pos),
          win AS (SELECT doc_id, i, ng,
                         MIN(gh) OVER (PARTITION BY doc_id ORDER BY i
                           ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
                  FROM grams)
          SELECT DISTINCT doc_id, fp FROM win WHERE i <= ng - 3"""
  )
}
