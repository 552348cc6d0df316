package graft.ops

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}

import graft.{SparkEntry, SparkTestBase}

/** Enforces the PERF.md plan-audit invariants over EVERY registered query —
  * the properties that decide whether a plan survives 100 TB. A regression
  * that reintroduces a cartesian product or an unexpected nested-loop join
  * fails CI, not the next bench read-through.
  */
class PlanAuditSpec extends SparkTestBase {

  private val sfDir = "/root/testdata/sf0.001"

  /** Queries whose BroadcastNestedLoopJoins are intentional and linear:
    * a tiny broadcast side (5 query vectors / 16 centroids / a 1-row
    * grand-total) streamed against the corpus or a #sources-row
    * aggregate — the correct brute-force/assignment/normalization shape.
    * (q_doc_tfidf and q_pack left this set in r8: their 1-row grand
    * totals became scalar subqueries, so no join node remains.) */
  private val allowedBnlj =
    Set("q_cosine_topk", "q_ann_ivf", "q_ivf_kmeans", "q_mix_weights",
      "q_knn_classify",
      // r12: both ride the same broadcast-query non-equi (exclude-self)
      // scoring pass — nq rows broadcast against the corpus scan
      "q_ann_hamming", "q_topk_diverse",
      // r12: tiny broadcast denylist × token stream, length-gated
      // levenshtein predicate — non-equi by design
      "q_fuzzy_match",
      // r12: bounded sources×buckets grid build + the 1-row N_c
      // cross-join — every BNLJ input here is corpus-independent
      "q_dist_drift",
      // r13: the same cosineScored broadcast-query non-equi pass as
      // q_cosine_topk, with a threshold filter before the heap
      "q_hard_negatives",
      // r15: derivedPartsupp's supplier-count rides as a 1-row broadcast
      // cross-join into the part scan — corpus-independent by construction
      "q_tpch_q2", "q_tpch_q9", "q_tpch_q11", "q_tpch_q20",
      // r17: the 1-row unigram-total broadcast cross-join into the
      // 100-row top-bigram stream — both inputs bounded
      "q_colloc_lift",
      // r18: the recall grader embeds the q_cosine_topk truth pass —
      // the same broadcast-query non-equi (exclude-self) scoring join
      "q_ann_recall")

  /** Every node of the physical plan, INCLUDING the subtrees behind
    * `AdaptiveSparkPlanExec` — AQE wrappers are leaves to TreeNode
    * traversal, so a plain `.exists` is blind to everything they wrap
    * (this audit originally missed two nested-loop joins that way). */
  private def nodes(p: SparkPlan): Seq[SparkPlan] =
    p.collect { case n => n }.flatMap {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a +: nodes(a.executedPlan)
      case n => Seq(n)
    }

  private def physical(name: String): Seq[SparkPlan] =
    nodes(SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan)

  test("no registered query plans a CartesianProduct") {
    val offenders = SparkEntry.queries.keys.toSeq.sorted.filter { name =>
      physical(name).exists(_.isInstanceOf[CartesianProductExec])
    }
    assert(offenders.isEmpty, s"cartesian products in: $offenders")
  }

  test("BroadcastNestedLoopJoin appears only where it is the designed shape") {
    val offenders = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(allowedBnlj)
      .filter { name =>
        physical(name).exists(_.isInstanceOf[BroadcastNestedLoopJoinExec])
      }
    assert(offenders.isEmpty, s"unexpected nested-loop joins in: $offenders")
  }

  test("per-row signature queries plan ZERO shuffle exchanges") {
    // the r5/r6 fusions' whole point: MinHash (4-lane AND 64-perm),
    // whole-doc fingerprints, token stats, and norms are work INSIDE the
    // scan — a reintroduced groupBy/repartition on these paths is a
    // regression at any scale (queries using the guarded ScaleOps.spread,
    // e.g. q_simhash/q_lang_ngram/q_fingerprint_rolling, are excluded:
    // spread legitimately exchanges the one-row-group fixture scan)
    val zeroShuffle = Seq("q_minhash_sig", "q_minhash_native",
      "q_fingerprint", "q_token_count", "q_text_quality", "q_lang_guess",
      "q_vector_norms",
      // late r8: denylist scrubbing is pure per-row regex inside the scan
      "q_redact",
      // r16: entropy is one term_counts pass + row-local HOF folds
      "q_entropy")
    val offenders = zeroShuffle.filter { name =>
      physical(name).exists(
        _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec])
    }
    assert(offenders.isEmpty, s"unexpected shuffles in: $offenders")
  }

  test("q_decontaminate probes the benchmark grams via broadcast hash join") {
    // the decontamination scale contract: the benchmark gram set broadcasts
    // (it is small by definition); the corpus side must NOT shuffle into a
    // sort-merge join — at 100 TB that exchange is the whole job cost
    val plan = physical("q_decontaminate")
    assert(plan.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]),
      "expected a BroadcastHashJoin on the gram probe")
    assert(!plan.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.SortMergeJoinExec]),
      "corpus side must not sort-merge on the gram key")
  }

  test("the similarity family plans no window over any scored stream") {
    // VERDICT r5 #2 (q_cosine_topk) and r8 (q_ann_ivf — the family's last
    // WindowExec, cell now packed into the heap's id lane): every top-k is
    // the bounded topk_by aggregate — partial per-partition heaps, k rows
    // per (group, partition) across the shuffle, no sort of the stream.
    // q_bm25/q_hybrid_rrf joined the contract in r8: lexical top-k and the
    // fused cut are the same bounded-heap / TakeOrdered shapes
    for (name <- Seq("q_cosine_topk", "q_ann_lsh", "q_ann_ivf", "q_knn_classify",
        "q_bm25", "q_bm25_multi", "q_hybrid_rrf", "q_hard_negatives")) {
      val plan = physical(name)
      assert(!plan.exists(_.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec]),
        s"$name regressed to a full-stream window top-k")
      assert(plan.exists(
        _.isInstanceOf[org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec]),
        s"$name: expected the topk_by ObjectHashAggregate")
    }
  }

  test("the r14 TPC-H shapes plan genuine semi/anti joins") {
    // q_tpch_q4's EXISTS must stay a LEFT SEMI (a rewrite through
    // inner-join+distinct would double-count multi-late orders only by
    // luck of the dedup); q_tpch_q21 needs BOTH the semi (another
    // supplier participated) and the anti (no other supplier late)
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    def joinTypes(name: String): Seq[String] =
      physical(name).collect { case j: BaseJoinExec => j.joinType.toString }
    assert(joinTypes("q_tpch_q4").contains("LeftSemi"),
      joinTypes("q_tpch_q4").mkString(","))
    val q21 = joinTypes("q_tpch_q21")
    assert(q21.contains("LeftSemi") && q21.contains("LeftAnti"),
      q21.mkString(","))
  }

  test("the r15 partsupp TPC-H shapes plan aggregate-rejoin and semi joins") {
    // q_tpch_q2's correlated min-cost subquery must plan as ONE aggregate
    // + equi-rejoin — never a per-row subquery and never a rank window
    // over the partsupp stream; q_tpch_q20's supplier membership must
    // stay a LEFT SEMI (inner+distinct would explode multi-part excess
    // suppliers before deduping them back).
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val q2 = physical("q_tpch_q2")
    assert(!q2.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec]),
      "q_tpch_q2 regressed to a window min")
    assert(q2.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.aggregate.HashAggregateExec]),
      "q_tpch_q2: expected the min-cost HashAggregate")
    val q20 = physical("q_tpch_q20")
      .collect { case j: BaseJoinExec => j.joinType.toString }
    assert(q20.contains("LeftSemi"), q20.mkString(","))
  }

  test("q_phash_neardup plans no aggregate above the band join") {
    // the r15 diet's contract: cross-band duplicates are rejected by the
    // first-agreeing-band predicate (per-row, pre-shuffle), so the plan
    // must contain NO aggregate at all — a reintroduced distinct() would
    // reappear as a HashAggregate pair exchanging the pair stream, the
    // query's largest relation at scale
    val plan = physical("q_phash_neardup")
    assert(!plan.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.aggregate.HashAggregateExec]),
      "q_phash_neardup regressed to a distinct over the pair stream")
  }

  test("q_budget_sample plans exactly one window and one lookup join") {
    // the r14 diet's contract: ONE corpus-scale WindowExec (the
    // per-(source, shard) exclusive prefix) and ONE join (the broadcast
    // (source, shard, shard_before, alloc) lookup). A second window or
    // join means the offsets/allocation statistics have crept back into
    // the distributed plan (pre-r14 they owned four corpus subtrees).
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val plan = physical("q_budget_sample")
    val wins = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w }
    assert(wins.size == 1 && wins.head.partitionSpec.size == 2,
      s"expected one (source, shard) window, got ${wins.size}")
    val joins = plan.collect { case j: BaseJoinExec => j }
    assert(joins.size == 1, s"expected one lookup join, got ${joins.size}")
  }

  test("the late-r15 shapes keep their scale contracts") {
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
    import org.apache.spark.sql.execution.window.WindowExec
    // q_scd2_history is the fold form: ONE user_id exchange, no
    // fact-side window/sort — a regression to the lag/lead window pair
    // would re-sort the whole log per partition
    val scd = physical("q_scd2_history")
    assert(!scd.exists(_.isInstanceOf[WindowExec]),
      "q_scd2_history regressed to a window form")
    assert(scd.count(_.isInstanceOf[ShuffleExchangeExec]) === 1,
      "q_scd2_history must shuffle exactly once (the user_id fold)")
    // q_anomaly_mad: med/MAD come back as ONE broadcast (never a
    // sort-merge of the facts), and the medians fold row-locally over
    // the collected per-type histogram — NO WindowExec anywhere (the
    // pre-diet form paid four cumulative-window stages, measured at
    // 0.66 s of the 1.05 s total — PERF.md "late-r15 additions")
    val mad = physical("q_anomaly_mad")
    assert(mad.exists(_.isInstanceOf[BroadcastHashJoinExec]),
      "q_anomaly_mad: expected the broadcast (med, mad) lookup")
    assert(!mad.exists(_.isInstanceOf[SortMergeJoinExec]),
      "q_anomaly_mad must not sort-merge the fact stream")
    assert(!mad.exists(_.isInstanceOf[WindowExec]),
      "q_anomaly_mad regressed to cumulative-window medians")
    assert(mad.exists(_.isInstanceOf[HashAggregateExec]),
      "q_anomaly_mad: expected the (type, cents) histogram aggregate")
  }

  test("the closing-r15 shapes keep their scale contracts") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
    // q_cdc_merge: ONE shuffle of the observation log — both sides'
    // latest-row picks live inside the same user-key aggregate, so a
    // regression to a snapshot⋈changelog join would show a second
    // exchange (or a sort-merge join)
    val cdc = physical("q_cdc_merge")
    assert(cdc.count(_.isInstanceOf[ShuffleExchangeExec]) === 1,
      "q_cdc_merge must shuffle exactly once (the user_id fold)")
    assert(!cdc.exists(_.isInstanceOf[SortMergeJoinExec]),
      "q_cdc_merge regressed to a snapshot-join form")
    // q_skyline: the admission set comes back as a broadcast LEFT SEMI;
    // the corpus must never sort-merge
    val sky = physical("q_skyline")
    assert(sky.exists {
      case b: BroadcastHashJoinExec => b.joinType.toString == "LeftSemi"
      case _ => false
    }, "q_skyline: expected the broadcast LeftSemi admission probe")
    assert(!sky.exists(_.isInstanceOf[SortMergeJoinExec]),
      "q_skyline must not sort-merge the corpus")
    // q_concurrency_peak: the carry branch must REUSE the collapsed
    // boundary table's exchange, not re-scan the corpus — AQE only
    // decides stage reuse at runtime, so materialize and read the FINAL
    // adaptive plan (the no-op day_idx null guard in concurrencyPeakOf
    // exists precisely to keep the two subtrees canonically equal; this
    // pin is what fails if someone removes it)
    val cp = SparkEntry.queries("q_concurrency_peak")(spark, sfDir)
    cp.queryExecution.toRdd.count()
    assert(cp.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
      .contains("ReusedExchange"),
      "q_concurrency_peak: carry branch no longer reuses the boundary stage")
    // q_pps_sample makes the same claim: the offset table derives ABOVE
    // the shared shard exchange, so the final plan must reuse that stage
    // (and the offsets' groupBy must NOT plan its own exchange)
    val pps = SparkEntry.queries("q_pps_sample")(spark, sfDir)
    pps.queryExecution.toRdd.count()
    assert(pps.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
      .contains("ReusedExchange"),
      "q_pps_sample: offsets branch no longer reuses the shard stage")
  }

  test("the r16 shapes keep their scale contracts") {
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    import org.apache.spark.sql.execution.window.WindowExec
    // q_substr_dedup: the first-wins pick is min(struct) INSIDE the gram
    // aggregate — a regression to the windowed rank form would put a
    // WindowExec over the corpus-sized gram stream
    val sd = physical("q_substr_dedup")
    assert(!sd.exists(_.isInstanceOf[WindowExec]),
      "q_substr_dedup must pick winners inside the aggregate, not a window")
    // q_resample_locf: the union+window discipline — exactly ONE window
    // (the LOCF carry) and NO join anywhere (grid rows union in; a
    // regression to a per-tick as-of JOIN would multiply rows)
    val rl = physical("q_resample_locf")
    assert(rl.count(_.isInstanceOf[WindowExec]) === 1,
      "q_resample_locf must carry state through exactly one window")
    assert(!rl.exists(_.isInstanceOf[SortMergeJoinExec]) &&
      !rl.exists(_.isInstanceOf[
        org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]),
      "q_resample_locf must not join grid to events")
    // q_group_topn: the per-key top-N comes off the bounded heap
    // aggregate (≤ k rows per group cross the exchange) — a regression
    // to the textbook ROW_NUMBER form would window-sort the corpus
    val gt = physical("q_group_topn")
    assert(!gt.exists(_.isInstanceOf[WindowExec]),
      "q_group_topn must use the heap aggregate, not a window")
  }

  test("the exact-substring family keeps bounded aggregation buffers " +
    "and one shared gram exchange") {
    // r17 (VERDICT r16 #1): the per-gram collect_list was the one
    // unbounded aggregation buffer on the board — a boilerplate gram in
    // 10M docs put 10M structs in ONE buffer. The bounded form derives
    // winners via min(struct)/count (O(1) buffers) and rejoins the
    // occurrence stream on the SAME gram key; both branches hang off one
    // explicit repartition, so the final adaptive plan must REUSE that
    // exchange — the single-corpus-read property the collect_list form
    // had. AQE decides stage reuse at runtime: materialize, then read
    // the final plan.
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.catalyst.expressions.aggregate.CollectList
    for (q <- Seq("q_substr_dedup", "q_repeated_spans")) {
      val df = SparkEntry.queries(q)(spark, sfDir)
      df.queryExecution.toRdd.count()
      // a collect_list keyed by anything but doc_id is the hazard: the
      // per-doc dead-set fold in reassembly stays (bounded by doc
      // length), a gram-keyed one is unbounded by construction
      val offenders = nodes(df.queryExecution.executedPlan).collect {
        case a: BaseAggregateExec if a.aggregateExpressions.exists(
            _.aggregateFunction.isInstanceOf[CollectList]) &&
          !a.groupingExpressions.exists(
            _.references.exists(_.name == "doc_id")) => a.nodeName
      }
      assert(offenders.isEmpty,
        s"$q: a non-doc-keyed collect_list buffer is back: $offenders")
      assert(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
        .contains("ReusedExchange"),
        s"$q: the kill/dup rejoin no longer shares the gram exchange — " +
          "the corpus is being read and hashed twice")
    }
  }

  test("the r18 simjoin diet keeps its plan contracts: predicate dedup " +
    "(no aggregate, no distinct exchange), shared array lookup, one " +
    "corpus read for q_lsh_recall") {
    // r18 (VERDICT r17 #1): q_simjoin_prefix's candidate DISTINCT is
    // replaced by the first-shared-prefix-element predicate and the
    // (doc_id, arr, n, p) table is checkpointed once — so the EXECUTED
    // plan (everything above the checkpoint) must contain NO aggregate
    // of any kind and read only ExistingRDD scans. The two array
    // lookups read the same checkpointed table; at fixture scale both
    // plan as broadcasts and AQE must REUSE the second build.
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    val sj = SparkEntry.queries("q_simjoin_prefix")(spark, sfDir)
    sj.queryExecution.toRdd.count()
    val sjNodes = nodes(sj.queryExecution.executedPlan)
    assert(!sjNodes.exists(_.isInstanceOf[BaseAggregateExec]),
      "an aggregate above the checkpoint means the DISTINCT (or some " +
        "regroup) is back in the candidate stream")
    assert(!sjNodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec]),
      "the executed plan must read the checkpointed arrays, not re-scan " +
        "documents")
    assert(sj.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
      .contains("ReusedExchange"),
      "the two array lookups no longer share one exchange/broadcast")
    // q_lsh_recall: both subplans (exact truth + banded candidates) hang
    // off ONE checkpointed shingle pass — a parquet scan in the executed
    // plan means the corpus is being tokenized twice again
    val lr = SparkEntry.queries("q_lsh_recall")(spark, sfDir)
    lr.queryExecution.toRdd.count()
    assert(!nodes(lr.queryExecution.executedPlan).exists(
      _.isInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec]),
      "q_lsh_recall re-reads documents.parquet — the shared " +
        "shingle_sig_set checkpoint is not feeding both subplans")
  }

  test("filtered parquet scans push their predicates down") {
    // every query that filters the lineitem scan must show PushedFilters
    val scans = physical("q_scan_filter").collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty)
    assert(scans.exists(_.metadata("PushedFilters") != "[]"),
      scans.map(_.metadata("PushedFilters")).mkString("; "))
  }

  test("projected scans prune their read schema") {
    val scan = physical("q_scan_filter").collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.head
    // lineitem has 16 columns; the query projects a handful
    assert(scan.requiredSchema.fields.length < 8,
      scan.requiredSchema.fieldNames.mkString(","))
  }
}
