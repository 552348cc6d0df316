package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.tables.Tables

/** r16 growth harness (VERDICT r15 #4): pushes the two heaviest families
  * one more doubling than every earlier table — 1×/16×/64× — because
  * these four queries' curves decide the 100 TB story and all prior
  * growth tables stop at 16×:
  *   - the CC dedup chain (q_dedup_clusters / q_cluster_best — the
  *     recursive-CTE monsters on the DuckDB side, 35–50× slower there),
  *   - the candidate-graph pair (q_triangle_count / q_pagerank, whose
  *     16× readings spanned 4.5–6.3× across windows — one more octave
  *     settles variance vs bend).
  *
  * Replication: documents id-offset AND per-copy word-prefixed (the
  * ScaleGrowth scheme — disjoint shingle spaces, so the n× candidate
  * graph is n disjoint copies of the 1× graph and growth measures
  * VOLUME, not engineered bucket skew).
  *
  * The 64× row also runs the CC chain with the broadcast threshold at -1,
  * so star contraction runs to its fixed point instead of handing the
  * contracted graph to the in-memory finish — the distributed path,
  * exercised at the largest scale on record.
  *
  * Run: sbt "Test/runMain graft.ops.R16Growth". Results in PERF.md.
  */
object R16Growth {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.configure(
      SparkSession.builder().master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(spark)

    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "text", "lang", "source", "n_chars")
    val maxDoc = docs.agg(max("doc_id")).head.getLong(0) + 1L
    def docsTimes(n: Int): DataFrame =
      (0 until n).map { c =>
        docs.select((col("doc_id") + lit(c * maxDoc)).as("doc_id"),
          regexp_replace(col("text"), "(\\S+)", s"c${c}_$$1").as("text"),
          col("lang"), col("source"), col("n_chars"))
      }.reduce(_ union _)

    def clustersOf(d: DataFrame): DataFrame =
      DedupQueries.clusterLabels(d.select("doc_id"),
        DedupQueries.lshPairsOf(d).select("doc_a", "doc_b"))

    def clusterBestOf(d: DataFrame): DataFrame = {
      val labels = clustersOf(d)
      val scored = d.select(col("doc_id"),
        (length(regexp_replace(col("text"), "\\s+", "")).cast("double") /
          length(col("text"))).as("quality"))
      scored.join(labels, "doc_id")
        .groupBy("cluster")
        .agg(max(struct(col("quality"), (-col("doc_id")).as("nid"))).as("best"),
          count(lit(1)).as("n_members"))
        .select(col("cluster"), (-col("best.nid")).as("rep_id"),
          col("best.quality").as("quality"), col("n_members"))
    }

    def t(body: => Unit): Double = {
      System.gc()
      val t0 = System.nanoTime()
      body
      val s = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      s
    }

    // warm-up (JIT + codegen), untimed
    clustersOf(docsTimes(1)).queryExecution.toRdd.count()
    clusterBestOf(docsTimes(1)).queryExecution.toRdd.count()
    DedupQueries.triangleStatsOf(
      DedupQueries.lshPairsOf(docsTimes(1))).queryExecution.toRdd.count()
    DedupQueries.pageRankOf(
      DedupQueries.lshPairsOf(docsTimes(1))).queryExecution.toRdd.count()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))

    println(f"${"scale"}%-6s ${"docs"}%8s ${"clusters_s"}%11s " +
      f"${"best_s"}%8s ${"triangle_s"}%11s ${"pagerank_s"}%11s")
    for (n <- Seq(1, 16, 64)) {
      val d = docsTimes(n)
      val nD = d.count()
      val tC = t { clustersOf(d).queryExecution.toRdd.count() }
      val tB = t { clusterBestOf(d).queryExecution.toRdd.count() }
      val tT = t {
        DedupQueries.triangleStatsOf(
          DedupQueries.lshPairsOf(d)).queryExecution.toRdd.count()
      }
      val tR = t {
        DedupQueries.pageRankOf(
          DedupQueries.lshPairsOf(d)).queryExecution.toRdd.count()
      }
      println(f"${n}%-6d ${nD}%8d ${tC}%11.3f ${tB}%8.3f " +
        f"${tT}%11.3f ${tR}%11.3f")
    }

    // the distributed arm: star to its fixed point at 64×
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val d64 = docsTimes(64)
    val tStar = t { clustersOf(d64).queryExecution.toRdd.count() }
    println(f"64x with threshold -1 (star to its fixed point): $tStar%.3f s")
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")

    spark.stop()
  }
}

/** Growth harness for the two r16-born operators, so each ships with its
  * curve (the born-probed convention's growth half): q_substr_dedup over
  * word-prefixed id-offset document copies (disjoint gram spaces — n× is
  * n independent dedup problems, growth measures volume) and
  * q_resample_locf over id-offset event copies (per-user grids are
  * independent; volume grows linearly in users × calendar window).
  * Expectations: substr_dedup linear-ish (gram volume ≈ token volume —
  * the q_repeated_spans account, plus a doc_id rejoin); resample
  * linear-ish in (events + grid ticks).
  *
  * Run: sbt "Test/runMain graft.ops.R16bGrowth". Results in PERF.md.
  */
object R16bGrowth {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.configure(
      SparkSession.builder().master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(spark)

    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "text", "lang", "source", "n_chars")
    val maxDoc = docs.agg(max("doc_id")).head.getLong(0) + 1L
    def docsTimes(n: Int): DataFrame =
      (0 until n).map { c =>
        docs.select((col("doc_id") + lit(c * maxDoc)).as("doc_id"),
          regexp_replace(col("text"), "(\\S+)", s"c${c}_$$1").as("text"),
          col("lang"), col("source"), col("n_chars"))
      }.reduce(_ union _)

    val ev = Tables.events(spark, sfDir)
      .select("user_id", "event_id", "event_type", "ts", "value")
    val maxUser = ev.agg(max("user_id")).head.getLong(0) + 1L
    val maxEvent = ev.agg(max("event_id")).head.getLong(0) + 1L
    def evTimes(n: Int): DataFrame =
      (0 until n).map { c =>
        ev.select((col("user_id") + lit(c * maxUser)).as("user_id"),
          (col("event_id") + lit(c * maxEvent)).as("event_id"),
          col("event_type"), col("ts"), col("value"))
      }.reduce(_ union _)

    def t(body: => Unit): Double = {
      System.gc()
      val t0 = System.nanoTime()
      body
      val s = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      s
    }

    // warm-up, untimed
    CorpusQueries.substrDedupOf(docsTimes(1)).queryExecution.toRdd.count()
    EventQueries.resampleLocfOf(evTimes(1)).queryExecution.toRdd.count()

    println(f"${"scale"}%-6s ${"docs"}%7s ${"substr_s"}%9s " +
      f"${"events"}%8s ${"resample_s"}%11s")
    for (n <- Seq(1, 4, 16)) {
      val d = docsTimes(n)
      val nD = d.count()
      val tS = t {
        CorpusQueries.substrDedupOf(d).queryExecution.toRdd.count() }
      val e = evTimes(n)
      val nE = e.count()
      val tR = t {
        EventQueries.resampleLocfOf(e).queryExecution.toRdd.count() }
      println(f"${n}%-6d ${nD}%7d ${tS}%9.3f ${nE}%8d ${tR}%11.3f")
    }
    spark.stop()
  }
}

/** r16 skew dress rehearsal (VERDICT r15 #5): the event-fold family
  * (scd2 / cdc-merge / sessionize / funnel) budgets per-user state by
  * "arrays bounded by user activity" — this harness engineers the hub
  * case that breaks that budget if it can be broken: ONE user owning 20%
  * of all events (the q_heavy_hitters trigger threshold) at 16× volume,
  * timed against the balanced 16× fixture. Expected: the fold absorbs
  * the hub — per-user cost is LINEAR in that user's events (one sorted
  * array build + one linear pass), so a 20% hub costs ~20% of the
  * corpus in ONE task, the straggler bound, not a blow-up. If a future
  * reading shows super-linear hub cost, the escape hatch is salting the
  * fold by (user_id, day) and re-folding the per-day partials.
  *
  * Run: sbt "Test/runMain graft.ops.R16Skew". Results in PERF.md.
  */
object R16Skew {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.configure(
      SparkSession.builder().master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val ev = Tables.events(spark, sfDir)
      .select("user_id", "event_id", "event_type", "ts", "value")
    val maxUser = ev.agg(max("user_id")).head.getLong(0) + 1L
    val maxEvent = ev.agg(max("event_id")).head.getLong(0) + 1L
    def evTimes(n: Int): DataFrame =
      (0 until n).map { c =>
        ev.select((col("user_id") + lit(c * maxUser)).as("user_id"),
          (col("event_id") + lit(c * maxEvent)).as("event_id"),
          col("event_type"), col("ts"), col("value"))
      }.reduce(_ union _)
    // hub fixture: every 5th event (by id — deterministic, exactly 20%)
    // reassigned to one hub user OUTSIDE the id space
    val hubId = maxUser * 1000L
    def hubOf(e: DataFrame): DataFrame =
      e.withColumn("user_id",
        when(col("event_id") % 5 === 0, lit(hubId)).otherwise(col("user_id")))

    def t(body: => Unit): Double = {
      System.gc()
      val t0 = System.nanoTime()
      body
      val s = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      s
    }

    val folds: Seq[(String, DataFrame => DataFrame)] = Seq(
      "scd2" -> EventQueries.scd2Of,
      "cdc_merge" -> EventQueries.cdcMergeOf,
      "sessionize" -> EventQueries.sessionizeOf,
      "funnel" -> EventQueries.funnelOf)

    // warm-up, untimed
    folds.foreach { case (_, f) =>
      f(evTimes(1)).queryExecution.toRdd.count() }

    val e16 = evTimes(16)
    val h16 = hubOf(e16)
    println(f"${"fold"}%-11s ${"balanced_s"}%11s ${"hub20_s"}%9s ${"ratio"}%7s")
    for ((name, f) <- folds) {
      val tb = t { f(e16).queryExecution.toRdd.count() }
      val th = t { f(h16).queryExecution.toRdd.count() }
      println(f"${name}%-11s ${tb}%11.3f ${th}%9.3f ${th / tb}%7.2f")
    }
    spark.stop()
  }
}
