package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{BeaconFixtures, SparkEntry}
import graft.jobs.{BeaconPipeline, JsonlBeaconSource}
import graft.model.{BeaconFunctions, BeaconSchemas}
import graft.streaming.BeaconStreaming
import graft.verify.Checks

/** Shared per-layer aggregation over a traced pass's spans. */
object Layers {
  def byName(t: Trace, name: String): Seq[Span] = t.spans.filter(_.name == name)
  def seconds(t: Trace, name: String): Double = byName(t, name).map(_.seconds).sum
  def work(t: Trace, names: Seq[String]): Work = {
    val w = new Work
    names.flatMap(byName(t, _)).foreach(s => w.add(t.inclusive(s)))
    w
  }
  def attr(t: Trace, name: String, key: String): Double =
    byName(t, name).map(_.attrs.getOrElse(key, 0.0)).sum
}

/** `daily_backfill`: consecutive UTC days from genesis. Each day runs the
  * reference's daily DAG, export → load(verify = false) → the verify
  * checks, called one by one so each check is its own operation; then its
  * streaming arm: the day's validator snapshot lands by atomic move in a
  * watched directory and one `runAvailableNow(dualSink(fileSource(...)))`
  * invocation appends the history and replaces `latest` (D6).
  *
  * Known defect kept visible: from day 2 on, `committees_count` fails. Day
  * d's export carries the epoch that straddles midnight, `writeDaily`
  * partitions it under day d−1, and dynamic overwrite replaces day d−1's
  * export partition with that one epoch; the next load copies the loss into
  * the warehouse. A failure counts as this defect only when the warehouse
  * and the export hold exactly what it predicts. */
final class DailyBackfill(days: Int) extends Workload {
  private var units: Seq[StagedUnit] = Nil
  private val durationKeys =
    Seq("addBatch", "triggerExecution", "queryPlanning", "latestOffset", "walCommit", "commitOffsets")

  def generate(spark: SparkSession, dir: Path, seed: Long): Unit =
    units = BeaconInputs.daily(dir, days, seed)

  /** The program's own genesis-day fixture through the whole DAG. Not a
    * whole pass over the staged days: the timed pass after one catches a
    * varying share of the JIT's work and spreads more. */
  def warmup(c: Ctx): Unit = {
    val fixture = c.dir.resolve("fixture")
    BeaconFixtures.writeDay(fixture.toString)
    day(c, new JsonlBeaconSource(fixture.toString), BeaconFixtures.GenesisDay)
    land(c, fixture.resolve("beacon_validators.json"), 0)
  }

  private val checks: Seq[(String, (SparkSession, String) => Unit)] = Seq(
    "blocks_count" -> Checks.blocksCount,
    "blocks_have_latest" -> Checks.blocksHaveLatest,
    "committees_count" -> Checks.committeesCount)

  /** One day's DAG; returns each check's error, None when it held. */
  private def day(c: Ctx, src: JsonlBeaconSource, ds: LocalDate): Map[String, Option[String]] = {
    val export = c.dir.resolve("export").toString
    val warehouse = c.dir.resolve("warehouse").toString
    c.ops("jobs.dailyExport")(c.trace("jobs.dailyExport") {
      BeaconPipeline.dailyExport(c.spark, src, ds, export)
    })
    c.ops("jobs.load")(c.trace("jobs.load") {
      BeaconPipeline.load(c.spark, export, warehouse, ds, verify = false)
    })
    c.trace("verify.runAll") {
      checks.map { case (check, run) =>
        check -> c.ops.attempt(c.trace(s"verify.$check")(run(c.spark, ds.toString)))
      }.toMap
    }
  }

  /** Land one validator file and run one streaming invocation; returns the
    * rows it read. */
  private def land(c: Ctx, file: Path, i: Int): Long = {
    val stream = c.dir.resolve("stream")
    val landing = stream.resolve("landing")
    val incoming = stream.resolve("incoming")
    Files.createDirectories(landing)
    Files.createDirectories(incoming)
    val staged = incoming.resolve(f"day-$i%04d.json")
    Files.copy(file, staged, StandardCopyOption.REPLACE_EXISTING)
    var rows = 0L
    Files.move(staged, landing.resolve(staged.getFileName), StandardCopyOption.ATOMIC_MOVE)
    c.ops("streaming.invocation")(c.trace("streaming.invocation") {
      val q = BeaconStreaming.runAvailableNow(BeaconStreaming.dualSink(
        BeaconStreaming.fileSource(c.spark, BeaconSchemas.beaconValidators, landing.toString),
        "timestamp", stream.resolve("history").toString, stream.resolve("latest").toString,
        stream.resolve("checkpoint").toString))
      q.awaitTermination()
      val progress = q.recentProgress
      rows = progress.map(_.numInputRows).sum
      c.trace.note("rows", rows.toDouble)
      for (k <- durationKeys)
        c.trace.note(s"${k}_ms",
          progress.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)).sum)
    })
    rows
  }

  def pass(c: Ctx): PassResult = {
    val warehouse = c.dir.resolve("warehouse")
    var landed = 0L
    val times = units.zipWithIndex.map { case (u, i) =>
      val startMs = System.currentTimeMillis()
      var errors = Map.empty[String, Option[String]]
      var rows = 0L
      Harness.gcFence()
      val t = c.timed(c.trace("daily.day") {
        errors = day(c, new JsonlBeaconSource(u.dir.toString), u.date)
        rows = land(c, u.dir.resolve("beacon_validators.json"), i)
      })
      if (c.trace.enabled) {
        val written = Harness.filesWrittenSince(warehouse, startMs)
          .filter(_.getFileName.toString.startsWith("part-"))
        Layers.byName(c.trace, "jobs.load").lastOption.foreach { s =>
          s.attrs("files_written") = written.size.toDouble
          s.attrs("partitions_rewritten") = written.map(_.getParent).distinct.size.toDouble
        }
      }
      verify(c, u, errors)
      val validators = u.rows("beacon_validators")
      landed += validators
      val stream = c.dir.resolve("stream")
      c.ops.expect(rows == validators, s"${u.label}: streaming read $rows rows, landed $validators")
      val latest = c.spark.read.parquet(stream.resolve("latest").toString).count()
      c.ops.expect(latest == validators, s"${u.label}: stream latest holds $latest rows, landed $validators")
      val history = c.spark.read.parquet(stream.resolve("history").toString).count()
      if (history != landed)
        c.ops.fail("streaming.invocation", knownDefect = false,
          s"${u.label}: stream history holds $history rows, landed $landed so far")
      u.label -> t
    }
    PassResult(times, units.map(_.totalRows).sum, units.map(_.totalBytes).sum)
  }

  /** Count the failed checks, then recount the invariants from the
    * warehouse files: every verdict the program gave must match, and the
    * blocks table must be complete. */
  private def verify(c: Ctx, u: StagedUnit, errors: Map[String, Option[String]]): Unit = {
    for ((check, err) <- errors; msg <- err)
      c.ops.fail(s"verify.$check", check == "committees_count" && committeesOverwritten(c, u), msg)
    val verdicts = errors.map { case (check, err) => check -> err.isEmpty }
    val wh = c.dir.resolve("warehouse")
    val ds = u.date.toString
    val b = c.spark.read.parquet(wh.resolve("beacon_blocks").toString)
      .filter(col("block_date") <= ds)
      .agg(max("block_slot"), count(lit(1)), sum(when(col("block_date") === ds, 1).otherwise(0)))
      .collect()(0)
    c.ops.expect(b.getLong(1) == u.expectedBlocks,
      s"$ds: warehouse holds ${b.getLong(1)} blocks, expected ${u.expectedBlocks}")
    c.ops.expect(verdicts.get("blocks_count").contains(b.getLong(0) + 1 == b.getLong(1)),
      s"$ds: blocks_count verdict disagrees with a recount")
    c.ops.expect(verdicts.get("blocks_have_latest").contains(b.getLong(2) > 0),
      s"$ds: blocks_have_latest verdict disagrees with a recount")
    val cm = c.spark.read.parquet(wh.resolve("beacon_committees").toString)
      .filter(to_date(col("epoch_timestamp")) <= ds)
      .agg(max("epoch"), countDistinct("epoch")).collect()(0)
    val holds = !cm.isNullAt(0) && cm.getLong(0) + 1 == cm.getLong(1)
    c.ops.expect(verdicts.get("committees_count").contains(holds),
      s"$ds: committees_count verdict disagrees with a recount")
  }

  /** The committees overwrite's signature after unit `u`'s load. Each
    * earlier day's partition was replaced by the one epoch that straddles
    * into the next day, so the warehouse holds that epoch of every later day
    * plus all of `u`'s epochs, 8 rows each, and each earlier day's export
    * partition has lost its `epochs_meta.txt`. */
  private def committeesOverwritten(c: Ctx, u: StagedUnit): Boolean = {
    val days = units.takeWhile(_ != u) :+ u
    val ranges = days.map(d => BeaconFunctions.epochRangeForDate(d.date))
    val expected = ranges.tail.map(_._1).toSet ++ (ranges.last._1 to ranges.last._2)
    val export = c.dir.resolve("export").resolve("beacon_committees")
    val metaGone = days.init.forall(d => !Files.exists(export.resolve(s"block_date=${d.date}/epochs_meta.txt")))
    val perEpoch = c.spark.read.parquet(c.dir.resolve("warehouse").resolve("beacon_committees").toString)
      .filter(to_date(col("epoch_timestamp")) <= u.date.toString)
      .groupBy("epoch").count().collect()
      .map(r => r.getAs[Number](0).longValue -> r.getLong(1)).toMap
    metaGone && perEpoch.keySet == expected && perEpoch.values.forall(_ == BeaconInputs.CommitteesPerEpoch)
  }

  def summary(passes: Seq[PassResult], bytesWritten: Double): Seq[(String, Double, String)] = Seq(
    ("last_day_s", Stats.median(passes.map(_.unitSeconds.last)), "s"),
    ("write_amp", bytesWritten / passes.head.inputBytes, "x"))

  def layerMetrics(t: Trace): Seq[(String, Double, String)] = {
    val load = Layers.work(t, Seq("jobs.load"))
    Seq(
      ("jobs.dailyExport.s", Layers.seconds(t, "jobs.dailyExport"), "s"),
      ("jobs.load.s", Layers.seconds(t, "jobs.load"), "s"),
      ("jobs.load.input_bytes", load.inputBytes.toDouble, "bytes"),
      ("jobs.load.output_bytes", load.outputBytes.toDouble, "bytes"),
      ("jobs.load.partitions_rewritten", Layers.attr(t, "jobs.load", "partitions_rewritten"), "count"),
      ("jobs.load.files_written", Layers.attr(t, "jobs.load", "files_written"), "count"),
      ("verify.runAll.s", Layers.seconds(t, "verify.runAll"), "s"),
      ("verify.runAll.input_bytes", Layers.work(t, Seq("verify.runAll")).inputBytes.toDouble, "bytes")) ++
      checks.map { case (check, _) => (s"verify.$check.s", Layers.seconds(t, s"verify.$check"), "s") } ++
      Seq(("streaming.invocation.s", Layers.seconds(t, "streaming.invocation"), "s"),
        ("streaming.rows", Layers.attr(t, "streaming.invocation", "rows"), "count")) ++
      durationKeys.map(k => (s"streaming.${k}_ms", Layers.attr(t, "streaming.invocation", s"${k}_ms"), "ms")) ++
      // per-day growth of the load's read and rewrite: O(history)
      Layers.byName(t, "jobs.load").zipWithIndex.groupBy(_._2 % units.size).toSeq.sortBy(_._1)
        .flatMap { case (i, loads) =>
          val spans = loads.map(_._1)
          Seq((s"jobs.load.day${i + 1}.input_bytes", spans.map(t.inclusive(_).inputBytes.toDouble).sum, "bytes"),
            (s"jobs.load.day${i + 1}.partitions_rewritten",
              spans.map(_.attrs.getOrElse("partitions_rewritten", 0.0)).sum, "count"),
            (s"jobs.load.day${i + 1}.s", spans.map(_.seconds).sum, "s"))
        }
  }
}

/** `query_board`: round-robin passes over registered queries covering
  * the eight ops families, on tables generated at scale factor `sf`. Each
  * query is split at its public calls: the query function returns
  * (construct) → `executedPlan` (plan) → `toRdd.count()` (exec). A throw or
  * a row count other than the recorded one is a failed operation. */
final class QueryBoard(sf: Double, expectedRows: Map[String, Long]) extends Workload {
  private var tablesDir: String = ""
  private var inputRows = 0L
  private var inputBytes = 0L

  def generate(spark: SparkSession, dir: Path, seed: Long): Unit = {
    tablesDir = dir.toString
    inputRows = QueryTables.write(spark, QueryTables.generate(sf), tablesDir, seed)
    inputBytes = Harness.filesWrittenSince(dir, 0L).map(Files.size).sum
  }

  /** Three cheap shapes (scan+filter, shuffle aggregate, window) that load
    * the parquet reader, codegen and shuffle machinery. Not a whole pass:
    * the timed pass after one catches a varying share of the JIT's work
    * and spreads more. */
  def warmup(c: Ctx): Unit =
    for (q <- QueryBoard.warmupQueries) {
      SparkEntry.queries(q)(c.spark, tablesDir).queryExecution.toRdd.count()
      unpersistAll(c.spark)
    }

  private def unpersistAll(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

  def pass(c: Ctx): PassResult = {
    val queries = SparkEntry.queries
    val times = QueryBoard.order.map { q =>
      Harness.gcFence()
      val t = c.timed(c.ops(s"ops.$q")(c.trace(s"ops.$q") {
        val df: DataFrame = c.trace(s"ops.$q.construct")(queries(q)(c.spark, tablesDir))
        c.trace(s"ops.$q.plan")(df.queryExecution.executedPlan)
        val n = c.trace(s"ops.$q.exec")(df.queryExecution.toRdd.count())
        if (!expectedRows.get(q).contains(n))
          throw new IllegalStateException(s"$n rows, expected ${expectedRows.getOrElse(q, "no record")}")
      }))
      unpersistAll(c.spark)
      q -> t
    }
    PassResult(times, inputRows, inputBytes)
  }

  def summary(passes: Seq[PassResult], bytesWritten: Double): Seq[(String, Double, String)] = Seq(
    ("geomean_query_s", Stats.geomean(passes.map(_.unitSeconds).transpose.map(Stats.median)), "s"))

  def layerMetrics(t: Trace): Seq[(String, Double, String)] = {
    def phase(qs: Seq[String], p: String) = qs.map(q => Layers.seconds(t, s"ops.$q.$p")).sum
    val families = QueryBoard.families.flatMap { case (fam, qs) =>
      val w = Layers.work(t, qs.map(q => s"ops.$q"))
      Seq(
        (s"ops.$fam.construct_s", phase(qs, "construct"), "s"),
        (s"ops.$fam.plan_s", phase(qs, "plan"), "s"),
        (s"ops.$fam.exec_s", phase(qs, "exec"), "s"),
        (s"ops.$fam.spark_jobs", w.jobs.toDouble, "count"),
        (s"ops.$fam.tasks", w.tasks.toDouble, "count"),
        (s"ops.$fam.shuffle_write_bytes", w.shuffleWriteBytes.toDouble, "bytes"),
        (s"ops.$fam.spill_bytes", w.spillBytes.toDouble, "bytes"),
        (s"ops.$fam.task_skew", w.taskSkew, "ratio"))
    }
    val targets = QueryBoard.targets.flatMap { q =>
      Seq("construct", "plan", "exec").map(p => (s"ops.$q.${p}_s", phase(Seq(q), p), "s"))
    }
    families ++ targets
  }
}

object QueryBoard {
  /** One or two queries of each of the eight ops families, chosen to
    * fit one pass in the run window; see README.md for the full list of 44
    * and why it does not fit. */
  val families: Seq[(String, Seq[String])] = Seq(
    "relational" -> Seq("q_scan_filter", "q_tpch_q1"),
    "dedup" -> Seq("q_dedup_clusters", "q_simjoin_prefix"),
    "similarity" -> Seq("q_cosine_topk"),
    "text" -> Seq("q_doc_tfidf"),
    "multimodal" -> Seq("q_media_phash"),
    "corpus" -> Seq("q_substr_dedup"),
    "retrieval" -> Seq("q_bm25"),
    "event" -> Seq("q_attribution_last"))

  /** Round-robin order: every query once per pass, sorted by name. */
  val order: Seq[String] = families.flatMap(_._2).sorted

  /** Per-query split for the connected-components, prefix-join and guard
    * targets, plus the `q_scan_filter` floor control. */
  val targets: Seq[String] = Seq("q_dedup_clusters", "q_simjoin_prefix", "q_attribution_last",
    "q_scan_filter")

  val warmupQueries: Seq[String] = Seq("q_scan_filter", "q_agg_sum_group", "q_window_rank")

  /** `name<TAB>rows` lines; `#` starts a comment. */
  def readExpected(path: Path): Map[String, Long] =
    scala.io.Source.fromFile(path.toFile, "UTF-8").getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(q, n) = l.split("\\s+"); q -> n.toLong }.toMap
}
