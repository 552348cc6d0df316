package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Runs one workload and prints every metric with its unit; the last
  * stdout line is one compact JSON object:
  * `{"correct":…,"attempted":…,"failed":…,"metrics":{name:{"value":…,"unit":…}}}`
  * with every metric measured.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --work <scratch dir> --expected <expected_rows.tsv> --trace-out <dir>
  * }}}
  *
  * Set-up (session start, input generation, warm-up) runs once, cold, as
  * every run of the pipeline pays it; `setup_s` is its time. Then whole
  * passes over the workload's units run closed loop, one client, until
  * `--seconds` have elapsed (at least one pass). With `--trace 1` untraced and traced passes alternate,
  * starting and ending untraced; the per-layer metrics come from the traced
  * passes and `trace.overhead_s` is the median of each traced pass's
  * `pass_s` minus that of the untraced pass after it. */
object Main {
  /** Workload sizes. Daily: the genesis half-day plus full days; query
    * board: scale factor of its tables. */
  val DailyDays = 3
  val QuerySf = 0.001

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workloadName = need("workload")
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val traced = need("trace") == "1"
    val work = Paths.get(need("work")).toAbsolutePath
    val traceOut = Paths.get(need("trace-out")).toAbsolutePath
    val workload: Workload = workloadName match {
      case "daily_backfill" => new DailyBackfill(DailyDays)
      case "query_board" => new QueryBoard(QuerySf, QueryBoard.readExpected(Paths.get(need("expected"))))
      case other => sys.error(s"unknown workload $other")
    }
    Harness.deleteTree(work)
    Files.createDirectories(work)

    // ---- set-up ----
    val t0 = System.nanoTime()
    val spark: SparkSession = Harness.session(work)
    val t1 = System.nanoTime()
    workload.generate(spark, work.resolve("inputs"), seed)
    val t2 = System.nanoTime()
    workload.warmup(new Ctx(spark, work.resolve("warmup"),
      new Trace(spark.sparkContext, new WorkListener, enabled = false), new Ops))
    val t3 = System.nanoTime()
    val (startS, inputGenS, warmupS) = ((t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9)
    Harness.deleteTree(work.resolve("warmup"))
    Harness.resetPeakLiveHeap()

    // ---- measured passes ----
    val listener = new WorkListener
    spark.sparkContext.addSparkListener(listener)
    val ops = new Ops
    val traceAll = new Trace(spark.sparkContext, listener, enabled = true)
    val passWritten = mutable.ArrayBuffer.empty[Double]
    val passes = mutable.ArrayBuffer.empty[(Boolean, PassResult)]
    val passCpu = mutable.ArrayBuffer.empty[Double]
    val passJit = mutable.ArrayBuffer.empty[Double]
    // Whole passes only: another starts while the previous one's length still
    // fits. Traced runs alternate untraced and traced passes, starting and
    // ending untraced: the first pass warms the JVM up, and each traced pass
    // has an untraced one after it.
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var p = 0
    var lastPass = 0L
    def fits(n: Int) = System.nanoTime() + n * lastPass < deadline
    while (p < (if (traced) 3 else 1) || (traced && p % 2 == 0) || fits(if (traced) 2 else 1)) {
      val passStart = System.nanoTime()
      val cpuStart = Harness.processCpuSeconds()
      val jitStart = Harness.jitSeconds()
      val tracing = traced && p % 2 == 1
      val dir = work.resolve(s"pass-$p")
      listener.drain(spark.sparkContext)
      val writtenBefore = listener.bytesWritten
      val trace = if (tracing) traceAll else new Trace(spark.sparkContext, listener, enabled = false)
      val r = workload.pass(new Ctx(spark, dir, trace, ops))
      Harness.gcFence()
      listener.drain(spark.sparkContext)
      passes += (tracing -> r)
      passCpu += Harness.processCpuSeconds() - cpuStart
      passJit += Harness.jitSeconds() - jitStart
      if (!tracing) passWritten += (listener.bytesWritten - writtenBefore).toDouble
      Harness.deleteTree(dir)
      lastPass = System.nanoTime() - passStart
      p += 1
    }
    val untracedPasses = passes.collect { case (false, r) => r }
    val tracedPasses = passes.collect { case (true, r) => r }

    // ---- metrics ----
    def median(xs: Seq[Double]) = Stats.median(xs)
    val passS = median(untracedPasses.map(_.seconds).toSeq)
    val units = untracedPasses.flatMap(_.unitSeconds).toSeq
    val inputRows = untracedPasses.head.inputRows
    val inputBytes = untracedPasses.head.inputBytes
    val endToEnd = Seq(
      ("setup_s", startS + inputGenS + warmupS, "s"),
      ("pass_s", passS, "s"),
      ("unit_p50_s", median(units), "s"),
      ("rows_per_s", inputRows / passS, "rows/s"),
      ("peak_live_heap_mb", Harness.peakLiveHeapMb, "MB"))

    val out = mutable.ArrayBuffer.empty[String]
    def line(name: String, v: Double, unit: String, note: String = ""): Unit =
      out += f"$name%-44s ${Json.num(v)}%s $unit%s$note%s"
    out += s"workload $workloadName seed $seed: ${untracedPasses.size} untraced + ${tracedPasses.size} traced passes, " +
      s"${units.size} timed units, input $inputRows rows / $inputBytes bytes per pass"
    endToEnd.foreach { case (n, v, u) => line(n, v, u) }
    out += f"set-up: session start $startS%.2f s, input generation $inputGenS%.2f s, warm-up $warmupS%.2f s"
    out += "pass_s of each untraced pass: " + untracedPasses.map(r => f"${r.seconds}%.3f").mkString(" ") +
      "; process CPU s of each pass: " + passCpu.map(c => f"$c%.2f").mkString(" ") +
      "; JIT compile s of each pass: " + passJit.map(c => f"$c%.2f").mkString(" ")
    untracedPasses.flatMap(_.units).groupBy(_._1).toSeq.sortBy(_._1).foreach { case (label, xs) =>
      out += f"  unit $label%-28s median ${median(xs.map(_._2).toSeq)}%.3f s over ${xs.size}"
    }
    Stats.tail(units) match {
      case Some((v, pct)) => line("unit_tail_s", v, "s", f" (p$pct%.1f of ${units.size} units)")
      case None => out += s"unit_tail_s: fewer than 11 units (${units.size}); no percentile has 10 beyond it"
    }
    workload.summary(untracedPasses.toSeq, median(passWritten.toSeq)).foreach { case (n, v, u) => line(n, v, u) }
    line("peak_rss_mb", Harness.peakRssMb(), "MB")
    line("fail_ratio", if (ops.attempted == 0) 0.0 else ops.failed.toDouble / ops.attempted, "",
      s" (${ops.failed} of ${ops.attempted} operations)")
    ops.known.foreach { case (op, n) => out += s"known defect: $op failed $n times (see perfbench/README.md)" }
    ops.unexpected.take(50).foreach(u => out += s"UNEXPECTED: $u")

    val layer: Seq[(String, Double, String)] =
      if (!traced) Nil
      else {
        val t = traceAll
        val roots = t.spans.filter(_.parent == -1)
        val w = new Work
        roots.foreach(s => w.add(t.inclusive(s)))
        // the untraced pass after a traced one is at least as warm, so the
        // difference overstates the overhead rather than hiding it
        val overhead = median(passes.indices.collect { case j if passes(j)._1 =>
          passes(j)._2.seconds - passes(j + 1)._2.seconds
        })
        val n = tracedPasses.size.toDouble
        val perPass = Seq(
          ("session.start_s", startS, "s"),
          ("session.input_gen_s", inputGenS, "s"),
          ("session.warmup_s", warmupS, "s"),
          ("sources.read_bytes", w.inputBytes / n, "bytes"),
          ("io.output_bytes", w.outputBytes / n, "bytes"),
          ("spark.jobs", w.jobs / n, "count"),
          ("spark.stages", w.stages / n, "count"),
          ("spark.tasks", w.tasks / n, "count"),
          ("spark.task_s", w.taskMs / 1000.0 / n, "s"),
          ("spark.task_skew", w.taskSkew, "ratio"),
          ("spark.shuffle_write_bytes", w.shuffleWriteBytes / n, "bytes"),
          ("spark.spill_bytes", w.spillBytes / n, "bytes"),
          ("trace.spans", t.spans.size / n, "count"),
          ("trace.overhead_s", overhead, "s"))
        val specific = workload.layerMetrics(t).map { case (name, v, u) =>
          (name, if (u == "ratio") v else v / n, u)
        }
        t.writeJsonl(traceOut.resolve(s"$workloadName-seed$seed.spans.jsonl"))
        perPass ++ specific
      }
    if (traced) {
      out += "-- per layer (traced passes; per pass) --"
      layer.foreach { case (n, v, u) => line(n, v, u) }
    }

    // every metric measured; the runner keeps the ones BENCHMARK.json declares
    val metrics = (endToEnd ++ layer).map { case (n, v, u) =>
      s""""$n":{"value":${Json.num(v)},"unit":"$u"}"""
    }.mkString(",")
    out.foreach(println)
    println(s"""{"correct":${ops.correct},"attempted":${ops.attempted},"failed":${ops.failed},"metrics":{$metrics}}""")
    spark.stop()
    Harness.deleteTree(work)
    System.exit(0)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it, and that
    * percentile; None below 11 samples. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    if (xs.size < 11) None
    else {
      val s = xs.sorted
      val k = s.size - 11
      Some((s(k), 100.0 * (k + 1) / s.size))
    }

  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)
}
