package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Operation accounting for one run. An operation is a stage call, a
  * verify check, a streaming invocation or a query; it fails when it throws
  * or when its output does not match what the benchmark expects.
  *
  * A failure is "known" when the workload documents it as a defect of the
  * program (see README.md). Known failures still count in `failed`; any
  * other failure, or a benchmark-side consistency check that does not hold,
  * makes the run incorrect. */
final class Ops {
  var attempted = 0L
  var failed = 0L
  val known: mutable.LinkedHashMap[String, Long] = mutable.LinkedHashMap.empty
  val unexpected: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty

  /** Run one operation; its error message when it threw. The caller
    * reports a failure with [[fail]] once it knows whether it is a known
    * defect. */
  def attempt(body: => Unit): Option[String] = {
    attempted += 1
    try { body; None }
    catch { case NonFatal(e) => Some(Option(e.getMessage).getOrElse(e.toString).linesIterator.take(1).mkString) }
  }

  /** Run one operation; a throw is an unexpected failure. */
  def apply(name: String)(body: => Unit): Unit =
    attempt(body).foreach(fail(name, knownDefect = false, _))

  /** Count an operation that failed. */
  def fail(name: String, knownDefect: Boolean, msg: String): Unit = {
    failed += 1
    if (knownDefect) known(name) = known.getOrElse(name, 0L) + 1
    else unexpected += s"$name: $msg"
  }

  /** A benchmark-side check on an output. */
  def expect(cond: Boolean, what: => String): Unit = if (!cond) unexpected += what

  def correct: Boolean = unexpected.isEmpty
}

/** What one pass over a workload's units measured. `unitSeconds` are the
  * timed windows (calls into the program only); benchmark checks, GC fences
  * and cleanup between units are outside them. */
final case class PassResult(units: Seq[(String, Double)], inputRows: Long, inputBytes: Long) {
  def unitSeconds: Seq[Double] = units.map(_._2)
  def seconds: Double = unitSeconds.sum
}

/** Everything a pass needs. `trace` is disabled on untraced passes. */
final class Ctx(val spark: SparkSession, val dir: Path, val trace: Trace, val ops: Ops) {
  def timed(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }
}

trait Workload {
  /** Stage the run's inputs under `dir`. */
  def generate(spark: SparkSession, dir: Path, seed: Long): Unit
  /** Untimed warm-up on a small input: class loading, codegen, JIT. */
  def warmup(c: Ctx): Unit
  def pass(c: Ctx): PassResult
  /** Workload-specific end-to-end figures, printed beside the declared
    * ones: (name, value, unit). `bytesWritten` is the median per pass. */
  def summary(passes: Seq[PassResult], bytesWritten: Double): Seq[(String, Double, String)]
  /** Per-layer metrics of the traced passes: (name, value, unit). */
  def layerMetrics(t: Trace): Seq[(String, Double, String)]
}

object Harness {
  val Cores = 4

  def session(work: Path): SparkSession = {
    val spark = GraftSession.configure(
      SparkSession.builder()
        .master(s"local[$Cores]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", Cores.toString)
        .config("spark.local.dir", work.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.delete(x))
      finally s.close()
    }

  /** Files under `root` modified at or after `sinceMillis` (data files
    * only: Spark's checksum and marker files are skipped). */
  def filesWrittenSince(root: Path, sinceMillis: Long): Seq[Path] =
    if (!Files.exists(root)) Nil
    else {
      val s = Files.walk(root)
      try {
        val it = s.iterator()
        val out = mutable.ArrayBuffer.empty[Path]
        while (it.hasNext) {
          val p = it.next()
          val n = p.getFileName.toString
          if (Files.isRegularFile(p) && !n.startsWith(".") && !n.startsWith("_") &&
              Files.getLastModifiedTime(p).toMillis >= sinceMillis) out += p
        }
        out.toSeq
      } finally s.close()
    }

  private var liveHeapPeak = 0L

  /** Full GC between units, so no unit pays for the previous one's garbage;
    * records the live heap the previous units left behind. */
  def gcFence(): Unit = {
    System.gc()
    liveHeapPeak = math.max(liveHeapPeak,
      java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }

  /** Largest live heap seen by [[gcFence]] since the last reset, in MB. */
  def peakLiveHeapMb: Double = liveHeapPeak / 1048576.0

  def resetPeakLiveHeap(): Unit = liveHeapPeak = 0L

  def processCpuSeconds(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  def jitSeconds(): Double =
    java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1000.0

  def peakRssMb(): Double = {
    val status = new String(Files.readAllBytes(java.nio.file.Paths.get("/proc/self/status")))
    status.linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }
}
