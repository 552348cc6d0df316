package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Spark work counted for one span, or for a whole pass. */
final class Work {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskMs = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  val taskTimes: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty

  def add(o: Work): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; taskMs += o.taskMs
    inputBytes += o.inputBytes; outputBytes += o.outputBytes
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    taskTimes ++= o.taskTimes
  }

  /** Slowest task over the median task (1.0 = no skew; 0 without tasks). */
  def taskSkew: Double =
    if (taskTimes.isEmpty) 0.0
    else {
      val s = taskTimes.sorted
      s.last.toDouble / math.max(1L, s(s.size / 2))
    }
}

/** A call from the benchmark into one layer of the program. `attrs` carries
  * counts measured by the benchmark itself (files written, rows landed). */
final class Span(val id: Int, val name: String, val parent: Int, val start: Long) {
  var end: Long = -1L
  val work = new Work
  val attrs: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  def seconds: Double = (end - start) / 1e9
}

/** Counts every task of the session into `total`. When a job carries the
  * span property, its stages and tasks are also attributed to that span. */
final class WorkListener extends SparkListener {
  val total = new Work
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private val spanById = new ConcurrentHashMap[Int, Span]()
  private val seenMarkers = ConcurrentHashMap.newKeySet[String]()
  private val jobMarker = new ConcurrentHashMap[Int, String]()

  def register(s: Span): Unit = spanById.put(s.id, s)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty(Trace.MarkerKey))).foreach(jobMarker.put(e.jobId, _))
    val span = props.flatMap(p => Option(p.getProperty(Trace.SpanKey)))
      .flatMap(id => Option(spanById.get(id.toInt)))
    total.synchronized(total.jobs += 1)
    span.foreach { s =>
      s.work.synchronized(s.work.jobs += 1)
      e.stageIds.foreach(stageSpan.put(_, s))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobMarker.remove(e.jobId)).foreach(seenMarkers.add)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    total.synchronized(total.stages += 1)
    Option(stageSpan.get(e.stageInfo.stageId)).foreach(s => s.work.synchronized(s.work.stages += 1))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      def into(w: Work): Unit = w.synchronized {
        w.tasks += 1
        w.taskMs += m.executorRunTime
        w.taskTimes += m.executorRunTime
        w.inputBytes += m.inputMetrics.bytesRead
        w.outputBytes += m.outputMetrics.bytesWritten
        w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
      into(total)
      Option(stageSpan.get(e.stageId)).foreach(s => into(s.work))
    }
  }

  /** Block until every event posted before this call has been delivered:
    * run a marked one-task job and wait for its end event. */
  def drain(sc: SparkContext): Unit = {
    val marker = java.util.UUID.randomUUID().toString
    sc.setLocalProperty(Trace.MarkerKey, marker)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(Trace.MarkerKey, null)
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!seenMarkers.remove(marker)) {
      if (System.nanoTime() > deadline) throw new IllegalStateException("listener did not drain")
      Thread.sleep(2)
    }
  }

  /** Bytes written by every task so far (read after [[drain]]). */
  def bytesWritten: Long = total.synchronized(total.outputBytes)
}

/** Spans around the benchmark's calls into the program. Disabled, a span
  * is just its body; enabled, it records name, start, end and parent and
  * tags the Spark jobs started inside it with its id (a thread-inherited
  * local property, so streaming micro-batches are tagged too). */
final class Trace(sc: SparkContext, listener: WorkListener, val enabled: Boolean) {
  private val recorded = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil

  def spans: Seq[Span] = recorded.toSeq

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(Trace.ids.incrementAndGet(), name, stack.headOption.map(_.id).getOrElse(-1), System.nanoTime())
      recorded += s
      listener.register(s)
      stack = s :: stack
      sc.setLocalProperty(Trace.SpanKey, s.id.toString)
      try body
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Trace.SpanKey, stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Benchmark-side count on the innermost open span. */
  def note(key: String, value: Double): Unit =
    if (enabled) stack.headOption.foreach(s => s.attrs(key) = s.attrs.getOrElse(key, 0.0) + value)

  /** Inclusive work of a span: its own jobs plus its descendants'. */
  def inclusive(s: Span): Work = {
    val w = new Work
    val children = recorded.groupBy(_.parent)
    def walk(x: Span): Unit = { w.add(x.work); children.getOrElse(x.id, Nil).foreach(walk) }
    walk(s)
    w
  }

  /** Write the spans as JSONL: one object per span, times in seconds from
    * the first span's start. */
  def writeJsonl(path: Path): Unit = {
    val t0 = recorded.headOption.map(_.start).getOrElse(0L)
    val lines = recorded.map { s =>
      val w = s.work
      val attrs = s.attrs.map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(",")
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""start_s":${Json.num((s.start - t0) / 1e9)},"end_s":${Json.num((s.end - t0) / 1e9)},""" +
        s""""jobs":${w.jobs},"stages":${w.stages},"tasks":${w.tasks},"task_ms":${w.taskMs},""" +
        s""""input_bytes":${w.inputBytes},"output_bytes":${w.outputBytes},""" +
        s""""shuffle_write_bytes":${w.shuffleWriteBytes},"spill_bytes":${w.spillBytes},""" +
        s""""task_skew":${Json.num(w.taskSkew)},"attrs":{$attrs}}"""
    }
    Files.createDirectories(path.getParent)
    Files.write(path, (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
  }
}

object Trace {
  val SpanKey = "perfbench.span"
  private[perfbench] val ids = new java.util.concurrent.atomic.AtomicInteger()
  val MarkerKey = "perfbench.marker"
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
}
