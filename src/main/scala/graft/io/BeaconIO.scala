package graft.io

import java.time.LocalDate
import java.util.concurrent.{CompletionException, Executors}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{classic, Column, DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.model.BeaconSchemas

/** Schema-declared ingest + the one directory commit for the beacon tables.
  *
  * Semantics re-expressed from the reference's load/export stages:
  * - **JSONL load with BQ semantics** (A13): declared schema, unknown JSON
  *   keys silently dropped, missing keys → NULL
  *   (`/root/reference/dags/ethereum2etl_airflow/build_load_dag.py:76-96`;
  *   `ignore_unknown_values=True` at `:83`). Spark's JSON reader does both
  *   natively when given an explicit schema — never schema inference.
  * - **Hive-style date layout** (A8/A9): `block_date=YYYY-MM-DD[/hour=HH]`
  *   (`build_export_dag.py:61-74`, `build_hourly_export_dag.py:63-66`).
  *   Each run owns the directory of its logical date/hour; the warehouse
  *   partition holds the rows whose event timestamp falls in it, so every
  *   `DATE(ts) <= d` predicate is partition-prunable (SURVEY.md §4.1 — the
  *   design choice that replaces BigQuery's TimePartitioning and keeps
  *   100 TB scans bounded).
  * - **Idempotent re-runs** (D5): every write is one [[commit]] of one
  *   directory, a whole new generation swapped in by rename — a replayed
  *   unit replaces exactly the directory it owns and nothing else, the
  *   per-unit form of the reference's WRITE_TRUNCATE
  *   (`build_load_dag.py:82`).
  * - **Dual "latest" sink** (A10/D6): a history directory per unit plus a
  *   whole-directory `latest`, mirroring `export_path_for_tag(dir, 'latest')`
  *   (`build_hourly_export_dag.py:68-71,143-149`).
  * - **Independent per-table jobs at once** ([[inParallel]]): the
  *   reference's export is one task per entity with no edges between them,
  *   and its load one chain per table fanning in to verify
  *   (`build_load_dag.py:142-144`). The daily export, the daily load and
  *   the streaming dual sink submit those jobs together so they share the
  *   executors; each still commits only its own directory. Runs, and the
  *   hourly pipeline's jobs, stay one at a time.
  * - **Facts recorded at commit** ([[Facts]]): a warehouse commit records
  *   what the verify checks ask of the directory (rows, timestamp range,
  *   max key, the exact key set, the data files' names and sizes) in
  *   `_facts.json` inside it, from an Observation on the write job itself.
  *   The checks read those files, not the rows.
  */
object BeaconIO {

  /** ISO timestamp format the exporter emits (BQ loader accepts the same);
    * fraction optional on read, always written on write. */
  val TimestampFormat = "yyyy-MM-dd'T'HH:mm:ss[.SSSSSS]XXX"
  val TimestampWriteFormat = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"

  /** A13/A14: read newline-delimited JSON with a declared schema. */
  def readJsonl(spark: SparkSession, schema: StructType, path: String): DataFrame =
    spark.read
      .schema(schema)
      .option("timestampFormat", TimestampFormat)
      .option("mode", "PERMISSIVE")
      .json(path)

  def readBeaconTable(spark: SparkSession, table: String, path: String): DataFrame = {
    val (schema, _) = BeaconSchemas.tables(table)
    readJsonl(spark, schema, path)
  }

  /** Derive the Hive partition column from the table's partition timestamp. */
  def withBlockDate(df: DataFrame, tsCol: String): DataFrame =
    df.withColumn("block_date", to_date(col(tsCol)).cast("string"))

  def withBlockDateHour(df: DataFrame, tsCol: String): DataFrame =
    withBlockDate(df, tsCol)
      .withColumn("hour", format_string("%02d", hour(col(tsCol))))

  /** A4/A5 — range-metadata sidecar: the reference materializes a date's
    * resolved block/epoch range as a `"start,end"` text file
    * (`blocks_meta.txt`/`epochs_meta.txt`) and uploads it NEXT TO the data
    * (`/root/reference/dags/ethereum2etl_airflow/build_export_dag.py:76-102,121-123`)
    * so downstream consumers can learn the range without scanning. Written
    * through the session's Hadoop configuration, as the data is, so its
    * `spark.hadoop.*` settings (credentials, `fs.<scheme>.impl`) apply. */
  def writeRangeMeta(spark: SparkSession, basePath: String, date: LocalDate,
                     name: String, range: (Long, Long)): Unit = {
    val p = new Path(s"$basePath/block_date=$date/$name")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(s"${range._1},${range._2}".getBytes("UTF-8"))
    finally out.close()
  }

  /** Read back a `"start,end"` sidecar (`get_block_range` parse —
    * `build_export_dag.py:83-88`). */
  def readRangeMeta(spark: SparkSession, basePath: String, date: LocalDate,
                    name: String): (Long, Long) = {
    val p = new Path(s"$basePath/block_date=$date/$name")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    val text =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    text.split(",") match {
      case Array(a, b) => (a.toLong, b.toLong)
      case _ => throw new IllegalArgumentException(
        s"malformed range meta at $p: '$text'")
    }
  }

  // ---- the directory commit (D5) ----

  /** Where [[commit]] stages a generation (`gen = "next"`) and retires the
    * live one (`gen = "old"`): `<parent>/.<name>.<gen>`. The leading dot
    * matters: Spark's file index skips `.`-names, but it lists an `_`-name
    * that contains `=`, and `block_date=X.next` would read as a partition. */
  private[graft] def sibling(path: String, gen: String): String = {
    val p = new Path(path)
    new Path(p.getParent, s".${p.getName}.$gen").toString
  }

  /** Replace the directory `path` with `df`, crash-safely. `df` is written
    * as a complete generation into the `.next` sibling; only then is the
    * live directory touched, and by atomic renames only: retire it to
    * `.old`, promote `.next`, delete `.old`. The one non-atomic step (that
    * delete) touches a retired copy, never the sole complete generation,
    * and [[recover]] heals every window between the steps:
    *   - during the `.next` write → the live generation is untouched;
    *   - after retire, before promote → [[recover]] adopts the complete
    *     `.next` (its `_SUCCESS` marker is the committer's last file);
    *   - `.next` incomplete with the live dir retired → [[recover]]
    *     resurrects `.old`;
    *   - mid-`.old`-delete → the live dir is already the new generation;
    *     the stray `.old` is garbage that the next commit clears.
    * A streaming state table derives each generation from the last, so a
    * micro-batch redelivered after any of these windows must re-merge
    * idempotently (max-struct, hll_union, first-wins union — each pinned
    * by its sliced-replay test).
    *
    * Leftovers at the target are healed before writing: a stray `.old` is
    * deleted and a stale `.next` overwritten. A missing live directory
    * with a retired or complete sibling is refused instead, before
    * anything is touched: a `df` derived from the target read it as
    * missing, and writing it would bury the newer generation —
    * [[recover]] is the heal path.
    *
    * Rows matching `reject` fail the commit before the swap and leave the
    * live directory as it was. They are counted by an Observation on the
    * write job itself, so the check costs no second scan.
    *
    * With `facts`, the same Observation also gathers the directory's
    * [[Facts]], and [[FactsFile]] is written into `.next` after the data
    * and before the swap, so the facts swap in with the data and vanish
    * with it. Its name starts with `_` and holds no `=`, so Spark's file
    * index skips it. One crash window is left to the checks: a crash
    * after the committer's `_SUCCESS` and before the facts write, on a
    * directory with no live generation yet, leaves a complete `.next`
    * without facts that [[recover]] adopts; the checks then fail loudly on
    * that directory until its unit is loaded again.
    *
    * Renames are atomic on HDFS and posix; on a raw object store use a
    * transactional table format, whose swap would live here alone. */
  private[graft] def commit(df: DataFrame, path: String,
                            format: String = "parquet",
                            partitionBy: Seq[String] = Nil,
                            reject: Option[Column] = None,
                            facts: Option[FactSpec] = None): Unit = {
    val live = new Path(path)
    val fs = live.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    val next = new Path(sibling(path, "next"))
    val old = new Path(sibling(path, "old"))
    if (!fs.exists(live) && (fs.exists(old) || fs.exists(new Path(next, "_SUCCESS"))))
      throw new IllegalStateException(
        s"commit: $path is missing while a retired or complete sibling " +
          "generation exists — the caller skipped BeaconIO.recover; " +
          "refusing to overwrite the only complete generation")
    val obs = Observation()
    val metrics = reject.map(r => count(when(r, 1)).as("rejected")).toSeq ++
      facts.toSeq.flatMap(_.metrics)
    (if (metrics.isEmpty) df else df.observe(obs, metrics.head, metrics.tail: _*))
      .write.mode(SaveMode.Overwrite).format(format).partitionBy(partitionBy: _*)
      .option("timestampFormat", TimestampWriteFormat).save(next.toString)
    val observed = if (metrics.isEmpty) Map.empty[String, Any] else obs.get
    val rejected = if (reject.isEmpty) 0L else observed("rejected").asInstanceOf[Long]
    if (rejected > 0) {
      fs.delete(next, true)
      throw new IllegalStateException(
        s"commit: $rejected rows do not belong in $path; it is left as it was")
    }
    for (spec <- facts) Facts.of(spec, observed, dataFiles(fs, next)).write(fs, next)
    // next is complete (the write returned) — swap by renames only
    if (fs.exists(old)) fs.delete(old, true)
    if (fs.exists(live) && !fs.rename(live, old))
      throw new java.io.IOException(s"commit: retire failed: $live -> $old")
    if (!fs.rename(next, live))
      throw new java.io.IOException(s"commit: promote failed: $next -> $live")
    fs.delete(old, true)
  }

  // ---- facts recorded at commit (the verify checks' input) ----

  /** The facts file [[commit]] writes into a directory. */
  private[graft] val FactsFile = "_facts.json"

  /** Spark's file-index rule for names it never reads as data or as
    * partitions (`InMemoryFileIndex.shouldFilterOutPathName`): `.`-names,
    * `_`-names without `=`, and in-flight copies. */
  private[graft] def hidden(name: String): Boolean =
    name.startsWith(".") || (name.startsWith("_") && !name.contains("=")) ||
      name.endsWith("._COPYING_")

  /** The data files under `dir` that Spark's reader would read, as paths
    * relative to `dir` with their sizes; hidden names are skipped at every
    * level, so a stray `.next`/`.old` sibling inside is never entered. */
  private[graft] def dataFiles(fs: FileSystem, dir: Path): Map[String, Long] = {
    def walk(d: Path, prefix: String): Seq[(String, Long)] =
      fs.listStatus(d).toSeq.filterNot(st => hidden(st.getPath.getName)).flatMap { st =>
        val rel = prefix + st.getPath.getName
        if (st.isDirectory) walk(st.getPath, rel + "/") else Seq(rel -> st.getLen)
      }
    walk(dir, "").toMap
  }

  /** What [[commit]] records for the verify checks: `ts` is the
    * partition timestamp, `key` the column whose `MAX` a check compares,
    * and `distinctKeys` whether a check also counts its distinct values. */
  private[graft] final case class FactSpec(ts: String, key: String, distinctKeys: Boolean) {
    /** Observed on the write job. A row with a NULL `ts` is outside every
      * `DATE(ts)` predicate, so it is in no fact; a NULL key is counted in
      * `rows` only. Observations reject `DISTINCT`, so the key set comes
      * from `collect_set`. */
    private[io] def metrics: Seq[Column] = {
      val t = col(ts)
      val k = when(t.isNotNull, col(key))
      Seq(count(t).as("facts_rows"), min(unix_micros(t)).as("facts_min_ts"),
        max(unix_micros(t)).as("facts_max_ts"), max(k).as("facts_max_key")) ++
        (if (distinctKeys) Seq(collect_set(k).as("facts_keys")) else Nil)
    }
  }

  /** One committed directory's facts: the `rows` with a non-NULL
    * timestamp, their timestamp range in epoch microseconds, the largest
    * non-NULL key, the exact non-NULL key set as sorted disjoint closed
    * ranges (when the [[FactSpec]] asked for it), and the data files. */
  private[graft] final case class Facts(rows: Long, tsMicros: Option[(Long, Long)],
                                        maxKey: Option[Long],
                                        keyRanges: Option[Seq[(Long, Long)]],
                                        files: Map[String, Long]) {
    private[io] def write(fs: FileSystem, dir: Path): Unit = {
      val m = new ObjectMapper()
      val o = m.createObjectNode().put("rows", rows)
      tsMicros.foreach { case (lo, hi) => o.put("min_ts", lo).put("max_ts", hi) }
      maxKey.foreach(o.put("max_key", _))
      keyRanges.foreach { rs =>
        val arr = o.putArray("key_ranges")
        rs.foreach { case (lo, hi) => arr.addArray().add(lo).add(hi) }
      }
      val fo = o.putObject("files")
      files.toSeq.sorted.foreach { case (name, len) => fo.put(name, len) }
      val out = fs.create(new Path(dir, FactsFile), true)
      try out.write(m.writeValueAsBytes(o)) finally out.close()
    }
  }

  private[graft] object Facts {
    /** The union of closed ranges, as sorted disjoint closed ranges. */
    def union(ranges: Iterable[(Long, Long)]): Seq[(Long, Long)] =
      ranges.toSeq.sorted.foldLeft(List.empty[(Long, Long)]) {
        case ((lo, hi) :: rest, (a, b)) if a <= hi + 1 => (lo, math.max(hi, b)) :: rest
        case (acc, r) => r :: acc
      }.reverse

    private[io] def of(spec: FactSpec, m: Map[String, Any], files: Map[String, Long]): Facts = {
      def opt(name: String) = Option(m(name)).map(_.asInstanceOf[Long])
      Facts(m("facts_rows").asInstanceOf[Long],
        opt("facts_min_ts").zip(opt("facts_max_ts")),
        opt("facts_max_key"),
        if (spec.distinctKeys)
          Some(union(m("facts_keys").asInstanceOf[scala.collection.Seq[Long]].map(k => (k, k))))
        else None,
        files)
    }

    /** The facts [[commit]] wrote into `dir`; None if it has none. */
    def read(fs: FileSystem, dir: Path): Option[Facts] =
      (try Some(fs.open(new Path(dir, FactsFile)))
       catch { case _: java.io.FileNotFoundException => None }).map { in =>
        val o = try new ObjectMapper().readTree(in) finally in.close()
        def long(field: String) = Option(o.get(field)).map(_.asLong)
        Facts(o.get("rows").asLong, long("min_ts").zip(long("max_ts")), long("max_key"),
          Option(o.get("key_ranges")).map(_.elements().asScala
            .map(r => (r.get(0).asLong, r.get(1).asLong)).toSeq),
          o.get("files").asInstanceOf[ObjectNode].properties().asScala
            .map(e => e.getKey -> e.getValue.asLong).toMap)
      }
  }

  /** Heal [[commit]]'s rename windows at `path`; call it before reading a
    * directory that a crashed run may have left mid-swap, and before
    * deriving a new generation from it. If the live directory is missing:
    * adopt a complete `.next` and drop `.old`, else resurrect `.old`. If
    * it exists, a stray `.old` is garbage from a crash mid-cleanup. */
  private[graft] def recover(spark: SparkSession, path: String): Unit = {
    val live = new Path(path)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val next = new Path(sibling(path, "next"))
    val old = new Path(sibling(path, "old"))
    if (!fs.exists(live)) {
      if (fs.exists(new Path(next, "_SUCCESS"))) {
        if (!fs.rename(next, live))
          throw new java.io.IOException(s"recover: adopt failed: $next -> $live")
        fs.delete(old, true)
      } else if (fs.exists(old)) {
        fs.delete(next, true) // a partial generation is never adopted
        if (!fs.rename(old, live))
          throw new java.io.IOException(s"recover: resurrect failed: $old -> $live")
      }
    } else if (fs.exists(old)) {
      fs.delete(old, true)
    }
  }

  /** Run `bodies` at once and return when every one has finished. Each
    * runs on its own pool thread under the caller's active session, job
    * group, scheduler pool and local properties, so cancelling the group
    * reaches its jobs and listeners attribute them to the caller. The
    * first failure in argument order is rethrown, the others attached to
    * it as suppressed. Callers pass independent bodies that each commit
    * their own directory, so every [[commit]] stays crash-safe alone. */
  private[graft] def inParallel(spark: SparkSession)(bodies: (() => Unit)*): Unit = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val pool = Executors.newFixedThreadPool(bodies.size)
    try {
      val failures = bodies
        .map(body => SQLExecution.withThreadLocalCaptured(session, pool)(body()))
        .flatMap { f =>
          try { f.join(); None }
          catch { case e: CompletionException => Some(e.getCause) }
        }
      for (first <- failures.headOption) {
        failures.tail.foreach(first.addSuppressed)
        throw first
      }
    } finally pool.shutdown()
  }
}
