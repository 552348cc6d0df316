package graft.io

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.model.BeaconSchemas

/** Schema-declared ingest + partitioned publish for the beacon tables.
  *
  * Semantics re-expressed from the reference's load/export stages:
  * - **JSONL load with BQ semantics** (A13): declared schema, unknown JSON
  *   keys silently dropped, missing keys → NULL
  *   (`/root/reference/dags/ethereum2etl_airflow/build_load_dag.py:76-96`;
  *   `ignore_unknown_values=True` at `:83`). Spark's JSON reader does both
  *   natively when given an explicit schema — never schema inference.
  * - **Hive-style date layout** (A8/A9): `block_date=YYYY-MM-DD[/hour=HH]`
  *   (`build_export_dag.py:61-74`, `build_hourly_export_dag.py:63-66`).
  *   The partition column is *materialized from the event timestamp* at
  *   write, so every `DATE(ts) <= d` predicate becomes partition-prunable
  *   (SURVEY.md §4.1 — the design choice that replaces BigQuery's
  *   TimePartitioning and keeps 100 TB scans bounded).
  * - **Idempotent re-runs** (D5): dynamic partition overwrite — a replayed
  *   logical date overwrites exactly its own partitions, the scalable
  *   equivalent of the reference's WRITE_TRUNCATE full reload
  *   (`build_load_dag.py:82`).
  * - **Dual "latest" sink** (A10/D6): history append + full overwrite of a
  *   `latest` path, mirroring `export_path_for_tag(dir, 'latest')`
  *   (`build_hourly_export_dag.py:68-71,143-149`).
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

  /** A8/D5: daily-partitioned publish; re-runs overwrite only the partitions
    * present in `df` (dynamic mode, set by GraftSession). Export stage uses
    * `format="json"` (the reference's exchange format —
    * `build_load_dag.py:81`); warehouse tables use `"parquet"`. */
  def writeDaily(df: DataFrame, tsCol: String, basePath: String,
                 format: String = "json"): Unit =
    withBlockDate(df, tsCol)
      .write.mode(SaveMode.Overwrite)
      .partitionBy("block_date")
      .option("timestampFormat", TimestampWriteFormat)
      .format(format).save(basePath)

  /** A9: hourly layout `block_date=…/hour=HH`. */
  def writeHourly(df: DataFrame, tsCol: String, basePath: String,
                  format: String = "json"): Unit =
    withBlockDateHour(df, tsCol)
      .write.mode(SaveMode.Overwrite)
      .partitionBy("block_date", "hour")
      .option("timestampFormat", TimestampWriteFormat)
      .format(format).save(basePath)

  /** A10: replace the hour's snapshot in history AND fully overwrite the
    * `latest` path — the reference's hourly validators export, where a
    * replayed hour must replace itself. */
  def writeSnapshotWithLatest(df: DataFrame, tsCol: String,
                              historyPath: String, latestPath: String,
                              format: String = "json"): Unit = {
    val cached = df.cache()
    try {
      writeHourly(cached, tsCol, historyPath, format)
      cached.write.mode(SaveMode.Overwrite)
        .option("timestampFormat", TimestampWriteFormat)
        .format(format).save(latestPath)
    } finally cached.unpersist()
  }

  /** Partition-pruned single-date read (`only_last_date` analog,
    * `build_load_dag.py:88-92`): the filter lands on the partition column,
    * so only that date's directories are listed and scanned. */
  def readDate(spark: SparkSession, basePath: String, date: LocalDate): DataFrame =
    spark.read.option("basePath", basePath).parquet(basePath)
      .filter(col("block_date") === lit(date.toString))

  /** A4/A5 — range-metadata sidecar: the reference materializes a date's
    * resolved block/epoch range as a `"start,end"` text file
    * (`blocks_meta.txt`/`epochs_meta.txt`) and uploads it NEXT TO the data
    * (`/root/reference/dags/ethereum2etl_airflow/build_export_dag.py:76-102,121-123`)
    * so downstream consumers can learn the range without scanning. Written
    * through the Hadoop FS connector — works against any scheme. */
  def writeRangeMeta(basePath: String, date: LocalDate, name: String,
                     range: (Long, Long)): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$basePath/block_date=$date/$name")
    val fs = p.getFileSystem(new org.apache.hadoop.conf.Configuration())
    val out = fs.create(p, true)
    try out.write(s"${range._1},${range._2}".getBytes("UTF-8"))
    finally out.close()
  }

  /** Read back a `"start,end"` sidecar (`get_block_range` parse —
    * `build_export_dag.py:83-88`). */
  def readRangeMeta(basePath: String, date: LocalDate, name: String): (Long, Long) = {
    val p = new org.apache.hadoop.fs.Path(s"$basePath/block_date=$date/$name")
    val fs = p.getFileSystem(new org.apache.hadoop.conf.Configuration())
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

  // ---- catalog utilities (A15/A17–A19) ----

  /** A15: namespace creation (`bigquery_utils.py:10-21` analog). */
  def createDatabase(spark: SparkSession, name: String): Unit =
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `$name`")

  /** A18: view create-or-replace (`bigquery_utils.py:78-90`). */
  def createOrReplaceView(spark: SparkSession, name: String, sql: String): Unit =
    spark.sql(s"CREATE OR REPLACE VIEW `$name` AS $sql")

  /** A19: existence probe (`bigquery_utils.py:93-98`). */
  def tableExists(spark: SparkSession, name: String): Boolean =
    spark.catalog.tableExists(name)

  /** A17: ad-hoc query to destination table (`bigquery_utils.py:68-75`). */
  def queryToTable(spark: SparkSession, sql: String, dest: String): Unit =
    spark.sql(sql).write.mode(SaveMode.Overwrite).saveAsTable(dest)
}
