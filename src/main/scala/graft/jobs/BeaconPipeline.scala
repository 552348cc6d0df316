package graft.jobs

import java.time.{Duration, Instant, LocalDate, ZoneOffset}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.BeaconIO
import graft.model.{BeaconFunctions, BeaconSchemas}
import graft.verify.Checks

/** E8 — the four pipeline entry points (daily/hourly × export/load) as
  * Spark jobs, mirroring the reference DAG factories
  * (`/root/reference/dags/ethereum2etl_airflow/build_export_dag.py`,
  * `build_load_dag.py`, `build_hourly_export_dag.py`,
  * `build_hourly_load_dag.py`).
  *
  * The row source is pluggable ([[BeaconSource]]): production would fetch
  * from a beacon-node HTTP API (A1–A3 are delegated to a client lib in the
  * reference too); tests and this container use a JSONL-fixture source —
  * no network, same dataflow.
  */
trait BeaconSource {
  /** A1 — blocks for an inclusive slot range. */
  def blocks(spark: SparkSession, slotRange: (Long, Long)): DataFrame
  /** A2 — validator snapshots for an inclusive epoch range (hourly DAG
    * passes an explicit range — `build_hourly_export_dag.py:105-124`). */
  def validators(spark: SparkSession, epochRange: (Long, Long)): DataFrame
  /** A2 — the full *current* validator set (the daily DAG passes
    * `start_epoch=None, end_epoch=None` — `build_export_dag.py:135-143`). */
  def validatorsLatest(spark: SparkSession): DataFrame
  /** A3 — committees for an inclusive epoch range. */
  def committees(spark: SparkSession, epochRange: (Long, Long)): DataFrame
}

/** Fixture source: reads pre-staged JSONL (the exporter's exchange format)
  * and filters to the requested range — the integration-test analog of the
  * reference's single-day replay (`/root/reference/README.md:105-117`). */
final class JsonlBeaconSource(baseDir: String) extends BeaconSource {
  def blocks(spark: SparkSession, r: (Long, Long)): DataFrame =
    BeaconIO.readBeaconTable(spark, "beacon_blocks", s"$baseDir/beacon_blocks.json")
      .filter(col("block_slot").between(r._1, r._2))
  private def allValidators(spark: SparkSession): DataFrame =
    BeaconIO.readBeaconTable(spark, "beacon_validators", s"$baseDir/beacon_validators.json")
  def validators(spark: SparkSession, r: (Long, Long)): DataFrame =
    allValidators(spark).filter(col("epoch").between(r._1, r._2))
  def validatorsLatest(spark: SparkSession): DataFrame = {
    val df = allValidators(spark)
    // one-row metadata scan to resolve "current" — the analog of the
    // reference's range-service call, not a data-path collect
    val maxEpoch = df.agg(max("epoch")).collect()(0).getLong(0)
    df.filter(col("epoch") === maxEpoch)
  }
  def committees(spark: SparkSession, r: (Long, Long)): DataFrame =
    BeaconIO.readBeaconTable(spark, "beacon_committees", s"$baseDir/beacon_committees.json")
      .filter(col("epoch").between(r._1, r._2))
}

object BeaconPipeline {

  /** The daily export's validators are the current set (the reference's
    * `start_epoch=None` call, `build_export_dag.py:135-143`), so its
    * warehouse table is replaced whole, always exactly the latest day's
    * snapshot (`build_load_dag.py:82,88-91,127`). */
  private val SnapshotTable = "beacon_validators"

  /** Daily export (`build_export_dag.py`): resolve the date's slot/epoch
    * ranges (A4/A5), pull each entity, and commit each as the directory
    * `export/{table}/block_date=ds` the run owns (A8, `:61-64`), then
    * publish the ranges as sidecars next to the data (`:121-123`). */
  def dailyExport(spark: SparkSession, source: BeaconSource, ds: LocalDate,
                  exportBase: String): Unit = {
    val slots = BeaconFunctions.slotRangeForDate(ds)
    val epochs = BeaconFunctions.epochRangeForSlots(slots)
    def unitDir(table: String) = s"$exportBase/$table/block_date=$ds"
    exportDir(source.blocks(spark, slots), unitDir("beacon_blocks"))
    exportDir(source.validatorsLatest(spark), unitDir(SnapshotTable))
    exportDir(source.committees(spark, epochs), unitDir("beacon_committees"))
    BeaconIO.writeRangeMeta(s"$exportBase/beacon_blocks", ds, "blocks_meta.txt", slots)
    BeaconIO.writeRangeMeta(s"$exportBase/beacon_committees", ds, "epochs_meta.txt", epochs)
  }

  /** Hourly export (`build_hourly_export_dag.py`): hour-clamped ranges
    * (A6/A7) committed under `block_date=ds/hour=HH` (A9), plus the
    * validators dual sink (A10/D6): the hour's snapshot in history and the
    * whole `beacon_validators_latest` directory, unless that holds a newer
    * snapshot (see [[exportLatest]]). */
  def hourlyExport(spark: SparkSession, source: BeaconSource, ds: LocalDate, hour: Int,
                   exportBase: String): Unit = {
    val slots = BeaconFunctions.slotRangeForHour(ds, hour)
    val epochs = BeaconFunctions.epochRangeForSlots(slots)
    def unitDir(table: String) = f"$exportBase/$table/block_date=$ds/hour=$hour%02d"
    exportDir(source.blocks(spark, slots), unitDir("beacon_blocks"))
    exportDir(source.committees(spark, epochs), unitDir("beacon_committees"))
    val validators = source.validators(spark, epochs).cache()
    try {
      exportDir(validators, unitDir("beacon_validators"))
      exportLatest(validators, s"$exportBase/beacon_validators_latest")
    } finally validators.unpersist()
  }

  /** Replace the `latest` export with `snapshot` only if no live one
    * exists or the snapshot's max epoch is at least the live one's: a
    * replay of an earlier hour after a later one (a backfill or a retried
    * run) must not roll `latest` back, and an empty snapshot never
    * replaces a non-empty one. `hourlyLoad` copies this directory, so the
    * warehouse table follows. */
  private def exportLatest(snapshot: DataFrame, dir: String): Unit = {
    val spark = snapshot.sparkSession
    BeaconIO.recover(spark, dir)
    def maxEpoch(df: DataFrame): Option[Long] =
      Option(df.agg(max("epoch")).head().get(0)).map(_.asInstanceOf[Long])
    val live = new Path(dir)
    val liveMax =
      if (!live.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(live)) None
      else maxEpoch(readExport(spark, "beacon_validators", dir))
    if (liveMax.forall(l => maxEpoch(snapshot).exists(_ >= l)))
      BeaconIO.commit(snapshot, dir, format = "json")
  }

  /** Export files are JSONL, the reference's exchange format
    * (`build_load_dag.py:81`). */
  private def exportDir(df: DataFrame, dir: String): Unit = {
    BeaconIO.recover(df.sparkSession, dir)
    BeaconIO.commit(df, dir, format = "json")
  }

  /** Load stage (`build_load_dag.py:76-96`): each table reads only the
    * logical date's export directory (input-path pruned, O(day)) and
    * commits the warehouse partition `block_date=ds` the run owns (see
    * [[commitUnit]]); the validators snapshot replaces its whole table.
    * Then the verify gate (E9). A replay replaces exactly the run's own
    * directories (D5) — semantically WRITE_TRUNCATE per logical date. */
  def load(spark: SparkSession, exportBase: String, warehouseBase: String,
           ds: LocalDate, verify: Boolean = true): Unit = {
    val start = ds.atStartOfDay(ZoneOffset.UTC).toInstant
    for ((table, (_, tsCol)) <- BeaconSchemas.tables) {
      val rows = readExport(spark, table, s"$exportBase/$table/block_date=$ds")
      val dest = s"$warehouseBase/$table"
      if (table == SnapshotTable) {
        BeaconIO.recover(spark, dest)
        BeaconIO.commit(BeaconIO.withBlockDate(rows, tsCol), dest,
          partitionBy = Seq("block_date"))
      } else
        commitUnit(rows, tsCol, s"$dest/block_date=$ds", start, Duration.ofDays(1))
      // read back with the declared schema: robust to an empty partition set
      // (an empty-but-valid logical hour must not crash the load)
      spark.read.schema(partitionedSchema(table)).parquet(dest)
        .createOrReplaceTempView(table)
    }
    if (verify) Checks.runAll(spark, ds.toString)
  }

  /** Hourly load (`build_hourly_load_dag.py:92-152`): per logical hour,
    * read each entity's hour export (input-path pruned — never the full
    * tree) and commit the warehouse partition `block_date=ds/hour=HH` the
    * run owns; validators fill the hourly-history table, and the flat
    * latest export replaces the whole `latest` table (A10/D6, `:138-152`).
    * Then the hourly verify set (blocks_count + blocks_have_latest —
    * `:151-152`; the committees/validators checks are commented out in the
    * reference's hourly DAG). */
  def hourlyLoad(spark: SparkSession, exportBase: String, warehouseBase: String,
                 ds: LocalDate, hour: Int, verify: Boolean = true): Unit = {
    val unit = f"block_date=$ds/hour=$hour%02d"
    val start = ds.atTime(hour, 0).toInstant(ZoneOffset.UTC)
    for ((table, dest) <- Seq("beacon_blocks" -> "beacon_blocks",
        "beacon_committees" -> "beacon_committees",
        "beacon_validators" -> "beacon_validators_hourly")) {
      val (_, tsCol) = BeaconSchemas.tables(table)
      commitUnit(readExport(spark, table, s"$exportBase/$table/$unit"), tsCol,
        s"$warehouseBase/$dest/$unit", start, Duration.ofHours(1))
    }
    val latest = s"$warehouseBase/beacon_validators_latest"
    BeaconIO.recover(spark, latest)
    BeaconIO.commit(
      readExport(spark, "beacon_validators", s"$exportBase/beacon_validators_latest"), latest)

    if (verify) {
      spark.read.schema(hourlySchema("beacon_blocks"))
        .parquet(s"$warehouseBase/beacon_blocks")
        .createOrReplaceTempView("beacon_blocks")
      Checks.blocksCount(spark, ds.toString)
      Checks.blocksHaveLatest(spark, ds.toString)
    }
  }

  /** One export directory, read with the table's declared schema. The
    * reference loads only the `.json` objects of a task's directory
    * (`build_load_dag.py:92`) — the glob is what keeps the A4/A5 meta
    * sidecars out of the rows. */
  private def readExport(spark: SparkSession, table: String, dir: String): DataFrame =
    spark.read.schema(BeaconSchemas.tables(table)._1)
      .option("timestampFormat", BeaconIO.TimestampFormat)
      .option("pathGlobFilter", "*.json")
      .json(dir)

  /** Commit the warehouse partition `dest` of the unit `[start, start +
    * len)` from that unit's export. The export also holds the epoch that
    * straddles into the unit from the previous one — `epochRangeForSlots`
    * covers every epoch whose start slot lies in a unit, so the previous
    * unit's export holds it too — and those rows drop here. Any other row
    * (a NULL timestamp, or one outside both units) fails the load before
    * the swap, leaving the live partition as it was. */
  private def commitUnit(rows: DataFrame, tsCol: String, dest: String,
                         start: Instant, len: Duration): Unit = {
    val ts = col(tsCol)
    def within(from: Instant, to: Instant) =
      coalesce(ts >= lit(from) && ts < lit(to), lit(false))
    BeaconIO.recover(rows.sparkSession, dest)
    BeaconIO.commit(rows.filter(!within(start.minus(len), start)), dest,
      reject = Some(!within(start, start.plus(len))))
  }

  /** Declared schema + the Hive partition columns the warehouse layout adds. */
  private def partitionedSchema(table: String) = {
    val (base, _) = BeaconSchemas.tables(table)
    base.add("block_date", org.apache.spark.sql.types.StringType, nullable = true)
  }

  /** Hourly layout adds an `hour` partition column too. */
  private def hourlySchema(table: String) =
    partitionedSchema(table)
      .add("hour", org.apache.spark.sql.types.StringType, nullable = true)

  /** Single-day replay (the reference's integration test,
    * `README.md:105-117`): export a fixture day then load + verify it. */
  def replayDay(spark: SparkSession, source: BeaconSource, ds: LocalDate,
                workDir: String): Unit = {
    dailyExport(spark, source, ds, s"$workDir/export")
    load(spark, s"$workDir/export", s"$workDir/warehouse", ds)
  }
}
