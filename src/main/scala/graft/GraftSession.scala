package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's required defaults.
  *
  * - UTC session timezone: the reference pipeline is UTC end-to-end
  *   (`/root/reference/dags/ethereum2etl_airflow/build_hourly_export_dag.py:241-242`).
  * - ANSI mode stays at the Spark 4 default (on): the verify stage's
  *   failing-CAST assertion channel
  *   (`/root/reference/dags/ethereum2etl_resources/stages/verify/sqls/blocks_count.sql:11`)
  *   only throws under ANSI semantics; non-ANSI would return NULL and
  *   silently pass a failed check.
  * - `nanosAsLong`: the testdata `events` table stores TIMESTAMP(NANOS)
  *   which the parquet reader otherwise rejects.
  *
  * No write mode is set here: every beacon-table write replaces one
  * directory through [[graft.io.BeaconIO.commit]], so the session's
  * partition-overwrite mode never decides what a write replaces.
  */
object GraftSession {

  /** Mutate an existing builder with graft defaults (callers pick master). */
  def configure(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.extensions", "graft.functions.GraftExtensions")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
    .config("spark.sql.parquet.aggregatePushdown", "true")
    .config("spark.ui.enabled", "false")

  /** Local session for tests/tools; `cores` also sizes shuffle partitions —
    * on a real cluster that conf scales with executor count instead. */
  def local(cores: Int = 4, appName: String = "graft"): SparkSession = {
    val spark = configure(
      SparkSession.builder()
        .master(s"local[$cores]")
        .appName(appName)
        .config("spark.sql.shuffle.partitions", cores))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
