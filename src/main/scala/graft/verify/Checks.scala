package graft.verify

import org.apache.spark.sql.SparkSession

/** Assertion-query framework (SURVEY.md §2-E E9, §2-B B11).
  *
  * The reference's verify stage renders a SQL file per check and fails the
  * pipeline through a deliberately-failing `CAST('<message>' AS INT64)`
  * (`/root/reference/dags/ethereum2etl_resources/stages/verify/sqls/blocks_count.sql:11`,
  * executed at `/root/reference/dags/ethereum2etl_airflow/build_load_dag.py:109-124`).
  * Spark-first equivalent: `assert_true(cond, msg)` evaluated over the
  * check's single result row — ANSI-clean, carries the reference's exact
  * message strings, and throws before anything downstream publishes.
  */
object Checks {

  /** The check as one single-aggregate SQL (B14 templating): the
    * reference's IF + failing-assert shape over one scan, run via
    * `spark.sql` under ANSI mode. A NULL `MAX` (no rows up to `ds`) makes
    * the IF condition NULL, so the check fails, as in BigQuery. */
  def renderedSql(check: String, ds: String): String = {
    def maxPlusOne(table: String, tsCol: String, key: String, cnt: String,
                   message: String) =
      s"""SELECT IF(MAX($key) + 1 = $cnt, 1, assert_true(false, '$message'))
         |FROM $table WHERE DATE($tsCol) <= '$ds'""".stripMargin
    check match {
      case "blocks_count" =>
        maxPlusOne("beacon_blocks", "block_timestamp", "block_slot", "COUNT(*)",
          s"Total number of beacon blocks is not equal to last block number plus one on $ds")
      case "blocks_have_latest" =>
        s"""SELECT IF(COUNT(*) > 0, 1, assert_true(false, 'There are no blocks on $ds'))
           |FROM beacon_blocks WHERE DATE(block_timestamp) = '$ds'""".stripMargin
      case "committees_count" =>
        maxPlusOne("beacon_committees", "epoch_timestamp", "epoch", "COUNT(DISTINCT epoch)",
          s"Total number of epochs in beacon committees is not equal to last epoch plus one on $ds")
      case "validators_count" =>
        maxPlusOne("beacon_validators", "timestamp", "epoch", "COUNT(DISTINCT epoch)",
          s"Total number of epochs in beacon validators is not equal to last epoch plus one on $ds")
      case other => throw new IllegalArgumentException(s"unknown check: $other")
    }
  }

  // ---- the four reference checks, parameterized on `ds`; the caller
  // registers `beacon_blocks` etc. first. Each is one action on its SQL. ----

  private def run(spark: SparkSession, check: String, ds: String): Unit =
    spark.sql(renderedSql(check, ds)).collect()

  /** blocks_count.sql:1-11 — completeness: MAX(block_slot)+1 = COUNT(*)
    * cumulatively up to ds (holds because skipped slots emit rows too). */
  def blocksCount(spark: SparkSession, ds: String): Unit = run(spark, "blocks_count", ds)

  /** blocks_have_latest.sql:1-6 — freshness: COUNT(*) > 0 on ds exactly. */
  def blocksHaveLatest(spark: SparkSession, ds: String): Unit =
    run(spark, "blocks_have_latest", ds)

  /** committees_count.sql:1-11 — MAX(epoch)+1 = COUNT(DISTINCT epoch). */
  def committeesCount(spark: SparkSession, ds: String): Unit =
    run(spark, "committees_count", ds)

  /** validators_count.sql:1-11 — same invariant over beacon_validators. */
  def validatorsCount(spark: SparkSession, ds: String): Unit =
    run(spark, "validators_count", ds)

  /** Run every wired check for a logical date (the daily DAG wires blocks +
    * committees; validators_count exists but is unwired in the reference —
    * kept available, not in the default set, mirroring
    * `build_hourly_load_dag.py:153-154`). */
  def runAll(spark: SparkSession, ds: String, includeValidators: Boolean = false): Unit = {
    blocksCount(spark, ds)
    blocksHaveLatest(spark, ds)
    committeesCount(spark, ds)
    if (includeValidators) validatorsCount(spark, ds)
  }
}
