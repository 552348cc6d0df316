package graft.verify

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{BeaconFixtures, SparkTestBase}
import graft.io.BeaconIO
import graft.model.BeaconSchemas

/** Verify-stage golden tests (SURVEY.md §5.2 item 3): the four reference
  * checks pass on a clean fixture day and fail with the reference's exact
  * message strings on mutated fixtures. Each fixture table is committed
  * day by day with its facts, as the load commits it. */
class ChecksSpec extends SparkTestBase {

  private val ds = "2020-12-01"

  /** Commit the fixture day's tables (each through its `mutate`) and
    * register them as the checks' views. */
  private def register(nSlots: Int = 128,
                       mutateBlocks: DataFrame => DataFrame = identity,
                       mutateCommittees: DataFrame => DataFrame = identity,
                       mutateValidators: DataFrame => DataFrame = identity): Unit = {
    val dir = tmpDir("checks")
    BeaconFixtures.writeDay(dir, nSlots)
    for ((table, mutate) <- Seq("beacon_blocks" -> mutateBlocks,
        "beacon_committees" -> mutateCommittees, "beacon_validators" -> mutateValidators)) {
      val (schema, tsCol) = BeaconSchemas.tables(table)
      val base = s"$dir/warehouse/$table"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(base))
      commitDaily(mutate(BeaconIO.readBeaconTable(spark, table, s"$dir/$table.json")), tsCol,
        base, Some(Checks.factSpec(table)))
      spark.read.schema(schema).parquet(base).createOrReplaceTempView(table)
    }
  }

  /** The reference message a failed check raised, exactly. */
  private def raised(check: => Unit): String = {
    val e = intercept[SparkThrowable](check)
    assert(e.getCondition === "USER_RAISED_EXCEPTION")
    e.getMessageParameters.get("errorMessage")
  }

  test("all checks pass on a complete fixture day") {
    register()
    Checks.runAll(spark, ds, includeValidators = true)
  }

  test("rendered-SQL form of every check passes too (B14 templating)") {
    register()
    for (c <- Seq("blocks_count", "blocks_have_latest", "committees_count", "validators_count"))
      spark.sql(Checks.renderedSql(c, ds)).collect()
  }

  test("a dropped slot fails blocks_count with the reference message") {
    register(mutateBlocks = _.filter(col("block_slot") =!= 77))
    assert(raised(Checks.blocksCount(spark, ds)) ===
      s"Total number of beacon blocks is not equal to last block number plus one on $ds")
  }

  test("an empty day fails blocks_have_latest with the reference message") {
    register(mutateBlocks = _.filter(to_date(col("block_timestamp")) =!= ds))
    assert(raised(Checks.blocksHaveLatest(spark, ds)) === s"There are no blocks on $ds")
  }

  test("a missing epoch fails committees_count with the reference message") {
    register(mutateCommittees = _.filter(col("epoch") =!= 1))
    assert(raised(Checks.committeesCount(spark, ds)) ===
      s"Total number of epochs in beacon committees is not equal to last epoch plus one on $ds")
  }

  test("a duplicated-but-gappy epoch set fails validators_count") {
    register(mutateValidators = _.withColumn("epoch", when(col("epoch") === 2, 9L).otherwise(col("epoch"))))
    assert(raised(Checks.validatorsCount(spark, ds)) ===
      s"Total number of epochs in beacon validators is not equal to last epoch plus one on $ds")
  }

  test("rendered SQL throws under ANSI assert when the invariant is violated (B11)") {
    register(mutateBlocks = _.filter(col("block_slot") =!= 50))
    val e = intercept[Exception](spark.sql(Checks.renderedSql("blocks_count", ds)).collect())
    assert(e.getMessage.contains("Total number of beacon blocks"))
  }
}
