package graft.plans

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.model.BeaconSchemas

class PartitionDateRewriteSpec extends SparkTestBase {

  /** 3 days × 2 rows committed one date partition at a time (parquet so
    * the scan is FileSourceScanExec and partition pruning is observable),
    * partitioned on `tsCol`. */
  private def written(tsCol: String): String = {
    import spark.implicits._
    val rows = for {
      day <- 1 to 3
      slot <- 0 to 1
    } yield (day * 10L + slot, Timestamp.valueOf(f"2020-12-0$day 0$slot:00:00"))
    val df = rows.toDF("block_slot", tsCol)
    val dir = tmpDir(s"pdr-$tsCol")
    commitDaily(df, tsCol, dir)
    dir
  }

  private lazy val base: String = written("block_timestamp")

  private def scanOf(df: DataFrame): FileSourceScanExec = {
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan // pre-execution: the initial physical plan
      case p => p
    }
    plan.collectFirst { case s: FileSourceScanExec => s }.get
  }

  private def read() = spark.read.parquet(base)

  test("DATE(ts) <= d gains a block_date partition filter and prunes (B2)") {
    // every beacon table's partition-source column, not only blocks'
    val tsCols = BeaconSchemas.tables.values.map(_._2).toSeq.sorted
    assert(tsCols === Seq("block_timestamp", "epoch_timestamp", "timestamp"))
    for (tsCol <- tsCols) {
      val df = spark.read.parquet(written(tsCol))
        .filter(to_date(col(tsCol)) <= lit("2020-12-02"))
      val scan = scanOf(df)
      assert(scan.partitionFilters.exists(_.references.exists(_.name == "block_date")),
        s"$tsCol: " + scan.partitionFilters.mkString("; "))
      // physically pruned: only 2 of the 3 date directories are read
      assert(scan.selectedPartitions.partitionCount === 2, tsCol)
      assert(df.count() === 4, tsCol)
    }
  }

  test("DATE(ts) = d prunes to exactly one partition (B3)") {
    val df = read().filter(to_date(col("block_timestamp")) === lit("2020-12-02"))
    assert(scanOf(df).selectedPartitions.partitionCount === 1)
    assert(df.count() === 2)
  }

  test("literal-on-the-left inequality flips correctly") {
    val df = read().filter(lit("2020-12-02").cast("date") <= to_date(col("block_timestamp")))
    assert(scanOf(df).selectedPartitions.partitionCount === 2)
    assert(df.count() === 4)
  }

  test("rewrite changes the plan, not the answer (vs rule disabled)") {
    def run() = read()
      .filter(to_date(col("block_timestamp")) <= lit("2020-12-02"))
      .select("block_slot").collect().map(_.getLong(0)).sorted.toSeq
    val withRule = run()
    spark.conf.set("spark.sql.optimizer.excludedRules", "graft.plans.PartitionDateRewrite")
    try {
      val without = run()
      assert(scanOf(read().filter(to_date(col("block_timestamp")) <= lit("2020-12-02")))
        .selectedPartitions.partitionCount === 3) // no pruning without the rule
      assert(withRule === without)
    } finally spark.conf.unset("spark.sql.optimizer.excludedRules")
  }

  test("the reference's verbatim verify predicate prunes via spark.sql (B2/E9)") {
    spark.read.parquet(base).createOrReplaceTempView("beacon_blocks_pdr")
    val df = spark.sql(
      "SELECT COUNT(*) AS cnt FROM beacon_blocks_pdr WHERE DATE(block_timestamp) <= '2020-12-02'")
    assert(scanOf(df).selectedPartitions.partitionCount === 2)
    assert(df.collect()(0).getLong(0) === 4L)
  }

  test("never fires across a join (block_date and ts from different tables)") {
    import spark.implicits._
    val other = Seq(("2020-12-01", Timestamp.valueOf("2020-12-03 00:00:00")))
      .toDF("block_date", "other_ts")
    // ts column from `read()` side, block_date present on BOTH sides of the
    // join output — the rule must not attach a derived predicate above the
    // join (it only matches relation leaves)
    val joined = read().drop("block_date").crossJoin(other)
      .filter(to_date(col("block_timestamp")) <= lit("2020-12-01"))
    assert(joined.count() === 2) // day 1 rows only; no wrong pruning
  }
}
