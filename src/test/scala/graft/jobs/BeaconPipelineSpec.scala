package graft.jobs

import org.apache.spark.sql.functions._

import graft.{BeaconFixtures, SparkTestBase}

/** End-to-end single-day replay (SURVEY.md §5.2 item 4, mirroring the
  * reference's bounded integration test `/root/reference/README.md:105-117`):
  * fixture JSONL → daily export (partitioned JSONL) → load (parquet
  * warehouse) → all four verify checks green. */
class BeaconPipelineSpec extends SparkTestBase {

  test("single-day replay: export → load → verify all green (E8)") {
    val work = tmpDir("replay")
    val fixtures = s"$work/fixtures"
    BeaconFixtures.writeDay(fixtures, nSlots = 128, nValidators = 6)
    val source = new JsonlBeaconSource(fixtures)

    BeaconPipeline.replayDay(spark, source, BeaconFixtures.GenesisDay, work)

    // warehouse tables exist, partitioned by block_date, and re-read clean
    val blocks = spark.read.parquet(s"$work/warehouse/beacon_blocks")
    assert(blocks.count() === 128L)
    assert(blocks.columns.contains("block_date"))
    val committees = spark.read.parquet(s"$work/warehouse/beacon_committees")
    assert(committees.select(countDistinct(col("epoch"))).collect()(0).getLong(0) === 4L)
    val validators = spark.read.parquet(s"$work/warehouse/beacon_validators")
    // decimal NUMERIC balances survive the JSONL round-trip exactly
    val bal = validators.agg(max("balance")).collect()(0).getDecimal(0)
    assert(bal.toPlainString === "32000000000.500000000")
  }

  test("replay is idempotent: running the same day twice changes nothing (D5)") {
    val work = tmpDir("replay2")
    val fixtures = s"$work/fixtures"
    BeaconFixtures.writeDay(fixtures, nSlots = 96, nValidators = 4)
    val source = new JsonlBeaconSource(fixtures)

    BeaconPipeline.replayDay(spark, source, BeaconFixtures.GenesisDay, work)
    val first = spark.read.parquet(s"$work/warehouse/beacon_blocks").count()
    BeaconPipeline.replayDay(spark, source, BeaconFixtures.GenesisDay, work)
    val second = spark.read.parquet(s"$work/warehouse/beacon_blocks").count()
    assert(first === second && first === 96L)
  }

  test("range-meta sidecars are published next to the data and parse back (A4/A5)") {
    val work = tmpDir("meta")
    BeaconFixtures.writeDay(s"$work/fixtures", nSlots = 64, nValidators = 3)
    val source = new JsonlBeaconSource(s"$work/fixtures")
    val ds = BeaconFixtures.GenesisDay
    BeaconPipeline.dailyExport(spark, source, ds, s"$work/export")
    assert(graft.io.BeaconIO.readRangeMeta(
      s"$work/export/beacon_blocks", ds, "blocks_meta.txt")
      === graft.model.BeaconFunctions.slotRangeForDate(ds))
    assert(graft.io.BeaconIO.readRangeMeta(
      s"$work/export/beacon_committees", ds, "epochs_meta.txt")
      === graft.model.BeaconFunctions.epochRangeForDate(ds))
  }

  test("validators load truncates stale snapshots; event tables keep history (only_last_date)") {
    val work = tmpDir("trunc")
    BeaconFixtures.writeDay(s"$work/fixtures", nSlots = 64, nValidators = 3)
    val source = new JsonlBeaconSource(s"$work/fixtures")
    val ds = BeaconFixtures.GenesisDay
    BeaconPipeline.replayDay(spark, source, ds, work)
    // plant a stale prior-day partition in both warehouse tables
    for (t <- Seq("beacon_validators", "beacon_blocks")) {
      assert(graft.io.FsTransfer.copyTree(
        s"$work/warehouse/$t/block_date=$ds",
        s"$work/warehouse/$t/block_date=2020-11-30"))
    }
    BeaconPipeline.load(spark, s"$work/export", s"$work/warehouse", ds, verify = false)
    def dates(t: String): Set[String] =
      spark.read.parquet(s"$work/warehouse/$t")
        .select(col("block_date").cast("string")).distinct()
        .collect().map(_.getString(0)).toSet
    // WRITE_TRUNCATE semantics: the snapshot table holds ONLY the logical date
    assert(dates("beacon_validators") === Set(ds.toString))
    // dynamic overwrite: event history outside the replayed date is retained
    assert(dates("beacon_blocks") === Set(ds.toString, "2020-11-30"))
  }

  test("hourly load: hour partitions, validators history + latest, verify green") {
    val work = tmpDir("hourly-load")
    BeaconFixtures.writeDay(s"$work/fixtures", nSlots = 3700, nValidators = 4)
    val source = new JsonlBeaconSource(s"$work/fixtures")
    val ds = BeaconFixtures.GenesisDay
    BeaconPipeline.hourlyExport(spark, source, ds, 12, s"$work/export_hourly")
    BeaconPipeline.hourlyLoad(spark, s"$work/export_hourly", s"$work/warehouse", ds, 12)
    val blocks = spark.read.parquet(s"$work/warehouse/beacon_blocks")
    // genesis is 12:00:23, so hour 12 holds slots 0..floor((3600-23-1)/12)
    assert(blocks.count() === ((3600 - 23) / 12 + 1).toLong)
    assert(blocks.columns.contains("hour"))
    assert(spark.read.parquet(s"$work/warehouse/beacon_validators_hourly").count() > 0)
    // latest = the full current snapshot, WRITE_TRUNCATE overwritten hourly
    assert(spark.read.parquet(s"$work/warehouse/beacon_validators_latest")
      .select("validator_index").distinct().count() === 4L)
    // idempotent replay of the same hour
    BeaconPipeline.hourlyLoad(spark, s"$work/export_hourly", s"$work/warehouse", ds, 12)
    assert(spark.read.parquet(s"$work/warehouse/beacon_blocks").count()
      === ((3600 - 23) / 12 + 1).toLong)
  }

  test("hourly export writes hour partitions and the validators latest sink") {
    val work = tmpDir("hourly-exp")
    val fixtures = s"$work/fixtures"
    BeaconFixtures.writeDay(fixtures, nSlots = 3700, nValidators = 4) // spans 2 days
    val source = new JsonlBeaconSource(fixtures)

    BeaconPipeline.hourlyExport(spark, source, BeaconFixtures.GenesisDay, 12,
      s"$work/export_hourly")
    val blocks = spark.read.option("basePath", s"$work/export_hourly/beacon_blocks")
      .json(s"$work/export_hourly/beacon_blocks")
    assert(blocks.select(col("hour").cast("string")).distinct()
      .collect().map(_.getString(0)).toSeq === Seq("12"))
    // hour 12 of genesis day: first slot is genesis (12:00:23), last before 13:00
    assert(blocks.count() === ((3600 - 23) / 12 + 1).toLong)
    assert(new java.io.File(s"$work/export_hourly/beacon_validators_latest").exists())
  }

  /** Every warehouse table's rows, as sorted strings. */
  private def warehouseRows(wh: String): Map[String, Seq[String]] =
    new java.io.File(wh).listFiles().filter(_.isDirectory).map(_.getName)
      .filterNot(_.startsWith(".")).map { t =>
        t -> spark.read.parquet(s"$wh/$t").collect().map(_.toString).toSeq.sorted
      }.toMap

  private def committeesPerEpoch(wh: String): Map[Long, Long] =
    spark.read.parquet(s"$wh/beacon_committees").groupBy("epoch").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("3 consecutive days from genesis: checks green, sidecars kept, epochs whole") {
    val work = tmpDir("three-days")
    // 340 epochs: all of day 1 (slots 0..3598), all of day 2 and the
    // start of day 3; each later day's export holds the epoch straddling
    // its midnight
    BeaconFixtures.writeDay(s"$work/fixtures", nSlots = 340 * 32, nValidators = 2)
    val source = new JsonlBeaconSource(s"$work/fixtures")
    val days = (0 until 3).map(BeaconFixtures.GenesisDay.plusDays(_))
    for (ds <- days) // load runs every check and throws on a failed one
      BeaconPipeline.replayDay(spark, source, ds, work)
    for (ds <- days) {
      assert(new java.io.File(s"$work/export/beacon_blocks/block_date=$ds/blocks_meta.txt").exists(), ds)
      assert(new java.io.File(s"$work/export/beacon_committees/block_date=$ds/epochs_meta.txt").exists(), ds)
    }
    val perEpoch = committeesPerEpoch(s"$work/warehouse")
    assert(perEpoch.keySet === (0L until 340L).toSet)
    assert(perEpoch.values.toSet === Set(8L), "every epoch keeps all 4 slots × 2 committees")
    assert(spark.read.parquet(s"$work/warehouse/beacon_blocks").count() === 340L * 32)
  }

  test("3 consecutive hours: hour 12 keeps all 80 committees rows") {
    val work = tmpDir("three-hours")
    BeaconFixtures.writeDay(s"$work/fixtures", nSlots = 928, nValidators = 2)
    val source = new JsonlBeaconSource(s"$work/fixtures")
    val ds = BeaconFixtures.GenesisDay
    for (h <- 12 to 14) {
      BeaconPipeline.hourlyExport(spark, source, ds, h, s"$work/export")
      BeaconPipeline.hourlyLoad(spark, s"$work/export", s"$work/warehouse", ds, h)
    }
    // hour 12 = slots 0..297 = epochs 0..9; hour 13's export also holds
    // epoch 9, which starts in hour 12
    val hour12 = spark.read.json(s"$work/export/beacon_committees/block_date=$ds/hour=12")
    assert(hour12.count() === 80L)
    val perEpoch = committeesPerEpoch(s"$work/warehouse")
    assert(perEpoch.keySet === (0L until 29L).toSet)
    assert(perEpoch.values.toSet === Set(8L))
    val perHour = spark.read.parquet(s"$work/warehouse/beacon_committees")
      .groupBy("hour").agg(min("epoch"), max("epoch")).orderBy("hour").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    assert(perHour === Seq((12, 0L, 9L), (13, 10L, 18L), (14, 19L, 28L)))
  }

  test("replaying an earlier unit after a later one leaves the warehouse unchanged") {
    val work = tmpDir("replay-earlier")
    BeaconFixtures.writeDay(s"$work/fixtures", nSlots = 3700, nValidators = 2) // spans 2 days
    val source = new JsonlBeaconSource(s"$work/fixtures")
    val ds = BeaconFixtures.GenesisDay
    val (hourly, daily) = (s"$work/hourly", s"$work/daily")
    for (h <- 12 to 14) {
      BeaconPipeline.hourlyExport(spark, source, ds, h, s"$hourly/export")
      BeaconPipeline.hourlyLoad(spark, s"$hourly/export", s"$hourly/warehouse", ds, h)
    }
    val hours = warehouseRows(s"$hourly/warehouse")
    BeaconPipeline.hourlyLoad(spark, s"$hourly/export", s"$hourly/warehouse", ds, 12)
    assert(warehouseRows(s"$hourly/warehouse") === hours, "hour 12's load replayed")
    // an export replay keeps `latest` at hour 14's snapshot: hour 12's is
    // older, so it does not roll the table back
    BeaconPipeline.hourlyExport(spark, source, ds, 12, s"$hourly/export")
    BeaconPipeline.hourlyLoad(spark, s"$hourly/export", s"$hourly/warehouse", ds, 12)
    assert(warehouseRows(s"$hourly/warehouse") === hours,
      "hour 12 exported and loaded again")
    assert(spark.read.parquet(s"$hourly/warehouse/beacon_validators_latest")
      .agg(max("epoch")).collect()(0).getLong(0) === 28L)

    for (d <- Seq(ds, ds.plusDays(1))) BeaconPipeline.replayDay(spark, source, d, daily)
    val days = warehouseRows(s"$daily/warehouse")
    BeaconPipeline.load(spark, s"$daily/export", s"$daily/warehouse", ds)
    assert(warehouseRows(s"$daily/warehouse") === days, "day 1's load replayed")
    BeaconPipeline.replayDay(spark, source, ds, daily)
    assert(warehouseRows(s"$daily/warehouse") === days, "day 1 exported and loaded again")
  }

  test("a row dated outside the unit fails the load and leaves the live partition") {
    val work = tmpDir("outside-row")
    BeaconFixtures.writeDay(s"$work/fixtures", nSlots = 64, nValidators = 2)
    val ds = BeaconFixtures.GenesisDay
    BeaconPipeline.replayDay(spark, new JsonlBeaconSource(s"$work/fixtures"), ds, work)
    val part = s"$work/warehouse/beacon_blocks/block_date=$ds"
    val before = spark.read.parquet(part).collect().map(_.toString).toSeq.sorted
    val planted = s"$work/export/beacon_blocks/block_date=$ds/planted.json"
    // two days after the unit, then no timestamp at all
    for (line <- Seq(
        """{"block_slot":99999,"block_timestamp":"2020-12-03T00:00:11Z","skipped":true}""",
        """{"block_slot":99999,"skipped":true}""")) {
      BeaconFixtures.write(planted, Seq(line))
      val ex = intercept[IllegalStateException] {
        BeaconPipeline.load(spark, s"$work/export", s"$work/warehouse", ds, verify = false)
      }
      assert(ex.getMessage.contains("1 rows do not belong in"), ex.getMessage)
      assert(spark.read.parquet(part).collect().map(_.toString).toSeq.sorted === before)
      assert(!new java.io.File(graft.io.BeaconIO.sibling(part, "next")).exists())
    }
  }
}
