package graft.verify

import java.time.LocalDate

import org.apache.hadoop.fs.{FileSystem, FileUtil, Path}
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.{BeaconFixtures, SparkTestBase}
import graft.io.BeaconIO
import graft.jobs.{BeaconPipeline, JsonlBeaconSource}
import graft.model.BeaconSchemas

/** The checks' facts form against their SQL form ([[Checks.renderedSql]],
  * the oracle): on every warehouse both give the same verdict and the same
  * message. Warehouses are built the way the program builds them — by
  * `load`/`hourlyLoad`, or by one `BeaconIO.commit` with the table's facts.
  * Then the failures only the facts form has: a unit whose files or facts
  * no longer match, and a unit straddling the check's date. */
class ChecksFactsSpec extends SparkTestBase {

  private val days = (0 until 3).map(BeaconFixtures.GenesisDay.plusDays(_))
  private val checks = Seq("blocks_count", "blocks_have_latest", "committees_count",
    "validators_count")

  private def fs = FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
  private def delete(dir: String): Unit = assert(fs.delete(new Path(dir), true), dir)

  /** 340 epochs: all of day 1, all of day 2 and the start of day 3; each
    * day exported once and shared by every warehouse below. */
  private lazy val work: String = {
    val w = tmpDir("facts")
    BeaconFixtures.writeDay(s"$w/fixtures", nSlots = 340 * 32, nValidators = 2)
    for (ds <- days)
      BeaconPipeline.dailyExport(spark, new JsonlBeaconSource(s"$w/fixtures"), ds, s"$w/export")
    w
  }

  /** A warehouse with `loaded` days loaded from the shared export. */
  private def warehouse(loaded: Seq[LocalDate]): String = {
    val wh = tmpDir("facts-wh")
    for (ds <- loaded) BeaconPipeline.load(spark, s"$work/export", wh, ds, verify = false)
    wh
  }

  /** Register each table of `wh` as its check's view, re-listed now. */
  private def register(wh: String, partitionCols: Seq[String] = Seq("block_date")): Unit =
    for ((table, (schema, _)) <- BeaconSchemas.tables) {
      val dir = s"$wh/$table"
      fs.mkdirs(new Path(dir))
      spark.read.schema(partitionCols.foldLeft(schema)(_.add(_, StringType)))
        .parquet(dir).createOrReplaceTempView(table)
    }

  private def viaFacts(check: String, ds: String): Unit = check match {
    case "blocks_count" => Checks.blocksCount(spark, ds)
    case "blocks_have_latest" => Checks.blocksHaveLatest(spark, ds)
    case "committees_count" => Checks.committeesCount(spark, ds)
    case "validators_count" => Checks.validatorsCount(spark, ds)
  }

  /** None when the check holds, else the message of what it raised. The
    * facts form raises it itself; the SQL form's task failure carries it
    * as a cause. */
  private def verdict(run: => Unit): Option[String] =
    try { run; None } catch {
      case e: Throwable =>
        Iterator.iterate(e)(_.getCause).takeWhile(_ != null).collectFirst {
          case t: SparkThrowable if t.getCondition == "USER_RAISED_EXCEPTION" => t.getMessage
        }.orElse(throw e)
    }

  /** Both forms of `check` on `ds` agree; returns the common verdict. */
  private def agree(check: String, ds: String): Option[String] = {
    val sql = verdict(spark.sql(Checks.renderedSql(check, ds)).collect())
    val facts =
      try { viaFacts(check, ds); None }
      catch { case t: SparkThrowable with Throwable => Some(t.getMessage) }
    assert(facts === sql, s"$check on $ds")
    facts
  }

  /** Every check on every day around the warehouse's; returns the verdicts. */
  private def agreeAll(wh: String): Map[(String, String), Option[String]] = {
    register(wh)
    (for (c <- checks; ds <- (days.head.minusDays(1) +: days :+ days.last.plusDays(1)).map(_.toString))
      yield (c, ds) -> agree(c, ds)).toMap
  }

  private def holds(v: Map[(String, String), Option[String]], check: String, ds: LocalDate) =
    v((check, ds.toString)).isEmpty

  /** Replace `dir` by one commit of `df` with `table`'s facts. */
  private def commit(df: DataFrame, table: String, dir: String): Unit =
    BeaconIO.commit(df.localCheckpoint(), dir, facts = Some(Checks.factSpec(table)))

  private def part(wh: String, table: String, ds: LocalDate) = s"$wh/$table/block_date=$ds"

  test("a clean 3-day warehouse: both forms agree, and the daily checks hold") {
    val v = agreeAll(warehouse(days))
    for (ds <- days; c <- checks.init) assert(holds(v, c, ds), s"$c on $ds")
    assert(!holds(v, "blocks_count", days.head.minusDays(1)), "no rows up to ds: NULL MAX fails")
    // the daily snapshot holds one epoch, the latest, so validators_count fails
    assert(v(("validators_count", days.last.toString)).exists(_.contains(
      s"Total number of epochs in beacon validators is not equal to last epoch plus one on ${days.last}")))
  }

  test("a missing day: both forms fail blocks_count after it") {
    val v = agreeAll(warehouse(Seq(days(0), days(2))))
    assert(holds(v, "blocks_count", days(0)))
    assert(!holds(v, "blocks_count", days(2)) && !holds(v, "committees_count", days(2)))
    assert(!holds(v, "blocks_have_latest", days(1)))
  }

  test("a dropped slot: both forms fail from its day on") {
    val wh = warehouse(days)
    val p = part(wh, "beacon_blocks", days(1))
    commit(spark.read.parquet(p).filter(col("block_slot") =!= 8000), "beacon_blocks", p)
    val v = agreeAll(wh)
    assert(holds(v, "blocks_count", days(0)))
    assert(!holds(v, "blocks_count", days(1)) && !holds(v, "blocks_count", days(2)))
  }

  test("a duplicated slot in a new partition: both forms count it") {
    val wh = warehouse(days)
    val row = spark.read.parquet(part(wh, "beacon_blocks", days(0))).filter(col("block_slot") === 5)
    commit(row, "beacon_blocks", s"$wh/beacon_blocks/block_date=2020-11-30")
    val v = agreeAll(wh)
    for (ds <- days) assert(!holds(v, "blocks_count", ds), ds)
  }

  test("one epoch committed in two partitions counts once, as COUNT(DISTINCT) does") {
    val wh = warehouse(days)
    val epoch = spark.read.parquet(part(wh, "beacon_committees", days(0))).filter(col("epoch") === 5)
    commit(epoch, "beacon_committees", s"$wh/beacon_committees/block_date=2020-11-30")
    val v = agreeAll(wh)
    for (ds <- days) assert(holds(v, "committees_count", ds), ds)
  }

  test("NULL timestamps are in no fact; NULL keys only in COUNT(*)") {
    val wh = warehouse(days)
    val validators = s"$wh/beacon_validators"
    // the snapshot moved to epoch 0 at genesis, plus a row with a NULL
    // timestamp at epoch 999 and one with a NULL epoch
    val epoch0 = spark.read.parquet(validators).drop("block_date").withColumn("epoch", lit(0L))
      .withColumn("timestamp", lit(java.sql.Timestamp.from(graft.model.BeaconFunctions.GenesisTime)))
    val nullTs = epoch0.limit(1).withColumn("timestamp", lit(null).cast("timestamp"))
      .withColumn("epoch", lit(999L))
    val nullKey = epoch0.limit(1).withColumn("epoch", lit(null).cast("long"))
    BeaconIO.commit(BeaconIO.withBlockDate(epoch0.union(nullTs).union(nullKey), "timestamp")
      .localCheckpoint(), validators, partitionBy = Seq("block_date"),
      facts = Some(Checks.factSpec("beacon_validators")))
    val blocks = part(wh, "beacon_blocks", days(2))
    commit(spark.read.parquet(blocks).union(spark.read.parquet(blocks).limit(1)
      .withColumn("block_slot", lit(null).cast("long"))), "beacon_blocks", blocks)
    val v = agreeAll(wh)
    for (ds <- days) assert(holds(v, "validators_count", ds), ds)
    assert(holds(v, "blocks_count", days(1)) && !holds(v, "blocks_count", days(2)))
  }

  test("an empty table fails like SQL's NULL MAX") {
    val v = agreeAll(tmpDir("facts-empty"))
    for (c <- checks; ds <- days) assert(!holds(v, c, ds), s"$c on $ds")
  }

  test("the hourly layout: the hourly pair agrees on every hour's warehouse") {
    val wh = tmpDir("facts-hourly")
    val ds = BeaconFixtures.GenesisDay
    for (h <- 12 to 14) {
      BeaconPipeline.hourlyExport(spark, new JsonlBeaconSource(s"$work/fixtures"), ds, h,
        s"$wh/export")
      BeaconPipeline.hourlyLoad(spark, s"$wh/export", s"$wh/warehouse", ds, h)
      register(s"$wh/warehouse", Seq("block_date", "hour"))
      assert(agree("blocks_count", ds.toString).isEmpty, h)
      assert(agree("blocks_have_latest", ds.toString).isEmpty, h)
      assert(agree("blocks_count", ds.plusDays(1).toString).isEmpty, h)
      assert(agree("blocks_have_latest", ds.plusDays(1).toString).nonEmpty, h)
      assert(agree("blocks_count", ds.minusDays(1).toString).nonEmpty, h)
    }
  }

  // ---- failures only the facts form has: loud, naming the directory ----

  private def loud(check: => Unit, dir: String, what: String): Unit = {
    val e = intercept[IllegalStateException](check)
    assert(e.getMessage.contains(new Path(dir).toUri.getPath) && e.getMessage.contains(what) &&
      e.getMessage.contains("load that unit again"), e.getMessage)
  }

  private def firstPart(dir: String): Path =
    fs.listStatus(new Path(dir)).map(_.getPath).filter(_.getName.startsWith("part-")).head

  test("a data file added, resized or deleted after commit fails the check") {
    val wh = warehouse(days)
    register(wh)
    val p = part(wh, "beacon_blocks", days(1))
    val file = firstPart(p)
    val copy = new Path(s"$p/part-99999-copy.parquet")
    assert(FileUtil.copy(fs, file, fs, copy, false,
      spark.sparkContext.hadoopConfiguration))
    loud(Checks.blocksCount(spark, days(2).toString), p, "unlisted: part-99999-copy.parquet")
    assert(fs.delete(copy, false))
    val bytes = {
      val in = fs.open(file)
      try in.readAllBytes() finally in.close()
    }
    val out = fs.create(file, true)
    try out.write(bytes, 0, bytes.length - 1) finally out.close()
    loud(Checks.blocksCount(spark, days(2).toString), p, s"resized: ${file.getName}")
    assert(fs.delete(file, false))
    loud(Checks.blocksCount(spark, days(2).toString), p, s"missing: ${file.getName}")
  }

  test("a partition without facts fails the check") {
    val wh = warehouse(days)
    register(wh)
    val p = part(wh, "beacon_committees", days(0))
    assert(fs.delete(new Path(p, BeaconIO.FactsFile), false))
    loud(Checks.committeesCount(spark, days(0).toString), p, s"no ${BeaconIO.FactsFile}")
  }

  test("a unit whose rows straddle the check's date fails the check") {
    val wh = warehouse(days)
    val two = s"$wh/beacon_blocks/block_date=${days(1)}"
    commit(spark.read.parquet(two).union(spark.read.parquet(part(wh, "beacon_blocks", days(2)))),
      "beacon_blocks", two)
    delete(part(wh, "beacon_blocks", days(2)))
    register(wh)
    loud(Checks.blocksCount(spark, days(1).toString), two, s"dated ${days(1)} to ${days(2)}")
    Checks.blocksCount(spark, days(2).toString) // the whole unit is up to day 3
  }

  test("verify runs no Spark job, daily and hourly") {
    val wh = tmpDir("facts-nojobs")
    val source = new JsonlBeaconSource(s"$work/fixtures")
    for (ds <- days) BeaconPipeline.replayDay(spark, source, ds, wh)
    val hourly = tmpDir("facts-nojobs-hourly")
    BeaconPipeline.hourlyExport(spark, source, days(0), 12, s"$hourly/export")
    BeaconPipeline.hourlyLoad(spark, s"$hourly/export", s"$hourly/warehouse", days(0), 12,
      verify = false)
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    /** The jobs `checks` submits, the views registered before counting. */
    def jobsOf(checks: => Unit): Int = {
      org.apache.spark.ListenerDrain(sc)
      val before = jobs.get
      checks
      org.apache.spark.ListenerDrain(sc)
      jobs.get - before
    }
    sc.addSparkListener(listener)
    try {
      register(s"$wh/warehouse")
      for (ds <- days) assert(jobsOf {
        val e = intercept[SparkThrowable](
          Checks.runAll(spark, ds.toString, includeValidators = true))
        assert(e.getMessageParameters.get("errorMessage").startsWith(
          "Total number of epochs in beacon validators"), "the snapshot holds one epoch")
      } === 0, ds)
      register(s"$hourly/warehouse", Seq("block_date", "hour"))
      assert(jobsOf {
        Checks.blocksCount(spark, days(0).toString)
        Checks.blocksHaveLatest(spark, days(0).toString)
      } === 0)
    } finally sc.removeSparkListener(listener)
  }

  test("a complete .next adopted without its facts fails the check; stray siblings change no verdict") {
    val wh = warehouse(days)
    // stray generations of every day beside the live ones: counted, they
    // would break blocks_count
    for (ds <- days; gen <- Seq("next", "old"))
      assert(FileUtil.copy(fs, new Path(part(wh, "beacon_blocks", ds)), fs,
        new Path(BeaconIO.sibling(part(wh, "beacon_blocks", ds), gen)), false,
        spark.sparkContext.hadoopConfiguration))
    register(wh)
    for (ds <- days) assert(agree("blocks_count", ds.toString).isEmpty, ds)
    // a lost day stays lost with its retired and staged copies beside it
    val lost = part(wh, "beacon_blocks", days(1))
    delete(BeaconIO.sibling(lost, "old"))
    assert(fs.rename(new Path(lost), new Path(BeaconIO.sibling(lost, "old"))))
    register(wh)
    assert(agree("blocks_count", days(2).toString).nonEmpty)
    // the crash window: a first commit's complete `.next` whose facts were
    // never written, adopted by recover
    delete(BeaconIO.sibling(lost, "old"))
    delete(s"${BeaconIO.sibling(lost, "next")}/${BeaconIO.FactsFile}")
    BeaconIO.recover(spark, lost)
    assert(fs.exists(new Path(lost, "_SUCCESS")))
    loud(Checks.blocksCount(spark, days(2).toString), lost, s"no ${BeaconIO.FactsFile}")
  }
}
