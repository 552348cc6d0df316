package graft.jobs

import java.time.LocalDate

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

import graft.GraftSession
import graft.sources.{BeaconApiConfig, HttpBeaconSource}

/** E8 — the one job entry every DAG task submits
  * (`airflow/dags/eth2_mainnet_spark_dags.py`, the analog of the reference's
  * DAG instantiations `eth2_mainnet_hourly_export_dag.py:7-16` and
  * `eth2_mainnet_hourly_load_dag.py:12-19`): `Eth2Job <verb> args…`.
  *
  * The DAG file holds the schedules, the dependency edges and the retries;
  * a verb runs one pipeline stage, then prints one JSON result line or
  * throws, which fails the task. Each load verifies what it loaded, the
  * reference's daily or hourly checks.
  */
object Eth2Job {

  val Usage: String = Seq(
    "daily-export <providerUris|fixtureDir> <exportBase> <yyyy-MM-dd>",
    "daily-load <exportBase> <warehouseBase> <yyyy-MM-dd>",
    "hourly-export <providerUris|fixtureDir> <exportBase> <yyyy-MM-dd> <hour>",
    "hourly-load <exportBase> <warehouseBase> <yyyy-MM-dd> <hour>",
    "replay <fixtureDir|--gen-fixtures> <workDir> [yyyy-MM-dd]",
  ).mkString("usage: Eth2Job ", " | ", "")

  def main(args: Array[String]): Unit = {
    val job = verb(args.toSeq)
    val spark = session()
    try println(job(spark)) finally spark.stop()
  }

  /** Run one verb on `spark` and return its JSON result line. */
  def run(spark: SparkSession, args: Seq[String]): String = verb(args)(spark)

  /** spark-submit hands its `--master` and the rest of its conf to the
    * driver as system properties, which a builder's own `master` would
    * override; only a launch without one (`sbt runMain`) runs local. */
  private def session(): SparkSession =
    if (new SparkConf().contains("spark.master"))
      GraftSession.configure(SparkSession.builder()).getOrCreate()
    else GraftSession.local(appName = "eth2-job")

  /** Parse `args` into the stage they name; a wrong verb or argument count
    * throws [[Usage]] before any session starts. */
  private def verb(args: Seq[String]): SparkSession => String = args match {
    case Seq("daily-export", source, exportBase, date) =>
      val ds = LocalDate.parse(date)
      spark => {
        BeaconPipeline.dailyExport(spark, sourceFor(source), ds, exportBase)
        s"""{"job":"daily_export","date":"$ds"}"""
      }
    case Seq("daily-load", exportBase, warehouseBase, date) =>
      val ds = LocalDate.parse(date)
      spark => {
        BeaconPipeline.load(spark, exportBase, warehouseBase, ds, verify = true)
        s"""{"job":"daily_load","date":"$ds","verify":"pass"}"""
      }
    case Seq("hourly-export", source, exportBase, date, hour) =>
      val (ds, h) = (LocalDate.parse(date), hour.toInt)
      spark => {
        BeaconPipeline.hourlyExport(spark, sourceFor(source), ds, h, exportBase)
        s"""{"job":"hourly_export","date":"$ds","hour":$h}"""
      }
    case Seq("hourly-load", exportBase, warehouseBase, date, hour) =>
      val (ds, h) = (LocalDate.parse(date), hour.toInt)
      spark => {
        BeaconPipeline.hourlyLoad(spark, exportBase, warehouseBase, ds, h)
        s"""{"job":"hourly_load","date":"$ds","hour":$h,"verify":"pass"}"""
      }
    // the fixture single-day replay: export → load → verify in one run;
    // `--gen-fixtures` writes synthetic fixtures into the work dir first
    case Seq("replay", fixtures, workDir, date @ _*) if date.size <= 1 =>
      val ds = LocalDate.parse(date.headOption.getOrElse("2020-12-01"))
      spark => {
        val dir =
          if (fixtures != "--gen-fixtures") fixtures
          else {
            graft.BeaconFixtures.writeDay(s"$workDir/fixtures", nSlots = 256, nValidators = 8)
            s"$workDir/fixtures"
          }
        BeaconPipeline.replayDay(spark, new JsonlBeaconSource(dir), ds, workDir)
        val n = spark.read.parquet(s"$workDir/warehouse/beacon_blocks").count()
        s"""{"job":"replay","date":"$ds","blocks_loaded":$n,"verify":"pass"}"""
      }
    case _ => throw new IllegalArgumentException(Usage)
  }

  /** An `http(s)://…[,fallback…]` spec selects the beacon-node client (E3
    * provider fallback in the order given); anything else is a fixture
    * JSONL directory. The client's rate limit and fetch tasks come from
    * `EXPORT_RATE_LIMIT` and `EXPORT_MAX_WORKERS`, the reference's
    * `export_rate_limit` / `export_max_workers` variables
    * (`variables.py:15-21`). */
  private def sourceFor(spec: String): BeaconSource =
    if (spec.startsWith("http://") || spec.startsWith("https://"))
      new HttpBeaconSource(BeaconApiConfig(
        providerUris = spec.split(',').toSeq.map(_.trim).filter(_.nonEmpty),
        ratePerSecond = env("EXPORT_RATE_LIMIT").map(_.toDouble),
        fetchTasks = env("EXPORT_MAX_WORKERS").fold(8)(_.toInt)))
    else new JsonlBeaconSource(spec)

  private def env(name: String): Option[String] =
    sys.env.get(name).map(_.trim).filter(_.nonEmpty)
}
