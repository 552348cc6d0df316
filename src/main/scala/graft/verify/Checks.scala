package graft.verify

import java.time.{Instant, LocalDate, ZoneId}
import java.time.temporal.ChronoUnit

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Literal, RaiseError}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

import graft.io.BeaconIO
import graft.io.BeaconIO.{FactSpec, Facts}
import graft.model.BeaconSchemas

/** Assertion-query framework (SURVEY.md §2-E E9, §2-B B11).
  *
  * The reference's verify stage renders a SQL file per check and fails the
  * pipeline through a deliberately-failing `CAST('<message>' AS INT64)`
  * (`/root/reference/dags/ethereum2etl_resources/stages/verify/sqls/blocks_count.sql:11`,
  * executed at `/root/reference/dags/ethereum2etl_airflow/build_load_dag.py:109-124`).
  *
  * The caller registers the warehouse views; the checks read their facts.
  * Every warehouse commit records its directory's facts
  * ([[BeaconIO.Facts]]: rows, timestamp range, max key, the exact key set,
  * the data files), so a check resolves its view's table directory, walks
  * the committed units under it and combines their facts — no Spark job,
  * no data file read, O(partitions). The verdict and the exception are the
  * SQL form's ([[renderedSql]], kept as the test oracle): a failed check
  * throws `USER_RAISED_EXCEPTION` with the reference's exact message, as
  * `assert_true` does.
  *
  * Exactness needs no disjointness argument: `COUNT(*)` sums `rows`, `MAX`
  * is the max of the maxima, and `COUNT(DISTINCT)` is the size of the
  * union of the units' key ranges, so a key in two partitions counts once.
  * A unit is in a check by its recorded timestamp range, not its directory
  * name. A unit whose range straddles the check's date, a data directory
  * without facts, or a unit whose data files differ from the ones its
  * facts list fails the check loudly, naming the directory to load again.
  */
object Checks {

  /** Each check's reference message. */
  private def message(check: String, ds: String): String = check match {
    case "blocks_count" =>
      s"Total number of beacon blocks is not equal to last block number plus one on $ds"
    case "blocks_have_latest" => s"There are no blocks on $ds"
    case "committees_count" =>
      s"Total number of epochs in beacon committees is not equal to last epoch plus one on $ds"
    case "validators_count" =>
      s"Total number of epochs in beacon validators is not equal to last epoch plus one on $ds"
    case other => throw new IllegalArgumentException(s"unknown check: $other")
  }

  /** The check as one single-aggregate SQL (B14 templating): the
    * reference's IF + failing-assert shape over one scan, run via
    * `spark.sql` under ANSI mode. A NULL `MAX` (no rows up to `ds`) makes
    * the IF condition NULL, so the check fails, as in BigQuery. */
  def renderedSql(check: String, ds: String): String = {
    def maxPlusOne(table: String, tsCol: String, key: String, cnt: String) =
      s"""SELECT IF(MAX($key) + 1 = $cnt, 1, assert_true(false, '${message(check, ds)}'))
         |FROM $table WHERE DATE($tsCol) <= '$ds'""".stripMargin
    check match {
      case "blocks_count" =>
        maxPlusOne("beacon_blocks", "block_timestamp", "block_slot", "COUNT(*)")
      case "blocks_have_latest" =>
        s"""SELECT IF(COUNT(*) > 0, 1, assert_true(false, '${message(check, ds)}'))
           |FROM beacon_blocks WHERE DATE(block_timestamp) = '$ds'""".stripMargin
      case "committees_count" =>
        maxPlusOne("beacon_committees", "epoch_timestamp", "epoch", "COUNT(DISTINCT epoch)")
      case "validators_count" =>
        maxPlusOne("beacon_validators", "timestamp", "epoch", "COUNT(DISTINCT epoch)")
      case other => throw new IllegalArgumentException(s"unknown check: $other")
    }
  }

  /** What a warehouse commit of `table` records for its checks: the key
    * whose `MAX` they compare, and whether they count its distinct values. */
  private[graft] def factSpec(table: String): FactSpec = {
    val tsCol = BeaconSchemas.tables(table)._2
    table match {
      case "beacon_blocks" => FactSpec(tsCol, "block_slot", distinctKeys = false)
      case "beacon_committees" | "beacon_validators" => FactSpec(tsCol, "epoch", distinctKeys = true)
      case other => throw new IllegalArgumentException(s"no checks read $other")
    }
  }

  // ---- the four reference checks, parameterized on `ds`; the caller
  // registers `beacon_blocks` etc. first. ----

  /** blocks_count.sql:1-11 — completeness: MAX(block_slot)+1 = COUNT(*)
    * cumulatively up to ds (holds because skipped slots emit rows too). */
  def blocksCount(spark: SparkSession, ds: String): Unit = {
    val units = facts(spark, "blocks_count", "beacon_blocks", ds, onDay = false)
    assertHolds(maxKey(units).exists(_ + 1 == units.map(_._2.rows).sum), "blocks_count", ds)
  }

  /** blocks_have_latest.sql:1-6 — freshness: COUNT(*) > 0 on ds exactly. */
  def blocksHaveLatest(spark: SparkSession, ds: String): Unit = {
    val units = facts(spark, "blocks_have_latest", "beacon_blocks", ds, onDay = true)
    assertHolds(units.map(_._2.rows).sum > 0, "blocks_have_latest", ds)
  }

  /** committees_count.sql:1-11 — MAX(epoch)+1 = COUNT(DISTINCT epoch). */
  def committeesCount(spark: SparkSession, ds: String): Unit =
    epochsCount(spark, "committees_count", "beacon_committees", ds)

  /** validators_count.sql:1-11 — same invariant over beacon_validators. */
  def validatorsCount(spark: SparkSession, ds: String): Unit =
    epochsCount(spark, "validators_count", "beacon_validators", ds)

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

  // ---- the facts form ----

  private def epochsCount(spark: SparkSession, check: String, view: String, ds: String): Unit = {
    val units = facts(spark, check, view, ds, onDay = false)
    val keys = Facts.union(units.flatMap { case (dir, f) =>
      f.keyRanges.getOrElse(throw reload(check, dir, "has facts without its key set"))
    })
    assertHolds(maxKey(units).exists(_ + 1 == keys.map { case (lo, hi) => hi - lo + 1 }.sum),
      check, ds)
  }

  private def maxKey(units: Seq[(Path, Facts)]): Option[Long] =
    units.flatMap(_._2.maxKey).maxOption

  /** A failed check throws what `assert_true(false, msg)` throws, from the
    * same expression: `SparkRuntimeException` `USER_RAISED_EXCEPTION` with
    * `errorMessage = msg`. */
  private def assertHolds(holds: Boolean, check: String, ds: String): Unit =
    if (!holds) new RaiseError(Literal(message(check, ds))).eval()

  private def reload(check: String, dir: Path, what: String) =
    new IllegalStateException(s"$check: $dir $what; load that unit again")

  /** The facts of the committed units under `view`'s table directory whose
    * rows all satisfy `DATE(ts) <= ds` (`= ds` when `onDay`), in the
    * session time zone as SQL's `DATE` is. */
  private def facts(spark: SparkSession, check: String, view: String, ds: String,
                    onDay: Boolean): Seq[(Path, Facts)] = {
    val root = tableRoot(spark, view)
    val zone = ZoneId.of(spark.conf.get("spark.sql.session.timeZone"))
    val day = LocalDate.parse(ds)
    def date(micros: Long) = Instant.EPOCH.plus(micros, ChronoUnit.MICROS).atZone(zone).toLocalDate
    units(root.getFileSystem(spark.sparkContext.hadoopConfiguration), root, check).filter {
      case (dir, f) => f.tsMicros.exists { case (lo, hi) =>
        val (first, last) = (date(lo), date(hi))
        val all = if (onDay) first == day && last == day else !last.isAfter(day)
        val none = first.isAfter(day) || (onDay && last.isBefore(day))
        if (!all && !none)
          throw reload(check, dir, s"holds rows dated $first to $last, across $ds")
        all
      }
    }
  }

  /** The table directory behind the registered view `view`. */
  private def tableRoot(spark: SparkSession, view: String): Path =
    spark.table(view).queryExecution.analyzed
      .collect { case l: LogicalRelation => l.relation }
      .collect { case r: HadoopFsRelation => r.location.rootPaths } match {
        case Seq(Seq(root)) => root
        case _ => throw new IllegalStateException(
          s"$view is not one table directory, so it has no facts to check")
      }

  /** Every committed unit at or under `dir` (a directory holding
    * [[BeaconIO.FactsFile]]) with its facts, once its data files are the
    * ones the facts list. Other directories are walked the way Spark's
    * file index walks them, skipping hidden names; one that holds data
    * files itself has no facts. */
  private def units(fs: FileSystem, dir: Path, check: String): Seq[(Path, Facts)] =
    Facts.read(fs, dir) match {
      case Some(f) =>
        val listed = BeaconIO.dataFiles(fs, dir)
        if (listed != f.files) {
          val resized = listed.keySet.intersect(f.files.keySet).filter(n => listed(n) != f.files(n))
          throw reload(check, dir, "holds other data files than its facts list (" +
            s"missing: ${(f.files.keySet -- listed.keySet).toSeq.sorted.mkString(", ")}; " +
            s"unlisted: ${(listed.keySet -- f.files.keySet).toSeq.sorted.mkString(", ")}; " +
            s"resized: ${resized.toSeq.sorted.mkString(", ")})")
        }
        Seq(dir -> f)
      case None =>
        val (dirs, files) = fs.listStatus(dir).toSeq
          .filterNot(st => BeaconIO.hidden(st.getPath.getName)).partition(_.isDirectory)
        if (files.nonEmpty)
          throw reload(check, dir, s"holds data files but no ${BeaconIO.FactsFile} " +
            "(written before facts were recorded, or a crash before its facts were written)")
        dirs.flatMap(st => units(fs, st.getPath, check))
    }
}
