package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkTestBase
import graft.tables.Tables

/** Invariants of the event-analytics trio, plus a hand-computed micro
  * fixture for the funnel fold (the registered queries' cross-engine
  * values are pinned by the DuckDB twins; these tests pin the SEMANTICS
  * on inputs the fixture does not exercise — ties, missing steps,
  * out-of-order arrival).
  *
  * Mechanism pins for the restructured event operators: each is pinned
  * row-equal to its ORIGINAL formulation recomputed in-test, so an edit
  * that breaks the equivalence argument (not just the fixture hash)
  * fails loudly:
  *   - q_attribution_last's argmin is a hash-aggregable DECIMAL(38,0)
  *     packing of (gap_us, click_id), pinned against min(struct); a
  *     negative click_id must raise, not silently reorder the argmin;
  *   - q_cdc_merge's arg_last_event ObjectHashAggregate is pinned against
  *     the struct-max SortAggregate form, on the fixture and on an
  *     adversarial frame with NULL timestamps, NULL values, absent sides
  *     and tombstones. */
class EventQueriesSpec extends SparkTestBase {

  private val sfDir = "/root/testdata/sf0.001"

  test("q_funnel: steps are monotone non-increasing and bounded by users") {
    val rows = EventQueries.queries("q_funnel")(spark, sfDir)
      .collect().sortBy(_.getLong(0))
    assert(rows.map(_.getString(1)).toSeq ===
      Seq("signup", "click_after_signup", "purchase_after_click"))
    val Seq(s1, s2, s3) = rows.map(_.getLong(2)).toSeq
    val nUsers = graft.tables.Tables.events(spark, sfDir)
      .select("user_id").distinct().count()
    assert(s1 >= s2 && s2 >= s3, s"funnel not monotone: $s1 $s2 $s3")
    assert(s1 <= nUsers)
    assert(s3 > 0, "fixture funnel should complete for someone")
  }

  test("q_funnel: fold semantics on a hand-computed micro corpus") {
    import spark.implicits._
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def t(sec: Int) = new java.sql.Timestamp(ts0.getTime + sec * 1000L)
    // user 1: completes in order (with an earlier click that must NOT
    //         count — it precedes the first signup)
    // user 2: click at EXACTLY the signup ts (strictly-after excludes it),
    //         then purchase without a counted click → stops at step 1
    // user 3: purchase before click → purchase must not count; a later
    //         purchase does
    // user 4: never signs up → contributes to no step
    val rows = Seq(
      (1L, t(0), 1L, "click"), (2L, t(1), 1L, "signup"),
      (3L, t(2), 1L, "click"), (4L, t(3), 1L, "purchase"),
      (5L, t(0), 2L, "signup"), (6L, t(0), 2L, "click"),
      (7L, t(5), 2L, "purchase"),
      (8L, t(0), 3L, "signup"), (9L, t(1), 3L, "purchase"),
      (10L, t(2), 3L, "click"), (11L, t(3), 3L, "purchase"),
      (12L, t(0), 4L, "click"), (13L, t(1), 4L, "purchase"))
      .toDF("event_id", "ts", "user_id", "event_type")
    val dir = java.nio.file.Files.createTempDirectory("evq").toString
    rows.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = EventQueries.queries("q_funnel")(spark, dir)
      .collect().sortBy(_.getLong(0)).map(_.getLong(2)).toSeq
    // user1: full funnel (pre-signup click ignored). user2: signup only
    // (tied click excluded by strictly-after; purchase blocked on t2).
    // user3: full funnel (first purchase precedes the click and is
    // ignored; the later one — after the click — counts). user4: nothing.
    assert(out === Seq(3L, 2L, 2L))
  }

  test("q_event_transitions: totals equal events minus one per active user") {
    val ev = graft.tables.Tables.events(spark, sfDir)
    val n = ev.count()
    val users = ev.select("user_id").distinct().count()
    val total = EventQueries.queries("q_event_transitions")(spark, sfDir)
      .agg(sum("n")).collect()(0).getLong(0)
    // each user's k events yield k-1 adjacent pairs
    assert(total === n - users)
  }

  test("q_retention: week 0 counts every user once; offsets non-negative") {
    val ret = EventQueries.queries("q_retention")(spark, sfDir).collect()
    val users = graft.tables.Tables.events(spark, sfDir)
      .select("user_id").distinct().count()
    assert(ret.forall(_.getLong(1) >= 0), "negative week offset")
    val week0 = ret.filter(_.getLong(1) == 0L).map(_.getLong(2)).sum
    // every user is active in their own cohort week by definition
    assert(week0 === users)
    // no (cohort, week) cell can exceed its cohort's size
    val cohortSize = ret.filter(_.getLong(1) == 0L)
      .map(r => r.getDate(0) -> r.getLong(2)).toMap
    assert(ret.forall(r => r.getLong(2) <= cohortSize(r.getDate(0))))
  }

  test("q_mix_hhi: bounds 1/n_langs <= hhi <= 1 and doc totals add up") {
    val rows = CorpusQueries.queries("q_mix_hhi")(spark, sfDir).collect()
    val nDocs = graft.tables.Tables.documents(spark, sfDir).count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum === nDocs)
    for (r <- rows) {
      val h = r.getAs[Double]("hhi")
      val k = r.getAs[Long]("n_langs").toDouble
      assert(h <= 1.0 + 1e-12 && h >= 1.0 / k - 1e-12,
        s"hhi $h outside [1/$k, 1] for ${r.getAs[String]("source")}")
    }
  }

  test("resampleLocfOf: hand fixture — hourly grid, LOCF carry, event-instant tick, sub-hour user emits nothing") {
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-03-01 10:00:00") // ON the hour
    def t(sec: Long) = new java.sql.Timestamp(t0.getTime + sec * 1000L)
    val ev = Seq(
      // u1: events at 10:00:00 (e1), 10:30 (e2), 12:10 (e3) -> grid
      // 10:00 (=e1's instant: takes e1), 11:00 (e2 carried), 12:00 (e2)
      (1L, t(0), 1L, "A", 0.0), (1L, t(1800), 2L, "B", 0.0),
      (1L, t(7800), 3L, "C", 0.0),
      // u2: 10:10 and 10:50 — never straddles an hour boundary
      (2L, t(600), 4L, "X", 0.0), (2L, t(3000), 5L, "Y", 0.0),
      // u3: two events at the SAME instant 10:59 + one at 11:01 ->
      // grid 11:00 carries the max event_id of the tie (e7)
      (3L, t(3540), 6L, "P", 0.0), (3L, t(3540), 7L, "Q", 0.0),
      (3L, t(3660), 8L, "R", 0.0)
    ).toDF("user_id", "ts", "event_id", "event_type", "value")
    val out = EventQueries.resampleLocfOf(ev)
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("grid_us"),
        r.getAs[String]("state"), r.getAs[Long]("state_event_id")))
      .sortBy(x => (x._1, x._2)).toList
    val h = 3600000000L
    val g10 = java.sql.Timestamp.valueOf("2024-03-01 10:00:00").getTime * 1000L
    assert(out === List(
      (1L, g10, "A", 1L), (1L, g10 + h, "B", 2L), (1L, g10 + 2 * h, "B", 2L),
      (3L, g10 + h, "Q", 7L)))
  }

  test("q_resample_locf on the fixture: every grid row is a whole hour inside the user's span and carries a real event") {
    val ev = graft.tables.Tables.events(spark, sfDir)
    val out = EventQueries.queries("q_resample_locf")(spark, sfDir)
    assert(out.count() > 0)
    assert(out.filter(col("grid_us") % 3600000000L =!= 0).isEmpty,
      "grid instants must be whole hours")
    assert(out.filter(col("state_ts_us") > col("grid_us")).isEmpty,
      "carried state must be at or before the tick")
    // the carried triple is a REAL event row
    val evs = ev.select(col("event_id").as("state_event_id"),
      expr("unix_micros(CAST(ts AS TIMESTAMP))").as("state_ts_us"),
      col("event_type").as("state"))
    assert(out.select("state_event_id", "state_ts_us", "state")
      .distinct.join(evs, Seq("state_event_id", "state_ts_us", "state"),
        "left_anti").isEmpty)
  }

  private def cdcViaStructMax(ev: DataFrame): DataFrame = {
    // the r15–r18 formulation, verbatim
    val k = ev.agg(floor(max("event_id") * lit(0.8)).cast("long").as("k"))
      .head.getLong(0)
    val side = struct(col("tsu"), col("event_id"), col("event_type"),
      col("value"))
    ev.select(col("user_id"),
        expr("unix_micros(CAST(ts AS TIMESTAMP))").as("tsu"),
        col("event_id"), col("event_type"), col("value"),
        (col("event_id") >= lit(k)).as("is_delta"))
      .groupBy("user_id")
      .agg(max(when(!col("is_delta"), side)).as("bw"),
        max(when(col("is_delta"), side)).as("dw"))
      .withColumn("action",
        when(col("dw").isNull, "unchanged")
          .when(col("dw.event_type") === "error" && col("bw").isNotNull,
            "deleted")
          .when(col("dw.event_type") === "error",
            lit(null).cast("string"))
          .when(col("bw").isNull, "inserted")
          .otherwise("updated"))
      .filter(col("action").isNotNull)
      .select(col("user_id"), col("action"),
        when(col("action") === "unchanged", col("bw.event_type"))
          .when(col("action") === "deleted", lit(null).cast("string"))
          .otherwise(col("dw.event_type")).as("state"),
        when(col("action") === "unchanged", col("bw.value"))
          .when(col("action") === "deleted", lit(null).cast("double"))
          .otherwise(col("dw.value")).as("state_value"),
        when(col("action") === "unchanged", col("bw.tsu"))
          .otherwise(col("dw.tsu")).as("state_ts_us"))
  }

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.mkString("|")).toSet

  test("q_attribution_last: decimal-packed argmin equals the struct argmin") {
    val ev = Tables.events(spark, sfDir)
    val got = EventQueries.queries("q_attribution_last")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSet
    // the r17 struct-argmin form, recomputed over the same attribution feed
    val want = EventQueries.attributionOf(ev)
      .groupBy("user_id", "purchase_id", "amount")
      .agg(min(struct(col("gap_us"), col("click_id"))).as("b"))
      .select(col("user_id"), col("purchase_id"),
        col("b.click_id"), col("b.gap_us"), col("amount"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSet
    assert(got.nonEmpty && got === want)
  }

  test("q_attribution_last: negative click_id raises instead of reordering") {
    val schema = StructType(Seq(
      StructField("user_id", LongType),
      StructField("event_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("ts", TimestampType)))
    def t(us: Long): java.sql.Timestamp = {
      val x = new java.sql.Timestamp(us / 1000)
      x.setNanos(((us % 1000000) * 1000).toInt)
      x
    }
    val ev = mkDf(schema, Seq(
      Row(1L, -5L, "click", 1.0, t(1000000L)),
      Row(1L, 7L, "purchase", 9.0, t(2000000L))))
    val e = intercept[Exception] {
      EventQueries.attributionLastOf(ev).collect()
    }
    def msgs(x: Throwable): Seq[String] =
      if (x == null) Nil else Option(x.getMessage).toSeq ++ msgs(x.getCause)
    assert(msgs(e).exists(_.contains("negative click_id")))
  }

  test("q_cdc_merge: arg_last_event equals the struct-max form (fixture)") {
    val ev = Tables.events(spark, sfDir)
    val got = rows(EventQueries.queries("q_cdc_merge")(spark, sfDir))
    val want = rows(cdcViaStructMax(ev))
    assert(got.nonEmpty && got === want)
  }

  test("q_cdc_merge: arg_last_event equals the struct-max form (adversarial)") {
    // NULL ts (struct field ordering: NULL smallest), NULL value payloads,
    // keys with only a snapshot side, only a delta side, tombstones for
    // present and absent keys, and same-instant ties broken by event_id.
    // event_id >= 8 is the delta side (max=10, floor(10*0.8)=8).
    val schema = StructType(Seq(
      StructField("user_id", LongType),
      StructField("event_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("ts", TimestampType)))
    def t(us: Long): java.sql.Timestamp = {
      val x = new java.sql.Timestamp(us / 1000)
      x.setNanos(((us % 1000000) * 1000).toInt)
      x
    }
    val evRows = Seq(
      // user 1: snapshot-only (unchanged), NULL ts row loses
      Row(1L, 1L, "click", 1.0, t(1000000L)),
      Row(1L, 2L, "view", null, null),
      // user 2: snapshot + delta tombstone (deleted)
      Row(2L, 3L, "view", 2.0, t(2000000L)),
      Row(2L, 9L, "error", 9.0, t(3000000L)),
      // user 3: delta-only tombstone for an absent key (no row)
      Row(3L, 10L, "error", null, t(4000000L)),
      // user 4: delta-only upsert (inserted), same-instant tie on tsu —
      // event_id must break it
      Row(4L, 8L, "click", 4.0, t(5000000L)),
      Row(4L, 9L, "purchase", 5.0, t(5000000L)),
      // user 5: snapshot NULL-ts only + delta update
      Row(5L, 4L, "view", 1.5, null),
      Row(5L, 8L, "click", 2.5, t(6000000L)))
    // distribute over several partitions so map-side partials really merge
    val ev = mkDf(schema, evRows).repartition(5)
    val got = rows(EventQueries.cdcMergeOf(ev))
    val want = rows(cdcViaStructMax(ev))
    assert(got === want)
    // and the semantics probe: user 3's absent-key tombstone emits nothing
    assert(!got.exists(_.startsWith("3|")))
  }
}
