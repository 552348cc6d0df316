package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Invariants of the event-analytics trio, plus a hand-computed micro
  * fixture for the funnel fold (the registered queries' cross-engine
  * values are pinned by the DuckDB twins; these tests pin the SEMANTICS
  * on inputs the fixture does not exercise — ties, missing steps,
  * out-of-order arrival). */
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
}
