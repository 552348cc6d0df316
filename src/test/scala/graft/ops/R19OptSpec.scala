package graft.ops

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkTestBase
import graft.tables.Tables

/** Internal-mechanism pins for the round-19 OPTIMIZATION diets (the
  * R18OptSpec discipline): each restructured operator stays hash-gated by
  * its DuckDB twin at sf0.01; these additionally pin the mechanism against
  * the ORIGINAL formulation recomputed in-test, so a future edit that
  * breaks the equivalence argument (not just the fixture hash) fails
  * loudly:
  *   - q_cdc_merge replaced max(when(cond, struct(tsu, event_id,
  *     event_type, value))) (SortAggregate) with the arg_last_event
  *     ObjectHashAggregate — pinned row-equal on the fixture AND on an
  *     adversarial frame with NULL timestamps, NULL values, absent sides
  *     and tombstones;
  *   - connected components label a long path graph, the worst case for
  *     edge-only propagation, with its minimum under both placements of
  *     [[DedupQueries.clusterLabels]];
  *   - q_attribution_last's decimal pack gained a click_id ≥ 0 guard —
  *     a negative id must raise, not silently reorder the argmin.
  */
class R19OptSpec extends SparkTestBase {

  private val sfDir = "/root/testdata/sf0.001"

  private def cdcViaStructMax(ev: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
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

  private def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.collect().map(_.mkString("|")).toSet

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

  test("clusterLabels: a 41-node chain collapses to min under both placements") {
    // path graph 0–1–2–…–40: worst case for edge-only propagation (41
    // rounds). All nodes must label 0.
    val n = 41
    val uSchema = StructType(Seq(StructField("doc_id", LongType)))
    val eSchema = StructType(Seq(
      StructField("doc_a", LongType), StructField("doc_b", LongType)))
    val universe = mkDf(uSchema, (0 until n).map(i => Row(i.toLong)))
    val edges = mkDf(eSchema,
      (0 until n - 1).map(i => Row(i.toLong, (i + 1).toLong)))
    val (got, star) = CcPlacements.both(spark) {
      CcPlacements.labelMap(DedupQueries.clusterLabels(universe, edges))
    }
    assert(got.size === n)
    assert(got.values.forall(_ == 0L))
    assert(got === star)
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
}
