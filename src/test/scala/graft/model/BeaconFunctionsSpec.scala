package graft.model

import java.time.LocalDate

import org.apache.spark.sql.functions._

import graft.SparkTestBase

class BeaconFunctionsSpec extends SparkTestBase {

  import BeaconFunctions._

  test("slot/epoch arithmetic round-trips") {
    import spark.implicits._
    val df = Seq(0L, 31L, 32L, 63L, 1000L).toDF("slot")
      .select(col("slot"),
        slotToEpoch(col("slot")).as("epoch"),
        timestampToSlot(slotToTimestamp(col("slot"))).as("rt"))
    val rows = df.collect()
    assert(rows.map(_.getLong(1)).toSeq === Seq(0L, 0L, 1L, 1L, 31L))
    assert(rows.forall(r => r.getLong(0) == r.getLong(2)), "slot→ts→slot must round-trip")
  }

  test("genesis-day slot range starts at 0 and the day holds 3599 slots") {
    val (lo, hi) = slotRangeForDate(LocalDate.parse("2020-12-01"))
    assert(lo === 0L)
    // genesis 12:00:23; last slot of the day lands exactly on 23:59:59
    assert(hi === 3598L)
  }

  test("hour ranges clamp to [HH:00, HH:59:59] and partition the day") {
    val d = LocalDate.parse("2020-12-02")
    val (lo12, hi12) = slotRangeForHour(d, 12)
    val (lo13, _) = slotRangeForHour(d, 13)
    assert(hi12 + 1 === lo13, "consecutive hours must not overlap or gap")
    // slot timestamps of the range fall inside the hour
    assert(GenesisTime.plusSeconds(lo12 * SecondsPerSlot).toString.contains("T12:"))
    assert(GenesisTime.plusSeconds(hi12 * SecondsPerSlot).toString.contains("T12:"))
  }

  test("epoch range derives from slot range by /32") {
    val r = epochRangeForDate(LocalDate.parse("2020-12-01"))
    assert(r === (0L, 3598L / 32L))
  }

  test("uint64 epoch compare survives FAR_FUTURE_EPOCH") {
    import spark.implicits._
    val df = Seq("0", "123", FarFutureEpoch).toDF("e")
    val ordered = df.filter(!isFarFuture(col("e")))
      .select(epochU64(col("e")).as("d")).orderBy(col("d"))
      .collect().map(_.getDecimal(0).longValueExact())
    assert(ordered.toSeq === Seq(0L, 123L))
    val far = df.filter(isFarFuture(col("e"))).count()
    assert(far === 1L)
    // the sentinel is orderable above any int64
    val cnt = df.filter(epochU64(col("e")) > lit(Long.MaxValue)).count()
    assert(cnt === 1L)
  }
}
