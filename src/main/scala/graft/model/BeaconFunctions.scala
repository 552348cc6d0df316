package graft.model

import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Beacon-chain domain functions: slot/epoch/time arithmetic and the
  * uint64-epoch comparison helper (SURVEY.md §2-C C18/C19, §1.2).
  *
  * Chain constants are Ethereum 2.0 mainnet: 12-second slots, 32 slots per
  * epoch, genesis 2020-12-01 12:00:23 UTC (the reference's hourly DAG starts
  * at genesis day — `/root/reference/dags/eth2_mainnet_hourly_export_dag.py:12`).
  * All are `Column` expressions — codegen'd, no UDFs.
  */
object BeaconFunctions {

  val SecondsPerSlot = 12L
  val SlotsPerEpoch  = 32L
  val GenesisTime: Instant = Instant.parse("2020-12-01T12:00:23Z")

  /** FAR_FUTURE_EPOCH sentinel carried in STRING uint64 epoch columns
    * (`beacon_validators.json:43-61`) — overflows int64. */
  val FarFutureEpoch = "18446744073709551615"

  def slotToEpoch(slot: Column): Column = floor(slot / SlotsPerEpoch).cast("long")

  /** Slot → UTC timestamp: genesis + 12 s * slot. */
  def slotToTimestamp(slot: Column): Column =
    timestamp_seconds(lit(GenesisTime.getEpochSecond) + slot * SecondsPerSlot)

  /** Timestamp → slot (floor; slots before genesis are negative). */
  def timestampToSlot(ts: Column): Column =
    floor((unix_timestamp(ts) - GenesisTime.getEpochSecond) / SecondsPerSlot.toDouble)
      .cast("long")

  /** STRING uint64 epoch → orderable Decimal(20,0); survives the
    * FAR_FUTURE_EPOCH sentinel that overflows LongType. */
  def epochU64(c: Column): Column = c.cast(DecimalType(20, 0))

  /** True when the string epoch column holds the FAR_FUTURE sentinel. */
  def isFarFuture(c: Column): Column = c === lit(FarFutureEpoch)

  // ---- driver-side range resolution (SURVEY.md §2-A A4–A7) ----
  // Re-expresses get_block_range_for_date / get_*_range_for_hour
  // (`/root/reference/dags/ethereum2etl_airflow/build_export_dag.py:76-102`,
  // `build_hourly_export_dag.py:235-254`) as pure slot arithmetic: the
  // reference shells to a range service; with a fixed slot cadence the
  // mapping is closed-form.

  private def slotAt(i: Instant): Long =
    Math.floorDiv(i.getEpochSecond - GenesisTime.getEpochSecond, SecondsPerSlot)

  /** First/last slot whose timestamp falls inside the UTC date (clamped to
    * genesis). Mirrors `get_block_range_for_date` semantics. */
  def slotRangeForDate(date: LocalDate): (Long, Long) = {
    val start = date.atStartOfDay(ZoneOffset.UTC).toInstant
    val end = date.plusDays(1).atStartOfDay(ZoneOffset.UTC).toInstant.minusSeconds(1)
    rangeBetween(start, end)
  }

  /** Slot range for `[HH:00:00, HH:59:59] UTC` of the given date+hour —
    * the hourly DAG's clamp (`build_hourly_export_dag.py:241-243`). */
  def slotRangeForHour(date: LocalDate, hour: Int): (Long, Long) = {
    val start = LocalDateTime.of(date, java.time.LocalTime.of(hour, 0)).toInstant(ZoneOffset.UTC)
    val end = start.plusSeconds(3600 - 1)
    rangeBetween(start, end)
  }

  private def rangeBetween(start: Instant, end: Instant): (Long, Long) = {
    require(!end.isBefore(GenesisTime), s"range [$start,$end] ends before genesis $GenesisTime")
    val lo = slotAt(start.compareTo(GenesisTime) match {
      case c if c < 0 => GenesisTime
      case _ =>
        // first slot with slot_time >= start: ceil-div
        val sec = start.getEpochSecond - GenesisTime.getEpochSecond
        GenesisTime.plusSeconds(Math.floorDiv(sec + SecondsPerSlot - 1, SecondsPerSlot) * SecondsPerSlot)
    })
    val hi = slotAt(end)
    (lo, hi)
  }

  /** Epoch range covering a slot range (`get_epoch_range*` analog). */
  def epochRangeForSlots(range: (Long, Long)): (Long, Long) =
    (Math.floorDiv(range._1, SlotsPerEpoch), Math.floorDiv(range._2, SlotsPerEpoch))

  def epochRangeForDate(date: LocalDate): (Long, Long) =
    epochRangeForSlots(slotRangeForDate(date))
}
