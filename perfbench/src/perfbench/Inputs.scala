package perfbench

import java.nio.file.{Files, Path}
import java.time.LocalDate

import scala.util.Random

import graft.BeaconFixtures
import graft.model.BeaconFunctions

/** One staged unit of pipeline input: a fixture directory holding exactly
  * the unit's rows, as an HTTP source would fetch them for that day.
  * `expectedBlocks` is the cumulative block count from genesis through the
  * unit's end, which `blocks_count` tests. */
final case class StagedUnit(
    label: String,
    date: LocalDate,
    dir: Path,
    rows: Map[String, Long],
    bytes: Map[String, Long],
    expectedBlocks: Long) {
  def totalRows: Long = rows.values.sum
  def totalBytes: Long = bytes.values.sum
}

/** Seeded beacon-chain input generator built on the program's public
  * [[graft.BeaconFixtures]] line generators, at mainnet cadence (7200 slots a
  * day, 225 epochs × 8 committee rows) with a 1000-validator set.
  *
  * Every sequence starts at genesis: `blocks_count` is cumulative from slot
  * 0, so a backfill that skipped genesis would fail on its first day. The
  * logical rows of a unit are fixed by the chain cadence; the seed permutes
  * the row order of every staged file, so outputs are seed-independent while
  * the bytes the readers see are not. */
object BeaconInputs {
  val Validators = 1000
  val CommitteesPerEpoch = 8

  private def epochTs(epoch: Long) =
    BeaconFunctions.GenesisTime.plusSeconds(epoch * BeaconFunctions.SlotsPerEpoch *
      BeaconFunctions.SecondsPerSlot)

  /** The generators only emit epochs from 0; one epoch-0 template set is
    * rebased onto any epoch (the other fields do not depend on the epoch). */
  private lazy val validatorTemplate: IndexedSeq[String] = {
    val prefix = validatorPrefix(0L)
    BeaconFixtures.validatorLines(1, Validators).toIndexedSeq.map { l =>
      require(l.startsWith(prefix), s"unexpected validator fixture line: ${l.take(80)}")
      l.substring(prefix.length)
    }
  }
  private def validatorPrefix(epoch: Long) =
    s"""{"epoch":$epoch,"timestamp":"${epochTs(epoch)}""""

  def validatorSet(epoch: Long): IndexedSeq[String] = {
    val p = validatorPrefix(epoch)
    validatorTemplate.map(p + _)
  }

  /** Daily units from genesis: day 1 is the half day after genesis. Each day
    * stages its slots, the committees of every epoch its slots touch (the
    * first one straddles midnight) and only the last epoch's validator set —
    * `validatorsLatest` scans the whole file to find `max(epoch)`. */
  def daily(base: Path, days: Int, seed: Long): Seq[StagedUnit] = {
    val dates = (0 until days).map(BeaconFixtures.GenesisDay.plusDays(_))
    val lastSlot = BeaconFunctions.slotRangeForDate(dates.last)._2
    val blocks = BeaconFixtures.blockLines((lastSlot + 1).toInt).toIndexedSeq
    val committees =
      BeaconFixtures.committeeLines((lastSlot / BeaconFunctions.SlotsPerEpoch + 1).toInt).toIndexedSeq
    dates.zipWithIndex.map { case (date, i) =>
      val slots = BeaconFunctions.slotRangeForDate(date)
      val epochs = BeaconFunctions.epochRangeForSlots(slots)
      val dir = base.resolve(date.toString)
      val rnd = new Random(seed * 1000003L + i)
      val content = Seq(
        "beacon_blocks" -> blocks.slice(slots._1.toInt, slots._2.toInt + 1),
        "beacon_committees" -> committees.slice(
          (epochs._1 * CommitteesPerEpoch).toInt, ((epochs._2 + 1) * CommitteesPerEpoch).toInt),
        "beacon_validators" -> validatorSet(epochs._2))
      val stats = content.map { case (table, lines) =>
        val shuffled = rnd.shuffle(lines)
        val path = dir.resolve(s"$table.json")
        BeaconFixtures.write(path.toString, shuffled)
        (table, shuffled.size.toLong, Files.size(path))
      }
      StagedUnit(date.toString, date, dir,
        stats.map(s => s._1 -> s._2).toMap, stats.map(s => s._1 -> s._3).toMap, slots._2 + 1)
    }
  }
}
