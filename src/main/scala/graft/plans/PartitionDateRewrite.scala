package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LeafNode, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DataType, DateType, StringType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

import graft.model.BeaconSchemas

/** Catalyst optimizer rule: make the reference's `DATE(ts) <= 'd'` verify
  * predicates (and plain timestamp-range predicates) partition-prunable
  * without the caller naming the partition column.
  *
  * The reference's verify SQLs filter on `DATE(block_timestamp)`
  * (`/root/reference/dags/ethereum2etl_resources/stages/verify/sqls/blocks_count.sql:5`),
  * which BigQuery prunes because the destination table is time-partitioned
  * on that very column (`build_load_dag.py:84-85`). Our engine materializes
  * the Hive partition column at write instead —
  * `block_date = CAST(to_date(tsCol) AS STRING)` ([[graft.io.BeaconIO.withBlockDate]]) —
  * so a faithful `to_date(ts) <= d` predicate scans every partition unless
  * the query ALSO names `block_date`. This rule closes that gap (the
  * "custom `Rule[LogicalPlan]`" slot SURVEY.md §4.2 reserves).
  *
  * By the time extended optimizer rules run, Spark has already unwrapped
  * `to_date(ts) <= date'd'` into a bare timestamp range
  * (`ts < timestamp'd+1 00:00'`), so the match is on **timestamp
  * comparisons**: for each conjunct `ts {=,<,<=,>,>=} timestampLiteral`
  * over one of the writer's timestamp columns, the filter gains the implied
  * `block_date {=,<=,>=} 'yyyy-MM-dd'` twin (`date(·)` is monotone, so both
  * strict and non-strict timestamp bounds relax to the non-strict date
  * bound; ISO date strings order lexicographically, so the string
  * comparison is order-exact). A `CAST(ts AS DATE)` comparison shape is
  * matched too in case it survives to this phase. Catalyst's
  * `PruneFileSourcePartitions` then turns the derived conjunct into a
  * `PartitionFilters` entry — at 100 TB that is the difference between
  * listing one day's directories and scanning the history.
  *
  * Soundness rests on the writer invariant (block_date derived from exactly
  * these timestamp columns at write, same session time zone); the rule
  * therefore only fires on relation leaves (never across joins, where
  * `block_date` could belong to a different table than `ts`), only for the
  * writer's timestamp column names, and is idempotent (a derived conjunct
  * already present — semantically — is never re-added, so the fixed-point
  * optimizer batch converges). Spark's own
  * `spark.sql.optimizer.excludedRules=graft.plans.PartitionDateRewrite`
  * turns it off.
  */
object PartitionDateRewrite extends Rule[LogicalPlan] {

  val PartitionColumn = "block_date"

  /** Timestamp columns the BeaconIO writers derive `block_date` from. */
  private val tsColumns: Set[String] = BeaconSchemas.tables.values.map(_._2).toSet

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan transform {
      case f @ Filter(cond, child: LeafNode) =>
        child.output.find(a => a.name == PartitionColumn &&
          (a.dataType == StringType || a.dataType == DateType)) match {
          case Some(bd) =>
            val present = conjuncts(cond)
            val derived = present.flatMap(derive(_, bd))
              .filterNot(d => present.exists(_.semanticEquals(d)))
            if (derived.isEmpty) f
            else Filter(derived.foldLeft(cond)(And(_, _)), child)
          case None => f
        }
    }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case x => Seq(x)
  }

  /** A writer timestamp column, bare or under `CAST(· AS DATE)`. */
  private def tsAttr(e: Expression): Option[AttributeReference] = e match {
    case a: AttributeReference
      if tsColumns.contains(a.name) && a.dataType == TimestampType => Some(a)
    case c: Cast if c.dataType == DateType => tsAttr(c.child)
    case _ => None
  }

  /** ISO date (session time zone) of a timestamp/date literal, plus whether
    * the instant is exactly midnight (date literals count as midnight). */
  private def dateLitStr(e: Expression): Option[(String, Boolean)] = e match {
    case Literal(days: Int, DateType) =>
      Some((java.time.LocalDate.ofEpochDay(days.toLong).toString, true))
    case Literal(micros: Long, TimestampType) =>
      val inst = java.time.Instant.ofEpochSecond(
        Math.floorDiv(micros, 1000000L), Math.floorMod(micros, 1000000L) * 1000L)
      val zdt = inst.atZone(java.time.ZoneId.of(conf.sessionLocalTimeZone))
      Some((zdt.toLocalDate.toString, zdt.toLocalTime == java.time.LocalTime.MIDNIGHT))
    case _ => None
  }

  /** Literal in the partition column's own type: the writer materializes a
    * STRING column, but Hive partition-type inference reads `2020-12-01`
    * directories back as DATE — both compare order-exactly. */
  private def partLit(dt: DataType, s: String): Literal = dt match {
    case DateType => Literal(java.time.LocalDate.parse(s).toEpochDay.toInt, DateType)
    case _        => Literal(UTF8String.fromString(s), StringType)
  }

  /** Mirror one comparison conjunct onto the partition column. `date(·)` is
    * monotone non-injective, so timestamp bounds relax to non-strict date
    * bounds — except `ts < midnight(d)`, which tightens to the strict
    * `block_date < d` (nothing of day d satisfies it). Both operand orders
    * handled (`rev` is the flipped comparison for literal-first conjuncts). */
  private def derive(p: Expression, bd: Attribute): Option[Expression] = {
    type Mk = (String, Boolean) => Expression
    def mk(l: Expression, r: Expression, fwd: Mk, rev: Mk): Option[Expression] =
      tsAttr(l).flatMap(_ => dateLitStr(r)).map(fwd.tupled)
        .orElse(tsAttr(r).flatMap(_ => dateLitStr(l)).map(rev.tupled))
    def lit(d: String) = partLit(bd.dataType, d)
    val le: Mk = (d, _) => LessThanOrEqual(bd, lit(d))
    val ge: Mk = (d, _) => GreaterThanOrEqual(bd, lit(d))
    val eq: Mk = (d, _) => EqualTo(bd, lit(d))
    val ltTight: Mk = (d, midnight) =>
      if (midnight) LessThan(bd, lit(d)) else LessThanOrEqual(bd, lit(d))
    p match {
      case LessThanOrEqual(l, r)    => mk(l, r, le, ge)
      case LessThan(l, r)           => mk(l, r, ltTight, ge)
      case GreaterThanOrEqual(l, r) => mk(l, r, ge, le)
      case GreaterThan(l, r)        => mk(l, r, ge, ltTight)
      case EqualTo(l, r)            => mk(l, r, eq, eq)
      case _ => None
    }
  }
}
