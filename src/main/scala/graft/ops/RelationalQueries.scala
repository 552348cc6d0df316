package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.tables.Tables

/** The relational operator surface (SURVEY.md §2-B/§2-C) as registered,
  * oracle-checked queries over the driver testdata.
  *
  * Every query here is the declarative DataFrame/SQL form — Catalyst supplies
  * pushdown, pruning, partial aggregation and join selection. Scale notes per
  * query are inline; the rule of thumb applied throughout: broadcast the
  * small side, aggregate before joining where semantics allow, never collect.
  *
  * Reference anchors: the verify-SQL surface
  * (the four SQL files under
  * `/root/reference/dags/ethereum2etl_resources/stages/verify/sqls/`)
  * exercises scans, date filters, MAX/COUNT/COUNT DISTINCT, scalar
  * subqueries, arithmetic/comparison and IF — q_agg_ungrouped,
  * q_count_distinct, q_scalar_subquery, q_completeness_check and
  * q_date_filter are the parameterized forms of exactly those constructs.
  */
object RelationalQueries {

  private def dec(c: String, p: Int, s: Int) = col(c).cast(DecimalType(p, s))

  /** Cent-quantized event stream shared by `q_anomaly_z` and
    * [[graft.streaming.BeaconStreaming.anomalyScoreStream]] — ONE
    * definition so the batch gate and the streaming scorer cannot drift.
    * floor(value·100) is the same IEEE multiply+floor on both engines. */
  private[graft] def anomalyQuantized(ev0: DataFrame): DataFrame =
    ev0.filter(col("value").isNotNull)
      .select(col("event_id"), col("event_type"), col("value"),
        expr("CAST(floor(CAST(value AS DOUBLE) * 100) AS BIGINT)").as("q"))

  /** Per-type mean/variance over the quantized cents (sample variance,
    * n−1); n ≤ 1 or zero-variance groups drop out. Sums are pure BIGINT —
    * exact and order-free on any partitioning. */
  private[graft] def anomalyStats(ev: DataFrame): DataFrame =
    ev.groupBy(col("event_type").as("et"))
      .agg(count(lit(1)).as("n"), sum(col("q")).as("s"),
        sum(col("q") * col("q")).as("s2"))
      .select(col("et"), col("n"),
        (col("s").cast("double") / col("n")).as("mean_q"),
        ((col("s2").cast("double") -
          col("s").cast("double") * col("s").cast("double") / col("n")) /
          (col("n") - 1)).as("var_q"))
      .filter(col("n") > 1 && col("var_q") > 0)

  /** Per-type exact lower-median / MAD over the quantized cents — the
    * frozen-stat tier shared by `q_anomaly_mad` and
    * [[graft.streaming.BeaconStreaming.madOutlierStream]] (ONE definition
    * so the batch gate and the streaming scorer cannot drift). Exact
    * selection WITHOUT touching fact order: the cent quantization bounds
    * the value domain, so the lower median (smallest value whose
    * cumulative count reaches (n+1) DIV 2) reads off a map-side-combined
    * (type, cents) histogram, and the deviation histogram REGROUPS that
    * same bounded table — the facts are scanned once here, never sorted.
    * MAD = 0 groups (over half the mass on one cent) drop: the gate
    * `|q − med| > 3·MAD` would otherwise flag every non-median row. */
  private[graft] def madStats(ev: DataFrame): DataFrame = {
    val hist = ev.groupBy(col("event_type"), col("q"))
      .agg(count(lit(1)).as("c"))
    // Both selections fold ROW-LOCALLY over each type's collected
    // histogram: the array is bounded by the VALUE DOMAIN (distinct
    // cents — ≤ 49k entries ≈ 800 KB for the fixture's 0..490 range),
    // never by corpus size, so one row per type carries the whole
    // distribution. The fold walks the sorted (q, c) pairs accumulating
    // counts until (n+1) DIV 2 — the lower median — and the DEVIATION
    // histogram is a transform+re-sort of the SAME array once med is in
    // hand (duplicate |q−med| keys need no merge: the cumulative walk
    // crosses the threshold at the same aq either way). This replaces
    // the earlier four-cumulative-window form: same exact integers, but
    // two aggregates and two narrow projections instead of four window
    // stages and two joins — fewer stages at any scale, and locally it
    // was the window chains, not the fact passes, that owned the time
    // (PERF.md "late-r15 additions": stats−hist = 0.66 s of the 1.05 s
    // total).
    // The med fold binds through a one-element transform LAMBDA on
    // purpose: a plain med_q column reference inside the deviation
    // lambda gets INLINED by project collapse — the whole median fold
    // re-evaluates per array element, turning the row-local walk
    // quadratic (measured: 52 s at sf0.1 vs 0.3 s for this form; lambda
    // variables evaluate once, column references do not survive
    // CollapseProject).
    hist.groupBy("event_type")
      .agg(sort_array(collect_list(struct(col("q"), col("c")))).as("h"),
        sum(col("c")).as("n"))
      .select(col("event_type"), expr(
        """transform(array(
               aggregate(h,
                 named_struct('cum', 0L, 'm', CAST(NULL AS BIGINT)),
                 (a, x) -> IF(a.m IS NOT NULL, a,
                   named_struct('cum', a.cum + x.c,
                     'm', IF(a.cum + x.c >= (n + 1) DIV 2, x.q,
                             CAST(NULL AS BIGINT))))).m),
             m -> named_struct(
               'med_q', m,
               'mad_q', aggregate(sort_array(transform(h,
                     x -> named_struct('aq', abs(x.q - m), 'c', x.c))),
                   named_struct('cum', 0L, 'm2', CAST(NULL AS BIGINT)),
                   (a, x) -> IF(a.m2 IS NOT NULL, a,
                     named_struct('cum', a.cum + x.c,
                       'm2', IF(a.cum + x.c >= (n + 1) DIV 2, x.aq,
                               CAST(NULL AS BIGINT))))).m2))[0]""")
        .as("s"))
      .select(col("event_type"), col("s.med_q").as("med_q"),
        col("s.mad_q").as("mad_q"))
      .filter(col("mad_q") > 0)
  }

  /** Deterministic derived `partsupp` (SURVEY §8 / r15): the driver
    * testdata ships no partsupp table, so the four partsupp-anchored
    * TPC-H shapes (Q2/Q9/Q11/Q20) generate one — each part × 4 suppliers
    * via the public dbgen distribution formula
    * (`suppkey = (partkey + i·(S/4 + (partkey−1)/S)) mod S + 1`, S =
    * supplier count), with supply cost and available quantity as pure
    * integer functions of the key pair, so BOTH engines build the
    * IDENTICAL table as a CTE — integer div/mod only, no doubles, no
    * randomness. Cost stays in BIGINT cents (`ps_supplycost_c`) per the
    * floor-cents discipline; the (partkey, suppkey) pairs are distinct at
    * sf0.01/sf0.1 (the formula's 4 offsets are distinct mod S there).
    * Plan: part scan × 4-element sequence explode × one broadcast
    * count(*) scalar — narrow, shuffle-free, O(|part|) at any SF; at
    * 100 TB the derivation is a flat map over the part scan with the
    * supplier count as a broadcast scalar, and it is CHEAPER to re-derive
    * per consumer than to persist. */
  private[graft] def derivedPartsupp(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d).select(col("p_partkey").as("ps_partkey"))
      .crossJoin(broadcast(
        Tables.supplier(s, d).agg(count(lit(1)).as("s_cnt"))))
      .select(col("ps_partkey"), col("s_cnt"),
        explode(expr("sequence(0L, 3L)")).as("i"))
      .select(col("ps_partkey"),
        expr("(ps_partkey + i * ((s_cnt div 4) + " +
          "((ps_partkey - 1) div s_cnt))) % s_cnt + 1").as("ps_suppkey"))
      .select(col("ps_partkey"), col("ps_suppkey"),
        expr("(ps_partkey * 31 + ps_suppkey * 17) % 100000 + 100")
          .as("ps_supplycost_c"),
        expr("(ps_partkey * 13 + ps_suppkey * 7) % 9999 + 1")
          .as("ps_availqty"))

  /** The DuckDB-side twin of [[derivedPartsupp]] — prefixed into the four
    * partsupp oracle SQLs. `//` is DuckDB integer division (Spark `div`);
    * every column is BIGINT on both engines. */
  private val partsuppCte: String =
    """supcnt AS (SELECT COUNT(*) AS s_cnt FROM supplier),
       ps0 AS (SELECT p_partkey AS ps_partkey, CAST(i AS BIGINT) AS i, s_cnt
               FROM part, (SELECT unnest([0,1,2,3]) AS i), supcnt),
       ps1 AS (SELECT ps_partkey,
                      (ps_partkey + i * ((s_cnt // 4) +
                        ((ps_partkey - 1) // s_cnt))) % s_cnt + 1 AS ps_suppkey
               FROM ps0),
       partsupp AS (SELECT ps_partkey, ps_suppkey,
                           (ps_partkey * 31 + ps_suppkey * 17) % 100000 + 100
                             AS ps_supplycost_c,
                           (ps_partkey * 13 + ps_suppkey * 7) % 9999 + 1
                             AS ps_availqty
                    FROM ps1)"""

  /** The 32-bit MSB-first bit interleave of two 16-bit values, generated
    * once for both dialects (disjoint bit positions, so `+` is `|`):
    * `shl`/`shr`/`idiv` abstract the only operator spellings Spark SQL
    * and DuckDB disagree on. Shared generator = the two engines cannot
    * drift on the interleave arithmetic. */
  private[ops] def zorderSql(a: String, b: String,
                             shl: (String, Int) => String,
                             shr: (String, Int) => String): String =
    (0 until 16).map { i =>
      s"${shl(s"(${shr(a, i)} & 1)", 2 * i + 1)} + " +
        s"${shl(s"(${shr(b, i)} & 1)", 2 * i)}"
    }.mkString("(", " + ", ")")

  private def sparkShl(e: String, n: Int) =
    if (n == 0) e else s"shiftleft($e, $n)"
  private def sparkShr(e: String, n: Int) =
    if (n == 0) e else s"shiftright($e, $n)"
  private def duckShl(e: String, n: Int) = if (n == 0) e else s"($e << $n)"
  private def duckShr(e: String, n: Int) = if (n == 0) e else s"($e >> $n)"

  /** q_zorder's pipeline — see the registration comment for the skipping
    * contract. Scaling bounds come back as exact integer driver scalars
    * (the ppsSampleOf convention — one eager aggregate job at
    * construction time); everything per-row is one codegen'd integer
    * expression; the census is one 32-row aggregate. */
  private[graft] def zorderOf(events: DataFrame): DataFrame = {
    val ev = events.select(col("user_id"),
      expr(EventQueries.dayIdxSql("unix_micros(CAST(ts AS TIMESTAMP))"))
        .as("day_idx"))
    val Array(maxU, dayLo, daySpan) = ev
      .agg(max("user_id"), min("day_idx"),
        greatest(max("day_idx") - min("day_idx"), lit(1L)))
      .head.toSeq.map(_.asInstanceOf[Long]).toArray
    val z = zorderSql(
      s"((user_id * 65535) div ${math.max(maxU, 1L)})",
      s"(((day_idx - ${dayLo}L) * 65535) div ${daySpan}L)",
      sparkShl, sparkShr)
    ev.withColumn("z", expr(z))
      .groupBy(expr("z div 134217728").as("bucket")) // top 5 of 32 bits
      .agg(count(lit(1)).as("n"),
        min("user_id").as("u_min"), max("user_id").as("u_max"),
        min("day_idx").as("d_min"), max("day_idx").as("d_max"))
  }

  /** q_zorder's DuckDB twin over the live views — same generator, DuckDB
    * operator spellings, bounds from correlated scalar subqueries. */
  private def zorderOracle: String = {
    val z = zorderSql(
      "((user_id * 65535) // (SELECT GREATEST(MAX(user_id), 1) FROM ev))",
      "(((day_idx - (SELECT MIN(day_idx) FROM ev)) * 65535) // " +
        "(SELECT GREATEST(MAX(day_idx) - MIN(day_idx), 1) FROM ev))",
      duckShl, duckShr)
    s"""WITH ev AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day_idx
                    FROM events),
            zs AS (SELECT user_id, day_idx, $z AS z FROM ev)
        SELECT z // 134217728 AS bucket, COUNT(*) AS n,
               MIN(user_id) AS u_min, MAX(user_id) AS u_max,
               MIN(day_idx) AS d_min, MAX(day_idx) AS d_max
        FROM zs GROUP BY 1"""
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // C1/C2/B2 — projection + range filter; both reach the parquet scan
    // (PushedFilters + pruned ReadSchema).
    "q_scan_filter" -> ((s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= lit("1995-12-31").cast("timestamp") &&
          col("l_quantity") > 25)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
          "l_shipdate")),

    // C2 — IN / IS NOT NULL / NOT, three-valued logic stays in the scan.
    "q_filter_in_null" -> ((s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_returnflag").isin("A", "R") &&
          col("l_shipdate").isNotNull && !(col("l_quantity") < 5))
        .select("l_orderkey", "l_returnflag", "l_quantity")),

    // Z-order layout keys (r15) — the two-dimensional data-skipping
    // story: a table range-sorted by ONE column skips row groups only on
    // that column's predicates; sorting by the BIT-INTERLEAVED key of two
    // columns bounds BOTH columns' min/max inside every contiguous chunk,
    // so parquet row-group stats prune two-dimensional predicates after
    // one layout pass (`df.repartitionByRange(zval).sortWithinPartitions
    // (zval).write...` at the sink — this query computes the key and
    // PROVES the bound). Dims scale linearly onto 16 bits (locality
    // preserved — hashing would destroy exactly the property z-order
    // exists to keep), the 32-bit z-value interleaves them MSB-first, and
    // the output is the per-top-5-bit-bucket census: the top 5 z bits pin
    // the user dim's top 3 and the day dim's top 2, so within ANY bucket
    // max−min < 2¹³ (user) and < 2¹⁴ (day) BY CONSTRUCTION — ranges an
    // eighth/quarter of the domain, which is the skipping guarantee
    // (spec-pinned; also hash-checked against the twin's identical
    // integer pipeline). Everything is one codegen'd per-row expression
    // + one 32-row aggregate — scan-bound at any scale.
    "q_zorder" -> ((s, d) => zorderOf(Tables.events(s, d))),

    // C7/C8/B4/B5 — grouped agg with exact decimal sums (doubles summed as
    // decimal so the result is order-independent → safe on any cluster).
    // The SUM stays decimal-exact; only the final value is presented as
    // DOUBLE (both engines), so the driver's hasher sees one numeric dtype.
    "q_agg_sum_group" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(dec("l_quantity", 12, 2)).cast("double").as("sum_qty"),
          sum(dec("l_extendedprice", 14, 2)).cast("double").as("sum_price"),
          count(lit(1)).as("cnt"))),

    // B4/B5 — ungrouped MAX/MIN/COUNT(*): partial agg per partition, single
    // scalar to the driver.
    "q_agg_ungrouped" -> ((s, d) =>
      Tables.lineitem(s, d).agg(
        max("l_orderkey").as("max_okey"),
        min("l_shipdate").as("min_ship"),
        max("l_shipdate").as("max_ship"),
        count(lit(1)).as("cnt"))),

    // B6 — exact COUNT(DISTINCT): Catalyst plans expand + two-phase agg.
    "q_count_distinct" -> ((s, d) =>
      Tables.lineitem(s, d).agg(
        countDistinct(col("l_partkey")).as("d_part"),
        countDistinct(col("l_suppkey")).as("d_supp"),
        count(lit(1)).as("cnt"))),

    // C6 at scale — exact COUNT(DISTINCT) through value-hash shards.
    // The shard-sum identity: pmod(xxhash64(v), S) sends every occurrence
    // of a value to exactly ONE shard, so per-(group, shard) distinct
    // counts sum to the global distinct count — exactly, no sketch. Why
    // it matters at 100 TB: each shard's distinct SET is 1/S of the
    // group's, so (a) per-task dedup state is bounded by S regardless of
    // how hot one group key gets, and (b) shards are independently
    // maintainable — an incremental pipeline re-resolves only the shards
    // a delta touches and re-sums a #groups×S-row table, never re-scans
    // the corpus. (Spark's own count(distinct) rewrite partitions its
    // dedup pass on (group, value) — also skew-proof — but it re-derives
    // the global count from scratch every run; the sharded form is the
    // materializable one.) Plan: groupBy(type, shard) resolves the
    // distinct inside bounded shards (one exchange on the compound key),
    // then a 5×64-row sum. The twin is the plain COUNT(DISTINCT) — the
    // identity IS the correctness claim.
    "q_count_distinct_salted" -> ((s, d) =>
      Tables.events(s, d)
        .select(col("event_type"), col("user_id"))
        .groupBy(col("event_type"),
          pmod(xxhash64(col("user_id")), lit(64)).as("shard"))
        .agg(countDistinct(col("user_id")).as("pu"))
        .groupBy("event_type")
        .agg(sum(col("pu")).as("users"))),

    // B7/B8/B9 — scalar subquery as filter threshold (subquery executes once,
    // result broadcast into the scan filter).
    "q_scalar_subquery" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("orders")
      s.sql("""SELECT o_orderkey, o_totalprice FROM orders
               WHERE o_totalprice > 0.9 * (SELECT MAX(o_totalprice) FROM orders)""")
    }),

    // B7 extension (r12) — CORRELATED scalar subquery: each customer's
    // maximum-value order(s), written as the correlated form so Catalyst
    // performs the decorrelation itself (rewrites to a per-custkey MAX
    // aggregate + an equi-join — one shuffle on the correlation key; the
    // subquery never executes per row). Comparison happens on exact
    // floor-cents BIGINTs (MAX is order-free), so ties emit identically
    // on both engines and no float aggregate crosses the hash gate.
    "q_corr_subquery" -> ((s, d) => {
      Tables.orders(s, d)
        .withColumn("pc",
          expr("CAST(floor(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT)"))
        .createOrReplaceTempView("orders_pc")
      s.sql("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders_pc o
               WHERE pc = (SELECT MAX(pc) FROM orders_pc i
                           WHERE i.o_custkey = o.o_custkey)""")
    }),

    // B7-B11 analog of the reference's blocks_count verify invariant
    // (`blocks_count.sql:1-11`): MAX(id)+1 = COUNT(*) ⇒ no gaps. The two
    // compared scalars ride ALONGSIDE the verdict bit since r16: the
    // invariant holds at every fixture scale, so a status-only row was
    // scale-INVARIANT and the wrong-sf negative control passed it
    // (VERDICT r15 #2) — emitting max_plus_1/n_rows makes the hash carry
    // the scale-sensitive values the verdict was computed from.
    "q_completeness_check" -> ((s, d) => {
      Tables.events(s, d).createOrReplaceTempView("events")
      s.sql("""SELECT (SELECT MAX(event_id) FROM events) + 1 AS max_plus_1,
                      (SELECT COUNT(*) FROM events) AS n_rows,
                      CASE WHEN (SELECT MAX(event_id) FROM events) + 1 =
                               (SELECT COUNT(*) FROM events)
                      THEN 'complete' ELSE 'gap' END AS status""")
    }),

    // B3/B13/C18 — date-equality predicate + grouped agg.
    "q_date_filter" -> ((s, d) =>
      Tables.events(s, d)
        .filter(to_date(col("ts")) === lit("2024-01-01"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"), max("value").as("max_value"))),

    // C13 — top-k: TakeOrderedAndProject, no global sort materialized.
    "q_topk" -> ((s, d) =>
      Tables.orders(s, d)
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .limit(10)),

    // C12/C13 — top-N PER KEY (r16): the classic "top 3 documents per
    // source", via the bounded topk_by heap aggregate instead of the
    // textbook ROW_NUMBER window. Selection and order are identical to
    // ROW_NUMBER(n_chars DESC, doc_id) — the twin IS that window form —
    // but the plan is an ObjectHashAggregate with map-side combine: each
    // task keeps at most k rows per group before the exchange, so the
    // shuffle carries ≤ k·groups rows, where the window form ships and
    // per-group SORTS the whole corpus (PlanAuditSpec pins zero
    // WindowExec). n_chars round-trips through the heap's DOUBLE score
    // lane exactly (ints ≪ 2^53).
    "q_group_topn" -> ((s, d) => {
      Tables.documents(s, d)
        .groupBy("source")
        .agg(expr("topk_by(CAST(n_chars AS DOUBLE), doc_id, 3)").as("top"))
        .select(col("source"), posexplode(col("top")).as(Seq("pos", "t")))
        .select(col("source"), (col("pos") + 1).cast("long").as("rnk"),
          col("t.id").as("doc_id"), col("t.score").cast("long").as("n_chars"))
    }),

    // C9 — star join through two broadcast dims (nation, region are tiny at
    // any SF: broadcast explicitly, no shuffle of the fact side).
    "q_join_broadcast" -> ((s, d) =>
      Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(count(lit(1)).as("n_cust"),
          sum(dec("c_acctbal", 12, 2)).cast("double").as("sum_bal"))),

    // C9 — big⋈big: sort-merge on the shuffle key, partial agg after.
    "q_join_large" -> ((s, d) =>
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"),
          sum(dec("l_extendedprice", 14, 2)).cast("double").as("sum_price"))),

    // C9 — left-semi: existence probe, never multiplies rows.
    "q_semi_join" -> ((s, d) => {
      val bigOrders = Tables.orders(s, d)
        .filter(col("o_totalprice") > 100000).select("o_custkey")
      Tables.customer(s, d)
        .join(bigOrders, col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
    }),

    // C9 — left-anti: customers with no very-large order. The r15 form
    // anti-joined against ALL orders and was EMPTY at every fixture scale
    // — a vacuous oracle row (the judge's wrong-sf negative control
    // passed it, i.e. the gate could never detect this query breaking;
    // VERDICT r15 #2). The > 300 000 totalprice cut yields 3/30/308 rows
    // at sf0.001/0.01/0.1, so the hash is now scale-sensitive and an
    // anti-join that wrongly returns nothing goes red.
    "q_anti_join" -> ((s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d).filter(col("o_totalprice") > 300000)
            .select("o_custkey"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_acctbal")),

    // C9 — full-outer reconciliation: per-user click vs purchase activity
    // merged with COALESCE over the join key; rows survive from EITHER
    // side (click-only, buy-only, both) — the one join type the rest of
    // the board never exercises. Scale shape: both sides pre-aggregate to
    // user cardinality BEFORE the join (map-side-combined groupBys), so
    // the full-outer SMJ joins two already-shrunk inputs — one shuffle per
    // side on user_id, never an event-cardinality join. Spend uses the
    // floor-cents BIGINT discipline (exact, order-free) with the single
    // double division at the very end.
    "q_join_outer" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id").as("cu")).agg(count(lit(1)).as("n_clicks"))
      val buys = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id").as("bu"))
        .agg(count(lit(1)).as("n_buys"),
          sum(expr("CAST(floor(CAST(value AS DOUBLE) * 100) AS BIGINT)"))
            .as("spend_cents"))
      clicks.join(buys, col("cu") === col("bu"), "full_outer")
        .select(coalesce(col("cu"), col("bu")).as("user_id"),
          coalesce(col("n_clicks"), lit(0L)).as("n_clicks"),
          coalesce(col("n_buys"), lit(0L)).as("n_buys"),
          (coalesce(col("spend_cents"), lit(0L)).cast("double") / 100.0)
            .as("spend"),
          when(col("cu").isNull, lit("buy_only"))
            .when(col("bu").isNull, lit("click_only"))
            .otherwise(lit("both")).as("seg"))
    }),

    // C10 — range/interval join: bands are uniform, so the band predicate
    // collapses to a derived equi-key (floor(price/width)) + broadcast hash
    // join — whole-stage-codegen'd, no nested loop. The residual lo/hi
    // predicate keeps semantics identical for non-uniform bands.
    "q_range_join" -> ((s, d) => {
      import s.implicits._
      val bands = (0 until 10)
        .map(b => (b.toLong, b * 50000.0, (b + 1) * 50000.0))
        .toDF("band_id", "lo", "hi")
      Tables.orders(s, d)
        .withColumn("bkey", floor(col("o_totalprice") / 50000.0).cast("long"))
        .join(broadcast(bands), col("bkey") === col("band_id") &&
          col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi"))
        .groupBy("band_id")
        .agg(count(lit(1)).as("cnt"), max("o_totalprice").as("max_price"))
    }),

    // C12 — ranking window: top order per customer (deterministic tiebreak).
    "q_window_rank" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      Tables.orders(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    }),

    // C12 — lag/gap detection: the set-based dual of the blocks_count
    // invariant (`blocks_count.sql:6`) — per-key id gaps via LAG.
    "q_window_lag" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("event_id")
      Tables.events(s, d)
        .withColumn("prev_id", lag("event_id", 1).over(w))
        .groupBy("user_id")
        .agg(
          count(lit(1)).as("n_events"),
          max("event_id").as("max_eid"),
          sum(when(col("prev_id").isNull, 0L)
            .otherwise(col("event_id") - col("prev_id"))).as("sum_gaps"))
    }),

    // C12 — running frame sum (decimal-exact so parallel plans agree).
    "q_window_frame" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"),
          sum(dec("value", 12, 2)).over(w).cast("double").as("run_sum"))
    }),

    // C12 extension (r12) — TIME-RANGE window frame: per event, the
    // user's activity in the trailing hour (burst/rate detection — the
    // per-entity time-series shape: shuffle on the entity key, sort by
    // time, one linear frame pass; at 100 TB this is how rate limits and
    // anomaly windows are computed). Order key is integer microseconds on
    // BOTH engines (epoch_us ↔ unix_micros) so frame membership is exact
    // integer arithmetic; RANGE bounds are inclusive and tie-peers enter
    // the frame together on both engines; the sum rides DECIMAL(12,2)
    // (the q_window_frame discipline) so accumulation order cannot
    // hash-diverge.
    "q_window_range" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("tsu")
        .rangeBetween(-3600L * 1000000L, 0L)
      // NTZ-robust: some fixture SFs surface ts as TIMESTAMP_NTZ; the
      // cast's session-tz interpretation shifts every tsu by the same
      // constant, so frame MEMBERSHIP (a difference) is unaffected and
      // tsu itself never leaves the plan
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"),
          expr("unix_micros(CAST(ts AS TIMESTAMP))").as("tsu"), col("value"))
        .select(col("event_id"), col("user_id"),
          count(lit(1)).over(w).as("n_hour"),
          sum(dec("value", 12, 2)).over(w).cast("double").as("sum_hour"))
    }),

    // C12 extension (r15) — the classic ANALYTIC window set in one pass:
    // ntile quartiles, percent_rank, cume_dist, first/last value per
    // user. Exactness: the order key (event_id) is unique per user so
    // every rank is deterministic; percent_rank = (rank−1)/(n−1) and
    // cume_dist = peers/n are single divisions of identical integers on
    // both engines (exact small rationals — no accumulation); first/last
    // use the explicit full-partition ROWS frame (the default frame ends
    // at CURRENT ROW, which silently turns last_value into "self" on
    // both engines — the classic trap, avoided identically). Plan: one
    // user_id exchange + one sort feeds ALL five functions (a single
    // Window node) — the multi-function-one-frame consolidation is the
    // scale win over five separate passes.
    "q_window_analytics" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("event_id")
      val full = w.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"),
          ntile(4).over(w).as("quartile"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"),
          first(col("event_id")).over(full).as("first_eid"),
          last(col("event_id")).over(full).as("last_eid"))
    }),

    // C9/C13 composition (r12) — the TPC-H Q3 shape: segment-filtered
    // customers broadcast into date-filtered orders, shuffle-join with
    // lineitem on the order key, revenue aggregate, top-10. The classic
    // analytics plan end-to-end in one registered query: both filters
    // reach their parquet scans, the small build side broadcasts, only
    // the orders⋈lineitem key shuffles, and the final cut is
    // TakeOrderedAndProject. Revenue is the scaled-integer discipline:
    // price·(1−discount) is per-row DOUBLE (identical IEEE sequence both
    // engines), floored to integer cents and SUMMED AS BIGINT — exact
    // and order-free on any partitioning — with ONE division back at the
    // end (a raw double SUM would hash-diverge on accumulation order).
    "q_tpch_q3" -> ((s, d) => {
      val cust = Tables.customer(s, d)
        .filter(col("c_mktsegment") === "BUILDING")
        .select("c_custkey")
      val ord = Tables.orders(s, d)
        .filter(col("o_orderdate") < "1998-01-01")
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
      val li = Tables.lineitem(s, d)
        .filter(col("l_shipdate") > "1998-01-01")
        .select(col("l_orderkey"),
          expr("CAST(floor(CAST(l_extendedprice AS DOUBLE) * " +
            "(1.0 - CAST(l_discount AS DOUBLE)) * 100) AS BIGINT)")
            .as("rev_c"))
      ord.join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .join(li, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"), to_date(col("o_orderdate")).as("o_orderdate"),
          col("o_orderpriority"))
        .agg((sum(col("rev_c")).cast("double") / 100.0).as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderdate"), col("l_orderkey"))
        .limit(10)
    }),

    // C9 composition (r12) — the TPC-H Q5 shape: the 6-table "local
    // supplier volume" join. Joins chain fact-to-fact on their natural
    // keys (customer⋈orders on custkey, ⋈lineitem on orderkey, ⋈supplier
    // on suppkey); the local-supplier condition (c_nationkey =
    // s_nationkey) rides the supplier join as a residual, and the two
    // catalog dims broadcast with the region filter pushed into the
    // broadcast side. Only the three fact-side keys shuffle — the
    // year-range filter reaches the orders scan, and revenue is the same
    // floor-cents BIGINT discipline as q_tpch_q3 (exact, order-free sum;
    // one division at the end).
    "q_tpch_q5" -> ((s, d) => {
      val ord = Tables.orders(s, d)
        .filter(col("o_orderdate") >= "1997-01-01" &&
          col("o_orderdate") < "1998-01-01")
        .select("o_orderkey", "o_custkey")
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_suppkey"),
          expr("CAST(floor(CAST(l_extendedprice AS DOUBLE) * " +
            "(1.0 - CAST(l_discount AS DOUBLE)) * 100) AS BIGINT)")
            .as("rev_c"))
      val nr = Tables.nation(s, d)
        .join(broadcast(Tables.region(s, d)),
          col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "ASIA")
        .select("n_nationkey", "n_name")
      Tables.customer(s, d).select("c_custkey", "c_nationkey")
        .join(ord, col("c_custkey") === col("o_custkey"))
        .join(li, col("l_orderkey") === col("o_orderkey"))
        .join(Tables.supplier(s, d).select("s_suppkey", "s_nationkey"),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(nr), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg((sum(col("rev_c")).cast("double") / 100.0).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),

    // C9 composition (r12) — the TPC-H Q13 shape: customer distribution
    // by order count, with the classic LEFT OUTER + join-side predicate
    // (the filter must live ON THE JOIN INPUT, not after it — post-join
    // filtering would delete the zero-order customers the query exists to
    // count). count(o_orderkey) skips the null-extended rows, so
    // no-order customers land in the c_count = 0 bucket. Two aggregates:
    // per-customer (one shuffle on custkey shared with the join), then a
    // tiny histogram agg over count values.
    "q_tpch_q13" -> ((s, d) => {
      val ord = Tables.orders(s, d)
        .filter(col("o_orderpriority") =!= "1-URGENT")
        .select("o_custkey", "o_orderkey")
      Tables.customer(s, d).select("c_custkey")
        .join(ord, col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
    }),

    // C9/C7 composition (r12) — the TPC-H Q18 shape: large-volume
    // customers. The HAVING side runs FIRST as its own aggregate
    // (lineitem → per-order quantity sums, DECIMAL(12,2)-exact, filtered
    // to > 250) so the expensive fact⋈fact joins only ever see the ~1%
    // of orders that survive — the filter-before-join discipline at
    // aggregate granularity. Join back to orders and customers, top-100
    // by price via TakeOrderedAndProject.
    "q_tpch_q18" -> ((s, d) => {
      val big = Tables.lineitem(s, d)
        .groupBy("l_orderkey")
        .agg(sum(dec("l_quantity", 12, 2)).as("sum_qty"))
        .filter(col("sum_qty") > 250)
      Tables.orders(s, d)
        .join(big, col("o_orderkey") === col("l_orderkey"))
        .join(Tables.customer(s, d),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
          to_date(col("o_orderdate")).as("o_orderdate"),
          col("o_totalprice"),
          col("sum_qty").cast("double").as("sum_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
    }),

    // C7 composition (r13) — the TPC-H Q1 pricing summary: THE canonical
    // scan-heavy aggregate (one pass, 4 groups, 8 aggregates). Exactness
    // discipline: EVERY measure quantizes per row to integer cents —
    // quantity and base price via round(x·100) (the fixture's values are
    // 2-decimal, so round recovers the exact cents a DECIMAL cast would;
    // round is half-away-from-zero on both engines — the
    // q_embed_quantize discipline), the multiplied measures (disc price,
    // charge, the discount) via the established floor-cents quantizer —
    // so all six sums are pure BIGINTs (order-free, codegen'd long
    // adds; a DECIMAL(12,2) sum here runs on the BigDecimal slow path
    // because the result precision exceeds 18) and every average is the
    // SAME left-associated double division over those exact sums. Plan:
    // filter pushed to the scan, partial+final hash agg, nothing else —
    // the query whole-stage codegen exists for.
    "q_tpch_q1" -> ((s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= "2001-09-01")
        .select(col("l_returnflag"), col("l_linestatus"),
          expr("CAST(round(CAST(l_quantity AS DOUBLE) * 100) AS BIGINT)")
            .as("qty_c"),
          expr("CAST(round(CAST(l_extendedprice AS DOUBLE) * 100) AS BIGINT)")
            .as("price_c"),
          expr("CAST(floor(CAST(l_extendedprice AS DOUBLE) * " +
            "(1.0 - CAST(l_discount AS DOUBLE)) * 100) AS BIGINT)")
            .as("disc_c"),
          expr("CAST(floor(CAST(l_extendedprice AS DOUBLE) * " +
            "(1.0 - CAST(l_discount AS DOUBLE)) * " +
            "(1.0 + CAST(l_tax AS DOUBLE)) * 100) AS BIGINT)")
            .as("charge_c"),
          expr("CAST(floor(CAST(l_discount AS DOUBLE) * 100) AS BIGINT)")
            .as("dpc"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          (sum("qty_c").cast("double") / 100.0).as("sum_qty"),
          (sum("price_c").cast("double") / 100.0).as("sum_base_price"),
          (sum("disc_c").cast("double") / 100.0).as("sum_disc_price"),
          (sum("charge_c").cast("double") / 100.0).as("sum_charge"),
          (sum("qty_c").cast("double") / 100.0 / count(lit(1))).as("avg_qty"),
          (sum("price_c").cast("double") / 100.0 / count(lit(1))).as("avg_price"),
          (sum("dpc").cast("double") / 100.0 / count(lit(1))).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")),

    // C9 composition (r13) — the TPC-H Q7 volume-shipping shape: revenue
    // between two nations by year. Both tiny nation-filtered dims
    // broadcast INTO their fact sides (supplier side joins first — it
    // cuts lineitem to the two nations' suppliers before anything
    // shuffles); lineitem⋈orders⋈customer chain on natural keys; the
    // cross-nation condition is a residual on the already-joined names.
    // Year extraction and revenue are exact (integer year, floor-cents).
    "q_tpch_q7" -> ((s, d) => {
      val nats = Tables.nation(s, d)
        .filter(col("n_name").isin("NATION_1", "NATION_2"))
      val sup = Tables.supplier(s, d).select("s_suppkey", "s_nationkey")
        .join(broadcast(nats.select(col("n_nationkey").as("sk"),
          col("n_name").as("supp_nation"))), col("s_nationkey") === col("sk"))
        .select("s_suppkey", "supp_nation")
      val cus = Tables.customer(s, d).select("c_custkey", "c_nationkey")
        .join(broadcast(nats.select(col("n_nationkey").as("ck"),
          col("n_name").as("cust_nation"))), col("c_nationkey") === col("ck"))
        .select("c_custkey", "cust_nation")
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_suppkey"),
          year(col("l_shipdate")).cast("long").as("l_year"),
          expr("CAST(floor(CAST(l_extendedprice AS DOUBLE) * " +
            "(1.0 - CAST(l_discount AS DOUBLE)) * 100) AS BIGINT)")
            .as("rev_c"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(Tables.orders(s, d).select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .join(cus, col("o_custkey") === col("c_custkey"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg((sum(col("rev_c")).cast("double") / 100.0).as("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    }),

    // C9/C13 composition (r13) — the TPC-H Q10 returned-item report:
    // customers who returned goods in one quarter, top-20 by lost
    // revenue. Quarter filter pushed to the orders scan, returnflag
    // filter pushed to the lineitem scan, nation broadcast, top-20 via
    // TakeOrderedAndProject. c_acctbal rides as a raw untouched double
    // (no arithmetic → no rounding surface).
    "q_tpch_q10" -> ((s, d) => {
      val ord = Tables.orders(s, d)
        .filter(col("o_orderdate") >= "1997-01-01" &&
          col("o_orderdate") < "1997-04-01")
        .select("o_orderkey", "o_custkey")
      val li = Tables.lineitem(s, d)
        .filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"),
          expr("CAST(floor(CAST(l_extendedprice AS DOUBLE) * " +
            "(1.0 - CAST(l_discount AS DOUBLE)) * 100) AS BIGINT)")
            .as("rev_c"))
      Tables.customer(s, d)
        .join(ord, col("c_custkey") === col("o_custkey"))
        .join(li, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.nation(s, d).select("n_nationkey", "n_name")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"),
          col("n_name"))
        .agg((sum(col("rev_c")).cast("double") / 100.0).as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    }),

    // C6/C9 composition (r13) — the TPC-H Q16 parts/supplier
    // relationship, adapted to this schema (no partsupp table — the
    // observed part⋈supplier relation comes from lineitem; the
    // complaints exclusion becomes the negative-balance denylist).
    // Plan: the filtered part dim broadcasts FIRST (cuts the fact stream
    // to the surviving brands/types/sizes inside the scan stage), the
    // 6-row denylist broadcasts into a left ANTI join, and COUNT
    // (DISTINCT suppkey) per (brand, type, size) is the ONLY exchange —
    // Spark's two-phase distinct-aggregate dedups (group, suppkey) pairs
    // map-side, so a leading pairwise DISTINCT over the whole fact table
    // (the naive reading of "the observed relation") would be a second
    // full-width shuffle buying nothing; measured 1.60 → 0.75 s min at
    // sf0.1 deleting it (interleaved AB min-of-7).
    "q_tpch_q16" -> ((s, d) => {
      val bad = Tables.supplier(s, d).filter(col("s_acctbal") < 0)
        .select(col("s_suppkey").as("bad_sk"))
      val pt = Tables.part(s, d)
        .filter(col("p_brand") =!= "Brand#3" &&
          !col("p_type").startsWith("PROMO") &&
          col("p_size").isin(1, 9, 17, 25, 33, 41, 49, 50))
        .select("p_partkey", "p_brand", "p_type", "p_size")
      Tables.lineitem(s, d).select(col("l_partkey"), col("l_suppkey"))
        .join(broadcast(pt), col("l_partkey") === col("p_partkey"))
        .join(broadcast(bad), col("l_suppkey") === col("bad_sk"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
          col("p_size"))
    }),

    // C7/B7 composition (r13) — the TPC-H Q15 top-supplier shape: revenue
    // per supplier over one quarter, then the supplier(s) achieving the
    // maximum. The max rides a scalar subquery over the ALREADY-aggregated
    // (bounded: one row per supplier) revenue table — no self-join of the
    // fact side, no window; ties all surface (the spec's semantics).
    // Revenue is floor-cents BIGINT end-to-end; the max/equality compare
    // never leaves exact integers.
    "q_tpch_q15" -> ((s, d) => {
      val rev = Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= "1997-01-01" &&
          col("l_shipdate") < "1997-04-01")
        .groupBy(col("l_suppkey"))
        .agg(sum(expr("CAST(floor(CAST(l_extendedprice AS DOUBLE) * " +
          "(1.0 - CAST(l_discount AS DOUBLE)) * 100) AS BIGINT)"))
          .as("rev_c"))
        .localCheckpoint(true) // two consumers: the max probe + the filter
      val best = rev.agg(max(col("rev_c")).as("m")).select(col("m")).scalar()
      rev.filter(col("rev_c") === best)
        .join(broadcast(Tables.supplier(s, d).select("s_suppkey", "s_name")),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          (col("rev_c").cast("double") / 100.0).as("total_revenue"))
    }),

    // C7/B7 composition (r13) — the TPC-H Q17 small-quantity-order shape:
    // revenue from orders of a brand's parts whose quantity falls below
    // 20% of that part's average. The per-part threshold is a grouped
    // aggregate JOINED BACK on the part key (the grouped sibling of
    // q_corr_subquery's per-customer max): the brand filter broadcasts
    // into the lineitem scan FIRST, so both the average pass and the
    // filter pass only ever see the brand's rows; the threshold table is
    // one bounded row per part. avg = exact-decimal sum ÷ count (one
    // double division), the 0.2× compare is the identical IEEE sequence
    // both engines, and the final sum is DECIMAL-exact divided by 7.0
    // once (the spec's weekly-revenue convention).
    "q_tpch_q17" -> ((s, d) => {
      val pt = Tables.part(s, d).filter(col("p_brand") === "Brand#1")
        .select("p_partkey")
      val li = Tables.lineitem(s, d)
        .join(broadcast(pt), col("l_partkey") === col("p_partkey"))
        .select(col("l_partkey"), dec("l_quantity", 12, 2).as("qty"),
          dec("l_extendedprice", 12, 2).as("price"))
        .localCheckpoint(true) // feeds both the avg pass and the filter pass
      // bounded: ≤ one row per brand part — broadcasts, so the filter pass
      // never shuffles the fact side
      val avg = li.groupBy(col("l_partkey").as("ak"))
        .agg((sum(col("qty")).cast("double") /
          count(lit(1))).as("avg_qty"))
      li.join(broadcast(avg), col("l_partkey") === col("ak"))
        .filter(col("qty").cast("double") < lit(0.2) * col("avg_qty"))
        .agg((sum(col("price")).cast("double") / 7.0).as("avg_yearly"))
    }),

    // C7 composition (r13) — TPC-H Q6, the forecasting-revenue-change
    // scan: ONE filtered aggregate, every predicate pushed into the
    // parquet scan (date range + discount band + quantity cap), revenue =
    // floor-cents of price·discount summed as BIGINT. The minimal
    // "filter hard, aggregate once" shape — at 100 TB this query IS its
    // scan, which is the point.
    "q_tpch_q6" -> ((s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= "1997-01-01" &&
          col("l_shipdate") < "1998-01-01" &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24)
        .agg((sum(expr("CAST(floor(CAST(l_extendedprice AS DOUBLE) * " +
          "CAST(l_discount AS DOUBLE) * 100) AS BIGINT)"))
          .cast("double") / 100.0).as("revenue"))),

    // C7/C9 composition (r13) — TPC-H Q14, promo revenue share: one
    // month of lineitem against the broadcast part dim, TWO conditional
    // sums in ONE aggregate (promo-only and total floor-cents revenue),
    // the ratio assembled from exact integers with one double division
    // chain (100·promo/total, left-associated identically both engines).
    "q_tpch_q14" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= "1997-09-01" &&
          col("l_shipdate") < "1997-10-01")
        .select(col("l_partkey"),
          expr("CAST(floor(CAST(l_extendedprice AS DOUBLE) * " +
            "(1.0 - CAST(l_discount AS DOUBLE)) * 100) AS BIGINT)")
            .as("rev_c"))
      li.join(broadcast(Tables.part(s, d).select("p_partkey", "p_type")),
          col("l_partkey") === col("p_partkey"))
        .agg(
          sum(when(col("p_type") === "PROMO", col("rev_c"))
            .otherwise(0L)).as("promo_c"),
          sum(col("rev_c")).as("total_c"))
        .select((lit(100.0) * col("promo_c").cast("double") /
          col("total_c").cast("double")).as("promo_revenue_pct"))
    }),

    // C2/C7 composition (r13) — TPC-H Q19, discounted revenue under an
    // OR of conjunctive brand/size/quantity bands: the predicate-heavy
    // shape. The part-side conditions (brand, size range) live in the
    // broadcast build; the OR of (brand, quantity-band) pairs is the
    // join residual — so the fact scan still prunes on the
    // quantity envelope and only surviving rows evaluate the OR.
    "q_tpch_q19" -> ((s, d) => {
      val pt = Tables.part(s, d)
        .filter((col("p_brand") === "Brand#1" && col("p_size").between(1, 5))
          || (col("p_brand") === "Brand#2" && col("p_size").between(1, 10))
          || (col("p_brand") === "Brand#3" && col("p_size").between(1, 15)))
        .select("p_partkey", "p_brand")
      Tables.lineitem(s, d)
        .filter(col("l_quantity") >= 1 && col("l_quantity") <= 30)
        .select(col("l_partkey"), col("l_quantity"),
          expr("CAST(floor(CAST(l_extendedprice AS DOUBLE) * " +
            "(1.0 - CAST(l_discount AS DOUBLE)) * 100) AS BIGINT)")
            .as("rev_c"))
        .join(broadcast(pt), col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#1" && col("l_quantity").between(1, 11))
          || (col("p_brand") === "Brand#2" && col("l_quantity").between(10, 20))
          || (col("p_brand") === "Brand#3" && col("l_quantity").between(20, 30)))
        .agg((sum(col("rev_c")).cast("double") / 100.0).as("revenue"))
    }),

    // C7/C9 composition (late r13) — TPC-H Q8, national market share: of
    // one part type's revenue sold into one region's customers, the
    // fraction supplied by one nation, by year. The share is a ratio of
    // two conditional floor-cents sums in ONE aggregate per year (the
    // q_tpch_q14 discipline); the part filter broadcasts first (smallest
    // selectivity), the region-filtered customer-nation dim broadcasts
    // into the customer side, the supplier-nation name rides a broadcast
    // join and feeds the conditional sum.
    "q_tpch_q8" -> ((s, d) => {
      val pt = Tables.part(s, d).filter(col("p_type") === "ECONOMY")
        .select("p_partkey")
      val regionNations = Tables.nation(s, d)
        .join(broadcast(Tables.region(s, d)
          .filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").as("ck"))
      val cus = Tables.customer(s, d).select("c_custkey", "c_nationkey")
        .join(broadcast(regionNations), col("c_nationkey") === col("ck"))
        .select("c_custkey")
      val sup = Tables.supplier(s, d).select("s_suppkey", "s_nationkey")
        .join(broadcast(Tables.nation(s, d)
          .select(col("n_nationkey").as("sk"), col("n_name").as("supp_nation"))),
          col("s_nationkey") === col("sk"))
        .select("s_suppkey", "supp_nation")
      Tables.lineitem(s, d)
        .select(col("l_partkey"), col("l_orderkey"), col("l_suppkey"),
          expr("CAST(floor(CAST(l_extendedprice AS DOUBLE) * " +
            "(1.0 - CAST(l_discount AS DOUBLE)) * 100) AS BIGINT)")
            .as("rev_c"))
        .join(broadcast(pt), col("l_partkey") === col("p_partkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
          year(col("o_orderdate")).cast("long").as("o_year")),
          col("l_orderkey") === col("o_orderkey"))
        .join(cus, col("o_custkey") === col("c_custkey"))
        .groupBy("o_year")
        .agg(
          sum(when(col("supp_nation") === "NATION_1", col("rev_c"))
            .otherwise(0L)).as("nation_c"),
          sum(col("rev_c")).as("total_c"))
        .select(col("o_year"),
          (col("nation_c").cast("double") / col("total_c").cast("double"))
            .as("mkt_share"))
        .orderBy("o_year")
    }),

    // C7/C18 composition (late r13) — the TPC-H Q12 shape ADAPTED to this
    // schema (no commitdate/receiptdate/shipmode): late-shipment counts
    // by order priority — per priority, how many lineitems shipped more
    // than 60 days after their order date vs within it. The classic
    // two-conditional-counts-per-group shape; datediff is exact integer
    // date arithmetic, the date subtraction happens AFTER the join on the
    // order key (one fact-fact shuffle, both scans pruned to 3 columns).
    "q_tpch_q12" -> ((s, d) => {
      Tables.lineitem(s, d).select("l_orderkey", "l_shipdate")
        .join(Tables.orders(s, d)
          .select("o_orderkey", "o_orderdate", "o_orderpriority"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderpriority"),
          expr("datediff(CAST(l_shipdate AS DATE), CAST(o_orderdate AS DATE))")
            .as("lag_days"))
        .groupBy("o_orderpriority")
        .agg(
          sum(when(col("lag_days") > 60, 1L).otherwise(0L)).as("late_count"),
          sum(when(col("lag_days") <= 60, 1L).otherwise(0L)).as("ontime_count"))
        .orderBy("o_orderpriority")
    }),

    // B7/C9 composition (late r13) — the TPC-H Q22 shape ADAPTED (no
    // phone column — the country grouping is the customer's nation; the
    // no-orders test is "no orders since 1999-01-01", i.e. DORMANT
    // wealthy customers, because the fixture gives every customer some
    // historical order — an unconditional anti-join would be vacuously
    // empty at the gate scale and exercise nothing): customers above the
    // positive-balance average with no recent order, counted per nation
    // with their total balance. The average rides ONE scalar subquery
    // (computed once, broadcast into the filter), the dormancy test is a
    // left ANTI join against the date-pruned order scan, and the
    // per-nation rollup sums exact balance CENTS with one division.
    "q_tpch_q22" -> ((s, d) => {
      val cust = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_nationkey"),
          expr("CAST(floor(CAST(c_acctbal AS DOUBLE) * 100) AS BIGINT)")
            .as("bal_c"))
      val avgBal = cust.filter(col("bal_c") > 0)
        .agg((sum(col("bal_c")).cast("double") / count(lit(1))).as("a"))
        .select(col("a")).scalar()
      cust.filter(col("bal_c").cast("double") > avgBal)
        .join(Tables.orders(s, d)
          .filter(col("o_orderdate") >= "1999-01-01")
          .select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("numcust"),
          (sum(col("bal_c")).cast("double") / 100.0).as("totacctbal"))
        .orderBy("c_nationkey")
    }),

    // C9 composition (r14) — TPC-H Q4, priority checking: orders placed
    // in one quarter that had at least one LATE lineitem, counted by
    // priority. The EXISTS is a LEFT SEMI join: the date window prunes
    // the orders scan first (the small side after pruning — one quarter
    // ≈ 1/26th of the fixture span), then the semi join on the order key
    // carries the correlated lateness predicate (l_shipdate more than 60
    // days after THAT order's o_orderdate — the q_tpch_q12 adaptation:
    // this schema has no commitdate/receiptdate) as a non-equi residual
    // on the hash match. Semi-join semantics dedup multi-late orders for
    // free — no DISTINCT, no row explosion; one fact-fact shuffle on the
    // order key is inherent to the correlation.
    "q_tpch_q4" -> ((s, d) => {
      Tables.orders(s, d)
        .filter(col("o_orderdate") >= "1996-07-01" &&
          col("o_orderdate") < "1996-10-01")
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
        .join(Tables.lineitem(s, d).select(
            col("l_orderkey"), col("l_shipdate")),
          col("o_orderkey") === col("l_orderkey") &&
            expr("datediff(CAST(l_shipdate AS DATE), " +
              "CAST(o_orderdate AS DATE)) > 60"),
          "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    }),

    // C9 composition (r14) — TPC-H Q21, suppliers who kept orders
    // waiting: for one nation's suppliers, count finished ('F') orders
    // where THIS supplier shipped late but was not alone in the order
    // (another supplier participated — EXISTS, a LEFT SEMI self-join)
    // and no OTHER supplier shipped late (NOT EXISTS, a LEFT ANTI
    // self-join) — the hardest classic anti-join composition, kept as
    // genuine semi/anti joins on the order key with the supplier
    // inequality and lateness (q_tpch_q12's +60-day adaptation — the
    // left side's o_orderdate anchors BOTH sides' lateness, so the
    // orders table joins once) as non-equi residuals. Plan shape: the
    // nation dim broadcasts into supplier, supplier broadcasts into the
    // late-lineitem stream; at cluster scale the three lineitem legs
    // shuffle on the SAME order key so every correlation resolves in one
    // exchange partitioning (at fixture scale Spark broadcasts the self-
    // join legs outright — strictly better); the final per-supplier
    // count is bounded by the supplier dim and TakeOrdered caps the
    // output at 100. An
    // aggregate rewrite (per-order supplier/late-supplier counts) would
    // fuse the two self-joins into one groupBy — kept as joins here
    // because the semi/anti SHAPE is the operator under test.
    "q_tpch_q21" -> ((s, d) => {
      val sup = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)
          .filter(col("n_name") === "NATION_1")
          .select("n_nationkey")),
          col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey", "s_name")
      val li = Tables.lineitem(s, d)
        .select("l_orderkey", "l_suppkey", "l_shipdate")
      val l1 = li
        .join(Tables.orders(s, d)
          .filter(col("o_orderstatus") === "F")
          .select("o_orderkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .filter(expr("datediff(CAST(l_shipdate AS DATE), " +
          "CAST(o_orderdate AS DATE)) > 60"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .select("l_orderkey", "l_suppkey", "o_orderdate", "s_name")
      val l2 = li.select(col("l_orderkey").as("lo2"),
        col("l_suppkey").as("ls2"))
      val l3 = li.select(col("l_orderkey").as("lo3"),
        col("l_suppkey").as("ls3"), col("l_shipdate").as("lsd3"))
      l1
        .join(l2, col("l_orderkey") === col("lo2") &&
          col("l_suppkey") =!= col("ls2"), "left_semi")
        .join(l3, col("l_orderkey") === col("lo3") &&
          col("l_suppkey") =!= col("ls3") &&
          expr("datediff(CAST(lsd3 AS DATE), " +
            "CAST(o_orderdate AS DATE)) > 60"),
          "left_anti")
        .groupBy("s_name")
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(100)
    }),

    // C9/B7 composition (r15) — TPC-H Q2, minimum-cost supplier: for
    // filtered parts, the supplier in one region offering the LOWEST
    // supply cost. The correlated min-cost subquery plans as ONE
    // aggregate + rejoin (min cost per part over the region's suppliers,
    // then an equi-join back on (partkey, cost)) — never a per-row
    // subquery. Over the derived partsupp (see [[derivedPartsupp]]); the
    // region-filtered supplier dim broadcasts into partsupp, the
    // part-filter side broadcasts into the probe, and the min-cost
    // aggregate shares the partkey partitioning with its rejoin — at
    // 100 TB one exchange on partkey covers both. Cost ties keep every
    // minimal supplier (classic Q2 semantics); output order is fully
    // keyed so the LIMIT cut is deterministic. Output columns adapt to
    // this schema (p_brand for p_mfgr; no address/phone/comment columns
    // exist).
    "q_tpch_q2" -> ((s, d) => {
      val eur = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)
          .join(broadcast(Tables.region(s, d)
            .filter(col("r_name") === "EUROPE")),
            col("n_regionkey") === col("r_regionkey"))
          .select("n_nationkey", "n_name")),
          col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
      val psEur = derivedPartsupp(s, d)
        .join(broadcast(eur), col("ps_suppkey") === col("s_suppkey"))
      val mc = psEur
        .groupBy(col("ps_partkey").as("mc_partkey"))
        .agg(min(col("ps_supplycost_c")).as("min_cost_c"))
      psEur
        .join(broadcast(Tables.part(s, d)
          .filter(col("p_size") === 15 && col("p_type") === "PROMO")
          .select("p_partkey", "p_brand")),
          col("ps_partkey") === col("p_partkey"))
        .join(mc, col("ps_partkey") === col("mc_partkey") &&
          col("ps_supplycost_c") === col("min_cost_c"))
        .select(col("s_acctbal"), col("s_name"), col("n_name"),
          col("p_partkey"), col("p_brand"),
          (col("ps_supplycost_c").cast("double") / 100.0)
            .as("ps_supplycost"))
        .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
          col("p_partkey"))
        .limit(100)
    }),

    // C9/C7 composition (r15) — TPC-H Q9, product-type profit by nation
    // and year: revenue minus supply cost for one part family across the
    // full fact chain (lineitem ⋈ partsupp ⋈ part ⋈ supplier ⋈ orders ⋈
    // nation). The part-name filter broadcasts FIRST into both lineitem
    // and the derived partsupp, so the two-key (partkey, suppkey) join
    // only ever sees the filtered family; supplier/nation dims broadcast;
    // only the orderkey join shuffles fact-to-fact. Profit is exact
    // BIGINT cents per row: the floor-cents revenue minus
    // cost_cents·quantity (quantities are integral — the BIGINT cast is
    // value-identical on both engines) — the sum is order-free, one
    // division at the end. The two-key partsupp match keeps classic Q9
    // semantics (THE shipping supplier's cost): with the derived
    // 4-supplier coverage it deterministically selects the
    // formula-covered lineitems, identically in both engines.
    "q_tpch_q9" -> ((s, d) => {
      val bolts = Tables.part(s, d)
        .filter(col("p_name").like("%bolt%"))
        .select("p_partkey")
      val li = Tables.lineitem(s, d)
        .join(broadcast(bolts), col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          expr("CAST(floor(CAST(l_extendedprice AS DOUBLE) * " +
            "(1.0 - CAST(l_discount AS DOUBLE)) * 100) AS BIGINT)")
            .as("rev_c"),
          col("l_quantity").cast("long").as("qty"))
      val ps = derivedPartsupp(s, d)
        .join(broadcast(bolts.select(col("p_partkey").as("bp"))),
          col("ps_partkey") === col("bp"))
        .select("ps_partkey", "ps_suppkey", "ps_supplycost_c")
      li.join(ps, col("l_partkey") === col("ps_partkey") &&
          col("l_suppkey") === col("ps_suppkey"))
        .join(broadcast(Tables.supplier(s, d)
          .select("s_suppkey", "s_nationkey")),
          col("l_suppkey") === col("s_suppkey"))
        .join(Tables.orders(s, d).select("o_orderkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.nation(s, d)
          .select("n_nationkey", "n_name")),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"),
          year(col("o_orderdate")).cast("long").as("o_year"))
        .agg((sum(col("rev_c") - col("ps_supplycost_c") * col("qty"))
          .cast("double") / 100.0).as("sum_profit"))
        .orderBy(col("nation"), col("o_year").desc)
    }),

    // C7/B7 composition (r15) — TPC-H Q11, important stock
    // identification: per-part stock value (cost·availqty) over ONE
    // nation's suppliers, kept only where the part's share exceeds a
    // threshold fraction of the nation total. The classic fraction
    // scales with SF (0.0001/SF); here it derives in-plan as 10/|part| —
    // same spirit, scale-free, and the comparison stays PURE BIGINT
    // (sum·|part| > total·10 — no double threshold, no rounding drift).
    // Plan: the per-part aggregate runs ONCE and is materialized
    // (localCheckpoint — O(|part|) narrow rows); the nation TOTAL then
    // derives FROM the grouped result as a scalar subquery over the
    // materialized rows instead of re-deriving partsupp for a second
    // corpus-shaped aggregate — the total is the sum of the per-part
    // sums by definition, so one partkey exchange feeds both the
    // threshold scalar and the filter.
    "q_tpch_q11" -> ((s, d) => {
      val natSup = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)
          .filter(col("n_name") === "NATION_3")
          .select("n_nationkey")),
          col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey")
      val grouped = derivedPartsupp(s, d)
        .join(broadcast(natSup), col("ps_suppkey") === col("s_suppkey"))
        .groupBy("ps_partkey")
        .agg(sum(col("ps_supplycost_c") * col("ps_availqty")).as("sv_c"))
        .localCheckpoint(true)
      val totalC = grouped.agg(sum(col("sv_c")).as("t")).scalar()
      val pCnt = Tables.part(s, d).agg(count(lit(1)).as("c")).scalar()
      grouped
        .filter(col("sv_c") * pCnt > totalC * lit(10L))
        .select(col("ps_partkey"),
          (col("sv_c").cast("double") / 100.0).as("value"))
        .orderBy(col("value").desc, col("ps_partkey"))
    }),

    // C9 composition (r15) — TPC-H Q20, potential part promotion: the
    // nested semi-join chain — suppliers (in a nation set) who stock a
    // part family in EXCESS of half the quantity they shipped in one
    // year. Inside-out: the year-filtered lineitem aggregates per
    // (partkey, suppkey) — the part-family broadcast prunes it BEFORE
    // the aggregate — then the derived partsupp joins on both keys and
    // the excess-stock predicate (2·availqty > shipped, pure BIGINT —
    // integral quantities) filters; the surviving supplier keys feed a
    // LEFT SEMI join against the nation-filtered supplier dim, so
    // multi-part excess suppliers dedup for free. Classic NULL
    // semantics kept: suppliers with no shipments in the window do not
    // qualify (inner join to the aggregate).
    "q_tpch_q20" -> ((s, d) => {
      val bolts = Tables.part(s, d)
        .filter(col("p_name").like("%bolt%"))
        .select("p_partkey")
      val shipped = Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= "1997-01-01" &&
          col("l_shipdate") < "1998-01-01")
        .join(broadcast(bolts), col("l_partkey") === col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(sum(col("l_quantity").cast("long")).as("sq"))
      val excess = derivedPartsupp(s, d)
        .join(broadcast(bolts.select(col("p_partkey").as("bp"))),
          col("ps_partkey") === col("bp"))
        .join(shipped, col("ps_partkey") === col("l_partkey") &&
          col("ps_suppkey") === col("l_suppkey"))
        .filter(col("ps_availqty") * 2 > col("sq"))
        .select("ps_suppkey")
      Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)
          .filter(col("n_name").isin("NATION_2", "NATION_7", "NATION_12"))
          .select("n_nationkey")),
          col("s_nationkey") === col("n_nationkey"))
        .join(excess, col("s_suppkey") === col("ps_suppkey"), "left_semi")
        .select("s_suppkey", "s_name", "s_acctbal")
        .orderBy("s_name")
    }),

    // Anomaly flagging (r12) — per-type z-score outliers over the value
    // column, the telemetry-guardrail shape. Exactness discipline: values
    // quantize per row to integer CENTS (floor(v·100) — identical IEEE
    // multiply+floor both engines), so the per-type sum and sum-of-squares
    // are pure BIGINT (order-free; cents² sums stay far under 2^63 at any
    // fixture SF), and mean/variance/z are the SAME short double sequence
    // over those exact integers on both engines. Plan: one narrow stats
    // agg (5 rows) broadcast back over the scan — nothing corpus-sized
    // shuffles. Sample variance (n−1); var = 0 groups emit nothing.
    "q_anomaly_z" -> ((s, d) => {
      val ev = anomalyQuantized(Tables.events(s, d))
      val stats = anomalyStats(ev)
      ev.join(broadcast(stats), ev("event_type") === stats("et"))
        .select(col("event_id"), col("event_type"), col("value"),
          ((col("q").cast("double") - col("mean_q")) /
            sqrt(col("var_q"))).as("z"))
        .filter(abs(col("z")) > 3.0)
    }),

    // Robust outlier gate — MAD (median absolute deviation), the
    // heavy-tail-safe complement to q_anomaly_z: mean/σ are themselves
    // dragged by the outliers they are supposed to flag (one whale event
    // inflates σ until nothing is 3σ out); median/MAD have a 50%
    // breakdown point. Exact medians are normally hostile to distributed
    // execution (selection needs a sort or multi-round quantile search),
    // but the cent quantization bounds the VALUE DOMAIN, so the exact
    // lower median comes from a histogram: ONE map-side-combined
    // groupBy(type, cents) — output ≤ #types × distinct-cents rows no
    // matter the corpus — collected per type and folded ROW-LOCALLY to
    // the smallest q with cum ≥ (n+1) div 2 (see [[madStats]]; the MAD
    // deviation histogram is a transform of the same bounded array, so
    // the facts are never touched again). Second and final fact pass:
    // broadcast the ≤ #types (med, mad) rows back and keep
    // |q − med| > 3·MAD — every compare pure BIGINT, zero float drift
    // against the twin. MAD = 0 groups (over half the mass on one cent)
    // drop out — the textbook degenerate case where the gate would flag
    // every non-median row. Two fact scans, two bounded aggregates, no
    // fact-side sort/window at any scale.
    "q_anomaly_mad" -> ((s, d) => {
      val ev = anomalyQuantized(Tables.events(s, d))
      ev.join(broadcast(madStats(ev)), "event_type")
        .filter(abs(col("q") - col("med_q")) > lit(3) * col("mad_q"))
        .select(col("event_id"), col("event_type"), col("value"),
          abs(col("q") - col("med_q")).as("dev_cents"),
          col("mad_q").as("mad_cents"))
    }),

    // C16 — rollup.
    "q_rollup" -> ((s, d) =>
      Tables.lineitem(s, d)
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"))),

    // C16 — cube.
    "q_cube" -> ((s, d) =>
      Tables.orders(s, d)
        .cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("cnt"), max("o_totalprice").as("max_price"))),

    // C14 — except / intersect / union-distinct as ONE pass: tag-union the
    // two key sets, aggregate membership flags per key, then count the three
    // set relations from the flags. One shuffle instead of three
    // independent except/intersect/distinct plans re-scanning both tables.
    "q_set_ops" -> ((s, d) => {
      val cust = Tables.customer(s, d).select(col("c_custkey").as("k"),
        (col("c_acctbal") < 0).as("neg"), lit(true).as("is_cust"), lit(false).as("is_ord"))
      val ord = Tables.orders(s, d).select(col("o_custkey").as("k"),
        lit(false).as("neg"), lit(false).as("is_cust"), lit(true).as("is_ord"))
      val flags = cust.unionAll(ord)
        .groupBy("k")
        .agg(max(when(col("is_cust"), col("neg"))).as("neg"),
          max(col("is_cust")).as("in_cust"), max(col("is_ord")).as("in_ord"))
      flags.agg(
          sum(when(col("neg") && !col("in_ord"), 1L).otherwise(0L)).as("neg_no_order"),
          sum(when(col("neg") && col("in_ord"), 1L).otherwise(0L)).as("neg_with_order"),
          count(lit(1)).as("union_distinct"))
        .selectExpr(
          "stack(3, 'neg_no_order', neg_no_order, 'neg_with_order', neg_with_order, " +
            "'union_distinct', union_distinct) AS (tag, cnt)")
    }),

    // C11 — as-of join via the union+window trick: one shuffle by user_id,
    // no row-multiplying join (the correlated-subquery formulation the
    // oracle uses would fan out signups × purchases at scale).
    "q_asof_join" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev.select(col("event_id"), col("user_id"), col("ts"), col("event_type"),
          when(col("event_type") === "signup", col("ts")).as("signup_ts"))
        .withColumn("last_signup_ts", last("signup_ts", ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "last_signup_ts")
    }),

    // D8 — session windows as a BATCH query: per-user sessions closed by a
    // 30-minute inactivity gap (`session_window` is the same operator the
    // streaming layer uses — graft.streaming.BeaconStreaming.sessionCounts).
    // The oracle is the classic gaps-and-islands rewrite (lag + running
    // sum), proving the semantics, not just the row count. Values sum as
    // DECIMAL so both engines aggregate exactly.
    "q_session_window" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
        .select(col("user_id"), col("w.start").as("session_start"),
          col("w.end").as("session_end"), col("n_events"), col("sum_value"))),

    // C3/C4 — UNNEST of a repeated scalar column.
    "q_explode" -> ((s, d) =>
      Tables.embeddings(s, d)
        .filter(col("vec_id") < 10)
        .select(col("vec_id"), explode(col("embedding")).as("val"))),

    // C6 — array scalar functions. The sliced array is presented as a
    // scaled-integer JSON string: raw float-array columns crash the driver's
    // pandas sorter, and float→string formatting is not identical across
    // engines — floor(x * 1e6) is exact integer arithmetic on the same IEEE
    // float both sides, so the serialized form hash-matches. The isnan guard
    // keeps the pair well-defined if a fixture ever carries NaN: DuckDB
    // errors on CAST(NaN AS BIGINT) where non-ANSI Spark would yield 0.
    "q_array_funcs" -> ((s, d) =>
      Tables.embeddings(s, d).select(
        col("vec_id"),
        size(col("embedding")).as("dim"),
        element_at(col("embedding"), 1).as("first_val"),
        to_json(expr(
          "transform(slice(embedding, 1, 3), x -> IF(isnan(x), NULL, CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)))"))
          .as("head3"))),

    // C17 — string functions + LIKE pushdown.
    "q_string_funcs" -> ((s, d) =>
      Tables.documents(s, d)
        .filter(col("text").like("%join%"))
        .select(
          col("doc_id"),
          upper(col("lang")).as("lang_uc"),
          substring(col("text"), 1, 12).as("prefix"),
          length(col("text")).as("text_len"),
          concat(col("source"), lit(":"), col("lang")).as("src_lang"),
          // graffiti-decode shape (C17): hex string → bytes → UTF-8 text
          // (`beacon_blocks.json:48-50` graffiti is hex; unhex+decode is the
          // read path). Round-trip through hex() here since testdata has no
          // native hex column.
          decode(unhex(hex(substring(col("text"), 1, 8))), "UTF-8")
            .as("graffiti_text"))),

    // C17 — regexp extraction + match counting. n_vruns (vowel-run count
    // over the TEXT) is the r16 de-vacuization column: doc_ids and
    // per-doc `source` values coincide between the sf0.001 and sf0.01
    // fixtures even though the texts differ, so the extraction-only form
    // hashed identically across scales and the wrong-sf negative control
    // passed it (VERDICT r15 #2); the text-derived count differs on
    // 497/500 rows between those fixtures, making the row scale-sensitive.
    "q_regexp" -> ((s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        regexp_extract(col("source"), "([0-9]+)", 1).as("src_num"),
        regexp_count(col("text"), lit("[aeiou]+")).as("n_vruns"))),

    // C19 — integer/math functions (results typed BIGINT on both engines).
    "q_math_funcs" -> ((s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_orderkey") <= 1000)
        .select(
          col("l_orderkey"),
          (col("l_orderkey") % 7).as("mod7"),
          floor(col("l_quantity")).as("qty_floor"),
          abs(col("l_discount") - 0.05).as("disc_dev"))),

    // C20 — JSON extraction from the raw props payload.
    "q_json_funcs" -> ((s, d) =>
      Tables.events(s, d)
        .filter(col("event_id") < 1000)
        .select(
          col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))),

    // C18 — date/time functions over the ns-derived timestamp.
    "q_date_funcs" -> ((s, d) =>
      Tables.events(s, d)
        .filter(col("event_id") < 1000)
        .select(
          col("event_id"),
          date_trunc("HOUR", col("ts")).as("ts_hour"),
          hour(col("ts")).as("hh"),
          to_date(col("ts")).as("dt"))),

    // C23 — bounded deterministic inspection slice.
    "q_sample_limit" -> ((s, d) =>
      Tables.orders(s, d)
        .orderBy("o_orderkey")
        .select("o_orderkey", "o_totalprice")
        .limit(100)),

    // C20 — from_json with a declared schema (the structured twin of
    // get_json_object).
    "q_from_json" -> ((s, d) =>
      Tables.events(s, d)
        .filter(col("event_id") < 500)
        .select(col("event_id"),
          from_json(col("props"),
            StructType(Seq(StructField("k", LongType))))
            .getField("k").as("k"))),

    // C21 — map construction + keys/values/lookup (minimal parity surface;
    // no MAP columns exist in the reference schemas). Keys serialize via
    // to_json (string contents — engine-neutral); values surface as the
    // scalar first element so the column stays a plain numeric dtype for
    // the driver's hasher.
    "q_map_funcs" -> ((s, d) => {
      val m = map(col("event_type"), col("value"))
      Tables.events(s, d)
        .filter(col("event_id") < 500)
        .select(col("event_id"),
          to_json(map_keys(m)).as("ks"),
          element_at(map_values(m), 1).as("v0"),
          element_at(m, lit("click")).as("click_v"))
    }),

    // C6 — array functions beyond size/element_at: distinct, flatten, sort.
    "q_array_funcs2" -> ((s, d) =>
      Tables.embeddings(s, d)
        .filter(col("vec_id") < 50)
        .select(col("vec_id"),
          size(array_distinct(col("embedding"))).as("n_distinct"),
          size(flatten(array(col("embedding"), col("embedding")))).as("n_flat"),
          element_at(array_sort(col("embedding")), 1).as("min_val"))),

    // B10/B12 — conditional buckets (IF/CASE) feeding a grouped count.
    "q_conditional" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(when(col("value") > 50, "hi").otherwise("lo").as("bucket"))
        .agg(count(lit(1)).as("cnt"), max("value").as("max_value"),
          min("value").as("min_value"))),

    // C16 — explicit GROUPING SETS (beyond rollup/cube).
    "q_grouping_sets" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("orders")
      s.sql("""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt
               FROM orders
               GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))""")
    }),

    // C22 — approximate aggregates (no hash oracle: sketch internals
    // differ by design; values ARE gated by tools/check_tolerance.py
    // against published error bounds — see [[toleranceOracle]]).
    "q_approx_agg" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy("event_type")
        .agg(
          approx_count_distinct(col("user_id")).as("approx_users"),
          percentile_approx(col("value"), lit(0.5), lit(1000)).as("p50_value"))),

    // Deterministic MODE (r15) — the most frequent cent-quantized value
    // per event type, with the tie broken toward the SMALLEST value:
    // Spark's built-in `mode()` is explicitly non-deterministic on ties,
    // which disqualifies it from any reproducible pipeline (and from a
    // hash gate); the count-then-argmax composition — one (type, cents)
    // count aggregate, then max(struct(cnt, −cents)) per type — is
    // deterministic on every engine, run, and partitioning (integer
    // argmax is order-free), and both aggregates are map-side combined
    // over a value-domain-bounded key space (the q_anomaly_mad histogram
    // discipline).
    "q_mode" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(col("event_type"),
          floor(col("value") * lit(100.0)).cast("long").as("cents"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy("event_type")
        .agg(max(struct(col("cnt"), (-col("cents")).as("nc"))).as("m"))
        .select(col("event_type"), (-col("m.nc")).as("mode_cents"),
          col("m.cnt").as("mode_count"))),

    // MERGEABLE sketches (r15) — the incremental form q_approx_agg's
    // one-shot estimate cannot give: per (type, day) HLL sketches
    // materialize as binary columns (at 100 TB these are the daily
    // sketch-table rows a pipeline PERSISTS — re-aggregating a month of
    // distinct users then costs a union of 30 sketches per key, never a
    // re-scan of the raw log), and the monthly estimate is
    // hll_union_agg + hll_sketch_estimate over them. Day indexing is
    // tz-free integer epoch-µs division (the q_concurrency_peak
    // convention). Rows-only by design for the hash gate (sketch
    // estimates are not cross-engine-reproducible); value-gated like
    // q_approx_agg: estimate within 4σ of the exact distinct at the
    // default lgConfigK=12 (rsd = 1.04/√4096 ≈ 1.6%), day counts exact.
    "q_sketch_union" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(col("event_type"),
          expr(EventQueries.dayIdxSql("unix_micros(CAST(ts AS TIMESTAMP))"))
            .as("day_idx"))
        .agg(expr("hll_sketch_agg(user_id)").as("sk"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_days"),
          expr("hll_sketch_estimate(hll_union_agg(sk))").as("est_users"))),

    // EXACT percentiles (r12) — the companion to q_approx_agg's sketches:
    // Spark's `percentile` and DuckDB's `quantile_cont` share the
    // (n−1)·p linear-interpolation definition, and the interpolation is
    // the same IEEE sequence over the same doubles, so the twin is
    // hash-exact (verified to the last ulp on the fixture, including
    // non-representable results like 112.01000000000003). Scale contract,
    // stated: exact percentile buffers each GROUP's values — right for
    // bounded groups (here: 5 event types over a value column, the
    // ops-dashboard shape); at unbounded per-group cardinality the
    // sketched q_approx_agg is the corpus-scale path. That trade is
    // exactly why both are registered.
    "q_percentile" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy("event_type")
        .agg(count(col("value")).as("n_vals"),
          expr("percentile(value, 0.5)").as("p50"),
          expr("percentile(value, 0.9)").as("p90"),
          expr("percentile(value, 0.99)").as("p99"))),

    // PIVOT (r12) — the wide-format report shape: one row per event date,
    // one count column per event type. The type list is an explicit
    // literal (as PIVOT requires for a stable schema — Spark's inferring
    // variant would scan once just to learn the columns); each cell is a
    // grouped conditional count, which is exactly what Catalyst lowers
    // .pivot() to, and what the twin spells as CASE sums. Counts are
    // BIGINT on both engines; absent combinations are 0 (count of an
    // empty set), not NULL, on both. One partial+final agg over the scan
    // — the pivot adds per-row width, never a shuffle.
    "q_pivot" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(to_date(col("ts")).as("event_date"))
        .pivot("event_type",
          Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L))
  )

  /** Tolerance twin for q_approx_agg (r11 — the last rows-only query gets
    * a value gate): exact per-type `COUNT(DISTINCT user_id)` and the
    * non-null value count. The checker bounds the HLL++ estimate by the
    * sketch's published standard error (relativeSD = 0.05, Spark's
    * default — Heule et al. 2013) and rank-checks `percentile_approx`'s
    * returned element against the Greenwald–Khanna guarantee (rank error
    * ≤ n/accuracy at accuracy = 1000) with DuckDB counting the element's
    * exact rank interval. */
  private[graft] val toleranceOracle: Map[String, String] = Map(
    "q_approx_agg" ->
      """SELECT event_type,
                CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
                CAST(COUNT(value) AS BIGINT) AS n_vals
         FROM events GROUP BY event_type""",
    "q_sketch_union" ->
      """SELECT event_type,
                CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
                CAST(COUNT(DISTINCT epoch_us(ts) // 86400000000) AS BIGINT)
                  AS n_days
         FROM events GROUP BY event_type""")

  val oracle: Map[String, String] = Map(
    "q_zorder" -> zorderOracle,
    // ROW_NUMBER under (cnt DESC, cents) is the same deterministic
    // argmax as the Spark side's max(struct(cnt, -cents))
    "q_mode" ->
      """WITH c AS (SELECT event_type,
                           CAST(FLOOR(value * 100.0) AS BIGINT) AS cents,
                           COUNT(*) AS cnt
                    FROM events GROUP BY 1, 2),
              r AS (SELECT event_type, cents, cnt,
                           ROW_NUMBER() OVER (PARTITION BY event_type
                             ORDER BY cnt DESC, cents) AS rn
                    FROM c)
         SELECT event_type, cents AS mode_cents, cnt AS mode_count
         FROM r WHERE rn = 1""",
    "q_scan_filter" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_shipdate
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '1995-12-31 00:00:00' AND l_quantity > 25""",
    "q_filter_in_null" ->
      """SELECT l_orderkey, l_returnflag, l_quantity FROM lineitem
         WHERE l_returnflag IN ('A','R') AND l_shipdate IS NOT NULL
           AND NOT (l_quantity < 5)""",
    // DECIMAL→DOUBLE presentation casts (here and in q_join_broadcast /
    // q_window_frame / q_session_window) are bit-identical across engines
    // only while the scaled sum stays under 2^53 (~9e13 at scale 2): above
    // that, DuckDB's hugeint-backed DECIMAL→DOUBLE can double-round where
    // Spark's Decimal.toDouble rounds once. Driver SFs peak at sf0.1
    // (sums ~1e9) — 4 orders of magnitude of headroom; round to fixed
    // decimals before the cast if far larger SFs are ever benched.
    "q_agg_sum_group" ->
      """SELECT l_returnflag, l_linestatus,
                CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) AS sum_price,
                COUNT(*) AS cnt
         FROM lineitem GROUP BY l_returnflag, l_linestatus""",
    "q_agg_ungrouped" ->
      """SELECT MAX(l_orderkey) AS max_okey, MIN(l_shipdate) AS min_ship,
                MAX(l_shipdate) AS max_ship, COUNT(*) AS cnt
         FROM lineitem""",
    "q_count_distinct" ->
      """SELECT COUNT(DISTINCT l_partkey) AS d_part,
                COUNT(DISTINCT l_suppkey) AS d_supp, COUNT(*) AS cnt
         FROM lineitem""",
    // The twin is the PLAIN distinct on purpose: the shard-sum identity
    // (same value → same shard → per-shard distincts sum exactly) is the
    // correctness claim, so the oracle must be the unsharded form.
    "q_count_distinct_salted" ->
      """SELECT event_type, COUNT(DISTINCT user_id) AS users
         FROM events GROUP BY event_type""",
    "q_scalar_subquery" ->
      """SELECT o_orderkey, o_totalprice FROM orders
         WHERE o_totalprice > 0.9 * (SELECT MAX(o_totalprice) FROM orders)""",
    "q_completeness_check" ->
      """SELECT (SELECT MAX(event_id) FROM events) + 1 AS max_plus_1,
                (SELECT COUNT(*) FROM events) AS n_rows,
                CASE WHEN (SELECT MAX(event_id) FROM events) + 1 =
                          (SELECT COUNT(*) FROM events)
                 THEN 'complete' ELSE 'gap' END AS status""",
    "q_date_filter" ->
      """SELECT event_type, COUNT(*) AS cnt, MAX(value) AS max_value
         FROM events
         WHERE CAST(CAST(ts AS TIMESTAMP) AS DATE) = DATE '2024-01-01'
         GROUP BY event_type""",
    "q_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""",
    // the textbook window form — the heap aggregate's selection/order
    // contract is exactly ROW_NUMBER(n_chars DESC, doc_id)
    "q_group_topn" ->
      """SELECT source, rnk, doc_id, n_chars FROM (
           SELECT source, doc_id, CAST(n_chars AS BIGINT) AS n_chars,
                  ROW_NUMBER() OVER (PARTITION BY source
                                     ORDER BY n_chars DESC, doc_id) AS rnk
           FROM documents) WHERE rnk <= 3""",
    "q_join_broadcast" ->
      """SELECT r_name, COUNT(*) AS n_cust,
                CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sum_bal
         FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name""",
    "q_join_large" ->
      """SELECT o_orderstatus, COUNT(*) AS cnt,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) AS sum_price
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderstatus""",
    "q_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 100000)""",
    "q_anti_join" ->
      """SELECT c_custkey, c_acctbal FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey
                             AND o_totalprice > 300000)""",
    "q_join_outer" ->
      """WITH c AS (SELECT user_id AS cu, COUNT(*) AS n_clicks
                    FROM events WHERE event_type = 'click' GROUP BY 1),
              b AS (SELECT user_id AS bu, COUNT(*) AS n_buys,
                           CAST(SUM(CAST(floor(CAST(value AS DOUBLE) * 100)
                             AS BIGINT)) AS BIGINT) AS spend_cents
                    FROM events WHERE event_type = 'purchase' GROUP BY 1)
         SELECT COALESCE(cu, bu) AS user_id,
                COALESCE(n_clicks, 0) AS n_clicks,
                COALESCE(n_buys, 0) AS n_buys,
                CAST(COALESCE(spend_cents, 0) AS DOUBLE) / 100.0 AS spend,
                CASE WHEN cu IS NULL THEN 'buy_only'
                     WHEN bu IS NULL THEN 'click_only'
                     ELSE 'both' END AS seg
         FROM c FULL OUTER JOIN b ON cu = bu""",
    "q_range_join" ->
      """WITH bands AS (
           SELECT band_id, band_id * 50000.0 AS lo, (band_id + 1) * 50000.0 AS hi
           FROM (SELECT UNNEST(generate_series(0, 9)) AS band_id))
         SELECT band_id, COUNT(*) AS cnt, MAX(o_totalprice) AS max_price
         FROM orders JOIN bands ON o_totalprice >= lo AND o_totalprice < hi
         GROUP BY band_id""",
    "q_window_rank" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
                  ROW_NUMBER() OVER (PARTITION BY o_custkey
                    ORDER BY o_totalprice DESC, o_orderkey) AS rn
           FROM orders) t
         WHERE rn = 1""",
    "q_window_lag" ->
      """SELECT user_id, COUNT(*) AS n_events, MAX(event_id) AS max_eid,
                CAST(SUM(CASE WHEN prev_id IS NULL THEN 0
                              ELSE event_id - prev_id END) AS BIGINT) AS sum_gaps
         FROM (SELECT user_id, event_id,
                      LAG(event_id) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_id
               FROM events) t
         GROUP BY user_id""",
    "q_window_frame" ->
      """SELECT event_id, user_id,
                CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER (
                  PARTITION BY user_id ORDER BY event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS run_sum
         FROM events""",
    "q_tpch_q3" ->
      """SELECT l_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
                o_orderpriority,
                CAST(SUM(CAST(floor(CAST(l_extendedprice AS DOUBLE) *
                  (1.0 - CAST(l_discount AS DOUBLE)) * 100) AS BIGINT))
                  AS DOUBLE) / 100.0 AS revenue
         FROM customer
         JOIN orders ON o_custkey = c_custkey
         JOIN lineitem ON l_orderkey = o_orderkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1998-01-01'
           AND l_shipdate > TIMESTAMP '1998-01-01'
         GROUP BY 1, 2, 3
         ORDER BY revenue DESC, o_orderdate, l_orderkey
         LIMIT 10""",
    "q_tpch_q5" ->
      """SELECT n_name,
                CAST(SUM(CAST(floor(CAST(l_extendedprice AS DOUBLE) *
                  (1.0 - CAST(l_discount AS DOUBLE)) * 100) AS BIGINT))
                  AS DOUBLE) / 100.0 AS revenue
         FROM customer
         JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON l_orderkey = o_orderkey
         JOIN supplier ON l_suppkey = s_suppkey
                      AND c_nationkey = s_nationkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA'
           AND o_orderdate >= TIMESTAMP '1997-01-01'
           AND o_orderdate < TIMESTAMP '1998-01-01'
         GROUP BY n_name
         ORDER BY revenue DESC, n_name""",
    "q_corr_subquery" ->
      """WITH opc AS (SELECT *,
                   CAST(floor(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT)
                     AS pc
                 FROM orders)
         SELECT o_orderkey, o_custkey, o_totalprice FROM opc o
         WHERE pc = (SELECT MAX(pc) FROM opc i
                     WHERE i.o_custkey = o.o_custkey)""",
    "q_tpch_q13" ->
      """WITH pc AS (SELECT c_custkey, COUNT(o_orderkey) AS c_count
                     FROM customer LEFT OUTER JOIN orders
                       ON c_custkey = o_custkey
                      AND o_orderpriority <> '1-URGENT'
                     GROUP BY c_custkey)
         SELECT c_count, COUNT(*) AS custdist
         FROM pc GROUP BY c_count""",
    "q_tpch_q18" ->
      """WITH big AS (SELECT l_orderkey,
                             SUM(CAST(l_quantity AS DECIMAL(12,2)))
                               AS sum_qty
                      FROM lineitem GROUP BY l_orderkey
                      HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 250)
         SELECT c_custkey, c_name, o_orderkey,
                CAST(o_orderdate AS DATE) AS o_orderdate, o_totalprice,
                CAST(sum_qty AS DOUBLE) AS sum_qty
         FROM orders
         JOIN big ON o_orderkey = l_orderkey
         JOIN customer ON o_custkey = c_custkey
         ORDER BY o_totalprice DESC, o_orderkey
         LIMIT 100""",
    "q_tpch_q1" ->
      """SELECT l_returnflag, l_linestatus,
                CAST(SUM(CAST(round(CAST(l_quantity AS DOUBLE) * 100)
                  AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty,
                CAST(SUM(CAST(round(CAST(l_extendedprice AS DOUBLE) * 100)
                  AS BIGINT)) AS DOUBLE) / 100.0 AS sum_base_price,
                CAST(SUM(CAST(floor(CAST(l_extendedprice AS DOUBLE) *
                  (1.0 - CAST(l_discount AS DOUBLE)) * 100) AS BIGINT))
                  AS DOUBLE) / 100.0 AS sum_disc_price,
                CAST(SUM(CAST(floor(CAST(l_extendedprice AS DOUBLE) *
                  (1.0 - CAST(l_discount AS DOUBLE)) *
                  (1.0 + CAST(l_tax AS DOUBLE)) * 100) AS BIGINT))
                  AS DOUBLE) / 100.0 AS sum_charge,
                CAST(SUM(CAST(round(CAST(l_quantity AS DOUBLE) * 100)
                  AS BIGINT)) AS DOUBLE) / 100.0 / COUNT(*) AS avg_qty,
                CAST(SUM(CAST(round(CAST(l_extendedprice AS DOUBLE) * 100)
                  AS BIGINT)) AS DOUBLE) / 100.0 / COUNT(*) AS avg_price,
                CAST(SUM(CAST(floor(CAST(l_discount AS DOUBLE) * 100)
                  AS BIGINT)) AS DOUBLE) / 100.0 / COUNT(*) AS avg_disc,
                COUNT(*) AS count_order
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '2001-09-01'
         GROUP BY 1, 2
         ORDER BY 1, 2""",
    "q_tpch_q7" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                CAST(year(l_shipdate) AS BIGINT) AS l_year,
                CAST(SUM(CAST(floor(CAST(l_extendedprice AS DOUBLE) *
                  (1.0 - CAST(l_discount AS DOUBLE)) * 100) AS BIGINT))
                  AS DOUBLE) / 100.0 AS revenue
         FROM lineitem
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation n1 ON s_nationkey = n1.n_nationkey
         JOIN nation n2 ON c_nationkey = n2.n_nationkey
         WHERE n1.n_name IN ('NATION_1', 'NATION_2')
           AND n2.n_name IN ('NATION_1', 'NATION_2')
           AND n1.n_name <> n2.n_name
         GROUP BY 1, 2, 3""",
    "q_tpch_q10" ->
      """SELECT c_custkey, c_name, c_acctbal, n_name,
                CAST(SUM(CAST(floor(CAST(l_extendedprice AS DOUBLE) *
                  (1.0 - CAST(l_discount AS DOUBLE)) * 100) AS BIGINT))
                  AS DOUBLE) / 100.0 AS revenue
         FROM customer
         JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON l_orderkey = o_orderkey
         JOIN nation ON c_nationkey = n_nationkey
         WHERE o_orderdate >= TIMESTAMP '1997-01-01'
           AND o_orderdate < TIMESTAMP '1997-04-01'
           AND l_returnflag = 'R'
         GROUP BY 1, 2, 3, 4
         ORDER BY revenue DESC, c_custkey
         LIMIT 20""",
    "q_tpch_q6" ->
      """SELECT CAST(SUM(CAST(floor(CAST(l_extendedprice AS DOUBLE) *
                  CAST(l_discount AS DOUBLE) * 100) AS BIGINT))
                  AS DOUBLE) / 100.0 AS revenue
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1997-01-01'
           AND l_shipdate < TIMESTAMP '1998-01-01'
           AND l_discount >= 0.05 AND l_discount <= 0.07
           AND l_quantity < 24""",
    "q_tpch_q14" ->
      """SELECT 100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
                  THEN CAST(floor(CAST(l_extendedprice AS DOUBLE) *
                    (1.0 - CAST(l_discount AS DOUBLE)) * 100) AS BIGINT)
                  ELSE 0 END) AS DOUBLE)
                / CAST(SUM(CAST(floor(CAST(l_extendedprice AS DOUBLE) *
                    (1.0 - CAST(l_discount AS DOUBLE)) * 100) AS BIGINT))
                  AS DOUBLE) AS promo_revenue_pct
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE l_shipdate >= TIMESTAMP '1997-09-01'
           AND l_shipdate < TIMESTAMP '1997-10-01'""",
    "q_tpch_q19" ->
      """SELECT CAST(SUM(CAST(floor(CAST(l_extendedprice AS DOUBLE) *
                  (1.0 - CAST(l_discount AS DOUBLE)) * 100) AS BIGINT))
                  AS DOUBLE) / 100.0 AS revenue
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE l_quantity >= 1 AND l_quantity <= 30
           AND ((p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5)
             OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10)
             OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15))
           AND ((p_brand = 'Brand#1' AND l_quantity BETWEEN 1 AND 11)
             OR (p_brand = 'Brand#2' AND l_quantity BETWEEN 10 AND 20)
             OR (p_brand = 'Brand#3' AND l_quantity BETWEEN 20 AND 30))""",
    "q_tpch_q8" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
                CAST(SUM(CASE WHEN n2.n_name = 'NATION_1'
                  THEN CAST(floor(CAST(l_extendedprice AS DOUBLE) *
                    (1.0 - CAST(l_discount AS DOUBLE)) * 100) AS BIGINT)
                  ELSE 0 END) AS DOUBLE)
                / CAST(SUM(CAST(floor(CAST(l_extendedprice AS DOUBLE) *
                    (1.0 - CAST(l_discount AS DOUBLE)) * 100) AS BIGINT))
                  AS DOUBLE) AS mkt_share
         FROM lineitem
         JOIN part ON l_partkey = p_partkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation n2 ON s_nationkey = n2.n_nationkey
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation n1 ON c_nationkey = n1.n_nationkey
         JOIN region ON n1.n_regionkey = r_regionkey
         WHERE p_type = 'ECONOMY' AND r_name = 'ASIA'
         GROUP BY 1 ORDER BY 1""",
    "q_tpch_q12" ->
      """SELECT o_orderpriority,
                CAST(SUM(CASE WHEN datediff('day', CAST(o_orderdate AS DATE),
                    CAST(l_shipdate AS DATE)) > 60 THEN 1 ELSE 0 END)
                  AS BIGINT) AS late_count,
                CAST(SUM(CASE WHEN datediff('day', CAST(o_orderdate AS DATE),
                    CAST(l_shipdate AS DATE)) <= 60 THEN 1 ELSE 0 END)
                  AS BIGINT) AS ontime_count
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY 1 ORDER BY 1""",
    "q_tpch_q4" ->
      """SELECT o_orderpriority, COUNT(*) AS order_count
         FROM orders o
         WHERE o_orderdate >= TIMESTAMP '1996-07-01'
           AND o_orderdate < TIMESTAMP '1996-10-01'
           AND EXISTS (SELECT 1 FROM lineitem l
                       WHERE l.l_orderkey = o.o_orderkey
                         AND datediff('day', CAST(o.o_orderdate AS DATE),
                               CAST(l.l_shipdate AS DATE)) > 60)
         GROUP BY 1 ORDER BY 1""",
    "q_tpch_q21" ->
      """SELECT s_name, COUNT(*) AS numwait
         FROM lineitem l1
         JOIN orders ON l1.l_orderkey = o_orderkey
         JOIN supplier ON l1.l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         WHERE n_name = 'NATION_1' AND o_orderstatus = 'F'
           AND datediff('day', CAST(o_orderdate AS DATE),
                 CAST(l1.l_shipdate AS DATE)) > 60
           AND EXISTS (SELECT 1 FROM lineitem l2
                       WHERE l2.l_orderkey = l1.l_orderkey
                         AND l2.l_suppkey <> l1.l_suppkey)
           AND NOT EXISTS (SELECT 1 FROM lineitem l3
                           WHERE l3.l_orderkey = l1.l_orderkey
                             AND l3.l_suppkey <> l1.l_suppkey
                             AND datediff('day', CAST(o_orderdate AS DATE),
                                   CAST(l3.l_shipdate AS DATE)) > 60)
         GROUP BY 1 ORDER BY 2 DESC, 1 LIMIT 100""",
    "q_tpch_q2" ->
      s"""WITH $partsuppCte,
          eur AS (SELECT s_suppkey, s_name, s_acctbal, n_name
                  FROM supplier JOIN nation ON s_nationkey = n_nationkey
                                JOIN region ON n_regionkey = r_regionkey
                  WHERE r_name = 'EUROPE'),
          pse AS (SELECT * FROM partsupp JOIN eur ON ps_suppkey = s_suppkey),
          mc AS (SELECT ps_partkey AS mc_partkey,
                        MIN(ps_supplycost_c) AS min_cost_c
                 FROM pse GROUP BY ps_partkey)
          SELECT s_acctbal, s_name, n_name, p_partkey, p_brand,
                 CAST(ps_supplycost_c AS DOUBLE) / 100.0 AS ps_supplycost
          FROM pse
          JOIN part ON ps_partkey = p_partkey
          JOIN mc ON ps_partkey = mc_partkey AND ps_supplycost_c = min_cost_c
          WHERE p_size = 15 AND p_type = 'PROMO'
          ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
          LIMIT 100""",
    "q_tpch_q9" ->
      s"""WITH $partsuppCte
          SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
                 CAST(SUM(CAST(floor(CAST(l_extendedprice AS DOUBLE) *
                     (1.0 - CAST(l_discount AS DOUBLE)) * 100) AS BIGINT)
                   - ps_supplycost_c * CAST(l_quantity AS BIGINT)) AS DOUBLE)
                   / 100.0 AS sum_profit
          FROM lineitem
          JOIN partsupp ON l_partkey = ps_partkey AND l_suppkey = ps_suppkey
          JOIN part ON p_partkey = l_partkey
          JOIN supplier ON s_suppkey = l_suppkey
          JOIN orders ON o_orderkey = l_orderkey
          JOIN nation ON s_nationkey = n_nationkey
          WHERE p_name LIKE '%bolt%'
          GROUP BY 1, 2
          ORDER BY nation, o_year DESC""",
    "q_tpch_q11" ->
      s"""WITH $partsuppCte,
          natps AS (SELECT ps_partkey, ps_supplycost_c * ps_availqty AS v_c
                    FROM partsupp
                    JOIN supplier ON ps_suppkey = s_suppkey
                    JOIN nation ON s_nationkey = n_nationkey
                    WHERE n_name = 'NATION_3')
          SELECT ps_partkey, CAST(SUM(v_c) AS DOUBLE) / 100.0 AS value
          FROM natps
          GROUP BY ps_partkey
          HAVING SUM(v_c) * (SELECT COUNT(*) FROM part)
               > (SELECT SUM(v_c) FROM natps) * 10
          ORDER BY value DESC, ps_partkey""",
    "q_tpch_q20" ->
      s"""WITH $partsuppCte,
          shipped AS (SELECT l_partkey, l_suppkey,
                             SUM(CAST(l_quantity AS BIGINT)) AS sq
                      FROM lineitem
                      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
                        AND l_shipdate < TIMESTAMP '1998-01-01'
                      GROUP BY 1, 2),
          excess AS (SELECT ps_suppkey
                     FROM partsupp
                     JOIN part ON ps_partkey = p_partkey
                              AND p_name LIKE '%bolt%'
                     JOIN shipped ON ps_partkey = l_partkey
                                 AND ps_suppkey = l_suppkey
                     WHERE 2 * ps_availqty > sq)
          SELECT s_suppkey, s_name, s_acctbal
          FROM supplier
          JOIN nation ON s_nationkey = n_nationkey
          WHERE n_name IN ('NATION_2', 'NATION_7', 'NATION_12')
            AND s_suppkey IN (SELECT ps_suppkey FROM excess)
          ORDER BY s_name""",
    "q_tpch_q22" ->
      """WITH c AS (SELECT c_custkey, c_nationkey,
                           CAST(floor(CAST(c_acctbal AS DOUBLE) * 100)
                             AS BIGINT) AS bal_c
                    FROM customer),
              a AS (SELECT CAST(SUM(bal_c) AS DOUBLE) / COUNT(*) AS ab
                    FROM c WHERE bal_c > 0)
         SELECT c_nationkey, COUNT(*) AS numcust,
                CAST(CAST(SUM(bal_c) AS BIGINT) AS DOUBLE) / 100.0
                  AS totacctbal
         FROM c
         WHERE CAST(bal_c AS DOUBLE) > (SELECT ab FROM a)
           AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                           AND o_orderdate >= TIMESTAMP '1999-01-01')
         GROUP BY 1 ORDER BY 1""",
    "q_tpch_q15" ->
      """WITH rev AS (SELECT l_suppkey,
                             CAST(SUM(CAST(floor(
                               CAST(l_extendedprice AS DOUBLE) *
                               (1.0 - CAST(l_discount AS DOUBLE)) * 100)
                               AS BIGINT)) AS BIGINT) AS rev_c
                      FROM lineitem
                      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
                        AND l_shipdate < TIMESTAMP '1997-04-01'
                      GROUP BY 1)
         SELECT s_suppkey, s_name,
                CAST(rev_c AS DOUBLE) / 100.0 AS total_revenue
         FROM rev JOIN supplier ON l_suppkey = s_suppkey
         WHERE rev_c = (SELECT MAX(rev_c) FROM rev)""",
    "q_tpch_q17" ->
      """WITH li AS (SELECT l_partkey,
                            CAST(l_quantity AS DECIMAL(12,2)) AS qty,
                            CAST(l_extendedprice AS DECIMAL(12,2)) AS price
                     FROM lineitem
                     JOIN part ON l_partkey = p_partkey
                     WHERE p_brand = 'Brand#1'),
              a AS (SELECT l_partkey AS ak,
                           CAST(SUM(qty) AS DOUBLE) / COUNT(*) AS avg_qty
                    FROM li GROUP BY 1)
         SELECT CAST(SUM(price) AS DOUBLE) / 7.0 AS avg_yearly
         FROM li JOIN a ON l_partkey = ak
         WHERE CAST(qty AS DOUBLE) < 0.2 * avg_qty""",
    "q_tpch_q16" ->
      """WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
              ok AS (SELECT l_partkey, l_suppkey FROM ps
                     WHERE l_suppkey NOT IN
                       (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0))
         SELECT p_brand, p_type, p_size,
                COUNT(DISTINCT l_suppkey) AS supplier_cnt
         FROM ok JOIN part ON l_partkey = p_partkey
         WHERE p_brand <> 'Brand#3'
           AND p_type NOT LIKE 'PROMO%'
           AND p_size IN (1, 9, 17, 25, 33, 41, 49, 50)
         GROUP BY 1, 2, 3""",
    "q_anomaly_z" ->
      """WITH ev AS (SELECT event_id, event_type, value,
                            CAST(floor(CAST(value AS DOUBLE) * 100) AS BIGINT) AS q
                     FROM events WHERE value IS NOT NULL),
              st AS (SELECT event_type AS et, COUNT(*) AS n,
                            CAST(SUM(q) AS BIGINT) AS s,
                            CAST(SUM(q * q) AS BIGINT) AS s2
                     FROM ev GROUP BY 1),
              sv AS (SELECT et, n,
                            CAST(s AS DOUBLE) / n AS mean_q,
                            (CAST(s2 AS DOUBLE)
                              - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
                              / (n - 1) AS var_q
                     FROM st WHERE n > 1)
         SELECT event_id, event_type, value,
                (CAST(q AS DOUBLE) - mean_q) / sqrt(var_q) AS z
         FROM ev JOIN sv ON ev.event_type = sv.et
         WHERE var_q > 0 AND abs((CAST(q AS DOUBLE) - mean_q) / sqrt(var_q)) > 3.0""",
    // Same histogram-median construction as the Spark side: lower median
    // = smallest value whose cumulative count reaches (n+1) integer-div 2
    // (DuckDB `//` ≡ Spark `DIV` on BIGINT) — every compare integer.
    "q_anomaly_mad" ->
      """WITH ev AS (SELECT event_id, event_type, value,
                            CAST(floor(CAST(value AS DOUBLE) * 100) AS BIGINT) AS q
                     FROM events WHERE value IS NOT NULL),
              h AS (SELECT event_type, q, COUNT(*) AS c FROM ev GROUP BY 1, 2),
              m AS (SELECT event_type, MIN(q) AS med_q FROM (
                      SELECT event_type, q,
                             SUM(c) OVER (PARTITION BY event_type ORDER BY q) AS cum,
                             SUM(c) OVER (PARTITION BY event_type) AS n
                      FROM h) t
                    WHERE cum >= (n + 1) // 2 GROUP BY 1),
              dh AS (SELECT h.event_type, abs(q - med_q) AS aq, SUM(c) AS c
                     FROM h JOIN m ON h.event_type = m.event_type GROUP BY 1, 2),
              md AS (SELECT event_type, MIN(aq) AS mad_q FROM (
                      SELECT event_type, aq,
                             SUM(c) OVER (PARTITION BY event_type ORDER BY aq) AS cum,
                             SUM(c) OVER (PARTITION BY event_type) AS n
                      FROM dh) t
                    WHERE cum >= (n + 1) // 2 GROUP BY 1)
         SELECT event_id, ev.event_type, value,
                abs(q - med_q) AS dev_cents, mad_q AS mad_cents
         FROM ev JOIN m ON ev.event_type = m.event_type
                 JOIN md ON ev.event_type = md.event_type
         WHERE mad_q > 0 AND abs(q - med_q) > 3 * mad_q""",
    "q_window_range" ->
      """SELECT event_id, user_id,
                COUNT(*) OVER w AS n_hour,
                CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER w AS DOUBLE) AS sum_hour
         FROM (SELECT *, epoch_us(ts) AS tsu FROM events)
         WINDOW w AS (PARTITION BY user_id ORDER BY tsu
                      RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""",
    "q_window_analytics" ->
      """SELECT user_id, event_id,
                NTILE(4) OVER w AS quartile,
                percent_rank() OVER w AS pr,
                cume_dist() OVER w AS cd,
                first_value(event_id) OVER wf AS first_eid,
                last_value(event_id) OVER wf AS last_eid
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY event_id),
                wf AS (PARTITION BY user_id ORDER BY event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND UNBOUNDED FOLLOWING)""",
    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt
         FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""",
    "q_cube" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt,
                MAX(o_totalprice) AS max_price
         FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)""",
    "q_set_ops" ->
      """SELECT 'neg_no_order' AS tag, COUNT(*) AS cnt FROM (
           SELECT c_custkey FROM customer WHERE c_acctbal < 0
           EXCEPT SELECT o_custkey FROM orders) t1
         UNION ALL
         SELECT 'neg_with_order', COUNT(*) FROM (
           SELECT c_custkey FROM customer WHERE c_acctbal < 0
           INTERSECT SELECT o_custkey FROM orders) t2
         UNION ALL
         SELECT 'union_distinct', COUNT(*) FROM (
           SELECT c_custkey FROM customer
           UNION SELECT o_custkey FROM orders) t3""",
    "q_asof_join" ->
      """SELECT p.event_id, p.user_id, MAX(CAST(s.ts AS TIMESTAMP)) AS last_signup_ts
         FROM events p
         LEFT JOIN events s ON s.user_id = p.user_id
           AND s.event_type = 'signup' AND s.ts <= p.ts
         WHERE p.event_type = 'purchase'
         GROUP BY p.event_id, p.user_id""",
    "q_session_window" ->
      """WITH g AS (SELECT user_id, ts, value,
                          CASE WHEN LAG(ts) OVER w IS NULL
                                 OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
                               THEN 1 ELSE 0 END AS new_sess
                   FROM events
                   WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
          s AS (SELECT user_id, ts, value,
                       SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                         ROWS UNBOUNDED PRECEDING) AS sess_id
                FROM g)
          SELECT user_id, MIN(ts) AS session_start,
                 MAX(ts) + INTERVAL 30 MINUTE AS session_end,
                 COUNT(*) AS n_events,
                 CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
          FROM s GROUP BY user_id, sess_id""",
    "q_explode" ->
      """SELECT vec_id, UNNEST(embedding) AS val FROM embeddings WHERE vec_id < 10""",
    "q_array_funcs" ->
      """SELECT vec_id, len(embedding) AS dim, embedding[1] AS first_val,
                CAST(to_json(list_transform(embedding[1:3],
                  x -> CASE WHEN isnan(x) THEN NULL
                            ELSE CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT) END)) AS VARCHAR) AS head3
         FROM embeddings""",
    "q_string_funcs" ->
      """SELECT doc_id, upper(lang) AS lang_uc, substr(text, 1, 12) AS prefix,
                length(text) AS text_len, source || ':' || lang AS src_lang,
                decode(unhex(hex(substr(text, 1, 8)))) AS graffiti_text
         FROM documents WHERE text LIKE '%join%'""",
    "q_regexp" ->
      """SELECT doc_id, regexp_extract(source, '([0-9]+)', 1) AS src_num,
                len(regexp_extract_all(text, '[aeiou]+')) AS n_vruns
         FROM documents""",
    "q_math_funcs" ->
      """SELECT l_orderkey, l_orderkey % 7 AS mod7,
                CAST(floor(l_quantity) AS BIGINT) AS qty_floor,
                abs(l_discount - 0.05) AS disc_dev
         FROM lineitem WHERE l_orderkey <= 1000""",
    "q_json_funcs" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
         FROM events WHERE event_id < 1000""",
    "q_date_funcs" ->
      """SELECT event_id,
                date_trunc('hour', CAST(ts AS TIMESTAMP)) AS ts_hour,
                CAST(date_part('hour', CAST(ts AS TIMESTAMP)) AS INT) AS hh,
                CAST(CAST(ts AS TIMESTAMP) AS DATE) AS dt
         FROM events WHERE event_id < 1000""",
    "q_sample_limit" ->
      """SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_orderkey LIMIT 100""",
    "q_from_json" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
         FROM events WHERE event_id < 500""",
    "q_map_funcs" ->
      """SELECT event_id,
                CAST(to_json(map_keys(map([event_type], [value]))) AS VARCHAR) AS ks,
                map_values(map([event_type], [value]))[1] AS v0,
                CASE WHEN event_type = 'click' THEN value END AS click_v
         FROM events WHERE event_id < 500""",
    "q_array_funcs2" ->
      """SELECT vec_id,
                len(list_distinct(embedding)) AS n_distinct,
                len(flatten([embedding, embedding])) AS n_flat,
                list_sort(embedding)[1] AS min_val
         FROM embeddings WHERE vec_id < 50""",
    "q_conditional" ->
      """SELECT CASE WHEN value > 50 THEN 'hi' ELSE 'lo' END AS bucket,
                COUNT(*) AS cnt, MAX(value) AS max_value, MIN(value) AS min_value
         FROM events GROUP BY 1""",
    "q_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt
         FROM orders
         GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))""",
    // quantile_cont shares Spark percentile's (n-1)*p interpolation rule
    // and IEEE op sequence — hash-exact to the last ulp
    "q_percentile" ->
      """SELECT event_type,
                COUNT(value) AS n_vals,
                quantile_cont(value, 0.5) AS p50,
                quantile_cont(value, 0.9) AS p90,
                quantile_cont(value, 0.99) AS p99
         FROM events GROUP BY event_type""",
    "q_pivot" ->
      """SELECT CAST(ts AS DATE) AS event_date,
                CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
                CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
                CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
                CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
                CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
         FROM events GROUP BY 1"""
  )
}
