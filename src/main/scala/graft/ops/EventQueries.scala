package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.tables.Tables

/** Event-stream analytics over the `events` table — the telemetry side of
  * a large-scale pipeline (ingest/processing event logs get exactly these
  * three questions asked of them: did users/jobs progress through the
  * expected stages, what transitions happen, does a cohort keep coming
  * back). All three share ONE scalable plan shape: a single exchange on
  * `user_id`, then bounded per-user work — no windows, no sorts, no
  * self-joins.
  *
  * - `q_funnel`: ordered 3-step funnel (signup → click → purchase, each
  *   step strictly after the previous step's FIRST completion). Per user
  *   the events fold in time order through a 3-slot state; the fold input
  *   is `sort_array(collect_list(struct(ts, event_id, type)))` — per-user
  *   event counts are bounded by user activity, the same group-and-expand
  *   budget q_embed_neardup runs on. Strictly-after (`>`) semantics make
  *   the equal-timestamp tiebreak irrelevant (both engines exclude ties),
  *   but event_id still rides in the sort struct so the fold order itself
  *   is a deterministic total order.
  * - `q_event_transitions`: event-type bigram counts per user in
  *   (ts, event_id) order — the Markov-transition table. Adjacent pairs
  *   come from a row-local `transform(slice(...))` over the same sorted
  *   array (0-based `evs[i + 1]` bracket indexing), then one narrow
  *   (prev, next) count aggregate: 25 output rows regardless of corpus.
  * - `q_retention`: weekly cohort retention. cohort = Monday-truncated
  *   week of the user's FIRST event; each (user, active week) pair counts
  *   once. ONE pass: `min(week)` and `collect_set(week)` in the same
  *   user aggregate — the set is bounded by the CALENDAR (weeks in the
  *   observation window), not by event count, so the explode after it is
  *   corpus-size-independent per user. Offsets are exact integer date
  *   arithmetic (weeks are Mondays, so datediff is a multiple of 7).
  *
  * At 100 TB: all three shuffle each event row exactly once (to its
  * user's partition, map-side-combined collect partials), and everything
  * after the per-user fold is bounded (3 counters / 25 pairs / weeks ×
  * cohorts). The alternative window-function forms pay the same exchange
  * PLUS a sort per partition; the fold forms sort only within each user's
  * collected array.
  */
object EventQueries {

  // DataFrame-input builders (private[ops]): the registered queries call
  // them with Tables.events, the specs with hand-built frames.
  /** The fixture's `value`-seconds → interval-duration-µs spelling
    * (floored, 1 µs floor so every interval is non-empty) — ONE
    * definition shared by every batch consumer (concurrencyPeakOf,
    * intervalJoinOf) and the streaming twin
    * ([[graft.streaming.BeaconStreaming.intervalOverlapStream]]), so the
    * spec-pinned batch/stream parities cannot drift on the duration
    * arithmetic. The DuckDB twins spell it
    * `GREATEST(1, CAST(FLOOR(value * 1000000.0) AS BIGINT))`. */
  private[graft] def durationUs(value: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    greatest(lit(1L), floor(value * lit(1000000.0)).cast("long"))

  /** µs per day — the grain of every day-bucketing operator. */
  private[graft] val DayUs = 86400000000L

  /** The ONE day-index spelling, shared by every operator that buckets
    * epoch-µs into days (the concurrency-peak boundary fold, the
    * z-order and HLL-sketch day_idx columns, the streaming sketch
    * sink): `t div 86 400 000 000`, with the DuckDB twins spelling it
    * `t // 86400000000`. PRECONDITION — non-negative epoch (timestamps
    * ≥ 1970-01-01): Spark's `div` truncates toward zero while DuckDB's
    * `//` floors, so the engines diverge by one day on negative
    * epoch-µs (ADVICE r15). All fixtures are 2024+; a pre-1970 corpus
    * needs an explicit floor-division spelling on BOTH engines — change
    * it HERE and in the twins together, nowhere else. */
  private[graft] def dayIdxSql(tUsExpr: String): String =
    s"($tUsExpr) div ${DayUs}L"

  private[graft] def scd2Of(ev: DataFrame): DataFrame =
    ev.filter(col("event_type").isNotNull && col("ts").isNotNull)
      .groupBy("user_id")
      .agg(sort_array(collect_list(struct(
        expr("unix_micros(CAST(ts AS TIMESTAMP))").as("tsu"),
        col("event_id"), col("event_type")))).as("evs"))
      // Run starts: position 0, or the state changed vs the previous
      // observation (0-based bracket indexing into the sorted array).
      .withColumn("starts", expr(
        """filter(sequence(0, size(evs) - 1),
             p -> p = 0 OR evs[p].event_type != evs[p - 1].event_type)"""))
      // Each run start becomes one history row; valid_to is the NEXT
      // run's start (half-open), NULL for the still-current state.
      .select(col("user_id"), explode(expr(
        """transform(sequence(0, size(starts) - 1),
             j -> named_struct(
               'event_type',    evs[starts[j]].event_type,
               'valid_from_us', evs[starts[j]].tsu,
               'valid_to_us',   IF(j = size(starts) - 1,
                                   CAST(NULL AS BIGINT),
                                   evs[starts[j + 1]].tsu)))""")).as("h"))
      .select(col("user_id"), col("h.event_type"),
        col("h.valid_from_us"), col("h.valid_to_us"))

  /** CDC apply (r15) — merge a changelog onto a snapshot, latest-wins per
    * key, with MERGE-style row provenance. The id-space split plays the
    * roles (the q_dedup_delta discipline): the first 80% of event_ids is
    * the standing SNAPSHOT (its latest observation per user = the current
    * state), the last 20% is today's CHANGELOG, and the fixture's `error`
    * events play the tombstones (in production the changelog carries an
    * op column; the CASE below is where it plugs in). Semantics: the
    * changelog's latest row per key wins over the snapshot
    * unconditionally (a changelog is newer by definition); a tombstone
    * winner deletes the key (emitted with action='deleted', NULL state —
    * the audit row a MERGE's DELETE clause logs); a tombstone for a key
    * the snapshot never had is a no-op and emits nothing.
    *
    * Plan: ONE exchange on user_id — both sides' latest-row picks are
    * conditional arg_last_event argmaxes inside the SAME aggregate
    * ((tsu, event_id) order is total: event_id is unique), so there is no
    * snapshot⋈changelog join at all; the split threshold is an in-plan
    * scalar subquery (`Dataset.scalar()`), so the same query runs at
    * every SF. At 100 TB the changelog side is a day's delta — the
    * aggregate's map-side combine collapses it before the shuffle, and
    * the snapshot side ships each key once. */
  private[ops] def cdcMergeOf(ev: DataFrame): DataFrame = {
    // explicit FLOOR, not a bare long cast: Spark's double→long cast
    // truncates while DuckDB's CAST rounds, so max·0.8 with fractional
    // part ≥ .5 (max ≡ 1,2 mod 5) would split the boundary event onto
    // different sides per engine — FLOOR in both spellings pins it
    val k = ev.agg(floor(max("event_id") * lit(0.8)).cast("long").as("k"))
      .scalar()
    // r19 (VERDICT r18 #3): max(when(cond, struct(tsu, event_id,
    // event_type, value))) planned as SortAggregate — struct buffers are
    // not hash-aggregable, and the string payload blocks the decimal
    // packing that fixed q_attribution_last. arg_last_event
    // ([[graft.functions.ArgLastEventAgg]]) keeps the identical
    // (tsu, event_id)-max row per side in an ObjectHashAggregate: no sort
    // of the event stream, map-side combine to one 40-byte buffer per
    // (user, side). Equivalence: event_id is unique, so the old struct
    // comparison never reached fields 3–4 — pinned in R19OptSpec.
    ev.select(col("user_id"),
        expr("unix_micros(CAST(ts AS TIMESTAMP))").as("tsu"),
        col("event_id"), col("event_type"), col("value"),
        (col("event_id") >= k).as("is_delta"))
      .groupBy("user_id")
      .agg(expr("arg_last_event(NOT is_delta, tsu, event_id, event_type," +
          " value)").as("bw"),
        expr("arg_last_event(is_delta, tsu, event_id, event_type, value)")
          .as("dw"))
      .withColumn("action",
        when(col("dw").isNull, "unchanged")
          .when(col("dw.event_type") === "error" && col("bw").isNotNull,
            "deleted")
          .when(col("dw.event_type") === "error",
            lit(null).cast("string")) // tombstone for an absent key: no-op
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

  /** Peak concurrency per day (r15) — the sweep-line: each event opens an
    * interval [tsu, tsu + max(1 µs, ⌊value·10⁶⌋ µs)) (the fixture's
    * `value` plays a duration in seconds), and the answer per day is the
    * maximum number of simultaneously-open intervals and the first
    * instant it is reached. The capacity-planning read of an event log —
    * sessionization's dual (q_sessionize asks "which rows share a
    * session", this asks "how many sessions are open at once").
    *
    * Plan — the TWO-LEVEL distributed prefix sum, because a naive running
    * sum over all boundaries is one global sort on a single reducer:
    * ±1 deltas collapse by exact timestamp first (so equal-instant
    * opens/closes net out — the step function is evaluated BETWEEN
    * instants, never mid-tie), each DAY partition computes its own local
    * running sum in parallel, and the cross-day carry is a second-level
    * running sum over the per-day NETS — a #days-row table (the bounded
    * single-reducer window the skyline/collapse queries also run on).
    * peak(day) = max(carry, max(local run + carry)): the carry term alone
    * covers the day whose maximum stands at 00:00 (overnight intervals
    * still open, every in-day delta negative). Day indexing is pure
    * integer epoch-µs division — no calendar, no timezone. At 100 TB the
    * collapsed boundary table is the largest thing here (≤ 2 rows per
    * event, three integer columns); its two consumers — the per-day
    * running sums and the per-day nets — both hang off the SAME day-keyed
    * exchange, so ReuseExchange materializes it once, and the only global
    * window runs on the O(days) carry table. */
  private[ops] def concurrencyPeakOf(ev: DataFrame): DataFrame = {
    val dayUs = DayUs
    val iv = ev.select(
      expr("unix_micros(CAST(ts AS TIMESTAMP))").as("s"),
      (expr("unix_micros(CAST(ts AS TIMESTAMP))") + durationUs(col("value")))
        .as("e"))
    val g = iv
      .select(explode(array(
        struct(col("s").as("t"), lit(1L).as("dx")),
        struct(col("e").as("t"), lit(-1L).as("dx")))).as("d"))
      // no-op guard (t derives from a non-null cast chain) that plants the
      // day_idx non-null CONSTRAINT below the aggregate on BOTH consumers:
      // without it the inner join's inferred isnotnull(day_idx) pushes
      // into the window branch only, the two subtrees stop canonicalizing
      // equal, and ReuseExchange silently double-scans the corpus
      .filter(expr(dayIdxSql("d.t")).isNotNull)
      .groupBy(expr(dayIdxSql("d.t")).as("day_idx"), col("d.t").as("t"))
      .agg(sum(col("d.dx")).as("net"))
    val wRun = Window.partitionBy("day_idx").orderBy("t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = g.select(col("day_idx"), col("t"),
      sum(col("net")).over(wRun).as("run"))
    val wPrior = Window.orderBy("day_idx")
      .rowsBetween(Window.unboundedPreceding, -1)
    // the day's net level change = sum of its deltas — derived from the
    // SAME day-keyed exchange the window runs on, so ReuseExchange
    // computes the collapsed boundary table once for both consumers (the
    // r15 first cut localCheckpointed `local` and argmax-ed each day's
    // LAST run instead: an extra eager job + a per-day max(struct) sort
    // aggregate, for the same number)
    val carry = g.groupBy("day_idx")
      .agg(sum(col("net")).as("day_net"))
      .select(col("day_idx"),
        coalesce(sum(col("day_net")).over(wPrior), lit(0L)).as("carry"))
    // r18 (guide §2.4 + §4): the argmax was max(struct(run, -t)) — a
    // struct aggregate plans as SortAggregate, and its grouping keys
    // (day_idx, carry) forced a FULL re-sort of the boundary stream that
    // the day window had just sorted by (day_idx, t). The same argmax now
    // rides the existing partitioning: a whole-partition window max needs
    // no new exchange and no new sort (child is already hash(day_idx) +
    // sorted), the argmax rows filter down to the peak instants, and the
    // final min(t)/max(lvl) hash-aggregates WITHOUT an exchange
    // (hash(day_idx) satisfies clustering on (day_idx, carry)). Sort +
    // 2×SortAggregate → Window + filter + HashAggregate; identical
    // values: max level and min-t tiebreak are the same total order.
    local.join(broadcast(carry), "day_idx")
      .withColumn("lvl", col("run") + col("carry"))
      .withColumn("mx", max("lvl").over(Window.partitionBy("day_idx")))
      .filter(col("lvl") === col("mx"))
      .groupBy("day_idx", "carry")
      .agg(max("lvl").as("mrun"), min("t").as("mt"))
      .select(col("day_idx"),
        greatest(col("carry"), col("mrun")).as("peak"),
        when(col("carry") >= col("mrun"), col("day_idx") * lit(dayUs))
          .otherwise(col("mt")).as("first_peak_t_us"))
  }

  /** Point-in-time join (r15) — the feature-store correctness op: each
    * purchase event picks up the state its user was in AT THAT INSTANT
    * according to the SCD2 history derived from the user's NON-purchase
    * observations (training-serving skew is exactly what you get when
    * this join is done wrong — a plain latest-state join leaks the
    * future). Validity is [[scd2Of]]'s half-open [from, to): a purchase
    * at exactly a transition instant belongs to the NEW state; a
    * purchase before the user's first observation keeps a NULL state
    * (LEFT join — facts are never dropped by missing history).
    *
    * Plan: the history is one scd2 fold (one user-key exchange of the
    * observation log), the facts filter to one event type at the scan,
    * and the join is an equi-join on user_id with the validity window as
    * a residual — per-user run counts bound the match fan-out exactly as
    * q_click_attribution's hour band does. At any instant exactly ONE
    * run is valid, so the join multiplies nothing. */
  private[ops] def pitJoinOf(ev: DataFrame): DataFrame = {
    val h = scd2Of(ev.filter(col("event_type") =!= "purchase"))
      .select(col("user_id").as("hu"), col("event_type").as("state"),
        col("valid_from_us"), col("valid_to_us"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        expr("unix_micros(CAST(ts AS TIMESTAMP))").as("ts_us"),
        col("value").as("amount"))
    p.join(h, col("user_id") === col("hu") &&
        col("valid_from_us") <= col("ts_us") &&
        (col("valid_to_us").isNull || col("ts_us") < col("valid_to_us")),
        "left_outer")
      .select(col("user_id"), col("purchase_id"), col("ts_us"),
        col("state"), col("amount"))
  }

  /** Interval-overlap join (r15) — which incidents ('error' intervals)
    * overlap which sessions ('view' intervals), GLOBALLY (no shared
    * entity key to equi-join on — the shape Spark has no native operator
    * for, and the naive form is a cross join with a range predicate).
    * Durations come from `value` seconds, half-open [s, e) on both sides
    * (touching endpoints do NOT overlap).
    *
    * Plan — time-grain bucketing with first-shared-bucket emission: each
    * interval explodes to its covered 10-minute buckets (≤ 2 per
    * interval at the fixture's ≤ 491 s durations — fan-out is
    * ⌈duration/grain⌉, a constant), the join is an EQUI-join on the
    * bucket, the true overlap predicate rides as a residual, and the
    * duplicate a pair would emit once per shared bucket is rejected by
    * the FIRST-shared-bucket predicate — `bkt = (max(s_a, s_b)) div g`,
    * derivable from the carried keys, so no DISTINCT aggregate ever sees
    * the pair stream (q_phash_neardup's first-agreeing-band discipline
    * applied to TIME). At 100 TB: shuffle is by time bucket — pick the
    * grain so per-bucket membership is bounded (grain ≈ median duration
    * keeps fan-out ≤ 2 while bounding bucket width); a hot bucket is the
    * LSH hot-bucket problem and takes the same salt hatch. */
  private[ops] def intervalJoinOf(ev: DataFrame,
                                  grainUs: Long = 600000000L): DataFrame = {
    def side(t: String, p: String) = ev.filter(col("event_type") === t)
      .select(col("event_id").as(s"${p}_id"),
        expr("unix_micros(CAST(ts AS TIMESTAMP))").as(s"${p}_s"),
        (expr("unix_micros(CAST(ts AS TIMESTAMP))") +
          durationUs(col("value"))).as(s"${p}_e"))
      .withColumn("bkt", explode(expr(
        s"sequence(${p}_s div ${grainUs}L, (${p}_e - 1) div ${grainUs}L)")))
    side("error", "a").join(side("view", "b"), Seq("bkt"))
      .filter(col("a_s") < col("b_e") && col("b_s") < col("a_e") &&
        col("bkt") ===
          expr(s"greatest(a_s, b_s) div ${grainUs}L"))
      .select(col("a_id").as("incident_id"), col("b_id").as("session_id"),
        col("a_s").as("incident_start_us"), col("b_s").as("session_start_us"),
        (least(col("a_e"), col("b_e")) -
          greatest(col("a_s"), col("b_s"))).as("overlap_us"))
  }

  private def sortedEvents(ev: DataFrame): DataFrame =
    ev.groupBy("user_id")
      .agg(sort_array(collect_list(
        struct(col("ts"), col("event_id"), col("event_type")))).as("evs"))

  private[ops] def funnelOf(ev: DataFrame): DataFrame =
    sortedEvents(ev)
      .select(expr(
        """aggregate(evs,
           named_struct('t1', CAST(NULL AS TIMESTAMP),
                        't2', CAST(NULL AS TIMESTAMP),
                        't3', CAST(NULL AS TIMESTAMP)),
           (a, e) -> named_struct(
             't1', IF(a.t1 IS NULL AND e.event_type = 'signup',
                      e.ts, a.t1),
             't2', IF(a.t2 IS NULL AND a.t1 IS NOT NULL
                      AND e.event_type = 'click' AND e.ts > a.t1,
                      e.ts, a.t2),
             't3', IF(a.t3 IS NULL AND a.t2 IS NOT NULL
                      AND e.event_type = 'purchase' AND e.ts > a.t2,
                      e.ts, a.t3)))""").as("f"))
      .agg(
        sum(when(col("f.t1").isNotNull, 1L).otherwise(0L)).as("s1"),
        sum(when(col("f.t2").isNotNull, 1L).otherwise(0L)).as("s2"),
        sum(when(col("f.t3").isNotNull, 1L).otherwise(0L)).as("s3"))
      .selectExpr(
        """stack(3, 1L, 'signup', s1,
                    2L, 'click_after_signup', s2,
                    3L, 'purchase_after_click', s3)
           AS (step_no, step, users)""")

  private[ops] def transitionsOf(ev: DataFrame): DataFrame =
    sortedEvents(ev)
      .select(explode(expr(
        """transform(slice(evs, 1, size(evs) - 1), (e, i) ->
             named_struct('prev_type', e.event_type,
                          'next_type', evs[i + 1].event_type))"""))
        .as("t"))
      .groupBy(col("t.prev_type").as("prev_type"),
        col("t.next_type").as("next_type"))
      .agg(count(lit(1)).as("n"))

  private[ops] def retentionOf(ev: DataFrame): DataFrame =
    ev.select(col("user_id"),
        to_date(date_trunc("week", col("ts"))).as("w"))
      .groupBy("user_id")
      .agg(min(col("w")).as("cohort_week"), collect_set(col("w")).as("ws"))
      .select(col("cohort_week"), explode(col("ws")).as("w"))
      .select(col("cohort_week"),
        expr("datediff(w, cohort_week) DIV 7").as("week_no"))
      .groupBy("cohort_week", "week_no")
      .agg(count(lit(1)).as("users"))

  private[ops] def sessionizeOf(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("tsu", "event_id")
    val run = Window.partitionBy("user_id").orderBy("tsu", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.select(col("user_id"), col("event_id"),
        expr("unix_micros(CAST(ts AS TIMESTAMP))").as("tsu"))
      .withColumn("brk",
        when(col("tsu") - lag("tsu", 1).over(w) > lit(1800000000L)
          || lag("tsu", 1).over(w).isNull, 1L).otherwise(0L))
      .select(col("user_id"), col("event_id"),
        sum(col("brk")).over(run).as("session_no"))
  }

  private[ops] def heavyHittersOf(ev: DataFrame): DataFrame = {
    val counts = ev.groupBy("user_id").agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true) // bounded (one row per key); two consumers
    val total = counts.agg(sum(col("cnt")).as("t")).select(col("t")).scalar()
    counts
      .groupBy()
      .agg(expr("topk_by(CAST(cnt AS DOUBLE), user_id, 10)").as("top"))
      .select(posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("t.id").as("user_id"), (col("pos") + 1).as("rnk"),
        col("t.score").cast("long").as("cnt"))
      .withColumn("share", col("cnt").cast("double") / total)
  }

  /** q_resample_locf (r16) — regular-grid time-series densification with
    * last-observation-carried-forward: for every user, one row per whole
    * HOUR between their first and last observation, carrying the state
    * (type/value-ts/event-id) of the latest event at or before that
    * instant. The feature-store resample: training frames want features
    * on a regular clock, not at ragged event instants; q_pit_join
    * answers "state at THIS fact's instant", this op answers "state at
    * EVERY clock tick".
    *
    * Semantics: grid = hour boundaries in [ceil_hour(first),
    * floor_hour(last)] — a user whose events never straddle a boundary
    * emits nothing; a grid instant equal to an event's instant takes
    * THAT event (≤, half-open convention's closed left edge); ties at
    * one instant resolve to the max event_id (the cdc winner order).
    * Hour arithmetic is pure integer epoch-µs division (non-negative
    * epoch precondition — [[dayIdxSql]]'s note applies).
    *
    * Plan: the q_asof_join union+window discipline — bounds from one
    * user aggregate, grid rows exploded from a per-user sequence
    * (fan-out = hours spanned, bounded by the CALENDAR window like
    * q_retention's set, not by event count), then ONE user_id exchange
    * where grid rows sort after same-instant events and
    * `last(ignoreNulls)` carries the event struct forward — no
    * row-multiplying join, no per-grid-point probe. At 100 TB both
    * unioned sides shuffle once on user_id and the window's per-user
    * sort is linear-ish in (events + hours). */
  private[ops] def resampleLocfOf(ev: DataFrame): DataFrame = {
    val H = 3600000000L // µs per hour
    val e = ev.filter(col("ts").isNotNull && col("event_type").isNotNull)
      .select(col("user_id"),
        expr("unix_micros(CAST(ts AS TIMESTAMP))").as("tsu"),
        col("event_id"), col("event_type"))
    val grid = e.groupBy("user_id").agg(min("tsu").as("lo"), max("tsu").as("hi"))
      .select(col("user_id"), explode_outer(expr(
        s"CASE WHEN ((lo + ${H - 1}L) div ${H}L) * ${H}L <= (hi div ${H}L) * ${H}L" +
          s" THEN sequence(((lo + ${H - 1}L) div ${H}L) * ${H}L," +
          s" (hi div ${H}L) * ${H}L, ${H}L) END")).as("grid_us"))
      .filter(col("grid_us").isNotNull)
    val stT = "struct<tsu:bigint,event_id:bigint,event_type:string>"
    val tagged = e
      .select(col("user_id"), col("tsu"), lit(0).as("is_grid"),
        struct(col("tsu"), col("event_id"), col("event_type")).as("st"))
      .unionAll(grid.select(col("user_id"), col("grid_us").as("tsu"),
        lit(1).as("is_grid"), lit(null).cast(stT).as("st")))
    // grid rows sort AFTER same-instant events (is_grid tiebreak), so a
    // tick at an event's exact instant carries that event; event_id
    // orders same-instant events so the carried struct is the max id
    val w = Window.partitionBy("user_id")
      .orderBy(col("tsu"), col("is_grid"), col("st.event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged.withColumn("lv", last("st", ignoreNulls = true).over(w))
      .filter(col("is_grid") === 1)
      .select(col("user_id"), col("tsu").as("grid_us"),
        col("lv.event_type").as("state"),
        col("lv.tsu").as("state_ts_us"),
        col("lv.event_id").as("state_event_id"))
  }

  /** r18 (guide §4): min(struct(gap_us, click_id)) plans as SortAggregate
    * (struct min is not hash-aggregatable) — partial-sort the matched
    * click→purchase pair stream, exchange, sort again, final-sort-agg.
    * Both argmin components are non-negative longs with disjoint digit
    * ranges (gap_us ∈ (0, 3.6e9] by the attribution band; click_id is a
    * non-negative int64 < 10^19), so the lexicographic order IS the
    * numeric order of gap_us·10^19 + click_id in DECIMAL(38,0) — ≤ 29
    * digits, exact, and min(decimal) hash-aggregates. Sort + SortAgg×2 →
    * HashAgg×2 with zero sorts; unpack restores the identical longs. */
  private[ops] def attributionLastOf(ev: DataFrame): DataFrame = {
    val P = "CAST('10000000000000000000' AS DECIMAL(20,0))" // 10^19
    // click_id ≥ 0 guard (ADVICE r18): the packing is order-preserving
    // only while click_id is non-negative (gap_us > 0 holds by the join
    // band). event_ids are non-negative in every fixture generation, but
    // that was asserted only in prose — a signed-id domain change must
    // fail loudly, not silently reorder the argmin. The group's
    // min(click_id) rides in the same aggregate and the final projection
    // raises on it, so no per-row branch sits inside the argmin.
    attributionOf(ev)
      .groupBy("user_id", "purchase_id", "amount")
      .agg(min(expr(s"CAST(gap_us AS DECIMAL(19,0)) * $P" +
          " + CAST(click_id AS DECIMAL(19,0))")).as("b"),
        min(col("click_id")).as("min_click"))
      .select(col("user_id"), col("purchase_id"),
        expr(s"IF(min_click >= 0, CAST(b % $P AS BIGINT)," +
          " CAST(raise_error('attributionLastOf: negative click_id breaks" +
          " the decimal argmin pack') AS BIGINT))").as("click_id"),
        expr(s"CAST(b DIV $P AS BIGINT)").as("gap_us"),
        col("amount"))
  }

  private[ops] def attributionOf(ev: DataFrame): DataFrame = {
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("event_id").as("click_id"),
        expr("unix_micros(CAST(ts AS TIMESTAMP))").as("click_us"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("event_id").as("purchase_id"),
        expr("unix_micros(CAST(ts AS TIMESTAMP))").as("purchase_us"),
        col("value").as("amount"))
    c.join(p, col("cu") === col("pu") &&
        col("click_us") < col("purchase_us") &&
        col("click_us") >= col("purchase_us") - lit(3600000000L))
      .select(col("pu").as("user_id"), col("purchase_id"),
        col("click_id"),
        (col("purchase_us") - col("click_us")).as("gap_us"),
        col("amount"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_funnel" -> ((s, d) => funnelOf(Tables.events(s, d))),

    "q_event_transitions" -> ((s, d) => transitionsOf(Tables.events(s, d))),

    "q_retention" -> ((s, d) => retentionOf(Tables.events(s, d))),

    // Regular-grid hourly resample + LOCF — see [[resampleLocfOf]].
    "q_resample_locf" -> ((s, d) => resampleLocfOf(Tables.events(s, d))),

    // Click→purchase attribution — the interval self-join: every
    // purchase pairs with the SAME user's clicks in the strictly
    // preceding hour (all of them — last-touch/first-touch are sink-side
    // picks over gap_us). Times compare as epoch MICROSECOND integers
    // (unix_micros ↔ epoch_us — the q_window_range discipline; raw
    // TIMESTAMP output would hash-diverge on the fixture's nanos
    // physical type). Plan: both sides filter to one event type at the
    // scan, equi-join on user_id with the time band as a residual — one
    // shuffle per side keyed on users, and the band bounds per-user
    // match counts, so no pair blow-up at any scale. The streaming twin
    // is [[graft.streaming.BeaconStreaming.clickAttributionStream]]
    // (watermarked stream-stream join, spec-pinned equal on a sliced
    // replay).
    // The other half of attribution — ABANDONMENT: clicks with NO
    // same-user purchase in the following hour (the funnel-drop list).
    // Left ANTI join on the user key with the time band as residual —
    // same scale shape as q_click_attribution, existence-probe semantics
    // (never multiplies rows). Streaming twin:
    // [[graft.streaming.BeaconStreaming.clickAbandonmentStream]] — the
    // LEFT OUTER stream-stream join whose unmatched rows emit on
    // watermark expiry, spec-pinned equal on a flushed replay.
    "q_click_abandonment" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val c = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("cu"), col("event_id").as("click_id"),
          expr("unix_micros(CAST(ts AS TIMESTAMP))").as("click_us"))
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("pu"),
          expr("unix_micros(CAST(ts AS TIMESTAMP))").as("purchase_us"))
      c.join(p, col("cu") === col("pu") &&
          col("purchase_us") > col("click_us") &&
          col("purchase_us") <= col("click_us") + lit(3600000000L),
          "left_anti")
        .select(col("cu").as("user_id"), col("click_id"), col("click_us"))
    }),

    "q_click_attribution" -> ((s, d) => attributionOf(Tables.events(s, d))),

    // Gap-based sessionization (r13) — assign every event a per-user
    // session number: a session breaks when >30 min passes since the
    // user's previous event. The classic LAG + running-sum-of-breaks
    // window composition (complementing q_session_window's aggregate
    // form: that one yields per-SESSION rows via the session_window
    // aggregate; this one labels every EVENT row, the shape feature
    // pipelines need when session_id becomes a join/group key
    // downstream). Times compare as epoch-microsecond integers
    // (unix_micros ↔ epoch_us — the q_window_range discipline; gap
    // membership is a difference, so any session-tz shift cancels and
    // tsu itself never leaves the plan). Scale: ONE exchange on
    // user_id + per-partition sort shared by both window functions —
    // the same single-window plan q_window_lag runs; nothing
    // corpus-sized leaves its partition.
    "q_sessionize" -> ((s, d) => sessionizeOf(Tables.events(s, d))),

    // Heavy-hitter keys (r13) — the skew diagnostic run BEFORE every
    // large join/groupBy at scale: the top-10 keys by row count and each
    // one's share of the table (the salting decision input — PERF.md's
    // dedup salt hatch triggers off exactly this measurement). ONE
    // map-side-combined count aggregate, the bounded topk_by heap over
    // the per-key counts (never a sort of the key distribution), and the
    // grand total rides a scalar subquery off the SAME aggregate —
    // integer counts end-to-end, one double division for the share.
    "q_heavy_hitters" -> ((s, d) => heavyHittersOf(Tables.events(s, d))),

    // Last-touch attribution (r13) — the sink-side pick the
    // q_click_attribution scaladoc promises: per purchase, the single
    // click with the smallest gap (ties → smallest click_id), via
    // min(struct(gap_us, click_id)) — an order-free integer argmin, so
    // any partitioning agrees. One bounded aggregate on top of the
    // attribution join (purchase_id keys — exchange width = purchases
    // with ≥1 click, already bounded by the hour band).
    "q_attribution_last" -> ((s, d) =>
      attributionLastOf(Tables.events(s, d))),

    // SCD2 history reconstruction (r15) — the reference keeps only a
    // continuously-overwritten "latest" snapshot per entity (SURVEY §2-A
    // A10/D6); this is the inverse analytic: rebuild the TYPE-2 history
    // (entity, state, valid_from, valid_to) from the append-only
    // observation log, one row per maximal run of consecutive equal
    // states in (ts, event_id) order, half-open validity [from, next
    // run's from), NULL-to for the current state. Same one-exchange fold
    // shape as the rest of this file: collect each user's observations
    // sorted (struct order (tsu, event_id, type) is a deterministic
    // total order — equal-timestamp runs cannot flap), find run starts
    // row-locally (position 0 or state ≠ previous state), and pair each
    // run start with its successor for valid_to — no fact-side window,
    // no self-join, per-user arrays bounded by user activity exactly as
    // q_funnel/q_event_transitions budget. Times leave as epoch
    // MICROSECONDS (the q_window_range discipline).
    "q_scd2_history" -> ((s, d) => scd2Of(Tables.events(s, d))),

    // CDC apply (r15) — changelog-onto-snapshot latest-wins merge with
    // MERGE-style provenance; see [[cdcMergeOf]].
    "q_cdc_merge" -> ((s, d) => cdcMergeOf(Tables.events(s, d))),

    // Peak concurrency per day (r15) — two-level distributed sweep-line;
    // see [[concurrencyPeakOf]].
    "q_concurrency_peak" -> ((s, d) =>
      concurrencyPeakOf(Tables.events(s, d))),

    // Point-in-time join (r15) — facts pick up the state valid at their
    // instant from the SCD2 history; see [[pitJoinOf]].
    "q_pit_join" -> ((s, d) => pitJoinOf(Tables.events(s, d))),

    // Interval-overlap join (r15) — keyless interval×interval overlap
    // via time-grain bucketing; see [[intervalJoinOf]].
    "q_interval_join" -> ((s, d) => intervalJoinOf(Tables.events(s, d))),

    // OHLC bars (r17) — per-(user, day) open/high/low/close + count,
    // the event-stream downsampler that complements q_resample_locf's
    // densifier: LOCF fills the grid BETWEEN observations, OHLC
    // collapses the observations WITHIN a bucket. One hash aggregate,
    // map-side combinable, O(1) buffers — open/close are
    // min/max(struct(tsu, event_id, value)) so first/last are total-
    // order deterministic (the min-struct discipline; min_by/arg_min
    // tie behavior differs across engines, struct extrema do not).
    // Day bucketing is the ONE dayIdxSql spelling (non-negative-epoch
    // precondition documented there).
    "q_ohlc_bars" -> ((s, d) => ohlcBarsOf(Tables.events(s, d)))
  )

  /** q_ohlc_bars' pipeline over an arbitrary events frame (r17). */
  private[graft] def ohlcBarsOf(ev: DataFrame): DataFrame =
    ev.filter(col("ts").isNotNull && col("value").isNotNull)
      .select(col("user_id"),
        expr("unix_micros(CAST(ts AS TIMESTAMP))").as("tsu"),
        col("event_id"), col("value"))
      .groupBy(col("user_id"), expr(dayIdxSql("tsu")).as("day"))
      .agg(min(struct(col("tsu"), col("event_id"), col("value"))).as("o"),
        max(col("value")).as("high"), min(col("value")).as("low"),
        max(struct(col("tsu"), col("event_id"), col("value"))).as("c"),
        count(lit(1)).as("n_events"))
      .select(col("user_id"), col("day"), col("o.value").as("open"),
        col("high"), col("low"), col("c.value").as("close"),
        col("n_events"))

  val oracle: Map[String, String] = Map(
    // the same min/max-over-struct extrema (DuckDB struct comparison is
    // the identical lexicographic order), the same // day bucketing
    "q_ohlc_bars" ->
      """WITH e AS (SELECT user_id,
                           epoch_us(CAST(ts AS TIMESTAMP)) AS tsu,
                           event_id, value
                    FROM events
                    WHERE ts IS NOT NULL AND value IS NOT NULL)
         SELECT user_id, tsu // 86400000000 AS day,
                (MIN(struct_pack(t := tsu, e := event_id, v := value))).v
                  AS open,
                MAX(value) AS high, MIN(value) AS low,
                (MAX(struct_pack(t := tsu, e := event_id, v := value))).v
                  AS close,
                COUNT(*) AS n_events
         FROM e GROUP BY 1, 2""",
    // The same union+window spelling as the Spark side: grid rows sort
    // after same-instant events (is_grid), IGNORE NULLS carries the last
    // event's triple. Hour arithmetic is the identical integer floor/ceil
    // (// ≡ div on the non-negative fixture epochs — dayIdxSql's note).
    "q_resample_locf" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS tsu, event_id, event_type
                    FROM events
                    WHERE ts IS NOT NULL AND event_type IS NOT NULL),
              b AS (SELECT user_id,
                           ((MIN(tsu) + 3599999999) // 3600000000)
                             * 3600000000 AS glo,
                           (MAX(tsu) // 3600000000) * 3600000000 AS ghi
                    FROM e GROUP BY user_id),
              g AS (SELECT user_id,
                           UNNEST(generate_series(glo, ghi, 3600000000)) AS tsu
                    FROM b WHERE glo <= ghi),
              u AS (SELECT user_id, tsu, 0 AS is_grid, tsu AS etsu,
                           event_id, event_type
                    FROM e
                    UNION ALL
                    SELECT user_id, tsu, 1, NULL, NULL, NULL FROM g),
              c AS (SELECT user_id, tsu, is_grid,
                           LAST_VALUE(event_type IGNORE NULLS) OVER win AS state,
                           LAST_VALUE(etsu IGNORE NULLS) OVER win AS state_ts_us,
                           LAST_VALUE(event_id IGNORE NULLS) OVER win
                             AS state_event_id
                    FROM u
                    WINDOW win AS (PARTITION BY user_id
                                   ORDER BY tsu, is_grid, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW))
         SELECT user_id, tsu AS grid_us, state, state_ts_us, state_event_id
         FROM c WHERE is_grid = 1""",

    // min-chained CTEs: t2's min is over clicks strictly after the user's
    // FIRST signup, which equals the Spark fold's "first click after t1"
    "q_funnel" ->
      """WITH t1 AS (SELECT user_id, MIN(ts) AS t FROM events
                     WHERE event_type = 'signup' GROUP BY 1),
              t2 AS (SELECT e.user_id, MIN(e.ts) AS t FROM events e
                     JOIN t1 ON e.user_id = t1.user_id
                     WHERE e.event_type = 'click' AND e.ts > t1.t GROUP BY 1),
              t3 AS (SELECT e.user_id, MIN(e.ts) AS t FROM events e
                     JOIN t2 ON e.user_id = t2.user_id
                     WHERE e.event_type = 'purchase' AND e.ts > t2.t GROUP BY 1)
         SELECT * FROM (VALUES
           (CAST(1 AS BIGINT), 'signup',
            (SELECT COUNT(*) FROM t1)),
           (CAST(2 AS BIGINT), 'click_after_signup',
            (SELECT COUNT(*) FROM t2)),
           (CAST(3 AS BIGINT), 'purchase_after_click',
            (SELECT COUNT(*) FROM t3))) AS v(step_no, step, users)""",

    "q_event_transitions" ->
      """WITH o AS (SELECT user_id, event_type,
                           LAG(event_type) OVER
                             (PARTITION BY user_id ORDER BY ts, event_id)
                             AS prev_type
                    FROM events)
         SELECT prev_type, event_type AS next_type, COUNT(*) AS n
         FROM o WHERE prev_type IS NOT NULL GROUP BY 1, 2""",

    "q_retention" ->
      """WITH f AS (SELECT user_id,
                           CAST(MIN(date_trunc('week', ts)) AS DATE)
                             AS cohort_week
                    FROM events GROUP BY 1),
              e AS (SELECT DISTINCT user_id,
                           CAST(date_trunc('week', ts) AS DATE) AS w
                    FROM events)
         SELECT f.cohort_week,
                CAST(datediff('day', f.cohort_week, e.w) // 7 AS BIGINT)
                  AS week_no,
                COUNT(*) AS users
         FROM e JOIN f ON e.user_id = f.user_id
         GROUP BY 1, 2""",
    "q_click_abandonment" ->
      """WITH c AS (SELECT user_id AS cu, event_id AS click_id,
                           epoch_us(ts) AS click_us
                    FROM events WHERE event_type = 'click'),
              p AS (SELECT user_id AS pu, epoch_us(ts) AS purchase_us
                    FROM events WHERE event_type = 'purchase')
         SELECT cu AS user_id, click_id, click_us
         FROM c
         WHERE NOT EXISTS (SELECT 1 FROM p
                           WHERE pu = cu AND purchase_us > click_us
                             AND purchase_us <= click_us + 3600000000)""",
    "q_click_attribution" ->
      """WITH c AS (SELECT user_id AS cu, event_id AS click_id,
                           epoch_us(ts) AS click_us
                    FROM events WHERE event_type = 'click'),
              p AS (SELECT user_id AS pu, event_id AS purchase_id,
                           epoch_us(ts) AS purchase_us, value AS amount
                    FROM events WHERE event_type = 'purchase')
         SELECT pu AS user_id, purchase_id, click_id,
                purchase_us - click_us AS gap_us, amount
         FROM c JOIN p ON cu = pu AND click_us < purchase_us
                       AND click_us >= purchase_us - 3600000000""",

    "q_heavy_hitters" ->
      """WITH c AS (SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY 1),
              t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM c),
              r AS (SELECT user_id, cnt,
                           ROW_NUMBER() OVER (ORDER BY cnt DESC, user_id)
                             AS rnk
                    FROM c)
         SELECT user_id, rnk, cnt,
                CAST(cnt AS DOUBLE) / (SELECT total FROM t) AS share
         FROM r WHERE rnk <= 10""",

    "q_sessionize" ->
      """WITH x AS (SELECT user_id, event_id, epoch_us(ts) AS tsu
                    FROM events),
              g AS (SELECT user_id, event_id, tsu,
                           CASE WHEN tsu - LAG(tsu) OVER
                                  (PARTITION BY user_id
                                   ORDER BY tsu, event_id) > 1800000000
                                  OR LAG(tsu) OVER
                                  (PARTITION BY user_id
                                   ORDER BY tsu, event_id) IS NULL
                                THEN 1 ELSE 0 END AS brk
                    FROM x)
         SELECT user_id, event_id,
                CAST(SUM(brk) OVER (PARTITION BY user_id
                  ORDER BY tsu, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS session_no
         FROM g""",

    "q_attribution_last" ->
      """WITH c AS (SELECT user_id AS cu, event_id AS click_id,
                           epoch_us(ts) AS click_us
                    FROM events WHERE event_type = 'click'),
              p AS (SELECT user_id AS pu, event_id AS purchase_id,
                           epoch_us(ts) AS purchase_us, value AS amount
                    FROM events WHERE event_type = 'purchase'),
              j AS (SELECT pu AS user_id, purchase_id, click_id,
                           purchase_us - click_us AS gap_us, amount,
                           ROW_NUMBER() OVER (PARTITION BY purchase_id
                             ORDER BY purchase_us - click_us, click_id)
                             AS rn
                    FROM c JOIN p ON cu = pu AND click_us < purchase_us
                                  AND click_us >= purchase_us - 3600000000)
         SELECT user_id, purchase_id, click_id, gap_us, amount
         FROM j WHERE rn = 1""",

    // Same total order as the Spark fold's sorted struct (tsu, event_id,
    // event_type); run start = first row or state change vs LAG; valid_to
    // = LEAD over the run starts (array order ≡ this window order).
    "q_scd2_history" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS tsu, event_id, event_type,
                           LAG(event_type) OVER (PARTITION BY user_id
                             ORDER BY epoch_us(ts), event_id, event_type)
                             AS prev
                    FROM events
                    WHERE event_type IS NOT NULL AND ts IS NOT NULL),
              s AS (SELECT user_id, tsu, event_id, event_type FROM e
                    WHERE prev IS NULL OR prev <> event_type)
         SELECT user_id, event_type, tsu AS valid_from_us,
                LEAD(tsu) OVER (PARTITION BY user_id
                  ORDER BY tsu, event_id, event_type) AS valid_to_us
         FROM s""",

    // rn=1 per (user, side) under (tsu DESC, event_id DESC) is the same
    // latest-wins pick as the Spark max(struct(tsu, event_id, …)); the
    // 80/20 split threshold is the same FLOOR(MAX(event_id)*0.8) scalar
    // (explicit FLOOR — DuckDB's bare CAST rounds, Spark's truncates)
    "q_cdc_merge" ->
      """WITH kk AS (SELECT CAST(FLOOR(MAX(event_id) * 0.8) AS BIGINT) AS k
                     FROM events),
              o AS (SELECT user_id, epoch_us(ts) AS tsu, event_id,
                           event_type, value,
                           event_id >= (SELECT k FROM kk) AS is_delta,
                           ROW_NUMBER() OVER (
                             PARTITION BY user_id,
                                          event_id >= (SELECT k FROM kk)
                             ORDER BY epoch_us(ts) DESC, event_id DESC)
                             AS rn
                    FROM events),
              b AS (SELECT * FROM o WHERE NOT is_delta AND rn = 1),
              d AS (SELECT * FROM o WHERE is_delta AND rn = 1),
              m AS (SELECT COALESCE(b.user_id, d.user_id) AS user_id,
                           b.event_type AS bt, b.value AS bv, b.tsu AS btsu,
                           d.event_type AS dt, d.value AS dv, d.tsu AS dtsu,
                           b.user_id IS NOT NULL AS hb,
                           d.user_id IS NOT NULL AS hd
                    FROM b FULL OUTER JOIN d
                      ON b.user_id IS NOT DISTINCT FROM d.user_id),
              r AS (SELECT user_id,
                           CASE WHEN NOT hd THEN 'unchanged'
                                WHEN dt = 'error' AND hb THEN 'deleted'
                                WHEN dt = 'error' THEN NULL
                                WHEN NOT hb THEN 'inserted'
                                ELSE 'updated' END AS action,
                           CASE WHEN NOT hd THEN bt
                                WHEN dt = 'error' THEN NULL
                                ELSE dt END AS state,
                           CASE WHEN NOT hd THEN bv
                                WHEN dt = 'error' THEN NULL
                                ELSE dv END AS state_value,
                           CASE WHEN NOT hd THEN btsu
                                ELSE dtsu END AS state_ts_us
                    FROM m)
         SELECT * FROM r WHERE action IS NOT NULL""",

    // global running sum over collapsed boundary instants; per-day peak =
    // max(carry-in level, in-day max), carry-in = run at the last boundary
    // before the day — associativity makes this equal to the Spark side's
    // two-level (per-day local run + day-net prefix) decomposition
    "q_concurrency_peak" ->
      """WITH iv AS (SELECT epoch_us(ts) AS s,
                            epoch_us(ts) + GREATEST(1,
                              CAST(FLOOR(value * 1000000.0) AS BIGINT)) AS e
                     FROM events WHERE ts IS NOT NULL),
              d AS (SELECT s AS t, 1 AS dx FROM iv
                    UNION ALL SELECT e, -1 FROM iv),
              g AS (SELECT t, SUM(dx) AS net FROM d GROUP BY t),
              r AS (SELECT t, t // 86400000000 AS day_idx,
                           CAST(SUM(net) OVER (ORDER BY t) AS BIGINT) AS run
                    FROM g),
              pk AS (SELECT day_idx, MAX(run) AS mrun FROM r GROUP BY 1),
              ft AS (SELECT r.day_idx, MIN(r.t) AS first_t
                     FROM r JOIN pk ON r.day_idx = pk.day_idx
                                   AND r.run = pk.mrun
                     GROUP BY 1),
              cr AS (SELECT day_idx,
                            COALESCE((SELECT run FROM r r2
                                      WHERE r2.t < pk.day_idx * 86400000000
                                      ORDER BY r2.t DESC LIMIT 1),
                                     0) AS c
                     FROM pk)
         SELECT pk.day_idx,
                GREATEST(cr.c, pk.mrun) AS peak,
                CASE WHEN cr.c >= pk.mrun THEN pk.day_idx * 86400000000
                     ELSE ft.first_t END AS first_peak_t_us
         FROM pk
         JOIN cr ON cr.day_idx = pk.day_idx
         JOIN ft ON ft.day_idx = pk.day_idx""",

    // the q_scd2_history CTE over non-purchase observations, then the
    // validity-window probe — half-open [from, to), LEFT so pre-history
    // purchases keep a NULL state
    "q_pit_join" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS tsu, event_id, event_type,
                           LAG(event_type) OVER (PARTITION BY user_id
                             ORDER BY epoch_us(ts), event_id, event_type)
                             AS prev
                    FROM events
                    WHERE event_type IS NOT NULL AND ts IS NOT NULL
                      AND event_type <> 'purchase'),
              s AS (SELECT user_id, tsu, event_id, event_type FROM e
                    WHERE prev IS NULL OR prev <> event_type),
              h AS (SELECT user_id AS hu, event_type AS state,
                           tsu AS valid_from_us,
                           LEAD(tsu) OVER (PARTITION BY user_id
                             ORDER BY tsu, event_id, event_type)
                             AS valid_to_us
                    FROM s),
              p AS (SELECT user_id, event_id AS purchase_id,
                           epoch_us(ts) AS ts_us, value AS amount
                    FROM events WHERE event_type = 'purchase')
         SELECT p.user_id, p.purchase_id, p.ts_us, h.state, p.amount
         FROM p LEFT JOIN h
           ON p.user_id = h.hu AND h.valid_from_us <= p.ts_us
              AND (h.valid_to_us IS NULL OR p.ts_us < h.valid_to_us)""",

    // definitional range join — fine at oracle scale; the Spark side's
    // bucketed form is provably the same pair set (first-shared-bucket
    // emits each overlapping pair exactly once)
    "q_interval_join" ->
      """WITH a AS (SELECT event_id AS a_id, epoch_us(ts) AS a_s,
                           epoch_us(ts) + GREATEST(1,
                             CAST(FLOOR(value * 1000000.0) AS BIGINT)) AS a_e
                    FROM events WHERE event_type = 'error'),
              b AS (SELECT event_id AS b_id, epoch_us(ts) AS b_s,
                           epoch_us(ts) + GREATEST(1,
                             CAST(FLOOR(value * 1000000.0) AS BIGINT)) AS b_e
                    FROM events WHERE event_type = 'view')
         SELECT a_id AS incident_id, b_id AS session_id,
                a_s AS incident_start_us, b_s AS session_start_us,
                LEAST(a_e, b_e) - GREATEST(a_s, b_s) AS overlap_us
         FROM a JOIN b ON a_s < b_e AND b_s < a_e"""
  )
}
