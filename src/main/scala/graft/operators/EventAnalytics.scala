package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Barrier.BarrierOps

/** Product-analytics operators over the `events` stream table: ordered
  * conversion funnels, cohort retention, and last-touch attribution —
  * the query family a training-data platform runs against its own
  * telemetry (and the standard companions to [[Sessionize]]).
  *
  * Scale notes (100 TB of events):
  *  - every operator is one or two user-keyed shuffles — the per-user
  *    state (first timestamp, stage reach, last touch) is O(1), never a
  *    per-user event buffer;
  *  - funnel stages filter BEFORE joining, so each stage join moves only
  *    that stage's events against a monotonically shrinking user set;
  *  - cohort/stage summary tables are tiny (rows = days or stages) and
  *    broadcast back — the events table is never re-scanned to attach a
  *    denominator;
  *  - ratios are a single integer÷integer division in double (IEEE-exact
  *    both engines), value sums ride DECIMAL(18,2) — results are
  *    partition-order independent.
  */
object EventAnalytics {

  /** Strictly-ordered conversion funnel: a user reaches stage k when an
    * event of stage k's type occurs STRICTLY AFTER their earliest
    * reach of stage k-1 (classic min-timestamp chaining). One row per
    * stage — ALWAYS one per requested stage: a stage no user reaches
    * still emits `n_users = 0, conversion = 0.0` (left join against the
    * literal stage list), so consumers comparing against a fixed stage
    * list never misread a missing row as "not computed".
    *
    * Per stage: one type-filtered scan, one equi-join against the
    * (shrinking) reached set, one map-side-combined min — the events
    * table never self-joins and no per-user event list is ever built.
    *
    * `maxGapHours > 0` time-boxes each step (the standard
    * windowed-funnel variant): stage k counts only when its event lands
    * within `maxGapHours` of the user's stage-(k-1) reach — same joins,
    * one extra residual predicate, zero extra shuffles. 0 = unbounded. */
  def funnel(events: DataFrame,
             stages: Seq[String] = Seq("view", "click", "signup", "purchase"),
             maxGapHours: Int = 0): DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    val byType = (st: String) => events.filter(col("event_type") === st)
    val withinGap =
      if (maxGapHours > 0)
        col("ts") <= col("prev_t") + expr(s"INTERVAL $maxGapHours HOURS")
      else lit(true)
    // stage 1: earliest event of the first type per user
    var reached = byType(stages.head).groupBy(col("user_id"))
      .agg(min(col("ts")).as("t"))
    var perStage = Vector(
      reached.select(col("user_id"), lit(1L).as("stage_idx"),
        lit(stages.head).as("stage")))
    stages.tail.zipWithIndex.foreach { case (st, i) =>
      reached = byType(st)
        .join(reached.select(col("user_id"), col("t").as("prev_t")), "user_id")
        .filter(col("ts") > col("prev_t") && withinGap)
        .groupBy(col("user_id")).agg(min(col("ts")).as("t"))
      perStage :+= reached.select(col("user_id"),
        lit((i + 2).toLong).as("stage_idx"), lit(st).as("stage"))
    }
    val session = events.sparkSession
    import session.implicits._
    val stageDf = stages.zipWithIndex
      .map { case (st, i) => ((i + 1).toLong, st) }.toDF("stage_idx", "stage")
    val counts = stageDf.join(
        perStage.reduce(_ unionByName _)
          .groupBy(col("stage_idx"), col("stage"))
          .agg(count(lit(1)).as("n_reached")),
        Seq("stage_idx", "stage"), "left")
      .select(col("stage_idx"), col("stage"),
        coalesce(col("n_reached"), lit(0L)).as("n_users"))
    // denominator: the stage-1 row (a 1-row table; the plan broadcasts it)
    val first = counts.filter(col("stage_idx") === 1L)
      .select(col("n_users").as("n_first"))
    counts.crossJoin(broadcast(first))
      .select(col("stage_idx"), col("stage"), col("n_users"),
        // zero-guard: an empty stage 1 yields 0.0 rows, never NaN —
        // cross-engine hash equality must not ride IEEE 0/0 behavior
        when(col("n_first") > 0L,
          col("n_users").cast("double") / col("n_first").cast("double"))
          .otherwise(lit(0.0)).as("conversion"))
      .orderBy(col("stage_idx"))
  }

  /** Cohort retention: users cohorted by FIRST-seen day; one row per
    * (cohort_day, day_offset ≤ `maxOffset`) with active users, cohort
    * size, and the retention fraction.
    *
    * Two user-keyed aggregates (first day, distinct active days) and one
    * broadcast of the per-day cohort sizes — rows after the first
    * aggregate are (user × active-day), never raw events. */
  def retention(events: DataFrame, maxOffset: Int = 14): DataFrame = {
    val firsts = events.groupBy(col("user_id"))
      .agg(to_date(min(col("ts"))).as("cohort_day"))
    val active = events
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val sizes = firsts.groupBy(col("cohort_day"))
      .agg(count(lit(1)).as("cohort_size"))
    active.join(firsts, "user_id")
      .select(col("cohort_day"),
        datediff(col("day"), col("cohort_day")).cast("long").as("day_offset"))
      .filter(col("day_offset") <= maxOffset)
      .groupBy(col("cohort_day"), col("day_offset"))
      .agg(count(lit(1)).as("n_active"))
      .join(broadcast(sizes), "cohort_day")
      .select(col("cohort_day"), col("day_offset"), col("n_active"),
        col("cohort_size"),
        (col("n_active").cast("double") / col("cohort_size").cast("double"))
          .as("retention"))
      .orderBy(col("cohort_day"), col("day_offset"))
  }

  /** Last-touch attribution: each `convType` event is credited to the
    * LAST preceding touch event (`touchTypes`) by the same user within
    * `windowDays` days — or the "none" bucket. One row per credited
    * type: conversions + exact value sum.
    *
    * One user-keyed shuffle: touches and conversions ride the SAME
    * ordered window (ts, event_id tie-break), the last touch is an O(1)
    * running `last(ignoreNulls)` over the preceding frame — no
    * touch×conversion join, no per-user buffer. */
  def attribution(events: DataFrame,
                  touchTypes: Seq[String] = Seq("view", "click"),
                  convType: String = "purchase",
                  windowDays: Int = 7): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val isTouch = col("event_type").isin(touchTypes.map(lit): _*)
    val lastTouch = last(
      when(isTouch, struct(col("ts").as("t_ts"),
        col("event_type").as("t_type"))), ignoreNulls = true).over(w)
    events
      .filter(isTouch || col("event_type") === convType)
      .withColumn("lt", lastTouch)
      .filter(col("event_type") === convType)
      .select(
        when(col("lt").isNotNull &&
            col("ts") <= col("lt.t_ts") + expr(s"INTERVAL $windowDays DAYS"),
          col("lt.t_type")).otherwise(lit("none")).as("touch_type"),
        col("value"))
      .groupBy(col("touch_type"))
      .agg(count(lit(1)).as("n_conversions"),
        sum(col("value").cast("decimal(18,2)")).cast("double")
          .as("sum_value"))
      .orderBy(col("touch_type"))
  }

  /** Next-event transition matrix (first-order Markov counts): for each
    * ordered (from, to) pair of consecutive events BY THE SAME USER,
    * the transition count and row-normalized probability.
    *
    * One user-keyed window (`lead` carries O(1) state) + one tiny
    * (types²-row) aggregate; the probability normalizer is a window over
    * the aggregate, never a second pass over events. Integer÷integer
    * division in double is IEEE-exact, so `p` is engine-portable. */
  def transitions(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val counts = events
      .select(col("user_id"), col("event_type").as("from_type"),
        lead(col("event_type"), 1).over(w).as("to_type"))
      .filter(col("to_type").isNotNull)
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    counts
      .withColumn("p", col("n").cast("double") /
        sum(col("n")).over(Window.partitionBy(col("from_type"))).cast("double"))
      .orderBy(col("from_type"), col("to_type"))
  }

  /** Per-type z-score anomaly flags over event values — the telemetry
    * data-quality gate (the numeric twin of the text pipeline's quality
    * scores).
    *
    * Exact two-pass shape: per-type moments (n, Σv, Σv²) accumulate in
    * DECIMAL (order-free — double sums are not associative, so a
    * double-moment z would flap with partition count), the types-row
    * stats table broadcasts back, and z is derived in double from the
    * exact components — identical on any cluster layout and replayable
    * by the oracle. Zero-variance types emit z = 0 (no flag). */
  def anomalies(events: DataFrame, zThreshold: Double = 3.0): DataFrame = {
    val dv = col("value").cast("decimal(18,2)")
    val stats = events.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(dv).as("sv"),
        sum((dv * dv).cast("decimal(38,4)")).as("svv"))
    val mean = col("sv").cast("double") / col("n").cast("double")
    val varr = greatest(lit(0.0),
      (col("svv").cast("double") -
        col("sv").cast("double") * col("sv").cast("double") /
          col("n").cast("double")) / col("n").cast("double"))
    val sd = sqrt(varr)
    val z = when(sd > 0.0, (col("value") - mean) / sd).otherwise(lit(0.0))
    events.join(broadcast(stats), Seq("event_type"))
      .select(col("event_id"), col("event_type"), col("value"),
        (floor(z * 1e4) / 1e4).as("z"),
        (abs(z) > zThreshold).as("is_anomaly"))
      .transform(graft.Determinism.sorted(_)(col("event_id")))
  }

  /** Daily/rolling active users — the DAU / WAU / stickiness report
    * every product-analytics deployment runs: per calendar day the
    * distinct active users (DAU), the distinct users active in the
    * trailing `windowDays` window ending that day (WAU), and
    * stickiness = DAU/WAU (an integer÷integer IEEE-exact double — the
    * `q_fertility` convention, no floor grid needed).
    *
    * Scale shape — events are scanned ONCE and never re-joined: the
    * scan collapses to the DISTINCT (user, day) activity table first
    * (the `q_retention` discipline — post-collapse rows are user ×
    * active-day, not events); the rolling window is a bounded
    * `windowDays`-fan-out of that COLLAPSED table (each activity day
    * contributes to the `windowDays` window-end days it falls inside)
    * deduplicated per (user, window-end) — never a per-day distinct
    * re-count over events and never an unbounded window state. Days
    * with zero activity emit no row (the inner join against DAU). */
  def activeUsers(events: DataFrame, windowDays: Int = 7): DataFrame =
    activeUsersFrom(
      events.select(col("user_id"), to_date(col("ts")).as("day")),
      windowDays)

  /** [[activeUsers]] over a pre-collapsed `(user_id, day)` activity
    * table — the entry the streaming twin reports from. Input rows are
    * re-deduplicated here, so an at-least-once activity store (appended
    * per micro-batch, possibly with replayed rows) still yields the
    * exact report. */
  def activeUsersFrom(activity: DataFrame, windowDays: Int = 7): DataFrame = {
    require(windowDays >= 1, s"windowDays must be ≥ 1, got $windowDays")
    import Barrier.BarrierOps
    val ud = activity.select(col("user_id"), col("day"))
      .distinct()
      // USER-cluster the collapsed activity before the rolling fan-out:
      // a (user, window-end) duplicate arises from DIFFERENT activity
      // days of the same user, so under the distinct's (user, day) hash
      // layout the duplicates live in different partitions and the
      // fan-out's map-side dedup collapses almost nothing — measured
      // 24.3×/decade partials at sf1→sf10 (collapse efficiency decays
      // with partition count). One |ud|-row user shuffle makes every
      // duplicate partition-local; post-fix the fan-out partials are
      // |distinct(user, end)| — exactly row-linear.
      .repartition(col("user_id"))
      .barrier() // read 2×: DAU + the rolling fan-out
    val dau = ud.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val wau = ud
      .select(col("user_id"),
        explode(sequence(lit(0), lit(windowDays - 1))).as("i"), col("day"))
      .select(col("user_id"), date_add(col("day"), col("i")).as("day"))
      .distinct()
      .groupBy(col("day")).agg(count(lit(1)).as("wau"))
    dau.join(wau, Seq("day"))
      .select(col("day"), col("dau"), col("wau"),
        (col("dau").cast("double") / col("wau").cast("double"))
          .as("stickiness"))
      .orderBy(col("day"))
  }

  /** RFM segmentation: per-user Recency (days since last purchase, from
    * a fixed `asOf` anchor — never wall-clock), Frequency (purchase
    * count) and Monetary (DECIMAL-exact value sum), each cut into
    * quintiles by VALUE (order-statistic cuts, [[graft.operators
    * .TextAnalysis.lmBuckets]]' scheme): cut i = smallest sort-key
    * value whose cumulative user count reaches ⌈i·n/5⌉, and a user's
    * quintile is `1 + #{cuts their key exceeds}`. Ties SHARE a bucket
    * (a mega-tie may oversize its quintile by the tie mass) — both
    * engines resolve ties identically with no row-order tie-break at
    * all. Quintile 1 is always "best" (most recent / most frequent /
    * highest spend); monetary cuts land on the whole-unit grid
    * (`floor`) so the cut table stays value-domain-bounded.
    *
    * Scale shape — no global sort anywhere: one user-keyed aggregate
    * (barriered, read once per metric + once to assign), then per
    * metric a distinct-value count, a cumulative window over the
    * DISTINCT sort keys (domain-bounded: days / purchase counts /
    * whole currency units — never user count), and a 1-row cut table
    * broadcast back. The previous `ntile(5)` form moved the whole
    * users table through one task three times; this plan's only
    * single-partition passes are over the bounded distinct-key
    * tables. */
  def rfm(events: DataFrame, asOf: String = "2024-01-31",
          purchaseType: String = "purchase"): DataFrame = {
    import Barrier.BarrierOps
    val per = events.filter(col("event_type") === purchaseType)
      .groupBy(col("user_id"))
      .agg(
        datediff(lit(asOf).cast("date"), to_date(max(col("ts"))))
          .cast("long").as("recency_days"),
        count(lit(1)).as("frequency"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("monetary"))
      .barrier() // read 5 ways: n, three cut derivations, assignment
    // ascending sort keys, "best" first: recency as-is, the other two negated
    val keyed = per.select(col("user_id"), col("recency_days"),
      col("frequency"), col("monetary"),
      col("recency_days").as("s_r"),
      (-col("frequency")).as("s_f"),
      (-floor(col("monetary"))).cast("long").as("s_m"))
    val n = per.agg(count(lit(1)).as("n"))
    // cum·5 ≥ i·n  ⇔  cum ≥ ⌈i·n/5⌉ for integer cum — no ceil needed
    def cuts(key: String, pfx: String): DataFrame =
      keyed.groupBy(col(key).as("v")).agg(count(lit(1)).as("c"))
        .withColumn("cum", sum(col("c")).over(Window.orderBy(col("v"))))
        .crossJoin(broadcast(n))
        .agg(
          min(when(col("cum") * 5 >= col("n"), col("v"))).as(s"${pfx}1"),
          min(when(col("cum") * 5 >= col("n") * 2, col("v"))).as(s"${pfx}2"),
          min(when(col("cum") * 5 >= col("n") * 3, col("v"))).as(s"${pfx}3"),
          min(when(col("cum") * 5 >= col("n") * 4, col("v"))).as(s"${pfx}4"))
    val allCuts = cuts("s_r", "r").crossJoin(cuts("s_f", "f"))
      .crossJoin(cuts("s_m", "m"))
    def quintile(s: Column, pfx: String): Column =
      lit(1L) + (s > col(s"${pfx}1")).cast("long") +
        (s > col(s"${pfx}2")).cast("long") +
        (s > col(s"${pfx}3")).cast("long") +
        (s > col(s"${pfx}4")).cast("long")
    keyed.crossJoin(broadcast(allCuts))
      .select(col("user_id"), col("recency_days"), col("frequency"),
        col("monetary"),
        quintile(col("s_r"), "r").as("r_quintile"),
        quintile(col("s_f"), "f").as("f_quintile"),
        quintile(col("s_m"), "m").as("m_quintile"))
      .withColumn("segment",
        concat(col("r_quintile").cast("string"),
          col("f_quintile").cast("string"), col("m_quintile").cast("string")))
      .transform(graft.Determinism.sorted(_)(col("user_id")))
  }

  /** Hour-of-week traffic seasonality: per (day-of-week, hour-of-day)
    * cell the event count, exact decimal value sum, and share of total
    * traffic — the capacity/anomaly-baseline profile every telemetry
    * pipeline keeps (a spike detector compares against the matching
    * hour-of-week cell, not a global mean; `q_anomaly` is the per-day
    * z-score companion).
    *
    * Scale shape: ONE map-side-combined aggregate onto the bounded
    * 7×24-cell key — epoch arithmetic, no calendar functions, so the
    * grouping key is a pure codegen'd projection at the scan; the total
    * is a 1-row broadcast back onto 168 rows. dow 0 = Sunday (epoch
    * day 0 is a Thursday: (day + 4) mod 7).
    *
    * Determinism: both engines derive the cell from the SAME integer
    * second (Spark's `cast(ts as long)` truncation ≡ the oracle's
    * `epoch_ns // 1e9` floor — event epochs are positive); the share is
    * an integer DIV on the 1e-6 grid; value sums ride DECIMAL(18,2). */
  def seasonality(events: DataFrame): DataFrame =
    seasonalityFromCells(seasonalityCells(events))

  /** The 7×24 `(dow, hour, n, value_sum)` cells — batch/stream-shared
    * (a plain aggregation on a FIXED 168-cell key, so over `readStream`
    * in update mode the state store holds ≤ 168 counter rows forever —
    * the [[graft.streaming.SketchStream]] fixed-state discipline; epoch
    * arithmetic keeps the grouping key a codegen'd projection, no
    * calendar functions). After any prefix of a stream the cells equal
    * this over the same rows in batch — asserted bit-for-bit in the
    * streaming spec under both state backends. Sums stay exact DECIMAL
    * here; [[seasonalityFromCells]] casts at the fold. */
  def seasonalityCells(events: DataFrame): DataFrame =
    events
      .select(col("ts").cast("long").as("sec"),
        col("value").cast("decimal(18,2)").as("v"))
      .select(expr("pmod(sec div 86400 + 4, 7)").as("dow"),
        expr("pmod(sec div 3600, 24)").as("hour"), col("v"))
      .groupBy(col("dow"), col("hour"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("value_sum"))

  /** [[seasonality]] folded from cells — exactly the per-event
    * aggregate (same integers, same decimal sum, one DIV per cell).
    *
    * The ≤168-cell table is barriered before fan-out: the totals side
    * prunes `value_sum`, which makes its partial aggregate (and so its
    * exchange) differ from the main side's — exchange reuse can't fire
    * and the CORPUS would be scanned twice (measured in the executed
    * plan; `gapStatsFromCells`' cells are total-width so reuse saves it
    * there). One materialized 168-row table = one corpus scan. */
  def seasonalityFromCells(rawCells: DataFrame): DataFrame = {
    val cells = rawCells.barrier()
    val total = cells.agg(sum(col("n")).as("total"))
    cells.crossJoin(broadcast(total))
      .select(col("dow"), col("hour"), col("n"),
        col("value_sum").cast("double").as("value_sum"),
        expr("cast(n as decimal(38,0)) * 1000000 div total")
          .cast("double") / 1e6 as "share")
      .transform(graft.Determinism.sorted(_)(col("dow"), col("hour")))
  }

  /** Time-to-conversion distribution: for every user whose first
    * `to` event follows their first `from` event, the lag in hours,
    * bucketed (capped at `capHours` — the overflow bucket absorbs the
    * long tail so the output domain is fixed) with converter counts and
    * shares. The latency profile behind funnel SLAs ([[funnel]] reports
    * IF users convert; this reports HOW FAST).
    *
    * Scale shape: ONE user-keyed aggregate (two conditional `min`s —
    * O(1) state per user, never an event buffer), then a
    * map-side-combined fold onto the ≤ capHours+1 bucket domain with a
    * 1-row total broadcast back. Ratios are integer DIVs on the 1e-6
    * grid; lags are integer-second subtraction (both engines derive the
    * SAME integer second). */
  def conversionLag(events: DataFrame, from: String = "view",
                    to: String = "purchase",
                    capHours: Int = 48): DataFrame = {
    val perUser = events
      .groupBy(col("user_id"))
      .agg(min(when(col("event_type") === from, col("ts").cast("long")))
          .as("t_from"),
        min(when(col("event_type") === to, col("ts").cast("long")))
          .as("t_to"))
      .filter(col("t_from").isNotNull && col("t_to").isNotNull &&
        col("t_to") >= col("t_from"))
    val buckets = perUser
      .select(least(expr("(t_to - t_from) div 3600"),
        lit(capHours.toLong)).as("lag_hours"))
      .groupBy(col("lag_hours"))
      .agg(count(lit(1)).as("n_users"))
    val total = buckets.agg(sum(col("n_users")).as("total"))
    buckets.crossJoin(broadcast(total))
      .select(col("lag_hours"), col("n_users"),
        expr("cast(n_users as decimal(38,0)) * 1000000 div total")
          .cast("double") / 1e6 as "share")
      .transform(graft.Determinism.sorted(_)(col("lag_hours")))
  }

  /** Inter-event gap distribution: per user the deltas between
    * consecutive events (same (ts, event_id) total order as the
    * sessionizer), minute-bucketed with a fixed overflow cap, with
    * shares and the cumulative share — the evidence table behind
    * [[Sessionize]]'s 30-minute gap threshold (the session cut should
    * sit in the valley of this distribution, not be folklore).
    *
    * Scale shape: ONE user-keyed window (`lag` — the `q_scd2` exchange,
    * O(1) state per row), then a map-side fold onto the ≤ capMinutes+1
    * bucket domain; the cumulative window runs over the BOUNDED bucket
    * table (value-derived domain — the `lmBuckets` CDF-cut shape, which
    * PlanDoctor admits). Shares are integer DIVs on the 1e-6 grid;
    * cumulative counts are exact long sums. */
  def gapStats(events: DataFrame, capMinutes: Int = 120): DataFrame =
    gapStatsFromCells(gapBuckets(events, capMinutes))

  /** The capped `(gap_minutes, n)` bucket cells — the batch half of the
    * seam. Per-user lags come from one user-keyed window pass here; the
    * streaming twin ([[graft.streaming.GapStatsStream]]) derives the
    * SAME deltas from O(1) last-event-per-user state and feeds this
    * fold's input shape. Bucket domain ≤ capMinutes+1 by construction. */
  def gapBuckets(events: DataFrame, capMinutes: Int = 120): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("sec"), col("event_id"))
    events
      .select(col("user_id"), col("event_id"), col("ts").cast("long").as("sec"))
      .withColumn("delta", col("sec") - lag(col("sec"), 1).over(byUser))
      .filter(col("delta").isNotNull)
      .select(least(expr("delta div 60"), lit(capMinutes.toLong))
        .as("gap_minutes"))
      .groupBy(col("gap_minutes"))
      .agg(count(lit(1)).as("n"))
  }

  /** [[gapStats]] folded from bucket cells — total, share and the
    * cumulative over the bounded bucket domain (batch/stream-shared). */
  def gapStatsFromCells(buckets: DataFrame): DataFrame = {
    val total = buckets.agg(sum(col("n")).as("total"))
    val cum = Window.orderBy(col("gap_minutes"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    buckets.crossJoin(broadcast(total))
      .withColumn("cum_n", sum(col("n")).over(cum))
      .select(col("gap_minutes"), col("n"),
        expr("cast(n as decimal(38,0)) * 1000000 div total")
          .cast("double") / 1e6 as "share",
        expr("cast(cum_n as decimal(38,0)) * 1000000 div total")
          .cast("double") / 1e6 as "cum_share")
      .transform(graft.Determinism.sorted(_)(col("gap_minutes")))
  }

  /** Cohort lifetime value: users cohorted by FIRST-EVENT week, their
    * purchase revenue folded per (cohort_week, age_week) with the
    * running cumulative — the LTV curve a growth team reads next to
    * [[retention]]'s activity marks (retention counts users back;
    * this weighs what they spend).
    *
    * Scale shape: two user-keyed aggregates (first-event day; the
    * purchase rows join the 1-row-per-user cohort table on the SAME
    * user key — co-partitioned), then a map-side fold onto the bounded
    * (cohort_week × age_week) grid; the cumulative window is
    * PARTITIONED by cohort over that bounded grid. Revenue rides
    * DECIMAL(18,2) end to end (order-free), weeks are pure epoch
    * arithmetic. */
  def cohortLtv(events: DataFrame): DataFrame = {
    val firstDay = events
      .groupBy(col("user_id"))
      .agg(min(expr("cast(ts as long) div 86400")).as("cohort_day"))
    val purchases = events
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), expr("cast(ts as long) div 86400").as("day"),
        col("value").cast("decimal(18,2)").as("v"))
    val cells = purchases.join(firstDay, Seq("user_id"))
      .select(expr("cohort_day div 7").as("cohort_week"),
        expr("(day - cohort_day) div 7").as("age_week"), col("v"))
      .groupBy(col("cohort_week"), col("age_week"))
      .agg(count(lit(1)).as("n_purchases"), sum(col("v")).as("rev"))
    val cum = Window.partitionBy(col("cohort_week")).orderBy(col("age_week"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells
      .withColumn("cum_rev", sum(col("rev")).over(cum))
      .select(col("cohort_week"), col("age_week"), col("n_purchases"),
        col("rev").cast("double").as("revenue"),
        col("cum_rev").cast("double").as("cum_revenue"))
      .transform(graft.Determinism.sorted(_)(col("cohort_week"),
        col("age_week")))
  }

  /** Robust per-type outlier gate: median and MAD (median absolute
    * deviation) of `value` on the 1e-4 grid, with the count and fraction
    * beyond `k`·MAD — the heavy-tail-proof twin of [[anomalies]] (one
    * 1000× spike drags a mean/σ z-score's own baseline; the median and
    * MAD don't move, which is why data-quality gates prefer them).
    *
    * Scale shape: ONE corpus pass builds the (type, value-grid)
    * HISTOGRAM — the only corpus-sized shuffle, map-side combined;
    * median, the deviation histogram, MAD, and the outlier mass are all
    * folds over histogram CELLS, with every cumulative window
    * PARTITIONED by type over the bounded value domain. The grid is
    * CLAMPED to `[0, 1000.0]` (1e-4 resolution → ≤ 1e7 + 1 cells per
    * type) with the out-of-range mass landing in the boundary buckets —
    * the `conversionLag` 48 h / `gapStats` 120 min overflow discipline —
    * so the cell count is capped by CONSTRUCTION, not by the data: a
    * high-cardinality value column (unique floats over an unbounded
    * range) can no longer make cells ∝ corpus or turn the per-type
    * cumulative into a corpus sort. Median and MAD stay exact whenever
    * they fall strictly inside the range (clamping only moves tail mass
    * onto the boundary, which preserves every order statistic below it);
    * tail values keep counting toward the outlier mass as long as the
    * boundary bucket clears the k·MAD fence.
    *
    * Determinism: medians are an integer rule (the smallest grid value
    * whose doubled cumulative count reaches n — the lower median), so
    * ties and even counts resolve identically in both engines; the
    * outlier fraction is one integer DIV on the 1e-6 grid. */
  /** Revenue concentration: per-user purchase revenue folded onto log2
    * dollar buckets (capped — the overflow bucket absorbs whales, so
    * the output domain is fixed), each bucket with its user count, user
    * share, revenue share and the cumulative revenue share — the Pareto
    * answer ("what fraction of revenue rides on which spend tier") a
    * monetization team reads next to [[rfm]]'s per-user labels.
    *
    * Scale shape: ONE user-keyed aggregate (O(1) decimal state per
    * user), then a map-side fold onto the ≤ capBucket+1 grid; the
    * cumulative window runs over that bounded DERIVED domain
    * (PlanDoctor-admitted). Revenue rides DECIMAL(18,2) end to end;
    * shares are integer DIVs — revenue shares on exact integer CENTS
    * (·100 before the cast to the integer grid). Buckets come from
    * binary-string length (`length(bin(⌊rev⌋+1))−1` = ⌊log2⌋), never a
    * float log that could land a power of two on the wrong side. */
  def revenueConcentration(events: DataFrame, capBucket: Int = 20)
      : DataFrame = {
    val perUser = events
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(sum(col("value").cast("decimal(18,2)")).as("rev"))
    val buckets = perUser
      .select(least(
        length(bin(greatest(floor(col("rev")).cast("long"), lit(0L)) + 1))
          .cast("long") - 1,
        lit(capBucket.toLong)).as("rev_bucket"), col("rev"))
      .groupBy(col("rev_bucket"))
      .agg(count(lit(1)).as("n_users"), sum(col("rev")).as("rev_sum"))
    val totals = buckets.agg(sum(col("n_users")).as("tu"),
      sum(col("rev_sum")).as("tr"))
    val cum = Window.orderBy(col("rev_bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    buckets.crossJoin(broadcast(totals))
      .withColumn("cum_rev", sum(col("rev_sum")).over(cum))
      .select(col("rev_bucket"), col("n_users"),
        col("rev_sum").cast("double").as("revenue"),
        expr("cast(n_users as decimal(38,0)) * 1000000 div tu")
          .cast("double") / 1e6 as "user_share",
        expr("cast(rev_sum * 100 as decimal(38,0)) * 1000000" +
          " div cast(tr * 100 as decimal(38,0))")
          .cast("double") / 1e6 as "rev_share",
        expr("cast(cum_rev * 100 as decimal(38,0)) * 1000000" +
          " div cast(tr * 100 as decimal(38,0))")
          .cast("double") / 1e6 as "cum_rev_share")
      .transform(graft.Determinism.sorted(_)(col("rev_bucket")))
  }

  /** Grid cap: values clamp into `[0, madGridMax]` (1e-4 units). */
  private val madGridMax = 10000000L

  def madOutliers(events: DataFrame, k: Int = 3): DataFrame =
    madFromCells(madHistogram(events), k)

  /** The capped `(event_type, vg, c)` value histogram — batch/stream-
    * shared. Over `readStream` (update mode) the state is bounded by the
    * CLAMPED grid (≤ madGridMax+1 cells per type by construction —
    * which is exactly why the clamp exists: a raw `floor(value·1e4)` key
    * would make the store ∝ distinct values seen). After any prefix of a
    * stream the cells equal this over the same rows in batch — asserted
    * bit-for-bit in the streaming spec under both state backends. */
  def madHistogram(events: DataFrame): DataFrame =
    events
      .select(col("event_type"),
        least(greatest(floor(col("value") * 1e4).cast("long"), lit(0L)),
          lit(madGridMax)).as("vg"))
      .groupBy(col("event_type"), col("vg"))
      .agg(count(lit(1)).as("c"))

  /** [[madOutliers]] folded from histogram cells — medians, MAD and the
    * outlier mass are all integer folds over cells, so the fold equals
    * the per-event operator exactly (the `MlEval.aucFromCells` seam). */
  def madFromCells(h: DataFrame, k: Int = 3): DataFrame = {
    val tot = h.groupBy(col("event_type")).agg(sum(col("c")).as("n"))
    def lowerMedian(hist: DataFrame, key: String, out: String): DataFrame = {
      val w = Window.partitionBy(col("event_type")).orderBy(col(key))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      hist.withColumn("cum", sum(col("c")).over(w))
        .join(tot, Seq("event_type"))
        .filter(col("cum") * 2 >= col("n"))
        .groupBy(col("event_type")).agg(min(col(key)).as(out))
    }
    val med = lowerMedian(h, "vg", "med_g")
    val dev = h.join(med, Seq("event_type"))
      .select(col("event_type"), abs(col("vg") - col("med_g")).as("dg"),
        col("c"))
      .groupBy(col("event_type"), col("dg"))
      .agg(sum(col("c")).as("c"))
    val mad = lowerMedian(dev, "dg", "mad_g")
    val outl = dev.join(mad, Seq("event_type"))
      .filter(col("dg") > lit(k.toLong) * col("mad_g"))
      .groupBy(col("event_type")).agg(sum(col("c")).as("n_out"))
    tot.join(med, Seq("event_type")).join(mad, Seq("event_type"))
      .join(outl, Seq("event_type"), "left")
      .na.fill(0L, Seq("n_out"))
      .select(col("event_type"), col("n"),
        (col("med_g").cast("double") / 1e4).as("median"),
        (col("mad_g").cast("double") / 1e4).as("mad"),
        col("n_out").as("n_outliers"),
        expr("cast(n_out as decimal(38,0)) * 1000000 div n")
          .cast("double") / 1e6 as "outlier_frac")
      .transform(graft.Determinism.sorted(_)(col("event_type")))
  }

  /** Trimmed + winsorized means per event type — the "how much do the
    * tails move the mean" audit next to [[madOutliers]]'s outlier gate
    * (MAD says WHICH rows are extreme; this says what the headline mean
    * looks like with the extremes removed vs pinned to the trim
    * quantiles — the robust pair a metrics pipeline reports side by
    * side with the plain mean).
    *
    * Rides [[madHistogram]]'s capped `(event_type, vg, c)` cells, so
    * values are the CLAMPED 1e-4 grid (the madOutliers contract). All
    * rank algebra runs over histogram cells: with `lo = n·trimPct/100`
    * rows trimmed at each tail, a cell's kept mass is
    * `clamp(cum_end) - clamp(cum_start)` against `[lo, n-lo]`, the trim
    * quantiles are the rank-`lo+1` / rank-`n-lo` cell values, and the
    * winsorized sum adds `lo` copies of each back. Exact DECIMAL sums,
    * means via integer DIV (all numerators non-negative, so Spark's
    * truncating `div` and DuckDB's flooring `//` agree).
    *
    * Scale shape: the histogram pass is the ONLY corpus-sized work; the
    * cumulative window runs per type over the value-domain-bounded grid
    * (≤ madGridMax+1 cells — the PlanDoctor-admitted pattern shared
    * with [[madFromCells]]'s lowerMedian). */
  def robustStats(events: DataFrame, trimPct: Int = 5): DataFrame = {
    require(trimPct >= 0 && trimPct < 50, s"trimPct out of range: $trimPct")
    robustFromCells(madHistogram(events), trimPct)
  }

  /** [[robustStats]] folded from histogram cells — batch/stream-shared
    * (a streaming twin holds the same bounded cells). */
  private[graft] def robustFromCells(h: DataFrame, trimPct: Int): DataFrame = {
    val tot = h.groupBy(col("event_type")).agg(sum(col("c")).as("n"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("vg"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cells = h.withColumn("cum_end", sum(col("c")).over(w))
      .withColumn("cum_start", col("cum_end") - col("c"))
      .join(tot, Seq("event_type"))
      .withColumn("lo", expr(s"n * $trimPct div 100"))
      .withColumn("kept",
        greatest(least(col("cum_end"), col("n") - col("lo")), col("lo")) -
          greatest(least(col("cum_start"), col("n") - col("lo")), col("lo")))
    cells.groupBy(col("event_type"), col("n"), col("lo"))
      .agg(
        sum(expr("cast(vg as decimal(38,0)) * c")).as("s_all"),
        sum(expr("cast(vg as decimal(38,0)) * kept")).as("s_trim"),
        min(when(col("cum_end") >= col("lo") + 1, col("vg"))).as("qlo_g"),
        min(when(col("cum_end") >= col("n") - col("lo"), col("vg"))).as("qhi_g"))
      .select(col("event_type"), col("n"),
        expr("s_all div n").cast("double") / 1e4 as "mean",
        expr("s_trim div (n - 2 * lo)").cast("double") / 1e4
          as "trimmed_mean",
        expr("(s_trim + cast(lo as decimal(38,0)) * (qlo_g + qhi_g)) div n")
          .cast("double") / 1e4 as "winsor_mean",
        (col("qlo_g").cast("double") / 1e4).as("p_trim_lo"),
        (col("qhi_g").cast("double") / 1e4).as("p_trim_hi"))
      .transform(graft.Determinism.sorted(_)(col("event_type")))
  }

  /** The session-gap THRESHOLD sweep: session count and mean session
    * length for gap ∈ {5, 15, 30, 60} minutes — the tuning table the
    * 30-minute sessionizer threshold is chosen from ([[gapStats]] shows
    * the raw inter-event gap distribution; this shows what each
    * candidate cut DOES to the session model — the `q_recall_sweep` /
    * `dedup_lsh_sweep` operating-curve discipline on the session axis).
    *
    * Exactly [[Sessionize.sessions]]' boundary rule per point: a new
    * session starts when the gap strictly exceeds the threshold, so
    * n_sessions(T) = n_users + |{deltas > T·60}| — and every sweep
    * point folds from ONE user-keyed window pass (the same lag pass as
    * [[gapBuckets]]; a NULL delta marks each user's first event, so the
    * user count rides the same aggregate). No histogram needed: the
    * thresholds are compile-time constants, so each point is one
    * conditional sum. Mean events/session is one DECIMAL DIV. */
  def sessionGapSweep(events: DataFrame,
                      minuteCuts: Seq[Int] = Seq(5, 15, 30, 60)): DataFrame = {
    require(minuteCuts.nonEmpty, "empty sweep")
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("sec"), col("event_id"))
    val deltas = events
      .select(col("user_id"), col("event_id"), col("ts").cast("long").as("sec"))
      .withColumn("delta", col("sec") - lag(col("sec"), 1).over(byUser))
    val aggs = Seq(count(lit(1)).as("n_events"),
      sum(when(col("delta").isNull, 1L).otherwise(0L)).as("n_users")) ++
      minuteCuts.map(t =>
        sum(when(col("delta") > t * 60L, 1L).otherwise(0L)).as(s"x$t"))
    val stackArgs = minuteCuts
      .map(t => s"${t}L, n_users + x$t").mkString(", ")
    deltas.agg(aggs.head, aggs.tail: _*)
      .select(expr(s"stack(${minuteCuts.length}, $stackArgs)" +
        " as (gap_minutes, n_sessions)"), col("n_events"))
      .select(col("gap_minutes"), col("n_sessions"),
        expr("cast(n_events as decimal(38,0)) * 1000000 div n_sessions")
          .cast("double") / 1e6 as "mean_events")
      .transform(graft.Determinism.sorted(_)(col("gap_minutes")))
  }

  /** Event-type CO-OCCURRENCE matrix: for every unordered type pair, how
    * many users did BOTH, with lift (observed / independence-expected
    * co-users) and audience Jaccard — the set-based companion to
    * [[transitions]]' consecutive-step matrix (transitions ask "what
    * happens NEXT"; this asks "which behaviors live in the same users" —
    * the audience-overlap table behind feature bundling and
    * cross-feature funnels).
    *
    * Scale shape: ONE user-keyed aggregate collapses each user to their
    * distinct type SET (O(1) state — the type vocabulary is bounded by
    * contract, never an event buffer), barriered and fanned out ≤
    * |types|² per user into a map-side-combined fold onto the bounded
    * pair domain; marginals and the user total fold from the SAME
    * materialized table (one corpus pass total). Lift and Jaccard are
    * exact-integer DECIMAL DIVs on the 1e-6 grid. */
  def cooccurrence(events: DataFrame): DataFrame = {
    val sets = events
      .groupBy(col("user_id"))
      .agg(sort_array(collect_set(col("event_type"))).as("ts"))
      .barrier()
    val pairs = sets
      .select(explode(col("ts")).as("a"), col("ts"))
      .select(col("a"),
        explode(filter(col("ts"), b => b > col("a"))).as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_both"))
    val singles = sets
      .select(explode(col("ts")).as("event_type"))
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    val total = sets.agg(count(lit(1)).as("n_users"))
    cooccurrenceFromCells(pairs, singles, total)
  }

  /** [[cooccurrence]] finished from its three bounded cell tables —
    * batch/stream-shared ([[graft.streaming.CooccurStream]] holds the
    * same cells as streaming aggregations over set-growth marks). */
  private[graft] def cooccurrenceFromCells(pairs: DataFrame,
      singles: DataFrame, total: DataFrame): DataFrame =
    pairs
      .join(broadcast(singles.select(col("event_type").as("a"),
        col("n").as("n_a"))), Seq("a"))
      .join(broadcast(singles.select(col("event_type").as("b"),
        col("n").as("n_b"))), Seq("b"))
      .crossJoin(broadcast(total))
      .select(col("a").as("type_a"), col("b").as("type_b"), col("n_both"),
        col("n_a"), col("n_b"), col("n_users"),
        expr("cast(n_both as decimal(38,0)) * n_users * 1000000" +
          " div (cast(n_a as decimal(38,0)) * n_b)")
          .cast("double") / 1e6 as "lift",
        expr("cast(n_both as decimal(38,0)) * 1000000" +
          " div (n_a + n_b - n_both)").cast("double") / 1e6 as "jaccard")
      .transform(graft.Determinism.sorted(_)(col("type_a"), col("type_b")))
}
