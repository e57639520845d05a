package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.GraftFunctions.quant6

/** Event-stream product analytics over the raw `events` table — the
  * funnel/cohort queries an analytics user runs beside the market ops
  * (the reference's event model is the same (ts, type, value) record,
  * /root/reference/timeseries_db.hpp:19-24; these are the standard
  * aggregations over it that don't fit a per-symbol window).
  *
  * Scale posture: everything here aggregates or joins on `user_id`, so
  * all stages share one hash partitioning — AQE plans a single shuffle
  * of (user_id, timestamp) pairs and reuses it across the staged
  * semi-joins; event payloads never move.
  */
object EventAnalytics {

  /** Ordered conversion funnel view → click → purchase: a user counts
    * at a stage only if that stage's first qualifying event is at or
    * after their previous stage's. Staged min-aggregations (each one
    * shuffle on user_id) instead of a self-join per step — at 100 TB
    * each stage input is the (already tiny) per-user timestamp table,
    * not the event log.
    */
  def funnel(events: DataFrame): DataFrame = {
    // r19: ONE events scan + ONE user_id shuffle (was 5 scans — each
    // staged filter+join replanned the scan, and the three stage-count
    // aggs consumed v/c/p again). The staged mins become three window
    // mins over the same user_id partitioning (one sort, zero extra
    // exchanges): t_click = min click ts ≥ t_view via per-row
    // conditions, with NULL propagation (ts ≥ NULL is NULL) standing
    // in for the old inner joins. Values are exact timestamps —
    // identical stage sets, identical counts, oracle hash unchanged.
    val t = funnelTimes(events)
      .groupBy("user_id")
      .agg(max("t_view").as("t_view"), max("t_click").as("t_click"),
        max("t_purchase").as("t_purchase"))
    t.agg(count(col("t_view")).as("n_view"),
        count(col("t_click")).as("n_click"),
        count(col("t_purchase")).as("n_purchase"))
      .select(col("n_view"), col("n_click"), col("n_purchase"),
        // empty stages ⇒ NULL conversion rates (DuckDB's double 0/0 is
        // NULL; unguarded Spark ANSI throws — ChunkedEdgeSpec)
        round(when(col("n_view") > 0,
          col("n_click").cast("double") / col("n_view").cast("double")), 6)
          .as("view_to_click"),
        round(when(col("n_click") > 0,
          col("n_purchase").cast("double") / col("n_click").cast("double")), 6)
          .as("click_to_purchase"))
  }

  /** Shared funnel-stage timestamps (r19, [[funnel]]/[[windowFunnel]]):
    * per event row of the three funnel types, the user's staged
    * first-qualifying timestamps — t_view = first view, t_click =
    * first click at-or-after t_view, t_purchase = first purchase
    * at-or-after t_click — as three stacked window mins over ONE
    * user_id partitioning. A user with no qualifying event at a stage
    * carries NULL from that stage on (`ts >= NULL` is NULL, so the
    * conditional min sees no rows), exactly the old staged inner
    * joins' row-set semantics.
    */
  private def funnelTimes(events: DataFrame): DataFrame = {
    val wu = Window.partitionBy("user_id")
    events
      .filter(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id"), col("event_type"), col("ts"))
      .withColumn("t_view",
        min(when(col("event_type") === "view", col("ts"))).over(wu))
      .withColumn("t_click",
        min(when(col("event_type") === "click" &&
          col("ts") >= col("t_view"), col("ts"))).over(wu))
      .withColumn("t_purchase",
        min(when(col("event_type") === "purchase" &&
          col("ts") >= col("t_click"), col("ts"))).over(wu))
  }

  /** Day-N cohort retention: cohort = a user's first active day;
    * n_users = distinct users from that cohort active `day_offset`
    * days later (capped). The (user, day) activity table is distinct
    * first, so the cohort join and the final count-distinct run over
    * ~|users|·|active days| rows, never raw events.
    */
  def retention(events: DataFrame, maxDays: Int = 7): DataFrame = {
    val days = events.select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val cohort = days.groupBy("user_id").agg(min("day").as("cohort_day"))
    days.join(cohort, "user_id")
      .withColumn("day_offset", datediff(col("day"), col("cohort_day")))
      .filter(col("day_offset") <= maxDays)
      .groupBy("cohort_day", "day_offset")
      .agg(countDistinct("user_id").as("n_users"))
      .orderBy("cohort_day", "day_offset")
  }

  /** Activity heatmap by (day-of-week, hour-of-day): event counts and
    * the exact-decimal mean value per cell. One partial-agg shuffle of
    * at most 168 group states. Spark's `dayofweek` is 1=Sunday;
    * emitted 0-based to line up with DuckDB's `date_part('dow')`.
    */
  def calendarHeatmap(events: DataFrame): DataFrame =
    events.groupBy(
        (dayofweek(col("ts")) - 1).cast("long").as("dow"),
        hour(col("ts")).cast("long").as("hod"))
      .agg(count(lit(1)).as("n_events"),
        (sum(col("value").cast(DecimalType(18, 2))).cast("double") /
          count(lit(1)).cast("double")).as("avg_value"))
      .orderBy("dow", "hod")

  /** Gaps-and-islands: maximal runs of consecutive same-type events per
    * user (ordered by ts, event_id), reported as a run-length histogram
    * per event type. The island id is the classic
    * lag-change-flag + running sum — one sort-shuffle on user_id, then
    * two partial aggregations over run rows (never raw events twice).
    */
  def islands(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val prevType = lag(col("event_type"), 1).over(w)
    val changed = when(prevType.isNull || prevType =!= col("event_type"), 1L)
      .otherwise(0L)
    events.withColumn("chg", changed)
      .withColumn("island",
        sum(col("chg")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("island"), col("event_type"))
      .agg(count(lit(1)).as("run_len"))
      .groupBy(col("event_type").as("symbol"), col("run_len"))
      .agg(count(lit(1)).as("n_runs"))
      .orderBy("symbol", "run_len")
  }

  /** Interval-overlap join: for each left-type event's interval, count
    * same-user right-type intervals that overlap it (closed-interval
    * `l.s <= r.e AND r.s <= l.e`). Distributed as the standard
    * bucketed rewrite: every interval explodes onto the coarse time
    * buckets it covers, the join is an EQUI-join on (user_id, bucket)
    * with the overlap test as a residual, and pairs spanning several
    * shared buckets dedupe before counting — no nested-loop/range
    * join anywhere. Interval durations reuse the `value`-cents-seconds
    * convention of [[concurrency]] (exact DECIMAL→BIGINT).
    */
  def intervalOverlap(events: DataFrame, leftType: String = "error",
      rightType: String = "click"): DataFrame = {
    val bucketUs = 3600L * 1000000L
    def intervals(t: String) = events.filter(col("event_type") === t)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("s"),
        (unix_micros(col("ts")) +
          (col("value").cast(DecimalType(18, 2)) * 100).cast("long") * 1000000L)
          .as("e"))
    val l = intervals(leftType)
      .select(col("event_id"), col("user_id").as("l_user"),
        col("s"), col("e"))
      .withColumn("l_bucket",
        explode(expr(s"sequence(s div ${bucketUs}L, e div ${bucketUs}L)")))
    val r = intervals(rightType)
      .select(col("event_id").as("r_id"), col("user_id"),
        col("s").as("rs"), col("e").as("re"))
      .withColumn("bucket",
        explode(expr(s"sequence(rs div ${bucketUs}L, re div ${bucketUs}L)")))
    // LEFT OUTER keeps zero-overlap lefts in-band (no second left scan
    // for the zero-fill — the r5 plan scanned the left side twice), and
    // count(DISTINCT r_id) both dedupes pairs that share several coarse
    // buckets and ignores the outer-join NULLs — one scan per side.
    l.join(r,
        col("l_user") === col("user_id") && col("l_bucket") === col("bucket") &&
          col("s") <= col("re") && col("rs") <= col("e"), "left_outer")
      .groupBy(col("event_id"))
      .agg(countDistinct(col("r_id")).as("n_overlap"))
      .orderBy("event_id")
  }

  /** Peak interval concurrency per event type (sweep line): each event
    * opens an interval of `value`-cents seconds (exact DECIMAL→BIGINT,
    * no float truncation dialect risk); the +1/−1 endpoint deltas are
    * swept in (t, delta) order — ends close before same-instant starts
    * — with a running sum. Peak and first-peak-time are
    * permutation-invariant under equal-key ties, so the engine's tie
    * order never shows. One shuffle: everything windows on symbol.
    */
  def concurrency(events: DataFrame): DataFrame = {
    val startUs = unix_micros(col("ts"))
    val durS = (col("value").cast(DecimalType(18, 2)) * 100).cast("long")
    val endUs = startUs + durS * 1000000L
    val deltas = events.select(col("event_type").as("symbol"),
        explode(array(
          struct(startUs.as("t"), lit(1L).as("d")),
          struct(endUs.as("t"), lit(-1L).as("d")))).as("e"))
      .select(col("symbol"), col("e.t").as("t"), col("e.d").as("d"))
    // chunked prefix-sum over the sweep axis (endpoint day): within-day
    // running deltas + prior-day delta totals broadcast back — no
    // whole-symbol window; the peak and its first time fall out of one
    // max(struct(running, −t)) aggregate (struct order: max running,
    // then max −t = MIN t), replacing the whole-partition peak window.
    val withDay = deltas.withColumn("chunk_day", to_date(timestamp_micros(col("t"))))
    val sweep = Window.partitionBy("symbol", "chunk_day").orderBy(col("t"), col("d"))
    val priorDays = Window.partitionBy("symbol").orderBy("chunk_day")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = withDay.groupBy(col("symbol"), col("chunk_day"))
      .agg(sum(col("d")).as("day_total"))
      .select(col("symbol"), col("chunk_day"),
        coalesce(sum(col("day_total")).over(priorDays), lit(0L)).as("cum_offset"))
    withDay.join(offsets, Seq("symbol", "chunk_day"))
      .withColumn("running",
        sum(col("d")).over(sweep.rowsBetween(Window.unboundedPreceding, 0))
          + col("cum_offset"))
      .groupBy(col("symbol"))
      .agg(max(struct(col("running").as("r"), (-col("t")).as("nt"))).as("m"),
        (count(lit(1)) / 2).cast("long").as("n_intervals"))
      .select(col("symbol"), col("m.r").as("peak_concurrent"),
        (-col("m.nt")).as("peak_at_us"), col("n_intervals"))
      .orderBy("symbol")
  }

  /** NEW r9: first-order Markov transition matrix over each user's
    * event sequence — P(next event type | current), the
    * clickstream-path summary beside [[funnel]]. One lead() window per
    * user (high-cardinality key, so the rank-window rule allows it;
    * the per-user partition is that user's own events), then a
    * partial-agg shuffle of (from, to) counter rows — the matrix
    * itself is |types|² tiny. Ties inside a user's stream break on
    * event_id, mirrored in the oracle. share is a RAW double quotient
    * of two exact BIGINTs (the volumeProfile emission class — int→
    * double conversion correctly rounded, one IEEE division).
    */
  def transitions(events: DataFrame): DataFrame = {
    val uo = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val fromW = Window.partitionBy("from_type")
    events.select(col("user_id"), col("event_id"), col("ts"),
        col("event_type"))
      .withColumn("to_type", lead(col("event_type"), 1).over(uo))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("from_type"), col("to_type"), col("n"),
        (col("n").cast("double") /
          sum(col("n")).over(fromW).cast("double")).as("share"))
      .orderBy("from_type", "to_type")
  }

  /** NEW r9c: top event paths — the k most common 3-step event-type
    * sequences across all user streams (two lead() windows per user,
    * high-cardinality partitions), counted per path and globally
    * top-k'd via orderBy+limit (TakeOrderedAndProject: each partition
    * keeps its own top-k, no global sort). Ties break on the path
    * string — a total order both engines share.
    */
  def topPaths(events: DataFrame, k: Int = 20): DataFrame = {
    val uo = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    events.select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"))
      .withColumn("e2", lead(col("event_type"), 1).over(uo))
      .withColumn("e3", lead(col("event_type"), 2).over(uo))
      // all three legs filtered NOT NULL (not just e3): concat_ws SKIPS
      // null elements while the oracle's '||' propagates them — a null
      // event_type mid-triple would silently shorten the path string on
      // one engine only
      .filter(col("event_type").isNotNull && col("e2").isNotNull &&
        col("e3").isNotNull)
      .select(concat_ws(">", col("event_type"), col("e2"), col("e3"))
        .as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n_paths"))
      .orderBy(col("n_paths").desc, col("path"))
      .limit(k)
  }

  /** NEW r9c: active users — per day, the exact distinct-user counts
    * at daily/calendar-week/calendar-month grain (DAU/WAU/MAU), the
    * standard engagement triple. Each grain is a two-level exact
    * count-distinct: dedup on (grain, user) then counter aggregation
    * — only (grain, user_id) pairs shuffle; the three tiny grain
    * tables join back broadcast-style under AQE (unhinted).
    */
  def activeUsers(events: DataFrame): DataFrame = {
    // r19: every tier derives from the ONE distinct (day, user) table —
    // distinct-of-distinct is distinct, so week/month re-distincts over
    // `dd` equal the old from-the-facts distincts value for value.
    // Plan-sharing alone is NOT enough: Catalyst collapses the
    // distinct-of-distinct and pushes each tier's coarser distinct
    // down to its own scan (3 fact scans, 0 reuse — audited), so the
    // activity table is localCheckpointed once (the sessionCooccur
    // rule for consumers that prune to different granularities) and
    // the facts decode exactly once. |users × active days| rows —
    // metadata-sized next to the event log.
    val d = events.select(to_date(col("ts")).as("day"), col("user_id"))
    val dd = d.distinct().localCheckpoint()
    val dau = dd.groupBy("day").agg(count(lit(1)).as("dau"))
    val wau = dd.withColumn("week", date_trunc("week", col("day")).cast("date"))
      .select("week", "user_id").distinct()
      .groupBy("week").agg(count(lit(1)).as("wau"))
    val mau = dd.withColumn("month", date_trunc("month", col("day")).cast("date"))
      .select("month", "user_id").distinct()
      .groupBy("month").agg(count(lit(1)).as("mau"))
    dau.withColumn("week", date_trunc("week", col("day")).cast("date"))
      .withColumn("month", date_trunc("month", col("day")).cast("date"))
      .join(wau, "week").join(mau, "month")
      .select(col("day"), col("dau"), col("wau"), col("mau"))
      .orderBy("day")
  }

  /** NEW r9b: RFM segmentation — per user, recency (days since last
    * event, against the corpus max day), frequency (event count), and
    * monetary value (exact DECIMAL(12,2) sum → double). The reference
    * day is a one-row broadcast scalar (the [[graft.operators
    * .Relational.aboveAvg]] crossJoin pattern); everything else is one
    * groupBy(user_id) — a single shuffle of counter rows.
    */
  def rfm(events: DataFrame): DataFrame = {
    val refDay = events.agg(max(to_date(col("ts"))).as("ref_day"))
    events.groupBy(col("user_id"))
      .agg(max(to_date(col("ts"))).as("last_day"),
        count(lit(1)).as("frequency"),
        sum(col("value").cast(DecimalType(12, 2))).as("mon"))
      .crossJoin(broadcast(refDay))
      .select(col("user_id"),
        datediff(col("ref_day"), col("last_day")).cast("long")
          .as("recency_days"),
        col("frequency"),
        col("mon").cast("double").as("monetary"))
      .orderBy("user_id")
  }

  /** NEW r9b: last-touch attribution — for every purchase, the
    * event_type of the user's latest preceding non-purchase event,
    * aggregated into conversion counts per touch type. The "latest
    * preceding" pointer is a running MAX over a CASE'd row number
    * (NULL-skipping in both engines — no IGNORE-NULLS dependence),
    * resolved back to its type via an equi self-join on
    * (user_id, rn). Windows partition on the high-cardinality
    * user_id; ties inside a user's stream break on event_id.
    */
  def attribution(events: DataFrame): DataFrame = {
    val uo = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val t = events.select(col("user_id"), col("event_id"), col("ts"),
        col("event_type"))
      .withColumn("rn", row_number().over(uo).cast("long"))
    val purchases = t
      .withColumn("src_rn",
        max(when(col("event_type") =!= "purchase", col("rn"))).over(
          uo.rowsBetween(Window.unboundedPreceding, -1)))
      .filter(col("event_type") === "purchase" && col("src_rn").isNotNull)
    val sources = t.select(col("user_id").as("s_user"), col("rn").as("s_rn"),
      col("event_type").as("touch_type"))
    purchases.join(sources,
        col("user_id") === col("s_user") && col("src_rn") === col("s_rn"))
      .groupBy(col("touch_type"))
      .agg(count(lit(1)).as("n_conversions"))
      .orderBy("touch_type")
  }

  /** NEW r10: session statistics — the duration/size shape of the
    * sessions [[graft.operators.MarketOps.sessionize]] produces:
    * per (symbol, log2-duration-bucket) counts, event totals, and
    * duration extrema. Buckets come from the exact bit-length trick
    * (`length(bin(x)) − 1`, the length-histogram pattern) so no float
    * ever touches the bucketing. One join of the session-id table back
    * to tick timestamps on event_id, then counter-only aggregation.
    */
  def sessionStats(ticks: DataFrame, gapMinutes: Int = 30): DataFrame = {
    // r19: the ts-carrying sessionize core — the old path re-joined the
    // facts on event_id (a third events scan + facts-sized shuffle) to
    // recover the timestamp sessionize had just projected away, and
    // inherited a global event_id sort this aggregate discards.
    val withTs = MarketOps.sessionizeWithTs(ticks, gapMinutes)
    withTs.groupBy(col("symbol"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        unix_micros(max(col("ts"))).as("mx_us"),
        unix_micros(min(col("ts"))).as("mn_us"))
      // exact BIGINT div (both engines floor non-negative quotients)
      .select(col("symbol"), col("n_events"),
        expr("(mx_us - mn_us) div 1000000").as("dur_sec"))
      .groupBy(col("symbol"),
        (length(bin(col("dur_sec"))) - 1).cast("long").as("dur_bucket"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("n_events")).cast("long").as("total_events"),
        min(col("dur_sec")).as("min_dur_sec"),
        max(col("dur_sec")).as("max_dur_sec"))
      .orderBy("symbol", "dur_bucket")
  }

  /** NEW r15: bounce rate per day — the share of user sessions with
    * exactly ONE event (the standard engagement-quality headline next
    * to DAU): gap-based sessionization per user (the q_session_window
    * 30-minute convention), one-event sessions counted per the
    * session's start DAY. Shape: one per-user window pass (user_id is
    * high-cardinality — no low-card window hazard), a (user, session)
    * counter aggregate, then a ≤days-sized counter table; the rate is
    * the shared quantize float sequence (exact counts → FLOOR(+0.5)
    * → /1e6 — a bare ROUND of the true division is the §4 half-grid
    * hazard).
    */
  def bounceRate(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val gapUs = gapMinutes * 60L * 1000000L
    val s = events.select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
      .withColumn("is_new",
        (col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > gapUs).cast("long"))
      .withColumn("sess",
        sum(col("is_new")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
    val rate = col("n_bounces").cast("double") /
      col("n_sessions").cast("double") * 1000000.0
    s.groupBy(col("user_id"), col("sess"))
      .agg(count(lit(1)).as("n_events"), min(col("ts")).as("start_ts"))
      .groupBy(to_date(col("start_ts")).as("day"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(when(col("n_events") === 1L, 1L).otherwise(0L)).as("n_bounces"))
      .select(col("day"), col("n_sessions"), col("n_bounces"),
        (floor(rate + 0.5).cast("long").cast("double") / 1000000.0)
          .as("bounce_rate"))
      .orderBy("day")
  }

  /** NEW r12b: Markov stationary-distribution estimate — two
    * transparent power-iteration rounds of the event-type transition
    * chain (the PageRank-lite "where does a user stream settle"
    * report; the [[transitions]] matrix is WHERE, this is HOW MUCH).
    * The k-means-census discipline: both rounds are re-derived by the
    * oracle from the raw events, nothing is fitted offline.
    *
    * Engine-exact arithmetic: the row-stochastic matrix entries are
    * quant6'd DECIMAL(18,6); round 1 starts uniform, so π₁ ∝ the
    * exact decimal column sums u₁ (π₁ = u₁/k); round 2 re-weights by
    * u₁ itself — (19,6)×(18,6) → (38,12) products landed in (30,12)
    * (§4 r11 addition-cliff rule), still exact — and π₂ = v₂/k emits
    * through ONE mirrored double division each. States that are never
    * a transition TARGET drop out (sources only); mass entering
    * absorbing states leaves the reported vector — both documented,
    * deterministic on both engines. Everything past the one
    * user-window pass is ≤|types|²-row metadata.
    */
  def markovStationary(events: DataFrame): DataFrame = {
    val uo = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val fromW = Window.partitionBy("from_type")
    val p = events
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("to_type", lead(col("event_type"), 1).over(uo))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("from_type"), col("to_type"),
        quant6(col("n").cast("double") /
          sum(col("n")).over(fromW).cast("double") * 1000000.0).as("p6"))
    val u1 = p.groupBy(col("to_type"))
      .agg(sum(col("p6")).cast(DecimalType(28, 6)).as("u1"))
    val v2 = p
      .join(u1.select(col("to_type").as("from_type"), col("u1")), Seq("from_type"),
        "left")
      .withColumn("w",
        coalesce(col("u1"), lit(java.math.BigDecimal.ZERO)).cast(DecimalType(19, 6)))
      .groupBy(col("to_type"))
      .agg(sum((col("w") * col("p6")).cast(DecimalType(30, 12))).as("v2"))
    val k = events.agg(countDistinct(col("event_type")).cast("double").as("k"))
    u1.join(v2, Seq("to_type"))
      .crossJoin(k)
      .select(col("to_type").as("event_type"),
        (col("u1").cast("double") / col("k")).as("p1"),
        (col("v2").cast("double") / col("k")).as("p2"))
      .orderBy("event_type")
  }

  /** NEW r12b: session entry/exit census — per event type: how often
    * it opens a session, closes one, and is a single-event (bounce)
    * session, over 30-minute-gap user sessions (the landing/exit-page
    * report every product dashboard carries). Sessions come from a
    * per-user lag + gap-flag prefix sum (windows partition on the
    * high-cardinality user_id — the [[attribution]] posture); entry
    * and exit resolve via min_by/max_by on the zero-padded
    * (epoch_us, event_id) tie key (the ohlc discipline — duplicate
    * timestamps inside a user stream are real). The per-session table
    * collapses through two counter aggregations on the ≤|types| key
    * and one tiny full-outer join — pure integer outputs.
    */
  /** (user_id, event_id, ts, event_type, session_id) under the
    * `gapMinutes`-gap session definition — the per-user lag + flag
    * prefix sum shared by [[entryExit]] and [[sessionCooccurrence]]
    * (windows partition on the high-cardinality user_id).
    */
  private def userSessions(events: DataFrame, gapMinutes: Int): DataFrame = {
    val uo = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val gapUs = gapMinutes * 60L * 1000000L
    events
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(uo))
      .withColumn("is_new", when(col("prev_ts").isNull ||
        unix_micros(col("ts")) - unix_micros(col("prev_ts")) > gapUs, 1L)
        .otherwise(0L))
      .withColumn("session_id",
        sum(col("is_new")).over(uo.rowsBetween(Window.unboundedPreceding, 0)))
      .drop("prev_ts", "is_new")
  }

  /** NEW r12c: session co-occurrence matrix — for every event-type
    * pair (a < b): the number of user sessions containing BOTH, plus
    * the lift n_both·total/(n_a·n_b) (the "which features are used
    * together in one sitting" report — [[audienceOverlap]]'s
    * session-granularity sibling). ONE distinct (user, session, type)
    * projection feeds both self-join sides, the per-type counts, and
    * the session total (shared exchange, the basketPairs shape); the
    * join key (user, session) is high-cardinality and skew-free;
    * output is ≤|types|² rows. Lift converts each exact count to
    * double FIRST (no int64 product overflow at scale), then three
    * mirrored IEEE ops — RAW.
    */
  def sessionCooccurrence(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    // localCheckpoint: the three consumers (pair join, per-type counts,
    // session total) need DIFFERENT column subsets, so column pruning
    // rewrites each leg's subplan and ReusedExchange cannot fire —
    // without the checkpoint the user-window session pass would run
    // three times over raw events (audited). The materialized table is
    // sessions × types-per-session rows — far smaller than the events
    // it summarizes (the nearDupClusters lineage-truncation precedent).
    val st = userSessions(events, gapMinutes)
      .select(col("user_id"), col("session_id"), col("event_type"))
      .distinct()
      .localCheckpoint()
    val perType = st.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    val nSess = st.select(col("user_id"), col("session_id")).distinct()
      .agg(count(lit(1)).as("total"))
    st.as("a").join(st.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("a.session_id") === col("b.session_id") &&
          col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"),
        col("b.event_type").as("type_b"))
      .agg(count(lit(1)).as("n_both"))
      .join(perType.select(col("event_type").as("type_a"), col("n").as("n_a")),
        "type_a")
      .join(perType.select(col("event_type").as("type_b"), col("n").as("n_b")),
        "type_b")
      .crossJoin(nSess)
      .select(col("type_a"), col("type_b"), col("n_both"), col("n_a"),
        col("n_b"),
        (col("n_both").cast("double") * col("total").cast("double") /
          (col("n_a").cast("double") * col("n_b").cast("double"))).as("lift"))
      .orderBy("type_a", "type_b")
  }

  def entryExit(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val tk = MarketOps.tieKey
    val t = userSessions(events, gapMinutes)
    val sess = t.groupBy(col("user_id"), col("session_id"))
      .agg(min_by(col("event_type"), tk).as("entry_type"),
        max_by(col("event_type"), tk).as("exit_type"),
        count(lit(1)).as("n_events"))
    // each session emits an entry-role and an exit-role row, then ONE
    // counter aggregation — no full-outer join (a FULL OUTER can never
    // broadcast, and even a tiny SortMergeJoin is a needless stage);
    // structs are built in their own projection (generator+struct
    // aliases in one projection strips the field names — KMeans split)
    sess
      .select(array(
        struct(col("entry_type").as("event_type"),
          lit(1L).as("e"), lit(0L).as("x"),
          when(col("n_events") === 1, 1L).otherwise(0L).as("b")),
        struct(col("exit_type").as("event_type"),
          lit(0L).as("e"), lit(1L).as("x"), lit(0L).as("b"))).as("rs"))
      .select(explode(col("rs")).as("r"))
      .select(col("r.event_type").as("event_type"), col("r.e").as("e"),
        col("r.x").as("x"), col("r.b").as("b"))
      .groupBy(col("event_type"))
      .agg(sum(col("e")).cast("long").as("n_entries"),
        sum(col("x")).cast("long").as("n_exits"),
        sum(col("b")).cast("long").as("n_bounces"))
      .orderBy("event_type")
  }

  /** NEW r10: activity concentration (Gini coefficient) over per-user
    * event counts — the "how top-heavy is engagement" number every
    * growth dashboard carries. The global rank of every user by
    * activity uses the count-band scaffold (band = exact count value,
    * sub-band = hash bucket): ranks come from bounded
    * (count, sub-band) windows plus a tiny prefix-offset table — no
    * global sort of all users — and Σ rank·count is invariant to
    * tie order within a count so the oracle's simple ROW_NUMBER
    * matches exactly. Moments in DECIMAL(38,0) (overflow-proof), one
    * guarded ROUND(…,6) division.
    */
  def activityGini(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val d38 = DecimalType(38, 0)
    val u = events.groupBy(col("user_id")).agg(count(lit(1)).as("cnt"))
      .withColumn("sub", pmod(col("user_id"), lit(256L)))
    val bandW = Window.partitionBy("cnt", "sub").orderBy("user_id")
    val ranked0 = u.withColumn("rn", row_number().over(bandW).cast("long"))
    val counts = u.groupBy(col("cnt"), col("sub")).agg(count(lit(1)).as("c"))
    // tiny offsets table: |distinct counts| × 256 rows — the global
    // window is over metadata-scale data, never the user population
    val offW = Window.orderBy("cnt", "sub")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = counts
      .withColumn("off", coalesce(sum(col("c")).over(offW), lit(0L)))
      .select(col("cnt").as("c2"), col("sub").as("s2"), col("off"))
    val ranked = ranked0.join(offsets,
        ranked0("cnt") === offsets("c2") && ranked0("sub") === offsets("s2"))
      .select(col("cnt"), (col("off") + col("rn")).as("rk"))
    ranked.agg(
        count(lit(1)).as("n_users"),
        sum(col("cnt")).cast("long").as("total_events"),
        sum(col("rk").cast(d38) * col("cnt")).cast(d38).as("s1"))
      .select(col("n_users"), col("total_events"),
        when(col("total_events") =!= 0 && col("n_users") =!= 0,
          round((lit(2).cast(DecimalType(1, 0)) *
              col("s1").cast(DecimalType(37, 0)) -
              (col("n_users") + 1).cast(DecimalType(19, 0)) *
                col("total_events").cast(DecimalType(19, 0))).cast("double") /
            (col("n_users").cast(DecimalType(19, 0)) *
              col("total_events").cast(DecimalType(19, 0))).cast("double"), 6))
          .as("gini"))
  }

  /** NEW r11: time-to-conversion distribution — per converting user,
    * minutes from their FIRST view to their first purchase at-or-after
    * it, bucketed on the exact log2 grid (the bit-length trick — no
    * float log anywhere): how long the funnel actually takes, the
    * companion metric to [[funnel]]'s how-many. Two (user, min-ts)
    * aggregates on the user_id shuffle + integer bucketing.
    */
  def timeToConvert(events: DataFrame): DataFrame = {
    val v = events.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("t_view"))
    val p = events.filter(col("event_type") === "purchase")
      .join(v, "user_id").filter(col("ts") >= col("t_view"))
      .groupBy("user_id").agg(min("ts").as("t_purchase"), min("t_view").as("t_view2"))
    p.select(col("user_id"),
        ((unix_micros(col("t_purchase")) - unix_micros(col("t_view2")))
          .cast("long")).as("delta_us"))
      .select((length(bin(expr("delta_us div 60000000"))) - 1).cast("long")
        .as("min_bucket"))
      .groupBy(col("min_bucket"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy("min_bucket")
  }

  /** NEW r11: L28 engagement histogram — how many users were active
    * on exactly d of the trailing 28 days (relative to the corpus max
    * day): the engagement-depth curve behind DAU/MAU stickiness. One
    * (user, day) dedup shuffle, a broadcast single-row max-day anchor,
    * then counter-only rollups.
    */
  def engagementL28(events: DataFrame): DataFrame = {
    val anchor = events.agg(max(to_date(col("ts"))).as("max_day"))
    val days = events.select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    days.crossJoin(broadcast(anchor))
      .filter(datediff(col("max_day"), col("day")) < 28)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("days_active"))
      .groupBy(col("days_active"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy("days_active")
  }

  /** NEW r11: windowed funnel — the [[funnel]] stages constrained to
    * complete within `windowMinutes` of the user's FIRST view
    * (ClickHouse-windowFunnel-style depth, greedy-from-first-view
    * semantics, documented and mirrored): depth 3 = purchased in
    * window, 2 = clicked in window, 1 = viewed only. Exact integer
    * epoch-µs comparisons; same staged min-aggregate shape as funnel.
    */
  def windowFunnel(events: DataFrame, windowMinutes: Long = 60L): DataFrame = {
    val winUs = windowMinutes * 60L * 1000000L
    // r19: same single-scan/single-shuffle rewrite as [[funnel]] (was
    // 4 scans + 2 left joins): [[funnelTimes]] yields the staged
    // timestamps per user; users with no view (NULL t_view) drop out,
    // matching the old v-anchored left-join base. Exact integer
    // epoch-µs comparisons unchanged, oracle hash unchanged.
    funnelTimes(events)
      .groupBy("user_id")
      .agg(max("t_view").as("t_view"), max("t_click").as("t_click"),
        max("t_purchase").as("t_purchase"))
      .filter(col("t_view").isNotNull)
      .select(col("user_id"),
        when(col("t_purchase").isNotNull &&
          unix_micros(col("t_purchase")) - unix_micros(col("t_view")) <= winUs, 3L)
          .when(col("t_click").isNotNull &&
            unix_micros(col("t_click")) - unix_micros(col("t_view")) <= winUs, 2L)
          .otherwise(1L).as("depth"))
      .groupBy(col("depth"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy("depth")
  }

  /** NEW r12: event-volume anomaly days — per event type, days whose
    * count sits ≥ `zMin` sample stddevs from the TRAILING 7-day
    * mean (current day excluded, full trailing weeks only): the
    * monitoring query every feed operator runs. Counts are integers,
    * squares go through DECIMAL(18,0)² (long² would overflow under
    * ANSI on 100 TB day counts), z is a mirrored IEEE chain with
    * stddev-class ROUND(…,4)+0.0; the filter compares the ROUNDED z
    * so the row set is engine-deterministic.
    */
  def anomalyDays(events: DataFrame, zMin: Double = 2.0): DataFrame = {
    val daily = events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n_events"))
    val w = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(-7, -1)
    val t = daily
      .withColumn("cnt7", count(lit(1)).over(w))
      .withColumn("s", sum(col("n_events")).over(w))
      .withColumn("sq", sum((col("n_events").cast(DecimalType(18, 0)) *
        col("n_events").cast(DecimalType(18, 0))).cast(DecimalType(37, 0)))
        .over(w))
      .filter(col("cnt7") === 7)
    val n = lit(7.0)
    val sd = col("sd")
    t.withColumn("mean", col("s").cast("double") / n)
      .withColumn("va",
        (col("sq").cast("double") - col("s").cast("double") *
          col("s").cast("double") / n) / (n - lit(1.0)))
      .withColumn("sd", sqrt(when(col("va") > 0.0, col("va")).otherwise(lit(0.0))))
      .withColumn("z", when(sd > 0.0,
        round((col("n_events").cast("double") - col("mean")) / sd, 4)
          + lit(0.0)))
      .filter(col("z").isNotNull && abs(col("z")) >= zMin)
      .select(col("event_type"), col("day"), col("n_events"), col("z"))
      .orderBy("event_type", "day")
  }

  /** NEW r12: growth accounting — per day, how many active users are
    * brand NEW (their first-ever event is that day) vs returning: the
    * new/returning split behind every growth dashboard. Two counter
    * shuffles on user_id ((user, first day) + per-day (user) dedup),
    * then day-level counters; the share is one ROUND(…,4) division.
    */
  def newVsReturning(events: DataFrame): DataFrame = {
    val firstDay = events.groupBy(col("user_id"))
      .agg(min(to_date(col("ts"))).as("first_day"))
    val daily = events.select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    daily.join(firstDay, "user_id")
      .groupBy(col("day"))
      .agg(count(lit(1)).as("dau"),
        sum(when(col("first_day") === col("day"), 1L).otherwise(0L))
          .as("new_users"))
      .select(col("day"), col("dau"), col("new_users"),
        (col("dau") - col("new_users")).as("returning"),
        round(col("new_users").cast("double") / col("dau").cast("double"), 4)
          .as("new_share"))
      .orderBy("day")
  }

  /** NEW r12: audience overlap matrix — Jaccard similarity of the
    * distinct-user bases of every event-type pair (the feature-
    * adoption overlap report). ONE distinct (type, user) projection
    * feeds both self-join sides (shared exchange, the basketPairs
    * shape) and the per-type sizes; user_id is the high-cardinality
    * join key so the shuffle is skew-free, and the pair table is
    * |types|² rows. Jaccard = one ROUND(…,4) division of exact
    * counts.
    */
  def audienceOverlap(events: DataFrame): DataFrame = {
    val du = events.select(col("event_type"), col("user_id")).distinct()
    val sizes = du.groupBy(col("event_type")).agg(count(lit(1)).as("n_users"))
    val inter = du.as("a").join(du.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"),
        col("b.event_type").as("type_b"))
      .agg(count(lit(1)).as("n_both"))
    inter
      .join(sizes.select(col("event_type").as("type_a"),
        col("n_users").as("users_a")), "type_a")
      .join(sizes.select(col("event_type").as("type_b"),
        col("n_users").as("users_b")), "type_b")
      .select(col("type_a"), col("type_b"), col("users_a"), col("users_b"),
        col("n_both"),
        round(col("n_both").cast("double") /
          (col("users_a") + col("users_b") - col("n_both")).cast("double"), 4)
          .as("jaccard"))
      .orderBy("type_a", "type_b")
  }

  /** NEW r13: DAU growth accounting — per day, active users decomposed
    * into new (first day ever), retained (also active the previous
    * calendar day), and resurrected (seen before, but not yesterday);
    * churned(d) = active(d−1) − retained(d) (the users who were there
    * yesterday and are not today — the growth-accounting identity).
    * All integers: ONE (user, day) dedup shuffle, a per-user lag
    * window (high-cardinality key), a per-day counter aggregate, and
    * a lag over the metadata-scale day table (previous CALENDAR day
    * only — a silent gap day means active(d−1) = 0).
    */
  def growthAccounting(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("day")
    val flags = events.select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
      .withColumn("prev", lag(col("day"), 1).over(w))
      .select(col("day"),
        when(col("prev").isNull, 1L).otherwise(0L).as("is_new"),
        when(col("prev").isNotNull &&
          datediff(col("day"), col("prev")) === 1, 1L).otherwise(0L)
          .as("is_ret"),
        when(col("prev").isNotNull &&
          datediff(col("day"), col("prev")) > 1, 1L).otherwise(0L)
          .as("is_res"))
    val daily = flags.groupBy(col("day"))
      .agg(count(lit(1)).as("active"),
        sum(col("is_new")).cast("long").as("new_users"),
        sum(col("is_ret")).cast("long").as("retained"),
        sum(col("is_res")).cast("long").as("resurrected"))
    // day-level series: metadata scale at any corpus size
    val dw = Window.orderBy("day")
    daily
      .withColumn("prev_active",
        when(datediff(col("day"), lag(col("day"), 1).over(dw)) === 1,
          lag(col("active"), 1).over(dw)).otherwise(lit(0L)))
      .select(col("day"), col("active"), col("new_users"), col("retained"),
        col("resurrected"),
        (col("prev_active") - col("retained")).as("churned"))
      .orderBy("day")
  }

  /** NEW r14: U-shaped (position-based) attribution — 40% of a
    * conversion's credit to the FIRST touch, 40% to the LAST, the
    * middle 20% split evenly; single-touch paths get 1.0, two-touch
    * paths 0.5/0.5 (the standard position-based model beside
    * [[attribution]]'s last-touch). Path = all events strictly before
    * the user's FIRST purchase (rows before the first purchase are
    * non-purchase by construction). Per-touch credits are quant6'd
    * (the 0.2/(k−2) middle share is the only true division — mirrored
    * IEEE, then the shared FLOOR/CEIL quantization) and exact-decimal
    * summed per touch type. Windows partition on the high-cardinality
    * user_id; the final aggregate moves ≤|types| counter rows.
    */
  def attributionUShape(events: DataFrame): DataFrame = {
    val uo = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val t = events.select(col("user_id"), col("event_id"), col("ts"),
        col("event_type"))
      .withColumn("rn", row_number().over(uo).cast("long"))
    val firstPurchase = t.filter(col("event_type") === "purchase")
      .groupBy(col("user_id")).agg(min(col("rn")).as("p_rn"))
    val touches = t.join(firstPurchase, "user_id")
      .filter(col("rn") < col("p_rn"))
    val k = count(lit(1)).over(Window.partitionBy("user_id"))
    val withK = touches
      .withColumn("k", k)
      .withColumn("r2", row_number().over(uo).cast("long"))
    val credit = when(col("k") === 1, lit(1.0))
      .when(col("k") === 2, lit(0.5))
      .when(col("r2") === 1 || col("r2") === col("k"), lit(0.4))
      .otherwise(lit(0.2) / (col("k") - 2).cast("double"))
    withK.select(col("event_type").as("touch_type"),
        quant6(credit * 1000000.0).as("qc"))
      .groupBy(col("touch_type"))
      .agg(count(lit(1)).as("n_touches"),
        sum(col("qc")).cast("double").as("credit"))
      .orderBy("touch_type")
  }

  /** NEW r14: user-lifespan census — the distribution of
    * (last active day − first active day) per user, the
    * engagement-longevity histogram beside [[rfm]]'s recency (a
    * product where most lifespans are 0 days is acquisition-driven;
    * lengthening lifespans mean retention compounding). One
    * (user → min/max day) aggregate on the high-cardinality key,
    * then a bounded day-count histogram — all integers.
    */
  def lifespanHist(events: DataFrame): DataFrame =
    events.select(col("user_id"), to_date(col("ts")).as("day"))
      .groupBy(col("user_id"))
      .agg(min(col("day")).as("first_day"), max(col("day")).as("last_day"))
      .select(datediff(col("last_day"), col("first_day")).cast("long")
        .as("lifespan_days"))
      .groupBy(col("lifespan_days"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy("lifespan_days")

  /** NEW r14: product stickiness — the daily DAU/MAU ratio (the
    * "how habitual is usage" headline metric next to [[activeUsers]]'
    * raw counts; 0.2 is the folk threshold for a daily-habit product).
    * Same (day, user) dedup + calendar-month distinct counts as
    * activeUsers; the ratio is ONE RAW division of exact integers.
    * All keys are day/month — counter rows, metadata scale.
    */
  def stickiness(events: DataFrame): DataFrame = {
    val d = events.select(to_date(col("ts")).as("day"), col("user_id"))
    val dau = d.distinct().groupBy("day").agg(count(lit(1)).as("dau"))
    val mau = d.withColumn("month", date_trunc("month", col("day")).cast("date"))
      .select("month", "user_id").distinct()
      .groupBy("month").agg(count(lit(1)).as("mau"))
    dau.withColumn("month", date_trunc("month", col("day")).cast("date"))
      .join(mau, "month")
      .select(col("day"), col("dau"), col("mau"),
        (col("dau").cast("double") / col("mau").cast("double"))
          .as("stickiness"))
      .orderBy("day")
  }
}
