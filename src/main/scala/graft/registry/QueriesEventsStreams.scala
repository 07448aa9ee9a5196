package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.Shape
import graft.engine.Tables._
import graft.functions.TextFunctions._
import graft.operators.Relational

import graft.QueryShared._

/** EventsStreams query registry — event-time analytics: sessions, funnels, cohorts, time series (batch twins of the streaming surface).
  * Split verbatim from SparkEntry (round 12): every entry is the
  * original closure/SQL, unchanged; SparkEntry concatenates the
  * family maps back into the driver contract.
  */
private[graft] object QueriesEventsStreams {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q80_funnel" -> ((s, d) => {
      // funnel conversion: users whose first view precedes their first
      // click precedes their first purchase — one conditional-min agg
      // per user, then one global rollup (no joins, no window)
      val perUser = events(s, d)
        .groupBy("user_id")
        .agg(
          min(when(col("event_type") === "view", col("ts"))).as("t_view"),
          min(when(col("event_type") === "click", col("ts"))).as("t_click"),
          min(when(col("event_type") === "purchase", col("ts"))).as("t_buy"))
      perUser.agg(
        count(lit(1)).as("n_users"),
        sum(when(col("t_view").isNotNull, 1L).otherwise(0L)).as("n_viewed"),
        sum(when(col("t_view") < col("t_click"), 1L).otherwise(0L)).as("n_view_click"),
        sum(when(col("t_view") < col("t_click") && col("t_click") < col("t_buy"), 1L)
          .otherwise(0L)).as("n_full_funnel"))
    }),

    // --- event-time operators (batch twins of the streaming surface) ---

    "q22_sessionize" -> ((s, d) => {
      Relational.sessionize(events(s, d), "user_id", "ts", 1800L)
        .select(col("user_id"), col("session_seq"),
          fmtTs(col("session_start")).as("session_start"),
          fmtTs(col("session_end")).as("session_end"), col("n_events"))
        .orderBy("user_id", "session_seq")
    }),

    // session_window twin of q22: same sessions from the built-in API
    // (the one the streaming path uses); end is last-event + gap per
    // session_window semantics, which the oracle mirrors with + INTERVAL.
    "q83_sessionize_sw" -> ((s, d) =>
      Relational.sessionizeSW(events(s, d), "user_id", "ts", 1800L)
        .select(col("user_id"),
          fmtTs(col("session_start")).as("session_start"),
          fmtTs(col("session_end")).as("session_end"), col("n_events"))
        .orderBy("user_id", "session_start")),

    "q23_window_tumbling" -> ((s, d) => {
      events(s, d)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("value_c"))
        .select(fmtTs(col("window.start")).as("window_start"), col("event_type"),
          col("n"), col("value_c"))
        .orderBy("window_start", "event_type")
    }),

    "q24_window_sliding" -> ((s, d) => {
      events(s, d)
        .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(fmtTs(col("window.start")).as("window_start"), col("event_type"), col("n"))
        .orderBy("window_start", "event_type")
    }),

    "q109_locf_gapfill" -> ((s, d) => {
      // gap-fill + last-observation-carried-forward per series key: the
      // classic time-series densify (q94's spine, per key, with LOCF
      // instead of zero-fill). The LOCF window partitions by the 5-value
      // priority — but its INPUT is the (priority x spine) grid, bounded
      // by the date domain (450 rows here, ~5x days at any corpus
      // size), so the low-cardinality key is safe per the
      // trailingRangeSum doctrine; the fact table only feeds the tiny
      // per-(priority, day) aggregate.
      val daily = orders(s, d)
        .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1995-04-01").cast("timestamp"))
        .groupBy(col("o_orderpriority"), to_date(col("o_orderdate")).as("day"))
        .agg(sum(cents(col("o_totalprice"))).as("rev_c"))
      val spine = s.range(1).select(explode(sequence(
        to_date(lit("1995-01-01")), to_date(lit("1995-03-31")))).as("day"))
      val keys = orders(s, d).select(col("o_orderpriority")).distinct()
      val grid = keys.crossJoin(broadcast(spine))
      val w = Window.partitionBy("o_orderpriority").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(daily, Seq("o_orderpriority", "day"), "left")
        .withColumn("rev_locf_c",
          coalesce(last(col("rev_c"), ignoreNulls = true).over(w), lit(0L)))
        .withColumn("is_observed", col("rev_c").isNotNull)
        .select(col("o_orderpriority"),
          date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("rev_locf_c"), col("is_observed"))
        .orderBy("o_orderpriority", "day")
    }),

    "q112_ewma" -> ((s, d) => {
      // Trailing EWMA (alpha=1/4, span=8) of purchase value per user —
      // the time-series smoother q109's gap-fill feeds. Fixed-point over
      // milli-cents: the integer fold is bit-reproducible across engines
      // where the double fold ties at 4-decimal midpoints
      // (Relational.ewmaTrailing scaladoc); the key is user_id (domain
      // grows with the corpus, no q60-style low-cardinality funnel).
      val ev = events(s, d)
        .filter(col("event_type") === "purchase" && col("value").isNotNull)
        .withColumn("v_mc", cents(col("value")) * 1000L)
      Relational.ewmaTrailing(ev, "user_id",
          Seq(col("ts"), col("event_id")), "v_mc",
          alphaNum = 1L, alphaDen = 4L, span = 8)
        .select(col("user_id"), col("event_id"), fmtTs(col("ts")).as("ts_s"),
          col("v_mc"), col("ewma").as("ewma_mc"))
        .orderBy("user_id", "event_id")
    }),

    "q175_cohort_retention" -> ((s, d) =>
      // Product-analytics retention triangle: users cohorted by first
      // active ISO week, (cohort, offset) active counts + ppm ratio —
      // all user-key-partitioned aggs (Relational.cohortRetention
      // scaladoc).
      Relational.cohortRetention(events(s, d), "user_id", "ts")
        .orderBy("cohort_week", "offset_w")),

    "q177_autocorr_daily" -> ((s, d) => {
      // Lag-1 autocorrelation of each event type's daily spend series:
      // integer-cent day sums -> exact Long moment sums -> one IEEE
      // double ratio per group (Relational.autocorrLag1 scaladoc on why
      // this is bit-reproducible cross-engine).
      val daily = events(s, d).filter(col("value").isNotNull)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(sum(cents(col("value"))).as("v_c"))
      Relational.autocorrLag1(daily, "event_type", "day", "v_c")
        .orderBy("grp")
    }),

    "q180_attribution" -> ((s, d) => {
      // Last-touch attribution: each purchase credits the most recent
      // non-purchase event of the same user within a 24 h lookback —
      // the merge-form as-of join (no pair fan-out), then a 4-row
      // channel rollup with exact ppm shares.
      val ev = events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val touches = ev.filter(col("event_type") =!= "purchase")
        .select(col("event_id").as("t_id"), col("user_id").as("t_user"),
          col("ts").as("t_ts"), col("event_type").as("channel"))
      val attributed = Relational.asOfJoinMergeDirected(purchases, touches,
        "user_id", "t_user", "ts", "t_ts", "t_id", forward = false,
        toleranceSeconds = 86400L)
      val counts = attributed.groupBy("channel")
        .agg(count(lit(1)).as("n_purchases"))
      counts
        .crossJoin(broadcast(counts.agg(sum("n_purchases").as("n_total"))))
        .select(col("channel"), col("n_purchases").cast("long").as("n_purchases"),
          expr("n_purchases * 1000000 div n_total").as("share_ppm"))
        .orderBy("channel")
    }),

    "q181_markov_transitions" -> ((s, d) => {
      // Event-sequence Markov transition matrix: per-user ordered lag
      // pairs, (from, to) counts, row-normalized in exact ppm. State is
      // bounded by the |type|^2 domain; the window partitions by user.
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val tr = events(s, d)
        .withColumn("prev", lag(col("event_type"), 1).over(w))
        .filter(col("prev").isNotNull)
        .groupBy(col("prev").as("from_type"), col("event_type").as("to_type"))
        .agg(count(lit(1)).as("n"))
      val tot = tr.groupBy("from_type").agg(sum("n").as("n_from"))
      tr.join(broadcast(tot), Seq("from_type"))
        .select(col("from_type"), col("to_type"), col("n").cast("long").as("n"),
          expr("n * 1000000 div n_from").as("p_ppm"))
        .orderBy("from_type", "to_type")
    }),

    "q268_path_trigrams" -> ((s, d) => {
      // Sequential-pattern mining one order up from q181's bigram
      // transitions: the top-20 event-type TRIGRAM paths across
      // per-user time-ordered sequences (the PrefixSpan-lite readout a
      // product team uses to see the actual journeys, not just the
      // one-step matrix). Window state is per-user bounded; the agg
      // domain is |type|^3; top-20 is a deterministic
      // count-desc-then-path-asc sort over that bounded table, with
      // each path's corpus share in exact ppm.
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val tri = events(s, d)
        .withColumn("t2", lead(col("event_type"), 1).over(w))
        .withColumn("t3", lead(col("event_type"), 2).over(w))
        .filter(col("t2").isNotNull && col("t3").isNotNull)
        .groupBy(col("event_type").as("s1"), col("t2").as("s2"),
          col("t3").as("s3"))
        .agg(count(lit(1)).as("n"))
      tri.crossJoin(broadcast(tri.agg(sum("n").as("n_total"))))
        .select(col("s1"), col("s2"), col("s3"),
          col("n").cast("long").as("n"),
          expr("n * 1000000 div n_total").as("share_ppm"))
        .orderBy(col("n").desc, col("s1"), col("s2"), col("s3"))
        .limit(20)
    }),

    "q186_changepoint" -> ((s, d) => {
      // At-most-one mean-shift detection per user over the daily spend
      // series: exact integer CUSUM statistic, argmax split point,
      // ties to the earliest day (Relational.meanShiftCut scaladoc).
      val daily = events(s, d).groupBy(col("user_id"),
          to_date(col("ts")).as("day"))
        .agg(sum(cents(col("value"))).as("v_c"))
      Relational.meanShiftCut(daily, "user_id", "day", "v_c",
          minDays = ChangepointMinDays)
        .select(col("grp").as("user_id"), col("n_days"),
          date_format(col("cut_day"), "yyyy-MM-dd").as("cut_day"),
          col("score"))
        .orderBy("user_id")
    }),

    "q195_gapfill_interp" -> ((s, d) => {
      // Linear-interpolation gap fill over per-user daily spend (the
      // interpolating complement of q109's LOCF): interior calendar
      // gaps get the exact integer line between their observed
      // anchors; one window exchange, map-side explode
      // (Relational.gapFillInterpolate scaladoc).
      val daily = events(s, d).groupBy(col("user_id"),
          to_date(col("ts")).as("day"))
        .agg(sum(cents(col("value"))).as("v_c"))
        .select(col("user_id"),
          datediff(col("day"), lit("1970-01-01")).cast("long").as("x"),
          col("v_c"))
      Relational.gapFillInterpolate(daily, "user_id", "x", "v_c")
        .select(col("k").as("user_id"), col("x").as("day_num"),
          col("v").as("v_c"), col("kind"))
        .orderBy("user_id", "day_num")
    }),

    "q228_event_paths" -> ((s, d) => {
      // Top-20 user-journey trigrams (path mining — the product-
      // analytics complement of q181's Markov matrix): per user the
      // event sequence orders by (ts, event_id), two leads share ONE
      // user-key window exchange, and the trigram agg is bounded by
      // |event type|^3 keys no matter the corpus; top-20 with full
      // deterministic tie order (n desc, then the trigram).
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type").as("t1"))
        .withColumn("t2", lead("t1", 1).over(w))
        .withColumn("t3", lead("t1", 2).over(w))
        .filter(col("t3").isNotNull)
        .groupBy("t1", "t2", "t3")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("t1"), col("t2"), col("t3"))
        .limit(20)
    }),

    "q241_funnel" -> ((s, d) =>
      // Ordered-funnel conversion over the event stream: users
      // progressing signup -> view -> click -> purchase as a strictly
      // time-increasing subsequence, with per-stage conversion in
      // exact ppm. Greedy-earliest min-agg per stage — one hash
      // exchange on user_id per stage, partitioning reused across the
      // stage joins, never a per-user event buffer
      // (Relational.funnelStages scaladoc).
      Relational.funnelStages(events(s, d), "user_id", "ts",
        "event_type", FunnelStages)),

    "q246_gap_fill" -> ((s, d) => {
      // Time-series regularization: each user's sparse event stream
      // becomes a dense daily series via last-observation-carried-
      // forward, then rolls up to "total carried value per day" —
      // the state-as-of-day-D series a metrics warehouse serves.
      // Daily close = struct-max argmax per (user, day); the grid and
      // LOCF window are bounded by the DATE domain per user, never by
      // event volume (Relational.gapFillLocf scaladoc).
      val ev = events(s, d).select(col("user_id"),
        to_date(col("ts")).as("day"), col("ts"), col("event_id"),
        cents(col("value")).as("value_c"))
      val closes = ev.groupBy("user_id", "day")
        .agg(max(struct(col("ts"), col("event_id"), col("value_c"))).as("m"))
        .select(col("user_id"), col("day"), col("m.value_c").as("value_c"))
      Relational.gapFillLocf(closes, "user_id", "day", "value_c")
        .groupBy("day")
        .agg(count(lit(1)).as("n_users"), sum("filled").as("sum_value_c"))
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("n_users"), col("sum_value_c"))
        .orderBy("day")
    }),

    "q249_retention_cohorts" -> ((s, d) => {
      // Retention cohort triangle: users grouped by signup day, and
      // for each day-offset k the share still active k days later —
      // the growth-accounting matrix every product warehouse serves.
      // Cohort = each user's FIRST signup day (one agg); activity =
      // distinct (user, day) over all events (one agg); one
      // co-partitioned join on user, then a (cohort, k) count agg.
      // Matrix size is bounded by the date domain squared, never by
      // user or event volume.
      val ev = events(s, d)
      val cohort = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id"))
        .agg(min(to_date(col("ts"))).as("cohort_day"))
      val active = ev.select(col("user_id"), to_date(col("ts")).as("day"))
        .distinct()
      val sizes = cohort.groupBy("cohort_day")
        .agg(count(lit(1)).as("n_cohort"))
      cohort.join(active, "user_id")
        .filter(col("day") >= col("cohort_day"))
        .select(col("cohort_day"), datediff(col("day"), col("cohort_day")).as("k"))
        .groupBy("cohort_day", "k")
        .agg(count(lit(1)).as("n_active"))
        .join(sizes, "cohort_day")
        .select(date_format(col("cohort_day"), "yyyy-MM-dd").as("cohort_day"),
          col("k").cast("long").as("k"), col("n_active"), col("n_cohort"),
          expr("n_active * 1000000 div n_cohort").as("retained_ppm"))
        .orderBy("cohort_day", "k")
    }),

    "q250_activity_streaks" -> ((s, d) => {
      // Islands-and-gaps: consecutive-day activity streaks per user
      // via the classic (day_number − row_number) island key, rolled
      // up to the streak-length distribution (islands of that length,
      // and users whose LONGEST streak is that length). The per-user
      // window runs over DISTINCT active days — bounded by the date
      // domain, never event volume; the rollups are date-domain-sized
      // aggs.
      val active = events(s, d)
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      val w = Window.partitionBy("user_id").orderBy("day")
      val islands = active
        .withColumn("g",
          datediff(col("day"), lit("1990-01-01").cast("date"))
            - row_number().over(w))
        .groupBy("user_id", "g").agg(count(lit(1)).as("len"))
      val perIsland = islands.groupBy("len")
        .agg(count(lit(1)).as("n_islands"))
      val perUserMax = islands.groupBy("user_id")
        .agg(max(col("len")).as("len"))
        .groupBy("len").agg(count(lit(1)).as("n_users_max"))
      perIsland.join(perUserMax, Seq("len"), "full_outer")
        .select(col("len").as("streak_len"),
          coalesce(col("n_islands"), lit(0L)).as("n_islands"),
          coalesce(col("n_users_max"), lit(0L)).as("n_users_max"))
        .orderBy("streak_len")
    }),

    "q251_time_in_state" -> ((s, d) => {
      // TIME-WEIGHTED state accounting over the q160/q239 SCD2
      // validity intervals: microseconds each user spends in each
      // state (latest non-purchase event type), open intervals capped
      // at the corpus horizon, with each state's share of total held
      // time in ppm. Duration sums are additive over the collapse, so
      // the oracle can replay on RAW per-event intervals while the
      // engine aggregates the collapsed history — interval counts
      // check the collapse itself. The window is per-user; every
      // rollup is a state-domain-sized agg. share divides by
      // (grand div 1e6), the canonical order that cannot overflow at
      // any corpus size.
      Relational.timeInState(
        events(s, d).filter(col("event_type") =!= "purchase"),
        "user_id", "ts", "event_type", "event_id")
    }),

    "q253_decayed_leaderboard" -> ((s, d) => {
      // Trending leaderboard with a one-week half-life, decay as an
      // INTEGER right-shift (count >> age_weeks) so both engines agree
      // bit-for-bit where an exponential float decay never would.
      // Daily counts are one agg; the per-user score is a second agg
      // over date-domain-bounded rows; top-20 is a TakeOrdered.
      val daily = events(s, d)
        .groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("c"))
      val horizon = daily.agg(max(col("day"))).head().getDate(0)
      daily
        .withColumn("age_w",
          (datediff(lit(horizon), col("day")) / 7).cast("int"))
        .groupBy("user_id")
        // Clamp the shift at 63: JVM long shifts mask the count mod
        // 64, so an unclamped >= 64-week age would silently STOP
        // decaying (c >> 64 == c); at 63 any positive count is 0.
        .agg(sum(expr("shiftright(c, least(age_w, 63))")).as("score"),
          sum("c").as("n_events"))
        .orderBy(col("score").desc, col("user_id").asc)
        .limit(20)
    }),

    "q255_interarrival_hist" -> ((s, d) => {
      // Inter-arrival latency distribution per event type: the gap to
      // each user's NEXT event of the same type, bucketed on
      // floor(log2(seconds)) — the log-scale latency histogram a
      // monitoring stack draws, in pure integer bit arithmetic
      // (length(bin(x)), the q232 rho trick; no float log). One
      // per-user window (lead), then a (type, bucket) count agg
      // bounded by |types| × 64 buckets.
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy(col("ts"), col("event_id"))
      events(s, d)
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
        .withColumn("nxt", lead(unix_micros(col("ts")), 1).over(w))
        .filter(col("nxt").isNotNull)
        .withColumn("gap_s", expr("(nxt - unix_micros(ts)) div 1000000"))
        .withColumn("bucket",
          when(col("gap_s") <= 0L, lit(0L))
            .otherwise(length(bin(col("gap_s"))).cast("long")))
        .groupBy("event_type", "bucket")
        .agg(count(lit(1)).as("n"))
        .orderBy("event_type", "bucket")
    }),

    "q270_revenue_concentration" -> ((s, d) => {
      // Lorenz-style concentration curve: per-user purchase revenue
      // bucketed on floor(log2(cents)) (q255's bit trick — no float
      // log), then cumulative-from-the-top user and revenue shares in
      // exact ppm: the "what share of revenue do the top spenders
      // carry" monitor. Scale: one user-keyed agg, then BOTH windows
      // (cumulative + total) run over the ≤64-row bucket domain — the
      // curve never sorts |users|, unlike an ntile/percentile cut.
      val perUser = events(s, d)
        .filter(col("event_type") === "purchase" && col("value").isNotNull)
        .groupBy("user_id").agg(sum(cents(col("value"))).as("v"))
        .filter(col("v") > 0L)
      val b = perUser
        .withColumn("bucket", length(bin(col("v"))).cast("long"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_users"), sum("v").as("rev_c"))
      val wTop = Window.orderBy(col("bucket").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      b.withColumn("cum_users", sum("n_users").over(wTop))
        .withColumn("cum_rev", sum("rev_c").over(wTop))
        .withColumn("t_users", sum("n_users").over(wAll))
        .withColumn("t_rev", sum("rev_c").over(wAll))
        .select(col("bucket"), col("n_users").cast("long").as("n_users"),
          col("rev_c").cast("long").as("rev_c"),
          col("cum_users").cast("long").as("cum_users"),
          col("cum_rev").cast("long").as("cum_rev"),
          expr("cum_users * 1000000 div t_users").as("user_share_ppm"),
          expr("cum_rev * 1000000 div t_rev").as("rev_share_ppm"))
        .orderBy(col("bucket").desc)
    }),
    "q257_windowed_funnel" -> ((s, d) =>
      // Conversion-DEADLINE funnel: each stage within 7 days of the
      // step it extends. Greedy-earliest (q241's shape) is provably
      // insufficient under deadlines, so every stage carries its full
      // reachable-timestamp closure — user-key joins with the band
      // predicate inside the hash join, exchanges reused stage to
      // stage (Relational.funnelStagesWindowed scaladoc + spec
      // counterexample).
      Relational.funnelStagesWindowed(events(s, d), "user_id", "ts",
        "event_type", FunnelStages, windowUs = FunnelWindowUs)),

    "q258_ab_readout" -> ((s, d) =>
      // Deterministic A/B experiment readout: users assigned to arms
      // by an md5 coin (the same salt-keyed assignment a real
      // experiment platform persists — restart-stable, no RNG), per
      // arm the exposed-user count, converters (any purchase),
      // conversion in exact ppm, and revenue. Two user-keyed aggs and
      // a 2-row rollup; assignment is a map-side expression, so the
      // readout costs one pass at any corpus size.
      events(s, d)
        .groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("converted"),
          sum(when(col("event_type") === "purchase",
            cents(col("value"))).otherwise(0L)).as("value_c"))
        .withColumn("arm",
          when(pmod(tokenHash64(concat(lit("ab_"),
            col("user_id").cast("string"))), lit(2L)) === 0L, "control")
            .otherwise("treatment"))
        .groupBy("arm")
        .agg(count(lit(1)).as("n_users"),
          sum("converted").as("n_converted"),
          sum("value_c").as("sum_value_c"))
        .withColumn("conv_ppm",
          expr("n_converted * 1000000 div n_users"))
        .orderBy("arm")),

    "q260_kaplan_meier" -> ((s, d) => {
      // Survival analysis: the Kaplan-Meier estimator over
      // time-to-first-purchase after signup, with users who never
      // purchase RIGHT-CENSORED at the corpus horizon — the
      // time-to-event curve a growth team reads. Survival is the
      // running integer product S ← S·(n−d) div n in ppm (one floor
      // per step, replayed by the oracle's recursive CTE — no float
      // product to cross engines). Durations are two user-keyed aggs;
      // the day table is date-domain bounded (≤ a few thousand rows at
      // any SF), so the risk-set suffix sums and the product fold are
      // the documented bounded-driver class.
      val ev = events(s, d)
      val su = ev.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min(to_date(col("ts"))).as("s_day"))
      val pu = ev.filter(col("event_type") === "purchase")
        .groupBy("user_id").agg(min(to_date(col("ts"))).as("p_day"))
      val horizon = ev.agg(max(to_date(col("ts")))).head().getDate(0)
      val dur = su.join(pu, Seq("user_id"), "left")
        .select(
          when(col("p_day").isNotNull && col("p_day") >= col("s_day"),
            datediff(col("p_day"), col("s_day")))
            .otherwise(datediff(lit(horizon), col("s_day"))).as("t"),
          (col("p_day").isNotNull && col("p_day") >= col("s_day"))
            .cast("long").as("is_event"))
      Relational.kaplanMeier(dur, "t", "is_event")
    }),

    "q261_seasonal_baseline" -> ((s, d) => {
      // Forecast-baseline evaluation: the seasonal-naive predictor
      // (next value = same weekday last week) scored against the
      // actual daily revenue, absolute percentage error in exact ppm
      // per day — the baseline every forecasting model must beat, and
      // the first question a metrics team asks of a series. One
      // date-domain-bounded agg, a 7-day self-join on the day grid
      // (lag-7 via join, not a global window), and an overall
      // lower-median error row rides along (rank ⌈n/2⌉, the q247
      // exact-integer convention).
      val daily = events(s, d).filter(col("event_type") === "purchase")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(sum(cents(col("value"))).as("total_c"))
      val scored = daily.alias("a")
        .join(daily.select(col("day").as("pd"), col("total_c").as("pred_c")),
          col("pd") === date_sub(col("day"), 7))
        .select(col("day"), col("total_c"), col("pred_c"),
          expr("abs(total_c - pred_c) * 1000000 div total_c").as("ape_ppm"))
      val n = scored.count()
      val med = scored.select(col("ape_ppm"))
        .orderBy(col("ape_ppm").asc).limit(((n + 1) / 2).toInt)
        .orderBy(col("ape_ppm").desc).limit(1).head().getLong(0)
      scored
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("total_c"), col("pred_c"), col("ape_ppm"),
          lit(med).as("median_ape_ppm"))
        .orderBy("day")
    }),

    "q294_cuped_readout" -> ((s, d) => {
      // CUPED variance-reduced A/B readout (Deng et al. 2013) — the
      // adjustment every experimentation platform applies before
      // q258/q264: per-user PRE-period spend (days 1-15) explains
      // post-period variance, θ = cov(pre,post)/var(pre) from POOLED
      // exact integer moments, and the arm means adjust as ȳ_arm −
      // θ·(x̄_arm − x̄_all) — arm-LEVEL means only, no per-row
      // adjustment pass. Dollars (cents div 100, nonneg) keep the
      // moment products inside a signed 64-bit at 100× this fixture;
      // θ in ppm via the overflow-safe order num div (den div 10⁶);
      // the one signed division (θ·diff) truncates identically on
      // both engines. Two hash aggs (user, then arm) + broadcast
      // scalars.
      val users = events(s, d).filter(col("event_type") === "purchase")
        .groupBy(col("user_id"))
        .agg(
          sum(when(to_date(col("ts")) <= lit("2024-01-15"),
            cents(col("value"))).otherwise(0L)).as("__x_c"),
          sum(when(to_date(col("ts")) > lit("2024-01-15"),
            cents(col("value"))).otherwise(0L)).as("__y_c"))
        .select(
          when(pmod(tokenHash64(concat(lit("ab_"),
            col("user_id").cast("string"))), lit(2L)) === 0L, "control")
            .otherwise("treatment").as("arm"),
          expr("__x_c div 100").as("x_d"), expr("__y_c div 100").as("y_d"))
      val pooled = users.agg(count(lit(1)).as("n"),
          sum("x_d").as("sx"), sum("y_d").as("sy"),
          sum(col("x_d") * col("y_d")).as("sxy"),
          sum(col("x_d") * col("x_d")).as("sxx"))
        .select(
          expr("(n * sxy - sx * sy) div greatest((n * sxx - sx * sx) div 1000000, 1)")
            .as("theta_ppm"),
          expr("(sx * 1000) div n").as("xbar_all_milli"))
      users.groupBy("arm")
        .agg(count(lit(1)).as("n_users"),
          sum("x_d").cast("long").as("__sx_a"),
          sum("y_d").cast("long").as("__sy_a"))
        .crossJoin(broadcast(pooled))
        .withColumn("mean_y_milli", expr("(__sy_a * 1000) div n_users"))
        .withColumn("__xbar_milli", expr("(__sx_a * 1000) div n_users"))
        .withColumn("mean_adj_milli", expr(
          "mean_y_milli - (theta_ppm * (__xbar_milli - xbar_all_milli)) div 1000000"))
        .select(col("arm"), col("n_users"), col("mean_y_milli"),
          col("theta_ppm"), col("mean_adj_milli"))
        .orderBy("arm")
    }),

    "q295_bootstrap_ci" -> ((s, d) => {
      // Bootstrap confidence band for the per-type mean event value —
      // the error bar a metrics platform attaches to every reported
      // mean, via the DETERMINISTIC Poisson-surrogate bootstrap: 200
      // resamples where event e's weight in resample b is md5-derived
      // w ∈ {0,1,1,2} (E[w]=1, Var=½ — the replayable stand-in for
      // Poisson(1) weights), so both engines draw the IDENTICAL
      // resamples and the band hash-compares exactly. Coins come 32
      // per digest (one hex char each, low 2 bits via mod 4), so an
      // event pays ⌈200∕32⌉ = 7 md5s, not 200 — measured 28× off the
      // per-(event, b) hash form. The 200× fan-out is MAP-ONLY
      // compute: the (type, b) partial agg collapses it to
      // |types|·200 rows before the exchange; the percentile windows
      // run over 200 rows per type. lo/hi = the 10th/190th ranked
      // resample mean (the 5%/95% bounds).
      val means = events(s, d)
        .select(col("event_type"), col("event_id"),
          cents(col("value")).as("x_c"))
        // the generate's 200× blow-up happens AFTER the scan, so the
        // pre-explode frame must spread across the cluster FIRST — a
        // compact events file scans as a couple of splits, and AQE
        // coalesces a size-less repartition right back to one
        // partition because the PRE-explode bytes look tiny; the
        // explicit count pins the exchange (REPARTITION_BY_NUM is
        // exempt from coalescing). One tiny |events|-row exchange
        // buys a fully parallel 200× stage — the q282 fan-out lesson.
        .repartition(Shape.width(s), col("event_id"))
        // all 200 weights in ONE tight JVM pass per event
        // (TextFunctions.bootstrapWeights: ⌈200∕32⌉ digests, 32 coins
        // each), then a single posexplode — the interpreted
        // transform(...) form measured 5× slower on the same rows
        .select(col("event_type"), col("x_c"),
          posexplode(bootstrapWeights(col("event_id"), 200)))
        .withColumnRenamed("pos", "b").withColumnRenamed("col", "w")
        .groupBy("event_type", "b")
        .agg(sum("w").as("__nw"),
          sum(col("w") * col("x_c")).as("__swx"))
        .withColumn("mean_b_c",
          expr("__swx div greatest(__nw, 1)"))
      val ranked = means.withColumn("rn", row_number().over(
        Window.partitionBy("event_type")
          .orderBy(col("mean_b_c"), col("b"))))
      val base = events(s, d)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          sum(cents(col("value"))).as("__sx"))
        .withColumn("mean_c", expr("__sx div n_events"))
      base.join(
          ranked.filter(col("rn") === 10)
            .select(col("event_type"), col("mean_b_c").as("lo_c")),
          Seq("event_type"))
        .join(
          ranked.filter(col("rn") === 190)
            .select(col("event_type"), col("mean_b_c").as("hi_c")),
          Seq("event_type"))
        .select(col("event_type"), col("n_events"), col("mean_c"),
          col("lo_c"), col("hi_c"))
        .orderBy("event_type")
    }),
  )

  val oracleSql: Map[String, String] = Map(

    // date_trunc('microseconds') floors DuckDB's ns timestamps exactly
    // like the Spark reader's `ts div 1000` -> timestamp_micros
    "q80_funnel" ->
      """WITH e AS (SELECT user_id, event_type,
        |  date_trunc('microseconds', ts) AS ts FROM events),
        |u AS (SELECT user_id,
        |  min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
        |  min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
        |  min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_buy
        | FROM e GROUP BY 1)
        |SELECT COUNT(*) AS n_users,
        | CAST(SUM(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_viewed,
        | CAST(SUM(CASE WHEN t_view < t_click THEN 1 ELSE 0 END) AS BIGINT) AS n_view_click,
        | CAST(SUM(CASE WHEN t_view < t_click AND t_click < t_buy THEN 1 ELSE 0 END) AS BIGINT) AS n_full_funnel
        |FROM u""".stripMargin,

    "q22_sessionize" ->
      """WITH x AS (
        | SELECT user_id, ts, lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
        | FROM events),
        |y AS (SELECT user_id, ts,
        | CASE WHEN prev IS NULL OR date_diff('second', prev, ts) > 1800 THEN 1 ELSE 0 END AS brk
        | FROM x),
        |z AS (SELECT user_id, ts,
        | CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        | FROM y)
        |SELECT user_id, session_seq,
        | strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        | strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
        | COUNT(*) AS n_events
        |FROM z GROUP BY 1,2 ORDER BY 1,2""".stripMargin,

    // q22's session CTEs, session_window-style outputs: end = max + gap.
    "q83_sessionize_sw" ->
      """WITH x AS (
        | SELECT user_id, ts, lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
        | FROM events),
        |y AS (SELECT user_id, ts,
        | CASE WHEN prev IS NULL OR date_diff('second', prev, ts) > 1800 THEN 1 ELSE 0 END AS brk
        | FROM x),
        |z AS (SELECT user_id, ts,
        | CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        | FROM y)
        |SELECT user_id,
        | strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        | strftime(max(ts) + INTERVAL 1800 SECOND, '%Y-%m-%d %H:%M:%S') AS session_end,
        | COUNT(*) AS n_events
        |FROM z GROUP BY user_id, session_seq ORDER BY 1, 2""".stripMargin,

    "q23_window_tumbling" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
        | event_type, COUNT(*) AS n,
        | CAST(SUM(CAST(round(value*100,0) AS BIGINT)) AS BIGINT) AS value_c
        |FROM events GROUP BY 1,2 ORDER BY 1,2""".stripMargin,

    "q24_window_sliding" ->
      """SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start, event_type, COUNT(*) AS n
        |FROM (SELECT event_type, unnest([
        |   time_bucket(INTERVAL 30 MINUTE, ts, TIMESTAMP '1970-01-01'),
        |   time_bucket(INTERVAL 30 MINUTE, ts, TIMESTAMP '1970-01-01') - INTERVAL 30 MINUTE]) AS ws
        |  FROM events)
        |GROUP BY 1,2 ORDER BY 1,2""".stripMargin,

    // list() over the same ROWS frame + list_reduce seeds with the first
    // element, exactly like the Spark side's null-seeded aggregate fold;
    // all-integer milli-cent state, `//` == `div` for nonnegative
    // operands (see Relational.ewmaTrailing).
    "q112_ewma" ->
      """WITH p AS (SELECT user_id, event_id, ts,
        |  CAST(round(value*100, 0) AS BIGINT) * 1000 AS v_mc FROM events
        |  WHERE event_type = 'purchase' AND value IS NOT NULL),
        |f AS (SELECT user_id, event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s, v_mc,
        |  list(v_mc) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS vs
        | FROM p)
        |SELECT user_id, event_id, ts_s, v_mc,
        |  CAST(list_reduce(vs, (acc, x) -> (3*acc + x) // 4) AS BIGINT) AS ewma_mc
        |FROM f ORDER BY user_id, event_id""".stripMargin,

    "q109_locf_gapfill" ->
      """WITH spine AS (SELECT unnest(generate_series(
        |   DATE '1995-01-01', DATE '1995-03-31', INTERVAL 1 DAY))::DATE AS day),
        |keys AS (SELECT DISTINCT o_orderpriority FROM orders),
        |daily AS (SELECT o_orderpriority, CAST(o_orderdate AS DATE) AS day,
        |  CAST(SUM(CAST(round(o_totalprice*100, 0) AS BIGINT)) AS BIGINT) AS rev_c
        | FROM orders
        | WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        |   AND o_orderdate < TIMESTAMP '1995-04-01 00:00:00'
        | GROUP BY 1, 2),
        |grid AS (SELECT k.o_orderpriority, s.day, d.rev_c
        | FROM keys k CROSS JOIN spine s
        | LEFT JOIN daily d ON d.o_orderpriority = k.o_orderpriority AND d.day = s.day)
        |SELECT o_orderpriority, strftime(day, '%Y-%m-%d') AS day,
        | COALESCE(last_value(rev_c IGNORE NULLS) OVER (
        |   PARTITION BY o_orderpriority ORDER BY day
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS rev_locf_c,
        | rev_c IS NOT NULL AS is_observed
        |FROM grid ORDER BY o_orderpriority, day""".stripMargin,

    // same Monday week truncation, integer day-div-7 offsets, ppm ratio
    "q175_cohort_retention" ->
      """WITH wk AS (SELECT DISTINCT user_id AS u, date_trunc('week', ts) AS w
        | FROM events),
        |c AS (SELECT u, MIN(w) AS cw FROM wk GROUP BY 1),
        |sz AS (SELECT cw, CAST(COUNT(*) AS BIGINT) AS n_cohort FROM c GROUP BY 1),
        |a AS (SELECT c.cw, datediff('day', c.cw, wk.w) // 7 AS offset_w,
        |  CAST(COUNT(*) AS BIGINT) AS n_active
        | FROM wk JOIN c USING (u) GROUP BY 1, 2)
        |SELECT strftime(a.cw, '%Y-%m-%d') AS cohort_week,
        | CAST(offset_w AS BIGINT) AS offset_w, n_active, n_cohort,
        | CAST(n_active * 1000000 // n_cohort AS BIGINT) AS retention_ppm
        |FROM a JOIN sz USING (cw) ORDER BY 1, 2""".stripMargin,

    // identical integer moment sums; the Pearson ratio is the same IEEE
    // double expression on both engines
    "q177_autocorr_daily" ->
      """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |  CAST(SUM(CAST(round(value*100, 0) AS BIGINT)) AS BIGINT) AS v
        | FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        |p AS (SELECT event_type, v AS x,
        |  lead(v) OVER (PARTITION BY event_type ORDER BY day) AS y FROM d),
        |a AS (SELECT event_type AS grp, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |  CAST(SUM(x*y) AS BIGINT) AS sxy, CAST(SUM(x*x) AS BIGINT) AS sxx,
        |  CAST(SUM(y*y) AS BIGINT) AS syy
        | FROM p WHERE y IS NOT NULL GROUP BY 1)
        |SELECT grp, n AS n_pairs,
        | round(CASE WHEN n*sxx - sx*sx > 0 AND n*syy - sy*sy > 0
        |  THEN CAST(n*sxy - sx*sy AS DOUBLE) /
        |    (sqrt(CAST(n*sxx - sx*sx AS DOUBLE)) * sqrt(CAST(n*syy - sy*sy AS DOUBLE)))
        |  ELSE 0.0 END, 6) AS corr6
        |FROM a ORDER BY grp""".stripMargin,

    // same pick-then-tolerance semantics: the single last touch is
    // chosen first, and dropped (not replaced) if outside the window
    "q180_attribution" ->
      """WITH p AS (SELECT event_id, user_id, ts FROM events
        | WHERE event_type = 'purchase'),
        |t AS (SELECT event_id AS t_id, user_id, ts AS t_ts,
        |  event_type AS channel FROM events WHERE event_type <> 'purchase'),
        |m AS (SELECT p.event_id, t.channel, t.t_ts, p.ts,
        |  row_number() OVER (PARTITION BY p.event_id
        |    ORDER BY t.t_ts DESC, t.t_id DESC) AS rn
        | FROM p JOIN t ON t.user_id = p.user_id AND t.t_ts <= p.ts),
        |a AS (SELECT event_id, channel FROM m WHERE rn = 1
        |  AND abs(epoch_us(t_ts) - epoch_us(ts)) <= CAST(86400 AS BIGINT) * 1000000),
        |c AS (SELECT channel, CAST(COUNT(*) AS BIGINT) AS n_purchases
        | FROM a GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n_purchases) AS BIGINT) AS n_total FROM c)
        |SELECT channel, n_purchases,
        | CAST(n_purchases * 1000000 // n_total AS BIGINT) AS share_ppm
        |FROM c, tot ORDER BY channel""".stripMargin,

    // same per-user lag pairs and exact row-normalized ppm
    "q181_markov_transitions" ->
      """WITH l AS (SELECT event_type,
        |  lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        | FROM events),
        |tr AS (SELECT prev AS from_type, event_type AS to_type,
        |  CAST(COUNT(*) AS BIGINT) AS n
        | FROM l WHERE prev IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS n_from
        | FROM tr GROUP BY 1)
        |SELECT tr.from_type, tr.to_type, tr.n,
        | CAST(tr.n * 1000000 // tot.n_from AS BIGINT) AS p_ppm
        |FROM tr JOIN tot USING (from_type)
        |ORDER BY 1, 2""".stripMargin,

    // q181's per-user ordered window taken two steps forward; the
    // top-20 cut is deterministic (count DESC, then path ASC)
    "q268_path_trigrams" ->
      """WITH l AS (SELECT event_type AS s1,
        |  lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS s2,
        |  lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS s3
        | FROM events),
        |tri AS (SELECT s1, s2, s3, CAST(COUNT(*) AS BIGINT) AS n
        | FROM l WHERE s2 IS NOT NULL AND s3 IS NOT NULL GROUP BY 1, 2, 3),
        |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n_total FROM tri)
        |SELECT s1, s2, s3, n,
        | CAST(n * 1000000 // n_total AS BIGINT) AS share_ppm
        |FROM tri, tot
        |ORDER BY n DESC, s1, s2, s3 LIMIT 20""".stripMargin,

    // same prefix-sum statistic; numerator squared before the floor
    // division, so Spark div and DuckDB // agree
    "q186_changepoint" ->
      s"""WITH daily AS (SELECT user_id, CAST(ts AS DATE) AS day,
         |  CAST(SUM(CAST(round(value*100,0) AS BIGINT)) AS BIGINT) AS x
         | FROM events GROUP BY 1, 2),
         |w AS (SELECT user_id, day, x,
         |  CAST(row_number() OVER (PARTITION BY user_id ORDER BY day) AS BIGINT) AS t,
         |  SUM(x) OVER (PARTITION BY user_id ORDER BY day
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS st,
         |  CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT) AS n,
         |  SUM(x) OVER (PARTITION BY user_id) AS s
         | FROM daily),
         |sc AS (SELECT user_id, day, n, t,
         |  ((n * st - t * s) * (n * st - t * s)) // (t * (n - t)) AS score
         | FROM w WHERE n >= $ChangepointMinDays AND t < n),
         |r AS (SELECT user_id, day, n, score,
         |  row_number() OVER (PARTITION BY user_id
         |    ORDER BY score DESC, t) AS rn FROM sc)
         |SELECT user_id, n AS n_days, strftime(day, '%Y-%m-%d') AS cut_day,
         | CAST(score AS BIGINT) AS score
         |FROM r WHERE rn = 1 ORDER BY 1""".stripMargin,

    // same lead-window anchors + generate_series fill; // truncates
    // like div (q190's verification)
    "q195_gapfill_interp" ->
      """WITH daily AS (SELECT user_id, CAST(ts AS DATE) AS day,
        |  CAST(SUM(CAST(round(value*100,0) AS BIGINT)) AS BIGINT) AS v
        | FROM events GROUP BY 1, 2),
        |d2 AS (SELECT user_id, CAST(day - DATE '1970-01-01' AS BIGINT) AS x, v
        | FROM daily),
        |wn AS (SELECT user_id, x, v,
        |  lead(x) OVER (PARTITION BY user_id ORDER BY x) AS nx,
        |  lead(v) OVER (PARTITION BY user_id ORDER BY x) AS nv
        | FROM d2),
        |fill AS (SELECT user_id, xi AS x,
        |  v + ((nv - v) * (xi - x)) // (nx - x) AS v, 'interp' AS kind
        | FROM wn, LATERAL (SELECT unnest(generate_series(x + 1, nx - 1)) AS xi) t
        | WHERE nx IS NOT NULL AND nx > x + 1)
        |SELECT user_id, x AS day_num, CAST(v AS BIGINT) AS v_c, kind FROM (
        | SELECT user_id, x, v, 'obs' AS kind FROM d2
        | UNION ALL SELECT user_id, x, v, kind FROM fill)
        |ORDER BY user_id, day_num""".stripMargin,

    // the two leads share one per-user window; full deterministic tie
    // order at the top-20 cut
    "q228_event_paths" ->
      """WITH s AS (SELECT user_id, event_type AS t1,
        |  lead(event_type, 1) OVER w AS t2,
        |  lead(event_type, 2) OVER w AS t3
        | FROM events
        | WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |g AS (SELECT t1, t2, t3, CAST(COUNT(*) AS BIGINT) AS n
        | FROM s WHERE t3 IS NOT NULL GROUP BY 1, 2, 3)
        |SELECT t1, t2, t3, n FROM g
        |ORDER BY n DESC, t1, t2, t3 LIMIT 20""".stripMargin,

    // greedy-earliest per stage is lossless (any witness subsequence
    // has a pointwise-earlier greedy witness), so sequential min-aggs
    // replay the funnel exactly
    "q241_funnel" -> {
      val (st1, st2, st3, st4) =
        (FunnelStages(0), FunnelStages(1), FunnelStages(2), FunnelStages(3))
      s"""WITH s1 AS (SELECT user_id, min(ts) AS t FROM events
         |  WHERE event_type = '$st1' GROUP BY 1),
         |s2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
         |  JOIN s1 ON s1.user_id = e.user_id AND e.ts > s1.t
         |  WHERE e.event_type = '$st2' GROUP BY 1),
         |s3 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
         |  JOIN s2 ON s2.user_id = e.user_id AND e.ts > s2.t
         |  WHERE e.event_type = '$st3' GROUP BY 1),
         |s4 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
         |  JOIN s3 ON s3.user_id = e.user_id AND e.ts > s3.t
         |  WHERE e.event_type = '$st4' GROUP BY 1),
         |c AS (SELECT (SELECT count(*) FROM s1) AS n1,
         |  (SELECT count(*) FROM s2) AS n2,
         |  (SELECT count(*) FROM s3) AS n3,
         |  (SELECT count(*) FROM s4) AS n4)
         |SELECT * FROM (
         | SELECT CAST(1 AS INTEGER) AS stage_idx, '$st1' AS stage,
         |  CAST(n1 AS BIGINT) AS n_users, CAST(1000000 AS BIGINT) AS conv_ppm FROM c
         | UNION ALL SELECT CAST(2 AS INTEGER), '$st2', CAST(n2 AS BIGINT),
         |  CAST(CASE WHEN n1 > 0 THEN n2 * 1000000 // n1 ELSE 0 END AS BIGINT) FROM c
         | UNION ALL SELECT CAST(3 AS INTEGER), '$st3', CAST(n3 AS BIGINT),
         |  CAST(CASE WHEN n2 > 0 THEN n3 * 1000000 // n2 ELSE 0 END AS BIGINT) FROM c
         | UNION ALL SELECT CAST(4 AS INTEGER), '$st4', CAST(n4 AS BIGINT),
         |  CAST(CASE WHEN n3 > 0 THEN n4 * 1000000 // n3 ELSE 0 END AS BIGINT) FROM c)
         |ORDER BY stage_idx""".stripMargin
    },

    // same daily-close argmax, same per-user day grid, same LOCF
    // (IGNORE NULLS running last) — the engine's window replayed
    "q246_gap_fill" ->
      """WITH e AS (SELECT user_id,
        |  CAST(date_trunc('microseconds', ts) AS TIMESTAMP) AS ts,
        |  event_id, CAST(round(value * 100) AS BIGINT) AS value_c,
        |  CAST(ts AS DATE) AS day FROM events),
        |cl AS (SELECT user_id, day, value_c FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id, day
        |    ORDER BY ts DESC, event_id DESC) AS rn FROM e) WHERE rn = 1),
        |sp AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM cl GROUP BY 1),
        |grid AS (SELECT user_id,
        |  CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
        |    CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day FROM sp),
        |j AS (SELECT g.user_id, g.day, cl.value_c
        | FROM grid g LEFT JOIN cl ON cl.user_id = g.user_id AND cl.day = g.day),
        |f AS (SELECT user_id, day,
        |  last_value(value_c IGNORE NULLS) OVER (PARTITION BY user_id
        |    ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
        | FROM j)
        |SELECT strftime(day, '%Y-%m-%d') AS day,
        | CAST(COUNT(*) AS BIGINT) AS n_users,
        | CAST(SUM(filled) AS BIGINT) AS sum_value_c
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin,

    // same first-signup cohort, same distinct activity days, same
    // day-offset counts in exact ppm
    "q249_retention_cohorts" ->
      """WITH co AS (SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day
        | FROM events WHERE event_type = 'signup' GROUP BY 1),
        |ac AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |sz AS (SELECT cohort_day, CAST(COUNT(*) AS BIGINT) AS n_cohort
        | FROM co GROUP BY 1),
        |m AS (SELECT co.cohort_day,
        |  CAST(datediff('day', co.cohort_day, ac.day) AS BIGINT) AS k,
        |  CAST(COUNT(*) AS BIGINT) AS n_active
        | FROM co JOIN ac ON ac.user_id = co.user_id
        | WHERE ac.day >= co.cohort_day GROUP BY 1, 2)
        |SELECT strftime(m.cohort_day, '%Y-%m-%d') AS cohort_day, k,
        | n_active, n_cohort,
        | CAST(n_active * 1000000 // n_cohort AS BIGINT) AS retained_ppm
        |FROM m JOIN sz ON sz.cohort_day = m.cohort_day
        |ORDER BY 1, 2""".stripMargin,

    // same island key (day_number - row_number), same two rollups
    "q250_activity_streaks" ->
      """WITH ac AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |isl AS (SELECT user_id,
        |  datediff('day', DATE '1990-01-01', day)
        |    - row_number() OVER (PARTITION BY user_id ORDER BY day) AS g
        | FROM ac),
        |runs AS (SELECT user_id, g, CAST(COUNT(*) AS BIGINT) AS len
        | FROM isl GROUP BY 1, 2),
        |pi AS (SELECT len, CAST(COUNT(*) AS BIGINT) AS n_islands
        | FROM runs GROUP BY 1),
        |pu AS (SELECT len, CAST(COUNT(*) AS BIGINT) AS n_users_max FROM (
        |  SELECT user_id, MAX(len) AS len FROM runs GROUP BY 1) GROUP BY 1)
        |SELECT COALESCE(pi.len, pu.len) AS streak_len,
        | COALESCE(n_islands, 0) AS n_islands,
        | COALESCE(n_users_max, 0) AS n_users_max
        |FROM pi FULL OUTER JOIN pu ON pi.len = pu.len
        |ORDER BY 1""".stripMargin,

    // replay on RAW per-event intervals (durations are additive over
    // the collapse); interval count = state-change flags
    "q251_time_in_state" ->
      """WITH np AS (SELECT user_id,
        |  CAST(date_trunc('microseconds', ts) AS TIMESTAMP) AS ts,
        |  event_id, event_type FROM events WHERE event_type <> 'purchase'),
        |r AS (SELECT event_type, ts,
        |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt,
        |  lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        | FROM np),
        |mx AS (SELECT MAX(ts) AS h FROM np),
        |dur AS (SELECT event_type,
        |  epoch_us(COALESCE(nxt, (SELECT h FROM mx))) - epoch_us(ts) AS d_us,
        |  CASE WHEN prev IS NULL OR prev <> event_type THEN 1 ELSE 0 END AS st
        | FROM r),
        |agg AS (SELECT event_type AS state, CAST(SUM(st) AS BIGINT) AS n_intervals,
        |  CAST(SUM(d_us) AS BIGINT) AS total_us FROM dur GROUP BY 1),
        |t AS (SELECT CAST(SUM(total_us) AS BIGINT) AS g FROM agg)
        |SELECT state, n_intervals, total_us,
        | CAST(total_us // ((SELECT g FROM t) // 1000000) AS BIGINT) AS share_ppm
        |FROM agg ORDER BY 1""".stripMargin,

    // same daily counts, same integer week-shift decay, same tie order
    "q253_decayed_leaderboard" ->
      """WITH dc AS (SELECT user_id, CAST(ts AS DATE) AS day,
        |  CAST(COUNT(*) AS BIGINT) AS c FROM events GROUP BY 1, 2),
        |h AS (SELECT MAX(day) AS hd FROM dc)
        |SELECT user_id,
        | CAST(SUM(c >> LEAST(datediff('day', day, (SELECT hd FROM h)) // 7, 63))
        |   AS BIGINT) AS score,
        | CAST(SUM(c) AS BIGINT) AS n_events
        |FROM dc GROUP BY 1
        |ORDER BY score DESC, user_id ASC LIMIT 20""".stripMargin,

    // same lead gap, same bit_length bucket (floor-log2 + 1, 0 for
    // zero gaps) — integer bit arithmetic on both sides
    "q255_interarrival_hist" ->
      """WITH e AS (SELECT user_id, event_type,
        |  CAST(date_trunc('microseconds', ts) AS TIMESTAMP) AS ts, event_id
        | FROM events),
        |r AS (SELECT event_type,
        |  epoch_us(lead(ts) OVER (PARTITION BY user_id, event_type
        |    ORDER BY ts, event_id)) - epoch_us(ts) AS gap_us
        | FROM e),
        |g AS (SELECT event_type, gap_us // 1000000 AS gap_s FROM r
        | WHERE gap_us IS NOT NULL)
        |SELECT event_type,
        | CAST(CASE WHEN gap_s <= 0 THEN 0 ELSE length(bin(gap_s)) END
        |   AS BIGINT) AS bucket,
        | CAST(COUNT(*) AS BIGINT) AS n
        |FROM g GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // same log2 buckets; both window sums run over the bounded bucket
    // frame (buckets unique, so the default RANGE frame == ROWS)
    "q270_revenue_concentration" ->
      """WITH pu AS (SELECT user_id,
        |  CAST(SUM(CAST(round(value*100,0) AS BIGINT)) AS BIGINT) AS v
        | FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
        | GROUP BY 1),
        |p AS (SELECT v FROM pu WHERE v > 0),
        |b AS (SELECT CAST(length(bin(v)) AS BIGINT) AS bucket,
        |  CAST(COUNT(*) AS BIGINT) AS n_users,
        |  CAST(SUM(v) AS BIGINT) AS rev_c FROM p GROUP BY 1),
        |c AS (SELECT bucket, n_users, rev_c,
        |  CAST(SUM(n_users) OVER (ORDER BY bucket DESC) AS BIGINT) AS cum_users,
        |  CAST(SUM(rev_c) OVER (ORDER BY bucket DESC) AS BIGINT) AS cum_rev,
        |  CAST(SUM(n_users) OVER () AS BIGINT) AS t_users,
        |  CAST(SUM(rev_c) OVER () AS BIGINT) AS t_rev
        | FROM b)
        |SELECT bucket, n_users, rev_c, cum_users, cum_rev,
        | CAST(cum_users * 1000000 // t_users AS BIGINT) AS user_share_ppm,
        | CAST(cum_rev * 1000000 // t_rev AS BIGINT) AS rev_share_ppm
        |FROM c ORDER BY bucket DESC""".stripMargin,

    // full reachable-set closure per stage (greedy-earliest is wrong
    // under deadlines), replayed as distinct band joins
    "q257_windowed_funnel" -> {
      val sts = FunnelStages
      s"""WITH e AS (SELECT user_id AS u,
         |  epoch_us(CAST(date_trunc('microseconds', ts) AS TIMESTAMP)) AS t,
         |  event_type AS tp FROM events),
         |c1 AS (SELECT DISTINCT u, t FROM e WHERE tp = '${sts(0)}'),
         |c2 AS (SELECT DISTINCT e.u, e.t FROM e JOIN c1
         |  ON c1.u = e.u AND e.t > c1.t AND e.t <= c1.t + $FunnelWindowUs
         | WHERE e.tp = '${sts(1)}'),
         |c3 AS (SELECT DISTINCT e.u, e.t FROM e JOIN c2
         |  ON c2.u = e.u AND e.t > c2.t AND e.t <= c2.t + $FunnelWindowUs
         | WHERE e.tp = '${sts(2)}'),
         |c4 AS (SELECT DISTINCT e.u, e.t FROM e JOIN c3
         |  ON c3.u = e.u AND e.t > c3.t AND e.t <= c3.t + $FunnelWindowUs
         | WHERE e.tp = '${sts(3)}'),
         |n AS (SELECT (SELECT COUNT(DISTINCT u) FROM c1) AS n1,
         |  (SELECT COUNT(DISTINCT u) FROM c2) AS n2,
         |  (SELECT COUNT(DISTINCT u) FROM c3) AS n3,
         |  (SELECT COUNT(DISTINCT u) FROM c4) AS n4)
         |SELECT * FROM (
         | SELECT CAST(1 AS INTEGER) AS stage_idx, '${sts(0)}' AS stage,
         |  CAST(n1 AS BIGINT) AS n_users, CAST(1000000 AS BIGINT) AS conv_ppm FROM n
         | UNION ALL SELECT CAST(2 AS INTEGER), '${sts(1)}', CAST(n2 AS BIGINT),
         |  CAST(CASE WHEN n1 > 0 THEN n2 * 1000000 // n1 ELSE 0 END AS BIGINT) FROM n
         | UNION ALL SELECT CAST(3 AS INTEGER), '${sts(2)}', CAST(n3 AS BIGINT),
         |  CAST(CASE WHEN n2 > 0 THEN n3 * 1000000 // n2 ELSE 0 END AS BIGINT) FROM n
         | UNION ALL SELECT CAST(4 AS INTEGER), '${sts(3)}', CAST(n4 AS BIGINT),
         |  CAST(CASE WHEN n3 > 0 THEN n4 * 1000000 // n3 ELSE 0 END AS BIGINT) FROM n)
         |ORDER BY stage_idx""".stripMargin
    },

    // same md5 arm coin, same per-user conversion/revenue rollup
    "q258_ab_readout" -> {
      val coin = duckHash("concat('ab_', CAST(user_id AS VARCHAR))", 15)
      s"""WITH u AS (SELECT user_id,
         |  MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted,
         |  SUM(CASE WHEN event_type = 'purchase'
         |    THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS value_c
         | FROM events GROUP BY 1),
         |a AS (SELECT CASE WHEN $coin % 2 = 0 THEN 'control'
         |   ELSE 'treatment' END AS arm, converted, value_c FROM u)
         |SELECT arm, CAST(COUNT(*) AS BIGINT) AS n_users,
         | CAST(SUM(converted) AS BIGINT) AS n_converted,
         | CAST(SUM(value_c) AS BIGINT) AS sum_value_c,
         | CAST(SUM(converted) * 1000000 // COUNT(*) AS BIGINT) AS conv_ppm
         |FROM a GROUP BY 1 ORDER BY 1""".stripMargin
    },

    // same durations/censoring, same risk-set suffix sums, same
    // per-step integer floor product via a recursive CTE
    "q260_kaplan_meier" ->
      """WITH RECURSIVE su AS (SELECT user_id, MIN(CAST(ts AS DATE)) AS s_day
        | FROM events WHERE event_type = 'signup' GROUP BY 1),
        |pu AS (SELECT user_id, MIN(CAST(ts AS DATE)) AS p_day
        | FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |h AS (SELECT MAX(CAST(ts AS DATE)) AS hd FROM events),
        |dur AS (SELECT
        |  CASE WHEN pu.p_day IS NOT NULL AND pu.p_day >= su.s_day
        |   THEN datediff('day', su.s_day, pu.p_day)
        |   ELSE datediff('day', su.s_day, (SELECT hd FROM h)) END AS t,
        |  CASE WHEN pu.p_day IS NOT NULL AND pu.p_day >= su.s_day
        |   THEN 1 ELSE 0 END AS is_event
        | FROM su LEFT JOIN pu USING (user_id)),
        |bd AS (SELECT t, CAST(SUM(is_event) AS BIGINT) AS d,
        |  CAST(SUM(1 - is_event) AS BIGINT) AS c FROM dur GROUP BY 1),
        |ord AS (SELECT t, d, c, row_number() OVER (ORDER BY t) AS rn,
        |  (SELECT SUM(d + c) FROM bd)
        |   - COALESCE(SUM(d + c) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
        | FROM bd),
        |km AS (
        | SELECT rn, t, n_risk, d, c,
        |  CASE WHEN d > 0 AND n_risk > 0
        |   THEN 1000000 * (n_risk - d) // n_risk ELSE 1000000 END AS surv
        | FROM ord WHERE rn = 1
        | UNION ALL
        | SELECT o.rn, o.t, o.n_risk, o.d, o.c,
        |  CASE WHEN o.d > 0 AND o.n_risk > 0
        |   THEN km.surv * (o.n_risk - o.d) // o.n_risk ELSE km.surv END
        | FROM ord o JOIN km ON o.rn = km.rn + 1)
        |SELECT CAST(t AS BIGINT) AS t_days, CAST(n_risk AS BIGINT) AS n_risk,
        | d AS n_events, c AS n_censored, CAST(surv AS BIGINT) AS surv_ppm
        |FROM km ORDER BY 1""".stripMargin,

    // same daily totals, same lag-7 join, same floor APE, same lower
    // median
    "q261_seasonal_baseline" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS day,
        |  CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_c
        | FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |sc AS (SELECT a.day, a.total_c, p.total_c AS pred_c,
        |  CAST(abs(a.total_c - p.total_c) * 1000000 // a.total_c AS BIGINT) AS ape_ppm
        | FROM daily a JOIN daily p ON p.day = a.day - INTERVAL 7 DAY),
        |m AS (SELECT ape_ppm AS med FROM (
        |  SELECT ape_ppm, row_number() OVER (ORDER BY ape_ppm) AS rn,
        |   COUNT(*) OVER () AS n FROM sc) WHERE rn = (n + 1) // 2)
        |SELECT strftime(day, '%Y-%m-%d') AS day, total_c, pred_c, ape_ppm,
        | CAST((SELECT med FROM m) AS BIGINT) AS median_ape_ppm
        |FROM sc ORDER BY 1""".stripMargin,

    // same pooled integer moments, arm-level mean adjustment, and
    // engine-shared truncating division on the one signed term
    "q294_cuped_readout" -> {
      val arm = duckHash("concat('ab_', CAST(user_id AS VARCHAR))", 15)
      s"""WITH u AS (SELECT user_id,
         |  SUM(CASE WHEN CAST(ts AS DATE) <= DATE '2024-01-15'
         |    THEN CAST(round(value*100,0) AS BIGINT) ELSE 0 END) // 100 AS x_d,
         |  SUM(CASE WHEN CAST(ts AS DATE) > DATE '2024-01-15'
         |    THEN CAST(round(value*100,0) AS BIGINT) ELSE 0 END) // 100 AS y_d
         | FROM events WHERE event_type = 'purchase' GROUP BY 1),
         |a AS (SELECT CASE WHEN $arm % 2 = 0 THEN 'control'
         |    ELSE 'treatment' END AS arm, x_d, y_d FROM u),
         |p AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(SUM(x_d) AS BIGINT) AS sx, CAST(SUM(y_d) AS BIGINT) AS sy,
         |  CAST(SUM(x_d*y_d) AS BIGINT) AS sxy,
         |  CAST(SUM(x_d*x_d) AS BIGINT) AS sxx FROM a),
         |th AS (SELECT
         |  CAST((n*sxy - sx*sy) // greatest((n*sxx - sx*sx) // 1000000, 1)
         |    AS BIGINT) AS theta_ppm,
         |  CAST((sx * 1000) // n AS BIGINT) AS xbar_all_milli FROM p),
         |g AS (SELECT arm, CAST(COUNT(*) AS BIGINT) AS n_users,
         |  CAST(SUM(x_d) AS BIGINT) AS sx_a,
         |  CAST(SUM(y_d) AS BIGINT) AS sy_a FROM a GROUP BY 1)
         |SELECT g.arm, g.n_users,
         | CAST((g.sy_a * 1000) // g.n_users AS BIGINT) AS mean_y_milli,
         | th.theta_ppm,
         | CAST((g.sy_a * 1000) // g.n_users
         |   - (th.theta_ppm * ((g.sx_a * 1000) // g.n_users - th.xbar_all_milli))
         |     // 1000000 AS BIGINT) AS mean_adj_milli
         |FROM g, th ORDER BY g.arm""".stripMargin
    },

    // identical 32-coins-per-digest md5 resample weights, (type, b)
    // partial means, and rank-10/rank-190 band cut
    "q295_bootstrap_ci" ->
      s"""WITH e AS (SELECT event_type, event_id,
         |  CAST(round(value*100,0) AS BIGINT) AS x_c FROM events),
         |bb AS (SELECT unnest(generate_series(0, 199)) AS b),
         |w AS (SELECT e.event_type, bb.b, e.x_c,
         |  CASE CAST(concat('0x', substr(
         |      md5(concat('bs_', CAST(event_id AS VARCHAR), '_',
         |        CAST(bb.b // 32 AS VARCHAR))),
         |      CAST(bb.b % 32 + 1 AS BIGINT), 1)) AS BIGINT) % 4
         |   WHEN 0 THEN 0 WHEN 3 THEN 2 ELSE 1 END AS w
         | FROM e CROSS JOIN bb),
         |m AS (SELECT event_type, b,
         |  CAST(SUM(w*x_c) // greatest(SUM(w), 1) AS BIGINT) AS mean_b_c
         | FROM w GROUP BY 1, 2),
         |r AS (SELECT event_type, mean_b_c, row_number() OVER (
         |  PARTITION BY event_type ORDER BY mean_b_c, b) AS rn FROM m),
         |base AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
         |  CAST(SUM(x_c) // COUNT(*) AS BIGINT) AS mean_c
         | FROM e GROUP BY 1)
         |SELECT base.event_type, base.n_events, base.mean_c,
         | lo.mean_b_c AS lo_c, hi.mean_b_c AS hi_c
         |FROM base
         |JOIN (SELECT event_type, mean_b_c FROM r WHERE rn = 10) lo
         |  USING (event_type)
         |JOIN (SELECT event_type, mean_b_c FROM r WHERE rn = 190) hi
         |  USING (event_type)
         |ORDER BY base.event_type""".stripMargin,
  )
}
