package graft.ops

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import Relational.{dbl, dec}

/** Behavioral-analytics operators over the event stream: batch
  * sessionization by inactivity gap, cohort/retention matrices, and
  * statistical anomaly flagging. All are DuckDB-oracled.
  *
  * Scale shape: everything here shuffles at most once on `user_id` (or on
  * the tiny `event_type` stats key, which broadcasts). Per-user windows are
  * bounded by a single user's history — no global ordering anywhere — so
  * the plans hold unchanged on a 1000-executor cluster.
  */
object Behavior {

  /** Batch sessionization: a new session starts after `gapMinutes` of
    * inactivity. The classic lag-then-running-sum rewrite — both windows
    * share one (user_id)-partitioned sort, so Spark plans a single
    * Exchange+Sort feeding two chained WindowExecs; session aggregation
    * then re-uses the same key prefix. This is the batch twin of
    * `session_window` ([[Temporal.streamSession]]) generalized to carry
    * arbitrary per-session aggregates; the µs event-time axis matches
    * [[Windows.winTimeRange]].
    */
  def sessionizeGap(t: Tables, gapMinutes: Int = 360): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val gapUs = gapMinutes * 60L * 1000000L
    val newSession = when(
      col("prev_ts").isNull ||
        unix_micros(col("ts")) - unix_micros(col("prev_ts")) > gapUs,
      1L).otherwise(0L)
    t.events
      .select(
        col("user_id"), col("event_id"), col("ts"), col("value"),
        lag(col("ts"), 1).over(w).as("prev_ts"))
      .withColumn("session_id",
        sum(newSession).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id")
      .agg(
        count(lit(1)).as("n_ev"),
        min(col("ts")).as("ss"),
        max(col("ts")).as("se"),
        dbl(sum(dec(col("value"))).cast(DecimalType(38, 2))).as("sv"))
      .orderBy("user_id", "session_id")
  }

  /** Cohort-retention matrix: users cohorted by the DAY of their first
    * purchase; each (cohort, weeks-since) cell counts the distinct users
    * who purchased again that week. One per-user min, one co-partitioned
    * user_id join back onto the purchases (both sides shuffle on the same
    * key — AQE coalesces), one count-distinct. Week 0 of every cohort
    * equals the cohort size by construction ([[BehaviorSpec]] pins it).
    * (First *event* would be degenerate here — the synthetic stream is
    * dense enough that every user appears on day 1; the sparser purchase
    * stream yields a real 11-cohort matrix.)
    */
  def cohortRetention(t: Tables): DataFrame = {
    val purchases = t.events.filter(col("event_type") === "purchase")
    val first = purchases
      .groupBy("user_id")
      .agg(min(col("ts")).cast(DateType).as("cohort"))
    purchases.as("e")
      .join(first.as("f"), "user_id")
      .select(
        col("cohort"),
        floor(datediff(col("ts").cast(DateType), col("cohort")) / 7)
          .cast(LongType).as("week_n"),
        col("user_id"))
      .groupBy("cohort", "week_n")
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy("cohort", "week_n")
  }

  /** Conversion-latency distribution — for each user, the first click
    * and the first purchase AFTER it; latencies aggregated per click-day
    * as count, median, and p90. The percentile discipline is
    * row-SELECTION (percentile_disc), not interpolation: positions are
    * exact integer arithmetic (`(n+1) div 2`, `ceil(9n/10) = (9n+9) div
    * 10`) over a (latency, user_id)-total order, so both engines pick
    * the identical row — no float quantile definitions in play.
    *
    * Plan shape: two user-keyed aggregates and one user-keyed join (the
    * funnel pairing), then per-day ranked windows over the CONVERSION
    * table (one row per converting user — orders of magnitude smaller
    * than the event stream). At 100 TB the event scan dominates and
    * everything after the first aggregate is conversion-sized.
    */
  def funnelTimeToConvert(t: Tables): DataFrame = {
    val firstClick = t.events.filter(col("event_type") === "click")
      .groupBy("user_id").agg(min(col("ts")).as("click_ts"))
    val conv = t.events.filter(col("event_type") === "purchase")
      .join(firstClick, "user_id")
      .filter(col("ts") > col("click_ts"))
      .groupBy("user_id", "click_ts")
      .agg(min(col("ts")).as("purchase_ts"))
      .select(col("user_id"),
        col("click_ts").cast(DateType).as("click_day"),
        (unix_micros(col("purchase_ts")) - unix_micros(col("click_ts")))
          .as("latency_us"))
    val wDay = Window.partitionBy("click_day")
    val wRank = wDay.orderBy(col("latency_us"), col("user_id"))
    conv
      .withColumn("rn", row_number().over(wRank).cast(LongType))
      .withColumn("n", count(lit(1)).over(wDay).cast(LongType))
      .withColumn("med", max(when(col("rn") === expr("(n + 1) div 2"),
        col("latency_us"))).over(wDay))
      .withColumn("p90", max(when(col("rn") === expr("(n * 9 + 9) div 10"),
        col("latency_us"))).over(wDay))
      .filter(col("rn") === 1)
      .select(col("click_day"), col("n").as("n_conv"),
        col("med").as("median_latency_us"), col("p90").as("p90_latency_us"))
      .orderBy("click_day")
  }

  /** Cohort lifetime value: customers grouped by first-order year, spend
    * accumulated per cohort-age year. The cohort anchor rides a window
    * over ONE customer-keyed exchange of the fact (no separate anchor
    * aggregate + join back), then one (cohort, age) aggregate and a
    * cohort-keyed running sum over the years×years result — everything
    * after the single fact pass is calendar-sized. Exact integer cents
    * end to end.
    */
  def cohortLtv(t: Tables): DataFrame = {
    val cents = round(col("o_totalprice") * 100).cast(LongType)
    // the cohort anchor is a window over the SAME customer-keyed shuffle
    // that tags the rows — one exchange of the fact, no anchor join
    val wCust = Window.partitionBy("o_custkey")
    val aged = t.orders
      .select(col("o_custkey"), year(col("o_orderdate")).as("oy"), cents.as("cents"))
      .withColumn("cohort_year", min(col("oy")).over(wCust))
      .groupBy(col("cohort_year"), (col("oy") - col("cohort_year")).as("age_years"))
      .agg(countDistinct(col("o_custkey")).as("n_active"),
        sum(col("cents")).as("spend_cents"))
    val wCum = Window.partitionBy("cohort_year").orderBy("age_years")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    aged
      .withColumn("cum_spend_cents", sum(col("spend_cents")).over(wCum))
      .select(col("cohort_year"), col("age_years"), col("n_active"),
        col("spend_cents"), col("cum_spend_cents"))
      .orderBy("cohort_year", "age_years")
  }

  /** Per-event-type z-score outliers (|z| > 3). Mean and variance are
    * computed from DECIMAL-exact sums (Σv, Σv² as DECIMAL(38,4)) so both
    * engines derive z from bit-identical doubles — a float aggregation
    * would make the |z| > 3 cut nondeterministic across partitionings.
    * The 5-row stats side broadcasts; the pass over events is map-side.
    */
  /** Gaps-and-islands over each user's distinct active DAYS: consecutive
    * calendar days collapse into one island via the classic
    * day − row_number anchor (consecutive days share the anchor, a gap
    * shifts it). Runs on the distinct (user, day) set — #users × #active
    * days rows, far smaller than the event stream — then one bounded
    * per-user window. Integer date arithmetic end to end, so both engines
    * agree bit-for-bit.
    */
  def activityIslands(t: Tables): DataFrame = {
    val days = t.events
      .select(col("user_id"), col("ts").cast(DateType).as("day"))
      .distinct()
    val w = Window.partitionBy("user_id").orderBy("day")
    days
      .withColumn("anchor", date_sub(col("day"), row_number().over(w)))
      .groupBy("user_id", "anchor")
      .agg(
        min(col("day")).as("island_start"),
        max(col("day")).as("island_end"),
        count(lit(1)).as("n_days"))
      .select("user_id", "island_start", "island_end", "n_days")
      .orderBy("user_id", "island_start")
  }

  /** First-order Markov transition matrix over each user's event-type
    * sequence: count (state → next-state) pairs, then the row-conditional
    * probability. The lead() runs per user (bounded window); the count
    * table is #types² rows, so the normalizing window is driver-trivial.
    * p = exact-int / exact-int → one correctly-rounded IEEE division in
    * both engines, deterministic at full precision (rounded to 6 for
    * display only).
    */
  def markovTransitions(t: Tables): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val wFrom = Window.partitionBy("from_state")
    t.events
      .select(
        col("event_type").as("from_state"),
        lead(col("event_type"), 1).over(w).as("to_state"))
      .filter(col("to_state").isNotNull)
      .groupBy("from_state", "to_state")
      .agg(count(lit(1)).as("n"))
      .withColumn("p", round(col("n") / sum(col("n")).over(wFrom), 6))
      .orderBy("from_state", "to_state")
  }

  /** Maximum interval concurrency per user (sweep line): each click opens
    * a half-open 30-minute interval; +1/−1 boundary deltas, per-user
    * running sum ordered by (t, delta) — the −1-first tie order makes
    * back-to-back intervals NOT concurrent — and the per-user max. Within
    * an equal-(t, delta) run the intermediate sums are the same multiset
    * under any permutation, so MAX is deterministic. All-integer compute;
    * shuffles once on user_id.
    */
  def intervalOverlap(t: Tables): DataFrame = {
    val wUs = 30L * 60 * 1000000L
    val clicks = t.events.filter(col("event_type") === "click")
      .select(col("user_id"), unix_micros(col("ts")).as("t0"))
    val bounds =
      clicks.select(col("user_id"), col("t0").as("t"), lit(1L).as("delta"))
        .unionAll(clicks.select(col("user_id"), (col("t0") + wUs).as("t"), lit(-1L).as("delta")))
    val w = Window.partitionBy("user_id").orderBy(col("t"), col("delta"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bounds
      .withColumn("run", sum(col("delta")).over(w))
      .groupBy("user_id")
      .agg((count(lit(1)) / 2).cast(LongType).as("n_intervals"), max(col("run")).as("max_conc"))
      .orderBy("user_id")
  }

  /** Time-weighted average value per user: each event's value weighted by
    * the seconds until the user's next event, capped at one hour (the
    * standard TWAP guard against idle gaps dominating). Numerator is a
    * DECIMAL-exact Σ(value × dur_s) — scaled magnitude stays far below
    * 2^53 under the 3600 s cap, so the final decimal→double render is
    * bit-identical in both engines — and the division of two exact
    * doubles is correctly rounded in both.
    */
  def timeWeightedAvg(t: Tables): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val durS = least(expr("(next_us - us) div 1000000"), lit(3600L)).cast(LongType)
    t.events
      .filter(col("value").isNotNull)
      .select(
        col("user_id"), col("value"),
        unix_micros(col("ts")).as("us"),
        unix_micros(lead(col("ts"), 1).over(w)).as("next_us"))
      .filter(col("next_us").isNotNull)
      .withColumn("dur_s", durS)
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n"),
        sum(col("dur_s")).as("total_s"),
        dbl(sum((dec(col("value")) * col("dur_s")).cast(DecimalType(38, 2)))
          .cast(DecimalType(38, 2))).as("num"))
      .select(
        col("user_id"), col("n"), col("total_s"),
        round(col("num") / col("total_s"), 6).as("twap"))
      .orderBy("user_id")
  }

  /** Robust per-type location/scale: median and MAD (median absolute
    * deviation) of event values — the outlier-resistant twin of
    * [[anomalyZscore]] (one extreme value moves a z-score's μ/σ but not
    * the median/MAD). EXACT cross-engine: values enter as integral cents
    * (round(value·100), exact for the 2-decimal amounts), the exact
    * `percentile` interpolates on the half-grid (x.0/x.5 — exact doubles),
    * deviations stay on the quarter-grid, and only the final projection
    * divides back to currency. Two grouped aggregates, both partial+final
    * on the event_type key; no window, no self-join.
    */
  def anomalyMad(t: Tables): DataFrame = {
    val e = t.events
      .filter(col("value").isNotNull)
      .select(col("event_type"), round(col("value") * 100).as("vc"))
    val med = e.groupBy("event_type")
      .agg(percentile(col("vc"), lit(0.5)).as("med_c"), count(lit(1)).as("n"))
    e.join(med, "event_type")
      .select(col("event_type"), col("med_c"), col("n"),
        abs(col("vc") - col("med_c")).as("dev"))
      .groupBy("event_type", "med_c", "n")
      .agg(percentile(col("dev"), lit(0.5)).as("mad_c"))
      .select(
        col("event_type"), col("n"),
        round(col("med_c") / 100.0, 6).as("med"),
        round(col("mad_c") / 100.0, 6).as("mad"))
      .orderBy("event_type")
  }

  def anomalyZscore(t: Tables): DataFrame = {
    val v = dec(col("value"))
    val stats = t.events
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        dbl(sum(v).cast(DecimalType(38, 2))).as("s1"),
        dbl(sum((v * v).cast(DecimalType(18, 4))).cast(DecimalType(38, 4))).as("s2"))
      .select(
        col("event_type"),
        (col("s1") / col("n")).as("mu"),
        sqrt((col("s2") - col("s1") * col("s1") / col("n")) / (col("n") - 1))
          .as("sigma"))
    val z = (col("value") - col("mu")) / col("sigma")
    t.events
      .join(broadcast(stats), "event_type")
      .filter(abs(z) > 3.0)
      .select(
        col("event_id"), col("event_type"), col("value"),
        round(z, 4).as("z"))
      .orderBy("event_id")
  }

  /** Sequence-pattern matching over each user's chronological event
    * stream — the MATCH_RECOGNIZE / CEP shape stated relationally: the
    * per-user event-type sequence is rendered as an initials string
    * (c=click, v=view, p=purchase, s=signup, e=error — all distinct) and
    * the funnel pattern `cv*p` (a click, any views, then a purchase) is
    * counted by non-overlapping regex scan. Both engines scan leftmost
    * non-overlapping, so counts agree exactly.
    *
    * One shuffle on user_id; the per-key collected sequence is bounded by
    * that user's event count — the same per-key bound every sessionization
    * op here carries. At 100 TB with unbounded-activity keys, the same
    * pattern runs over session-windowed sub-sequences (sessionize_gap
    * provides the boundaries) so no single key's buffer grows with
    * history. The (ts, event_id) sort key is a total order (event_id
    * unique), so the sequence string is deterministic under any shuffle.
    */
  def seqPattern(t: Tables): DataFrame = {
    val events = t.events
      .filter(col("user_id").isNotNull && col("event_type").isNotNull &&
        col("ts").isNotNull)
    events
      .select(col("user_id"),
        struct(col("ts"), col("event_id"),
          substring(col("event_type"), 1, 1).as("c")).as("e"))
      .groupBy("user_id")
      .agg(sort_array(collect_list(col("e"))).as("es"))
      .select(col("user_id"),
        array_join(transform(col("es"), e => e.getField("c")), "").as("seq"))
      .select(col("user_id"),
        length(col("seq")).cast("long").as("n_ev"),
        regexp_count(col("seq"), lit("cv*p")).cast("long").as("n_funnel"))
      .orderBy("user_id")
  }
  /** Total covered time per user under 30-minute event intervals with
    * overlaps merged — the classic interval-union sweep, restated as one
    * per-user ordered pass (NO self-join): an interval starts a new
    * island iff its start exceeds the running max of previous ends;
    * islands then aggregate by (user, island). All arithmetic is exact
    * integer micros; covered time is emitted in micros so both engines
    * compare integers. One user_id exchange; per-user window state is
    * O(1) (running max), the distributed-sweep shape that holds when one
    * user has millions of events.
    */
  def intervalUnionLength(t: Tables): DataFrame = {
    val wUs = 30L * 60 * 1000000L
    val iv = t.events
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id"), unix_micros(col("ts")).as("s"),
        (unix_micros(col("ts")) + wUs).as("e"))
    val w = Window.partitionBy("user_id").orderBy(col("s"), col("e"))
    val wPrev = w.rowsBetween(Window.unboundedPreceding, -1)
    iv
      .withColumn("prev_max_e", max(col("e")).over(wPrev))
      .withColumn("new_island",
        when(col("prev_max_e").isNull || col("s") > col("prev_max_e"), 1L).otherwise(0L))
      .withColumn("island", sum(col("new_island")).over(w))
      .groupBy("user_id", "island")
      .agg(min("s").as("is_s"), max("e").as("is_e"))
      .groupBy("user_id")
      .agg(
        count(lit(1)).cast("long").as("n_islands"),
        sum(col("is_e") - col("is_s")).cast("long").as("covered_us"))
      .orderBy("user_id")
  }

  /** Trailing-7-day distinct active users per calendar day — the rolling
    * engagement metric, computed WITHOUT a range self-join: each distinct
    * (user, day) pair is exploded to the ≤7 future days it keeps the user
    * active for (a bounded map-side Generate), deduplicated, and counted.
    * Shuffle is 7×|user-days| narrow pairs — linear, vs. the days×users
    * join a naive rolling-distinct states. Only days that exist in the
    * stream are reported (the semi join prunes the explode's overhang
    * past the last day).
    */
  def rollingActiveUsers(t: Tables): DataFrame = {
    val ud = t.events
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id"), col("ts").cast(DateType).as("day"))
      .distinct()
    val presentDays = ud.select(col("day")).distinct()
    ud
      .select(col("user_id"),
        explode(sequence(col("day"), date_add(col("day"), 6))).as("day"))
      .join(presentDays, Seq("day"), "left_semi")
      .groupBy("day")
      .agg(countDistinct(col("user_id")).cast("long").as("n_active_7d"))
      .orderBy("day")
  }

  /** Calendar-dimension generation: one row per day spanning the event
    * stream's observed range, with the derived attributes every
    * warehouse date dimension carries (ISO week, month, quarter,
    * DuckDB-axis day-of-week, weekend flag) plus that day's event count
    * (zero for gap days — the generated dimension exists precisely to
    * make absent days first-class). The span explodes from one
    * min/max aggregate row — dimension generation is O(days), never a
    * scan product — and the fact join is a date-keyed left join.
    */
  def dimCalendar(t: Tables): DataFrame = {
    val span = t.events.filter(col("ts").isNotNull)
      .agg(min(col("ts").cast(DateType)).as("d0"),
        max(col("ts").cast(DateType)).as("d1"))
    val days = span.select(explode(sequence(col("d0"), col("d1"))).as("day"))
    val daily = t.events.filter(col("ts").isNotNull)
      .groupBy(col("ts").cast(DateType).as("day"))
      .agg(count(lit(1)).cast(LongType).as("n_ev"))
    days.join(daily, Seq("day"), "left")
      .select(
        col("day"),
        year(col("day")).cast(IntegerType).as("yr"),
        weekofyear(col("day")).cast(IntegerType).as("iso_week"),
        month(col("day")).cast(IntegerType).as("mth"),
        quarter(col("day")).cast(IntegerType).as("qtr"),
        (dayofweek(col("day")) - 1).cast(IntegerType).as("dow"),
        (dayofweek(col("day")).isin(1, 7)).as("is_weekend"),
        coalesce(col("n_ev"), lit(0L)).as("n_ev"))
      .orderBy("day")
  }

  /** Linear multi-touch attribution: every purchase splits one unit of
    * credit equally across the SAME user's click/view touches in the
    * preceding 24 hours; purchases with no qualifying touch credit the
    * 'direct' channel — the marketing-attribution reduction (last-touch
    * / time-decay are weight variants of the same plan).
    *
    * Exactness: per-touch credit is round(10⁶/n) integral MICRO-credits
    * (both engines round the identical double), so the per-channel
    * reduction is an exact integer sum; one division back at the end.
    * The touch join is the 24 h interval join — at scale it rides the
    * time-bucketed rewrite ([[Temporal.joinIntervalBucketed]]); per-user
    * windows keep the pair volume Σ_user touches×purchases-per-day, not
    * rows².
    */
  def attributionLinear(t: Tables): DataFrame = {
    // event_id joins the guard: a null purchase id would double-count
    // (credited in touched AND never matching the left_anti, so counted
    // direct too) while the oracle's NOT IN would go three-valued
    val ev = t.events.filter(col("user_id").isNotNull && col("ts").isNotNull &&
      col("event_id").isNotNull)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_id"),
        unix_micros(col("ts")).as("p_us"))
    val touches = ev.filter(col("event_type").isin("click", "view"))
      .select(col("user_id"), col("event_type").as("channel"),
        unix_micros(col("ts")).as("t_us"))
    val dayUs = 24L * 3600L * 1000000L
    val pairs = purchases.join(touches, Seq("user_id"))
      .filter(col("t_us") < col("p_us") && col("t_us") >= col("p_us") - dayUs)
    val credited = pairs
      .withColumn("n_touch",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy("p_id")))
      .withColumn("credit_micro", round(lit(1e6) / col("n_touch")).cast(LongType))
    val touched = credited.groupBy("channel")
      .agg(
        count(lit(1)).cast(LongType).as("n_touches"),
        countDistinct(col("p_id")).cast(LongType).as("n_purchases"),
        sum(col("credit_micro")).as("cm"))
    val direct = purchases
      .join(credited.select("p_id").distinct(), Seq("p_id"), "left_anti")
      .agg(count(lit(1)).cast(LongType).as("n_purchases"))
      .select(lit("direct").as("channel"),
        col("n_purchases").as("n_touches"), col("n_purchases"),
        (col("n_purchases") * 1000000L).as("cm"))
    touched.unionAll(direct)
      .select(col("channel"), col("n_touches"), col("n_purchases"),
        round(col("cm").cast(DoubleType) / 1e6, 6).as("credit"))
      .orderBy("channel")
  }

  /** Lag-1..7 autocorrelation of the daily event-count series — the
    * periodicity diagnostic behind seasonality detection (a weekly cycle
    * shows as a lag-7 peak) and forecasting-model selection.
    *
    * Exactness: with μ = N/D, the D-scaled deviation d_t·D = x_t·D − N
    * is an exact integer, so both r_k's numerator Σ d_t·d_{t+k} and the
    * shared denominator Σ d_t² are exact integer sums (D²-scaling
    * cancels in the ratio); ONE double division per lag, rounded at 6.
    * Lags pair by CALENDAR offset (a date-keyed self-join over the
    * date-bounded daily table — [[tsChangepoint]]'s size class), so a
    * gapped series drops the missing pairs instead of sliding them.
    */
  def tsAutocorrelation(t: Tables, maxLag: Int = 7): DataFrame = {
    val daily = t.events.filter(col("ts").isNotNull)
      .groupBy(col("ts").cast(DateType).as("day"))
      .agg(count(lit(1)).cast(LongType).as("n_ev"))
    val totals = daily.select(
      sum(col("n_ev")).cast(LongType).as("n_tot"),
      count(lit(1)).cast(LongType).as("n_days"))
    val dev = daily.crossJoin(broadcast(totals))
      .select(col("day"),
        (col("n_ev") * col("n_days") - col("n_tot")).as("d"))
    val denom = dev.select(sum(col("d") * col("d")).as("den"))
    // pair by CALENDAR offset, not row offset — a gapped series must
    // not silently slide its lags (the oracle states the same join)
    val lags = t.spark.range(1, maxLag + 1)
      .select(col("id").cast(IntegerType).as("lag"))
    val a = dev.select(col("day").as("a_day"), col("d").as("d0"))
    val b = dev.select(col("day").as("b_day"), col("d").as("d1"))
    a.crossJoin(broadcast(lags))
      .join(b, col("b_day") === date_add(col("a_day"), col("lag")))
      .groupBy("lag")
      .agg(
        count(lit(1)).cast(LongType).as("n_pairs"),
        sum(col("d0") * col("d1")).as("num"))
      .crossJoin(broadcast(denom))
      .select(col("lag"), col("n_pairs"),
        round(col("num").cast(DoubleType) / col("den"), 6).as("acf"))
      .orderBy("lag")
  }

  /** Lagged CROSS-correlation between the daily click and purchase count
    * series — "do purchases follow clicks, and by how many days?", the
    * lead/lag diagnostic behind attribution-window and campaign-effect
    * analysis. r_k = corr(clicks_t, purchases_{t+k}) for k = 0..7.
    *
    * Both series live on the full day SPINE (min..max observed day,
    * gap days = 0) so a quiet day counts as zero signal instead of
    * silently contracting the series — and the spine makes the pair
    * count per lag a pure function of the date range. Exactness is
    * [[tsAutocorrelation]]'s scheme, per series: with D spine days and
    * series total N, the D-scaled deviation x_t·D − N is an exact
    * integer, every cross-product and both denominator sums reduce as
    * exact integers, and the one double division per lag happens in the
    * final projection (denominator = √(Σdx²·Σdy²): each sum ≤ ~3e11 —
    * double-exact — and the product/√ are deterministic IEEE on both
    * engines).
    */
  def tsCrossCorrelation(t: Tables, maxLag: Int = 7): DataFrame = {
    val daily = t.events
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .groupBy(col("ts").cast(DateType).as("day"))
      .agg(
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("x"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("y"))
    val spine = daily.select(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(explode(sequence(col("d0"), col("d1"))).as("day"))
    val series = spine.join(daily, Seq("day"), "left")
      .select(col("day"),
        coalesce(col("x"), lit(0L)).as("x"), coalesce(col("y"), lit(0L)).as("y"))
    val tot = series.select(
      sum(col("x")).cast(LongType).as("nx"),
      sum(col("y")).cast(LongType).as("ny"),
      count(lit(1)).cast(LongType).as("d"))
    val dev = series.crossJoin(broadcast(tot))
      .select(col("day"),
        (col("x") * col("d") - col("nx")).as("dx"),
        (col("y") * col("d") - col("ny")).as("dy"))
    val den = dev.select(
      sum(col("dx") * col("dx")).as("sxx"),
      sum(col("dy") * col("dy")).as("syy"))
    val lags = t.spark.range(0, maxLag + 1)
      .select(col("id").cast(IntegerType).as("lag"))
    val a = dev.select(col("day").as("a_day"), col("dx"))
    val b = dev.select(col("day").as("b_day"), col("dy"))
    a.crossJoin(broadcast(lags))
      .join(b, col("b_day") === date_add(col("a_day"), col("lag")))
      .groupBy("lag")
      .agg(
        count(lit(1)).cast(LongType).as("n_pairs"),
        sum(col("dx") * col("dy")).as("num"))
      .crossJoin(broadcast(den))
      .select(col("lag"), col("n_pairs"),
        round(col("num").cast(DoubleType) /
          sqrt(col("sxx").cast(DoubleType) * col("syy").cast(DoubleType)), 6).as("ccf"))
      .orderBy("lag")
  }

  /** RFM customer segmentation: recency (last order date), frequency
    * (order count), monetary (decimal-exact lifetime spend) per
    * customer, each mapped to a 1–5 quintile score, then composed into
    * the classic marketing segments (champion / loyal / big_spender /
    * at_risk / hibernating / regular).
    *
    * The quintile rank does NOT use a global ntile window (a
    * single-executor sort over every customer at scale): each metric is
    * encoded with its custkey tie-break into one unique long —
    * (metric ≪ 20) | custkey, exactly lexicographic because custkey is
    * non-negative and < 2^20 here; a wider id space widens the shift —
    * and ranked with [[Windows.globalRank]]'s two-pass range-partition
    * rank (O(parts) driver state). The bucket formula
    * `(rank−1)·5 div n + 1` is stated identically by the oracle over
    * the equivalent (metric, custkey) ROW_NUMBER ordering, so both
    * engines land every tie in the same quintile deterministically.
    */
  def behaviorRfm(t: Tables): DataFrame = {
    val shift = 1L << 20
    val base = t.orders
      .filter(col("o_custkey").isNotNull && col("o_orderdate").isNotNull)
      .groupBy(col("o_custkey").as("custkey"))
      .agg(
        max(col("o_orderdate").cast(DateType)).as("last_date"),
        count(lit(1)).cast(LongType).as("freq"),
        (sum(dec(col("o_totalprice"))).cast(DecimalType(38, 2)) * 100)
          .cast(LongType).as("mon_cents"))
      // packing-bound enforcement (same discipline as abc_analysis):
      // custkey < 2^20 and every metric small enough that metric·2^20
      // stays in int64 — violations must error loudly, not mis-rank
      .filter(coalesce(assert_true(
        col("custkey") >= 0 && col("custkey") < shift &&
          col("mon_cents") < Long.MaxValue / shift,
        lit("behavior_rfm key packing out of range: widen the shift")), lit(true)))
      .withColumn("r_key",
        datediff(col("last_date"), lit("1990-01-01").cast(DateType))
          .cast(LongType) * shift + col("custkey"))
      .withColumn("f_key", col("freq") * shift + col("custkey"))
      .withColumn("m_key", col("mon_cents") * shift + col("custkey"))
    // rank stats memoized (the range-statistics-memo discipline): the
    // three metrics' cut points + counts are table statistics of the
    // orders aggregate, not per-invocation work
    def score(df: DataFrame, key: String, out: String): DataFrame = {
      val (ranked, n) = Windows.globalRank(df, key,
        memo = graft.util.Memo.Key("rfm_rank", t.sfDir, "orders").and(key))
      ranked.withColumn(out, expr(s"((rk - 1) * 5) div $n + 1").cast(IntegerType))
        .drop("rk")
    }
    val scored = score(score(score(base, "r_key", "r_score"),
      "f_key", "f_score"), "m_key", "m_score")
    scored
      .select(
        col("custkey"), col("last_date"), col("freq"),
        dbl(col("mon_cents") / 100).as("monetary"),
        col("r_score"), col("f_score"), col("m_score"),
        when(col("r_score") >= 4 && col("f_score") >= 4 && col("m_score") >= 4, "champion")
          .when(col("f_score") >= 4, "loyal")
          .when(col("m_score") === 5, "big_spender")
          .when(col("r_score") <= 2 && (col("f_score") >= 3 || col("m_score") >= 3), "at_risk")
          .when(col("r_score") <= 2, "hibernating")
          .otherwise("regular").as("segment"))
      .orderBy("custkey")
  }

  /** Per-user inter-arrival statistics: the gap (µs) between each
    * consecutive pair of a user's events in (ts, event_id) order —
    * count, min, max, and mean gap per user. The arrival-process
    * profile behind rate limiting, bot detection, and session-gap
    * tuning. Gaps are exact integer µs from one lag window; the mean's
    * single division happens in the final projection. One shuffle on
    * user_id; windows bounded per user.
    */
  def tsInterarrival(t: Tables): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    t.events
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id"),
        (unix_micros(col("ts")) -
          unix_micros(lag(col("ts"), 1).over(w))).as("gap_us"))
      .filter(col("gap_us").isNotNull)
      .groupBy("user_id")
      .agg(
        count(lit(1)).cast(LongType).as("n_gaps"),
        min(col("gap_us")).cast(LongType).as("min_us"),
        max(col("gap_us")).cast(LongType).as("max_us"),
        round(sum(col("gap_us")).cast(DoubleType) / count(lit(1)), 3).as("avg_us"))
      .orderBy("user_id")
  }

  /** CUSUM changepoint scan over the daily event-count series: the
    * cumulative sum of deviations from the series mean, whose extremum
    * marks the most likely single level-shift point (Page 1954's CUSUM,
    * in its offline scan form).
    *
    * Exactness: with μ = N/D (total events over D days), the k-th
    * cumulative deviation scaled by D is Σ_{i≤k} n_i·D − k·N — pure
    * BIGINT arithmetic, so the extremum argmax compares exact integers;
    * the one division (and the float `cusum` column) happen in the final
    * projection. The daily series is date-bounded, not row-bounded, so
    * the single ordered window over it is a vocabulary-sized driver-safe
    * scan — same class as [[FeatureStats.statsKsTest]]'s EDF walk.
    * `is_peak` marks the day(s) achieving the extremum.
    */
  def tsChangepoint(t: Tables): DataFrame = {
    val daily = t.events.filter(col("ts").isNotNull)
      .groupBy(col("ts").cast(DateType).as("day"))
      .agg(count(lit(1)).cast(LongType).as("n_ev"))
    val totals = daily.select(
      sum(col("n_ev")).cast(LongType).as("n_tot"),
      count(lit(1)).cast(LongType).as("n_days"))
    val w = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val scanned = daily
      .crossJoin(broadcast(totals))
      .select(col("day"), col("n_ev"), col("n_tot"), col("n_days"),
        (sum(col("n_ev")).over(w) * col("n_days") -
          count(lit(1)).over(w) * col("n_tot")).as("cusum_scaled"))
    val peak = scanned
      .select(max(abs(col("cusum_scaled"))).as("peak_abs"))
    scanned
      .crossJoin(broadcast(peak))
      .select(
        col("day"), col("n_ev"),
        round(col("cusum_scaled").cast(DoubleType) / col("n_days"), 6).as("cusum"),
        (abs(col("cusum_scaled")) === col("peak_abs")).as("is_peak"))
      .orderBy("day")
  }

  /** Weekly seasonality profile: event volume per (day-of-week, hour)
    * cell with each cell's share of total traffic and its ratio against
    * the uniform 1/168 expectation — the "when is this system busy"
    * heatmap behind capacity planning and anomaly baselines.
    *
    * dow is emitted on DuckDB's 0=Sunday..6=Saturday axis (Spark's
    * `dayofweek` is 1-based on the same Sunday origin, hence the −1).
    * One vocabulary-sized (≤168 keys) hash aggregate; the total
    * broadcasts back. Exact integer counts; the two divisions happen
    * once each in the final projection.
    */
  def tsSeasonality(t: Tables): DataFrame = {
    val cells = t.events
      .filter(col("ts").isNotNull)
      .groupBy(
        (dayofweek(col("ts")) - 1).cast(IntegerType).as("dow"),
        hour(col("ts")).cast(IntegerType).as("hod"))
      .agg(count(lit(1)).cast(LongType).as("n_ev"))
    val total = cells.select(sum(col("n_ev")).cast(LongType).as("n_tot"))
    cells
      .crossJoin(broadcast(total))
      .select(
        col("dow"), col("hod"), col("n_ev"),
        round(col("n_ev").cast(DoubleType) / col("n_tot"), 6).as("share"),
        round(col("n_ev").cast(DoubleType) * 168d / col("n_tot"), 6).as("vs_uniform"))
      .orderBy("dow", "hod")
  }
}
