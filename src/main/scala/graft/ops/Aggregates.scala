package graft.ops

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import Relational.{dbl, dec}

/** Aggregation operators (SURVEY.md §2.2). All run as partial+final
  * HashAggregate (map-side combine before the shuffle), which is the shape
  * that scales: shuffle volume is #groups, not #rows. Determinism rules
  * from §2.4: decimal sums, no built-in AVG on doubles, NULLS FIRST stated
  * explicitly wherever rollup/cube introduce NULL group keys.
  */
object Aggregates {

  /** TPC-H Q1 shape. */
  def aggHashQ1(t: Tables): DataFrame =
    t.lineitem
      .filter(col("l_shipdate") <= lit("1998-09-02 00:00:00").cast(TimestampType))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        dbl(sum(dec(col("l_quantity"))).cast(DecimalType(38, 2))).as("sum_qty"),
        dbl(sum(dec(col("l_extendedprice"))).cast(DecimalType(38, 2))).as("sum_base"),
        dbl(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
          .cast(DecimalType(38, 4))).as("sum_disc"),
        count(lit(1)).as("cnt"))
      .orderBy("l_returnflag", "l_linestatus")

  /** AVG via exact decimal SUM / COUNT (§2.4 rule 3) — built-in AVG on
    * doubles accumulates in engine-specific order.
    */
  def aggAvg(t: Tables): DataFrame =
    t.customer
      .groupBy("c_mktsegment")
      .agg(
        round(sum(dec(col("c_acctbal"))).cast(DoubleType) / count(lit(1)), 4)
          .as("avg_bal"),
        count(lit(1)).as("n"))
      .orderBy("c_mktsegment")

  def aggMinmax(t: Tables): DataFrame =
    t.orders
      .groupBy("o_orderpriority")
      .agg(
        dbl(min(dec(col("o_totalprice")))).as("mn"),
        dbl(max(dec(col("o_totalprice")))).as("mx"),
        min(col("o_orderdate").cast(DateType)).as("dmn"),
        max(col("o_orderdate").cast(DateType)).as("dmx"))
      .orderBy("o_orderpriority")

  /** Exact distinct → Expand + two-phase aggregate. */
  def aggCountDistinct(t: Tables): DataFrame =
    t.customer
      .groupBy("c_mktsegment")
      .agg(
        countDistinct(col("c_nationkey")).as("nations"),
        countDistinct(col("c_nationkey") / 5).as("regions_approx"))
      .orderBy("c_mktsegment")

  def aggHaving(t: Tables): DataFrame =
    t.orders
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= 20)
      .orderBy("o_custkey")

  def aggGroupingSets(t: Tables): DataFrame =
    t.lineitem
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")), Seq(col("l_returnflag")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))

  /** Predicate aggregates (`count_if` / `bool_and` / `bool_or`): the
    * assertion-style rollups a data-quality dashboard is made of —
    * "how many rows violate", "does EVERY row satisfy", "does ANY".
    * NULL-explicit predicates so a NULL never silently counts as a
    * pass; one partial+final aggregate.
    */
  def aggBool(t: Tables): DataFrame =
    t.lineitem
      .groupBy("l_returnflag")
      .agg(
        expr("count_if(l_quantity > 25)").as("n_bulk"),
        expr("bool_and(l_extendedprice > 0)").as("all_priced"),
        expr("bool_or(l_discount > 0.09)").as("any_deep_disc"),
        expr("count_if(l_discount = 0)").as("n_zero_disc"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")

  /** `grouping()` / `grouping_id()` — the functions that make CUBE/ROLLUP
    * output MACHINE-READABLE: a NULL group key is ambiguous (real NULL
    * data vs a rolled-up level) and the grouping bitmask is the only
    * sound disambiguator; every downstream consumer of a cube keys on
    * it. Same partial+final Expand-aggregate plan as the cube itself.
    */
  def aggGroupingId(t: Tables): DataFrame =
    t.lineitem
      .cube("l_returnflag", "l_linestatus")
      .agg(
        grouping(col("l_returnflag")).cast(LongType).as("g_flag"),
        grouping(col("l_linestatus")).cast(LongType).as("g_status"),
        grouping_id().cast(LongType).as("gid"),
        count(lit(1)).as("cnt"))
      .orderBy(asc("gid"),
        asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))

  def aggRollup(t: Tables): DataFrame =
    t.lineitem
      .rollup("l_returnflag", "l_linestatus")
      .agg(dbl(sum(dec(col("l_quantity"))).cast(DecimalType(38, 2))).as("q"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))

  def aggCube(t: Tables): DataFrame =
    t.orders
      .cube("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"))

  def aggStddev(t: Tables): DataFrame =
    t.customer
      .groupBy("c_mktsegment")
      .agg(
        round(stddev_samp(col("c_acctbal")), 2).as("sd"),
        round(var_samp(col("c_acctbal")), 1).as("vr"))
      .orderBy("c_mktsegment")

  /** HyperLogLog++ approximate distinct beside the exact count. Sketches
    * are engine-specific → no cross-engine oracle (rows-only driver check;
    * ApproxMapSpec asserts the ε bound vs exact). At 100 TB this is THE
    * cardinality tool: fixed-size sketch, one pass, mergeable.
    */
  def aggApproxDistinct(t: Tables): DataFrame = {
    // The exact distinct runs in its OWN aggregate: mixed with the HLL
    // aggs, Spark plans count(DISTINCT) by expanding the grouping to
    // (flag, orderkey) and drags the partial HLL buffers (16 KB each at
    // rsd 0.01) through every one of those fine groups — measured 7.3 s
    // vs 1.5 s split at sf0.1 (r16). Two scans of the cached table are
    // far cheaper than per-distinct-group sketch state; HLL register
    // merge is a max, so the split changes no estimate.
    val exact = t.lineitem
      .groupBy("l_returnflag")
      .agg(countDistinct(col("l_orderkey")).as("exact_orders"))
    val approx = t.lineitem
      .groupBy("l_returnflag")
      .agg(
        approx_count_distinct(col("l_orderkey")).as("approx_orders"),
        approx_count_distinct(col("l_partkey"), 0.01).as("approx_parts"))
    exact.join(approx, "l_returnflag").orderBy("l_returnflag")
  }

  /** Mergeable HLL sketches — the PRE-AGGREGATION pattern that changes
    * the rollup equation at 100 TB: distinct-user sketches are built once
    * per day (`hll_sketch_agg`, DataSketches HLL), persisted beside the
    * daily aggregates, and ANY later rollup (weekly, total, ad-hoc window)
    * unions the day sketches (`hll_union_agg`) without rescanning a row of
    * raw data. The query emits the daily exacts plus the total-rollup
    * estimate from BOTH paths — union-of-daily-sketches and one direct
    * sketch over all rows. HLL register merge is a max (commutative and
    * associative), so the merged REGISTERS are identical no matter how
    * partitions interleave; the reported estimates agree to estimator
    * tolerance (exactly equal while sketches stay in sparse mode — a
    * dense streaming sketch reads out via the HIP estimator while a union
    * result uses the composite estimator, which can differ by a few
    * counts on identical registers). HllSpec pins that agreement, the
    * ε-accuracy envelope vs the exact distinct, and stability across a
    * repartition. Sketch registers are engine-specific (no cross-engine
    * oracle): rows-only driver check, like the other sketch surfaces.
    */
  def aggHllMergeable(t: Tables): DataFrame = {
    val ev = t.events
      .filter(col("user_id").isNotNull)
      .select(to_date(col("ts")).as("day"), col("user_id"))
    val daily = ev.groupBy("day")
      .agg(hll_sketch_agg(col("user_id")).as("sk"),
        countDistinct(col("user_id")).as("exact_day_users"))
    val rollup = daily.agg(
      count(lit(1)).as("n_days"),
      sum(col("exact_day_users")).as("sum_day_users"),
      hll_sketch_estimate(hll_union_agg(col("sk"))).as("est_union"))
    val direct = ev.agg(
      hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("est_direct"),
      countDistinct(col("user_id")).as("exact_total"))
    rollup.crossJoin(direct)
      .select(col("n_days"), col("sum_day_users"),
        col("est_union").cast("long").as("est_union"),
        col("est_direct").cast("long").as("est_direct"),
        col("exact_total"))
  }

  /** Mergeable-sketch quantiles (Greenwald–Khanna via percentile_approx)
    * next to their exact values — the 100 TB quantile path, where the
    * exact per-group sort is replaced by an O(1/ε)-sized mergeable summary
    * per partition. Sketch contents depend on partition merge order, so
    * like the HLL surface this is a rows-only driver check; the ε
    * guarantee itself is pinned by ApproxQuantileSpec (approx within the
    * exact [p−ε, p+ε] quantile envelope at accuracy 1/ε = 1000).
    */
  def aggApproxQuantile(t: Tables): DataFrame =
    t.lineitem
      .groupBy("l_returnflag")
      .agg(
        percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000))
          .cast("double").as("approx_p50"),
        percentile_approx(col("l_extendedprice"), lit(0.9), lit(1000))
          .cast("double").as("approx_p90"),
        percentile(col("l_extendedprice").cast("double"), lit(0.5)).as("exact_p50"),
        percentile(col("l_extendedprice").cast("double"), lit(0.9)).as("exact_p90"))
      .orderBy("l_returnflag")

  /** Exact percentiles (linear interpolation — same definition as the
    * oracle's quantile_cont). Exact percentile sorts within groups; the
    * approximate path at 100 TB is percentile_approx (same plan shape,
    * mergeable sketch).
    */
  def aggPercentile(t: Tables): DataFrame =
    t.lineitem
      .groupBy("l_returnflag")
      .agg(
        round(expr("percentile(l_quantity, 0.25)"), 4).as("q25"),
        round(expr("percentile(l_quantity, 0.5)"), 4).as("q50"),
        round(expr("percentile(l_quantity, 0.75)"), 4).as("q75"))
      .orderBy("l_returnflag")

  /** Per-group Pearson correlation and sample covariance from
    * DECIMAL-exact moment sums (n, Σx, Σy, Σxy, Σx², Σy²). The built-in
    * `corr`/`covar_samp` stream doubles through a merge tree whose
    * association order depends on partitioning — nondeterministic across
    * engines AND across cluster sizes. Exact decimal moments cast to
    * double once, then one fixed IEEE expression on both engines, are
    * bit-stable at any parallelism. All six moments come out of a single
    * partial+final HashAggregate pass (shuffle volume = #groups × 6).
    * Scaled magnitudes stay far below the 2^53 render bound (§2.4):
    * Σx² ≤ 2500·|group| at scale 4.
    */
  def aggCorr(t: Tables): DataFrame = {
    val x = dec(col("l_quantity"))
    val y = dec(col("l_discount"))
    val st = t.lineitem
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        dbl(sum(x).cast(DecimalType(38, 2))).as("sx"),
        dbl(sum(y).cast(DecimalType(38, 2))).as("sy"),
        dbl(sum((x * y).cast(DecimalType(18, 4))).cast(DecimalType(38, 4))).as("sxy"),
        dbl(sum((x * x).cast(DecimalType(18, 4))).cast(DecimalType(38, 4))).as("sxx"),
        dbl(sum((y * y).cast(DecimalType(18, 4))).cast(DecimalType(38, 4))).as("syy"))
    st.select(
      col("l_returnflag"), col("n"),
      round((col("n") * col("sxy") - col("sx") * col("sy")) /
        (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
          sqrt(col("n") * col("syy") - col("sy") * col("sy"))), 6).as("corr_qd"),
      round((col("sxy") - col("sx") * col("sy") / col("n")) / (col("n") - 1), 6)
        .as("covar_qd"))
      .orderBy("l_returnflag")
  }

  /** Simple linear regression y = a·x + b per group (y = extended price
    * over x = quantity) from the same decimal-exact moments as [[aggCorr]]
    * — partitioning-independent sums, so the distributed answer can't
    * drift from the single-node oracle by float reassociation; division
    * happens once, in the final projection. The 100 TB shape is identical:
    * one partial+final aggregate, five moment columns.
    */
  def aggRegression(t: Tables): DataFrame = {
    val x = dec(col("l_quantity"))
    val y = dec(col("l_extendedprice"))
    val st = t.lineitem
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        dbl(sum(x).cast(DecimalType(38, 2))).as("sx"),
        dbl(sum(y).cast(DecimalType(38, 2))).as("sy"),
        dbl(sum((x * y).cast(DecimalType(28, 4))).cast(DecimalType(38, 4))).as("sxy"),
        dbl(sum((x * x).cast(DecimalType(18, 4))).cast(DecimalType(38, 4))).as("sxx"))
    st.select(
      col("l_returnflag"), col("n"),
      round((col("n") * col("sxy") - col("sx") * col("sy")) /
        (col("n") * col("sxx") - col("sx") * col("sx")), 6).as("slope"),
      round((col("sy") - col("sx") *
        ((col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx")))) / col("n"), 6)
        .as("intercept"))
      .orderBy("l_returnflag")
  }

  /** Equi-DEPTH histogram (10 buckets of equal row count) over event
    * values — the quantile-bucket twin of the fixed-width agg_histogram.
    * Bucket assignment needs each row's global rank; that reuses the
    * scale-safe two-pass [[Windows.globalRank]] (range cuts + per-range
    * offsets, O(parts) driver state) rather than a single-partition
    * window, so the plan holds at any row count. All outputs are exact
    * integers/cents — fully oracle-checkable.
    */
  def aggHistogramEquiDepth(t: Tables, buckets: Int = 10): DataFrame = {
    val KeyScale = 2147483648L // 2^31: vc (≤ ~10^6 cents) and event_id both fit 31 bits
    val c = t.events
      .filter(col("value").isNotNull)
      .select(col("event_id"),
        round(col("value") * 100).cast("long").as("vc"))
      // Per-row packing guard (codegen'd, no extra scan): a negative /
      // ≥2^31 event_id or |vc| ≥ 2^31 (values above ~$21M) would silently
      // corrupt the rank order the bucket assignment depends on — fail
      // loudly instead.
      .select(col("event_id"), col("vc"),
        when(col("event_id") < 0 || col("event_id") >= KeyScale || abs(col("vc")) >= KeyScale,
          raise_error(concat(
            lit("aggHistogramEquiDepth: skey packing precondition violated "),
            lit("(need 0 <= event_id < 2^31 and |vc| < 2^31), event_id="),
            col("event_id").cast("string"), lit(", vc="), col("vc").cast("string"))))
          .otherwise(col("vc") * KeyScale + col("event_id")).as("skey"))
    val (ranked, n) = Windows.globalRank(c, "skey",
      memo = graft.util.Memo.Key("hist_equidepth_rank", t.sfDir, "events"))
    ranked
      .select(col("vc"),
        expr(s"CAST(((rk - 1) * $buckets) DIV $n AS INT)").as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_rows"), min(col("vc")).as("lo_c"), max(col("vc")).as("hi_c"))
      .orderBy("bucket")
  }

  /** Statistical mode per group with a total tie-break (highest count,
    * then smallest value — without it the answer is engine-dependent
    * whenever two values tie). Two-level shape: the (group, value) count
    * is partial+final, then the top-1 window runs over the already-reduced
    * counts table (#groups × #distinct values rows, not #rows), so the
    * expensive pass is a plain scalable aggregation.
    */
  def aggMode(t: Tables): DataFrame = {
    val counts = t.lineitem
      .groupBy(col("l_returnflag"), col("l_quantity"))
      .agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("l_returnflag").orderBy(desc("cnt"), asc("l_quantity"))
    counts
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("l_returnflag"), dbl(col("l_quantity")).as("mode_qty"), col("cnt"))
      .orderBy("l_returnflag")
  }

  /** Higher-moment shape statistics (population skewness g1 = m3/m2^1.5
    * and excess kurtosis g2 = m4/m2² − 3) per event type, from
    * decimal-EXACT raw moments like [[aggCorr]]/[[aggRegression]] — one
    * partial+final pass, shuffle volume = #groups × 5.
    *
    * Magnitude discipline (§2.4): values are quantized to integer DOLLARS
    * and shifted by a fixed anchor (245 ≈ the value midpoint) before the
    * power sums. Central moments are shift-invariant, so the anchor never
    * changes the answer — it exists purely to keep Σd⁴ below the 2^53
    * decimal→double render bound (|d| ≤ 245 ⇒ Σd⁴ ≤ 3.7e9·|group|, safe
    * through sf100), where cents-scale fourth powers would blow past it at
    * sf0.1. Built-in skewness()/kurtosis() stream float moments and are
    * partitioning-order-dependent; these sums are integers, so the
    * distributed answer is bit-stable at any parallelism.
    */
  def aggSkewKurt(t: Tables, anchor: Int = 245): DataFrame = {
    val d = (round(col("value")) - anchor).cast(DecimalType(18, 0))
    val st = t.events
      .filter(col("value").isNotNull && col("event_type").isNotNull)
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        dbl(sum(d).cast(DecimalType(38, 0))).as("s1"),
        dbl(sum((d * d).cast(DecimalType(18, 0))).cast(DecimalType(38, 0))).as("s2"),
        dbl(sum((d * d * d).cast(DecimalType(28, 0))).cast(DecimalType(38, 0))).as("s3"),
        dbl(sum((d * d * d * d).cast(DecimalType(38, 0))).cast(DecimalType(38, 0))).as("s4"))
    // One fixed IEEE expression over exact-integer doubles on both
    // engines; the oracle mirrors this parse tree token for token.
    val n = col("n").cast(DoubleType)
    val mean = col("s1") / n
    val m2 = col("s2") / n - mean * mean
    val m3 = col("s3") / n - lit(3) * mean * (col("s2") / n) + lit(2) * mean * mean * mean
    val m4 = col("s4") / n - lit(4) * mean * (col("s3") / n) +
      lit(6) * mean * mean * (col("s2") / n) - lit(3) * mean * mean * mean * mean
    st.select(
      col("event_type"), col("n"),
      round(m3 / sqrt(m2 * m2 * m2), 6).as("skew"),
      round(m4 / (m2 * m2) - lit(3), 6).as("kurt"))
      .orderBy("event_type")
  }

  /** Array-valued aggregate; sort_array makes the list order deterministic
    * regardless of shuffle arrival order. The array is rendered as a
    * comma-joined string in the final projection — the driver's pandas
    * row-sort cannot sort ndarray cells (unhashable), so array outputs
    * must leave the engine as canonical strings.
    */
  def aggCollectList(t: Tables): DataFrame =
    t.lineitem
      .filter(col("l_orderkey") < 200)
      .groupBy("l_orderkey")
      .agg(sort_array(collect_list(col("l_linenumber"))).as("arr"))
      .select(
        col("l_orderkey"),
        array_join(transform(col("arr"), _.cast(StringType)), ",").as("lines"))
      .orderBy("l_orderkey")

  /** ARGMAX/ARGMIN surface (`max_by`/`min_by`): per nation, the customer
    * holding the best and worst account balance — one partial+final
    * aggregate, never a self-join or ranked window. Ties are resolved by
    * ordering on (cents, custkey) structs — a TOTAL order (custkey
    * unique), so the picked ids are partitioning-independent (§2.4): top
    * breaks balance ties toward the LARGER custkey (struct max), bottom
    * toward the smaller. Balances ride as integral cents; max/min(cents)
    * is by construction the balance of the picked rows.
    */
  def aggArgmax(t: Tables): DataFrame = {
    val cents = (dec(col("c_acctbal")) * 100).cast(LongType)
    val ord = struct(col("cents"), col("c_custkey"))
    t.customer
      .select(col("c_nationkey"), col("c_custkey"), cents.as("cents"))
      .groupBy("c_nationkey")
      .agg(
        max_by(col("c_custkey"), ord).as("top_cust"),
        (max(col("cents")) / 100.0).as("top_bal"),
        min_by(col("c_custkey"), ord).as("bottom_cust"),
        (min(col("cents")) / 100.0).as("bottom_bal"))
      .orderBy("c_nationkey")
  }

  /** ABC (Pareto 80/20) classification of parts by revenue: each part's
    * lifetime net revenue, its cumulative share of the total in
    * descending-revenue order, and the classic A (first 80% of revenue)
    * / B (next 15%) / C (tail 5%) class — the inventory-prioritization
    * sweep every supply-chain report runs.
    *
    * Exactness: revenue is a decimal-exact cents sum per part; the
    * descending order is made total by the unique (cents ≪ 20) | partkey
    * encoding (ascending rank on the NEGATED key = descending revenue).
    * Rank AND cumulative revenue both come from
    * [[Windows.globalRankCum]]'s two-pass range-partition sweep: the
    * memoized per-range statistics carry revenue partials alongside row
    * counts, so the running sum is a per-range LOCAL window seeded by a
    * driver offset and the grand total is an O(1) driver scalar — no
    * single-partition WindowExec anywhere in the plan, at any catalog
    * size. Class boundaries compare exact integer cumulative cents
    * against thresholds of the exact total (cum·100 ≤ total·80), so both
    * engines classify every part identically with no float boundary.
    */
  def abcAnalysis(t: Tables): DataFrame = {
    val shift = 1L << 20
    val perPart = t.lineitem
      .groupBy(col("l_partkey").as("partkey"))
      .agg((sum((dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
        .cast(DecimalType(28, 4))).cast(DecimalType(38, 4)) * 10000)
        .cast(LongType).as("rev_tenth_cents"))
    // unique ascending key = (-revenue, partkey): rank 1 = top revenue.
    // The packing is only a total order while partkey < 2^20 and the
    // shifted revenue stays in int64 — ENFORCED per row (the filter
    // wrapper defeats column pruning; coalesce(NULL-on-success, true)
    // keeps every row), not just documented: silent rank corruption at
    // a larger SF must be a loud error, never a wrong A/B/C class.
    val keyed = perPart
      .filter(coalesce(assert_true(
        col("partkey") >= 0 && col("partkey") < shift &&
          col("rev_tenth_cents") < Long.MaxValue / shift,
        lit("abc_analysis key packing out of range: widen the shift")), lit(true)))
      .withColumn("nkey", -(col("rev_tenth_cents") * shift) + col("partkey"))
    val (ranked, _, totRev) = Windows.globalRankCum(keyed, "nkey",
      "rev_tenth_cents", memo = graft.util.Memo.Key("abc_rank", t.sfDir, "lineitem"))
    ranked
      .withColumn("tot", lit(totRev))
      .select(
        col("partkey"), col("rk").as("rev_rank"),
        // 4 dp: the exact value has ≤4 decimals, so rounding at its own
        // precision can never land on a cross-engine half-way tie (2 dp
        // hit one: ...6.525 → HALF_UP vs round-half-even divergence)
        round(col("rev_tenth_cents").cast(DoubleType) / 10000d, 4).as("revenue"),
        round(col("cum").cast(DoubleType) / col("tot"), 6).as("cum_share"),
        when(col("cum") * 100 <= col("tot") * 80, "A")
          .when(col("cum") * 100 <= col("tot") * 95, "B")
          .otherwise("C").as("abc_class"))
      .orderBy("rev_rank")
  }

  /** Gini coefficient of customer lifetime spend — the concentration
    * measure behind "how skewed is our revenue over customers" (and, in
    * a data pipeline, over sources/domains). Computed from the sorted
    * formula G = (2·Σ i·xᵢ)/(n·Σxᵢ) − (n+1)/n with EXACT integer
    * operands: spend in cents, ranks from the same two-pass global rank
    * as [[abcAnalysis]] (ascending (cents, custkey) unique key), and
    * Σ i·xᵢ ≤ n·Σx ≈ 1.5e4·1e10 = 1.5e14 at sf0.1 — inside int64. ONE
    * double expression at the end, identical on both engines.
    */
  def aggGini(t: Tables): DataFrame = {
    val shift = 1L << 20
    val spend = t.orders
      .filter(col("o_custkey").isNotNull)
      .groupBy(col("o_custkey").as("custkey"))
      .agg((sum(dec(col("o_totalprice"))).cast(DecimalType(38, 2)) * 100)
        .cast(LongType).as("cents"))
      // same packing-bound enforcement as [[abcAnalysis]]
      .filter(coalesce(assert_true(
        col("custkey") >= 0 && col("custkey") < shift &&
          col("cents") < Long.MaxValue / shift,
        lit("agg_gini key packing out of range: widen the shift")), lit(true)))
      .withColumn("key", col("cents") * shift + col("custkey"))
    val (ranked, n) = Windows.globalRank(spend, "key",
      memo = graft.util.Memo.Key("gini_rank", t.sfDir, "orders"))
    ranked
      .select(sum(col("rk") * col("cents")).as("ws"),
        sum(col("cents")).as("s"))
      .select(
        lit(n).as("n_customers"),
        round(col("s").cast(DoubleType) / 100d, 2).as("total_spend"),
        round(lit(2d) * col("ws") / (lit(n.toDouble) * col("s")) -
          (n + 1).toDouble / n, 6).as("gini"))
  }

  /** Exact WEIGHTED median per group — the robust central-tendency
    * aggregate (here: per-brand retail price with shelf volume `p_size`
    * as the weight; the lower weighted median = smallest price whose
    * cumulative weight reaches half the total).
    *
    * Scale shape: rows collapse to (group, DISTINCT value) weight sums
    * first — a partial+final hash aggregate, shuffle volume = support
    * size, not row count — and the cumulative walk then runs per group
    * over that value-bounded support (same class as [[FeatureStats
    * .statsKsTest]]'s EDF walk). Pure integers throughout: prices in
    * cents, weights summed as int64, the half-total test stated as
    * `2·cum ≥ total` so no division ever happens.
    */
  def aggWeightedMedian(t: Tables): DataFrame = {
    val perValue = t.part
      .filter(col("p_retailprice").isNotNull && col("p_size").isNotNull)
      .groupBy(col("p_brand"),
        round(col("p_retailprice") * 100).cast(LongType).as("cents"))
      .agg(sum(col("p_size").cast(LongType)).as("w"))
    val w = Window.partitionBy("p_brand").orderBy("cents")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perValue
      .select(col("p_brand"), col("cents"),
        sum(col("w")).over(w).as("cum"),
        sum(col("w")).over(Window.partitionBy("p_brand")).as("tot"))
      .filter(col("cum") * 2 >= col("tot"))
      .groupBy("p_brand")
      .agg(min(col("cents")).as("med_cents"), max(col("tot")).as("tot"))
      .select(col("p_brand"),
        round(col("med_cents").cast(DoubleType) / 100d, 2).as("w_median"),
        col("tot").as("total_weight"))
      .orderBy("p_brand")
  }
}
