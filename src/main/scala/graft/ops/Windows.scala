package graft.ops

import graft.Tables
import graft.util.Memo
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import Relational.{dbl, dec}

/** Window-function operators (SURVEY.md §2.2). Each WindowExec runs
  * per-partition after a shuffle on the PARTITION BY keys — embarrassingly
  * parallel at scale as long as no single key's partition outgrows an
  * executor (the global-ORDER-BY windows in ntile/range are the only
  * single-partition shapes, and they're bounded probe queries).
  * Deterministic tie-breaks (trailing unique key in every ORDER BY) keep
  * results hash-stable across engines (§2.4).
  */
object Windows {

  /** The IGNORE NULLS window family through the PARSER (lag / lead /
    * first_value / nth_value): sparse-measurement navigation — "the
    * previous NON-NULL reading" — without the self-join or fill-forward
    * detour. NULLs are injected deterministically (every 4th event) so
    * every variant is non-vacuous; Spark spells the modifier after the
    * call (`lag(v) IGNORE NULLS`), DuckDB inside it (`lag(v IGNORE
    * NULLS)`) — same SQL-standard semantics. One user-partitioned
    * window, the same single shuffle as the plain lag/lead query.
    */
  def winIgnoreNulls(t: Tables): DataFrame = {
    t.registerViews()
    t.spark.sql(
      """WITH e AS (
        |  SELECT user_id, event_id,
        |         CASE WHEN event_id % 4 = 0 THEN CAST(NULL AS BIGINT)
        |              ELSE CAST(round(value * 100) AS BIGINT) END AS v
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
        |)
        |SELECT user_id, event_id, v,
        |       lag(v) IGNORE NULLS OVER w AS prev_nn,
        |       lead(v) IGNORE NULLS OVER w AS next_nn,
        |       first_value(v) IGNORE NULLS OVER
        |         (PARTITION BY user_id ORDER BY event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS first_nn,
        |       nth_value(v, 2) IGNORE NULLS OVER
        |         (PARTITION BY user_id ORDER BY event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_nn
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
        |ORDER BY user_id, event_id LIMIT 3000""".stripMargin)
  }

  def winRowNumber(t: Tables): DataFrame = {
    val w = Window.partitionBy("c_mktsegment")
      .orderBy(dec(col("c_acctbal")).desc, col("c_custkey").asc)
    t.customer
      .select(col("c_custkey"), col("c_mktsegment"), row_number().over(w).as("rn"))
      .filter(col("rn") <= 10)
      .orderBy("c_mktsegment", "rn")
  }

  def winRankDense(t: Tables): DataFrame = {
    val w = Window.partitionBy("p_brand").orderBy("p_size")
    t.part
      .select(
        col("p_brand"), col("p_size"),
        rank().over(w).as("rk"),
        dense_rank().over(w).as("drk"))
      .orderBy("p_brand", "p_size", "rk")
      .limit(1000)
  }

  def winLagLead(t: Tables): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t.events
      .select(
        col("user_id"), col("event_id"),
        lag(col("event_id"), 1).over(w).as("prev_id"),
        lead(col("event_id"), 1).over(w).as("next_id"))
      .orderBy("user_id", "event_id")
      .limit(3000)
  }

  def winRunningSum(t: Tables): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t.orders
      .select(
        col("o_custkey"), col("o_orderkey"),
        dbl(sum(dec(col("o_totalprice"))).over(w).cast(DecimalType(38, 2))).as("run"))
      .orderBy("o_custkey", "o_orderkey")
      .limit(3000)
  }

  /** percent_rank + ratio-to-report per customer partition — the two
    * normalized-window primitives the survey family lacked: where-in-the-
    * distribution (percent_rank = (rank−1)/(n−1), tie-broken total order
    * so both engines agree rowwise) and share-of-partition (vc / Σvc,
    * exact integral-cents sum, ONE double division, 6-dp round). Both are
    * single-pass window functions over the same partition shuffle a
    * running sum pays — nothing extra at scale.
    */
  def winPercentRatio(t: Tables): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("vc", "o_orderkey")
    val wp = Window.partitionBy("o_custkey")
    t.orders
      .select(col("o_custkey"), col("o_orderkey"),
        round(dec(col("o_totalprice")) * 100).cast(LongType).as("vc"))
      .select(col("o_custkey"), col("o_orderkey"), col("vc"),
        round(percent_rank().over(w), 6).as("pr"),
        round(col("vc").cast(DoubleType) / sum(col("vc")).over(wp), 6).as("ratio"))
      .orderBy("o_custkey", "o_orderkey")
      .limit(3000)
  }

  /** Moving average as windowed SUM/COUNT (§2.4: no built-in AVG). */
  def winSlidingAvg(t: Tables): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      .rowsBetween(-2, Window.currentRow)
    t.orders
      .select(
        col("o_custkey"), col("o_orderkey"),
        round(sum(dec(col("o_totalprice"))).over(w).cast(DoubleType)
          / count(lit(1)).over(w), 4).as("mavg"))
      .orderBy("o_custkey", "o_orderkey")
      .limit(3000)
  }

  /** Contiguous range-partition boundaries for a long-valued key: ≤
    * parts−1 interior cut points from a quantile sketch, collected to the
    * driver. `pid(s)` = number of cuts ≤ s then gives every subtree the
    * SAME deterministic partitioning by construction — correctness never
    * rides on exchange reuse (round-3 ADVICE). The driver-held state is
    * O(parts) longs — exactly the boundary array `repartitionByRange`'s
    * RangePartitioner itself collects from its sample, not O(n) data — and
    * skipping the broadcast-exchange machinery for a 31-element array
    * saves ~0.5 s/query of pure stage overhead at bench scale. Any
    * monotone cut set yields a correct partitioning; the sketch only
    * balances occupancy (~n/parts per pid at any scale, since boundaries
    * are quantiles, not fixed-width value buckets).
    *
    * `memo` (nullable): the [[Memo]] key of the input's tables. Cuts are
    * table STATISTICS — a pure function of the dataset, the same driver
    * state class as a catalog histogram or RangePartitioner boundaries —
    * so callers whose input is a named table (not an arbitrary frame)
    * skip the sampling job on every invocation after the first. Each
    * entry is O(parts) longs.
    */
  private[ops] def collectCuts(
      v: DataFrame, key: String, parts: Int, memo: Memo.Key = null): Seq[Long] =
    stats(memo) {
      val probs = (1 until parts).map(_.toDouble / parts)
      val row = v.agg(percentile_approx(col(key), typedLit(probs), lit(1000))).head()
      if (row.isNullAt(0)) Seq.empty[Long]
      else row.getSeq[Any](0).map(_.asInstanceOf[Number].longValue).distinct.sorted
    }

  private def stats[V](memo: Memo.Key)(compute: => V): V =
    if (memo == null) compute else Memo.value(memo)(compute)

  /** pid(s) = #cuts ≤ s as a sum of codegen'd comparisons — NOT an array
    * higher-order function: `size(filter(lit(cuts), …))` is interpreted
    * (lambda + boxed traversal per row), and constraint propagation clones
    * such predicates into several Filter nodes, multiplying the cost ~5×
    * at bench scale. A fold of `when` terms stays inside whole-stage
    * codegen everywhere the optimizer copies it.
    */
  private[ops] def bucketOf(s: Column, cuts: Seq[Long]): Column =
    cuts.foldLeft(lit(0))((acc, c) => acc + when(s >= c, 1).otherwise(0))

  /** Global 1-based rank over a unique long `key` WITHOUT a global window:
    * deterministic range pids ([[collectCuts]]/[[bucketOf]]), per-pid row
    * counts turned into cumulative offsets (O(parts) driver state, same
    * class as RangePartitioner boundaries), local row_number inside each
    * pid. Returns (input + `rk` column, total row count). Shared by the
    * ntile/cume path and [[Packing]] — one place owns the offset
    * arithmetic.
    */
  private[ops] def globalRank(
      df: DataFrame, key: String, parts: Int = 32,
      memo: Memo.Key = null): (DataFrame, Long) = {
    // Both driver collections (cut points + per-range counts) are dataset
    // statistics — memoizable like [[collectCuts]]; the ranked frame
    // itself is rebuilt lazily per call.
    val (cuts, cntArr) = stats(memo) {
      val cuts = collectCuts(df.select(col(key)), key, parts)
      val cnts = df.withColumn("__pid", bucketOf(col(key), cuts))
        .groupBy("__pid").agg(count(lit(1)).as("cnt")).collect()
        .map(r => r.getAs[Number]("__pid").intValue -> r.getAs[Long]("cnt")).toMap
      (cuts, (0 to cuts.size).map(p => cnts.getOrElse(p, 0L)))
    }
    val offArr = cntArr.scanLeft(0L)(_ + _).dropRight(1)
    val wLocal = Window.partitionBy("__pid").orderBy(key)
    val ranked = df.withColumn("__pid", bucketOf(col(key), cuts))
      .withColumn("rk", element_at(typedLit(offArr), col("__pid") + 1) + row_number().over(wLocal))
      .drop("__pid")
    (ranked, cntArr.sum)
  }

  /** Global running sums of SEVERAL long value columns in `key` order —
    * the N-column sibling of [[globalRankCum]] (same two-pass shape: one
    * statistics pass collects per-range partials for every column, each
    * range then adds a LOCAL running sum to its driver-computed offset).
    * Returns the input plus one `cum_<v>` column per requested value
    * (INCLUSIVE running sums). Keys must be unique (a grouped grain).
    */
  private[graft] def globalCums(
      df: DataFrame, key: String, values: Seq[String], parts: Int = 32,
      memo: Memo.Key = null): DataFrame = {
    require(values.nonEmpty, "globalCums requires at least one value column")
    val (cuts, partials) = stats(memo) {
      val cuts = collectCuts(df.select(col(key)), key, parts)
      val aggs = values.map(v => sum(col(v)).cast(LongType).as(s"vs_$v"))
      val rows = df.withColumn("__pid", bucketOf(col(key), cuts))
        .groupBy("__pid").agg(aggs.head, aggs.tail: _*).collect()
        .map(r => r.getAs[Number]("__pid").intValue ->
          values.map { v =>
            // fail LOUDLY on a NULL partial (an all-NULL value range):
            // getAs[Long] would silently unbox it to 0 and every
            // downstream cumulative offset would skew instead of erroring
            val x = r.getAs[java.lang.Long](s"vs_$v")
            require(x != null, s"globalCums: per-range partial sum of '$v' " +
              "is NULL — pass a non-nullable column (coalesce NULLs first)")
            x.longValue
          }.toIndexedSeq).toMap
      (cuts, values.indices.map(i =>
        i -> (0 to cuts.size).map(p =>
          rows.get(p).map(_(i)).getOrElse(0L)).toIndexedSeq).toMap)
    }
    val wRun = Window.partitionBy("__pid").orderBy(key)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withPid = df.withColumn("__pid", bucketOf(col(key), cuts))
    values.zipWithIndex.foldLeft(withPid) { case (acc, (v, i)) =>
      val offs = partials(i).scanLeft(0L)(_ + _).dropRight(1)
      acc.withColumn(s"cum_$v",
        element_at(typedLit(offs), col("__pid") + 1) +
          sum(col(v)).over(wRun).cast(LongType))
    }.drop("__pid")
  }

  /** [[globalRank]] plus a global RUNNING SUM of a long `value` column in
    * key order — with NO single-partition window. The same per-range
    * statistics pass that collects row counts also collects per-range
    * value partials (O(parts) extra longs, same memo class); each range's
    * cumulative sum is then its driver-computed offset plus a LOCAL
    * running sum inside the range partition, and the grand total is the
    * sum of the partials — a driver scalar, never an all-rows window.
    * Returns (input + `rk` + `cum` columns, total rows, total value sum).
    */
  private[graft] def globalRankCum(
      df: DataFrame, key: String, value: String, parts: Int = 32,
      memo: Memo.Key = null): (DataFrame, Long, Long) = {
    val (cuts, cntArr, valArr) = stats(memo) {
      val cuts = collectCuts(df.select(col(key)), key, parts)
      val rows = df.withColumn("__pid", bucketOf(col(key), cuts))
        .groupBy("__pid")
        .agg(count(lit(1)).as("cnt"), sum(col(value)).cast(LongType).as("vs"))
        .collect()
        .map(r => r.getAs[Number]("__pid").intValue ->
          (r.getAs[Long]("cnt"), r.getAs[Long]("vs"))).toMap
      (cuts,
        (0 to cuts.size).map(p => rows.get(p).map(_._1).getOrElse(0L)),
        (0 to cuts.size).map(p => rows.get(p).map(_._2).getOrElse(0L)))
    }
    val offCnt = cntArr.scanLeft(0L)(_ + _).dropRight(1)
    val offVal = valArr.scanLeft(0L)(_ + _).dropRight(1)
    val wLocal = Window.partitionBy("__pid").orderBy(key)
    val wRun = wLocal.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = df.withColumn("__pid", bucketOf(col(key), cuts))
      .withColumn("rk",
        element_at(typedLit(offCnt), col("__pid") + 1) + row_number().over(wLocal))
      .withColumn("cum",
        element_at(typedLit(offVal), col("__pid") + 1) +
          sum(col(value)).over(wRun).cast(LongType))
      .drop("__pid")
    (ranked, cntArr.sum, valArr.sum)
  }

  /** RANGE frame over a DECIMAL(18,2) ordering — near_cnt = how many
    * orders have a total within 1000.00 below this one's.
    *
    * The naive plan (`Window.orderBy(scaled).rangeBetween(-100000, 0)`,
    * kept as [[winRangeFrameGlobal]]) moves the WHOLE table into one
    * WindowExec partition — a single-executor sort at scale. The round-3
    * bucketed self-join fixed that but materialized every (row, in-frame
    * neighbor) pair — Σ frame-sizes rows, quadratic in local density.
    *
    * This plan is the overlap-replicated range-partitioned window: split
    * the key space into ~32 contiguous quantile ranges ([[collectCuts]]),
    * replicate each row into every later range whose lower bound is within
    * W of it (gmax = #cuts ≤ s+W — ghosts exist only in the W-wide fringe
    * below each boundary, so replication is a vanishing fraction as ranges
    * widen; 9.2k of 150k rows at sf0.1), then run the BUILT-IN
    * `RANGE BETWEEN W PRECEDING AND CURRENT ROW` count per range and keep
    * only the original copies. Each row's frame [s−W, s] is fully present
    * in its own range: in-range values ≥ the range's lower bound are
    * residents; values below it are exactly the replicated ghosts. Total
    * work is O(n log(n/parts)) — the WindowExec's own running-frame
    * computation — not pair enumeration, and every stage is a shuffle on
    * pid. WindowScaleSpec proves row-for-row equality with the built-in.
    *
    * (The Scala `rangeBetween` only takes Long offsets, hence the exactly-
    * equivalent scaled-long key `decimal(18,2) × 100`: same total order,
    * same peer groups, 1000.00 PRECEDING = 100000 scaled units.)
    */
  def winRangeFrame(t: Tables): DataFrame = {
    val W = 100000L
    val v = t.orders.select(
      col("o_orderkey"),
      (dec(col("o_totalprice")) * 100).cast(LongType).as("s"))
    val cuts = collectCuts(v, "s", 32, Memo.Key("range_frame_cuts", t.sfDir, "orders"))
    val withPid = v.withColumn("pid", bucketOf(col("s"), cuts))
    // Residents keep their own range; ghosts go only to later ranges whose
    // lower bound is within W (most rows produce none — no array alloc).
    // The replica marker is a per-branch literal `ghost` flag, NOT a
    // `tp = pid` comparison: filtering on recomputed pid downstream of the
    // Window makes constraint propagation clone the bucket expression into
    // every Filter node (measured 14× slower at sf0.1).
    val resident = withPid.select(col("o_orderkey"), col("s"),
      col("pid").as("tp"), lit(false).as("ghost"))
    val ghosts = withPid
      .withColumn("gmax", bucketOf(col("s") + W, cuts))
      .filter(col("gmax") > col("pid"))
      .select(col("o_orderkey"), col("s"),
        explode(sequence(col("pid") + 1, col("gmax"))).as("tp"),
        lit(true).as("ghost"))
    val w = Window.partitionBy("tp").orderBy("s").rangeBetween(-W, 0)
    resident.unionByName(ghosts)
      .withColumn("near_cnt", count(lit(1)).over(w))
      .filter(!col("ghost"))
      .select("o_orderkey", "near_cnt")
      .orderBy("o_orderkey")
      .limit(2000)
  }

  /** The built-in global-window form — reference semantics for
    * WindowScaleSpec; NOT registered (single-partition WindowExec).
    */
  def winRangeFrameGlobal(t: Tables): DataFrame = {
    val scaled = (dec(col("o_totalprice")) * 100).cast(LongType)
    val w = Window.orderBy(scaled).rangeBetween(-100000L, Window.currentRow)
    t.orders
      .select(col("o_orderkey"), count(lit(1)).over(w).as("near_cnt"))
      .orderBy("o_orderkey")
      .limit(2000)
  }

  /** Global ntile/cume_dist/percent_rank WITHOUT a global window: the
    * two-pass range-partitioned rank. Pass 1 assigns each row a contiguous
    * range-partition id ([[collectCuts]] — deterministic, so every subtree
    * agrees on pids by construction, not via exchange reuse; round-3
    * ADVICE) and ranks within each partition; pass 2 turns per-partition
    * counts (one row per partition) into cumulative offsets, so global
    * rank = offset + local rank. The offset table is O(parts) — it's held
    * on the driver as a literal array (the same driver-state class as
    * RangePartitioner's boundaries) rather than broadcast-joined, saving
    * two broadcast exchanges of micro-tables. ntile / cume_dist /
    * percent_rank are then pure arithmetic on (rank, n). Any contiguous
    * range partitioning yields the same ranks, so the result does not
    * depend on the sketch's sampling. Requires a unique order key
    * (c_custkey here) — with duplicate keys cume_dist peers could split
    * across partition boundaries.
    *
    * The single-partition built-in form is kept as [[winNtileCumeGlobal]]
    * for the differential test; this is what's registered.
    */
  def winNtileCume(t: Tables): DataFrame = {
    val (ranked0, n) = globalRank(t.customer.select(col("c_custkey")), "c_custkey",
      memo = Memo.Key("ntile_rank", t.sfDir, "customer"))
    val ranked = ranked0.select(col("c_custkey"), col("rk"), lit(n).as("n"))
    // NTILE(4): first (n mod 4) buckets get ceil(n/4) rows, the rest floor.
    // `/` on Columns is double division — floor() recovers integral div
    // (exact for counts < 2^53).
    val qL = floor(col("n") / 4)
    val r = col("n") % 4
    val thresh = (qL + 1) * r
    val quart = when(col("n") < 4, col("rk"))
      .when(col("rk") <= thresh, floor((col("rk") - 1) / (qL + 1)) + 1)
      .otherwise(r + floor((col("rk") - 1 - thresh) / qL) + 1)
    ranked
      .select(
        col("c_custkey"),
        quart.cast(IntegerType).as("quart"),
        // unique order key ⇒ no peers ⇒ cume_dist = rk/n exactly
        round(col("rk").cast(DoubleType) / col("n"), 6).as("cd"),
        round(when(col("n") === 1, lit(0.0))
          .otherwise((col("rk") - 1).cast(DoubleType) / (col("n") - 1)), 6).as("pr"))
      .orderBy("c_custkey")
      .limit(1000)
  }

  /** The built-in global-window form — reference semantics for
    * WindowScaleSpec; NOT registered (single-partition WindowExec).
    */
  def winNtileCumeGlobal(t: Tables): DataFrame = {
    val w = Window.orderBy("c_custkey")
    t.customer
      .select(
        col("c_custkey"),
        ntile(4).over(w).as("quart"),
        round(cume_dist().over(w), 6).as("cd"),
        round(percent_rank().over(w), 6).as("pr"))
      .orderBy("c_custkey")
      .limit(1000)
  }

  /** last_value needs the explicit full frame — the default frame
    * (unbounded-preceding..current-row) would silently yield running-last.
    */
  def winFirstLast(t: Tables): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val wFull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    t.events
      .select(
        col("user_id"), col("event_id"),
        first(col("event_type")).over(w).as("first_ev"),
        last(col("event_type")).over(wFull).as("last_ev"))
      .orderBy("user_id", "event_id")
      .limit(3000)
  }

  /** Event-time RANGE frame: per-user trailing-1-hour sum. The frame is
    * defined on the µs time axis (unix_micros), so peers (equal ts) and
    * gaps behave exactly like the SQL INTERVAL frame. Shuffle key is
    * user_id with an in-partition time sort — no global ordering, holds
    * at any user cardinality; the decimal sum keeps the windowed total
    * reassociation-proof cross-engine.
    */
  def winTimeRange(t: Tables): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("us"))
      .rangeBetween(-3600L * 1000000L, 0L)
    t.events
      .withColumn("us", unix_micros(col("ts")))
      .select(
        col("event_id"), col("user_id"),
        dbl(sum(dec(col("value"))).over(w).cast(DecimalType(38, 2))).as("sum_1h"))
      .orderBy("event_id")
  }

  /** Forward-fill (last-observation-carried-forward): each event sees the
    * user's most recent strictly-earlier purchase — `last(..., ignoreNulls)`
    * over a trailing frame. The sessionization/attribution workhorse;
    * per-user partitions, no global state.
    */
  def winFillForward(t: Tables): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    t.events
      .select(
        col("user_id"), col("event_id"),
        last(when(col("event_type") === "purchase", col("event_id")), ignoreNulls = true)
          .over(w).as("prev_purchase"))
      .orderBy("user_id", "event_id")
      .limit(3000)
  }

  /** nth_value over the full frame: each row sees its customer's
    * second-ever order price (NULL for single-order customers).
    */
  def winNthValue(t: Tables): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    t.orders
      .select(
        col("o_custkey"), col("o_orderkey"),
        dbl(nth_value(dec(col("o_totalprice")), 2).over(w)).as("second_price"))
      .orderBy("o_custkey", "o_orderkey")
      .limit(3000)
  }

  /** Sliding exact median of the last 5 event values per user — the
    * order-statistic window Spark has no built-in for (percentile isn't a
    * window function). The frame is a BOUNDED 5-row buffer, so
    * collect_list-per-frame is O(5) state per row (nothing like a whole-
    * partition collect); the median interpolates the sorted buffer
    * manually. EXACT cross-engine: integral cents in, half-grid
    * interpolation, divide back only in the final projection — the same
    * discipline as anomaly_mad.
    */
  def winMedian(t: Tables): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-4, 0)
    t.events
      .filter(col("value").isNotNull)
      .select(col("user_id"), col("event_id"), col("ts"),
        round(col("value") * 100).as("vc"))
      .withColumn("buf", sort_array(collect_list(col("vc")).over(w)))
      .select(
        col("user_id"), col("event_id"),
        round(
          when(size(col("buf")) % 2 === 1,
            element_at(col("buf"), ((size(col("buf")) + 1) / 2).cast("int")))
            .otherwise(
              (element_at(col("buf"), (size(col("buf")) / 2).cast("int")) +
                element_at(col("buf"), (size(col("buf")) / 2).cast("int") + 1)) / 2.0)
            / 100.0, 6).as("med5"))
      .orderBy("user_id", "event_id")
      .limit(5000)
  }

  /** 10-term exponentially-weighted moving value per user (α = 1/2,
    * truncated at lag 9 — the streaming-friendly fixed-depth EWM). The
    * weights 2⁻ᵏ are dyadic and the inputs integral cents, so every term,
    * every partial sum, and the total are EXACT doubles (dyadic, ≤ 37
    * mantissa bits): no accumulation-order drift is possible and the
    * result is emitted at cents scale with NO rounding — dividing back to
    * currency first was measured to hit a 6-decimal rounding boundary
    * (…6875/100 lands between engines' decimal renderings), the exact
    * trap the integral-cents discipline exists to avoid. Ten lag() reads
    * over one window — a single user_id exchange, no self-join.
    */
  def winEwma(t: Tables): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val ewma = (0 until 10)
      .map(k => coalesce(lag(col("vc"), k).over(w), lit(0.0)) * lit(math.pow(0.5, k)))
      .reduce(_ + _)
    t.events
      .filter(col("value").isNotNull)
      .select(col("user_id"), col("event_id"), col("ts"),
        round(col("value") * 100).as("vc"))
      .select(col("user_id"), col("event_id"), ewma.as("ewma10_c"))
      .orderBy("user_id", "event_id")
      .limit(5000)
  }

  /** Top-3 per group via row_number — the basis `latest` stream operator
    * generalized; one shuffle on the group key, no global sort.
    */
  def topkPerGroup(t: Tables): DataFrame = {
    val w = Window.partitionBy("c_nationkey")
      .orderBy(dec(col("c_acctbal")).desc, col("c_custkey").asc)
    t.customer
      .select(
        col("c_nationkey"), col("c_custkey"),
        dbl(dec(col("c_acctbal"))).as("bal"),
        row_number().over(w).as("rn"))
      .filter(col("rn") <= 3)
      .select("c_nationkey", "c_custkey", "bal")
      .orderBy(asc("c_nationkey"), desc("bal"), asc("c_custkey"))
  }

  /** Running DISTINCT count per user — how many distinct event types each
    * user has touched as of each event. The naive form (`collect_set`
    * over a running frame) holds every key's accumulated set in window
    * state — memory grows with history. This form is state-free: flag
    * each (user, type)'s FIRST occurrence with a ranked window, then a
    * running SUM of flags over the user timeline. Two shuffles (first on
    * (user, type), then on user), both frames O(1) state per row; the
    * (ts, event_id) order key is total, so both engines agree exactly.
    */
  def winRunningDistinct(t: Tables): DataFrame = {
    val wFirst = Window.partitionBy("user_id", "event_type")
      .orderBy("ts", "event_id")
    val wRun = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t.events
      .filter(col("user_id").isNotNull && col("event_type").isNotNull &&
        col("ts").isNotNull)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("nf",
        when(row_number().over(wFirst) === 1, 1L).otherwise(0L))
      .select(col("user_id"), col("event_id"),
        sum(col("nf")).over(wRun).as("n_types"))
      .orderBy("user_id", "event_id")
      .limit(3000)
  }

  /** Rolling 10-row Pearson correlation between quantity and extended
    * price per supplier — the moving-statistics shape (financial rolling
    * betas, sensor drift monitors) built from decimal-EXACT frame sums:
    * five windowed moments over the same (supplier, order, line) frame,
    * one float formula in the final projection, mirrored by the oracle
    * (the same discipline as [[Aggregates.aggCorr]], per frame instead of
    * per group). Degenerate frames (n < 2 or a constant series) yield
    * NULL via an exact zero-denominator test — decimal sums make that
    * test deterministic, where streaming float moments would make it a
    * coin flip. One shuffle on l_suppkey; frames never cross suppliers.
    */
  def winRollingCorr(t: Tables): DataFrame = {
    val x = dec(col("l_quantity"))
    val y = dec(col("l_extendedprice"))
    // (orderkey, linenumber) is NOT unique in this synthetic lineitem —
    // ties must be broken by the measures themselves or the ROWS frames
    // are engine-dependent (§2.4 total-order rule; full duplicates are
    // then frame-equivalent under any order)
    val w = Window.partitionBy("l_suppkey")
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("x"), col("y"))
      .rowsBetween(-9, Window.currentRow)
    val framed = t.lineitem
      .filter(col("l_suppkey") < 200)
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"), x.as("x"), y.as("y"))
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("sx", dbl(sum(col("x")).over(w).cast(DecimalType(38, 2))))
      .withColumn("sy", dbl(sum(col("y")).over(w).cast(DecimalType(38, 2))))
      .withColumn("sxy", dbl(sum((col("x") * col("y")).cast(DecimalType(28, 4))).over(w).cast(DecimalType(38, 4))))
      .withColumn("sxx", dbl(sum((col("x") * col("x")).cast(DecimalType(18, 4))).over(w).cast(DecimalType(38, 4))))
      .withColumn("syy", dbl(sum((col("y") * col("y")).cast(DecimalType(28, 4))).over(w).cast(DecimalType(38, 4))))
    val vx = col("n") * col("sxx") - col("sx") * col("sx")
    val vy = col("n") * col("syy") - col("sy") * col("sy")
    framed.select(
      col("l_suppkey"), col("l_orderkey"), col("l_linenumber"), col("n"),
      round(
        when(vx === 0 || vy === 0, lit(null))
          .otherwise((col("n") * col("sxy") - col("sx") * col("sy")) /
            (sqrt(vx) * sqrt(vy))),
        6).as("roll_corr"))
      .orderBy("l_suppkey", "l_orderkey", "l_linenumber")
  }

  /** Rolling 7-row median of `value` per user in (ts, event_id) order —
    * the robust moving-location estimate (outlier-proof counterpart of
    * [[winSlidingAvg]]). Spark's `percentile(x, 0.5)` over a ROWS frame
    * is the continuous (interpolating) quantile, matching DuckDB's
    * `quantile_cont` window exactly; frames hold ≤7 doubles so the
    * per-frame sort is O(1) and the whole thing is one user-partitioned
    * Exchange+Sort, bounded per user, like every window in this file.
    * Values are pennies-scale doubles; round(6) absorbs the one
    * potentially engine-ordered addition in the even-frame midpoint
    * interpolation.
    */
  def winRollingMedian(t: Tables): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(-6, Window.currentRow)
    t.events
      .filter(col("user_id").isNotNull && col("ts").isNotNull &&
        col("value").isNotNull)
      .select(
        col("user_id"), col("event_id"),
        count(lit(1)).over(w).as("n_frame"),
        round(percentile(col("value"), lit(0.5)).over(w), 6).as("med7"))
      .orderBy("user_id", "event_id")
  }
}
