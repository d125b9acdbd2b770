package graft.ops

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Relational core: scans, filters, projections, joins, sorts, set ops,
  * subquery shapes (SURVEY.md §2.2). Pure DataFrame API — Catalyst owns
  * pushdown, pruning, join selection; explicit `broadcast()` hints mark the
  * dimension sides that must stay broadcast at 100 TB (fact tables scale,
  * dims don't).
  */
object Relational {

  /** Money-math rule (SURVEY.md §2.4): cast to DECIMAL(18,2) at the leaf,
    * before any arithmetic/aggregation — decimal math is exact and
    * engine-independent, raw double sums are not.
    */
  def dec(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    c.cast(DecimalType(18, 2))

  /** Output-typing rule (driver gate): decimal columns stay decimal through
    * every aggregate/window (exact math, §2.4), but the FINAL projection
    * casts them to DOUBLE — the driver's pandas compare renders DuckDB
    * decimals as float64, so a decimal-typed parquet dump hash-mismatches
    * even when values are exactly equal. Both engines cast the same exact
    * decimal to the same nearest float64, so the rendered values agree.
    *
    * Bound: exact agreement holds while the SCALED decimal magnitude stays
    * below 2^53 (~9e15 scaled units, i.e. ~9e13 at scale 2). Java
    * BigDecimal.doubleValue() is correctly rounded; DuckDB's hugeint-backed
    * DECIMAL->DOUBLE converts the unscaled value then divides, which can
    * double-round once the unscaled value itself is not float64-exact. All
    * gated aggregates sit orders of magnitude under that at the driver's
    * SFs; a 100 TB deployment that needs hash-stable output above 2^53
    * should emit fixed-scale strings (format_number / CAST AS VARCHAR)
    * instead of doubles.
    */
  def dbl(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    c.cast(DoubleType)

  // --- Scans -------------------------------------------------------------

  def scanProject(t: Tables): DataFrame =
    t.lineitem
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
      .orderBy("l_orderkey", "l_linenumber")
      .limit(500)

  /** Predicate reaches the parquet row groups (PushedFilters in .explain). */
  def scanFilterPushdown(t: Tables): DataFrame =
    t.lineitem
      .filter(
        col("l_shipdate") >= lit("1998-01-01 00:00:00").cast(TimestampType) &&
        col("l_shipdate") < lit("1998-03-01 00:00:00").cast(TimestampType))
      .select(
        col("l_orderkey"), col("l_linenumber"),
        col("l_shipdate").cast(DateType).as("d"))
      .orderBy("l_orderkey", "l_linenumber")

  // --- Projection / filter ----------------------------------------------

  def projectCompute(t: Tables): DataFrame =
    t.lineitem
      .select(
        col("l_orderkey"), col("l_linenumber"),
        dbl(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
          .as("revenue"))
      .orderBy("l_orderkey", "l_linenumber")
      .limit(1000)

  def filterCompound(t: Tables): DataFrame =
    t.orders
      .filter(
        (col("o_orderstatus") === "F" || col("o_totalprice") > 200000.0) &&
        col("o_orderpriority").isin("1-URGENT", "2-HIGH") &&
        col("o_orderkey").between(100, 12000))
      .select("o_orderkey", "o_orderstatus", "o_orderpriority")
      .orderBy("o_orderkey")

  def filterLikeNull(t: Tables): DataFrame =
    t.part
      .filter(col("p_name").like("%green%") && !col("p_type").like("SMALL%"))
      .select(
        col("p_partkey"), col("p_name"),
        nullif(col("p_brand"), lit("Brand#1")).as("b"))
      .orderBy("p_partkey")

  def distinctRows(t: Tables): DataFrame =
    t.orders
      .select("o_orderstatus", "o_orderpriority")
      .distinct()
      .orderBy("o_orderstatus", "o_orderpriority")

  // --- Joins -------------------------------------------------------------

  def joinInner(t: Tables): DataFrame = {
    val o = t.orders.as("o")
    val c = t.customer.as("c")
    o.join(c, col("o.o_custkey") === col("c.c_custkey"))
      .filter(col("c.c_mktsegment") === "BUILDING")
      .select(col("o.o_orderkey"), col("c.c_name"), dbl(dec(col("o.o_totalprice"))).as("p"))
      .orderBy("o_orderkey")
      .limit(2000)
  }

  /** `part` is a dimension table — broadcast side stays bounded at scale. */
  def joinBroadcast(t: Tables): DataFrame = {
    val l = t.lineitem.as("l")
    val p = broadcast(t.part.filter(col("p_size") <= 5)).as("p")
    l.join(p, col("l.l_partkey") === col("p.p_partkey"))
      .select(col("l.l_orderkey"), col("l.l_linenumber"), col("p.p_brand"))
      .orderBy("l_orderkey", "l_linenumber")
      .limit(2000)
  }

  def joinLeft(t: Tables): DataFrame = {
    val c = t.customer.as("c")
    val o = t.orders.as("o")
    c.join(o, col("c.c_custkey") === col("o.o_custkey"), "left")
      .groupBy(col("c.c_custkey"))
      .agg(count(col("o.o_orderkey")).as("n"))
      .orderBy("c_custkey")
  }

  def joinFullOuter(t: Tables): DataFrame = {
    val a = t.customer.groupBy(col("c_nationkey").as("k"))
      .agg(count(lit(1)).as("na")).as("a")
    val b = t.supplier.groupBy(col("s_nationkey").as("k"))
      .agg(count(lit(1)).as("nb")).as("b")
    a.join(b, col("a.k") === col("b.k"), "full_outer")
      .select(coalesce(col("a.k"), col("b.k")).as("k"), col("na"), col("nb"))
      .orderBy("k")
  }

  /** WHERE EXISTS ≡ left-semi; the extra predicate is pushed into the
    * build side before the join rather than evaluated post-hoc.
    */
  def joinSemi(t: Tables): DataFrame = {
    val big = t.orders.filter(col("o_totalprice") > 300000.0)
    t.customer.as("c")
      .join(big.as("o"), col("c.c_custkey") === col("o.o_custkey"), "left_semi")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  def joinAnti(t: Tables): DataFrame =
    t.customer.as("c")
      .join(t.orders.as("o"), col("c.c_custkey") === col("o.o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")

  /** Equi key + non-equi conjunct → SMJ/SHJ with residual condition; never
    * a nested-loop as long as the equi conjunct is present.
    */
  def joinTheta(t: Tables): DataFrame = {
    val s = t.supplier.as("s")
    val c = t.customer.as("c")
    s.join(c,
        col("s.s_nationkey") === col("c.c_nationkey") &&
        col("s.s_acctbal") < col("c.c_acctbal"))
      .select(col("s.s_suppkey"), col("c.c_custkey"))
      .orderBy("s_suppkey", "c_custkey")
      .limit(5000)
  }

  def joinCross(t: Tables): DataFrame =
    t.region.crossJoin(t.nation)
      .select("r_name", "n_name")
      .orderBy("r_name", "n_name")

  /** TPC-H Q5 shape: star join — dims broadcast, facts shuffle on their
    * join keys once each.
    */
  def joinMultiway(t: Tables): DataFrame = {
    val c = t.customer.as("c")
    val o = t.orders.as("o")
    val l = t.lineitem.as("l")
    val n = broadcast(t.nation).as("n")
    val r = broadcast(t.region.filter(col("r_name") === "ASIA")).as("r")
    c.join(o, col("c.c_custkey") === col("o.o_custkey"))
      .join(l, col("l.l_orderkey") === col("o.o_orderkey"))
      .join(n, col("c.c_nationkey") === col("n.n_nationkey"))
      .join(r, col("n.n_regionkey") === col("r.r_regionkey"))
      .groupBy(col("n.n_name"))
      .agg(
        count(lit(1)).as("cnt"),
        dbl(sum(dec(col("l.l_extendedprice")) * (lit(1) - dec(col("l.l_discount"))))
          .cast(DecimalType(38, 4))).as("revenue"))
      .orderBy("n_name")
  }

  // --- Sort / limit / top-k ---------------------------------------------

  def sortMulti(t: Tables): DataFrame =
    t.supplier
      .select(col("s_suppkey"), col("s_nationkey"), dbl(dec(col("s_acctbal"))).as("bal"))
      .orderBy(asc("s_nationkey"), desc("bal"), asc("s_suppkey"))

  def limitOffset(t: Tables): DataFrame =
    t.orders.select("o_orderkey").orderBy("o_orderkey").offset(100).limit(50)

  /** orderBy+limit → TakeOrderedAndProject: per-partition heap, no global
    * sort — the shape that survives 100 TB.
    */
  def topkGlobal(t: Tables): DataFrame =
    t.orders
      .select(col("o_orderkey"), dbl(dec(col("o_totalprice"))).as("p"))
      .orderBy(desc("p"), asc("o_orderkey"))
      .limit(25)

  // --- Set ops -----------------------------------------------------------

  def setUnionAll(t: Tables): DataFrame = {
    val c = t.customer.filter(col("c_nationkey") === 1)
      .select(col("c_custkey").as("k"), lit("c").as("v"))
    val s = t.supplier.filter(col("s_nationkey") === 1)
      .select(col("s_suppkey").as("k"), lit("s").as("v"))
    c.unionByName(s).orderBy("k", "v")
  }

  def setUnionDistinct(t: Tables): DataFrame = {
    val c = t.customer.select(col("c_nationkey").as("k"))
    val s = t.supplier.select(col("s_nationkey").as("k"))
    c.union(s).distinct().orderBy("k")
  }

  def setIntersect(t: Tables): DataFrame =
    t.customer.select(col("c_nationkey").as("k"))
      .intersect(t.supplier.select(col("s_nationkey").as("k")))
      .orderBy("k")

  /** EXCEPT as ONE tagged-union aggregation: rows from both sides carry a
    * source tag, group by value, keep groups seen on the left and never on
    * the right. `Dataset.except` plans an anti join over the RAW left and
    * THEN a distinct — the full left relation crosses the shuffle before
    * any reduction, and the plan pays two exchanges plus a broadcast
    * build. This form is a single exchange of (value, tag) pairs with
    * map-side partial aggregation — at 100 TB the shuffle carries each
    * partition's value set once, and EXCEPT's null-equal semantics fall
    * out of grouping (NULL is a group key, not a join miss).
    */
  def setExcept(t: Tables): DataFrame =
    t.customer.select(col("c_nationkey").as("k"), lit(1).as("src"))
      .unionAll(t.supplier.select(col("s_nationkey").as("k"), lit(2).as("src")))
      .groupBy("k")
      .agg(max(when(col("src") === 2, 1).otherwise(0)).as("in_right"))
      .filter(col("in_right") === 0)
      .select("k")
      .orderBy("k")

  /** Hidden file-METADATA columns on the parquet scan
    * (`_metadata.file_name` / `_metadata.row_index`) — the provenance
    * surface a 100 TB debugging session lives on: which physical file
    * did this row come from, and where in it (skew triage, corrupt-file
    * quarantine, incremental-audit joins) — with zero extra I/O (the
    * reader synthesizes them; no UDF, no input_file_name() legacy
    * call). The driver table is ONE file, so the oracle can state the
    * expectation exactly: basename constant, row_index a 0-based
    * contiguous range (min 0, max n−1) — a reader that drops or
    * double-counts a row, or breaks row_index contiguity, shifts it.
    */
  def scanFileMetadata(t: Tables): DataFrame =
    t.spark.read.parquet(s"${t.sfDir}/lineitem.parquet")
      .select(
        col("_metadata.file_name").as("file_name"),
        col("_metadata.row_index").as("row_index"),
        col("l_orderkey"))
      .groupBy("file_name")
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col("l_orderkey")).as("sum_key"),
        min(col("row_index")).as("min_idx"),
        max(col("row_index")).as("max_idx"))
      .orderBy("file_name")

  // --- Subquery shapes ---------------------------------------------------

  /** LATERAL correlated subquery (SQL standard, Spark 3.2+ / DuckDB
    * native): per-nation top-2 suppliers by account balance — the
    * "top-k per outer row" shape stated the way SQL users actually write
    * it, through the PARSER (spark.sql, not the DataFrame decorrelated
    * form `topk_per_group` covers). Catalyst rewrites the lateral LIMIT
    * into exactly the rank-filter plan the window form builds, so the
    * scale story is the same single nationkey-partitioned shuffle;
    * the query exists to pin that the SQL surface itself works.
    */
  def joinLateral(t: Tables): DataFrame = {
    t.registerViews()
    t.spark.sql(
      """SELECT n.n_name, s.s_suppkey, s.acct_cents
        |FROM nation n,
        |LATERAL (
        |  SELECT s_suppkey, CAST(round(s_acctbal * 100) AS BIGINT) AS acct_cents
        |  FROM supplier
        |  WHERE s_nationkey = n.n_nationkey
        |  ORDER BY s_acctbal DESC, s_suppkey
        |  LIMIT 2) s
        |ORDER BY n.n_name, s.acct_cents DESC, s.s_suppkey""".stripMargin)
  }

  /** WITH RECURSIVE through the SQL parser (SQL standard; Spark 4.0+
    * `UnionLoopExec`, DuckDB native): every customer walks the implicit
    * 16-ary heap tree over its key (`parent(k) = k DIV 16`, root 0) and
    * the walk rows roll up per ANCESTOR — subtree size, depth, key sum
    * and an exact-cents balance sum. The recursion is the point:
    * ancestor sets are genuinely iterative (a window cannot express
    * them), and this is the first query that exercises Spark's
    * recursive-CTE executor end-to-end rather than a hand-rolled
    * driver loop ([[graft.ops.Graph]] implements BFS/SSSP that way for
    * plan control; here the ENGINE owns the loop).
    *
    * Scale: each iteration is one distributed map over the frontier (no
    * shuffle in the loop body — the recursive term is a pure
    * projection+filter), so the DEPTH is the sequential-rounds cost,
    * and the fan-out is the at-scale lever: 16-ary keeps it at
    * log₁₆(max key) — 3 at sf0.01, ~9 at a 100 TB key space (a binary
    * tree costs 4× the rounds for the same rollup; measured 1.83 s vs
    * 1.37 s at sf0.1 local[32] — per-round scheduling is the floor,
    * exactly like B-tree fan-out amortizing seeks). Far under Spark's
    * recursion limit (`spark.sql.cteRecursionLevelLimit`, default 100);
    * total row volume is n·log₁₆ n walk rows into ONE hash aggregate.
    */
  def sqlRecursiveCte(t: Tables): DataFrame = {
    t.registerViews()
    t.spark.sql(
      """WITH RECURSIVE chain(node, cents, anc, depth) AS (
        |  SELECT c_custkey, CAST(round(c_acctbal * 100) AS BIGINT),
        |         c_custkey, 0
        |  FROM customer
        |  UNION ALL
        |  SELECT node, cents, anc DIV 16, depth + 1
        |  FROM chain WHERE anc > 0
        |)
        |SELECT anc, count(*) AS n_desc,
        |       CAST(max(depth) AS BIGINT) AS max_depth,
        |       sum(node) AS sum_nodes, sum(cents) AS subtree_cents
        |FROM chain
        |GROUP BY anc
        |ORDER BY anc""".stripMargin)
  }

  /** EXISTS / NOT EXISTS through the SQL PARSER: nations that have a
    * high-balance supplier but no deep-debt one — the two correlated
    * existence quantifiers as SQL users write them. Catalyst plans them
    * as a left-semi and a left-anti join respectively (the same shapes
    * `join_semi`/`join_anti` pin from the DataFrame side); the query
    * exists to pin the parser surface and the semi⨯anti COMPOSITION in
    * one statement.
    */
  def subqExists(t: Tables): DataFrame = {
    t.registerViews()
    t.spark.sql(
      """SELECT n.n_nationkey, n.n_name
        |FROM nation n
        |WHERE EXISTS (
        |    SELECT 1 FROM supplier s
        |    WHERE s.s_nationkey = n.n_nationkey AND s.s_acctbal > 9000)
        |  AND NOT EXISTS (
        |    SELECT 1 FROM supplier s
        |    WHERE s.s_nationkey = n.n_nationkey AND s.s_acctbal < -900)
        |ORDER BY n.n_nationkey""".stripMargin)
  }

  /** Uncorrelated scalar subquery: the 1-row aggregate is broadcast and
    * cross-joined — the same plan Catalyst builds for a scalar subquery,
    * with no driver-side collect.
    */
  def subqScalar(t: Tables): DataFrame = {
    val thr = t.orders.agg((avg(col("o_totalprice")) * 2.0).as("thr"))
    t.orders
      .crossJoin(broadcast(thr))
      .filter(col("o_totalprice") > col("thr"))
      .select(col("o_orderkey"), dbl(dec(col("o_totalprice"))).as("p"))
      .orderBy("o_orderkey")
  }

  /** IN (subquery) ≡ left-semi join on the subquery keys. */
  def subqIn(t: Tables): DataFrame = {
    val mach = t.customer.filter(col("c_mktsegment") === "MACHINERY")
      .select("c_custkey")
    t.orders.as("o")
      .filter(col("o_orderstatus") === "F")
      .join(broadcast(mach).as("c"), col("o.o_custkey") === col("c.c_custkey"), "left_semi")
      .select("o_orderkey")
      .orderBy("o_orderkey")
      .limit(2000)
  }

  /** Correlated COUNT(*) scalar subquery, written directly in its
    * decorrelated form: aggregate-then-left-join, COALESCE for the
    * no-match-means-zero semantics.
    */
  def subqCorrelated(t: Tables): DataFrame = {
    val cnt = t.orders
      .filter(col("o_totalprice") > 100000.0)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n"))
    t.customer.as("c")
      .filter(col("c_custkey") <= 300)
      .join(cnt.as("s"), col("c.c_custkey") === col("s.o_custkey"), "left")
      .select(col("c_custkey"), coalesce(col("n"), lit(0L)).as("big_orders"))
      .orderBy("c_custkey")
  }

  /** `NOT IN (subquery)` with its full three-valued-logic semantics — the
    * one subquery shape a plain left-anti join gets WRONG: a NULL probe
    * key must never pass (NULL NOT IN S is NULL, not TRUE), and a single
    * NULL in the subquery's result empties the whole answer. Stated here
    * in the scalable decomposition every engine's decorrelator targets
    * (Catalyst's null-aware anti join requires a broadcastable right side;
    * this form hash-joins at any size):
    *
    *   rows pass ⇔ probe key IS NOT NULL
    *              AND key ∉ (non-null right keys)     — ordinary anti join
    *              AND right side contains NO NULL      — 1-row broadcast gate
    *
    * Both branches are exercised non-vacuously: probe keys are NULLed for
    * orderkey % 97 = 0 (the 'clean' variant must drop exactly those), and
    * the 'with_null' variant unions one NULL into the subquery, which must
    * collapse its count to 0.
    */
  def subqNotIn(t: Tables): DataFrame = {
    val probe = t.orders.select(
      when(col("o_orderkey") % 97 === 0, lit(null).cast(LongType))
        .otherwise(col("o_custkey")).as("k"))
    val building = t.customer
      .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey").as("rk"))
    def notInCount(variant: String, right: DataFrame): DataFrame = {
      // hasNull is a 1-row aggregate, broadcast and cross-joined — the
      // right side is scanned once however large it is, and the whole
      // gate costs one boolean per output partition.
      val hasNull = right.agg(
        coalesce(max(col("rk").isNull), lit(false)).as("right_has_null"))
      probe
        .filter(col("k").isNotNull)
        .join(right.filter(col("rk").isNotNull).distinct(),
          col("k") === col("rk"), "left_anti")
        .crossJoin(broadcast(hasNull))
        .filter(!col("right_has_null"))
        .agg(count(lit(1)).as("n_rows"))
        .select(lit(variant).as("variant"), col("n_rows"))
    }
    // the one-row NULL source is a range, not `region.limit(1)`: Spark
    // names each limit operator's counter from a JVM-wide sequence, so a
    // codegen'd limit compiles a new class on every call
    notInCount("clean", building)
      .unionAll(notInCount("with_null",
        building.unionAll(
          t.spark.range(1).select(lit(null).cast(LongType).as("rk")))))
      .orderBy("variant")
  }
}
