package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Key-salting for skewed equi-joins. AQE's skew-join split handles most
  * cases at runtime; explicit salting remains the tool when one key is so
  * hot that even split shuffle blocks overwhelm a task (classic at 100 TB:
  * a null-ish or default key holding 1% of all rows).
  *
  * The skewed (large) side gets a deterministic salt in [0, buckets); the
  * build side is replicated once per salt value. The join key becomes
  * (key, salt) — the hot key's rows spread over `buckets` tasks. Result
  * set is provably identical to the unsalted join (SkewSpec).
  */
object Skew {

  /** Inner equi-join with the left side salted and the right side
    * replicated. `keys` are the equi-join column names (present on both
    * sides). Right side is assumed the smaller (it is replicated
    * `buckets` times — keep it the dimension side).
    */
  def saltedJoin(left: DataFrame, right: DataFrame, keys: Seq[String], buckets: Int): DataFrame = {
    require(buckets > 0)
    // Inner-join only: replicating the build side is wrong for outer/semi
    // variants (they would multiply or lose unmatched rows).
    val salt = s"__graft_salt_${java.util.UUID.randomUUID().toString.take(8)}"
    require(!left.columns.contains(salt) && !right.columns.contains(salt))
    // Deterministic per-row salt: hash of the whole left row — spreads a
    // hot key's rows uniformly without RNG.
    val leftSalted = left.withColumn(
      salt, pmod(xxhash64(struct(left.columns.map(col): _*)), lit(buckets.toLong)).cast("int"))
    val rightReplicated = right.withColumn(
      salt, explode(sequence(lit(0), lit(buckets - 1))))
    leftSalted
      .join(rightReplicated, keys :+ salt)
      .drop(salt)
  }

  /** [[saltedJoin]] as a registered, DuckDB-oracled query: events (fact,
    * salted) ⋈ customer (dim, replicated) on user_id, then revenue by
    * market segment. The oracle is the PLAIN join — salting is a physical
    * rewrite that must be row-identical for any 1-row-per-key dim. At the
    * registered (default) config the 150-row dim broadcasts and the salt
    * is dormant; [[graft.PlanSpec]] disables auto-broadcast and asserts
    * the shuffle variant hash-partitions on the composite (key, salt) —
    * exactly the plan a 100 TB fact table with one hot user needs.
    */
  def joinSkewSalted(t: graft.Tables, buckets: Int = 8): DataFrame = {
    import graft.ops.Relational.{dbl, dec}
    val facts = t.events.withColumnRenamed("user_id", "custkey")
    val dim = t.customer.select(
      col("c_custkey").as("custkey"), col("c_mktsegment"))
    saltedJoin(facts, dim, Seq("custkey"), buckets)
      .groupBy("c_mktsegment")
      .agg(
        count(lit(1)).as("n_ev"),
        dbl(sum(dec(col("value"))).cast(
          org.apache.spark.sql.types.DecimalType(38, 2))).as("sv"))
      .orderBy("c_mktsegment")
  }

  /** The AUTOMATIC sibling of [[joinSkewSalted]]: the same semantic join
    * left to AQE's runtime skew split (OptimizeSkewedJoin) instead of a
    * manual salt — the production default at 100 TB, with salting held
    * for keys so hot that even split shuffle blocks overwhelm a task.
    * The fact side is deliberately skewed (90% of lineitem lands on one
    * derived key) and the session clone tunes the split thresholds to
    * TEST-scale bytes, exactly as a real deployment sizes them to
    * executor memory; broadcast is disabled so the join actually
    * shuffles (a broadcast would dissolve the skew trivially — and
    * proving AQE fired is SkewAqeSpec's job: the executed SMJ carries
    * `skew=true` and the result equals the plain-join oracle).
    */
  // tuned clone memoized per SparkContext: Bench/Verify invoke the query
  // repeatedly, and an un-memoized newSession would pay SessionState
  // construction + cold table scans on every call while every other query
  // measures warm
  def joinSkewAqe(spark: org.apache.spark.sql.SparkSession, sfDir: String): DataFrame =
    buildSkewJoin(graft.util.Sessions.forContext(spark, "skew") { ss =>
      ss.conf.set("spark.sql.adaptive.enabled", "true")
      ss.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      ss.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.0")
      ss.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "512b")
      ss.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "512b")
      // the join's output partitioning would satisfy the downstream
      // aggregation, so an un-forced AQE declines the split (it would add
      // a shuffle); forcing is the documented trade — pay one extra
      // exchange of AGGREGATED rows to break the straggler task. At
      // 100 TB that trade is almost always right: the extra shuffle moves
      // group-grain partials, the straggler holds raw fact rows.
      ss.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
      // the split only helps when the join SHUFFLES; at test SF the dim
      // would otherwise broadcast and there'd be nothing to prove
      ss.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      ss.conf.set("spark.sql.session.timeZone", "UTC")
    }, sfDir)

  private def buildSkewJoin(ss: org.apache.spark.sql.SparkSession, sfDir: String): DataFrame = {
    val t = graft.Tables(ss, sfDir)
    // AQE splits a skewed reduce partition along MAPPER boundaries — at
    // test SF the fact is one parquet file = ONE mapper, and a single
    // mapper's output is unsplittable (verified: no split fires without
    // this). The round-robin repartition models the many-mapper reality
    // of any real table; at 100 TB the mappers are the file splits and
    // this line disappears.
    val fact = t.lineitem.select(
      when(col("l_orderkey") % 100 < 90, lit(0L))
        .otherwise(col("l_orderkey") % 100).as("skew_key"),
      col("l_quantity"))
      .repartition(8)
    val dim = ss.range(0, 100)
      .select(col("id").as("skew_key"),
        concat(lit("grp_"), (col("id") % 7).cast("string")).as("dim_label"))
    fact.join(dim, "skew_key")
      .groupBy("skew_key", "dim_label")
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col("l_quantity").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast(org.apache.spark.sql.types.DecimalType(38, 2))
          .cast("double").as("sum_qty"))
      .orderBy("skew_key")
  }

  /** Skew-safe two-level aggregation: the salting rewrite for GROUP BY
    * (the sibling of [[saltedJoin]] for aggregates). Stage 1 groups by
    * (key, salt) and reduces to partial (count, decimal sum); stage 2
    * re-groups the `buckets`-bounded partials by key alone and combines.
    * A key holding 50% of a 100 TB fact therefore lands on `buckets`
    * tasks in the only shuffle that sees raw rows; the second shuffle
    * carries #keys × buckets partial rows.
    *
    * Spark's partial/final HashAggregate already achieves this when the
    * map side combines well; the explicit rewrite is the tool when the
    * hot key's rows are spread across ALL input partitions so every
    * map-side partial still emits that key (the final single reducer
    * then receives #partitions rows for it — fine) but a downstream
    * per-key windowed/collect step would not combine. Registered with
    * the PLAIN group-by as its DuckDB oracle: the rewrite must be
    * value-identical (counts exact, sums decimal-exact and order-free).
    */
  def aggSaltedTwolevel(t: graft.Tables, buckets: Int = 16): DataFrame = {
    import graft.ops.Relational.{dbl, dec}
    import org.apache.spark.sql.types.{DecimalType, LongType}
    val salted = t.events
      .filter(col("event_type").isNotNull)
      .withColumn("salt",
        pmod(xxhash64(col("event_id")), lit(buckets.toLong)).cast("int"))
      .groupBy("event_type", "salt")
      .agg(
        count(lit(1)).cast(LongType).as("pc"),
        sum(dec(col("value"))).cast(DecimalType(38, 2)).as("ps"))
    salted
      .groupBy("event_type")
      .agg(
        sum(col("pc")).cast(LongType).as("n_ev"),
        dbl(sum(col("ps")).cast(DecimalType(38, 2))).as("sv"),
        // one double division over the exact (decimal sum, count) pair —
        // both engines divide the same operands, so round(6) agrees
        round(dbl(sum(col("ps")).cast(DecimalType(38, 2))) /
          sum(col("pc")).cast("double"), 6).as("avg_v"))
      .orderBy("event_type")
  }
}
