package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.concurrent.TrieMap

/** Parquet table loaders for the driver test data (TESTDATA.md /
  * FIXTURES.md). One loader per table; the only table needing real work is
  * `events`, whose `ts` column has shipped in two encodings across driver
  * data regenerations: parquet TIMESTAMP(NANOS) (legacy) and
  * TIMESTAMP(MICROS) (current). Spark 4.x rejects nanos unless
  * `spark.sql.legacy.parquet.nanosAsLong=true`, after which ns arrives as
  * LongType and we convert ns→µs with integer division (SURVEY.md §1.2:
  * `/` would round-trip through double and lose precision above 2^53 ns).
  * The loader inspects the loaded schema and only applies the conversion
  * when `ts` is LongType — µs data passes through untouched, so both
  * encodings load with the same code path.
  *
  * DataFrames (lazy plans) are memoized per (session, dir, table) so a
  * Bench/Verify run doesn't re-list files per query; `Tables.cacheAll`
  * additionally persists the hot tables in memory for benchmark runs —
  * the moral equivalent of the OS page cache the single-node oracle enjoys.
  *
  * At 100 TB these single-file reads become partitioned-directory reads
  * (date-partitioned `events`/`orders`); nothing else here changes — the
  * loaders stay the single place where layout knowledge lives.
  */
final case class Tables(spark: SparkSession, sfDir: String) {

  /** All table names the contract queries touch. */
  def allNames: Seq[String] = Tables.names

  // looked up on construction, so a session gets graft's functions
  // (GraftExtensions.install) before any query is built on it
  private[this] val memo = Tables.sessionMemo(spark)

  def table(name: String): DataFrame =
    memo.getOrElseUpdate((sfDir, name), load(name))

  private def load(name: String): DataFrame = {
    // Session-level invariants every query relies on, settable at runtime.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    name match {
      case "events" =>
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        val raw = spark.read.parquet(s"$sfDir/events.parquet")
        raw.schema("ts").dataType match {
          case org.apache.spark.sql.types.LongType =>
            // Legacy TIMESTAMP(NANOS) surfaced as ns-since-epoch Long.
            raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
          case org.apache.spark.sql.types.TimestampNTZType =>
            // Naive µs (pandas-written, isAdjustedToUTC=false). Cast under
            // the UTC session zone = value-preserving, and keeps every
            // downstream op on the same TimestampType the ns path produces.
            raw.withColumn("ts",
              col("ts").cast(org.apache.spark.sql.types.TimestampType))
          case _ => raw // already TimestampType — pass through
        }
      case other =>
        spark.read.parquet(s"$sfDir/$other.parquet")
    }
  }

  def region: DataFrame = table("region")
  def nation: DataFrame = table("nation")
  def customer: DataFrame = table("customer")
  def supplier: DataFrame = table("supplier")
  def part: DataFrame = table("part")
  def orders: DataFrame = table("orders")
  def lineitem: DataFrame = table("lineitem")
  def events: DataFrame = table("events")
  def documents: DataFrame = table("documents")
  def embeddings: DataFrame = table("embeddings")

  /** Register every table as a temp view (used by the SQL entry point and
    * the differential test harness). `events` is registered post-conversion
    * so SQL sees a proper µs TimestampType column.
    */
  def registerViews(): Unit =
    Tables.names.foreach(n => table(n).createOrReplaceTempView(n))
}

object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Per-session memo, weakly keyed by the session object: entries (and
    * the analyzed plans they hold) become collectible when the session is
    * dropped — no leak in a long-running JVM and no identity-hash
    * collisions handing out DataFrames bound to a stopped session.
    * Every registry query enters through here, so a session seen for the
    * first time gets [[GraftExtensions.install]].
    */
  private val memoBySession =
    new java.util.WeakHashMap[SparkSession, TrieMap[(String, String), DataFrame]]()

  private[graft] def sessionMemo(spark: SparkSession): TrieMap[(String, String), DataFrame] =
    memoBySession.synchronized {
      var m = memoBySession.get(spark)
      if (m == null) {
        GraftExtensions.install(spark)
        m = TrieMap.empty[(String, String), DataFrame]
        memoBySession.put(spark, m)
      }
      m
    }

  /** Persist + materialize every table (benchmark warm path). Per-table
    * guarded: one unloadable table (schema drift, missing file) must degrade
    * to "queries over that table fail, everything else still measured" —
    * never zero the whole bench artifact (BENCH_r08 postmortem).
    */
  def cacheAll(spark: SparkSession, sfDir: String): Unit = {
    val t = Tables(spark, sfDir)
    val memo = sessionMemo(spark)
    names.foreach { n =>
      try {
        val df = t.table(n).cache()
        memo.update((sfDir, n), df)
        df.count() // materialize
      } catch {
        // NonFatal only: an OutOfMemoryError or interrupt must propagate —
        // continuing a bench in a heap-corrupted JVM would report garbage
        // timings instead of failing loudly.
        case scala.util.control.NonFatal(e) =>
          sessionMemo(spark).remove((sfDir, n))
          System.err.println(s"[tables] cacheAll: skipping '$n': ${e.getMessage}")
      }
    }
  }
}
