package graft.sources

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.util.Memo

/** Driver-checkable STORAGE-LAYOUT queries. [[Partitioned]] and [[ZOrder]]
  * were spec-only for six rounds (PartitionedSpec / ZOrderSpec prove the
  * pruning); these close the gap the same way [[Feeds]] did for CSV/JSON:
  * materialize the layout once per (SF, dataset-stamp), run a selective
  * read-back query through it, and let DuckDB state the identical result
  * from the ORIGINAL parquet — proving the layout write+read round-trip
  * loses nothing while the plan enjoys partition pruning / file skipping.
  *
  * Each layout is a [[Memo.dir]] entry keyed on its source table: Bench
  * re-runs each query 3×, and re-clustering 100 TB per query would be
  * absurd — a layout is written once and QUERIED many times.
  */
object Layouts {

  private def materialize(
      sfDir: String, table: String, kind: String)(write: Path => Unit): Path =
    Memo.dir(Memo.Key(s"${table}_$kind", sfDir, table))(write)

  /** Bucketed-layout co-located join: orders and customer both written
    * bucketed (8 buckets) on the join key, then joined WITHOUT either
    * side shuffling — the bucket layout pre-satisfies the join's
    * distribution requirement, which is THE decisive fact-fact join
    * optimization at 100 TB (PlanSpec asserts no Exchange feeds the
    * join). The `merge` hint keeps the demonstration honest: customer is
    * broadcast-size at test SFs, and a broadcast join would read the
    * bucketed table while proving nothing about the layout.
    *
    * Bucketed tables live in the session catalog (in-memory, per
    * context), with data under the entry's path; the oracle states the
    * identical aggregate from the ORIGINAL tables.
    */
  def joinBucketed(spark: SparkSession, sfDir: String): DataFrame = {
    val key = Memo.Key("bucketed", sfDir, "orders", "customer")
    val tag = Memo.tag(sfDir)
    val ot = s"graft_bkt_orders_$tag"
    val ct = s"graft_bkt_customer_$tag"
    Memo.inContext(spark, key) {
      val t = Tables(spark, sfDir)
      val dir = Memo.emptyPath(key)
      def writeOne(df: org.apache.spark.sql.DataFrame, table: String, by: String): Unit = {
        spark.sql(s"DROP TABLE IF EXISTS $table")
        df.write
          .bucketBy(8, by)
          .sortBy(by)
          .option("path", dir.resolve(table).toString)
          .mode("overwrite")
          .format("parquet")
          .saveAsTable(table)
      }
      writeOne(t.orders.select(col("o_custkey"), col("o_totalprice"), col("o_orderpriority")),
        ot, "o_custkey")
      writeOne(t.customer.select(col("c_custkey"), col("c_mktsegment")), ct, "c_custkey")
    }
    spark.table(ot)
      .join(spark.table(ct).hint("merge"), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_orders"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("sum_cents"))
      .orderBy("c_mktsegment")
  }

  /** Date-partitioned events layout, read back through a partition-pruned
    * scan: only the 2024-01-10..2024-01-19 directories are opened
    * (PartitionFilters — PartitionedSpec pins the pruning), then a
    * per-type count/sum over integral cents. Oracle: the same aggregation
    * over the ORIGINAL events table with a date predicate.
    */
  /** The ONE date-partitioned events generation, shared by every query
    * that reads through it ([[layoutPartitioned]], [[joinDpp]]): the
    * memo key ('events', 'bydate') dedupes the materialization, so the
    * write recipe must live in exactly one place — two inlined copies
    * would silently share whichever ran first and drift independently.
    */
  private def eventsByDate(spark: SparkSession, sfDir: String): Path =
    materialize(sfDir, "events", "bydate") { d =>
      Partitioned.writeDatePartitioned(
        Tables(spark, sfDir).events
          .filter(col("value").isNotNull && col("event_type").isNotNull),
        d.toString, "ts")
    }

  def layoutPartitioned(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = eventsByDate(spark, sfDir)
    Partitioned.read(spark, dir.toString)
      .filter(col("p_date") >= lit("2024-01-10").cast("date") &&
        col("p_date") <= lit("2024-01-19").cast("date"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_ev"),
        sum(round(col("value") * 100).cast("long")).as("sum_cents"))
      .orderBy("event_type")
  }

  /** Dynamic-partition-pruning join over the date-partitioned events
    * layout (same materialized generation as [[layoutPartitioned]] — a
    * layout is written once and queried many ways): the fact joins a
    * GENERATED calendar dimension filtered to one weekday, and the dates
    * the fact must read are only known after the dim filter runs — the
    * static-pruning query above cannot express this. Catalyst's dynamic
    * partition pruning turns the dim's broadcast into an IN-subquery
    * partition filter on the fact scan (DppSpec pins `dynamicpruning`
    * in the scan's PartitionFilters), so the fact opens ~1/7 of its
    * date directories instead of all of them. At 100 TB this is THE
    * star-schema join optimization: the 100 TB side is pruned by a
    * predicate on a kilobyte-sized dimension.
    *
    * The weekday is classified by exact date arithmetic
    * (days-since-2024-01-01 mod 7, 0 = Monday) so the DuckDB oracle
    * states the identical predicate without any locale/week-start
    * convention in play.
    */
  def joinDpp(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = eventsByDate(spark, sfDir)
    val calendar = spark.range(0, 91)
      .select(date_add(lit("2024-01-01").cast("date"),
        col("id").cast("int")).as("cal_date"))
      .withColumn("dow_idx",
        datediff(col("cal_date"), lit("2024-01-01").cast("date")) % 7)
    val tuesdays = calendar.filter(col("dow_idx") === 1).select("cal_date")
    Partitioned.read(spark, dir.toString)
      .join(broadcast(tuesdays), col("p_date") === col("cal_date"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_ev"),
        sum(round(col("value") * 100).cast("long")).as("sum_cents"))
      .orderBy("event_type")
  }

  /** Small-file compaction driven end-to-end ([[Blocks.compact]] was
    * spec-only): the events table is first written as 64 tiny files —
    * the debris a per-trigger micro-batch sink leaves behind — then
    * compacted into 4 range-sorted files (a new immutable generation,
    * never an in-place rewrite), and the QUERY reads the compacted
    * generation. The DuckDB oracle states the same aggregate from the
    * ORIGINAL events parquet, so the check proves the two-hop lifecycle
    * (fragment → compact → read) loses and duplicates nothing — the
    * failure modes compaction jobs actually have. CompactionSpec pins the
    * file-count collapse and the per-file sort; at 100 TB this is the
    * maintenance job that keeps scan throughput from collapsing under
    * per-file open overhead.
    */
  def layoutCompaction(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = materialize(sfDir, "events", "compact") { d =>
      val small = d.resolve("gen1_small")
      Tables(spark, sfDir).events
        .filter(col("value").isNotNull && col("event_type").isNotNull)
        .select(col("event_id"), col("event_type"),
          round(col("value") * 100).cast("long").as("cents"))
        .repartition(64, col("event_id"))
        .write.parquet(small.toString)
      Blocks.compact(spark, small.toString, d.resolve("gen2").toString,
        numFiles = 4, sortCol = "event_id")
    }
    spark.read.parquet(dir.resolve("gen2").toString)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_ev"), sum(col("cents")).as("sum_cents"))
      .orderBy("event_type")
  }

  /** Schema-evolution read across table generations: generation 1 wrote
    * suppliers with three columns; generation 2 added `bal_cents`. A
    * lakehouse reader must union the generations WITHOUT rewriting gen-1
    * files (at 100 TB a backfill rewrite is the thing schema evolution
    * exists to avoid) — Spark's `mergeSchema` parquet read reconciles the
    * footers and surfaces the missing column as NULL for gen-1 rows. The
    * query then makes the null-vs-zero distinction explicit: suppliers
    * counted per nation, with how many carry a balance and the balance
    * sum over those that do. Oracle: the identical split restated from
    * the ORIGINAL supplier table and the generation rule (odd suppkeys
    * are gen 1, even are gen 2).
    */
  def sourceSchemaEvolution(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = materialize(sfDir, "supplier", "schemaevo") { d =>
      val t = Tables(spark, sfDir)
      t.supplier.filter(col("s_suppkey") % 2 === 1)
        .select(col("s_suppkey"), col("s_name"), col("s_nationkey"))
        .write.parquet(d.resolve("gen1").toString)
      t.supplier.filter(col("s_suppkey") % 2 === 0)
        .select(col("s_suppkey"), col("s_name"), col("s_nationkey"),
          round(col("s_acctbal") * 100).cast("long").as("bal_cents"))
        .write.parquet(d.resolve("gen2").toString)
    }
    spark.read.option("mergeSchema", "true")
      .parquet(dir.resolve("gen1").toString, dir.resolve("gen2").toString)
      .groupBy("s_nationkey")
      .agg(count(lit(1)).as("n_supp"),
        count(col("bal_cents")).as("n_with_bal"),
        sum(coalesce(col("bal_cents"), lit(0L))).as("sum_bal_cents"))
      .orderBy("s_nationkey")
  }

  /** GDPR-style erasure as a SURGICAL file rewrite: a right-to-be-
    * forgotten request must not rewrite the table — on a key-range-sorted
    * layout, the delete list localizes to the few files whose key range
    * contains an affected key, so generation 2 consists of (a) the
    * untouched files HARD-LINKED from generation 1 (zero bytes copied,
    * the immutable-generation discipline of the manifest family) and
    * (b) only the affected files rewritten minus the erased keys. At
    * 100 TB with thousands of files per table, erasing a handful of
    * users costs a handful of file rewrites — the entire point of
    * keeping the fact range-clustered on the entity key.
    *
    * Driver-state discipline: affected files are selected by joining the
    * broadcast request against per-file FOOTER zones
    * ([[ZoneMaps.keyZones]] — no data scan, no driver file list), and the
    * unbounded UNTOUCHED side is hard-linked distributedly
    * (`foreachPartition` over the zone frame). The only paths that ever
    * reach the driver are the affected ones — the erasure PLAN, O(request)
    * on a range-sorted layout, the same thing a lakehouse DELETE holds
    * while planning — never O(table files).
    *
    * The query reads generation 2; the oracle states the identical
    * aggregate from the ORIGINAL table under the erasure predicate, so a
    * rewrite that loses a row, keeps an erased row, or double-links a
    * file surfaces as a value mismatch. ErasureSpec pins the surgical
    * property itself: linked files are byte-identical originals and only
    * zone-affected files were rewritten.
    */
  def gdprErasure(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = materialize(sfDir, "orders", "erasure") { d =>
      val gen1 = d.resolve("gen1")
      Tables(spark, sfDir).orders
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
        .repartitionByRange(16, col("o_custkey"))
        .sortWithinPartitions("o_custkey")
        .write.parquet(gen1.toString)
      import spark.implicits._
      // the erasure REQUEST: at production scale this arrives as a small
      // key list; here it is derived from the fixture predicate
      val erased = Tables(spark, sfDir).orders
        .filter(col("o_custkey") % 293 === 0)
        .select(col("o_custkey").as("k")).distinct()
      // ONE footer sweep: keyZones opens a parquet footer per file, and
      // every un-cached reference below would re-run the sweep (three
      // sweeps at thousands-of-files scale). The zone table itself is
      // tiny — (path, zmin, zmax) per file — so cache it for the op.
      val zones = ZoneMaps.keyZones(spark, gen1.toString, "o_custkey").cache()
      try {
      // a file is affected iff its footer zone can contain an erased key;
      // the path collect is the O(request)-bounded erasure plan
      val affectedPaths = zones.join(broadcast(erased),
          col("k") >= col("zmin") && col("k") <= col("zmax"))
        .select("path").distinct().as[String].collect()
      val gen2 = d.resolve("gen2")
      Files.createDirectories(gen2)
      // hard-link the untouched side DISTRIBUTEDLY — each task links its
      // own files (local mode shares the FS; on a real cluster this step
      // is the metadata-only manifest copy), so the driver never holds
      // the unbounded file list (the AFFECTED set it excludes is
      // request-bounded)
      val gen2Str = gen2.toString
      val affectedSet = affectedPaths.toSet
      zones.select("path").as[String]
        .filter(p => !affectedSet.contains(p))
        .foreachPartition { (it: Iterator[String]) =>
          it.foreach { p =>
            val src = java.nio.file.Paths.get(new java.net.URI(p).getPath)
            Files.createLink(
              java.nio.file.Paths.get(gen2Str).resolve(src.getFileName), src)
          }
        }
      if (affectedPaths.nonEmpty) {
        val rw = d.resolve("gen2_rw")
        spark.read.parquet(affectedPaths.toSeq: _*)
          .join(broadcast(erased), col("o_custkey") === col("k"), "left_anti")
          .write.parquet(rw.toString)
        val s = Files.list(rw)
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet"))
            .foreach(f => Files.move(f, gen2.resolve("rw-" + f.getFileName)))
        } finally s.close()
      }
      } finally { zones.unpersist(); () }
    }
    spark.read.parquet(dir.resolve("gen2").toString)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("sum_cents"))
      .orderBy("o_orderpriority")
  }

  /** Z-order-clustered orders layout (Morton interleave of o_custkey ×
    * o_totalprice — ZOrderSpec proves the file skipping on BOTH columns),
    * read back through a two-dimensional selective filter + aggregate.
    * Oracle: the same filter over the ORIGINAL orders table — the layout
    * must be a pure reordering.
    */
  def layoutZorder(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = materialize(sfDir, "orders", "zorder") { d =>
      ZOrder.writeZOrdered(
        Tables(spark, sfDir).orders,
        d.toString, Seq("o_custkey", "o_totalprice"), numFiles = 16)
    }
    spark.read.parquet(dir.toString)
      .filter(col("o_custkey") < 500 && col("o_totalprice") > 100000.0)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("sum_cents"))
      .orderBy("o_orderpriority")
  }
}
