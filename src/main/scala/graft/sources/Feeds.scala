package graft.sources

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.Memo

/** Driver-checkable NON-PARQUET source queries. The driver test data is
  * parquet-only, so the CSV/JSON-lines readers ([[Sources]]) stayed
  * unit-test-only for six rounds; these queries close that gap by
  * MATERIALIZING a small dimension table in the foreign format first
  * (single file) and then running an aggregation through the
  * declared-schema reader; the DuckDB oracle states the same aggregation
  * over the original table, so the check covers format writer + reader +
  * query end to end. Tiny DIM tables only (nation: 25 rows, supplier:
  * hundreds) — the materialization is a single-partition format write
  * (coalesce(1) + move), not a driver-side row loop.
  *
  * Every feed file and store is a [[Memo.dir]] entry keyed on the tables
  * it is built from. Queries that mutate their store at read time are
  * idempotent against the mutated state (Bench times every query three
  * times in one JVM), so serving them a store a previous JVM left is the
  * same contract as the in-JVM reuse.
  */
object Feeds {

  /** Write `df` as exactly one file in `format` (csv with header / json
    * lines), the [[Memo.dir]] entry of `key`, named like its family: a
    * staging single-partition write (coalesce(1)), then a move. The CSV
    * escape is pinned to the RFC-4180 doubled-quote convention so
    * DuckDB's default `read_csv` dialect parses it byte-identically.
    */
  private def writeOne(df: DataFrame, format: String, key: Memo.Key): Path =
    Memo.dir(key) { d =>
      val staging = Files.createTempDirectory("graft_feed_fmt")
      try {
        val w = df.coalesce(1).write.mode("overwrite")
        val configured = format match {
          case "csv" => w.option("header", "true").option("escape", "\"")
          case "xml" => w.option("rowTag", "row")
          case _ => w
        }
        configured.format(format).save(staging.toString)
        val part = staging.toFile.listFiles()
          .find(f => f.getName.startsWith("part-")).get
        Files.createDirectories(d)
        Files.move(part.toPath, d.resolve(key.family))
      } finally graft.util.Fs.deleteQuietly(staging)
    }.resolve(key.family)

  /** CSV round-trip query: nation → one headered CSV file → declared-
    * schema CSV read → nations per region. Oracle: DuckDB `read_csv` on
    * the same file.
    */
  def sourceCsv(spark: SparkSession, sfDir: String): DataFrame = {
    val nation = graft.Tables(spark, sfDir).nation
    val dest = writeOne(nation, "csv", Memo.Key("nation.csv", sfDir, "nation"))
    Sources.csvSource(spark, dest.toString, nation.schema)
      .groupBy("n_regionkey")
      .agg(
        count(lit(1)).as("n_nations"),
        min(col("n_name")).as("first_name"),
        sum(col("n_nationkey")).as("sum_key"))
      .orderBy("n_regionkey")
  }

  /** TEXT-lines round-trip: documents → one line-per-doc text file
    * (`doc_id<US>text`, the unit separator because word-soup bodies can
    * in principle carry tabs) → `spark.read.text` → parse + aggregate
    * per doc_id bucket. Completes the source-format family
    * (parquet/csv/json/orc/text). DuckDB has no bare-lines reader that
    * skips CSV inference cleanly, so like ORC the oracle states the
    * same aggregation over the ORIGINAL documents table: any
    * corruption in the engine's text write, read, or parse surfaces as
    * a value mismatch.
    */
  def sourceText(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = graft.Tables(spark, sfDir).documents
      .filter(col("text").isNotNull)
    // line terminators are THE hazard of a line-per-doc format: map them
    // to spaces at write time (length-preserving, so the original-table
    // oracle needs no mirroring) and the round trip is total even for a
    // future corpus with multi-line bodies
    val lines = docs
      .select(concat(col("doc_id").cast("string"), lit("\u001f"),
        translate(col("text"), "\n\r", "  ")).as("value"))
    val dest = writeOne(lines, "text", Memo.Key("documents.txt", sfDir, "documents"))
    spark.read.text(dest.toString)
      .select(
        substring_index(col("value"), "\u001f", 1).cast("long").as("doc_id"),
        expr("substring(value, instr(value, '\u001f') + 1)").as("text"))
      .groupBy((col("doc_id") % 10).as("bucket"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("doc_id")).as("sum_ids"),
        sum(length(col("text"))).as("sum_chars"))
      .orderBy("bucket")
  }

  /** ORC round-trip query: customer (key/string/int columns — doubles
    * stay out for cross-engine hash stability) → one ORC file →
    * declared-schema ORC read → customers per nation. DuckDB has no ORC
    * reader, so the oracle states the same aggregation over the original
    * parquet table: a corrupted ORC write OR read shows up as a value
    * mismatch — the round trip itself is what's under test.
    */
  def sourceOrc(spark: SparkSession, sfDir: String): DataFrame = {
    val customer = graft.Tables(spark, sfDir).customer
      .select("c_custkey", "c_name", "c_nationkey", "c_mktsegment")
    val dest = writeOne(customer, "orc", Memo.Key("customer.orc", sfDir, "customer"))
    Sources.orcSource(spark, dest.toString, customer.schema)
      .groupBy("c_nationkey")
      .agg(
        count(lit(1)).as("n_customers"),
        min(col("c_name")).as("first_name"),
        countDistinct(col("c_mktsegment")).as("n_segments"),
        sum(col("c_custkey")).as("sum_key"))
      .orderBy("c_nationkey")
  }

  /** XML round-trip query: part (key/string/long columns) → one XML file
    * (Spark 4.0+ BUILT-IN xml source, explicit `rowTag` on both write and
    * read — the default differs between the two directions) →
    * declared-schema XML read → parts per brand. XML is the one
    * interchange format whose escaping rules (entity-encoded `&<>`)
    * differ from every other source in the family; `p_name`/`p_type`
    * are free text, so the writer's escaping is genuinely exercised.
    * DuckDB has no XML reader, so like ORC the oracle states the same
    * aggregation over the ORIGINAL parquet table: a corrupted XML write
    * OR read surfaces as a value mismatch — the round trip itself is
    * what's under test. Completes the source-format family
    * parquet/csv/json/orc/text/xml.
    */
  def sourceXml(spark: SparkSession, sfDir: String): DataFrame = {
    val part = graft.Tables(spark, sfDir).part
      .select("p_partkey", "p_name", "p_brand", "p_type", "p_size")
    val dest = writeOne(part, "xml", Memo.Key("part.xml", sfDir, "part"))
    spark.read.option("rowTag", "row").schema(part.schema)
      .format("xml").load(dest.toString)
      .groupBy("p_brand")
      .agg(
        count(lit(1)).as("n_parts"),
        min(col("p_name")).as("first_name"),
        countDistinct(col("p_type")).as("n_types"),
        sum(col("p_partkey")).as("sum_key"),
        sum(col("p_size")).as("sum_size"))
      .orderBy("p_brand")
  }

  /** Malformed-feed intake — the PERMISSIVE corrupt-record path every
    * production CSV ingestion needs and none of the clean round-trips
    * exercise: a feed file is materialized with every 5th row's
    * s_nationkey field deliberately non-numeric, read back under
    * `mode=PERMISSIVE` with a `_corrupt_record` column, and the query
    * quarantines corrupt rows into their own group (−1) while
    * aggregating the valid ones per nation. A reader that silently
    * drops, mis-parses, or double-counts bad rows shifts either group.
    *
    * The oracle states the result from the ORIGINAL supplier table plus
    * the same corruption rule — so the whole path (render → corrupt →
    * permissive parse → quarantine) is what's under test. Corrupt rows
    * contribute only their count (no field of a corrupt row is trusted),
    * which keeps the check independent of HOW MUCH of a malformed row a
    * parser chooses to salvage.
    */
  def sourceCsvMalformed(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val supplier = graft.Tables(spark, sfDir).supplier
      .select("s_suppkey", "s_name", "s_nationkey")
    val lines = supplier.select(
      when(col("s_suppkey") % 5 === 0,
        concat_ws(",", col("s_suppkey"), col("s_name"), lit("not_a_number")))
        .otherwise(
          concat_ws(",", col("s_suppkey"), col("s_name"), col("s_nationkey")))
        .as("value"))
    val dest = writeOne(lines, "text", Memo.Key("supplier_malformed.csv", sfDir, "supplier"))
    val schema = StructType(Seq(
      StructField("s_suppkey", LongType),
      StructField("s_name", StringType),
      StructField("s_nationkey", LongType),
      StructField("_corrupt_record", StringType)))
    spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(dest.toString)
      .select(
        when(col("_corrupt_record").isNotNull, lit(-1L))
          .otherwise(col("s_nationkey")).as("grp"),
        when(col("_corrupt_record").isNotNull, lit(0L))
          .otherwise(col("s_suppkey")).as("key"))
      .groupBy("grp")
      .agg(count(lit(1)).as("n_rows"), sum(col("key")).as("sum_key"))
      .orderBy("grp")
  }

  /** JSON-lines round-trip query: supplier (string/long columns — the
    * float s_acctbal stays out, JSON float round-tripping is not
    * byte-stable cross-engine) → one ndjson file → declared-schema JSON
    * read → suppliers per nation. Oracle: DuckDB `read_json` on the same
    * file.
    */
  def sourceJson(spark: SparkSession, sfDir: String): DataFrame = {
    val supplier = graft.Tables(spark, sfDir).supplier
      .select("s_suppkey", "s_name", "s_nationkey")
    val dest = writeOne(supplier, "json", Memo.Key("supplier.json", sfDir, "supplier"))
    Sources.jsonLinesSource(spark, dest.toString, supplier.schema)
      .groupBy("s_nationkey")
      .agg(
        count(lit(1)).as("n_suppliers"),
        min(col("s_name")).as("first_name"),
        sum(col("s_suppkey")).as("sum_key"))
      .orderBy("s_nationkey")
  }

  /** The manifest-committed DSv2 table ([[ManifestTable]]) driven end to
    * end: customer is written THROUGH the connector's staged-file +
    * atomic-manifest commit once per (SF, dataset stamp), read back
    * through the manifest-scoped scan, and aggregated per nation. The
    * oracle aggregates the ORIGINAL parquet table — a commit that loses,
    * duplicates, or tears rows (or a codec that corrupts any value)
    * surfaces as a value mismatch.
    */
  /** Build-once customer manifest store for this dataset stamp; returns
    * its path. Shared by [[sourceManifest]] and the declarative graph's
    * `manifest` source node (`pipeline_graph_manifest`).
    */
  def ensureCustomerManifest(spark: SparkSession, sfDir: String): String = {
    val customer = graft.Tables(spark, sfDir).customer
      .select("c_custkey", "c_name", "c_nationkey", "c_mktsegment")
    val dest = Memo.dir(Memo.Key("customer_manifest", sfDir, "customer")) { dest =>
      customer.write.format("graft.sources.ManifestTable")
        .option("path", dest.toString).mode("append").save()
    }
    dest.toString
  }

  def sourceManifest(spark: SparkSession, sfDir: String): DataFrame = {
    val dest = ensureCustomerManifest(spark, sfDir)
    spark.read.format("graft.sources.ManifestTable")
      .option("path", dest).load()
      .groupBy("c_nationkey")
      .agg(
        count(lit(1)).as("n_customers"),
        min(col("c_name")).as("first_name"),
        countDistinct(col("c_mktsegment")).as("n_segments"),
        sum(col("c_custkey")).as("sum_key"))
      .orderBy("c_nationkey")
  }

  /** Time travel on the manifest table: customer lands in TWO commits
    * (even custkeys, then odd), and the query reads SNAPSHOT 1 — the
    * even half — through `.option("version", 1)` while the current
    * snapshot holds everything. The oracle states version 1's contents
    * from the original table (`c_custkey % 2 = 0`), so a time-travel
    * read that leaks later files or loses snapshot-1 rows is a value
    * mismatch. This is the reproducibility property a training pipeline
    * leans on: yesterday's corpus re-materializes exactly.
    */
  def sourceManifestTimeTravel(spark: SparkSession, sfDir: String): DataFrame = {
    val customer = graft.Tables(spark, sfDir).customer
      .select("c_custkey", "c_name", "c_nationkey", "c_mktsegment")
    val dest = Memo.dir(Memo.Key("customer_manifest_tt", sfDir, "customer")) { dest =>
      Seq(0, 1).foreach { parity =>
        customer.filter(pmod(col("c_custkey"), lit(2)) === parity)
          .write.format("graft.sources.ManifestTable")
          .option("path", dest.toString).mode("append").save()
      }
    }
    spark.read.format("graft.sources.ManifestTable")
      .option("path", dest.toString).option("version", "1").load()
      .groupBy("c_nationkey")
      .agg(
        count(lit(1)).as("n_customers"),
        min(col("c_name")).as("first_name"),
        sum(col("c_custkey")).as("sum_key"))
      .orderBy("c_nationkey")
  }

  /** ZONE-MAP FILE SKIPPING driven end to end: the events table lands in
    * the manifest table RANGE-PARTITIONED on `event_id` (8 staged files
    * with tight, disjoint id ranges in their manifest stats), and the
    * query's id-range predicate is pushed into [[ManifestScanBuilder]],
    * which plans input partitions ONLY for files whose [min,max] overlap
    * it — the Delta/Iceberg data-skipping shape, where at 100 TB the
    * manifest read replaces opening every file. The oracle states the
    * same aggregation over the ORIGINAL events table, so a zone map that
    * skips a file it shouldn't (or a writer that records a wrong bound)
    * is a value mismatch, not a plan nicety. ManifestSkipSpec pins that
    * files were actually skipped; correctness never depends on it
    * (every pushed filter stays a residual).
    */
  def sourceManifestSkipping(spark: SparkSession, sfDir: String): DataFrame = {
    val events = graft.Tables(spark, sfDir).events
      .select(col("event_id"), col("user_id"), col("event_type"),
        round(col("value") * 100).cast("long").as("vc"))
    val dest = Memo.dir(Memo.Key("events_manifest_zm", sfDir, "events")) { dest =>
      events.repartitionByRange(8, col("event_id"))
        .write.format("graft.sources.ManifestTable")
        .option("path", dest.toString).mode("append").save()
    }
    spark.read.format("graft.sources.ManifestTable")
      .option("path", dest.toString).load()
      .filter(col("event_id") >= 2000L && col("event_id") < 4000L)
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_ev"),
        sum(col("vc")).as("sum_cents"),
        min(col("event_id")).as("min_id"),
        max(col("event_id")).as("max_id"))
      .orderBy("event_type")
  }

  /** VACUUM / retention driven end to end: supplier lands as snapshot 1,
    * a TRUNCATING overwrite (even supplier keys only) replaces it as
    * snapshot 2, and [[ManifestTable.vacuum]] then expires snapshot 1 —
    * deleting its manifest and every data file only it referenced. The
    * read after vacuum must still see snapshot 2 exactly (oracle: the
    * even-key aggregation over the original table), so a vacuum that
    * deletes a LIVE file fails the value check, and ManifestSkipSpec
    * pins the flip side — the expired files are really gone and time
    * travel to v1 now raises.
    */
  def sourceManifestVacuum(spark: SparkSession, sfDir: String): DataFrame = {
    val supplier = graft.Tables(spark, sfDir).supplier
      .select("s_suppkey", "s_name", "s_nationkey")
    val dest = Memo.dir(Memo.Key("supplier_manifest_vac", sfDir, "supplier")) { dest =>
      supplier.write.format("graft.sources.ManifestTable")
        .option("path", dest.toString).mode("append").save()
      supplier.filter(pmod(col("s_suppkey"), lit(2)) === 0)
        .write.format("graft.sources.ManifestTable")
        .option("path", dest.toString).mode("overwrite").save()
      ManifestTable.vacuum(dest.toString)
    }
    spark.read.format("graft.sources.ManifestTable")
      .option("path", dest.toString).load()
      .groupBy("s_nationkey")
      .agg(
        count(lit(1)).as("n_suppliers"),
        min(col("s_name")).as("first_name"),
        sum(col("s_suppkey")).as("sum_key"))
      .orderBy("s_nationkey")
  }

  /** EQUALITY DELETES (merge-on-read) driven through their whole
    * lifecycle in one query: orders lands as snapshot 1, a delete of the
    * 500 smallest open-status order keys commits as snapshot 2 (data
    * files untouched — a small key file + a new manifest version), and
    * [[ManifestTable.compactDeletes]] folds the deletes into rewritten
    * data files as snapshot 3. The query then reads BOTH the current
    * snapshot (rows physically absent after the fold) and time-travels to
    * snapshot 1 (the pre-delete row set, still intact because deletes
    * never touch data files) and emits per-status counts from each side —
    * so the oracle checks, in one hash, that the delete removed exactly
    * the stated keys, that the fold changed nothing logically, and that
    * history is still readable. The delete list is a bounded driver-side
    * collect BY CONSTRUCTION: deletes are requests (an erasure list), not
    * corpus — the same boundedness contract as the ANN tombstones.
    * ManifestDeleteSpec pins the physical side (no delete entries and no
    * deleted bytes in snapshot 3's files; vacuum retention of key files;
    * delete idempotence).
    */
  def sourceManifestDelete(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = graft.Tables(spark, sfDir).orders
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
    val dest = Memo.dir(Memo.Key("orders_manifest_del", sfDir, "orders")) { dest =>
      orders.write.format("graft.sources.ManifestTable")
        .option("path", dest.toString).mode("append").save()                // v1
      val delKeys = orders.filter(col("o_orderstatus") === "O")
        .orderBy("o_orderkey").limit(500)
        .select("o_orderkey").collect().map(_.getLong(0)).toSeq
      ManifestTable.deleteKeys(dest.toString, "o_orderkey", delKeys)        // v2
      ManifestTable.compactDeletes(spark, dest.toString)                    // v3
    }
    val cur = spark.read.format("graft.sources.ManifestTable")
      .option("path", dest.toString).load()
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_after"),
        sum(col("o_orderkey")).as("sum_key_after"),
        sum(col("cents")).as("sum_cents_after"))
    val v1 = spark.read.format("graft.sources.ManifestTable")
      .option("path", dest.toString).option("version", "1").load()
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_before"))
    cur.join(v1, Seq("o_orderstatus"))
      .select(col("o_orderstatus"), col("n_before"), col("n_after"),
        col("sum_key_after"), col("sum_cents_after"))
      .orderBy("o_orderstatus")
  }

  /** MULTI-DIMENSION partitioned layout (round 14: `partitionCol` takes
    * a comma list): orders lands one file per (order-year, key-slot)
    * COMBINATION, each file carrying BOTH first-class `@` fields — the
    * date × source shape a 100 TB store actually uses, where a query
    * slicing either dimension (or both) lists only its files
    * (ManifestCtasSpec pins planned-file counts per dimension). The
    * oracle restates the two-dimension slice over the original table, so
    * a misrouted combination or a field that prunes a live file is a
    * value mismatch.
    */
  def sourceManifestMultidim(spark: SparkSession, sfDir: String): DataFrame = {
    val dest = Memo.dir(Memo.Key("orders_manifest_multidim", sfDir, "orders")) { dest =>
      ordersByMonth(spark, sfDir)
        .withColumn("oyear", expr("omonth div 100"))
        .withColumn("kslot", pmod(col("o_orderkey"), lit(4L)))
        .write.format("graft.sources.ManifestTable")
        .option("path", dest.toString)
        .option("partitionCol", "oyear,kslot")
        .mode("append").save()
    }
    spark.read.format("graft.sources.ManifestTable")
      .option("path", dest.toString).load()
      .filter(col("oyear") === 1996L && col("kslot").isin(1L, 3L))
      .groupBy("o_orderstatus")
      .agg(
        count(lit(1)).as("n_orders"),
        sum(col("o_orderkey")).as("sum_key"),
        sum(col("cents")).as("sum_cents"))
      .orderBy("o_orderstatus")
  }

  /** SQL DDL into the store: `CREATE TABLE graft_cat.\`path\`
    * PARTITIONED BY (omonth) AS SELECT …` — the statement a user types
    * to land a partitioned table — resolved by [[GraftCatalog]] into an
    * empty layout-carrying manifest-1 plus an ordinary append (v2), the
    * declared layout PERSISTED in the manifest header so every later
    * insert inherits it. The query then runs [[sourceManifestPartitioned]]'s
    * exact month-range aggregation over the CTAS table and shares its
    * oracle VERBATIM: the DDL front end must land the same rows AND the
    * same pruning-capable layout as the `.option("partitionCol", …)`
    * write (ManifestCtasSpec pins the plan side: @fields, pruned file
    * counts, layout inheritance, create-only refusals).
    */
  def sqlManifestCtas(spark: SparkSession, sfDir: String): DataFrame = {
    val dest = Memo.dir(Memo.Key("orders_manifest_ctas", sfDir, "orders")) { dest =>
      ensureCatalog(spark)
      ordersByMonth(spark, sfDir).createOrReplaceTempView("graft_ctas_orders")
      spark.sql(s"CREATE TABLE graft_cat.`$dest` PARTITIONED BY (omonth) " +
        "AS SELECT * FROM graft_ctas_orders")
      spark.catalog.dropTempView("graft_ctas_orders")
    }
    spark.read.format("graft.sources.ManifestTable")
      .option("path", dest.toString).load()
      .filter(col("omonth") >= 199601L && col("omonth") <= 199612L)
      .groupBy("o_orderstatus")
      .agg(
        count(lit(1)).as("n_orders"),
        countDistinct(col("omonth")).as("n_months"),
        sum(col("o_orderkey")).as("sum_key"),
        sum(col("cents")).as("sum_cents"))
      .orderBy("o_orderstatus")
  }

  /** The SQL `CALL` maintenance surface driven end to end
    * ([[GraftProcedures]] via [[GraftCatalog]] as a Spark 4
    * `ProcedureCatalog`): [[sourceManifestDelete]]'s exact lifecycle —
    * append, equality-delete, fold, and additionally bin-pack and an
    * age-window vacuum — with every maintenance step issued through the
    * statement an operator actually types (`CALL graft_cat.
    * compact_deletes(...)` / `compact_files(...)` /
    * `vacuum_older_than(...)`), each routed onto the SAME Scala
    * maintenance calls. The oracle is shared VERBATIM with the Scala
    * query: the procedure front end must be value-invisible, bin-packing
    * must be row-invisible, and the 7-day vacuum window must retain v1
    * for the time-travel leg. ManifestProcedureSpec pins the returned
    * outcome rows, SHOW/DESCRIBE, and the loud unknown-procedure path.
    */
  def sqlManifestProcedures(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = graft.Tables(spark, sfDir).orders
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
    val dest = Memo.dir(Memo.Key("orders_manifest_proc", sfDir, "orders")) { dest =>
      orders.write.format("graft.sources.ManifestTable")
        .option("path", dest.toString).mode("append").save()                // v1
      val delKeys = orders.filter(col("o_orderstatus") === "O")
        .orderBy("o_orderkey").limit(500)
        .select("o_orderkey").collect().map(_.getLong(0)).toSeq
      ManifestTable.deleteKeys(dest.toString, "o_orderkey", delKeys)        // v2
      ensureCatalog(spark)
      spark.sql(s"CALL graft_cat.compact_deletes('$dest')")                 // v3
      spark.sql(s"CALL graft_cat.compact_files('$dest', 1000000000)")       // v4
      spark.sql(s"CALL graft_cat.vacuum_older_than('$dest', ${7L * 86400000L})") // no-op
    }
    val cur = spark.read.format("graft.sources.ManifestTable")
      .option("path", dest.toString).load()
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_after"),
        sum(col("o_orderkey")).as("sum_key_after"),
        sum(col("cents")).as("sum_cents_after"))
    val v1 = spark.read.format("graft.sources.ManifestTable")
      .option("path", dest.toString).option("version", "1").load()
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_before"))
    cur.join(v1, Seq("o_orderstatus"))
      .select(col("o_orderstatus"), col("n_before"), col("n_after"),
        col("sum_key_after"), col("sum_cents_after"))
      .orderBy("o_orderstatus")
  }

  /** PARTITIONED manifest layout driven end to end: orders lands with
    * `.option("partitionCol", "omonth")` (order month as yyyymm int,
    * pre-clustered so each month is one task's file), the writer records
    * each file's month as a first-class `@omonth` manifest field, and
    * the query's month-range predicate prunes files by PARTITION VALUE
    * before any per-file stats — the Hive/Iceberg date-partition shape,
    * where at 100 TB a day's query lists a day, not a table. The oracle
    * restates the aggregation over the ORIGINAL orders table (same month
    * derivation), so a partition field that misroutes, drops, or
    * double-lists a row is a value mismatch; ManifestSkipSpec pins the
    * physical side (files per month, planned-partition count under an
    * equality and a range predicate, NULL-partition conservatism).
    */
  /** Orders keyed by month — the frame the month-partitioned stores are
    * built from (one derivation site; the partitioned/runtime-filter/SPJ
    * queries and their oracles all restate exactly this).
    */
  private def ordersByMonth(spark: SparkSession, sfDir: String): DataFrame =
    graft.Tables(spark, sfDir).orders
      .select(
        col("o_orderkey"), col("o_orderstatus"),
        date_format(col("o_orderdate"), "yyyyMM").cast("long").as("omonth"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))

  /** Build-once month-partitioned orders store (one file per `omonth`
    * with a first-class `@omonth` field) — shared by the static-pruning,
    * runtime-pruning, and storage-partitioned-join queries: one layout,
    * queried three ways.
    */
  def ensureOrdersMonthManifest(spark: SparkSession, sfDir: String): String = {
    val dest = Memo.dir(Memo.Key("orders_manifest_part", sfDir, "orders")) { dest =>
      // no caller-side repartition: the write DECLARES clustered
      // distribution on its partition column (RequiresDistributionAndOrdering)
      // and Spark inserts the value shuffle itself
      ordersByMonth(spark, sfDir)
        .write.format("graft.sources.ManifestTable")
        .option("path", dest.toString)
        .option("partitionCol", "omonth")
        .mode("append").save()
    }
    dest.toString
  }

  def sourceManifestPartitioned(spark: SparkSession, sfDir: String): DataFrame = {
    val dest = ensureOrdersMonthManifest(spark, sfDir)
    spark.read.format("graft.sources.ManifestTable")
      .option("path", dest).load()
      .filter(col("omonth") >= 199601L && col("omonth") <= 199612L)
      .groupBy("o_orderstatus")
      .agg(
        count(lit(1)).as("n_orders"),
        countDistinct(col("omonth")).as("n_months"),
        sum(col("o_orderkey")).as("sum_key"),
        sum(col("cents")).as("sum_cents"))
      .orderBy("o_orderstatus")
  }

  /** AGE-BASED RETENTION driven end to end ([[ManifestTable.vacuumOlderThan]]
    * — "retain 7 days of time travel", the contract operators actually
    * configure): customer lands as v1 (even keys) then v2 (odd keys
    * appended), and a 7-DAY retention vacuum runs — which, seconds after
    * the commits, must expire NOTHING (ManifestDeleteSpec pins the
    * zero-retention direction: every stale version swept, current never
    * expirable). The query then proves the window held: the CURRENT
    * snapshot aggregates per nation, v1 still TIME-TRAVELS (its even-key
    * count rides along), and DESCRIBE HISTORY still lists both versions
    * (emitted as a constant the oracle restates — a vacuum that wrongly
    * swept inside the window shifts it to 1). At 100 TB this is the
    * nightly maintenance job: retention enforced by wall-clock, never by
    * how many commits happened to land.
    */
  def sourceManifestVacuumAge(spark: SparkSession, sfDir: String): DataFrame = {
    val customer = graft.Tables(spark, sfDir).customer
      .select("c_custkey", "c_nationkey", "c_acctbal")
      .withColumn("cents", round(col("c_acctbal") * 100).cast("long"))
      .drop("c_acctbal")
    val dest = Memo.dir(Memo.Key("customer_manifest_vacage", sfDir, "customer")) { dest =>
      customer.filter(col("c_custkey") % 2 === 0)
        .write.format("graft.sources.ManifestTable")
        .option("path", dest.toString).mode("append").save()              // v1
      customer.filter(col("c_custkey") % 2 === 1)
        .write.format("graft.sources.ManifestTable")
        .option("path", dest.toString).mode("append").save()              // v2
      ManifestTable.vacuumOlderThan(dest.toString, 7L * 86400000L)        // no-op
    }
    val nVersions = ManifestTable.history(dest.toString).size
    val cur = spark.read.format("graft.sources.ManifestTable")
      .option("path", dest.toString).load()
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("n_cur"), sum(col("cents")).as("sum_cents"))
    val v1 = spark.read.format("graft.sources.ManifestTable")
      .option("path", dest.toString).option("version", "1").load()
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("n_even_v1"))
    // LEFT join: v1 holds only even-keyed customers, but the oracle
    // (SUM(CASE WHEN even)) emits every nation with n_even_v1 = 0 when
    // none are even — an inner join dropped such nations at sf0.001
    // (identical at SFs where every nation has both parities)
    cur.join(v1, Seq("c_nationkey"), "left")
      .select(col("c_nationkey"), col("n_cur"),
        coalesce(col("n_even_v1"), lit(0L)).as("n_even_v1"),
        col("sum_cents"), lit(nVersions.toLong).as("n_versions"))
      .orderBy("c_nationkey")
  }

  /** The FULL TYPE SURFACE through the parquet codec, end to end:
    * orders lands in the manifest store with a real DATE column and a
    * DECIMAL(12,2) price — the two types the text codec could never
    * hold — as v1 (1996 orders) then v2 (1997 appended). The query reads
    * CURRENT with a DATE range predicate, which the extended zone maps
    * (epoch-day longs) prune v2's 1997 files on BEFORE opening them
    * (ManifestCodecSpec pins the planned-file counts), aggregates the
    * decimal exactly (cents as BIGINT — sums of DECIMAL(12,2) are exact
    * by construction), brackets the surviving dates, and joins the
    * TIME-TRAVELED v1 count. The oracle restates everything over the
    * original parquet table, so a codec that corrupts any date, rounds
    * any decimal, or a pruning pass that drops a live file is a value
    * mismatch. At 100 TB this is the production shape: typed columnar
    * files, date-partition-style skipping, exact money arithmetic.
    */
  /** Build-once typed orders store (DATE + DECIMAL(12,2) columns through
    * the parquet codec; v1 = 1996, v2 = 1997 appended) — shared by
    * [[sourceManifestTyped]] and [[aggManifestDatePushdown]].
    */
  def ensureOrdersTypedManifest(spark: SparkSession, sfDir: String): String = {
    val dest = Memo.dir(Memo.Key("orders_manifest_typed", sfDir, "orders")) { dest =>
      val typed = graft.Tables(spark, sfDir).orders
        .select(
          col("o_orderkey"), col("o_orderstatus"),
          col("o_orderdate").cast("date").as("od"),
          col("o_totalprice").cast("decimal(12,2)").as("price"))
      typed.filter(year(col("od")) === 1996).repartition(4)
        .write.format("graft.sources.ManifestTable")
        .option("path", dest.toString).mode("append").save()              // v1
      typed.filter(year(col("od")) === 1997).repartition(4)
        .write.format("graft.sources.ManifestTable")
        .option("path", dest.toString).mode("append").save()              // v2
    }
    dest.toString
  }

  def sourceManifestTyped(spark: SparkSession, sfDir: String): DataFrame = {
    val dest = java.nio.file.Paths.get(ensureOrdersTypedManifest(spark, sfDir))
    val cur = spark.read.format("graft.sources.ManifestTable")
      .option("path", dest.toString).load()
      .filter(col("od") >= lit(java.sql.Date.valueOf("1996-01-01")) &&
        col("od") <= lit(java.sql.Date.valueOf("1996-12-31")))
      .groupBy("o_orderstatus")
      .agg(
        count(lit(1)).as("n_1996"),
        sum((col("price") * 100).cast("long")).as("sum_cents"),
        min(col("od")).as("first_day"),
        max(col("od")).as("last_day"))
    val v1 = spark.read.format("graft.sources.ManifestTable")
      .option("path", dest.toString).option("version", "1").load()
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_v1"))
    cur.join(v1, Seq("o_orderstatus"))
      .select(col("o_orderstatus"), col("n_1996"), col("n_v1"),
        col("sum_cents"), col("first_day"), col("last_day"))
      .orderBy("o_orderstatus")
  }

  /** DATE aggregate pushdown: the catalog questions — how many rows,
    * what date range — answered from the MANIFEST ALONE (zero data files
    * opened, ManifestStatsSpec pins the `graft-manifest-agg` scan):
    * COUNT(*) sums recorded row counts, MIN/MAX(date) read the epoch-day
    * zone maps the typed store records for its DATE column. The oracle
    * recomputes all three from the original table, so a zone map that
    * ever under/over-states a bound is a value mismatch. At 100 TB this
    * is `SELECT min(day), max(day), count(*)` costing one metadata read.
    */
  def aggManifestDatePushdown(spark: SparkSession, sfDir: String): DataFrame = {
    val dest = ensureOrdersTypedManifest(spark, sfDir)
    spark.read.format("graft.sources.ManifestTable")
      .option("path", dest).load()
      .agg(count(lit(1)).as("n_rows"),
        min(col("od")).as("first_od"), max(col("od")).as("last_od"))
  }

  /** Registers the path-addressed [[GraftCatalog]] under `graft_cat` —
    * idempotent (Spark caches v2 catalogs per session after first use,
    * and re-setting the same conf value is a no-op).
    */
  def ensureCatalog(spark: SparkSession): Unit =
    spark.conf.set("spark.sql.catalog.graft_cat", "graft.sources.GraftCatalog")

  /** Session-level opt-in for storage-partitioned joins. Set once and
    * left on (Verify/Bench builders also set it up front): both flags
    * only change planning for DSv2 scans that REPORT
    * `KeyGroupedPartitioning`, and the only such scans in this library
    * are the explicit `.option("reportPartitioning", true)` reads in the
    * SPJ queries — every other query's plan is identical with or without
    * them, so enabling session-wide keeps plans order-independent
    * instead of depending on whether an SPJ query ran earlier.
    */
  def ensureSpjConf(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
  }

  /** SQL `DELETE FROM` on the manifest store — [[sourceManifestDelete]]'s
    * exact lifecycle (append → equality-delete → compact → read current +
    * time-travel) with the delete issued through the statement a
    * lakehouse user actually types, resolved by [[GraftCatalog]] and
    * routed via `SupportsDelete.deleteWhere` onto the SAME
    * [[ManifestTable.deleteKeys]] commit. The oracle is shared verbatim
    * with the Scala-API query: the SQL front end must be value-invisible.
    * ManifestTableSpec pins the flip side — a WHERE the equality-delete
    * commit can't express (a range, a non-key column) fails analysis
    * loudly instead of rewriting the table.
    */
  def sqlManifestDelete(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = graft.Tables(spark, sfDir).orders
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
    val dest = Memo.dir(Memo.Key("orders_manifest_sqldel", sfDir, "orders")) { dest =>
      orders.write.format("graft.sources.ManifestTable")
        .option("path", dest.toString).mode("append").save()                // v1
      val delKeys = orders.filter(col("o_orderstatus") === "O")
        .orderBy("o_orderkey").limit(500)
        .select("o_orderkey").collect().map(_.getLong(0)).toSeq
      ensureCatalog(spark)
      spark.sql(s"DELETE FROM graft_cat.`$dest` " +
        s"WHERE o_orderkey IN (${delKeys.mkString(", ")})")                 // v2
      ManifestTable.compactDeletes(spark, dest.toString)                    // v3
    }
    val cur = spark.read.format("graft.sources.ManifestTable")
      .option("path", dest.toString).load()
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_after"),
        sum(col("o_orderkey")).as("sum_key_after"),
        sum(col("cents")).as("sum_cents_after"))
    val v1 = spark.read.format("graft.sources.ManifestTable")
      .option("path", dest.toString).option("version", "1").load()
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_before"))
    cur.join(v1, Seq("o_orderstatus"))
      .select(col("o_orderstatus"), col("n_before"), col("n_after"),
        col("sum_key_after"), col("sum_cents_after"))
      .orderBy("o_orderstatus")
  }

  /** SQL `MERGE INTO` on the manifest store — [[sourceManifestMerge]]'s
    * exact upsert (500 smallest F-status keys, cents +12345) issued as
    * the statement itself, rewritten by
    * [[graft.plans.ManifestMergeRule]] onto the SAME
    * [[ManifestTable.mergeKeys]] one-version commit (delete entry +
    * replacement rows, prior-only sequencing). Oracle shared verbatim
    * with the Scala-API query; ManifestSqlSpec pins the rejected shapes
    * (target-dependent SET, disagreeing INSERT, conditional clauses).
    */
  def sqlManifestMerge(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = graft.Tables(spark, sfDir).orders
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
    val dest = Memo.dir(Memo.Key("orders_manifest_sqlmerge", sfDir, "orders")) { dest =>
      orders.write.format("graft.sources.ManifestTable")
        .option("path", dest.toString).mode("append").save()                // v1
      ensureCatalog(spark)
      orders.filter(col("o_orderstatus") === "F")
        .orderBy("o_orderkey").limit(500)
        .withColumn("cents", col("cents") + lit(12345L))
        .createOrReplaceTempView("graft_sql_merge_updates")
      spark.sql(s"""MERGE INTO graft_cat.`$dest` AS t
        USING graft_sql_merge_updates AS s
        ON t.o_orderkey = s.o_orderkey
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *""")                                  // v2
    }
    val cur = spark.read.format("graft.sources.ManifestTable")
      .option("path", dest.toString).load()
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_after"),
        sum(col("o_orderkey")).as("sum_key_after"),
        sum(col("cents")).as("sum_cents_after"))
    val v1 = spark.read.format("graft.sources.ManifestTable")
      .option("path", dest.toString).option("version", "1").load()
      .groupBy("o_orderstatus")
      .agg(sum(col("cents")).as("sum_cents_before"))
    cur.join(v1, Seq("o_orderstatus"))
      .select(col("o_orderstatus"), col("n_after"), col("sum_key_after"),
        col("sum_cents_before"), col("sum_cents_after"))
      .orderBy("o_orderstatus")
  }

  /** Z-ORDERED manifest layout — MULTI-dimensional file skipping:
    * orders lands range-clustered on the Morton interleave of
    * (o_custkey, order month), so every file covers a small RECTANGLE of
    * the (customer, time) plane and its zone maps are tight on BOTH
    * columns — a selective predicate on either (or both, as here) prunes
    * most files, where a single-column sort serves only its own column.
    * The engine's codegen `graft_morton` builds the z-value; the z
    * column itself is dropped before the write (layout, not schema).
    * The oracle recomputes the 2D slice over the original table;
    * ManifestSkipSpec pins the plan side (both dimensions prune on the
    * z-clustered store; the month predicate prunes nothing on a
    * custkey-sorted control).
    */
  def sourceManifestZorder(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = graft.Tables(spark, sfDir).orders
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        date_format(col("o_orderdate"), "yyyyMM").cast("long").as("omonth"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
    val dest = Memo.dir(Memo.Key("orders_manifest_zorder", sfDir, "orders")) { dest =>
      // affine-scale both dims to 12 bits (one bounded agg: 4 numbers),
      // interleave, range-cluster on z, drop z — layout only
      val b = orders.agg(
        min("o_custkey"), max("o_custkey"), min("omonth"), max("omonth")).head()
      val (ckLo, ckHi, moLo, moHi) =
        (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
      val bits = 12
      def scale(c: org.apache.spark.sql.Column, lo: Long, hi: Long) =
        ((c - lit(lo)) * lit((1L << bits) - 1) / lit(math.max(1L, hi - lo)))
          .cast("long")
      orders
        .withColumn("__z", ZOrder.interleaveNative(Seq(
          scale(col("o_custkey"), ckLo, ckHi),
          scale(col("omonth"), moLo, moHi)), bits))
        .repartitionByRange(16, col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.format("graft.sources.ManifestTable")
        .option("path", dest.toString).mode("append").save()
    }
    spark.read.format("graft.sources.ManifestTable")
      .option("path", dest.toString).load()
      .filter(col("o_custkey") <= 500L &&
        col("omonth") >= 199601L && col("omonth") <= 199612L)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_orderkey")).as("sum_key"),
        sum(col("cents")).as("sum_cents"))
      .orderBy("o_orderstatus")
  }

  /** `CALL graft_cat.zorder(...)` driven end to end: the SAME orders
    * frame lands APPEND-ORDERED (v1 — zone maps tight on nothing useful),
    * then the OPTIMIZE ZORDER BY procedure rewrites it clustered on the
    * (custkey, month) Morton interleave (v2), and the 2D slice runs over
    * the rewritten current. Shares [[sourceManifestZorder]]'s oracle
    * VERBATIM: clustering at write time and re-clustering by maintenance
    * must be value-invisible paths to the same layout
    * (ManifestProcedureSpec pins the pruning physics of the rewrite).
    */
  def sqlManifestZorderCall(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = graft.Tables(spark, sfDir).orders
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        date_format(col("o_orderdate"), "yyyyMM").cast("long").as("omonth"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
    val dest = Memo.dir(Memo.Key("orders_manifest_zcall", sfDir, "orders")) { dest =>
      orders.write.format("graft.sources.ManifestTable")
        .option("path", dest.toString).mode("append").save()               // v1
      ensureCatalog(spark)
      spark.sql(s"CALL graft_cat.zorder('$dest', 'o_custkey,omonth')")     // v2
    }
    spark.read.format("graft.sources.ManifestTable")
      .option("path", dest.toString).load()
      .filter(col("o_custkey") <= 500L &&
        col("omonth") >= 199601L && col("omonth") <= 199612L)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_orderkey")).as("sum_key"),
        sum(col("cents")).as("sum_cents"))
      .orderBy("o_orderstatus")
  }

  /** TABLE HISTORY (`DESCRIBE HISTORY`) driven end to end: a four-stage
    * lifecycle (append evens → append odds → equality-delete 500 →
    * compact) read back as [[ManifestTable.history]] rows. Emitted
    * columns are the engine-independent ones — version, MANIFEST row
    * count (physical rows, pre-delete-application: v3's count equals
    * v2's because merge-on-read deletes touch no data file — history
    * showing that is the point), delete-entry count — while file counts
    * (write-parallelism-dependent) stay out of the hash. The oracle
    * restates each version's physical row count arithmetically.
    */
  def sourceManifestHistory(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val orders = graft.Tables(spark, sfDir).orders
      .select(col("o_orderkey"), col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
    val dest = Memo.dir(Memo.Key("orders_manifest_hist", sfDir, "orders")) { dest =>
      orders.filter(pmod(col("o_orderkey"), lit(2)) === 0)
        .write.format("graft.sources.ManifestTable")
        .option("path", dest.toString).mode("append").save()                // v1
      orders.filter(pmod(col("o_orderkey"), lit(2)) === 1)
        .write.format("graft.sources.ManifestTable")
        .option("path", dest.toString).mode("append").save()                // v2
      val delKeys = orders.filter(col("o_orderstatus") === "O")
        .orderBy("o_orderkey").limit(500)
        .select("o_orderkey").collect().map(_.getLong(0)).toSeq
      ManifestTable.deleteKeys(dest.toString, "o_orderkey", delKeys)        // v3
      ManifestTable.compactDeletes(spark, dest.toString)                    // v4
    }
    ManifestTable.history(dest.toString)
      .map(v => (v.version.toLong, v.nRows, v.nDeleteEntries))
      .toDF("version", "n_rows", "n_delete_entries")
      .orderBy("version")
  }

  /** BLOOM-FILTER FILE SKIPPING driven end to end: customer lands in 8
    * hash-partitioned manifest files with `.option("bloomCols",
    * "c_name")`, and a 3-name IN probe plans only the files whose bloom
    * might hold one of the names — the string-key point-lookup shape
    * zone maps can't serve (names don't order with file boundaries).
    * The oracle restates the probe as an IN-subquery over the original
    * table, so a bloom that wrongly EXCLUDES a file (the only unsound
    * failure) loses rows and hash-fails; false positives only cost a
    * residual-filtered read. ManifestSkipSpec pins the plan side
    * (planned-file count under the probe, no-bloom control planning
    * everything).
    */
  def sourceManifestBloomSkip(spark: SparkSession, sfDir: String): DataFrame = {
    val customer = graft.Tables(spark, sfDir).customer
      .select("c_custkey", "c_name", "c_nationkey", "c_mktsegment")
    val dest = Memo.dir(Memo.Key("customer_manifest_bloom", sfDir, "customer")) { dest =>
      customer.repartition(8)
        .write.format("graft.sources.ManifestTable")
        .option("path", dest.toString)
        .option("bloomCols", "c_name")
        .mode("append").save()
    }
    // request-sized probe: the names of three known keys (exists at
    // every SF; name->key can collide, the IN keeps set semantics)
    val probes = customer.filter(col("c_custkey").isin(1L, 2L, 3L))
      .select("c_name").collect().map(_.getString(0)).toSeq
    spark.read.format("graft.sources.ManifestTable")
      .option("path", dest.toString).load()
      .filter(col("c_name").isin(probes: _*))
      .select("c_custkey", "c_name", "c_nationkey")
      .orderBy("c_custkey")
  }

  /** AGGREGATE PUSHDOWN driven end to end: `count(*) / min / max` over
    * the manifest store answered ENTIRELY from the manifest's per-file
    * row counts and zone maps — the executed plan is the one-row
    * `graft-manifest-agg` scan (ManifestStatsSpec pins it; zero data
    * files opened), and the oracle recomputes the same aggregates over
    * the original parquet table, so a stale or wrong manifest stat is a
    * value mismatch. At 100 TB this is the catalog question ("how many
    * rows? what id range?") costing one manifest read instead of a scan.
    */
  def aggManifestPushdown(spark: SparkSession, sfDir: String): DataFrame = {
    val dest = ensureCustomerManifest(spark, sfDir)
    spark.read.format("graft.sources.ManifestTable")
      .option("path", dest).load()
      .agg(
        expr("count(*)").as("n_rows"),
        expr("min(c_custkey)").as("min_key"),
        expr("max(c_custkey)").as("max_key"),
        expr("min(c_nationkey)").as("min_nat"),
        expr("max(c_nationkey)").as("max_nat"))
  }

  /** SMALL-FILE COMPACTION driven end to end
    * ([[ManifestTable.compactSmallFiles]]): the even-key half of orders
    * lands as ONE big file, the odd half as 12 small ones (the
    * version-per-micro-batch accretion shape), and the bin-pack rewrites
    * ONLY the small files into one packed file — the big file survives
    * by reference, untouched. The read-back aggregate must equal the
    * whole original table (a compaction that drops, duplicates, or
    * corrupts any row shifts a group), and ManifestSkipSpec pins the
    * physical side (file counts, survivor identity, refusal under
    * pending deletes).
    */
  /** The manifest store HOLDING the LLM-pipeline column shapes (round
    * 15): `embedding array<float>` and `payload binary` land in a
    * manifest table as parquet LIST/BINARY columns (Spark's own parquet
    * writer) and are served BACK through the vectorized reader for a
    * brute-force cosine top-k plus a payload digest — the embedding/media
    * read the curated-corpus store is for. The
    * oracle recomputes cosine from the ORIGINAL embeddings table
    * (list_dot_product) and the digest from first principles
    * (sha256('p' || vec_id)), so an array element lost/reordered or a
    * payload byte corrupted in the round trip shifts a value. Probe side
    * broadcast; corpus never shuffles.
    */
  def sourceManifestVector(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = graft.Tables(spark, sfDir).embeddings
      .select(col("vec_id"), col("embedding"), col("label"),
        concat(lit("p"), col("vec_id").cast("string")).cast("binary")
          .as("payload"))
    val dest = Memo.dir(Memo.Key("embeddings_manifest", sfDir, "embeddings")) { dest =>
      emb.write.format("graft.sources.ManifestTable")
        .option("path", dest.toString).mode("append").save()
    }
    val t = spark.read.format("graft.sources.ManifestTable")
      .option("path", dest.toString).load()
    val v = t.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("e"),
      col("payload"))
      .withColumn("nrm", sqrt(graft.ops.Vector.dot(col("e"), col("e"))))
    val probes = broadcast(v.filter(col("vec_id") < 30)
      .select(col("vec_id").as("a_id"), col("e").as("a_e"),
        col("nrm").as("a_nrm"), sha2(col("payload"), 256).as("a_sha")))
    val corpus = v.select(col("vec_id").as("b_id"), col("e").as("b_e"),
      col("nrm").as("b_nrm"))
    val pairs = probes.join(corpus, col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("a_sha"), col("b_id"),
        (graft.ops.Vector.dot(col("a_e"), col("b_e")) /
          (col("a_nrm") * col("b_nrm"))).as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("a_id").orderBy(desc("cos"), asc("b_id"))
    pairs.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("a_id"), col("b_id"), round(col("cos"), 6).as("cos"),
        col("a_sha"))
      .orderBy(asc("a_id"), desc("cos"), asc("b_id"))
  }

  /** decimal(38,4) through the manifest store end to end — the parquet
    * codec's FIXED_LEN_BYTE_ARRAY path (precision > 18 outgrew the
    * int64 backing round 15 lifted). Aggregate bounds and sum are
    * emitted as canonical strings (scale-4 rendering matches DuckDB's),
    * so a byte-order or sign-extension slip in the unscaled encoding is
    * a value mismatch, not a rounding blur.
    */
  def sourceManifestDecimalWide(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = graft.Tables(spark, sfDir).orders
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice").cast("decimal(38,4)").as("price38"))
    val dest = Memo.dir(Memo.Key("orders_manifest_dec38", sfDir, "orders")) { dest =>
      orders.write.format("graft.sources.ManifestTable")
        .option("path", dest.toString).mode("append").save()
    }
    spark.read.format("graft.sources.ManifestTable")
      .option("path", dest.toString).load()
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        min(col("price38")).cast("string").as("min_price"),
        max(col("price38")).cast("string").as("max_price"),
        sum(col("price38")).cast("string").as("sum_price"))
      .orderBy("o_orderstatus")
  }

  /** The TWO-LEVEL manifest driven end to end (round 15): a partitioned
    * orders store accretes three fragmented appends past a lowered spill
    * threshold, so the store folds its data lines into per-partition
    * CHILD manifests — then a one-partition aggregate must read
    * identically to the flat layout (the require pins that the spill
    * actually happened; the child-read accounting lives in
    * ManifestGroupSpec). At 100 TB the flat manifest is O(10⁶ files) of
    * driver parse per plan; the grouped list makes a partition-pruned
    * plan O(touched children).
    */
  def sourceManifestGrouped(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = graft.Tables(spark, sfDir).orders
      .select(col("o_orderkey"), pmod(col("o_custkey"), lit(8L)).as("p"),
        col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
    val dest = Memo.dir(Memo.Key("orders_manifest_grouped", sfDir, "orders")) { dest =>
      // per-COMMIT spill point (round 16): no global-threshold mutation,
      // so a concurrent manifest commit elsewhere in the JVM can never
      // observe a lowered fold point
      (0 until 3).foreach { s =>
        orders.filter(pmod(col("o_orderkey"), lit(3)) === s)
          .write.format("graft.sources.ManifestTable")
          .option("path", dest.toString).option("partitionCol", "p")
          .option("groupThreshold", "10")
          .mode("append").save() // 8 files per append → spill on the 3rd
      }
    }
    val ls = ManifestTable.currentManifestShallow(dest.toString).get._2
    require(ls.exists(ManifestTable.isGroupEntry),
      s"expected a spilled two-level manifest at $dest")
    spark.read.format("graft.sources.ManifestTable")
      .option("path", dest.toString).load()
      .filter(col("p") === 3L)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_orderkey")).as("sum_key"),
        sum(col("cents")).as("sum_cents"))
      .orderBy("o_orderstatus")
  }

  /** PARTITION-SPEC EVOLUTION driven end to end (round 16): an orders
    * store lands partitioned by customer shard (`@pc`), is re-declared
    * (`ALTER TABLE … SET TBLPROPERTIES` / [[ManifestTable
    * .alterSetLayout]]) to partition by order shard (`@pk`), and takes
    * a second append — the store now holds BOTH layouts, each file
    * pruned by the field IT carries (the Iceberg spec-evolution
    * contract: old files are never rewritten by the alter). The
    * requires pin the mixed-field shape; the query slices one value on
    * EACH dimension so both generations' pruning fields are
    * load-bearing, and the oracle restates it over the original table.
    */
  def sourceManifestSpecEvolution(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = graft.Tables(spark, sfDir).orders
      .select(col("o_orderkey"),
        pmod(col("o_custkey"), lit(4L)).as("pc"),
        pmod(col("o_orderkey"), lit(5L)).as("pk"),
        col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
    val dest = Memo.dir(Memo.Key("orders_manifest_spec_evo", sfDir, "orders")) { dest =>
      ManifestTable.createEmpty(dest.toString, orders.schema,
        Map("partitionCol" -> "pc"))                                 // v1
      orders.filter(pmod(col("o_orderkey"), lit(2)) === 0)
        .write.format("graft.sources.ManifestTable")
        .option("path", dest.toString).mode("append").save()         // v2: @pc
      ManifestTable.alterSetLayout(dest.toString,
        Map("partitionCol" -> Some("pk")))                           // v3
      orders.filter(pmod(col("o_orderkey"), lit(2)) === 1)
        .write.format("graft.sources.ManifestTable")
        .option("path", dest.toString).mode("append").save()         // v4: @pk
    }
    val ls = ManifestTable.currentManifest(dest.toString).get._2
    val fields = ManifestTable.dataEntries(ls).map(l =>
      ManifestTable.parseEntry(l)._2.keys.filter(_.startsWith("@")).toSeq)
    require(fields.exists(_ == Seq("@pc")) && fields.exists(_ == Seq("@pk")),
      s"expected a mixed-layout store (old @pc files + new @pk files):\n$ls")
    spark.read.format("graft.sources.ManifestTable")
      .option("path", dest.toString).load()
      .filter(col("pc") === 2L || col("pk") === 3L)
      .groupBy("pc", "pk", "o_orderstatus")
      .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("sum_cents"))
      .orderBy("pc", "pk", "o_orderstatus")
  }

  /** COST-BASED JOIN REORDER on manifest tables from the manifest's own
    * column statistics (round 16): orders ⋈ customer ⋈ filtered-nation
    * is WRITTEN with the big dim first, and Spark's CBO — fed only by
    * the scan's DSv2 statistics (row counts + per-column NDV/null/
    * min-max recorded per data file, HLL-unioned at plan time) — must
    * reorder so the filtered tiny dim joins first. The require pins the
    * reorder against the optimized plan with CBO on (scoped; conf
    * restored), no ANALYZE anywhere; the returned frame is the plain
    * aggregate under the session's default plan, value-checked by the
    * oracle. At 100 TB this is the difference between carrying the full
    * fact×bigdim intermediate and pre-shrinking by the selective dim —
    * without a human reordering the SQL.
    */
  def joinManifestCbo(spark: SparkSession, sfDir: String): DataFrame = {
    val t = graft.Tables(spark, sfDir)
    val d = Memo.dir(Memo.Key("manifest_cbo", sfDir, "orders", "customer", "nation")) { d =>
      val (od, cd, nd) = (d.resolve("orders"), d.resolve("customer"), d.resolve("nation"))
      t.orders.select(col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
        .write.format("graft.sources.ManifestTable")
        .option("path", od.toString).mode("append").save()
      t.customer.select(col("c_custkey"), col("c_nationkey"))
        .write.format("graft.sources.ManifestTable")
        .option("path", cd.toString).mode("append").save()
      t.nation.select(col("n_nationkey"), col("n_name"))
        .coalesce(1).write.format("graft.sources.ManifestTable")
        .option("path", nd.toString).mode("append").save()
    }
    def rd(p: java.nio.file.Path) =
      spark.read.format("graft.sources.ManifestTable")
        .option("path", p.toString).load()
    def q = rd(d.resolve("orders"))
      .join(rd(d.resolve("customer")), col("o_custkey") === col("c_custkey"))
      .join(rd(d.resolve("nation")).where(col("n_name").isin("NATION_2", "NATION_5")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("sum_cents"))
      .orderBy("n_name")
    val confs = Seq("spark.sql.cbo.enabled" -> "true",
      "spark.sql.cbo.joinReorder.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) =>
      k -> scala.util.Try(spark.conf.get(k)).toOption }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val joins = q.queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      }
      val bottom = joins.last.right.output.map(_.name).toSet
      require(bottom.contains("n_name"),
        s"CBO must reorder the filtered nation dim under the fact first " +
          s"(manifest-reported stats alone); bottom join = $bottom")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    q
  }

  /** NESTED columns IN the manifest store (round 16 — the JSON-shaped
    * metadata a real corpus table holds): orders lands with a
    * provenance STRUCT (status + clerk id) and a MAP<string,string>
    * props column, written as standard parquet group/MAP shapes by
    * Spark's own parquet writer (ManifestCodec.newWriter), and the
    * query serves TYPED field extraction back through the vectorized
    * reader — `meta.cust`, `props['pri']` — aggregated so every row's
    * nested values are load-bearing. Zone maps/blooms conservatively
    * skip nested columns; the oracle restates the aggregate over
    * the original flat table (construct→extract is the identity).
    */
  def sourceManifestNested(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = graft.Tables(spark, sfDir).orders
      .select(col("o_orderkey"),
        struct(col("o_orderstatus").as("status"),
          col("o_custkey").as("cust")).as("meta"),
        map(lit("pri"), col("o_orderpriority"),
          lit("day"), date_format(col("o_orderdate"), "yyyy-MM-dd"))
          .as("props"))
    val dest = Memo.dir(Memo.Key("orders_manifest_nested", sfDir, "orders")) { dest =>
      orders.write.format("graft.sources.ManifestTable")
        .option("path", dest.toString).mode("append").save()
    }
    spark.read.format("graft.sources.ManifestTable")
      .option("path", dest.toString).load()
      .groupBy(col("meta.status").as("status"),
        element_at(col("props"), "pri").as("pri"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("meta.cust")).as("sum_cust"),
        max(element_at(col("props"), "day")).as("max_day"))
      .orderBy("status", "pri")
  }

  /** The TWO-LEVEL manifest under a LIVE DELETE STREAM (round 16 — the
    * r15 verdict's top item): a grouped orders store takes a
    * snapshot-global GDPR erasure ([[ManifestTable.deleteKeys]]) AND a
    * merge's prior-only delete ([[ManifestTable.mergeKeys]]), and then a
    * further append must STILL spill — pre-r16, `spillGroups` refused to
    * fold while any delete entry was pending, so exactly this operating
    * mode (sustained right-to-be-forgotten traffic) pinned the manifest
    * flat at O(total files) forever. Scoping survives the regrouping
    * because prior-only application is evaluated against the per-line
    * `#seq` commit sequence, not manifest line order. The build closes
    * with `CALL graft_cat.rewrite_manifests` — the O(metadata) fold of
    * accreted child generations into one child per partition, run while
    * both delete flavors are still pending. The requires pin the shape
    * (merged children + both deletes pending simultaneously); the
    * oracle restates the surviving rows arithmetically.
    */
  def sourceManifestGroupedDeletes(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = graft.Tables(spark, sfDir).orders
      .select(col("o_orderkey"), pmod(col("o_custkey"), lit(8L)).as("p"),
        col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
    val dest = Memo.dir(Memo.Key("orders_manifest_grouped_del", sfDir, "orders")) { dest =>
      // declared layout (CTAS), so the merge's replacement rows stage
      // under the same `@p` partition fields as any direct append
      ManifestTable.createEmpty(dest.toString, orders.schema,
        Map("partitionCol" -> "p"))                                  // v1
      def append(slice: Int): Unit =
        orders.filter(pmod(col("o_orderkey"), lit(3)) === slice)
          .write.format("graft.sources.ManifestTable")
          .option("path", dest.toString)
          .option("groupThreshold", "10")
          .mode("append").save() // 8 files per append
      append(0)                                                      // v2
      append(1) // 16 loose > 10 → first spill                          v3
      // the GDPR erasure list: request-sized, never data-proportional
      val erased = orders.filter(pmod(col("o_orderkey"), lit(97L)) === 0L)
        .select("o_orderkey").distinct()
        .collect().map(_.getLong(0)).toSeq
      ManifestTable.deleteKeys(dest.toString, "o_orderkey", erased)  // v4
      // merge (prior-only delete + replacements) over keys confined to
      // the ALREADY-COMMITTED slices, so the later append cannot
      // resurrect them
      val updates = orders
        .filter(pmod(col("o_orderkey"), lit(89L)) === 0L &&
          pmod(col("o_orderkey"), lit(3L)) =!= 2L &&
          pmod(col("o_orderkey"), lit(97L)) =!= 0L)
        .withColumn("cents", lit(-1L))
      ManifestTable.mergeKeys(spark, dest.toString, "o_orderkey", updates) // v5
      append(2) // spills WITH both delete flavors pending              v6
      // two accreted child generations now share partition keys — the
      // metadata fold merges them to ONE child per partition, deletes
      // still pending, values untouched (same oracle)
      ensureCatalog(spark)
      spark.sql(s"CALL graft_cat.rewrite_manifests('$dest')")          // v7
    }
    val ls = ManifestTable.currentManifestShallow(dest.toString).get._2
    require(ls.exists(ManifestTable.isGroupEntry),
      s"expected a spilled two-level manifest at $dest")
    require(ls.exists(l => ManifestTable.isDeleteEntry(l) &&
      !ManifestTable.isPriorOnlyDelete(l)),
      s"expected a pending snapshot-global delete at $dest")
    require(ls.exists(l => ManifestTable.isDeleteEntry(l) &&
      ManifestTable.isPriorOnlyDelete(l)),
      s"expected a pending prior-only (merge) delete at $dest")
    // the defining r16 properties: a child folded POST-delete commits
    // (its #seq hull reaches the merge/append sequence) while both
    // delete entries are still pending on the list above, and the
    // rewrite_manifests CALL merged the accreted child generations to
    // ONE child per partition
    require(ls.exists(l => ManifestTable.isGroupEntry(l) &&
      ManifestTable.parseEntry(l)._2
        .get(ManifestTable.SeqStatKey).exists(_._2 >= 5L)),
      s"the post-delete append must still fold into children, got:\n$ls")
    require(ls.count(ManifestTable.isGroupEntry) == 8,
      s"rewrite_manifests must leave one child per partition, got:\n$ls")
    spark.read.format("graft.sources.ManifestTable")
      .option("path", dest.toString).load()
      .filter(col("p").isin(2L, 5L))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_orderkey")).as("sum_key"),
        sum(col("cents")).as("sum_cents"))
      .orderBy("o_orderstatus")
  }

  /** LAYOUT-PRESERVING MAINTENANCE driven end to end (the round-14
    * verdict's one weak grading): a PERSISTED partitioned + bloomed
    * orders table is built in two fragmented appends, then every
    * truncating rewrite runs over it — bin-pack, copy-on-write predicate
    * delete, z-order — and the final one-partition slice must still (a)
    * find the `@p` partition field on EVERY post-rewrite data line (the
    * require below: pre-round-15 the first rewrite staged through a bare
    * scratch store and shed it, silently downgrading partition pruning
    * to zone maps) and (b) return exactly what the oracle computes from
    * the original table minus the deleted keys — maintenance is
    * value-invisible, the delete is restated arithmetically. Plan
    * physics (planned-file counts per dimension, grouped-pushdown
    * survival, SPJ) are pinned in ManifestLayoutMaintenanceSpec.
    */
  def sourceManifestMaintainLayout(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = graft.Tables(spark, sfDir).orders
      .select(col("o_orderkey"), pmod(col("o_custkey"), lit(4L)).as("p"),
        col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
    val dest = Memo.dir(Memo.Key("orders_manifest_layout_maint", sfDir, "orders")) { dest =>
      ManifestTable.createEmpty(dest.toString, orders.schema,
        Map("partitionCol" -> "p", "bloomCols" -> "o_orderstatus"))
      orders.filter(pmod(col("o_orderkey"), lit(2)) === 0)
        .write.format("graft.sources.ManifestTable")
        .option("path", dest.toString).mode("append").save()      // v2: 4 files
      orders.filter(pmod(col("o_orderkey"), lit(2)) === 1)
        .write.format("graft.sources.ManifestTable")
        .option("path", dest.toString).mode("append").save()      // v3: 4 files
      ManifestTable.compactSmallFiles(spark, dest.toString, Long.MaxValue, 2)
      ManifestTable.deleteMatching(spark, dest.toString,
        pmod(col("o_orderkey"), lit(97L)) === 0L)
      ManifestTable.compactZOrder(spark, dest.toString,
        Seq("o_orderkey", "cents"), 4)
    }
    val lines = ManifestTable.dataEntries(
      ManifestTable.currentManifest(dest.toString).get._2)
    require(lines.nonEmpty && lines.forall(_.contains("@p=")),
      s"maintenance shed the partition layout at $dest")
    spark.read.format("graft.sources.ManifestTable")
      .option("path", dest.toString).load()
      .filter(col("p") === 1L)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_orderkey")).as("sum_key"),
        sum(col("cents")).as("sum_cents"))
      .orderBy("o_orderstatus")
  }

  def sourceManifestCompactFiles(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = graft.Tables(spark, sfDir).orders
      .select(col("o_orderkey"), col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
    val dest = Memo.dir(Memo.Key("orders_manifest_binpack", sfDir, "orders")) { dest =>
      orders.filter(pmod(col("o_orderkey"), lit(2)) === 0).coalesce(1)
        .write.format("graft.sources.ManifestTable")
        .option("path", dest.toString).mode("append").save()                // v1: 1 big
      orders.filter(pmod(col("o_orderkey"), lit(2)) === 1).repartition(12)
        .write.format("graft.sources.ManifestTable")
        .option("path", dest.toString).mode("append").save()                // v2: 12 small
      val smallCut = orders.count() / 8 // big file ≈ n/2 rows, small ≈ n/24
      ManifestTable.compactSmallFiles(spark, dest.toString, smallCut)       // v3
    }
    spark.read.format("graft.sources.ManifestTable")
      .option("path", dest.toString).load()
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_orderkey")).as("sum_key"),
        sum(col("cents")).as("sum_cents"))
      .orderBy("o_orderstatus")
  }

  /** CHANGE DATA FEED driven end to end ([[ManifestCdf]]): orders lands
    * as v1, an equality delete (500 smallest open-status keys) commits as
    * v2, and a merge upsert (500 smallest F-status keys, cents +12345)
    * commits as v3 — then `changes(1, 3)` must read back exactly:
    * delete@2 = the erased O rows with their ORIGINAL values, delete@3 +
    * insert@3 = the merge's before/after pair per updated key. The
    * oracle restates all three legs arithmetically from the original
    * table, so a CDF that re-reads a file, misses a delete, or leaks a
    * version boundary shifts a group. Cost shape pinned by the module:
    * inserts are read file-restricted (O(changed files)), deletes filter
    * the prior snapshot by the request-sized key set.
    */
  /** Build-once orders CDF store (append → equality-delete → merge, three
    * versions) — shared by [[sourceManifestCdf]] and the declarative
    * graph's `change_feed: true` manifest node (`pipeline_graph_cdf`).
    */
  def ensureOrdersCdfManifest(spark: SparkSession, sfDir: String): String = {
    val orders = graft.Tables(spark, sfDir).orders
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
    val dest = Memo.dir(Memo.Key("orders_manifest_cdf", sfDir, "orders")) { dest =>
      orders.write.format("graft.sources.ManifestTable")
        .option("path", dest.toString).mode("append").save()                // v1
      val delKeys = orders.filter(col("o_orderstatus") === "O")
        .orderBy("o_orderkey").limit(500)
        .select("o_orderkey").collect().map(_.getLong(0)).toSeq
      ManifestTable.deleteKeys(dest.toString, "o_orderkey", delKeys)        // v2
      val updates = orders.filter(col("o_orderstatus") === "F")
        .orderBy("o_orderkey").limit(500)
        .withColumn("cents", col("cents") + lit(12345L))
      ManifestTable.mergeKeys(spark, dest.toString, "o_orderkey", updates)  // v3
    }
    dest.toString
  }

  def sourceManifestCdf(spark: SparkSession, sfDir: String): DataFrame = {
    val dest = ensureOrdersCdfManifest(spark, sfDir)
    ManifestCdf.changes(spark, dest.toString, 1, 3)
      .groupBy(
        col(ManifestCdf.ChangeTypeCol).as("change_type"),
        col(ManifestCdf.CommitVersionCol).cast("long").as("commit_version"),
        col("o_orderstatus"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col("o_orderkey")).as("sum_key"),
        sum(col("cents")).as("sum_cents"))
      .orderBy("change_type", "commit_version", "o_orderstatus")
  }

  /** SQL `UPDATE` on the manifest store — the third row-level statement:
    * the same bump [[sourceManifestMerge]] applies by staging replacement
    * rows, expressed as `UPDATE … SET cents = cents + 12345 WHERE
    * o_orderkey IN (…)` and routed by [[graft.plans.ManifestUpdateRule]]
    * onto a bounded read-modify-write through the SAME one-version merge
    * commit. Final state is identical to the MERGE query's by
    * construction, so the oracle is shared verbatim — three different
    * front ends (Scala mergeKeys, SQL MERGE, SQL UPDATE), one hash.
    * ManifestSqlSpec pins the rejections (unbounded WHERE, key
    * reassignment, non-key predicates).
    */
  def sqlManifestUpdate(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = graft.Tables(spark, sfDir).orders
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
    val dest = Memo.dir(Memo.Key("orders_manifest_sqlupd", sfDir, "orders")) { dest =>
      orders.write.format("graft.sources.ManifestTable")
        .option("path", dest.toString).mode("append").save()                // v1
      val keys = orders.filter(col("o_orderstatus") === "F")
        .orderBy("o_orderkey").limit(500)
        .select("o_orderkey").collect().map(_.getLong(0))
      ensureCatalog(spark)
      spark.sql(s"UPDATE graft_cat.`$dest` SET cents = cents + 12345 " +
        s"WHERE o_orderkey IN (${keys.mkString(", ")})")                    // v2
    }
    val cur = spark.read.format("graft.sources.ManifestTable")
      .option("path", dest.toString).load()
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_after"),
        sum(col("o_orderkey")).as("sum_key_after"),
        sum(col("cents")).as("sum_cents_after"))
    val v1 = spark.read.format("graft.sources.ManifestTable")
      .option("path", dest.toString).option("version", "1").load()
      .groupBy("o_orderstatus")
      .agg(sum(col("cents")).as("sum_cents_before"))
    cur.join(v1, Seq("o_orderstatus"))
      .select(col("o_orderstatus"), col("n_after"), col("sum_key_after"),
        col("sum_cents_before"), col("sum_cents_after"))
      .orderBy("o_orderstatus")
  }

  /** SQL time travel — [[sourceManifestTimeTravel]]'s two-commit store
    * read back through the statement (`VERSION AS OF 1`), resolved by
    * [[GraftCatalog]]'s versioned loadTable to the same immutable
    * snapshot the `.option("version", 1)` read pins. Oracle shared
    * verbatim.
    */
  def sqlManifestTimeTravel(spark: SparkSession, sfDir: String): DataFrame = {
    val customer = graft.Tables(spark, sfDir).customer
      .select("c_custkey", "c_name", "c_nationkey", "c_mktsegment")
    val dest = Memo.dir(Memo.Key("customer_manifest_sqltt", sfDir, "customer")) { dest =>
      Seq(0, 1).foreach { parity =>
        customer.filter(pmod(col("c_custkey"), lit(2)) === parity)
          .write.format("graft.sources.ManifestTable")
          .option("path", dest.toString).mode("append").save()
      }
    }
    ensureCatalog(spark)
    spark.sql(
      s"""SELECT c_nationkey,
         |       count(*) AS n_customers,
         |       min(c_name) AS first_name,
         |       sum(c_custkey) AS sum_key
         |FROM graft_cat.`$dest` VERSION AS OF 1
         |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin)
  }

  /** SQL `TIMESTAMP AS OF` — [[sqlManifestTimeTravel]]'s two-commit store
    * addressed by WALL-TIME instead of version number: every commit
    * stamps its wall-time inside the atomically published manifest
    * header (durable and monotonic, unlike file mtimes), the query reads
    * commit 1's exact stamp back from the store and travels to it via
    * `TIMESTAMP AS OF timestamp_millis(…)` — resolving to snapshot 1,
    * never a nearest-version guess (ManifestSqlSpec pins the refusal
    * semantics for pre-table instants). Oracle shared verbatim with the
    * version-addressed travel: the two addressing modes must be
    * value-identical.
    */
  def sqlManifestTimestampTravel(spark: SparkSession, sfDir: String): DataFrame = {
    val customer = graft.Tables(spark, sfDir).customer
      .select("c_custkey", "c_name", "c_nationkey", "c_mktsegment")
    val dest = Memo.dir(Memo.Key("customer_manifest_sqlts", sfDir, "customer")) { dest =>
      Seq(0, 1).foreach { parity =>
        customer.filter(pmod(col("c_custkey"), lit(2)) === parity)
          .write.format("graft.sources.ManifestTable")
          .option("path", dest.toString).mode("append").save()
      }
    }
    ensureCatalog(spark)
    val ts1 = ManifestTable.commitTimeOf(dest.toString, 1).getOrElse(
      throw new IllegalStateException(s"no commit timestamp on $dest v1"))
    spark.sql(
      s"""SELECT c_nationkey,
         |       count(*) AS n_customers,
         |       min(c_name) AS first_name,
         |       sum(c_custkey) AS sum_key
         |FROM graft_cat.`$dest` TIMESTAMP AS OF timestamp_millis(${ts1}L)
         |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin)
  }

  /** SQL `INSERT INTO … SELECT` through the catalog — the write-side
    * statement surface: the even-key half of customer lands through the
    * DSv2 writer, the odd half through the INSERT statement, and the
    * read-back aggregate must equal the whole table
    * ([[sourceManifest]]'s oracle, shared verbatim) — a lost, torn, or
    * doubled INSERT commit shifts every group.
    */
  def sqlManifestInsert(spark: SparkSession, sfDir: String): DataFrame = {
    val customer = graft.Tables(spark, sfDir).customer
      .select("c_custkey", "c_name", "c_nationkey", "c_mktsegment")
    val dest = Memo.dir(Memo.Key("customer_manifest_sqlins", sfDir, "customer")) { dest =>
      customer.filter(pmod(col("c_custkey"), lit(2)) === 0)
        .write.format("graft.sources.ManifestTable")
        .option("path", dest.toString).mode("append").save()                // v1
      ensureCatalog(spark)
      customer.filter(pmod(col("c_custkey"), lit(2)) === 1)
        .createOrReplaceTempView("graft_sql_insert_src")
      spark.sql(s"INSERT INTO graft_cat.`$dest` " +
        "SELECT * FROM graft_sql_insert_src")                               // v2
    }
    spark.read.format("graft.sources.ManifestTable")
      .option("path", dest.toString).load()
      .groupBy("c_nationkey")
      .agg(
        count(lit(1)).as("n_customers"),
        min(col("c_name")).as("first_name"),
        countDistinct(col("c_mktsegment")).as("n_segments"),
        sum(col("c_custkey")).as("sum_key"))
      .orderBy("c_nationkey")
  }

  /** ADDITIVE SCHEMA EVOLUTION on the manifest table driven end-to-end —
    * Iceberg's add-column shape (each file's columns a prefix of the
    * table's order, which the vectorized read relies on):
    * snapshot 1 lands two-thirds of orders under the 3-column schema,
    * then an append carrying a FOURTH column (`prio`) commits the
    * remaining third and EVOLVES the table DDL to the wider of the two
    * (ManifestTable.commitVersion's prefix rule) — old rows read back
    * with the new column NULL-padded, new rows carry values, and a
    * reordered/retyped append is rejected loudly
    * (ManifestEvolutionSpec). The query aggregates per status with
    * null-vs-present counts of the evolved column, so the oracle checks
    * the split, the padding, and the values in one hash.
    */
  def sourceManifestEvolution(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = graft.Tables(spark, sfDir).orders
      .select(col("o_orderkey"), col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
    val dest = Memo.dir(Memo.Key("orders_manifest_evo", sfDir, "orders")) { dest =>
      orders.filter(col("o_orderkey") % 3 =!= 0)
        .write.format("graft.sources.ManifestTable")
        .option("path", dest.toString).mode("append").save()                // v1: 3 cols
      orders.filter(col("o_orderkey") % 3 === 0)
        .withColumn("prio", (col("cents") % 5).cast("long"))
        .write.format("graft.sources.ManifestTable")
        .option("path", dest.toString).mode("append").save()                // v2: +prio
    }
    spark.read.format("graft.sources.ManifestTable")
      .option("path", dest.toString).load()
      .groupBy("o_orderstatus")
      .agg(
        count(lit(1)).as("n"),
        sum(col("cents")).as("sum_cents"),
        sum(when(col("prio").isNull, 1L).otherwise(0L)).as("n_prio_null"),
        sum(coalesce(col("prio"), lit(0L))).as("sum_prio"))
      .orderBy("o_orderstatus")
  }

  /** `ALTER TABLE ADD COLUMN` driven end to end (round 15): the same
    * additive evolution [[sourceManifestEvolution]] reaches through a
    * widened APPEND, spelled as DDL — v1 lands narrow rows, the ALTER
    * widens the schema as its own version (same lines, wider DDL), and
    * the wide-schema append lands values. Old rows null-pad under the
    * widened DDL, so this query shares `source_manifest_evolution`'s
    * oracle VERBATIM: the two evolution spellings must be
    * value-indistinguishable. Rejection shapes pinned in ManifestSqlSpec.
    */
  def sqlManifestAlter(spark: SparkSession, sfDir: String): DataFrame = {
    ensureCatalog(spark)
    val orders = graft.Tables(spark, sfDir).orders
      .select(col("o_orderkey"), col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
    val dest = Memo.dir(Memo.Key("orders_manifest_alter", sfDir, "orders")) { dest =>
      orders.filter(col("o_orderkey") % 3 =!= 0)
        .write.format("graft.sources.ManifestTable")
        .option("path", dest.toString).mode("append").save()                // v1: 3 cols
      spark.sql(s"ALTER TABLE graft_cat.`$dest` ADD COLUMN prio BIGINT")    // v2: wide DDL
      orders.filter(col("o_orderkey") % 3 === 0)
        .withColumn("prio", (col("cents") % 5).cast("long"))
        .write.format("graft.sources.ManifestTable")
        .option("path", dest.toString).mode("append").save()                // v3: wide rows
    }
    spark.read.format("graft.sources.ManifestTable")
      .option("path", dest.toString).load()
      .groupBy("o_orderstatus")
      .agg(
        count(lit(1)).as("n"),
        sum(col("cents")).as("sum_cents"),
        sum(when(col("prio").isNull, 1L).otherwise(0L)).as("n_prio_null"),
        sum(coalesce(col("prio"), lit(0L))).as("sum_prio"))
      .orderBy("o_orderstatus")
  }

  /** MERGE / UPSERT on the manifest table driven end-to-end — the third
    * member of the row-store lifecycle beside append
    * ([[sourceManifest]]) and equality delete ([[sourceManifestDelete]]):
    * orders lands as snapshot 1, then [[ManifestTable.mergeKeys]] applies
    * an update batch (the 500 smallest F-status keys, cents bumped by
    * +12345) as ONE atomic version — a delete entry for the keys
    * followed by the replacement rows, sequenced so the merge's own
    * inserts survive its own delete. The query reads the CURRENT
    * snapshot (updated values visible exactly once — a duplicate key
    * from a broken delete doubles n_after AND sum_key_after; a lost
    * insert shrinks both) and time-travels to snapshot 1 (pre-merge
    * values intact), and the oracle restates the merge as a CASE bump
    * over the stated key set. ManifestMergeSpec pins the physical side
    * (one-version atomicity, insert-only novel keys, fold + vacuum).
    */
  def sourceManifestMerge(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = graft.Tables(spark, sfDir).orders
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
    val dest = Memo.dir(Memo.Key("orders_manifest_merge", sfDir, "orders")) { dest =>
      orders.write.format("graft.sources.ManifestTable")
        .option("path", dest.toString).mode("append").save()                // v1
      val updates = orders.filter(col("o_orderstatus") === "F")
        .orderBy("o_orderkey").limit(500)
        .withColumn("cents", col("cents") + lit(12345L))
      ManifestTable.mergeKeys(spark, dest.toString, "o_orderkey", updates)  // v2
    }
    val cur = spark.read.format("graft.sources.ManifestTable")
      .option("path", dest.toString).load()
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_after"),
        sum(col("o_orderkey")).as("sum_key_after"),
        sum(col("cents")).as("sum_cents_after"))
    val v1 = spark.read.format("graft.sources.ManifestTable")
      .option("path", dest.toString).option("version", "1").load()
      .groupBy("o_orderstatus")
      .agg(sum(col("cents")).as("sum_cents_before"))
    cur.join(v1, Seq("o_orderstatus"))
      .select(col("o_orderstatus"), col("n_after"), col("sum_key_after"),
        col("sum_cents_before"), col("sum_cents_after"))
      .orderBy("o_orderstatus")
  }

  /** STATISTICS-DRIVEN BROADCAST on the engine's own table format: the
    * customer dimension lives in the manifest store, the orders fact is
    * parquet, and the join carries NO hint — the broadcast decision
    * comes entirely from [[ManifestScan.estimateStatistics]], which sums
    * the per-file row/byte stats the manifest records at commit time
    * (post zone-map skipping). Without reported statistics a DSv2
    * relation defaults to `spark.sql.defaultSizeInBytes` (= huge) and
    * every manifest-side join becomes a full fact shuffle — at 100 TB
    * the single most expensive default in the engine. ManifestStatsSpec
    * pins the plan both ways (BroadcastHashJoin from stats alone; SMJ in
    * a control scan with `reportStats=false`); this query pins the
    * VALUES through the DuckDB oracle, so a stats bug that drops or
    * double-plans a file is a hash mismatch, not a plan nicety.
    */
  def joinManifestBroadcast(spark: SparkSession, sfDir: String): DataFrame = {
    val dest = ensureCustomerManifest(spark, sfDir)
    val dim = spark.read.format("graft.sources.ManifestTable")
      .option("path", dest).load()
    val orders = graft.Tables(spark, sfDir).orders
      .select(col("o_custkey"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
    orders.join(dim, orders("o_custkey") === dim("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(
        count(lit(1)).as("n_orders"),
        countDistinct(col("c_custkey")).as("n_custs"),
        sum(col("cents")).as("sum_cents"))
      .orderBy("c_mktsegment")
  }

  /** RUNTIME FILE PRUNING (dynamic partition pruning on the manifest
    * store) driven end to end: orders lands month-partitioned (one file
    * per `omonth`, first-class `@omonth` fields + tight zone maps), and
    * the fact joins a GENERATED month dimension filtered to one year —
    * so the months the fact must read are only knowable AFTER the dim
    * filter runs, which static pushdown can never see. Catalyst's
    * dynamic partition pruning sees [[ManifestScan]] as runtime-
    * filterable (`SupportsRuntimeFiltering`), runs the broadcast dim
    * first, and hands its join-key set down as an IN filter the scan
    * re-plans against — opening ~12 of ~80 month files
    * (ManifestRuntimeFilterSpec pins the file count and the plan's
    * dynamicpruning subquery). The oracle restates the join over the
    * ORIGINAL orders table, so a pruning pass that drops a live month
    * is a value mismatch, not a plan regression. At 100 TB this is THE
    * star-schema optimization: the fact side is pruned by a predicate
    * on a kilobyte-sized dimension.
    */
  def joinManifestRuntimeFilter(spark: SparkSession, sfDir: String): DataFrame = {
    val dest = ensureOrdersMonthManifest(spark, sfDir)
    val fact = spark.read.format("graft.sources.ManifestTable")
      .option("path", dest).load()
    // generated month dimension (the joinDpp calendar shape): the 1996
    // months are only identifiable through the dim's own derived column.
    // NOTE integer division (`div`) — Spark's `/` on longs is double
    // division, which would make every non-January month fractional and
    // silently shrink the dim to 1/12th of the year.
    val months = spark.range(0, 120) // 1992-01 … 2001-12
      .select((lit(199200L) + expr("id div 12") * 100L + pmod(col("id"), lit(12L)) + 1L)
        .as("m"))
      .withColumn("yr", expr("m div 100"))
    fact.join(broadcast(months.filter(col("yr") === 1996L)),
        fact("omonth") === col("m"))
      .groupBy("o_orderstatus")
      .agg(
        count(lit(1)).as("n_orders"),
        countDistinct(col("omonth")).as("n_months"),
        sum(col("o_orderkey")).as("sum_key"),
        sum(col("cents")).as("sum_cents"))
      .orderBy("o_orderstatus")
  }

  /** COPY-ON-WRITE predicate delete ([[ManifestTable.deleteMatching]])
    * driven end to end: orders lands month-partitioned (v1), then a
    * RANGE-AND-VALUE predicate — the shape the SQL DELETE surface
    * deliberately rejects as an implicit rewrite — deletes every
    * low-value order of 1996-H1 as an EXPLICIT maintenance call (v2).
    * Candidate files are chosen by the scan's own pruning passes
    * (partition fields + zone maps), so only the six 1996-H1 month files
    * rewrite and every other month passes into v2 BY REFERENCE, bytes
    * untouched (ManifestCowDeleteSpec pins the survivor identity and the
    * NULL-predicate row survival). The query reads the current snapshot
    * AND time-travels to v1; the oracle restates both sides, so a
    * candidate pass that drops a live file or a rewrite that loses a
    * non-matching row is a value mismatch.
    */
  def sourceManifestDeleteCow(spark: SparkSession, sfDir: String): DataFrame = {
    val dest = Memo.dir(Memo.Key("orders_manifest_cowdel", sfDir, "orders")) { dest =>
      ordersByMonth(spark, sfDir).repartition(col("omonth"))
        .write.format("graft.sources.ManifestTable")
        .option("path", dest.toString)
        .option("partitionCol", "omonth")
        .mode("append").save()                                              // v1
      ManifestTable.deleteMatching(spark, dest.toString,
        col("omonth") >= 199601L && col("omonth") <= 199606L &&
          col("cents") < 15000000L)                                         // v2
    }
    val cur = spark.read.format("graft.sources.ManifestTable")
      .option("path", dest.toString).load()
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_after"),
        sum(col("o_orderkey")).as("sum_key_after"),
        sum(col("cents")).as("sum_cents_after"))
    val v1 = spark.read.format("graft.sources.ManifestTable")
      .option("path", dest.toString).option("version", "1").load()
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_before"))
    cur.join(v1, Seq("o_orderstatus"))
      .select(col("o_orderstatus"), col("n_before"), col("n_after"),
        col("sum_key_after"), col("sum_cents_after"))
      .orderBy("o_orderstatus")
  }

  /** LIMIT pushdown at file grain: `LIMIT 800` over the customer store
    * plans only a prefix of files whose recorded row counts reach 800
    * (ManifestLimitSpec pins the planned-file count), and the retained
    * Limit operator re-truncates — so the COUNT the query emits is
    * min(800, |customer|) at every SF, which the oracle restates as
    * LEAST. At 100 TB this is the "show me some rows" probe opening one
    * file instead of the table.
    */
  def limitManifestPushdown(spark: SparkSession, sfDir: String): DataFrame = {
    val dest = ensureCustomerManifest(spark, sfDir)
    spark.read.format("graft.sources.ManifestTable")
      .option("path", dest).load()
      .limit(800)
      .agg(count(lit(1)).as("n_rows"))
  }

  /** ZERO-COPY SHALLOW CLONE driven end to end: the even-custkey half of
    * customer lands in a source store, [[ManifestTable.cloneTable]]
    * branches it as pure metadata (hard-linked files, no data bytes
    * moved — ManifestCloneSpec pins the shared inodes and the vacuum
    * independence), and the clone then DIVERGES by appending the odd
    * half. The query aggregates BOTH tables per nation — the clone must
    * show the whole customer table, the source must still show exactly
    * the evens — so a clone that copies partially, shares mutable state,
    * or lets the divergence leak back is a value mismatch.
    */
  def sourceManifestClone(spark: SparkSession, sfDir: String): DataFrame = {
    val customer = graft.Tables(spark, sfDir).customer
      .select("c_custkey", "c_name", "c_nationkey", "c_mktsegment")
    val d = Memo.dir(Memo.Key("customer_manifest_clone", sfDir, "customer")) { d =>
      val (src, dst) = (d.resolve("src"), d.resolve("dst"))
      customer.filter(pmod(col("c_custkey"), lit(2)) === 0)
        .write.format("graft.sources.ManifestTable")
        .option("path", src.toString).mode("append").save()
      ManifestTable.cloneTable(src.toString, dst.toString)
      customer.filter(pmod(col("c_custkey"), lit(2)) === 1)
        .write.format("graft.sources.ManifestTable")
        .option("path", dst.toString).mode("append").save()
    }
    val cloneAgg = spark.read.format("graft.sources.ManifestTable")
      .option("path", d.resolve("dst").toString).load()
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("n_clone"), sum(col("c_custkey")).as("sum_clone"))
    val srcAgg = spark.read.format("graft.sources.ManifestTable")
      .option("path", d.resolve("src").toString).load()
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("n_src"))
    // LEFT join: a nation whose customers are all odd-keyed has no rows
    // in the src store, but the oracle (SUM(CASE WHEN even)) still emits
    // it with n_src = 0 — an inner join dropped such nations at sf0.001
    // (identical at SFs where every nation has both parities)
    cloneAgg.join(srcAgg, Seq("c_nationkey"), "left")
      .select(col("c_nationkey"), col("n_clone"), col("sum_clone"),
        coalesce(col("n_src"), lit(0L)).as("n_src"))
      .orderBy("c_nationkey")
  }

  /** GROUPED aggregate pushdown — the Iceberg-partition-stats query:
    * `SELECT omonth, count(*), min(k), max(k) … GROUP BY omonth` over the
    * month-partitioned store is answered ENTIRELY from the manifest
    * (every file carries its `@omonth` group, exact row count, and exact
    * zone bounds), zero data files opened — at 100 TB the "how big is
    * each partition" catalog question costs one manifest read.
    * ManifestStatsSpec pins the plan (`graft-manifest-agg`) and the
    * refusals (non-partition grouping, pending deletes); the DuckDB
    * oracle restates the aggregation from the original table, so a
    * mis-grouped file or a stale recorded count is a value mismatch.
    */
  def aggManifestGroupPushdown(spark: SparkSession, sfDir: String): DataFrame = {
    val dest = ensureOrdersMonthManifest(spark, sfDir)
    spark.read.format("graft.sources.ManifestTable")
      .option("path", dest).load()
      .groupBy("omonth")
      .agg(
        expr("count(*)").as("n_orders"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"))
      .orderBy("omonth")
  }

  /** Build-once per-month statistics store, partitioned on the SAME
    * `omonth` column as [[ensureOrdersMonthManifest]] — the co-partitioned
    * second table a storage-partitioned join needs.
    */
  def ensureMonthStatsManifest(spark: SparkSession, sfDir: String): String = {
    val dest = Memo.dir(Memo.Key("orders_manifest_months", sfDir, "orders")) { dest =>
      ordersByMonth(spark, sfDir)
        .groupBy("omonth")
        .agg(count(lit(1)).as("month_n"), sum(col("cents")).as("month_cents"))
        .repartition(col("omonth"))
        .write.format("graft.sources.ManifestTable")
        .option("path", dest.toString)
        .option("partitionCol", "omonth")
        .mode("append").save()
    }
    dest.toString
  }

  /** STORAGE-PARTITIONED JOIN (the Iceberg SPJ shape) driven end to end:
    * both sides of the join live in manifest stores partitioned on the
    * SAME `omonth` column, both scans report
    * `KeyGroupedPartitioning(identity(omonth))`
    * (`.option("reportPartitioning", true)` — opt-in, see
    * [[ManifestScan.spjKey]]), and with
    * `spark.sql.sources.v2.bucketing.enabled` Spark plans the equi-join
    * with ZERO Exchange on either side: co-keyed files stream against
    * each other where they already live. Statistics reporting is
    * deliberately suppressed on both reads so neither side broadcasts —
    * this is the two-big-tables case, where at 100 TB the alternative is
    * shuffling both facts across the cluster. ManifestSpjSpec pins the
    * physics (no shuffle with bucketing on, two Exchanges in the control
    * session); the DuckDB oracle restates the join arithmetically, so a
    * mis-grouped partition pair (rows joined against the wrong month's
    * file) is a value mismatch.
    */
  def joinManifestSpj(spark: SparkSession, sfDir: String): DataFrame = {
    val factDest = ensureOrdersMonthManifest(spark, sfDir)
    val monthDest = ensureMonthStatsManifest(spark, sfDir)
    ensureSpjConf(spark)
    def readSpj(p: String) = spark.read.format("graft.sources.ManifestTable")
      .option("path", p)
      .option("reportPartitioning", "true")
      .option("reportStats", "false") // two-big-tables case: no broadcast
      .load()
    readSpj(factDest).join(readSpj(monthDest), Seq("omonth"))
      .groupBy("o_orderstatus")
      .agg(
        count(lit(1)).as("n_orders"),
        sum(col("cents")).as("sum_cents"),
        sum(col("month_cents")).as("sum_month_cents"),
        max(col("month_n")).as("max_month_n"))
      .orderBy("o_orderstatus")
  }

  /** BUCKETED storage-partitioned join — [[joinManifestSpj]]'s zero-
    * shuffle shape on a HIGH-CARDINALITY key, where one file per value is
    * impossible: orders and customer both land bucketed on custkey
    * (`bucketCol`/`bucketCount 16`, files carry `@bucket(custkey,16)`
    * fields), both scans report `KeyGroupedPartitioning(bucket(16, …))`,
    * and the transform resolves against [[GraftBucketFunction]] through
    * the catalog — so the fact×dim equi-join plans with ZERO Exchange on
    * either side even though neither table is value-partitioned. This is
    * the fact-fact join shape at 100 TB: co-bucket once at write time,
    * never shuffle again. Values are pinned by
    * [[joinManifestBroadcast]]'s oracle VERBATIM (same join, same
    * aggregate, different physical path); ManifestSpjSpec pins the plan.
    */
  def joinManifestSpjBucket(spark: SparkSession, sfDir: String): DataFrame = {
    val factDest = Memo.dir(Memo.Key("orders_manifest_bucket", sfDir, "orders")) { factDest =>
      graft.Tables(spark, sfDir).orders
        .select(col("o_custkey"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
        .repartition(expr("pmod(o_custkey, 16)"))
        .write.format("graft.sources.ManifestTable")
        .option("path", factDest.toString)
        .option("bucketCol", "o_custkey").option("bucketCount", "16")
        .mode("append").save()
    }
    val custDest = Memo.dir(Memo.Key("customer_manifest_bucket", sfDir, "customer")) { custDest =>
      graft.Tables(spark, sfDir).customer
        .select("c_custkey", "c_mktsegment")
        .repartition(expr("pmod(c_custkey, 16)"))
        .write.format("graft.sources.ManifestTable")
        .option("path", custDest.toString)
        .option("bucketCol", "c_custkey").option("bucketCount", "16")
        .mode("append").save()
    }
    ensureCatalog(spark)
    ensureSpjConf(spark)
    def readB(p: java.nio.file.Path) = spark.read
      .option("reportPartitioning", "true")
      .option("reportStats", "false") // the two-big-tables case
      .table(s"graft_cat.`$p`")
    readB(factDest).join(readB(custDest),
        col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(
        count(lit(1)).as("n_orders"),
        countDistinct(col("c_custkey")).as("n_custs"),
        sum(col("cents")).as("sum_cents"))
      .orderBy("c_mktsegment")
  }

  /** The custom DataSource V2 connector ([[RangeGen]]) driven end to end
    * with its pushdown paths ACTIVE: the id-range predicate is pushed
    * into the scan (clamping generation to [150000, 180000) — 30k of the
    * 200k declared rows are ever produced), the `tag` predicate stays as
    * the residual post-scan filter, and column pruning drops nothing here
    * only because all three columns are referenced. Values are checked by
    * the DuckDB `range()` oracle, which restates the generator formula —
    * so a pushdown bug that clips one row off either range edge is a
    * value mismatch, not a plan nicety. Per-tag decimal-exact cents sums;
    * the one division happens in the final projection.
    */
  def sourceRangeV2(spark: SparkSession): DataFrame = {
    spark.read.format("graft.sources.RangeGen")
      .option("start", 0).option("end", 200000).option("slices", 16)
      .load()
      .filter(col("id") >= 150000L && col("id") < 180000L && col("tag") =!= "t3")
      .groupBy("tag")
      .agg(
        count(lit(1)).cast("long").as("n_rows"),
        sum(col("val_cents")).cast("long").as("sum_cents"))
      .select(col("tag"), col("n_rows"),
        round(col("sum_cents").cast("double") / 100d, 2).as("sv"))
      .orderBy("tag")
  }
}
