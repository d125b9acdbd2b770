package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.ManifestTable

/** Maintenance rewrites must PRESERVE the table's persisted layout — the
  * round-14 scale-grade finding: all four truncating rewrites (and the
  * merge/batch staging writes) staged through a bare scratch store, so
  * one OPTIMIZE call on a partitioned/bucketed/bloomed table silently
  * shed every `@col`/`@bucket`/bloom field and downgraded partition
  * pruning to zone maps, disabled grouped aggregate pushdown table-wide
  * (its `forall` guard needs EVERY file tagged), and broke SPJ
  * co-partitioning. This spec drives compact/delete/zorder/merge over
  * laid-out tables and pins:
  *
  *   - every post-rewrite data line still carries the layout fields;
  *   - planned-file counts per pruning dimension are UNCHANGED (or
  *     better — packing merges files, it never widens a plan);
  *   - the grouped aggregate pushdown still answers zero-file;
  *   - bucketed SPJ still plans zero Exchange after compaction;
  *   - the rewrites stay value-invisible.
  */
class ManifestLayoutMaintenanceSpec extends AnyFunSuite with SparkSessionFixture {

  import spark.implicits._

  private val Fmt = "graft.sources.ManifestTable"

  private def freshDir(): String =
    Files.createTempDirectory("graft_layout_maint").toString

  /** Planned input partitions == files the scan opens (file grain). */
  private def planned(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect {
      case r: DataSourceV2ScanRelation => r.scan
    }.head.asInstanceOf[org.apache.spark.sql.connector.read.Batch]
      .planInputPartitions().length

  private def dataLines(dir: String): Seq[String] =
    ManifestTable.dataEntries(ManifestTable.currentManifest(dir).get._2)

  private def read(dir: String): DataFrame =
    spark.read.format(Fmt).option("path", dir).load()

  private def shuffles(df: DataFrame): Int =
    "Exchange hashpartitioning".r
      .findAllIn(df.queryExecution.executedPlan.toString).size

  /** Partitioned table with a PERSISTED layout (CREATE TABLE shape), two
    * appends that inherit it — 4 values × 2 appends = 8 tagged files.
    */
  private def partitionedStore(): String = {
    val dir = freshDir()
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("p", LongType),
      StructField("v", LongType)))
    ManifestTable.createEmpty(dir, schema, Map("partitionCol" -> "p"))
    spark.range(0, 2000)
      .select(col("id").as("k"), (col("id") % 4).as("p"), (col("id") * 3).as("v"))
      .write.format(Fmt).option("path", dir).mode("append").save()
    spark.range(2000, 4000)
      .select(col("id").as("k"), (col("id") % 4).as("p"), (col("id") * 3).as("v"))
      .write.format(Fmt).option("path", dir).mode("append").save()
    dir
  }

  test("compactSmallFiles on a partitioned table keeps @fields, pruning, and grouped pushdown") {
    val dir = partitionedStore()
    assert(dataLines(dir).forall(_.contains("@p=")), "appends must inherit the layout")
    assert(planned(read(dir).filter(col("p") === 2L)) == 2, "2 appends × 1 file/value")
    val sumBefore = read(dir).agg(sum("v")).as[Long].head()

    val v = ManifestTable.compactSmallFiles(spark, dir, 100000L, 2)
    assert(v > 0, "everything is small — the pack must commit")

    val lines = dataLines(dir)
    assert(lines.nonEmpty && lines.forall(_.contains("@p=")),
      s"packed files shed the partition field:\n${lines.mkString("\n")}")
    // bin-packed WITHIN partition groups: one file per value
    assert(lines.size == 4, s"expected 1 packed file per value, got: $lines")
    assert(planned(read(dir).filter(col("p") === 2L)) == 1,
      "partition pruning must survive the rewrite")
    assert(planned(read(dir).filter(col("p") >= 2L)) == 2)

    // grouped aggregate pushdown still answers from the manifest alone
    val agg = read(dir).groupBy("p").agg(
      expr("count(*)").as("n"), expr("min(v)").as("mn"), expr("max(v)").as("mx"))
    assert(agg.queryExecution.executedPlan.toString.contains("graft-manifest-agg"),
      s"grouped pushdown must stay table-wide after maintenance:\n${agg.queryExecution.executedPlan}")
    assert(agg.filter(col("p") === 1L).as[(Long, Long, Long, Long)].head() ==
      ((1L, 1000L, 3L, 11991L)))

    // value-invisible
    assert(read(dir).count() == 4000L)
    assert(read(dir).agg(sum("v")).as[Long].head() == sumBefore)
  }

  test("deleteMatching on a partitioned table rewrites WITH the layout") {
    val dir = partitionedStore()
    val v = ManifestTable.deleteMatching(spark, dir, col("k") % 10L === 0L)
    assert(v > 0)
    val lines = dataLines(dir)
    assert(lines.forall(_.contains("@p=")),
      s"delete-rewritten files shed the partition field:\n${lines.mkString("\n")}")
    assert(planned(read(dir).filter(col("p") === 3L)) <=
      planned(read(dir)) / 3, "per-partition pruning must survive the delete")
    assert(read(dir).count() == 4000L - 400L)
    assert(read(dir).filter(col("k") % 10L === 0L).count() == 0L)
  }

  test("compactZOrder on a partitioned table clusters WITHIN partitions, keeps @fields") {
    val dir = freshDir()
    val schema = StructType(Seq(
      StructField("p", LongType), StructField("x", LongType),
      StructField("y", LongType)))
    ManifestTable.createEmpty(dir, schema, Map("partitionCol" -> "p"))
    // x,y independent within each of 2 partition values
    spark.range(0, 8192)
      .select((col("id") % 2).as("p"), expr("(id div 2) % 64").as("x"),
        expr("id div 128").as("y"))
      .write.format(Fmt).option("path", dir).mode("append").save()

    val v = ManifestTable.compactZOrder(spark, dir, Seq("x", "y"), 8)
    assert(v > 0)
    val lines = dataLines(dir)
    assert(lines.forall(_.contains("@p=")),
      s"z-order rewrite shed the partition field:\n${lines.mkString("\n")}")

    val t = read(dir)
    val all = planned(t)
    // dimension 1: the partition field still prunes (~half the files)
    assert(planned(t.filter(col("p") === 0L)) <= (all + 1) / 2,
      s"partition pruning lost after z-order: ${planned(t.filter(col("p") === 0L))}/$all")
    // dimension 2: the z-clustering gives tight zone maps on x AND y
    val box = t.filter(col("x") < 16L && col("y") < 16L)
    assert(planned(box) < all,
      s"z-order zone maps should prune the 2D box: ${planned(box)}/$all")
    assert(box.count() ==
      spark.range(0, 8192)
        .select(expr("(id div 2) % 64").as("x"), expr("id div 128").as("y"))
        .filter(col("x") < 16L && col("y") < 16L).count())
    assert(t.count() == 8192L)
  }

  test("compactDeletes on a partitioned table folds WITH the layout") {
    val dir = partitionedStore()
    ManifestTable.deleteKeys(dir, "k", (0L until 100L).toSeq)
    val v = ManifestTable.compactDeletes(spark, dir)
    assert(v > 0)
    val lines = dataLines(dir)
    assert(lines.forall(_.contains("@p=")),
      s"delete fold shed the partition field:\n${lines.mkString("\n")}")
    assert(planned(read(dir).filter(col("p") === 1L)) <= planned(read(dir)) / 3)
    assert(read(dir).count() == 3900L)
  }

  test("mergeKeys stages replacement rows under the persisted layout") {
    val dir = partitionedStore()
    val updates = spark.range(10, 20)
      .select(col("id").as("k"), (col("id") % 4).as("p"), lit(-5L).as("v"))
    ManifestTable.mergeKeys(spark, dir, "k", updates)
    val lines = dataLines(dir)
    assert(lines.forall(_.contains("@p=")),
      s"merged-in rows shed the partition field:\n${lines.mkString("\n")}")
    assert(read(dir).filter(col("k") === 11L).select("v").as[Long].head() == -5L)
    assert(read(dir).count() == 4000L)
  }

  /** Bucketed table with a PERSISTED layout; high-cardinality key. */
  private def bucketedStore(rows: Long, payload: String): String = {
    val dir = freshDir()
    val schema = StructType(Seq(
      StructField("k", LongType), StructField(payload, LongType)))
    ManifestTable.createEmpty(dir, schema,
      Map("bucketCol" -> "k", "bucketCount" -> "4"))
    spark.range(0, rows / 2)
      .select(col("id").as("k"), (col("id") * 3).as(payload))
      .write.format(Fmt).option("path", dir).mode("append").save()
    spark.range(rows / 2, rows)
      .select(col("id").as("k"), (col("id") * 3).as(payload))
      .write.format(Fmt).option("path", dir).mode("append").save()
    dir
  }

  test("compactSmallFiles on a bucketed table keeps @bucket fields, point pruning, SPJ") {
    val a = bucketedStore(1000, "pa")
    val b = bucketedStore(500, "pb")
    assert(ManifestTable.compactSmallFiles(spark, a, 100000L, 2) > 0)
    assert(ManifestTable.compactSmallFiles(spark, b, 100000L, 2) > 0)
    for (dir <- Seq(a, b)) {
      val lines = dataLines(dir)
      assert(lines.forall(_.contains("@bucket(k,4)=")),
        s"packed files shed the bucket field:\n${lines.mkString("\n")}")
      assert(lines.size == 4, s"expected 1 packed file per bucket, got: $lines")
      // a point lookup opens exactly its bucket's one packed file
      assert(planned(read(dir).filter(col("k") === 42L)) == 1,
        "bucket pruning must survive the rewrite")
    }
    // SPJ over the two COMPACTED tables still plans zero Exchange
    val key = "spark.sql.sources.v2.bucketing.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    spark.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
    spark.conf.set("spark.sql.catalog.graft_cat", "graft.sources.GraftCatalog")
    try {
      def rd(d: String) = spark.read
        .option("reportPartitioning", "true").option("reportStats", "false")
        .table(s"graft_cat.`$d`")
      val joined = rd(a).join(rd(b), "k")
      assert(shuffles(joined) == 0,
        s"bucket-SPJ must survive compaction:\n${joined.queryExecution.executedPlan}")
      assert(joined.count() == 500L)
    } finally prev match {
      case Some(x) => spark.conf.set(key, x)
      case None => spark.conf.unset(key)
    }
  }

  test("compaction keeps blooms; a persisted codec key is ignored") {
    val dir = freshDir()
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("name", StringType)))
    ManifestTable.createEmpty(dir, schema, Map("bloomCols" -> "name"))
    // an old store's header persisting the retired text codec
    val m1 = java.nio.file.Paths.get(dir).resolve("manifest-1.json")
    val header = Files.readAllLines(m1)
    assert(header.get(0).endsWith("#layout=bloomCols=name"), header.get(0))
    header.set(0, header.get(0) + ";codec=text")
    Files.write(m1, header)
    assert(ManifestTable.tableLayout(dir) == Map("bloomCols" -> "name"))
    spark.range(0, 500)
      .select(col("id").as("k"), concat(lit("n"), col("id")).as("name"))
      .repartition(3)
      .write.format(Fmt).option("path", dir).mode("append").save()
    spark.range(500, 1000)
      .select(col("id").as("k"), concat(lit("n"), col("id")).as("name"))
      .repartition(3)
      .write.format(Fmt).option("path", dir).mode("append").save()

    assert(ManifestTable.compactSmallFiles(spark, dir, 100000L, 2) > 0)
    val lines = dataLines(dir)
    // appends and the rewrite write parquet whatever the header said
    assert(lines.forall(l => ManifestTable.parseEntry(l)._1.endsWith(".parquet")),
      s"packed files must be parquet:\n${lines.mkString("\n")}")
    val t = read(dir)
    val all = planned(t)
    assert(all == 2)
    // a bloom point probe plans only the candidate packed file
    assert(planned(t.filter(col("name") === "n7")) == 1,
      "bloom pruning must survive the rewrite")
    assert(t.filter(col("name") === "n7").select("k").as[Long].head() == 7L)
  }
}
