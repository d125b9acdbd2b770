package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.ManifestTable

/** SQL DDL into the manifest store: CREATE TABLE commits an empty
  * manifest-1 (readable zero-row table), CTAS rows land as version 2
  * through the ordinary append path, PARTITIONED BY maps onto the
  * store's identity/bucket layouts, and the create-only contract
  * refuses overwrites and exotic transforms loudly.
  */
class ManifestCtasSpec extends AnyFunSuite with SparkSessionFixture {

  import spark.implicits._

  private val Fmt = "graft.sources.ManifestTable"

  private def freshDir(): String =
    Files.createTempDirectory("graft_ctas_spec").toString + "/t"

  private def ensureCatalog(): Unit =
    spark.conf.set("spark.sql.catalog.graft_cat", "graft.sources.GraftCatalog")

  test("plain CREATE TABLE yields a readable empty table; first insert is version 2") {
    ensureCatalog()
    val dir = freshDir()
    spark.sql(s"CREATE TABLE graft_cat.`$dir` (id BIGINT, s STRING, d DATE)")
    val empty = spark.sql(s"SELECT * FROM graft_cat.`$dir`")
    assert(empty.schema.map(f => (f.name, f.dataType.sql)) ==
      Seq(("id", "BIGINT"), ("s", "STRING"), ("d", "DATE")))
    assert(empty.count() == 0L)
    spark.sql(s"INSERT INTO graft_cat.`$dir` VALUES (1, 'a', DATE'1996-05-01')")
    assert(ManifestTable.currentManifest(dir).get._1 == 2)
    assert(spark.sql(s"SELECT id FROM graft_cat.`$dir`").as[Long].head() == 1L)
  }

  test("CTAS PARTITIONED BY (col) lands the identity layout; pruning works") {
    ensureCatalog()
    val dir = freshDir()
    spark.range(0, 400)
      .select(col("id"), (col("id") % 4).as("p"))
      .createOrReplaceTempView("ctas_src")
    spark.sql(
      s"CREATE TABLE graft_cat.`$dir` PARTITIONED BY (p) " +
        "AS SELECT id, p FROM ctas_src")
    val lines = ManifestTable.currentManifest(dir).get._2
    assert(ManifestTable.dataEntries(lines).nonEmpty &&
      lines.forall(l => ManifestTable.isRetiredEntry(l) || l.contains("@p=")),
      s"CTAS files must carry the @p partition field: $lines")
    val back = spark.read.format(Fmt).option("path", dir).load()
    assert(back.count() == 400L)
    val one = back.filter(col("p") === 2L)
    assert(one.rdd.getNumPartitions == 1, "partition pruning through the CTAS layout")
    assert(one.count() == 100L)
    // the layout is sticky: later INSERTs route through the same writer
    spark.sql(s"INSERT INTO graft_cat.`$dir` SELECT id + 1000, id % 4 FROM ctas_src")
    assert(spark.read.format(Fmt).option("path", dir).load()
      .filter(col("p") === 2L).rdd.getNumPartitions == 2)
    // …and so do FORMAT-path appends (the layout is manifest-persisted
    // table metadata, not a property of the catalog instance)
    assert(ManifestTable.tableLayout(dir).get("partitionCol").contains("p"))
    spark.range(2000, 2400).select(col("id"), (col("id") % 4).as("p"))
      .write.format(Fmt).option("path", dir).mode("append").save()
    assert(spark.read.format(Fmt).option("path", dir).load()
      .filter(col("p") === 2L).rdd.getNumPartitions == 3,
      "a format append must inherit the persisted partition layout")
  }

  test("CTAS PARTITIONED BY (bucket(8, col)) lands the bucketed layout") {
    ensureCatalog()
    val dir = freshDir()
    spark.range(0, 300).select(col("id"), (col("id") * 2).as("v"))
      .createOrReplaceTempView("ctas_bsrc")
    spark.sql(
      s"CREATE TABLE graft_cat.`$dir` PARTITIONED BY (bucket(8, id)) " +
        "AS SELECT id, v FROM ctas_bsrc")
    val lines = ManifestTable.currentManifest(dir).get._2
    assert(lines.exists(_.contains("@bucket(id,8)=")),
      s"CTAS files must carry the @bucket field: $lines")
    val back = spark.read.format(Fmt).option("path", dir).load()
    assert(back.count() == 300L)
    // exact-key probe opens only the matching bucket's files
    val probe = back.filter(col("id") === 77L)
    assert(probe.count() == 1L)
    assert(probe.rdd.getNumPartitions < back.rdd.getNumPartitions)
  }

  test("TBLPROPERTIES codec refuses: the store writes parquet only") {
    ensureCatalog()
    val dir = freshDir()
    spark.range(0, 5).select(col("id"), lit("x").as("s"))
      .createOrReplaceTempView("ctas_tsrc")
    Seq("text", "parquet").foreach { c =>
      val e = intercept[Exception](spark.sql(
        s"CREATE TABLE graft_cat.`$dir` TBLPROPERTIES ('codec'='$c') " +
          "AS SELECT id, s FROM ctas_tsrc"))
      assert(e.getMessage.contains("parquet only"), e.getMessage)
      assert(ManifestTable.currentManifest(dir).isEmpty, "nothing committed")
    }
    // without it, the CTAS lands parquet files
    spark.sql(s"CREATE TABLE graft_cat.`$dir` AS SELECT id, s FROM ctas_tsrc")
    val names = ManifestTable.dataEntries(ManifestTable.currentManifest(dir).get._2)
      .map(ManifestTable.parseEntry(_)._1)
    assert(names.nonEmpty && names.forall(_.endsWith(".parquet")), s"got $names")
  }

  test("a shallow clone inherits the persisted layout; its inserts stay partitioned") {
    ensureCatalog()
    val dir = freshDir()
    spark.range(0, 200).select(col("id"), (col("id") % 4).as("p"))
      .createOrReplaceTempView("ctas_clone_src")
    spark.sql(s"CREATE TABLE graft_cat.`$dir` PARTITIONED BY (p) " +
      "AS SELECT id, p FROM ctas_clone_src")
    val clone = freshDir()
    spark.sql(s"CALL graft_cat.clone('$dir', '$clone')")
    assert(ManifestTable.tableLayout(clone).get("partitionCol").contains("p"),
      "the clone must carry the source's persisted layout")
    spark.sql(s"INSERT INTO graft_cat.`$clone` SELECT id + 1000, id % 4 FROM ctas_clone_src")
    val sliced = spark.read.format(Fmt).option("path", clone).load()
      .filter(col("p") === 1L)
    assert(sliced.count() == 100L)
    assert(sliced.rdd.getNumPartitions == 2,
      "the clone's insert must land partitioned (1 original + 1 inserted file)")
  }

  test("TBLPROPERTIES bloomCols persists with the layout; non-string columns refuse") {
    ensureCatalog()
    val dir = freshDir()
    spark.range(0, 50)
      .select(col("id"), concat(lit("u"), col("id")).as("url"))
      .createOrReplaceTempView("ctas_bloom_src")
    spark.sql(s"CREATE TABLE graft_cat.`$dir` TBLPROPERTIES ('bloomCols'='url') " +
      "AS SELECT id, url FROM ctas_bloom_src")
    def bloomLines(): Int = ManifestTable.dataEntries(
      ManifestTable.currentManifest(dir).get._2).count(_.contains("bloom.url~"))
    assert(bloomLines() >= 1, "CTAS files must carry the declared bloom")
    // a later catalog INSERT inherits the persisted bloom declaration
    spark.sql(s"INSERT INTO graft_cat.`$dir` SELECT id + 100, concat('u', id) FROM ctas_bloom_src")
    assert(bloomLines() >= 2, "inserted files must carry the bloom too")
    // the bloom actually prunes a point lookup
    val probe = spark.read.format(Fmt).option("path", dir).load()
      .filter(col("url") === "u7")
    assert(probe.count() == 2L)
    val e = intercept[Exception](spark.sql(
      s"CREATE TABLE graft_cat.`${freshDir()}` (k BIGINT) TBLPROPERTIES ('bloomCols'='k')"))
    assert(e.getMessage.contains("STRING columns"))
  }

  test("create-only: existing tables, exotic transforms, and multi-transform specs refuse") {
    ensureCatalog()
    val dir = freshDir()
    spark.range(0, 3).select(col("id")).write.format(Fmt)
      .option("path", dir).mode("append").save()
    val e = intercept[Exception](spark.sql(
      s"CREATE TABLE graft_cat.`$dir` (id BIGINT)"))
    assert(e.getMessage.toLowerCase.contains("already exists"))
    val dir2 = freshDir()
    val e2 = intercept[Exception](spark.sql(
      s"CREATE TABLE graft_cat.`$dir2` (id BIGINT, ts TIMESTAMP) PARTITIONED BY (days(ts))"))
    assert(e2.getMessage.contains("unsupported partition spec"))
    val dir3 = freshDir()
    val e3 = intercept[Exception](spark.sql(
      s"CREATE TABLE graft_cat.`$dir3` (a BIGINT, b BIGINT, c BIGINT) " +
        "PARTITIONED BY (a, bucket(4, b))"))
    assert(e3.getMessage.contains("unsupported partition spec"))
  }

  test("a CTAS whose SELECT fails cleans up the empty create; DROP stays closed for data") {
    ensureCatalog()
    val dir = freshDir()
    val boom = org.apache.spark.sql.functions.udf((i: Long) =>
      if (i >= 0) throw new RuntimeException("planted ctas failure") else i)
    spark.range(0, 10).select(boom(col("id")).as("id"))
      .createOrReplaceTempView("ctas_fail_src")
    intercept[Exception] {
      spark.sql(s"CREATE TABLE graft_cat.`$dir` AS SELECT id FROM ctas_fail_src")
    }
    // Spark's cleanup dropped the never-written empty create: no stale
    // zero-row table left behind
    assert(ManifestTable.currentManifest(dir).isEmpty,
      "failed CTAS must not leave an empty store behind")
    // nor the checksum sidecars of its aborted data files
    val d = java.nio.file.Paths.get(dir)
    if (Files.exists(d)) {
      import scala.jdk.CollectionConverters._
      val left = Files.list(d)
      try assert(!left.iterator().asScala.exists(_.getFileName.toString.endsWith(".crc")),
        "the dropped table's directory must hold no .crc sidecar")
      finally left.close()
    }
    // DROP on a data-holding table still refuses
    val dir2 = freshDir()
    spark.range(0, 3).select(col("id")).write.format(Fmt)
      .option("path", dir2).mode("append").save()
    val e = intercept[Exception](spark.sql(s"DROP TABLE graft_cat.`$dir2`"))
    assert(e.getMessage.contains("holding data"))
    // …and an explicit DROP of a never-written empty create is allowed
    val dir3 = freshDir()
    spark.sql(s"CREATE TABLE graft_cat.`$dir3` (k BIGINT)")
    spark.sql(s"DROP TABLE graft_cat.`$dir3`")
    assert(ManifestTable.currentManifest(dir3).isEmpty)
  }

  test("DROP of an empty create deletes only graft artifacts, never foreign files") {
    ensureCatalog()
    // the target directory pre-exists and already holds a foreign file
    // and a foreign subdirectory — a create pointed here (or a failed
    // CTAS whose automatic cleanup drops it) must not wipe them
    val dir = freshDir()
    val d = java.nio.file.Paths.get(dir)
    java.nio.file.Files.createDirectories(d)
    java.nio.file.Files.writeString(d.resolve("keepme.txt"), "not graft's")
    java.nio.file.Files.createDirectories(d.resolve("foreign_dir"))
    java.nio.file.Files.writeString(
      d.resolve("foreign_dir").resolve("inner.bin"), "also not graft's")

    spark.sql(s"CREATE TABLE graft_cat.`$dir` (k BIGINT)")
    // a crashed op's scratch store is the table's, so the drop takes it
    val scratch = d.resolve(".merge_stage_crashed")
    java.nio.file.Files.createDirectories(scratch)
    java.nio.file.Files.writeString(scratch.resolve("data-0-0-x.parquet"), "staged")
    spark.sql(s"DROP TABLE graft_cat.`$dir`")
    assert(ManifestTable.currentManifest(dir).isEmpty, "the table is gone")
    assert(!java.nio.file.Files.exists(scratch), "DROP kept the table's scratch")
    assert(java.nio.file.Files.exists(d.resolve("keepme.txt")),
      "DROP wiped a foreign file")
    assert(java.nio.file.Files.exists(d.resolve("foreign_dir").resolve("inner.bin")),
      "DROP wiped a foreign subdirectory")
    assert(java.nio.file.Files.isDirectory(d),
      "a directory still holding foreign files must survive the drop")
  }

  test("CTAS PARTITIONED BY (a, b): multi-dimension layout, each column prunes alone") {
    ensureCatalog()
    val dir = freshDir()
    spark.range(0, 600)
      .select(col("id"), (col("id") % 3).as("a"), (col("id") % 2).as("b"))
      .createOrReplaceTempView("ctas_msrc")
    spark.sql(s"CREATE TABLE graft_cat.`$dir` PARTITIONED BY (a, b) " +
      "AS SELECT id, a, b FROM ctas_msrc")
    val lines = ManifestTable.currentManifest(dir).get._2
    val dataLines = ManifestTable.dataEntries(lines)
    assert(dataLines.size == 6, s"3×2 combinations → 6 files, got:\n$lines")
    assert(dataLines.forall(l => l.contains("@a=") && l.contains("@b=")))
    val back = spark.read.format(Fmt).option("path", dir).load()
    assert(back.count() == 600L)
    // each dimension prunes independently; together they isolate one file
    assert(back.filter(col("a") === 1L).rdd.getNumPartitions == 2)
    assert(back.filter(col("b") === 0L).rdd.getNumPartitions == 3)
    val one = back.filter(col("a") === 1L && col("b") === 0L)
    assert(one.rdd.getNumPartitions == 1)
    assert(one.count() == 100L)
    assert(one.agg(sum("id")).as[Long].head() ==
      (0L until 600L).filter(i => i % 3 == 1 && i % 2 == 0).sum)
  }
}
