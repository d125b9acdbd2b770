package graft

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.ManifestTable

/** The staged-rewrite path of the manifest store: every op that adds rows
  * other than a plain append (`mergeKeys`, `commitBatch`,
  * `compactSmallFiles`, `deleteMatching`, `compactDeletes`,
  * `compactZOrder`) writes them into one dot-prefixed scratch store,
  * links the files in and removes the scratch. Pins:
  *
  *   - no scratch directory outlives an op, whether it commits or its
  *     staging write fails, and a failed op leaves the current version
  *     and the table directory as they were;
  *   - a staging write of zero rows commits a version listing no data
  *     file, and earlier versions still time-travel;
  *   - `vacuum` sweeps store files and scratch only past its 1 h age
  *     gate, and never a name the store does not own.
  */
class ManifestStagingSpec extends AnyFunSuite with SparkSessionFixture {

  import spark.implicits._

  private val Fmt = "graft.sources.ManifestTable"

  private def freshDir(): String =
    Files.createTempDirectory("graft_staging_spec").toString

  private def rows(from: Long, n: Long): DataFrame =
    spark.range(from, from + n)
      .select(col("id"), (col("id") % 5).as("k"), concat(lit("s"), col("id")).as("s"))

  private def append(dir: String, from: Long, n: Long): Unit =
    rows(from, n).coalesce(1)
      .write.format(Fmt).option("path", dir).mode("append").save()

  private def read(dir: String, version: Option[Int] = None): DataFrame = {
    val r = spark.read.format(Fmt).option("path", dir)
    version.fold(r)(v => r.option("version", v.toString)).load()
  }

  private def version(dir: String): Int = ManifestTable.currentManifest(dir).get._1

  private def listing(dir: String): Set[String] = {
    val s = Files.list(ManifestTable.dir(dir))
    try s.iterator().asScala.map(_.getFileName.toString).toSet finally s.close()
  }

  private def assertNoScratch(dir: String, after: String): Unit = {
    val left = listing(dir).filter(n =>
      n.startsWith(".") && Files.isDirectory(ManifestTable.dir(dir).resolve(n)))
    assert(left.isEmpty, s"$after left scratch directories: $left")
  }

  private def age(p: Path): Unit =
    Files.setLastModifiedTime(p,
      FileTime.fromMillis(System.currentTimeMillis() - 2 * 3600 * 1000L))

  test("every staged op leaves no scratch directory under the table dir") {
    val dir = freshDir()
    (0 until 4).foreach(i => append(dir, i * 100L, 50))
    val ops: Seq[(String, () => Unit)] = Seq(
      "commitBatch" -> (() => ManifestTable.commitBatch(spark, dir, 0L, rows(5000L, 20))),
      "compactSmallFiles" -> (() => ManifestTable.compactSmallFiles(spark, dir, 1000L)),
      "deleteMatching" -> (() => ManifestTable.deleteMatching(spark, dir, col("id") < 10L)),
      "compactZOrder" -> (() => ManifestTable.compactZOrder(spark, dir, Seq("id", "k"), 2)),
      "mergeKeys" -> (() => ManifestTable.mergeKeys(spark, dir, "id",
        rows(100L, 10).withColumn("s", lit("merged")))),
      "compactDeletes" -> (() => ManifestTable.compactDeletes(spark, dir)))
    ops.foreach { case (name, op) =>
      val v = version(dir)
      op()
      assert(version(dir) == v + 1, s"$name must commit one version")
      assertNoScratch(dir, name)
    }
    val expected = ((0L until 4L).flatMap(i => i * 100L until i * 100L + 50L) ++
      (5000L until 5020L)).filter(_ >= 10L).toSet
    assert(read(dir).select("id").as[Long].collect().toSet == expected)
    assert(read(dir).filter(col("s") === "merged").count() == 10L)
  }

  test("a failed staging write leaves no scratch, the version and the files unchanged") {
    val boom = udf((x: Long) => {
      if (x >= 0L) throw new IllegalStateException("planted staging failure")
      x
    })
    val dir = freshDir()
    append(dir, 0L, 100)
    val (v, files) = (version(dir), listing(dir))

    intercept[Exception] {
      ManifestTable.mergeKeys(spark, dir, "id",
        rows(0L, 10).select(boom(col("id")).as("id"), col("k"), col("s")))
    }
    assert(version(dir) == v, "a failed mergeKeys must not commit")
    assertNoScratch(dir, "a failed mergeKeys")
    assert(listing(dir) == files, "a failed mergeKeys left files behind")

    intercept[Exception] {
      ManifestTable.deleteMatching(spark, dir, boom(col("id")) < 10L)
    }
    assert(version(dir) == v, "a failed deleteMatching must not commit")
    assertNoScratch(dir, "a failed deleteMatching")
    assert(listing(dir) == files, "a failed deleteMatching left files behind")
    assert(read(dir).count() == 100L)
  }

  test("an empty staging write commits a version with no data lines; history still reads") {
    def dataLines(dir: String): Seq[String] =
      ManifestTable.dataEntries(ManifestTable.currentManifest(dir).get._2)

    // a copy-on-write delete every row matches
    val cow = freshDir()
    append(cow, 0L, 100)
    assert(ManifestTable.deleteMatching(spark, cow, col("id") >= 0L) == 2)
    assert(dataLines(cow).isEmpty)
    assert(read(cow).count() == 0L)
    assert(read(cow, Some(1)).count() == 100L)
    assertNoScratch(cow, "an emptying deleteMatching")

    // folding equality deletes that cover every key
    val eq = freshDir()
    append(eq, 0L, 100)
    ManifestTable.deleteKeys(eq, "id", 0L until 100L)
    assert(ManifestTable.compactDeletes(spark, eq) == 3)
    assert(dataLines(eq).isEmpty)
    assert(ManifestTable.deleteEntriesOf(ManifestTable.currentManifest(eq).get._2).isEmpty)
    assert(read(eq).count() == 0L)
    assert(read(eq, Some(1)).count() == 100L)
    assert(read(eq, Some(2)).count() == 0L)
    assertNoScratch(eq, "an emptying compactDeletes")
  }

  test("vacuum's age gate: only aged store files and aged scratch directories go") {
    val dir = freshDir()
    append(dir, 0L, 100)
    val d = ManifestTable.dir(dir)
    def scratchDir(name: String): Path = {
      val p = Files.createDirectories(d.resolve(name))
      Files.write(p.resolve("data-0-0-x.parquet"), Array[Byte](1, 2, 3))
      p
    }
    val freshStage = scratchDir(".merge_stage_fresh")
    val freshData = Files.write(d.resolve("data-9-9-fresh.parquet"), Array[Byte](1))
    val agedStage = scratchDir(".merge_stage_aged")
    val agedData = Files.write(d.resolve("data-9-9-aged.parquet"), Array[Byte](1))
    val agedKeys = scratchDir(".merge_keys_aged")
    val foreign = Files.createDirectories(d.resolve("foreign_dir"))
    Files.write(foreign.resolve("inner.bin"), Array[Byte](7))
    // checksum sidecars whose data files are gone
    val freshCrc = Files.write(d.resolve(".data-9-9-gone1.parquet.crc"), Array[Byte](1))
    val agedCrc = Files.write(d.resolve(".data-9-9-gone2.parquet.crc"), Array[Byte](1))
    Seq(agedStage, agedData, agedKeys, foreign, agedCrc).foreach(age)

    assert(ManifestTable.vacuum(dir) == ((0, 1)),
      "one aged unreferenced data file, no expired manifest")
    Seq(freshStage, freshData, foreign, foreign.resolve("inner.bin"), freshCrc).foreach { p =>
      assert(Files.exists(p), s"vacuum swept $p")
    }
    Seq(agedStage, agedData, agedKeys, agedCrc).foreach { p =>
      assert(!Files.exists(p), s"vacuum kept aged $p")
    }
    assert(read(dir).count() == 100L)
  }
}
