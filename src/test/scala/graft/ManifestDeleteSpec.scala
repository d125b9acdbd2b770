package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.ManifestTable

/** Equality-delete lifecycle on the manifest table (merge-on-read):
  * logical removal at read time, history untouched, idempotence,
  * physical drop at compact, and vacuum retention of key files.
  */
class ManifestDeleteSpec extends AnyFunSuite with SparkSessionFixture {

  import spark.implicits._

  private val Fmt = "graft.sources.ManifestTable"

  private def freshTable(): String = {
    val dir = Files.createTempDirectory("graft_manifest_del").toString
    (1L to 20L).map(i => (i, s"row$i", i * 10L)).toDF("id", "s", "v")
      .write.format(Fmt).option("path", dir).mode("append").save()
    dir
  }

  private def readIds(dir: String, version: Option[Int] = None): Seq[Long] = {
    val r = spark.read.format(Fmt).option("path", dir)
    version.foreach(v => r.option("version", v))
    r.load().select("id").as[Long].collect().toSeq.sorted
  }

  private def manifestLines(dir: String): Seq[String] =
    ManifestTable.currentManifest(dir).get._2

  test("deleteKeys removes exactly the stated keys; other rows and columns intact") {
    val dir = freshTable()
    val v = ManifestTable.deleteKeys(dir, "id", Seq(3L, 7L, 19L))
    assert(v == 2)
    assert(readIds(dir) == (1L to 20L).filterNot(Set(3L, 7L, 19L)))
    // untouched rows keep every column value
    val row5 = spark.read.format(Fmt).option("path", dir).load()
      .filter($"id" === 5L).as[(Long, String, Long)].collect().toSeq
    assert(row5 == Seq((5L, "row5", 50L)))
  }

  test("history is untouched: snapshot 1 still shows the deleted rows") {
    val dir = freshTable()
    ManifestTable.deleteKeys(dir, "id", Seq(1L, 2L))
    assert(readIds(dir, Some(1)) == (1L to 20L))
    assert(readIds(dir) == (3L to 20L))
  }

  test("delete is idempotent and composes: re-delete and overlapping delete read identically") {
    val dir = freshTable()
    ManifestTable.deleteKeys(dir, "id", Seq(4L, 5L))
    ManifestTable.deleteKeys(dir, "id", Seq(5L, 6L)) // overlap re-deletes 5
    assert(readIds(dir) == (1L to 20L).filterNot(Set(4L, 5L, 6L)))
  }

  test("STATED SEMANTIC: a delete applies to the whole snapshot — a key appended " +
    "after the delete is also filtered until a compact folds the delete away") {
    val dir = freshTable()
    ManifestTable.deleteKeys(dir, "id", Seq(9L))
    Seq((9L, "reborn", 900L)).toDF("id", "s", "v")
      .write.format(Fmt).option("path", dir).mode("append").save()
    assert(!readIds(dir).contains(9L)) // still filtered: the key is deleted
    ManifestTable.compactDeletes(spark, dir) // fold clears the delete entry
    Seq((9L, "reborn2", 901L)).toDF("id", "s", "v")
      .write.format(Fmt).option("path", dir).mode("append").save()
    assert(readIds(dir).count(_ == 9L) == 1) // post-compact append is live
  }

  test("compactDeletes: same logical rows, no delete entries, deleted bytes physically gone") {
    val dir = freshTable()
    ManifestTable.deleteKeys(dir, "id", Seq(2L, 13L))
    val before = readIds(dir)
    ManifestTable.compactDeletes(spark, dir)
    assert(readIds(dir) == before)
    val lines = manifestLines(dir)
    assert(ManifestTable.deleteEntriesOf(lines).isEmpty)
    // decode every row of every referenced data file: ids 2 and 13 must
    // be absent from the bytes, not just filtered at read time
    val schema = ManifestTable.readSchemaFromManifest(dir)
    val idsInFiles = ManifestTable.dataEntries(lines)
      .map(l => ManifestTable.parseEntry(l)._1)
      .flatMap { f =>
        val r = graft.sources.ManifestColumnar.rows(graft.sources.ManifestColumnar
          .open(Paths.get(dir).resolve(f).toString, schema, Seq.empty))
        val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
        try { while (r.next()) buf += r.get().getLong(0) } finally r.close()
        buf.toSeq
      }
    assert(!idsInFiles.contains(2L) && !idsInFiles.contains(13L))
    assert(idsInFiles.sorted == before)
  }

  test("vacuum keeps a referenced delete-key file and removes it once compact orphans it") {
    val dir = freshTable()
    ManifestTable.deleteKeys(dir, "id", Seq(11L))
    def keyFiles(): Seq[String] = Files.list(Paths.get(dir)).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("delete-")).toSeq
    assert(keyFiles().size == 1)
    // vacuum BEFORE compact: newest manifest still references the key
    // file — it must survive (deleting it would corrupt the live scan)
    ManifestTable.vacuum(dir)
    assert(keyFiles().size == 1)
    assert(readIds(dir) == (1L to 20L).filterNot(_ == 11L))
    // after compact the newest manifest has no delete entries: vacuum
    // may now remove the key file with the expired snapshots
    ManifestTable.compactDeletes(spark, dir)
    ManifestTable.vacuum(dir)
    assert(keyFiles().isEmpty)
    assert(readIds(dir) == (1L to 20L).filterNot(_ == 11L))
  }

  test("deleteKeys validates: unknown column, non-integral column, empty key set") {
    val dir = freshTable()
    val e1 = intercept[IllegalArgumentException](
      ManifestTable.deleteKeys(dir, "nope", Seq(1L)))
    assert(e1.getMessage.contains("no column 'nope'"))
    val e2 = intercept[IllegalArgumentException](
      ManifestTable.deleteKeys(dir, "s", Seq(1L)))
    assert(e2.getMessage.contains("integral"))
    intercept[IllegalArgumentException](
      ManifestTable.deleteKeys(dir, "id", Seq.empty))
  }

  test("null keys never match an equality delete") {
    val dir = Files.createTempDirectory("graft_manifest_del_null").toString
    Seq[(java.lang.Long, String)]((1L, "a"), (null, "b"), (2L, "c"))
      .toDF("id", "s")
      .write.format(Fmt).option("path", dir).mode("append").save()
    ManifestTable.deleteKeys(dir, "id", Seq(1L))
    val back = spark.read.format(Fmt).option("path", dir).load()
      .select("s").as[String].collect().toSeq.sorted
    assert(back == Seq("b", "c")) // the null-id row survives
  }

  test("age-based vacuum: a wide window sweeps nothing, zero keeps only current, current never expires") {
    val dir = freshTable()                                    // v1
    (21L to 25L).map(i => (i, s"row$i", i * 10L)).toDF("id", "s", "v")
      .write.format(Fmt).option("path", dir).mode("append").save() // v2
    (26L to 30L).map(i => (i, s"row$i", i * 10L)).toDF("id", "s", "v")
      .write.format(Fmt).option("path", dir).mode("append").save() // v3

    // a day of retention expires nothing seconds after the commits;
    // time travel inside the window stays intact
    assert(ManifestTable.vacuumOlderThan(dir, 86400000L) == ((0, 0)))
    assert(readIds(dir, Some(1)).size == 20)
    assert(readIds(dir, Some(2)).size == 25)
    assert(ManifestTable.history(dir).map(_.version) == Seq(1, 2, 3))

    // zero retention: every version is "stale" but current NEVER
    // expires — keep-newest-only, the table cannot be emptied
    val (manifestsGone, _) = ManifestTable.vacuumOlderThan(dir, 0L)
    assert(manifestsGone == 2)
    assert(readIds(dir).size == 30)
    assert(ManifestTable.history(dir).map(_.version) == Seq(3))
    val e = intercept[Exception](readIds(dir, Some(1)))
    assert(e.getMessage.contains("no version 1"))
  }

  test("age-based vacuum treats UNSTAMPED legacy versions as inside the window") {
    val dir = freshTable()                                    // v1
    (21L to 25L).map(i => (i, s"row$i", i * 10L)).toDF("id", "s", "v")
      .write.format(Fmt).option("path", dir).mode("append").save() // v2
    // forge a fully-legacy store: strip every #commitMs stamp in place
    for (v <- 1 to 2) {
      val p = java.nio.file.Paths.get(dir, s"manifest-$v.json")
      val content = new String(Files.readAllBytes(p), "UTF-8")
      Files.write(p, content.replaceAll("\t#commitMs=\\d+", "").getBytes("UTF-8"))
    }
    // an undatable version can never be PROVEN stale — even a zero
    // retention window sweeps nothing (vs. the version-count vacuum,
    // which needs no stamps and still works on legacy stores)
    assert(ManifestTable.vacuumOlderThan(dir, 0L) == ((0, 0)))
    assert(ManifestTable.history(dir).map(_.version) == Seq(1, 2))
    assert(readIds(dir, Some(1)).size == 20)
  }
}
