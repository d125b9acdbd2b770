package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.ManifestTable

/** [[ManifestTable.commitBatch]] — the streaming-ingest commit: one
  * manifest version per micro-batch, idempotent on batchId via the
  * in-commit marker file. The drive (`stream_manifest_sink`) proves the
  * fold against the DuckDB oracle; this spec pins the protocol physics
  * the fold can't see.
  */
class ManifestSinkSpec extends AnyFunSuite with SparkSessionFixture {

  import spark.implicits._

  private val Fmt = "graft.sources.ManifestTable"

  private def freshDir(): String =
    Files.createTempDirectory("graft_manifest_sink_spec").toString

  private def version(dir: String): Int =
    ManifestTable.currentManifest(dir).get._1

  test("one version per batch; replay (sequential AND racing) is a no-op") {
    val dir = freshDir()
    val b0 = Seq((1L, 10L), (2L, 20L)).toDF("k", "v")
    val b1 = Seq((1L, 1L), (3L, 30L)).toDF("k", "v")

    val v0 = ManifestTable.commitBatch(spark, dir, 0L, b0)
    assert(v0 == 1)
    assert(ManifestTable.commitBatch(spark, dir, 0L, b0) == 1, "replay no-op")

    val v1 = ManifestTable.commitBatch(spark, dir, 1L, b1)
    assert(v1 == 2)
    // a LATE replay of batch 0 after batch 1 must still no-op
    assert(ManifestTable.commitBatch(spark, dir, 0L, b0) == 2)
    assert(version(dir) == 2)

    // racing replays of one batch commit exactly once
    val racers = (1 to 4).map { _ =>
      new Thread {
        var v: Int = -1
        override def run(): Unit =
          v = ManifestTable.commitBatch(spark, dir, 2L, b0)
      }
    }
    racers.foreach(_.start()); racers.foreach(_.join())
    assert(version(dir) == 3, s"4 racing replays of batch 2 must produce ONE version")

    // fold = sum of batch partials (batch 2 re-added b0)
    val total = spark.read.format(Fmt).option("path", dir).load()
      .groupBy("k").agg(sum("v").as("sv"))
      .orderBy("k").as[(Long, Long)].collect().toSeq
    assert(total == Seq((1L, 21L), (2L, 40L), (3L, 30L)))
  }

  test("partitioned streaming ingest: batch versions carry @day fields, a day's query lists a day") {
    val dir = freshDir()
    // two micro-batches, each spanning two days (unclustered — the
    // write's declared distribution routes the values itself)
    ManifestTable.commitBatch(spark, dir, 0L,
      Seq((100L, 1L, 10L), (100L, 2L, 11L), (101L, 3L, 12L), (101L, 4L, 13L))
        .toDF("day", "k", "v"), partitionCol = Some("day"))
    ManifestTable.commitBatch(spark, dir, 1L,
      Seq((100L, 5L, 14L), (102L, 6L, 15L))
        .toDF("day", "k", "v"), partitionCol = Some("day"))
    assert(version(dir) == 2)
    val t = spark.read.format(Fmt).option("path", dir).load()
    // day 100 has a file in EACH batch version: exactly 2 planned tasks
    val day100 = t.filter(col("day") === 100L)
    assert(day100.rdd.getNumPartitions == 2,
      "a day's query must plan only that day's files across batch versions")
    assert(day100.select("k").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 5L))
    // day 102 exists only in batch 1: one file
    assert(t.filter(col("day") === 102L).rdd.getNumPartitions == 1)
    // replay of a partitioned batch still no-ops
    assert(ManifestTable.commitBatch(spark, dir, 1L,
      Seq((999L, 9L, 9L)).toDF("day", "k", "v"), partitionCol = Some("day")) == 2)
  }

  test("mid-stream snapshot isolation: a reader pinned at version v sees a batch prefix") {
    val dir = freshDir()
    ManifestTable.commitBatch(spark, dir, 0L, Seq((1L, 10L)).toDF("k", "v"))
    val pinned = spark.read.format(Fmt).option("path", dir)
      .option("version", "1").load()
    // later batches land while the pinned reader is open
    ManifestTable.commitBatch(spark, dir, 1L, Seq((2L, 20L)).toDF("k", "v"))
    ManifestTable.commitBatch(spark, dir, 2L, Seq((3L, 30L)).toDF("k", "v"))
    assert(pinned.count() == 1L, "pinned snapshot must not see later batches")
    assert(spark.read.format(Fmt).option("path", dir).load().count() == 3L)
    // time travel re-materializes the two-batch prefix exactly
    assert(spark.read.format(Fmt).option("path", dir)
      .option("version", "2").load()
      .select("k").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
  }

  test("empty batch commits its marker (idempotence recorded), adds no rows or tasks") {
    val dir = freshDir()
    ManifestTable.commitBatch(spark, dir, 0L, Seq((1L, 10L)).toDF("k", "v"))
    val v = ManifestTable.commitBatch(spark, dir, 1L,
      Seq.empty[(Long, Long)].toDF("k", "v"))
    assert(v == 2)
    val df = spark.read.format(Fmt).option("path", dir).load()
    assert(df.count() == 1L)
    // markers and 0-row files never become scan tasks
    assert(df.rdd.getNumPartitions == 1)
    assert(ManifestTable.commitBatch(spark, dir, 1L,
      Seq.empty[(Long, Long)].toDF("k", "v")) == 2, "empty-batch replay no-op")
  }

  private def drainStream(
      dir: String, ck: String, out: String, maxPerBatch: Int = 1): Unit = {
    val q = spark.readStream.format(Fmt).option("path", dir)
      .option("maxVersionsPerBatch", maxPerBatch.toString).load()
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  test("streaming source: version-per-batch, restart resumes exactly-once") {
    val dir = freshDir()
    val ck = Files.createTempDirectory("graft_msrc_ck").toString
    val out = Files.createTempDirectory("graft_msrc_out").toString
    ManifestTable.commitBatch(spark, dir, 0L, Seq((1L, 10L), (2L, 20L)).toDF("k", "v"))
    ManifestTable.commitBatch(spark, dir, 1L, Seq((3L, 30L)).toDF("k", "v"))

    drainStream(dir, ck, out)
    assert(spark.read.parquet(out).count() == 3L)

    // two more versions land; RESUMING the same checkpoint must emit
    // exactly the new rows — offsets are versions, replay-safe
    ManifestTable.commitBatch(spark, dir, 2L, Seq((4L, 40L)).toDF("k", "v"))
    ManifestTable.commitBatch(spark, dir, 3L, Seq((5L, 50L)).toDF("k", "v"))
    drainStream(dir, ck, out)
    val rows = spark.read.parquet(out).select("k").as[Long].collect().sorted.toSeq
    assert(rows == Seq(1L, 2L, 3L, 4L, 5L), s"exactly-once violated: $rows")

    // a third drain with nothing new emits nothing
    drainStream(dir, ck, out)
    assert(spark.read.parquet(out).count() == 5L)
  }

  test("streaming source: initial snapshot applies current deletes; later deletes fail the stream") {
    val dir = freshDir()
    Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "v").coalesce(1)
      .write.format(Fmt).option("path", dir).mode("append").save()
    ManifestTable.deleteKeys(dir, "k", Seq(2L))

    val ck = Files.createTempDirectory("graft_msrc_ck2").toString
    val out = Files.createTempDirectory("graft_msrc_out2").toString
    drainStream(dir, ck, out, maxPerBatch = Int.MaxValue)
    // the snapshot = live rows (delete applied), not raw files
    assert(spark.read.parquet(out).select("k").as[Long].collect().sorted.toSeq
      == Seq(1L, 3L))

    // a delete AFTER the snapshot is not an append — the resume must
    // fail loudly, not silently re-emit or drop
    ManifestTable.deleteKeys(dir, "k", Seq(3L))
    val e = intercept[Exception] { drainStream(dir, ck, out) }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("append")),
      s"expected the append-only violation, got: ${messages(e)}")
  }

  test("streaming source: the initial snapshot applies the deletes of its own version") {
    val dir = freshDir()
    Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L)).toDF("k", "v").coalesce(1)
      .write.format(Fmt).option("path", dir).mode("append").save()     // v1
    ManifestTable.deleteKeys(dir, "k", Seq(1L))                        // v2
    ManifestTable.compactDeletes(spark, dir)                           // v3
    val ck = Files.createTempDirectory("graft_msrc_ck3").toString
    val out = Files.createTempDirectory("graft_msrc_out3").toString
    // batch (0, 2] is the initial snapshot at v2; batch (2, 3] crosses
    // the compaction, which removed data files
    val e = intercept[Exception] { drainStream(dir, ck, out, maxPerBatch = 2) }
    val atV2 = spark.read.format(Fmt).option("path", dir).option("version", "2")
      .load().select("k", "v").as[(Long, Long)].collect().toSeq.sorted
    assert(spark.read.parquet(out).select("k", "v").as[(Long, Long)]
      .collect().toSeq.sorted == atV2)
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("append")),
      s"expected the append-only refusal, got: ${messages(e)}")
  }

  test("a crash before the commit leaves nothing visible; vacuum sweeps aged debris") {
    val dir = freshDir()
    ManifestTable.commitBatch(spark, dir, 0L, Seq((1L, 10L)).toDF("k", "v"))
    // simulate the crash window: unreferenced data + marker files on disk
    val d = java.nio.file.Paths.get(dir)
    val strayData = d.resolve("data-9-9-deadbeef.rows")
    val strayMarker = d.resolve("batch-000042.rows")
    Files.write(strayData, java.util.List.of("110"))
    Files.write(strayMarker, Array.emptyByteArray)
    assert(spark.read.format(Fmt).option("path", dir).load().count() == 1L,
      "unreferenced files are invisible to the scan")
    // young debris survives vacuum (could be a live writer)...
    ManifestTable.vacuum(dir)
    assert(Files.exists(strayData) && Files.exists(strayMarker))
    // ...aged debris is swept
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 2 * 3600 * 1000L)
    Files.setLastModifiedTime(strayData, old)
    Files.setLastModifiedTime(strayMarker, old)
    ManifestTable.vacuum(dir)
    assert(!Files.exists(strayData) && !Files.exists(strayMarker))
    // the committed batch is untouched
    assert(spark.read.format(Fmt).option("path", dir).load().count() == 1L)
  }

  private def ks(dir: String): Seq[Long] =
    spark.read.format(Fmt).option("path", dir).load()
      .select("k").as[Long].collect().sorted.toSeq

  test("named commit: a replay after compactDeletes retired its marker is a no-op") {
    val dir = freshDir()
    ManifestTable.commitNamed(spark, dir, Seq("b0.parquet"), Seq((1L, 10L)).toDF("k", "v"))
    ManifestTable.commitNamed(spark, dir, Seq("b1.parquet"), Seq((2L, 20L)).toDF("k", "v"))
    val v = ManifestTable.compactDeletes(spark, dir)
    val lines = ManifestTable.currentManifest(dir).get._2
    assert(lines.contains("=batch-b0.parquet.rows"), "the fold retires the marker")
    assert(ManifestTable.commitNamed(spark, dir, Seq("b0.parquet"),
      Seq((9L, 9L)).toDF("k", "v")) == v)
    assert(version(dir) == v && ks(dir) == Seq(1L, 2L))
  }

  test("named commit: a replay after compactSmallFiles is a no-op") {
    val dir = freshDir()
    ManifestTable.commitNamed(spark, dir, Seq("a"), Seq((1L, 10L)).toDF("k", "v"))
    ManifestTable.commitNamed(spark, dir, Seq("b"), Seq((2L, 20L)).toDF("k", "v"))
    val v = ManifestTable.compactSmallFiles(spark, dir, minRows = 100L)
    assert(v == 3)
    assert(ManifestTable.commitNamed(spark, dir, Seq("b"),
      Seq((9L, 9L)).toDF("k", "v")) == v)
    assert(version(dir) == v && ks(dir) == Seq(1L, 2L))
  }

  test("named commit: a name set that overlaps an earlier commit in part throws, naming it") {
    val dir = freshDir()
    ManifestTable.commitNamed(spark, dir, Seq("x1"), Seq((1L, 10L)).toDF("k", "v"))
    val e = intercept[ManifestTable.ConcurrentCommitException](
      ManifestTable.commitNamed(spark, dir, Seq("x1", "x2"), Seq((2L, 20L)).toDF("k", "v")))
    assert(e.getMessage.contains("x1"), e.getMessage)
    assert(version(dir) == 1 && ks(dir) == Seq(1L))
  }

  test("named commit: a name outside the marker pattern is refused") {
    val dir = freshDir()
    val e = intercept[IllegalArgumentException](
      ManifestTable.commitNamed(spark, dir, Seq("../x"), Seq((1L, 10L)).toDF("k", "v")))
    assert(e.getMessage.contains("'../x'"), e.getMessage)
    assert(ManifestTable.currentManifest(dir).isEmpty)
  }

  test("a Long commitBatch is the named commit %06d: marker batch-000007.rows") {
    val dir = freshDir()
    ManifestTable.commitBatch(spark, dir, 7L, Seq((1L, 10L)).toDF("k", "v"))
    assert(Files.exists(java.nio.file.Paths.get(dir, "batch-000007.rows")))
    assert(ManifestTable.currentManifest(dir).get._2
      .exists(_.startsWith("batch-000007.rows\t")))
    assert(ManifestTable.commitNamed(spark, dir, Seq("000007"),
      Seq((9L, 9L)).toDF("k", "v")) == 1, "the same name as the Long id")
  }
}
