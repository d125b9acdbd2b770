package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.ManifestTable

/** The change feed as a STREAMING SOURCE
  * ([[graft.sources.ManifestCdfMicroBatchStream]]): batch (a, b] emits
  * exactly what [[graft.sources.ManifestCdf.changes]] computes — inserts
  * file-restricted, deletes as snapshot(v−1) key probes, a merge as its
  * delete+insert pair — and unlike the plain stream, DELETES ARE
  * EXPRESSIBLE. Pins: per-version change sets (values and versions),
  * checkpoint restart resuming exactly after the consumed version,
  * startingVersion skipping history, already-dead keys re-deleted
  * emitting nothing, and the loud compaction refusal.
  */
class ManifestCdfStreamSpec extends AnyFunSuite with SparkSessionFixture {

  import spark.implicits._

  private val Fmt = "graft.sources.ManifestTable"
  private val seq = new java.util.concurrent.atomic.AtomicInteger

  /** Drain the CDF stream via foreachBatch (the memory sink refuses
    * checkpoint recovery, and restart is exactly what this spec tests)
    * into a per-drain buffer; returns the accumulated change rows
    * (k, v, _change_type, _commit_version).
    */
  private def drain(store: String, checkpoint: String,
      startingVersion: Int = 1, startingTimestamp: Option[Long] = None): DataFrame = {
    val id = seq.incrementAndGet()
    ManifestCdfStreamSpec.sinks.put(id,
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, String, Int)]())
    val r0 = spark.readStream.format(Fmt)
      .option("path", store)
      .option("changeFeed", "true")
      .option("maxVersionsPerBatch", "1")
    val q = startingTimestamp
      .fold(r0.option("startingVersion", startingVersion.toString))(ts =>
        r0.option("startingTimestamp", ts.toString))
      .load()
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val buf = ManifestCdfStreamSpec.sinks.get(id)
        batch.collect().foreach { r =>
          buf.add((r.getLong(0), r.getLong(1), r.getString(2), r.getInt(3)))
        }
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    import scala.jdk.CollectionConverters._
    ManifestCdfStreamSpec.sinks.get(id).asScala.toSeq
      .toDF("k", "v", "_change_type", "_commit_version")
  }

  private def freshStore(): String = {
    val dir = Files.createTempDirectory("graft_cdf_stream").toString
    Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L))
      .toDF("k", "v").coalesce(1)
      .write.format(Fmt).option("path", dir).mode("append").save()       // v1
    dir
  }

  test("inserts, deletes, and merge pairs stream with their versions") {
    val dir = freshStore()
    ManifestTable.deleteKeys(dir, "k", Seq(1L, 3L))                      // v2
    ManifestTable.mergeKeys(spark, dir, "k",
      Seq((2L, 200L), (9L, 900L)).toDF("k", "v"))                        // v3
    val ck = Files.createTempDirectory("graft_cdf_ck").toString
    val rows = drain(dir, ck)
      .as[(Long, Long, String, Int)].collect().toSet
    assert(rows == Set(
      (1L, 10L, "insert", 1), (2L, 20L, "insert", 1),
      (3L, 30L, "insert", 1), (4L, 40L, "insert", 1),
      // the deletes carry the PRE-delete row images
      (1L, 10L, "delete", 2), (3L, 30L, "delete", 2),
      // the merge reads as its delete+insert pair; novel key 9 only inserts
      (2L, 20L, "delete", 3),
      (2L, 200L, "insert", 3), (9L, 900L, "insert", 3)))
  }

  test("checkpoint restart resumes exactly after the consumed version") {
    val dir = freshStore()
    val ck = Files.createTempDirectory("graft_cdf_ck2").toString
    assert(drain(dir, ck).count() == 4L) // v1 inserts consumed
    // new history after the first drain
    Seq((5L, 50L)).toDF("k", "v").coalesce(1)
      .write.format(Fmt).option("path", dir).mode("append").save()       // v2
    ManifestTable.deleteKeys(dir, "k", Seq(5L))                          // v3
    val rows = drain(dir, ck).as[(Long, Long, String, Int)].collect().toSet
    assert(rows == Set(
      (5L, 50L, "insert", 2), (5L, 50L, "delete", 3)),
      s"restart must emit ONLY the versions after the checkpoint, got $rows")
  }

  test("startingVersion skips history; dead keys re-deleted emit nothing") {
    val dir = freshStore()
    ManifestTable.deleteKeys(dir, "k", Seq(1L))                          // v2
    ManifestTable.deleteKeys(dir, "k", Seq(1L, 2L))                      // v3: 1 already dead
    val ck = Files.createTempDirectory("graft_cdf_ck3").toString
    val rows = drain(dir, ck, startingVersion = 2)
      .as[(Long, Long, String, Int)].collect().toSet
    assert(rows == Set(
      (1L, 10L, "delete", 2),
      // v3 re-deletes key 1 (already dead at v2 -> nothing) and kills 2
      (2L, 20L, "delete", 3)))
  }

  test("startingTimestamp resolves to the first commit at-or-after; bad combos refuse") {
    val dir = freshStore()
    ManifestTable.deleteKeys(dir, "k", Seq(1L))                          // v2
    ManifestTable.deleteKeys(dir, "k", Seq(2L))                          // v3
    val t2 = ManifestTable.commitTimeOf(dir, 2).get
    val ck = Files.createTempDirectory("graft_cdf_ck_ts").toString
    val rows = drain(dir, ck, startingTimestamp = Some(t2))
      .as[(Long, Long, String, Int)].collect().toSet
    assert(rows == Set((1L, 10L, "delete", 2), (2L, 20L, "delete", 3)),
      s"timestamp at v2's stamp must start the feed at v2, got $rows")
    // scan-build validation fires when the stream STARTS (load() is
    // lazy) — drive each bad combo to its loud failure
    def failsWith(msg: String)(opts: (String, String)*): Unit = {
      val ckf = Files.createTempDirectory("graft_cdf_ck_bad").toString
      val e = intercept[Exception] {
        val r0 = spark.readStream.format(Fmt).option("path", dir)
          .option("changeFeed", "true")
        val q = opts.foldLeft(r0) { case (r, (k, v)) => r.option(k, v) }
          .load().writeStream.format("noop")
          .option("checkpointLocation", ckf)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      def anyCause(t: Throwable): Boolean =
        t != null && (Option(t.getMessage).exists(_.contains(msg)) || anyCause(t.getCause))
      assert(anyCause(e), s"expected '$msg', got: $e")
    }
    // both addressing modes at once refuse
    failsWith("mutually exclusive")(
      "startingVersion" -> "2", "startingTimestamp" -> t2.toString)
    // a timestamp after the newest commit has nothing to stream
    failsWith("no changes start there")(
      "startingTimestamp" ->
        (ManifestTable.commitTimeOf(dir, 3).get + 60000L).toString)
  }

  test("every version replays: stream rows equal changes(v-1, v), and scan(v) follows from scan(v-1)") {
    val dir = freshStore()                                               // v1: k 1..4
    ManifestTable.deleteKeys(dir, "k", Seq(1L))                          // v2
    ManifestTable.mergeKeys(spark, dir, "k",
      Seq((2L, 200L), (7L, 700L)).toDF("k", "v"))                        // v3
    val threshold = ManifestTable.groupThreshold
    ManifestTable.groupThreshold = 1
    try Seq((8L, 80L)).toDF("k", "v").coalesce(1)
      .write.format(Fmt).option("path", dir).mode("append").save()       // v4: fold
    finally ManifestTable.groupThreshold = threshold
    assert(ManifestTable.currentManifestShallow(dir).get._2
      .exists(ManifestTable.isGroupEntry), "v4 must fold the data lines into a child")
    ManifestTable.mergeKeys(spark, dir, "k",
      Seq((3L, 300L), (2L, 2000L)).toDF("k", "v"))                       // v5
    ManifestTable.deleteKeys(dir, "k", Seq(2L))                          // v6
    val last = 6
    assert(ManifestTable.currentManifest(dir).get._1 == last)

    val streamed = drain(dir, Files.createTempDirectory("graft_cdf_ck_replay").toString)
      .as[(Long, Long, String, Int)].collect().toSeq.groupBy(_._4)
    def scan(v: Int): Seq[(Long, Long)] =
      if (v == 0) Seq.empty
      else spark.read.format(Fmt).option("path", dir).option("version", v.toString)
        .load().select("k", "v").as[(Long, Long)].collect().toSeq.sorted
    (1 to last).foreach { v =>
      val batch = graft.sources.ManifestCdf.changes(spark, dir, v - 1, v)
        .select("k", "v", "_change_type", "_commit_version").as[(Long, Long, String, Int)].collect().toSeq
      assert(streamed.getOrElse(v, Seq.empty).sorted == batch.sorted,
        s"version $v: stream and changes() disagree")
      def rows(ct: String) = batch.filter(_._3 == ct).map(c => (c._1, c._2))
      val before = scan(v - 1)
      assert(rows("delete").diff(before).isEmpty,
        s"version $v deletes rows that were not live at ${v - 1}: ${rows("delete")}")
      assert((before.diff(rows("delete")) ++ rows("insert")).sorted == scan(v),
        s"version $v: scan(v) != scan(v-1) - deletes + inserts")
    }
  }

  test("a file-removing rewrite in range fails the stream loudly") {
    val dir = freshStore()
    ManifestTable.deleteKeys(dir, "k", Seq(1L))                          // v2
    ManifestTable.compactDeletes(spark, dir)                             // v3: rewrites files
    val ck = Files.createTempDirectory("graft_cdf_ck4").toString
    val e = intercept[Exception] { drain(dir, ck) }
    def anyCauseContains(t: Throwable, s: String): Boolean =
      t != null && (Option(t.getMessage).exists(_.contains(s)) ||
        anyCauseContains(t.getCause, s))
    assert(anyCauseContains(e, "not expressible as a change feed"),
      s"got: $e")
  }
}

object ManifestCdfStreamSpec {
  /** Per-drain collectors, keyed so the foreachBatch closure (which may
    * run on another thread) finds its buffer without capturing test
    * state.
    */
  val sinks = new java.util.concurrent.ConcurrentHashMap[
    Int, java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, String, Int)]]()
}
