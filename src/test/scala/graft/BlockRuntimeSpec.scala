package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.BlockRuntime
import graft.sources.ManifestTable

/** Exactly-once-per-block properties the oracle can't see directly: the
  * processed-id sets across runs, the pure-read path, and crash-orphan
  * invisibility of an uncommitted store version.
  */
class BlockRuntimeSpec extends AnyFunSuite with SparkSessionFixture {

  private val sf = "/root/testdata/sf0.001"

  /** The state dir's store: current version and consumed block names. */
  private def store(state: java.nio.file.Path): ManifestTable.Snapshot =
    ManifestTable.Snapshot.at(state.toString, None)

  private def partials(df: org.apache.spark.sql.DataFrame) =
    df.groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).cast("long").as("n_ev"),
        sum(col("vc")).cast("long").as("sum_cents"))

  private def mkFeed(): java.nio.file.Path = {
    val dir = Files.createTempDirectory("brspec_feed")
    val events = Tables(spark, sf).events
      .filter(col("ts").isNotNull && col("value").isNotNull)
      .select(col("event_id"), col("ts"),
        round(col("value") * 100).cast("long").as("vc"))
    (0 until 3).foreach { i =>
      events.filter(col("event_id") % 3 === i)
        .coalesce(1).write.mode("overwrite")
        .parquet(dir.resolve(s"stage$i").toString)
      val part = dir.resolve(s"stage$i").toFile.listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, dir.resolve(s"b$i.parquet"))
    }
    dir
  }

  test("each block is processed exactly once across runs; result = full recompute") {
    val feed = mkFeed()
    val arrive = Files.createTempDirectory("brspec_arrive")
    val state = Files.createTempDirectory("brspec_state")
    Files.createLink(arrive.resolve("b0.parquet"), feed.resolve("b0.parquet"))
    Files.createLink(arrive.resolve("b1.parquet"), feed.resolve("b1.parquet"))

    val r1 = BlockRuntime.run(spark, arrive.toString, state.toString, partials)
    assert(r1.processed == Seq("b0.parquet", "b1.parquet"))

    // no new arrivals: a pure read, nothing reprocessed, state unchanged
    val r1b = BlockRuntime.run(spark, arrive.toString, state.toString, partials)
    assert(r1b.processed.isEmpty)
    assert(store(state).version == 1)

    Files.createLink(arrive.resolve("b2.parquet"), feed.resolve("b2.parquet"))
    val r2 = BlockRuntime.run(spark, arrive.toString, state.toString, partials)
    assert(r2.processed == Seq("b2.parquet"), "run 2 must process ONLY the new block")
    assert(store(state).names ==
      Set("b0.parquet", "b1.parquet", "b2.parquet"))

    val got = r2.result.groupBy("day")
      .agg(sum("n_ev").cast("long").as("n"), sum("sum_cents").cast("long").as("s"))
      .orderBy("day").collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2)))
    val want = Tables(spark, sf).events
      .filter(col("ts").isNotNull && col("value").isNotNull)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(round(col("value") * 100).cast("long")).cast("long").as("s"))
      .orderBy("day").collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2)))
    assert(got.sameElements(want), "committed store diverged from full recompute")
  }

  test("compact folds live versions into one; reads and new runs unaffected") {
    val feed = mkFeed()
    val arrive = Files.createTempDirectory("brspec_arrive3")
    val state = Files.createTempDirectory("brspec_state3")
    def mergeP(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("day")
        .agg(sum(col("n_ev")).cast("long").as("n_ev"),
          sum(col("sum_cents")).cast("long").as("sum_cents"))
    Files.createLink(arrive.resolve("b0.parquet"), feed.resolve("b0.parquet"))
    BlockRuntime.run(spark, arrive.toString, state.toString, partials)
    Files.createLink(arrive.resolve("b1.parquet"), feed.resolve("b1.parquet"))
    BlockRuntime.run(spark, arrive.toString, state.toString, partials)

    val sc = BlockRuntime.compact(spark, state.toString, mergeP)
    assert(sc == 3 && store(state).dataFiles.size == 1)
    assert(store(state).names == Set("b0.parquet", "b1.parquet"),
      "compaction must not forget the consumed blocks")
    val live = ManifestTable.history(state.toString).map(_.version)
    assert(live == Seq(3), s"stale versions must be gone, saw $live")
    // idempotent: a single live file has nothing to fold
    assert(BlockRuntime.compact(spark, state.toString, mergeP) == sc)

    // post-compact run: new block appends v4, read = compacted v3 + v4
    Files.createLink(arrive.resolve("b2.parquet"), feed.resolve("b2.parquet"))
    val r = BlockRuntime.run(spark, arrive.toString, state.toString, partials)
    assert(r.processed == Seq("b2.parquet"))
    val got = r.result.groupBy("day")
      .agg(sum("n_ev").cast("long").as("n"), sum("sum_cents").cast("long").as("s"))
      .orderBy("day").collect()
      .map(row => (row.getDate(0).toString, row.getLong(1), row.getLong(2)))
    val want = Tables(spark, sf).events
      .filter(col("ts").isNotNull && col("value").isNotNull)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(round(col("value") * 100).cast("long")).cast("long").as("s"))
      .orderBy("day").collect()
      .map(row => (row.getDate(0).toString, row.getLong(1), row.getLong(2)))
    assert(got.sameElements(want), "compacted store diverged from full recompute")
  }

  test("an uncommitted orphan store version is invisible and rebuilt on re-run") {
    val feed = mkFeed()
    val arrive = Files.createTempDirectory("brspec_arrive2")
    val state = Files.createTempDirectory("brspec_state2")
    Files.createLink(arrive.resolve("b0.parquet"), feed.resolve("b0.parquet"))
    BlockRuntime.run(spark, arrive.toString, state.toString, partials)

    // simulate a crash before the commit: a staged data file linked into
    // the store but never listed, and the run's scratch store left behind
    Files.createLink(arrive.resolve("b1.parquet"), feed.resolve("b1.parquet"))
    Files.write(state.resolve("data-9-9-deadbeef.parquet"), Array[Byte](1, 2, 3))
    val scratch = Files.createDirectories(state.resolve(".merge_stage_crashed"))
    Files.write(scratch.resolve("data-9-9-deadbeef.parquet"), Array[Byte](1, 2, 3))

    val r = BlockRuntime.run(spark, arrive.toString, state.toString, partials)
    assert(r.processed == Seq("b1.parquet"))
    assert(store(state).version == 2)
    assert(store(state).names == Set("b0.parquet", "b1.parquet"))
    assert(!store(state).dataFiles.exists(_.name == "data-9-9-deadbeef.parquet"),
      "the orphan must stay unlisted")
    // a re-run consumes b1 no second time
    assert(BlockRuntime.run(spark, arrive.toString, state.toString, partials)
      .processed.isEmpty)
    // the orphan is invisible (its garbage bytes are never opened) and
    // the totals exact
    val n = r.result.agg(sum("n_ev")).head().getLong(0)
    val want = Tables(spark, sf).events
      .filter(col("ts").isNotNull && col("value").isNotNull)
      .filter(col("event_id") % 3 <= 1).count()
    assert(n == want)
  }

  test("a state dir holding a pre-store consumed-block log is refused, naming it") {
    val feed = mkFeed()
    val state = Files.createTempDirectory("brspec_prestore")
    Files.write(state.resolve("meta.log"), "1|b0.parquet|1".getBytes("UTF-8"))
    Files.createDirectories(state.resolve("parts").resolve("v1"))
    val e = intercept[IllegalStateException](
      BlockRuntime.run(spark, feed.toString, state.toString, partials))
    assert(e.getMessage.contains("meta.log"), e.getMessage)
    assert(store(state).version == 0, "no block may be consumed a second time")
  }
}
