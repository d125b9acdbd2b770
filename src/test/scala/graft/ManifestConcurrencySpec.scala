package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.ManifestTable

/** The commit protocol under CONTENTION — the multi-writer reality of a
  * 100 TB deployment. Two layers:
  *
  *   - deterministic interleavings via [[ManifestTable.preCommitHook]]:
  *     an append lands exactly between a truncating rewrite's snapshot
  *     read and its commit. Before round 14 the rewrite committed
  *     `replacePrev = true` with no base-version check and the appended
  *     rows were silently dropped from current (lost update); now the
  *     commit fails the expected-base validation and the rewrite
  *     re-derives, so the appended rows MUST be in the post-maintenance
  *     current snapshot — which is exactly what these tests pin;
  *   - a real thread race: concurrent appenders × racing compactions ×
  *     duplicate micro-batch replays, then a full audit (no lost rows,
  *     gap-free version chain, unique idempotence markers).
  */
class ManifestConcurrencySpec extends AnyFunSuite with SparkSessionFixture {

  import spark.implicits._

  private val Fmt = "graft.sources.ManifestTable"

  private def freshDir(): String =
    Files.createTempDirectory("graft_mconc_spec").toString

  private def ids(path: String): Set[Long] =
    spark.read.format(Fmt).option("path", path).load()
      .select("id").as[Long].collect().toSet

  private def append(path: String, from: Long, n: Int): Unit =
    spark.range(from, from + n)
      .select(col("id"), concat(lit("s"), col("id")).as("s"))
      .coalesce(1)
      .write.format(Fmt).option("path", path).mode("append").save()

  private def withHook[T](hook: () => Unit)(body: => T): T = {
    ManifestTable.preCommitHook = hook
    try body finally ManifestTable.preCommitHook = () => ()
  }

  private def assertGapFreeVersions(path: String, through: Int): Unit =
    (1 to through).foreach { n =>
      assert(Files.exists(ManifestTable.dir(path).resolve(s"manifest-$n.json")),
        s"version chain has a gap at manifest-$n.json")
    }

  test("an append racing compactSmallFiles survives into the post-compaction current") {
    val dir = freshDir()
    (0 until 4).foreach(i => append(dir, i * 10L, 5))
    val before = ids(dir)
    val fired = new AtomicInteger
    val v = withHook(() =>
        if (fired.getAndIncrement() == 0) append(dir, 1000L, 3)) {
      ManifestTable.compactSmallFiles(spark, dir, minRows = 100L)
    }
    assert(fired.get() >= 2,
      "the base-version conflict must force a re-derive (hook runs once per attempt)")
    assert(ids(dir) == before ++ (1000L until 1003L),
      "rows appended mid-compaction were dropped from the current snapshot")
    assertGapFreeVersions(dir, v)
  }

  test("an append racing deleteMatching survives; the predicate still applies to pre-race rows") {
    val dir = freshDir()
    append(dir, 0L, 100)
    val fired = new AtomicInteger
    val v = withHook(() =>
        if (fired.getAndIncrement() == 0) append(dir, 1000L, 3)) {
      ManifestTable.deleteMatching(spark, dir, col("id") < 50L)
    }
    assert(fired.get() >= 2)
    assert(ids(dir) == (50L until 100L).toSet ++ (1000L until 1003L))
    assertGapFreeVersions(dir, v)
  }

  test("an append racing compactDeletes survives; folded deletes stay deleted") {
    val dir = freshDir()
    append(dir, 0L, 100)
    ManifestTable.deleteKeys(dir, "id", (0L until 10L).toSeq)
    val fired = new AtomicInteger
    val v = withHook(() =>
        if (fired.getAndIncrement() == 0) append(dir, 1000L, 3)) {
      ManifestTable.compactDeletes(spark, dir)
    }
    assert(fired.get() >= 2)
    assert(ids(dir) == (10L until 100L).toSet ++ (1000L until 1003L))
    assertGapFreeVersions(dir, v)
  }

  test("an append racing compactZOrder survives into the re-clustered current") {
    val dir = freshDir()
    spark.range(0, 200)
      .select(col("id"), (col("id") % 7L).as("k"),
        concat(lit("s"), col("id")).as("s"))
      .coalesce(2)
      .write.format(Fmt).option("path", dir).mode("append").save()
    val fired = new AtomicInteger
    val v = withHook(() =>
        if (fired.getAndIncrement() == 0) {
          spark.range(1000, 1003)
            .select(col("id"), (col("id") % 7L).as("k"),
              concat(lit("s"), col("id")).as("s"))
            .coalesce(1)
            .write.format(Fmt).option("path", dir).mode("append").save()
        }) {
      ManifestTable.compactZOrder(spark, dir, Seq("id", "k"), targetPartitions = 4)
    }
    assert(fired.get() >= 2, "the z-order rewrite must re-derive on conflict")
    assert(ids(dir) == (0L until 200L).toSet ++ (1000L until 1003L))
    assertGapFreeVersions(dir, v)
  }

  test("an append racing rewriteManifests survives") {
    val dir = freshDir()
    def appendParts(from: Long): Unit =
      spark.range(from, from + 40)
        .select(col("id"), (col("id") % 4).as("p"))
        .write.format(Fmt).option("path", dir)
        .option("partitionCol", "p").mode("append").save()
    val prev = ManifestTable.groupThreshold
    ManifestTable.groupThreshold = 8
    try {
      // 4 partitions × 6 appends spill twice: two children per partition
      (0 until 6).foreach(i => appendParts(i * 100L))
      val before = ids(dir)
      val fired = new AtomicInteger
      val (v, childrenBefore, childrenAfter) = withHook(() =>
          if (fired.getAndIncrement() == 0) appendParts(1000L)) {
        ManifestTable.rewriteManifests(dir)
      }
      assert(fired.get() >= 2,
        "the base-version conflict must force a re-derive (hook runs once per attempt)")
      assert(childrenBefore == 8 && childrenAfter == 4,
        s"expected 8 children folded to 4, got ($childrenBefore, $childrenAfter)")
      assert(ids(dir) == before ++ (1000L until 1040L),
        "rows appended mid-rewrite were dropped from the current snapshot")
      assertGapFreeVersions(dir, v)
      // the lost attempt's child lists were unlinked: every child on
      // disk is named by some manifest
      val d = ManifestTable.dir(dir)
      val named = Files.list(d).iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("manifest-"))
        .flatMap(m => Files.readAllLines(d.resolve(m)).asScala).mkString("\n")
      val children = Files.list(d).iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("group-")).toSeq
      assert(children.forall(named.contains),
        s"an unreferenced child list was left behind: ${children.filterNot(named.contains)}")
    } finally ManifestTable.groupThreshold = prev
  }

  test("a rewrite that keeps losing the race gives up loudly after bounded retries") {
    val dir = freshDir()
    (0 until 3).foreach(i => append(dir, i * 10L, 5))
    val next = new AtomicInteger(10000)
    val e = intercept[ManifestTable.ConcurrentCommitException] {
      withHook(() => append(dir, next.getAndAdd(10).toLong, 2)) {
        ManifestTable.compactSmallFiles(spark, dir, minRows = 100L)
      }
    }
    assert(e.getMessage.contains("concurrent commit"))
    // nothing lost even on the give-up path: every append is readable
    val got = ids(dir)
    assert((0L until 5L).forall(got) && got(10000L),
      "give-up path lost committed rows")
  }

  test("a micro-batch replay after compaction absorbed its marker is still a no-op") {
    val dir = freshDir()
    append(dir, 0L, 5)
    val batch = spark.range(100L, 110L).select(col("id"), lit("b").as("s"))
    ManifestTable.commitBatch(spark, dir, 3L, batch)
    // compaction absorbs batch-000003.rows into a packed data file —
    // before round 14 the marker NAME vanished with it, and a crash
    // replay would have re-appended the batch (exactly-once broken by
    // maintenance); now the rewrite commits a retired-marker line
    ManifestTable.compactSmallFiles(spark, dir, minRows = 1000000L)
    ManifestTable.commitBatch(spark, dir, 3L, batch) // crash replay
    val after = spark.read.format(Fmt).option("path", dir).load()
      .select("id").as[Long].collect().toSeq
    assert(after.size == after.distinct.size,
      "replay after compaction re-committed the batch")
    assert(after.toSet == (0L until 5L).toSet ++ (100L until 110L).toSet)
    // the retirement survives FURTHER maintenance and a shallow clone
    ManifestTable.deleteMatching(spark, dir, col("id") < 2L)
    ManifestTable.compactDeletes(spark, dir)
    ManifestTable.commitBatch(spark, dir, 3L, batch) // still a no-op
    assert(ids(dir) == (2L until 5L).toSet ++ (100L until 110L).toSet)
    val clone = freshDir() + "/clone"
    ManifestTable.cloneTable(dir, clone)
    ManifestTable.commitBatch(spark, clone, 3L, batch) // clone inherits it
    assert(ids(clone) == (2L until 5L).toSet ++ (100L until 110L).toSet)
  }

  test("retirement lines are capped at the newest MaxRetirements") {
    import graft.sources.ManifestTable.{retirements, MaxRetirements, RetiredMark, retiredName}
    val prev = (0 until MaxRetirements).map(i => f"${RetiredMark}batch-$i%06d.rows")
    val out = retirements(prev, Seq(f"batch-${MaxRetirements}%06d.rows"))
    assert(out.size == MaxRetirements)
    assert(retiredName(out.last).contains(f"batch-${MaxRetirements}%06d"))
    assert(!out.exists(_.contains("batch-000000.rows")),
      "the OLDEST retirement must age out, never the newest")
  }

  test("concurrent appenders, racing compactions, and duplicate batch replays lose nothing") {
    val dir = freshDir()
    append(dir, 0L, 10) // seed the schema at version 1
    val threads = 6
    val appendsPerThread = 3
    val pool = Executors.newFixedThreadPool(threads + 3)
    val start = new CountDownLatch(1)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    def task(body: => Unit): Runnable = () => {
      start.await()
      try body catch { case t: Throwable => failures.add(t) }
    }
    // 6 appenders × 3 appends of 25 ids each, disjoint ranges
    (0 until threads).foreach { t =>
      pool.submit(task {
        (0 until appendsPerThread).foreach { i =>
          append(dir, 1000L * (t + 1) + 100L * i, 25)
        }
      })
    }
    // two racing compaction threads: every commit is a truncating rewrite
    (0 until 2).foreach { _ =>
      pool.submit(task {
        (0 until 2).foreach { _ =>
          ManifestTable.compactSmallFiles(spark, dir, minRows = 1000000L)
        }
      })
    }
    // one micro-batch replayed by a concurrent committer mid-race
    val batch = spark.range(50000L, 50025L)
      .select(col("id"), lit("b").as("s"))
    pool.submit(task {
      ManifestTable.commitBatch(spark, dir, 7L, batch)
      ManifestTable.commitBatch(spark, dir, 7L, batch) // replay
    })
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(300, TimeUnit.SECONDS), "stress pool timed out")
    assert(failures.isEmpty, s"writer failed: ${Option(failures.peek()).map(_.toString)}")

    val expected = (0L until 10L).toSet ++
      (for {
        t <- 0 until threads; i <- 0 until appendsPerThread
        k <- 0 until 25
      } yield 1000L * (t + 1) + 100L * i + k).toSet ++
      (50000L until 50025L).toSet
    val got = spark.read.format(Fmt).option("path", dir).load()
      .select("id").as[Long].collect().toSeq
    assert(got.size == got.distinct.size, "a row was duplicated")
    assert(got.toSet == expected, "a committed row went missing from current")

    // gap-free version chain through the newest committed manifest
    val versions = Files.list(ManifestTable.dir(dir)).iterator().asScala
      .map(_.getFileName.toString)
      .collect { case s if s.startsWith("manifest-") =>
        s.stripPrefix("manifest-").stripSuffix(".json").toInt }
      .toSeq.sorted
    assert(versions == (1 to versions.max), s"version chain has gaps: $versions")
    // the replayed micro-batch's idempotence marker appears exactly once
    val lines = Files.readAllLines(
      ManifestTable.dir(dir).resolve(s"manifest-${versions.max}.json")).asScala
    assert(lines.count(_.contains("batch-000007.rows")) == 1,
      "replayed batch committed more than once")
  }
}
