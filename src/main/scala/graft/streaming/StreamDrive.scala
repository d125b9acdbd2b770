package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}

/** Bounded-stream driver: runs a REAL Structured Streaming query (file
  * source → stateful transform → memory sink, Trigger.AvailableNow) over
  * the driver's events table and hands the sink back as a batch DataFrame.
  *
  * This is what lets the DuckDB correctness gate see the
  * `transformWithState` operators end-to-end instead of spec-only: the
  * registry entries below stream the events through the SAME processors
  * the streaming specs exercise, then reduce the Update-mode emissions to
  * the latest per key — which a batch SQL oracle can state exactly.
  *
  * Determinism: emissions must be pure functions of each key's input
  * MULTISET, not of arrival order, or no cross-engine oracle can exist.
  * Counts and maxes are order-free; double SUMS are not — so values are
  * scaled to integral cents (`round(value·100)`, exact for the 2-decimal
  * event amounts) before entering the stream. Integral doubles below 2^53
  * add exactly in ANY order, so the streamed sums are bit-equal to the
  * oracle's no matter how the shuffle interleaves rows.
  */
object StreamDrive {

  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
  private val RocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  private val HdfsBacked =
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
  private val ChangelogKey =
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"

  /** Narrow read schemas — the file source reads just the named columns,
    * so the nanos `ts` column never enters the stream (no legacy conf
    * needed on this path).
    */
  private val EventSchema = StructType(Seq(
    StructField("user_id", LongType), StructField("value", DoubleType)))
  private val TypedSchema = StructType(Seq(
    StructField("user_id", LongType), StructField("event_type", StringType)))

  /** The shared drive plumbing: clone a session, configure it, run the
    * built stream to completion against a memory sink, hand the sink
    * back. Every drive in this object funnels through here so the
    * session/checkpoint/sink lifecycle can't drift between them. Fresh
    * checkpoint per run (the bounded rerun IS the contract — this is a
    * drive harness, not a resumable pipeline); the CLONED session
    * (`newSession()`: shared SparkContext, isolated SQLConf + catalog)
    * keeps the RocksDB provider and partition sizing invisible to any
    * concurrent query on the caller's session, and `build` receives it so
    * every frame it constructs (including static join sides) is homed
    * there.
    *
    * One state-store instance (a RocksDB database) spins up PER shuffle
    * partition, and the partition count is frozen into the checkpoint —
    * sizing it is a per-deployment decision, not a session default. The
    * drives' key cardinality is the events user population (hundreds at
    * test SFs), so ONE store covers it with zero skew — and store
    * SPIN-UP is the drive's dominant fixed cost (~⅛ s per RocksDB
    * instance per micro-batch: the r6 drives at 8 partitions spent
    * ~1.1–1.3 s/query, mostly opening stores; 2 partitions measured
    * 0.79–0.94 s, 1 partition is the test-SF floor). A production
    * stream with millions of keys raises this with the cluster, exactly
    * like choosing shuffle partitions for a batch job.
    *
    * The session timezone is pinned to UTC explicitly: `newSession()`
    * inherits only the BUILDER-time options, not runtime `conf.set`s, so a
    * caller whose UTC came from `Tables.load` would otherwise hand the
    * drive a host-zoned clone — and the one drive emitting a timestamp
    * column (`stream_watermark`) would render it shifted on a non-UTC
    * host.
    */
  /** Configured drive sessions, one per (context, partitions, provider):
    * 16 drives would otherwise pay the lazy SessionState build 16× — see
    * [[graft.util.Sessions]] (the shared memo) for the sharing/sweeping
    * rationale. Structured Streaming supports concurrent queries per
    * session (distinct queryNames + checkpoints), so sharing is safe.
    */
  private def driveSession(
      spark: SparkSession, partitions: Int, provider: String,
      noData: Boolean = true): SparkSession =
    graft.util.Sessions.forContext(spark, s"drive|$partitions|$provider|$noData")(
      configureDrive(_, partitions, provider, noData))

  /** Per-invocation sequence: drive sessions are MEMOIZED (shared per
    * context/partitions/provider), so two concurrent invocations of the
    * same drive would otherwise collide on the active queryName (the
    * StreamingQueryManager rejects duplicates) and race on the shared
    * memory-sink view.
    */
  private val driveSeq = new java.util.concurrent.atomic.AtomicLong()

  private def runToSink(
      spark: SparkSession, name: String, outputMode: String,
      partitions: Int = 1, provider: String = RocksDb,
      noData: Boolean = true)(
      build: SparkSession => Dataset[_]): DataFrame = {
    val ss = driveSession(spark, partitions, provider, noData)
    val ck = ckDir(name)
    val qname = s"graft_stream_${name}_${driveSeq.incrementAndGet()}"
    val q = build(ss).writeStream
      .format("memory").queryName(qname)
      .outputMode(outputMode)
      .option("checkpointLocation", ck)
      .trigger(Trigger.AvailableNow())
      .start()
    try q.awaitTermination()
    finally releaseCheckpoint(ck) // drive checkpoints are ephemeral by contract
    // table() resolves the view EAGERLY (ofRows asserts analysis), so the
    // returned frame keeps working after the drop — and dropping the view
    // keeps sink tables from accumulating in the long-lived memoized
    // session for the JVM lifetime (the sink rows stay reachable only
    // through the returned plan, GC-able once the caller is done)
    val out = ss.table(qname)
    ss.catalog.dropTempView(qname)
    out
  }

  /** One configured drive session. Store provider is PER DRIVE:
    * transformWithState requires RocksDB (and [[streamRestart]] keeps it
    * for changelog-REPLAY coverage), but the watermark-bounded
    * window/join drives pass [[HdfsBacked]] — Spark's DEFAULT provider,
    * an executor-heap map with delta-file commits. A stream-stream join
    * keeps FOUR stores per partition per side, and a RocksDB instance
    * costs ~⅛ s to open+commit PER STORE PER BATCH — pure JNI fixed
    * cost when the watermark bounds state to a few thousand rows that
    * trivially fit the heap. The provider choice is the documented
    * production sizing rule: RocksDB when state exceeds executor
    * memory, heap when it doesn't.
    */
  private def configureDrive(
      ss: SparkSession, partitions: Int, provider: String,
      noData: Boolean): Unit = {
    ss.conf.set(ProviderKey, provider)
    // Changelog checkpointing (Spark 3.4+): commit writes the batch's
    // delta instead of a full RocksDB snapshot, so fewer checkpoint files
    // per batch — the production setting for low-latency commits, and
    // measured here as the drives' largest fixed-cost lever (outer join
    // 5.6→4.4 s, ss join 3.4→2.7 s at sf0.1). A checkpoint file's cost
    // was mostly per file, not per byte: Hadoop's local file system
    // started `chmod` and `readlink` processes for each one (see
    // graft.util.NioLocalFs). Restart correctness under changelog REPLAY
    // is exercised by [[streamRestart]] + StreamingSpec.
    ss.conf.set(ChangelogKey, "true")
    // Row-count bookkeeping costs one extra RocksDB get per put; nothing
    // in the drives (or the engine) reads numRows metrics, so skip it —
    // the documented production setting for write-heavy state.
    ss.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows", "false")
    // The outer-join drive's final null-emissions and the session
    // timers' fires ride the engine's no-data micro-batch — those drives
    // pin it ON. Drives whose SINK the no-data batch cannot touch (inner
    // joins and Update-mode window aggs emit on the data batch; the
    // post-data batch only evicts state a terminating drive discards)
    // pass noData = false and skip one full batch cycle (~0.45–0.65 s of
    // pure fixed cost per run at sf0.1: even a zero-row batch pays
    // incremental planning + per-store load/commit + WAL).
    ss.conf.set(
      "spark.sql.streaming.noDataMicroBatches.enabled", noData.toString)
    ss.conf.set("spark.sql.shuffle.partitions", partitions.toString)
    ss.conf.set("spark.sql.session.timeZone", "UTC")
  }

  /** Checkpoint home for a drive: a fresh RAM-backed dir when the host
    * offers one. Drive checkpoints are EPHEMERAL by contract (fresh per
    * run, never resumed — [[streamRestart]] builds its own), so they need
    * no disk. The medium is not what a checkpoint write costs: an
    * offset/commit log write measured ~27 ms on tmpfs and on disk alike,
    * nearly all of it child processes (`chmod`, `readlink`) that Hadoop's
    * local file system started per file, which graft.util.NioLocalFs
    * does in-process. A production deployment would point this at
    * durable object storage and size triggers so the commit latency
    * amortizes.
    */
  private val liveCheckpoints =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()

  // tmpfs pages persist past JVM exit (until host reboot), so leaked
  // /dev/shm checkpoints are RAM held forever; a small container shm
  // (Docker default 64 MB) would then ENOSPC mid-drive. Every dir is
  // tracked and removed — eagerly when a drive completes ([[runToSink]]),
  // and at JVM exit for multi-start drives that manage their own dirs.
  private val _ckCleanupHook = {
    val t = new Thread(() => {
      var p = liveCheckpoints.poll()
      while (p != null) { graft.util.Fs.deleteQuietly(p); p = liveCheckpoints.poll() }
    }, "graft-ck-cleanup")
    Runtime.getRuntime.addShutdownHook(t)
    t
  }

  private def releaseCheckpoint(ck: String): Unit = {
    val p = java.nio.file.Paths.get(ck)
    liveCheckpoints.remove(p)
    graft.util.Fs.deleteQuietly(p)
  }

  private def ckDir(name: String): String = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    val dir =
      if (Files.isDirectory(shm) && Files.isWritable(shm))
        Files.createTempDirectory(shm, s"graft_ck_$name")
      else Files.createTempDirectory(s"graft_ck_$name")
    liveCheckpoints.add(dir)
    dir.toString
  }

  /** Stream `build(source)` over `sfDir/events.parquet` to completion —
    * the single-source Update-mode form the transformWithState drives use.
    */
  private def drive(
      spark: SparkSession, sfDir: String, name: String,
      schema: StructType = EventSchema, provider: String = RocksDb)(
      build: (SparkSession, DataFrame) => Dataset[_]): DataFrame =
    runToSink(spark, name, "update", provider = provider) { ss =>
      // events.parquet is a single FILE; FileStreamSource only accepts a
      // directory or a glob, so force glob listing with a bracket class
      // (matches exactly events.parquet) and anchor basePath at the parent.
      val src = ss.readStream.schema(schema)
        .option("basePath", sfDir)
        .parquet(s"$sfDir/[e]vents.parquet")
      build(ss, src)
    }

  /** Integral-cents event feed: the order-independence precondition. */
  private def cents(src: DataFrame): DataFrame =
    src.filter(col("user_id").isNotNull && col("value").isNotNull)
      .select(col("user_id"), round(col("value") * 100).as("value"))

  /** Watermark late-data dropping driven END-TO-END: an out-of-order
    * THREE-batch file feed → `withWatermark` tumbling aggregation →
    * memory sink. The feed is the events table split deterministically
    * into three parquet FILES (pinned mtimes + maxFilesPerTrigger=1 ⇒
    * FileStreamSource processes them as ordered micro-batches):
    *
    *   f1 = rows with event_id % 3 ≠ 0 AND ts ≤ C   (advances the watermark)
    *   f2 = EMPTY                                    (filler batch — see below)
    *   f3 = everything else                          (the out-of-order arrivals)
    *
    * Why the filler: since Spark 3.4 (SPARK-40925, stateful-operator
    * chaining) the LATE-EVENT filter of micro-batch N uses the watermark
    * PLANNED FOR BATCH N−1 — i.e. max event time through batch N−2 minus
    * the delay — while state EVICTION uses batch N's own planning
    * watermark. With only two batches the late filter is still at epoch
    * and nothing ever drops (measured; the round-6 two-batch draft of
    * this drive silently dropped nothing). The empty middle batch makes
    * batch 3's late-filter watermark = max(ts of f1) − 10 min, and —
    * because f2 adds no data — the eviction watermark EQUALS the late
    * watermark, so the ambiguous regime (row accepted into an
    * already-evicted window, fragmenting its count) is empty by
    * construction and the final state per window is a pure function of
    * the accepted multiset.
    *
    * The cut C (2024-01-25) sits inside the event span so f3 carries BOTH
    * truly-late rows (hour-window end ≤ watermark → dropped) and
    * acceptable ones (late-but-in-still-open-window, plus all rows after
    * C) — both paths of the rule are exercised. Every input to the rule
    * (the split, max(ts of f1), the window bounds) is a pure function of
    * the events table, so a batch DuckDB oracle states the surviving
    * multiset exactly: f1 ∪ {f3 rows with window_end > max(ts f1) −
    * 10 min}. Sums are integral cents (order-free); the sink's
    * per-window maximum n picks the final emission like the other drives.
    */
  private val feedMemo =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]()

  /** The three-file watermark feed, memoized on the events
    * [[graft.util.DatasetStamp]]: Bench re-runs the query 3×, and the
    * feed is a pure function of the events table — re-splitting it per
    * pass paid ~3 writes/run for identical bytes. The mtime ordering is
    * pinned at write time and the files are immutable thereafter.
    */
  private def watermarkFeed(spark: SparkSession, sfDir: String): java.nio.file.Path = {
    val stamp = graft.util.DatasetStamp.stamp(sfDir, "events")
    feedMemo.computeIfAbsent(s"$sfDir:$stamp", { _ =>
      val feedDir = Files.createTempDirectory("graft_feed_watermark")
      val cut = "2024-01-25 00:00:00"
      // Extra columns ride along for the other drives — each reader prunes
      // through its own narrower declared schema: stream_watermark reads
      // (ts, vc), state_sessions (user_id, ts, vc), stream_stream_join
      // (event_id, user_id, event_type, ts).
      val events = graft.Tables(spark, sfDir).events
        .filter(col("user_id").isNotNull && col("value").isNotNull && col("ts").isNotNull)
        .select(col("event_id"), col("user_id"), col("event_type"), col("ts"),
          round(col("value") * 100).cast("long").as("vc"))
      val inF1 = col("event_id") % 3 =!= 0 && col("ts") <= lit(cut).cast("timestamp")
      val now = System.currentTimeMillis()
      writeFeedFile(events.filter(inF1),
        feedDir, "f1.parquet", now - 180000)
      writeFeedFile(events.filter(lit(false)),
        feedDir, "f2.parquet", now - 120000)
      writeFeedFile(events.filter(!inF1),
        feedDir, "f3.parquet", now - 60000)
      feedDir
    })
  }

  def streamWatermark(spark: SparkSession, sfDir: String): DataFrame = {
    val feedDir = watermarkFeed(spark, sfDir)
    val feedSchema = StructType(Seq(
      StructField("ts", org.apache.spark.sql.types.TimestampType),
      StructField("vc", LongType)))
    runToSink(spark, "watermark", "update", provider = HdfsBacked, noData = false) { ss =>
      ss.readStream.schema(feedSchema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$feedDir/*.parquet")
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("n_ev"), sum(col("vc")).as("sum_cents"))
        .select(col("window.start").as("win_start"), col("n_ev"), col("sum_cents"))
    }
      .groupBy("win_start")
      .agg(max(struct(col("n_ev"), col("sum_cents"))).as("s"))
      .select(col("win_start"), col("s.n_ev").as("n_ev"), col("s.sum_cents").as("sum_cents"))
      .orderBy("win_start")
  }

  /** Write `df` as ONE parquet file named `name` under `dir` with a
    * pinned modification time — the unit of micro-batch arrival for the
    * out-of-order feed (FileStreamSource orders by mtime, oldest first).
    */
  private def writeFeedFile(
      df: DataFrame, dir: java.nio.file.Path, name: String, mtime: Long): Unit = {
    val staging = Files.createTempDirectory("graft_feed_stage")
    df.coalesce(1).write.mode("overwrite").parquet(staging.toString)
    val part = staging.toFile.listFiles()
      .find(f => f.getName.endsWith(".parquet")).get
    val dest = dir.resolve(name)
    Files.move(part.toPath, dest)
    dest.toFile.setLastModified(mtime)
  }

  /** [[SessionEventTime]] driven END-TO-END over the [[watermarkFeed]]
    * files CO-ARRIVING as one micro-batch: per-user gap sessions close
    * when the event-time watermark passes (last event + 30 min), so the
    * sink holds exactly the sessions the FINAL watermark proves final —
    * a pure function of the events table, stated by a batch DuckDB
    * oracle (all valid rows → gap split → keep sessions with close point
    * ≤ final watermark = max ts − 10 min).
    *
    * Why one batch (r10 verdict, streaming fixed cost): the data batch
    * buffers every event and arms the timers; the engine's no-data
    * micro-batch then fires them under the committed final watermark,
    * and ONE firing per key emits the whole ripe session prefix — so two
    * RocksDB batch cycles deliver the identical closure semantics the
    * previous 3-batch arrival paid four cycles for. With a single data
    * batch the late filter sits at epoch (SPARK-40925 lag), so the
    * accepted multiset is ALL valid rows — which only simplifies the
    * oracle. Multi-batch out-of-order arrival remains covered end-to-end
    * by [[streamWatermark]], [[streamJoinMultibatch]] and
    * [[streamCdcApply]]; timer-driven cross-batch state is still real
    * here (state written in the data batch, read by the timer batch).
    * Millisecond arithmetic throughout: the processor reads
    * `Timestamp.getTime` and the watermark tracks max event time in ms,
    * so the oracle's `epoch_us // 1000` matches exactly.
    */
  def stateSessions(spark: SparkSession, sfDir: String): DataFrame = {
    val feedDir = watermarkFeed(spark, sfDir)
    val feedSchema = StructType(Seq(
      StructField("user_id", LongType),
      StructField("ts", org.apache.spark.sql.types.TimestampType),
      StructField("vc", LongType)))
    runToSink(spark, "sessions", "append") { ss =>
      import ss.implicits._
      SessionEventTime.closedSessions(
        ss.readStream.schema(feedSchema)
          .parquet(s"$feedDir/*.parquet")
          .withWatermark("ts", "10 minutes")
          .as[SessionEventTime.SessionEvent],
        gapMs = 30 * 60 * 1000L)
    }
      .select(col("user_id"), col("start_ms"), col("n_ev"), col("sum_cents"))
      .orderBy("user_id", "start_ms")
  }

  /** The MULTI-BATCH out-of-order variant of [[stateSessions]], kept
    * under its own name (round-11 advice: the single-batch fold changed
    * what the query exercises, so cross-round comparisons need both
    * semantics on the books). The three watermark-feed files arrive as
    * ORDERED micro-batches (maxFilesPerTrigger=1), so this drive is the
    * one that exercises LATE-EVENT REJECTION in the sessionizer: batch
    * 3's late filter sits at the watermark batch 1 committed (max ts of
    * f1 − 10 min, the SPARK-40925 one-batch lag with the empty f2 in
    * between), and truly-late f3 rows DROP before the session state ever
    * sees them. Accepted multiset = f1 ∪ {f3 rows at or past that
    * watermark}; sessions then close exactly as in the single-batch
    * drive. Costs ~2 extra RocksDB batch cycles — priced under its own
    * name instead of silently inflating `state_sessions`.
    */
  def stateSessionsMultibatch(spark: SparkSession, sfDir: String): DataFrame = {
    val feedDir = watermarkFeed(spark, sfDir)
    val feedSchema = StructType(Seq(
      StructField("user_id", LongType),
      StructField("ts", org.apache.spark.sql.types.TimestampType),
      StructField("vc", LongType)))
    runToSink(spark, "sessions_mb", "append") { ss =>
      import ss.implicits._
      SessionEventTime.closedSessions(
        ss.readStream.schema(feedSchema)
          .option("maxFilesPerTrigger", "1")
          .parquet(s"$feedDir/*.parquet")
          .withWatermark("ts", "10 minutes")
          .as[SessionEventTime.SessionEvent],
        gapMs = 30 * 60 * 1000L)
    }
      .select(col("user_id"), col("start_ms"), col("n_ev"), col("sum_cents"))
      .orderBy("user_id", "start_ms")
  }

  /** `dropDuplicatesWithinWatermark` driven END-TO-END — Spark's
    * watermark-bounded streaming dedup (3.5+), the operator that makes
    * exactly-once-per-key emission affordable on an infinite stream:
    * state holds one entry per key and the watermark EVICTS entries once
    * no duplicate can still arrive, so state is ∝ the dedup window, not
    * the stream history (a plain streaming dropDuplicates grows state
    * forever — the difference IS the 100 TB story).
    *
    * Determinism: the key is (user_id, day) and the 30-DAY delay covers
    * the whole event span, so no key is ever evicted mid-run and the
    * watermark after batch 1 sits below every event time (nothing drops
    * late) — the emitted set is then exactly ONE row per distinct valid
    * key, a pure batch DISTINCT the oracle states directly. The f3
    * duplicates of f1 keys are rejected by cross-batch STATE (the three
    * feed files arrive as ordered micro-batches), not by within-batch
    * distinctness — so the state machinery is what's under test, and a
    * state loss (key re-emitted) or a bogus drop shifts n_emit or the
    * row set and hash-fails. Only the key columns are projected: which
    * of a key's duplicate rows emits first is arrival-order-dependent,
    * so value columns would be nondeterministic by construction. The
    * EVICTION path (key re-emits after the watermark passes) cannot be
    * driven deterministically here — wall-clock-free eviction needs the
    * watermark to pass between specific batches — and is pinned by
    * StreamingSpec with an explicit per-batch MemoryStream feed instead.
    */
  def streamDedupWatermark(spark: SparkSession, sfDir: String): DataFrame = {
    val feedDir = watermarkFeed(spark, sfDir)
    val feedSchema = StructType(Seq(
      StructField("user_id", LongType),
      StructField("ts", org.apache.spark.sql.types.TimestampType)))
    runToSink(spark, "dedup_wm", "append", provider = HdfsBacked, noData = false) { ss =>
      ss.readStream.schema(feedSchema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$feedDir/*.parquet")
        .withWatermark("ts", "30 days")
        .withColumn("day", to_date(col("ts")))
        .dropDuplicatesWithinWatermark("user_id", "day")
        .select(col("user_id"), col("day"))
    }
      .groupBy("user_id", "day").agg(count(lit(1)).as("n_emit"))
      .orderBy("user_id", "day")
  }

  /** `foreachBatch` UPSERT SINK driven end-to-end — the production
    * pattern for materializing a stream into a lakehouse table, which no
    * memory-sink drive exercises: each micro-batch aggregates to the key
    * grain and COMMITS as an immutable batchId-keyed version directory
    * (stage → single atomic rename; a version that already exists makes
    * the commit a NO-OP, which is the idempotence contract Spark's docs
    * require the foreachBatch body to provide — batch replay after a
    * failure must not double-apply). The guard is exercised INSIDE the
    * drive: every commit is attempted TWICE, and on a warm store (Bench
    * re-runs the query over a fresh checkpoint) the entire replay is
    * no-ops. The read side folds the versions per key — the
    * merge-on-read shape, compacted elsewhere ([[graft.pipeline.BlockRuntime]]).
    *
    * Scale: per-batch work is O(batch) — an aggregate of the arriving
    * slice plus one rename — never O(history); the store grows one
    * version per batch and the fold is one hash aggregate. That is the
    * same math as the incremental-pipeline ops, reached through the
    * streaming API.
    *
    * Determinism for the oracle: the version set is keyed by batchId,
    * and the [[watermarkFeed]] file→batch assignment is pinned (mtime
    * order, maxFilesPerTrigger=1), so the folded result is a pure
    * function of the events table: the plain per-user count/cents-sum
    * over valid rows, stated exactly by a batch DuckDB query.
    */
  def streamForeachUpsert(spark: SparkSession, sfDir: String): DataFrame = {
    val feedDir = watermarkFeed(spark, sfDir)
    val stamp = graft.util.DatasetStamp.stamp(sfDir, "events")
    val storeRoot = feedMemo.computeIfAbsent(s"upsert_store:$sfDir:$stamp", { _ =>
      Files.createTempDirectory("graft_upsert_store")
    })
    val feedSchema = StructType(Seq(
      StructField("user_id", LongType), StructField("vc", LongType)))

    /** Stage-then-rename commit of one batch version; loses gracefully to
      * a concurrent or earlier committer of the same version (the move
      * fails on an existing target — the no-op path).
      */
    def commit(agg: DataFrame, batchId: Long): Unit = {
      val dest = storeRoot.resolve(s"v$batchId")
      if (Files.exists(dest)) return
      val staging = Files.createTempDirectory(storeRoot, s".stage_v${batchId}_")
      try {
        agg.write.mode("overwrite").parquet(staging.toString)
        try Files.move(staging, dest) // atomic dir rename, same filesystem
        catch { case _: java.nio.file.FileAlreadyExistsException => () }
      } finally if (Files.exists(staging)) { // lost the race — clean up
        staging.toFile.listFiles().foreach(_.delete())
        Files.deleteIfExists(staging)
      }
    }

    val ss = driveSession(spark, 1, HdfsBacked)
    val ck = ckDir("foreach_upsert")
    val qname = s"graft_stream_upsert_${driveSeq.incrementAndGet()}"
    val q = ss.readStream.schema(feedSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$feedDir/*.parquet")
      .writeStream
      .queryName(qname)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val agg = batch.groupBy("user_id")
          .agg(count(lit(1)).as("n_events"), sum(col("vc")).as("sum_cents"))
        commit(agg, batchId)
        commit(agg, batchId) // replay attempt — MUST be a no-op
      }
      .option("checkpointLocation", ck)
      .trigger(Trigger.AvailableNow())
      .start()
    try q.awaitTermination()
    finally releaseCheckpoint(ck)

    // Merge-on-read fold: version deltas are per-batch partials, so the
    // per-key totals are their sums. Versions are listed explicitly
    // (O(#batches) names, one driver listing — not a data collect);
    // a glob would also work but trips Spark's noisy file-sink
    // metadata probe on the unexpanded pattern.
    val versions = storeRoot.toFile.listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("v"))
      .map(_.toString).sorted
    spark.read.parquet(versions: _*)
      .groupBy("user_id")
      .agg(sum(col("n_events")).as("n_events"), sum(col("sum_cents")).as("sum_cents"))
      .orderBy("user_id")
  }

  /** STREAMING INGEST INTO THE MANIFEST TABLE — the production
    * composition round 12 left un-driven: foreachBatch commits each
    * micro-batch THROUGH the store's ACID protocol
    * ([[graft.sources.ManifestTable.commitBatch]] — one manifest version
    * per batch, a deterministic `batch-<id>.rows` marker riding in the
    * same atomic commit), replacing [[streamForeachUpsert]]'s ad-hoc
    * version store with the real table format. Spark's replay contract
    * maps onto the marker discipline: every batch is committed TWICE
    * here (the replay attempt MUST be a manifest-lookup no-op — a broken
    * idempotence check doubles every count and hash-fails), and
    * mid-stream readers see some version prefix, never a torn batch.
    *
    * The per-batch rows are per-user PARTIALS, so the final read of the
    * CURRENT snapshot folds to the plain per-user count/cents-sum over
    * valid events — the same batch-equivalence oracle as foreach_upsert
    * (shared verbatim; the sink substrate must be value-invisible).
    * ManifestSinkSpec pins the physical side: version-per-batch,
    * replay/concurrent-replay no-ops, time travel to a batch prefix.
    */
  def streamManifestSink(spark: SparkSession, sfDir: String): DataFrame = {
    val feedDir = watermarkFeed(spark, sfDir)
    val stamp = graft.util.DatasetStamp.stamp(sfDir, "events")
    val storeRoot = feedMemo.computeIfAbsent(s"manifest_sink:$sfDir:$stamp", { _ =>
      Files.createTempDirectory("graft_manifest_sink")
    })
    val store = storeRoot.resolve("table").toString
    val feedSchema = StructType(Seq(
      StructField("user_id", LongType), StructField("vc", LongType)))

    val ss = driveSession(spark, 1, HdfsBacked)
    val ck = ckDir("manifest_sink")
    val qname = s"graft_stream_manifest_sink_${driveSeq.incrementAndGet()}"
    val q = ss.readStream.schema(feedSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$feedDir/*.parquet")
      .writeStream
      .queryName(qname)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val agg = batch.groupBy("user_id")
          .agg(count(lit(1)).as("n_events"), sum(col("vc")).as("sum_cents"))
        val v1 = graft.sources.ManifestTable.commitBatch(
          batch.sparkSession, store, batchId, agg)
        // replay attempt — MUST resolve to the same version, commit nothing
        val v2 = graft.sources.ManifestTable.commitBatch(
          batch.sparkSession, store, batchId, agg)
        require(v1 == v2, s"batch $batchId replay committed a new version ($v1 -> $v2)")
      }
      .option("checkpointLocation", ck)
      .trigger(Trigger.AvailableNow())
      .start()
    try q.awaitTermination()
    finally releaseCheckpoint(ck)

    // merge-on-read fold over the CURRENT snapshot: per-batch partials
    // sum to the per-key totals — one manifest read, no version listing
    spark.read.format("graft.sources.ManifestTable")
      .option("path", store).load()
      .groupBy("user_id")
      .agg(sum(col("n_events")).as("n_events"), sum(col("sum_cents")).as("sum_cents"))
      .orderBy("user_id")
  }

  /** The manifest table as a STREAMING SOURCE — the read-side complement
    * of [[streamManifestSink]]: customer lands in the store as TWO
    * committed versions (even keys, then odd), and the stream reads it
    * back with `maxVersionsPerBatch = 1`, so version boundaries become
    * micro-batch boundaries (offsets ARE manifest versions; replays
    * regenerate identical batches from the immutable manifests). The
    * sink accumulates the streamed rows and the final aggregate must
    * equal the batch aggregate over the WHOLE table —
    * [[graft.sources.Feeds.sourceManifest]]'s oracle verbatim — so a
    * version-diff that drops, re-emits, or tears a commit shifts the
    * hash. ManifestSinkSpec pins the protocol side (restart resume,
    * append-only violation detection, initial-snapshot delete
    * application).
    */
  def streamManifestSource(spark: SparkSession, sfDir: String): DataFrame = {
    val customer = graft.Tables(spark, sfDir).customer
      .select("c_custkey", "c_name", "c_nationkey", "c_mktsegment")
    val stamp = graft.util.DatasetStamp.stamp(sfDir, "customer")
    val storeRoot = feedMemo.computeIfAbsent(s"manifest_src:$sfDir:$stamp", { _ =>
      val root = Files.createTempDirectory("graft_manifest_src")
      Seq(0, 1).foreach { parity =>
        customer.filter(pmod(col("c_custkey"), lit(2)) === parity)
          .write.format("graft.sources.ManifestTable")
          .option("path", root.resolve("table").toString).mode("append").save()
      }
      root
    })
    val store = storeRoot.resolve("table").toString
    val streamed = runToSink(spark, "manifest_source", "append",
      partitions = 1, provider = HdfsBacked, noData = false) { ss =>
      ss.readStream.format("graft.sources.ManifestTable")
        .option("path", store)
        .option("maxVersionsPerBatch", "1")
        .load()
    }
    streamed
      .groupBy("c_nationkey")
      .agg(
        count(lit(1)).as("n_customers"),
        min(col("c_name")).as("first_name"),
        countDistinct(col("c_mktsegment")).as("n_segments"),
        sum(col("c_custkey")).as("sum_key"))
      .orderBy("c_nationkey")
  }

  /** The CHANGE FEED as a streaming source — the third leg of the
    * manifest-streaming story (ingest INTO the store, snapshot+appends
    * OUT of it, and now CHANGES out of it, deletes included): the store
    * runs [[graft.sources.Feeds.sourceManifestCdf]]'s exact lifecycle
    * (append → equality-delete of the 500 smallest open orders → merge
    * bump of the 500 smallest F orders), and the stream reads versions
    * 2..3 as change rows (`changeFeed` + `startingVersion 2`,
    * `maxVersionsPerBatch 1` so version boundaries are batch
    * boundaries). The drained rows aggregate exactly like the batch CDF
    * query — oracle shared VERBATIM, so the stream must reproduce the
    * batch diff row-for-row: a dropped delete image, a double-emitted
    * merge pair, or a wrong commit version shifts the hash.
    * ManifestCdfStreamSpec pins the protocol side (checkpoint restart,
    * startingVersion, dead-key re-deletes, compaction refusal).
    */
  def streamManifestCdf(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = graft.Tables(spark, sfDir).orders
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
    val stamp = graft.util.DatasetStamp.stamp(sfDir, "orders")
    val storeRoot = feedMemo.computeIfAbsent(s"manifest_cdf:$sfDir:$stamp", { _ =>
      val root = Files.createTempDirectory("graft_manifest_cdf")
      val store = root.resolve("table").toString
      orders.write.format("graft.sources.ManifestTable")
        .option("path", store).mode("append").save()                      // v1
      val delKeys = orders.filter(col("o_orderstatus") === "O")
        .orderBy("o_orderkey").limit(500)
        .select("o_orderkey").collect().map(_.getLong(0)).toSeq
      graft.sources.ManifestTable.deleteKeys(store, "o_orderkey", delKeys) // v2
      val updates = orders.filter(col("o_orderstatus") === "F")
        .orderBy("o_orderkey").limit(500)
        .withColumn("cents", col("cents") + lit(12345L))
      graft.sources.ManifestTable.mergeKeys(spark, store, "o_orderkey", updates) // v3
      root
    })
    val store = storeRoot.resolve("table").toString
    val streamed = runToSink(spark, "manifest_cdf", "append",
      partitions = 1, provider = HdfsBacked, noData = false) { ss =>
      ss.readStream.format("graft.sources.ManifestTable")
        .option("path", store)
        .option("changeFeed", "true")
        .option("startingVersion", "2")
        .option("maxVersionsPerBatch", "1")
        .load()
    }
    streamed
      .groupBy(
        col("_change_type").as("change_type"),
        col("_commit_version").cast("long").as("commit_version"),
        col("o_orderstatus"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col("o_orderkey")).as("sum_key"),
        sum(col("cents")).as("sum_cents"))
      .orderBy("change_type", "commit_version", "o_orderstatus")
  }

  /** Feed for [[stateSessionsTimeout]]: every valid event in ONE data
    * file (integral-cents values), so the whole multiset co-arrives as
    * micro-batch 1. Memoized on the dataset stamp like [[watermarkFeed]].
    */
  private def sessionTimeoutFeed(spark: SparkSession, sfDir: String): java.nio.file.Path = {
    val stamp = graft.util.DatasetStamp.stamp(sfDir, "events")
    feedMemo.computeIfAbsent(s"ptimeout:$sfDir:$stamp", { _ =>
      val feedDir = Files.createTempDirectory("graft_feed_ptimeout")
      val events = graft.Tables(spark, sfDir).events
        .filter(col("user_id").isNotNull && col("value").isNotNull)
        .select(col("user_id"), round(col("value") * 100).as("value"))
      writeFeedFile(events, feedDir, "f1.parquet", System.currentTimeMillis() - 180000)
      feedDir
    })
  }

  /** [[SessionTimeout]] (PROCESSING-TIME timers) driven END-TO-END — the
    * last streaming component that was spec-only. Processing-time timers
    * are wall-clock state, so the drive's job is to make the EMITTED SET
    * a pure function of the feed anyway:
    *
    *   - ALL events co-arrive as batch 1 (one data file), so every user
    *     accumulates its FULL multiset and registers one timer at
    *     batch1_time + 1 ms;
    *   - in ProcessingTime time-mode the engine schedules micro-batches
    *     CONTINUOUSLY to service due timers (that also means
    *     Trigger.AvailableNow never self-terminates here — its
    *     exhaustion test never sees a quiet engine), and any batch after
    *     batch 1 is ≥ 1 ms later in processing time, so every timer
    *     fires in the first follow-up batch and each user emits EXACTLY
    *     ONE closed session holding its complete multiset;
    *   - the state TTL is pinned to one hour (the gapMs·10 default would
    *     be 10 ms — the backstop must never reap live state between
    *     adjacent batches), so the only state transition after batch 1
    *     is the timer fire itself.
    *
    * Termination is therefore a DETECTOR, not a semantics input: the
    * drive polls the sink until it holds one row per distinct valid user
    * — a count computed from the feed itself — then stops the query. A
    * lost timer or TTL-reaped state leaves the sink short (deadline →
    * short result → oracle hash-fail); a duplicate close overshoots and
    * hash-fails the same way. Values are integral cents, so the DuckDB
    * oracle states the answer as the plain per-user aggregate.
    */
  def stateSessionsTimeout(spark: SparkSession, sfDir: String): DataFrame = {
    val feedDir = sessionTimeoutFeed(spark, sfDir)
    val feedSchema = StructType(Seq(
      StructField("user_id", LongType), StructField("value", DoubleType)))
    val expected = graft.Tables(spark, sfDir).events
      .filter(col("user_id").isNotNull && col("value").isNotNull)
      .select("user_id").distinct().count()
    val ss = driveSession(spark, 1, RocksDb)
    val ck = ckDir("ptimeout")
    val qname = s"graft_stream_ptimeout_${driveSeq.incrementAndGet()}"
    import ss.implicits._
    val q = SessionTimeout.closedSessions(
        ss.readStream.schema(feedSchema)
          .parquet(s"$feedDir/*.parquet")
          .as[SessionTimeout.UserEvent],
        gapMs = 1L, ttlMs = 3600000L)
      .writeStream.format("memory").queryName(qname)
      .outputMode("append")
      .option("checkpointLocation", ck)
      // paced, not back-to-back: the engine only needs ONE follow-up
      // batch (≥1 ms later) to fire every timer — an unpaced trigger
      // busy-loops empty RocksDB commits until the poll below stops the
      // query, and stop() then always interrupts a mid-flight commit
      .trigger(Trigger.ProcessingTime(50L))
      .start()
    try {
      val deadline = System.currentTimeMillis() + 120000L
      while (q.isActive && ss.table(qname).count() < expected &&
          System.currentTimeMillis() < deadline)
        Thread.sleep(50)
    } finally {
      try { q.stop(); q.awaitTermination() }
      catch {
        // stop() can interrupt an in-flight (post-result) empty batch's
        // state commit; the sink already holds the full emission set —
        // the poll proved it — and the checkpoint is ephemeral by
        // contract, so a torn LAST commit is meaningless here
        case _: org.apache.spark.sql.streaming.StreamingQueryException => ()
      }
      releaseCheckpoint(ck)
    }
    val out = ss.table(qname)
    ss.catalog.dropTempView(qname)
    out
      .select(col("user_id"), col("n_ev"),
        col("sum_value").cast(LongType).as("sum_cents"))
      .orderBy("user_id")
  }

  /** STREAM-STREAM interval join driven END-TO-END: two independent file
    * streams over the SAME feed (one filtered to clicks, one to
    * purchases) through [[Streams.clickPurchaseJoin]] — dual watermarks,
    * append-mode inner join, RocksDB join state. The feed's three files
    * arrive in ONE micro-batch here (no maxFilesPerTrigger), so both
    * sides co-arrive and every qualifying pair emits in that batch —
    * making the sink exactly the batch interval join over the feed rows,
    * which a DuckDB oracle states directly. (The multi-batch out-of-order
    * arrival pattern is [[streamWatermark]]'s subject; this drive closes
    * the stream-stream JOIN surface, previously MemoryStream-spec-only.)
    */
  def streamStreamJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val feedDir = watermarkFeed(spark, sfDir)
    val feedSchema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("ts", org.apache.spark.sql.types.TimestampType)))
    // 4 partitions, not the drives' default 1: the join keeps FOUR state
    // stores per partition (left/right key-to-count + key-with-index) and
    // processes the whole co-arriving batch in one trigger, so here the
    // per-partition work dominates the per-store spin-up that sized the
    // aggregation drives down to 1.
    runToSink(spark, "ssjoin", "append", partitions = 2, provider = HdfsBacked,
        noData = false) { ss =>
      def side(tpe: String): DataFrame =
        ss.readStream.schema(feedSchema)
          .parquet(s"$feedDir/*.parquet")
          .filter(col("event_type") === tpe)
      Streams.clickPurchaseJoin(side("click"), side("purchase"))
    }
      .orderBy("click_id", "purchase_id")
  }

  /** Feed for [[streamJoinMultibatch]]: every valid CLICK row in one file
    * (older mtime), every valid PURCHASE row in a second (newer mtime).
    * With maxFilesPerTrigger=1 the file source turns this into two
    * ordered micro-batches: batch 1 delivers only clicks, batch 2 only
    * purchases. Memoized on the dataset stamp like [[watermarkFeed]].
    */
  private def splitArrivalFeed(spark: SparkSession, sfDir: String): java.nio.file.Path = {
    val stamp = graft.util.DatasetStamp.stamp(sfDir, "events")
    feedMemo.computeIfAbsent(s"split:$sfDir:$stamp", { _ =>
      val feedDir = Files.createTempDirectory("graft_feed_split")
      val events = graft.Tables(spark, sfDir).events
        .filter(col("user_id").isNotNull && col("value").isNotNull && col("ts").isNotNull)
        .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
      val now = System.currentTimeMillis()
      writeFeedFile(events.filter(col("event_type") === "click"),
        feedDir, "clicks.parquet", now - 180000)
      writeFeedFile(events.filter(col("event_type") === "purchase"),
        feedDir, "purchases.parquet", now - 120000)
      feedDir
    })
  }

  /** [[streamStreamJoin]]'s missing half (round-7 advice): the same
    * dual-watermark inner interval join, but the two sides arrive in
    * DIFFERENT micro-batches — batch 1 is all clicks, batch 2 all
    * purchases ([[splitArrivalFeed]] + maxFilesPerTrigger=1). Every
    * emitted pair therefore requires the RocksDB join buffer to have
    * HELD the click rows across the batch boundary: batch 1 buffers the
    * clicks (the purchase side sees zero rows, so the global watermark
    * stays at epoch and nothing evicts), batch 2 probes them with the
    * purchases. The sink equals the batch interval join — same DuckDB
    * oracle as the co-arrival drive — but only via cross-batch state,
    * which is the property the co-arrival drive could not show.
    */
  def streamJoinMultibatch(spark: SparkSession, sfDir: String): DataFrame = {
    val feedDir = splitArrivalFeed(spark, sfDir)
    val feedSchema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("ts", org.apache.spark.sql.types.TimestampType)))
    runToSink(spark, "ssjoin_mb", "append", partitions = 2, provider = HdfsBacked,
        noData = false) { ss =>
      def side(tpe: String): DataFrame =
        ss.readStream.schema(feedSchema)
          .option("maxFilesPerTrigger", "1")
          .parquet(s"$feedDir/*.parquet")
          .filter(col("event_type") === tpe)
      Streams.clickPurchaseJoin(side("click"), side("purchase"))
    }
      .orderBy("click_id", "purchase_id")
  }

  /** Feed for [[streamOuterJoin]]: the valid events in ONE data file,
    * followed by one far-future "fence" file carrying one `click` and
    * one `purchase` row keyed by the SENTINEL user −1 (real user_ids
    * are ≥ 0): typed as real events they pass each side's type filter
    * and advance BOTH watermark nodes no matter where Catalyst places
    * that filter — the neutral-type alternative fails, see
    * [[Streams.clickPurchaseJoinLeft]]. The drive drops the sentinel
    * ids from the sink.
    *
    * Watermark advancement is END-of-batch: the fence batch still
    * evicts under the data batch's watermark and only COMMITS the
    * fence-high one, so the final null-row emissions happen in the
    * NO-DATA micro-batch the engine schedules when a committed
    * watermark change leaves evictions pending
    * (`spark.sql.streaming.noDataMicroBatches.enabled`, pinned true in
    * [[runToSink]] so the drive can never be configured out of it; the
    * earlier two-fence feed bought the same guarantee with one extra
    * RocksDB batch cycle — ~1 s of pure fixed cost at sf0.1).
    * StreamingSpec pins the sink against the batch LEFT JOIN, so a
    * Spark version that stopped scheduling the eviction batch would
    * fail loudly, not drop rows silently. Files are immutable after
    * creation, so the dir memoizes on the dataset stamp like
    * [[watermarkFeed]].
    */
  private def outerJoinFeed(spark: SparkSession, sfDir: String): java.nio.file.Path = {
    val stamp = graft.util.DatasetStamp.stamp(sfDir, "events")
    feedMemo.computeIfAbsent(s"outer:$sfDir:$stamp", { _ =>
      val feedDir = Files.createTempDirectory("graft_feed_outer")
      val events = graft.Tables(spark, sfDir).events
        .filter(col("user_id").isNotNull && col("value").isNotNull && col("ts").isNotNull)
        .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
      val maxTs = events.agg(max(col("ts"))).head().getTimestamp(0)
      val now = System.currentTimeMillis()
      writeFeedFile(events, feedDir, "d.parquet", now - 180000)
      import spark.implicits._
      def fence(clickId: Long, purchaseId: Long, hours: Long): DataFrame = {
        val ts = new java.sql.Timestamp(maxTs.getTime + hours * 3600000L)
        Seq((clickId, -1L, "click", ts), (purchaseId, -1L, "purchase", ts))
          .toDF("event_id", "user_id", "event_type", "ts")
      }
      writeFeedFile(fence(-1L, -2L, 1L), feedDir, "fence1.parquet", now - 120000)
      feedDir
    })
  }

  /** LEFT-OUTER stream-stream interval join driven END-TO-END — the
    * watermark-gated null-emission surface, the one stream-stream shape
    * [[streamStreamJoin]]'s inner form can't show. Same dual-watermark
    * interval join, but unmatched clicks must ALSO emit (as
    * `(click_id, -1)`), and Spark only releases them when the global
    * watermark proves their 30-minute purchase window closed. The
    * [[outerJoinFeed]] fence rows (plus the engine's no-data eviction
    * batch) force that proof for every click before the bounded drive
    * terminates, so the sink is exactly the batch LEFT JOIN over the
    * feed rows — which the DuckDB oracle states directly.
    *
    * The fence CO-ARRIVES with the data (no maxFilesPerTrigger): the
    * watermark is computed from a batch's max event time at batch END
    * and committed for the next, so one data batch that contains the
    * fence rows commits the fence-high watermark exactly as a separate
    * fence batch would — and the engine's no-data batch then runs the
    * evictions either way. The earlier data→fence two-batch arrival
    * bought nothing but one extra batch cycle (~0.8 s of pure fixed
    * cost measured at sf0.1: a 4-row batch still pays full incremental
    * planning + 4 stores × partitions load/commit); arrival-order
    * coverage is [[streamJoinMultibatch]]'s subject, not this drive's.
    * The sentinel rows can't perturb the join itself: user −1 matches
    * nothing by construction and is dropped from the sink.
    */
  def streamOuterJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val feedDir = outerJoinFeed(spark, sfDir)
    val feedSchema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("ts", org.apache.spark.sql.types.TimestampType)))
    runToSink(spark, "osjoin", "append", partitions = 2, provider = HdfsBacked) { ss =>
      def side(tpe: String): DataFrame =
        ss.readStream.schema(feedSchema)
          .parquet(s"$feedDir/*.parquet")
          .filter(col("event_type") === tpe)
      Streams.clickPurchaseJoinLeft(side("click"), side("purchase"))
    }
      // Drop the sentinel fence clicks (user −1): their only role was to
      // advance the watermarks; they match nothing by construction.
      .filter(col("click_id") >= 0)
      .orderBy("click_id", "purchase_id")
  }

  /** CHECKPOINT RESTART driven end-to-end — the exactly-once resumption
    * surface, previously spec-only (StreamingSpec's accumulator restart).
    * Two SEPARATE `start()`s of the same per-user aggregation share one
    * checkpoint over a feed directory that gains a second file between
    * them:
    *
    *   run 1: only p1.parquet exists → aggregate it to completion, stop.
    *   p2.parquet is then written; run 2 starts FRESH from the same
    *   checkpoint: the offset log proves p1 committed (never re-read —
    *   re-processing would double its counts) and the RocksDB state
    *   restore carries p1's per-key totals into p2's batch.
    *
    * The returned frame is run 2's sink alone: exactly the keys p2
    * touches, each with totals over BOTH phases — correct only if the
    * state restored AND p1 was skipped, which is what makes a batch
    * oracle decisive: totals over the whole table restricted to keys
    * with a phase-2 (event_id % 3 = 0) row. The feed dir is per-call
    * (NOT memoized like [[watermarkFeed]]): it is mutated mid-drive, so
    * sharing it across concurrent callers would corrupt their phase
    * structure.
    */
  def streamRestart(spark: SparkSession, sfDir: String): DataFrame = {
    val feedDir = Files.createTempDirectory("graft_feed_restart")
    val events = graft.Tables(spark, sfDir).events
      .filter(col("user_id").isNotNull && col("value").isNotNull)
      .select(col("event_id"), col("user_id"),
        round(col("value") * 100).cast("long").as("vc"))
    val inP1 = col("event_id") % 3 =!= 0
    val now = System.currentTimeMillis()
    writeFeedFile(events.filter(inP1).drop("event_id"),
      feedDir, "p1.parquet", now - 120000)

    // Changelog checkpointing (on in every drive session) is
    // load-bearing coverage HERE, not just speed: run 2 restores run 1's
    // state by replaying the changelog files over the last snapshot, so
    // the cross-phase totals assertion (StreamingSpec) proves the replay
    // path end-to-end.
    val ss = driveSession(spark, 1, RocksDb)
    val ck = ckDir("restart")
    val feedSchema = StructType(Seq(
      StructField("user_id", LongType), StructField("vc", LongType)))
    // The memory sink REFUSES checkpoint recovery (Spark resolves it as
    // non-recoverable at analysis), so the restartable sink here is
    // foreachBatch — the sink production restarts actually run through.
    // Emissions are collected on the driver: bounded by the touched key
    // cardinality per batch (the events user population — hundreds at
    // test SFs), same documented bound as the other drive reductions.
    // The buffer is cleared between runs so the result is run 2's alone.
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    def run(): Unit = {
      val q = ss.readStream.schema(feedSchema)
        .parquet(s"$feedDir/*.parquet")
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_ev"), sum(col("vc")).as("sum_cents"))
        .writeStream
        .outputMode("update")
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (df: DataFrame, _: Long) =>
          val got = df.select("user_id", "n_ev", "sum_cents").collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          rows.synchronized { rows ++= got }
          ()
        }
        .start()
      q.awaitTermination()
    }
    run()
    rows.synchronized(rows.clear())
    writeFeedFile(events.filter(!inP1).drop("event_id"),
      feedDir, "p2.parquet", now - 60000)
    run()
    import ss.implicits._
    rows.synchronized(rows.toSeq).toDF("user_id", "n_ev", "sum_cents")
      .orderBy("user_id")
  }

  /** [[RunningStats]] streamed over the bounded events feed; latest
    * emission per key (n strictly grows per emission, so `max(struct)` is
    * the last one) ≡ the batch GROUP BY — the driver-checkable form.
    */
  def stateRunningStats(spark: SparkSession, sfDir: String): DataFrame = {
    val sink = drive(spark, sfDir, "running_stats") { (ss, src) =>
      import ss.implicits._
      RunningStats.runningStats(cents(src).as[RunningStats.UserEvent])
    }
    sink.groupBy("user_id")
      .agg(max(struct(col("n"), col("sum_value"), col("max_value"))).as("s"))
      .select(col("user_id"), col("s.n").as("n"),
        col("s.sum_value").as("sum_value"), col("s.max_value").as("max_value"))
      .orderBy("user_id")
  }

  /** Stream-static join: the streaming events feed enriched against the
    * static customer dimension — the standard Structured Streaming
    * enrichment shape (static side broadcast per micro-batch, no state
    * store). The join itself is stateless, so the sink holds the joined
    * ROWS and the deterministic reduction to per-segment totals happens in
    * batch on top — making the whole path (file stream → stream-static
    * join → sink) oracle-checkable against the plain batch join.
    */
  def streamStaticJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val sink = drive(spark, sfDir, "static_join", provider = HdfsBacked) { (ss, src) =>
      val dim = graft.Tables(ss, sfDir).customer
        .select(col("c_custkey"), col("c_mktsegment"))
      cents(src).join(dim, col("user_id") === col("c_custkey"))
        .select(col("c_mktsegment"), col("value"))
    }
    sink.groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_ev"),
        round(sum(col("value")) / 100.0, 6).as("sum_value"))
      .orderBy("c_mktsegment")
  }

  /** [[TypeCounts]] (MapState sub-keyed counters) streamed over the
    * bounded events feed; count-merge is commutative/associative and n
    * strictly grows per (key, sub-key) emission, so the latest emission ≡
    * the batch GROUP BY (user_id, event_type) count.
    */
  def stateTypeCounts(spark: SparkSession, sfDir: String): DataFrame = {
    val sink = drive(spark, sfDir, "type_counts", TypedSchema) { (ss, src) =>
      import ss.implicits._
      TypeCounts.typeCounts(
        src.filter(col("user_id").isNotNull && col("event_type").isNotNull)
          .as[TypeCounts.TypedEvent])
    }
    sink.groupBy("user_id", "event_type")
      .agg(max(col("n")).as("n"))
      .orderBy("user_id", "event_type")
  }

  /** [[TopValues]] (k = 5) streamed over the bounded events feed; latest
    * emission per key ((n_top, sum_top) is non-decreasing — the top-K
    * multiset only improves) ≡ the batch per-key top-5 sum.
    */
  def stateTopValues(spark: SparkSession, sfDir: String): DataFrame = {
    val sink = drive(spark, sfDir, "top_values") { (ss, src) =>
      import ss.implicits._
      TopValues.topValues(cents(src).as[TopValues.UserEvent], k = 5)
    }
    sink.groupBy("user_id")
      .agg(max(struct(col("n_top"), col("sum_top"))).as("s"))
      .select(col("user_id"), col("s.n_top").as("n_top"), col("s.sum_top").as("sum_top"))
      .orderBy("user_id")
  }

  /** The custom DSv2 MICRO-BATCH SOURCE ([[graft.sources.RangeGen]])
    * driven end-to-end: 120k generated rows drain through Trigger
    * .AvailableNow as THREE 40k-row admission-controlled micro-batches
    * (offsets in the id range, persisted to the checkpoint's offset
    * log), aggregated per tag in Update mode through the RocksDB store.
    * The final per-tag (count, cents sum) must equal the one-shot batch
    * formula over the whole range — rows lost at a batch boundary,
    * double-read after an offset replay, or generated outside an offset
    * window all shift it. The DuckDB `range()` oracle states that batch
    * answer; RangeGenSpec additionally pins that MULTIPLE micro-batches
    * actually ran (admission control, not one catch-up batch).
    */
  def streamSourceV2(spark: SparkSession, sfDir: String): DataFrame = {
    val sink = runToSink(spark, "range_stream", "update", provider = HdfsBacked) { ss =>
      ss.readStream.format("graft.sources.RangeGen")
        .option("start", 0).option("end", 120000)
        .option("slices", 4).option("batchRows", 40000)
        .load()
        .groupBy("tag")
        .agg(
          count(lit(1)).as("n_rows"),
          sum(col("val_cents")).as("sum_cents"))
    }
    // n_rows strictly grows per emission → struct max = final state
    sink.groupBy("tag")
      .agg(max(struct(col("n_rows"), col("sum_cents"))).as("s"))
      .select(col("tag"), col("s.n_rows").cast(LongType).as("n_rows"),
        round(col("s.sum_cents").cast(org.apache.spark.sql.types.DoubleType) / 100d, 2).as("sv"))
      .orderBy("tag")
  }

  /** Change feed for [[streamCdcApply]]: the events table restated as an
    * ordered upsert/delete log — `signup` events become deletes, every
    * other event upserts the user's value (in cents); `seq` is the
    * row's position in (ts, event_id) order, standing in for the CDC
    * log's LSN (assigned once at feed materialization — a real feed
    * arrives with its LSNs). Split into three seq-contiguous files with
    * pinned ascending mtimes so maxFilesPerTrigger=1 replays history as
    * three ordered micro-batches — state must persist and evolve ACROSS
    * batches for the final answer to come out right.
    */
  private def cdcFeed(spark: SparkSession, sfDir: String): java.nio.file.Path = {
    val stamp = graft.util.DatasetStamp.stamp(sfDir, "events")
    feedMemo.computeIfAbsent(s"cdc:$sfDir:$stamp", { _ =>
      val feedDir = Files.createTempDirectory("graft_feed_cdc")
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("ts"), col("event_id"))
      val ops = graft.Tables(spark, sfDir).events
        // event_type participates in the is_del predicate, so it joins
        // the null guard: a null type would make is_del null, and the
        // primitive-Boolean CdcOp field would kill the stream at
        // deserialization (latent on the shipped data — no null types —
        // but the schema allows them; oracle filters identically)
        .filter(col("user_id").isNotNull && col("ts").isNotNull &&
          col("value").isNotNull && col("event_type").isNotNull)
        .select(
          col("user_id"),
          row_number().over(w).cast(LongType).as("seq"),
          (col("event_type") === "signup").as("is_del"),
          round(col("value") * 100).cast(LongType).as("vc"))
      val n = ops.count()
      val now = System.currentTimeMillis()
      Seq(0, 1, 2).foreach { i =>
        writeFeedFile(
          ops.filter(col("seq") > i * n / 3 && col("seq") <= (i + 1) * n / 3),
          feedDir, s"cdc_$i.parquet", now - 180000 + i * 60000)
      }
      feedDir
    })
  }

  /** [[CdcApply]] driven END-TO-END: the three-batch change feed applied
    * through the RocksDB-backed keyed state, then the sink reduced to
    * each key's LATEST emission with tombstoned keys dropped. The DuckDB
    * oracle states the target directly (last op per user wins; users
    * whose last op is a delete are absent) — so cross-batch state loss,
    * a mis-ordered apply, or a leaking tombstone all surface as value
    * diffs. 31/150 users end tombstoned at sf0.01: both outcomes are
    * exercised, including delete→re-upsert revivals.
    */
  def streamCdcApply(spark: SparkSession, sfDir: String): DataFrame = {
    val feedDir = cdcFeed(spark, sfDir)
    val feedSchema = StructType(Seq(
      StructField("user_id", LongType),
      StructField("seq", LongType),
      StructField("is_del", org.apache.spark.sql.types.BooleanType),
      StructField("vc", LongType)))
    val sink = runToSink(spark, "cdc_apply", "update") { ss =>
      import ss.implicits._
      CdcApply.applyCdc(
        ss.readStream.schema(feedSchema)
          .option("maxFilesPerTrigger", "1")
          .parquet(s"$feedDir/*.parquet")
          .as[CdcApply.CdcOp])
    }
    sink.groupBy("user_id")
      .agg(max(struct(col("seq"), col("n_ops"), col("vc"), col("deleted"))).as("s"))
      .filter(!col("s.deleted"))
      .select(col("user_id"), col("s.n_ops").as("n_ops"), col("s.vc").as("vc"))
      .orderBy("user_id")
  }
}
