package graft.pipeline

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Batch exactly-once-per-block runtime — the basis Environment/metadata-DB
  * semantic in batch form: a node consuming a growing feed of immutable
  * blocks must process each block EXACTLY ONCE across invocations, with
  * the accumulated state carrying everything already consumed.
  *
  * The metadata "DB" is one atomically-replaced log file per node state
  * dir (`meta.log`: committed store version + consumed block ids — the
  * same single-file ATOMIC_MOVE commit discipline as
  * [[graft.sources.ManifestTable]]). The store is APPEND-ONLY: run k
  * writes only the NEW blocks' partial rows as `parts/v{k}` (staged then
  * atomically moved — history is never rewritten, which is what makes
  * the runtime viable when the accumulated store is 100 TB), and a read
  * unions exactly the versions the log has committed, so an orphan dir
  * from a crashed run is invisible and the crash recovery is plain
  * re-run (the orphan version is deleted and rebuilt — at-least-once
  * staging under exactly-once commit).
  *
  * Scale shape: per run the raw feed is scanned ONLY for new blocks
  * (their paths go straight to the parquet reader); the merge reads the
  * committed partial store, whose grain is the partial key — days, not
  * events. Driver state is the block-id set, the unit basis's metadata
  * DB tracks per node.
  */
object BlockRuntime {

  /** `base` is the oldest LIVE store version: a read unions versions
    * `base..version`. Runs append (version+1); [[compact]] folds the
    * live range into one new version and advances base past the stale
    * ones — the meta format stays one line, `version|consumed|base`
    * (base absent in pre-compaction logs = 1).
    */
  final case class State(version: Long, consumed: Set[String], base: Long = 1L)

  final case class RunResult(result: DataFrame, processed: Seq[String])

  private def metaPath(stateDir: Path): Path = stateDir.resolve("meta.log")

  def readState(stateDir: Path): State = {
    val p = metaPath(stateDir)
    if (!Files.exists(p)) State(0L, Set.empty)
    else {
      val line = new String(Files.readAllBytes(p), "UTF-8").trim
      val parts = line.split("\\|", -1)
      val consumed =
        if (parts.length < 2 || parts(1).isEmpty) Set.empty[String]
        else parts(1).split(",").toSet
      val base = if (parts.length < 3 || parts(2).isEmpty) 1L else parts(2).toLong
      State(parts(0).toLong, consumed, base)
    }
  }

  private def commitState(stateDir: Path, s: State): Unit = {
    val tmp = Files.createTempFile(stateDir, "meta", ".tmp")
    Files.write(tmp,
      s"${s.version}|${s.consumed.toSeq.sorted.mkString(",")}|${s.base}".getBytes("UTF-8"))
    Files.move(tmp, metaPath(stateDir),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** One incremental run of a node over `feedDir` (immutable `*.parquet`
    * block files; the file name is the block id). `partialsOf` maps a
    * block slice to its partial-aggregate rows. Processes only blocks
    * the state dir has not consumed, appends their partials as a new
    * committed store version, and returns the UNION of all committed
    * partials plus the ids processed this run (empty = pure read).
    */
  def run(
      spark: SparkSession, feedDir: String, stateDir: String,
      partialsOf: DataFrame => DataFrame): RunResult = {
    val state0 = readState(Paths.get(stateDir))
    val sd = Paths.get(stateDir)
    Files.createDirectories(sd.resolve("parts"))
    val blocks = {
      val s = Files.list(Paths.get(feedDir))
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.map(_.getFileName.toString)
          .filter(_.endsWith(".parquet")).toSeq.sorted
      } finally s.close()
    }
    val fresh = blocks.filterNot(state0.consumed)
    val state1 =
      if (fresh.isEmpty) state0
      else {
        val v = state0.version + 1
        val target = sd.resolve("parts").resolve(s"v$v")
        // a crashed previous attempt may have left an uncommitted orphan
        if (Files.exists(target)) deleteRecursively(target)
        val staging = Files.createTempDirectory(sd, s"stage_v$v")
        // delete the staging dir on ANY failure before the atomic move —
        // otherwise a crashed write leaks stage_v* forever (compact's
        // sweep also catches stage_* left by a hard JVM kill)
        try {
          // One file per committed version: the store's grain is the
          // partial KEY (days, not events — object scaladoc), so a
          // version is aggregate-sized by contract and writing it as
          // shuffle-partition-many KB files paid listing + footer cost
          // per file per read (r16: 32 files/version at the bench's
          // partition count; the 3-run drive measured 1.49 s → 1.15 s
          // coalesced). A deployment with a coarser partial grain sizes
          // this like any output write.
          partialsOf(
            spark.read.parquet(fresh.map(b => s"$feedDir/$b"): _*))
            .coalesce(1)
            .write.mode("overwrite").parquet(staging.toString)
          Files.move(staging, target, StandardCopyOption.ATOMIC_MOVE)
        } catch {
          case e: Throwable => deleteRecursively(staging); throw e
        }
        val next = State(v, state0.consumed ++ fresh, state0.base)
        commitState(sd, next)
        next
      }
    val store =
      if (state1.version == 0L)
        throw new IllegalStateException("no blocks consumed and none arrived")
      else
        spark.read.parquet(
          (state1.base to state1.version).map(v => s"$stateDir/parts/v$v"): _*)
    RunResult(store, fresh)
  }

  /** [[run]] plus a declarative maintenance policy: after the run, if
    * the LIVE version count (`version − base + 1`) exceeds
    * `compactAfter`, [[compact]] folds the store and the returned frame
    * reads the post-compact live set. `compactAfter ≤ 0` disables the
    * policy (plain [[run]]). This is what lets a graph spec declare
    * "compact when live versions > N" (GraphLoader's `compact_after`)
    * with zero orchestration code between produces.
    */
  def runWithPolicy(
      spark: SparkSession, feedDir: String, stateDir: String,
      partialsOf: DataFrame => DataFrame,
      compactAfter: Int, mergeOf: DataFrame => DataFrame = identity,
      analyze: Boolean = false): RunResult = {
    val r = run(spark, feedDir, stateDir, partialsOf)
    if (compactAfter <= 0) return r
    val s = readState(Paths.get(stateDir))
    if (s.version - s.base + 1 <= compactAfter) r
    else {
      val s2 = compact(spark, stateDir, mergeOf, analyze)
      RunResult(
        spark.read.parquet(
          (s2.base to s2.version).map(v => s"$stateDir/parts/v$v"): _*),
        r.processed)
    }
  }

  /** Fold the live store versions into ONE new committed version and
    * advance `base` past the stale ones — the maintenance op that keeps
    * the read path O(1) versions when the node has run daily for years
    * (without it the union grows one version per run: file-listing and
    * parquet-footer cost linear in RUN COUNT, not data). `mergeOf`
    * re-aggregates the unioned partials back to the partial grain (a
    * day's N partial rows collapse to one); identity keeps the rows and
    * still collapses the version count. Same commit discipline as
    * [[run]]: stage → ATOMIC_MOVE → one-line meta commit; stale version
    * dirs are deleted only AFTER the commit makes them invisible, so a
    * crash at any point leaves either the old live set or the new one,
    * never a half state — at worst invisible dirs the next compact
    * sweep removes.
    *
    * With `analyze = true` the commit also re-points + re-ANALYZEs the
    * store's catalog statistics table ([[graft.ops.Cbo.analyzeStoreVersion]])
    * — the declarative freshness loop: a CBO session over a store that
    * grows daily replans from post-fold row counts instead of whatever
    * the first registration saw.
    */
  def compact(
      spark: SparkSession, stateDir: String,
      mergeOf: DataFrame => DataFrame = identity,
      analyze: Boolean = false): State = {
    val sd = Paths.get(stateDir)
    val s0 = readState(sd)
    // sweep orphans FIRST: a previous compact that crashed after its meta
    // commit but before its deletes leaves stale dirs BELOW base, which
    // the main delete loop (it starts at the already-advanced base) would
    // otherwise never touch — this sweep is what makes the "at worst
    // invisible dirs the next compact removes" recovery claim true
    // stage_* dirs (created under the state dir itself) are pre-commit
    // scratch by construction — a successful commit ATOMIC_MOVEs them
    // away, so any one still present was orphaned by a hard crash
    // mid-write and is safe to sweep here (the in-process try/catch in
    // run/compact covers soft failures; this covers kill -9)
    if (Files.isDirectory(sd)) {
      val s = Files.list(sd)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.toList
          .filter(_.getFileName.toString.startsWith("stage_"))
          .foreach(deleteRecursively)
      } finally s.close()
    }
    val partsDir = sd.resolve("parts")
    if (Files.isDirectory(partsDir)) {
      val s = Files.list(partsDir)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.toList.foreach { p =>
          val nm = p.getFileName.toString
          // canonical names only: all-digits guard keeps e.g. 'v-1' (a
          // name this runtime never writes) out of the delete set, while
          // toLongOption still refuses the bare-'v' / overflow crashes
          if (nm.startsWith("v") && nm.length > 1 &&
              nm.drop(1).forall(_.isDigit) &&
              nm.drop(1).toLongOption.exists(_ < s0.base))
            deleteRecursively(p)
        }
      } finally s.close()
    }
    if (s0.version == 0L || s0.base == s0.version) return s0
    val v = s0.version + 1
    val target = sd.resolve("parts").resolve(s"v$v")
    if (Files.exists(target)) deleteRecursively(target)
    val staging = Files.createTempDirectory(sd, s"stage_v$v")
    try {
      // same one-file-per-version rule as [[run]]'s commit write
      mergeOf(spark.read.parquet(
          (s0.base to s0.version).map(i => s"$stateDir/parts/v$i"): _*))
        .coalesce(1)
        .write.mode("overwrite").parquet(staging.toString)
      Files.move(staging, target, StandardCopyOption.ATOMIC_MOVE)
    } catch {
      case e: Throwable => deleteRecursively(staging); throw e
    }
    val next = State(v, s0.consumed, base = v)
    commitState(sd, next)
    (s0.base until v).foreach(i =>
      deleteRecursively(sd.resolve("parts").resolve(s"v$i")))
    if (analyze)
      graft.ops.Cbo.analyzeStoreVersion(spark, stateDir, target.toString)
    next
  }

  private def deleteRecursively(p: Path): Unit =
    graft.util.Fs.deleteRecursively(p)

  // ---------------------------------------------------------------- query

  /** Three-block feed over the events table (event_id % 3), a
    * [[graft.util.Memo]] value like the streaming feeds: immutable files,
    * the unit of arrival.
    */
  private[pipeline] def blockFeed(spark: SparkSession, sfDir: String): Path =
    graft.util.Memo.value(graft.util.Memo.Key("block_feed", sfDir, "events")) {
      val dir = Files.createTempDirectory("graft_blockfeed")
      val events = graft.Tables(spark, sfDir).events
        .filter(col("ts").isNotNull && col("value").isNotNull)
        .select(col("event_id"), col("ts"),
          round(col("value") * 100).cast("long").as("vc"))
      (0 until 3).foreach { i =>
        val staging = Files.createTempDirectory("graft_blockstage")
        events.filter(col("event_id") % 3 === i)
          .coalesce(1).write.mode("overwrite").parquet(staging.toString)
        val part = staging.toFile.listFiles()
          .find(_.getName.endsWith(".parquet")).get
        Files.move(part.toPath, dir.resolve(s"b$i.parquet"))
      }
      dir
    }

  /** Daily totals per event day via the exactly-once block runtime,
    * driven through a GROWING feed inside one invocation: runs 1 and 2
    * each consume one arriving block, [[compact]] then folds their two
    * store versions into one (base advances past the stale dirs), and
    * run 3 processes ONLY the last block — reading compacted ∪ new.
    * The consumption log proves b0/b1 committed (reprocessing would
    * double their partials and hash-fail the oracle, which recomputes
    * the totals from the full history), and a compaction that lost or
    * duplicated partial rows would hash-fail the same way.
    * BlockRuntimeSpec additionally pins the processed-id sets,
    * crash-orphan invisibility, the no-new-arrivals pure read, and the
    * post-compact live version set.
    */
  def pipelineIncrementalRun(spark: SparkSession, sfDir: String): DataFrame = {
    val feed = blockFeed(spark, sfDir)
    val arrive = Files.createTempDirectory("graft_blockarrive")
    val state = Files.createTempDirectory("graft_blockstate")
    def link(b: String): Unit = {
      val _ = Files.createLink(arrive.resolve(b), feed.resolve(b))
    }
    def partials(df: DataFrame): DataFrame =
      df.groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).cast("long").as("n_ev"),
          sum(col("vc")).cast("long").as("sum_cents"))
    def mergePartials(df: DataFrame): DataFrame =
      df.groupBy("day")
        .agg(sum(col("n_ev")).cast("long").as("n_ev"),
          sum(col("sum_cents")).cast("long").as("sum_cents"))
    link("b0.parquet")
    run(spark, arrive.toString, state.toString, partials)
    link("b1.parquet")
    run(spark, arrive.toString, state.toString, partials)
    compact(spark, state.toString, mergePartials)
    link("b2.parquet")
    run(spark, arrive.toString, state.toString, partials)
      .result
      .groupBy("day")
      .agg(sum(col("n_ev")).cast("long").as("n_ev"),
        sum(col("sum_cents")).cast("long").as("sum_cents"))
      .orderBy("day")
  }

  /** The SAME exactly-once drive expressed entirely in the declarative
    * graph form ([[GraphLoader]]'s `incremental` node kind) — the basis
    * `graph.yml` + Environment story end to end: the spec declares the
    * feed/state ports, the partial SQL, AND the maintenance policy
    * (`compact_after: 1` + `merge_sql`), so there is ZERO Scala between
    * produces — each one consumes only unconsumed blocks and folds the
    * store whenever more than one version is live. Shares
    * `pipeline_incremental_run`'s full-history-recompute oracle — the
    * declarative path must be result-identical to the code-level one,
    * and GraphLoaderSpec pins the post-compact live-version set.
    */
  def pipelineGraphIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val feed = blockFeed(spark, sfDir)
    val arrive = Files.createTempDirectory("graft_gblockarrive")
    val state = Files.createTempDirectory("graft_gblockstate")
    val spec = GraphLoader.fromResource(
      "/graphs/daily_totals_incremental.yml",
      Map("feed_dir" -> arrive.toString, "state_dir" -> state.toString))
    def link(b: String): Unit = {
      val _ = Files.createLink(arrive.resolve(b), feed.resolve(b))
    }
    link("b0.parquet")
    GraphLoader.produce(spec, spark, sfDir) // run 1: consumes b0 (1 live version)
    link("b1.parquet")
    GraphLoader.produce(spec, spark, sfDir) // run 2: consumes b1, spec-driven compact
    link("b2.parquet")
    GraphLoader.produce(spec, spark, sfDir) // run 3: consumes b2, spec-driven compact
  }
}
