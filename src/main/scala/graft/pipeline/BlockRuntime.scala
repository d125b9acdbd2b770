package graft.pipeline

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.ManifestTable

/** Batch exactly-once-per-block runtime — the basis Environment/metadata-DB
  * semantic in batch form: a node consuming a growing feed of immutable
  * blocks must process each block EXACTLY ONCE across invocations, with
  * the accumulated state carrying everything already consumed.
  *
  * The node's state dir is a [[ManifestTable]] store, and the consumed
  * set is its named commits: a run commits the NEW blocks' partial rows
  * as one version named by those block ids ([[ManifestTable.commitNamed]]),
  * so a replay or a racing run is a no-op, and the markers survive
  * compaction as retired entries. A run never rewrites history (what
  * keeps the runtime viable at 100 TB); a crashed run leaves only
  * unreferenced files, invisible to every read, and recovery is a re-run.
  *
  * Scale shape: per run the raw feed is scanned ONLY for new blocks
  * (their paths go straight to the parquet reader); the merge reads the
  * committed partial store, whose grain is the partial key — days, not
  * events. Driver state is the block-id set, the unit basis's metadata
  * DB tracks per node.
  */
object BlockRuntime {

  final case class RunResult(result: DataFrame, processed: Seq[String])

  private def listNames(dir: Path): Seq[String] =
    if (!Files.isDirectory(dir)) Seq.empty
    else {
      val s = Files.list(dir)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.map(_.getFileName.toString).toSeq.sorted
      } finally s.close()
    }

  /** The store read pinned to `version`. */
  private def scan(spark: SparkSession, stateDir: String, version: Int): DataFrame =
    spark.read.format("graft.sources.ManifestTable")
      .option("path", stateDir).option("version", version.toString).load()

  /** One incremental run of a node over `feedDir` (immutable `*.parquet`
    * block files; the file name is the block id). `partialsOf` maps a
    * block slice to its partial-aggregate rows. Processes only blocks
    * the store has not consumed, commits their partials as one version
    * named by them, and returns the store pinned to that version (or to
    * the current one when nothing arrived: a pure read) plus the ids
    * processed this run. A state dir with no store yet must hold nothing
    * the store does not own: state written in another layout (the
    * pre-store runtime's consumed-block log) is refused, naming it,
    * because starting a store over it would consume every block again.
    */
  def run(
      spark: SparkSession, feedDir: String, stateDir: String,
      partialsOf: DataFrame => DataFrame): RunResult = {
    val s = ManifestTable.Snapshot.at(stateDir, None)
    if (s.version == 0) {
      val foreign = listNames(Paths.get(stateDir)).filter(ManifestTable.owned(_).isEmpty)
      if (foreign.nonEmpty) throw new IllegalStateException(
        s"block state dir $stateDir has no store yet but holds " +
          s"${foreign.mkString(", ")}: state of another layout (the pre-store " +
          "consumed-block log?); a new store here would consume every block again")
    }
    val fresh = listNames(Paths.get(feedDir)).filter(_.endsWith(".parquet"))
      .filterNot(s.names)
    val version =
      if (fresh.isEmpty) s.version
      else
        // one file per version: the grain is the partial KEY (days, not
        // events), so a version is aggregate-sized by contract; shuffle-
        // partition-many KB files paid listing + footer cost per read
        ManifestTable.commitNamed(spark, stateDir, fresh,
          partialsOf(spark.read.parquet(fresh.map(b => s"$feedDir/$b"): _*)).coalesce(1))
    if (version == 0)
      throw new IllegalStateException("no blocks consumed and none arrived")
    RunResult(scan(spark, stateDir, version), fresh)
  }

  /** [[run]] plus a declarative maintenance policy: after the run, if
    * the store's live data files (one per run since the last fold;
    * markers do not count) exceed `compactAfter`, [[compact]] folds the
    * store and the returned frame reads the folded version.
    * `compactAfter ≤ 0` disables the policy (plain [[run]]). GraphLoader's
    * `compact_after` declares it, with no code between produces.
    */
  def runWithPolicy(
      spark: SparkSession, feedDir: String, stateDir: String,
      partialsOf: DataFrame => DataFrame,
      compactAfter: Int, mergeOf: DataFrame => DataFrame = identity): RunResult = {
    val r = run(spark, feedDir, stateDir, partialsOf)
    if (compactAfter <= 0 ||
        ManifestTable.Snapshot.at(stateDir, None).dataFiles.size <= compactAfter) r
    else RunResult(scan(spark, stateDir, compact(spark, stateDir, mergeOf)), r.processed)
  }

  /** Fold the store's live data files into ONE new version — the
    * maintenance op that keeps the read path O(1) files when the node has
    * run daily for years (without it the store grows one file per run:
    * listing and parquet-footer cost linear in RUN COUNT, not data).
    * `mergeOf` re-aggregates the partials back to the partial grain (a
    * day's N partial rows collapse to one); identity keeps the rows and
    * still collapses the file count. The fold is [[ManifestTable.fold]]
    * (it retires the consumed-block markers, so exactly-once survives it),
    * and [[ManifestTable.vacuum]] then deletes stale versions and files at
    * once. At most one live file: nothing to fold. Returns the version.
    */
  def compact(
      spark: SparkSession, stateDir: String,
      mergeOf: DataFrame => DataFrame = identity): Int = {
    val s = ManifestTable.Snapshot.at(stateDir, None)
    val version =
      if (s.dataFiles.size <= 1) s.version
      else ManifestTable.fold(spark, stateDir, df => mergeOf(df).coalesce(1))
    ManifestTable.vacuum(stateDir)
    version
  }

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
    * store files into one, and run 3 processes ONLY the last block —
    * reading compacted ∪ new. The retired b0/b1 markers prove them
    * consumed (reprocessing would double their partials and hash-fail
    * the oracle, which recomputes the totals from the full history), and
    * a compaction that lost or duplicated partial rows would hash-fail
    * the same way. BlockRuntimeSpec additionally pins the processed-id
    * sets, crash-orphan invisibility, the no-new-arrivals pure read, and
    * the post-compact store versions.
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
    * store whenever more than one file is live. Shares
    * `pipeline_incremental_run`'s full-history-recompute oracle — the
    * declarative path must be result-identical to the code-level one,
    * and GraphLoaderSpec pins the post-compact store versions.
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
    GraphLoader.produce(spec, spark, sfDir) // run 1: consumes b0 (1 live file)
    link("b1.parquet")
    GraphLoader.produce(spec, spark, sfDir) // run 2: consumes b1, spec-driven compact
    link("b2.parquet")
    GraphLoader.produce(spec, spark, sfDir) // run 3: consumes b2, spec-driven compact
  }
}
