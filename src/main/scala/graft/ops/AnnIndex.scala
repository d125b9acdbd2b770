package graft.ops

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persisted, versioned ANN index artifacts — the trained IVF coarse
  * quantizer, PQ codebooks, and the encoded inverted file materialized
  * ON DISK under the dataset stamp, so a FRESH process (the routine
  * cluster restart at 100 TB) serves top-k queries without a single
  * Lloyd iteration. In-JVM memoization ([[Ivf.trainedCells]],
  * [[Pq.trainedEntries]]) remains the hot path inside one process; this
  * is the restart path, the same promotion the bucketed band store got
  * in [[Incremental.incrementalDedupBucketed]].
  *
  * Commit discipline (the [[graft.sources.ManifestTable]] pattern): all
  * three tables are written into ONE staging directory, ATOMIC_MOVEd to
  * `snap/`, and only then does a one-line `meta.log` commit (temp file +
  * ATOMIC_MOVE) make the index visible — readers key on `meta.log`
  * existence, so a crash
  * at any point leaves either no index (orphan swept on next build) or a
  * complete one, never a torn artifact. The index root embeds a digest
  * of (sfDir, dataset stamp): a regenerated dataset gets a DIFFERENT
  * root and fails safe to a rebuild instead of serving stale codebooks.
  *
  * Artifact layout and the 100 TB read shape:
  *   - `centroids/`  (cell_id, c_e)         — K rows, broadcast on read
  *   - `codebook/`   (sub_id, cell, c_se)   — NumSub·KSub rows, broadcast
  *   - `codes/`      (vec_id, sub_id, code) PARTITIONED BY cell_id — the
  *     inverted file with PQ payloads; a probe's nprobe-cell restriction
  *     is directory partition PRUNING on this table, so the serve scan
  *     reads ~nprobe/K of the code files, never a filter over all of
  *     them.
  * Derived columns (c_nrm, c_cc) are recomputed in-plan from the
  * persisted doubles — parquet round-trips IEEE doubles exactly, so the
  * served plan is value-identical to the in-memory one (AnnIndexSpec
  * pins bit-identical top-k).
  */
object AnnIndex {

  /** Index root for a dataset: /tmp/graft_layout/<tag>/annindex, tag =
    * sf basename + md5(sfDir#stamp) — same keying as the bucketed band
    * store, for the same reason (a path collision or in-place rewrite
    * must never serve another dataset's trained state).
    */
  private[graft] def indexRoot(sfDir: String): Path = {
    val stamp = graft.util.DatasetStamp.stamp(sfDir, "embeddings")
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$sfDir#$stamp".getBytes("UTF-8"))
      .take(6).map(b => f"$b%02x").mkString
    val tag = Paths.get(sfDir).getFileName.toString
      .replaceAll("[^a-zA-Z0-9]", "_") + "_" + digest
    Paths.get("/tmp/graft_layout", tag, "annindex")
  }

  private def metaPath(root: Path): Path = root.resolve("meta.log")

  /** Index metadata: `live` = committed version dirs, oldest first (the
    * read path unions their codes); `consumed` = every append/delete NAME
    * ever committed — [[compactDeltas]] folds live dirs away but must not
    * forget the names, or a re-run of an appending query after a compact
    * would re-append the same batch and double its ADC scores (the same
    * consumed-names discipline as the manifest store's retired markers,
    * [[graft.sources.ManifestTable.commitNamed]]);
    * `tombs` = committed TOMBSTONE dirs (each holds an `ids` parquet of
    * deleted vec_ids) — the read path anti-joins them out, a compact
    * drops the ids physically and clears the list.
    */
  final case class Meta(
      live: Seq[String], consumed: Set[String], tombs: Seq[String] = Seq.empty)

  /** `meta.log` format: `live,dirs|consumed,names|tomb,dirs`. A legacy
    * log without the first '|' (pre-compaction rounds wrote just the live
    * list) reads with consumed = live — correct, since nothing had ever
    * been folded; a two-field log (pre-deletion rounds) reads with no
    * tombstones — correct, since nothing had ever been deleted.
    */
  private[graft] def readMeta(root: Path): Meta = {
    val p = metaPath(root)
    if (!Files.exists(p)) Meta(Seq.empty, Set.empty)
    else {
      val parts = new String(Files.readAllBytes(p), "UTF-8").trim.split("\\|", -1)
      val live = parts(0).split(",").toSeq.filter(_.nonEmpty)
      val consumed =
        if (parts.length < 2) live.toSet
        else parts(1).split(",").toSet.filter(_.nonEmpty)
      val tombs =
        if (parts.length < 3) Seq.empty[String]
        else parts(2).split(",").toSeq.filter(_.nonEmpty)
      Meta(live, consumed, tombs)
    }
  }

  private[graft] def readVersions(root: Path): Seq[String] = readMeta(root).live

  private def commitMeta(root: Path, m: Meta): Unit = {
    val tmp = Files.createTempFile(root, "meta", ".tmp")
    Files.write(tmp,
      (m.live.mkString(",") + "|" + m.consumed.toSeq.sorted.mkString(",") +
        "|" + m.tombs.mkString(","))
        .getBytes("UTF-8"))
    Files.move(tmp, metaPath(root),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** True iff a complete committed index exists for this dataset. */
  def committed(sfDir: String): Boolean = Files.exists(metaPath(indexRoot(sfDir)))

  /** In-JVM mutual exclusion, PER ROOT (round-11 advice: one global lock
    * serialized unrelated index roots JVM-wide — a slow append on index A
    * blocked a build on index B for the whole write job). Also what keeps
    * one JVM from overlapping its own [[withFileLock]]: `FileChannel.lock`
    * throws `OverlappingFileLockException` when the same JVM already holds
    * the file lock, and holding the per-root monitor first makes that
    * impossible for one root while leaving other roots fully concurrent.
    */
  private val rootLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private def rootLock(root: Path): Object =
    rootLocks.computeIfAbsent(
      root.toAbsolutePath.normalize.toString, _ => new Object)

  /** Cross-PROCESS mutual exclusion for the artifact root's
    * read-modify-write sections: the in-JVM [[buildLock]] alone cannot
    * stop two processes (a test suite and a bench run) from racing
    * meta.log — the loser's committed version would vanish from the
    * whole-file rewrite, or its committed dir would be deleted as a
    * presumed orphan. An OS advisory lock on `root/.lock` serializes
    * them; callers already hold [[buildLock]], so one JVM never
    * overlaps its own file lock. (Advisory locks are reliable on local
    * filesystems — where these artifacts live; an object-store
    * deployment would use its conditional-put primitive instead.)
    */
  private def withFileLock[A](root: Path)(body: => A): A = {
    Files.createDirectories(root)
    val ch = java.nio.channels.FileChannel.open(root.resolve(".lock"),
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.WRITE)
    try {
      val lk = ch.lock()
      try body finally lk.release()
    } finally ch.close()
  }

  /** Train-if-absent: returns immediately when the committed artifact
    * exists (the restart path pays zero training); otherwise trains via
    * the memoized [[Ivf]]/[[Pq]] state and commits the artifact. Safe
    * against concurrent builders in one JVM (lock) and against crashed
    * prior attempts (an orphan `snap/` without `meta.log` is swept).
    */
  def build(t: Tables): Path = buildAt(t, indexRoot(t.sfDir))

  private[graft] def buildAt(t: Tables, root: Path): Path = {
    if (Files.exists(metaPath(root))) return root
    // SHARED BASE (round 16, cold-memo trim): the persisted/upsert/
    // delete roots all start from the IDENTICAL trained snap for one
    // dataset — build it once at the canonical root and HARD-LINK it
    // into siblings (same filesystem, immutable files; deleting one
    // root's links never touches another's). The expensive
    // codes-encode-and-partition Spark job then runs once per dataset,
    // not once per lifecycle variant.
    val canonical = indexRoot(t.sfDir)
    if (root != canonical) {
      buildAt(t, canonical)
      val src = canonical.resolve("snap")
      if (Files.exists(src)) {
        rootLock(root).synchronized { withFileLock(root) {
          if (Files.exists(metaPath(root))) return root
          Files.createDirectories(root)
          val snap = root.resolve("snap")
          if (Files.exists(snap)) graft.util.Fs.deleteRecursively(snap)
          val staging = Files.createTempDirectory(root, "stage_")
          try {
            val walk = Files.walk(src)
            try walk.forEach { p =>
              val dst = staging.resolve(src.relativize(p).toString)
              if (Files.isDirectory(p)) Files.createDirectories(dst)
              else Files.createLink(dst, p)
            } finally walk.close()
            Files.move(staging, snap, StandardCopyOption.ATOMIC_MOVE)
          } catch {
            case e: Throwable =>
              graft.util.Fs.deleteRecursively(staging); throw e
          }
          commitMeta(root, Meta(Seq("snap"), Set.empty))
          return root
        } }
      }
    }
    rootLock(root).synchronized { withFileLock(root) {
      if (Files.exists(metaPath(root))) return root
      Files.createDirectories(root)
      val snap = root.resolve("snap")
      // no meta.log ⇒ any existing snap is an uncommitted crash orphan
      if (Files.exists(snap)) graft.util.Fs.deleteRecursively(snap)
      val staging = Files.createTempDirectory(root, "stage_")
      try {
        import t.spark.implicits._
        Ivf.trainedCells(t).toSeq.toDF("cell_id", "c_e")
          .coalesce(1).write.parquet(staging.resolve("centroids").toString)
        Pq.trainedEntries(t).toSeq.toDF("sub_id", "cell", "c_se")
          .coalesce(1).write.parquet(staging.resolve("codebook").toString)
        // the inverted file: PQ codes annotated with the coarse cell,
        // laid out so cell restriction = partition pruning
        Pq.codes(t, Pq.codebook(t))
          .join(Ivf.assignments(t).select(col("vec_id"), col("cell_id")), Seq("vec_id"))
          .repartition(col("cell_id"))
          .write.partitionBy("cell_id")
          .parquet(staging.resolve("codes").toString)
        Files.move(staging, snap, StandardCopyOption.ATOMIC_MOVE)
      } catch {
        case e: Throwable => graft.util.Fs.deleteRecursively(staging); throw e
      }
      commitMeta(root, Meta(Seq("snap"), Set.empty))
      root
    } }
  }

  /** Append a NEW vector batch to a committed index WITHOUT retraining —
    * the daily maintenance op of a served index: arriving vectors are
    * assigned to the FROZEN coarse centroids ([[Ivf.assignVectors]]) and
    * encoded against the FROZEN codebook ([[Pq.codesOf]]), and their
    * cell-partitioned codes land as a NEW version directory; `meta.log`
    * grows by one name. Same commit discipline as [[buildAt]] (stage →
    * ATOMIC_MOVE → meta commit), same exactly-once rule as
    * [[graft.pipeline.BlockRuntime]]: `name` is the block id — an
    * already-committed name is a no-op, so re-running a query that
    * appends is idempotent, and a crashed attempt leaves an uncommitted
    * orphan that is swept and rebuilt on retry. Training state is never
    * touched: only [[Pq]]/[[Ivf]] FRAMES read from the committed snap
    * participate.
    *
    * 100 TB shape: the append scans ONLY the arriving batch (broadcast
    * centroid/codebook joins, one repartition by cell), and the read
    * path unions O(#appends) version dirs — fold them periodically with
    * the same compaction discipline as the block store if appends are
    * frequent.
    */
  def appendDelta(
      t: Tables, root: Path, name: String, vecs: DataFrame): Path =
    rootLock(root).synchronized {
      // 'snap' and 'folded_*' are reserved generation names: a delta
      // wearing one could alias the live head OR a stale head still in
      // its reader grace window, and the orphan-delete below must never
      // be reachable for either (deleting the live head destroys the
      // index; deleting a stale one mid-grace reintroduces the reader
      // race the grace window exists to close)
      require(name.matches("[A-Za-z0-9_]+") && name != "snap" &&
        !name.startsWith("folded_"), s"bad delta name '$name'")
      // Stage OUTSIDE the file lock (round-11 advice: the Spark write job
      // held the cross-process lock for its whole duration, blocking every
      // other process on this root). Sound because the encode inputs are
      // IMMUTABLE: the unlocked meta read pins a committed head, committed
      // centroids/codebook files are never mutated in place, a concurrent
      // compact rewrites VALUE-IDENTICAL copies (the fold is a verbatim
      // re-write of the head's rows) and leaves the old head a full grace
      // cycle, and the consumed set only grows (a name consumed at the
      // pre-check stays consumed). The lock is then held only for the
      // re-check / orphan-delete / ATOMIC_MOVE / meta-commit section.
      val pre = readMeta(root)
      require(pre.live.nonEmpty, s"no committed ANN index at $root")
      if (pre.consumed.contains(name)) return root
      val snap = root.resolve(pre.live.head)
      val centroids = t.spark.read.parquet(snap.resolve("centroids").toString)
      val codebook = t.spark.read.parquet(snap.resolve("codebook").toString)
      val quant = broadcast(centroids.select(col("cell_id"), col("c_e"),
        sqrt(Vector.dot(col("c_e"), col("c_e"))).as("c_nrm")))
      val cbFull = broadcast(codebook.select(col("sub_id"), col("cell"),
        col("c_se"), Vector.dot(col("c_se"), col("c_se")).as("c_cc")))
      val staging = Files.createTempDirectory(root, "stage_")
      try {
        Pq.codesOf(vecs, cbFull)
          .join(Ivf.assignVectors(vecs, quant).select(col("vec_id"), col("cell_id")),
            Seq("vec_id"))
          .repartition(col("cell_id"))
          .write.partitionBy("cell_id")
          .parquet(staging.resolve("codes").toString)
      } catch {
        case e: Throwable => graft.util.Fs.deleteRecursively(staging); throw e
      }
      withFileLock(root) {
        // meta is re-read INSIDE the file lock: the orphan test below
        // ("dir exists but not in meta") is only sound against a meta no
        // concurrent process can be mid-rewrite of. Idempotence keys on
        // the CONSUMED set, not the live dirs — a compact folds the dirs
        // but the name stays consumed forever.
        val meta0 = readMeta(root)
        val versions = meta0.live
        require(versions.nonEmpty, s"no committed ANN index at $root")
        if (meta0.consumed.contains(name)) {
          // another process committed this name between pre-check and
          // lock: our staged copy is redundant, not a conflict
          graft.util.Fs.deleteRecursively(staging)
          return root
        }
        require(!versions.contains(name) && !meta0.tombs.contains(name),
          s"delta name '$name' collides with a live version or tombstone dir")
        val target = root.resolve(name)
        // not in meta ⇒ any existing dir is an uncommitted crash orphan
        if (Files.exists(target)) graft.util.Fs.deleteRecursively(target)
        Files.move(staging, target, StandardCopyOption.ATOMIC_MOVE)
        commitMeta(root, Meta(versions :+ name, meta0.consumed + name, meta0.tombs))
      }
      root
    }

  /** DELETE vectors from a committed index — the GDPR right-to-be-
    * forgotten op for the VECTOR surface ([[graft.sources.Layouts]]'
    * `gdpr_erasure` closes it for the row store; a served index retaining
    * the embedding is the same legal hole). The id set lands as a
    * TOMBSTONE version dir (`<name>/ids`, a parquet of vec_ids) under the
    * exact commit discipline of [[appendDelta]] — stage outside the lock,
    * ATOMIC_MOVE, one-line meta commit, `name`-keyed idempotence — and
    * takes effect in two stages, the standard LSM delete shape:
    *   1. logically at once: [[loadOnlyAt]] anti-joins tombstoned ids out
    *      of the served codes, so no query returns them;
    *   2. physically at the next [[compactDeltas]]: the fold writes the
    *      already-filtered read-path codes and clears the tombstone list,
    *      so the embedding bytes leave the disk.
    * A tombstone applies to the ids GLOBALLY until a compact folds it in:
    * re-inserting a deleted vec_id requires compacting first (after which
    * the tombstone is gone and a fresh append serves normally) — the
    * conservative reading a deletion request demands.
    *
    * 100 TB shape: the tombstone set is requests, not corpus — it
    * broadcasts; the serve-path anti-join is a broadcast hash anti join
    * per code scan, and the physical drop rides the compaction the index
    * already schedules.
    */
  def deleteIds(spark: SparkSession, root: Path, name: String, ids: DataFrame): Path =
    rootLock(root).synchronized {
      require(name.matches("[A-Za-z0-9_]+") && name != "snap" &&
        !name.startsWith("folded_"), s"bad tombstone name '$name'")
      val pre = readMeta(root)
      require(pre.live.nonEmpty, s"no committed ANN index at $root")
      if (pre.consumed.contains(name)) return root
      // stage outside the file lock, same argument as [[appendDelta]]:
      // the id frame is the caller's (immutable for the call), and the
      // consumed set only grows
      val staging = Files.createTempDirectory(root, "stage_")
      try {
        ids.select(col("vec_id").cast("long")).distinct()
          .coalesce(1).write.parquet(staging.resolve("ids").toString)
      } catch {
        case e: Throwable => graft.util.Fs.deleteRecursively(staging); throw e
      }
      withFileLock(root) {
        val meta0 = readMeta(root)
        require(meta0.live.nonEmpty, s"no committed ANN index at $root")
        if (meta0.consumed.contains(name)) {
          graft.util.Fs.deleteRecursively(staging)
          return root
        }
        require(!meta0.live.contains(name) && !meta0.tombs.contains(name),
          s"tombstone name '$name' collides with a live version or tombstone dir")
        val target = root.resolve(name)
        if (Files.exists(target)) graft.util.Fs.deleteRecursively(target)
        Files.move(staging, target, StandardCopyOption.ATOMIC_MOVE)
        commitMeta(root,
          Meta(meta0.live, meta0.consumed + name, meta0.tombs :+ name))
      }
      root
    }

  final case class IndexFrames(
      centroids: DataFrame, codebook: DataFrame, codes: DataFrame)

  /** Pure READ of a committed index — throws when absent. This method
    * (and [[serve]], which consumes only its frames) contains no
    * training path at all, which is the spec's proof that a fresh
    * session serving from disk cannot have run Lloyd.
    */
  def loadOnly(spark: SparkSession, sfDir: String): IndexFrames =
    loadOnlyAt(spark, indexRoot(sfDir))

  /** The codes frame unions every COMMITTED version dir (base snap +
    * appended deltas), one scan per version so cell-partition pruning
    * applies per directory, then anti-joins out any committed TOMBSTONE
    * ids (broadcast — the tombstone set is deletion requests, not
    * corpus); uncommitted orphans are invisible because only `meta.log`
    * names are read.
    */
  private[graft] def loadOnlyAt(spark: SparkSession, root: Path): IndexFrames =
    loadFrames(spark, root, readMeta(root))

  /** [[loadOnlyAt]] pinned to an explicit meta snapshot — what lets
    * [[compactDeltas]] stage its fold OUTSIDE the file lock against the
    * meta it later verifies unchanged at commit.
    */
  private def loadFrames(spark: SparkSession, root: Path, meta: Meta): IndexFrames = {
    val versions = meta.live
    require(versions.nonEmpty,
      s"no committed ANN index at $root — run AnnIndex.build first")
    val snap = root.resolve(versions.head)
    val codesAll = versions.map(v =>
        spark.read.parquet(root.resolve(v).resolve("codes").toString))
      .reduce(_ unionByName _)
    val codes =
      if (meta.tombs.isEmpty) codesAll
      else {
        val tombIds = meta.tombs.map(d =>
            spark.read.parquet(root.resolve(d).resolve("ids").toString))
          .reduce(_ unionByName _)
        codesAll.join(broadcast(tombIds), Seq("vec_id"), "left_anti")
      }
    IndexFrames(
      spark.read.parquet(snap.resolve("centroids").toString),
      spark.read.parquet(snap.resolve("codebook").toString),
      codes)
  }

  /** IVF-ADC top-k served entirely from the persisted index — the same
    * plan as [[IvfPq.ivfpqCosineTopk]] with every piece of trained state
    * read from parquet: probes rank the broadcast persisted centroids,
    * the LUT builds against the broadcast persisted codebook, the ADC
    * scan hash-joins the cell-partitioned persisted codes (probed-cell
    * restriction prunes code partitions), and the exact re-rank touches
    * true vectors by id exactly as before.
    */
  def serve(
      t: Tables, idx: IndexFrames,
      probeLimit: Int = 50, k: Int = 5, nprobe: Int = 4): DataFrame =
    serveOver(t, idx, Ann.vectorsWithNorm(t), probeLimit, k, nprobe)

  /** [[serve]] with an explicit true-vector frame — the upsert path
    * passes corpus ∪ appended vectors so the exact re-rank resolves the
    * new ids too.
    */
  private[graft] def serveOver(
      t: Tables, idx: IndexFrames, v: DataFrame,
      probeLimit: Int, k: Int, nprobe: Int): DataFrame = {
    val quant = broadcast(idx.centroids.select(col("cell_id"), col("c_e"),
      sqrt(Vector.dot(col("c_e"), col("c_e"))).as("c_nrm")))
    val probes = v.filter(col("vec_id") < probeLimit)
      .select(col("vec_id").as("a_id"), col("e").as("a_e"), col("nrm").as("a_nrm"))
    val wCells = Window.partitionBy("a_id").orderBy(desc("p_cos"), asc("cell_id"))
    val probedCells = probes
      .crossJoin(quant)
      .select(col("a_id"), col("cell_id"),
        (Vector.dot(col("a_e"), col("c_e")) / (col("a_nrm") * col("c_nrm"))).as("p_cos"))
      .select(col("a_id"), col("cell_id"), row_number().over(wCells).as("rn"))
      .filter(col("rn") <= nprobe)
      .select(col("a_id"), col("cell_id").as("p_cell"))
    val lutCells = Pq.lut(probes, idx.codebook).join(probedCells, Seq("a_id"))
    val scored = idx.codes
      .select(col("vec_id").as("b_id"), col("sub_id"), col("code"), col("cell_id"))
      .join(broadcast(lutCells),
        col("cell_id") === col("p_cell") &&
          col("sub_id") === col("l_sub") && col("code") === col("l_cell"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(sum(col("pdot")).as("adot"))
    Pq.adcRerank(v, probes, scored, k)
  }

  /** The registered query: build-if-absent, then serve from disk. After
    * the first process has committed the artifact, every later process
    * (and every later call) is the pure read path.
    */
  def ivfpqPersistedTopk(
      t: Tables, probeLimit: Int = 50, k: Int = 5, nprobe: Int = 4): DataFrame = {
    build(t)
    serve(t, loadOnly(t.spark, t.sfDir), probeLimit, k, nprobe)
  }

  /** Fold every committed version into ONE new complete head — the
    * read path returns to O(1) directories after many appends (the same
    * maintenance [[graft.pipeline.BlockRuntime.compact]] gives the block
    * store). The folded dir is a full head: centroids + codebook
    * rewritten from the old head (K / NumSub·KSub rows — trivial), codes
    * = exactly what [[loadOnlyAt]] serves (one read-path definition),
    * re-partitioned by cell. Commit discipline as everywhere: stage →
    * ATOMIC_MOVE → one-line meta commit.
    *
    * Stale dirs are NOT deleted at commit — they are swept at the START
    * of the NEXT compact. That gives
    * in-flight readers (a lazy frame resolved against the pre-compact
    * version list, possibly in another process) a full compact cycle of
    * grace instead of a FileNotFound race, and it is also the crash
    * recovery: orphans from a kill at ANY point (staged dirs, a moved-
    * but-uncommitted target, committed-but-unswept stale versions) are
    * all just "dirs not in meta.live", removed by the same sweep.
    * Returns the new live version list.
    */
  def compactDeltas(spark: SparkSession, root: Path): Seq[String] =
    rootLock(root).synchronized {
      // sweep under the file lock (deletes must not race another
      // process's commit section), then release it for the fold write
      val meta0 = withFileLock(root) {
        val m = readMeta(root)
        require(m.live.nonEmpty, s"no committed ANN index at $root")
        // sweep FIRST (also on the nothing-to-fold path): any dir that is
        // neither a live version nor a committed tombstone is a crash
        // orphan or a previous fold's stale generation — both invisible
        // to readers, both safe to remove
        val keep = m.live.toSet ++ m.tombs
        val ls = Files.list(root)
        try {
          import scala.jdk.CollectionConverters._
          ls.iterator().asScala.toList
            .filter(p => Files.isDirectory(p) && !keep(p.getFileName.toString))
            .foreach(graft.util.Fs.deleteRecursively)
        } finally ls.close()
        m
      }
      // one complete head AND nothing tombstoned ⇒ nothing to fold; a
      // pending tombstone always folds, even over a single head — that is
      // the physical-drop the deletion promised
      if (meta0.live.size <= 1 && meta0.tombs.isEmpty) return meta0.live
      val foldSeq = 1 + meta0.live.flatMap { v =>
        if (v.startsWith("folded_")) v.drop(7).toLongOption else None
      }.foldLeft(0L)(math.max)
      val name = s"folded_$foldSeq"
      // stage OUTSIDE the file lock (the fold is the biggest write job on
      // this root — round-11 advice): the frames read only dirs committed
      // in meta0, which the grace window keeps on disk, and the commit
      // below verifies meta is UNCHANGED — a concurrent append/delete
      // between stage and commit aborts the fold (losing it would silently
      // un-append/un-delete) and the caller's next compact retries.
      val idx = loadFrames(spark, root, meta0)
      val staging = Files.createTempDirectory(root, "stage_")
      try {
        idx.centroids.coalesce(1)
          .write.parquet(staging.resolve("centroids").toString)
        idx.codebook.coalesce(1)
          .write.parquet(staging.resolve("codebook").toString)
        idx.codes
          .repartition(col("cell_id"))
          .write.partitionBy("cell_id")
          .parquet(staging.resolve("codes").toString)
      } catch {
        case e: Throwable => graft.util.Fs.deleteRecursively(staging); throw e
      }
      withFileLock(root) {
        val m = readMeta(root)
        if (m.live != meta0.live || m.tombs != meta0.tombs) {
          // a concurrent process committed while we staged: this fold no
          // longer covers the index — abandon it (the staged dir would be
          // swept as an orphan anyway, but clean up eagerly)
          graft.util.Fs.deleteRecursively(staging)
          throw new IllegalStateException(
            s"concurrent commit during compact of $root — retry compactDeltas")
        }
        Files.move(staging, root.resolve(name), StandardCopyOption.ATOMIC_MOVE)
        // tombs clear: the folded codes were written through the
        // tombstone-filtered read path, so the deleted ids are now
        // physically absent; the tombstone DIRS become stale generations
        // (kept one grace cycle, swept by the next compact)
        commitMeta(root, Meta(Seq(name), m.consumed, Seq.empty))
      }
      Seq(name)
    }

  // ------------------------------------------------------------- upsert

  /** Separate artifact root for the upsert drive: the shared
    * [[indexRoot]] serves `ann_ivfpq_persisted` and must never contain
    * the planted twins.
    */
  private[graft] def upsertRoot(sfDir: String): Path =
    indexRoot(sfDir).resolveSibling("annindex_upsert")

  /** New-id offset for the planted twin batch — far above any real
    * vec_id, so twins are unambiguous in results and specs.
    */
  private[graft] val TwinOffset = 1000000L

  /** The "arriving" batch: exact copies of every 7th-residue-3 vector
    * under new ids. Planting twins makes recall FALSIFIABLE: after the
    * append, a probe owning a twin must see it at cosine 1.0 — an
    * append that mis-assigned cells, mis-encoded codes, or never reached
    * the read path cannot produce that.
    */
  private[graft] def twinVectors(t: Tables): DataFrame =
    Ann.vectorsWithNorm(t)
      .filter(col("vec_id") % 7 === 3)
      .select((col("vec_id") + TwinOffset).as("vec_id"), col("e"), col("nrm"))

  /** The registered query: build-if-absent at the upsert root, append
    * the twin batch exactly once (idempotent under Bench's re-runs),
    * serve from the versioned union. The trained state is identical to
    * `ann_ivfpq_persisted`'s — only the inverted file grew.
    */
  def ivfpqUpsertTopk(
      t: Tables, probeLimit: Int = 50, k: Int = 5, nprobe: Int = 4): DataFrame = {
    val root = upsertRoot(t.sfDir)
    buildAt(t, root)
    appendDelta(t, root, "delta_twins", twinVectors(t))
    val vAll = Ann.vectorsWithNorm(t).unionByName(twinVectors(t))
    serveOver(t, loadOnlyAt(t.spark, root), vAll, probeLimit, k, nprobe)
  }

  // ------------------------------------------------------------- delete

  /** Separate artifact root for the delete drive — the upsert root's
    * spec pins its exact post-append state, which a tombstone would
    * perturb.
    */
  private[graft] def deleteRoot(sfDir: String): Path =
    indexRoot(sfDir).resolveSibling("annindex_delete")

  /** The twins [[ivfpqDeleteTopk]] tombstones: every OTHER planted twin
    * (original id ≡ 3 mod 14 — half of the ≡ 3 mod 7 twin population), so
    * the serve result shows BOTH outcomes: deleted twins gone with their
    * top-k slot backfilled by the true next neighbor, surviving twins
    * still first at cosine 1.0.
    */
  private[graft] def deletedTwinIds(t: Tables): DataFrame =
    twinVectors(t).filter((col("vec_id") - TwinOffset) % 14 === 3)
      .select(col("vec_id"))

  /** The registered query: build-if-absent, append the twin batch, then
    * DELETE half the twins by tombstone — the full CRUD lifecycle of a
    * served index (train → persist → serve → append → delete → compact).
    * Deleted ids are logically gone at once (tombstone anti-join on the
    * read path) and physically dropped by the next [[compactDeltas]];
    * AnnIndexSpec pins both stages plus idempotence and untouched-probe
    * invariance. All three maintenance calls are `name`-keyed no-ops on
    * re-runs, so the query is Bench-idempotent.
    */
  def ivfpqDeleteTopk(
      t: Tables, probeLimit: Int = 50, k: Int = 5, nprobe: Int = 4): DataFrame = {
    val root = deleteRoot(t.sfDir)
    buildAt(t, root)
    appendDelta(t, root, "delta_twins", twinVectors(t))
    deleteIds(t.spark, root, "del_half_twins", deletedTwinIds(t))
    val vAll = Ann.vectorsWithNorm(t).unionByName(twinVectors(t))
    serveOver(t, loadOnlyAt(t.spark, root), vAll, probeLimit, k, nprobe)
  }
}
