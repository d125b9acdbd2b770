package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}
import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.util.Fs

/** A complete DataSource V2 WRITE path with an atomic manifest-commit
  * protocol — the ACID-lite table-format pattern (the core idea behind
  * Delta/Iceberg commit logs) built from the raw connector API:
  *
  *   - each task writes its partition to a uniquely-named STAGED data
  *     file and reports it in its `WriterCommitMessage`;
  *   - the driver's `BatchWrite.commit` writes `manifest-<v+1>.json`
  *     listing (previous snapshot ∪ committed files) via temp-file +
  *     ATOMIC_MOVE — readers either see the old snapshot or the new
  *     one, never a torn directory listing;
  *   - `abort` deletes the staged files; an aborted job leaves the
  *     current manifest untouched (snapshot isolation — pinned by
  *     ManifestTableSpec with a deliberately failing writer);
  *   - the read path plans ONE partition per manifest-listed file and
  *     ignores everything else in the directory, so orphaned debris
  *     from failed jobs is invisible.
  *
  * Data files are PARQUET, written through Spark's own
  * `ParquetWriteSupport` and read through Spark's vectorized reader
  * ([[ManifestCodec]] has the type surface, [[ManifestColumnar]] the
  * read path); `spark.read.parquet` reads them too. The commit protocol
  * never looks inside a data file. Usage:
  * `df.write.format("graft.sources.ManifestTable").option("path", p)
  *    .mode("append").save()` / `spark.read.format(...).load()`.
  */
class ManifestTable extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val base = ManifestTable.readSchemaFromManifest(options.get("path"))
    // .option("changeFeed", true): the CHANGE-FEED read surface — table
    // columns plus (_change_type, _commit_version), served by the CDF
    // streaming source (ManifestCdfMicroBatchStream)
    if (options.getBoolean("changeFeed", false)) ManifestTable.withChangeColumns(base)
    else base
  }
  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new ManifestTbl(properties.get("path"), schema,
      cdf = new CaseInsensitiveStringMap(properties).getBoolean("changeFeed", false))
  override def supportsExternalMetadata(): Boolean = true
}

object ManifestTable {
  /** Thrown by [[commitVersion]] when a truncating rewrite's expected
    * base version no longer matches current — a concurrent commit won
    * the race. The maintenance rewrites catch it and re-derive from the
    * new current (bounded retries); anything else surfacing it means a
    * caller held a stale snapshot across a truncating commit.
    */
  final class ConcurrentCommitException(msg: String)
    extends IllegalStateException(msg)

  /** Test seam for deterministic commit-race interleavings: invoked by
    * [[rewrite]] after an op derives its new line set and immediately
    * BEFORE the truncating commit — a spec installs an append here to
    * reproduce "writer lands between snapshot read and commit" exactly
    * once. A no-op in production (never reassigned outside specs).
    */
  private[graft] var preCommitHook: () => Unit = () => ()

  def dir(path: String): Path = Paths.get(path)

  /** The change-feed schema: the table's columns plus the change columns. */
  private[sources] def withChangeColumns(table: StructType): StructType =
    StructType(table.fields :+
      StructField(ManifestCdf.ChangeTypeCol, StringType, nullable = false) :+
      StructField(ManifestCdf.CommitVersionCol, IntegerType, nullable = false))

  /** Marker prefix for EQUALITY-DELETE manifest lines (`~<file>\t<col>`):
    * the merge-on-read row-delete shape (Iceberg equality deletes / Delta
    * deletion vectors) — a delete commits as a new manifest VERSION that
    * lists a small key file, the data files are untouched (so prior
    * snapshots still time-travel to the pre-delete rows), the scan
    * filters deleted keys at read time, and the next truncating rewrite
    * ([[compactDeletes]]) drops the rows physically. Data files start
    * with `data-`, so the marker can never collide with a file name.
    */
  val DeleteMark = '~'

  def isDeleteEntry(line: String): Boolean =
    line.nonEmpty && line.charAt(0) == DeleteMark

  /** Scope marker for a PRIOR-ONLY delete entry (`~<file>\t<col>\tprior`),
    * the Iceberg sequence-number shape that lets [[mergeKeys]] commit
    * [delete, replacement rows] as ONE version whose own inserts survive
    * its own delete. [[Snapshot.deletesFor]] states the scoping rule.
    */
  val PriorOnlyScope = "prior"

  /** Delete line → (key file name, key column). */
  def parseDeleteEntry(line: String): (String, String) = {
    val body = line.substring(1)
    val parts = body.split('\t')
    require(parts.length >= 2 && parts(0).nonEmpty && parts(1).nonEmpty,
      s"malformed manifest delete entry: $line")
    (parts(0), parts(1))
  }

  /** Does this delete entry apply only to EARLIER data lines? */
  def isPriorOnlyDelete(line: String): Boolean = {
    val parts = line.substring(1).split('\t')
    parts.length > 2 && parts(2) == PriorOnlyScope
  }

  /** Marker prefix for a RETIRED idempotence marker (`=<name>`): pure
    * metadata recording that a data entry named `name` (a named commit's
    * `batch-*.rows` marker) was once committed and has since been
    * rewritten away by a truncating maintenance pass. The line
    * references NO file; scans, CDF, history, clone-links and vacuum all
    * ignore it — its only consumer is [[commitNamed]]'s replay dedupe,
    * which must keep refusing a batch AFTER compaction absorbed its
    * marker file (otherwise maintenance silently breaks the sink's
    * exactly-once guarantee — the reason Delta's `txn` appId/version
    * actions survive OPTIMIZE). Every truncating rewrite carries prior
    * retired lines forward and retires the batch markers it absorbs.
    */
  val RetiredMark = '='

  def isRetiredEntry(line: String): Boolean =
    line.nonEmpty && line.charAt(0) == RetiredMark

  def retiredName(line: String): String = line.substring(1)

  /** A named commit's marker file, `batch-<name>.rows`: the one name
    * pattern of [[commitNamed]], [[owned]] and [[retirements]].
    */
  private val BatchMarkerRe = "batch-([A-Za-z0-9_.-]+)\\.rows".r

  /** Retained retirement lines are CAPPED at the newest 10k: a replay
    * can only reach as far back as the sink's checkpoint (in practice
    * the in-flight batch), so retaining the newest ten thousand batch
    * markers is generous — and without a cap a long-lived streaming sink
    * under periodic compaction would accrete one `=` line per absorbed
    * batch FOREVER (the reason Delta ages out its `txn` actions). A
    * replay of a batch older than the cap — a resurrected ancient
    * checkpoint — re-commits, exactly Delta's documented contract.
    */
  private[graft] val MaxRetirements = 10000

  /** The `=name` lines a truncating rewrite must re-commit: every prior
    * retired line, plus a retirement for each absorbed batch marker
    * (non-marker data files need no retirement — nothing dedupes on
    * their names), the NEWEST [[MaxRetirements]] by retirement order
    * kept (each rewrite lists prior retirements first, new ones last).
    */
  private[graft] def retirements(
      prevLines: Seq[String], absorbedNames: Seq[String]): Seq[String] =
    (prevLines.filter(isRetiredEntry) ++
      absorbedNames.filter(n => BatchMarkerRe.matches(n))
        .map(n => s"$RetiredMark$n")).takeRight(MaxRetirements)

  /** The commit names whose markers `lines` list, live or retired. */
  private def namesIn(lines: Seq[String]): Set[String] = lines.iterator.flatMap { l =>
    if (isRetiredEntry(l)) Some(retiredName(l))
    else if (isDeleteEntry(l) || isGroupEntry(l)) None
    else Some(l.takeWhile(_ != '\t'))
  }.collect { case BatchMarkerRe(n) => n }.toSet

  /** THE NAMED-COMMIT RULE, on a version's lines: true when every one of
    * `names` is already listed (that commit landed), false when none is.
    * Some but not all is another commit's claim on part of the set, and
    * throws [[ConcurrentCommitException]] naming the overlap.
    */
  private def alreadyCommitted(path: String, lines: Seq[String], names: Set[String]): Boolean =
    names.nonEmpty && {
      val present = names.intersect(namesIn(lines))
      if (present.nonEmpty && present != names)
        throw new ConcurrentCommitException(
          s"graft manifest table at $path: named commit of " +
            s"${names.toSeq.sorted.mkString(", ")} overlaps an earlier commit of " +
            present.toSeq.sorted.mkString(", "))
      present.nonEmpty
    }

  def dataEntries(lines: Seq[String]): Seq[String] =
    lines.filterNot(l => isDeleteEntry(l) || isRetiredEntry(l) || isGroupEntry(l))

  /** A staged (scratch-store) data line re-listed for adoption into a
    * DIFFERENT table carries the scratch store's own `#seq` counter —
    * meaningless, and dangerous, in the destination: a merge's
    * replacement rows stamped `#seq=1` would read as "prior" to their
    * own delete and vanish. Every adopt-staged-lines path strips the
    * stamp so [[commitVersion]] re-stamps at the adopting commit's
    * actual sequence.
    */
  private[sources] def stripSeq(line: String): String = {
    val i = line.indexOf('\t')
    if (i < 0) line
    else {
      val kept = line.substring(i + 1).split(";").iterator
        .filterNot(_.startsWith(SeqStatKey + "=")).mkString(";")
      if (kept.isEmpty) line.substring(0, i)
      else line.substring(0, i) + "\t" + kept
    }
  }

  /** TWO-LEVEL MANIFEST (the Iceberg manifest-list shape, round 15): a
    * flat manifest is O(total data files) of driver parse per PLAN — at
    * 100 TB with ~10⁶ files that's a ~100 MB read before pruning even
    * starts. So when a commit's loose `data-*` line count passes
    * [[groupThreshold]], [[commitVersion]] folds
    * them into CHILD manifests grouped by partition identity (the
    * file's `@field` set; untagged files shard together), and the LIST
    * file carries one `+<child>\t<agg-stats>` line per child:
    *
    *   - agg zone maps are the hull of the members' (min of lo, max of
    *     hi) — a filter that cannot match the hull cannot match any
    *     member, so group pruning is exactly as conservative as file
    *     pruning ([[mayMatchOn]]'s tests are monotone in interval
    *     containment);
    *   - `@field` bounds stay EXACT (every member shares the value), so
    *     a partition-pruned plan reads only its partition's children;
    *   - blooms union bitwise (member bits ⊆ union bits — no false
    *     negatives introduced); `@bucket` keys survive only when every
    *     member shares the bucket (the bucket pass reads `lo` as THE
    *     bucket, a hull would mis-prune);
    *   - a member column absent from ANY member's stats drops from the
    *     group line (conservative: the group never prunes on it).
    *
    * Child files are immutable and SHARED across versions by reference
    * (exactly like data files): [[commitVersion]] carries group lines
    * verbatim from the previous manifest, so a commit stays O(new
    * files + loose lines), and [[vacuum]] refcounts children through
    * the surviving manifests. [[manifestAt]] expands children by
    * default (every non-planning consumer sees the flat store,
    * unchanged); the SCAN plans from the shallow list and expands only
    * the children its filters cannot exclude ([[ManifestScan]]).
    */
  val GroupMark = '+'

  def isGroupEntry(line: String): Boolean =
    line.nonEmpty && line.charAt(0) == GroupMark

  /** Spill threshold for loose data lines. A `var` solely as a test
    * seam (specs lower it to drive spills with small stores); the
    * default keeps every existing store and registered query below the
    * spill point unless it genuinely accretes hundreds of files.
    */
  private[graft] var groupThreshold: Int = 256

  /** Child-manifest reads since JVM start — the observability seam the
    * planning spec uses to pin "a one-partition query parses only that
    * partition's children".
    */
  private[graft] val childReads = new java.util.concurrent.atomic.AtomicLong(0)

  /** Process-wide child cache: children are IMMUTABLE once written
    * (UUID-named, never appended, shared across versions by reference),
    * so their parsed lines are a pure function of the file identity —
    * one disk read per child per JVM, however many scans Spark builds
    * for a query. Keyed by path:size:mtime (like the parquet footer
    * cache), not path alone: this JVM never reuses a child name, but a
    * store RESTORED or copied into a previously-used directory can
    * re-populate a path, and serving the old bytes then would be a
    * silent wrong answer. Bounded LRU; a vacuumed child's stale entry
    * is harmless. [[childReads]] counts MISSES.
    */
  private val childCache: java.util.Map[String, Seq[String]] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, Seq[String]](256, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, Seq[String]]): Boolean =
          size() > 1024
      })

  private[graft] def readChild(path: String, child: String): Seq[String] = {
    val p = dir(path).resolve(child)
    val key = s"$p:${Files.size(p)}:${Files.getLastModifiedTime(p).toMillis}"
    childCache.computeIfAbsent(key, _ => {
      childReads.incrementAndGet()
      Files.readAllLines(p, StandardCharsets.UTF_8)
        .asScala.iterator.filter(_.nonEmpty).toSeq
    })
  }

  /** Expand group lines in place (members verbatim, order preserved) —
    * the default view every non-planning consumer reads.
    */
  private def expandLines(path: String, lines: Seq[String]): Seq[String] =
    if (!lines.exists(isGroupEntry)) lines
    else lines.flatMap { l =>
      if (isGroupEntry(l)) readChild(path, parseEntry(l)._1.substring(1))
      else Seq(l)
    }

  /** One `+child` list line carrying the members' aggregated prunable
    * stats (hull zone maps, exact shared `@fields`, unioned blooms,
    * summed `#rows`) — the scan prunes whole children on these before
    * reading any member line.
    */
  private[graft] def groupLine(child: String, members: Seq[String]): String = {
    val parsed = members.map(parseEntry)
    val keys = parsed.iterator.flatMap(_._2.keys).toSet
    val aggParts = keys.toSeq.sorted.flatMap { k =>
      val vals = parsed.map(_._2.get(k))
      if (vals.exists(_.isEmpty)) None // conservative: never prune on it
      else {
        val vs = vals.flatten
        if (k == RowStatKey || k.startsWith(NullStatPrefix))
          Some(s"$k=${vs.map(_._1).sum}:${vs.map(_._2).sum}")
        else if (k.startsWith("@bucket("))
          if (vs.forall(_ == vs.head)) Some(s"$k=${vs.head._1}:${vs.head._2}")
          else None
        else Some(s"$k=${vs.map(_._1).min}:${vs.map(_._2).max}")
      }
    }
    val bloomMaps = members.map(parseBlooms)
    val bloomParts = bloomMaps.flatMap(_.keys).toSet.toSeq.sorted.flatMap { c =>
      val bs = bloomMaps.map(_.get(c))
      if (bs.exists(_.isEmpty)) None
      else {
        val arrs = bs.flatten
        if (arrs.exists(_.length != arrs.head.length)) None
        else {
          val u = new Array[Byte](arrs.head.length)
          arrs.foreach { a =>
            var i = 0
            while (i < u.length) { u(i) = (u(i) | a(i)).toByte; i += 1 }
          }
          Some(bloomPiece(c, u))
        }
      }
    }
    val stats = aggParts ++ bloomParts
    s"$GroupMark$child" + (if (stats.isEmpty) "" else "\t" + stats.mkString(";"))
  }

  /** Fold loose `data-*` lines into children when past the threshold.
    * Returns (new line seq, child files written — for race cleanup).
    * Markers (`batch-*`), delete keys, retirements and existing group
    * lines stay in the list verbatim — delete entries NEVER live inside
    * a child, so the shallow list alone always names every pending
    * delete. Pending deletes do NOT block the fold (the sustained
    * GDPR-delete regime must not pin the manifest flat): snapshot-global
    * tombstones apply to every file regardless of position, and
    * prior-only scoping is evaluated by [[SeqStatKey]] commit sequence,
    * which regrouping cannot disturb. The ONE refusal left is the legacy
    * edge — a prior-only delete or loose data line written before
    * sequence stamping existed, whose scoping still leans on line order.
    */
  private def spillGroups(
      path: String, lines: Seq[String],
      threshold: Int): (Seq[String], Seq[Path]) = {
    if (leansOnLineOrder(lines)) return (lines, Seq.empty)
    val (loose, keep) = lines.partition(l =>
      !isRetiredEntry(l) && !isGroupEntry(l) &&
        parseEntry(l)._1.startsWith("data-"))
    if (loose.size <= threshold) return (lines, Seq.empty)
    val d = dir(path)
    val written = scala.collection.mutable.ArrayBuffer.empty[Path]
    val grouped = loose.groupBy(partIdentityKey)
    val (spillable, single) = grouped.values.partition(_.size >= 2)
    val groupLines = spillable.toSeq.sortBy(_.head).map { members =>
      written += writeChild(d, members)._2
      groupLine(written.last.getFileName.toString, members)
    }
    (keep ++ groupLines ++ single.toSeq.flatten, written.toSeq)
  }

  /** Does a pending prior-only delete still scope by line order? True
    * when the delete, or a loose `data-*` line it may reach, predates
    * sequence stamping: regrouping the lines would change what it deletes.
    */
  private def leansOnLineOrder(lines: Seq[String]): Boolean = {
    val priorOnly = lines.filter(l => isDeleteEntry(l) && isPriorOnlyDelete(l))
    priorOnly.exists(l => deleteSeqOf(l).isEmpty) || priorOnly.nonEmpty &&
      dataEntries(lines).map(parseEntry).exists { case (n, st) =>
        n.startsWith("data-") && seqOf(st).isEmpty }
  }

  /** The partition-identity grouping key of a data line: its sorted
    * `@field=v` pieces — files sharing every first-class partition value
    * (or sharing none) shard into the same child.
    */
  private def partIdentityKey(l: String): String = {
    val stats = parseEntry(l)._2
    stats.keys.filter(_.startsWith(PartStatPrefix.toString))
      .toSeq.sorted.map(k => s"$k=${stats(k)}").mkString(";")
  }

  private def writeChild(d: Path, members: Seq[String]): (String, Path) = {
    val child = s"group-${java.util.UUID.randomUUID().toString.take(8)}.list"
    val p = d.resolve(child)
    Files.write(p, members.mkString("\n").getBytes(StandardCharsets.UTF_8))
    (child, p)
  }

  /** REWRITE MANIFESTS (the Iceberg `rewrite_manifests` shape): fold the
    * accreted metadata — every existing child PLUS the loose `data-*`
    * lines — into ONE child per partition identity, as a pure
    * O(metadata) driver rewrite: no data file is opened, moved, or
    * rewritten. [[spillGroups]] only ever folds the NEW commit's loose
    * lines into fresh children (existing `+child` lines pass through by
    * reference, keeping commits O(new lines)), so a long-lived table
    * accretes one child set per spill — after years of daily appends the
    * shallow list itself is long and a partition's expansion touches
    * many children. This op restores the minimal shape: at most one
    * child per partition, singles loose.
    *
    * Safety mirrors every truncating rewrite: the commit is
    * base-version validated (a concurrent commit wins and this rewrite
    * re-derives), prior children stay on disk for time travel until
    * [[vacuum]] (which refcounts them through surviving manifests), and
    * pending deletes compose — entries stay on the top-level list,
    * prior-only scoping rides [[SeqStatKey]]. The one refusal is the
    * legacy edge: a prior-only delete or data line predating sequence
    * stamping still leans on line order, which this rewrite would
    * destroy — fold via [[compactDeletes]] first.
    *
    * Returns (committed version, children before, children after);
    * version is unchanged when the layout is already minimal.
    */
  def rewriteManifests(path: String): (Int, Int, Int) =
    rewrite[(Int, Int, Int)](path, "rewriteManifests") { base =>
      val (foldable, keep) = base.lines.partition(l =>
        !isDeleteEntry(l) && !isRetiredEntry(l) &&
          parseEntry(l)._1.startsWith("data-"))
      if (leansOnLineOrder(base.lines)) throw new IllegalStateException(
        s"rewriteManifests at $path: a pre-sequence-stamping prior-only " +
          "delete is pending and its scoping leans on manifest line " +
          "order, which regrouping destroys — run compactDeletes first")
      val childrenBefore = base.shallow.count(isGroupEntry)
      val grouped = foldable.groupBy(partIdentityKey)
      val (multi, single) = grouped.values.partition(_.size >= 2)
      // already minimal: no loose line shares a partition with anything,
      // and no partition spans two children ⇒ the rewrite would only
      // churn child names
      val looseData = base.shallow.filter(l => !isDeleteEntry(l) &&
        !isRetiredEntry(l) && !isGroupEntry(l) &&
        parseEntry(l)._1.startsWith("data-"))
      val childKeys = base.shallow.filter(isGroupEntry).map(partIdentityKey)
      if (childKeys.distinct.size == childKeys.size &&
          looseData.forall(l => grouped(partIdentityKey(l)).size == 1))
        Left((base.version, childrenBefore, childrenBefore))
      else {
        val groupLines = multi.toSeq.sortBy(_.head).map { members =>
          groupLine(writeChild(dir(path), members)._1, members)
        }
        Right((keep ++ groupLines ++ single.toSeq.flatten,
          nv => (nv, childrenBefore, groupLines.size)))
      }
    }

  def deleteEntriesOf(lines: Seq[String]): Seq[(String, String)] =
    lines.filter(isDeleteEntry).map(parseDeleteEntry)

  /** Header-line suffix under which a commit records its WALL-TIME
    * (`<ddl>\t#commitMs=<millis>`): the durable commit attribute
    * `TIMESTAMP AS OF` needs — file mtimes are not one (copies, touch,
    * restores all rewrite them), but a timestamp INSIDE the atomically
    * published manifest is exactly as immutable as the snapshot itself.
    * Stamps are MONOTONIC per table (`max(now, prev + 1)` at commit), so
    * timestamp→version resolution is unambiguous even under clock skew
    * between committers. `#` can never appear in a DDL type rendering and
    * the tab never survives a column name, so legacy headers (no suffix)
    * keep parsing and legacy stores simply refuse timestamp travel.
    */
  val CommitMsTag = "\t#commitMs="

  /** Strip the commit-time suffix off a manifest header → schema DDL. */
  private def ddlOfHeader(header: String): String = {
    val i = header.indexOf(CommitMsTag)
    if (i < 0) header else header.substring(0, i)
  }

  /** Header suffix persisting the table's declared WRITE LAYOUT
    * (`\t#layout=bloomCols=name;partitionCol=p` after the commit stamp) —
    * what makes `CREATE TABLE … PARTITIONED BY (…)` durable: every
    * later INSERT/append, through the catalog OR the format path,
    * inherits the layout instead of silently landing unpartitioned
    * files (partitioning is table metadata, as in Delta/Iceberg — not a
    * per-write courtesy). Inherited across commits exactly like the
    * DDL; explicit write options still override per write.
    */
  val LayoutTag = "\t#layout="

  private def layoutOfHeader(header: String): Option[String] = {
    val i = header.indexOf(LayoutTag)
    if (i < 0) None
    else {
      val rest = header.substring(i + LayoutTag.length)
      val end = rest.indexOf('\t')
      Some(if (end < 0) rest else rest.substring(0, end))
    }
  }

  private[sources] def encodeLayout(m: Map[String, String]): String = {
    m.keys.foreach(k => require(!k.contains(";") && !k.contains("=") &&
      !k.contains("\t"), s"layout key '$k' carries a reserved character"))
    m.values.foreach(v => require(!v.contains(";") && !v.contains("=") &&
      !v.contains("\t"), s"layout value '$v' carries a reserved character"))
    m.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(";")
  }

  // a retired `codec` key in an old header decodes away (ignored)
  private def decodeLayout(s: String): Map[String, String] =
    ManifestCodec.withoutCodec(s.split(';').iterator.filter(_.nonEmpty).map { kv =>
      val i = kv.indexOf('=')
      kv.substring(0, i) -> kv.substring(i + 1)
    }.toMap)

  private def layoutStringOf(path: String, v: Int): Option[String] = {
    val p = dir(path).resolve(s"manifest-$v.json")
    if (!Files.exists(p)) None
    else {
      val r = Files.newBufferedReader(p, StandardCharsets.UTF_8)
      val header = try r.readLine() finally r.close()
      if (header == null) None else layoutOfHeader(header)
    }
  }

  /** The table's persisted write layout (empty when none declared or no
    * manifest yet) — read from the current manifest's header.
    */
  def tableLayout(path: String): Map[String, String] =
    currentManifestShallow(path).map(_._1)
      .flatMap(v => layoutStringOf(path, v))
      .map(decodeLayout).getOrElse(Map.empty)

  /** The layout persisted at a SPECIFIC version, decoded — what a
    * truncating rewrite derived against version v must stage under
    * (reading `current`'s layout instead would race a concurrent
    * layout-carrying commit; the base-version validation then catches
    * the conflict and the retry re-reads both together).
    */
  private[sources] def layoutAt(path: String, v: Int): Map[String, String] =
    layoutStringOf(path, v).map(decodeLayout).getOrElse(Map.empty)

  /** Thread a persisted write layout into a scratch STAGING write: every
    * layout key (`partitionCol`/`bucketCol`/`bucketCount`/`bloomCols`/
    * `bloomBits`) is also a write option, so rewritten files
    * carry the same first-class `@col`/`@bucket` fields and bloom bits
    * the table's own appends would — without this, every file a
    * maintenance rewrite touches silently loses partition pruning,
    * disables the table-wide grouped-aggregate pushdown guard, and
    * breaks SPJ co-partitioning (the scratch dir has no manifest, so
    * the writer's persisted-layout fallback sees nothing there).
    */
  private[sources] def withLayout(
      w: org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row],
      layout: Map[String, String])
      : org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row] =
    layout.foldLeft(w) { case (acc, (k, v)) => acc.option(k, v) }

  /** The grouping expressions a maintenance rewrite clusters tasks by so
    * the layout-splitting writer packs ONE file per layout group, not one
    * per (group × task): the partition columns themselves, or the bucket
    * id ([[bucketOf]] spelled as `pmod`, which is already the positive
    * mod). Empty for an unlaid-out table.
    */
  private[sources] def layoutGroupCols(
      layout: Map[String, String]): Seq[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{col, lit, pmod}
    layout.get("partitionCol") match {
      case Some(spec) =>
        spec.split(',').iterator.map(_.trim).filter(_.nonEmpty).map(col).toSeq
      case None => layout.get("bucketCol").toSeq.map { c =>
        pmod(col(c), lit(layout.get("bucketCount").map(_.toInt)
          .getOrElse(DefaultBucketCount)))
      }
    }
  }

  /** The wall-time version `v` committed at, read from its immutable
    * manifest header; None for legacy pre-timestamp manifests.
    */
  def commitTimeOf(path: String, version: Int): Option[Long] = {
    val f = dir(path).resolve(s"manifest-$version.json")
    if (!Files.exists(f)) return None
    val r = Files.newBufferedReader(f, StandardCharsets.UTF_8)
    val header = try r.readLine() finally r.close()
    val i = if (header == null) -1 else header.indexOf(CommitMsTag)
    if (i < 0) None
    else {
      // the stamp runs to the next header tag (e.g. #layout) or EOL
      val rest = header.substring(i + CommitMsTag.length)
      val end = rest.indexOf('\t')
      val ts = if (end < 0) rest else rest.substring(0, end)
      try Some(ts.toLong) catch { case _: NumberFormatException => None }
    }
  }

  /** Resolve a wall-time to the newest retained version committed AT OR
    * BEFORE it — the `TIMESTAMP AS OF` contract. Fails loudly on a
    * timestamp earlier than every retained commit (vacuum expired the
    * history, or the caller asked for pre-table time) and on a legacy
    * store with no recorded commit times — never a silent best-effort.
    */
  def versionAtTimestamp(path: String, tsMillis: Long): Int = {
    val versions = listVersions(path)
    require(versions.nonEmpty, s"graft manifest table at $path has no committed manifest")
    val stamped = versions.sorted.flatMap(v => commitTimeOf(path, v).map(v -> _))
    require(stamped.nonEmpty,
      s"graft manifest table at $path records no commit timestamps " +
        "(legacy pre-timestamp store); use VERSION AS OF <n>")
    val at = stamped.filter(_._2 <= tsMillis)
    require(at.nonEmpty,
      s"graft manifest table at $path: timestamp $tsMillis is before the " +
        s"earliest retained commit (version ${stamped.head._1} at " +
        s"${stamped.head._2}); earlier history may have been vacuumed")
    at.last._1
  }

  /** The SMALLEST version committed AT OR AFTER `tsMillis` — the change
    * feed's `startingTimestamp` resolution (Delta's contract: "changes
    * from this instant on"), the mirror of [[versionAtTimestamp]]'s
    * at-or-before snapshot addressing. A timestamp after the newest
    * commit fails loudly (there is nothing to stream from there —
    * never a silent empty feed).
    */
  def versionAtOrAfterTimestamp(path: String, tsMillis: Long): Int = {
    val versions = listVersions(path)
    require(versions.nonEmpty, s"graft manifest table at $path has no committed manifest")
    val stamped = versions.sorted.flatMap(v => commitTimeOf(path, v).map(v -> _))
    require(stamped.nonEmpty,
      s"graft manifest table at $path records no commit timestamps " +
        "(legacy pre-timestamp store); use startingVersion")
    val at = stamped.filter(_._2 >= tsMillis)
    require(at.nonEmpty,
      s"graft manifest table at $path: timestamp $tsMillis is after the " +
        s"newest commit (version ${stamped.last._1} at ${stamped.last._2}) — " +
        "no changes start there")
    at.head._1
  }

  /** Committed manifest versions at `path`, unsorted. */
  private def listVersions(path: String): Seq[Int] = {
    val d = dir(path)
    if (!Files.isDirectory(d)) return Seq.empty
    val listing = Files.list(d)
    try listing.iterator().asScala.map(_.getFileName.toString).collect {
      case s if s.startsWith("manifest-") && s.endsWith(".json") =>
        s.stripPrefix("manifest-").stripSuffix(".json").toInt
    }.toSeq
    finally listing.close()
  }

  /** Pseudo-column key under which a data-file line records its
    * (row count, byte size) pair, reusing the zone-map `k=a:b` syntax:
    * `#rows=<n>:<bytes>`. `#` can never lead a real column name (DDL
    * identifiers), so the entry is invisible to the zone-map filter and
    * feeds [[ManifestScan.estimateStatistics]] — the manifest itself is
    * the statistics catalog, the Iceberg/Delta shape where a 100 TB
    * join's broadcast decision costs one manifest read, not a file scan.
    */
  val RowStatKey = "#rows"

  /** Pseudo-column key under which a data-file line records the manifest
    * VERSION that first committed it: `#seq=<v>:<v>` (the Iceberg
    * data-sequence-number shape). [[commitVersion]] stamps it on every
    * new data line; PRIOR-ONLY delete scoping ("applies to data committed
    * strictly earlier") evaluates against it, which makes the scoping
    * survive line REORDERING — the property that lets [[spillGroups]]
    * fold a manifest while merge deletes are still pending. Child group
    * lines aggregate it to the members' min:max hull like any other stat.
    * Legacy lines without it fall back to manifest-line order (only
    * sound while the list was never regrouped, which [[spillGroups]]
    * guarantees by refusing to fold unstamped lines under prior-only
    * deletes).
    */
  val SeqStatKey = "#seq"

  /** The commit sequence a data line carries, if stamped. */
  def seqOf(stats: Map[String, (Long, Long)]): Option[Long] =
    stats.get(SeqStatKey).map(_._1)

  /** The commit sequence a PRIOR-ONLY delete entry carries
    * (`~<file>\t<col>\tprior\t<seq>`), if stamped. Extra tab fields are
    * invisible to [[parseDeleteEntry]] (forward compatibility).
    */
  def deleteSeqOf(line: String): Option[Long] = {
    val parts = line.substring(1).split('\t')
    if (parts.length > 3) parts(3).toLongOption else None
  }

  /** Does the prior-only delete at line index `di` (sequence `delSeq`)
    * apply to the data entry at line index `i` with stats `stats`? By
    * SEQUENCE when both sides are stamped (reorder-proof), by line order
    * for legacy pairs; [[Snapshot.deletesFor]] is its one caller.
    */
  def priorDeleteApplies(
      delSeq: Option[Long], di: Int,
      stats: Map[String, (Long, Long)], i: Int): Boolean =
    (delSeq, seqOf(stats)) match {
      case (Some(ds), Some(s)) => s < ds
      case _ => di > i
    }

  /** Prefix under which a PARTITION VALUE is recorded as a first-class
    * manifest entry field (`@<col>=<v>:<v>`, reusing the `k=a:b` zone
    * syntax): a file written by the partitioned layout contains ONLY
    * rows with that value, so the scan prunes on it before (and
    * independently of) per-file stats — listing a day instead of a
    * table. `@` can never lead a DDL identifier, so the field is
    * invisible to the zone-map lookup.
    */
  val PartStatPrefix = "@"

  /** Engine-owned bucket function: `((v mod n) + n) mod n` — simple,
    * stable forever (a bucket layout written today must group identically
    * years later), and shared verbatim by the bucketed WRITER, the scan's
    * reported `bucket(n, col)` transform, and [[GraftBucketFunction]]
    * (the V2 function Spark resolves the transform against). One
    * formula, three call sites, zero drift.
    */
  def bucketOf(v: Long, n: Int): Int = (((v % n) + n) % n).toInt

  /** Manifest field key for a bucket layout: `@bucket(<col>,<n>)=b:b` —
    * distinct from the identity partition field `@<col>=v:v` (a `(` can
    * never appear in a DDL identifier), so the scan can tell "this file
    * holds one VALUE" from "this file holds one HASH BUCKET".
    */
  def bucketFieldKey(col: String, n: Int): String = s"bucket($col,$n)"

  /** Manifest data-file line: `<name>` or `<name>\t<col>=<min>:<max>;…` —
    * the per-file ZONE MAP (min/max of every integral column, nulls
    * ignored) recorded by the writer at commit time, plus the
    * [[RowStatKey]] row-count/byte-size pair. Legacy stat-less lines
    * parse to an empty map, so pre-stats manifests keep reading.
    */
  def parseEntry(line: String): (String, Map[String, (Long, Long)]) = {
    val i = line.indexOf('\t')
    if (i < 0) (line, Map.empty)
    else {
      // pieces that aren't `k=lo:hi` shaped (e.g. the `~`-separated
      // bloom payloads, or fields a future writer adds) are SKIPPED —
      // forward compatibility: an old reader ignores stats it doesn't
      // know rather than crashing on them
      val stats = line.substring(i + 1).split(";").iterator
        .filter(_.nonEmpty).flatMap { kv =>
          val eq = kv.indexOf('=')
          val colon = if (eq < 0) -1 else kv.indexOf(':', eq)
          if (eq <= 0 || colon <= eq + 1) None
          else try Some(kv.substring(0, eq) ->
            (kv.substring(eq + 1, colon).toLong, kv.substring(colon + 1).toLong))
          catch { case _: NumberFormatException => None }
        }.toMap
      (line.substring(0, i), stats)
    }
  }

  /** Bloom piece syntax inside the stats fragment: `bloom.<col>~<b64>`
    * (unpadded base64 — its alphabet avoids the `; = :` structural
    * chars, and [[parseEntry]] skips the piece entirely). [[parseBlooms]]
    * recovers (column → bloom bits).
    */
  private[graft] def parseBlooms(line: String): Map[String, Array[Byte]] = {
    val i = line.indexOf('\t')
    if (i < 0) return Map.empty
    line.substring(i + 1).split(";").iterator
      .filter(p => p.startsWith("bloom.") && p.contains('~'))
      .map { p =>
        val tilde = p.indexOf('~')
        p.substring(6, tilde) ->
          java.util.Base64.getDecoder.decode(
            // re-pad to a multiple of 4 for the strict decoder
            p.substring(tilde + 1) + ("=" * ((4 - (p.length - tilde - 1) % 4) % 4)))
      }.toMap
  }

  /** PER-FILE BLOOM FILTERS for STRING columns — the skipping surface
    * zone maps can't give (`.option("bloomCols", "url,doc_sha")` at
    * write time): each staged file records a fixed-size bloom of the
    * column's non-null values in its manifest line, and a string
    * equality / IN probe skips every file whose bloom excludes all
    * probed values — the Parquet/Iceberg bloom-index shape, where a
    * point lookup on a 100 TB corpus opens the handful of files that
    * can possibly hold the key. Membership is engine-owned math
    * (FNV-1a 64 double-hashing, k=4), so a bloom written today is
    * readable forever; false positives only cost a residual-filtered
    * read, never correctness. Default 65536 bits (8 KiB/col/file ≈ 1%
    * FP at ~6.8k values) — size with `bloomBits` to the file's value
    * count as a production writer would per row group.
    */
  val DefaultBloomBits = 65536

  /** The bucketed layout's default bucket count when the persisted
    * layout carries `bucketCol` without `bucketCount` — shared by the
    * writer's option default and [[layoutGroupCols]] (the two must agree
    * or a maintenance rewrite would pack across bucket boundaries).
    */
  val DefaultBucketCount = 16

  private[sources] def bloomHash(s: String, seed: Long): Long = {
    var h = 0xcbf29ce484222325L ^ seed
    val bytes = s.getBytes(StandardCharsets.UTF_8)
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  private[graft] def bloomAdd(bits: Array[Byte], s: String): Unit = {
    val m = bits.length * 8L
    val h1 = bloomHash(s, 0L)
    val h2 = bloomHash(s, 0x9e3779b97f4a7c15L) | 1L // odd stride
    var i = 0
    while (i < 4) {
      val idx = java.lang.Long.remainderUnsigned(h1 + i * h2, m)
      bits((idx >>> 3).toInt) = (bits((idx >>> 3).toInt) | (1 << (idx & 7L).toInt)).toByte
      i += 1
    }
  }

  private[graft] def bloomMightContain(bits: Array[Byte], s: String): Boolean = {
    val m = bits.length * 8L
    val h1 = bloomHash(s, 0L)
    val h2 = bloomHash(s, 0x9e3779b97f4a7c15L) | 1L
    var i = 0
    while (i < 4) {
      val idx = java.lang.Long.remainderUnsigned(h1 + i * h2, m)
      if ((bits((idx >>> 3).toInt) & (1 << (idx & 7L).toInt)) == 0) return false
      i += 1
    }
    true
  }

  private[graft] def bloomPiece(col: String, bits: Array[Byte]): String =
    s"bloom.$col~${java.util.Base64.getEncoder.withoutPadding.encodeToString(bits)}"

  /** COLUMN-LEVEL STATISTICS for the optimizer (round 16): each data
    * file records, per eligible column, a null count
    * (`#nulls.<col>=n:n`, the zone grammar) and a small HyperLogLog NDV
    * sketch (`ndv.<col>~<b64>`, the bloom piece grammar — 128 one-byte
    * registers ≈ 9% standard error, plenty for a join-cost model).
    * Registers union by MAX, so the scan estimates the PLANNED file
    * set's distinct count at plan time without opening a file, and
    * [[ManifestScan.estimateStatistics]] surfaces
    * (distinctCount, min, max, nullCount) through DSv2 column
    * statistics — Spark's CBO then costs and REORDERS joins over
    * manifest tables with no external ANALYZE, the Iceberg
    * manifest-as-statistics-catalog shape. Old stat-less lines simply
    * withhold the column (per-stat all-files-or-nothing).
    */
  val NdvRegisters = 128
  val NdvPiecePrefix = "ndv."
  val NullStatPrefix = "#nulls."

  /** splitmix64 finalizer — avalanches zone longs and byte-fold hashes
    * into the uniform 64-bit stream HLL needs.
    */
  private[sources] def ndvHash(h0: Long): Long = {
    var z = h0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private[sources] def ndvAdd(regs: Array[Byte], hash: Long): Unit = {
    val idx = (hash & (NdvRegisters - 1)).toInt
    val rank = java.lang.Long.numberOfTrailingZeros(hash >>> 7) + 1
    if (regs(idx) < rank) regs(idx) = rank.toByte
  }

  /** Classic HLL estimate with the small-range linear-counting patch. */
  private[sources] def ndvEstimate(regs: Array[Byte]): Long = {
    val m = regs.length
    var invSum = 0.0
    var zeros = 0
    var i = 0
    while (i < m) {
      invSum += java.lang.Math.pow(2.0, -regs(i).toDouble)
      if (regs(i) == 0) zeros += 1
      i += 1
    }
    val alpha = 0.7213 / (1 + 1.079 / m)
    var e = alpha * m * m / invSum
    if (e <= 2.5 * m && zeros > 0) e = m * math.log(m.toDouble / zeros)
    math.max(1L, math.round(e))
  }

  private[sources] def ndvPiece(col: String, regs: Array[Byte]): String =
    s"$NdvPiecePrefix$col~${java.util.Base64.getEncoder.withoutPadding.encodeToString(regs)}"

  private[graft] def parseNdvs(line: String): Map[String, Array[Byte]] = {
    val i = line.indexOf('\t')
    if (i < 0) return Map.empty
    line.substring(i + 1).split(";").iterator
      .filter(p => p.startsWith(NdvPiecePrefix) && p.contains('~'))
      .map { p =>
        val tilde = p.indexOf('~')
        p.substring(NdvPiecePrefix.length, tilde) ->
          java.util.Base64.getDecoder.decode(
            p.substring(tilde + 1) + ("=" * ((4 - (p.length - tilde - 1) % 4) % 4)))
      }.toMap
  }

  /** THE OWNED-NAME RULE: what a name directly under a table directory
    * is to the store, or None for a name the store never makes (a table
    * may share its directory with foreign files). [[vacuum]] sweeps only
    * owned names and [[GraftCatalog.dropTable]] deletes only owned names.
    * Store files are the names manifest lines reach: data files (parquet,
    * and retired text-codec `.rows` debris), batch markers, child lists
    * and delete keys. A store file's Hadoop checksum sidecar
    * (`.<file>.crc`, written beside every data file an append writes in
    * place) is part of that file: it lives and dies with it. Scratch is
    * dot-prefixed: [[staged]]'s store, a commit's temp manifest, and
    * `.merge_keys_` key-render dirs that older builds kept beside the stage.
    */
  private[graft] def owned(name: String): Option[Owned.Value] =
    if (name.matches("manifest-\\d+\\.json")) Some(Owned.Manifest)
    else if (BatchMarkerRe.matches(name) || Seq("data-" -> ".parquet",
        "data-" -> ".rows", "group-" -> ".list", "delete-" -> ".keys")
        .exists { case (p, x) => name.startsWith(p) && name.endsWith(x) })
      Some(Owned.StoreFile)
    else if (sidecarBase(name).exists(owned(_).contains(Owned.StoreFile)))
      Some(Owned.Sidecar)
    else if (Seq(StagePrefix, ManifestStagePrefix, ".merge_keys_").exists(name.startsWith))
      Some(Owned.Scratch)
    else None

  private[graft] object Owned extends Enumeration {
    val Manifest, StoreFile, Sidecar, Scratch = Value
  }

  /** The file a `.<file>.crc` checksum sidecar belongs to. */
  private def sidecarBase(name: String): Option[String] =
    if (name.length > 5 && name.startsWith(".") && name.endsWith(".crc"))
      Some(name.substring(1, name.length - 4))
    else None

  /** Delete a store file together with its checksum sidecar. */
  private[sources] def deleteStoreFile(d: Path, name: String): Unit = {
    Files.deleteIfExists(d.resolve(name))
    Files.deleteIfExists(d.resolve(s".$name.crc"))
  }

  private val StagePrefix = ".merge_stage_"
  private val ManifestStagePrefix = ".manifest_stage"

  /** The file a manifest line names — data file, delete keys or child
    * list — or None for a retired marker, which names no file.
    */
  private def fileOf(line: String): Option[String] =
    if (isRetiredEntry(line)) None
    else if (isDeleteEntry(line)) Some(parseDeleteEntry(line)._1)
    else if (isGroupEntry(line)) Some(parseEntry(line)._1.substring(1))
    else Some(parseEntry(line)._1)

  /** Retention: keep ONLY the newest manifest; delete older manifest
    * files and every data file the survivor does not reference.
    * Returns (manifests deleted, data files deleted). Snapshot isolation
    * ends where retention begins — exactly like Delta/Iceberg VACUUM,
    * time travel to expired versions now fails with the versions listed,
    * and a production deployment would gate this on a retention window
    * rather than "all but newest". Staged tmp files (in-flight writers)
    * are untouched: they are not `data-*` files yet.
    */
  def vacuum(path: String): (Int, Int) = vacuum(path, keepVersions = 1)

  /** Retention-windowed vacuum: keep the newest `keepVersions` manifests
    * (time travel inside the window keeps working — the production
    * retention gate the all-but-newest form lacked), expire everything
    * older, and sweep files no surviving manifest references.
    */
  def vacuum(path: String, keepVersions: Int): (Int, Int) = currentManifest(path) match {
    case None => (0, 0)
    case Some((v, _, _)) =>
      require(keepVersions >= 1, s"vacuum: keepVersions must be >= 1, got $keepVersions")
      vacuumBelow(path, v - keepVersions + 1)
  }

  /** AGE-based retention — the contract operators actually configure
    * ("retain 7 days of time travel"): expire every version whose
    * monotonic `#commitMs` stamp is older than `olderThanMs` before now,
    * keep everything inside the window, and NEVER expire the current
    * version (a zero-ms retention degenerates to keep-newest-only, it
    * can never empty the table). Versions and commit stamps are both
    * monotonic, so "first version inside the window" is a clean floor.
    * Returns (manifests deleted, data files deleted).
    */
  def vacuumOlderThan(path: String, olderThanMs: Long): (Int, Int) =
    currentManifest(path) match {
      case None => (0, 0)
      case Some((v, _, _)) =>
        require(olderThanMs >= 0, s"vacuumOlderThan: negative window $olderThanMs")
        val cutoff = System.currentTimeMillis() - olderThanMs
        val versions = listVersions(path).sorted
        // an UNSTAMPED version (legacy pre-timestamp store) cannot be
        // dated — it is conservatively INSIDE the window (`forall`:
        // never sweep what can't be proven stale). `exists` here would
        // skip every unstamped version and let the floor fall through to
        // current, silently sweeping a whole legacy store regardless of
        // the configured retention.
        val floor = versions
          .find(ver => commitTimeOf(path, ver).forall(_ >= cutoff))
          .getOrElse(v) // every version is provably stale: keep only current
        vacuumBelow(path, math.min(floor, v))
    }

  private def vacuumBelow(path: String, rawFloor: Int): (Int, Int) =
    currentManifest(path) match {
      case None => (0, 0)
      case Some(_) =>
      val d = dir(path)
      val listing = Files.list(d)
      val names =
        try listing.iterator().asScala.map(_.getFileName.toString).toList
        finally listing.close()
      val oldManifests = names.filter { n =>
        n.startsWith("manifest-") && n.endsWith(".json") &&
          n.stripPrefix("manifest-").stripSuffix(".json").toInt < rawFloor
      }
      // every file name a manifest's lines reach: data/delete names on
      // loose lines, plus — for group lines — the CHILD manifest itself
      // AND every member it lists (children are refcounted exactly like
      // data files; a missing child of an expired manifest contributes
      // nothing — its members are already swept or aging as orphans)
      def reachable(m: String): Iterator[String] = {
        val ls = Files.readAllLines(d.resolve(m)).asScala.drop(1)
        ls.iterator.flatMap(l => fileOf(l).iterator.flatMap { f =>
          val child = d.resolve(f)
          if (isGroupEntry(l) && Files.exists(child))
            Iterator.single(f) ++ Files.readAllLines(child).asScala.iterator
              .filter(_.nonEmpty).map(parseEntry(_)._1)
          else Iterator.single(f)
        })
      }
      // files referenced by ANY surviving manifest stay
      val referenced: Set[String] = names.iterator
        .filter(n => n.startsWith("manifest-") && n.endsWith(".json") &&
          !oldManifests.contains(n))
        .flatMap(reachable).toSet
      // expired history (referenced by an OLD manifest being deleted
      // below) sweeps immediately; a file referenced by NO manifest at
      // all may be an in-flight writer's just-linked data (mergeKeys
      // publishes its key file and hard-links its rows BEFORE the
      // commit), so the never-referenced set gets the same 1 h age gate
      // as the staging dirs — a crashed job's debris is hours old, a
      // live merge's links are seconds old
      val expired: Set[String] = oldManifests.iterator.flatMap(reachable).toSet
      val sweepBefore = System.currentTimeMillis() - 3600000L
      def aged(n: String): Boolean = {
        val p = d.resolve(n)
        !Files.exists(p) || Files.getLastModifiedTime(p).toMillis < sweepBefore
      }
      val orphans = names.filter { n =>
        owned(n).contains(Owned.StoreFile) && !referenced.contains(n) &&
          (expired.contains(n) || aged(n))
      }
      (oldManifests ++ orphans).foreach(deleteStoreFile(d, _))
      // a sidecar whose file is already gone: the same 1 h gate
      names.filter(n => owned(n).contains(Owned.Sidecar) &&
          sidecarBase(n).exists(f => !Files.exists(d.resolve(f))) && aged(n))
        .foreach(n => Files.deleteIfExists(d.resolve(n)))
      // crashed ops' scratch ([[staged]]'s store, a commit's temp
      // manifest): normally removed by the op's own finally; a hard crash
      // can strand one. Age-gated (1 h) on the HEARTBEAT mtime — a staged
      // op re-touches its scratch after every step, so a live op is never
      // swept from under it no matter how long any single step takes.
      names.filter(n => owned(n).contains(Owned.Scratch))
        .map(n => d.resolve(n))
        .filter(p => Files.getLastModifiedTime(p).toMillis < sweepBefore)
        .foreach(Fs.deleteRecursively)
      (oldManifests.size, orphans.size)
  }

  /** Optimistic hard-link commit shared by the DSv2 write path and
    * [[deleteKeys]]: publishes (previous lines, or nothing when
    * `replacePrev`) ++ `addLines` as `manifest-<v+1>.json` via temp file +
    * CREATE-IF-ABSENT link — link() is atomic and FAILS on an existing
    * target, unlike rename, which silently replaces it, so two concurrent
    * committers must both survive; the loser re-reads the winner's
    * manifest (now including the winner's lines) and retries at the next
    * version. `schemaDdl` None inherits the current manifest's DDL (and
    * requires one to exist). `names` (for [[commitNamed]]) makes the
    * commit IDEMPOTENT on commit names ([[alreadyCommitted]] against the
    * freshly-read previous snapshot: all listed returns that version
    * without publishing) — checked INSIDE the retry loop, so even two
    * concurrent replays of one micro-batch commit exactly once. Returns
    * the committed (or already-committed) version.
    */
  private[sources] def commitVersion(
      path: String, addLines: Seq[String],
      replacePrev: Boolean, schemaDdl: Option[String],
      names: Set[String] = Set.empty,
      expectedBase: Option[Int] = None,
      layoutSpec: Option[String] = None,
      spillThreshold: Option[Int] = None): Int = {
    val d = dir(path)
    Files.createDirectories(d)
    var attempts = 0
    var lost: Throwable = null
    while (attempts < 100) {
      attempts += 1
      // SHALLOW read: existing group lines carry forward by REFERENCE
      // (children are immutable, shared across versions like data
      // files), keeping the commit O(loose + new lines), never
      // O(total files)
      val (prevV, prevLines, prevDdl) = currentManifestShallow(path) match {
        case Some((v, lines, ddl)) =>
          (v, if (replacePrev) Seq.empty[String] else lines, Some(ddl))
        case None => (0, Seq.empty[String], None)
      }
      // BASE-VERSION VALIDATION for truncating rewrites: a replacePrev
      // commit REPLACES the whole line set, so any commit that landed
      // after the caller derived its rewrite would be silently dropped
      // from the new current (the classic lost update — Delta/Iceberg
      // fail such a commit and re-validate). Appends don't need this:
      // the retry loop re-reads the winner's lines and layers on top.
      expectedBase.filter(_ != prevV).foreach { eb =>
        throw new ManifestTable.ConcurrentCommitException(
          s"graft manifest table at $path: rewrite derived from version " +
            s"$eb but current is $prevV — a concurrent commit landed; " +
            "re-derive the rewrite from the new current snapshot")
      }
      if (alreadyCommitted(path, prevLines, names)) return prevV
      // SCHEMA EVOLUTION (additive, Iceberg's add-column shape): when an
      // append carries a schema and the table already has one, the
      // committed DDL becomes the WIDER of the two — provided one is a
      // NAME+TYPE PREFIX of the other: a wider append evolves the
      // table (old files null-pad the new trailing columns), a
      // narrower append is an old-schema writer whose files null-pad
      // under the wide DDL, and anything else (reordered, retyped,
      // dropped-in-the-middle) would read old files under a schema
      // they were not written with — REJECTED loudly. Truncating writes
      // replace the schema outright. Decided INSIDE the retry loop, so a
      // concurrent evolution race converges on the widest committed
      // schema.
      val ddl = (schemaDdl, prevDdl) match {
        case (Some(s), Some(p)) if !replacePrev && s != p =>
          val (sp, pp) = (StructType.fromDDL(s), StructType.fromDDL(p))
          def extension(wide: StructType, narrow: StructType): Boolean =
            wide.fields.length >= narrow.fields.length &&
              narrow.fields.zip(wide.fields).forall { case (a, b) =>
                a.name == b.name && a.dataType == b.dataType }
          if (extension(sp, pp)) s
          else if (extension(pp, sp)) p
          else throw new IllegalArgumentException(
            s"graft manifest table at $path: append schema is not an " +
              s"additive extension of the table schema (each file's columns " +
              s"must be a prefix of the table's order — only trailing ADD " +
              s"COLUMN evolves); table=[$p] append=[$s]")
        case _ =>
          schemaDdl.orElse(prevDdl).getOrElse(throw new IllegalArgumentException(
            s"graft manifest table at $path has no committed manifest to inherit a schema from"))
      }
      // commit wall-time, monotonic per table: resolution of TIMESTAMP AS
      // OF must be order-consistent with versions even when two committers'
      // clocks disagree, so a commit never stamps at-or-before its parent
      val prevTs = if (prevV == 0) 0L else commitTimeOf(path, prevV).getOrElse(0L)
      val ts = math.max(System.currentTimeMillis(), prevTs + 1)
      // the declared write layout persists across commits like the DDL
      val layout = layoutSpec.orElse(
        if (prevV == 0) None else layoutStringOf(path, prevV))
      // SEQUENCE STAMPING ([[SeqStatKey]]): every data line this commit
      // introduces records the version it lands in, and a prior-only
      // delete records the same — inside the retry loop, so a lost race
      // re-stamps at the version actually won. Carried-forward prevLines
      // keep their original stamps (they ARE older data); survivor lines
      // a truncating rewrite re-lists arrive already stamped and pass
      // through untouched.
      val v = prevV + 1
      val stamped = addLines.map { l =>
        if (isDeleteEntry(l))
          if (isPriorOnlyDelete(l) && deleteSeqOf(l).isEmpty) s"$l\t$v" else l
        else if (isRetiredEntry(l) || isGroupEntry(l)) l
        else if (seqOf(parseEntry(l)._2).isDefined) l
        else if (l.indexOf('\t') < 0) s"$l\t$SeqStatKey=$v:$v"
        else s"$l;$SeqStatKey=$v:$v"
      }
      // two-level spill: fold loose data lines into child manifests when
      // past the threshold (see [[GroupMark]]); children written before
      // the list link, unlinked again if the version race is lost
      val (finalLines, spilledChildren) =
        spillGroups(path, prevLines ++ stamped,
          spillThreshold.getOrElse(groupThreshold))
      val content =
        (s"$ddl$CommitMsTag$ts${layout.fold("")(LayoutTag + _)}" +:
          finalLines).mkString("\n")
      val tmp = Files.createTempFile(d, ManifestStagePrefix, ".tmp")
      Files.write(tmp, content.getBytes(StandardCharsets.UTF_8),
        StandardOpenOption.TRUNCATE_EXISTING)
      try {
        Files.createLink(d.resolve(s"manifest-${prevV + 1}.json"), tmp)
        return prevV + 1
      } catch {
        case e: java.nio.file.FileAlreadyExistsException =>
          spilledChildren.foreach(Files.deleteIfExists(_))
          lost = e
      } finally Files.deleteIfExists(tmp)
    }
    throw new IllegalStateException(
      s"manifest commit at $path lost 100 consecutive version races", lost)
  }

  /** EQUALITY DELETE (merge-on-read): commit `keys` as deleted on integral
    * column `keyCol`. Writes a small `delete-*.keys` file (one key per
    * line — deletes are REQUESTS, not corpus: a GDPR erasure list, not a
    * data-sized set) and publishes a new manifest version referencing it;
    * no data file is touched, so
    *   - prior snapshots still time-travel to the pre-delete rows,
    *   - the CURRENT snapshot's scan anti-filters the keys at read time,
    *   - [[compactDeletes]] later rewrites the data without the rows and
    *     drops the delete entries (the LSM/Iceberg maintenance shape).
    * Re-deleting already-deleted keys is idempotent at read time (set
    * semantics). Returns the committed version.
    */
  def deleteKeys(path: String, keyCol: String, keys: Seq[Long]): Int = {
    require(keys.nonEmpty, "deleteKeys: empty key set")
    val schema = readSchemaFromManifest(path)
    val f = schema.fields.find(_.name == keyCol).getOrElse(
      throw new IllegalArgumentException(
        s"deleteKeys: no column '$keyCol' in ${schema.toDDL}"))
    require(f.dataType == LongType || f.dataType == IntegerType,
      s"deleteKeys: equality deletes support integral key columns; '$keyCol' is ${f.dataType}")
    val d = dir(path)
    val name = s"delete-${java.util.UUID.randomUUID().toString.take(8)}.keys"
    Files.write(d.resolve(name),
      keys.distinct.sorted.map(_.toString).asJava, StandardCharsets.UTF_8)
    commitVersion(path, Seq(s"$DeleteMark$name\t$keyCol"),
      replacePrev = false, schemaDdl = None)
  }

  /** A staged write ([[staged]]): its scratch store, and the data lines
    * its scratch manifest lists, `#seq` stripped ([[stripSeq]]) and each
    * file already linked into the table.
    */
  private final case class Staged(scratch: Path, lines: Seq[String], ddl: String) {
    /** Re-touch the scratch for [[vacuum]]'s 1 h gate, which then
      * measures time since the op last made progress, not since it began.
      */
    def heartbeat(): Unit = Files.setLastModifiedTime(scratch,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
  }

  /** THE STAGING PATH of every op that adds rows other than a plain append
    * ([[mergeKeys]], [[commitNamed]] and the four truncating rewrites):
    * `df` is written by a distributed DSv2 write into ONE dot-prefixed
    * scratch store under the table's `layout` (plus `options`), its data
    * files are hard-linked into the table (same filesystem), and `body`
    * runs on the [[Staged]] result; the scratch goes in one finally.
    *
    * EMPTY RULE: the writer commits a scratch manifest for every
    * successful write, empty or not, so a missing one is a failed write
    * and throws, while a write of zero rows stages zero data lines and
    * the op commits what its lines say — a rewrite that keeps no row
    * commits a version listing no data file (earlier versions still
    * time-travel). A failure before the op's own commit leaves at most
    * unreferenced links, swept by [[vacuum]] past its age gate.
    */
  private def staged[T](
      path: String, df: org.apache.spark.sql.DataFrame,
      layout: Map[String, String], options: Map[String, String] = Map.empty)(
      body: Staged => T): T = {
    val d = dir(path)
    Files.createDirectories(d)
    val scratch = Files.createTempDirectory(d, StagePrefix)
    try {
      withLayout(df.write.format("graft.sources.ManifestTable")
        .option("path", scratch.toString), layout)
        .options(options).mode("append").save()
      val (_, lines, ddl) = currentManifest(scratch.toString).getOrElse(
        throw new IllegalStateException(
          s"staging write at $path produced no manifest at $scratch"))
      val s = Staged(scratch, dataEntries(lines).map(stripSeq), ddl)
      s.heartbeat()
      s.lines.foreach { l =>
        val name = parseEntry(l)._1
        Files.createLink(d.resolve(name), scratch.resolve(name))
      }
      s.heartbeat()
      body(s)
    } finally if (Files.exists(scratch)) Fs.deleteRecursively(scratch)
  }

  /** A data or group line, parsed once: name, stats, and the raw line
    * its bloom and NDV pieces decode from (lazily, at most once).
    * `index` is the line's place on the SHALLOW list; a group's members
    * share their group's index, which keeps their order against every
    * delete entry, since delete entries never live inside a child.
    */
  private[graft] final class Entry(val line: String, val index: Int) {
    val (name, stats) = parseEntry(line)
    lazy val blooms: Map[String, Array[Byte]] = parseBlooms(line)
    lazy val ndvs: Map[String, Array[Byte]] = parseNdvs(line)
  }

  /** A delete line: key file, key column, scope, `#seq` and shallow index. */
  private[graft] final case class DeleteEntry(
      file: String, column: String, priorOnly: Boolean, seq: Option[Long], index: Int)

  /** THE READ MODEL: what version `version` of the store at `path`
    * says, parsed once from its shallow list. Every reader plans from
    * one: the batch scan and its aggregate pushdown, both micro-batch
    * streams, the change feed, and the truncating rewrites ([[rewrite]]).
    * Version 0 is the empty pre-history (no manifest yet).
    *
    * DELETE SCOPING is stated here once, in [[deletesFor]]: a plain
    * entry ([[deleteKeys]]) applies to every data file of the snapshot,
    * including files appended after it; a prior-only entry
    * ([[mergeKeys]]) applies to data committed strictly earlier, by
    * `#seq` ([[SeqStatKey]]) when both lines carry one and by line order
    * otherwise.
    */
  private[graft] final class Snapshot(
      val path: String, val version: Int, val shallow: Seq[String]) {
    /** The expanded line set (children inlined), as rewrites re-list it. */
    lazy val lines: Seq[String] = expandLines(path, shallow)

    private val (deleteLines, entryLines) = shallow.zipWithIndex
      .filterNot(l => isRetiredEntry(l._1)).partition(l => isDeleteEntry(l._1))

    val deletes: Seq[DeleteEntry] = deleteLines.map { case (l, i) =>
      val (file, column) = parseDeleteEntry(l)
      DeleteEntry(file, column, isPriorOnlyDelete(l), deleteSeqOf(l), i)
    }

    private val entries = entryLines.map { case (l, i) => new Entry(l, i) }

    /** Data files that may hold a row matching every filter, in line
      * order, 0-row markers dropped. A group whose aggregate stats fail
      * [[mayMatch]] is never opened: every member's stats lie inside the
      * group's hull, and each pass is monotone under that containment.
      */
    def files(filters: Seq[org.apache.spark.sql.sources.Filter]): Seq[Entry] =
      entries.flatMap { e =>
        if (!isGroupEntry(e.line)) Seq(e)
        else if (!mayMatch(e, filters)) Seq.empty
        else readChild(path, e.name.substring(1)).map(new Entry(_, e.index))
      }.filter(e => !e.stats.get(RowStatKey).exists(_._1 == 0L) && mayMatch(e, filters))

    lazy val dataFiles: Seq[Entry] = files(Seq.empty)

    /** The commit names ([[commitNamed]]) this snapshot holds, live or retired. */
    lazy val names: Set[String] = namesIn(shallow)

    /** The delete entries that apply to data file `f` of this snapshot. */
    def deletesFor(f: Entry): Seq[DeleteEntry] = deletes.filter(d =>
      !d.priorOnly || priorDeleteApplies(d.seq, d.index, f.stats, f.index))

    /** The key sets this snapshot's delete entries name (key file →
      * (column, keys)), read once on first use. Deletes are REQUESTS
      * (erasure and update-key lists), not corpus, so the sets ship to
      * every reader task: a broadcast of the delete list, the Iceberg
      * merge-on-read shape.
      */
    lazy val keys: Map[String, (String, Set[Long])] = deletes.map { d =>
      d.file -> (d.column, Files.readAllLines(dir(path).resolve(d.file),
        StandardCharsets.UTF_8).asScala.iterator.filter(_.nonEmpty).map(_.toLong).toSet)
    }.toMap

    /** What this snapshot adds over the earlier `prev`: its new data files
      * and its new delete entries. A range that REMOVED a data file
      * (truncating overwrite, compaction) is a rewrite, not a change: the
      * change feed and the streaming source both refuse it here.
      */
    def diff(prev: Snapshot): (Seq[Entry], Seq[DeleteEntry]) = {
      val now = dataFiles.map(_.name).toSet
      val before = prev.dataFiles.map(_.name).toSet
      val removed = (before -- now).toSeq.sorted
      if (removed.nonEmpty) throw new IllegalStateException(
        s"graft manifest table at $path: versions (${prev.version}, $version] " +
          s"removed data files (${removed.take(5).mkString(", ")}) — truncating " +
          "rewrites/compaction are not expressible as a change feed or an " +
          "append stream; restart feeds from the compacted state")
      val prevDeletes = prev.deletes.map(_.file).toSet
      (dataFiles.filterNot(f => before(f.name)), deletes.filterNot(d => prevDeletes(d.file)))
    }
  }

  private[graft] object Snapshot {
    def at(path: String, version: Option[Int]): Snapshot =
      (if (version.contains(0)) None else manifestAtRaw(path, version))
        .fold(new Snapshot(path, 0, Seq.empty))(m => new Snapshot(path, m._1, m._2))
  }

  /** The key sets of the named delete entries, unioned per key column.
    * A planned entry with no loaded key set fails the read, naming it:
    * skipping it would resurrect deleted rows.
    */
  private[sources] def keySets(
      keys: Map[String, (String, Set[Long])], entries: Seq[String],
      file: String): Seq[(String, Set[Long])] =
    entries.map(e => keys.getOrElse(e, throw new IllegalStateException(
      s"manifest delete entry $e planned for $file has no key set")))
      .groupBy(_._1).map { case (c, es) => (c, es.iterator.flatMap(_._2).toSet) }.toSeq

  /** THE BASE-VALIDATED LOOP of every truncating rewrite
    * ([[rewriteManifests]], [[compactSmallFiles]], [[deleteMatching]],
    * [[compactDeletes]], [[compactZOrder]]): read the current snapshot;
    * `derive` answers `Left(result)` for "nothing to do" (no commit) or
    * `Right((lines, report))`; run [[preCommitHook]]; commit `lines`
    * REPLACING the line set, validated against the snapshot's version,
    * and return `report(committed version)`. A lost race
    * ([[ConcurrentCommitException]]: a commit landed in between, which a
    * blind replace would drop) unlinks every file the attempt's lines
    * name that the base did not — staged data files, new child lists —
    * and re-derives from the new current; the fifth loss rethrows.
    */
  private def rewrite[R](path: String, op: String)(
      derive: Snapshot => Either[R, (Seq[String], Int => R)]): R = {
    var attempts = 0
    var lost: ConcurrentCommitException = null
    while (attempts < 5) {
      attempts += 1
      val base = Snapshot.at(path, None)
      if (base.version == 0) throw new IllegalStateException(s"$op: no manifest at $path")
      derive(base) match {
        case Left(result) => return result
        case Right((lines, report)) =>
          preCommitHook()
          try return report(commitVersion(path, lines, replacePrev = true,
            schemaDdl = None, expectedBase = Some(base.version)))
          catch {
            case e: ConcurrentCommitException =>
              val baseFiles = (base.shallow ++ base.lines).flatMap(fileOf).toSet
              lines.flatMap(fileOf).filterNot(baseFiles)
                .foreach(f => Files.deleteIfExists(dir(path).resolve(f)))
              lost = e
          }
      }
    }
    throw lost
  }

  /** The rewrites that copy rows into new files refuse while
    * equality-delete entries are pending: a rewrite stamps the rows it
    * copies at its own `#seq` ([[SeqStatKey]]), so a pending prior-only
    * delete would stop reaching them and its rows would come back.
    */
  private def refusePendingDeletes(op: String, base: Snapshot): Unit =
    require(base.deletes.isEmpty,
      s"$op at ${base.path}: equality-delete entries pending — run compactDeletes " +
        "first (a rewrite stamps the rows it copies at its own #seq, so a " +
        "pending prior-only delete would no longer reach them)")

  /** MERGE / UPSERT (merge-on-read): apply `updates` — full rows in the
    * table's schema, keyed by integral `keyCol` — as ONE atomic manifest
    * version: a delete entry for the update keys followed by the update
    * rows' data files, in that order. The delete commits with the
    * PRIOR-ONLY scope ([[PriorOnlyScope]]: it applies only to data
    * committed EARLIER, [[Snapshot.deletesFor]]), which exempts the
    * commit's own inserts from its own delete, so a reader sees either the
    * wholly-old or the wholly-new state, never both copies of a key and
    * never neither; plain [[deleteKeys]] tombstones keep their stated
    * snapshot-global semantic. Keys present in the table are REPLACED;
    * novel keys
    * simply insert (the delete of a non-existent key is a no-op) — the
    * standard MERGE WHEN MATCHED / NOT MATCHED pair.
    *
    * Scale + crash shape: the update rows are staged by a DISTRIBUTED
    * DSv2 write into a dot-prefixed scratch dir, hard-linked into the
    * table, and published by the shared optimistic [[commitVersion]];
    * the key list renders through a Spark write as well (no row
    * collect) and is delete-list-bounded AT READ time by the same
    * argument as [[deleteKeys]] (update batches are request-sized
    * relative to the table; a table-sized rewrite is [[compactDeletes]]'
    * job). A crash before the commit leaves only unreferenced files —
    * swept by [[vacuum]], invisible to every reader. Returns the
    * committed version.
    *
    * `updates` is evaluated TWICE (row staging, key render) and must be
    * DETERMINISTIC — a sampled or otherwise nondeterministic frame could
    * stage one row set and delete another's keys. The same contract as
    * any retried Spark write.
    */
  def mergeKeys(
      spark: org.apache.spark.sql.SparkSession, path: String,
      keyCol: String, updates: org.apache.spark.sql.DataFrame): Int = {
    val schema = readSchemaFromManifest(path)
    require(
      updates.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
        schema.fields.map(f => (f.name, f.dataType)).toSeq,
      s"mergeKeys: update schema ${updates.schema.toDDL} != table schema ${schema.toDDL}")
    val f = schema.fields.find(_.name == keyCol).getOrElse(
      throw new IllegalArgumentException(
        s"mergeKeys: no column '$keyCol' in ${schema.toDDL}"))
    require(f.dataType == LongType || f.dataType == IntegerType,
      s"mergeKeys: merge keys must be integral; '$keyCol' is ${f.dataType}")
    // 1. stage the update rows as manifest data files (distributed) —
    //    the ONLY evaluation of `updates`; everything downstream derives
    //    from these committed staging rows, so even a nondeterministic
    //    frame cannot stage one row set and tombstone a different key
    //    set. Staged under the table's persisted layout: merged-in
    //    replacement rows keep the same @partition/@bucket/bloom
    //    metadata any direct append to the table would carry
    staged(path, updates, tableLayout(path)) { s =>
      // 2. render the key file FROM THE STAGED ROWS into the scratch (one
      //    small text file; no second pass over `updates`)
      val keysOut = s.scratch.resolve("keys")
      spark.read.format("graft.sources.ManifestTable")
        .option("path", s.scratch.toString).load()
        .select(keyCol).distinct()
        .selectExpr(s"CAST($keyCol AS STRING) AS k")
        .coalesce(1).write.mode("overwrite").text(keysOut.toString)
      s.heartbeat()
      val keysPart = keysOut.toFile.listFiles()
        .find(x => x.getName.startsWith("part-")).getOrElse(
          throw new IllegalStateException("mergeKeys: key render wrote no part file"))
      val delName = s"delete-${java.util.UUID.randomUUID().toString.take(8)}.keys"
      Files.move(keysPart.toPath, dir(path).resolve(delName))
      // 3. ONE commit: the PRIOR-ONLY delete line first (covers existing
      //    files, exempts this commit's own inserts), then the staged data
      //    lines — the atomic upsert
      commitVersion(path,
        s"$DeleteMark$delName\t$keyCol\t$PriorOnlyScope" +: s.lines,
        replacePrev = false, schemaDdl = None)
    }
  }

  /** STREAMING INGEST: commit one micro-batch as one manifest version,
    * IDEMPOTENT on `batchId` — the composition of Spark's foreachBatch
    * replay contract with the store's commit protocol: the named commit
    * ([[commitNamed]]) of name `%06d` of the batch id, so its marker is
    * `batch-%06d.rows`. Returns the committed (or already-committed)
    * version.
    */
  def commitBatch(
      spark: org.apache.spark.sql.SparkSession, path: String,
      batchId: Long, batch: org.apache.spark.sql.DataFrame,
      partitionCol: Option[String] = None): Int = {
    require(batchId >= 0, s"commitBatch: negative batchId $batchId")
    commitNamed(spark, path, Seq(f"$batchId%06d"), batch, partitionCol)
  }

  /** NAMED COMMIT: commit `batch` as one manifest version together with
    * one zero-byte MARKER data file per name (`batch-<name>.rows`, listed
    * with `#rows=0`, which every planner drops), so "was this name
    * committed?" is a manifest lookup. The one idempotence rule of the
    * stream sink ([[commitBatch]]) and the block runtime's consumed
    * blocks ([[graft.pipeline.BlockRuntime]]), stated by [[alreadyCommitted]]:
    *
    *   - a replay of a committed name set returns the existing version
    *     and publishes NOTHING (checked again inside the commit retry
    *     loop, so concurrent replays commit once), also after a
    *     truncating rewrite retired the markers;
    *   - a set that overlaps an earlier commit only in part throws;
    *   - a crash BEFORE the commit leaves only unreferenced scratch
    *     (swept by [[vacuum]]'s age-gated orphan pass), and the replay
    *     re-stages — exactly-once end to end.
    *
    * The rows are staged into a dot-prefixed scratch store and
    * hard-linked in ([[staged]]). Names must match `[A-Za-z0-9_.-]+`.
    * Returns the committed (or already-committed) version.
    * `partitionCol` routes the rows through the partitioned writer
    * (streaming ingest INTO the date-partitioned layout: one file per
    * value per commit, each carrying its `@col` field).
    */
  def commitNamed(
      spark: org.apache.spark.sql.SparkSession, path: String,
      names: Seq[String], batch: org.apache.spark.sql.DataFrame,
      partitionCol: Option[String] = None): Int = {
    require(names.nonEmpty, s"commitNamed at $path: no commit name")
    val markers = names.map { n =>
      require(BatchMarkerRe.matches(s"batch-$n.rows"),
        s"commit name '$n' is outside the marker name pattern [A-Za-z0-9_.-]+")
      s"batch-$n.rows"
    }
    // fast path: a replay re-stages nothing
    currentManifestShallow(path) match {
      case Some((v, lines, _)) if alreadyCommitted(path, lines, names.toSet) => return v
      case _ => ()
    }
    // persisted layout first, explicit partitionCol override second — a
    // micro-batch sink into a laid-out table keeps landing laid-out files
    // without re-declaring the layout; an explicit partitionCol replaces
    // the whole persisted split (partition and bucket alike), it never
    // stacks into the writer's mutual-exclusion check
    val persisted = tableLayout(path)
    val layout = partitionCol.fold(persisted)(c =>
      persisted -- Seq("partitionCol", "bucketCol", "bucketCount") +
        ("partitionCol" -> c))
    staged(path, batch, layout) { s =>
      markers.foreach(m => Files.write(dir(path).resolve(m), Array.emptyByteArray))
      commitVersion(path, markers.map(m => s"$m\t$RowStatKey=0:0") ++ s.lines,
        replacePrev = false, schemaDdl = Some(s.ddl), names = names.toSet)
    }
  }

  /** Targeted SMALL-FILE COMPACTION (Iceberg `rewriteDataFiles` /
    * OPTIMIZE bin-packing): files recording fewer than `minRows` rows
    * are read (file-restricted scan), rewritten into `targetPartitions`
    * packed files, and committed as ONE new version listing (surviving
    * big files ++ packed files) — the streaming-ingest antidote: a
    * version-per-micro-batch sink accretes thousands of small files
    * whose per-file open/plan cost eventually dominates, and at 100 TB
    * "rewrite the whole table" (the [[compactDeletes]] shape) is not an
    * answer. Untouched files are untouched — the commit is
    * O(small files), and prior snapshots still time-travel (the old
    * manifests keep referencing the originals until [[vacuum]]).
    *
    * Refused while equality-delete entries are pending
    * ([[refusePendingDeletes]]) — fold deletes first
    * ([[compactDeletes]]), then bin-pack. Returns the committed version,
    * or -1 when nothing qualified (no empty commit).
    */
  def compactSmallFiles(
      spark: org.apache.spark.sql.SparkSession, path: String,
      minRows: Long, targetPartitions: Int = 1): Int =
    rewrite[Int](path, "compactSmallFiles") { base =>
      refusePendingDeletes("compactSmallFiles", base)
      val parsed = dataEntries(base.lines).map(parseEntry)
      val (small, big) = parsed.partition { case (_, stats) =>
        stats.get(RowStatKey).exists(_._1 < minRows)
      }
      // markers (0 rows) are "small" — compacting absorbs them; but with
      // <2 qualifying files there is nothing to pack
      if (small.size < 2) Left(-1)
      else {
        val layout = layoutAt(path, base.version)
        val smallDf = spark.read.format("graft.sources.ManifestTable")
          .option("path", path)
          .option("files", small.map(_._1).mkString(","))
          .load()
        // bin-pack WITHIN layout groups: hashing on the partition columns
        // (or the bucket id) routes each group to one task, so the
        // layout-splitting writer emits ONE packed file per group instead
        // of one per (group × task) — the Delta/Iceberg "rewrite within
        // partitions" shape; unlaid-out tables keep the plain repartition
        val grouped = layoutGroupCols(layout)
        val packed =
          if (grouped.isEmpty) smallDf.repartition(targetPartitions)
          else smallDf.repartition(targetPartitions, grouped: _*)
        val packedLines = staged(path, packed, layout)(_.lines)
        // survivors ++ packed files, replacing the line set
        val bigNames = big.map(_._1).toSet
        val bigLines = base.lines.filter(l =>
          !isDeleteEntry(l) && !isRetiredEntry(l) && bigNames(parseEntry(l)._1))
        Right((retirements(base.lines, small.map(_._1)) ++ bigLines ++ packedLines,
          identity))
      }
    }

  /** The metadata pruning passes [[mayMatch]] combines, so "which files
    * can this predicate touch" has exactly one answer.
    *
    * Zone-map test: can ANY value in [lo,hi] satisfy the predicate?
    * Columns absent from a file's stats never skip it (nulls are ignored
    * by min/max and every accepted predicate is null-rejecting, so a file
    * of only-null values has no stats for the column and correctly
    * survives to the residual filter).
    */
  private[graft] def mayMatchOn(get: String => Option[(Long, Long)])(
      f: org.apache.spark.sql.sources.Filter): Boolean = {
    import org.apache.spark.sql.sources._
    // integrals, dates (epoch days) and timestamps (micros) all order as
    // the long the zone map recorded (ManifestCodec.statLongOf); a value
    // with no long form never prunes
    def lv(v: Any): Option[Long] = ManifestCodec.statLongOf(v)
    f match {
      case EqualTo(a, v) => lv(v).forall(l =>
        get(a).forall { case (lo, hi) => l >= lo && l <= hi })
      case GreaterThan(a, v) => lv(v).forall(l => get(a).forall(_._2 > l))
      case GreaterThanOrEqual(a, v) => lv(v).forall(l => get(a).forall(_._2 >= l))
      case LessThan(a, v) => lv(v).forall(l => get(a).forall(_._1 < l))
      case LessThanOrEqual(a, v) => lv(v).forall(l => get(a).forall(_._1 <= l))
      case In(a, vs) => get(a).forall { case (lo, hi) =>
        vs.exists(v => lv(v).forall(l => l >= lo && l <= hi))
      }
      case _ => true
    }
  }

  /** Zone-map pass: column stats under the plain column name. */
  private[graft] def mayMatchZone(
      stats: Map[String, (Long, Long)],
      f: org.apache.spark.sql.sources.Filter): Boolean =
    mayMatchOn(stats.get)(f)

  /** Partition pass, FIRST and independent of stats: a file carrying a
    * first-class `@col` partition field holds only that value, so the
    * predicate tests the declared value exactly; files without the field
    * (unpartitioned writes, NULL-partition files) never prune here.
    */
  private[graft] def mayMatchPartitionField(
      stats: Map[String, (Long, Long)],
      f: org.apache.spark.sql.sources.Filter): Boolean =
    mayMatchOn(c => stats.get(PartStatPrefix + c))(f)

  /** Bucket pass: a file carrying `@bucket(col,n)=b:b` holds ONLY rows
    * whose key hashes to bucket b, so an exact-integral equality/IN probe
    * on that column skips every file of a non-matching bucket — the
    * point-lookup payoff of a bucketed layout (1/n of the table opened,
    * no zone-map luck required, since hashed keys spread over every
    * file's value range). Exact integrals only: a fractional probe can't
    * equal any bucketed key, but proving that here would duplicate the
    * residual filter's job — it conservatively never prunes.
    */
  private val BucketFieldRe = """@bucket\((.+),(\d+)\)""".r

  private[graft] def mayMatchBucketField(
      stats: Map[String, (Long, Long)],
      f: org.apache.spark.sql.sources.Filter): Boolean = {
    import org.apache.spark.sql.sources._
    def exactLong(v: Any): Option[Long] = v match {
      case l: java.lang.Long => Some(l)
      case i: java.lang.Integer => Some(i.toLong)
      case s: java.lang.Short => Some(s.toLong)
      case b: java.lang.Byte => Some(b.toLong)
      case _ => None
    }
    def test(a: String, vs: Seq[Long]): Boolean =
      stats.collectFirst {
        case (BucketFieldRe(c, n), (b, _)) if c == a =>
          vs.exists(v => bucketOf(v, n.toInt).toLong == b)
      }.getOrElse(true)
    f match {
      case EqualTo(a, v) => exactLong(v).forall(l => test(a, Seq(l)))
      case In(a, vs) if vs.nonEmpty =>
        val longs = vs.toSeq.map(exactLong)
        if (longs.forall(_.isDefined)) test(a, longs.flatten) else true
      case _ => true
    }
  }

  /** Bloom pass for STRING probes: a file whose recorded bloom excludes
    * every probed value cannot hold a matching row; files without a
    * bloom for the column never prune. NULL never matches an equality
    * probe, so null values' absence from the bloom is correct, and a
    * false positive only means one extra file read.
    */
  private def mayMatchBloom(
      blooms: => Map[String, Array[Byte]], f: org.apache.spark.sql.sources.Filter): Boolean = {
    import org.apache.spark.sql.sources._
    f match {
      case EqualTo(a, v: String) =>
        blooms.get(a).forall(bits => bloomMightContain(bits, v))
      case In(a, vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[String]) =>
        blooms.get(a).forall(bits =>
          vs.exists(v => bloomMightContain(bits, v.asInstanceOf[String])))
      case _ => true
    }
  }

  /** THE PRUNING PREDICATE: can data or group line `e` hold a row
    * matching every filter? Partition field, bucket field, zone map,
    * then bloom — the one conjunction the scan, the group expansion, the
    * change feed's delete probes and [[deleteMatching]] all apply.
    */
  private[sources] def mayMatch(
      e: Entry, filters: Seq[org.apache.spark.sql.sources.Filter]): Boolean =
    filters.forall(f =>
      mayMatchPartitionField(e.stats, f) && mayMatchBucketField(e.stats, f) &&
        mayMatchZone(e.stats, f) && mayMatchBloom(e.blooms, f))

  /** Best-effort driver-side translation of a Catalyst predicate into the
    * V1 filter shapes the manifest's pruning passes understand —
    * conjuncts only, column-vs-literal comparisons and IN lists. An
    * untranslatable conjunct contributes NOTHING (never a wrong filter):
    * [[deleteMatching]] then treats every file as a candidate for that
    * conjunct, which is correct and merely less surgical.
    */
  private[sources] def translateConjuncts(
      e: org.apache.spark.sql.catalyst.expressions.Expression)
      : Seq[org.apache.spark.sql.sources.Filter] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.{sources => sv1}
    def colOf(x: Expression): Option[String] = x match {
      case u: UnresolvedAttribute => Some(u.name)
      case a: AttributeReference => Some(a.name)
      case c: Cast => colOf(c.child) // analyzer-inserted widening
      case _ => None
    }
    def litOf(x: Expression): Option[Any] = x match {
      case Literal(v: org.apache.spark.unsafe.types.UTF8String, _) => Some(v.toString)
      case Literal(v, _) if v != null => Some(v)
      case c: Cast => litOf(c.child) // integral widening only changes boxing
      case _ => None
    }
    e match {
      case And(l, r) => translateConjuncts(l) ++ translateConjuncts(r)
      case EqualTo(a, b) => (for (c <- colOf(a); v <- litOf(b)) yield sv1.EqualTo(c, v))
        .orElse(for (c <- colOf(b); v <- litOf(a)) yield sv1.EqualTo(c, v)).toSeq
      case GreaterThan(a, b) => (for (c <- colOf(a); v <- litOf(b)) yield sv1.GreaterThan(c, v))
        .orElse(for (c <- colOf(b); v <- litOf(a)) yield sv1.LessThan(c, v)).toSeq
      case GreaterThanOrEqual(a, b) =>
        (for (c <- colOf(a); v <- litOf(b)) yield sv1.GreaterThanOrEqual(c, v))
          .orElse(for (c <- colOf(b); v <- litOf(a)) yield sv1.LessThanOrEqual(c, v)).toSeq
      case LessThan(a, b) => (for (c <- colOf(a); v <- litOf(b)) yield sv1.LessThan(c, v))
        .orElse(for (c <- colOf(b); v <- litOf(a)) yield sv1.GreaterThan(c, v)).toSeq
      case LessThanOrEqual(a, b) =>
        (for (c <- colOf(a); v <- litOf(b)) yield sv1.LessThanOrEqual(c, v))
          .orElse(for (c <- colOf(b); v <- litOf(a)) yield sv1.GreaterThanOrEqual(c, v)).toSeq
      case In(a, vs) =>
        (for { c <- colOf(a); lits = vs.map(litOf) if lits.forall(_.isDefined) }
          yield sv1.In(c, lits.flatten.toArray)).toSeq
      case _ => Seq.empty
    }
  }

  /** COPY-ON-WRITE predicate delete — `DELETE WHERE <any predicate>` as an
    * EXPLICIT maintenance decision (the SQL surface deliberately rejects
    * range deletes so a 100 TB rewrite can never happen by accident; this
    * is the deliberate spelling). The Delta/Iceberg copy-on-write shape,
    * O(affected files) never O(table):
    *
    *   - candidate files are chosen by the SAME pruning passes the scan
    *     uses (partition fields first, then zone maps, then blooms) over
    *     the driver-translated conjuncts of `condition` — a file whose
    *     metadata proves it cannot hold a matching row passes into the
    *     new version BY REFERENCE, its bytes untouched;
    *   - candidates are rewritten (distributed, file-restricted read)
    *     keeping exactly the rows where the predicate is NOT TRUE (false
    *     or NULL — SQL DELETE semantics), and ONE truncating commit
    *     publishes survivors-by-reference ++ rewritten files;
    *   - prior snapshots still time-travel (source files are never
    *     deleted here; [[vacuum]] owns retirement);
    *   - an untranslatable predicate just makes every file a candidate —
    *     correct, merely a full rewrite;
    *   - refused while equality-delete entries are pending
    *     ([[refusePendingDeletes]]; fold them first), and a predicate no
    *     file can match returns the current version with NO empty commit;
    *   - a predicate every row matches commits a version with no data
    *     lines ([[staged]]'s empty rule).
    *
    * Returns the committed (or unchanged) version.
    */
  def deleteMatching(
      spark: org.apache.spark.sql.SparkSession, path: String,
      condition: org.apache.spark.sql.Column): Int =
    rewrite[Int](path, "deleteMatching") { base =>
      refusePendingDeletes("deleteMatching", base)
      // recover the Catalyst tree through a probe plan's ANALYZED filter
      // (the public route to a Column's expression), so attribute names are
      // resolved against this very table's schema before translation
      val probe = spark.read.format("graft.sources.ManifestTable")
        .option("path", path).load().where(condition)
      val condExpr = probe.queryExecution.analyzed.collectFirst {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
      }.getOrElse(throw new IllegalStateException(
        s"deleteMatching: probe plan for $path carries no filter"))
      val filters = translateConjuncts(condExpr)
      // the scan's pruning predicate, re-applied driver-side: may-match
      // files are candidates, provably-unmatchable files survive by reference
      val cands = base.files(filters).map(_.name)
      if (cands.isEmpty) Left(base.version)
      else {
        import org.apache.spark.sql.functions.{coalesce => fnCoalesce, lit, not}
        val rewritten = staged(path,
          spark.read.format("graft.sources.ManifestTable")
            .option("path", path)
            .option("files", cands.mkString(","))
            .load()
            // keep rows where the predicate is NOT TRUE (NULL keeps the row)
            .where(not(fnCoalesce(condition, lit(false)))),
          layoutAt(path, base.version))(_.lines)
        val hit = cands.toSet
        Right((retirements(base.lines, cands) ++
          dataEntries(base.lines).filterNot(l => hit(parseEntry(l)._1)) ++ rewritten,
          identity))
      }
    }

  /** Fold the merge-on-read deletes into the data files: materialize a
    * VERSION-PINNED snapshot (deletes applied by the scan) into scratch
    * and commit it as a truncating rewrite VALIDATED against that same
    * base version — the new version lists only the rewritten files and
    * carries no delete entries, so the deleted rows' bytes are
    * physically absent from every file the new snapshot references.
    * Old versions (and their delete files) stay time-travelable until
    * [[vacuum]]. The base-version check closes the lost-update window a
    * blind truncating overwrite has: a concurrent append landing between
    * this rewrite's snapshot read and its commit fails the commit, and
    * the fold re-derives from the new current (bounded retries) — the
    * appended rows are IN the post-compaction current, never dropped to
    * a time-travel-only version. Returns the committed version. The
    * [[fold]] that keeps every row.
    */
  def compactDeletes(spark: org.apache.spark.sql.SparkSession, path: String): Int =
    fold(spark, path, identity)

  /** THE FOLD: a truncating rewrite of the version-pinned snapshot
    * (deletes applied by the scan) through `transform`, staged and
    * committed through [[rewrite]] — every listed file, markers
    * included, is replaced by what `transform` returns, and the absorbed
    * markers retire ([[retirements]]). [[compactDeletes]] is the fold
    * with `identity`; the block runtime's compaction folds with its
    * merge. Returns the committed version.
    */
  def fold(
      spark: org.apache.spark.sql.SparkSession, path: String,
      transform: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Int =
    rewrite[Int](path, "fold") { base =>
      // an all-deleted snapshot stages zero data lines and commits a
      // version listing none ([[staged]]'s empty rule)
      val rewritten = staged(path,
        transform(spark.read.format("graft.sources.ManifestTable")
          .option("path", path).option("version", base.version.toString).load()),
        layoutAt(path, base.version))(_.lines)
      Right((retirements(base.lines,
        dataEntries(base.lines).map(parseEntry(_)._1)) ++ rewritten, identity))
    }

  /** OPTIMIZE ZORDER BY (Delta's clustering rewrite as explicit
    * maintenance): a full truncating rewrite range-clustered on the
    * Morton interleave of `cols` — each column affine-scaled to 12 bits
    * from one bounded min/max pass — so every rewritten file covers a
    * small hyper-rectangle of the value space and its zone maps are
    * tight on EVERY listed column (a selective predicate on any of them
    * prunes most files; a single-column sort serves only its own
    * column). Same safety contract as the other truncating rewrites:
    * refused under pending equality deletes (fold first),
    * base-version-validated with bounded re-derivation, retirement
    * lines carried. The z-value is layout only — the schema is
    * untouched. Returns the committed version.
    */
  def compactZOrder(
      spark: org.apache.spark.sql.SparkSession, path: String,
      cols: Seq[String], targetPartitions: Int = 16): Int = {
    require(cols.size >= 2, s"compactZOrder: need >= 2 columns, got $cols")
    val schema = readSchemaFromManifest(path)
    cols.foreach { c =>
      val f = schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(
          s"compactZOrder: no column '$c' in ${schema.toDDL}"))
      require(f.dataType == LongType || f.dataType == IntegerType ||
          f.dataType == DateType,
        s"compactZOrder: '$c' must be integral or DATE; got ${f.dataType}")
    }
    rewrite[Int](path, "compactZOrder") { base =>
      refusePendingDeletes("compactZOrder", base)
      val layout = layoutAt(path, base.version)
      import org.apache.spark.sql.functions.{col, lit}
      val df = spark.read.format("graft.sources.ManifestTable")
        .option("path", path).option("version", base.version.toString).load()
      val boundExprs = cols.flatMap(c => Seq(
        org.apache.spark.sql.functions.min(col(c)),
        org.apache.spark.sql.functions.max(col(c))))
      val bounds = df.agg(boundExprs.head, boundExprs.tail: _*).head()
      def asLong(i: Int): Long = bounds.get(i) match {
        case null => 0L
        case l: Long => l
        case n: Int => n.toLong
        case dte: java.sql.Date =>
          org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaDate(dte).toLong
        case dte: java.time.LocalDate => dte.toEpochDay
        case other => throw new IllegalStateException(s"bound $other")
      }
      val bits = 12
      val scaled = cols.zipWithIndex.map { case (c, j) =>
        val (lo, hi) = (asLong(2 * j), asLong(2 * j + 1))
        // dates as epoch days (a date cannot cast to long directly)
        val longCol =
          if (schema.fields.find(_.name == c).exists(_.dataType == DateType))
            org.apache.spark.sql.functions.unix_date(col(c)).cast("long")
          else col(c).cast("long")
        ((longCol - lit(lo)) * lit((1L << bits) - 1) /
          lit(math.max(1L, hi - lo))).cast("long")
      }
      // on a PARTITIONED table, cluster WITHIN partition values (Delta's
      // OPTIMIZE ZORDER semantics): the partition columns lead the range
      // key, so each task holds whole partition groups z-sorted inside —
      // the layout-splitting writer then emits per-value files whose
      // @col fields survive AND whose zone maps are z-tight. A bucketed
      // table ranges on z alone (the writer splits per bucket, so each
      // file is one bucket × one z-slice — prunable on both grains).
      val partLead = layout.get("partitionCol").toSeq
        .flatMap(_.split(',').iterator.map(_.trim).filter(_.nonEmpty))
        .map(col)
      val rangeKey = partLead :+ col("__graft_z")
      val rewritten = staged(path,
        df.withColumn("__graft_z", ZOrder.interleaveNative(scaled, bits))
          .repartitionByRange(targetPartitions, rangeKey: _*)
          .sortWithinPartitions(rangeKey: _*)
          .drop("__graft_z"),
        layout,
        // this rewrite's (partition cols, z) range clustering is the
        // point — the writer must not replace it with a value hash
        Map("clusterWrite" -> "false"))(_.lines)
      Right((retirements(base.lines,
        dataEntries(base.lines).map(parseEntry(_)._1)) ++ rewritten, identity))
    }
  }

  /** `ALTER TABLE ADD COLUMN` ([[GraftCatalog.alterTable]]) — the DDL
    * spelling of the store's additive prefix evolution, which until
    * round 15 was reachable only through a widened APPEND: commit a new
    * version listing the SAME lines under the widened schema. Every
    * existing file null-pads the new trailing columns at read time — the
    * exact contract a widened append already pinned
    * (ManifestEvolutionSpec) — and time travel to pre-alter versions
    * reads the old DDL those manifests carry. Base-validated: a racing
    * commit fails this alter loudly rather than being dropped from the
    * re-listed line set. Rename / retype / reorder / drop stay rejected
    * at the catalog: [[ManifestColumnar.open]] relies on each file's
    * columns being a prefix of the table's order, which only a trailing
    * ADD keeps true.
    */
  def alterAddColumns(path: String, cols: Seq[StructField]): Int = {
    require(cols.nonEmpty, "alterAddColumns: no columns to add")
    // shallow: the alter re-lists the lines VERBATIM — group lines carry
    // their children by reference instead of being flattened back
    val (v, lines, _) = currentManifestShallow(path).getOrElse(
      throw new IllegalStateException(s"alterAddColumns: no manifest at $path"))
    val schema = readSchemaFromManifest(path)
    cols.foreach { f =>
      require(!schema.fieldNames.contains(f.name),
        s"alterAddColumns at $path: column '${f.name}' already exists")
      require(cols.count(_.name == f.name) == 1,
        s"alterAddColumns at $path: duplicate new column '${f.name}'")
    }
    // nullable by construction (old rows HAVE no value), and writable
    // — the same gate a widened append passes through
    val widened = StructType(schema.fields ++ cols.map(_.copy(nullable = true)))
    ManifestCodec.requireWritable(widened)
    commitVersion(path, lines, replacePrev = true,
      schemaDdl = Some(widened.toDDL), expectedBase = Some(v))
  }

  /** PARTITION-SPEC EVOLUTION (round 16 — the Iceberg spec-evolution
    * shape): change the table's declared write layout for FUTURE
    * writes. Pure metadata: the same lines are re-listed SHALLOW under
    * the merged layout string, no data file moves — existing files keep
    * their own recorded `@field`/`@bucket` stats and the scan prunes
    * each file by what IT carries (the machinery is per-line already),
    * so a store partitioned by day then re-declared by (day, source)
    * prunes old files on day and new files on both. Mixed-layout side
    * effects are the conservative ones: SPJ reporting and the grouped
    * aggregate pushdown require a uniform field and simply decline;
    * truncating maintenance stages under the CURRENT layout, which is
    * exactly Iceberg's migration path (rewrites adopt the new spec).
    *
    * `updates` merges into the persisted layout: `Some(v)` sets a key,
    * `None` removes it. Keys are the write options
    * (partitionCol/bucketCol/bucketCount/bloomCols/bloomBits),
    * validated against the current schema exactly like a write would.
    */
  def alterSetLayout(
      path: String, updates: Map[String, Option[String]]): Int = {
    val LayoutKeys =
      Set("partitionCol", "bucketCol", "bucketCount", "bloomCols", "bloomBits")
    ManifestCodec.refuseCodec(updates.keys, s"alterSetLayout at $path")
    updates.keys.foreach(k => require(LayoutKeys.contains(k),
      s"alterSetLayout at $path: '$k' is not a layout property " +
        s"(${LayoutKeys.toSeq.sorted.mkString(", ")})"))
    val (v, lines, _) = currentManifestShallow(path).getOrElse(
      throw new IllegalStateException(s"alterSetLayout: no manifest at $path"))
    val schema = readSchemaFromManifest(path)
    val merged = updates.foldLeft(tableLayout(path)) {
      case (acc, (k, Some(value))) => acc + (k -> value)
      case (acc, (k, None)) => acc - k
    }
    merged.get("partitionCol").foreach { spec =>
      val cols = spec.split(',').map(_.trim).filter(_.nonEmpty)
      require(cols.nonEmpty && cols.distinct.length == cols.length,
        s"alterSetLayout: partitionCol '$spec' must be distinct column names")
      cols.foreach { c =>
        val f = schema.fields.find(_.name == c).getOrElse(
          throw new IllegalArgumentException(
            s"alterSetLayout: partitionCol '$c' is not in ${schema.toDDL}"))
        require(f.dataType == LongType || f.dataType == IntegerType ||
            f.dataType == DateType,
          s"alterSetLayout: partitionCol '$c' must be integral or DATE; " +
            s"got ${f.dataType}")
      }
    }
    merged.get("bucketCol").foreach { c =>
      val f = schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(
          s"alterSetLayout: bucketCol '$c' is not in ${schema.toDDL}"))
      require(f.dataType == LongType || f.dataType == IntegerType,
        s"alterSetLayout: bucketCol '$c' must be integral; got ${f.dataType}")
      require(merged.get("bucketCount").exists(n =>
          n.toIntOption.exists(_ > 0)),
        "alterSetLayout: bucketCol needs a positive bucketCount")
    }
    merged.get("bloomCols").foreach {
      _.split(',').map(_.trim).filter(_.nonEmpty).foreach { c =>
        val f = schema.fields.find(_.name == c).getOrElse(
          throw new IllegalArgumentException(
            s"alterSetLayout: bloomCols '$c' is not in ${schema.toDDL}"))
        require(f.dataType == StringType,
          s"alterSetLayout: bloomCols are for STRING columns; '$c' is ${f.dataType}")
      }
    }
    merged.get("bloomBits").foreach(b => require(
      b.toIntOption.exists(x => x >= 64 && x % 8 == 0),
      s"alterSetLayout: bloomBits must be a multiple of 8, >= 64; got $b"))
    commitVersion(path, lines, replacePrev = true, schemaDdl = None,
      expectedBase = Some(v), layoutSpec = Some(encodeLayout(merged)))
  }

  /** CREATE TABLE ([[GraftCatalog.createTable]]): commit an EMPTY
    * manifest-1 carrying `schema` — a readable zero-row table whose
    * first append lands as version 2. Base-0-validated, so a racing
    * create (or create-over-existing) fails loudly: create-only.
    */
  def createEmpty(
      path: String, schema: StructType,
      layout: Map[String, String] = Map.empty): Int = {
    ManifestCodec.refuseCodec(layout.keys, s"createEmpty at $path")
    ManifestCodec.requireWritable(schema)
    commitVersion(path, Seq.empty, replacePrev = true,
      schemaDdl = Some(schema.toDDL), expectedBase = Some(0),
      layoutSpec = if (layout.isEmpty) None else Some(encodeLayout(layout)))
  }

  /** ZERO-COPY SHALLOW CLONE (Delta `CREATE TABLE … SHALLOW CLONE`): a
    * new table at `dst` whose manifest-1 lists exactly `src`'s current
    * snapshot — data and delete-key files adopted by HARD LINK (the
    * same-volume spelling of "reference, don't copy"; an object-store
    * deployment would record source paths the way this store records
    * names). O(#files) metadata work, zero data bytes moved:
    *
    *   - line ORDER is preserved, so prior-only delete scoping reads
    *     identically in the clone;
    *   - the tables then diverge freely — appends/deletes/merges on
    *     either side never touch the other's manifests;
    *   - [[vacuum]] on the source unlinks the source's NAMES; the shared
    *     inodes survive through the clone's links (and vice versa), so
    *     retention on one table can never corrupt the other — the
    *     refcounting an object store does with reference counts, done
    *     here by the filesystem;
    *   - refused onto a directory that already has a committed manifest
    *     (a clone creates a table, it never overwrites one).
    *
    * The dev/test branch-off a training pipeline wants before a risky
    * backfill: branch, experiment, throw away — all metadata. Returns
    * the clone's committed version (always 1).
    */
  def cloneTable(src: String, dst: String): Int = {
    val (srcV, lines, ddl) = currentManifest(src).getOrElse(
      throw new IllegalStateException(s"cloneTable: no manifest at $src"))
    require(currentManifest(dst).isEmpty,
      s"cloneTable: $dst already has a committed manifest")
    val sd = dir(src)
    val dd = dir(dst)
    Files.createDirectories(dd)
    // retired markers name no file: carried into the clone's manifest
    // verbatim (the clone inherits the source's replay history), nothing
    // to link
    lines.flatMap(fileOf).foreach { name =>
      val target = dd.resolve(name)
      // a crashed earlier clone attempt may have linked some files; the
      // link content is the same immutable inode either way
      if (!Files.exists(target)) Files.createLink(target, sd.resolve(name))
    }
    // base 0: a clone CREATES a table — if any commit raced in since the
    // emptiness check above, fail loudly rather than truncate it away.
    // The source's persisted write LAYOUT travels with the clone (a
    // branched partitioned table must keep landing partitioned inserts)
    commitVersion(dst, lines, replacePrev = true, schemaDdl = Some(ddl),
      expectedBase = Some(0), layoutSpec = layoutStringOf(src, srcV))
  }

  /** One table-history row ([[history]]): a version's physical shape as
    * the manifest records it — row count BEFORE merge-on-read delete
    * application (the manifest counts physical rows; the live count is a
    * read-side question), data/delete line counts, byte total.
    */
  case class VersionInfo(
      version: Int, nDataFiles: Long, nRows: Long, nDeleteEntries: Long, bytes: Long)

  /** DESCRIBE HISTORY: every still-retained version's shape, oldest
    * first — derived by reading the (immutable) manifests, O(#versions)
    * driver work and nothing else. `nRows`/`bytes` are -1 when any line
    * predates per-file stats (a legacy store can't answer).
    */
  def history(path: String): Seq[VersionInfo] =
    listVersions(path).sorted.map { v =>
      val lines = manifestAt(path, Some(v)).get._2
      val data = dataEntries(lines).map(parseEntry)
      val rowStats = data.map(_._2.get(RowStatKey))
      val (rows, bytes) =
        if (rowStats.exists(_.isEmpty)) (-1L, -1L)
        else (rowStats.flatten.map(_._1).sum, rowStats.flatten.map(_._2).sum)
      VersionInfo(v, data.size.toLong, rows,
        lines.count(isDeleteEntry).toLong, bytes)
    }

  /** Newest committed manifest (version, data file names, schema DDL),
    * group lines EXPANDED — the flat view (see [[GroupMark]]).
    */
  def currentManifest(path: String): Option[(Int, Seq[String], String)] =
    manifestAt(path, None)

  /** Newest manifest WITHOUT child expansion — for the commit protocol
    * (group lines carry forward by reference, O(new) per commit) and
    * the scan's group-pruned planning. Everything else wants
    * [[currentManifest]].
    */
  private[graft] def currentManifestShallow(
      path: String): Option[(Int, Seq[String], String)] =
    manifestAtRaw(path, None)

  /** A specific snapshot (time travel), or the newest when `version` is
    * None. Every manifest is immutable once ATOMIC_MOVEd into place, so
    * reading version v years later returns exactly what commit v
    * published — the audit/reproducibility property a training pipeline
    * needs to re-materialize yesterday's corpus.
    */
  def manifestAt(path: String, version: Option[Int]): Option[(Int, Seq[String], String)] =
    manifestAtRaw(path, version).map { case (v, lines, ddl) =>
      (v, expandLines(path, lines), ddl)
    }

  private[graft] def manifestAtRaw(
      path: String, version: Option[Int]): Option[(Int, Seq[String], String)] = {
    val versions = listVersions(path)
    if (versions.isEmpty) return None
    val v = version match {
      case Some(want) =>
        require(versions.contains(want),
          s"graft manifest table at $path has no version $want (have: ${versions.sorted.mkString(",")})")
        want
      case None => versions.max
    }
    val lines = Files.readAllLines(dir(path).resolve(s"manifest-$v.json")).asScala
    // line 1: schema DDL (+ optional commit-time suffix, stripped here);
    // rest: one data-file name per line
    Some((v, lines.drop(1).toSeq, ddlOfHeader(lines.head)))
  }

  def readSchemaFromManifest(path: String): StructType =
    // shallow: the DDL lives in the header — schema inference must not
    // pay an O(total files) child expansion just to open a table
    currentManifestShallow(path) match {
      case Some((_, _, ddl)) => StructType.fromDDL(ddl)
      case None => throw new IllegalArgumentException(
        s"graft manifest table at $path has no committed manifest; " +
          "write to it first or declare a schema")
    }
}

private[graft] class ManifestTbl(
    path: String, schema0: StructType,
    pinnedVersion: Option[Int] = None,
    cdf: Boolean = false,
    // the version range (a, b] a change-feed BATCH read covers — set only
    // by [[ManifestCdf.changes]], never by a read option
    changeRange: Option[(Int, Int)] = None,
    // CTAS-declared layout defaults ([[GraftCatalog.createTable]]'s
    // PARTITIONED BY / TBLPROPERTIES): used when the write's own options
    // don't override them, so `CREATE TABLE … PARTITIONED BY (c) AS
    // SELECT` lands the same layout a `.option("partitionCol", c)`
    // write would
    writeDefaults: Map[String, String] = Map.empty)
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete {

  /** The store directory — [[graft.plans.ManifestMergeRule]] routes SQL
    * MERGE INTO statements whose target resolves to this table onto
    * [[ManifestTable.mergeKeys]] at this path.
    */
  def tablePath: String = path
  import org.apache.spark.sql.sources.{EqualTo => SEqualTo, Filter => SFilter, In => SIn}

  override def name(): String = s"graft-manifest[$path]"
  override def schema(): StructType = schema0
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.MICRO_BATCH_READ, TableCapability.TRUNCATE)

  /** SQL `DELETE FROM graft_cat.\`path\` WHERE …` routes here (via
    * [[GraftCatalog]]): the WHERE condition arrives as conjunct filters,
    * and exactly the shapes the manifest's EQUALITY-DELETE commit can
    * express are accepted — `key IN (…)` / `key = v` on one integral
    * column (conjuncts on several columns can't be one equality-delete
    * entry, and range predicates aren't equality deletes at all). An
    * unsupported WHERE fails ANALYSIS loudly (Spark raises when
    * `canDeleteWhere` is false) instead of silently rewriting the table —
    * a 100 TB `DELETE WHERE ts < cutoff` should be an explicit compaction
    * decision, not an accidental full rewrite. The null-rejecting
    * `IsNotNull(key)` residue the analyzer adds alongside an IN is
    * tolerated: equality deletes never match NULL keys anyway.
    */
  private def deleteKeysOf(filters: Array[SFilter]): Option[(String, Seq[Long])] = {
    def integralCol(c: String): Boolean =
      schema0.fields.exists(f => f.name == c &&
        (f.dataType == LongType || f.dataType == IntegerType))
    def asLong(v: Any): Option[Long] = v match {
      case l: Long => Some(l)
      case i: Int => Some(i.toLong)
      case s: Short => Some(s.toLong)
      case b: Byte => Some(b.toLong)
      case _ => None
    }
    val meaningful = filters.filterNot(
      _.isInstanceOf[org.apache.spark.sql.sources.IsNotNull])
    val perFilter: Array[Option[(String, Seq[Long])]] = meaningful.map {
      case SIn(c, vs) if integralCol(c) =>
        val longs = vs.toSeq.map(asLong)
        if (longs.forall(_.isDefined)) Some((c, longs.flatten)) else None
      case SEqualTo(c, v) if integralCol(c) => asLong(v).map(v2 => (c, Seq(v2)))
      case _ => None
    }
    if (perFilter.isEmpty || perFilter.exists(_.isEmpty)) return None
    val byCol = perFilter.flatten
    if (byCol.map(_._1).distinct.length != 1) return None
    // conjunct key sets intersect (WHERE k IN (…) AND k = v)
    Some((byCol.head._1,
      byCol.map(_._2.toSet).reduce(_ intersect _).toSeq.sorted))
  }

  override def canDeleteWhere(filters: Array[SFilter]): Boolean =
    deleteKeysOf(filters).isDefined

  override def deleteWhere(filters: Array[SFilter]): Unit = {
    val (keyCol, keys) = deleteKeysOf(filters).getOrElse(
      throw new IllegalArgumentException(
        s"graft manifest table: unsupported DELETE condition " +
          s"${filters.mkString(" AND ")} — only `intCol IN (…)` / " +
          "`intCol = v` equality deletes are supported"))
    if (keys.nonEmpty) ManifestTable.deleteKeys(path, keyCol, keys)
    // empty key set (contradictory conjuncts): a no-op delete, no version
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // change-feed reads: a dedicated scan whose rows are the version-diff
    // changes, planned by ManifestCdf.partitions — per micro-batch by
    // ManifestCdfMicroBatchStream, or over `changeRange` for the batch
    // read ManifestCdf.changes builds
    if (cdf) {
      val maxVersions = options.getInt("maxVersionsPerBatch", Int.MaxValue)
      // two addressing modes for where the feed starts, one must win
      // loudly: a version, or a wall-time resolved through the commit
      // stamps to the first version committed at-or-after it
      val startingTs = Option(options.get("startingTimestamp")).map(_.toLong)
      require(startingTs.isEmpty || options.get("startingVersion") == null,
        "changeFeed: startingVersion and startingTimestamp are mutually exclusive")
      val startingVersion = startingTs
        .map(ts => ManifestTable.versionAtOrAfterTimestamp(path, ts))
        .getOrElse(options.getInt("startingVersion", 1))
      require(startingVersion >= 1,
        s"changeFeed startingVersion must be >= 1, got $startingVersion")
      val tableSchema = StructType(schema0.fields.dropRight(2))
      return new ScanBuilder {
        override def build(): Scan = new Scan {
          override def readSchema(): StructType = schema0
          override def description(): String = s"graft-manifest-cdf $path"
          override def toMicroBatchStream(checkpointLocation: String)
              : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
            new ManifestCdfMicroBatchStream(
              path, tableSchema, maxVersions, startingVersion)
          override def toBatch: Batch = {
            val (a, b) = changeRange.getOrElse(throw new UnsupportedOperationException(
              s"$description: batch change reads go through ManifestCdf.changes"))
            new Batch {
              override def planInputPartitions(): Array[InputPartition] =
                ManifestCdf.partitions(path, a, b)
              override def createReaderFactory(): PartitionReaderFactory =
                new ManifestCdfReaderFactory(tableSchema)
            }
          }
        }
      }
    }
    // time travel: .option("version", n) pins the scan to snapshot n
    // (SQL `VERSION AS OF n` arrives pre-pinned via the catalog's
    // versioned loadTable instead — `pinnedVersion`);
    // .option("reportStats", false) suppresses DSv2 statistics (the
    // control knob ManifestStatsSpec uses to prove the broadcast choice
    // comes from the reported stats, not from anything else)
    // wall-time travel for the DataFrame read path, mirroring SQL
    // TIMESTAMP AS OF: .option("timestampMs", ms) resolves through the
    // recorded monotonic commit stamps; mutually exclusive with an
    // explicit version pin (two addressing modes, one must win loudly)
    val tsVersion = Option(options.get("timestampMs"))
      .map(ms => ManifestTable.versionAtTimestamp(path, ms.toLong))
    require(tsVersion.isEmpty || options.get("version") == null,
      "graft manifest read: pass either version or timestampMs, not both")
    val version = Option(options.get("version")).map(_.toInt)
      .orElse(tsVersion).orElse(pinnedVersion)
    val reportStats = options.getBoolean("reportStats", true)
    // streaming reads: .option("maxVersionsPerBatch", n) rate-limits the
    // micro-batch stream (admission control); default drains all new
    // versions per trigger
    val maxVersions = options.getInt("maxVersionsPerBatch", Int.MaxValue)
    // .option("files", "a,b") restricts the scan to exactly those
    // manifest-listed files — the file-grain read of compactSmallFiles and
    // deleteMatching, which both refuse while deletes are pending
    val onlyFiles = Option(options.get("files"))
      .map(_.split(",").iterator.filter(_.nonEmpty).toSet)
    // storage-partitioned join: .option("reportPartitioning", true)
    // reports KeyGroupedPartitioning over the layout's @col field
    // (ManifestScan.spjKey has the contract)
    val reportPartitioning = options.getBoolean("reportPartitioning", false)
    new ManifestScanBuilder(path, schema0, version, reportStats, maxVersions,
      onlyFiles, reportPartitioning)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      private var doTruncate = false
      override def truncate(): WriteBuilder = { doTruncate = true; this }
      override def build(): Write = {
        // PARTITIONED LAYOUT: .option("partitionCol", c) — writer tasks
        // split rows per value of integral column c (one file per value
        // per task), recording the value as a first-class `@c` manifest
        // field the scan prunes on BEFORE per-file stats
        // write options fall back to the table's declared layout — the
        // instance's (fresh CTAS) or the manifest-persisted one (any
        // later write, catalog or format path alike)
        lazy val persisted = ManifestTable.tableLayout(path)
        def opt(key: String): Option[String] =
          Option(info.options().get(key)).orElse(writeDefaults.get(key))
            .orElse(persisted.get(key))
        // data files are parquet only: naming the retired `codec`
        // option refuses (a persisted header key decodes away)
        ManifestCodec.refuseCodec(
          info.options().keySet().asScala ++ writeDefaults.keys,
          s"manifest write to $path")
        ManifestCodec.requireWritable(info.schema())
        // one column, or a comma list for a MULTI-DIMENSION layout
        // (date × source at 100 TB): one file per value combination,
        // one first-class `@col` field per column, each prunable alone
        val pc = opt("partitionCol")
        pc.foreach { spec =>
          val cols = spec.split(',').map(_.trim).filter(_.nonEmpty)
          require(cols.nonEmpty && cols.distinct.length == cols.length,
            s"manifest partitionCol '$spec' must be distinct column names")
          cols.foreach { c =>
            val f = info.schema().fields.find(_.name == c).getOrElse(
              throw new IllegalArgumentException(
                s"manifest partitionCol '$c' is not in the written schema " +
                  info.schema().toDDL))
            require(f.dataType == LongType || f.dataType == IntegerType ||
                f.dataType == DateType,
              s"manifest partitionCol '$c' must be integral or DATE; " +
                s"got ${f.dataType}")
          }
        }
        // BUCKETED LAYOUT: .option("bucketCol", c).option("bucketCount", n)
        // — writer tasks split rows per bucketOf(value, n), recording the
        // bucket as a first-class `@bucket(c,n)` field; the scan then
        // reports KeyGroupedPartitioning(bucket(n, c)) for the
        // high-cardinality storage-partitioned join (fact-fact joins,
        // where one file per VALUE is impossible)
        val bucketCol = opt("bucketCol")
        val bucketCount = opt("bucketCount").map(_.toInt)
          .getOrElse(ManifestTable.DefaultBucketCount)
        bucketCol.foreach { c =>
          require(pc.isEmpty,
            "manifest write: bucketCol and partitionCol are mutually exclusive")
          require(bucketCount >= 2 && bucketCount <= (1 << 20),
            s"manifest bucketCount must be in [2, 2^20]; got $bucketCount")
          val f = info.schema().fields.find(_.name == c).getOrElse(
            throw new IllegalArgumentException(
              s"manifest bucketCol '$c' is not in the written schema " +
                info.schema().toDDL))
          require(f.dataType == LongType || f.dataType == IntegerType,
            s"manifest bucketCol '$c' must be integral; got ${f.dataType}")
        }
        // per-file string blooms: .option("bloomCols", "c1,c2")
        val bloomCols = opt("bloomCols")
          .map(_.split(",").iterator.map(_.trim).filter(_.nonEmpty).toSeq)
          .getOrElse(Seq.empty)
        bloomCols.foreach { c =>
          val f = info.schema().fields.find(_.name == c).getOrElse(
            throw new IllegalArgumentException(
              s"manifest bloomCols '$c' is not in the written schema"))
          require(f.dataType == StringType,
            s"manifest bloomCols are for STRING columns (integrals get " +
              s"zone maps for free); '$c' is ${f.dataType}")
        }
        val bloomBits = opt("bloomBits").map(_.toInt)
          .getOrElse(ManifestTable.DefaultBloomBits)
        require(bloomBits >= 64 && bloomBits % 8 == 0,
          s"bloomBits must be a multiple of 8, >= 64; got $bloomBits")
        new ManifestWrite(path, info.schema(), doTruncate, pc, bloomCols,
          bloomBits, bucketCol.map(c => (c, bucketCount)),
          spillThreshold = opt("groupThreshold").map(_.toInt),
          clusterWrite = info.options().getBoolean("clusterWrite", true))
      }
    }
}

/** Filter pushdown for FILE SKIPPING: comparison predicates on integral
  * columns are accepted and tested against each file's manifest zone map
  * at planning time — a file whose [min,max] cannot satisfy a conjunct
  * never becomes an input partition (the Delta/Iceberg data-skipping
  * shape: at 100 TB the manifest read replaces opening every file).
  * EVERY filter is also returned as a residual, so Spark re-applies the
  * exact predicate to the surviving rows — skipping is a pure pruning
  * optimization and can never change semantics.
  */
private[sources] class ManifestScanBuilder(
    path: String, schema: StructType, version: Option[Int],
    reportStats: Boolean = true, maxVersionsPerBatch: Int = Int.MaxValue,
    onlyFiles: Option[Set[String]] = None,
    reportPartitioning: Boolean = false)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownAggregates with SupportsPushDownLimit
    with SupportsPushDownRequiredColumns {
  import org.apache.spark.sql.sources._

  private var accepted: Array[Filter] = Array.empty

  /** The snapshot the aggregate pushdown and the scan both plan from. */
  private lazy val snapshot = ManifestTable.Snapshot.at(path, version)

  /** COLUMN PRUNING: a 2-column projection over a 50-column table
    * decodes 2 column chunks per row group, not 50 (delete keys are
    * requested beside the projection, never instead of it).
    */
  private var required: Option[StructType] = None
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = Some(requiredSchema)

  /** LIMIT pushdown at FILE grain: `SELECT * FROM t LIMIT n` plans only
    * a prefix of files whose recorded row counts reach n, instead of
    * every file in the table — at 100 TB a "show me some rows" probe
    * opens one file, not a hundred thousand. PARTIAL pushdown only
    * (Spark keeps the Limit operator and re-truncates), so file-grain
    * over-delivery is always safe; the scan ignores the limit entirely
    * whenever it cannot PROVE n live rows survive the planned prefix —
    * pending equality deletes (recorded counts exceed live rows) or any
    * stat-less legacy line ([[ManifestScan.plannedEntries]]).
    */
  private var pushedLimit: Option[Int] = None
  override def pushLimit(limit: Int): Boolean = {
    pushedLimit = Some(limit)
    true
  }
  override def isPartiallyPushed: Boolean = true

  /** AGGREGATE PUSHDOWN — `SELECT count(*), min(k), max(k) FROM t`
    * answered from the MANIFEST alone, zero data files opened: every
    * data line records its exact row count ([[ManifestTable.RowStatKey]])
    * and exact per-column min/max (the zone maps are true minima/maxima
    * of the non-null values, not estimates), so the three aggregates the
    * catalog question always starts with cost one manifest read — at
    * 100 TB the difference between a metadata lookup and a table scan.
    * COMPLETE pushdown only, and only when it is provably exact:
    *
    *   - no group-by, no pushed filters (Spark only offers aggregates
    *     when zero residual filters remain, and this source keeps every
    *     filter residual — so only bare table aggregates arrive);
    *   - no pending equality deletes (the scan would drop rows the
    *     manifest still counts);
    *   - every data line carries `#rows` (a legacy stat-less line means
    *     the manifest cannot answer);
    *   - COUNT(*) (exact row sum), MIN/MAX on INTEGRAL columns (zone
    *     maps; a column with no zone entry anywhere was all-null —
    *     SQL's null-ignoring MIN/MAX correctly returns NULL). COUNT(c),
    *     SUM, AVG, and string MIN/MAX are refused (null counts and
    *     string bounds are not recorded), falling back to the scan.
    */
  private var aggResult: Option[(StructType, Seq[Seq[Any]])] = None

  private def computeAgg(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(StructType, Seq[Seq[Any]])] = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.expressions.aggregate.{CountStar, Max, Min}
    type Stats = Map[String, (Long, Long)]
    if (accepted.nonEmpty || onlyFiles.isDefined) return None
    val snap = snapshot
    if (snap.version == 0 || snap.deletes.nonEmpty) return None
    // the scan's data files: a committed empty file carrying an @col field
    // must not fabricate a count-0 group a non-pushed scan would never
    // produce, and a legacy stat-less line means the manifest cannot answer
    val entries: Seq[Stats] = snap.dataFiles.map(_.stats)
    if (entries.exists(_.get(ManifestTable.RowStatKey).isEmpty)) return None

    // any long-ordered zone-mapped column: integrals, dates (epoch-day
    // ints), timestamps (micros) — the recorded lo:hi longs are exact
    // bounds for all of them, so MIN(date)/MAX(ts) answer from the
    // manifest exactly like MIN(bigint)
    def integralField(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[StructField] = e match {
      case r: NamedReference if r.fieldNames().length == 1 =>
        schema.fields.find(_.name == r.fieldNames()(0))
          .filter(f => f.dataType == LongType || f.dataType == IntegerType ||
            f.dataType == DateType || f.dataType == TimestampType ||
            f.dataType == TimestampNTZType)
      case _ => None
    }
    def asFieldValue(f: StructField, v: Any): Any = v match {
      case null => null
      case l: Long => f.dataType match {
        case IntegerType | DateType => l.toInt // dates are int32 days
        case _ => l
      }
    }

    // GROUP BY: empty (whole-table, one output group) or exactly the
    // IDENTITY PARTITION column every data file carries (`@c=v:v` —
    // each file belongs to one group, so per-group counts/bounds are
    // exact sums/extremes over its files' recorded stats; the
    // Iceberg-partition-stats query, zero files opened)
    val groupField: Option[StructField] = agg.groupByExpressions() match {
      case Array() => None
      case Array(e) =>
        val f = integralField(e).getOrElse(return None)
        val key = ManifestTable.PartStatPrefix + f.name
        if (entries.forall(_.contains(key))) Some(f) else return None
      case _ => return None
    }

    val groups: Seq[(Option[Long], Seq[Stats])] = groupField match {
      case None => Seq((None, entries))
      case Some(f) =>
        entries.groupBy(_(ManifestTable.PartStatPrefix + f.name)._1)
          .toSeq.sortBy(_._1).map { case (v, es) => (Some(v), es) }
    }

    def bound(es: Seq[Stats], col: String, takeMin: Boolean): Any = {
      val vals = es.flatMap(_.get(col)).map(mm => if (takeMin) mm._1 else mm._2)
      if (vals.isEmpty) null // zero non-null values anywhere
      else if (takeMin) vals.min else vals.max
    }

    // one (field, per-group compute) pair per aggregate expression
    val computed: Array[Option[(StructField, Seq[Stats] => Any)]] =
      agg.aggregateExpressions().map {
        case _: CountStar =>
          Some((StructField("count_star", LongType, nullable = false),
            (es: Seq[Stats]) => es.map(_(ManifestTable.RowStatKey)._1).sum: Any))
        case m: Min => integralField(m.column).map(f =>
          (StructField(s"min_${f.name}", f.dataType, nullable = true),
            (es: Seq[Stats]) => asFieldValue(f, bound(es, f.name, takeMin = true))))
        case m: Max => integralField(m.column).map(f =>
          (StructField(s"max_${f.name}", f.dataType, nullable = true),
            (es: Seq[Stats]) => asFieldValue(f, bound(es, f.name, takeMin = false))))
        case _ => None
      }
    if (computed.exists(_.isEmpty)) return None
    val (aggFields, aggFns) = computed.flatten.unzip

    val outSchema = StructType(
      groupField.map(f => f.copy(nullable = false)).toSeq ++ aggFields)
    val rows = groups.map { case (gv, es) =>
      val groupCell = (groupField, gv) match {
        case (Some(f), Some(v)) => Seq(asFieldValue(f, v))
        case _ => Seq.empty
      }
      groupCell ++ aggFns.map(fn => fn(es))
    }
    Some((outSchema, rows))
  }

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    computeAgg(agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    aggResult = computeAgg(agg)
    aggResult.isDefined
  }

  // integrals, dates, timestamps — anything the zone maps record as a
  // long (ManifestCodec.statLongOf is the single translation authority)
  private def zoneable(v: Any): Boolean = ManifestCodec.statLongOf(v).isDefined
  private def skippable(f: Filter): Boolean = f match {
    case EqualTo(_, v) if zoneable(v) => true
    case GreaterThan(_, v) => zoneable(v)
    case GreaterThanOrEqual(_, v) => zoneable(v)
    case LessThan(_, v) => zoneable(v)
    case LessThanOrEqual(_, v) => zoneable(v)
    // key-probe IN lists (the DELETE/merge read shape): a file skips
    // when NO listed key can fall inside its [min,max]
    case In(_, vs) => vs.nonEmpty && (
      vs.forall(zoneable) ||
        vs.forall(_.isInstanceOf[String])) // string probes → bloom pass
    // string equality probes test per-file BLOOMS at plan time
    case EqualTo(_, _: String) => true
    case _ => false
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    accepted = filters.filter(skippable)
    filters // all residual: Spark re-evaluates every predicate post-scan
  }
  override def pushedFilters(): Array[Filter] = accepted
  override def build(): Scan = aggResult match {
    case Some((aggSchema, values)) => new ManifestAggScan(path, aggSchema, values)
    case None =>
      new ManifestScan(path, snapshot, schema, version, accepted, reportStats,
        maxVersionsPerBatch, onlyFiles, reportPartitioning, pushedLimit,
        required)
  }
}

/** The scan a COMPLETELY pushed aggregate builds: one partition, one row
  * per GROUP (one group total for the bare-table form) — the values
  * [[ManifestScanBuilder.computeAgg]] already derived from the manifest.
  * No data file is ever opened.
  */
private[sources] case class ManifestAggPartition(rows: Seq[Seq[Any]])
    extends InputPartition

private[sources] class ManifestAggScan(
    path: String, aggSchema: StructType, rows: Seq[Seq[Any]])
    extends Scan with Batch {
  override def readSchema(): StructType = aggSchema
  override def description(): String =
    s"graft-manifest-agg $path (answered from manifest stats; 0 files read)"
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    Array(ManifestAggPartition(rows))
  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] =
        new PartitionReader[InternalRow] {
          private val it = p.asInstanceOf[ManifestAggPartition].rows.iterator
          private var row: InternalRow = _
          override def next(): Boolean =
            if (it.hasNext) { row = InternalRow.fromSeq(it.next()); true }
            else false
          override def get(): InternalRow = row
          override def close(): Unit = ()
        }
    }
}

private[sources] class ManifestScan(
    path: String, snapshot: => ManifestTable.Snapshot,
    schema: StructType, version: Option[Int] = None,
    pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty,
    reportStats: Boolean = true, maxVersionsPerBatch: Int = Int.MaxValue,
    onlyFiles: Option[Set[String]] = None,
    reportPartitioning: Boolean = false,
    pushedLimit: Option[Int] = None,
    requiredSchema: Option[StructType] = None)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeFiltering
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning {
  import org.apache.spark.sql.sources._

  /** RUNTIME FILE PRUNING (dynamic partition pruning for the manifest
    * store): Catalyst's PartitionPruning rule sees this scan as runtime-
    * filterable on every column the manifest records pruning metadata
    * for, and at execution time — after the join's dimension side has
    * run — hands the dim's join-key set down as an `IN` filter via
    * [[filter]]. [[planInputPartitions]] then re-plans against
    * partition fields, zone maps, AND blooms, so a fact/dim join whose
    * matching days are only knowable at runtime opens those days' files
    * and nothing else. At 100 TB this is THE star-schema optimization:
    * the fact side is pruned by a predicate on a kilobyte-sized
    * dimension that static pushdown can never see. Pruning-only, never
    * semantics: Spark re-applies the exact join downstream, so a zone
    * map or bloom false negative would be a correctness bug (pinned by
    * the shared-oracle `join_manifest_runtime_filter` query), while a
    * false positive only costs one extra file read.
    */
  private var runtime: Array[Filter] = Array.empty

  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    // READ-schema fields only: Spark resolves these refs against the
    // (column-pruned) scan output, and a declared-but-pruned attribute
    // fails resolution outright — a runtime filter can only ever arrive
    // on a column the query actually reads anyway
    readSchema().fields.collect {
      // integrals prune via zone maps / @partition fields; strings via
      // per-file blooms (when recorded — absent metadata never prunes)
      case f if f.dataType == LongType || f.dataType == IntegerType ||
        f.dataType == StringType =>
        org.apache.spark.sql.connector.expressions.Expressions.column(f.name)
    }

  override def filter(filters: Array[Filter]): Unit =
    // keep only shapes the pruning passes understand; anything else is
    // re-applied by Spark anyway and must not reach the (conservative,
    // but shape-limited) mayMatch tests
    runtime = filters.filter {
      case In(_, vs) => vs != null && vs.nonEmpty
      case EqualTo(_, _) => true
      case _ => false
    }

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new ManifestMicroBatchStream(path, schema, maxVersionsPerBatch, requiredSchema)

  override def readSchema(): StructType = requiredSchema.getOrElse(schema)
  override def description(): String =
    s"graft-manifest scan $path version=${version.getOrElse(-1)} " +
      s"skipFilters=[${pushed.mkString(", ")}] " +
      s"ReadSchema=[${readSchema().fieldNames.mkString(",")}]"
  override def toBatch: Batch = this

  /** Read once, on first use — a streaming read never touches it. */
  private lazy val snap = snapshot

  /** Data files surviving pruning and the file-grain LIMIT, in line
    * order. Shared by partition planning and statistics reporting, so the
    * reported stats always describe exactly the files that will be read.
    * A def, not a lazy val: [[filter]] can tighten the filter set AFTER
    * statistics were estimated, and the re-plan must see it.
    */
  private def plannedEntries: Seq[ManifestTable.Entry] =
    limited(snap.files(pushed.toSeq ++ runtime)
      .filter(f => onlyFiles.forall(_.contains(f.name))))

  /** File-grain LIMIT truncation over the filtered entries: plan files
    * until their recorded live row counts reach the pushed limit, skip
    * the rest. Applied ONLY when provably safe — no pending equality
    * deletes (recorded counts would exceed live rows → under-delivery)
    * and every surviving line stat-carrying; otherwise the limit is
    * ignored and Spark's retained Limit operator does all the work.
    */
  private def limited(entries: Seq[ManifestTable.Entry]): Seq[ManifestTable.Entry] =
    pushedLimit match {
      case Some(n)
          if snap.deletes.isEmpty &&
            entries.forall(_.stats.contains(ManifestTable.RowStatKey)) =>
        var cum = 0L
        entries.takeWhile { e =>
          val take = cum < n
          cum += e.stats(ManifestTable.RowStatKey)._1
          take
        }
      case _ => entries
    }

  /** The reportable layout shapes: one VALUE per file (identity
    * partition, `@col`) or one HASH BUCKET per file (`@bucket(col,n)` —
    * the high-cardinality case, where one file per value is impossible).
    * The bucket transform resolves against [[GraftBucketFunction]]
    * through the catalog, so bucket-SPJ reads go through `graft_cat`.
    */
  private sealed trait SpjLayout { def fieldKey: String }
  private case class SpjIdentity(col: String, isLong: Boolean) extends SpjLayout {
    def fieldKey: String = col
  }
  private case class SpjBucket(col: String, n: Int) extends SpjLayout {
    def fieldKey: String = ManifestTable.bucketFieldKey(col, n)
  }

  private val BucketKeyRe = """bucket\((.+),(\d+)\)""".r

  /** STORAGE-PARTITIONED JOIN (the Iceberg SPJ shape): when the read
    * opts in (`.option("reportPartitioning", true)`) and EVERY planned
    * file carries the same single first-class `@col` partition field,
    * the scan reports `KeyGroupedPartitioning(identity(col))` and plans
    * `HasPartitionKey` splits — Spark then groups co-keyed files and an
    * equi-join between two tables partitioned on the same column plans
    * with ZERO Exchange on either side (under
    * `spark.sql.sources.v2.bucketing.enabled`). At 100 TB this is the
    * difference between shuffling two fact tables and streaming
    * co-located partition pairs. Opt-in, not default: Spark requires a
    * KeyGroupedPartitioning-reporting scan to preserve its partition-
    * value set under runtime filtering, so the DPP path and the SPJ
    * path stay explicitly separate surfaces. Returns (column,
    * is-long); None (→ UnknownPartitioning) whenever any planned file
    * lacks the field — NULL-partition files and unpartitioned writes
    * make the layout non-reportable rather than wrong.
    */
  private def spjKey(entries: Seq[ManifestTable.Entry]): Option[SpjLayout] = {
    if (!reportPartitioning || entries.isEmpty) return None
    val perFile = entries.map { e =>
      e.stats.keysIterator
        .filter(_.startsWith(ManifestTable.PartStatPrefix)).toSeq match {
        case Seq(one) => Some(one.substring(1))
        case _ => None
      }
    }
    perFile.head.filter(k => perFile.forall(_.contains(k))).flatMap {
      case BucketKeyRe(c, n) =>
        schema.fields.find(_.name == c)
          .filter(f => f.dataType == LongType || f.dataType == IntegerType)
          .map(_ => SpjBucket(c, n.toInt))
      case c =>
        schema.fields.find(_.name == c).collect {
          case f if f.dataType == LongType => SpjIdentity(c, isLong = true)
          case f if f.dataType == IntegerType => SpjIdentity(c, isLong = false)
        }
    }
  }

  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning = {
    import org.apache.spark.sql.connector.expressions.Expressions
    import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, UnknownPartitioning}
    val entries = plannedEntries
    spjKey(entries) match {
      case Some(layout) =>
        val n = entries
          .flatMap(_.stats.get(ManifestTable.PartStatPrefix + layout.fieldKey))
          .map(_._1).distinct.size
        val expr = layout match {
          case SpjIdentity(c, _) => Expressions.identity(c)
          case SpjBucket(c, b) => Expressions.bucket(b, c)
        }
        new KeyGroupedPartitioning(Array(expr), n)
      case None => new UnknownPartitioning(0)
    }
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val entries = plannedEntries
    val keyed = spjKey(entries)
    entries.iterator
      .map { f =>
        val file = ManifestTable.dir(path).resolve(f.name).toString
        val dels = snap.deletesFor(f).map(_.file)
        keyed match {
          case Some(layout) =>
            val keyValue =
              f.stats(ManifestTable.PartStatPrefix + layout.fieldKey)._1
            val keyIsLong = layout match {
              case SpjIdentity(_, isLong) => isLong
              case _: SpjBucket => false // bucket numbers are ints
            }
            ManifestKeyedFilePartition(file, dels, keyValue, keyIsLong): InputPartition
          case None => ManifestFilePartition(file, dels): InputPartition
        }
      }
      .toArray
  }

  /** DSv2 statistics from the manifest alone (no file opened): byte size
    * and row count summed over the PLANNED (post-skipping) files, read
    * from each line's [[ManifestTable.RowStatKey]] entry, falling back
    * to the file's on-disk size for pre-stats legacy lines. Unknown when
    * `reportStats=false` (the spec's control) — Spark then substitutes
    * `spark.sql.defaultSizeInBytes` (= huge), exactly the never-broadcast
    * behavior every stats-less DSv2 source suffers. Row counts are
    * UNDERSTATED never / OVERSTATED only by pending equality deletes
    * (bounded request lists), which is the conservative direction for a
    * broadcast decision.
    */
  override def estimateStatistics(): Statistics = {
    if (!reportStats) return new Statistics {
      override def sizeInBytes(): util.OptionalLong = util.OptionalLong.empty()
      override def numRows(): util.OptionalLong = util.OptionalLong.empty()
    }
    val entries = plannedEntries
    var bytes = 0L
    var rows = 0L
    var rowsKnown = true
    entries.foreach { e =>
      e.stats.get(ManifestTable.RowStatKey) match {
        case Some((n, b)) => rows += n; bytes += b
        case None =>
          rowsKnown = false
          val p = ManifestTable.dir(path).resolve(e.name)
          if (Files.exists(p)) bytes += Files.size(p)
      }
    }
    // COLUMN-LEVEL statistics from the manifest alone (ManifestTable
    // scaladoc at NdvRegisters): per column, distinctCount = the HLL
    // union over exactly the PLANNED files, nullCount = the summed
    // per-file counters, min/max = the zone hull — each surfaced only
    // when every planned file carries it (per-stat all-or-nothing;
    // pre-r16 lines simply withhold the column). Spark's CBO turns
    // these into join costs, so manifest-table joins reorder without
    // any external ANALYZE.
    val colStats = new util.HashMap[
      org.apache.spark.sql.connector.expressions.NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
    if (rowsKnown && entries.nonEmpty) {
      val parsedNdvs = entries.map(_.ndvs)
      val stats = entries.map(_.stats)
      schema.fields.foreach { f =>
        val c = f.name
        val nullKey = ManifestTable.NullStatPrefix + c
        val nullsKnown = stats.forall(_.contains(nullKey))
        val nulls =
          if (nullsKnown) stats.iterator.map(_(nullKey)._1).sum else -1L
        val ndvKnown = parsedNdvs.forall(_.contains(c))
        val ndv = if (!ndvKnown) -1L else {
          val u = new Array[Byte](ManifestTable.NdvRegisters)
          parsedNdvs.foreach { m =>
            val r = m(c)
            var i = 0
            while (i < u.length && i < r.length) {
              if (r(i) > u(i)) u(i) = r(i)
              i += 1
            }
          }
          ManifestTable.ndvEstimate(u)
        }
        // min/max: hull over files that saw the column non-null; files
        // that were ALL-null for it legitimately lack the zone entry
        val zoneKnown = stats.forall { st =>
          st.contains(c) || st.get(nullKey).exists(nc =>
            st.get(ManifestTable.RowStatKey).exists(_._1 == nc._1))
        }
        val present = stats.flatMap(_.get(c))
        val (minObj, maxObj): (Any, Any) =
          if (!zoneKnown || present.isEmpty) (null, null)
          else {
            val lo = present.map(_._1).min
            val hi = present.map(_._2).max
            f.dataType match {
              case LongType | TimestampType | TimestampNTZType =>
                (java.lang.Long.valueOf(lo), java.lang.Long.valueOf(hi))
              case IntegerType | DateType =>
                (java.lang.Integer.valueOf(lo.toInt),
                  java.lang.Integer.valueOf(hi.toInt))
              case _ => (null, null)
            }
          }
        if (nullsKnown || ndvKnown || minObj != null) {
          colStats.put(
            org.apache.spark.sql.connector.expressions.Expressions.column(c),
            new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
              override def distinctCount(): util.OptionalLong =
                if (ndvKnown) util.OptionalLong.of(ndv)
                else util.OptionalLong.empty()
              override def nullCount(): util.OptionalLong =
                if (nullsKnown) util.OptionalLong.of(nulls)
                else util.OptionalLong.empty()
              override def min(): util.Optional[Object] =
                if (minObj != null) util.Optional.of(minObj.asInstanceOf[Object])
                else util.Optional.empty()
              override def max(): util.Optional[Object] =
                if (maxObj != null) util.Optional.of(maxObj.asInstanceOf[Object])
                else util.Optional.empty()
            })
        }
      }
    }
    new Statistics {
      override def sizeInBytes(): util.OptionalLong = util.OptionalLong.of(bytes)
      override def numRows(): util.OptionalLong =
        if (rowsKnown) util.OptionalLong.of(rows) else util.OptionalLong.empty()
      override def columnStats(): util.Map[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = colStats
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    // pushed + runtime filters ride into the parquet readers for
    // row-group skipping inside each planned file
    new ManifestReaderFactory(schema, snap.keys, requiredSchema,
      scala.collection.immutable.ArraySeq.unsafeWrapArray(pushed ++ runtime))
}

private[sources] sealed trait ManifestPartition extends InputPartition {
  def file: String
  def applicableDeletes: Seq[String]
}

private[sources] case class ManifestFilePartition(
    file: String, applicableDeletes: Seq[String] = Seq.empty)
    extends ManifestPartition

/** A partition that also declares its storage partition key — what lets
  * Spark's storage-partitioned join ([[ManifestScan.outputPartitioning]])
  * group co-keyed splits and plan an equi-join between two co-partitioned
  * manifest tables with ZERO shuffle on either side.
  */
private[sources] case class ManifestKeyedFilePartition(
    file: String, applicableDeletes: Seq[String],
    keyValue: Long, keyIsLong: Boolean)
    extends ManifestPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow =
    InternalRow(if (keyIsLong) keyValue else keyValue.toInt)
}

private[sources] case class ManifestVersionOffset(version: Int)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = version.toString
}

/** The version-offset base of both micro-batch streams, the plain
  * source ([[ManifestMicroBatchStream]]) and the change feed
  * ([[ManifestCdfMicroBatchStream]]): OFFSETS are manifest VERSIONS, so
  * a replayed batch (a, b] re-plans identically from the immutable
  * manifests and the checkpoint's offset log gives exactly-once across
  * restarts. ADMISSION CONTROL: `maxVersionsPerBatch` bounds how many
  * commits one micro-batch drains; Trigger.AvailableNow pins its target
  * version at start and terminates there.
  */
private[sources] abstract class ManifestVersionStream(
    path: String, maxVersionsPerBatch: Int, initial: Int)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{Offset => SOffset, ReadLimit}

  private def current: Int =
    ManifestTable.currentManifestShallow(path).map(_._1).getOrElse(0)

  @volatile private var availableNowTarget: Option[Int] = None

  override def initialOffset(): SOffset = ManifestVersionOffset(initial)

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(current)

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def latestOffset(): SOffset =
    throw new UnsupportedOperationException(
      "admission-controlled source: latestOffset(start, limit) is the entry point")

  override def latestOffset(start: SOffset, limit: ReadLimit): SOffset = {
    val from = start.asInstanceOf[ManifestVersionOffset].version
    val target = availableNowTarget.getOrElse(current)
    val capped =
      if (maxVersionsPerBatch == Int.MaxValue) target
      else math.min(target, from + maxVersionsPerBatch)
    ManifestVersionOffset(math.max(from, capped))
  }

  override def reportLatestOffset(): SOffset = ManifestVersionOffset(current)

  /** The partitions of versions (a, b]. */
  protected def plan(a: Int, b: Int): Array[InputPartition]

  override def planInputPartitions(start: SOffset, end: SOffset): Array[InputPartition] =
    plan(start.asInstanceOf[ManifestVersionOffset].version,
      end.asInstanceOf[ManifestVersionOffset].version)

  override def deserializeOffset(json: String): SOffset =
    ManifestVersionOffset(json.toInt)

  override def commit(end: SOffset): Unit = ()
  override def stop(): Unit = ()
}

/** The manifest table as a STREAMING SOURCE — the read-side complement
  * of [[ManifestTable.commitBatch]], the Delta-streaming-source shape:
  *
  *   - batch (a, b] reads exactly the data files version b lists that
  *     version a did not;
  *   - offset 0 is "nothing consumed": the first batch is the INITIAL
  *     SNAPSHOT, every live file of its end version with THAT version's
  *     equality deletes applied — the rows a batch read of it returns;
  *   - after the snapshot the source is APPEND-ONLY: a version range
  *     that removes files (truncating overwrite, compaction) or adds
  *     delete entries is NOT expressible as an append stream, and the
  *     stream FAILS loudly rather than silently re-emitting or dropping
  *     rows (Delta without ignoreChanges, same contract). Run
  *     maintenance on a quiesced table or start a fresh stream after it.
  *
  * Vacuum retention applies to streams too: planning a version whose
  * manifest was expired fails with the versions listed, exactly like a
  * batch time travel.
  */
private[sources] class ManifestMicroBatchStream(
    path: String, schema: StructType, maxVersionsPerBatch: Int,
    requiredSchema: Option[StructType] = None)
    extends ManifestVersionStream(path, maxVersionsPerBatch, initial = 0) {

  /** Key sets of the initial snapshot's deletes; later batches apply none.
    * Spark plans a batch's partitions before it asks for that batch's
    * reader factory, which therefore sees the keys planned with it.
    */
  @volatile private var keys: Map[String, (String, Set[Long])] = Map.empty

  override protected def plan(a: Int, b: Int): Array[InputPartition] = {
    if (b <= a) return Array.empty
    val end = ManifestTable.Snapshot.at(path, Some(b))
    val files =
      if (a == 0) end.dataFiles
      else {
        val (added, deletes) = end.diff(ManifestTable.Snapshot.at(path, Some(a)))
        if (deletes.nonEmpty) throw new IllegalStateException(
          s"graft manifest stream at $path: versions ($a, $b] added " +
            "equality-delete entries — deletes are not expressible as an " +
            "append stream; start a fresh stream after compactDeletes")
        added
      }
    if (a == 0) keys = end.keys
    files.map { f =>
      ManifestFilePartition(ManifestTable.dir(path).resolve(f.name).toString,
        if (a == 0) end.deletesFor(f).map(_.file) else Seq.empty): InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new ManifestReaderFactory(schema, keys, requiredSchema)
}

private[sources] class ManifestReaderFactory(
    schema: StructType,
    deleteKeysByEntry: Map[String, (String, Set[Long])] = Map.empty,
    readSchema: Option[StructType] = None,
    filters: Seq[org.apache.spark.sql.sources.Filter] = Seq.empty)
    extends PartitionReaderFactory {

  private val projection = readSchema.getOrElse(schema)

  /** Every read with a column is a [[ManifestColumnar]] batch read —
    * uniform across the scan, as Spark requires. A ZERO-column
    * projection (count-style shapes) is served as rows by
    * [[createReader]] instead.
    */
  override def supportColumnarReads(p: InputPartition): Boolean =
    projection.fields.nonEmpty

  /** The partition's merge-on-read deletes as (key column, type, key
    * set): the entries [[ManifestTable.Snapshot.deletesFor]] planned for
    * this file, unioned per column.
    */
  private def deletesOf(part: ManifestPartition): Seq[(String, DataType, Set[Long])] =
    ManifestTable.keySets(deleteKeysByEntry, part.applicableDeletes, part.file)
      .map { case (c, keys) =>
        val dt = schema.fields(schema.fieldIndex(c)).dataType
        if (dt != LongType && dt != IntegerType) throw new IllegalStateException(
          s"manifest delete entry on non-integral column $c: $dt")
        (c, dt, keys)
      }

  override def createColumnarReader(
      p: InputPartition): PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val part = p.asInstanceOf[ManifestPartition]
    ManifestColumnar.open(part.file, projection, filters, deletesOf(part), schema)
  }

  /** A zero-column projection: the footer row count when no delete
    * applies, else the delete-key columns read through the batch reader
    * so only live rows are counted.
    */
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val part = p.asInstanceOf[ManifestPartition]
    val deletes = deletesOf(part)
    if (deletes.nonEmpty)
      ManifestColumnar.rows(
        ManifestColumnar.open(part.file, projection, filters, deletes, schema))
    else new PartitionReader[InternalRow] {
      private var remaining = ManifestCodec.footerRowCount(part.file)
      override def next(): Boolean =
        if (remaining > 0) { remaining -= 1; true } else false
      override def get(): InternalRow = InternalRow.empty
      override def close(): Unit = ()
    }
  }
}

private[sources] class ManifestWrite(
    path: String, schema: StructType, truncate: Boolean = false,
    partitionCol: Option[String] = None,
    bloomCols: Seq[String] = Seq.empty,
    bloomBits: Int = ManifestTable.DefaultBloomBits,
    bucketSpec: Option[(String, Int)] = None,
    // `.option("groupThreshold", n)`: per-COMMIT two-level spill point,
    // overriding the process default — a writer that knows its commit
    // cadence tunes the fold without mutating global state under
    // concurrent committers
    spillThreshold: Option[Int] = None,
    // `.option("clusterWrite", false)`: suppress the declared clustered
    // distribution when the CALLER's partitioning is deliberately
    // stronger than "co-locate partition values" — [[ManifestTable
    // .compactZOrder]] range-clusters on (partition cols, z) and must not
    // have that replaced by a plain value hash. Per-value file SPLITTING
    // is task-side and unconditional, so the layout fields are identical
    // either way; only the file-count/clustering economics move.
    clusterWrite: Boolean = true)
    extends Write with BatchWrite
    with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
  override def toBatch: BatchWrite = this

  /** DECLARATIVE WRITE DISTRIBUTION (the Iceberg write-layout shape): a
    * partitioned write REQUIRES clustering on its partition column, so
    * Spark inserts the value shuffle itself — callers never have to know
    * the layout to write it correctly, and an unclustered input cannot
    * fragment a value across one-file-per-task-per-value debris (at
    * 100 TB, the difference between #values files and #values × #tasks
    * files per commit). Bucketed writes stay caller-clustered: the
    * bucket transform would need a FunctionCatalog to resolve, which the
    * format() write path doesn't carry — documented at [[bucketOf]]'s
    * pre-clustering advice.
    */
  override def requiredDistribution()
      : org.apache.spark.sql.connector.distributions.Distribution =
    partitionCol match {
      case Some(spec) if clusterWrite =>
        org.apache.spark.sql.connector.distributions.Distributions.clustered(
          spec.split(',').map(_.trim).filter(_.nonEmpty)
            .map(c => org.apache.spark.sql.connector.expressions.Expressions
              .identity(c): org.apache.spark.sql.connector.expressions.Expression))
      case _ =>
        org.apache.spark.sql.connector.distributions.Distributions.unspecified()
    }
  override def requiredNumPartitions(): Int = 0 // let Spark pick
  override def requiredOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] = Array.empty

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new ManifestWriterFactory(path, schema, partitionCol, bloomCols, bloomBits,
      bucketSpec)

  /** Driver-side atomic commit with optimistic concurrency: next
    * manifest = previous files ∪ this job's files, staged to a temp name
    * and published via hard-link CREATE-IF-ABSENT (link() is atomic and
    * FAILS on an existing target, unlike rename, which silently replaces
    * it — two concurrent committers must both survive). On a version
    * collision the loser re-reads the winner's manifest (now including
    * the winner's files) and retries at the next version, so no
    * committed rows are ever lost.
    */
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    // manifest line = name + zone-map stats the task reported;
    // mode("overwrite") → SupportsTruncate: the new snapshot REPLACES the
    // previous line set (data files AND delete entries) instead of
    // unioning with it — still a new version; prior snapshots stay
    // time-travelable until vacuumed. The optimistic hard-link version
    // race lives in ManifestTable.commitVersion (shared with deleteKeys).
    val newFiles = messages.flatMap {
      case f: StagedFile => Seq(f)
      case StagedFiles(fs) => fs
      case _ => Seq.empty
    }.collect {
      case StagedFile(name, n, stats) if n > 0 =>
        if (stats.isEmpty) name else s"$name\t$stats"
    }
    // committed DDL is ALL-NULLABLE regardless of the input frame's
    // nullability: the store itself introduces nulls the writer never
    // saw (schema-evolution padding of pre-evolution rows), and a
    // NOT NULL read schema would make Spark read those nulls as 0 —
    // the nullable DDL is the store's actual contract
    ManifestTable.commitVersion(path, newFiles.toSeq,
      replacePrev = truncate,
      schemaDdl = Some(StructType(schema.fields.map(_.copy(nullable = true))).toDDL),
      spillThreshold = spillThreshold)
    ()
  }

  /** Aborted job: remove every staged file; the manifest was never
    * touched, so readers keep the previous snapshot.
    */
  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val d = ManifestTable.dir(path)
    messages.flatMap {
      case f: StagedFile => Seq(f)
      case StagedFiles(fs) => fs
      case _ => Seq.empty
    }.foreach { case StagedFile(name, _, _) => ManifestTable.deleteStoreFile(d, name) }
  }
}

/** `stats` is the pre-rendered zone-map fragment (`col=min:max;…`, empty
  * when the schema has no integral columns or the file only has nulls).
  */
private[sources] case class StagedFile(name: String, rows: Long, stats: String)
    extends WriterCommitMessage

/** A partitioned-layout task's commit message: one staged file per
  * partition value the task saw.
  */
private[sources] case class StagedFiles(files: Seq[StagedFile])
    extends WriterCommitMessage

/** One staged data file: streams rows, accumulates zone maps, renders
  * the manifest stats fragment on finish. `extraStats` carries the
  * partitioned layout's `@col=v:v` field.
  */
private[sources] class StagedFileWriter(
    d: Path, schema: StructType, partitionId: Int, taskId: Long,
    bloomCols: Seq[String] = Seq.empty,
    bloomBits: Int = ManifestTable.DefaultBloomBits) {
  val name = s"data-$partitionId-$taskId-" +
    s"${java.util.UUID.randomUUID().toString.take(8)}${ManifestCodec.ParquetExt}"
  // rows stream straight to the staged file — O(1) task memory; the
  // file stays invisible until the driver's manifest commit lists it
  private val out = ManifestCodec.newWriter(d.resolve(name), schema)
  private var n = 0L
  // zone-map accumulators for every long-ordered column — integrals,
  // dates (epoch days), timestamps (micros), decimals (unscaled)
  private val statIdx = schema.fields.zipWithIndex.collect {
    case (f, i) if ManifestCodec.zoneMapped(f.dataType) =>
      (i, ManifestCodec.zoneValueGetter(f.dataType))
  }
  private val statMin = Array.fill(statIdx.length)(Long.MaxValue)
  private val statMax = Array.fill(statIdx.length)(Long.MinValue)
  // fixed-size string blooms (O(bloomBits) memory per column)
  private val bloomIdx: Seq[(Int, Array[Byte])] =
    bloomCols.map(c => schema.fieldIndex(c) -> Array.fill(bloomBits / 8)(0: Byte))
  // column statistics for the optimizer: a 128-byte HLL sketch plus a
  // null counter per long-ordered or string column (ManifestTable
  // scaladoc at NdvRegisters) — O(cols) fixed task memory
  private val ndvIdx: Array[(Int, (InternalRow, Int) => Long)] =
    schema.fields.zipWithIndex.collect {
      case (f, i) if ManifestCodec.zoneMapped(f.dataType) =>
        val g = ManifestCodec.zoneValueGetter(f.dataType)
        (i, (r: InternalRow, c: Int) => ManifestTable.ndvHash(g(r, c)))
      case (f, i) if f.dataType == StringType =>
        (i, (r: InternalRow, c: Int) => {
          val bytes = r.getUTF8String(c).getBytes
          var h = 1125899906842597L
          var b = 0
          while (b < bytes.length) { h = 31 * h + bytes(b); b += 1 }
          ManifestTable.ndvHash(h)
        })
    }
  private val ndvRegs =
    Array.fill(ndvIdx.length)(new Array[Byte](ManifestTable.NdvRegisters))
  private val nullCnt = new Array[Long](ndvIdx.length)

  def write(row: InternalRow): Unit = {
    out.write(row)
    var j = 0
    while (j < statIdx.length) {
      val (i, getter) = statIdx(j)
      if (!row.isNullAt(i)) {
        val v = getter(row, i)
        if (v < statMin(j)) statMin(j) = v
        if (v > statMax(j)) statMax(j) = v
      }
      j += 1
    }
    j = 0
    while (j < ndvIdx.length) {
      val (i, hash) = ndvIdx(j)
      if (row.isNullAt(i)) nullCnt(j) += 1
      else ManifestTable.ndvAdd(ndvRegs(j), hash(row, i))
      j += 1
    }
    bloomIdx.foreach { case (i, bits) =>
      if (!row.isNullAt(i)) ManifestTable.bloomAdd(bits, row.getString(i))
    }
    n += 1
  }

  def finish(extraStats: Seq[String]): StagedFile = {
    out.close()
    val zones = statIdx.indices
      .filter(j => statMin(j) <= statMax(j)) // saw ≥1 non-null value
      .map(j => s"${schema.fields(statIdx(j)._1).name}=${statMin(j)}:${statMax(j)}")
    val colStats = ndvIdx.indices.flatMap { j =>
      val c = schema.fields(ndvIdx(j)._1).name
      Seq(s"${ManifestTable.NullStatPrefix}$c=${nullCnt(j)}:${nullCnt(j)}",
        ManifestTable.ndvPiece(c, ndvRegs(j)))
    }
    val blooms = bloomIdx.map { case (i, bits) =>
      ManifestTable.bloomPiece(schema.fields(i).name, bits)
    }
    // row count + byte size ride along as a pseudo zone entry so the
    // scan can report DSv2 statistics from the manifest alone
    val bytes = Files.size(d.resolve(name))
    val stats = (extraStats ++ zones ++ colStats ++ blooms :+
      s"${ManifestTable.RowStatKey}=$n:$bytes").mkString(";")
    StagedFile(name, n, stats)
  }

  def abort(): Unit = {
    out.close()
    ManifestTable.deleteStoreFile(d, name)
  }
}

private[sources] class ManifestWriterFactory(
    path: String, schema: StructType, partitionCol: Option[String] = None,
    bloomCols: Seq[String] = Seq.empty,
    bloomBits: Int = ManifestTable.DefaultBloomBits,
    bucketSpec: Option[(String, Int)] = None)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] = {
    val d = ManifestTable.dir(path)
    Files.createDirectories(d)
    bucketSpec.foreach { case (c, n) =>
      /** Bucketed writer: one staged file per BUCKET this task sees,
        * committed with the `@bucket(c,n)` field — the identity-partition
        * writer's shape with the key run through [[ManifestTable.bucketOf]].
        * Pre-cluster (`df.repartition(n, col(c))` does NOT guarantee
        * bucket alignment with our mod function — use
        * `repartition(expr("pmod(c, n)"))`) to keep files-per-bucket ≈ 1.
        * NULL keys get a field-less file, which keeps the layout
        * non-reportable rather than wrongly grouped.
        */
      return new DataWriter[InternalRow] {
        private val i = schema.fieldIndex(c)
        private val isLong = schema.fields(i).dataType == LongType
        private val open =
          scala.collection.mutable.LinkedHashMap.empty[Option[Int], StagedFileWriter]
        override def write(row: InternalRow): Unit = {
          val key = if (row.isNullAt(i)) None
            else Some(ManifestTable.bucketOf(
              if (isLong) row.getLong(i) else row.getInt(i).toLong, n))
          open.getOrElseUpdate(key,
            new StagedFileWriter(d, schema, partitionId, taskId,
              bloomCols, bloomBits))
            .write(row)
        }
        override def commit(): WriterCommitMessage =
          StagedFiles(open.iterator.map { case (key, w) =>
            w.finish(key.toSeq.map(b =>
              s"${ManifestTable.PartStatPrefix}${ManifestTable.bucketFieldKey(c, n)}=$b:$b"))
          }.toSeq)
        override def abort(): Unit = open.values.foreach(_.abort())
        override def close(): Unit = ()
      }
    }
    partitionCol match {
      case None =>
        new DataWriter[InternalRow] {
          private val w = new StagedFileWriter(d, schema, partitionId, taskId,
            bloomCols, bloomBits)
          override def write(row: InternalRow): Unit = w.write(row)
          override def commit(): WriterCommitMessage = w.finish(Seq.empty)
          override def abort(): Unit = w.abort()
          override def close(): Unit = ()
        }
      case Some(spec) =>
        /** Dynamic partitioned writer: rows route to one staged file per
          * partition VALUE COMBINATION this task sees (one column, or a
          * comma list for the date × source shape), each committed with
          * a first-class `@c=v:v` manifest field per column
          * ([[ManifestTable.PartStatPrefix]]) the scan prunes on before
          * stats — each dimension prunable ALONE, like Hive/Iceberg
          * multi-field partitioning. The declared clustered distribution
          * keeps file counts = combination counts; a NULL value in any
          * column simply omits THAT column's `@` field, which never
          * prunes (every accepted predicate is null-rejecting, so that
          * is the conservative direction).
          */
        new DataWriter[InternalRow] {
          private val cols = spec.split(',').map(_.trim).filter(_.nonEmpty)
          private val idx = cols.map(schema.fieldIndex)
          private val getLongAt: Array[InternalRow => Long] = idx.map { i =>
            if (schema.fields(i).dataType == LongType)
              (r: InternalRow) => r.getLong(i)
            else (r: InternalRow) => r.getInt(i).toLong // Int + Date (days)
          }
          private val open = scala.collection.mutable.LinkedHashMap
            .empty[Seq[Option[Long]], StagedFileWriter]
          override def write(row: InternalRow): Unit = {
            val key: Seq[Option[Long]] = idx.indices.map { j =>
              if (row.isNullAt(idx(j))) None else Some(getLongAt(j)(row))
            }
            open.getOrElseUpdate(key,
              new StagedFileWriter(d, schema, partitionId, taskId,
                bloomCols, bloomBits))
              .write(row)
          }
          override def commit(): WriterCommitMessage =
            StagedFiles(open.iterator.map { case (key, w) =>
              w.finish(cols.toSeq.zip(key).collect { case (c, Some(v)) =>
                s"${ManifestTable.PartStatPrefix}$c=$v:$v"
              })
            }.toSeq)
          override def abort(): Unit = open.values.foreach(_.abort())
          override def close(): Unit = ()
        }
    }
  }
}
