package graft.sources

import org.apache.spark.sql.{DataFrame, GraftPlanBridge, SparkSession}
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

/** CHANGE DATA FEED over the manifest store — "what changed between
  * version a and version b", as rows: the table's columns plus
  * `_change_type` ('insert' | 'delete') and `_commit_version`. The
  * Delta-CDF shape, derived entirely from the immutable manifests (no
  * change files are ever written — the commit log IS the change log).
  * Each version v is the diff of two [[ManifestTable.Snapshot]]s, and
  * every row is judged by the one scoping rule,
  * [[ManifestTable.Snapshot.deletesFor]]:
  *
  *   - data files ADDED in v → their rows live at v, as 'insert' @ v.
  *     Cost: O(changed files), never O(table).
  *   - equality-delete entries ADDED in v → the rows they erased: rows of
  *     snapshot(v−1)'s files that were live at v−1 and that the new
  *     entries reach, as 'delete' @ v. Zone maps, partition fields,
  *     buckets and blooms prune the probe to the files that can hold a
  *     key; re-deleting an already-dead key emits nothing.
  *   - a [[ManifestTable.mergeKeys]] upsert therefore reads as
  *     delete@v + insert@v per updated key — the merge-on-read CDC pair
  *     (downstreams that want update-images join the two on the key).
  *
  * So scan(v) = scan(v−1) − deletes(v) + inserts(v), as multisets.
  * Versions that REMOVE data files (truncating overwrite,
  * [[ManifestTable.compactDeletes]]) are not expressible as a change
  * stream and FAIL loudly ([[ManifestTable.Snapshot.diff]]): run
  * maintenance on a quiesced table and restart feeds from the compacted
  * state. Changes remain readable as long as the version range's
  * manifests survive [[ManifestTable.vacuum]] retention.
  */
object ManifestCdf {

  val ChangeTypeCol = "_change_type"
  val CommitVersionCol = "_commit_version"

  /** The changes of versions (fromVersion, toVersion]: a batch read of
    * the change-feed stream's partition planner over that range.
    */
  def changes(
      spark: SparkSession, path: String, fromVersion: Int, toVersion: Int): DataFrame = {
    require(fromVersion >= 0 && toVersion > fromVersion,
      s"changes: need 0 <= from < to, got ($fromVersion, $toVersion]")
    val schema = ManifestTable.withChangeColumns(ManifestTable.readSchemaFromManifest(path))
    GraftPlanBridge.ofRows(spark, DataSourceV2Relation.create(
      new ManifestTbl(path, schema, cdf = true,
        changeRange = Some((fromVersion, toVersion))), None, None))
  }

  /** The change-feed partitions of versions (a, b]: per version, one
    * 'insert' split per added file and one 'delete' split per prior file
    * an added delete entry may reach.
    */
  private[sources] def partitions(path: String, a: Int, b: Int): Array[InputPartition] = {
    val snaps = (a to b).map(v => ManifestTable.Snapshot.at(path, Some(v)))
    snaps.zip(snaps.drop(1)).iterator.flatMap { case (prev, cur) =>
      val (added, newDeletes) = cur.diff(prev)
      def split(f: ManifestTable.Entry, changeType: String,
          dead: Seq[(String, Set[Long])], probe: Seq[(String, Set[Long])]) =
        CdfFilePartition(ManifestTable.dir(path).resolve(f.name).toString,
          changeType, cur.version, dead, probe): InputPartition
      def live(s: ManifestTable.Snapshot, f: ManifestTable.Entry) =
        ManifestTable.keySets(s.keys, s.deletesFor(f).map(_.file), f.name)
      val inserts = added.iterator.map(f => split(f, "insert", live(cur, f), Seq.empty))
      // prior files that may hold an erased key, each probed with the
      // added entries that reach it
      val fresh = newDeletes.map(_.file)
      val probed = ManifestTable.keySets(cur.keys, fresh, path).flatMap { case (c, keys) =>
        prev.files(Seq(org.apache.spark.sql.sources.In(c, keys.toArray[Any])))
      }.distinctBy(_.name)
      val now = cur.dataFiles.iterator.map(f => f.name -> f).toMap
      val deletes = probed.iterator.flatMap { f =>
        val reach = cur.deletesFor(now(f.name)).map(_.file).filter(fresh.contains)
        if (reach.isEmpty) None
        else Some(split(f, "delete", live(prev, f), ManifestTable.keySets(cur.keys, reach, f.name)))
      }
      inserts ++ deletes
    }.toArray
  }
}

/** One streamed change-feed split: a data file's rows that are live
  * under `dead` (the key sets its snapshot applies to it) and, for a
  * 'delete' split, erased by `probe` (the key sets `version` adds that
  * reach it). Key sets ride in the partition itself: deletes are
  * request-sized by the store's contract, so this is the
  * broadcast-of-the-delete-list shape, never corpus shipping.
  */
private[sources] case class CdfFilePartition(
    file: String, changeType: String, version: Int,
    dead: Seq[(String, Set[Long])], probe: Seq[(String, Set[Long])])
    extends InputPartition

private[sources] class ManifestCdfReaderFactory(
    tableSchema: org.apache.spark.sql.types.StructType)
    extends org.apache.spark.sql.connector.read.PartitionReaderFactory {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.types.{IntegerType, LongType}

  override def createReader(p: InputPartition)
      : org.apache.spark.sql.connector.read.PartitionReader[InternalRow] = {
    val part = p.asInstanceOf[CdfFilePartition]
    def keyTest(pairs: Seq[(String, Set[Long])]): Array[(Int, Boolean, Set[Long])] =
      pairs.iterator.map { case (colName, keys) =>
        val i = tableSchema.fieldIndex(colName)
        val isLong = tableSchema.fields(i).dataType match {
          case LongType => true
          case IntegerType => false
          case dt => throw new IllegalStateException(
            s"CDF key column $colName is non-integral: $dt")
        }
        (i, isLong, keys)
      }.toArray
    val dead = keyTest(part.dead)
    val probe = keyTest(part.probe)
    val ctValue = org.apache.spark.unsafe.types.UTF8String.fromString(part.changeType)

    // the change-type/version suffix is one fixed row joined after each
    // table row — no per-row copy of the table columns
    val suffix = InternalRow(ctValue, part.version)
    new org.apache.spark.sql.connector.read.PartitionReader[InternalRow] {
      private val rdr = ManifestColumnar.rows(
        ManifestColumnar.open(part.file, tableSchema, Seq.empty))
      private val row = new org.apache.spark.sql.catalyst.expressions.JoinedRow()
      private def matches(r: InternalRow, t: Array[(Int, Boolean, Set[Long])]): Boolean =
        t.exists { case (i, isLong, keys) =>
          !r.isNullAt(i) &&
            keys.contains(if (isLong) r.getLong(i) else r.getInt(i).toLong)
        }
      override def next(): Boolean = {
        while (rdr.next()) {
          val base = rdr.get()
          // live in its snapshot first, then the erased-key probe
          if (!matches(base, dead) && (probe.isEmpty || matches(base, probe))) {
            row(base, suffix)
            return true
          }
        }
        false
      }
      override def get(): InternalRow = row
      override def close(): Unit = rdr.close()
    }
  }
}

/** The change feed as a STREAMING SOURCE (Delta's `readChangeFeed`
  * stream): batch (a, b] emits exactly [[ManifestCdf.changes]](a, b)'s
  * rows, planned by the same [[ManifestCdf.partitions]]. Unlike the plain
  * streaming source, DELETES ARE EXPRESSIBLE — only file-removing
  * rewrites (compaction, truncating overwrite) fail loudly.
  * `startingVersion` (default 1) is the first change version included;
  * offsets and admission control are [[ManifestVersionStream]]'s.
  */
private[sources] class ManifestCdfMicroBatchStream(
    path: String,
    tableSchema: org.apache.spark.sql.types.StructType,
    maxVersionsPerBatch: Int, startingVersion: Int)
    extends ManifestVersionStream(
      path, maxVersionsPerBatch, initial = math.max(0, startingVersion - 1)) {

  override protected def plan(a: Int, b: Int): Array[InputPartition] =
    ManifestCdf.partitions(path, a, b)

  override def createReaderFactory()
      : org.apache.spark.sql.connector.read.PartitionReaderFactory =
    new ManifestCdfReaderFactory(tableSchema)
}
