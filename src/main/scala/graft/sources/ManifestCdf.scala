package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** CHANGE DATA FEED over the manifest store — "what changed between
  * version a and version b", as rows: the table's columns plus
  * `_change_type` ('insert' | 'delete') and `_commit_version`. The
  * Delta-CDF shape, derived entirely from the immutable manifests (no
  * change files are ever written — the commit log IS the change log):
  *
  *   - data files ADDED in version v → their rows, read raw through the
  *     file-restricted scan, as 'insert' @ v. Cost: O(changed files),
  *     never O(table) — the property that makes CDF usable at 100 TB.
  *   - equality-delete entries ADDED in v (key set K on column c) → the
  *     rows K actually erased = snapshot(v−1) filtered to K, as
  *     'delete' @ v. K is request-sized (the delete contract), the
  *     filter is key-equality, so zone maps / partition fields prune the
  *     snapshot scan to the files that can hold K. Re-deleting an
  *     already-dead key erases nothing and correctly emits nothing
  *     (snapshot(v−1) no longer holds it).
  *   - a [[ManifestTable.mergeKeys]] upsert therefore reads as
  *     delete@v + insert@v per updated key — the merge-on-read CDC pair
  *     (downstreams that want update-images join the two on the key).
  *
  * Versions that REMOVE data files (truncating overwrite,
  * [[ManifestTable.compactDeletes]]) are not expressible as a change
  * stream and FAIL loudly — same contract as the streaming source:
  * run maintenance on a quiesced table and restart feeds from the
  * compacted state. Changes remain readable as long as the version
  * range's manifests survive [[ManifestTable.vacuum]] retention.
  */
object ManifestCdf {

  val ChangeTypeCol = "_change_type"
  val CommitVersionCol = "_commit_version"

  private val Fmt = "graft.sources.ManifestTable"

  def changes(
      spark: SparkSession, path: String, fromVersion: Int, toVersion: Int): DataFrame = {
    require(fromVersion >= 0 && toVersion > fromVersion,
      s"changes: need 0 <= from < to, got ($fromVersion, $toVersion]")

    def linesAt(v: Int): Seq[String] =
      if (v == 0) Seq.empty
      else ManifestTable.manifestAt(path, Some(v)).map(_._2).getOrElse(Seq.empty)

    def dataNames(ls: Seq[String]): Set[String] =
      ManifestTable.dataEntries(ls).iterator.map { l =>
        val (name, stats) = ManifestTable.parseEntry(l)
        (name, stats)
      }.collect {
        // 0-row markers carry no change
        case (name, stats)
            if !stats.get(ManifestTable.RowStatKey).exists(_._1 == 0L) => name
      }.toSet

    val perVersion: Seq[DataFrame] = (fromVersion + 1 to toVersion).flatMap { v =>
      val prevLines = linesAt(v - 1)
      val curLines = linesAt(v)
      val prevData = dataNames(prevLines)
      val curData = dataNames(curLines)
      val removed = prevData -- curData
      if (removed.nonEmpty) throw new IllegalStateException(
        s"graft manifest CDF at $path: version $v removed data files " +
          s"(${removed.toSeq.sorted.take(5).mkString(", ")}) — truncating " +
          "rewrites/compaction are not expressible as a change feed; " +
          "restart feeds from the compacted state")

      val inserted = curData -- prevData
      val inserts: Option[DataFrame] =
        if (inserted.isEmpty) None
        else Some(spark.read.format(Fmt)
          .option("path", path).option("version", v)
          .option("files", inserted.toSeq.sorted.mkString(","))
          .load()
          .withColumn(ChangeTypeCol, lit("insert"))
          .withColumn(CommitVersionCol, lit(v)))

      // delete entries added in v, keyed (column → union of new keys);
      // note a version's OWN inserts are never subject to its own new
      // deletes (deleteKeys adds no files; mergeKeys scopes prior-only)
      import scala.jdk.CollectionConverters._
      val prevDel = prevLines.filter(ManifestTable.isDeleteEntry).toSet
      val newDelCols: Map[String, Set[Long]] = curLines
        .filter(l => ManifestTable.isDeleteEntry(l) && !prevDel.contains(l))
        .map(ManifestTable.parseDeleteEntry)
        .groupBy(_._2)
        .map { case (colName, entries) =>
          colName -> entries.iterator.flatMap { case (f, _) =>
            java.nio.file.Files.readAllLines(
              ManifestTable.dir(path).resolve(f)).asScala
              .iterator.filter(_.nonEmpty).map(_.toLong)
          }.toSet
        }
      val deletes: Seq[DataFrame] = newDelCols.toSeq.sortBy(_._1).map {
        case (colName, keys) =>
          spark.read.format(Fmt)
            .option("path", path).option("version", v - 1).load()
            .filter(col(colName).isin(keys.toSeq.sorted: _*))
            .withColumn(ChangeTypeCol, lit("delete"))
            .withColumn(CommitVersionCol, lit(v))
      }
      inserts.toSeq ++ deletes
    }

    perVersion.reduceOption(_ unionByName _).getOrElse {
      // no changes in range: an empty frame in the CDF schema
      val cur = spark.read.format(Fmt).option("path", path).load()
      cur.withColumn(ChangeTypeCol, lit("insert"))
        .withColumn(CommitVersionCol, lit(0))
        .limit(0)
    }
  }
}

/** One streamed change-feed split: a data file read either RAW as
  * 'insert' rows of `version`, or as the 'delete' rows `version` erased —
  * the file's snapshot(v−1) survivors (`deadKeys` applied) restricted to
  * the erased key set (`probe`). Key sets ride in the partition itself:
  * deletes are request-sized by the store's contract, so this is the
  * broadcast-of-the-delete-list shape, never corpus shipping.
  */
private[sources] case class CdfFilePartition(
    file: String, changeType: String, version: Int,
    deadKeys: Seq[(String, Seq[Long])],
    probe: Option[(String, Seq[Long])])
    extends org.apache.spark.sql.connector.read.InputPartition

private[sources] class ManifestCdfReaderFactory(
    tableSchema: org.apache.spark.sql.types.StructType)
    extends org.apache.spark.sql.connector.read.PartitionReaderFactory {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.types.{IntegerType, LongType}

  override def createReader(p: org.apache.spark.sql.connector.read.InputPartition)
      : org.apache.spark.sql.connector.read.PartitionReader[InternalRow] = {
    val part = p.asInstanceOf[CdfFilePartition]
    def keyTest(pairs: Seq[(String, Seq[Long])]): Array[(Int, Boolean, Set[Long])] =
      pairs.iterator.map { case (colName, keys) =>
        val i = tableSchema.fieldIndex(colName)
        val isLong = tableSchema.fields(i).dataType match {
          case LongType => true
          case IntegerType => false
          case dt => throw new IllegalStateException(
            s"CDF key column $colName is non-integral: $dt")
        }
        (i, isLong, keys.toSet)
      }.toArray
    val dead = keyTest(part.deadKeys)
    val probe = keyTest(part.probe.toSeq)
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
          // snapshot(v-1) membership first, then the erased-key probe
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
  * stream): offsets are manifest versions, batch (a, b] emits exactly
  * [[ManifestCdf.changes]](a, b)'s rows — inserts read file-restricted,
  * deletes as snapshot(v−1) key probes pruned by zone maps and partition
  * fields to the files that can hold the erased keys. Replays regenerate
  * identical batches from the immutable manifests (exactly-once across
  * restarts via the checkpoint's offset log); unlike the plain streaming
  * source, DELETES ARE EXPRESSIBLE — only file-removing rewrites
  * (compaction, truncating overwrite) fail loudly.
  * `startingVersion` (default 1) is the first change version included;
  * `maxVersionsPerBatch` bounds catch-up batches; Trigger.AvailableNow
  * pins its target at start.
  */
private[sources] class ManifestCdfMicroBatchStream(
    path: String,
    tableSchema: org.apache.spark.sql.types.StructType,
    maxVersionsPerBatch: Int, startingVersion: Int)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.InputPartition
  import org.apache.spark.sql.connector.read.streaming.{Offset => SOffset, ReadLimit}

  private def current: Int =
    ManifestTable.currentManifest(path).map(_._1).getOrElse(0)

  @volatile private var availableNowTarget: Option[Int] = None

  override def initialOffset(): SOffset =
    ManifestVersionOffset(math.max(0, startingVersion - 1))

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

  private def linesAt(v: Int): Seq[String] =
    if (v <= 0) Seq.empty
    else ManifestTable.manifestAt(path, Some(v)).map(_._2).getOrElse(Seq.empty)

  /** Non-marker data entries of a line set, with stats and line index. */
  private def dataEntriesOf(ls: Seq[String])
      : Seq[(String, Map[String, (Long, Long)], Int)] =
    ls.zipWithIndex
      .filter { case (l, _) =>
        !ManifestTable.isDeleteEntry(l) && !ManifestTable.isRetiredEntry(l) }
      .map { case (l, i) =>
        val (name, stats) = ManifestTable.parseEntry(l)
        (name, stats, i)
      }
      .filter { case (_, stats, _) =>
        !stats.get(ManifestTable.RowStatKey).exists(_._1 == 0L) }

  override def planInputPartitions(start: SOffset, end: SOffset): Array[InputPartition] = {
    val a = start.asInstanceOf[ManifestVersionOffset].version
    val b = end.asInstanceOf[ManifestVersionOffset].version
    val d = ManifestTable.dir(path)
    def keysOf(f: String): Seq[Long] = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.readAllLines(d.resolve(f)).asScala
        .iterator.filter(_.nonEmpty).map(_.toLong).toSeq
    }
    (a + 1 to b).iterator.flatMap { v =>
      val prevLines = linesAt(v - 1)
      val curLines = linesAt(v)
      val prevData = dataEntriesOf(prevLines)
      val prevNames = prevData.map(_._1).toSet
      val curNames = dataEntriesOf(curLines).map(_._1).toSet
      val removed = prevNames -- curNames
      if (removed.nonEmpty) throw new IllegalStateException(
        s"graft manifest CDF stream at $path: version $v removed data files " +
          s"(${removed.toSeq.sorted.take(5).mkString(", ")}) — truncating " +
          "rewrites/compaction are not expressible as a change feed; " +
          "restart feeds from the compacted state")

      val inserts: Iterator[InputPartition] = (curNames -- prevNames).toSeq.sorted
        .iterator.map(n => CdfFilePartition(
          d.resolve(n).toString, "insert", v, Seq.empty, None): InputPartition)

      // delete entries ADDED in v, keys unioned per column
      val prevDel = prevLines.filter(ManifestTable.isDeleteEntry).toSet
      val newDelCols: Seq[(String, Seq[Long])] = curLines
        .filter(l => ManifestTable.isDeleteEntry(l) && !prevDel.contains(l))
        .map(ManifestTable.parseDeleteEntry)
        .groupBy(_._2)
        .map { case (colName, entries) =>
          colName -> entries.iterator.flatMap(e => keysOf(e._1)).toSeq.distinct.sorted
        }.toSeq.sortBy(_._1)

      // snapshot(v-1) merge-on-read state, per file: which delete entries
      // apply (prior-only scoping by line order, same as the batch scan)
      val prevDelIdx = prevLines.zipWithIndex.collect {
        case (l, i) if ManifestTable.isDeleteEntry(l) =>
          (ManifestTable.parseDeleteEntry(l), i, ManifestTable.isPriorOnlyDelete(l))
      }
      val prevKeyCache = scala.collection.mutable.Map.empty[String, Seq[Long]]
      val deletes: Iterator[InputPartition] = newDelCols.iterator.flatMap {
        case (colName, keys) =>
          val probeFilter = org.apache.spark.sql.sources.In(
            colName, keys.map(k => k: Any).toArray)
          prevData.iterator
            // zone-map / partition-field pruning: only files that can
            // hold an erased key plan a task — O(touched files) deletes
            .filter { case (_, stats, _) =>
              ManifestTable.mayMatchZone(stats, probeFilter) &&
                ManifestTable.mayMatchPartitionField(stats, probeFilter) }
            .map { case (name, _, i) =>
              val dead = prevDelIdx.collect {
                case ((df, dc), di, priorOnly) if !priorOnly || di > i =>
                  (dc, prevKeyCache.getOrElseUpdate(df, keysOf(df)))
              }.groupBy(_._1)
                .map { case (c, es) => (c, es.flatMap(_._2).distinct) }.toSeq
              CdfFilePartition(d.resolve(name).toString, "delete", v,
                dead, Some((colName, keys))): InputPartition
            }
      }
      inserts ++ deletes
    }.toArray
  }

  override def createReaderFactory()
      : org.apache.spark.sql.connector.read.PartitionReaderFactory =
    new ManifestCdfReaderFactory(tableSchema)

  override def deserializeOffset(json: String): SOffset =
    ManifestVersionOffset(json.toInt)

  override def commit(end: SOffset): Unit = ()
  override def stop(): Unit = ()
}
