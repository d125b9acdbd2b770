package graft.sources

import org.apache.hadoop.fs.{Path => HadoopPath}
// the OLD mapred FileSplit: Spark's SpecificParquetRecordReaderBase casts
// its InputSplit to it (mapred.FileSplit IS-A mapreduce.lib.input.FileSplit)
import org.apache.hadoop.mapred.FileSplit
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.execution.datasources.parquet.VectorizedParquetRecordReader
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.ColumnarBatch

/** The manifest store's ONE read path: Spark's own
  * `VectorizedParquetRecordReader` decodes whole `ColumnarBatch`es
  * (page-at-a-time column decoding, dictionary-aware, null bitmaps).
  * Whole-stage codegen consumes the batches through the standard
  * `ColumnarToRow` bridge, so the scan joins the same fused pipeline
  * Spark's native parquet scans use.
  *
  * Scope — every read of a data file comes through [[open]]:
  *
  *   - batch scans and every streaming micro-batch, as batches;
  *   - change-feed reads ([[ManifestCdfReaderFactory]]) and the
  *     delete-carrying zero-column counts, as rows through [[rows]];
  *   - merge-on-read deletes apply ON the batch (the Iceberg/Delta
  *     columnar MoR shape): the reader additionally requests the
  *     delete-key columns, builds a surviving-row-id mapping per batch,
  *     and serves the projection through mapped vector views;
  *   - scalars and the nested family at any depth (Spark's
  *     ParquetColumnVector builds nested vectors for the LIST/MAP/group
  *     shapes).
  *
  * The one read beside it is the footer row count
  * ([[ManifestCodec.footerRowCount]]) that answers a zero-column
  * projection with no deletes without opening a page.
  *
  * Pushed filters ride in through parquet's standard conf key
  * (`ParquetInputFormat.setFilterPredicate`), so ROW-GROUP skipping is
  * preserved. Requested-vs-file schema reconciliation (additive
  * evolution) is Spark's own `clipParquetSchema`: a requested column
  * missing from an old file becomes a null vector.
  */
private[graft] object ManifestColumnar {

  /** `ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA` — the conf key
    * `SpecificParquetRecordReaderBase.initialize` reads the catalyst
    * requested schema from (a stable Spark constant since 1.x).
    */
  private val RequestedSchemaKey =
    "org.apache.spark.sql.parquet.row.requested_schema"

  /** Fail a read of anything but a parquet data file, naming it: a
    * manifest written before the text codec was retired may still list a
    * `data-*.rows` file, and skipping it would silently drop its rows.
    */
  def requireParquet(file: String): Unit =
    if (!file.endsWith(ManifestCodec.ParquetExt))
      throw new IllegalStateException(
        s"manifest data file $file is not parquet: text-codec (.rows) " +
          "data files are no longer readable — the store reads and writes " +
          "parquet only; rewrite the table from a build that still reads them")

  /** The rows of a batch reader, one `ColumnarBatch.rowIterator` per
    * batch. Each row is a view into the reader's reused vectors, valid
    * until the next `next()` — the usual `PartitionReader` contract.
    */
  def rows(batches: PartitionReader[ColumnarBatch]): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private var it: java.util.Iterator[InternalRow] =
        java.util.Collections.emptyIterator()
      private var row: InternalRow = _
      override def next(): Boolean = {
        while (!it.hasNext) {
          if (!batches.next()) return false
          it = batches.get().rowIterator()
        }
        row = it.next()
        true
      }
      override def get(): InternalRow = row
      override def close(): Unit = batches.close()
    }

  /** Open `file` as a columnar batch reader over exactly `wanted`.
    * `tableSchema` (the full table schema) is consulted only under
    * merge-on-read deletes, to place the extra key columns.
    */
  def open(
      file: String, wanted: StructType,
      filters: Seq[org.apache.spark.sql.sources.Filter],
      deletes: Seq[(String, DataType, Set[Long])] = Seq.empty,
      tableSchema: StructType = new StructType(),
      capacity: Int = 4096): PartitionReader[ColumnarBatch] = {
    requireParquet(file)
    // MERGE-ON-READ: the scan must see the delete-key columns to filter
    // on them, so they extend the requested schema past the projection;
    // the served batch exposes only the projected columns. The extended
    // schema is rebuilt in TABLE-SCHEMA ORDER — the vectorized reader
    // resolves requested columns against the file's column order, and
    // every file's order is a prefix-compatible subsequence of the
    // table's (additive evolution), so table order is the one order
    // that is always file-consistent; a key column appended at the end
    // instead NPEs inside Spark's reader on mixed-encoding chunks. A
    // key column an old file lacks clips to a null vector — null keys
    // are never in a delete set, so those rows survive.
    val readSchema =
      if (deletes.isEmpty) wanted
      else {
        // table order for PLACEMENT, but each projected field keeps the
        // type `wanted` carries — nested schema pruning may have
        // narrowed a struct, and serving the full struct against a plan
        // compiled for the narrowed one misaligns child ordinals
        val byName = wanted.fields.map(f => f.name -> f).toMap
        StructType(tableSchema.fields.flatMap { f =>
          byName.get(f.name).orElse(
            if (deletes.exists(_._1 == f.name))
              Some(StructField(f.name, f.dataType, nullable = true))
            else None)
        })
      }
    val conf = ManifestCodec.hadoopConf()
    conf.set(RequestedSchemaKey, readSchema.json)
    // the reader resolves its ReadSupport (schema clipping + evolution
    // null-vectors) through parquet's standard conf key
    conf.set(org.apache.parquet.hadoop.ParquetInputFormat.READ_SUPPORT_CLASS,
      classOf[org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport]
        .getName)
    // Spark's session normally materializes these SQLConf values into
    // the per-scan hadoop conf; the schema converter reads them with NO
    // defaults. Fixed values, not session state: ManifestCodec.newWriter
    // wrote the files, so their meaning is known (string-annotated
    // binaries, no INT96, µs timestamps with NTZ annotated unadjusted)
    conf.setBoolean("spark.sql.parquet.binaryAsString", false)
    conf.setBoolean("spark.sql.parquet.int96AsTimestamp", true)
    // safe as a FIXED value: the write path rejects schemas whose
    // columns differ only by case (ManifestCodec.requireWritable), so
    // case-insensitive clipping here can never pick the wrong column
    conf.setBoolean("spark.sql.caseSensitive", false)
    conf.setBoolean("spark.sql.parquet.inferTimestampNTZ.enabled", true)
    conf.setBoolean("spark.sql.legacy.parquet.nanosAsLong", false)
    conf.setBoolean("spark.sql.parquet.fieldId.read.enabled", false)
    conf.setBoolean("spark.sql.parquet.fieldId.write.enabled", false)
    // never stronger than Spark's residual re-application; columns absent from this file's
    // footer are excluded (can't filter bytes that don't exist)
    val present = ManifestCodec.footerFields(file, conf)
    ManifestCodec.parquetPredicate(wanted, present.contains, filters)
      .foreach(p => org.apache.parquet.hadoop.ParquetInputFormat
        .setFilterPredicate(conf, p))
    val p = java.nio.file.Paths.get(file)
    val split = new FileSplit(new HadoopPath(p.toUri), 0,
      java.nio.file.Files.size(p), Array.empty[String])
    val ctx = ManifestCodec.taskContext(conf)
    // CORRECTED rebase: every file is written by ManifestCodec.newWriter
    // with proleptic-Gregorian MICROS — there are no legacy-calendar or
    // INT96 bytes to rebase, and failing fast beats silently shifting
    val vr = new VectorizedParquetRecordReader(
      null, "CORRECTED", "UTC", "CORRECTED", "UTC",
      /* useOffHeap = */ false, capacity)
    var ok = false
    try {
      vr.initialize(split, ctx)
      vr.initBatch(new StructType(), InternalRow.empty)
      vr.enableReturningBatches()
      ok = true
    } finally if (!ok) vr.close()
    if (deletes.isEmpty)
      new PartitionReader[ColumnarBatch] {
        override def next(): Boolean = vr.nextBatch()
        override def get(): ColumnarBatch = vr.resultBatch()
        override def close(): Unit = vr.close()
      }
    else new PartitionReader[ColumnarBatch] {
      // vector objects are stable across batches (the vectorized reader
      // resets and refills the same ColumnarBatch), so the mapped views
      // and the served batch are built ONCE; only the mapping refills
      private val mapping = new Array[Int](capacity)
      private var under: ColumnarBatch = _
      private var served: ColumnarBatch = _
      private var keyVecs: Array[(org.apache.spark.sql.vectorized.ColumnVector, Boolean, Set[Long])] = _
      override def next(): Boolean = {
        var has = vr.nextBatch()
        while (has) {
          if (under == null) {
            under = vr.resultBatch()
            keyVecs = deletes.map { case (c, dt, keys) =>
              (under.column(readSchema.fieldIndex(c)),
                dt == LongType, keys)
            }.toArray
            served = new ColumnarBatch(
              wanted.fields.map(f =>
                new MappedColumnVector(
                  under.column(readSchema.fieldIndex(f.name)), mapping)
                  : org.apache.spark.sql.vectorized.ColumnVector))
          }
          val n = under.numRows()
          var out = 0
          var r = 0
          while (r < n) {
            var live = true
            var k = 0
            while (live && k < keyVecs.length) {
              val (vec, isLong, keys) = keyVecs(k)
              if (!vec.isNullAt(r) &&
                  keys.contains(
                    if (isLong) vec.getLong(r) else vec.getInt(r).toLong))
                live = false
              k += 1
            }
            if (live) { mapping(out) = r; out += 1 }
            r += 1
          }
          if (out > 0) {
            served.setNumRows(out)
            return true
          }
          has = vr.nextBatch() // fully-deleted batch: keep scanning
        }
        false
      }
      override def get(): ColumnarBatch = served
      override def close(): Unit = vr.close()
    }
  }

  /** A row-id-mapped VIEW of a column vector (the Iceberg
    * `ColumnVectorWithFilter` shape): position `i` of the view is
    * position `mapping(i)` of the delegate. O(1) per batch — no value
    * is copied; the delete filter's surviving ordinals are the only
    * state. `hasNull`/`numNulls` delegate (an over-approximation over
    * the surviving subset, which only costs consumers their null-free
    * fast path, never correctness).
    */
  private final class MappedColumnVector(
      under: org.apache.spark.sql.vectorized.ColumnVector,
      mapping: Array[Int])
      extends org.apache.spark.sql.vectorized.ColumnVector(under.dataType()) {
    // NO-OP close: the delegate is owned and reused by the vectorized
    // reader across batches — a consumer closing the served batch
    // (Spark does, between batches) must not release the reader's live
    // vectors out from under it (releaseMemory nulls the arrays → NPE
    // inside the next page decode); `vr.close()` owns the real release
    override def close(): Unit = ()
    override def hasNull: Boolean = under.hasNull
    override def numNulls(): Int = under.numNulls()
    override def isNullAt(i: Int): Boolean = under.isNullAt(mapping(i))
    override def getBoolean(i: Int): Boolean = under.getBoolean(mapping(i))
    override def getByte(i: Int): Byte = under.getByte(mapping(i))
    override def getShort(i: Int): Short = under.getShort(mapping(i))
    override def getInt(i: Int): Int = under.getInt(mapping(i))
    override def getLong(i: Int): Long = under.getLong(mapping(i))
    override def getFloat(i: Int): Float = under.getFloat(mapping(i))
    override def getDouble(i: Int): Double = under.getDouble(mapping(i))
    override def getArray(i: Int): org.apache.spark.sql.vectorized.ColumnarArray =
      under.getArray(mapping(i))
    override def getMap(i: Int): org.apache.spark.sql.vectorized.ColumnarMap =
      under.getMap(mapping(i))
    override def getDecimal(i: Int, precision: Int, scale: Int)
        : org.apache.spark.sql.types.Decimal =
      under.getDecimal(mapping(i), precision, scale)
    override def getUTF8String(i: Int): org.apache.spark.unsafe.types.UTF8String =
      under.getUTF8String(mapping(i))
    override def getBinary(i: Int): Array[Byte] = under.getBinary(mapping(i))
    // children must be mapped VIEWS too: ColumnVector.getStruct is FINAL
    // and builds ColumnarRow(this, viewRowId), which then reads
    // getChild(ordinal).getX(viewRowId) — an unmapped child would be
    // read at the view's row id (wrong row entirely). Arrays/maps are
    // safe without this (getArray/getMap above delegate at the MAPPED
    // id and return the delegate's own offset-resolved views).
    private val kids =
      scala.collection.mutable.HashMap.empty[Int, MappedColumnVector]
    override def getChild(ordinal: Int): org.apache.spark.sql.vectorized.ColumnVector =
      kids.getOrElseUpdate(ordinal,
        new MappedColumnVector(under.getChild(ordinal), mapping))
  }
}
