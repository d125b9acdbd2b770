package graft.sources

import java.nio.file.{Files, Path, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HadoopPath}
import org.apache.hadoop.mapreduce.{JobID, TaskAttemptContext, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.hadoop.ParquetOutputFormat
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOutputWriter, ParquetWriteSupport}
import org.apache.spark.sql.types._

/** The manifest store's DATA FILES: `data-*.parquet`, written and read
  * through Spark's own parquet classes only. The commit protocol never
  * looks inside a file (a manifest line records a file NAME plus stats);
  * this object owns what the files hold:
  *
  *   - the type surface ([[supportedType]]): Long/Int/Double/Float/
  *     Boolean/String/Binary, Date, Timestamp[NTZ], Decimal of any
  *     precision, and ARRAY/STRUCT/MAP composed recursively;
  *   - WRITES ([[newWriter]]): Spark's `ParquetOutputWriter` over
  *     `ParquetWriteSupport`, the sink Spark's own parquet format uses,
  *     which takes `InternalRow` directly — SNAPPY, standard LIST/MAP
  *     shapes, decimals as INT32/INT64/FIXED_LEN_BYTE_ARRAY by precision,
  *     so any parquet reader (`spark.read.parquet` included) reads the
  *     files;
  *   - READS go through [[ManifestColumnar.open]] (Spark's vectorized
  *     reader); this object supplies the pushed parquet predicate
  *     ([[parquetPredicate]]), the footer field names the evolution
  *     intersection needs, and the footer row count that answers
  *     zero-column projections.
  *
  * The text format (`data-*.rows`, `codec=text`) is retired: naming
  * `codec` in a write, a CREATE TABLE or a layout change fails, a
  * persisted `codec` key in an old header is ignored, and a scan that
  * plans a `.rows` data file fails with its name. `batch-*.rows`
  * idempotence markers keep their names (zero-byte, `#rows=0`, never
  * opened).
  *
  * Zone maps generalize with the type surface: Date (epoch days),
  * Timestamp (micros), and Decimal (unscaled long) all have a total
  * order representable in the manifest's existing `lo:hi` long stats,
  * so file skipping on a date column works exactly like on a bigint.
  */
private[graft] object ManifestCodec {

  val ParquetExt = ".parquet"

  /** The retired write option / layout key that chose the text format. */
  private val CodecKey = "codec"

  /** Refuse a write option, TBLPROPERTIES or layout update that names
    * `codec`: the store writes parquet only, and a silently ignored
    * `codec=text` would leave the caller believing they got text files.
    */
  def refuseCodec(keys: Iterable[String], where: String): Unit =
    require(!keys.exists(_.equalsIgnoreCase(CodecKey)),
      s"$where: '$CodecKey' is not a setting — the manifest store writes " +
        "parquet only (the text codec is retired)")

  /** A layout map read from an old manifest header, without the retired
    * `codec` key (ignored: every new file is parquet whatever it said).
    */
  def withoutCodec(layout: Map[String, String]): Map[String, String] =
    layout - CodecKey

  /** Can `dt` land in a data file? Scalars, and the nested family
    * (ARRAY / STRUCT / MAP) composed recursively — the embeddings, media
    * payloads and JSON-shaped metadata columns the LLM-pipeline store is
    * ABOUT. Map KEYS are scalar (a non-scalar key has no sane equality
    * story here and Spark itself refuses to compare them). Zone maps and
    * blooms don't apply to nested columns (conservative: never pruned
    * on); the vectorized reader serves them like scalars.
    */
  def supportedType(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | DoubleType | BooleanType | StringType |
        DateType | TimestampType | TimestampNTZType | FloatType |
        BinaryType => true
    // any Spark-representable precision; zone maps stop at 18 (the
    // manifest stat is one long), matching the decimal-pushdown abstention
    case _: DecimalType => true
    case ArrayType(et, _) => supportedType(et)
    case StructType(fields) => fields.nonEmpty && fields.forall(f =>
      f.name.nonEmpty && supportedType(f.dataType))
    case MapType(kt, vt, _) =>
      (kt match {
        case _: ArrayType | _: StructType | _: MapType => false
        case k => supportedType(k)
      }) && supportedType(vt)
    case _ => false
  }

  // the manifest stats grammar's structural characters, plus the
  // reserved key prefixes — a column named `a;b` would write a stat
  // piece that parses as bounds for a DIFFERENT column `b` (a false
  // skip = silent data loss), `#rows` would collide with the row-count
  // key, `@x` would read as a partition field, and a tab/newline breaks
  // the line structure outright; ',' is the multi-column list separator
  private val HostileNameChar = "[\\t\\n\\r;=:~,]".r

  def requireWritable(schema: StructType): Unit = {
    // columns differing only by case are rejected outright: the
    // vectorized reader clips the requested schema against each file
    // case-INsensitively (a fixed conf in ManifestColumnar.open), so two
    // such columns could resolve to the same file column on read
    val lowered = schema.fields.map(_.name.toLowerCase(java.util.Locale.ROOT))
    require(lowered.distinct.length == lowered.length,
      "manifest schema has columns differing only by case (" +
        schema.fieldNames.mkString(", ") + ") — case-insensitive " +
        "readers cannot tell them apart; rename before writing")
    schema.fields.foreach { f =>
      require(f.name.nonEmpty && !f.name.startsWith("@") &&
          !f.name.startsWith("#") &&
          HostileNameChar.findFirstIn(f.name).isEmpty,
        s"manifest column name '${f.name}' carries manifest-grammar " +
          "characters (tab/newline/;/=/:/~/,) or a reserved @/# prefix — " +
          "rename the column before writing it to a manifest store")
      // nested names ride the manifest header's single-line DDL: a
      // control character inside a struct-field/map-entry name would
      // break the line structure however it's quoted
      def nestedNamesOk(dt: DataType): Boolean = dt match {
        case st: StructType => st.fields.forall(n =>
          n.name.nonEmpty && !n.name.exists(c => c == '\t' || c == '\n' ||
            c == '\r') && nestedNamesOk(n.dataType))
        case ArrayType(et, _) => nestedNamesOk(et)
        case MapType(kt, vt, _) => nestedNamesOk(kt) && nestedNamesOk(vt)
        case _ => true
      }
      require(nestedNamesOk(f.dataType),
        s"manifest column '${f.name}' nests a field name carrying " +
          "control characters (tab/newline) — rename it before writing")
      require(supportedType(f.dataType),
        s"manifest store does not support column '${f.name}: " +
          s"${f.dataType.sql}'")
    }
  }

  /** Does this column's type order as a LONG in the manifest's zone
    * maps? (The stats accumulator and the pruning passes must agree.)
    */
  def zoneMapped(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | DateType | TimestampType |
        TimestampNTZType => true
    case d: DecimalType => d.precision <= 18
    case _ => false
  }

  /** The long the zone map records for a non-null cell of this type. */
  def zoneValueGetter(dt: DataType): (InternalRow, Int) => Long = dt match {
    case LongType | TimestampType | TimestampNTZType =>
      (r, i) => r.getLong(i)
    case IntegerType | DateType => (r, i) => r.getInt(i).toLong
    case d: DecimalType =>
      (r, i) => r.getDecimal(i, d.precision, d.scale).toUnscaledLong
    case dt => throw new IllegalArgumentException(s"no zone map for $dt")
  }

  /** A pushed-filter VALUE as the long the zone maps speak, when the
    * type has one — dates/timestamps arrive as java.sql/java.time
    * objects depending on `spark.sql.datetime.java8API.enabled`.
    * Decimals are deliberately absent (a literal's scale need not match
    * the column's, and a scale-blind compare could wrongly prune).
    */
  def statLongOf(v: Any): Option[Long] = v match {
    case l: java.lang.Long => Some(l)
    case i: java.lang.Integer => Some(i.toLong)
    case s: java.lang.Short => Some(s.toLong)
    case b: java.lang.Byte => Some(b.toLong)
    case d: java.sql.Date =>
      Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaDate(d).toLong)
    case d: java.time.LocalDate => Some(d.toEpochDay)
    case t: java.sql.Timestamp =>
      Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(t))
    case i: java.time.Instant =>
      Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.instantToMicros(i))
    case dt: java.time.LocalDateTime =>
      Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.localDateTimeToMicros(dt))
    case _ => None
  }

  // one parsed template per JVM; per-file copies are cheap and isolated
  // (each reader and writer sets its own schema keys). It takes the
  // launch profile's `spark.hadoop.*` settings, as Spark's own Hadoop conf
  // does: Hadoop caches one `file:` FileSystem per JVM, and a store write
  // that came first would otherwise fix it to the stock class for every
  // caller (graft.util.NioLocalFs).
  private lazy val confTemplate = {
    val c = new Configuration()
    sys.props.foreach { case (k, v) =>
      if (k.startsWith("spark.hadoop.")) c.set(k.stripPrefix("spark.hadoop."), v)
    }
    c
  }
  private[sources] def hadoopConf(): Configuration = new Configuration(confTemplate)

  /** A task context over `conf`, as Spark's parquet reader and writer want. */
  private[sources] def taskContext(conf: Configuration): TaskAttemptContext =
    new TaskAttemptContextImpl(conf,
      new TaskAttemptID(new TaskID(new JobID(), TaskType.MAP, 0), 0))

  // ---- writing ------------------------------------------------------

  /** Open `file` for writing rows of `schema` through Spark's parquet
    * sink. Spark's session normally materializes these SQLConf values
    * into the write's Hadoop conf, and `ParquetWriteSupport` and its
    * schema converter read them with NO defaults; they are fixed here,
    * not taken from session state, so every file has one known encoding
    * (string-annotated binaries, µs timestamps, standard nested shapes,
    * no field ids) — the encoding [[ManifestColumnar.open]] assumes.
    */
  def newWriter(file: Path, schema: StructType): ParquetOutputWriter = {
    val conf = hadoopConf()
    ParquetWriteSupport.setSchema(schema, conf)
    conf.set(ParquetOutputFormat.WRITE_SUPPORT_CLASS,
      classOf[ParquetWriteSupport].getName)
    conf.set(ParquetOutputFormat.COMPRESSION, "SNAPPY")
    conf.set("spark.sql.parquet.writeLegacyFormat", "false")
    conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    conf.set("spark.sql.parquet.fieldId.write.enabled", "false")
    // read without a default by the schema converter (Spark 4.1); unset,
    // every write fails with `For input string: "null"`
    conf.set("spark.sql.parquet.variant.annotateLogicalType.enabled", "false")
    new ParquetOutputWriter(file.toString, taskContext(conf))
  }

  // ---- parquet filter pushdown --------------------------------------

  /** Translate the scan's accepted V1 filters into a parquet
    * `FilterPredicate` — ROW-GROUP statistics skipping inside a data
    * file (the sub-file granularity the manifest's own zone maps stop
    * at) plus record-level filtering, both free once the predicate is
    * handed to parquet-mr. Safe by construction: Spark re-applies every
    * filter as a residual, so the translation only has to be NEVER
    * STRONGER than Spark's semantics — each leaf is translated exactly
    * (same null-rejecting comparisons on the same primitive values) or
    * not at all, and an untranslatable conjunct simply contributes
    * nothing. Only columns present in both the requested schema and the
    * file's own schema participate (an evolved-away column can't be
    * filtered on bytes that don't exist).
    */
  private[sources] def parquetPredicate(
      wanted: StructType, present: String => Boolean,
      filters: Seq[org.apache.spark.sql.sources.Filter])
      : Option[org.apache.parquet.filter2.predicate.FilterPredicate] = {
    import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
    import org.apache.spark.sql.sources._

    def dtOf(a: String): Option[DataType] =
      if (!present(a)) None
      else wanted.fields.find(_.name == a).map(_.dataType)

    // exact (column type, literal) → parquet-comparable value; None if
    // the literal's runtime type doesn't match the column exactly
    def longOf(dt: DataType, v: Any): Option[java.lang.Long] = (dt, v) match {
      case (LongType, l: java.lang.Long) => Some(l)
      case (LongType, i: java.lang.Integer) => Some(i.longValue())
      case (TimestampType, t: java.sql.Timestamp) =>
        Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(t))
      case (TimestampType, i: java.time.Instant) =>
        Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.instantToMicros(i))
      case (TimestampNTZType, t: java.time.LocalDateTime) =>
        Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.localDateTimeToMicros(t))
      case _ => None
    }
    def intOf(dt: DataType, v: Any): Option[java.lang.Integer] = (dt, v) match {
      case (IntegerType, i: java.lang.Integer) => Some(i)
      case (IntegerType, l: java.lang.Long)
          if l.longValue() >= Int.MinValue && l.longValue() <= Int.MaxValue =>
        Some(l.intValue())
      case (DateType, d: java.sql.Date) =>
        Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaDate(d))
      case (DateType, d: java.time.LocalDate) if
          d.toEpochDay >= Int.MinValue && d.toEpochDay <= Int.MaxValue =>
        Some(d.toEpochDay.toInt)
      case _ => None
    }

    sealed trait Cmp
    case object CEq extends Cmp; case object CGt extends Cmp
    case object CGtEq extends Cmp; case object CLt extends Cmp
    case object CLtEq extends Cmp

    def cmp(a: String, v: Any, op: Cmp): Option[FilterPredicate] =
      dtOf(a).flatMap {
        case dt @ (LongType | TimestampType | TimestampNTZType) =>
          longOf(dt, v).map { l =>
            val c = FilterApi.longColumn(a)
            op match {
              case CEq => FilterApi.eq(c, l); case CGt => FilterApi.gt(c, l)
              case CGtEq => FilterApi.gtEq(c, l); case CLt => FilterApi.lt(c, l)
              case CLtEq => FilterApi.ltEq(c, l)
            }
          }
        case dt @ (IntegerType | DateType) =>
          intOf(dt, v).map { i =>
            val c = FilterApi.intColumn(a)
            op match {
              case CEq => FilterApi.eq(c, i); case CGt => FilterApi.gt(c, i)
              case CGtEq => FilterApi.gtEq(c, i); case CLt => FilterApi.lt(c, i)
              case CLtEq => FilterApi.ltEq(c, i)
            }
          }
        // doubles are deliberately NOT pushed: parquet's record-level
        // comparison is compareTo, where -0.0 != 0.0, but Spark's
        // EqualTo treats them equal — the one value where the pushdown
        // would be STRONGER than the residual (found by
        // ManifestCodecProps before it could ship)
        // strings: equality only — parquet orders raw bytes, and while
        // UTF8String compares byte-wise too, keeping ranges out keeps
        // the audit trivial
        case StringType => (v, op) match {
          case (s: String, CEq) =>
            Some(FilterApi.eq(FilterApi.binaryColumn(a), Binary.fromString(s)))
          case _ => None
        }
        case BooleanType => (v, op) match {
          case (b: java.lang.Boolean, CEq) =>
            Some(FilterApi.eq(FilterApi.booleanColumn(a), b))
          case _ => None
        }
        case _ => None // decimals: scale alignment not worth the risk
      }

    def leaf(f: Filter): Option[FilterPredicate] = f match {
      case EqualTo(a, v) => cmp(a, v, CEq)
      case GreaterThan(a, v) => cmp(a, v, CGt)
      case GreaterThanOrEqual(a, v) => cmp(a, v, CGtEq)
      case LessThan(a, v) => cmp(a, v, CLt)
      case LessThanOrEqual(a, v) => cmp(a, v, CLtEq)
      case In(a, vs) if vs != null && vs.nonEmpty =>
        // a NULL in the list can only make Spark's IN yield NULL (row
        // dropped), so filtering by the non-null values is exact; every
        // non-null value must translate or the leaf is dropped. Uses
        // parquet's native set-membership predicate — the 500-key
        // delete-probe lists would otherwise become a 500-deep or-chain
        // re-evaluated per record
        val nonNull = vs.filter(_ != null)
        if (nonNull.isEmpty) None
        else dtOf(a).flatMap {
          case dt @ (LongType | TimestampType | TimestampNTZType) =>
            val ls = nonNull.map(longOf(dt, _))
            if (ls.exists(_.isEmpty)) None
            else {
              val set = new java.util.HashSet[java.lang.Long]()
              ls.flatten.foreach(set.add)
              Some(FilterApi.in(FilterApi.longColumn(a), set))
            }
          case dt @ (IntegerType | DateType) =>
            val is = nonNull.map(intOf(dt, _))
            if (is.exists(_.isEmpty)) None
            else {
              val set = new java.util.HashSet[java.lang.Integer]()
              is.flatten.foreach(set.add)
              Some(FilterApi.in(FilterApi.intColumn(a), set))
            }
          case StringType if nonNull.forall(_.isInstanceOf[String]) =>
            val set = new java.util.HashSet[Binary]()
            nonNull.foreach(v => set.add(Binary.fromString(v.asInstanceOf[String])))
            Some(FilterApi.in(FilterApi.binaryColumn(a), set))
          case _ => None
        }
      case _ => None
    }

    filters.flatMap(leaf(_)).reduceOption(FilterApi.and)
  }

  // ---- footers ------------------------------------------------------

  /** Footer FIELD-NAME cache for the evolution intersection, keyed by
    * (path, size, mtime): committed data files are immutable (staged
    * under a unique name, hard-linked, never rewritten in place), so the
    * field set is a pure function of the key and each file's footer is
    * opened for it ONCE per JVM instead of once per read — on the
    * streaming-sink accretion shape (many small files re-read every
    * micro-batch/query) this halves per-file opens. Bounded LRU so an
    * unbounded file churn (tests, vacuumed stores) can't grow it forever.
    */
  private val footerFieldCache: java.util.Map[String, java.util.Set[String]] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, java.util.Set[String]](
        1024, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, java.util.Set[String]]): Boolean =
          size() > 8192
      })

  private def openFooter(file: String, conf: Configuration) =
    org.apache.parquet.hadoop.ParquetFileReader.open(
      HadoopInputFile.fromPath(new HadoopPath(Paths.get(file).toUri), conf))

  private[sources] def footerFields(file: String, conf: Configuration)
      : java.util.Set[String] = {
    val p = Paths.get(file)
    val key = s"$file:${Files.size(p)}:${Files.getLastModifiedTime(p).toMillis}"
    footerFieldCache.computeIfAbsent(key, _ => {
      val pf = openFooter(file, conf)
      try {
        val s = new java.util.HashSet[String]()
        pf.getFooter.getFileMetaData.getSchema.getFields
          .forEach(f => { s.add(f.getName); () })
        s
      } finally pf.close()
    })
  }

  /** The file's row count from its footer — what a ZERO-column
    * projection (count-style shapes Spark prunes to an empty read schema,
    * with no deletes to apply) reads instead of any page.
    */
  private[sources] def footerRowCount(file: String): Long = {
    ManifestColumnar.requireParquet(file)
    val pf = openFooter(file, hadoopConf())
    try pf.getRecordCount finally pf.close()
  }
}
