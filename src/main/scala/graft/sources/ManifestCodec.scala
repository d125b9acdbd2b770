package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HadoopPath}
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.hadoop.{ParquetReader, ParquetWriter}
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecializedGetters
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The manifest store's DATA-FILE codecs. The commit protocol is
  * codec-agnostic (a manifest line records a file NAME plus stats — it
  * never cares what's inside), so the codec is chosen per FILE by
  * extension:
  *
  *   - `data-*.parquet` (the default since round 14): columnar files
  *     written through parquet-mr's public Group API with SNAPPY
  *     compression — per-column encodings/compression, a self-describing
  *     footer, and the full production type surface
  *     (Long/Int/Double/Boolean/String + Date/Timestamp/TimestampNTZ/
  *     Decimal(≤18)). Column pruning happens INSIDE the file: the
  *     reader requests a projected message type and parquet never
  *     materializes unprojected columns.
  *   - `data-*.rows` (`.option("codec", "text")`, and every file written
  *     before round 14): the original unit-separated text format,
  *     five primitive types, kept readable forever — a store may mix
  *     both (old text files + new parquet appends) and every scan,
  *     stream, and CDF read dispatches per file.
  *
  * Zone maps generalize with the type surface: Date (epoch days),
  * Timestamp (micros), and Decimal (unscaled long) all have a total
  * order representable in the manifest's existing `lo:hi` long stats,
  * so file skipping on a date column works exactly like on a bigint.
  */
private[graft] object ManifestCodec {

  val TextExt = ".rows"
  val ParquetExt = ".parquet"

  val TextCodec = "text"
  val ParquetCodec = "parquet"
  val DefaultCodec = ParquetCodec

  def extOf(codec: String): String = codec match {
    case TextCodec => TextExt
    case ParquetCodec => ParquetExt
    case other => throw new IllegalArgumentException(
      s"manifest codec must be '$TextCodec' or '$ParquetCodec'; got '$other'")
  }

  /** Can `dt` land in a data file of this codec? BINARY and the nested
    * family (ARRAY / STRUCT / MAP, recursively composed) are
    * parquet-only — media payloads, embeddings, and the JSON-shaped
    * metadata columns the LLM-pipeline store is ABOUT; zone maps don't
    * apply to any of them (unordered), blooms stay string-only, and the
    * text codec refuses them loudly like the temporal types.
    */
  def supportedType(codec: String, dt: DataType): Boolean = dt match {
    case LongType | IntegerType | DoubleType | BooleanType | StringType => true
    case DateType | TimestampType | TimestampNTZType | FloatType |
        BinaryType =>
      codec == ParquetCodec
    // NESTED types (round 16 — the JSON-shaped metadata columns a real
    // corpus store holds: per-doc provenance structs,
    // map<string,string> props, arrays at any depth): parquet-only,
    // fully recursive — struct fields, map values and array elements
    // may themselves nest. Map KEYS are scalar (parquet requires
    // repeated-group keys too, but a non-scalar key has no sane
    // equality story here and Spark itself refuses to compare them).
    // Zone maps/blooms don't apply to any nested column (conservative:
    // never pruned on), and the vectorized path falls back to the row
    // reader whenever the projection includes one
    // (ManifestColumnar.eligibleType).
    case ArrayType(et, _) => codec == ParquetCodec &&
      supportedType(ParquetCodec, et)
    case StructType(fields) => codec == ParquetCodec &&
      fields.nonEmpty && fields.forall(f =>
        f.name.nonEmpty && supportedType(ParquetCodec, f.dataType))
    case MapType(kt, vt, _) => codec == ParquetCodec &&
      (kt match {
        case LongType | IntegerType | DoubleType | BooleanType |
            StringType | DateType | TimestampType | TimestampNTZType |
            FloatType | BinaryType => true
        case _: DecimalType => true
        case _ => false
      }) && supportedType(ParquetCodec, vt)
    // any Spark-representable precision: int64-backed to 18, fixed-len
    // byte array (big-endian two's-complement unscaled) above — the
    // production decimal(38,x) shape; zone maps stop at 18 (the manifest
    // stat is one long), matching the decimal-pushdown abstention
    case _: DecimalType => codec == ParquetCodec
    case _ => false
  }

  // the manifest stats grammar's structural characters, plus the
  // reserved key prefixes — a column named `a;b` would write a stat
  // piece that parses as bounds for a DIFFERENT column `b` (a false
  // skip = silent data loss), `#rows` would collide with the row-count
  // key, `@x` would read as a partition field, and a tab/newline breaks
  // the line structure outright; ',' is the multi-column list separator
  private val HostileNameChar = "[\\t\\n\\r;=:~,]".r

  def requireWritable(codec: String, schema: StructType): Unit = {
    // columns differing only by case are rejected outright: the
    // vectorized read path clips the requested schema against the file
    // case-INsensitively (Spark's default), the Group row path
    // intersects by exact name — a case-colliding schema would silently
    // diverge between them, so it never gets to exist in a store
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
      require(supportedType(codec, f.dataType),
        s"manifest codec '$codec' does not support column '${f.name}: " +
          s"${f.dataType.sql}'" + (f.dataType match {
            case DateType | TimestampType | TimestampNTZType | _: DecimalType
                if codec == TextCodec =>
              " — use the default parquet codec for temporal/decimal columns"
            case FloatType | BinaryType | _: ArrayType if codec == TextCodec =>
              " — use the default parquet codec for float/binary/array columns"
            case _ => ""
          }))
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

  // ---- parquet schema ----------------------------------------------

  /** Smallest byte width whose two's-complement range covers every
    * unscaled value of the given decimal precision — the standard
    * parquet FIXED_LEN_BYTE_ARRAY(decimal) sizing (what Spark's own
    * parquet writer uses for p > 18): ceil((bits of 10^p − 1) + sign).
    */
  private[sources] def minDecimalBytes(precision: Int): Int =
    (java.math.BigInteger.TEN.pow(precision).subtract(java.math.BigInteger.ONE)
      .bitLength() + 1 + 7) / 8

  def parquetTypeOf(schema: StructType): MessageType = {
    val b = Types.buildMessage()
    schema.fields.foreach(f => b.addField(parquetFieldType(f.name, f.dataType)))
    b.named("graft_row")
  }

  /** The parquet type of one (possibly nested) field, recursively:
    * scalars as annotated primitives; arrays as the STANDARD 3-level
    * LIST shape (list-annotated optional group → repeated `list` group →
    * optional `element` — byte-identical to what `Types.optionalList()`
    * produced for the round-15 single-level arrays, so old files read
    * unchanged); structs as plain optional groups; maps as the standard
    * MAP shape (map-annotated optional group → repeated `key_value`
    * group → required key + optional value). Every shape is exactly what
    * Spark's own parquet writer emits, so external readers round-trip.
    */
  private def parquetFieldType(
      name: String, dt: DataType,
      required: Boolean = false): org.apache.parquet.schema.Type = {
    def prim(t: org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName,
        ann: LogicalTypeAnnotation = null, len: Int = 0)
        : org.apache.parquet.schema.Type = {
      val base = if (required) Types.required(t) else Types.optional(t)
      val sized = if (len > 0) base.length(len) else base
      (if (ann != null) sized.as(ann) else sized).named(name)
    }
    dt match {
      case LongType => prim(INT64)
      case IntegerType => prim(INT32)
      case DoubleType => prim(DOUBLE)
      case BooleanType => prim(BOOLEAN)
      case FloatType => prim(FLOAT)
      case BinaryType => prim(BINARY)
      case StringType => prim(BINARY, LogicalTypeAnnotation.stringType())
      case DateType => prim(INT32, LogicalTypeAnnotation.dateType())
      case TimestampType => prim(INT64, LogicalTypeAnnotation.timestampType(
        true, LogicalTypeAnnotation.TimeUnit.MICROS))
      case TimestampNTZType => prim(INT64, LogicalTypeAnnotation.timestampType(
        false, LogicalTypeAnnotation.TimeUnit.MICROS))
      case d: DecimalType if d.precision <= 18 =>
        prim(INT64, LogicalTypeAnnotation.decimalType(d.scale, d.precision))
      case d: DecimalType =>
        prim(FIXED_LEN_BYTE_ARRAY,
          LogicalTypeAnnotation.decimalType(d.scale, d.precision),
          minDecimalBytes(d.precision))
      case ArrayType(et, _) =>
        Types.optionalGroup().as(LogicalTypeAnnotation.listType())
          .addField(Types.repeatedGroup()
            .addField(parquetFieldType("element", et)).named("list"))
          .named(name)
      case StructType(fields) =>
        val gb = Types.optionalGroup()
        fields.foreach(f => gb.addField(parquetFieldType(f.name, f.dataType)))
        gb.named(name)
      case MapType(kt, vt, _) =>
        Types.optionalGroup().as(LogicalTypeAnnotation.mapType())
          .addField(Types.repeatedGroup()
            .addField(parquetFieldType("key", kt, required = true))
            .addField(parquetFieldType("value", vt))
            .named("key_value"))
          .named(name)
      case other => throw new IllegalArgumentException(
        s"manifest parquet codec does not support $other")
    }
  }

  // one parsed template per JVM; per-file copies are cheap and isolated
  // (each reader sets its own requested-projection key). It takes the
  // launch profile's `spark.hadoop.*` settings, as Spark's own Hadoop conf
  // does: Hadoop caches one `file:` FileSystem per JVM, and a codec write
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

  // ---- writing ------------------------------------------------------

  /** One staged data file being written — the codec half of
    * [[StagedFileWriter]] (which owns naming, stats, and blooms).
    */
  trait RowFileWriter {
    def write(row: InternalRow): Unit
    def close(): Unit
  }

  def newWriter(file: Path, schema: StructType, codec: String): RowFileWriter =
    codec match {
      case TextCodec => new TextFileWriter(file, schema)
      case ParquetCodec => new ParquetFileWriter(file, schema)
      case other => throw new IllegalArgumentException(s"unknown codec $other")
    }

  private final class TextFileWriter(file: Path, schema: StructType)
      extends RowFileWriter {
    private val out = Files.newBufferedWriter(file, StandardCharsets.UTF_8)
    override def write(row: InternalRow): Unit = {
      out.write(ManifestTable.encode(row, schema)); out.write("\n")
    }
    override def close(): Unit = out.close()
  }

  /** Recursive parquet value writer: append the (non-null) value at
    * `container[ord]` into `g`'s field `fi`. [[SpecializedGetters]] is
    * the shared read surface of rows, struct rows and arrays, so ONE
    * table serves every nesting level; null checks belong to the CALLER
    * (a null is simply never appended — parquet optionality).
    */
  private def valueAdder(dt: DataType)
      : (Group, Int, SpecializedGetters, Int) => Unit = dt match {
    case LongType | TimestampType | TimestampNTZType =>
      (g, fi, c, o) => g.add(fi, c.getLong(o))
    case IntegerType | DateType => (g, fi, c, o) => g.add(fi, c.getInt(o))
    case DoubleType => (g, fi, c, o) => g.add(fi, c.getDouble(o))
    case BooleanType => (g, fi, c, o) => g.add(fi, c.getBoolean(o))
    case FloatType => (g, fi, c, o) => g.add(fi, c.getFloat(o))
    case StringType => (g, fi, c, o) =>
      // fromReusedByteArray: getBytes may alias the (task-reused) row
      // buffer, and parquet retains Binaries until page flush — the
      // reused marking makes parquet copy what it keeps
      g.add(fi, Binary.fromReusedByteArray(c.getUTF8String(o).getBytes))
    case BinaryType => (g, fi, c, o) =>
      g.add(fi, Binary.fromReusedByteArray(c.getBinary(o)))
    case d: DecimalType if d.precision <= 18 => (g, fi, c, o) =>
      g.add(fi, c.getDecimal(o, d.precision, d.scale).toUnscaledLong)
    case d: DecimalType =>
      // FIXED_LEN_BYTE_ARRAY: unscaled BigInteger, big-endian
      // two's complement, sign-extended to the declared width
      val width = minDecimalBytes(d.precision)
      (g, fi, c, o) => {
        val unscaled = c.getDecimal(o, d.precision, d.scale)
          .toJavaBigDecimal.unscaledValue().toByteArray
        val fixed = new Array[Byte](width)
        val sign: Byte = if (unscaled(0) < 0) -1 else 0
        java.util.Arrays.fill(fixed, 0, width - unscaled.length, sign)
        System.arraycopy(unscaled, 0, fixed, width - unscaled.length,
          unscaled.length)
        g.add(fi, Binary.fromReusedByteArray(fixed))
      }
    case ArrayType(et, _) =>
      // 3-level LIST write: one `list` wrapper group per element,
      // value absent for a null element
      val el = valueAdder(et)
      (g, fi, c, o) => {
        val arr = c.getArray(o)
        val lg = g.addGroup(fi)
        var j = 0
        val n = arr.numElements()
        while (j < n) {
          val eg = lg.addGroup(0)
          if (!arr.isNullAt(j)) el(eg, 0, arr, j)
          j += 1
        }
      }
    case st: StructType =>
      val els = st.fields.map(f => valueAdder(f.dataType))
      val n = st.fields.length
      (g, fi, c, o) => {
        val row = c.getStruct(o, n)
        val sg = g.addGroup(fi)
        var j = 0
        while (j < n) {
          if (!row.isNullAt(j)) els(j)(sg, j, row, j)
          j += 1
        }
      }
    case MapType(kt, vt, _) =>
      // standard MAP write: one `key_value` group per entry, key always
      // present (catalyst maps have no null keys), value absent if null
      val ka = valueAdder(kt)
      val va = valueAdder(vt)
      (g, fi, c, o) => {
        val m = c.getMap(o)
        val keys = m.keyArray()
        val vals = m.valueArray()
        val mg = g.addGroup(fi)
        var j = 0
        val n = m.numElements()
        while (j < n) {
          val kv = mg.addGroup(0)
          ka(kv, 0, keys, j)
          if (!vals.isNullAt(j)) va(kv, 1, vals, j)
          j += 1
        }
      }
    case other => throw new IllegalArgumentException(s"unsupported $other")
  }

  private final class ParquetFileWriter(file: Path, schema: StructType)
      extends RowFileWriter {
    private val msgType = parquetTypeOf(schema)
    private val factory = new SimpleGroupFactory(msgType)
    private val w: ParquetWriter[Group] = ExampleParquetWriter
      .builder(HadoopOutputFile.fromPath(
        new HadoopPath(file.toUri), hadoopConf()))
      .withType(msgType)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
    private val adders: Array[(Group, InternalRow) => Unit] =
      schema.fields.zipWithIndex.map { case (f, i) =>
        val add = valueAdder(f.dataType)
        (g: Group, r: InternalRow) => add(g, i, r, i)
      }
    override def write(row: InternalRow): Unit = {
      val g = factory.newGroup()
      var i = 0
      while (i < adders.length) {
        if (!row.isNullAt(i)) adders(i)(g, row)
        i += 1
      }
      w.write(g)
    }
    override def close(): Unit = w.close()
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

  // ---- reading ------------------------------------------------------

  /** An open data file yielding rows in `wanted` field order — the
    * shape every reader (batch scan, streaming source, CDF) consumes,
    * dispatched per file on extension.
    */
  trait RowFileReader {
    def next(): Boolean
    def get(): InternalRow
    def close(): Unit
  }

  def openReader(
      file: String, fullSchema: StructType, wanted: StructType,
      filters: Seq[org.apache.spark.sql.sources.Filter] = Seq.empty)
      : RowFileReader =
    if (file.endsWith(ParquetExt)) {
      // a ZERO-column projection (count-style shapes Spark prunes to an
      // empty read schema) answers row COUNTS from the footer — an
      // OPTIMIZATION, not a necessity: parquet-mr reads an empty
      // requested projection fine (EmptyRecordReader), but that still
      // walks every page; the footer already carries the exact count.
      // Safe: with no wanted columns there can be no pushed filters or
      // delete probes (both reference columns, which column pruning
      // then retains).
      if (wanted.fields.isEmpty) new ParquetCountReader(file)
      else new ParquetFileReader(file, wanted, filters)
    } else new TextFileReader(file, fullSchema, wanted)

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

  private[sources] def footerFields(
      file: String, conf: org.apache.hadoop.conf.Configuration)
      : java.util.Set[String] = {
    val p = Paths.get(file)
    val key = s"$file:${Files.size(p)}:${Files.getLastModifiedTime(p).toMillis}"
    footerFieldCache.computeIfAbsent(key, _ => {
      val pf = org.apache.parquet.hadoop.ParquetFileReader.open(
        HadoopInputFile.fromPath(new HadoopPath(p.toUri), conf))
      try {
        val s = new java.util.HashSet[String]()
        pf.getFooter.getFileMetaData.getSchema.getFields
          .forEach(f => { s.add(f.getName); () })
        s
      } finally pf.close()
    })
  }

  private final class ParquetCountReader(file: String) extends RowFileReader {
    private var remaining: Long = {
      val pf = org.apache.parquet.hadoop.ParquetFileReader.open(
        HadoopInputFile.fromPath(
          new HadoopPath(Paths.get(file).toUri), hadoopConf()))
      try pf.getRecordCount finally pf.close()
    }
    override def next(): Boolean =
      if (remaining > 0) { remaining -= 1; true } else false
    override def get(): InternalRow = InternalRow.empty
    override def close(): Unit = ()
  }

  private final class TextFileReader(
      file: String, fullSchema: StructType, wanted: StructType)
      extends RowFileReader {
    // wanted fields parsed by their token position in the FULL schema —
    // a projected read parses exactly the tokens it emits
    private val proj: Array[(StructField, Int)] =
      wanted.fields.map(f => (f, fullSchema.fieldIndex(f.name)))
    // streamed, not readAllLines: a compacted text file can be large,
    // and the reader's memory must stay O(row), not O(file)
    private val reader =
      Files.newBufferedReader(Paths.get(file), StandardCharsets.UTF_8)
    private var row: InternalRow = _
    override def next(): Boolean = {
      val line = reader.readLine()
      if (line == null) false
      else {
        val parts = ManifestTable.splitLine(line)
        row = InternalRow.fromSeq(proj.map { case (f, i) =>
          ManifestTable.parseToken(parts, f, i)
        }.toSeq)
        true
      }
    }
    override def get(): InternalRow = row
    override def close(): Unit = reader.close()
  }

  /** Recursive parquet value reader: the catalyst value of `g`'s field
    * `fi`, which the CALLER has established is present
    * (`getFieldRepetitionCount(fi) > 0`) — absence/null handling stays
    * at each nesting level's loop, mirroring [[valueAdder]].
    */
  private def valueGetter(dt: DataType): (Group, Int) => Any = dt match {
    case LongType | TimestampType | TimestampNTZType =>
      (g, i) => g.getLong(i, 0)
    case IntegerType | DateType => (g, i) => g.getInteger(i, 0)
    case DoubleType => (g, i) => g.getDouble(i, 0)
    case BooleanType => (g, i) => g.getBoolean(i, 0)
    case FloatType => (g, i) => g.getFloat(i, 0)
    case StringType => (g, i) => UTF8String.fromBytes(g.getBinary(i, 0).getBytes)
    case BinaryType => (g, i) => g.getBinary(i, 0).getBytes
    case d: DecimalType if d.precision <= 18 =>
      (g, i) => Decimal.createUnsafe(g.getLong(i, 0), d.precision, d.scale)
    case d: DecimalType => (g, i) =>
      Decimal(new java.math.BigDecimal(
        new java.math.BigInteger(g.getBinary(i, 0).getBytes), d.scale),
        d.precision, d.scale)
    case ArrayType(et, _) =>
      // 3-level LIST read: the `list` wrapper's repetition count is the
      // element count; an absent `element` is a null
      val el = valueGetter(et)
      (g, i) => {
        val lg = g.getGroup(i, 0)
        val n = lg.getFieldRepetitionCount(0)
        val vals = new Array[Any](n)
        var j = 0
        while (j < n) {
          val eg = lg.getGroup(0, j)
          vals(j) =
            if (eg.getFieldRepetitionCount(0) > 0) el(eg, 0) else null
          j += 1
        }
        new GenericArrayData(vals)
      }
    case st: StructType =>
      val els = st.fields.map(f => valueGetter(f.dataType))
      (g, i) => {
        val sg = g.getGroup(i, 0)
        val vals = new Array[Any](els.length)
        var j = 0
        while (j < els.length) {
          vals(j) =
            if (sg.getFieldRepetitionCount(j) > 0) els(j)(sg, j) else null
          j += 1
        }
        InternalRow.fromSeq(
          scala.collection.immutable.ArraySeq.unsafeWrapArray(vals))
      }
    case MapType(kt, vt, _) =>
      val kg = valueGetter(kt)
      val vg = valueGetter(vt)
      (g, i) => {
        val mg = g.getGroup(i, 0)
        val n = mg.getFieldRepetitionCount(0)
        val keys = new Array[Any](n)
        val vals = new Array[Any](n)
        var j = 0
        while (j < n) {
          val kv = mg.getGroup(0, j)
          keys(j) = kg(kv, 0)
          vals(j) =
            if (kv.getFieldRepetitionCount(1) > 0) vg(kv, 1) else null
          j += 1
        }
        new ArrayBasedMapData(
          new GenericArrayData(keys), new GenericArrayData(vals))
      }
    case other => throw new IllegalArgumentException(s"unsupported $other")
  }

  private final class ParquetFileReader(
      file: String, wanted: StructType,
      filters: Seq[org.apache.spark.sql.sources.Filter] = Seq.empty)
      extends RowFileReader {
    private val conf = hadoopConf()
    private val hp = new HadoopPath(Paths.get(file).toUri)
    // SCHEMA EVOLUTION: an old file may predate trailing added columns,
    // and parquet rejects a requested field the file lacks — so request
    // wanted ∩ file-schema (by name; evolution is additive, names never
    // retype) and null-pad the absent fields, exactly like the text
    // codec's missing trailing tokens. Field names come from the
    // process-wide footer cache (immutable files), so this reader opens
    // the file once — in ParquetReader.build below — not twice.
    private val fileFields: java.util.Set[String] = footerFields(file, conf)
    private val requested = StructType(
      wanted.fields.filter(f => fileFields.contains(f.name)))
    // parquet-side column pruning: request only the needed fields — the
    // reader never materializes (or decompresses pages of) the rest
    conf.set(org.apache.parquet.hadoop.api.ReadSupport.PARQUET_READ_SCHEMA,
      parquetTypeOf(requested).toString)
    private val r: ParquetReader[Group] = {
      val b = ParquetReader
        .builder(new GroupReadSupport(), hp)
        .withConf(conf)
      // pushed filters → parquet row-group skipping + record filtering
      // (never stronger than Spark's residual re-application — see
      // parquetPredicate)
      parquetPredicate(requested, fileFields.contains, filters) match {
        case Some(p) =>
          b.withFilter(org.apache.parquet.filter2.compat.FilterCompat.get(p))
            .build()
        case None => b.build()
      }
    }
    // wanted position → (requested position, getter); None = null-pad
    private val getters: Array[Option[(Int, Group => Any)]] =
      wanted.fields.map { f =>
        if (!fileFields.contains(f.name)) None
        else {
          val i = requested.fieldIndex(f.name)
          val get = valueGetter(f.dataType)
          Some((i, (g: Group) => get(g, i)))
        }
      }
    private var row: InternalRow = _
    override def next(): Boolean = {
      val g = r.read()
      if (g == null) false
      else {
        val vals = new Array[Any](getters.length)
        var j = 0
        while (j < getters.length) {
          vals(j) = getters(j) match {
            case Some((i, get)) if g.getFieldRepetitionCount(i) > 0 => get(g)
            case _ => null
          }
          j += 1
        }
        row = InternalRow.fromSeq(
          scala.collection.immutable.ArraySeq.unsafeWrapArray(vals))
        true
      }
    }
    override def get(): InternalRow = row
    override def close(): Unit = r.close()
  }
}
