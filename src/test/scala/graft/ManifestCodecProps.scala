package graft

import java.nio.file.{Files, Path}

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.{ManifestCodec, ManifestColumnar}

/** ScalaCheck laws for the manifest store's data files, written by
  * `ManifestCodec.newWriter` and read by `ManifestColumnar.open` —
  * randomized coverage over schemas, values (nulls, hostile strings,
  * extreme numerics), projections, and pushed filters that the
  * example-based specs can't give:
  *
  *   - any row set round-trips BYTE-FAITHFULLY;
  *   - any projection returns exactly the projected originals;
  *   - a pushed filter returns either every row (declined, or the row
  *     group kept) or exactly the rows a null-rejecting evaluation of
  *     the same predicate keeps (pushdown may never be stronger than the
  *     semantics it mirrors, because Spark re-applies the residual only
  *     to what the scan emits).
  */
object ManifestCodecProps extends Properties("ManifestCodec") {

  private val dec = DecimalType(12, 2)

  private val fieldTypes: Seq[DataType] = Seq(
    LongType, IntegerType, DoubleType, BooleanType, StringType,
    DateType, TimestampType, dec,
    // round 15: media payloads, embeddings, wide decimals
    FloatType, BinaryType, ArrayType(FloatType, containsNull = true),
    ArrayType(StringType, containsNull = true),
    ArrayType(LongType, containsNull = true),
    DecimalType(38, 4), DecimalType(22, 0),
    // round 16: nested metadata shapes (provenance structs, props maps,
    // arrays of structs, structs of maps — the recursion exercised at
    // every composition the codec claims)
    StructType(Seq(StructField("a", LongType), StructField("b", StringType),
      StructField("c", ArrayType(IntegerType, containsNull = true)))),
    MapType(StringType, LongType, valueContainsNull = true),
    MapType(IntegerType, StringType, valueContainsNull = true),
    ArrayType(StructType(Seq(StructField("x", DoubleType),
      StructField("y", StringType))), containsNull = true),
    StructType(Seq(
      StructField("m", MapType(StringType, StringType, valueContainsNull = true)),
      StructField("s", StructType(Seq(StructField("z", LongType)))))))

  // the filter laws target scalar pushdown (binary/array/float never
  // translate — the pushdown declines, which the law tolerates, but the
  // reference evaluation needs Comparable cells)
  private val filterFieldTypes: Seq[DataType] = Seq(
    LongType, IntegerType, DoubleType, BooleanType, StringType,
    DateType, TimestampType, dec)

  private def schemaGenOf(types: Seq[DataType]): Gen[StructType] = for {
    n <- Gen.chooseNum(1, 6)
    ts <- Gen.listOfN(n, Gen.oneOf(types))
  } yield StructType(ts.zipWithIndex.map { case (t, i) =>
    StructField(s"c$i", t, nullable = true)
  })

  private val schemaGen: Gen[StructType] = schemaGenOf(fieldTypes)
  private val filterSchemaGen: Gen[StructType] = schemaGenOf(filterFieldTypes)

  private val hostileString: Gen[String] = Gen.frequency(
    (6, Gen.alphaNumStr.map(_.take(12))),
    (1, Gen.const("")),
    (1, Gen.const("N")),
    (1, Gen.const("a\tb\nc;d=ef")),
    (1, Gen.const("中文😀é")))

  private def valueGen(dt: DataType): Gen[Any] = {
    val nonNull: Gen[Any] = dt match {
      case LongType => Gen.chooseNum(Long.MinValue + 1, Long.MaxValue).map(x => x: Any)
      case IntegerType => Gen.chooseNum(Int.MinValue + 1, Int.MaxValue).map(x => x: Any)
      case DoubleType => Gen.oneOf(
        Gen.chooseNum(-1e12, 1e12),
        Gen.oneOf(0.0, -0.0, Double.MinPositiveValue, 1.5e300)).map(x => x: Any)
      case BooleanType => Gen.oneOf(true, false).map(x => x: Any)
      case StringType => hostileString.map(s => UTF8String.fromString(s): Any)
      case DateType => Gen.chooseNum(-50000, 50000).map(x => x: Any) // epoch days
      case TimestampType =>
        Gen.chooseNum(-3000000000000000L, 3000000000000000L).map(x => x: Any)
      case d: DecimalType if d.precision <= 18 =>
        Gen.chooseNum(-999999999999L, 999999999999L)
          .map(u => Decimal.createUnsafe(u, d.precision, d.scale): Any)
      case d: DecimalType =>
        // unscaled values up to the FULL precision, crossing the
        // int64 boundary (the fixed-len byte-array path's whole point)
        for {
          nd <- Gen.chooseNum(1, d.precision)
          digits <- Gen.listOfN(nd, Gen.chooseNum(0, 9))
          neg <- Gen.oneOf(true, false)
        } yield {
          val u = new java.math.BigInteger(
            (if (neg) "-" else "") + digits.mkString.dropWhile(_ == '0') match {
              case "" | "-" => "0"
              case s => s
            })
          Decimal(new java.math.BigDecimal(u, d.scale), d.precision, d.scale): Any
        }
      case FloatType => Gen.oneOf(
        Gen.chooseNum(-1e6f, 1e6f),
        Gen.oneOf(0.0f, -0.0f, Float.MinPositiveValue)).map(x => x: Any)
      case BinaryType => Gen.chooseNum(0, 24).flatMap(n =>
        Gen.listOfN(n, Gen.chooseNum(Byte.MinValue, Byte.MaxValue))
          .map(bs => bs.toArray: Any))
      case ArrayType(et, _) => Gen.chooseNum(0, 8).flatMap(n =>
        Gen.listOfN(n, valueGen(et)).map(els =>
          new org.apache.spark.sql.catalyst.util.GenericArrayData(
            els.toArray): Any))
      case st: StructType =>
        Gen.sequence[Seq[Any], Any](
          st.fields.map(f => valueGen(f.dataType)).toSeq)
          .map(vs => InternalRow.fromSeq(vs): Any)
      case MapType(kt, vt, _) =>
        for {
          n <- Gen.chooseNum(0, 6)
          ks <- Gen.listOfN(n, valueGen(kt).suchThat(_ != null))
          keys = ks.distinct // catalyst maps: non-null, unique keys
          vs <- Gen.listOfN(keys.length, valueGen(vt))
        } yield new org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
          new org.apache.spark.sql.catalyst.util.GenericArrayData(keys.toArray),
          new org.apache.spark.sql.catalyst.util.GenericArrayData(vs.toArray)): Any
      case other => throw new IllegalArgumentException(other.toString)
    }
    Gen.frequency((4, nonNull), (1, Gen.const(null: Any)))
  }

  private def rowsGen(schema: StructType): Gen[Seq[Seq[Any]]] =
    Gen.chooseNum(0, 40).flatMap(n =>
      Gen.listOfN(n, Gen.sequence[Seq[Any], Any](
        schema.fields.map(f => valueGen(f.dataType)).toSeq)))

  private def cellEq(dt: DataType, a: Any, b: Any): Boolean = (a, b) match {
    case (null, null) => true
    case (null, _) | (_, null) => false
    case (x: Double, y: Double) =>
      java.lang.Double.doubleToLongBits(x) == java.lang.Double.doubleToLongBits(y)
    case (x: Float, y: Float) =>
      java.lang.Float.floatToIntBits(x) == java.lang.Float.floatToIntBits(y)
    case (x: Array[Byte], y: Array[Byte]) => java.util.Arrays.equals(x, y)
    case (x: org.apache.spark.sql.catalyst.util.MapData,
        y: org.apache.spark.sql.catalyst.util.MapData) =>
      // entry order round-trips (entries are written and read in order)
      val mt = dt.asInstanceOf[MapType]
      cellEq(ArrayType(mt.keyType), x.keyArray(), y.keyArray()) &&
        cellEq(ArrayType(mt.valueType), x.valueArray(), y.valueArray())
    case (x: org.apache.spark.sql.catalyst.util.ArrayData,
        y: org.apache.spark.sql.catalyst.util.ArrayData) =>
      val et = dt.asInstanceOf[ArrayType].elementType
      val (xs, ys) = (x.toObjectArray(et), y.toObjectArray(et))
      xs.length == ys.length &&
        xs.zip(ys).forall { case (xe, ye) => cellEq(et, xe, ye) }
    case (x: InternalRow, y: InternalRow) =>
      val st = dt.asInstanceOf[StructType]
      x.numFields == st.fields.length && y.numFields == st.fields.length &&
        st.fields.zipWithIndex.forall { case (f, i) =>
          val xv = if (x.isNullAt(i)) null else x.get(i, f.dataType)
          val yv = if (y.isNullAt(i)) null else y.get(i, f.dataType)
          cellEq(f.dataType, xv, yv)
        }
    case (x, y) => x == y
  }

  private def roundTrip(schema: StructType,
      rows: Seq[Seq[Any]], wanted: StructType,
      filters: Seq[org.apache.spark.sql.sources.Filter] = Seq.empty)
      : Seq[Seq[Any]] = {
    val d: Path = Files.createTempDirectory("graft_codec_props")
    val file = d.resolve(s"data-props${ManifestCodec.ParquetExt}")
    try {
      val w = ManifestCodec.newWriter(file, schema)
      try rows.foreach(r => w.write(InternalRow.fromSeq(r))) finally w.close()
      val r = ManifestColumnar.rows(
        ManifestColumnar.open(file.toString, wanted, filters))
      val out = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
      try {
        while (r.next()) {
          // a row is a view into the reader's reused vectors: copy it
          val row = r.get().copy()
          out += wanted.fields.zipWithIndex.map { case (f, i) =>
            row.get(i, f.dataType)
          }.toSeq
        }
      } finally r.close()
      out.toSeq
    } finally {
      // the hadoop local FS leaves .crc sidecars beside parquet files
      val walk = Files.walk(d)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => { Files.deleteIfExists(p); () })
      finally walk.close()
    }
  }

  private def rowsEq(schema: StructType,
      a: Seq[Seq[Any]], b: Seq[Seq[Any]]): Boolean =
    a.size == b.size && a.zip(b).forall { case (ra, rb) =>
      schema.fields.zipWithIndex.forall { case (f, i) =>
        cellEq(f.dataType, ra(i), rb(i))
      }
    }

  property("parquet round-trips any row set byte-faithfully") =
    forAll(schemaGen.flatMap(s => rowsGen(s).map(s -> _))) { case (schema, rows) =>
      rowsEq(schema, roundTrip(schema, rows, schema), rows)
    }

  property("any projection returns exactly the projected originals") =
    forAll(for {
      schema <- schemaGen
      rows <- rowsGen(schema)
      keep <- Gen.someOf(schema.fields.indices)
    } yield (schema, rows, keep.toSeq.sorted)) {
      case (schema, rows, keep) =>
        val wanted = StructType(keep.map(schema.fields))
        val expected = rows.map(r => keep.map(r))
        rowsEq(wanted, roundTrip(schema, rows, wanted), expected)
    }

  // ---- pushed-filter equivalence --------------------------------------

  private def filterGen(schema: StructType)
      : Gen[(org.apache.spark.sql.sources.Filter, Seq[Any] => Boolean)] = {
    import org.apache.spark.sql.sources._
    for {
      i <- Gen.chooseNum(0, schema.fields.length - 1)
      f = schema.fields(i)
      v <- valueGen(f.dataType).suchThat(_ != null)
      op <- Gen.oneOf(0, 1, 2, 3, 4, 5)
    } yield {
      val name = f.name
      // the filter VALUE in Spark's external form, the probe in internal
      def ext(x: Any): Any = x match {
        case u: UTF8String => u.toString
        case d: Decimal => d.toJavaBigDecimal
        case days: Integer if f.dataType == DateType =>
          java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(days.longValue()))
        case us: java.lang.Long if f.dataType == TimestampType =>
          org.apache.spark.sql.catalyst.util.DateTimeUtils.toJavaTimestamp(us)
        case x => x
      }
      @annotation.nowarn("msg=unchecked")
      def cmp(cell: Any): Option[Int] = (cell, v) match {
        case (null, _) => None
        case (a: Comparable[Any] @unchecked, b) => Some(a.compareTo(b))
      }
      val (flt, eval): (Filter, Seq[Any] => Boolean) = op match {
        case 0 => (EqualTo(name, ext(v)), r => cmp(r(i)).exists(_ == 0))
        case 1 => (GreaterThan(name, ext(v)), r => cmp(r(i)).exists(_ > 0))
        case 2 => (GreaterThanOrEqual(name, ext(v)), r => cmp(r(i)).exists(_ >= 0))
        case 3 => (LessThan(name, ext(v)), r => cmp(r(i)).exists(_ < 0))
        case 4 => (LessThanOrEqual(name, ext(v)), r => cmp(r(i)).exists(_ <= 0))
        case _ => (In(name, Array(ext(v))), r => cmp(r(i)).exists(_ == 0))
      }
      (flt, eval)
    }
  }

  property("a pushed parquet filter keeps exactly the null-rejecting matches") =
    forAll(for {
      schema <- filterSchemaGen
      rows <- rowsGen(schema)
      fe <- filterGen(schema)
    } yield (schema, rows, fe)) { case (schema, rows, (flt, eval)) =>
      val got = roundTrip(schema, rows, schema, Seq(flt))
      val expected = rows.filter(eval)
      // the pushdown may DECLINE (untranslatable type/value combo, e.g.
      // decimal or double ranges) or keep the file's one row group (the
      // vectorized reader skips whole row groups; it never filters
      // records) — then everything comes back; a skipped group must hold
      // no match
      rowsEq(schema, got, expected) || rowsEq(schema, got, rows)
    }
}
