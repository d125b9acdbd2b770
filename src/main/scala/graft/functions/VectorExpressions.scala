package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, DoubleType, LongType, StructField, StructType}
import org.apache.spark.sql.SparkSession

/** Native Catalyst expression for the hot inner loop of vector similarity:
  * `graft_dot(a, b)` = Σ aᵢ·bᵢ over two double arrays.
  *
  * The declared-contract semantics are the HOF fold
  * `aggregate(zip_with(a,b,(x,y)->x*y), 0d, (s,x)->s+x)` — correct but
  * interpreted per element (lambda dispatch per multiply-add). This
  * expression produces bit-identical results (same left-to-right double
  * accumulation order) as a single whole-stage-codegen'd loop over the
  * columnar ArrayData, which is what makes brute-force re-ranking viable
  * when the candidate set is millions of pairs at cluster scale.
  *
  * Null semantics match the HOF form exactly: null array, unequal
  * lengths (zip_with pads with null), or any null element → NULL.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall {
      _.dataType match {
        case ArrayType(DoubleType, _) => true
        case _ => false
      }
    }
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<double> arguments, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val y = b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    // HOF-exact semantics: zip_with pads unequal lengths with null and a
    // null element nulls the fold, so both cases yield NULL here too.
    if (x.numElements() != y.numElements()) null
    else {
      val n = x.numElements()
      var s = 0.0
      var i = 0
      while (i < n) {
        if (x.isNullAt(i) || y.isNullAt(i)) return null
        s += x.getDouble(i) * y.getDouble(i)
        i += 1
      }
      s
    }
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  final int $n = $a.numElements();
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $s += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $s; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** `graft_dot_i8(a, b)` = Σ aᵢ·bᵢ over two int8 code arrays (array<tinyint>),
  * accumulated exactly in a long — the prefilter inner loop of the
  * quantized cosine upper bound ([[graft.ops.Vector.simCosineThresholdBlocked]]).
  * Integer multiply-adds on 1-byte elements: ~4× less shuffle width and a
  * cheaper loop than the double dot it gates, with no rounding anywhere
  * (127²·d fits a long for any realistic d), so the bound built on it is
  * exact arithmetic. Null semantics mirror [[DotProduct]]: null array,
  * unequal lengths, or any null element → NULL.
  */
case class Int8DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall {
      _.dataType match {
        case ArrayType(ByteType, _) => true
        case _ => false
      }
    }
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<tinyint> arguments, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def dataType: DataType = LongType

  override def prettyName: String = "graft_dot_i8"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val y = b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    if (x.numElements() != y.numElements()) null
    else {
      val n = x.numElements()
      var s = 0L
      var i = 0
      while (i < n) {
        if (x.isNullAt(i) || y.isNullAt(i)) return null
        s += x.getByte(i).toLong * y.getByte(i).toLong
        i += 1
      }
      s
    }
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  final int $n = $a.numElements();
         |  long $s = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $s += (long) $a.getByte($i) * (long) $b.getByte($i);
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $s; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Int8DotProduct =
    copy(left = newLeft, right = newRight)
}

/** `graft_quantize(e)` over array<double> → struct<q: array<tinyint>,
  * scale: double, l1: bigint>: the symmetric int8 quantization record
  * (scale = max|xᵢ|/127, qᵢ = round(xᵢ/scale) half-up, L1 = Σ|qᵢ|) in ONE
  * pass.
  *
  * Why an opaque expression instead of composed `transform`/`aggregate`
  * HOFs: Catalyst inlines chained projection expressions, and a HOF
  * composition like `aggregate(transform(e, x -> x/aggregate(e, …)), …)`
  * ends up re-evaluating the inner max-abs aggregate PER ELEMENT of the
  * outer lambda — O(d²) interpreted work per row, re-triggered again by
  * null-check filter pushdown (measured 3× slowdown of the whole gate
  * stage at sf0.1). A single opaque expression is O(d), cannot be
  * decomposed by SimplifyExtractValueOps, and keeps duplicate field
  * accesses to at most a few O(d) re-evals. Null anywhere (array or
  * element) → NULL struct, matching [[DotProduct]]'s null discipline.
  * A zero vector yields scale 0, all-zero codes, l1 0 — callers turn that
  * into a NaN bound, which Spark orders above every threshold
  * (conservatively kept). Interpreted eval only (CodegenFallback): it runs
  * once per VECTOR, not per pair; the per-pair hot path is the codegen
  * [[Int8DotProduct]].
  */
case class QuantizeVector(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double>, got ${other.simpleString}")
  }

  override val dataType: DataType = StructType(Seq(
    StructField("q", ArrayType(ByteType, containsNull = false), nullable = false),
    StructField("scale", DoubleType, nullable = false),
    StructField("l1", LongType, nullable = false)))

  override def prettyName: String = "graft_quantize"

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val n = a.numElements()
    var mx = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      val v = math.abs(a.getDouble(i))
      if (v > mx) mx = v
      i += 1
    }
    val codes = new Array[Byte](n)
    var l1 = 0L
    if (mx > 0) {
      val inv = 127.0 / mx
      i = 0
      while (i < n) {
        // Half-AWAY-from-zero, matching SQL round() so this agrees
        // code-for-code with the HOF-composed vecQuantize contract op.
        val x = a.getDouble(i) * inv
        val r = if (x >= 0) math.floor(x + 0.5) else math.ceil(x - 0.5)
        codes(i) = r.toByte
        l1 += math.abs(r.toLong)
        i += 1
      }
    }
    InternalRow(new GenericArrayData(codes), mx / 127.0, l1)
  }

  override protected def withNewChildInternal(newChild: Expression): QuantizeVector =
    copy(child = newChild)
}

object VectorExpressions {

  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (children: Seq[Expression]) => DotProduct(children(0), children(1))),
    (FunctionIdentifier("graft_dot_i8"),
      new ExpressionInfo(classOf[Int8DotProduct].getName, "graft_dot_i8"),
      (children: Seq[Expression]) => Int8DotProduct(children(0), children(1))),
    (FunctionIdentifier("graft_quantize"),
      new ExpressionInfo(classOf[QuantizeVector].getName, "graft_quantize"),
      (children: Seq[Expression]) => QuantizeVector(children.head)),
    JaccardExpression.entry,
    MortonExpression.entry,
    KGramsExpression.entry,
    BpeSegExpression.entry,
    BpeIdsExpression.entry,
    WordIdsExpression.entry,
    CdcChunksExpression.entry,
    UnisegExpression.entry,
    UnisegIdsExpression.entry,
    HyperplaneExpression.entry,
    JaroWinklerExpression.entry,
    NfcExpression.entry,
    NfkcCfExpression.entry) ++ SketchExpressions.entries

  /** Runtime registration for an already-created session, for sessions
    * built without the config-time `spark.sql.extensions` injection.
    * Idempotent. Called only by [[graft.GraftExtensions.install]].
    */
  def register(spark: SparkSession): Unit = {
    val registry: FunctionRegistry = spark.sessionState.functionRegistry
    functions.foreach { case (ident, info, builder) =>
      if (!registry.functionExists(ident)) {
        registry.registerFunction(ident, info, builder)
      }
    }
  }
}
