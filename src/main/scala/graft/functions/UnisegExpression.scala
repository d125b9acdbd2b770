package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Viterbi segmentation worker behind `graft_uniseg`, shared VERBATIM by
  * the driver-side unigram trainer ([[graft.ops.Unigram]]) and the
  * distributed encoder — the E-step and the production encode must run
  * the identical argmax or the trained scores mean nothing.
  */
object UnisegHelper {

  /** Unknown single characters score this (micro-nats): harsh enough
    * that any in-vocabulary split wins, finite so every string has a
    * segmentation.
    */
  val OovMicro: Long = -25000000L

  // values deliberately BOXED: a primitive-Long java map's `get` returns
  // null-unboxed-to-0 for missing keys, which would score every unknown
  // piece better than any real log-probability
  final class Model(
      val scores: java.util.HashMap[String, java.lang.Long], val maxLen: Int)

  /** Serialize piece scores as the foldable model literal the expression
    * takes: `maxLen` then sorted `piece<TAB>score` lines — sorted so the
    * literal (and thus the plan) is deterministic.
    */
  def render(scores: collection.Map[String, Long], maxLen: Int): String = {
    val sb = new java.lang.StringBuilder(scores.size * 12)
    sb.append(maxLen)
    scores.toSeq.sortBy(_._1).foreach { case (p, s) =>
      sb.append('\n').append(p).append('\t').append(s)
    }
    sb.toString
  }

  def parse(model: String): Model = {
    val lines = model.split("\n", -1)
    val scores = new java.util.HashMap[String, java.lang.Long](lines.length * 2)
    var i = 1
    while (i < lines.length) {
      val t = lines(i).lastIndexOf('\t')
      scores.put(lines(i).substring(0, t),
        java.lang.Long.valueOf(lines(i).substring(t + 1).toLong))
      i += 1
    }
    new Model(scores, lines(0).toInt)
  }

  /** Per-thread cache keyed on the argument INSTANCE: the model and vocab
    * arguments are foldable, so every row of a partition hands the same
    * literal object and reference equality hits after the first row (a
    * miss merely re-parses; correctness never depends on the hit).
    */
  private[functions] final class Cache {
    var modelRef: AnyRef = null
    var model: Model = null
    var symsRef: AnyRef = null
    var symIds: java.util.HashMap[String, java.lang.Long] = null
  }
  private[functions] val cache: ThreadLocal[Cache] = ThreadLocal.withInitial(() => new Cache)

  /** The parsed `model` literal, parsed once per thread and literal. */
  private[functions] def parsed(model: UTF8String): Model = {
    val c = cache.get()
    if (!(c.modelRef eq model)) { c.model = parse(model.toString); c.modelRef = model }
    c.model
  }

  /** Argmax segmentation of `word` under the model: maximize the summed
    * micro-nat score; ties broken by FEWER pieces, then by the scan
    * order (piece lengths ascending at each end position with strict
    * improvement) — a total, deterministic rule. Unknown single
    * CODEPOINTS fall back to [[OovMicro]]; multi-codepoint pieces must
    * be in-vocab. The DP runs over codepoints, not UTF-16 units, so an
    * astral-plane character is one OOV position — never a pair of lone
    * surrogates that would mangle into replacement characters (the same
    * discipline as [[CdcChunksHelper]]).
    */
  def segment(word: String, model: Model): Array[String] = {
    val nChars = word.length
    if (nChars == 0) return Array.empty
    // codepoint count + char offset of each codepoint boundary
    val n = word.codePointCount(0, nChars)
    val off = new Array[Int](n + 1)
    var ci = 0
    var cpi = 0
    while (ci < nChars) {
      off(cpi) = ci
      ci += Character.charCount(word.codePointAt(ci))
      cpi += 1
    }
    off(n) = nChars
    val NEG = Long.MinValue / 4
    val dp = new Array[Long](n + 1)
    val np = new Array[Int](n + 1)
    val back = new Array[Int](n + 1)
    java.util.Arrays.fill(dp, NEG)
    dp(0) = 0L
    np(0) = 0
    var i = 1
    while (i <= n) {
      var l = 1
      val lm = math.min(model.maxLen, i)
      while (l <= lm) {
        val j = i - l
        if (dp(j) != NEG) {
          val piece = word.substring(off(j), off(i))
          val sc0: java.lang.Long = model.scores.get(piece)
          val sc: java.lang.Long =
            if (sc0 != null) sc0
            else if (l == 1) java.lang.Long.valueOf(OovMicro)
            else null
          if (sc != null) {
            val cand = dp(j) + sc.longValue()
            val candN = np(j) + 1
            if (cand > dp(i) || (cand == dp(i) && candN < np(i))) {
              dp(i) = cand
              np(i) = candN
              back(i) = j
            }
          }
        }
        l += 1
      }
      i += 1
    }
    val out = new Array[String](np(n))
    var p = n
    var k = np(n) - 1
    while (p > 0) {
      out(k) = word.substring(off(back(p)), off(p))
      p = back(p)
      k -= 1
    }
    out
  }

  def segmentUtf(word: UTF8String, model: UTF8String): ArrayData = {
    val pieces = segment(word.toString, parsed(model))
    val out = new Array[Any](pieces.length)
    var i = 0
    while (i < pieces.length) { out(i) = UTF8String.fromString(pieces(i)); i += 1 }
    new GenericArrayData(out)
  }
}

/** `graft_uniseg(word, model)` — Viterbi argmax segmentation of a word
  * under a unigram piece-score model (the SentencePiece decode rule).
  * `model` is a FOLDABLE string literal (rendered by
  * [[UnisegHelper.render]]): the trained model rides the plan as a
  * constant, is parsed once per task thread, and the per-row work is the
  * O(len·maxLen) DP — no join against a vocabulary table, no HOF
  * inlining. NULL word → NULL.
  */
case class Uniseg(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) if right.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (string, foldable string model), got " +
          s"(${l.simpleString}, ${r.simpleString})")
    }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def prettyName: String = "graft_uniseg"

  override def nullSafeEval(word: Any, model: Any): Any =
    UnisegHelper.segmentUtf(
      word.asInstanceOf[UTF8String], model.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (w, m) =>
      s"${ev.value} = graft.functions.UnisegHelper.segmentUtf($w, $m);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Uniseg =
    copy(left = newLeft, right = newRight)
}

object UnisegExpression {
  val entry: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("graft_uniseg"),
      new ExpressionInfo(classOf[Uniseg].getName, "graft_uniseg"),
      (children: Seq[Expression]) => Uniseg(children(0), children(1)))
}

/** Single-pass worker behind `graft_uniseg_ids`: split a document on
  * single spaces (empties dropped), Viterbi-segment every word
  * occurrence under the model, and resolve each piece against the
  * trained vocabulary — `syms` is the vocabulary ordered by dense id
  * (id = INDEX, exactly [[graft.ops.Unigram.tokenizeUnigramIds]]'s
  * zipWithIndex order), OOV fallbacks encode as -1. Returns
  * (n_pieces, comma-joined ids).
  */
object UnisegIdsHelper {

  /** The vocab as piece → dense id, cached like [[UnisegHelper.parsed]]. */
  private def symbolIds(
      syms: ArrayData): java.util.HashMap[String, java.lang.Long] = {
    val c = UnisegHelper.cache.get()
    if (c.symsRef eq syms) return c.symIds
    val m = new java.util.HashMap[String, java.lang.Long](syms.numElements() * 2)
    var i = 0
    while (i < syms.numElements()) {
      m.put(syms.getUTF8String(i).toString, i.toLong) // dense id = index
      i += 1
    }
    c.symsRef = syms; c.symIds = m
    m
  }

  def encode(text: UTF8String, model: UTF8String, syms: ArrayData): InternalRow = {
    val s = text.toString
    val m = UnisegHelper.parsed(model)
    val ids = symbolIds(syms)
    val sb = new java.lang.StringBuilder(s.length * 2)
    var pieces = 0L
    var start = 0
    val len = s.length
    while (start <= len) {
      val sp = s.indexOf(' ', start)
      val end = if (sp < 0) len else sp
      if (end > start) {
        val segs = UnisegHelper.segment(s.substring(start, end), m)
        var i = 0
        while (i < segs.length) {
          val id = ids.get(segs(i))
          if (pieces > 0L) sb.append(',')
          sb.append(if (id == null) -1L else id.longValue())
          pieces += 1L
          i += 1
        }
      }
      start = end + 1
    }
    InternalRow(pieces, UTF8String.fromString(sb.toString))
  }
}

/** `graft_uniseg_ids(text, model, syms)` — the whole-document unigram-LM
  * encode in ONE native pass: split on single spaces (empties dropped),
  * [[UnisegHelper.segment]] per word occurrence (the SAME Viterbi the
  * trainer runs), dense-id resolution against the foldable vocabulary
  * array (id = index, OOV → -1). Returns
  * struct<n_pieces: bigint, ids: string>. Same rationale as
  * [[BpeIds]]: composing this from array higher-order functions pays
  * interpreted CodegenFallback dispatch per token occurrence, and the
  * legacy distinct-words join shape shuffles the whole token stream
  * three times. NULL text → NULL.
  */
case class UnisegIds(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (StringType, StringType, ArrayType(StringType, _))
          if second.foldable && third.foldable =>
        if (third.eval().isInstanceOf[ArrayData]) TypeCheckResult.TypeCheckSuccess
        else TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires a non-null vocabulary array")
      case (a, b, c) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (string, foldable string model, foldable " +
          s"array<string>), got (${a.simpleString}, ${b.simpleString}, " +
          s"${c.simpleString})")
    }

  // nullable fields: the legacy join form's sum()/array_join() outputs
  // are nullable, and the dumped schema must stay identical.
  override def dataType: DataType = StructType(Seq(
    StructField("n_pieces", LongType, nullable = true),
    StructField("ids", StringType, nullable = true)))

  override def prettyName: String = "graft_uniseg_ids"

  override def nullSafeEval(text: Any, model: Any, syms: Any): Any =
    UnisegIdsHelper.encode(
      text.asInstanceOf[UTF8String],
      model.asInstanceOf[UTF8String],
      syms.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, m, vs) =>
      s"${ev.value} = graft.functions.UnisegIdsHelper.encode($t, $m, $vs);")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): UnisegIds =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object UnisegIdsExpression {
  val entry: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("graft_uniseg_ids"),
      new ExpressionInfo(classOf[UnisegIds].getName, "graft_uniseg_ids"),
      (children: Seq[Expression]) => UnisegIds(children(0), children(1), children(2)))
}
