package graft.ops

import graft.Tables
import graft.functions.UnisegHelper
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic unigram-LM subword tokenizer (the SentencePiece /
  * Kudo 2018 algorithm family) — completes the tokenize family's third
  * member: word-level ([[Tokenize.vocabBuild]]) → merge-based subword
  * ([[Bpe]]) → likelihood-based subword (this). Where BPE grows pieces
  * bottom-up by merge frequency, the unigram model starts from an
  * OVER-complete substring seed and keeps the pieces that maximize
  * corpus likelihood under Viterbi-EM:
  *
  *  1. SEED: every substring (length ≤ [[MaxPieceLen]]) of the bounded
  *     word-type table, weighted by word count; all single characters
  *     plus the top [[SeedMulti]] multi-char substrings (count desc,
  *     piece asc — total deterministic order).
  *  2. EM ([[EmRounds]] hard rounds): E = Viterbi-segment every word
  *     type under the current scores ([[UnisegHelper.segment]] — the
  *     SAME code the distributed encoder runs); M = re-score pieces by
  *     add-one-smoothed usage and drop multi-char pieces that no argmax
  *     segmentation used. Scores are integer MICRO-NATS
  *     (round(1e6·ln p)), so every comparison downstream is exact
  *     integer arithmetic and the training trajectory is bit-identical
  *     under any partitioning (it is driver-side over the bounded type
  *     table — the Lloyd-codebook driver-state class, memoized under
  *     the dataset stamp).
  *
  * Like the other trained surfaces (kmeans, PCA, logreg, the ANN
  * codebooks), the trained structure is engine-specific — there is no
  * cross-engine oracle for an EM fixpoint — so the registry rows are
  * checked rows-only and UnigramSpec pins the laws instead:
  * determinism, segmentation-concatenation identity on the whole
  * corpus, monotone NLL across EM rounds, prune soundness, and the
  * encoder/vocab id bijection.
  *
  * Scale shape: training touches only the ≤[[MaxTypes]]-row type table.
  * Encoding is [[Bpe.tokenizeBpeIds]]'s exact plan — one map-side
  * `graft_uniseg_ids` native pass per document (model and vocabulary
  * ride the plan as foldable literals; no vocabulary join, no token
  * shuffle), then the final doc_id sort.
  */
object Unigram {

  val MaxTypes = 400
  val MaxPieceLen = 4
  val SeedMulti = 200
  val EmRounds = 2

  final case class Trained(
      scores: Map[String, Long],
      usage: Map[String, Long],
      nllMicroByRound: Seq[Long])

  private def wordTypes(t: Tables): DataFrame =
    Text.tokens(t.documents)
      .groupBy(col("token").as("word"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("word"))
      .limit(MaxTypes)

  private def microLn(num: Long, den: Long): Long =
    math.round(1e6 * math.log(num.toDouble / den.toDouble))

  /** Train on the bounded word-type table (driver-side, memoized). */
  def train(t: Tables): Trained =
    graft.util.Memo.value(graft.util.Memo.Key("unigram", t.sfDir, "documents")) {
      val types: Seq[(String, Long)] = wordTypes(t)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      // ---- seed: substring counts, all chars + top multi-char pieces
      val seedCnt = scala.collection.mutable.HashMap.empty[String, Long]
      // tokens containing the model literal's own separators can't be
      // pieces (render/parse would corrupt) — they still encode via the
      // single-char OOV fallback. Substrings are enumerated over
      // CODEPOINT boundaries, matching the segmenter's DP positions.
      types.filterNot(t => t._1.contains('\t') || t._1.contains('\n'))
        .foreach { case (w, c) =>
          val n = w.codePointCount(0, w.length)
          val off = new Array[Int](n + 1)
          var ci = 0
          var cpi = 0
          while (ci < w.length) {
            off(cpi) = ci
            ci += Character.charCount(w.codePointAt(ci))
            cpi += 1
          }
          off(n) = w.length
          var i = 0
          while (i < n) {
            var l = 1
            while (l <= math.min(MaxPieceLen, n - i)) {
              val p = w.substring(off(i), off(i + l))
              seedCnt.update(p, seedCnt.getOrElse(p, 0L) + c)
              l += 1
            }
            i += 1
          }
        }
      def isSingleCp(p: String): Boolean = p.codePointCount(0, p.length) == 1
      val chars = seedCnt.keys.filter(isSingleCp).toSeq
      val multi = seedCnt.toSeq.filterNot(kv => isSingleCp(kv._1))
        .sortBy { case (p, c) => (-c, p) }.take(SeedMulti).map(_._1)
      var kept: Seq[String] = (chars ++ multi).sorted
      def rescore(counts: Map[String, Long]): Map[String, Long] = {
        // add-one over the kept vocabulary: zero-usage single chars
        // stay finitely scored (the encoder's safety floor)
        val total = counts.values.sum + kept.size
        kept.map(p => p -> microLn(counts.getOrElse(p, 0L) + 1L, total)).toMap
      }
      var scores = rescore(kept.map(p => p -> seedCnt(p)).toMap)
      val nlls = Seq.newBuilder[Long]
      var lastUsage = Map.empty[String, Long]
      var round = 0
      while (round <= EmRounds) {
        // E-step under the CURRENT scores (round 0 scores the seed —
        // its NLL is the baseline the spec's monotonicity law anchors)
        val model = new UnisegHelper.Model(
          { val m = new java.util.HashMap[String, java.lang.Long](scores.size * 2)
            scores.foreach { case (p, s) => m.put(p, java.lang.Long.valueOf(s)) }
            m },
          MaxPieceLen)
        val usage = scala.collection.mutable.HashMap.empty[String, Long]
        var nll = 0L
        types.foreach { case (w, c) =>
          val seg = UnisegHelper.segment(w, model)
          seg.foreach { p =>
            usage.update(p, usage.getOrElse(p, 0L) + c)
            nll -= c * scores.getOrElse(p, UnisegHelper.OovMicro)
          }
        }
        nlls += nll
        lastUsage = usage.toMap
        if (round < EmRounds) {
          // M-step: drop unused multi-char pieces, re-score by usage
          kept = kept.filter(p => isSingleCp(p) || usage.contains(p))
          scores = rescore(lastUsage)
        }
        round += 1
      }
      // final prune: a multi-char piece no argmax segmentation used can
      // be removed WITHOUT changing any optimum (it was an available
      // option and never optimal), so usage and NLL stay exact while the
      // shipped vocabulary carries only live pieces
      val live = scores.keySet.filter(p => isSingleCp(p) || lastUsage.contains(p))
      Trained(scores.filter { case (p, _) => live(p) }, lastUsage, nlls.result())
    }

  /** The trained model as the expression's foldable literal. */
  def modelLiteral(t: Tables): String = {
    val tr = train(t)
    UnisegHelper.render(tr.scores, MaxPieceLen)
  }

  /** (piece, len, usage, score_micro): the trained piece inventory in
    * piece order — the model a tokenizer ships. Dense ids for the
    * encoder are the row positions of this very ordering.
    */
  def vocabUnigramBuild(t: Tables): DataFrame = {
    val spark = t.spark
    import spark.implicits._
    val tr = train(t)
    tr.scores.toSeq.sortBy(_._1).map { case (p, s) =>
      (p, p.codePointCount(0, p.length).toLong, tr.usage.getOrElse(p, 0L), s)
    }.toDF("piece", "len", "usage", "score_micro")
  }

  /** (doc_id, n_pieces, ids): every document encoded under the trained
    * model — Viterbi pieces mapped to dense vocab ids (position in
    * [[vocabUnigramBuild]]'s piece order; OOV single-char fallbacks
    * → -1), comma-joined in order.
    *
    * Entirely MAP-SIDE up to the final sort: one `graft_uniseg_ids`
    * native call per document splits, Viterbi-segments every word
    * occurrence and resolves piece ids against the foldable vocabulary
    * riding the plan, so no token row ever crosses an exchange — the
    * same restructure as [[Bpe.tokenizeBpeIds]] (the r15 shape encoded
    * DISTINCT words and paid three shuffles OF THE WHOLE TOKEN STREAM
    * to join the ids back; in-session sf0.1 numbers in
    * OPTIMIZATION_r16.md). The pre-filter keeps exactly the documents
    * the join form kept (a doc survives iff it has a non-space
    * character ⟺ ≥1 word ⟺ ≥1 piece) and pushes to the scan.
    * Equality with the join form is pinned by UnigramSpec.
    */
  def tokenizeUnigramIds(t: Tables): DataFrame = {
    val model = modelLiteral(t)
    val syms = train(t).scores.keys.toSeq.sorted // dense id = index
    val symArr =
      if (syms.isEmpty) typedlit(Seq.empty[String])
      else array(syms.map(lit): _*)
    // `enc` lands in its OWN projection (CollapseProject keeps
    // multiply-referenced non-cheap aliases separate), so the kernel
    // runs once per doc.
    t.documents
      .filter(col("text").isNotNull && trim(col("text")) =!= "")
      .withColumn("enc",
        call_function("graft_uniseg_ids", col("text"), lit(model), symArr))
      .select(col("doc_id"),
        col("enc.n_pieces").as("n_pieces"),
        col("enc.ids").as("ids"))
      .orderBy("doc_id")
  }
}
