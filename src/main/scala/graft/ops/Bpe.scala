package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic byte-pair-encoding subword tokenizer — the missing
  * sibling of [[Tokenize.vocabBuild]]'s word-level vocabulary (a real
  * training-data pipeline tokenizes with a TRAINED subword vocabulary).
  *
  * Training (Sennrich-style): word types start as character
  * segmentations; each of the [[NumMerges]] rounds counts adjacent
  * symbol pairs weighted by word frequency, picks the most frequent
  * pair under a TOTAL deterministic order (count desc, left asc, right
  * asc), and merges it everywhere. Merge application is the canonical
  * leftmost-greedy single pass, implemented as a fold over the symbol
  * sequence (merge-as-you-go is provably identical to leftmost
  * non-overlapping scanning: after a merge the accumulator's tail is
  * the merged symbol, which can never re-match the rule's left side
  * within the same pass) — the same fold a DuckDB `list_reduce` states,
  * which is what makes the whole trainer hash-oracle-able, unlike any
  * float-scored subword trainer.
  *
  * Scale shape: training runs over the word-TYPE table (top
  * [[MaxTypes]] types by count — the bounded-aggregate class, never the
  * corpus), one pair-count partial+final aggregate plus one `LIMIT 1`
  * argmax collect per merge round — driver state is one rule per round.
  * Encoding is map-side: the fused `graft_bpe_ids` native kernel
  * encodes each document in one pass, resolving piece ids against the
  * foldable vocabulary riding the plan (bounded by alphabet +
  * NumMerges), so no token row crosses an exchange — see
  * [[tokenizeBpeIds]].
  */
object Bpe {

  val NumMerges = 8
  val MaxTypes = 400

  final case class Rule(rank: Int, l: String, r: String, cnt: Long)

  private def wordTypes(t: Tables): DataFrame =
    Text.tokens(t.documents)
      .groupBy(col("token").as("word"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("word"))
      .limit(MaxTypes)

  /** Initial segmentation: space-joined characters. */
  private def segInit(word: Column): Column =
    trim(regexp_replace(word, "(.)", "$1 "))

  /** Leftmost-greedy application of one merge rule to a space-joined
    * segmentation: fold symbols left to right, merging when the
    * accumulator's last symbol is `l` and the next is `r`.
    */
  private def applyRule(seg: Column, l: String, r: String): Column = {
    val arr = split(seg, " ")
    aggregate(
      slice(arr, lit(2), size(arr) - 1),
      element_at(arr, 1),
      (acc, x) =>
        when(
          x === lit(r) && (acc === lit(l) || acc.endsWith(lit(" " + l))),
          // length()/substr() count CODEPOINTS in Spark (and in the
          // DuckDB oracle) — trim by codepoint count, not UTF-16 units,
          // or a supplementary-plane symbol would over-trim by one.
          concat(
            acc.substr(lit(1), length(acc) - lit(l.codePointCount(0, l.length))),
            lit(l + r)))
          .otherwise(concat(acc, lit(" "), x)))
  }

  /** Adjacent-pair emission from a space-joined segmentation: one
    * struct (l, r) per symbol bigram (overlapping pairs all count, the
    * classic get_stats convention).
    */
  private def pairs(seg: Column): Column = {
    val arr = split(seg, " ")
    filter(
      transform(arr, (x, i) => struct(
        x.as("l"), try_element_at(arr, i + lit(2)).as("r"))),
      p => p.getField("r").isNotNull)
  }

  /** Train the merge-rule sequence for `t`'s documents corpus (a
    * [[graft.util.Memo]] value: a handful of rows).
    */
  def rules(t: Tables): Seq[Rule] =
    graft.util.Memo.value(graft.util.Memo.Key("bpe_rules", t.sfDir, "documents")) {
      val base = wordTypes(t).cache()
      try {
        val out = Seq.newBuilder[Rule]
        var cur = base.withColumn("seg", segInit(col("word")))
        var round = 1
        var exhausted = false
        while (round <= NumMerges && !exhausted) {
          val top = cur
            .select(col("cnt"), explode(pairs(col("seg"))).as("p"))
            .groupBy(col("p.l").as("l"), col("p.r").as("r"))
            .agg(sum(col("cnt")).as("pc"))
            .orderBy(desc("pc"), asc("l"), asc("r"))
            .limit(1)
            .collect()
          if (top.isEmpty) exhausted = true
          else {
            val row = top.head
            val (l, r) = (row.getString(0), row.getString(1))
            out += Rule(round, l, r, row.getLong(2))
            cur = cur.withColumn("seg", applyRule(col("seg"), l, r))
            round += 1
          }
        }
        out.result()
      } finally { base.unpersist(); () }
    }

  /** The declared-contract Catalyst form of the whole merge chain — each
    * merge level its OWN projection (chained `withColumn`s over a named
    * attribute): [[applyRule]] references its input three times, so
    * inlining the chain into one expression — what a naive Column fold
    * produces — triplicates work per level (3^NumMerges blow-up,
    * measured as a 48 s encode at sf0.1); Catalyst's CollapseProject
    * leaves multiply-referenced non-cheap aliases in their own
    * projections, keeping evaluation linear in NumMerges. Kept as the
    * reference implementation [[graft.BpeSpec]] pins the fused
    * expression against.
    */
  private[graft] def withSegFold(df: DataFrame, rs: Seq[Rule], wordCol: String): DataFrame =
    rs.foldLeft(df.withColumn("seg", segInit(col(wordCol))))(
      (d, ru) => d.withColumn("seg", applyRule(col("seg"), ru.l, ru.r)))

  /** The `wordCol` segmentation under the trained rules as a Column, via
    * the fused `graft_bpe_seg` native expression — one
    * codegen-callable pass per word instead of NumMerges interpreted
    * `aggregate` folds (each level is a CodegenFallback HOF).
    * Exact-equality with [[withSegFold]] is pinned by BpeSpec (native ≡
    * fold over every corpus word plus adversarial symbols).
    */
  private def segCol(word: Column, rs: Seq[Rule]): Column =
    if (rs.isEmpty) segInit(word)
    else call_function("graft_bpe_seg", word,
      array(rs.flatMap(ru => Seq(lit(ru.l), lit(ru.r))): _*))

  private def withSeg(df: DataFrame, rs: Seq[Rule], wordCol: String): DataFrame = {
    df.withColumn("seg", segCol(col(wordCol), rs))
  }

  /** (merge_rank, l, r, merged, pair_cnt): the trained merge rules in
    * training order — the model a tokenizer ships.
    */
  def vocabBpeBuild(t: Tables): DataFrame = {
    val spark = t.spark
    import spark.implicits._
    rules(t)
      .map(ru => (ru.rank.toLong, ru.l, ru.r, ru.l + ru.r, ru.cnt))
      .toDF("merge_rank", "l", "r", "merged", "pair_cnt")
      .orderBy("merge_rank")
  }

  /** (sym_id, sym): the subword symbol vocabulary — every symbol
    * observed in the trained segmentation of the training word types,
    * dense ids in symbol order. The ranking window's input is bounded
    * by the training table (≤ alphabet + NumMerges distinct symbols),
    * the same boundedness class as [[Tokenize.vocabBuild]].
    */
  def vocabSymbols(t: Tables): DataFrame = {
    val rs = rules(t)
    withSeg(wordTypes(t), rs, "word")
      .select(explode(split(col("seg"), " ")).as("sym"))
      .distinct()
      .select(
        row_number().over(Window.orderBy("sym")).cast("long").as("sym_id"),
        col("sym"))
  }

  /** The trained symbol vocabulary as a driver-side map, memoized like
    * [[rules]]. Bounded by CONSTRUCTION, not by
    * data: [[vocabSymbols]]'s input is the trained segmentation of the
    * ≤[[MaxTypes]] training word types, so the collect is at most
    * (alphabet + NumMerges) distinct symbols — the same bounded
    * driver-state class as the rules themselves.
    */
  private def symbolIds(t: Tables): Map[String, Long] =
    graft.util.Memo.value(graft.util.Memo.Key("bpe_symbols", t.sfDir, "documents")) {
      vocabSymbols(t).collect()
        .map(r => r.getString(1) -> r.getLong(0)).toMap
    }

  /** (doc_id, n_pieces, ids): every document's subword id sequence under
    * the trained rules — pieces of symbols outside the trained
    * vocabulary encode as -1, mirroring [[Tokenize.tokenizeIds]]'s OOV
    * convention.
    *
    * Entirely MAP-SIDE up to the final sort: one `graft_bpe_ids` native
    * call per document splits, segments every word occurrence in place
    * and resolves piece ids against the foldable vocabulary riding the
    * plan (bounded by alphabet + NumMerges — see [[symbolIds]]), so no
    * token row ever crosses an exchange. The previous shape (encode
    * DISTINCT words, join the piece ids back, re-assemble per document)
    * existed because the interpreted fold made per-occurrence encoding
    * expensive; with the native kernel it cost three shuffles OF THE
    * WHOLE TOKEN STREAM (distinct, join, doc_id regroup) to save
    * per-occurrence work that is now a tight JVM loop (in-session
    * sf0.1 numbers in OPTIMIZATION_r16.md; the map-side form shuffles
    * nothing at any scale). A builtins-composed map-side variant
    * (`transform`/`flatten`/`element_at` over `graft_bpe_seg`) measured
    * NO faster than the join form — array HOFs are CodegenFallback —
    * which is why the whole encode is fused. The pre-filter keeps
    * exactly the documents the join form kept (a doc survives iff it
    * has a non-space character ⟺ ≥1 word ⟺ ≥1 piece) and pushes to
    * the scan. Result equality is pinned by the DuckDB hash oracle and
    * BpeSpec's brute-force re-derivation.
    */
  def tokenizeBpeIds(t: Tables): DataFrame = {
    val rs = rules(t)
    val syms = symbolIds(t).toSeq.sortBy(_._2).map(_._1) // dense-id order
    val ruleArr =
      if (rs.isEmpty) typedlit(Seq.empty[String]) // degenerate corpus
      else array(rs.flatMap(ru => Seq(lit(ru.l), lit(ru.r))): _*)
    val symArr =
      if (syms.isEmpty) typedlit(Seq.empty[String])
      else array(syms.map(lit): _*)
    // `enc` lands in its OWN projection (CollapseProject keeps
    // multiply-referenced non-cheap aliases separate — the same
    // discipline as [[withSegFold]]), so the kernel runs once per doc.
    t.documents
      .filter(col("text").isNotNull && trim(col("text")) =!= "")
      .withColumn("enc",
        call_function("graft_bpe_ids", col("text"), ruleArr, symArr))
      .select(col("doc_id"),
        col("enc.n_pieces").as("n_pieces"),
        col("enc.ids").as("ids"))
      .orderBy("doc_id")
  }
}
