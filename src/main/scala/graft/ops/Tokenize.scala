package graft.ops

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus tokenizer: frequency-ranked vocabulary construction and
  * document → id-sequence encoding — the step between a cleaned corpus and
  * a training shard. Everything here is integer-exact (counts, ranks,
  * ids), so both operators are fully DuckDB-oracled.
  *
  * Scale shape: the vocabulary is built with one token-keyed
  * partial+final count (shuffle volume = #distinct tokens) followed by a
  * rank over the TOP `maxVocab` rows only — the limit runs BEFORE the
  * single-partition window, so the window's input is a bounded,
  * driver-chosen constant (the same boundedness class as a broadcast
  * build side), never the full vocabulary. Encoding is one map-side
  * `graft_word_ids` native pass per document (the ≤`maxVocab`-entry
  * vocabulary rides the plan as a foldable literal), then the final
  * doc_id sort — no token row crosses an exchange.
  */
object Tokenize {

  /** (id, token, cnt): top-`maxVocab` tokens by (count desc, token asc) —
    * a deterministic total order — with dense 1-based ids in rank order.
    */
  def vocabBuild(t: Tables, maxVocab: Int = 500): DataFrame = {
    val counts = Text.tokens(t.documents)
      .groupBy("token")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("token"))
      .limit(maxVocab)
    // The windowed rank sees only the ≤ maxVocab limited rows (bounded by
    // construction); empty partitionBy is deliberate and safe here.
    counts
      .select(
        row_number().over(Window.orderBy(desc("cnt"), asc("token")))
          .cast("long").as("id"),
        col("token"), col("cnt"))
      .orderBy("id")
  }

  /** The trained vocabulary as a driver-side list in dense-id order, a
    * [[graft.util.Memo]] value (≤ `maxVocab` rows by construction).
    */
  private def vocabTokens(t: Tables, maxVocab: Int): Seq[String] =
    graft.util.Memo.value(graft.util.Memo.Key("word_vocab", t.sfDir, "documents").and(maxVocab)) {
      vocabBuild(t, maxVocab).orderBy("id").collect()
        .map(_.getString(1)).toSeq
    }

  /** (doc_id, n_tok, ids): every document's token sequence encoded against
    * [[vocabBuild]]'s vocabulary, OOV → -1, ids emitted in token order as
    * a comma-joined string (driver compare rule: no raw array cells).
    * Docs with zero tokens drop out (no sequence to emit) — mirroring the
    * oracle's GROUP BY over exploded tokens.
    *
    * Entirely MAP-SIDE up to the final sort: one `graft_word_ids` native
    * call per document splits and resolves dense ids against the foldable
    * vocabulary riding the plan — the same restructure as
    * [[Bpe.tokenizeBpeIds]] (the r15 shape broadcast-joined the vocab
    * against the exploded token stream, then shuffled every (pos, id)
    * struct on doc_id for reassembly; in-session sf0.1 numbers in
    * OPTIMIZATION_r16.md). The pre-filter keeps exactly the documents
    * the join form kept (a doc survives iff it has a non-space character
    * ⟺ ≥1 token) and pushes to the scan. Equality with the join form is
    * pinned by TokenizeSpec and the DuckDB hash oracle.
    */
  def tokenizeIds(t: Tables, maxVocab: Int = 500): DataFrame = {
    val syms = vocabTokens(t, maxVocab) // dense-id order, id = index + 1
    val symArr =
      if (syms.isEmpty) typedlit(Seq.empty[String])
      else array(syms.map(lit): _*)
    // `enc` lands in its OWN projection (CollapseProject keeps
    // multiply-referenced non-cheap aliases separate), so the kernel
    // runs once per doc.
    t.documents
      .filter(col("text").isNotNull && trim(col("text")) =!= "")
      .withColumn("enc", call_function("graft_word_ids", col("text"), symArr))
      .select(col("doc_id"),
        col("enc.n_tok").as("n_tok"),
        col("enc.ids").as("ids"))
      .orderBy("doc_id")
  }
}
