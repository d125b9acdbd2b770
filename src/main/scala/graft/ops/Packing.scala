package graft.ops

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Sequence sharding for training-data assembly: distribute documents
  * over k bins with balanced token mass.
  *
  * The policy is longest-first striping — global rank by (token count
  * desc, doc_id asc), bin = (rank−1) mod k — the parallel-friendly cousin
  * of the LPT bin-packing heuristic: consecutive ranks land in different
  * bins, so each stripe of k docs contributes one doc to every bin and
  * bin token masses differ by at most one stripe's spread. Deterministic
  * (no RNG), and the global rank reuses the two-pass range-partitioned
  * rank machinery ([[Windows.collectCuts]]/[[Windows.bucketOf]]) — NO
  * single-partition window anywhere, so the same plan ranks 10^11 docs.
  *
  * Registered output is the per-bin audit (doc count, token mass) a
  * pipeline logs to verify balance; the per-doc assignment is the same
  * frame before the final groupBy.
  */
object Packing {

  /** Composite sortable key: (n_tok desc, doc_id asc) as one long —
    * (2^31−1−n_tok)·2^31 + doc_id. Bounds are ENFORCED per row
    * (raise_error, codegen'd branch): token counts and ids must fit 31
    * bits — true by orders of magnitude for any real document, and a
    * violating row is a corruption that must surface, not silently
    * corrupt the rank order.
    */
  private def sortKey(nTok: org.apache.spark.sql.Column, docId: org.apache.spark.sql.Column) = {
    val KeyScale = 2147483648L // 2^31
    val inRange = nTok.between(0L, KeyScale - 1) && docId.between(0L, KeyScale - 1)
    when(inRange, (lit(KeyScale - 1) - nTok) * lit(KeyScale) + docId)
      .otherwise(raise_error(concat(
        lit("pack_sequences: n_tok/doc_id outside 31-bit key range: "),
        nTok.cast("string"), lit("/"), docId.cast("string"))).cast(LongType))
  }

  /** Overlapping token-window chunking — the standard context-window prep
    * step: each document becomes ⌈n/stride⌉ chunks of up to `chunk`
    * tokens starting every `stride` tokens (trailing chunks may be short;
    * stride < chunk ⇒ consecutive chunks overlap by chunk − stride
    * tokens). Pure map stage — explode(sequence(...)) fans each doc out
    * to its starts with no shuffle at all, so the plan is embarrassingly
    * parallel at any scale.
    */
  def textChunk(t: Tables, chunk: Int = 24, stride: Int = 16): DataFrame =
    t.documents
      .select(col("doc_id"), expr("filter(split(text, ' '), x -> x <> '')").as("toks"))
      .withColumn("n_tok", size(col("toks")).cast(LongType))
      .filter(col("n_tok") > 0)
      .select(col("doc_id"), col("toks"), col("n_tok"),
        explode(sequence(lit(0L), col("n_tok") - 1, lit(stride.toLong))).as("start"))
      .select(
        col("doc_id"),
        expr(s"start div $stride").as("chunk_idx"),
        array_join(slice(col("toks"), (col("start") + 1).cast(IntegerType), lit(chunk)), " ")
          .as("chunk_text"),
        (least(col("start") + chunk, col("n_tok")) - col("start")).as("n_toks"))
      .orderBy("doc_id", "chunk_idx")

  def packSequences(t: Tables, k: Int = 8): DataFrame = {
    val toks = t.documents.select(
      col("doc_id"),
      size(expr("filter(split(text, ' '), x -> x <> '')")).cast(LongType).as("n_tok"))
    val keyed = toks
      .select(col("doc_id"), col("n_tok"), sortKey(col("n_tok"), col("doc_id")).as("skey"))
    val (ranked, _) = Windows.globalRank(keyed, "skey",
      memo = graft.util.Memo.Key("pack_rank", t.sfDir, "documents"))
    ranked
      .select(col("doc_id"), col("n_tok"), ((col("rk") - 1) % k).as("bin"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tok_mass"))
      .orderBy("bin")
  }
}
