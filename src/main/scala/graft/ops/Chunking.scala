package graft.ops

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Training-data chunking: split every document into overlapping
  * fixed-size token windows (the unit RAG indexes and pretraining packers
  * consume), plus chunk-LEVEL exact dedup — duplication detection at a
  * finer grain than [[Text.dedupExact]]'s whole-document hash, which is
  * how boilerplate shared across otherwise-distinct documents (headers,
  * license blocks, templated passages) actually shows up in web corpora.
  * On the driver corpus the two grains provably differ: sf0.01 has zero
  * exact-duplicate documents but 38 duplicated 32-token chunks.
  *
  * Scale shape: chunking is a pure map-side generate (tokens never
  * shuffle; ~⌈n/stride⌉ chunk rows per doc), and the dedup groups on the
  * chunk hash — (hash, doc_id, chunk_idx) triples are the only thing that
  * moves, never chunk text. Both are the same plan at 100 TB.
  *
  * Determinism: chunk boundaries are a pure function of the token count
  * (starts at 0, stride, 2·stride, … < n; the last window may be short),
  * and the chunk identity is md5 over the space-rejoined window — no
  * floats anywhere, fully DuckDB-oracle-checkable.
  */
object Chunking {

  /** (doc_id, chunk_idx, start_tok, n_tok, chunk_md5) — one row per
    * overlapping token window. `size` > `stride` ⇒ consecutive chunks
    * share `size − stride` tokens; every token is covered.
    */
  def chunkDocuments(t: Tables, size: Int = 32, stride: Int = 24): DataFrame = {
    require(size >= 1 && stride >= 1 && stride <= size,
      s"need 1 <= stride <= size, got size=$size stride=$stride")
    chunksOf(t.documents, size, stride)
      .orderBy("doc_id", "chunk_idx")
  }

  /** Chunk rows over an arbitrary (doc_id, text) frame — shared by
    * [[dedupChunks]] and the spec's synthetic seam.
    */
  private[graft] def chunksOf(docs: DataFrame, size: Int, stride: Int): DataFrame =
    docs
      .select(col("doc_id"),
        filter(split(col("text"), " "), x => x =!= "").as("toks"))
      .select(col("doc_id"), col("toks"), org.apache.spark.sql.functions.size(col("toks")).as("n"))
      .filter(col("n") > 0)
      // posexplode over the start offsets: map-side generate, no shuffle;
      // toks rides along and each chunk slices it once.
      .select(col("doc_id"), col("toks"), col("n"),
        posexplode(sequence(lit(0), col("n") - 1, lit(stride))).as(Seq("chunk_idx", "start")))
      .select(
        col("doc_id"),
        col("chunk_idx").cast("long").as("chunk_idx"),
        col("start").cast("long").as("start_tok"),
        least(lit(size), col("n") - col("start")).cast("long").as("n_tok"),
        md5(array_join(slice(col("toks"), col("start") + 1, lit(size)), " ")).as("chunk_md5"))

  /** Duplicated-chunk clusters: every chunk hash occurring more than once
    * corpus-wide, with its copy count, distinct-document spread, and the
    * canonical keeper (lowest (doc_id, chunk_idx) — the deterministic
    * "first occurrence"). The grain real pipelines drop rows at.
    */
  def dedupChunks(t: Tables, size: Int = 32, stride: Int = 24): DataFrame =
    chunksOf(t.documents, size, stride)
      .groupBy("chunk_md5")
      .agg(
        count(lit(1)).as("copies"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(struct(col("doc_id"), col("chunk_idx"))).as("k"))
      .filter(col("copies") > 1)
      .select(col("chunk_md5"), col("copies"), col("n_docs"),
        col("k.doc_id").as("keep_doc"), col("k.chunk_idx").as("keep_chunk"))
      .orderBy("chunk_md5")

  /** Content-defined chunk table: (doc_id, chunk_idx, len_cp, chunk_md5)
    * via `graft_cdc_chunks` (rolling-hash boundaries, expected chunk size
    * `div` codepoints — the dedup-storage/FastCDC rule). Unlike
    * [[chunkDocuments]]'s fixed token windows, boundaries here move WITH
    * the content: a one-character insertion changes only the chunk it
    * lands in, every later chunk still hash-matches its pre-edit twin
    * (CdcChunkSpec pins exactly that resync). Pure map-side generate —
    * one linear expression pass per doc, chunk text never shuffles (the
    * md5 + length are computed in the same projection).
    */
  def chunkCdc(t: Tables, w: Int = 8, div: Int = 64): DataFrame = {
    t.documents.filter(col("text").isNotNull)
      .select(col("doc_id"),
        posexplode(expr(s"graft_cdc_chunks(text, $w, $div)"))
          .as(Seq("pos", "chunk")))
      .select(
        col("doc_id"),
        (col("pos") + 1).cast("long").as("chunk_idx"),
        length(col("chunk")).cast("long").as("len_cp"),
        md5(col("chunk")).as("chunk_md5"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** Per-document duplicated-mass audit at the content-defined grain:
    * the fraction of each doc's codepoints lying in chunks whose hash
    * appears in ≥2 DISTINCT documents — [[Chunking.dedupChunks]]'s
    * boilerplate detector made robust to insertion-shifted boilerplate.
    * Scale shape: one chunk-hash-keyed exchange (hash, doc, len triples
    * only — never text) feeding both the spread count and, via the join
    * back, the per-doc rollup; at 100 TB this is the same two-shuffle
    * plan, with the hash key uniformly spread by construction.
    */
  def dedupCdc(t: Tables, w: Int = 8, div: Int = 64): DataFrame = {
    // (chunk_md5, doc_id)-grain pre-aggregation, then the distinct-doc
    // spread as a COUNT window over that grain (each (hash, doc) is one
    // row, so the partition count IS n_docs) — the chunk expression runs
    // exactly once and no per-hash occurrence array ever materializes.
    // A boilerplate chunk in millions of documents — exactly what this
    // audit hunts — makes one large window group, which WindowExec
    // sorts/spills gracefully; a collect_list formulation would have to
    // fit that key's occurrence array inside a single row.
    val grain = chunkCdc(t, w, div)
      .groupBy("chunk_md5", "doc_id")
      .agg(
        count(lit(1)).cast("long").as("n_occ"),
        sum(col("len_cp")).cast("long").as("len_cp"))
    val wn = org.apache.spark.sql.expressions.Window.partitionBy("chunk_md5")
    grain
      .withColumn("n_docs", count(lit(1)).over(wn))
      .groupBy("doc_id")
      .agg(
        sum(col("n_occ")).cast("long").as("n_chunks"),
        sum(col("len_cp")).cast("long").as("total_cp"),
        sum(when(col("n_docs") >= 2, col("len_cp")).otherwise(0L))
          .cast("long").as("dup_cp"))
      .withColumn("dup_frac_micro",
        expr("dup_cp * 1000000L div total_cp"))
      .orderBy("doc_id")
  }
}
