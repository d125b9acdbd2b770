package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Chunking

/** Boundary rules, coverage, and dedup-grain behavior of the token-window
  * chunking operators (`chunk_documents` / `dedup_chunks`).
  */
class ChunkingSpec extends AnyFunSuite with SparkSessionFixture {

  private lazy val t = Tables(spark, "/root/testdata/sf0.001")

  test("chunk boundaries: starts at stride multiples, last window short") {
    import spark.implicits._
    // 10 tokens, size 4 / stride 3 → starts 0,3,6,9; last chunk 1 token.
    val doc = Seq((7L, (1 to 10).map(i => s"w$i").mkString(" "))).toDF("doc_id", "text")
    val got = Chunking.chunksOf(doc, size = 4, stride = 3)
      .orderBy("chunk_idx")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq((0L, 0L, 4L), (1L, 3L, 4L), (2L, 6L, 4L), (3L, 9L, 1L)))
  }

  test("every token is covered and consecutive chunks overlap by size−stride") {
    import spark.implicits._
    val doc = Seq((1L, (1 to 50).map(i => s"w$i").mkString(" "))).toDF("doc_id", "text")
    val rows = Chunking.chunksOf(doc, size = 32, stride = 24)
      .orderBy("chunk_idx")
      .collect().map(r => (r.getLong(2), r.getLong(3)))
    val covered = rows.flatMap { case (start, n) => start until (start + n) }.toSet
    assert(covered == (0L until 50L).toSet)
    rows.sliding(2).foreach {
      case Array((s1, n1), (s2, _)) =>
        assert(s2 - s1 == 24, "starts must advance by exactly one stride")
        if (n1 == 32) assert(s1 + n1 - s2 == 8, "full chunks overlap by size − stride")
      case _ =>
    }
  }

  test("chunk identity: identical windows hash equal, differing ones don't") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f"),
      (2L, "a b c d e f"), // same text → same chunk hashes
      (3L, "a b c d e g")) // differs in the last token
      .toDF("doc_id", "text")
    val h = Chunking.chunksOf(docs, size = 32, stride = 24)
      .collect().map(r => (r.getLong(0), r.getString(4))).toMap
    assert(h(1L) == h(2L))
    assert(h(1L) != h(3L))
  }

  test("dedup grain: chunk-level dupes exist on the real corpus where doc-level has none") {
    val docDupes = ops.Text.dedupExact(t).filter(col("dupes") > 1).count()
    val chunkDupes = Chunking.dedupChunks(t).count()
    info(s"doc-level dupe clusters: $docDupes, chunk-level: $chunkDupes")
    assert(chunkDupes > 0, "synthetic corpus is expected to share 32-token windows")
    // keeper is the lexicographically-lowest (doc_id, chunk_idx) — spot-check
    // against a recomputed min over the chunk table.
    val chunks = Chunking.chunkDocuments(t)
    val recomputed = chunks.groupBy("chunk_md5")
      .agg(count(lit(1)).as("c"), min(struct(col("doc_id"), col("chunk_idx"))).as("k"))
      .filter(col("c") > 1)
      .select(col("chunk_md5"), col("k.doc_id"), col("k.chunk_idx"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val got = Chunking.dedupChunks(t)
      .select("chunk_md5", "keep_doc", "keep_chunk")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == recomputed)
  }

  test("empty and whitespace-only documents produce no chunks") {
    import spark.implicits._
    val docs = Seq((1L, ""), (2L, " "), (3L, "a b")).toDF("doc_id", "text")
    val got = Chunking.chunksOf(docs, size = 4, stride = 3)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(got == Seq(3L))
  }

  // -------------------------------------------- content-defined chunking

  private def cdcOf(text: String): Seq[String] = {
    import spark.implicits._
    Seq(text).toDF("text")
      .select(expr("graft_cdc_chunks(text, 8, 64)").as("c"))
      .collect().head.getSeq[String](0).toSeq
  }

  test("cdc chunks reassemble to the original text on the whole corpus") {
    val bad = t.documents.filter(col("text").isNotNull)
      .select(col("doc_id"), col("text"),
        concat_ws("", expr("graft_cdc_chunks(text, 8, 64)")).as("re"))
      .filter(col("re") =!= col("text"))
      .count()
    assert(bad == 0L)
  }

  test("cdc boundaries re-synchronize after an insertion; fixed offsets do not") {
    val text = t.documents.filter(length(col("text")) > 200)
      .orderBy("doc_id").select("text").head().getString(0)
    val edited = "X" + text
    val a = cdcOf(text)
    val b = cdcOf(edited)
    // everything after the first cut following the edit is bit-identical:
    // at most the first chunk of each side differs
    val shared = a.toSet.intersect(b.toSet)
    assert(shared.size >= a.size - 1 && shared.size >= b.size - 1,
      s"cdc resync failed: ${a.size} vs ${b.size} chunks, ${shared.size} shared")
    // the same edit destroys EVERY fixed-offset chunk alignment
    val fixedA = text.grouped(64).toSeq
    val fixedB = edited.grouped(64).toSeq
    assert(fixedA.toSet.intersect(fixedB.toSet).isEmpty)
  }

  test("cdc edge cases: null, empty, short-of-window, unicode codepoints") {
    import spark.implicits._
    val got = Seq((1L, Some("")), (2L, Some("abc")), (3L, None))
      .toDF("doc_id", "text")
      .select(col("doc_id"), expr("graft_cdc_chunks(text, 8, 64)").as("c"))
      .orderBy("doc_id")
      .collect()
    assert(got(0).getSeq[String](1).isEmpty)      // empty → zero chunks
    assert(got(1).getSeq[String](1) == Seq("abc")) // shorter than w → one chunk
    assert(got(2).isNullAt(1))                     // null → null
    // astral-plane codepoint counts as ONE position (codepoints, not chars)
    val uni = cdcOf("a😀bcdefg") // 8 codepoints, 9 UTF-16 units
    assert(uni.mkString == "a😀bcdefg")
  }

  test("dedup_cdc finds insertion-shifted duplicate mass that fixed windows miss") {
    // two docs: B = A with one char prepended — dup mass must be nonzero
    import spark.implicits._
    val base = t.documents.filter(length(col("text")) > 200)
      .orderBy("doc_id").select("text").head().getString(0)
    val docs = Seq((1L, base), (2L, "X" + base)).toDF("doc_id", "text")
    val chunks = docs
      .select(col("doc_id"),
        posexplode(expr("graft_cdc_chunks(text, 8, 64)")).as(Seq("pos", "chunk")))
      .select(col("doc_id"), length(col("chunk")).cast("long").as("len_cp"),
        md5(col("chunk")).as("chunk_md5"))
    val spread = chunks.groupBy("chunk_md5")
      .agg(countDistinct(col("doc_id")).as("n_docs"))
    val rows = chunks.join(spread, "chunk_md5")
      .groupBy("doc_id")
      .agg(sum(col("len_cp")).as("t"),
        sum(when(col("n_docs") >= 2, col("len_cp")).otherwise(0L)).as("d"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    rows.foreach { case (_, total, dupCp) =>
      assert(dupCp > total / 2,
        s"expected majority of codepoints deduped across the edit, got $dupCp/$total")
    }
  }
}
