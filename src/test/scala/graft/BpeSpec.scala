package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Bpe

/** BPE trainer/encoder properties beyond the DuckDB hash oracle: the
  * engine's fold-based merge application equals the canonical leftmost
  * non-overlapping pass (driver brute force), trained rules are
  * deterministic and well-formed, and encodings losslessly concatenate
  * back to their words.
  */
class BpeSpec extends AnyFunSuite with SparkSessionFixture {

  private val sf = "/root/testdata/sf0.001"
  private def t = Tables(spark, sf)

  /** Canonical leftmost non-overlapping merge of (l, r) in a symbol
    * sequence — the reference BPE apply step.
    */
  private def canonicalMerge(seq: List[String], l: String, r: String): List[String] = {
    val out = List.newBuilder[String]
    var rest = seq
    while (rest.nonEmpty) rest match {
      case a :: b :: tl if a == l && b == r => out += (l + r); rest = tl
      case a :: tl => out += a; rest = tl
      case Nil => ()
    }
    out.result()
  }

  test("trained rules are deterministic, ranked, and cover real pairs") {
    val a = Bpe.vocabBpeBuild(t).collect()
    val b = Bpe.vocabBpeBuild(t).collect()
    assert(a.map(_.toString).sameElements(b.map(_.toString)))
    assert(a.length == Bpe.NumMerges)
    assert(a.map(_.getLong(0)).sameElements(1L to Bpe.NumMerges.toLong))
    // counts non-increasing is NOT required (merges create new pairs),
    // but every rule must have a positive support and merged = l || r
    a.foreach { row =>
      assert(row.getLong(4) > 0)
      assert(row.getString(3) == row.getString(1) + row.getString(2))
    }
  }

  test("fold-based merge application == canonical leftmost pass for every word") {
    val rules = Bpe.vocabBpeBuild(t).collect()
      .map(r => (r.getString(1), r.getString(2)))
    // brute force every distinct word on the driver through the
    // canonical merge chain, then compare with the engine's pieces
    val words = t.documents
      .select(explode(filter(split(col("text"), " "), x => x =!= "")).as("w"))
      .distinct().collect().map(_.getString(0))
    val canonical = words.map { w =>
      val pieces = rules.foldLeft(w.map(_.toString).toList) {
        case (seq, (l, r)) => canonicalMerge(seq, l, r)
      }
      w -> pieces.mkString(" ")
    }.toMap
    // engine side: re-derive each word's seg through the same public
    // surface tokenize_bpe_ids uses (ids joined back to symbols)
    val syms = Bpe.vocabSymbols(t).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val perDoc = Bpe.tokenizeBpeIds(t).collect()
    val docText = t.documents.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    perDoc.foreach { row =>
      val docId = row.getLong(0)
      val ids = row.getString(2).split(",").map(_.toLong)
      val ws = docText(docId).split(" ").filter(_.nonEmpty)
      // pieces concatenate back to the document's words in order
      val expected = ws.flatMap(w => canonical(w).split(" "))
      assert(ids.length == expected.length, s"doc $docId piece count")
      ids.zip(expected).foreach { case (id, sym) =>
        if (id >= 0) assert(syms(id) == sym, s"doc $docId symbol mismatch")
        else assert(!syms.values.exists(_ == sym), s"doc $docId false OOV")
      }
      assert(row.getLong(1) == ids.length.toLong)
    }
  }

  test("fused graft_bpe_seg == Catalyst fold chain, corpus + adversarial words") {
    val rs = Bpe.rules(t)
    // corpus words plus adversarial shapes: empty, single char, cascading
    // same-symbol runs, supplementary-plane codepoints, a literal space
    // never occurs (words come from split on ' ')
    import spark.implicits._
    val words = t.documents
      .select(explode(filter(split(col("text"), " "), x => x =!= "")).as("w"))
      .distinct()
      .union(Seq("", "a", "aaaa", "ab", "😀a😀",
        "😀😀", null).toDF("w"))
    val ruleArr = array(rs.flatMap(ru => Seq(lit(ru.l), lit(ru.r))): _*)
    // compare on the DRIVER: a `filter(fold_seg <=> native_seg)` would be
    // predicate-pushed through the 8 chained seg projections, inlining
    // each level's triply-referenced alias into the condition — the
    // 3^NumMerges blow-up Bpe.withSegFold's doc warns about, measured as
    // a ~8 min single-task eval of this tiny fixture
    def assertEqual(df: org.apache.spark.sql.DataFrame, label: String): Unit = {
      val bad = df.collect().filterNot(r =>
        (r.isNullAt(1) && r.isNullAt(2)) ||
          (!r.isNullAt(1) && !r.isNullAt(2) && r.getString(1) == r.getString(2)))
      assert(bad.isEmpty, s"fused != fold for $label: ${bad.mkString("; ")}")
    }
    assertEqual(
      Bpe.withSegFold(words, rs, "w")
        .withColumnRenamed("seg", "fold_seg")
        .withColumn("native_seg", call_function("graft_bpe_seg", col("w"), ruleArr))
        .select("w", "fold_seg", "native_seg"),
      "corpus rules")
    // synthetic cascading rules exercise the merged-symbol-no-rematch rule
    val synth = Seq(Bpe.Rule(1, "a", "a", 1L), Bpe.Rule(2, "aa", "b", 1L))
    val synthWords = Seq("aaab", "aaaab", "baaa", "abab").toDF("w")
    val synthArr = array(synth.flatMap(ru => Seq(lit(ru.l), lit(ru.r))): _*)
    assertEqual(
      Bpe.withSegFold(synthWords, synth, "w")
        .withColumnRenamed("seg", "fold_seg")
        .withColumn("native_seg", call_function("graft_bpe_seg", col("w"), synthArr))
        .select("w", "fold_seg", "native_seg"),
      "synthetic rules")
  }

  test("map-side graft_bpe_ids == legacy distinct-words join form, row for row") {
    val rs = Bpe.rules(t)
    // the r15 shape: encode DISTINCT words, join piece ids back to the
    // positional token stream, reassemble per document
    val tok = t.documents
      .select(col("doc_id"),
        posexplode(filter(split(col("text"), " "), x => x =!= ""))
          .as(Seq("wpos", "word")))
    val enc = Bpe.withSegFold(tok.select("word").distinct(), rs, "word")
      .select(col("word").as("e_word"),
        posexplode(split(col("seg"), " ")).as(Seq("ppos", "sym")))
      .join(broadcast(Bpe.vocabSymbols(t)), Seq("sym"), "left")
      .select(col("e_word"), col("ppos"),
        coalesce(col("sym_id"), lit(-1L)).as("id"))
      .groupBy("e_word")
      .agg(count(lit(1)).as("np"),
        transform(
          array_sort(collect_list(struct(col("ppos"), col("id")))),
          s => s.getField("id")).as("pids"))
    val legacy = tok.join(enc, col("word") === col("e_word"))
      .groupBy("doc_id")
      .agg(sum(col("np")).cast("long").as("n_pieces"),
        array_join(
          flatten(transform(
            array_sort(collect_list(struct(col("wpos"), col("pids")))),
            s => transform(s.getField("pids"), p => p.cast("string")))),
          ",").as("ids"))
      .orderBy("doc_id")
      .collect().map(_.toString)
    val fused = Bpe.tokenizeBpeIds(t).collect().map(_.toString)
    assert(fused.length == legacy.length,
      s"row count: fused ${fused.length} vs legacy ${legacy.length}")
    assert(fused.sameElements(legacy))
  }

  test("encoding is lossless: pieces concatenate to the word") {
    val rules = Bpe.vocabBpeBuild(t).collect()
      .map(r => (r.getString(1), r.getString(2)))
    val words = t.documents
      .select(explode(filter(split(col("text"), " "), x => x =!= "")).as("w"))
      .distinct().collect().map(_.getString(0))
    words.foreach { w =>
      val pieces = rules.foldLeft(w.map(_.toString).toList) {
        case (seq, (l, r)) => canonicalMerge(seq, l, r)
      }
      assert(pieces.mkString("") == w)
    }
  }
}
