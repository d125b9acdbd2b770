package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.UnisegHelper
import graft.ops.Unigram

/** Laws of the unigram-LM subword tokenizer (trained structure — no
  * cross-engine oracle, so these pin the contract): model shape,
  * segmentation identity corpus-wide, Viterbi optimality against brute
  * force, monotone NLL across EM rounds, prune soundness, and
  * driver/executor segmentation agreement.
  */
class UnigramSpec extends AnyFunSuite with SparkSessionFixture {

  private lazy val t = Tables(spark, "/root/testdata/sf0.001")

  test("trained model: chars covered, multi-char pieces all used, scores sane") {
    val tr = Unigram.train(t)
    val vocab = Unigram.vocabUnigramBuild(t).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(vocab.nonEmpty)
    // every multi-char piece that survived training was used by some
    // argmax segmentation (the M-step's prune rule)
    vocab.filter(_._2 > 1).foreach { case (p, _, usage, _) =>
      assert(usage > 0L, s"unused multi-char piece '$p' survived pruning")
    }
    // scores are log-probabilities: strictly negative, micro-nat scaled
    vocab.foreach { case (p, _, _, s) =>
      assert(s < 0L && s > -30000000L, s"implausible score $s for '$p'")
    }
    // NLL is monotone non-increasing across EM rounds (hard-EM law)
    val nll = tr.nllMicroByRound
    assert(nll.size == Unigram.EmRounds + 1)
    assert(nll.zip(nll.tail).forall { case (a, b) => b <= a },
      s"NLL not monotone: $nll")
  }

  test("segmentation concatenates back to the word on the whole corpus") {
    val model = Unigram.modelLiteral(t)
    val bad = ops.Text.tokens(t.documents)
      .select(col("token")).distinct()
      .select(col("token"),
        concat_ws("", call_function("graft_uniseg", col("token"), lit(model)))
          .as("re"))
      .filter(col("re") =!= col("token"))
      .count()
    assert(bad == 0L)
  }

  test("Viterbi matches brute-force best segmentation on short words") {
    val tr = Unigram.train(t)
    val model = UnisegHelper.parse(Unigram.modelLiteral(t))
    def score(p: String): Option[Long] =
      tr.scores.get(p).orElse(
        if (p.length == 1) Some(UnisegHelper.OovMicro) else None)
    def brute(w: String): (Long, Int) = {
      // best (score, -pieces) over all 2^(n-1) segmentations
      if (w.isEmpty) return (0L, 0)
      (1 to math.min(Unigram.MaxPieceLen, w.length)).flatMap { l =>
        score(w.substring(0, l)).flatMap { s =>
          val rest = brute(w.substring(l))
          if (rest._1 == Long.MinValue) None
          else Some((s + rest._1, rest._2 + 1))
        }.toSeq
      } match {
        case Seq() => (Long.MinValue, 0)
        case cands => cands.maxBy { case (s, n) => (s, -n) }
      }
    }
    val words = ops.Text.tokens(t.documents)
      .select(col("token")).distinct()
      .filter(length(col("token")) <= 8)
      .orderBy("token").limit(40)
      .collect().map(_.getString(0))
    assert(words.nonEmpty)
    words.foreach { w =>
      val seg = UnisegHelper.segment(w, model)
      val got = (seg.map(p => score(p).getOrElse(
        fail(s"piece '$p' (len ${p.length}) of '$w' not in scores"))).sum, seg.length)
      val want = brute(w)
      assert(got._1 == want._1 && got._2 == want._2,
        s"'$w': viterbi ${seg.mkString("+")} score $got vs brute $want")
    }
  }

  test("encoder ids decode back to the document token stream") {
    val vocab = Unigram.vocabUnigramBuild(t).collect()
      .map(_.getString(0)).zipWithIndex.map { case (p, i) => i.toLong -> p }.toMap
    val enc = Unigram.tokenizeUnigramIds(t)
      .orderBy("doc_id").limit(5).collect()
    val docs = t.documents.orderBy("doc_id").limit(5).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    enc.foreach { r =>
      val ids = r.getString(2).split(",").map(_.toLong)
      assert(ids.length == r.getLong(1))
      // every non-OOV id maps to a piece; concatenation gives back the
      // doc's words with spaces removed
      val rebuilt = ids.flatMap(i => vocab.get(i)).mkString
      val orig = docs(r.getLong(0)).split(" ").filter(_.nonEmpty).mkString
      assert(ids.forall(_ >= -1L))
      if (!ids.contains(-1L)) assert(rebuilt == orig)
    }
  }

  test("map-side graft_uniseg_ids == legacy distinct-words join form, row for row") {
    val spark2 = spark
    import spark2.implicits._
    val model = Unigram.modelLiteral(t)
    val ids = Unigram.train(t).scores.keys.toSeq.sorted.zipWithIndex
    val vocab = ids.map { case (p, i) => (p, i.toLong) }.toDF("sym", "sym_id")
    // the r15 shape: encode DISTINCT words, join piece ids back to the
    // positional token stream, reassemble per document
    val tok = t.documents
      .select(col("doc_id"),
        posexplode(filter(split(col("text"), " "), x => x =!= ""))
          .as(Seq("wpos", "word")))
    val enc = tok.select("word").distinct()
      .select(col("word").as("e_word"),
        posexplode(call_function("graft_uniseg", col("word"), lit(model)))
          .as(Seq("ppos", "sym")))
      .join(broadcast(vocab), Seq("sym"), "left")
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
    val fused = Unigram.tokenizeUnigramIds(t).collect().map(_.toString)
    assert(fused.length == legacy.length,
      s"row count: fused ${fused.length} vs legacy ${legacy.length}")
    assert(fused.sameElements(legacy))
  }

  test("astral-plane codepoints segment as whole characters, never lone surrogates") {
    val model = UnisegHelper.parse(Unigram.modelLiteral(t))
    val w = "a😀b" // a + U+1F600 + b: 3 codepoints, 4 UTF-16 units
    val seg = UnisegHelper.segment(w, model)
    assert(seg.mkString == w, s"lost content: ${seg.mkString("|")}")
    assert(seg.forall(p => !(p.length == 1 && Character.isSurrogate(p.charAt(0)))),
      s"lone surrogate piece in ${seg.mkString("|")}")
    // the emoji is OOV: it must come through as ONE intact piece
    assert(seg.exists(_ == "😀"), seg.mkString("|"))
    // and the distributed expression agrees (UTF8String round trip safe)
    import spark.implicits._
    val got = Seq(w).toDF("word")
      .select(call_function("graft_uniseg", col("word"),
        lit(Unigram.modelLiteral(t))).as("seg"))
      .collect().head.getSeq[String](0)
    assert(got.mkString == w, got.mkString("|"))
  }

  test("driver and executor segmentations agree") {
    val model = Unigram.modelLiteral(t)
    val parsed = UnisegHelper.parse(model)
    val rows = ops.Text.tokens(t.documents)
      .select(col("token")).distinct().orderBy("token").limit(50)
      .select(col("token"),
        call_function("graft_uniseg", col("token"), lit(model)).as("seg"))
      .collect()
    rows.foreach { r =>
      val w = r.getString(0)
      assert(r.getSeq[String](1).toSeq ==
        UnisegHelper.segment(w, parsed).toSeq, s"divergence on '$w'")
    }
  }
}
