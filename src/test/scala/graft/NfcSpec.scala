package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `graft_nfc` (Unicode NFC) + the text_normalize op. */
class NfcSpec extends AnyFunSuite with SparkSessionFixture {

  test("graft_nfc composes decomposed sequences, passes composed/ASCII, keeps NULL") {
    import spark.implicits._
    val df = Seq(
      ("café", "café"),        // decomposed -> composed
      ("café", "café"),          // already composed: identity
      ("plain ascii", "plain ascii"),       // fast path
      ("naïve", "naïve")        // diaeresis composes too
    ).toDF("s", "want")
    val got = df.select(call_function("graft_nfc", col("s")).as("g"), col("want"))
      .collect()
    got.foreach(r => assert(r.getString(0) == r.getString(1)))
    // NFC is idempotent
    val twice = df.select(
      call_function("graft_nfc", call_function("graft_nfc", col("s"))).as("g2"),
      col("want")).collect()
    twice.foreach(r => assert(r.getString(0) == r.getString(1)))
    // NULL in -> NULL out
    val n = Seq(Option.empty[String]).toDF("s")
      .select(call_function("graft_nfc", col("s"))).collect()
    assert(n.head.isNullAt(0))
  }

  test("graft_nfkc_cf folds compatibility forms and case to a fixpoint") {
    import spark.implicits._
    val df = Seq(
      ("ﬁle", "file"),                 // fi ligature (U+FB01)
      ("ﬀ", "ff"),                     // ff ligature
      ("ＳＰＡＲＫ", "spark"),          // full-width + case
      ("㎅", "kb"),                    // squared unit: NFKC surfaces NEW
                                        // uppercase — needs the 2nd round
      ("MiXeD AsCiI", "mixed ascii"),  // ASCII fast path, uppercase
      ("already lower", "already lower"), // ASCII fast path, zero-copy
      ("café", "café"),          // decomposed: NFKC composes too
      ("Straße", "straße")             // simple fold: ß stays ß (documented)
    ).toDF("s", "want")
    df.select(call_function("graft_nfkc_cf", col("s")).as("g"), col("want"))
      .collect().foreach(r => assert(r.getString(0) == r.getString(1),
        s"got '${r.getString(0)}' want '${r.getString(1)}'"))
    // idempotence BY CONSTRUCTION (the fixpoint loop): f(f(x)) == f(x)
    df.select(
        call_function("graft_nfkc_cf",
          call_function("graft_nfkc_cf", col("s"))).as("g2"),
        call_function("graft_nfkc_cf", col("s")).as("g1"))
      .collect().foreach(r => assert(r.getString(0) == r.getString(1)))
    // NULL in -> NULL out
    val n = Seq(Option.empty[String]).toDF("s")
      .select(call_function("graft_nfkc_cf", col("s"))).collect()
    assert(n.head.isNullAt(0))
  }

  test("text_normalize_nfkc collapses variant pairs NFC cannot") {
    val rows = ops.Text.textNormalizeNfkc(Tables(spark, "/root/testdata/sf0.001"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) == 2L, s"doc ${r.getLong(0)}: expected 2 variants")
      assert(r.getLong(2) == 2L,
        s"doc ${r.getLong(0)}: NFC alone should NOT collapse the pair")
      assert(r.getLong(3) == 1L,
        s"doc ${r.getLong(0)}: NFKC-casefold must collapse the pair")
    }
  }

  test("text_normalize shortens every row by exactly the injected slack") {
    val rows = ops.Text.textNormalize(Tables(spark, "/root/testdata/sf0.001"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      // the injected slack alone is exactly 3 (2 combining marks compose
      // away + 1 double-space collapses); corpus text MAY contribute more
      // (edge whitespace / runs are legal ASCII), never less — an exact
      // ==3 here would couple the spec to unstated corpus properties
      assert(r.getLong(2) - r.getLong(3) >= 3L,
        s"doc ${r.getLong(0)}: before=${r.getLong(2)} after=${r.getLong(3)}")
      // tail carries the COMPOSED forms
      val tail = r.getString(1)
      assert(tail.contains("café") && tail.contains("naïve"), tail)
      assert(!tail.contains("́") && !tail.contains("\t"), tail)
    }
  }
}
