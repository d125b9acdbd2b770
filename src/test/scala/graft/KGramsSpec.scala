package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.TextAnalysis

/** The native single-pass `graft_kgrams` must be gram-for-gram identical
  * to the HOF composition it replaced (split → filter empties → windowed
  * concat_ws), on the real corpus and on the edge shapes the corpus
  * doesn't cover.
  */
class KGramsSpec extends AnyFunSuite with SparkSessionFixture {

  test("native graft_kgrams ≡ HOF formulation on the corpus (k = 3 and 5)") {
    val t = Tables(spark, "/root/testdata/sf0.001")
    for (k <- Seq(3, 5)) {
      val diff = t.documents.select(
        col("doc_id"),
        call_function("graft_kgrams", col("text"), lit(k)).as("native"),
        TextAnalysis.kgramsHof(col("text"), k).as("hof"))
        .filter(not(col("native") === col("hof")))
        .count()
      assert(diff == 0, s"k=$k: native and HOF gram arrays diverge on $diff docs")
    }
  }

  test("edge shapes: empty, single token, doubled spaces, exact-k, null") {
    val rows = spark.sql(
      """SELECT graft_kgrams('', 3) AS empty,
        |       graft_kgrams('one', 3) AS short,
        |       graft_kgrams('a  b   c d', 2) AS spaced,
        |       graft_kgrams('x y z', 3) AS exact,
        |       graft_kgrams(CAST(NULL AS STRING), 3) AS n
        |""".stripMargin).collect()(0)
    assert(rows.getSeq[String](0) == Seq.empty)
    assert(rows.getSeq[String](1) == Seq.empty)
    assert(rows.getSeq[String](2) == Seq("a b", "b c", "c d"))
    assert(rows.getSeq[String](3) == Seq("x y z"))
    assert(rows.isNullAt(4))
  }
}
