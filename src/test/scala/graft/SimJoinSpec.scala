package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Dedup, SimJoin}

/** Exactness, candidate-completeness, and volume of the prefix-filtered
  * set-similarity self-join (`sim_jaccard_join`).
  */
class SimJoinSpec extends AnyFunSuite with SparkSessionFixture {

  private lazy val t = Tables(spark, "/root/testdata/sf0.001")

  /** Brute-force shingle-set Jaccard pairs ≥ tau over the whole corpus
    * (125k pairs at sf0.001 — fine for a spec).
    */
  private def brute(tau: Double): Set[(Long, Long, Double)] = {
    val sets = Dedup.shingleArray(t.documents)
      .select(col("doc_id"), array_distinct(col("shingles")).as("s"))
      .filter(size(col("s")) > 0)
    val a = sets.select(col("doc_id").as("a_id"), col("s").as("a_s"))
    val b = sets.select(col("doc_id").as("b_id"), col("s").as("b_s"))
    a.join(b, col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        call_function("graft_jaccard", col("a_s"), col("b_s")).as("jraw"))
      .filter(col("jraw") >= tau) // raw filter, rounded presentation — same
                                  // rule as the engine and the oracle SQL
      .select(col("a_id"), col("b_id"), round(col("jraw"), 6).as("jac"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
  }

  test("prefix-filtered join == brute force (exactness, real corpus)") {
    val got = SimJoin.simJaccardJoin(t, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val expected = brute(0.5)
    assert(expected.nonEmpty, "corpus must contain ≥0.5 shingle pairs")
    assert(got == expected)
  }

  test("candidates ⊇ all true pairs, and volume ≪ the pair space") {
    val sets = Dedup.shingleArray(t.documents)
      .select(col("doc_id"), array_distinct(col("shingles")).as("s"))
      .filter(size(col("s")) > 0)
      .select(col("doc_id"), col("s"), size(col("s")).as("sz"))
    val cands = SimJoin.candidatePairs(sets, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = brute(0.5).map { case (a, b, _) => (a, b) }
    val missed = truth -- cands
    assert(missed.isEmpty, s"prefix filter dropped true pairs: $missed")
    val n = sets.count()
    val allPairs = n * (n - 1) / 2
    info(s"candidates: ${cands.size} of $allPairs pairs (${100.0 * cands.size / allPairs}%)")
    assert(cands.size < allPairs / 10,
      s"${cands.size} of $allPairs — prefix filtering degenerated")
  }

  test("approximate LSH result ⊆ exact join result at the same τ") {
    // dedup_minhash_lsh has recall ≤ 1 by construction; anything it finds
    // the exact join must also find, with identical jaccard values.
    val exact = SimJoin.simJaccardJoin(t, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val lsh = Dedup.dedupMinhashLsh(t, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert((lsh -- exact).isEmpty,
      s"LSH reported pairs the exact join missed: ${lsh -- exact}")
    info(s"exact pairs: ${exact.size}, LSH recall here: ${lsh.size}/${exact.size}")
  }

  test("ulp-hostile tau: slack ceil keeps the bounds complete (tau=0.55)") {
    import spark.implicits._
    // jac = 11/20 = 0.55 exactly qualifies at tau=0.55, but the double
    // product 20·0.55 = 11.000000000000002 made the un-slacked size bound
    // demand |B| ≥ ceil(...) = 12 and shortened the prefix by one — the
    // pair silently vanished. ceilSlack keeps every bound conservative.
    val rows = Seq(
      (0L, (1 to 20).map(i => s"t$i")),
      (1L, (1 to 11).map(i => s"t$i")))
    val got = SimJoin.simJaccardJoinOf(rows.toDF("doc_id", "s"), 0.55)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == Seq((0L, 1L, 0.55)))
  }

  test("synthetic seam: planted near-identical sets found with exact values") {
    import spark.implicits._
    // doc 0/1: 9-of-10 overlap (jac 9/11 ≈ 0.818); doc 2: disjoint
    val rows = Seq(
      (0L, (1 to 10).map(i => s"t$i")),
      (1L, (2 to 11).map(i => s"t$i")),
      (2L, (20 to 29).map(i => s"t$i")))
    val sets = rows.toDF("doc_id", "s")
    val got = SimJoin.simJaccardJoinOf(sets, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == Seq((0L, 1L, math.rint(9.0 / 11.0 * 1e6) / 1e6)))
  }
}
