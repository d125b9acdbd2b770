package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Vector

/** The int8-quantized cosine upper bound that gates
  * [[Vector.simCosineThresholdBlocked]] must be CONSERVATIVE: the gated
  * plan's output must equal the ungated brute force exactly — same pairs,
  * same (rounded) cosines — at every threshold, including ones far below
  * the near-dup regime where the bound's slack matters most.
  */
class QuantGateSpec extends AnyFunSuite with SparkSessionFixture {

  private def bruteForce(t: Tables, tau: Double) = {
    val v = t.embeddings.select(
      col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
    val a = v.select(col("vec_id").as("a_id"), col("e").as("a_e"))
    val b = v.select(col("vec_id").as("b_id"), col("e").as("b_e"))
    a.join(b, col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        (Vector.dotHof(col("a_e"), col("b_e")) /
          (sqrt(Vector.dotHof(col("a_e"), col("a_e"))) *
            sqrt(Vector.dotHof(col("b_e"), col("b_e"))))).as("cos"))
      .filter(col("cos") >= tau)
      .select(col("a_id"), col("b_id"), round(col("cos"), 6).as("cos"))
  }

  test("gated blocked plan ≡ brute force at τ = 0.4, 0.2, and 0.7") {
    val t = Tables(spark, "/root/testdata/sf0.001")
    for (tau <- Seq(0.4, 0.2, 0.7)) {
      val expected = bruteForce(t, tau).collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
      val actual = Vector.simCosineThresholdBlocked(t, numBlocks = 8, tau = tau)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
      assert(actual.toSeq == expected.toSeq,
        s"τ=$tau: gated plan diverged (expected ${expected.length} pairs, got ${actual.length})")
      assert(expected.nonEmpty || tau > 0.6, s"τ=$tau: degenerate test, no pairs at all")
    }
  }

  test("gate actually prunes: candidate count ≪ pair space") {
    val t = Tables(spark, "/root/testdata/sf0.001")
    val n = t.embeddings.count()
    // Survivors of the ub-gate = rows reaching the exact re-rank. The
    // operator doesn't expose them, so re-derive the bound here and count.
    val v = t.embeddings.select(
      col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
      .withColumn("mx", expr("aggregate(e, CAST(0.0 AS DOUBLE), (s, x) -> greatest(s, abs(x)))"))
      .withColumn("q", expr("transform(e, x -> CAST(round(x * 127.0 / mx) AS TINYINT))"))
      .withColumn("nrm", sqrt(Vector.dotHof(col("e"), col("e"))))
      .withColumn("l1", expr("aggregate(q, 0L, (s, x) -> s + abs(CAST(x AS BIGINT)))"))
    val a = v.select(col("vec_id").as("a_id"), col("q").as("a_q"), (col("mx") / 127.0).as("a_s"), col("nrm").as("a_n"), col("l1").as("a_l1"))
    val b = v.select(col("vec_id").as("b_id"), col("q").as("b_q"), (col("mx") / 127.0).as("b_s"), col("nrm").as("b_n"), col("l1").as("b_l1"))
    val survivors = a.join(b, col("a_id") < col("b_id"))
      .withColumn("ub",
        col("a_s") * col("b_s") *
          (call_function("graft_dot_i8", col("a_q"), col("b_q")) +
            (col("a_l1") + col("b_l1")) / 2.0 + size(col("a_q")) / 4.0) /
          (col("a_n") * col("b_n")))
      .filter(col("ub") >= 0.4 - 1e-6)
      .count()
    val pairSpace = n * (n - 1) / 2
    assert(survivors < pairSpace / 20,
      s"gate pruned almost nothing: $survivors of $pairSpace pairs survived")
  }

  test("SQ8-pruned top-k ≡ brute-force top-k (lossless prune), and the τ-band prunes") {
    val t = Tables(spark, "/root/testdata/sf0.001")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val expected = rows(Vector.simCosineTopk(t))
    val actual = rows(Vector.simCosineTopkSq8(t))
    assert(actual == expected,
      s"SQ8 prune lost a true neighbor (expected ${expected.length} rows, got ${actual.length})")
    // non-degeneracy: k=1 must also match (tightest τ, widest relative band)
    val e1 = rows(Vector.simCosineTopkSq8(t, probeLimit = 50, k = 1))
    assert(e1.map(_._1).distinct.size == e1.size, "k=1 must emit one row per probe")
    assert(e1.toSet.subsetOf(expected.toSet), "k=1 winners must be the k=5 leaders")
  }
}
