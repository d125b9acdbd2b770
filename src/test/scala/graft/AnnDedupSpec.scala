package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Ann, Graph, Vector}

/** Recall / volume / equivalence properties of the sub-quadratic
  * embedding near-dup path (`dedup_semantic_ann`): banded hyperplane-LSH
  * candidates → exact cosine re-rank → connected components.
  *
  * The driver corpus has no pairs above cos ≈ 0.60, so the discriminative
  * guarantees are asserted on a PLANTED corpus: seeded gaussian base
  * vectors, a subset duplicated with small gaussian noise (cos ≈ 0.98 —
  * the near-dup regime the operating point is specified for), all
  * deterministic, no runtime RNG.
  */
class AnnDedupSpec extends AnyFunSuite with SparkSessionFixture {

  private val Dim = 64

  /** 60 seeded base vectors; the first 25 get a near-dup twin (base +
    * 0.2·noise ⇒ cosine ≈ 0.98). Twin of base i has vec_id 1000+i, so
    * the true near-dup pair set is exactly {(i, 1000+i)}.
    */
  private lazy val planted: DataFrame = {
    val rnd = new scala.util.Random(11)
    val base = Array.fill(60, Dim)(rnd.nextGaussian())
    val rows: Seq[(Long, Seq[Double])] =
      base.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }.toSeq ++
        (0 until 25).map { i =>
          (1000L + i, base(i).map(x => x + 0.2 * rnd.nextGaussian()).toSeq)
        }
    import spark.implicits._
    rows.toDF("vec_id", "e")
  }

  /** Exact all-pairs cosine over the planted corpus (7k pairs — fine). */
  private lazy val exactPairs: Seq[(Long, Long, Double)] = {
    val v = planted.select(col("vec_id"), col("e"),
      sqrt(call_function("graft_dot", col("e"), col("e"))).as("nrm"))
    val a = v.select(col("vec_id").as("a_id"), col("e").as("a_e"), col("nrm").as("a_nrm"))
    val b = v.select(col("vec_id").as("b_id"), col("e").as("b_e"), col("nrm").as("b_nrm"))
    a.join(b, col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        (call_function("graft_dot", col("a_e"), col("b_e")) /
          (col("a_nrm") * col("b_nrm"))).as("cos"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
  }

  test("planted corpus is the intended shape: dup pairs ≥ 0.95, everything else < 0.85") {
    val dups = exactPairs.filter { case (a, b, _) => b == a + 1000L }
    assert(dups.size == 25)
    assert(dups.forall(_._3 >= 0.95), dups.filter(_._3 < 0.95).mkString(", "))
    val rest = exactPairs.filter { case (a, b, _) => b != a + 1000L }
    assert(rest.forall(_._3 < 0.85), rest.filter(_._3 >= 0.85).take(5).mkString(", "))
  }

  test("recall: LSH candidates ⊇ ALL pairs with cos ≥ 0.85 (planted corpus)") {
    val cands = Ann.hyperplaneCandidates(planted)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val trueNearDups = exactPairs.filter(_._3 >= 0.85)
      .map { case (a, b, _) => (math.min(a, b), math.max(a, b)) }.toSet
    assert(trueNearDups.nonEmpty)
    val missed = trueNearDups -- cands
    assert(missed.isEmpty, s"LSH missed ${missed.size} true near-dup pairs: $missed")
  }

  test("volume: candidate count is a small fraction of the pair space") {
    val n = planted.count()
    val allPairs = n * (n - 1) / 2
    val cands = Ann.hyperplaneCandidates(planted).count()
    info(f"planted corpus: $cands candidates of $allPairs pairs (${100.0 * cands / allPairs}%.1f%%)")
    assert(cands < allPairs / 4, s"$cands of $allPairs — candidate generation degenerated")
  }

  test("pipeline equivalence on planted corpus: ANN clusters == exact clusters at τ=0.85") {
    val nodes = planted.select(col("vec_id").as("node"))
    def clustersOf(edges: DataFrame): Map[Long, Long] =
      Graph.connectedComponents(edges, nodes)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    import spark.implicits._
    val exactEdges = exactPairs.filter(_._3 >= 0.85)
      .map { case (a, b, _) => (a, b) }.toDF("src", "dst")

    val v = planted.select(col("vec_id"), col("e"),
      sqrt(call_function("graft_dot", col("e"), col("e"))).as("nrm"))
    val a = v.select(col("vec_id").as("a_id"), col("e").as("a_e"), col("nrm").as("a_nrm"))
    val b = v.select(col("vec_id").as("b_id"), col("e").as("b_e"), col("nrm").as("b_nrm"))
    val annEdges = Ann.hyperplaneCandidates(planted)
      .join(a, "a_id").join(b, "b_id")
      .filter(call_function("graft_dot", col("a_e"), col("b_e")) /
        (col("a_nrm") * col("b_nrm")) >= 0.85)
      .select(col("a_id").as("src"), col("b_id").as("dst"))

    val exact = clustersOf(exactEdges)
    val ann = clustersOf(annEdges)
    assert(ann == exact)
    // and the clustering is non-trivial: 25 two-member clusters
    assert(exact.count { case (n2, c) => n2 != c } == 25)
  }

  test("real corpus: dedup_semantic_ann == exact result (singletons at τ=0.8), volume measured") {
    val t = Tables(spark, "/root/testdata/sf0.001")
    val n = t.embeddings.count()
    val cands = Ann.hyperplaneCandidates(
      Ann.vectorsWithNorm(t).select(col("vec_id"), col("e"))).count()
    val allPairs = n * (n - 1) / 2
    info(f"sf0.001: $cands candidates of $allPairs pairs (${100.0 * cands / allPairs}%.1f%%)")
    assert(cands < allPairs / 10, s"$cands of $allPairs")
    val out = Graph.dedupSemanticAnn(t).collect()
    assert(out.length == n)
    // max pairwise cosine on this corpus ≈ 0.48 ⇒ no 0.8-edges ⇒ all
    // singletons — which is also exactly what the exact path returns.
    assert(out.forall(r => r.getLong(0) == r.getLong(1)))
  }

  test("determinism: candidate set identical across runs") {
    val r1 = Ann.hyperplaneCandidates(planted).collect().map(_.toString).sorted.toSeq
    val r2 = Ann.hyperplaneCandidates(planted).collect().map(_.toString).sorted.toSeq
    assert(r1 == r2)
  }
}
