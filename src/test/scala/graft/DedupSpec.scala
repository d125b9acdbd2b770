package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Dedup, Text}

/** Property tests for the sketch-based dedup ops (no cross-engine oracle
  * possible — seeded hashes — so these assert the guarantees that matter).
  */
class DedupSpec extends AnyFunSuite with SparkSessionFixture {

  private lazy val t = Tables(spark, "/root/testdata/sf0.001")

  test("minhash LSH finds every exact-duplicate pair with jac = 1.0") {
    // Identical texts → identical token sets → identical signatures →
    // collide in every band. dedup_exact's groups are ground truth.
    // Only sf0.1 contains exact duplicates (sf0.001/sf0.01 have none).
    val t1 = Tables(spark, "/root/testdata/sf0.1")
    val groups = ops.Text.dedupExact(t1)
      .filter(col("dupes") >= 2)
      .count()
    assert(groups > 0, "test data should contain exact duplicates")
    val exactPairs = t1.documents
      .select(col("doc_id").as("a_id"), md5(col("text")).as("h"))
      .join(t1.documents.select(col("doc_id").as("b_id"), md5(col("text")).as("h")), "h")
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id")
    val found = Dedup.dedupMinhashLsh(t1)
      .filter(col("jac") === 1.0)
      .select("a_id", "b_id")
    assert(exactPairs.except(found).count() == 0,
      "every exact-duplicate pair must surface as an LSH candidate with jac 1.0")
  }

  test("dedup_substrings: planted duplications at the suffix grain (N=8)") {
    import spark.implicits._
    def toks(prefix: String, n: Int): Seq[String] =
      (0 until n).map(i => s"$prefix$i")
    val S12 = toks("s", 12) // shared 12-token span (docs 1 and 2)
    val T8 = toks("t", 8)   // WITHIN-doc repeated 8-token span (doc 3)
    val R7 = toks("r", 7)   // 7-token repeat: BELOW the contract length
    val docs = Seq(
      0L -> toks("a", 20),
      1L -> (toks("b", 5) ++ S12 ++ toks("c", 5)),
      2L -> (toks("d", 3) ++ S12 ++ toks("e", 6)),
      3L -> (toks("f", 2) ++ T8 ++ toks("g", 3) ++ T8 ++ toks("h", 1)),
      5L -> (toks("i", 4) ++ R7 ++ toks("j", 4)),
      6L -> (toks("k", 4) ++ R7 ++ toks("l", 4))
    ).map { case (id, ts) => (id, ts.mkString(" ")) }
      .toDF("doc_id", "text")
    val out = Text.dedupSubstringsOver(docs, 8)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq(
      // doc 1: S12 at positions 5..16 — overlapping dup windows merge
      // into ONE maximal span of exactly the planted 12 tokens
      (1L, 1L, 12L, 5L, 16L),
      // doc 2: same span at its own offset
      (2L, 1L, 12L, 3L, 14L),
      // doc 3: a WITHIN-document repeat counts (suffix-array semantics):
      // two disjoint 8-token spans at 2..9 and 13..20
      (3L, 2L, 16L, 2L, 20L)),
      s"docs 0/5/6 (unique / 7-token repeat) must be absent; got $out")
  }

  test("minhash LSH output jaccard is within [minJaccard, 1]") {
    val bad = Dedup.dedupMinhashLsh(t, minJaccard = 0.5)
      .filter(col("jac") < 0.5 || col("jac") > 1.0)
      .count()
    assert(bad == 0)
  }

  test("minhash LSH is deterministic across runs") {
    val r1 = Dedup.dedupMinhashLsh(t).collect().map(_.toString).toSeq
    val r2 = Dedup.dedupMinhashLsh(t).collect().map(_.toString).toSeq
    assert(r1 == r2)
  }

  test("registered sketch functions return NULL for contentless input") {
    // The SQL surface must be self-consistent: a doc with no tokens has no
    // signature from EITHER function. A real-looking 0L simhash would
    // band-collide all empty docs with each other (and with any signature
    // whose band happens to be 0).
    val r = spark.sql(
      """SELECT graft_simhash(cast(array() AS array<string>)) AS s0,
        |       graft_minhash(cast(array() AS array<string>)) AS m0,
        |       graft_simhash(cast(null AS array<string>)) AS sn,
        |       graft_simhash(array('a','b')) AS s1
        |""".stripMargin).collect()(0)
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2), r.toString)
    assert(!r.isNullAt(3))
  }

  test("minhash permutation coefficients are in-range (abs fence incl. Long.MinValue)") {
    // a must be in [1, P-1] (0 would collapse a permutation to a constant),
    // b in [0, P-1]; the generator's absSafe maps the one value math.abs
    // cannot negate (Long.MinValue) to Long.MaxValue, so no draw can ever
    // produce a negative or out-of-range coefficient.
    import graft.functions.SketchHash
    assert(SketchHash.coeffA.length == SketchHash.NumPerms)
    assert(SketchHash.coeffA.forall(a => a >= 1 && a < SketchHash.Prime),
      "coefficient a out of [1, P-1]")
    assert(SketchHash.coeffB.forall(b => b >= 0 && b < SketchHash.Prime),
      "coefficient b out of [0, P-1]")
  }

  test("map-side codegen signatures are bit-identical to the aggregate formulation") {
    // The graft_simhash / graft_minhash expressions replace the exploded
    // 64-SUM / 32-MIN aggregations; same hashes (xxhash64 seed 42), same
    // arithmetic, so the signatures must match bit-for-bit on the real
    // corpus — that equality is what licenses removing the shuffle.
    val sim = Dedup.simhashSignatures(t.documents)
    val simAgg = Dedup.simhashSignaturesAgg(t.documents)
    assert(sim.except(simAgg).count() == 0 && simAgg.except(sim).count() == 0,
      "simhash: expression path != aggregate path")
    val mh = Dedup.minhashSignatures(t.documents)
    val mhAgg = Dedup.minhashSignaturesAgg(t.documents)
    assert(mh.except(mhAgg).count() == 0 && mhAgg.except(mh).count() == 0,
      "minhash: expression path != aggregate path")
  }

  test("simhash: identical documents get identical signatures") {
    val sig = Dedup.simhashSignatures(t.documents)
    val conflicts = t.documents
      .select(col("doc_id"), md5(col("text")).as("h"))
      .join(sig, "doc_id")
      .groupBy("h")
      .agg(countDistinct(col("simhash")).as("nsig"))
      .filter(col("nsig") > 1)
      .count()
    assert(conflicts == 0)
  }

  test("simhash pairs respect the hamming bound (wide 8-band point)") {
    val bad = Dedup.dedupSimhash(t, maxHamming = 7, bands = 8)
      .filter(col("hamming") > 7 || col("hamming") < 0)
      .count()
    assert(bad == 0)
  }

  test("8-band simhash equals brute force for hamming <= 7") {
    val sig = Dedup.simhashSignatures(t.documents)
    val a = sig.select(col("doc_id").as("a_id"), col("simhash").as("a_sig"))
    val b = sig.select(col("doc_id").as("b_id"), col("simhash").as("b_sig"))
    val brute = a.join(b, col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        bit_count(col("a_sig").bitwiseXOR(col("b_sig"))).as("hamming"))
      .filter(col("hamming") <= 7)
    val banded = Dedup.dedupSimhash(t, maxHamming = 7, bands = 8)
    assert(brute.except(banded).count() == 0, "8-band path lost a true pair")
    assert(banded.except(brute).count() == 0, "8-band path invented a pair")
  }

  test("banded simhash equals brute force for hamming <= bands - 1") {
    // Pigeonhole: d < bands ⇒ every true pair collides on ≥ 1 band, and
    // the exact re-rank drops everything else — so the banded plan must
    // return EXACTLY the brute-force pair set, with no probe bound.
    val sig = Dedup.simhashSignatures(t.documents)
    val a = sig.select(col("doc_id").as("a_id"), col("simhash").as("a_sig"))
    val b = sig.select(col("doc_id").as("b_id"), col("simhash").as("b_sig"))
    val brute = a.join(b, col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        bit_count(col("a_sig").bitwiseXOR(col("b_sig"))).as("hamming"))
      .filter(col("hamming") <= 3)
    val banded = Dedup.dedupSimhashBanded(t, maxHamming = 3, bands = 4)
    assert(brute.except(banded).count() == 0, "banded path lost a true pair")
    assert(banded.except(brute).count() == 0, "banded path invented a pair")
  }

  test("banded simhash on engineered signatures: d<=3 found, d=4 dropped") {
    // Synthetic signatures at known Hamming distances from a base — the
    // corpus may contain no near-dups at a given SF, so the completeness
    // claim is exercised on signatures where the answer is forced.
    import spark.implicits._
    val base = 0x0123456789abcdefL
    val sigs = Seq(
      (0L, base),
      (1L, base ^ 1L),                         // d=1 (band 0)
      (2L, base ^ (1L << 20) ^ (1L << 40)),    // d=2 (bands 1,2)
      (3L, base ^ (1L << 5) ^ (1L << 25) ^ (1L << 63)), // d=3 (bands 0,1,3)
      (4L, base ^ (1L << 1) ^ (1L << 17) ^ (1L << 33) ^ (1L << 49)), // d=4, one flip per band
    ).toDF("doc_id", "simhash")
    val got = Dedup.simhashBandedPairs(sigs, maxHamming = 3, bands = 4)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(got.contains((0L, 1L)) && got.contains((0L, 2L)) && got.contains((0L, 3L)))
    assert(!got.contains((0L, 4L)), "d=4 must be filtered by the exact re-rank")
  }
}
