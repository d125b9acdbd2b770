package graft

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.JaroWinklerKernel

/** Pins the Jaro-Winkler kernel to the textbook values and the DuckDB
  * conventions the oracle depends on (boost threshold, prefix cap,
  * empty-string zero), plus the algebraic properties every similarity
  * must hold. The end-to-end expression path is covered by the
  * sim_jaro_winkler oracle; this spec keeps the kernel honest if the
  * oracle's data ever stops exercising an edge.
  */
class JaroWinklerSpec extends AnyFunSuite with SparkSessionFixture {

  private def jw(a: String, b: String): Double =
    JaroWinklerKernel.similarity(
      UTF8String.fromString(a), UTF8String.fromString(b))

  private def approx(x: Double, y: Double): Boolean = math.abs(x - y) < 1e-12

  test("textbook values (match DuckDB's jaro_winkler_similarity)") {
    assert(approx(jw("martha", "marhta"), 0.9611111111111111))
    assert(approx(jw("dixon", "dicksonx"), 0.8133333333333332))
    assert(approx(jw("DWAYNE", "DUANE"), 0.8400000000000001))
    assert(approx(jw("jellyfish", "smellyfish"), 0.8962962962962964))
  }

  test("boost applies only above jaro 0.7; prefix capped at 4") {
    // jaro = 0.5556 < 0.7 with a 2-char common prefix: NO boost
    assert(approx(jw("aaxxxx", "aayyyy"), 0.5555555555555555))
    // 9-char common prefix boosts as if 4
    assert(approx(jw("aaaaaaaaab", "aaaaaaaaac"), 0.96))
  }

  test("conventions and algebra: empty=0, identity=1, symmetry, bounds") {
    assert(jw("", "") == 0.0)
    assert(jw("a", "") == 0.0)
    assert(jw("same", "same") == 1.0)
    assert(jw("ab", "ba") == 0.0) // window 0: no cross-position matches
    val pairs = Seq(("crate", "trace"), ("abcdef", "abcdxx"), ("x", "xyz"))
    pairs.foreach { case (a, b) =>
      assert(jw(a, b) == jw(b, a))
      assert(jw(a, b) >= 0.0 && jw(a, b) <= 1.0)
    }
  }

  test("expression path: codegen'd column evaluation matches the kernel") {
    import spark.implicits._
    val got = Seq(("martha", "marhta"), ("dixon", "dicksonx"), ("", "x"))
      .toDF("a", "b")
      .select(expr("graft_jaro_winkler(a, b)").as("jw"))
      .as[Double].collect().toSeq
    assert(got.zip(Seq(jw("martha", "marhta"), jw("dixon", "dicksonx"), 0.0))
      .forall { case (g, e) => approx(g, e) })
  }
}
