package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Dedup, IncrementalDedup, Text}

/** Incremental dedup invariant and PII scrubbing behavior. */
class IncrementalSpec extends AnyFunSuite with SparkSessionFixture {

  test("block-vs-store candidates == full-recompute cross-boundary pairs") {
    val t = Tables(spark, "/root/testdata/sf0.1") // sf0.1: has exact dups
    val block = t.documents.filter(col("doc_id") < 500)
    val corpus = t.documents.filter(col("doc_id") >= 500)

    val store = IncrementalDedup.bandStore(corpus)
    val inc = IncrementalDedup.newBlockCandidates(block, store)
      .collect()
      .map(r => (math.min(r.getLong(0), r.getLong(1)), math.max(r.getLong(0), r.getLong(1))))
      .toSet

    val full = Dedup.minhashCandidates(t.documents)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val crossBoundary = full.filter { case (a, b) => (a < 500) != (b < 500) }

    assert(inc === crossBoundary)
    assert(inc.nonEmpty, "boundary-spanning candidates should exist at sf0.1")
  }

  test("registered incremental_dedup == exact cross-boundary Jaccard join") {
    // The oracle-equality claim the driver will check at sf0.01, pinned
    // here at both fixture SFs: the incremental LSH probe + exact re-rank
    // must emit exactly the pairs the brute-force cross-boundary Jaccard
    // join emits at the same threshold (corpus true pairs are far above
    // the recall knee; seeded hashes make this deterministic).
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01").foreach { dir =>
      val t = Tables(spark, dir)
      val got = ops.IncrementalDedup.incrementalDedup(t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

      val sets = Dedup.shingleArray(t.documents)
        .select(col("doc_id"), array_distinct(col("shingles")).as("s"))
      // Raw-value threshold then round — the oracle's (and SimJoin's)
      // filter order, which the pipeline must match exactly.
      val exact = sets.select(col("doc_id").as("new_id"), col("s").as("n_s"))
        .filter(col("new_id") % 3 === 0)
        .crossJoin(sets.select(col("doc_id").as("old_id"), col("s").as("o_s"))
          .filter(col("old_id") % 3 =!= 0))
        .select(col("new_id"), col("old_id"),
          call_function("graft_jaccard", col("n_s"), col("o_s")).as("jraw"))
        .filter(col("jraw") >= 0.5)
        .select(col("new_id"), col("old_id"), round(col("jraw"), 6).as("jac"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

      assert(got === exact, s"at $dir")
    }
  }

  test("bucketed-store incremental dedup == in-plan incremental dedup") {
    // The bucketed variant changes only the storage layout; the candidate
    // set and re-ranked pairs must be identical.
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01").foreach { dir =>
      val t = Tables(spark, dir)
      val bucketed = ops.IncrementalDedup.incrementalDedupBucketed(t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val inPlan = ops.IncrementalDedup.incrementalDedup(t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(bucketed === inPlan, s"at $dir")
    }
  }

  test("incremental_components == from-scratch dedup_components labels") {
    // Contraction-correctness: the incremental path (stored labels +
    // contracted new-edge CC) must be bit-identical to recomputing
    // components from scratch on the full probe graph.
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01").foreach { dir =>
      val t = Tables(spark, dir)
      val inc = ops.IncrementalDedup.incrementalComponents(t)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val scratch = ops.Graph.dedupComponents(t)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(inc === scratch, s"at $dir")
      assert(inc.nonEmpty)
    }
  }

  test("PII scrub redacts emails and phones, counts hits, leaves clean text alone") {
    import spark.implicits._
    val df = Seq(
      (1L, "contact me at jo.doe+x@example.org or (555) 867-5309 today"),
      (2L, "two mails a@b.io and c.d@e.co.uk, phone +44 20 7946 0958"),
      (3L, "a clean document with no contact details at all"))
      .toDF("doc_id", "text")
    val out = Text.scrubPii(df, "text").orderBy("doc_id").collect()

    assert(out(0).getAs[String]("text") === "contact me at <EMAIL> or <PHONE> today")
    assert(out(0).getAs[Int]("n_email") === 1 && out(0).getAs[Int]("n_phone") === 1)
    assert(out(1).getAs[Int]("n_email") === 2 && out(1).getAs[Int]("n_phone") === 1)
    assert(!out(1).getAs[String]("text").contains("@"))
    assert(out(2).getAs[String]("text") === "a clean document with no contact details at all")
    assert(out(2).getAs[Int]("n_email") === 0 && out(2).getAs[Int]("n_phone") === 0)
  }
}
