package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

/** Generated code is compiled once per JVM. Spark caches compiled classes
  * in an LRU of `spark.sql.codegen.cache.maxEntries` entries (default 100);
  * the benchmark's analytics ops alone need ~270, so at the default every
  * pass recompiled what the pass before had evicted. The launch profile in
  * build.sbt raises the cap; these pins prove that it reaches a forked JVM
  * and that a repeated pass then compiles nothing.
  */
class CodegenReuseSpec extends AnyFunSuite with SparkSessionFixture {

  private val sfDir = "/root/testdata/sf0.001"

  // the benchmark's `analytics` op list (perfbench/workloads.py), copied
  // so the benchmark can change without changing this pin
  private val analyticsOps = Seq(
    "join_multiway", "agg_hash_q1", "win_running_sum", "fn_regexp",
    "subq_correlated", "set_intersect", "agg_corr",
    "source_manifest_skipping", "agg_manifest_group_pushdown",
    "dedup_minhash_lsh", "chunk_documents", "tokenize_bpe_ids",
    "tokenize_unigram_ids", "ann_ivf_topk")

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** One pass: each op in order, computed in full to the noop sink. */
  private def pass(): Long = {
    val c0 = compiles
    analyticsOps.foreach { name =>
      Registry.all(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
    }
    compiles - c0
  }

  test("the launch profile sizes the codegen cache above the engine's working set") {
    val entries = spark.conf.get("spark.sql.codegen.cache.maxEntries").toInt
    assert(entries >= 1000, s"codegen cache holds $entries classes")
  }

  test("a second analytics pass compiles no generated code") {
    val first = pass()
    val second = pass()
    info(s"Janino compiles: first pass $first, second pass $second")
    assert(first > 0)
    assert(second == 0, s"the second pass recompiled $second generated classes")
  }
}
