package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Graph, Sampling, TextAnalysis}

/** Connected components (large-star/small-star) against a brute-force
  * union-find ground truth, plus convergence and singleton guarantees, and
  * the determinism contracts of the sampling/split ops.
  */
class GraphSpec extends AnyFunSuite with SparkSessionFixture {

  private def unionFind(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val par = Array.tabulate(n)(_.toLong)
    def find(x: Long): Long = {
      var r = x
      while (par(r.toInt) != r) { par(r.toInt) = par(par(r.toInt).toInt); r = par(r.toInt) }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) par(math.max(ra, rb).toInt) = math.min(ra, rb)
    }
    // canonical label = min member id == root under min-merge union
    (0L until n).map(v => v -> find(v)).toMap
  }

  private def ccOf(n: Int, edges: Seq[(Long, Long)],
      localFinishEdges: Long = 0L): (Map[Long, Long], Int) = {
    import spark.implicits._
    val e = edges.toDF("src", "dst")
    val nodes = (0L until n).toDF("node")
    val (df, iters) =
      Graph.connectedComponentsWithStats(e, nodes, localFinishEdges = localFinishEdges)
    (df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap, iters)
  }

  test("components equal union-find on seeded random graphs (star rounds)") {
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 3) {
      val n = 60 * trial
      val edges = Seq.fill(n / 2)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      assert(ccOf(n, edges)._1 === unionFind(n, edges))
    }
  }

  test("hybrid local finish ≡ distributed star rounds on seeded random graphs") {
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 3) {
      val n = 80 * trial
      val edges = Seq.fill(n)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val (local, litersN) = ccOf(n, edges, localFinishEdges = 1000000L)
      assert(litersN === 0, "cutoff should have routed to the local finish")
      assert(local === ccOf(n, edges)._1, "local finish diverged from star rounds")
      assert(local === unionFind(n, edges))
    }
  }

  test("BFS: distributed level-sync rounds ≡ local queue walk ≡ brute force") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val n = 80
    val edges = (Seq.fill(n)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b } :+ (0L -> 1L)) // source never isolated
    val e = edges.toDF("src", "dst")
    val nodes = (0L until n).toDF("node")
    // brute force reference
    val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val want = scala.collection.mutable.Map(0L -> 0L)
    var frontier = Set(0L)
    var d = 0L
    while (frontier.nonEmpty) {
      d += 1
      frontier = frontier.flatMap(adj.getOrElse(_, Set.empty))
        .filterNot(want.contains)
      frontier.foreach(want(_) = d)
    }
    val expect = (0L until n).map(v => v -> want.getOrElse(v, -1L)).toMap
    def run(cutoff: Long) = Graph.bfsOf(e, nodes, source = 0L, localFinishEdges = cutoff)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(run(1000000L) === expect, "local queue walk diverged")
    assert(run(0L) === expect, "distributed rounds diverged")
  }

  test("BFS: insufficient maxIter fails loudly instead of under-reporting") {
    import spark.implicits._
    val edges = (0L until 10L).map(i => (i, i + 1)).toDF("src", "dst")
    val nodes = (0L until 11L).toDF("node")
    val e = intercept[IllegalStateException] {
      Graph.bfsOf(edges, nodes, source = 0L, maxIter = 3, localFinishEdges = 0L)
        .collect()
    }
    assert(e.getMessage.contains("frontier"))
  }

  test("path graph (worst-case diameter) converges in O(log n) rounds") {
    // 64-node path: min-label propagation would need 63 rounds; the
    // star-contraction bound is O(log² n) with ~log n observed.
    val n = 64
    val edges = (0L until (n - 1).toLong).map(i => (i, i + 1))
    val (comp, iters) = ccOf(n, edges)
    assert(comp.values.toSet === Set(0L), "one component rooted at 0")
    assert(iters <= 12, s"expected O(log n) rounds, got $iters")
    assert(iters >= 1, "distributed path must actually run with cutoff 0")
  }

  test("insufficient maxIter fails loudly instead of mislabeling") {
    import spark.implicits._
    val edges = (0L until 63L).map(i => (i, i + 1)).toDF("src", "dst")
    val nodes = (0L until 64L).toDF("node")
    val e = intercept[IllegalStateException] {
      Graph.connectedComponentsWithStats(edges, nodes, maxIter = 1,
        localFinishEdges = 0L)._1.collect()
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("no edges → every node a singleton; self-loops/dups tolerated") {
    val (comp, iters) = ccOf(5, Seq.empty)
    assert(comp === (0L until 5).map(v => v -> v).toMap)
    assert(iters === 0)
    val (comp2, _) = ccOf(4, Seq((1L, 1L), (2L, 3L), (3L, 2L), (2L, 3L)))
    assert(comp2 === Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 2L))
  }

  test("dedup_components labels every probe doc and respects edge truth") {
    val t = Tables(spark, "/root/testdata/sf0.001")
    val comp = Graph.dedupComponents(t).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val probe = t.documents.filter(col("doc_id") < 100).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(comp.keySet === probe, "every probe doc labeled exactly once")
    assert(comp.forall { case (d, c) => c <= d }, "component = min member id")
    // components must match union-find over the exact edge list
    val (edgesDf, _) = Graph.jaccardEdges(t, 0.95, 100)
    val edges = edgesDf.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val uf = unionFind(100, edges)
    assert(comp === comp.keySet.map(k => k -> uf(k)).toMap)
  }

  test("unbounded path: LSH candidate pairs -> CC recovers exact-dup clusters") {
    // The full-scale pipeline shape: MinHash/LSH emits candidate pairs over
    // the WHOLE corpus (no probe bound), CC merges them into clusters.
    // Ground truth: md5(text) groups — every exact-dup pair collides in
    // every band (jac = 1.0), so each md5 group must land in one component.
    val t = Tables(spark, "/root/testdata/sf0.1") // only sf0.1 has exact dups
    val edges = ops.Dedup.dedupMinhashLsh(t)
      .select(col("a_id").as("src"), col("b_id").as("dst"))
    val nodes = t.documents.select(col("doc_id").as("node"))
    val comp = Graph.connectedComponents(edges, nodes)
    val groups = t.documents
      .select(col("doc_id").as("node"), md5(col("text")).as("h"))
      .join(comp, "node")
      .groupBy("h")
      .agg(countDistinct("component").as("ncomp"), count(lit(1)).as("n"))
    val split = groups.filter(col("n") >= 2 && col("ncomp") > 1).count()
    assert(split === 0, "every exact-duplicate group merged into one component")
    assert(groups.filter(col("n") >= 2).count() > 0, "corpus has dup groups")
  }

  test("dedup_resolve keeps exactly one canonical per component") {
    val t = Tables(spark, "/root/testdata/sf0.001")
    val r = Graph.dedupResolve(t)
    val perComp = r.groupBy("component_id")
      .agg(sum(when(col("is_kept"), 1).otherwise(0)).as("kept"),
        countDistinct("canonical_id").as("cids"))
      .collect()
    assert(perComp.nonEmpty)
    perComp.foreach { row =>
      assert(row.getLong(1) === 1L, "exactly one kept doc per component")
      assert(row.getLong(2) === 1L, "one canonical id per component")
    }
  }

  test("stratified sample is exact-count and reproducible") {
    val t = Tables(spark, "/root/testdata/sf0.001")
    val s = Sampling.sampleStratified(t)
    val counts = s.groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.nonEmpty && counts.values.forall(_ == 5L))
    // hash-order selection ⇒ bit-identical on a re-run (no RNG state)
    assert(Sampling.sampleStratified(t).collect().toSeq === s.collect().toSeq)
  }

  test("weighted sample includes every at-cap doc and tracks the rate") {
    val t = Tables(spark, "/root/testdata/sf0.001")
    val s = Sampling.sampleWeighted(t).cache()
    val total = t.documents.count()
    val kept = s.count()
    // docs at/above the cap have p = 1 and must ALL be present
    val heavy = t.documents.filter(col("n_chars") >= 400)
    assert(s.filter(col("n_chars") >= 400).count() === heavy.count())
    // overall keep rate within a loose band of E[p] = avg(min(1, w/cap))
    val ep = t.documents
      .agg(avg(least(lit(1.0), col("n_chars") / 400.0))).head().getDouble(0)
    assert(math.abs(kept.toDouble / total - ep) < 0.15, s"rate ${kept.toDouble / total} vs E[p] $ep")
    // integer-decision determinism: bit-identical rerun
    assert(Sampling.sampleWeighted(t).collect().toSeq === s.collect().toSeq)
    s.unpersist()
  }

  test("graph_degree sums to twice the edge count and bounds triangles") {
    val t = Tables(spark, "/root/testdata/sf0.001")
    val deg = Graph.graphDegree(t).cache()
    val degSum = deg.agg(sum("degree")).head().getLong(0)
    // handshake lemma against an independently computed edge count
    val sets = TextAnalysis.probeTokenSets(t, 100)
    val a = sets.select(col("doc_id").as("a_id"), col("s").as("a_s"))
    val b = sets.select(col("doc_id").as("b_id"), col("s").as("b_s"))
    val m = a.join(b, col("a_id") < col("b_id"))
      .filter(call_function("graft_jaccard", col("a_s"), col("b_s")) >= 0.95).count()
    assert(degSum === 2 * m, s"degree sum $degSum vs edges $m")
    // a node in any triangle needs degree ≥ 2
    val tri = Graph.graphTriangles(t).filter(col("n_tri") > 0)
    val lowDeg = tri.join(deg, "doc_id").filter(col("degree") < 2).count()
    assert(lowDeg === 0)
    deg.unpersist()
  }

  test("text chunks tile each document with the declared overlap") {
    val t = Tables(spark, "/root/testdata/sf0.001")
    val chunks = graft.ops.Packing.textChunk(t).cache()
    val toks = t.documents
      .select(col("doc_id"), expr("filter(split(text, ' '), x -> x <> '')").as("toks"))
      .filter(size(col("toks")) > 0)
    // chunk count per doc = ceil(n_tok / stride)
    val badCount = chunks.groupBy("doc_id").count()
      .join(toks.select(col("doc_id"), size(col("toks")).as("n")), "doc_id")
      .filter(col("count") =!= ceil(col("n") / 16.0).cast("long")).count()
    assert(badCount === 0)
    // every chunk's token count matches its text, ≤ 24; chunk 0 starts the doc
    val counted = chunks.withColumn("n_text", size(expr("filter(split(chunk_text, ' '), x -> x <> '')")))
    assert(counted.filter(col("n_text") =!= col("n_toks") || col("n_toks") > 24).count() === 0)
    val firstBad = chunks.filter(col("chunk_idx") === 0)
      .join(toks, "doc_id")
      .filter(not(col("chunk_text").startsWith(concat_ws(" ", slice(col("toks"), 1, 1)))))
      .count()
    assert(firstBad === 0)
    chunks.unpersist()
  }

  test("train/test split partitions all docs with hash-stable counts") {
    val t = Tables(spark, "/root/testdata/sf0.001")
    val total = t.documents.count()
    val splits = Sampling.splitTrainTest(t).collect()
    assert(splits.map(_.getLong(2)).sum === total, "every doc in exactly one split")
    val bySplit = splits.groupBy(_.getString(0)).view.mapValues(_.map(_.getLong(2)).sum).toMap
    assert(bySplit.keySet.subsetOf(Set("train", "val", "test")))
    assert(bySplit("train") > bySplit.getOrElse("val", 0L))
  }

  test("pagerank: symmetry, floor for sink nodes, and star-center dominance") {
    import spark.implicits._
    // K3 on 0..2 (symmetric), star 3<-{4,5,6}, isolated 7
    val pairs = Seq((0L, 1L), (0L, 2L), (1L, 2L),
      (3L, 4L), (3L, 5L), (3L, 6L)).toDF("src", "dst")
    val nodes = (0L to 7L).toDF("node")
    val got = Graph.pagerankOf(pairs, nodes, iters = 3, initScaled = 125000000000L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // symmetric K3 members are exactly equal
    assert(got(0L) === got(1L) && got(1L) === got(2L))
    // leaves of the star are exactly equal; the hub strictly dominates
    assert(got(4L) === got(5L) && got(5L) === got(6L))
    assert(got(3L) > got(4L), s"star center must outrank leaves: $got")
    // an isolated node gets exactly the damping floor (1-d)/N after any
    // iteration; every rank is at least that floor (N=8 ⇒ 0.15·10^12/8)
    assert(got(7L) === 18750000000L)
    assert(got.values.forall(_ >= 18750000000L))
    // truncating integer division only loses mass, never creates it
    assert(got.values.sum <= 8 * 125000000000L)
  }

  test("triangle counts on a known graph: K4 corners 3, chain and isolate 0") {
    import spark.implicits._
    val edges = Seq( // K4 on 0..3, chain 4-5-6, isolated 7
      (0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (5L, 6L)).toDF("src", "dst")
    val nodes = (0L to 7L).toDF("node")
    val got = Graph.trianglesOf(edges, nodes)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L,
      4L -> 0L, 5L -> 0L, 6L -> 0L, 7L -> 0L)
    assert(got === want)
  }
}
