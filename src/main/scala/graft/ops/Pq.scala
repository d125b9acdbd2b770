package graft.ops

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (PQ) approximate nearest neighbor — the third
  * scale path beside hyperplane LSH ([[Ann]]) and IVF ([[Ivf]]), and the
  * one that changes the STORAGE equation: the 64-dim float vector (256 B
  * raw, 512 B as doubles) compresses to [[NumSub]] sub-codes of
  * log2([[KSub]]) bits — 8 × 4 bits = 4 bytes here, a 64–128×
  * compression. At 100 TB of embeddings that is the difference between
  * "the candidate scan streams the whole vector column" and "the
  * candidate scan reads a codes column that fits in a fraction of the
  * page cache"; only the final re-rank touches true vectors, keyed by id.
  *
  * Standard PQ (Jégou et al., "Product Quantization for Nearest Neighbor
  * Search", TPAMI 2011): split each vector into [[NumSub]] contiguous
  * subvectors; per subspace, train an independent [[KSub]]-centroid
  * Lloyd codebook on a sample; encode = per subspace, nearest sub-centroid
  * id (L2 — constant-per-row terms drop, so the argmin needs only
  * c·c − 2·x·c). Query side is ADC (asymmetric distance computation):
  * the probe stays EXACT, and dot(a, b) ≈ Σ_j dot(a_j, c_{j, code_j(b)})
  * — one table lookup per subspace, never a decode of b.
  *
  * Spark shape: the codebook ([[NumSub]]·[[KSub]] rows) and the per-probe
  * lookup table (probes·[[NumSub]]·[[KSub]] rows) are broadcast; the
  * candidate score is a partial+final SUM over (probe, vector) — the
  * only shuffle, and map-side combine collapses the [[NumSub]] terms per
  * pair before it moves. Exact re-rank joins true vectors by id for the
  * top [[RerankDepth]] candidates only. Training mirrors [[Ivf]]:
  * hash-ordered deterministic sample, seeded by a second independent
  * hash, means rounded to 1e-6 — no runtime RNG anywhere, memoized per
  * dataset stamp. Engine-specific seeded sketch ⇒ no cross-engine
  * oracle; PqSpec pins code ranges, determinism, ADC error, and recall
  * against brute force.
  */
object Pq {

  val Dim = 64
  val NumSub = 8
  val SubDim = Dim / NumSub
  val KSub = 16
  val TrainIters = 6
  val TrainSample = 2048
  /** Candidate pool per probe for the exact re-rank. PQ's resolution
    * limit: vectors in one tight cluster share (near-)identical codes,
    * so their ADC scores TIE and the pool boundary cuts them by
    * tie-break id, not by true distance — the pool must cover the
    * expected same-cluster population or within-cluster neighbors fall
    * off the edge (measured: depth 20 on 32-member clusters caps recall
    * at ~20/31, depth 48 clears 0.9). The production knob scales with
    * expected cluster width, exactly like IVF's nprobe.
    */
  val RerankDepth = 48

  private def round6(x: Double): Double = math.rint(x * 1e6) / 1e6

  /** (vec_id, sub_id, se): the [[NumSub]] contiguous subvectors of `e`. */
  private def subvectors(df: DataFrame): DataFrame =
    df.select(col("vec_id"), col("e"),
        explode(sequence(lit(0), lit(NumSub - 1))).as("sub_id"))
      .select(col("vec_id"), col("sub_id"),
        slice(col("e"), col("sub_id") * SubDim + 1, lit(SubDim)).as("se"))

  /** Gonzalez maximin (farthest-point) seeds: start from the lowest
    * vec_id, then repeatedly take the point farthest from the chosen set
    * (ties → lowest vec_id; fully deterministic, no RNG). Hash-ordered
    * random seeding leaves ~1/e of any K-cluster structure uncovered
    * (coupon collector) and Lloyd cannot split a centroid that merged
    * two clusters — measured as clustered-corpus recall stuck at ~0.62
    * vs ~0.9+ with maximin. O(K·N) per subspace on the driver over the
    * SAMPLE only (≤ [[TrainSample]]·[[NumSub]] rows — bounded driver
    * state, the same class as [[Ivf]]'s collected centroids).
    */
  private def maximinSeeds(
      pts: Array[(Long, Array[Double])], k: Int): Array[Seq[Double]] = {
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    val first = pts.minBy(_._1)
    val chosen = scala.collection.mutable.ArrayBuffer(first._2)
    val minD = pts.map(p => d2(p._2, first._2))
    while (chosen.size < math.min(k, pts.length)) {
      var bi = 0
      var i = 1
      while (i < pts.length) {
        if (minD(i) > minD(bi) ||
          (minD(i) == minD(bi) && pts(i)._1 < pts(bi)._1)) bi = i
        i += 1
      }
      chosen += pts(bi)._2
      i = 0
      while (i < pts.length) {
        val d = d2(pts(i)._2, pts(bi)._2)
        if (d < minD(i)) minD(i) = d
        i += 1
      }
    }
    chosen.map(_.toSeq).toArray
  }

  /** Per-subspace Lloyd on the hash-ordered sample, maximin-seeded.
    * Empty cells keep their previous centroid (codebooks never shrink).
    * All [[NumSub]] subspaces train in the SAME jobs — the subspace id
    * is just another grouping key, so training cost is one sample pass
    * per iteration, not one per subspace.
    */
  private def train(t: Tables): Array[(Int, Int, Seq[Double])] = {
    val sample = subvectors(
      Ann.vectorsWithNorm(t)
        .orderBy(xxhash64(col("vec_id")).asc, col("vec_id").asc)
        .limit(TrainSample)
        .select(col("vec_id"), col("e")))
      .cache()
    val bySub = sample.collect()
      .map(r => (r.getInt(1), r.getLong(0), r.getSeq[Double](2).toArray))
      .groupBy(_._1)
    var cents: Array[(Int, Int, Seq[Double])] = bySub.toSeq.sortBy(_._1).flatMap {
      case (subId, rows) =>
        maximinSeeds(rows.map(r => (r._2, r._3)), KSub)
          .zipWithIndex
          .map { case (se, cell) => (subId, cell, se.map(round6)) }
    }.toArray
    for (_ <- 1 to TrainIters) {
      val cdf = codebookFrame(t, cents)
      val means = sample
        .join(broadcast(cdf), Seq("sub_id"))
        .select(col("sub_id"), col("vec_id"), col("se"),
          // L2 argmin: x·x is constant per (vec, sub), so c·c − 2·x·c
          // orders identically and skips a dot per candidate.
          (col("c_cc") - lit(2.0) * Vector.dot(col("se"), col("c_se"))).as("d"),
          col("cell"))
        .groupBy("sub_id", "vec_id")
        .agg(min(struct(col("d"), col("cell"))).as("best"),
          first(col("se")).as("se"))
        .select(col("sub_id"), col("best.cell").as("cell"),
          posexplode(col("se")).as(Seq("pos", "x")))
        .groupBy("sub_id", "cell", "pos")
        .agg(avg(col("x")).as("m"))
        .groupBy("sub_id", "cell")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          s => s.getField("m")).as("c_se"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2).map(round6))
        .toMap
      cents = cents.map { case (s, c, old) => (s, c, means.getOrElse((s, c), old)) }
    }
    sample.unpersist()
    cents
  }

  private def codebookFrame(
      t: Tables, cents: Array[(Int, Int, Seq[Double])]): DataFrame = {
    import t.spark.implicits._
    cents.toSeq.toDF("sub_id", "cell", "c_se")
      .select(col("sub_id"), col("cell"), col("c_se"),
        Vector.dot(col("c_se"), col("c_se")).as("c_cc"))
  }

  /** The trained per-subspace centroid array — the persistable index
    * state ([[AnnIndex]] materializes it on disk so a fresh process
    * serves without retraining).
    */
  private[ops] def trainedEntries(t: Tables): Array[(Int, Int, Seq[Double])] =
    graft.util.Memo.value(graft.util.Memo.Key("pq_codebook", t.sfDir, "embeddings")) {
      train(t)
    }

  /** The trained codebook: (sub_id, cell, c_se, c_cc), always broadcast. */
  def codebook(t: Tables): DataFrame =
    broadcast(codebookFrame(t, trainedEntries(t)))

  /** PQ encoding of the corpus: (vec_id, sub_id, code) — the compressed
    * form ([[NumSub]] small ints per vector; at rest these pack into a
    * 4-byte binary, here they stay a narrow column). The argmin is a
    * broadcast join + partial-aggregated min — a map-side pass over the
    * corpus, no shuffle of vector data.
    */
  def codes(t: Tables): DataFrame = codes(t, codebook(t))

  def codes(t: Tables, cb: DataFrame): DataFrame =
    codesOf(Ann.vectorsWithNorm(t), cb)

  /** PQ-encode an ARBITRARY `(vec_id, e, …)` vector frame against a given
    * codebook — the append path of the persisted index
    * ([[AnnIndex.appendDelta]]): newly-arrived vectors are encoded with
    * the FROZEN codebook, no retraining. `cb` must carry (sub_id, cell,
    * c_se, c_cc); the persisted form omits c_cc, which the caller derives
    * in-plan (exact — parquet round-trips IEEE doubles).
    */
  def codesOf(v: DataFrame, cb: DataFrame): DataFrame =
    subvectors(v)
      .join(broadcast(cb), Seq("sub_id"))
      .select(col("vec_id"), col("sub_id"),
        (col("c_cc") - lit(2.0) * Vector.dot(col("se"), col("c_se"))).as("d"),
        col("cell"))
      .groupBy("vec_id", "sub_id")
      .agg(min(struct(col("d"), col("cell"))).as("best"))
      .select(col("vec_id"), col("sub_id"), col("best.cell").as("code"))

  /** ADC lookup table for a probe frame `(a_id, a_e, …)`: one row per
    * (probe, subspace, sub-centroid) holding dot(probe_subvector,
    * sub-centroid) — probes·[[NumSub]]·[[KSub]] rows, always small enough
    * to broadcast to whatever codes scan consumes it.
    */
  def lut(probes: DataFrame, cb: DataFrame): DataFrame =
    subvectors(probes.select(col("a_id").as("vec_id"), col("a_e").as("e")))
      .join(broadcast(cb), Seq("sub_id"))
      .select(col("vec_id").as("a_id"), col("sub_id").as("l_sub"),
        col("cell").as("l_cell"), Vector.dot(col("se"), col("c_se")).as("pdot"))

  /** Shared ADC tail for [[pqCosineTopk]] and [[IvfPq.ivfpqCosineTopk]]:
    * `scored` = (a_id, b_id, adot) approximate dot scores; rank by
    * approximate cosine, keep the top [[RerankDepth]] per probe, exact
    * re-rank those against true vectors, emit top `k` with exact cosines.
    */
  private[ops] def adcRerank(
      v: DataFrame, probes: DataFrame, scored: DataFrame, k: Int): DataFrame = {
    val wCand = Window.partitionBy("a_id").orderBy(desc("acos"), asc("b_id"))
    val cands = scored
      .filter(col("a_id") =!= col("b_id"))
      .join(v.select(col("vec_id").as("b_id"), col("nrm").as("b_nrm")), Seq("b_id"))
      .join(broadcast(probes.select(col("a_id"), col("a_nrm"))), Seq("a_id"))
      .select(col("a_id"), col("b_id"),
        (col("adot") / (col("a_nrm") * col("b_nrm"))).as("acos"))
      .select(col("a_id"), col("b_id"), row_number().over(wCand).as("crn"))
      .filter(col("crn") <= RerankDepth)
      .select(col("a_id"), col("b_id"))
    val wTop = Window.partitionBy("a_id").orderBy(desc("cos"), asc("b_id"))
    cands
      .join(broadcast(probes), Seq("a_id"))
      .join(v.select(col("vec_id").as("b_id"), col("e").as("b_e"), col("nrm").as("b_nrm")), Seq("b_id"))
      .select(col("a_id"), col("b_id"),
        (Vector.dot(col("a_e"), col("b_e")) / (col("a_nrm") * col("b_nrm"))).as("cos"))
      .select(col("a_id"), col("b_id"), col("cos"), row_number().over(wTop).as("rn"))
      .filter(col("rn") <= k)
      .select(col("a_id"), col("b_id"), round(col("cos"), 6).as("cos"))
      .orderBy(asc("a_id"), desc("cos"), asc("b_id"))
  }

  /** PQ/ADC top-k: approximate cosine from sub-code lookups ranks the
    * whole corpus per probe (exhaustive ADC), the top [[RerankDepth]]
    * re-rank exactly. Same output shape/contract as [[Ivf.ivfCosineTopk]].
    * The cell-pruned composition that skips the exhaustive scan is
    * [[IvfPq.ivfpqCosineTopk]].
    */
  def pqCosineTopk(t: Tables, probeLimit: Int = 50, k: Int = 5): DataFrame = {
    val cb = codebook(t)
    val v = Ann.vectorsWithNorm(t)
    val probes = v.filter(col("vec_id") < probeLimit)
      .select(col("vec_id").as("a_id"), col("e").as("a_e"), col("nrm").as("a_nrm"))
    val scored = codes(t, cb)
      .select(col("vec_id").as("b_id"), col("sub_id"), col("code"))
      .join(broadcast(lut(probes, cb)),
        col("sub_id") === col("l_sub") && col("code") === col("l_cell"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(sum(col("pdot")).as("adot"))
    adcRerank(v, probes, scored, k)
  }
}
