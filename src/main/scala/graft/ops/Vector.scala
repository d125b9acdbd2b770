package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Vector-similarity operators (SURVEY.md §2.2 north star): brute-force
  * cosine top-k and k-NN label voting over the 64-dim embedding vectors.
  *
  * Scale design: the probe side is bounded (vec_id < 50 / < 100) and
  * broadcast, so the pair generation is a broadcast nested-loop over the
  * full corpus — linear in corpus size, never corpus×corpus. Norms are
  * hoisted out of the pair expression (computed once per vector, not once
  * per pair — identical doubles, ~3× less work than the naive per-pair
  * form). The unbounded 100 TB path is LSH bucketing (graft.ops.Ann)
  * feeding candidates into this same exact cosine re-rank.
  */
object Vector {

  /** Fold-based dot product over two double arrays — the declared-contract
    * reference semantics. The hot path uses the bit-identical native
    * codegen expression [[graft.functions.DotProduct]] instead (one fused
    * loop vs per-element lambda dispatch).
    */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (s, x) => s + x)

  /** Native codegen'd dot product (`graft_dot`, registered by
    * [[graft.GraftExtensions]]).
    */
  def dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  def l2norm(a: Column): Column = sqrt(dot(a, a))

  /** vec_id, e (double array), nrm. */
  private def vectors(t: Tables): DataFrame = {
    t.embeddings.select(
      col("vec_id"),
      transform(col("embedding"), x => x.cast(DoubleType)).as("e"),
      l2norm(transform(col("embedding"), x => x.cast(DoubleType))).as("nrm"))
  }

  /** Cosine pairs (probe × corpus), probe broadcast. */
  private def cosinePairs(t: Tables, probeLimit: Int): DataFrame = {
    val v = vectors(t)
    val a = broadcast(v.filter(col("vec_id") < probeLimit))
      .select(col("vec_id").as("a_id"), col("e").as("a_e"), col("nrm").as("a_nrm"))
    val b = v.select(
      col("vec_id").as("b_id"), col("e").as("b_e"), col("nrm").as("b_nrm"))
    a.join(b, col("a_id") =!= col("b_id"))
      .select(
        col("a_id"), col("b_id"),
        (dot(col("a_e"), col("b_e")) / (col("a_nrm") * col("b_nrm"))).as("cos"))
  }

  def simCosineTopk(t: Tables): DataFrame = {
    val w = Window.partitionBy("a_id").orderBy(desc("cos"), asc("b_id"))
    cosinePairs(t, 50)
      .select(col("a_id"), col("b_id"), col("cos"), row_number().over(w).as("rn"))
      .filter(col("rn") <= 5)
      .select(col("a_id"), col("b_id"), round(col("cos"), 6).as("cos"))
      .orderBy(asc("a_id"), desc("cos"), asc("b_id"))
  }

  /** Embedding-cosine near-duplicate detection: all pairs with cosine ≥
    * 0.4 — EXACT semantics, so the pairwise compute is inherently
    * quadratic; what must NOT be quadratic-on-one-node is the plan. This
    * uses block-partitioned pair enumeration (the classic theta-join-as-
    * equi-join scheme): each vector is hashed to one of B blocks and
    * replicated to the ≤ B+1 block-PAIRS it participates in, then pairs
    * are generated by an ordinary shuffled equi-join on (bi, bj). Per-task
    * work is (n/B)² pairs with ~uniform hash blocks, shuffle volume is
    * O(n·B) rows — both tunable via B — and no corpus×corpus broadcast or
    * nested-loop join ever appears in the plan (PlanSpec asserts).
    *
    * An LSH prefilter ([[Ann]] candidates → this same exact re-rank) cuts
    * the quadratic compute too, but only safely above the near-dup regime
    * (cos ≳ 0.8, where hyperplane-collision recall is high); at τ = 0.4 it
    * would silently drop true pairs, so the exact blocked plan is the
    * contract path and the LSH route stays opt-in for true near-dup use.
    */
  def simCosineThreshold(t: Tables): DataFrame =
    simCosineThresholdBlocked(t, numBlocks = 8, tau = 0.4)

  /** Exact blocked all-pairs at threshold `tau` with B = `numBlocks`,
    * int8-quantization-gated.
    *
    * Pair-uniqueness: an unordered pair from distinct blocks (x ≠ y) meets
    * in exactly one block-pair (min(x,y), max(x,y)); a same-block pair
    * meets twice (both orientations), so same-block keeps only l_id < r_id.
    * Cross-block pairs keep BOTH id orders (block order need not agree
    * with id order) and normalize via least/greatest.
    *
    * What flows through the blocked join is NOT the double vectors but the
    * int8 quantization (codes q = round(x/s), scale s = max|x|/127, plus
    * nrm and L1 = Σ|qᵢ|): ~5× less replicated shuffle width at B = 8. Each
    * candidate pair is gated by a PROVABLY CONSERVATIVE cosine upper bound
    * before any float work. Exactness argument: with xᵢ = s·qᵢ + εᵢ,
    * |εᵢ| ≤ s/2 (round-half-up), expanding dot(a,b) term by term gives
    *   |dot(a,b) − s_a·s_b·Σqᵢrᵢ| ≤ s_a·s_b·[(L1_a + L1_b)/2 + d/4],
    * so ub = s_a·s_b·(Σqᵢrᵢ + (L1_a+L1_b)/2 + d/4)/(nrm_a·nrm_b) ≥ cos(a,b)
    * in exact arithmetic; the integer dot Σqᵢrᵢ is exact (codegen
    * `graft_dot_i8`, long accumulator) and the 1e-6 slack on the comparison
    * dominates the ~1e-15 float error of assembling ub, so NO true pair is
    * ever pruned — output identical to the ungated exact plan
    * (oracle-checked; QuantGateSpec asserts pair-set equality vs the HOF
    * brute force). The bound's real-data slack is ~0.02 cosine at d = 64,
    * so survivors ≈ pairs with cos ≥ τ−0.02 (~0.1% of the pair space here);
    * only those reach the exact double dot, their vectors fetched by two
    * ordinary id-keyed joins. A zero vector (s = 0, nrm = 0) makes ub NaN,
    * which Spark orders above every value — conservatively kept, matching
    * the exact path's NaN cosine semantics.
    */
  def simCosineThresholdBlocked(t: Tables, numBlocks: Int, tau: Double): DataFrame = {
    val v = vectors(t)
    val qv = v
      .withColumn("qz", call_function("graft_quantize", col("e")))
      .select(
        col("vec_id"),
        col("qz.q").as("q"),
        col("qz.scale").as("scale"),
        col("nrm"),
        col("qz.l1").as("l1"),
        pmod(hash(col("vec_id")), lit(numBlocks)).as("blk"))
    val lhs = qv
      .select(col("vec_id").as("l_id"), col("q").as("l_q"), col("scale").as("l_s"),
        col("nrm").as("l_nrm"), col("l1").as("l_l1"),
        explode(transform(
          sequence(col("blk"), lit(numBlocks - 1)),
          j => struct(col("blk").as("bi"), j.as("bj")))).as("bp"))
      .select(col("l_id"), col("l_q"), col("l_s"), col("l_nrm"), col("l_l1"),
        col("bp.bi").as("bi"), col("bp.bj").as("bj"))
    val rhs = qv
      .select(col("vec_id").as("r_id"), col("q").as("r_q"), col("scale").as("r_s"),
        col("nrm").as("r_nrm"), col("l1").as("r_l1"),
        explode(transform(
          sequence(lit(0), col("blk")),
          i => struct(i.as("bi"), col("blk").as("bj")))).as("bp"))
      .select(col("r_id"), col("r_q"), col("r_s"), col("r_nrm"), col("r_l1"),
        col("bp.bi").as("bi"), col("bp.bj").as("bj"))
    val candidates = lhs.join(rhs, Seq("bi", "bj"))
      .filter(col("bi") < col("bj") || col("l_id") < col("r_id"))
      .withColumn("ub",
        col("l_s") * col("r_s") *
          (call_function("graft_dot_i8", col("l_q"), col("r_q")) +
            (col("l_l1") + col("r_l1")) / 2.0 + size(col("l_q")) / 4.0) /
          (col("l_nrm") * col("r_nrm")))
      .filter(col("ub") >= tau - 1e-6)
      .select(
        least(col("l_id"), col("r_id")).as("a_id"),
        greatest(col("l_id"), col("r_id")).as("b_id"))
    val a = v.select(col("vec_id").as("a_id"), col("e").as("a_e"), col("nrm").as("a_nrm"))
    val b = v.select(col("vec_id").as("b_id"), col("e").as("b_e"), col("nrm").as("b_nrm"))
    candidates
      .join(a, "a_id").join(b, "b_id")
      .select(col("a_id"), col("b_id"),
        (dot(col("a_e"), col("b_e")) / (col("a_nrm") * col("b_nrm"))).as("cos"))
      .filter(col("cos") >= tau)
      .select(col("a_id"), col("b_id"), round(col("cos"), 6).as("cos"))
      .orderBy("a_id", "b_id")
  }

  /** EXACT cosine top-k through an int8-PRUNED scan — the two-stage
    * retrieval every production vector store runs (scan compressed codes,
    * re-rank a small candidate pool in full precision), made provably
    * exact so the brute-force oracle checks it verbatim:
    *
    *   1. the probe×corpus scan reads only int8 codes (≈5× narrower than
    *      the double vectors — the memory-bandwidth win that makes SQ8
    *      the default first stage at billions of vectors) and assembles
    *      the [[simCosineThresholdBlocked]] error bound BOTH ways:
    *      lb = approx − err ≤ cos ≤ approx + err = ub;
    *   2. per probe, τ = the k-th largest lb. At least k vectors have
    *      cos ≥ lb ≥ τ, so the true k-th cosine is ≥ τ, so EVERY true
    *      top-k member has ub ≥ cos ≥ τ — the candidate rule
    *      `ub ≥ τ − 1e-9` (float-assembly slack, ~1e-15 actual) can
    *      never prune a true neighbor;
    *   3. only the surviving candidates (k + the bound's ~0.04-cosine
    *      ambiguity band, ~2–5% of the corpus here) fetch their double
    *      vectors for the exact re-rank with the contract tie-break.
    *
    * Output is therefore IDENTICAL to [[simCosineTopk]] — same oracle,
    * zero recall loss. The per-probe τ is one nth_value window over the
    * scored pairs (the same partition shape the brute-force top-k pays
    * for its row_number); fewer-than-k corpora leave τ NULL and keep
    * every candidate. The unbounded-scale path, where even the int8 scan
    * must not touch the whole corpus, is IVF/PQ ([[graft.ops.IvfPq]]) —
    * this op is the middle rung: exact answers, compressed scan.
    */
  def simCosineTopkSq8(t: Tables, probeLimit: Int = 50, k: Int = 5): DataFrame = {
    val v = vectors(t)
    val qv = v.withColumn("qz", call_function("graft_quantize", col("e")))
      .select(col("vec_id"), col("qz.q").as("q"), col("qz.scale").as("s"),
        col("nrm"), col("qz.l1").as("l1"))
    val probes = broadcast(qv.filter(col("vec_id") < probeLimit)
      .select(col("vec_id").as("a_id"), col("q").as("a_q"), col("s").as("a_s"),
        col("nrm").as("a_nrm"), col("l1").as("a_l1")))
    val corpus = qv.select(col("vec_id").as("b_id"), col("q").as("b_q"),
      col("s").as("b_s"), col("nrm").as("b_nrm"), col("l1").as("b_l1"))
    val denom = col("a_nrm") * col("b_nrm")
    val scored = probes.join(corpus, col("a_id") =!= col("b_id"))
      .withColumn("approx",
        col("a_s") * col("b_s") *
          call_function("graft_dot_i8", col("a_q"), col("b_q")) / denom)
      .withColumn("err",
        col("a_s") * col("b_s") *
          ((col("a_l1") + col("b_l1")) / 2.0 + size(col("a_q")) / 4.0) / denom)
      .select(col("a_id"), col("b_id"),
        (col("approx") - col("err")).as("lb"), (col("approx") + col("err")).as("ub"))
    val wTau = Window.partitionBy("a_id").orderBy(desc("lb"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val cand = scored
      .withColumn("tau", nth_value(col("lb"), k).over(wTau))
      .filter(col("tau").isNull || col("ub") >= col("tau") - 1e-9)
      .select("a_id", "b_id")
    val a = broadcast(v.filter(col("vec_id") < probeLimit)
      .select(col("vec_id").as("a_id"), col("e").as("a_e"), col("nrm").as("a_n")))
    val b = v.select(col("vec_id").as("b_id"), col("e").as("b_e"), col("nrm").as("b_n"))
    val w = Window.partitionBy("a_id").orderBy(desc("cos"), asc("b_id"))
    cand.join(a, "a_id").join(b, "b_id")
      .select(col("a_id"), col("b_id"),
        (dot(col("a_e"), col("b_e")) / (col("a_n") * col("b_n"))).as("cos"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("a_id"), col("b_id"), round(col("cos"), 6).as("cos"))
      .orderBy(asc("a_id"), desc("cos"), asc("b_id"))
  }

  /** k-NN (k=5) majority vote: top-5 cosine neighbors per probe, then a
    * vote count per (probe, label).
    */
  def knnLabelVote(t: Tables): DataFrame = {
    val labels = broadcast(
      t.embeddings.select(col("vec_id").as("l_id"), col("label").as("b_label")))
    val w = Window.partitionBy("a_id").orderBy(desc("cos"), asc("b_id"))
    cosinePairs(t, 100)
      .select(col("a_id"), col("b_id"), row_number().over(w).as("rn"))
      .filter(col("rn") <= 5)
      .join(labels, col("b_id") === col("l_id"))
      .groupBy("a_id", "b_label")
      .agg(count(lit(1)).as("votes"))
      .select(col("a_id"), col("b_label").as("pred"), col("votes"))
      .orderBy(asc("a_id"), desc("votes"), asc("pred"))
  }

  /** Symmetric int8 per-vector quantization — the compression step every
    * billion-vector ANN index applies before storage: scale = max|x|/127,
    * codes = round(x/scale). Pure map stage over the embedding arrays
    * (codegen'd higher-order functions, no shuffle); codes emitted as a
    * comma-joined string (driver compare rule: no raw array cells). The
    * reconstruction (codes·scale) feeds the same exact re-rank operators
    * with ~0.4% RMS error at this distribution — measured in
    * VectorQuantSpec, which also bounds the max element error at 0.5·scale
    * by construction.
    */
  def vecQuantize(t: Tables): DataFrame =
    t.embeddings
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
      .withColumn("mx", expr(
        "aggregate(e, CAST(0.0 AS DOUBLE), (s, x) -> greatest(s, abs(x)))"))
      .filter(col("mx") > 0)
      .select(
        col("vec_id"),
        round(col("mx") / 127.0, 9).as("scale"),
        expr("array_join(transform(e, x -> CAST(round(x * 127.0 / mx) AS INT)), ',')").as("codes"))
      .orderBy("vec_id")

  /** Per-label centroid (prototype) vectors in long format — (label, dim,
    * centroid) — the class-prototype / cluster-center aggregation every
    * embedding pipeline needs (nearest-centroid classification, cluster
    * summarization, drift monitoring).
    *
    * Determinism discipline (§2.4): float sums reassociate under shuffle,
    * so components are quantized to integer MICRO-units first
    * (round(x·10⁶) — exact-integer longs), summed exactly in any order,
    * and divided once in the final projection. |q| ≤ ~10⁷ ⇒ Σq stays
    * below 2^53 through billions of rows per label. posexplode is
    * map-side; the only shuffle is the (label, dim) partial+final agg —
    * #labels × dim groups, never the vectors.
    */
  def vecCentroid(t: Tables): DataFrame =
    t.embeddings
      .filter(col("label").isNotNull && col("embedding").isNotNull)
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("label"), col("dim").cast("long").as("dim"),
        round(col("x").cast(DoubleType) * 1000000).cast("long").as("q"))
      .groupBy("label", "dim")
      .agg(count(lit(1)).as("n"), sum(col("q")).as("sq"))
      .select(col("label"), col("dim"), col("n"),
        round(col("sq").cast(DoubleType) / col("n") / lit(1000000.0), 6).as("centroid"))
      .orderBy("label", "dim")
}
