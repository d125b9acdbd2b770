package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Sketch-based near-duplicate detection at scale (north star): MinHash +
  * LSH banding and SimHash. These are the 100 TB paths for the exact
  * Jaccard/shingle measures in [[Text]]/[[TextAnalysis]] — candidate
  * generation is linear (explode signature bands, equi-join on band hash)
  * instead of quadratic, and the exact measure then re-ranks only the
  * candidates.
  *
  * Sketches are seeded-hash-dependent, so results are engine-specific by
  * construction (deterministic within this engine — fixed seeds, no RNG at
  * runtime): driver correctness is rows-only; the property tests in
  * DedupSpec assert the guarantees that matter (candidates ⊇ identical
  * docs, LSH-candidate Jaccard ≫ random-pair Jaccard, determinism).
  */
object Dedup {

  val NumPerms: Int = graft.functions.SketchHash.NumPerms
  val Bands = 8
  val RowsPerBand: Int = NumPerms / Bands

  /** Mersenne prime 2^31 − 1 (shared with the codegen kernel). Hash values
    * and coefficients are kept below 2^31 so a·h + b < 2^62 — no Long
    * overflow under ANSI mode (Spark 4 default raises on wraparound).
    */
  private val Prime = graft.functions.SketchHash.Prime

  /** Deterministic permutation coefficients — single source of truth is
    * the codegen kernel ([[graft.functions.SketchHash]], same fixed seed).
    */
  private val coeffs: Seq[(Long, Long)] =
    graft.functions.SketchHash.coeffA.zip(graft.functions.SketchHash.coeffB).toSeq

  /** Word n-gram shingle ARRAY per document, built map-side from the split
    * array (no window, no shuffle, no explode). Shingling (not unigram
    * sets) is what makes MinHash discriminative: over a small vocabulary,
    * unigram SETS of any two long documents are nearly identical (measured
    * median Jaccard ~0.65 on this corpus → LSH would emit ~all pairs),
    * while shingle space is vocab^n and random-pair similarity drops to ~0.
    */
  def shingleArray(docs: DataFrame, n: Int = 3): DataFrame = {
    // graft_kgrams, not the HOF window (`concat(toks[i], …)` inside a
    // transform lambda): Catalyst inlines the shared `filter(split(text))`
    // into every toks[i] access, re-splitting the document ~n times per
    // shingle — the same O(len²) interpreted trap documented on
    // TextAnalysis.kgrams. Identical output (KGramsSpec: native ≡ HOF),
    // with one edge normalized: graft_kgrams returns NULL for NULL text
    // where the old CASE…ELSE array() form gave an empty array, so
    // coalesce restores the empty-array contract for downstream
    // size()/array consumers. (Signature paths are unaffected either way:
    // graft_minhash returns a NULL signature for BOTH null and empty
    // shingle arrays, so no-shingle docs drop out identically.)
    docs.select(col("doc_id"),
      coalesce(call_function("graft_kgrams", col("text"), lit(n)),
        typedlit(Seq.empty[String])).as("shingles"))
  }

  /** Exploded (doc_id, shingle) rows — for callers that genuinely need a
    * row per shingle; the signature paths stay array-valued per document.
    */
  def shingles(docs: DataFrame, n: Int = 3): DataFrame =
    shingleArray(docs, n)
      .select(col("doc_id"), explode(col("shingles")).as("token"))

  /** MinHash signatures computed MAP-SIDE: one codegen'd pass per document
    * over its shingle array (`graft_minhash`,
    * [[graft.functions.MinHashSignature]]) — no explode, no aggregation,
    * no signature shuffle. Docs with no shingles (fewer than n tokens)
    * return a NULL signature and are dropped, matching the aggregate
    * formulation [[minhashSignaturesAgg]], which DedupSpec proves
    * bit-identical on the real corpus.
    */
  def minhashSignatures(docs: DataFrame): DataFrame = {
    val slots = (0 until NumPerms).map(i => col("sig").getItem(i).as(s"m$i"))
    shingleArray(docs)
      // explode(array(e)) is the evaluate-ONCE barrier: the 32 slot
      // projections reference the Generate's output attribute, so
      // CollapseProject can never inline the (expensive) signature call
      // into each getItem — without it the kernel runs 32× per document
      // (measured 7× wall-clock on the full pipeline at sf0.1).
      .select(col("doc_id"), explode(array(call_function("graft_minhash", col("shingles")))).as("sig"))
      .filter(col("sig").isNotNull)
      .select(col("doc_id") +: slots: _*)
  }

  /** The round-1..3 aggregate formulation — 32 permuted-min aggregates
    * over exploded (doc_id, shingle) rows, partial+final on doc_id. Kept
    * as the differential reference for the map-side path; not registered.
    */
  def minhashSignaturesAgg(docs: DataFrame): DataFrame = {
    val mins: Seq[Column] = coeffs.zipWithIndex.map { case ((a, b), i) =>
      min(pmod(col("h") * lit(a) + lit(b), lit(Prime))).as(s"m$i")
    }
    shingles(docs)
      .withColumn("h", pmod(xxhash64(col("token")), lit(Prime))) // hash once, permute 32×
      .groupBy("doc_id")
      .agg(mins.head, mins.tail: _*)
  }

  /** LSH banding: hash each band of 4 signature slots, explode to
    * (band_idx, band_hash) keys. Two docs collide on a band iff all 4
    * slots match → P(collide) ≈ 1 − (1 − j⁴)⁸ for Jaccard j.
    */
  def lshBands(sig: DataFrame): DataFrame = {
    val bandCols = (0 until Bands).map { bIdx =>
      val slots = (0 until RowsPerBand).map(r => col(s"m${bIdx * RowsPerBand + r}"))
      struct(lit(bIdx).as("band_idx"), xxhash64(slots: _*).as("band_hash"))
    }
    sig
      .select(col("doc_id"), explode(array(bandCols: _*)).as("band"))
      .select(col("doc_id"), col("band.band_idx").as("band_idx"), col("band.band_hash").as("band_hash"))
  }

  /** Candidate pairs: equi-join on (band_idx, band_hash) — the only
    * shuffle key; document bodies never move. Distinct because a pair can
    * collide in several bands.
    */
  def minhashCandidates(docs: DataFrame): DataFrame = {
    // The explicit repartition on the join keys is the self-join sharing
    // point: both branches sit on ONE identical Exchange, so ReuseExchange
    // computes signatures+bands once (map-side plans have no aggregation
    // exchange to reuse — without this the whole signature pipeline runs
    // twice), and the band join's distribution requirement is already
    // satisfied, so no further shuffle follows. Shuffled payload is
    // (doc_id, band) pairs — bytes per doc, never bodies.
    val bands = lshBands(minhashSignatures(docs))
      .repartition(col("band_idx"), col("band_hash"))
    val a = bands.select(col("doc_id").as("a_id"), col("band_idx"), col("band_hash"))
    val b = bands.select(col("doc_id").as("b_id"), col("band_idx"), col("band_hash"))
    a.join(b, Seq("band_idx", "band_hash"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id")
      .distinct()
  }

  /** Full MinHash-LSH near-dup pipeline: LSH candidates → exact
    * shingle-set Jaccard re-rank → keep pairs ≥ minJaccard. Candidate
    * generation and the exact measure use the same shingle features.
    */
  def dedupMinhashLsh(t: Tables, minJaccard: Double = 0.5): DataFrame = {
    // Distinct shingle SETS built map-side (array_distinct over the
    // per-doc array) — the collect_set-over-explode formulation shuffled
    // every (doc_id, shingle) pair for the same result. No emptiness
    // filter: a doc with no shingles has no signature, hence no bands,
    // hence can never be a candidate — and a `size(shingles) > 0` filter
    // here gets pushed below the projection, inlining the whole shingle
    // construction into an interpreted Filter that evaluates it a second
    // time per row. The repartition on doc_id is the sharing point for the
    // two re-rank joins (a_id / b_id): one Exchange, arrays built once.
    val sets = shingleArray(t.documents)
      .select(col("doc_id"), array_distinct(col("shingles")).as("s"))
      .repartition(col("doc_id"))
    val cands = minhashCandidates(t.documents)
    cands
      .join(sets.select(col("doc_id").as("a_id"), col("s").as("a_s")), "a_id")
      .join(sets.select(col("doc_id").as("b_id"), col("s").as("b_s")), "b_id")
      // explode(array(…)) barrier again: without it the jac >= threshold
      // filter is inlined into the join condition and graft_jaccard runs
      // TWICE per candidate pair (join condition + output projection).
      .select(col("a_id"), col("b_id"),
        explode(array(round(call_function("graft_jaccard", col("a_s"), col("b_s")), 6))).as("jac"))
      .filter(col("jac") >= minJaccard)
      .orderBy("a_id", "b_id")
  }

  def dedupMinhash(t: Tables): DataFrame = dedupMinhashLsh(t)

  /** 64-bit SimHash: per-token hash votes ±1 per bit position, majority
    * sign per bit — computed MAP-SIDE by one codegen'd pass per document
    * over its token array (`graft_simhash`,
    * [[graft.functions.SimHashSignature]]): no explode, no 64-SUM
    * aggregate, no signature shuffle. Docs with zero tokens drop out
    * (matching the aggregate formulation [[simhashSignaturesAgg]], which
    * DedupSpec proves bit-identical on the real corpus).
    */
  def simhashSignatures(docs: DataFrame): DataFrame = {
    docs
      .withColumn("toks", expr("filter(split(text, ' '), x -> x <> '')"))
      .filter(size(col("toks")) > 0)
      // Same evaluate-once barrier as minhashSignatures: downstream band
      // projections reference `simhash` up to 9× (8 band structs + the
      // re-rank copy); without the Generate in between, CollapseProject
      // inlines the kernel call into every reference.
      .select(col("doc_id"), explode(array(call_function("graft_simhash", col("toks")))).as("simhash"))
  }

  /** The round-1..3 aggregate formulation — 64 side-by-side SUM aggregates
    * over exploded (doc_id, token) rows, then a sign-bit pack. Kept as the
    * differential reference for the map-side path; not registered.
    */
  def simhashSignaturesAgg(docs: DataFrame): DataFrame = {
    val votes: Seq[Column] = (0 until 64).map { k =>
      sum(when(shiftright(col("h"), k).bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1)).as(s"v$k")
    }
    val pack: Column = (0 until 64)
      .map(k => when(col(s"v$k") > 0, lit(1L << k)).otherwise(lit(0L)))
      .reduce(_ + _)
    Text.tokens(docs)
      .withColumn("h", xxhash64(col("token")))
      .groupBy("doc_id")
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), pack.as("simhash"))
  }

  /** The registered `dedup_simhash` surface — the banded (unbounded,
    * 100 TB) path at a looser operating point than [[dedupSimhashBanded]]:
    * 8×8-bit bands make d ≤ 7 pigeonhole-exact, casting a wider near-dup
    * net at the cost of more band collisions (smaller chunks ⇒ more random
    * matches for the exact re-rank to discard). The round-1 probe-bounded
    * form (cross-join from a fixed probe set) is retired: it capped work by
    * CONTRACT rather than by plan shape, so it could never be the operator
    * a pipeline runs corpus-wide. One SimHash code path remains —
    * [[simhashBandedPairs]] — with two registered operating points.
    */
  def dedupSimhash(t: Tables, maxHamming: Int = 7, bands: Int = 8): DataFrame = {
    require(maxHamming < bands, "pigeonhole completeness needs maxHamming < bands")
    simhashBandedPairs(simhashSignatures(t.documents), maxHamming, bands)
  }

  /** Signature bands for the unbounded SimHash path: the 64-bit signature
    * split into `bands` contiguous chunks, exploded to (band_idx,
    * band_bits) keys. Pigeonhole guarantee: two signatures within Hamming
    * distance d < bands differ in at most d chunks, so at least one chunk
    * is bit-identical → every true pair collides on ≥ 1 band key. Shuffle
    * moves (doc_id, band) pairs only.
    */
  def simhashBands(sig: DataFrame, bands: Int = 4): DataFrame = {
    require(64 % bands == 0, s"bands must divide 64, got $bands")
    val bits = 64 / bands
    val mask = if (bits == 64) -1L else (1L << bits) - 1
    val bandCols = (0 until bands).map { i =>
      struct(
        lit(i).as("band_idx"),
        shiftrightunsigned(col("simhash"), i * bits).bitwiseAND(lit(mask)).as("band_bits"))
    }
    sig
      .select(col("doc_id"), col("simhash"), explode(array(bandCols: _*)).as("band"))
      .select(col("doc_id"), col("simhash"),
        col("band.band_idx").as("band_idx"), col("band.band_bits").as("band_bits"))
  }

  /** Unbounded SimHash near-dup detection — the 100 TB path: candidates
    * via equi-join on (band_idx, band_bits), exact Hamming re-rank ≤
    * maxHamming. EXACT for maxHamming < bands (candidates ⊇ all true
    * pairs by pigeonhole, re-rank filters to exactly the true pairs) —
    * DedupSpec asserts equality with the brute-force pair join. The
    * default d=3 / 4×16-bit bands is the standard web-dedup operating
    * point (Manku et al., WWW'07 describe the same chunk-collision
    * scheme).
    */
  def dedupSimhashBanded(t: Tables, maxHamming: Int = 3, bands: Int = 4): DataFrame = {
    require(maxHamming < bands, "pigeonhole completeness needs maxHamming < bands")
    simhashBandedPairs(simhashSignatures(t.documents), maxHamming, bands)
  }

  /** Banded candidate generation + exact Hamming re-rank over an arbitrary
    * (doc_id, simhash) signature table (factored out so property tests can
    * feed synthetic corpora).
    */
  def simhashBandedPairs(sig: DataFrame, maxHamming: Int, bands: Int): DataFrame = {
    // Same self-join sharing point as minhashCandidates: one Exchange on
    // the band join keys, signature pipeline computed once, join shuffle
    // pre-satisfied.
    val bd = simhashBands(sig, bands)
      .repartition(col("band_idx"), col("band_bits"))
    val a = bd.select(col("doc_id").as("a_id"), col("simhash").as("a_sig"),
      col("band_idx"), col("band_bits"))
    val b = bd.select(col("doc_id").as("b_id"), col("simhash").as("b_sig"),
      col("band_idx"), col("band_bits"))
    a.join(b, Seq("band_idx", "band_bits"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        bit_count(col("a_sig").bitwiseXOR(col("b_sig"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct() // a pair may collide on several bands
      .orderBy("a_id", "b_id")
  }
}
