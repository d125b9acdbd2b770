package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Approximate nearest neighbor over embeddings (north star): random-
  * hyperplane LSH bucketing with exact cosine re-rank. This is the scale
  * path for [[Vector.simCosineTopk]]: candidate generation is an equi-join
  * on bucket keys (linear in corpus size), and only candidates pay the
  * exact-cosine cost.
  *
  * Hyperplanes are generated driver-side from a fixed seed — deterministic
  * across runs, no runtime RNG. Multiple small tables (4 × 8 bits) trade
  * precision for recall: a pair is a candidate if it collides in ANY
  * table. Brute force remains the exactness baseline (AnnSpec measures
  * recall against it).
  */
object Ann {

  val NumTables = 4
  val BitsPerTable = 8
  val Dim = 64

  /** [table][bit][dim] — fixed-seed unit-free gaussian components. */
  private val planes: Array[Array[Array[Double]]] = {
    val rnd = new scala.util.Random(7)
    Array.fill(NumTables, BitsPerTable, Dim)(rnd.nextGaussian())
  }

  /** Signature for one table: Σ_b (sign(e·p_b) << b), via the native dot
    * product against literal plane arrays. RETAINED AS THE DIFFERENTIAL
    * REFERENCE for the single-pass `graft_hplanes` expression (the hot
    * path since round 7 — VectorExpressionsSpec asserts bit equality);
    * the literal-tree form costs bands × bits × dim plan nodes per query.
    */
  private[graft] def tableSignatureRef(e: Column, table: Int): Column =
    (0 until BitsPerTable).map { b =>
      when(Vector.dot(e, typedlit(planes(table)(b).toSeq)) >= 0, 1L << b).otherwise(0L)
    }.reduce(_ + _)

  /** All [[NumTables]] table signatures in one native codegen'd pass
    * (same seed-7 plane draws — see [[graft.functions.HyperplaneSig]]).
    */
  private def tableSignatures(e: Column): Column =
    call_function("graft_hplanes",
      e, lit(NumTables), lit(BitsPerTable), lit(BitsPerTable), lit(7))

  /** (vec_id, e, nrm) — one row per vector. */
  def vectorsWithNorm(t: Tables): DataFrame = {
    val e = transform(col("embedding"), x => x.cast(DoubleType))
    t.embeddings
      .select(col("vec_id"), e.as("e"))
      .withColumn("nrm", sqrt(Vector.dot(col("e"), col("e"))))
  }

  /** (vec_id, e, nrm, table_idx, bucket) — one row per (vector, table). */
  def bucketed(t: Tables): DataFrame =
    vectorsWithNorm(t)
      .select(col("vec_id"), col("e"), col("nrm"),
        posexplode(tableSignatures(col("e"))).as(Seq("table_idx", "bucket")))

  /** ANN top-k per probe (vec_id < probeLimit): bucket-collision
    * candidates from any table, exact cosine re-rank, top-k.
    *
    * Plan-shape notes (both alternatives measured at sf0.1, round 4):
    * the probe side is bounded by contract, so `vec_id < probeLimit`
    * pushes into the probe branch's parquet scan and the tiny probe bucket
    * set broadcasts — the corpus side streams through one bucket
    * computation with no shuffle before the candidate distinct. The
    * repartition-shared self-join shape the unbounded dedup pipelines use
    * was 30% slower here (corpus-wide band shuffle + post-shuffle probe
    * filter), and an explode-barrier around the cast transform (the
    * Dedup fix) was ~25% slower still — CollapseProject does not in fact
    * re-inline the aliased transform in this plan, so the barrier is pure
    * Generate overhead. Measure before barriering.
    */
  /** Parameters of the UNBOUNDED near-dup candidate generator
    * ([[hyperplaneCandidates]]): 16 independent hyperplane bands of
    * `bitsPerBand` sign bits each (default 8 — sized for the driver
    * corpus). Per-pair capture probability at angle θ is
    * 1 − (1 − (1−θ/π)^bits)¹⁶ — with 8 bits ≥ 0.9998 at cos ≥ 0.95 (the
    * planted-dup regime AnnDedupSpec asserts), ~0.5 at cos 0.8, and
    * negligible for random pairs. More bands buy recall linearly in
    * shuffle volume; more bits per band cut candidates geometrically but
    * cost recall.
    *
    * THE SCALE KNOB: random-pair candidate volume is ≈ bands·n²/(2·2^bits)
    * (≈ 6% of the pair space at 8 bits, measured 1–3% on the real
    * corpus) — quadratic at FIXED bits, like every banded LSH. The
    * production recipe is bits ∝ log₂ n: raising bits with corpus size
    * holds bucket occupancy (and with it per-vector candidate fan-out)
    * constant, making volume ~linear in n while recall in the cos ≥ 0.95
    * regime stays ≥ 99% up to 12 bits. ScaleSpec rehearses exactly this:
    * 8 bits at n≈2k, 12 bits at n≈20k, asserting sub-quadratic growth.
    */
  val DedupBands = 16
  val DedupBandBits = 8
  val MaxDedupBandBits = 16

  /** [band][bit][dim] — fixed-seed gaussian hyperplanes, independent of
    * the top-k tables above (different seed); sized for the maximum
    * per-band width so every `bitsPerBand` choice shares a prefix.
    */
  private val dedupPlanes: Array[Array[Array[Double]]] = {
    val rnd = new scala.util.Random(43)
    Array.fill(DedupBands, MaxDedupBandBits, Dim)(rnd.nextGaussian())
  }

  /** Differential reference for the native single-pass form below
    * (VectorExpressionsSpec asserts bit equality per band).
    */
  private[graft] def dedupBandSignatureRef(e: Column, band: Int, bits: Int): Column =
    (0 until bits).map { b =>
      when(Vector.dot(e, typedlit(dedupPlanes(band)(b).toSeq)) >= 0, 1L << b).otherwise(0L)
    }.reduce(_ + _)

  /** All [[DedupBands]] band signatures in one native pass (same seed-43
    * draws at [[MaxDedupBandBits]] fill width, voting `bits`).
    */
  private def dedupBandSignatures(e: Column, bits: Int): Column =
    call_function("graft_hplanes",
      e, lit(DedupBands), lit(MaxDedupBandBits), lit(bits), lit(43))

  /** UNBOUNDED LSH candidate pairs over an arbitrary (vec_id, e:
    * array<double>) frame — the sub-quadratic candidate source for
    * embedding near-dup detection. Each vector is hashed into
    * [[DedupBands]] band buckets; a pair is a candidate iff it collides
    * in ANY band. The only shuffle is the equi-join on (band_idx,
    * bucket) — (vec_id, band) pairs move, vectors never do — and the
    * per-bucket join fan-out is occupancy², bounded by the 2^bits
    * buckets per band spreading a ~uniform hash. No all-pairs
    * enumeration anywhere in the plan; see the class scaladoc for the
    * bits-vs-n sizing recipe.
    */
  def hyperplaneCandidates(vecs: DataFrame, bitsPerBand: Int = DedupBandBits): DataFrame = {
    require(bitsPerBand >= 1 && bitsPerBand <= MaxDedupBandBits,
      s"bitsPerBand must be in [1, $MaxDedupBandBits], got $bitsPerBand")
    // Same self-join sharing point as Dedup.minhashCandidates: one
    // Exchange on the band join keys, the single-pass native signature
    // computed once, the band join's shuffle pre-satisfied.
    val bands = vecs
      .select(col("vec_id"),
        posexplode(dedupBandSignatures(col("e"), bitsPerBand)).as(Seq("band_idx", "bucket")))
      .repartition(col("band_idx"), col("bucket"))
    val a = bands.select(col("vec_id").as("a_id"), col("band_idx"), col("bucket"))
    val b = bands.select(col("vec_id").as("b_id"), col("band_idx"), col("bucket"))
    a.join(b, Seq("band_idx", "bucket"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id")
      .distinct()
  }

  def annCosineTopk(t: Tables, probeLimit: Int = 50, k: Int = 5): DataFrame = {
    val b = bucketed(t)
    val w = Window.partitionBy("a_id").orderBy(desc("cos"), asc("b_id"))
    // Dedup candidates on the id pair alone (cheap), then fetch vectors
    // once per surviving pair — never distinct over the 64-dim arrays.
    val v = vectorsWithNorm(t)
    b.filter(col("vec_id") < probeLimit)
      .select(col("vec_id").as("a_id"), col("table_idx"), col("bucket"))
      .join(
        b.select(col("vec_id").as("b_id"), col("table_idx"), col("bucket")),
        Seq("table_idx", "bucket"))
      .filter(col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("b_id"))
      .distinct()
      .join(v.select(col("vec_id").as("a_id"), col("e").as("a_e"), col("nrm").as("a_nrm")), "a_id")
      .join(v.select(col("vec_id").as("b_id"), col("e").as("b_e"), col("nrm").as("b_nrm")), "b_id")
      .select(
        col("a_id"), col("b_id"),
        (Vector.dot(col("a_e"), col("b_e")) / (col("a_nrm") * col("b_nrm"))).as("cos"))
      .select(col("a_id"), col("b_id"), col("cos"), row_number().over(w).as("rn"))
      .filter(col("rn") <= k)
      .select(col("a_id"), col("b_id"), round(col("cos"), 6).as("cos"))
      .orderBy(asc("a_id"), desc("cos"), asc("b_id"))
  }
}
