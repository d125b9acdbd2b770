package graft.ops

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbor — the second scale
  * path beside LSH ([[Ann]]). A coarse quantizer of K centroids partitions
  * the corpus into cells; each vector is assigned to its nearest centroid
  * once (an N×K broadcast dot-product pass — the "inverted file" is just
  * a cell_id column, i.e. a partition key); a query probes only its
  * `nprobe` nearest cells and exact-cosine re-ranks inside them.
  *
  * At cluster scale the corpus is hash-partitioned (or bucketed) by
  * cell_id, so probing nprobe cells touches nprobe/K of the data — the
  * candidate join is an equi-join on cell_id, never a cross join.
  *
  * The quantizer is TRAINED: k-means++-free Lloyd iterations over a
  * deterministic hash-ordered sample (the standard IVF build — train the
  * coarse quantizer on a sample, assign the full corpus once). Seeds are
  * the K sample vectors with the lowest xxhash64(vec_id) (a seeded
  * pseudo-random draw, no runtime RNG); each iteration reassigns the
  * sample and recenters cells on the element-wise mean, rounded to 1e-6.
  * Training is deterministic up to that 1e-6 rounding: the rounding
  * removes distributed float-sum ordering effects except in the measure-
  * zero case where a mean lands exactly on a 0.5e-6 boundary, where the
  * tie could flip across runs. The trained table is K×64
  * doubles: it collects to the driver (16 rows — quantizers are driver
  * state, like any broadcast dim) and enters every plan as a literal
  * broadcast. Recall degrades gracefully with nprobe; IvfSpec proves the
  * limit case (nprobe = K ≡ brute force bit-for-bit) and measures trained
  * vs untrained recall.
  */
object Ivf {

  val NumCells = 16
  val TrainIters = 3
  val TrainSample = 2048

  private def round6(x: Double): Double = math.rint(x * 1e6) / 1e6

  /** Lloyd training on the hash-ordered sample; returns K (cell_id, mean)
    * rows. Empty cells keep their previous centroid (K never shrinks).
    */
  private def train(t: Tables, k: Int): Array[(Int, Seq[Double])] = {
    val sample = Ann.vectorsWithNorm(t)
      .orderBy(xxhash64(col("vec_id")).asc, col("vec_id").asc)
      .limit(TrainSample)
      .select(col("vec_id"), col("e"))
      .cache()
    // Seeds: first K of a SECOND independent hash order over the sample.
    var cents: Array[(Int, Seq[Double])] = sample
      .orderBy(xxhash64(col("vec_id"), lit(1)).asc, col("vec_id").asc)
      .limit(k)
      .select(col("e")).collect()
      .zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Double](0).map(round6)) }
    for (_ <- 1 to TrainIters) {
      val cdf = centroidFrame(t, cents)
      val w = Window.partitionBy("vec_id").orderBy(desc("c_cos"), asc("cell_id"))
      val means = sample
        .crossJoin(broadcast(cdf))
        .select(col("vec_id"), col("e"), col("cell_id"),
          (Vector.dot(col("e"), col("c_e")) / col("c_nrm")).as("c_cos"))
        .select(col("vec_id"), col("e"), col("cell_id"), row_number().over(w).as("rn"))
        .filter(col("rn") === 1)
        .select(col("cell_id"), posexplode(col("e")).as(Seq("pos", "x")))
        .groupBy("cell_id", "pos")
        .agg(avg(col("x")).as("m"))
        .groupBy("cell_id")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          s => s.getField("m")).as("c_e"))
        .collect()
        .map(r => (r.getInt(0), r.getSeq[Double](1).map(round6)))
        .toMap
      cents = cents.map { case (id, old) => (id, means.getOrElse(id, old)) }
    }
    sample.unpersist()
    cents
  }

  private def centroidFrame(t: Tables, cents: Array[(Int, Seq[Double])]): DataFrame = {
    import t.spark.implicits._
    cents.toSeq.toDF("cell_id", "c_e")
      .select(col("cell_id"), col("c_e"),
        sqrt(Vector.dot(col("c_e"), col("c_e"))).as("c_nrm"))
  }

  /** The trained centroid array itself — the persistable index state
    * ([[AnnIndex]] materializes it on disk so a fresh process serves
    * without retraining). Training is deterministic per dataset, so the
    * [[graft.util.Memo]] value is purely a cost saving; tests bypass it
    * through the explicit-quantizer overloads.
    */
  private[ops] def trainedCells(t: Tables): Array[(Int, Seq[Double])] =
    graft.util.Memo.value(graft.util.Memo.Key("ivf_cells", t.sfDir, "embeddings")) {
      train(t, NumCells)
    }

  /** (cell_id, c_e, c_nrm) — the trained coarse quantizer, always
    * broadcast (memoized per scale directory).
    */
  def centroids(t: Tables): DataFrame =
    broadcast(centroidFrame(t, trainedCells(t)))

  /** The untrained v1 quantizer (first K vec_ids) — kept for the recall
    * comparison in IvfSpec, not used by any registered query.
    */
  def naiveCentroids(t: Tables): DataFrame =
    Ann.vectorsWithNorm(t)
      .filter(col("vec_id") < NumCells)
      .select(col("vec_id").as("cell_id"), col("e").as("c_e"), col("nrm").as("c_nrm"))

  /** Assign every vector to its nearest centroid by cosine (deterministic
    * argmax: ties break on lowest cell_id).
    */
  def assignments(t: Tables): DataFrame = assignments(t, centroids(t))

  def assignments(t: Tables, quant: DataFrame): DataFrame =
    assignVectors(Ann.vectorsWithNorm(t), quant)

  /** Assign an ARBITRARY `(vec_id, e, nrm)` vector frame to the nearest
    * of the given FROZEN centroids — the append path of the persisted
    * index ([[AnnIndex.appendDelta]]): arriving vectors route to existing
    * cells, no Lloyd.
    */
  def assignVectors(v: DataFrame, quant: DataFrame): DataFrame = {
    val w = Window.partitionBy("vec_id").orderBy(desc("c_cos"), asc("cell_id"))
    v.crossJoin(broadcast(quant))
      .select(
        col("vec_id"), col("e"), col("nrm"), col("cell_id"),
        (Vector.dot(col("e"), col("c_e")) / (col("nrm") * col("c_nrm"))).as("c_cos"))
      .select(col("vec_id"), col("e"), col("nrm"), col("cell_id"),
        row_number().over(w).as("rn"))
      .filter(col("rn") === 1)
      .select("vec_id", "e", "nrm", "cell_id")
  }

  /** IVF top-k: probe the `nprobe` nearest cells per query, exact-cosine
    * re-rank the union of those cells.
    */
  def ivfCosineTopk(t: Tables, probeLimit: Int = 50, k: Int = 5, nprobe: Int = 4): DataFrame =
    ivfCosineTopk(t, probeLimit, k, nprobe, centroids(t))

  def ivfCosineTopk(t: Tables, probeLimit: Int, k: Int, nprobe: Int, quant: DataFrame): DataFrame = {
    val assigned = assignments(t, quant)
    val probes = assigned.filter(col("vec_id") < probeLimit)
      .select(col("vec_id").as("a_id"), col("e").as("a_e"), col("nrm").as("a_nrm"))
    val wCells = Window.partitionBy("a_id").orderBy(desc("p_cos"), asc("cell_id"))
    val probedCells = probes
      .crossJoin(broadcast(quant))
      .select(
        col("a_id"),
        col("cell_id"),
        (Vector.dot(col("a_e"), col("c_e")) / (col("a_nrm") * col("c_nrm"))).as("p_cos"))
      .select(col("a_id"), col("cell_id"), row_number().over(wCells).as("rn"))
      .filter(col("rn") <= nprobe)
      .select("a_id", "cell_id")
    val wTop = Window.partitionBy("a_id").orderBy(desc("cos"), asc("b_id"))
    probedCells
      .join(probes, "a_id")
      .join(
        assigned.select(col("vec_id").as("b_id"), col("e").as("b_e"),
          col("nrm").as("b_nrm"), col("cell_id")),
        Seq("cell_id"))
      .filter(col("a_id") =!= col("b_id"))
      .select(
        col("a_id"), col("b_id"),
        (Vector.dot(col("a_e"), col("b_e")) / (col("a_nrm") * col("b_nrm"))).as("cos"))
      .select(col("a_id"), col("b_id"), col("cos"), row_number().over(wTop).as("rn"))
      .filter(col("rn") <= k)
      .select(col("a_id"), col("b_id"), round(col("cos"), 6).as("cos"))
      .orderBy(asc("a_id"), desc("cos"), asc("b_id"))
  }
}
