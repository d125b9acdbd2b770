package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton-curve) clustered write layout — multi-dimensional data
  * skipping for immutable parquet blocks.
  *
  * A single-column sort gives perfect file-level min/max pruning on that
  * column and none on any other; interleaving the bits of k rank-scaled
  * columns makes every file cover a small hyper-rectangle of the key
  * space, so a selective predicate on ANY of the k columns overlaps few
  * files. At 100 TB this is the difference between scanning one table
  * layout for every access path and keeping per-dimension sort copies.
  *
  * The z-value is built from plain Spark bit functions (shift/and/or) —
  * whole-stage-codegen'd, no UDF. Normalization is global-min/max affine
  * scaling to `bits` bits per column: one cheap agg pass, then a pure map;
  * at extreme skew substitute quantile boundaries (approxQuantile) for the
  * affine scale — the interleave below is unchanged.
  */
object ZOrder {

  /** Bit-interleaved z-value of pre-scaled non-negative integer-valued
    * columns, int or long (column j's bit i lands at position i*k + j).
    * k*bits must fit a long.
    */
  def interleave(scaled: Seq[Column], bits: Int): Column = {
    val k = scaled.size
    require(k >= 1 && k * bits <= 63, s"$k cols x $bits bits exceeds a long")
    val terms = for {
      i <- 0 until bits
      (c, j) <- scaled.zipWithIndex
    } yield shiftleft(shiftright(c, i).bitwiseAND(lit(1)).cast("long"), i * k + j)
    terms.reduce(_.bitwiseOR(_))
  }

  /** [[interleave]] as the native `graft_morton` expression: identical
    * z-values bit for bit (ZOrderSpec), but a constant-size plan node and
    * k tight generated loops instead of a bits·k-term shift/or tree —
    * the shape that matters when the layout write recomputes z over
    * every row of a 100 TB table. Registers the graft functions on the
    * column's session lazily via [[writeZOrdered]]'s call site.
    */
  def interleaveNative(scaled: Seq[Column], bits: Int): Column =
    call_function("graft_morton", (lit(bits) +: scaled): _*)

  /** Affine-scale `c` from [mn, mx] onto [0, 2^bits); degenerate ranges
    * collapse to 0. Long arithmetic throughout — an int intermediate
    * overflows (silently at bits=32: top.toInt = −1; as an ANSI
    * ArithmeticException above) for the bit widths [[interleave]]'s
    * k·bits ≤ 63 contract permits at k=1.
    */
  private def scale(c: Column, mn: Double, mx: Double, bits: Int): Column = {
    require(bits >= 1 && bits <= 62, s"scale bits out of range: $bits")
    val span = mx - mn
    val top = (1L << bits) - 1
    if (span <= 0) lit(0L)
    else least(greatest(
      (((c.cast("double") - mn) / span) * top).cast("long"), lit(0L)), lit(top))
  }

  /** Write `df` as `numFiles` z-order-clustered parquet files on `cols`.
    * One agg pass for the per-column min/max, then repartitionByRange on
    * the z-value (range partitioner ⇒ file n holds the n-th z-segment)
    * with an in-partition sort so row groups inside a file stay clustered.
    */
  def writeZOrdered(df: DataFrame, path: String, cols: Seq[String],
      numFiles: Int, bits: Int = 16): Unit = {
    val aggs = cols.flatMap(c => Seq(min(col(c)).cast("double"), max(col(c)).cast("double")))
    val stats = df.agg(aggs.head, aggs.tail: _*).head()
    val scaled = cols.zipWithIndex.map { case (c, j) =>
      // empty/all-null input: min/max come back null — degenerate to a
      // constant z (plain write), don't NPE
      if (stats.isNullAt(2 * j) || stats.isNullAt(2 * j + 1)) lit(0L)
      else scale(col(c), stats.getDouble(2 * j), stats.getDouble(2 * j + 1), bits)
    }
    val z = interleaveNative(scaled, bits)
    df.withColumn("__graft_z", z)
      .repartitionByRange(numFiles, col("__graft_z"))
      .sortWithinPartitions("__graft_z")
      .drop("__graft_z")
      .write.mode("errorifexists").parquet(path)
  }

  /** File-level pruning candidates for `lo <= column <= hi`: the number of
    * files whose [min, max] of `column` overlaps the predicate — exactly
    * what a min/max-stats-driven scan planner reads. Used by ZOrderSpec to
    * prove the layout skips; also a handy layout-quality probe.
    */
  def overlappingFiles(path: String, column: String, lo: Double, hi: Double): Long = {
    val spark = org.apache.spark.sql.SparkSession.active
    spark.read.parquet(path)
      .select(col(column).cast("double").as("c"), input_file_name().as("f"))
      .groupBy("f").agg(min("c").as("mn"), max("c").as("mx"))
      .filter(col("mx") >= lo && col("mn") <= hi)
      .count()
  }
}
