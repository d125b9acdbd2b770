package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.ZOrder

/** Z-order layout: correctness of the interleave and a measured
  * file-skipping win over a single-column sort for the off-sort dimension.
  */
class ZOrderSpec extends AnyFunSuite with SparkSessionFixture {

  test("interleave is the Morton curve on small known inputs") {
    import spark.implicits._
    // (x, y) -> morton for 3-bit values, bit j of col j at position i*k+j
    def morton(x: Int, y: Int): Long =
      (0 until 3).map(i => (((x >> i) & 1).toLong << (2 * i)) | (((y >> i) & 1).toLong << (2 * i + 1))).reduce(_ | _)
    val df = (for { x <- 0 to 7; y <- 0 to 7 } yield (x, y)).toDF("x", "y")
    val got = df.select(col("x"), col("y"),
      ZOrder.interleave(Seq(col("x"), col("y")), 3).as("z")).collect()
    got.foreach { r =>
      assert(r.getLong(2) === morton(r.getInt(0), r.getInt(1)),
        s"(${r.getInt(0)},${r.getInt(1)})")
    }
  }

  test("interleave matches the reference morton on random 16-bit pairs") {
    import spark.implicits._
    def morton16(x: Int, y: Int): Long =
      (0 until 16).map(i => (((x >> i) & 1).toLong << (2 * i)) | (((y >> i) & 1).toLong << (2 * i + 1))).reduce(_ | _)
    val rnd = new scala.util.Random(11)
    val pairs = Seq.fill(1000)((rnd.nextInt(1 << 16), rnd.nextInt(1 << 16)))
    val got = pairs.toDF("x", "y")
      .select(col("x"), col("y"), ZOrder.interleave(Seq(col("x"), col("y")), 16).as("z"))
      .collect()
    got.foreach(r => assert(r.getLong(2) === morton16(r.getInt(0), r.getInt(1))))
  }

  test("native graft_morton == composed interleave, including nulls and SQL") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = Seq.fill(2000)((
      rnd.nextLong().abs % (1L << 20),
      rnd.nextLong().abs % (1L << 20),
      rnd.nextLong().abs % (1L << 20))) ++ Seq((1L, 2L, 3L))
    val df = rows.toDF("x", "y", "w")
    val cols = Seq(col("x"), col("y"), col("w"))
    val both = df.select(
      ZOrder.interleave(cols, 20).as("composed"),
      ZOrder.interleaveNative(cols, 20).as("native"))
    assert(both.filter(col("composed") =!= col("native")).count() === 0)
    // null column → null z (the composed form nulls through bitwise ops too)
    val withNull = df.withColumn("y", when(col("x") % 7 === 0, lit(null)).otherwise(col("y")))
    val nats = withNull.select(ZOrder.interleaveNative(
      Seq(col("x"), col("y"), col("w")), 20).as("z"))
    assert(nats.filter(col("z").isNull).count() ===
      withNull.filter(col("y").isNull).count())
    // SQL surface + codegen path: with fallback disabled a codegen compile
    // error aborts the query instead of silently interpreting
    df.createOrReplaceTempView("morton_in")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val viaSql = spark.sql(
        "SELECT graft_morton(20, x, y, w) AS z FROM morton_in").collect().map(_.getLong(0))
      val viaCol = df.select(ZOrder.interleave(cols, 20)).collect().map(_.getLong(0))
      assert(viaSql.toSeq === viaCol.toSeq)
    } finally spark.conf.set("spark.sql.codegen.fallback", "true")
  }

  test("z-order prunes files on the non-sort dimension; linear sort does not") {
    val t = Tables(spark, "/root/testdata/sf0.01")
    val orders = t.orders.select("o_orderkey", "o_custkey", "o_totalprice")
    val dir = Files.createTempDirectory("graft-zorder").toString
    val n = 16

    // linear layout: range-sorted by o_custkey only
    orders.repartitionByRange(n, col("o_custkey"))
      .sortWithinPartitions("o_custkey")
      .write.parquet(s"$dir/linear")
    // z-order layout on (o_custkey, o_totalprice)
    ZOrder.writeZOrdered(orders, s"$dir/zorder", Seq("o_custkey", "o_totalprice"), n)

    // identical content
    assert(spark.read.parquet(s"$dir/zorder").count() === orders.count())
    assert(spark.read.parquet(s"$dir/zorder").agg(sum("o_orderkey")).head().getLong(0) ===
      orders.agg(sum("o_orderkey")).head().getLong(0))

    // selective predicate on the dimension the linear layout did NOT sort:
    // a min/max-stats scan must touch far fewer z-ordered files
    val (lo, hi) = (100000.0, 120000.0)
    val linearHit = ZOrder.overlappingFiles(s"$dir/linear", "o_totalprice", lo, hi)
    val zHit = ZOrder.overlappingFiles(s"$dir/zorder", "o_totalprice", lo, hi)
    assert(linearHit >= (n * 3) / 4,
      s"sanity: totalprice spreads across linear files (hit $linearHit/$n)")
    assert(zHit * 2 <= linearHit,
      s"z-order should at least halve touched files: z=$zHit linear=$linearHit")

    // the sort dimension itself still prunes under z-order
    val custHit = ZOrder.overlappingFiles(s"$dir/zorder", "o_custkey", 0.0, 100.0)
    assert(custHit < n, s"custkey pruning retained: $custHit/$n")
  }
}
