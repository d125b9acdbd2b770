package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Vector

/** The native codegen'd graft_dot must be bit-identical to the declared
  * HOF fold semantics (same left-to-right double accumulation), including
  * null propagation.
  */
class VectorExpressionsSpec extends AnyFunSuite with SparkSessionFixture {

  test("graft_dot matches HOF fold bit-exactly on real embeddings") {
    val t = Tables(spark, "/root/testdata/sf0.001")
    val e = transform(col("embedding"), x => x.cast(DoubleType))
    val diff = t.embeddings
      .select(Vector.dot(e, e).as("native"), Vector.dotHof(e, e).as("hof"))
      .filter(col("native") =!= col("hof"))
      .count()
    assert(diff == 0)
  }

  test("graft_dot null propagation and cross-vector values") {
    val df = spark.sql(
      """SELECT graft_dot(CAST(a AS ARRAY<DOUBLE>), CAST(b AS ARRAY<DOUBLE>)) AS d,
        |       aggregate(zip_with(CAST(a AS ARRAY<DOUBLE>), CAST(b AS ARRAY<DOUBLE>),
        |                          (x, y) -> x * y), CAST(0.0 AS DOUBLE), (s, x) -> s + x) AS hof
        |FROM VALUES
        |  (array(1.0, 2.0, 3.0), array(4.0, 5.0, 6.0)),
        |  (CAST(NULL AS ARRAY<DOUBLE>), array(1.0)),
        |  (array(), array()),
        |  (array(1.0, 2.0), array(1.0)),
        |  (array(1.0, CAST(NULL AS DOUBLE)), array(1.0, 2.0))
        |AS t(a, b)""".stripMargin)
    val rows = df.collect().map(r => if (r.isNullAt(0)) null else r.getDouble(0))
    val hof = df.collect().map(r => if (r.isNullAt(1)) null else r.getDouble(1))
    assert(rows.toSeq == Seq(32.0, null, 0.0, null, null))
    assert(rows.toSeq == hof.toSeq, "graft_dot must equal the HOF fold on every edge case")
  }

  test("graft_hplanes equals the literal-tree signature build bit for bit") {
    val t = Tables(spark, "/root/testdata/sf0.001")
    val e = transform(col("embedding"), x => x.cast(DoubleType)).as("e")
    val base = t.embeddings.select(col("vec_id"), e)

    // ann_cosine_topk plane set: 4 tables × 8 bits, seed 7, fill width 8.
    val annRef = (0 until graft.ops.Ann.NumTables)
      .map(i => graft.ops.Ann.tableSignatureRef(col("e"), i))
    val annDiff = base
      .select(call_function("graft_hplanes",
          col("e"), lit(4), lit(8), lit(8), lit(7)).as("native"),
        array(annRef: _*).as("ref"))
      .filter(col("native") =!= col("ref")).count()
    assert(annDiff == 0)

    // dedup plane set: 16 bands, fill width 16, voting 8 and 12 of them.
    for (bits <- Seq(8, 12)) {
      val dedupRef = (0 until graft.ops.Ann.DedupBands)
        .map(i => graft.ops.Ann.dedupBandSignatureRef(col("e"), i, bits))
      val diff = base
        .select(call_function("graft_hplanes",
            col("e"), lit(16), lit(16), lit(bits), lit(43)).as("native"),
          array(dedupRef: _*).as("ref"))
        .filter(col("native") =!= col("ref")).count()
      assert(diff == 0, s"dedup signatures diverge at $bits bits")
    }

    // contract edges: null vector and empty vector → NULL signature array
    val edges = spark.sql(
      """SELECT graft_hplanes(v, 4, 8, 8, 7) AS s
        |FROM VALUES (CAST(NULL AS ARRAY<DOUBLE>)), (array()) AS t(v)""".stripMargin)
      .collect().map(_.isNullAt(0)).toSeq
    assert(edges == Seq(true, true))
  }
}
