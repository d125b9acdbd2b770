package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import org.scalatest.funsuite.AnyFunSuite

/** graft_jaccard must equal the builtin array_intersect/array_union
  * formulation on distinct-element inputs, including null propagation.
  */
class JaccardExpressionSpec extends AnyFunSuite with SparkSessionFixture {

  test("graft_jaccard == builtin intersect/union formulation on real token sets") {
    val t = Tables(spark, "/root/testdata/sf0.001")
    val sets = graft.ops.Text.tokens(t.documents.filter(col("doc_id") < 60))
      .groupBy("doc_id").agg(collect_set(col("token")).as("s"))
    val a = sets.select(col("doc_id").as("a_id"), col("s").as("a_s"))
    val b = sets.select(col("doc_id").as("b_id"), col("s").as("b_s"))
    val diff = a.join(b, col("a_id") < col("b_id"))
      .select(
        call_function("graft_jaccard", col("a_s"), col("b_s")).as("native"),
        (size(array_intersect(col("a_s"), col("b_s"))).cast(DoubleType)
          / size(array_union(col("a_s"), col("b_s")))).as("builtin"))
      .filter(col("native") =!= col("builtin"))
      .count()
    assert(diff == 0)
  }

  test("graft_jaccard edge cases: null, empty, disjoint, identical") {
    val rows = spark.sql(
      """SELECT graft_jaccard(a, b) AS j FROM VALUES
        |  (array('x','y'), array('x','y')),
        |  (array('x'), array('y')),
        |  (CAST(array() AS ARRAY<STRING>), CAST(array() AS ARRAY<STRING>)),
        |  (CAST(NULL AS ARRAY<STRING>), array('x'))
        |AS t(a, b)""".stripMargin)
      .collect().map(r => if (r.isNullAt(0)) null else r.getDouble(0))
    assert(rows.toSeq == Seq(1.0, 0.0, 0.0, null))
  }
}
