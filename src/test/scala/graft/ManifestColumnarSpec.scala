package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{ManifestColumnar, ManifestTable}

/** The vectorized (ColumnarBatch) read path for the store's parquet
  * data files ([[graft.sources.ManifestColumnar]]): every scan with a
  * column — batch or streaming, with or without standing deletes, over
  * scalars and nested columns alike — plans columnar and returns exact
  * values across the full type surface.
  */
class ManifestColumnarSpec extends AnyFunSuite with SparkSessionFixture {

  import spark.implicits._

  private val Fmt = "graft.sources.ManifestTable"

  private def freshDir(): String =
    Files.createTempDirectory("graft_columnar").toString

  private def isColumnar(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("ColumnarToRow")

  test("a parquet-only scan plans columnar; values match across the type surface") {
    val dir = freshDir()
    val df = spark.range(0, 1000).select(
      col("id"),
      col("id").cast("int").as("i"),
      (col("id") * 1.5).as("d"),
      (col("id") % 2 === 0).as("b"),
      col("id").cast("float").as("f"),
      concat(lit("s"), col("id")).as("s"),
      concat(lit("p"), col("id").cast("string")).cast("binary").as("bin"),
      date_add(lit(java.sql.Date.valueOf("1996-01-01")), col("id").cast("int")).as("dt"),
      to_timestamp(lit("1996-02-29 12:00:00")).as("ts"),
      col("id").cast("decimal(12,2)").as("dec"),
      col("id").cast("decimal(36,4)").as("dec38"))
    df.coalesce(3).write.format(Fmt).option("path", dir).mode("append").save()

    val t = spark.read.format(Fmt).option("path", dir).load()
    assert(isColumnar(t), s"expected a columnar scan:\n${t.queryExecution.executedPlan}")
    assert(t.count() == 1000L)
    val row = t.filter(col("id") === 7L).collect().head
    assert(row.getInt(1) == 7 && row.getDouble(2) == 10.5 && !row.getBoolean(3))
    assert(row.getFloat(4) == 7.0f && row.getString(5) == "s7")
    assert(new String(row.getAs[Array[Byte]](6), "UTF-8") == "p7")
    assert(row.getDate(7) == java.sql.Date.valueOf("1996-01-08"))
    assert(row.getDecimal(9).toPlainString == "7.00")
    assert(row.getDecimal(10).toPlainString == "7.0000")
    // aggregate over the columnar scan agrees with arithmetic
    assert(t.agg(sum("id")).as[Long].head() == (0L until 1000L).sum)
    // a pruned projection stays columnar and parses only its columns
    val narrow = t.select("s", "id")
    assert(isColumnar(narrow))
    assert(narrow.where(col("s") === "s42").select("id").as[Long].head() == 42L)
  }

  test("filters stay pushed on the columnar path; values exact") {
    val dir = freshDir()
    spark.range(0, 10000).select(col("id"), (col("id") % 97).as("v"))
      .coalesce(4).write.format(Fmt).option("path", dir).mode("append").save()
    val t = spark.read.format(Fmt).option("path", dir).load()
    val filtered = t.filter(col("v") === 13L)
    assert(isColumnar(filtered))
    assert(filtered.count() == spark.range(0, 10000)
      .filter(col("id") % 97 === 13L).count())
  }

  test("deletes stay columnar and exact; arrays vectorize") {
    // pending equality deletes STAY columnar (merge-on-read applies as a
    // per-batch row-id mapping, ManifestColumnar); the filter is
    // value-exact including a projection that EXCLUDES the key column
    // (the reader requests it alongside)
    val t2 = freshDir()
    spark.range(0, 100).select(col("id"), (col("id") * 2).as("v"))
      .coalesce(1).write.format(Fmt).option("path", t2).mode("append").save()
    // a delete matching nothing leaves count and sum unchanged
    ManifestTable.deleteKeys(t2, "id", Seq(-1L))
    val noMatch = spark.read.format(Fmt).option("path", t2).load()
    assert(isColumnar(noMatch))
    assert(noMatch.agg(count(lit(1)), sum("id")).as[(Long, Long)].head() ==
      ((100L, (0L until 100L).sum)))
    ManifestTable.deleteKeys(t2, "id", Seq(5L, 6L))
    val withDel = spark.read.format(Fmt).option("path", t2).load()
    assert(isColumnar(withDel),
      "standing deletes must not drop the scan to the row path")
    assert(withDel.count() == 98L)
    assert(withDel.agg(sum("id")).as[Long].head() == (0L until 100L).sum - 11L)
    val vOnly = spark.read.format(Fmt).option("path", t2).load().select("v")
    assert(isColumnar(vOnly))
    assert(vOnly.agg(sum("v")).as[Long].head() == ((0L until 100L).sum - 11L) * 2)
    // delete-lifecycle interop: more deletes, then folding, stay exact
    ManifestTable.deleteKeys(t2, "id", (90L until 100L).toSeq)
    val more = spark.read.format(Fmt).option("path", t2).load()
    assert(isColumnar(more) && more.count() == 88L)
    ManifestTable.compactDeletes(spark, t2)
    val folded = spark.read.format(Fmt).option("path", t2).load()
    assert(isColumnar(folded), "a folded store stays columnar")
    assert(folded.count() == 88L)
    assert(folded.agg(sum("id")).as[Long].head() ==
      (0L until 90L).sum - 11L)

    // arrays of scalars are columnar too (nested column vectors — the
    // embedding scan is the north-star workload); nulls at both grains
    // and empty arrays survive the batch decode
    val t3 = freshDir()
    Seq((1L, Array(1.5f, 2.5f)), (2L, Array(3.0f)))
      .toDF("id", "emb").coalesce(1)
      .write.format(Fmt).option("path", t3).mode("append").save()
    val arr = spark.read.format(Fmt).option("path", t3).load()
    assert(isColumnar(arr), "array<float> scans should vectorize")
    assert(arr.select(expr("aggregate(emb, CAST(0.0 AS DOUBLE), (a, x) -> a + x)"))
      .as[Double].collect().sorted.toSeq == Seq(3.0, 4.0))
    val scalarProj = spark.read.format(Fmt).option("path", t3).load().select("id")
    assert(isColumnar(scalarProj))
    assert(scalarProj.as[Long].collect().sorted.toSeq == Seq(1L, 2L))
  }

  test("array columns vectorize with null arrays, null elements, empty arrays") {
    val dir = freshDir()
    Seq(
      (1L, Array[java.lang.Float](1.5f, null, 3.5f), Array("a", null)),
      (2L, Array.empty[java.lang.Float], Array.empty[String]),
      (3L, null, null))
      .toDF("id", "emb", "tags").coalesce(1)
      .write.format(Fmt).option("path", dir).mode("append").save()
    val t = spark.read.format(Fmt).option("path", dir).load()
    assert(isColumnar(t), s"expected columnar:\n${t.queryExecution.executedPlan}")
    val rows = t.orderBy("id").collect()
    assert(rows(0).getSeq[java.lang.Float](1) == Seq(1.5f, null, 3.5f))
    assert(rows(0).getSeq[String](2) == Seq("a", null))
    assert(rows(1).getSeq[java.lang.Float](1).isEmpty, "empty array ≠ null")
    assert(rows(2).isNullAt(1) && rows(2).isNullAt(2))
    // a dot-product shaped HOF over the vectorized column is exact
    assert(t.select(expr(
      "aggregate(emb, CAST(0.0 AS DOUBLE), (a, x) -> a + coalesce(x, CAST(0.0 AS FLOAT)))"))
      .na.drop().as[Double].collect().sorted.toSeq == Seq(0.0, 5.0))
  }

  test("every micro-batch of a marker-carrying sink store vectorizes") {
    val dir = freshDir()
    // a sink store: every version carries a `batch-*.rows` marker beside
    // its parquet data file
    def commit(b: Int): Unit = ManifestTable.commitBatch(spark, dir, b.toLong,
      spark.range(b * 10L, b * 10L + 10).select(col("id"), (col("id") * 2).as("v"))
        .coalesce(1))
    commit(0)
    val q = spark.readStream.format(Fmt).option("path", dir).load()
      .select("v")
      .writeStream.format("memory").queryName("col_stream").start()
    try {
      // one micro-batch per commit; each batch's executed plan checked
      (0 until 3).foreach { b =>
        if (b > 0) commit(b)
        q.processAllAvailable()
        val plan = q.asInstanceOf[
          org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
          .streamingQuery.lastExecution.executedPlan
        assert(plan.toString.contains("ColumnarToRow"),
          s"micro-batch for commit $b must plan columnar:\n$plan")
      }
    } finally q.stop()
    val markers = ManifestTable.dataEntries(ManifestTable.currentManifest(dir).get._2)
      .map(ManifestTable.parseEntry(_)._1).filter(_.startsWith("batch-"))
    assert(markers.size == 3, s"expected 3 markers, got $markers")
    assert(spark.table("col_stream").as[Long].collect().sorted.toSeq ==
      (0L until 30L).map(_ * 2))
  }

  test("schema evolution: columnar scans null-pad columns old files lack") {
    val dir = freshDir()
    spark.range(0, 50).select(col("id")).coalesce(1)
      .write.format(Fmt).option("path", dir).mode("append").save()
    spark.range(50, 60).select(col("id"), (col("id") * 3).as("extra"))
      .coalesce(1).write.format(Fmt).option("path", dir).mode("append").save()
    val t = spark.read.format(Fmt).option("path", dir).load()
    assert(isColumnar(t))
    assert(t.count() == 60L)
    assert(t.filter(col("extra").isNull).count() == 50L)
    assert(t.agg(sum("extra")).as[Long].head() == (50L until 60L).map(_ * 3).sum)
  }

  test("nested struct/map columns vectorize (round 16)") {
    val dir = freshDir()
    val df = spark.sql("""
      SELECT id,
             named_struct('status', CASE WHEN id % 2 = 0 THEN 'O' ELSE 'F' END,
                          'cust', id % 97,
                          'inner', named_struct('z', id * 2)) AS meta,
             map('pri', CAST(id % 5 AS STRING),
                 'src', CONCAT('s', id % 3)) AS props,
             CASE WHEN id % 11 = 0 THEN CAST(NULL AS
               STRUCT<status: STRING, cust: BIGINT, inner: STRUCT<z: BIGINT>>)
             ELSE named_struct('status', 'X', 'cust', id,
                               'inner', named_struct('z', id)) END AS m2
      FROM range(0, 5000)""")
    df.coalesce(2).write.format(Fmt).option("path", dir).mode("append").save()
    val scan = spark.read.format(Fmt).option("path", dir).load()
    assert(isColumnar(scan.select("meta", "props")),
      "struct/map projections must plan through ColumnarToRow")
    // typed extraction values exact through the batch decode
    assert(scan.select(sum(col("meta.cust"))).as[Long].head() ==
      (0L until 5000L).map(_ % 97).sum)
    assert(scan.select(sum(col("meta.inner.z"))).as[Long].head() ==
      (0L until 5000L).map(_ * 2).sum)
    assert(scan.filter(element_at(col("props"), "pri") === "3").count() == 1000L)
    assert(scan.filter(col("m2").isNull).count() ==
      (0L until 5000L).count(_ % 11 == 0))
    // merge-on-read over nested-carrying batches: deletes + nested
    // extraction on the SAME vectorized scan
    ManifestTable.deleteKeys(dir, "id", (0L until 100L).toSeq)
    val afterDel = spark.read.format(Fmt).option("path", dir).load()
    assert(isColumnar(afterDel.select("meta")))
    assert(afterDel.select(sum(col("meta.cust"))).as[Long].head() ==
      (100L until 5000L).map(_ % 97).sum)
    // full-row equality against the source frame (map as entries —
    // Spark refuses set ops on MAP columns)
    def cmp(x: DataFrame) = x.filter(col("id") >= 100)
      .withColumn("props", map_entries(col("props")))
    assert(cmp(scan).exceptAll(cmp(df)).isEmpty &&
      cmp(df).exceptAll(cmp(scan)).isEmpty)
  }

  /** Measurement note, not a gate: the timings are printed, not
    * asserted, because a timing assertion on shared CI hardware is a
    * flake generator. The assertions pin that the vectorized scan and
    * the row reads (`ManifestColumnar.rows`, the path CDF reads and
    * zero-column scans under deletes take) return identical results.
    */
  test("columnar and row paths agree on a 2M-row scan (throughput printed)") {
    val dir = freshDir()
    spark.range(0, 2000000).select(
      col("id"), (col("id") % 1000).as("k"),
      (col("id") * 1.5).as("x"), concat(lit("v"), col("id") % 100).as("s"))
      .coalesce(2).write.format(Fmt).option("path", dir).mode("append").save()
    // a pending delete matching nothing keeps merge-on-read live on both paths
    ManifestTable.deleteKeys(dir, "id", Seq(-1L))
    val t = spark.read.format(Fmt).option("path", dir).load()

    val c0 = System.nanoTime()
    val agg = t.agg(count(lit(1)), sum(col("k"))).head()
    val resC = (agg.getLong(0), agg.getLong(1))
    val cMs = (System.nanoTime() - c0) / 1e6
    assert(isColumnar(t.select("k")))

    // row path: every data file read row by row through the batch reader
    val files = ManifestTable.dataEntries(ManifestTable.currentManifest(dir).get._2)
      .map(l => java.nio.file.Paths.get(dir).resolve(ManifestTable.parseEntry(l)._1).toString)
    assert(files.size == 2, s"got $files")
    val k = t.schema.fieldIndex("k")
    val r0 = System.nanoTime()
    var n = 0L; var sumK = 0L
    files.foreach { f =>
      val rdr = ManifestColumnar.rows(ManifestColumnar.open(f, t.schema, Seq.empty))
      try while (rdr.next()) { n += 1; sumK += rdr.get().getLong(k) }
      finally rdr.close()
    }
    val rMs = (System.nanoTime() - r0) / 1e6
    val expected = (2000000L, (0L until 2000000L).map(_ % 1000).sum)
    assert(resC == expected, s"columnar $resC != $expected")
    assert((n, sumK) == resC, s"row ${(n, sumK)} != columnar $resC")
    // a zero-column count under the pending delete reads rows too
    assert(t.count() == 2000000L)
    info(f"columnar ${cMs}%.0f ms vs row ${rMs}%.0f ms (x${rMs / cMs}%.1f)")
  }
}
