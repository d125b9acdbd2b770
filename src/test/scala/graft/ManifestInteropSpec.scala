package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.ManifestTable

/** The store's data files are plain parquet: `spark.read.parquet` over
  * the files a manifest lists returns exactly what the store's own scan
  * returns, across the whole type surface — decimals on both sides of
  * the INT32/INT64/FIXED_LEN_BYTE_ARRAY boundaries, TIMESTAMP_NTZ, and
  * nested array/map/struct shapes with nulls at every level.
  */
class ManifestInteropSpec extends AnyFunSuite with SparkSessionFixture {

  private val Fmt = "graft.sources.ManifestTable"

  private def rowsById(df: DataFrame): Seq[Row] = df.orderBy("id").collect().toSeq

  test("spark.read.parquet reads the data files; values equal the store scan") {
    val dir = Files.createTempDirectory("graft_interop").toString
    val df = spark.sql("""
      SELECT id,
        CAST(id AS INT) AS i, id * 1.5D AS d, CAST(id AS FLOAT) * 0.25F AS f,
        id % 2 = 0 AS b, CONCAT('s', id) AS s,
        CAST(CONCAT('p', id) AS BINARY) AS bin,
        DATE_ADD(DATE'1996-02-29', CAST(id AS INT)) AS dt,
        TIMESTAMP'1996-02-29 12:00:00.123456' + MAKE_INTERVAL(0, 0, 0, CAST(id AS INT)) AS ts,
        TIMESTAMP_NTZ'2020-01-02 03:04:05.654321' + MAKE_INTERVAL(0, 0, 0, 0, CAST(id AS INT)) AS ntz,
        CAST(CASE WHEN id = 2 THEN NULL ELSE id * -12345.67 END AS DECIMAL(9,2)) AS d9,
        CAST(id * 98765432.1 AS DECIMAL(18,2)) AS d18,
        CAST(CASE WHEN id = 2 THEN NULL
          ELSE id * -98765432109876543210987654321.1234 END AS DECIMAL(38,4)) AS d38,
        CASE id % 4
          WHEN 0 THEN ARRAY(NAMED_STRUCT('x', 1.5D, 'tags', ARRAY('a', NULL)), NULL)
          WHEN 1 THEN ARRAY(NAMED_STRUCT('x', CAST(NULL AS DOUBLE),
                                         'tags', CAST(NULL AS ARRAY<STRING>)))
          WHEN 2 THEN NULL
          ELSE CAST(ARRAY() AS ARRAY<STRUCT<x: DOUBLE, tags: ARRAY<STRING>>>) END AS arr,
        CASE id % 4
          WHEN 0 THEN MAP('k', NAMED_STRUCT('a', id, 'b', ARRAY(1, NULL)), 'n', NULL)
          WHEN 1 THEN MAP('k', NAMED_STRUCT('a', CAST(NULL AS BIGINT),
                                            'b', CAST(NULL AS ARRAY<INT>)))
          WHEN 2 THEN NULL
          ELSE CAST(MAP() AS MAP<STRING, STRUCT<a: BIGINT, b: ARRAY<INT>>>) END AS m,
        CASE id % 3
          WHEN 0 THEN NAMED_STRUCT('s', CAST(id AS STRING),
            'inner', NAMED_STRUCT('z', id, 'm', MAP(1, 'one', 2, NULL)))
          WHEN 1 THEN NAMED_STRUCT('s', CAST(NULL AS STRING),
            'inner', CAST(NULL AS STRUCT<z: BIGINT, m: MAP<INT, STRING>>))
          ELSE NULL END AS st
      FROM range(0, 12)""")
    df.coalesce(2).write.format(Fmt).option("path", dir).mode("append").save()

    val store = spark.read.format(Fmt).option("path", dir).load()
    val files = ManifestTable.dataEntries(ManifestTable.currentManifest(dir).get._2)
      .map(l => Paths.get(dir).resolve(ManifestTable.parseEntry(l)._1).toString)
    assert(files.nonEmpty && files.forall(_.endsWith(".parquet")), s"got $files")
    val plain = spark.read.parquet(files: _*)

    // same columns and types (nullability aside: the store's DDL is
    // all-nullable, parquet's schema says what each file holds)
    assert(plain.schema.catalogString == store.schema.catalogString)
    assert(store.schema.catalogString == df.schema.catalogString)
    val expected = rowsById(df)
    assert(rowsById(store) == expected, "the store scan changed a value")
    assert(rowsById(plain) == expected, "spark.read.parquet disagrees with the store")
  }
}
