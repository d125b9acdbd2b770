package graft

import java.nio.file.Files
import java.sql.{Date, Timestamp}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.ManifestTable

/** The manifest store's parquet data files: full-type round trips, the
  * extended zone maps (date/timestamp/decimal order as longs → file
  * skipping on a DATE works like on a BIGINT), and the retired text
  * codec's loud refusals — naming `codec` in a write or layout, and
  * scanning a manifest that still lists a `.rows` data file.
  */
class ManifestCodecSpec extends AnyFunSuite with SparkSessionFixture {

  import spark.implicits._

  private val Fmt = "graft.sources.ManifestTable"

  private def freshDir(): String =
    Files.createTempDirectory("graft_codec_spec").toString

  private def dataNames(dir: String): Seq[String] =
    ManifestTable.dataEntries(ManifestTable.currentManifest(dir).get._2)
      .map(ManifestTable.parseEntry(_)._1)

  test("parquet round trip: every supported type, nulls included, byte-faithful") {
    val dir = freshDir()
    val df = Seq[(Long, java.lang.Integer, java.lang.Double, java.lang.Boolean,
        String, Date, Timestamp, java.math.BigDecimal)](
      (1L, 7, 1.5, true, "plain", Date.valueOf("1996-02-29"),
        Timestamp.valueOf("1996-02-29 23:59:59.123456"),
        new java.math.BigDecimal("12345.67")),
      (2L, null, null, null, null, null, null, null),
      (3L, -1, -0.0, false, "sepnewline\nN", Date.valueOf("1970-01-01"),
        Timestamp.valueOf("1970-01-01 00:00:00.0"),
        new java.math.BigDecimal("-0.01")))
      .toDF("id", "i", "d", "b", "s", "dt", "ts", "m")
      .withColumn("m", col("m").cast("decimal(12,2)"))
    df.coalesce(1).write.format(Fmt).option("path", dir).mode("append").save()
    assert(dataNames(dir).forall(_.endsWith(".parquet")))
    val back = spark.read.format(Fmt).option("path", dir).load()
    assert(back.schema.map(f => (f.name, f.dataType)) ==
      df.schema.map(f => (f.name, f.dataType)))
    assert(back.orderBy("id").collect().map(_.toString).toSeq ==
      df.orderBy("id").collect().map(_.toString).toSeq)
  }

  test("a manifest listing a .rows data file fails the scan with its name") {
    val dir = freshDir()
    Seq((2L, "new")).toDF("id", "s").coalesce(1)
      .write.format(Fmt).option("path", dir).mode("append").save()
    // an old store's text file, listed by a later manifest as the text
    // codec's writes were: a name plus its row count
    val d = java.nio.file.Paths.get(dir)
    val legacy = "data-0-0-0000aaaa.rows"
    Files.write(d.resolve(legacy), java.util.List.of("1\u0001sold"))
    val v1 = Files.readAllLines(d.resolve("manifest-1.json")).asScala
    Files.write(d.resolve("manifest-2.json"),
      (v1 :+ s"$legacy\t${ManifestTable.RowStatKey}=1:10").asJava)
    val e = intercept[Exception] {
      spark.read.format(Fmt).option("path", dir).load().collect()
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(e).exists(m => m.contains(legacy) && m.contains("parquet only")),
      s"the scan must fail naming $legacy, got: ${chain(e)}")
    // the version before it still reads
    assert(spark.read.format(Fmt).option("path", dir).option("version", "1")
      .load().as[(Long, String)].collect().toSeq == Seq((2L, "new")))
  }

  test("schema evolution null-pads old parquet files under the widened DDL") {
    val dir = freshDir()
    Seq((1L, "a")).toDF("id", "s").coalesce(1)
      .write.format(Fmt).option("path", dir).mode("append").save()
    Seq((2L, "b", 9.5)).toDF("id", "s", "v").coalesce(1)
      .write.format(Fmt).option("path", dir).mode("append").save()
    val back = spark.read.format(Fmt).option("path", dir).load()
      .orderBy("id").as[(Long, String, Option[Double])].collect().toSeq
    assert(back == Seq((1L, "a", None), (2L, "b", Some(9.5))))
  }

  test("date zone maps skip files exactly like bigint ones") {
    val dir = freshDir()
    // 4 files, one per quarter of 1996 — dates recorded as epoch-day
    // zone maps
    (0 until 4).foreach { q =>
      spark.range(0, 90)
        .select(col("id"),
          date_add(lit(java.sql.Date.valueOf("1996-01-01")),
            (col("id") + q * 90).cast("int")).as("d"))
        .coalesce(1)
        .write.format(Fmt).option("path", dir).mode("append").save()
    }
    val base = spark.read.format(Fmt).option("path", dir).load()
    assert(base.rdd.getNumPartitions == 4)
    val probe = base.filter(col("d") === lit(Date.valueOf("1996-02-14")))
    assert(probe.rdd.getNumPartitions == 1,
      s"a one-day equality should plan 1 of 4 quarter files, planned ${probe.rdd.getNumPartitions}")
    assert(probe.count() == 1L)
    val range = base.filter(col("d") >= lit(Date.valueOf("1996-07-01")))
    assert(range.rdd.getNumPartitions == 2, "H2 range should plan the two H2 files")
    // 1996 is a leap year: 1996-07-01 is offset 182 from Jan 1
    assert(range.count() == 360L - 182L)
  }

  test("DATE can be the partition column; pruning uses the @field") {
    val dir = freshDir()
    spark.range(0, 300)
      .select(col("id"),
        date_add(lit(java.sql.Date.valueOf("1996-01-01")),
          pmod(col("id"), lit(3L)).cast("int") * 30).as("day"))
      .repartition(col("day"))
      .write.format(Fmt).option("path", dir)
      .option("partitionCol", "day").mode("append").save()
    val lines = ManifestTable.currentManifest(dir).get._2
    assert(lines.forall(_.contains("@day=")), s"missing @day fields in $lines")
    val base = spark.read.format(Fmt).option("path", dir).load()
    val one = base.filter(col("day") === lit(Date.valueOf("1996-01-31")))
    assert(one.rdd.getNumPartitions == 1)
    assert(one.count() == 100L)
  }

  test("parquet filter pushdown is value-invisible across types, evolution, and null lists") {
    val dir = freshDir()
    // v1 lacks the string column (evolution: filters on it must not
    // break reading the old file), v2 carries all columns incl. nulls
    spark.range(0, 50)
      .select(col("id"),
        date_add(lit(Date.valueOf("1996-01-01")), col("id").cast("int")).as("d"))
      .coalesce(1)
      .write.format(Fmt).option("path", dir).mode("append").save()
    spark.range(50, 100)
      .select(col("id"),
        date_add(lit(Date.valueOf("1996-01-01")), col("id").cast("int")).as("d"),
        when(col("id") % 7 === 0, lit(null).cast("string"))
          .otherwise(concat(lit("t"), col("id") % 3)).as("tag"))
      .coalesce(1)
      .write.format(Fmt).option("path", dir).mode("append").save()
    val base = spark.read.format(Fmt).option("path", dir).load()
    // every filtered read must equal filtering the fully materialized
    // table in memory (the parquet predicate must never drop a row
    // Spark's residual filter would keep)
    def equiv(c: org.apache.spark.sql.Column, name: String): Unit = {
      val viaScan = base.filter(c).collect().map(_.toString).sorted.toSeq
      val viaMemory = {
        import scala.jdk.CollectionConverters._
        val full = spark.createDataFrame(
          base.collect().toSeq.asJava, base.schema)
        full.filter(c).collect().map(_.toString).sorted.toSeq
      }
      assert(viaScan == viaMemory, s"pushdown drift for $name")
    }
    equiv(col("id") > 80L, "long gt")
    equiv(col("d") >= lit(Date.valueOf("1996-03-01")) &&
      col("d") < lit(Date.valueOf("1996-04-01")), "date range")
    equiv(col("tag") === "t1", "string eq (old file lacks the column)")
    equiv(col("id").isin(3L, 97L, 1000L), "long IN")
    equiv(col("tag").isin("t0", "t2"), "string IN over nulls")
    equiv(col("tag").isNull, "isNull (not pushable, residual only)")
  }

  test("column names carrying manifest-grammar characters refuse at write time") {
    // `a;b` would write a stat piece parsing as bounds for column `b`,
    // `#rows` collides with the row-count key, `@x` reads as a
    // partition field — each is a potential FALSE SKIP, so all refuse
    Seq("a;b", "a=b", "x:y", "#rows", "@x", "a,b", "a\tb").foreach { bad =>
      val dir = freshDir()
      val e = intercept[Exception] {
        spark.range(0, 3).select(col("id"), col("id").as(bad))
          .write.format(Fmt).option("path", dir).mode("append").save()
      }
      assert(e.getMessage.contains("manifest-grammar") ||
        e.getMessage.contains("reserved"), s"'$bad' must refuse, got: ${e.getMessage}")
    }
    // ordinary names (incl. spaces and dots) stay writable
    val dir = freshDir()
    spark.range(0, 3)
      .select(col("id"), col("id").as("a b"), col("id").as("a.b_c"))
      .write.format(Fmt).option("path", dir).mode("append").save()
    assert(spark.read.format(Fmt).option("path", dir).load().count() == 3L)
  }

  test("naming codec refuses in a write, a create and a layout change") {
    val dir = freshDir()
    val df = Seq((1L, Date.valueOf("1996-01-01"))).toDF("id", "d")
    // `parquet` refuses too: `codec` is not a setting any more
    Seq("text", "parquet").foreach { c =>
      val e = intercept[Exception] {
        df.write.format(Fmt).option("path", dir)
          .option("codec", c).mode("append").save()
      }
      assert(e.getMessage.contains("parquet only"), e.getMessage)
    }
    assert(ManifestTable.currentManifest(dir).isEmpty, "nothing committed")
    val e2 = intercept[IllegalArgumentException](
      ManifestTable.createEmpty(dir, df.schema, Map("codec" -> "text")))
    assert(e2.getMessage.contains("parquet only"))
    df.write.format(Fmt).option("path", dir).mode("append").save()
    val e3 = intercept[IllegalArgumentException](
      ManifestTable.alterSetLayout(dir, Map("codec" -> Some("text"))))
    assert(e3.getMessage.contains("parquet only"))
    assert(dataNames(dir).forall(_.endsWith(".parquet")))
  }

  test("decimal beyond precision 18 round-trips through FIXED_LEN_BYTE_ARRAY") {
    val dir = freshDir()
    // unscaled values far past int64 in BOTH signs, plus exact bounds
    val vals = Seq(
      "12345678901234567890123456789012.3456",
      "-99999999999999999999999999999999.9999",
      "99999999999999999999999999999999.9999",
      "0.0001", "-0.0001", "0.0000")
    vals.map(s => (s, s)).toDF("tag", "m")
      .withColumn("m", col("m").cast("decimal(36,4)"))
      .coalesce(1)
      .write.format(Fmt).option("path", dir).mode("append").save()
    val back = spark.read.format(Fmt).option("path", dir).load()
      .select(col("tag"), col("m").cast("string").as("s"))
      .as[(String, String)].collect().toMap
    vals.foreach(v => assert(back(v) == v, s"decimal(36,4) corrupted: $v -> ${back(v)}"))
    // wide decimals carry no zone maps (stats are one long) — a range
    // predicate still answers correctly through the residual filter
    val n = spark.read.format(Fmt).option("path", dir).load()
      .filter(col("m") > lit(new java.math.BigDecimal(0))).count()
    assert(n == 3L)
  }

  test("array<float>/array<string>/binary round-trip through the DSv2 path") {
    val dir = freshDir()
    val df = Seq(
      (1L, Array(1.5f, -0.0f, 3.25f), Array("a", null, "c"), Array[Byte](0, 1, -128)),
      (2L, Array.empty[Float], Array.empty[String], Array.emptyByteArray),
      (3L, null, null, null))
      .toDF("id", "emb", "tags", "payload")
    df.coalesce(1).write.format(Fmt).option("path", dir).mode("append").save()
    val back = spark.read.format(Fmt).option("path", dir).load()
      .orderBy("id").collect()
    assert(back(0).getSeq[Float](1) == Seq(1.5f, -0.0f, 3.25f))
    assert(back(0).getSeq[String](2) == Seq("a", null, "c"))
    assert(back(0).getAs[Array[Byte]](3).toSeq == Seq[Byte](0, 1, -128))
    assert(back(1).getSeq[Float](1).isEmpty, "empty array must not read as null")
    assert(back(1).getAs[Array[Byte]](3).length == 0)
    assert(back(2).isNullAt(1) && back(2).isNullAt(2) && back(2).isNullAt(3))
    // projection to just the array parses only that column
    assert(spark.read.format(Fmt).option("path", dir).load()
      .select("emb").where(col("emb").isNotNull).count() == 2L)
    // merge-on-read deletes apply over array-carrying files
    ManifestTable.deleteKeys(dir, "id", Seq(1L))
    assert(spark.read.format(Fmt).option("path", dir).load().count() == 2L)
  }

  test("struct/map/array-of-struct round-trip through the DSv2 path (round 16)") {
    val dir = freshDir()
    val df = spark.sql("""
      SELECT * FROM VALUES
        (1L, named_struct('status', 'O', 'cust', 7L,
             'inner', named_struct('z', 1L)),
         map('a', 'x', 'b', CAST(NULL AS STRING)),
         array(named_struct('q', 1.5d, 'n', 'one'),
               CAST(NULL AS STRUCT<q: DOUBLE, n: STRING>))),
        (2L, CAST(NULL AS STRUCT<status: STRING, cust: BIGINT,
             inner: STRUCT<z: BIGINT>>),
         map(), CAST(array() AS ARRAY<STRUCT<q: DOUBLE, n: STRING>>)),
        (3L, named_struct('status', 'F', 'cust', CAST(NULL AS BIGINT),
             'inner', CAST(NULL AS STRUCT<z: BIGINT>)),
         CAST(NULL AS MAP<STRING, STRING>),
         CAST(NULL AS ARRAY<STRUCT<q: DOUBLE, n: STRING>>))
      AS t(id, meta, props, pts)""")
    df.coalesce(1).write.format(Fmt).option("path", dir).mode("append").save()
    val back = spark.read.format(Fmt).option("path", dir).load()
    assert(back.schema.map(f => (f.name, f.dataType)) ==
      df.schema.map(f => (f.name, f.dataType)))
    // value equality both directions (maps as entry lists — Spark
    // refuses set ops on MAP columns; entry order round-trips)
    def cmp(x: org.apache.spark.sql.DataFrame) =
      x.withColumn("props", map_entries(col("props")))
    assert(cmp(back).exceptAll(cmp(df)).isEmpty &&
      cmp(df).exceptAll(cmp(back)).isEmpty)
    val r = back.orderBy("id").collect()
    assert(r(0).getStruct(1).getLong(1) == 7L)
    assert(r(0).getStruct(1).getStruct(2).getLong(0) == 1L)
    assert(r(0).getMap[String, String](2)("a") == "x")
    assert(r(0).getMap[String, String](2).contains("b"), "null map value kept")
    assert(r(0).getSeq[org.apache.spark.sql.Row](3).head.getDouble(0) == 1.5)
    assert(r(0).getSeq[org.apache.spark.sql.Row](3)(1) == null,
      "null array<struct> element kept")
    assert(r(1).isNullAt(1), "null struct reads back null, not empty")
    assert(r(1).getMap[String, String](2).isEmpty, "empty map is not null")
    assert(r(1).getSeq[Any](3).isEmpty, "empty array<struct> is not null")
    assert(r(2).getStruct(1).isNullAt(1) && r(2).getStruct(1).isNullAt(2),
      "null struct FIELDS inside a present struct")
    assert(r(2).isNullAt(2) && r(2).isNullAt(3))
    // nested field extraction + projection pruning coexist
    assert(spark.read.format(Fmt).option("path", dir).load()
      .select(col("meta.cust")).where(col("cust").isNotNull)
      .as[Long].head() == 7L)
    // merge-on-read deletes apply over nested-carrying files
    ManifestTable.deleteKeys(dir, "id", Seq(1L))
    assert(spark.read.format(Fmt).option("path", dir).load().count() == 2L)
    // evolution INSIDE a struct is rejected loudly (only trailing
    // top-level ADD COLUMN evolves)
    val widened = spark.sql("""
      SELECT 9L AS id,
        named_struct('status', 'O', 'cust', 1L,
          'inner', named_struct('z', 2L), 'extra', 1L) AS meta,
        map('k', 'v') AS props,
        CAST(array() AS ARRAY<STRUCT<q: DOUBLE, n: STRING>>) AS pts""")
    val e = intercept[Exception] {
      widened.write.format(Fmt).option("path", dir).mode("append").save()
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Seq(Option(t.getMessage).getOrElse("")) ++
        chain(t.getCause)
    assert(chain(e).exists(_.contains("additive")), e.getMessage)
  }

  test("a zero-column projection counts from parquet footers; deletes still apply") {
    val dir = freshDir()
    spark.range(0, 120).select(col("id"), lit("x").as("s")).coalesce(2)
      .write.format(Fmt).option("path", dir).mode("append").save()
    val base = spark.read.format(Fmt).option("path", dir).load()
    // select() prunes the read schema to ZERO columns — parquet cannot
    // express an empty projection, so the reader answers from footers
    assert(base.select().count() == 120L)
    // with pending deletes the key column rides into the read anyway
    // (merge-on-read filtering), so the count reflects live rows
    ManifestTable.deleteKeys(dir, "id", Seq(3L, 7L))
    val afterDel = spark.read.format(Fmt).option("path", dir).load()
    assert(afterDel.select().count() == 118L)
  }

  test("equality deletes and compaction work over parquet data files") {
    val dir = freshDir()
    spark.range(0, 100)
      .select(col("id"),
        date_add(lit(java.sql.Date.valueOf("1996-01-01")),
          col("id").cast("int")).as("d"))
      .coalesce(1)
      .write.format(Fmt).option("path", dir).mode("append").save()
    ManifestTable.deleteKeys(dir, "id", Seq(5L, 50L))
    val live = spark.read.format(Fmt).option("path", dir).load()
    assert(live.count() == 98L)
    ManifestTable.compactDeletes(spark, dir)
    val after = spark.read.format(Fmt).option("path", dir).load()
    assert(after.count() == 98L)
    assert(after.filter(col("id").isin(5L, 50L)).count() == 0L)
    // time travel still sees v1's parquet bytes
    assert(spark.read.format(Fmt).option("path", dir)
      .option("version", "1").load().count() == 100L)
  }
}
