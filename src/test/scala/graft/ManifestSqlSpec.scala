package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.ManifestTable

/** The SQL row-level surface on the manifest store: `DELETE FROM` via
  * GraftCatalog + SupportsDelete, `MERGE INTO` via the post-hoc rewrite
  * onto mergeKeys. The Feeds queries prove value-equivalence against the
  * Scala API through shared DuckDB oracles; this spec pins what must
  * FAIL — a WHERE/MERGE shape the equality-delete commit can't express
  * has to die at analysis, never silently rewrite the table — plus the
  * version-count physics of the statements that succeed.
  */
class ManifestSqlSpec extends AnyFunSuite with SparkSessionFixture {

  import spark.implicits._

  private val Fmt = "graft.sources.ManifestTable"

  private def freshStore(): String = {
    val dir = Files.createTempDirectory("graft_manifest_sql").toString
    Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L), (4L, "d", 40L))
      .toDF("k", "s", "v").coalesce(1)
      .write.format(Fmt).option("path", dir).mode("append").save()
    spark.conf.set("spark.sql.catalog.graft_cat", "graft.sources.GraftCatalog")
    dir
  }

  private def version(dir: String): Int =
    ManifestTable.currentManifest(dir).get._1

  test("DELETE FROM ... WHERE k IN (...) commits one equality-delete version") {
    val dir = freshStore()
    spark.sql(s"DELETE FROM graft_cat.`$dir` WHERE k IN (1, 3)")
    assert(version(dir) == 2, "one DELETE = one new version")
    val rest = spark.read.format(Fmt).option("path", dir).load()
      .select("k").as[Long].collect().sorted.toSeq
    assert(rest == Seq(2L, 4L))
    // time travel still sees the pre-delete rows (merge-on-read)
    assert(spark.read.format(Fmt).option("path", dir)
      .option("version", "1").load().count() == 4L)
    // SELECT resolves through the catalog too
    assert(spark.sql(s"SELECT count(*) FROM graft_cat.`$dir`")
      .as[Long].head() == 2L)
  }

  test("DELETE with k = v and contradictory conjuncts") {
    val dir = freshStore()
    spark.sql(s"DELETE FROM graft_cat.`$dir` WHERE k = 2")
    assert(spark.read.format(Fmt).option("path", dir).load().count() == 3L)
    val v = version(dir)
    // k IN (1,4) AND k = 4 intersects to {4}
    spark.sql(s"DELETE FROM graft_cat.`$dir` WHERE k IN (1, 4) AND k = 4")
    assert(spark.read.format(Fmt).option("path", dir).load()
      .select("k").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
    assert(version(dir) == v + 1)
  }

  test("DELETE shapes the equality-delete commit can't express fail analysis") {
    val dir = freshStore()
    // range predicate
    val e1 = intercept[Exception] {
      spark.sql(s"DELETE FROM graft_cat.`$dir` WHERE v > 15")
    }
    assert(e1.getMessage != null)
    // non-integral column
    intercept[Exception] {
      spark.sql(s"DELETE FROM graft_cat.`$dir` WHERE s = 'a'")
    }
    // two different key columns in one conjunction
    intercept[Exception] {
      spark.sql(s"DELETE FROM graft_cat.`$dir` WHERE k = 1 AND v = 10")
    }
    // nothing committed by any failed attempt; table intact
    assert(version(dir) == 1)
    assert(spark.read.format(Fmt).option("path", dir).load().count() == 4L)
  }

  test("MERGE INTO upserts as ONE version: replace matched, insert novel") {
    val dir = freshStore()
    Seq((2L, "B", 200L), (9L, "I", 900L)).toDF("k", "s", "v")
      .createOrReplaceTempView("merge_src_ok")
    spark.sql(s"""MERGE INTO graft_cat.`$dir` t USING merge_src_ok s
      ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""")
    assert(version(dir) == 2, "one MERGE = one new version")
    val rows = spark.read.format(Fmt).option("path", dir).load()
      .orderBy("k").as[(Long, String, Long)].collect().toSeq
    assert(rows == Seq((1L, "a", 10L), (2L, "B", 200L), (3L, "c", 30L),
      (4L, "d", 40L), (9L, "I", 900L)))
    // pre-merge snapshot intact
    assert(spark.read.format(Fmt).option("path", dir)
      .option("version", "1").load().count() == 4L)
  }

  test("MERGE with explicit agreeing assignments and source expressions works") {
    val dir = freshStore()
    Seq((3L, 7L)).toDF("sk", "bump").createOrReplaceTempView("merge_src_expr")
    spark.sql(s"""MERGE INTO graft_cat.`$dir` t USING merge_src_expr s
      ON t.k = s.sk
      WHEN MATCHED THEN UPDATE SET k = s.sk, s = 'X', v = s.bump * 100
      WHEN NOT MATCHED THEN INSERT (k, s, v) VALUES (s.sk, 'X', s.bump * 100)""")
    val r3 = spark.read.format(Fmt).option("path", dir).load()
      .filter(col("k") === 3L).as[(Long, String, Long)].head()
    assert(r3 == ((3L, "X", 700L)))
  }

  test("MERGE shapes one upsert version can't express are rejected") {
    val dir = freshStore()
    Seq((2L, "B", 200L)).toDF("k", "s", "v")
      .createOrReplaceTempView("merge_src_bad")

    def rejected(sql: String, needle: String): Unit = {
      val e = intercept[Exception](spark.sql(sql))
      assert(e.getMessage.contains("graft manifest MERGE"),
        s"expected the graft rejection, got: ${e.getMessage}")
      assert(e.getMessage.contains(needle),
        s"expected '$needle' in: ${e.getMessage}")
    }

    // target-dependent update
    rejected(s"""MERGE INTO graft_cat.`$dir` t USING merge_src_bad s
      ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET k = s.k, s = s.s, v = t.v + s.v
      WHEN NOT MATCHED THEN INSERT *""", "reads the target row")

    // UPDATE and INSERT disagree
    rejected(s"""MERGE INTO graft_cat.`$dir` t USING merge_src_bad s
      ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET k = s.k, s = s.s, v = s.v + 1
      WHEN NOT MATCHED THEN INSERT (k, s, v) VALUES (s.k, s.s, s.v)""",
      "disagree on column")

    // conditional matched clause
    rejected(s"""MERGE INTO graft_cat.`$dir` t USING merge_src_bad s
      ON t.k = s.k
      WHEN MATCHED AND s.v > 100 THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""", "unconditional")

    // NOT MATCHED BY SOURCE
    rejected(s"""MERGE INTO graft_cat.`$dir` t USING merge_src_bad s
      ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *
      WHEN NOT MATCHED BY SOURCE THEN DELETE""", "BY SOURCE")

    // non-equality merge condition
    rejected(s"""MERGE INTO graft_cat.`$dir` t USING merge_src_bad s
      ON t.k < s.k
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""", "equality")

    // no failed statement committed anything
    assert(version(dir) == 1)
  }

  test("UPDATE: bounded read-modify-write, one version, history intact") {
    val dir = freshStore()
    spark.sql(s"UPDATE graft_cat.`$dir` SET v = v + 1, s = 'U' WHERE k IN (1, 3)")
    assert(version(dir) == 2, "one UPDATE = one new version")
    val rows = spark.read.format(Fmt).option("path", dir).load()
      .orderBy("k").as[(Long, String, Long)].collect().toSeq
    assert(rows == Seq((1L, "U", 11L), (2L, "b", 20L), (3L, "U", 31L), (4L, "d", 40L)))
    // pre-update snapshot intact (merge-on-read, data files untouched)
    assert(spark.read.format(Fmt).option("path", dir)
      .option("version", "1").load()
      .filter(col("k") === 1L).select("v").as[Long].head() == 10L)
  }

  test("UPDATE shapes a request-sized commit can't express are rejected") {
    val dir = freshStore()
    def rejected(sql: String, needle: String): Unit = {
      val e = intercept[Exception](spark.sql(sql))
      assert(e.getMessage.contains("graft manifest UPDATE") &&
        e.getMessage.contains(needle),
        s"expected '$needle' in: ${e.getMessage}")
    }
    // unbounded (no WHERE) — a table rewrite in statement's clothing
    rejected(s"UPDATE graft_cat.`$dir` SET v = v + 1", "no WHERE")
    // non-key predicate
    rejected(s"UPDATE graft_cat.`$dir` SET v = 0 WHERE v > 15", "not an integral-key")
    // key reassignment (tombstone and replacement would disagree)
    rejected(s"UPDATE graft_cat.`$dir` SET k = k + 100 WHERE k = 1", "cannot be")
    assert(version(dir) == 1, "no failed statement committed")
  }

  test("VERSION AS OF resolves the pinned snapshot") {
    val dir = freshStore() // v1: 4 rows
    spark.sql(s"DELETE FROM graft_cat.`$dir` WHERE k IN (1, 2, 3)") // v2: 1 row
    assert(spark.sql(s"SELECT count(*) FROM graft_cat.`$dir` VERSION AS OF 1")
      .as[Long].head() == 4L)
    assert(spark.sql(s"SELECT count(*) FROM graft_cat.`$dir`")
      .as[Long].head() == 1L)
    intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_cat.`$dir` VERSION AS OF 99").collect()
    }
  }

  test("TIMESTAMP AS OF resolves via recorded, monotonic commit wall-times") {
    val dir = freshStore() // v1: 4 rows
    spark.sql(s"DELETE FROM graft_cat.`$dir` WHERE k IN (1, 2, 3)") // v2: 1 row
    val ts1 = ManifestTable.commitTimeOf(dir, 1).get
    val ts2 = ManifestTable.commitTimeOf(dir, 2).get
    assert(ts2 > ts1, "commit stamps must be strictly monotonic per table")
    // exactly v1's instant → v1; v2's instant → v2; between → still v1
    assert(spark.sql(s"SELECT count(*) FROM graft_cat.`$dir` " +
      s"TIMESTAMP AS OF timestamp_millis(${ts1}L)").as[Long].head() == 4L)
    assert(spark.sql(s"SELECT count(*) FROM graft_cat.`$dir` " +
      s"TIMESTAMP AS OF timestamp_millis(${ts2}L)").as[Long].head() == 1L)
    if (ts2 > ts1 + 1)
      assert(spark.sql(s"SELECT count(*) FROM graft_cat.`$dir` " +
        s"TIMESTAMP AS OF timestamp_millis(${ts2 - 1}L)").as[Long].head() == 4L)
    // pre-table time fails loudly, never a nearest-version guess
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_cat.`$dir` " +
        s"TIMESTAMP AS OF timestamp_millis(${ts1 - 1}L)").collect()
    }
    assert(e.getMessage.contains("before the earliest retained commit"),
      s"got: ${e.getMessage}")
    // the DataFrame read path resolves the same stamps
    assert(spark.read.format(Fmt).option("path", dir)
      .option("timestampMs", ts1.toString).load().count() == 4L)
    intercept[Exception] {
      spark.read.format(Fmt).option("path", dir)
        .option("timestampMs", ts1.toString).option("version", "1").load()
        .count()
    }
  }

  test("INSERT INTO ... SELECT appends one version through the catalog") {
    val dir = freshStore()
    Seq((9L, "i", 90L)).toDF("k", "s", "v").createOrReplaceTempView("ins_src")
    spark.sql(s"INSERT INTO graft_cat.`$dir` SELECT * FROM ins_src")
    assert(version(dir) == 2)
    assert(spark.read.format(Fmt).option("path", dir).load().count() == 5L)
  }

  test("catalog: unknown path is NoSuchTable; mutation DDL beyond CREATE stays closed") {
    spark.conf.set("spark.sql.catalog.graft_cat", "graft.sources.GraftCatalog")
    intercept[Exception] {
      spark.sql("SELECT * FROM graft_cat.`/nonexistent/graft/store`").collect()
    }
    // CREATE TABLE is supported since round 14 (ManifestCtasSpec); the
    // destructive statements stay deliberately closed
    val dir = java.nio.file.Files
      .createTempDirectory("graft_sql_ddl").toString + "/t"
    spark.sql(s"CREATE TABLE graft_cat.`$dir` (k BIGINT)")
    // INSERT OVERWRITE routes through the truncating write: the new
    // version lists only the new rows, the old snapshot still travels
    spark.sql(s"INSERT INTO graft_cat.`$dir` VALUES (1), (2)")
    // DROP refuses once the table has ever held data (the only
    // droppable shape is the never-written empty create — CTAS cleanup)
    intercept[Exception] {
      spark.sql(s"DROP TABLE graft_cat.`$dir`")
    }
    spark.sql(s"INSERT OVERWRITE graft_cat.`$dir` VALUES (9)")
    import spark.implicits._
    assert(spark.sql(s"SELECT k FROM graft_cat.`$dir`")
      .as[Long].collect().toSeq == Seq(9L))
    assert(spark.sql(s"SELECT COUNT(*) FROM graft_cat.`$dir` VERSION AS OF 2")
      .as[Long].head() == 2L)
  }

  test("ALTER TABLE ADD COLUMN widens the schema; old rows null-pad; history intact") {
    val dir = freshStore()
    spark.sql(s"ALTER TABLE graft_cat.`$dir` ADD COLUMN prio BIGINT")
    assert(version(dir) == 2, "ALTER commits one version")
    // the catalog serves the widened schema and old rows null-pad
    val t = spark.sql(s"SELECT k, prio FROM graft_cat.`$dir` ORDER BY k")
    assert(t.columns.toSeq == Seq("k", "prio"))
    assert(t.collect().forall(_.isNullAt(1)), "pre-alter rows must null-pad")
    // new-schema appends land values; old files still decode
    spark.sql(s"INSERT INTO graft_cat.`$dir` VALUES (9, 'z', 90, 5)")
    val after = spark.sql(
      s"SELECT SUM(v) AS sv, SUM(coalesce(prio, 0)) AS sp FROM graft_cat.`$dir`")
      .as[(Long, Long)].head()
    assert(after == ((190L, 5L)))
    // time travel pins the FILE SET; the schema is the table's current
    // (wide) DDL — pre-alter rows null-pad, the store's stated
    // evolution contract (ManifestEvolutionSpec) — and BOTH time-travel
    // spellings serve the SAME schema (round 16: the catalog previously
    // served the pinned version's narrow DDL)
    val v1 = spark.read.format(Fmt).option("path", dir)
      .option("version", "1").load()
    assert(v1.columns.toSeq == Seq("k", "s", "v", "prio"))
    assert(v1.count() == 4L && v1.filter(col("prio").isNull).count() == 4L)
    val v1Sql = spark.sql(s"SELECT * FROM graft_cat.`$dir` VERSION AS OF 1")
    assert(v1Sql.columns.toSeq == Seq("k", "s", "v", "prio"),
      "VERSION AS OF must serve the same (current) schema as .option(version)")
    assert(v1Sql.count() == 4L &&
      v1Sql.filter(col("prio").isNull).count() == 4L)
    // multi-add in one statement, left-to-right
    spark.sql(s"ALTER TABLE graft_cat.`$dir` ADD COLUMNS (a BIGINT, b STRING)")
    assert(spark.table(s"graft_cat.`$dir`").columns.toSeq ==
      Seq("k", "s", "v", "prio", "a", "b"))
  }

  test("ALTER TABLE: everything but trailing nullable ADD COLUMN is rejected") {
    val dir = freshStore()
    def rejects(sql: String, needle: String): Unit = {
      val e = intercept[Exception](spark.sql(sql))
      assert(e.getMessage.contains(needle),
        s"'$sql' should reject with '$needle', got: ${e.getMessage}")
    }
    rejects(s"ALTER TABLE graft_cat.`$dir` DROP COLUMN v", "rejected")
    rejects(s"ALTER TABLE graft_cat.`$dir` RENAME COLUMN v TO w", "rejected")
    rejects(s"ALTER TABLE graft_cat.`$dir` ALTER COLUMN v TYPE STRING", "rejected")
    rejects(s"ALTER TABLE graft_cat.`$dir` ADD COLUMN x BIGINT FIRST", "trailing-only")
    rejects(s"ALTER TABLE graft_cat.`$dir` ADD COLUMN x BIGINT AFTER k", "trailing-only")
    rejects(s"ALTER TABLE graft_cat.`$dir` ADD COLUMN x BIGINT NOT NULL", "nullable")
    rejects(s"ALTER TABLE graft_cat.`$dir` ADD COLUMN k BIGINT", "already exists")
    // an array column CAN be added (the parquet files hold it); the
    // retired codec property refuses at create and at a layout change
    spark.sql(s"ALTER TABLE graft_cat.`$dir` ADD COLUMN emb ARRAY<FLOAT>")
    assert(spark.table(s"graft_cat.`$dir`").schema("emb").dataType ==
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType, true))
    val tdir = java.nio.file.Files
      .createTempDirectory("graft_sql_alter_text").toString + "/t"
    rejects(s"CREATE TABLE graft_cat.`$tdir` (k BIGINT) TBLPROPERTIES ('codec'='text')",
      "parquet only")
    rejects(s"ALTER TABLE graft_cat.`$dir` SET TBLPROPERTIES ('codec'='text')",
      "parquet only")
  }
}
