package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.GraphLoader
import graft.sources.ManifestTable

/** Declarative graph loader: the JSON-built pipeline must equal the
  * code-level graph row for row, and every malformed-spec class must be
  * rejected at LOAD time with a named error.
  */
class GraphLoaderSpec extends AnyFunSuite with SparkSessionFixture {

  private val sf = "/root/testdata/sf0.001"

  /** An incremental node's state: its store's current snapshot. */
  private def store(state: java.nio.file.Path): ManifestTable.Snapshot =
    ManifestTable.Snapshot.at(state.toString, None)

  test("loader-built pipeline == code-level pipeline") {
    val spec = GraphLoader.fromResource("/graphs/revenue_by_segment.json")
    val got = GraphLoader.produce(spec, spark, sf)
      .collect().map(_.toString).toSeq
    val want = ops.Pipelines.pipelineRevenueBySegment(Tables(spark, sf))
      .collect().map(_.toString).toSeq
    assert(got.nonEmpty && got == want)
  }

  test("params substitute into SQL and unresolved params are rejected") {
    val spec = GraphLoader.fromResource("/graphs/revenue_by_segment.json")
    assert(spec.nodes.find(_.name == "big_orders").get.sql.contains("150000.0"))
    val bad = """{"name":"g","target":"a","nodes":[
      {"name":"src","kind":"source","table":"orders"},
      {"name":"a","kind":"sql","deps":["src"],"sql":"SELECT ${nope} FROM src"}]}"""
    val e = intercept[IllegalArgumentException](GraphLoader.fromJson(bad))
    assert(e.getMessage.contains("unresolved param"))
  }

  test("malformed specs are rejected by class") {
    def err(json: String): String =
      intercept[IllegalArgumentException](GraphLoader.fromJson(json)).getMessage
    assert(err("""not json""").contains("unparseable"))
    assert(err("""{"name":"g","target":"t"}""").contains("nodes"))
    assert(err("""{"name":"g","target":"t","nodes":[
      {"name":"a","kind":"wat"}]}""").contains("unknown kind"))
    assert(err("""{"name":"g","target":"a","nodes":[
      {"name":"a","kind":"source","table":"no_such_table"}]}""")
      .contains("unknown source table"))
    assert(err("""{"name":"g","target":"b","nodes":[
      {"name":"a","kind":"source","table":"orders"},
      {"name":"b","kind":"sql","deps":["zzz"],"sql":"SELECT 1"}]}""")
      .contains("unknown dep"))
    assert(err("""{"name":"g","target":"a","nodes":[
      {"name":"a","kind":"source","table":"orders"},
      {"name":"a","kind":"source","table":"orders"}]}""").contains("duplicate"))
    assert(err("""{"name":"g","target":"a","nodes":[
      {"name":"a","kind":"sql","deps":["b"],"sql":"SELECT 1"},
      {"name":"b","kind":"sql","deps":["a"],"sql":"SELECT 1"}]}""")
      .contains("cycle"))
    assert(err("""{"name":"g","target":"zzz","nodes":[
      {"name":"a","kind":"source","table":"orders"}]}""")
      .contains("unknown target"))
    assert(err("""{"name":"g","target":"a b","nodes":[
      {"name":"a b","kind":"source","table":"orders"}]}""")
      .contains("plain identifier"))
    // change-feed manifest nodes: non-boolean flag, starting_version
    // without the flag, and a snapshot pin alongside a change feed are
    // all spec errors, not precedence rules
    assert(err("""{"name":"g","target":"a","nodes":[
      {"name":"a","kind":"manifest","path":"/p","change_feed":"yes"}]}""")
      .contains("must be a boolean"))
    assert(err("""{"name":"g","target":"a","nodes":[
      {"name":"a","kind":"manifest","path":"/p","starting_version":2}]}""")
      .contains("requires 'change_feed: true'"))
    assert(err("""{"name":"g","target":"a","nodes":[
      {"name":"a","kind":"manifest","path":"/p","change_feed":true,
       "starting_version":0}]}""")
      .contains("positive integer"))
    assert(err("""{"name":"g","target":"a","nodes":[
      {"name":"a","kind":"manifest","path":"/p","change_feed":true,
       "version":2}]}""")
      .contains("mutually exclusive"))
  }

  test("the YAML front-end parses to the identical spec as the JSON one") {
    val y = GraphLoader.fromResource("/graphs/revenue_by_segment.yml")
    val j = GraphLoader.fromResource("/graphs/revenue_by_segment.json")
    assert(y == j)
    val e = intercept[IllegalArgumentException](
      GraphLoader.fromYaml("nodes: [\n  - {name: ["))
    assert(e.getMessage.contains("unparseable YAML"))
  }

  test("query nodes expose registered operators to the graph") {
    val spec = GraphLoader.fromJson("""{"name":"g3","target":"top","nodes":[
      {"name":"q1","kind":"query","query":"agg_hash_q1"},
      {"name":"top","kind":"sql","deps":["q1"],
       "sql":"SELECT l_returnflag, l_linestatus FROM q1 ORDER BY 1, 2"}]}""")
    val got = GraphLoader.produce(spec, spark, sf)
      .collect().map(_.toString).toSeq
    val want = Registry.all("agg_hash_q1")(spark, sf)
      .select("l_returnflag", "l_linestatus")
      .orderBy("l_returnflag", "l_linestatus")
      .collect().map(_.toString).toSeq
    assert(got.nonEmpty && got == want)
    val e = intercept[IllegalArgumentException](
      GraphLoader.fromJson("""{"name":"g","target":"a","nodes":[
        {"name":"a","kind":"query","query":"zzz_nope"}]}"""))
    assert(e.getMessage.contains("unknown registry query"))
  }

  test("incremental nodes consume a block feed exactly once through the loader") {
    import java.nio.file.Files
    val feedDir = Files.createTempDirectory("gl_feed")
    val stateDir = Files.createTempDirectory("gl_state")
    def writeBlock(name: String, vals: Seq[(Int, Long)]): Unit = {
      val staging = Files.createTempDirectory("gl_stage")
      import spark.implicits._
      vals.toDF("k", "v").coalesce(1)
        .write.mode("overwrite").parquet(staging.toString)
      val part = staging.toFile.listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, feedDir.resolve(name))
    }
    writeBlock("b0.parquet", Seq((1, 10L), (2, 5L)))
    val spec = GraphLoader.fromYaml(
      s"""name: g
         |target: totals
         |nodes:
         |  - name: store
         |    kind: incremental
         |    feed: $${feed_dir}
         |    state: $${state_dir}
         |    partial_sql: "SELECT k, SUM(v) AS s FROM block GROUP BY k"
         |  - name: totals
         |    kind: sql
         |    deps: [store]
         |    sql: "SELECT k, CAST(SUM(s) AS BIGINT) AS s FROM store GROUP BY k ORDER BY k"
         |""".stripMargin,
      Map("feed_dir" -> feedDir.toString, "state_dir" -> stateDir.toString))
    val r1 = GraphLoader.produce(spec, spark, sf)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    val st1 = store(stateDir)
    assert(st1.names == Set("b0.parquet") && st1.version == 1)
    assert(r1 == Seq((1, 10L), (2, 5L)))
    // no new arrivals: a pure read — same result, no new store version
    val r2 = GraphLoader.produce(spec, spark, sf)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(r2 == r1)
    assert(store(stateDir).version == 1)
    // one new block: ONLY it is consumed; totals now include both
    writeBlock("b1.parquet", Seq((2, 7L)))
    val r3 = GraphLoader.produce(spec, spark, sf)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    val st3 = store(stateDir)
    assert(st3.names == Set("b0.parquet", "b1.parquet") && st3.version == 2)
    assert(r3 == Seq((1, 10L), (2, 12L)))
  }

  test("materialize nodes persist a block once and round-trip every format") {
    import java.nio.file.Files
    def graph(fmt: String, dir: String): GraphLoader.GraphSpec =
      GraphLoader.fromYaml(
        s"""name: g
           |target: out
           |nodes:
           |  - name: orders
           |    kind: source
           |    table: orders
           |  - name: big
           |    kind: sql
           |    deps: [orders]
           |    sql: "SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate, o_orderpriority FROM orders WHERE o_totalprice > 150000.0"
           |  - name: blk
           |    kind: materialize
           |    deps: [big]
           |    format: $fmt
           |    path: $${p}
           |  - name: out
           |    kind: sql
           |    deps: [blk]
           |    sql: "SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DOUBLE) AS tp, CAST(o_orderdate AS STRING) AS d, o_orderpriority FROM blk ORDER BY o_orderkey"
           |""".stripMargin,
        Map("p" -> dir))
    // reference result through a formatless graph (materialize removed)
    def direct: Seq[String] = {
      val spec = GraphLoader.fromYaml(
        """name: g0
          |target: out
          |nodes:
          |  - name: orders
          |    kind: source
          |    table: orders
          |  - name: big
          |    kind: sql
          |    deps: [orders]
          |    sql: "SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate, o_orderpriority FROM orders WHERE o_totalprice > 150000.0"
          |  - name: out
          |    kind: sql
          |    deps: [big]
          |    sql: "SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DOUBLE) AS tp, CAST(o_orderdate AS STRING) AS d, o_orderpriority FROM big ORDER BY o_orderkey"
          |""".stripMargin)
      GraphLoader.produce(spec, spark, sf).collect().map(_.toString).toSeq
    }
    val want = direct
    assert(want.nonEmpty)
    Seq("parquet", "csv", "json", "orc").foreach { fmt =>
      val dir = Files.createTempDirectory(s"gl_mat_$fmt").resolve("blk")
      val got = GraphLoader.produce(graph(fmt, dir.toString), spark, sf)
        .collect().map(_.toString).toSeq
      assert(got == want, s"format $fmt round trip diverged")
      // exactly-once: the second produce reuses the block (marker mtime
      // unchanged), results identical
      val success = dir.resolve("_SUCCESS")
      val m1 = Files.getLastModifiedTime(success)
      val again = GraphLoader.produce(graph(fmt, dir.toString), spark, sf)
        .collect().map(_.toString).toSeq
      assert(again == want && Files.getLastModifiedTime(success) == m1,
        s"format $fmt was rewritten or diverged on the second produce")
    }
  }

  test("materialize node specs are validated at load") {
    def err(json: String): String =
      intercept[IllegalArgumentException](GraphLoader.fromJson(json)).getMessage
    assert(err("""{"name":"g","target":"m","nodes":[
      {"name":"a","kind":"source","table":"orders"},
      {"name":"m","kind":"materialize","deps":["a"],"format":"xlsx","path":"/x"}]}""")
      .contains("unknown format"))
    assert(err("""{"name":"g","target":"m","nodes":[
      {"name":"a","kind":"source","table":"orders"},
      {"name":"b","kind":"source","table":"customer"},
      {"name":"m","kind":"materialize","deps":["a","b"],"path":"/x"}]}""")
      .contains("exactly one dep"))
    assert(err("""{"name":"g","target":"m","nodes":[
      {"name":"a","kind":"source","table":"orders"},
      {"name":"m","kind":"materialize","deps":["a"]}]}""")
      .contains("path"))
  }

  test("incremental node specs are validated at load") {
    def err(json: String): String =
      intercept[IllegalArgumentException](GraphLoader.fromJson(json)).getMessage
    assert(err("""{"name":"g","target":"a","nodes":[
      {"name":"a","kind":"incremental","feed":"/x","state":"/y"}]}""")
      .contains("partial_sql"))
    assert(err("""{"name":"g","target":"a","nodes":[
      {"name":"a","kind":"incremental","feed":"${nope}","state":"/y",
       "partial_sql":"SELECT 1 FROM block"}]}""")
      .contains("unresolved param"))
    // caller params bind placeholders the spec leaves open
    val ok = GraphLoader.fromJson("""{"name":"g","target":"a","nodes":[
      {"name":"a","kind":"incremental","feed":"${f}","state":"/y",
       "partial_sql":"SELECT 1 FROM block"}]}""", Map("f" -> "/data/feed"))
    assert(ok.nodes.head.feed == "/data/feed")
  }

  test("declared schemas on source nodes: loose coerces, strict fails the run") {
    val loose = GraphLoader.fromYaml(
      """name: g
        |target: ev
        |nodes:
        |  - name: ev
        |    kind: source
        |    table: events
        |    schema: /schemas/event.yml
        |    cast: loose
        |""".stripMargin)
    val df = GraphLoader.produce(loose, spark, sf)
    // the node's shape IS the declared shape
    assert(df.schema.fieldNames.toSeq ==
      Seq("event_id", "ts", "user_id", "event_type", "value", "props"))
    assert(df.schema("value").dataType ==
      org.apache.spark.sql.types.DecimalType(4, 2))
    assert(df.schema("user_id").dataType ==
      org.apache.spark.sql.types.IntegerType)
    // violations flow as NULL, clean values survive
    val n = df.count()
    val nulls = df.filter(df("value").isNull || df("event_type").isNull).count()
    assert(n > 0 && nulls > 0 && nulls < n)
    // strict: same graph, cast: strict — the corpus has real violations,
    // so the RUN (not the load) must fail
    val strict = GraphLoader.fromYaml(
      """name: g
        |target: ev
        |nodes:
        |  - name: ev
        |    kind: source
        |    table: events
        |    schema: /schemas/event.yml
        |    cast: strict
        |""".stripMargin)
    val e = intercept[Exception] {
      GraphLoader.produce(strict, spark, sf).count()
    }
    assert(e.getMessage != null)
    // load-time validation: unknown cast level, cast without schema,
    // missing schema resource
    def err(y: String): String =
      intercept[IllegalArgumentException](GraphLoader.fromYaml(y)).getMessage
    assert(err("""name: g
        |target: a
        |nodes:
        |  - {name: a, kind: source, table: events, schema: /schemas/event.yml, cast: wat}
        |""".stripMargin).contains("unknown cast level"))
    assert(err("""name: g
        |target: a
        |nodes:
        |  - {name: a, kind: source, table: events, cast: loose}
        |""".stripMargin).contains("'cast' requires 'schema'"))
    assert(err("""name: g
        |target: a
        |nodes:
        |  - {name: a, kind: source, table: events, schema: /schemas/zzz.yml}
        |""".stripMargin).contains("resource not found"))
  }

  test("compact_after folds the store declaratively (live-version set pinned)") {
    import java.nio.file.Files
    val feedDir = Files.createTempDirectory("gl_cfeed")
    val stateDir = Files.createTempDirectory("gl_cstate")
    def writeBlock(name: String, vals: Seq[(Int, Long)]): Unit = {
      val staging = Files.createTempDirectory("gl_cstage")
      import spark.implicits._
      vals.toDF("k", "v").coalesce(1)
        .write.mode("overwrite").parquet(staging.toString)
      val part = staging.toFile.listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, feedDir.resolve(name))
    }
    def versions(): Seq[Int] = ManifestTable.history(stateDir.toString).map(_.version)
    val spec = GraphLoader.fromYaml(
      s"""name: g
         |target: totals
         |nodes:
         |  - name: store
         |    kind: incremental
         |    feed: $${feed_dir}
         |    state: $${state_dir}
         |    partial_sql: "SELECT k, SUM(v) AS s FROM block GROUP BY k"
         |    compact_after: 1
         |    merge_sql: "SELECT k, CAST(SUM(s) AS BIGINT) AS s FROM store GROUP BY k"
         |  - name: totals
         |    kind: sql
         |    deps: [store]
         |    sql: "SELECT k, CAST(SUM(s) AS BIGINT) AS s FROM store GROUP BY k ORDER BY k"
         |""".stripMargin,
      Map("feed_dir" -> feedDir.toString, "state_dir" -> stateDir.toString))
    writeBlock("b0.parquet", Seq((1, 10L), (2, 5L)))
    val r1 = GraphLoader.produce(spec, spark, sf)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    // one live file: under the threshold, no compact fired
    val st1 = store(stateDir)
    assert(st1.version == 1 && st1.dataFiles.size == 1 && versions() == Seq(1))
    assert(r1 == Seq((1, 10L), (2, 5L)))
    // second block: run commits v2 (live files=2 > 1), the SPEC-declared
    // policy folds to v3 and vacuums — zero Scala between produces
    writeBlock("b1.parquet", Seq((2, 7L), (3, 1L)))
    val r2 = GraphLoader.produce(spec, spark, sf)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    val st2 = store(stateDir)
    assert(st2.version == 3 && st2.dataFiles.size == 1, s"got v${st2.version}")
    assert(versions() == Seq(3), s"stale versions survive: ${versions()}")
    assert(st2.names == Set("b0.parquet", "b1.parquet"))
    assert(r2 == Seq((1, 10L), (2, 12L), (3, 1L)))
    // merge_sql collapsed partials to the key grain: v3 holds 3 rows
    assert(spark.read.format("graft.sources.ManifestTable")
      .option("path", stateDir.toString).option("version", "3").load().count() == 3L)
    // load-time validation of the policy fields
    def err(y: String): String =
      intercept[IllegalArgumentException](GraphLoader.fromYaml(y)).getMessage
    assert(err("""name: g
        |target: a
        |nodes:
        |  - {name: a, kind: incremental, feed: /x, state: /y,
        |     partial_sql: "SELECT 1 FROM block", compact_after: 0}
        |""".stripMargin).contains("positive integer"))
    assert(err("""name: g
        |target: a
        |nodes:
        |  - {name: a, kind: incremental, feed: /x, state: /y,
        |     partial_sql: "SELECT 1 FROM block", compact_after: wat}
        |""".stripMargin).contains("positive integer"))
    assert(err("""name: g
        |target: a
        |nodes:
        |  - {name: a, kind: incremental, feed: /x, state: /y,
        |     partial_sql: "SELECT 1 FROM block",
        |     merge_sql: "SELECT 1 FROM store"}
        |""".stripMargin).contains("requires 'compact_after'"))
  }

  test("store statistics are current after each policy compact with no ANALYZE") {
    import java.nio.file.Files
    val feedDir = Files.createTempDirectory("gl_afeed")
    val stateDir = Files.createTempDirectory("gl_astate")
    def writeBlock(name: String, vals: Seq[(Int, Long)]): Unit = {
      val staging = Files.createTempDirectory("gl_astage")
      import spark.implicits._
      vals.toDF("k", "v").coalesce(1)
        .write.mode("overwrite").parquet(staging.toString)
      val part = staging.toFile.listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, feedDir.resolve(name))
    }
    val spec = GraphLoader.fromYaml(
      s"""name: g
         |target: store
         |nodes:
         |  - name: store
         |    kind: incremental
         |    feed: $${feed_dir}
         |    state: $${state_dir}
         |    partial_sql: "SELECT k, SUM(v) AS s FROM block GROUP BY k"
         |    compact_after: 1
         |    merge_sql: "SELECT k, CAST(SUM(s) AS BIGINT) AS s FROM store GROUP BY k"
         |""".stripMargin,
      Map("feed_dir" -> feedDir.toString, "state_dir" -> stateDir.toString))
    // the store node's row count as a CBO session plans it
    val cbo = ops.Cbo.cboSession(spark)
    def rowCount(): Option[BigInt] =
      cbo.read.format("graft.sources.ManifestTable").option("path", stateDir.toString)
        .load().queryExecution.optimizedPlan.stats.rowCount
    writeBlock("b0.parquet", Seq((1, 10L), (2, 5L)))
    GraphLoader.produce(spec, spark, sf).collect()
    writeBlock("b1.parquet", Seq((2, 7L), (3, 1L)))
    GraphLoader.produce(spec, spark, sf).collect()
    // the policy compact fired: the folded store holds 3 keys
    assert(rowCount().contains(BigInt(3)), s"expected rowCount 3, got ${rowCount()}")
    writeBlock("b2.parquet", Seq((4, 2L), (5, 9L), (6, 4L)))
    GraphLoader.produce(spec, spark, sf).collect()
    // a later append+compact cycle is planned from the new count (stale
    // day-one counts would still read 3 here)
    assert(rowCount().contains(BigInt(6)), s"expected rowCount 6, got ${rowCount()}")
    // `analyze` is no incremental field: a spec naming it fails at load
    def err(y: String): String =
      intercept[IllegalArgumentException](GraphLoader.fromYaml(y)).getMessage
    assert(err("""name: g
        |target: a
        |nodes:
        |  - {name: a, kind: incremental, feed: /x, state: /y,
        |     partial_sql: "SELECT 1 FROM block", compact_after: 1,
        |     analyze: true}
        |""".stripMargin).contains("unknown field"))
  }

  test("declared schemas on sql and materialize outputs") {
    import java.nio.file.Files
    // sql node output contract: the aggregate leaves the node in the
    // DECLARED shape — domain violations nulled, n_ev narrowed to 32 bit
    val df = GraphLoader.produce(
      GraphLoader.fromResource("/graphs/daily_output_schema.yml"), spark, sf)
    assert(df.schema.fieldNames.toSeq ==
      Seq("day", "event_type", "n_ev", "sum_cents"))
    assert(df.schema("n_ev").dataType == org.apache.spark.sql.types.IntegerType)
    val rows = df.collect()
    assert(rows.nonEmpty)
    // the 'error' groups surfaced through the declared domain as the
    // downstream fold's visible bucket
    assert(rows.exists(_.getString(1) == "__bad__"))
    assert(rows.exists(_.getString(1) == "click"))
    // materialize with a declared schema: the block ON DISK carries the
    // declared shape (basis casts at the materialization hop)
    val blk = Files.createTempDirectory("gl_mat_schema").resolve("blk")
    val matSpec = GraphLoader.fromYaml(
      s"""name: g
         |target: out
         |nodes:
         |  - name: ev
         |    kind: source
         |    table: events
         |  - name: blk
         |    kind: materialize
         |    deps: [ev]
         |    format: parquet
         |    path: $${p}
         |    schema: /schemas/event.yml
         |    cast: loose
         |  - name: out
         |    kind: sql
         |    deps: [blk]
         |    sql: "SELECT COUNT(*) AS n, COUNT(value) AS n_val FROM blk"
         |""".stripMargin,
      Map("p" -> blk.toString))
    val out = GraphLoader.produce(matSpec, spark, sf).collect().head
    assert(out.getLong(0) > out.getLong(1), "loose cast nulled no value")
    val onDisk = spark.read.parquet(blk.toString)
    assert(onDisk.schema("value").dataType ==
      org.apache.spark.sql.types.DecimalType(4, 2))
    assert(onDisk.schema("user_id").dataType ==
      org.apache.spark.sql.types.IntegerType)
    // strict on a sql OUTPUT port fails the run when the statement's
    // result violates the declared contract
    val strict = GraphLoader.fromYaml(
      """name: g
        |target: daily
        |nodes:
        |  - name: events
        |    kind: source
        |    table: events
        |  - name: daily
        |    kind: sql
        |    deps: [events]
        |    sql: "SELECT CAST(ts AS DATE) AS day, event_type, COUNT(*) AS n_ev, CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_cents FROM events WHERE ts IS NOT NULL AND value IS NOT NULL AND event_type IS NOT NULL GROUP BY 1, 2"
        |    schema: /schemas/event_daily.yml
        |    cast: strict
        |""".stripMargin)
    val e = intercept[Exception] {
      GraphLoader.produce(strict, spark, sf).count()
    }
    assert(e.getMessage != null)
  }

  test("fields a node kind does not consume are rejected at load") {
    def err(y: String): String =
      intercept[IllegalArgumentException](GraphLoader.fromYaml(y)).getMessage
    // a silently-dropped contract (cast on a query node) or policy
    // (compact_after on a sql node) must fail statically, like every
    // other malformed-spec class
    assert(err("""name: g
        |target: a
        |nodes:
        |  - {name: a, kind: query, query: agg_hash_q1, schema: /schemas/event.yml, cast: strict}
        |""".stripMargin).contains("unknown field"))
    assert(err("""name: g
        |target: b
        |nodes:
        |  - {name: a, kind: source, table: orders}
        |  - {name: b, kind: sql, deps: [a], sql: "SELECT 1 FROM a", compact_after: 2}
        |""".stripMargin).contains("unknown field"))
    // typos are the same class
    assert(err("""name: g
        |target: a
        |nodes:
        |  - {name: a, kind: incremental, feed: /x, state: /y, partialsql: "SELECT 1"}
        |""".stripMargin).contains("unknown field"))
  }

  test("a declared schema binds blocks written BEFORE the spec declared it") {
    import java.nio.file.Files
    val blk = Files.createTempDirectory("gl_preschema").resolve("blk")
    def spec(withSchema: Boolean): GraphLoader.GraphSpec = GraphLoader.fromYaml(
      s"""name: g
         |target: out
         |nodes:
         |  - name: ev
         |    kind: source
         |    table: events
         |  - name: blk
         |    kind: materialize
         |    deps: [ev]
         |    format: parquet
         |    path: $${p}
         |${if (withSchema) "    schema: /schemas/event.yml\n    cast: loose" else ""}
         |  - name: out
         |    kind: sql
         |    deps: [blk]
         |    sql: "SELECT COUNT(*) AS n, COUNT(value) AS n_val FROM blk"
         |""".stripMargin,
      Map("p" -> blk.toString))
    // first produce writes the block UNCASTED (no schema declared yet)
    val before = GraphLoader.produce(spec(withSchema = false), spark, sf).collect().head
    assert(before.getLong(0) == before.getLong(1), "uncasted block already nulled")
    // the spec then declares the schema; write-once keeps the old bytes,
    // but the read-side coercion must still deliver the declared shape —
    // overflow values arrive as NULL downstream
    val after = GraphLoader.produce(spec(withSchema = true), spark, sf).collect().head
    assert(after.getLong(0) == before.getLong(0), "row count changed")
    assert(after.getLong(0) > after.getLong(1),
      "declared schema did not bind on a pre-schema block")
  }

  test("an undeclared table reference in a sql node fails analysis") {
    // 'customer' exists in the engine but is NOT a declared dep of the
    // node — the private produce session must leave it unresolvable
    val spec = GraphLoader.fromJson("""{"name":"g2","target":"a","nodes":[
      {"name":"src","kind":"source","table":"orders"},
      {"name":"a","kind":"sql","deps":["src"],
       "sql":"SELECT * FROM src JOIN customer ON o_custkey = c_custkey"}]}""")
    intercept[org.apache.spark.sql.AnalysisException] {
      GraphLoader.produce(spec, spark, sf).collect()
    }
  }

  test("an undeclared PERSISTENT catalog table is also unresolvable") {
    // newSession() shares SharedState, so a saveAsTable'd table WOULD
    // resolve by bare name without the scratch-current-database guard —
    // exactly the silent bypass of the declared-deps contract
    import spark.implicits._
    spark.sql("DROP TABLE IF EXISTS gl_persist_probe")
    Seq((1L, "x")).toDF("o_custkey", "z")
      .write.mode("overwrite").saveAsTable("gl_persist_probe")
    try {
      val spec = GraphLoader.fromJson("""{"name":"g4","target":"a","nodes":[
        {"name":"src","kind":"source","table":"orders"},
        {"name":"a","kind":"sql","deps":["src"],
         "sql":"SELECT * FROM src JOIN gl_persist_probe USING (o_custkey)"}]}""")
      intercept[org.apache.spark.sql.AnalysisException] {
        GraphLoader.produce(spec, spark, sf).collect()
      }
      // the caller's own session still sees its table, untouched
      assert(spark.table("gl_persist_probe").count() == 1L)
    } finally {
      spark.sql("DROP TABLE IF EXISTS gl_persist_probe"); ()
    }
  }

  test("observe: declared metrics are delivered exactly; result value-invisible") {
    import org.apache.spark.sql.functions._
    val spec = GraphLoader.fromResource("/graphs/revenue_observed.yml")
    val (df, reader) = GraphLoader.produceWithObservations(spec, spark, sf)
    val got = df.collect().map(_.toString).toSeq
    val want = GraphLoader.produce(
      GraphLoader.fromResource("/graphs/revenue_by_segment.yml"), spark, sf)
      .collect().map(_.toString).toSeq
    assert(got.nonEmpty && got == want, "the observation must not change values")
    val metrics = reader(df)
    assert(metrics.keySet == Set("big_orders"), metrics)
    val m = metrics("big_orders")
    val direct = Tables(spark, sf).orders
      .filter(col("o_totalprice") > 150000.0)
      .agg(count(lit(1)).as("n"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("s"))
      .head()
    assert(m.getAs[Long]("n_rows") == direct.getAs[Long]("n"), m)
    assert(m.getAs[Long]("sum_cents") == direct.getAs[Long]("s"), m)
  }

  test("manifest nodes read the row store; version pins a snapshot") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("gl_manifest").toString
    val fmt = "graft.sources.ManifestTable"
    Seq((1L, "a"), (2L, "b")).toDF("id", "s")
      .write.format(fmt).option("path", dir).mode("append").save() // v1
    Seq((3L, "c")).toDF("id", "s")
      .write.format(fmt).option("path", dir).mode("append").save() // v2
    def countVia(versionLine: String): Long = GraphLoader.produce(
      GraphLoader.fromYaml(
        s"""name: g
           |target: out
           |nodes:
           |  - {name: store, kind: manifest, path: "$dir"$versionLine}
           |  - {name: out, kind: sql, deps: [store],
           |     sql: "SELECT COUNT(*) AS n FROM store"}
           |""".stripMargin), spark, sf).head().getLong(0)
    assert(countVia("") == 3L, "unversioned = current snapshot")
    assert(countVia(", version: 1") == 2L, "version pins the snapshot")
    // wall-time addressing resolves through the commit stamps
    val t1 = graft.sources.ManifestTable.commitTimeOf(dir, 1).get
    assert(countVia(s", timestamp_ms: $t1") == 2L,
      "timestamp_ms pins the at-or-before snapshot")
  }

  test("manifest node specs are validated at load") {
    def err(y: String): String =
      intercept[IllegalArgumentException](GraphLoader.fromYaml(y)).getMessage
    assert(err(
      """name: g
        |target: a
        |nodes:
        |  - {name: a, kind: manifest, version: 1}
        |""".stripMargin).contains("path"))
    assert(err(
      """name: g
        |target: a
        |nodes:
        |  - {name: a, kind: manifest, path: /x, version: 0}
        |""".stripMargin).contains("positive integer"))
    assert(err(
      """name: g
        |target: a
        |nodes:
        |  - {name: a, kind: manifest, path: /x, table: nope}
        |""".stripMargin).contains("unknown field"))
    assert(err(
      """name: g
        |target: a
        |nodes:
        |  - {name: a, kind: manifest, path: /x, version: 2, timestamp_ms: 5}
        |""".stripMargin).contains("mutually exclusive"))
    assert(err(
      """name: g
        |target: a
        |nodes:
        |  - {name: a, kind: manifest, path: /x, timestamp_ms: 0}
        |""".stripMargin).contains("positive epoch-millis"))
  }

  test("observe specs are validated at load") {
    def err(y: String): String =
      intercept[IllegalArgumentException](GraphLoader.fromYaml(y)).getMessage
    // observe on a non-sql kind is an unknown field
    assert(err(
      """name: g
        |target: a
        |nodes:
        |  - {name: a, kind: source, table: orders, observe: {n: "count(1)"}}
        |""".stripMargin).contains("unknown field"))
    // metric name must be an identifier
    assert(err(
      """name: g
        |target: a
        |nodes:
        |  - {name: o, kind: source, table: orders}
        |  - name: a
        |    kind: sql
        |    deps: [o]
        |    sql: "SELECT * FROM o"
        |    observe: {"bad name": "count(1)"}
        |""".stripMargin).contains("not an identifier"))
    // empty mapping is rejected
    assert(err(
      """name: g
        |target: a
        |nodes:
        |  - {name: o, kind: source, table: orders}
        |  - name: a
        |    kind: sql
        |    deps: [o]
        |    sql: "SELECT * FROM o"
        |    observe: {}
        |""".stripMargin).contains("non-empty"))
  }
}
