package graft.pipeline

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Declarative node-graph loader — basis's `graph.yml` UX for this
  * engine: a JSON or YAML document declares named nodes (source tables
  * and templated-SQL data functions with typed input ports and
  * `${param}` parameters), and the loader wires them into a [[Pipeline]], which
  * composes lazy DataFrame transformations so Catalyst still sees ONE
  * fused plan — the declarative form adds zero execution layers.
  *
  * Spec shape:
  * {{{
  * { "name": "...", "target": "<node>", "params": {"k": "v"},
  *   "nodes": [
  *     {"name": "orders", "kind": "source", "table": "orders"},
  *     {"name": "big", "kind": "sql", "deps": ["orders"],
  *      "sql": "SELECT * FROM orders WHERE o_totalprice > ${min_total}"} ] }
  * }}}
  *
  * A `sql` node's statement references its declared deps as table names
  * (basis's stream/reference input ports). Each `produce` runs in its
  * OWN cloned session (`newSession()`: shared SparkContext, private
  * catalog), and each sql node registers exactly its declared deps as
  * temp views for the duration of its statement — so dep names resolve
  * as written with NO textual rewriting (a rewrite cannot tell a table
  * reference from a same-named column alias), concurrent graphs can't
  * collide, and an undeclared table reference fails analysis instead of
  * silently reading the caller's catalog. A `query` node references ANY
  * registered engine operator by name (basis's named-function node —
  * the whole §2.2 surface becomes graph-composable). An `incremental`
  * node consumes an immutable block feed through the exactly-once
  * [[BlockRuntime]] (basis's Environment semantic, declaratively): its
  * `partial_sql` maps newly-arrived blocks (view `block`) to partial
  * rows committed to the node's manifest store, and producing the node
  * reads that store — so re-producing the graph after new blocks arrive
  * processes ONLY those blocks. Malformed specs
  * (unknown kind, duplicate or missing nodes, a node name that is not a
  * plain identifier, unknown dep, source table, or registry query,
  * unresolved `${param}`, cyclic deps) are rejected at LOAD time with a
  * named error — GraphLoaderSpec pins each rejection.
  */
object GraphLoader {

  final case class NodeSpec(
      name: String, kind: String, table: String,
      deps: Seq[String], sql: String,
      feed: String = "", state: String = "",
      schema: String = "", cast: String = "",
      format: String = "", path: String = "",
      compactAfter: Int = 0, mergeSql: String = "",
      observe: Seq[(String, String)] = Seq.empty, snapshot: Int = 0,
      changeFeed: Boolean = false, startingVersion: Int = 1,
      snapshotTsMs: Long = 0L)

  final case class GraphSpec(
      name: String, target: String,
      params: Map[String, String], nodes: Seq[NodeSpec])

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"graph spec: $msg")

  /** Parse + statically validate a JSON graph spec. `extra` params are
    * caller-side bindings (runtime paths, dates) merged OVER the spec's
    * own `params` — the spec states defaults, the invocation overrides.
    */
  def fromJson(json: String, extra: Map[String, String] = Map.empty): GraphSpec =
    fromTree(
      try new ObjectMapper().readTree(json)
      catch { case e: Exception => fail(s"unparseable JSON: ${e.getMessage}") },
      extra)

  /** Parse + statically validate a YAML graph spec — the literal basis
    * `graph.yml` form; YAML is a JSON superset here, so both front-ends
    * share one tree walker and one validation pass.
    */
  def fromYaml(yaml: String, extra: Map[String, String] = Map.empty): GraphSpec =
    fromTree(
      try new com.fasterxml.jackson.dataformat.yaml.YAMLMapper().readTree(yaml)
      catch { case e: Exception => fail(s"unparseable YAML: ${e.getMessage}") },
      extra)

  private def fromTree(
      root: JsonNode, extra: Map[String, String] = Map.empty): GraphSpec = {
    if (root == null || !root.isObject) fail("top level must be an object")
    def str(n: JsonNode, field: String, where: String): String = {
      val v = n.get(field)
      if (v == null || !v.isTextual || v.asText.isEmpty)
        fail(s"$where: missing or non-string '$field'")
      v.asText
    }
    val name = str(root, "name", "graph")
    val target = str(root, "target", "graph")
    val params = Option(root.get("params")).map { p =>
      if (!p.isObject) fail("'params' must be an object")
      p.properties().asScala.map(e => e.getKey -> e.getValue.asText).toMap
    }.getOrElse(Map.empty[String, String]) ++ extra
    def subst(raw: String, where: String): String = {
      val s = params.foldLeft(raw) { case (acc, (k, v)) =>
        acc.replace("${" + k + "}", v)
      }
      "\\$\\{[^}]*\\}".r.findFirstIn(s)
        .foreach(u => fail(s"$where: unresolved param $u"))
      s
    }
    val nodesNode = root.get("nodes")
    if (nodesNode == null || !nodesNode.isArray || nodesNode.isEmpty)
      fail("'nodes' must be a non-empty array")
    val ident = "[A-Za-z_][A-Za-z0-9_]*".r
    val nodes = nodesNode.elements().asScala.toSeq.map { n =>
      val nm = str(n, "name", "node")
      // node names double as SQL table references in dep statements —
      // anything beyond a plain identifier cannot resolve there
      if (!ident.matches(nm))
        fail(s"node '$nm': name must be a plain identifier")
      // optional declared schema (basis CommonModel on a port): `schema`
      // names a schema resource, `cast` the level — loose (coerce,
      // violations → null) or strict (any violation or unique_on
      // duplicate fails the RUN, not the load). Accepted on source
      // (input port), sql (output contract: a statement that silently
      // changed a type fails or nulls here, not three nodes later) and
      // materialize (basis casts at every block materialization — the
      // block is written in the DECLARED shape).
      def schemaCast(): (String, String) = {
        val schema = Option(n.get("schema")).map(_.asText).getOrElse("")
        val castLevel = Option(n.get("cast")).map(_.asText)
          .getOrElse(if (schema.isEmpty) "" else "loose")
        if (schema.nonEmpty) {
          if (!Set("loose", "strict")(castLevel))
            fail(s"node '$nm': unknown cast level '$castLevel'")
          // load now: a bad schema ref / malformed schema fails at
          // graph load, same as every other static error
          val _ = graft.ops.SchemaCast.fromResource(schema)
        } else if (castLevel.nonEmpty)
          fail(s"node '$nm': 'cast' requires 'schema'")
        (schema, castLevel)
      }
      val kind = str(n, "kind", s"node '$nm'")
      // a field the kind does not consume is a spec error, not a no-op:
      // `cast: strict` on a query node or `compact_after` on a sql node
      // silently dropped would run the graph WITHOUT its declared
      // contract/policy — the same static-failure philosophy as every
      // other malformed-spec class (also catches field-name typos)
      val allowedFields = Map(
        "source" -> Set("name", "kind", "table", "schema", "cast"),
        "manifest" -> Set(
          "name", "kind", "path", "version", "timestamp_ms", "change_feed",
          "starting_version"),
        "query" -> Set("name", "kind", "query"),
        "sql" -> Set("name", "kind", "deps", "sql", "schema", "cast", "observe"),
        "materialize" -> Set("name", "kind", "deps", "format", "path", "schema", "cast"),
        "incremental" -> Set(
          "name", "kind", "feed", "state", "partial_sql", "compact_after",
          "merge_sql"))
      allowedFields.get(kind).foreach { ok =>
        val unknown = n.properties().asScala.map(_.getKey).toSet -- ok
        if (unknown.nonEmpty)
          fail(s"node '$nm': unknown field(s) " +
            s"${unknown.toSeq.sorted.mkString(", ")} for kind '$kind'")
      }
      kind match {
        case "source" =>
          val (schema, castLevel) = schemaCast()
          NodeSpec(nm, "source", str(n, "table", s"node '$nm'"), Seq.empty, "",
            schema = schema, cast = castLevel)
        case "manifest" =>
          // versioned manifest row store as a graph source — the engine's
          // own table format reachable from the declarative layer, incl.
          // time travel (`version` absent = current snapshot; when given
          // it must be >= 1 — versions start at manifest-1, there is no
          // version 0 to pin)
          val mPath = subst(str(n, "path", s"node '$nm'"), s"node '$nm'")
          val ver = Option(n.get("version")).map { v =>
            if (!v.canConvertToInt || v.asInt < 1)
              fail(s"node '$nm': 'version' must be a positive integer")
            v.asInt
          }.getOrElse(0)
          // `change_feed: true` — the node reads the store's CHANGE FEED
          // (ManifestCdf.changes: inserts/deletes/update pre-post images
          // with _change_type/_commit_version) instead of a snapshot;
          // `starting_version` (default 1) is the first change version
          // included, the end is the current version at run time. A
          // snapshot pin and a change feed are different addressing
          // modes — both at once is a spec error, not a precedence rule.
          val cdf = Option(n.get("change_feed")).map { v =>
            if (!v.isBoolean)
              fail(s"node '$nm': 'change_feed' must be a boolean")
            v.asBoolean
          }.getOrElse(false)
          val fromVer = Option(n.get("starting_version")).map { v =>
            if (!cdf)
              fail(s"node '$nm': 'starting_version' requires 'change_feed: true'")
            if (!v.canConvertToInt || v.asInt < 1)
              fail(s"node '$nm': 'starting_version' must be a positive integer")
            v.asInt
          }.getOrElse(1)
          // wall-time snapshot addressing (TIMESTAMP AS OF from the
          // spec): resolved at run time through the commit stamps
          val tsMs = Option(n.get("timestamp_ms")).map { v =>
            if (!v.canConvertToLong || v.asLong < 1)
              fail(s"node '$nm': 'timestamp_ms' must be a positive epoch-millis integer")
            v.asLong
          }.getOrElse(0L)
          if ((cdf && ver > 0) || (cdf && tsMs > 0) || (ver > 0 && tsMs > 0))
            fail(s"node '$nm': 'version', 'timestamp_ms', and 'change_feed' " +
              "are mutually exclusive addressing modes")
          NodeSpec(nm, "manifest", "", Seq.empty, "", path = mPath,
            snapshot = ver, changeFeed = cdf, startingVersion = fromVer,
            snapshotTsMs = tsMs)
        case "query" =>
          val qn = str(n, "query", s"node '$nm'")
          if (!graft.Registry.all.contains(qn))
            fail(s"node '$nm': unknown registry query '$qn'")
          NodeSpec(nm, "query", qn, Seq.empty, "")
        case "sql" =>
          val deps = Option(n.get("deps"))
            .map(d => d.elements().asScala.map(_.asText).toSeq)
            .getOrElse(Seq.empty)
          if (deps.isEmpty) fail(s"node '$nm': sql node needs deps")
          val sql = subst(str(n, "sql", s"node '$nm'"), s"node '$nm'")
          val (schema, castLevel) = schemaCast()
          // `observe:` — declarative observed metrics (Dataset.observe /
          // CollectMetrics) on the node's OUTPUT: metric name →
          // aggregate expression, collected as the graph runs with zero
          // extra passes; [[produceWithObservations]] hands back the
          // handles. Validated here so a typo'd metric name fails the
          // LOAD, not the run.
          val observe = Option(n.get("observe")).map { o =>
            if (!o.isObject || o.isEmpty)
              fail(s"node '$nm': 'observe' must be a non-empty mapping " +
                "of metric name -> aggregate expression")
            o.properties().asScala.map { e =>
              val mn = e.getKey
              if (!mn.matches("[A-Za-z_][A-Za-z0-9_]*"))
                fail(s"node '$nm': observe metric '$mn' is not an identifier")
              val ex = e.getValue.asText
              if (ex == null || ex.trim.isEmpty)
                fail(s"node '$nm': observe metric '$mn' needs an expression")
              (mn, subst(ex, s"node '$nm'"))
            }.toSeq
          }.getOrElse(Seq.empty)
          NodeSpec(nm, "sql", "", deps, sql, schema = schema,
            cast = castLevel, observe = observe)
        case "materialize" =>
          // basis Storage/DataFormat semantic: persist the (single) dep
          // as an immutable block at `path` in a declared format, read
          // downstream consumers from the block. Exactly-once per block:
          // an existing `_SUCCESS` marker skips the write.
          val deps = Option(n.get("deps"))
            .map(d => d.elements().asScala.map(_.asText).toSeq)
            .getOrElse(Seq.empty)
          if (deps.size != 1)
            fail(s"node '$nm': materialize node needs exactly one dep")
          val fmt = Option(n.get("format")).map(_.asText).getOrElse("parquet")
          if (!Set("parquet", "csv", "json", "orc")(fmt))
            fail(s"node '$nm': unknown format '$fmt'")
          val path = subst(str(n, "path", s"node '$nm'"), s"node '$nm'")
          val (schema, castLevel) = schemaCast()
          NodeSpec(nm, "materialize", "", deps, "", format = fmt, path = path,
            schema = schema, cast = castLevel)
        case "incremental" =>
          // exactly-once-per-block consumption of an immutable block
          // feed (pipeline.BlockRuntime): `feed` is the arrival dir,
          // `state` the node's manifest store, `partial_sql` maps the
          // slice of newly-arrived blocks — visible as the view `block` —
          // to its partial-aggregate rows. Producing the node yields the
          // store's current snapshot.
          val feed = subst(str(n, "feed", s"node '$nm'"), s"node '$nm'")
          val state = subst(str(n, "state", s"node '$nm'"), s"node '$nm'")
          val psql = subst(str(n, "partial_sql", s"node '$nm'"), s"node '$nm'")
          // declarative maintenance policy: `compact_after: N` folds the
          // store once its live files exceed N after a produce, so the
          // operator schedules compaction in the spec, not in code;
          // `merge_sql` (view `store`) optionally re-aggregates the
          // folded partials back to the partial grain.
          val compactAfter = Option(n.get("compact_after")).map { v =>
            if (!v.isInt || v.asInt < 1)
              fail(s"node '$nm': 'compact_after' must be a positive integer")
            v.asInt
          }.getOrElse(0)
          val mergeSql = Option(n.get("merge_sql"))
            .map(v => subst(v.asText, s"node '$nm'")).getOrElse("")
          if (mergeSql.nonEmpty && compactAfter == 0)
            fail(s"node '$nm': 'merge_sql' requires 'compact_after'")
          NodeSpec(nm, "incremental", "", Seq.empty, psql, feed, state,
            compactAfter = compactAfter, mergeSql = mergeSql)
        case other => fail(s"node '$nm': unknown kind '$other'")
      }
    }
    val names = nodes.map(_.name)
    if (names.distinct.size != names.size)
      fail(s"duplicate node names: ${names.diff(names.distinct).distinct.mkString(",")}")
    val known = names.toSet
    nodes.foreach(n => n.deps.foreach(d =>
      if (!known(d)) fail(s"node '${n.name}': unknown dep '$d'")))
    nodes.filter(_.kind == "source").foreach(n =>
      if (!graft.Tables.names.contains(n.table))
        fail(s"node '${n.name}': unknown source table '${n.table}'"))
    if (!known(target)) fail(s"unknown target '$target'")
    // static cycle check (Pipeline.produce would also catch it, but a
    // malformed spec should fail at load, before any session exists)
    val depMap = nodes.map(n => n.name -> n.deps).toMap
    val state = scala.collection.mutable.Map.empty[String, Int] // 1=open 2=done
    def visit(n: String): Unit = state.getOrElse(n, 0) match {
      case 2 => ()
      case 1 => fail(s"cycle through node '$n'")
      case _ =>
        state(n) = 1; depMap(n).foreach(visit); state(n) = 2
    }
    names.foreach(visit)
    GraphSpec(name, target, params, nodes)
  }

  /** Load a spec shipped as a classpath resource; `.yml`/`.yaml`
    * extensions route to the YAML front-end, anything else to JSON.
    */
  def fromResource(
      path: String, extra: Map[String, String] = Map.empty): GraphSpec = {
    val in = getClass.getResourceAsStream(path)
    if (in == null) fail(s"resource not found: $path")
    val text =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    if (path.endsWith(".yml") || path.endsWith(".yaml")) fromYaml(text, extra)
    else fromJson(text, extra)
  }

  /** Wire the spec into a [[Pipeline]] and produce its target inside a
    * PRIVATE session clone: dep frames register under their plain node
    * names only for the duration of each sql node's analysis, then drop
    * — so a statement can reference exactly its declared deps, nothing
    * else resolves, and nothing leaks to the caller's catalog. The
    * returned DataFrame is a plain lazy plan over the sources (the
    * clone shares the SparkContext, so the caller executes it as
    * usual); the clone's one-time SessionState build is the entire
    * isolation cost.
    */
  private val scratchDbSeq = new java.util.concurrent.atomic.AtomicLong()

  def produce(spec: GraphSpec, spark: SparkSession, sfDir: String): DataFrame =
    produceWithObservations(spec, spark, sfDir)._1

  private val obsSeq = new java.util.concurrent.atomic.AtomicLong()

  /** [[produce]] plus a METRICS READER for the graph's `observe:`
    * declarations: after the caller has run an action on the returned
    * frame, `reader(frame)` yields node name → one
    * [[org.apache.spark.sql.Row]] with that node's declared metrics (in
    * declaration order). Delivery reads the executed plan's named
    * observed metrics (`queryExecution.observedMetrics`) rather than an
    * [[org.apache.spark.sql.Observation]] handle — the handle's
    * listener matches its exact dataset, and a graph node's frame
    * reaches the action RE-ANALYZED through the sql-node temp views, so
    * a handle would wait forever (measured); the named metrics survive
    * that path. Callers that don't read metrics use [[produce]]; the
    * observation rides the plan harmlessly either way.
    */
  def produceWithObservations(
      spec: GraphSpec, spark: SparkSession, sfDir: String)
      : (DataFrame, DataFrame => Map[String, org.apache.spark.sql.Row]) = {
    // observation names are fixed at WIRING time, one per observed node
    // per produce (names are global to the execution, so two concurrent
    // produces of the same graph must not collide)
    val obsNames: Map[String, String] = spec.nodes.collect {
      case n if n.kind == "sql" && n.observe.nonEmpty =>
        n.name -> s"graft_graph_${spec.name}_${n.name}_${obsSeq.incrementAndGet()}"
    }.toMap
    val reader: DataFrame => Map[String, org.apache.spark.sql.Row] = { acted =>
      val om = acted.queryExecution.observedMetrics
      obsNames.flatMap { case (node, on) => om.get(on).map(node -> _) }
    }
    val ps = spark.newSession()
    // newSession() isolates TEMP views but shares SharedState — a table
    // saveAsTable'd into the default database by unrelated code would
    // still resolve by bare name inside sql nodes, silently bypassing
    // the declared-deps contract. Producing under a scratch CURRENT
    // database closes that: unqualified names resolve only against the
    // node's registered temp views (an explicit `default.t` qualifier
    // remains a deliberate, visible escape). The scratch db is dropped
    // after produce — every sql node is analyzed eagerly inside it, so
    // the returned lazy plan no longer needs it.
    // UUID suffix: two JVMs sharing a metastore (or a crashed run's
    // leftover db) must not collide on CREATE DATABASE; the AtomicLong
    // alone is only per-JVM-unique.
    val scratchDb = s"graft_graph_scratch_${scratchDbSeq.incrementAndGet()}_" +
      java.util.UUID.randomUUID().toString.replace("-", "").take(12)
    ps.sql(s"CREATE DATABASE $scratchDb")
    ps.catalog.setCurrentDatabase(scratchDb)
    val p = new Pipeline()
    // declared-schema hop, shared by every node kind that takes one
    def coerced(df: DataFrame, n: NodeSpec): DataFrame =
      if (n.schema.isEmpty) df
      else graft.ops.SchemaCast.coerce(
        df, graft.ops.SchemaCast.fromResource(n.schema),
        strict = n.cast == "strict")
    spec.nodes.foreach { n =>
      n.kind match {
        case "source" =>
          p.source(n.name)(s => coerced(graft.Tables(s, sfDir).table(n.table), n))
        case "manifest" =>
          p.source(n.name) { s =>
            if (n.changeFeed) {
              val cur = graft.sources.ManifestTable
                .currentManifestShallow(n.path).map(_._1).getOrElse(0)
              if (cur < n.startingVersion) throw new IllegalStateException(
                s"graph node '${n.name}': change feed starts at version " +
                  s"${n.startingVersion} but the store at ${n.path} is at " +
                  s"version $cur")
              graft.sources.ManifestCdf.changes(
                s, n.path, n.startingVersion - 1, cur)
            } else {
              val r = s.read.format("graft.sources.ManifestTable")
                .option("path", n.path)
              val r2 =
                if (n.snapshot > 0) r.option("version", n.snapshot)
                else if (n.snapshotTsMs > 0) r.option("timestampMs", n.snapshotTsMs)
                else r
              r2.load()
            }
          }
        case "query" =>
          p.source(n.name)(s => graft.Registry.all(n.table)(s, sfDir))
        case "sql" =>
          // output schema = the node's contract: a statement that
          // silently changed a type is caught (strict) or nulled (loose)
          // HERE, not three consumers later.
          p.node(n.name, n.deps: _*) { in =>
            n.deps.foreach(d => in(d).createOrReplaceTempView(d))
            val out =
              try coerced(ps.sql(n.sql), n)
              finally n.deps.foreach(d => ps.catalog.dropTempView(d))
            if (n.observe.isEmpty) out
            else {
              // metrics audit the node's post-contract OUTPUT; the named
              // observe survives the temp-view re-analysis downstream
              val ms = n.observe.map { case (mn, ex) =>
                org.apache.spark.sql.functions.expr(ex).as(mn) }
              out.observe(obsNames(n.name), ms.head, ms.tail: _*)
            }
          }
        case "materialize" =>
          // write once (skipped when the block's _SUCCESS already exists
          // — the same rule as Pipeline.materialize), then read every
          // consumer from the block. Non-self-describing formats (csv,
          // json) read back under the dep's OWN schema, so the round
          // trip is value-preserving by construction, not inference.
          // A declared schema casts BEFORE the write (basis casts at
          // every block materialization) AND on the read-back: the write
          // path gives new blocks the declared on-disk shape, while the
          // read-side coercion makes the downstream contract hold even
          // for a block written BEFORE the spec declared its schema
          // (write-once skips the re-write, so the old bytes stay —
          // without the read hop, strict violations would pass silently
          // and loose nulling would never fire). Coercion is idempotent
          // on already-declared blocks.
          val (fmt, path) = (n.format, n.path)
          p.node(n.name, n.deps: _*) { in =>
            val df = coerced(in(n.deps.head), n)
            val success = new org.apache.hadoop.fs.Path(path, "_SUCCESS")
            val fs = success.getFileSystem(ps.sparkContext.hadoopConfiguration)
            if (!fs.exists(success)) {
              val w = df.write.mode("overwrite").format(fmt)
              (if (fmt == "csv") w.option("header", "true") else w).save(path)
            }
            val r = ps.read.format(fmt)
            coerced((fmt match {
              case "csv" => r.option("header", "true").schema(df.schema)
              case "json" => r.schema(df.schema)
              case _ => r
            }).load(path), n)
          }
        case "incremental" =>
          // resolving the node RUNS the block runtime: unconsumed blocks
          // in `feed` are processed exactly once (their partial rows are
          // committed to the node's store), and the node's frame is the
          // store's snapshot — basis `env.produce` over a growing feed.
          // The arriving slice is visible to `partial_sql` under the same
          // private-view discipline as sql-node deps. `compact_after: N`
          // makes store maintenance declarative: the produce itself folds
          // the live files once they exceed N (merge_sql re-aggregates the
          // folded partials, view `store`). The store's scan reports row
          // counts and column statistics from its manifest, so a CBO
          // session plans from current counts with no ANALYZE.
          val mergeOf: DataFrame => DataFrame =
            if (n.mergeSql.isEmpty) identity
            else { store =>
              store.createOrReplaceTempView("store")
              try ps.sql(n.mergeSql)
              finally ps.catalog.dropTempView("store")
            }
          p.source(n.name)(s =>
            BlockRuntime.runWithPolicy(s, n.feed, n.state, { slice =>
              slice.createOrReplaceTempView("block")
              try ps.sql(n.sql)
              finally ps.catalog.dropTempView("block")
            }, compactAfter = n.compactAfter, mergeOf = mergeOf).result)
        case other => fail(s"unreachable kind '$other'")
      }
    }
    // CASCADE: a query node that persisted a catalog table into the
    // scratch db must not fail the drop after the produce succeeded.
    val target =
      try p.produce(ps, spec.target)
      finally ps.sql(s"DROP DATABASE IF EXISTS $scratchDb CASCADE")
    (target, reader)
  }
}
