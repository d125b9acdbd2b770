package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed connected components and duplicate-cluster resolution.
  *
  * A real dedup pipeline does not stop at candidate *pairs*: near-duplicate
  * similarity is not transitive, so pairs (a,b) and (b,c) above threshold
  * must be merged into one cluster {a,b,c} before a single canonical
  * representative can be kept. That merge is connected components over the
  * pair graph — the step between `Dedup`'s LSH candidate generation and the
  * keep/drop decision.
  *
  * The algorithm is alternating **large-star / small-star** (Kiveris,
  * Lattanzi, Mirrokni, Rastogi, Vassilvitskii, "Connected Components in
  * MapReduce and Beyond", ACM SoCC 2014 — public literature): each round is
  * two shuffles keyed on node id, and the edge set converges to a star
  * forest (every node pointing at its component's minimum id) in
  * O(log² n) rounds (O(log n) in practice). No step ever materializes a
  * component in one task or collects edges to the driver, so the same code
  * runs on a 100 TB pair graph: the per-round cost is a groupBy-min plus a
  * join, both on the node-id key.
  */
object Graph {

  /** Connected components of an undirected graph.
    *
    * @param edges (src: long, dst: long) — undirected, either orientation,
    *              self-loops and duplicates tolerated.
    * @param nodes (node: long) — node universe; isolated nodes (no edges)
    *              come back as their own singleton component.
    * @return (node: long, component: long) with component = min node id
    *         reachable from `node` (components are therefore labeled by
    *         their smallest member — deterministic and oracle-checkable).
    */
  def connectedComponents(edges: DataFrame, nodes: DataFrame, maxIter: Int = 25): DataFrame =
    connectedComponentsWithStats(edges, nodes, maxIter)._1

  /** As [[connectedComponents]], also returning the number of
    * (large-star + small-star) rounds executed — asserted O(log n) by
    * GraphSpec on a worst-case path graph (0 when the local finish ran).
    *
    * @param localFinishEdges hybrid cutoff: when the deduped edge count
    *        (already in hand from the convergence fingerprint) is at or
    *        below this, the components are finished with a driver-side
    *        union-find instead of O(log n) more distributed rounds. At the
    *        default 1M edges that is ≤16 MB collected — the same order as a
    *        raised broadcast-join build side, and strictly LESS driver
    *        traffic than the per-round fingerprint syncs it replaces. The
    *        label map returns to the cluster as a broadcast join, so the
    *        node-universe side never moves. A 100 TB pair graph exceeds any
    *        such cutoff and takes the star rounds; GraphSpec pins
    *        local ≡ distributed equality on seeded random graphs. 0
    *        disables (used by the star-round specs).
    */
  def connectedComponentsWithStats(
      edges: DataFrame, nodes: DataFrame, maxIter: Int = 25,
      localFinishEdges: Long = 1000000L): (DataFrame, Int) = {
    val spark = edges.sparkSession

    // Dedup to one canonical orientation (small, large); drop self-loops.
    var e = edges
      .select(
        least(col("src").cast("long"), col("dst").cast("long")).as("src"),
        greatest(col("src").cast("long"), col("dst").cast("long")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
      .localCheckpoint(true)

    // Convergence fingerprint: the edge multiset is a set after distinct(),
    // so (count, XOR of per-edge hashes) is equal across a full round iff
    // the edge set is unchanged (modulo a 2^-64 hash collision) — the
    // standard cheap fixpoint test; XOR is order-independent and can't
    // overflow under ANSI mode. maxIter backstops the collision case.
    def fingerprint(d: DataFrame): (Long, Long) = {
      val r = d.agg(
        count(lit(1)).as("c"),
        coalesce(bit_xor(xxhash64(col("src"), col("dst"))), lit(0L)).as("h")).head()
      (r.getLong(0), r.getLong(1))
    }

    var iters = 0
    var fp = fingerprint(e)
    var converged = fp._1 == 0L

    // Hybrid local finish (see scaladoc): union-find with path compression
    // and min-root merge, so every root is its component's minimum id —
    // identical labeling to the star-forest fixpoint.
    if (!converged && fp._1 <= localFinishEdges) {
      val parent = new java.util.HashMap[java.lang.Long, java.lang.Long]()
      def find(x0: Long): Long = {
        var x = x0
        while (parent.get(x) != x) {
          parent.put(x, parent.get(parent.get(x)))
          x = parent.get(x)
        }
        x
      }
      e.toLocalIterator().forEachRemaining { r =>
        val a = r.getLong(0); val b = r.getLong(1)
        parent.putIfAbsent(a, a); parent.putIfAbsent(b, b)
        val ra = find(a); val rb = find(b)
        if (ra < rb) parent.put(rb, ra)
        else if (rb < ra) parent.put(ra, rb)
      }
      val labels = new java.util.ArrayList[org.apache.spark.sql.Row](parent.size())
      parent.keySet().forEach(n => labels.add(
        org.apache.spark.sql.Row(n.longValue(), find(n))))
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(
          "node", org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField(
          "component", org.apache.spark.sql.types.LongType, nullable = false)))
      val assign = broadcast(spark.createDataFrame(labels, schema))
      val out = nodes.select(col("node").cast("long").as("node"))
        .join(assign, Seq("node"), "left")
        .select(col("node"), coalesce(col("component"), col("node")).as("component"))
      return (out, 0)
    }

    // Size the per-round shuffles to the EDGE SET, not to the (usually far
    // larger) session default tuned for the input scan: the iteration's
    // groupBy/join rounds move only the surviving edges, and the count is
    // already in hand from the fingerprint. This is the same decision AQE
    // coalescing makes per-stage on a cluster (Bench runs AQE off, and AQE
    // cannot see across the localCheckpoint lineage cut anyway); computing
    // it from the known count keeps it deterministic. At 100 TB a
    // billions-of-edges graph keeps hundreds of partitions (~2M edge rows
    // ≈ 32 MB per task); only a near-converged or small graph collapses to
    // few partitions — exactly when per-task scheduling would otherwise
    // dominate. The setting lives on a CLONED session (shared
    // SparkContext, isolated SQLConf) that only the round plans execute
    // on — a concurrent query on the caller's session never observes the
    // tiny round partition count, and nothing needs restoring on exit.
    val spConf = "spark.sql.shuffle.partitions"
    val sessionPartitions = spark.conf.get(spConf)
    val roundPartitions = scala.util.Try(sessionPartitions.toInt).toOption.map { sp =>
      math.max(1, math.min(sp, (fp._1 / 2000000L).toInt + 1))
    }
    val work: SparkSession = roundPartitions match {
      case Some(p) =>
        val w = spark.newSession()
        w.conf.set(spConf, p.toString)
        w
      case None => spark
    }
    // Re-home the checkpointed edge RDD onto the work session (one
    // Row-conversion pass over the edge set; rounds after the first build
    // natively on `work`).
    if (work ne spark) e = work.createDataFrame(e.rdd, e.schema)
    // One (large-star, small-star) pass, lazily composed.
    def starPass(in: DataFrame): DataFrame = {
      // large-star: for every node u, hang u's larger neighbors off
      // m(u) = min(N(u) ∪ {u}). Keyed groupBy-min + join — no neighbor
      // list is ever collected, so high-degree hubs don't blow a task.
      val sym = in.union(in.select(col("dst").as("src"), col("src").as("dst")))
      val mins = sym.groupBy("src").agg(min(col("dst")).as("mn"))
        .select(col("src").as("u"), least(col("u"), col("mn")).as("m"))
      val large = sym.filter(col("dst") > col("src"))
        .join(mins, col("src") === col("u"))
        .select(least(col("dst"), col("m")).as("src"), greatest(col("dst"), col("m")).as("dst"))
        .filter(col("src") =!= col("dst"))
        .distinct()

      // small-star: orient u > v; connect every smaller neighbor (and u)
      // to m(u) = min of u's smaller neighbors.
      val minsS = large.groupBy("dst").agg(min(col("src")).as("m")) // dst > src ⇒ dst is the "u" side
      large.join(minsS, "dst")
        .select(col("src"), col("dst"), col("m"))
        .select(explode(array(
          struct(col("m").as("src"), col("dst").as("dst")),
          struct(col("m").as("src"), col("src").as("dst")))).as("e"))
        .select(col("e.src"), col("e.dst"))
        .filter(col("src") =!= col("dst"))
        .distinct()
    }

    while (!converged && iters < maxIter) {
      // ONE star pass per materialization. (Composing two passes per
      // checkpoint was tried and is a trap: each pass references its
      // input ~4× — union + self-join — so two unmaterialized passes
      // square the logical-plan fan-out to >100 copies of the leaf and
      // optimizer time swamps the saved action overhead, 6× slower at
      // sf0.1.)
      val small = starPass(e)
        .localCheckpoint(true) // truncate lineage each round (reliable checkpoint dir on a cluster)

      iters += 1
      val fp2 = fingerprint(small)
      converged = fp2 == fp || fp2._1 == 0L // count is already in the fingerprint
      fp = fp2
      e = small
    }

    // A fingerprint collision (2^-64) or a too-small maxIter would leave a
    // non-star edge set and silently mislabel components — fail loudly.
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds; raise maxIter")

    // At the fixpoint e is a star forest oriented (root=src < member=dst):
    // members map to their root, roots and isolated nodes to themselves.
    // Re-home the (≤ |nodes|-row) star forest onto the caller's session so
    // the returned plan never mixes sessions.
    if (work ne spark) e = spark.createDataFrame(e.rdd, e.schema)
    val assign = e.select(col("dst").as("node"), col("src").as("component"))
    val out = nodes.select(col("node").cast("long").as("node"))
      .join(assign, Seq("node"), "left")
      .select(col("node"), coalesce(col("component"), col("node")).as("component"))
    (out, iters)
  }

  /** Probe-set near-dup edge list: exact token-set Jaccard ≥ `tau` over
    * doc_id < `lim`. Bounded-probe by contract like `sim_shingle` /
    * `sim_edit_distance`; the unbounded path feeds [[graft.ops.Dedup]]'s
    * LSH candidate pairs into the same [[connectedComponents]].
    */
  private[graft] def jaccardEdges(t: Tables, tau: Double, lim: Int): (DataFrame, DataFrame) = {
    val sets = TextAnalysis.probeTokenSets(t, lim)
    val a = sets.select(col("doc_id").as("a_id"), col("s").as("a_s"))
    val b = sets.select(col("doc_id").as("b_id"), col("s").as("b_s"))
    val edges = a.join(b, col("a_id") < col("b_id"))
      .filter(call_function("graft_jaccard", col("a_s"), col("b_s")) >= lit(tau))
      .select(col("a_id").as("src"), col("b_id").as("dst"))
    // node universe from the same shared helper — edges and nodes can
    // never disagree on the probe predicate
    (edges, sets.select(col("doc_id").as("node")))
  }

  /** Per-node degree of the τ=0.95 Jaccard near-dup graph (both edge
    * orientations counted, isolated probe nodes reported at 0) — the
    * first graph statistic a dedup pipeline inspects before clustering.
    * Degree is a single count-by-key over the doubled edge list; at full
    * scale the doubling is a map-side union feeding one shuffle on node.
    */
  def graphDegree(t: Tables): DataFrame = {
    val (edges, nodes) = jaccardEdges(t, 0.95, 100)
    val deg = edges.select(col("src").as("node"))
      .unionAll(edges.select(col("dst").as("node")))
      .groupBy("node").agg(count(lit(1)).as("degree"))
    nodes.join(deg, Seq("node"), "left")
      .select(col("node").as("doc_id"), coalesce(col("degree"), lit(0L)).as("degree"))
      .orderBy("doc_id")
  }

  /** BFS hop distance from doc 0 over the τ=0.95 Jaccard probe graph
    * (same edge CTE as [[graphDegree]]/[[graphTriangles]]); unreachable
    * nodes at −1. Completes the graph-analytics family: CC labels the
    * clusters, PageRank ranks them, triangles measure their density, BFS
    * measures their radius.
    *
    * COUPLING: [[bfsOf]]'s default maxIter=64 must equal the `w.d < 64`
    * recursion bound in the ExtraSql graph_bfs oracle CTE. The engine
    * fails loudly when the frontier outlives maxIter, so an eccentricity
    * beyond the shared bound aborts rather than silently mismatching the
    * oracle's −1.
    */
  def graphBfs(t: Tables): DataFrame = {
    val (edges, nodes) = jaccardEdges(t, 0.95, 100)
    bfsOf(edges, nodes, source = 0L)
      .select(col("node").as("doc_id"), col("dist"))
      .orderBy("doc_id")
  }

  /** Level-synchronous BFS: (node, dist) with dist = hop count from
    * `source`, −1 if unreachable. The same hybrid as
    * [[connectedComponentsWithStats]]: per-round frontier-expansion joins
    * keyed on node id (shuffle volume = frontier × avg degree, rounds =
    * source eccentricity) for big graphs, one bounded driver BFS below
    * `localFinishEdges` — the edge count is in hand after the initial
    * dedup, and a queue walk over ≤16 MB of edges beats diameter-many
    * scheduling rounds exactly like CC's union-find finish.
    */
  def bfsOf(edges: DataFrame, nodes: DataFrame, source: Long,
      maxIter: Int = 64, localFinishEdges: Long = 1000000L): DataFrame = {
    val spark = edges.sparkSession
    val sym = edges
      .select(col("src").cast("long").as("u"), col("dst").cast("long").as("v"))
      .filter(col("u") =!= col("v"))
      .select(explode(array(
        struct(col("u").as("u"), col("v").as("v")),
        struct(col("v").as("u"), col("u").as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .distinct()
      .localCheckpoint(true)
    val nEdges = sym.count() / 2

    if (nEdges <= localFinishEdges) {
      val adj = new java.util.HashMap[Long, java.util.ArrayList[Long]]()
      sym.toLocalIterator().forEachRemaining { r =>
        adj.computeIfAbsent(r.getLong(0), _ => new java.util.ArrayList[Long]())
          .add(r.getLong(1))
      }
      val dist = new java.util.HashMap[java.lang.Long, java.lang.Long]()
      val queue = new java.util.ArrayDeque[Long]()
      dist.put(source, 0L)
      queue.add(source)
      while (!queue.isEmpty) {
        val n = queue.poll()
        val d = dist.get(n)
        val nbrs = adj.get(n)
        if (nbrs != null) nbrs.forEach { m =>
          if (!dist.containsKey(m)) { dist.put(m, d + 1); queue.add(m) }
        }
      }
      val rows = new java.util.ArrayList[org.apache.spark.sql.Row](dist.size())
      dist.forEach((n, d) => rows.add(org.apache.spark.sql.Row(n.longValue(), d.longValue())))
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(
          "node", org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField(
          "d", org.apache.spark.sql.types.LongType, nullable = false)))
      val assign = broadcast(spark.createDataFrame(rows, schema))
      return nodes.select(col("node").cast("long").as("node"))
        .join(assign, Seq("node"), "left")
        .select(col("node"), coalesce(col("d"), lit(-1L)).as("dist"))
    }

    // Distributed level-synchronous rounds (frontier join per hop).
    var dist = nodes.select(col("node").cast("long").as("node"))
      .filter(col("node") === source)
      .select(col("node"), lit(0L).as("d"))
      .localCheckpoint(true)
    var frontier = dist
    var depth = 0L
    var frontierSize = frontier.count()
    while (frontierSize > 0 && depth < maxIter) {
      depth += 1
      val reached = frontier.join(sym, col("node") === col("u"))
        .select(col("v").as("node")).distinct()
      frontier = reached
        .join(dist.select(col("node").as("seen")), col("node") === col("seen"), "left_anti")
        .select(col("node"), lit(depth).as("d"))
        .localCheckpoint(true)
      frontierSize = frontier.count()
      if (frontierSize > 0) dist = dist.union(frontier).localCheckpoint(true)
    }
    // A still-live frontier at maxIter means unreported distances would
    // silently read as "unreachable" (−1) — fail loudly, like CC does.
    if (frontierSize > 0)
      throw new IllegalStateException(
        s"bfsOf did not exhaust the frontier in $maxIter hops; raise maxIter")
    nodes.select(col("node").cast("long").as("node"))
      .join(dist.select(col("node"), col("d")), Seq("node"), "left")
      .select(col("node"), coalesce(col("d"), lit(-1L)).as("dist"))
  }

  /** WEIGHTED single-source shortest path from doc 0 over the τ=0.95
    * Jaccard probe graph — [[graphBfs]] measures hop radius, this prices
    * the hops: edge weight w(u,v) = (u+v) mod 5 + 1, a stated formula
    * both engines compute from the endpoint ids (symmetric in u+v, so
    * the doubled orientations agree). Unreachable nodes at −1.
    *
    * COUPLING: [[ssspOf]]'s default maxHops=16 must equal the `w.h < 16`
    * recursion bound in the ExtraSql graph_sssp oracle CTE. The engine
    * only returns after a SYNCHRONOUS Bellman-Ford fixpoint within
    * maxHops rounds (round r's distances = exact min over ≤ r-edge
    * paths, so a fixpoint inside the bound IS the true SSSP and equals
    * the oracle's bounded-hop minimum); a graph needing longer shortest
    * paths aborts loudly rather than silently diverging from the oracle.
    */
  def graphSssp(t: Tables): DataFrame = {
    val (edges, nodes) = jaccardEdges(t, 0.95, 100)
    ssspOf(edges, nodes, source = 0L)
      .select(col("node").as("doc_id"), col("dist"))
      .orderBy("doc_id")
  }

  /** Synchronous Bellman-Ford SSSP: (node, dist) with dist = min path
    * weight from `source`, −1 if unreachable. The [[bfsOf]] hybrid: a
    * bounded driver relaxation below `localFinishEdges` (the edge count
    * is in hand after the symmetrize-dedup; ≤16 MB of edges beat
    * diameter-many scheduling rounds), per-round relax-join + min-agg
    * keyed on node id above it (shuffle volume = frontier × avg degree
    * per round — the PageRank shape, never all-pairs). Both paths use
    * SYNCHRONOUS rounds (round r reads round r−1's distances only), so
    * "fixpoint in ≤ maxHops rounds" certifies every shortest path has
    * ≤ maxHops edges — the property the bounded-hop oracle needs.
    */
  def ssspOf(edges: DataFrame, nodes: DataFrame, source: Long,
      maxHops: Int = 16, localFinishEdges: Long = 1000000L): DataFrame = {
    val spark = edges.sparkSession
    val sym = edges
      .select(col("src").cast("long").as("u"), col("dst").cast("long").as("v"))
      .filter(col("u") =!= col("v"))
      .select(explode(array(
        struct(col("u").as("u"), col("v").as("v")),
        struct(col("v").as("u"), col("u").as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .distinct()
      .withColumn("w", pmod(col("u") + col("v"), lit(5L)) + lit(1L))
      .localCheckpoint(true)
    val nEdges = sym.count() / 2

    if (nEdges <= localFinishEdges) {
      val es = sym.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      var dist = scala.collection.mutable.HashMap[Long, Long](source -> 0L)
      var rounds = 0
      var changed = true
      while (changed) {
        val next = dist.clone()
        var i = 0
        while (i < es.length) {
          val (u, v, w) = es(i)
          dist.get(u).foreach { du => // relax from the PREVIOUS round only
            val nd = du + w
            if (next.get(v).forall(_ > nd)) next(v) = nd
          }
          i += 1
        }
        changed = next != dist
        if (changed) {
          rounds += 1
          if (rounds > maxHops) throw new IllegalStateException(
            s"ssspOf did not reach a fixpoint in $maxHops rounds; raise maxHops")
          dist = next
        }
      }
      import spark.implicits._
      val assign = broadcast(dist.toSeq.toDF("node", "d"))
      return nodes.select(col("node").cast("long").as("node"))
        .join(assign, Seq("node"), "left")
        .select(col("node"), coalesce(col("d"), lit(-1L)).as("dist"))
    }

    // Distributed synchronous rounds: relax every edge against the
    // previous round's table, min-combine, fingerprint for convergence.
    def fingerprint(df: DataFrame): (Long, Long) = {
      val r = df.agg(
        count(lit(1)).as("n"),
        coalesce(sum(xxhash64(col("node"), col("d"))), lit(0L)).as("h")).head()
      (r.getLong(0), r.getLong(1))
    }
    var dist = spark.range(1).select(lit(source).as("node"), lit(0L).as("d"))
      .localCheckpoint(true)
    var fp = fingerprint(dist)
    var hops = 0
    var converged = false
    while (!converged && hops < maxHops) {
      val relaxed = dist.join(sym, col("node") === col("u"))
        .select(col("v").as("node"), (col("d") + col("w")).as("d"))
      val next = dist.unionByName(relaxed)
        .groupBy("node").agg(min(col("d")).as("d"))
        .localCheckpoint(true)
      hops += 1
      val fp2 = fingerprint(next)
      converged = fp2 == fp
      fp = fp2
      dist = next
    }
    if (!converged) throw new IllegalStateException(
      s"ssspOf did not reach a fixpoint in $maxHops rounds; raise maxHops")
    nodes.select(col("node").cast("long").as("node"))
      .join(dist, Seq("node"), "left")
      .select(col("node"), coalesce(col("d"), lit(-1L)).as("dist"))
  }

  /** Duplicate clusters: token-set-Jaccard edges (τ=0.95, doc_id < 100) →
    * connected components → (doc_id, component_id), component labeled by
    * its min doc_id. Oracle: DuckDB recursive CTE over the same edges.
    * The probe's ≤100 labels are a [[graft.util.Memo]] value (the
    * basis-style "block": cluster assignments materialized once per corpus
    * snapshot); [[connectedComponents]] itself stays memo-free.
    */
  def dedupComponents(t: Tables): DataFrame = {
    val labels = graft.util.Memo.value(
        graft.util.Memo.Key("probe_components", t.sfDir, "documents")) {
      val (edges, nodes) = jaccardEdges(t, 0.95, 100)
      connectedComponents(edges, nodes)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
    }
    import t.spark.implicits._
    labels.toSeq.toDF("doc_id", "component_id").orderBy("doc_id")
  }

  /** Cluster resolution — the decision a training pipeline actually ships:
    * within each near-dup component keep the highest-quality member
    * (6-dp-rounded [[TextAnalysis.textQuality]] score, doc_id tiebreak);
    * every document maps to its cluster's canonical id. One extra shuffle
    * on component_id over [[dedupComponents]].
    */
  def dedupResolve(t: Tables): DataFrame = {
    val comp = dedupComponents(t)
    val q = TextAnalysis.textQuality(t).select(col("doc_id"), col("quality"))
    val w = Window.partitionBy("component_id").orderBy(desc("quality"), asc("doc_id"))
    comp.join(q, "doc_id")
      .withColumn("canonical_id", first(col("doc_id")).over(w))
      .withColumn("n_members", count(lit(1)).over(Window.partitionBy("component_id")))
      .select(
        col("doc_id"), col("component_id"), col("canonical_id"), col("n_members"),
        (col("doc_id") === col("canonical_id")).as("is_kept"))
      .orderBy("doc_id")
  }

  /** Embedding-space near-dup clusters: exact blocked cosine pairs at
    * τ = 0.4 ([[Vector.simCosineThresholdBlocked]] — block-join, no
    * all-pairs shuffle) → [[connectedComponents]] → every vector labeled
    * with its cluster (min vec_id canonical, singletons label themselves).
    * Completes the dedup family surface: exact hash, MinHash/LSH, SimHash,
    * n-gram Jaccard, and embedding-cosine all feed the same CC machinery;
    * at 100 TB the edge source swaps to the IVF/LSH candidate pairs and
    * this operator is unchanged.
    */
  def dedupSemantic(t: Tables): DataFrame = {
    val edges = Vector.simCosineThresholdBlocked(t, numBlocks = 8, tau = 0.4)
      .select(col("a_id").as("src"), col("b_id").as("dst"))
    val nodes = t.embeddings.select(col("vec_id").as("node"))
    connectedComponents(edges, nodes)
      .select(col("node").as("vec_id"), col("component").as("component_id"))
      .orderBy("vec_id")
  }

  /** The SUB-QUADRATIC operating point of [[dedupSemantic]] — the 100 TB
    * near-dup path: banded hyperplane-LSH candidate pairs
    * ([[Ann.hyperplaneCandidates]] — band equi-join, candidate volume
    * ≈ 1–3% of the pair space, NO all-pairs enumeration anywhere in the
    * plan) → exact cosine re-rank at τ = `tau` → the same
    * [[connectedComponents]] finish. Where the exact blocked path's
    * candidate JOIN still produces every unordered pair as a row to gate
    * (quadratic pair stream, however cheap the gate), this plan's pair
    * stream is the LSH collisions only — at 100× the vectors the exact
    * path's gate evaluations grow 10⁴×, this one's ~10²·(bucket
    * occupancy)×.
    *
    * The tradeoff is recall: hyperplane collision is probabilistic, so
    * this operating point is only SAFE in the near-dup regime (per-pair
    * capture ≥ 0.9998 at cos ≥ 0.95, ~0.5 at cos 0.8 — AnnDedupSpec
    * asserts the planted-dup guarantee and prints the measured candidate
    * volume). τ = 0.8 on the driver corpus: the maximum pairwise cosine
    * is ≈ 0.60 at every SF, so the true edge set at 0.8 is EMPTY and the
    * ANN result is provably identical to the exact path (a candidate
    * subset cannot add pairs) — which is what makes this entry
    * DuckDB-oracle-checkable despite the seeded hyperplanes. The exact
    * τ = 0.4 path stays registered as `dedup_semantic`; a pipeline picks
    * per corpus: exact-blocked below cos ~0.8, this above.
    */
  def dedupSemanticAnn(t: Tables, tau: Double = 0.8): DataFrame = {
    val v = Ann.vectorsWithNorm(t)
    val cands = Ann.hyperplaneCandidates(v.select(col("vec_id"), col("e")))
    val a = v.select(col("vec_id").as("a_id"), col("e").as("a_e"), col("nrm").as("a_nrm"))
    val b = v.select(col("vec_id").as("b_id"), col("e").as("b_e"), col("nrm").as("b_nrm"))
    val edges = cands
      .join(a, "a_id").join(b, "b_id")
      .filter(call_function("graft_dot", col("a_e"), col("b_e")) /
        (col("a_nrm") * col("b_nrm")) >= tau)
      .select(col("a_id").as("src"), col("b_id").as("dst"))
    val nodes = t.embeddings.select(col("vec_id").as("node"))
    connectedComponents(edges, nodes)
      .select(col("node").as("vec_id"), col("component").as("component_id"))
      .orderBy("vec_id")
  }

  /** Per-node triangle count over the near-dup edge set — the local
    * clustering signal that separates "dense duplicate cluster" from
    * "chain of borderline matches" (a chained component has few
    * triangles; a true dup cluster is near-complete). Edges are oriented
    * src < dst, so each triangle a<b<c is enumerated exactly once via two
    * equi-joins ((a,b)⋈(b,c) then (a,c) membership) and attributed to all
    * three corners. Both joins shuffle on node keys — no all-pairs step.
    * At full scale the orientation key becomes (degree, id) instead of
    * id, which bounds the join fan-out per node by the graph's arboricity
    * (the standard MPC triangle recipe) — a one-line change to the sort
    * key here.
    */
  def graphTriangles(t: Tables): DataFrame = {
    val (edges, nodes) = jaccardEdges(t, 0.95, 100)
    trianglesOf(edges, nodes)
  }

  /** PageRank over the near-dup probe graph, 3 power iterations,
    * d = 0.85 — and engine-exact by construction: ranks are carried as
    * 10^12-scaled BIGINTs and every step is integer arithmetic
    * (`r div degree` per edge, `(17·Σ) div 20` for the damping), so
    * there is NO floating-point accumulation anywhere. A double-typed
    * PageRank can never hash-match across engines (or even across
    * partitionings — Σ order varies); integer division truncates
    * identically everywhere. Precision loss per step is < 1e-12·N —
    * irrelevant for ranking.
    *
    * Shape per iteration: one node-keyed join (ranks onto edges), one
    * partial+final sum keyed by dst — the standard Pregel-on-DataFrames
    * power iteration. Dangling mass is not redistributed (documented
    * simplification, same on both engines). At 100 TB-scale graphs the
    * per-round `localCheckpoint` of [[connectedComponents]] applies
    * unchanged to sever lineage.
    */
  def graphPagerank(t: Tables, iters: Int = 3): DataFrame = {
    val (pairs, nodes) = jaccardEdges(t, 0.95, 100)
    // uniform init 1/N at scale 12: 10^12 / 100 probe docs
    pagerankOf(pairs, nodes, iters, initScaled = 10000000000L)
  }

  /** [[graphPagerank]] over any (src < dst) pair list + node universe
    * (test seam for known graphs). `initScaled` = 10^12 / N.
    */
  private[graft] def pagerankOf(
      pairs: DataFrame, nodes: DataFrame, iters: Int, initScaled: Long): DataFrame = {
    // teleport term (1-d)·10^12/N = 0.15·initScaled, computed once on the
    // driver in exact integer arithmetic (initScaled = 10^12/N)
    val teleport = (3L * initScaled) / 20L
    val edges = pairs
      .union(pairs.select(col("dst").as("src"), col("src").as("dst")))
    val deg = edges.groupBy("src").agg(count(lit(1)).as("degree"))
    var ranks = nodes.select(col("node"), lit(initScaled).as("r"))
    for (_ <- 1 to iters) {
      val contribs = edges
        .join(ranks, edges("src") === ranks("node"))
        .join(deg, "src")
        .select(col("dst"), expr("r div degree").as("contrib"))
      val summed = contribs.groupBy("dst").agg(sum("contrib").as("s"))
      ranks = nodes
        .join(summed, nodes("node") === summed("dst"), "left")
        .select(col("node"),
          (lit(teleport) + expr("(17 * coalesce(s, 0L)) div 20")).as("r"))
    }
    ranks
      .select(
        col("node").as("doc_id"), col("r").as("pr_scaled"),
        (col("r").cast(org.apache.spark.sql.types.DoubleType) / 1e12).as("pr"))
      .orderBy("doc_id")
  }

  /** [[graphTriangles]] over any (src < dst) edge list + node universe
    * (test seam for known graphs).
    */
  private[graft] def trianglesOf(edges: DataFrame, nodes: DataFrame): DataFrame = {
    val e1 = edges.select(col("src").as("a"), col("dst").as("b"))
    val e2 = edges.select(col("src").as("b"), col("dst").as("c"))
    val e3 = edges.select(col("src").as("a"), col("dst").as("c"))
    val tris = e1.join(e2, "b").join(e3, Seq("a", "c"))
    val perNode = tris
      .select(explode(array(col("a"), col("b"), col("c"))).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_tri"))
    nodes.select(col("node").as("doc_id"))
      .join(perNode, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_tri"), lit(0L)).as("n_tri"))
      .orderBy("doc_id")
  }

  /** Local clustering coefficient per node — triangles through the node
    * over its possible neighbor pairs, `2·tri / (deg·(deg−1))` — the
    * community-density score that separates a chained component (coeff→0)
    * from a true near-dup cluster (coeff→1). Pure composition of the
    * [[graphDegree]] and [[graphTriangles]] subplans on the SAME τ=0.95
    * edge set: one extra node-keyed join, both inputs already
    * node-partitioned, and the coefficient is one IEEE division of exact
    * BIGINTs (deg ≤ probe size, so deg·(deg−1) is exact). Nodes of
    * degree < 2 have no defined coefficient and emit NULL — the
    * convention that keeps averages honest (a forced 0 would claim
    * "no clustering" where the question does not apply).
    */
  def graphClusteringCoeff(t: Tables): DataFrame = {
    val (edges, nodes) = jaccardEdges(t, 0.95, 100)
    val deg = edges.select(col("src").as("doc_id"))
      .unionAll(edges.select(col("dst").as("doc_id")))
      .groupBy("doc_id").agg(count(lit(1)).as("degree"))
    trianglesOf(edges, nodes)
      .join(deg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("degree"), lit(0L)).as("degree"), col("n_tri"))
      .withColumn("coeff",
        when(col("degree") >= 2,
          round((col("n_tri") * 2).cast("double") /
            (col("degree") * (col("degree") - 1)).cast("double"), 6)))
      .orderBy("doc_id")
  }
}
