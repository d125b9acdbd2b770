package graft.ops

import graft.Tables
import graft.util.Memo
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental dedup — the block discipline applied to MinHash/LSH.
  *
  * A corpus pipeline never re-deduplicates 100 TB because one new block
  * arrived: the accumulated corpus's band table (doc_id, band_idx,
  * band_hash — bytes per doc) is materialized once and kept (at scale:
  * written bucketed on the band key via [[graft.sources.Bucketing]], so
  * the per-block join below shuffles ONLY the new block's bands).
  * Each arriving block computes signatures for its own docs — a pure map
  * stage — and candidate-joins against the store. Cost per block is
  * O(|block|) compute + one equi-join probe, independent of corpus size;
  * candidates then feed the usual exact re-rank and (for cluster
  * maintenance) [[Graph.connectedComponents]] over stored + new edges.
  *
  * IncrementalSpec proves the invariant that makes this sound: block-vs-
  * store candidates are exactly the full-recompute candidates restricted
  * to cross-boundary pairs — signatures are per-document, so incremental
  * and batch computation cannot diverge.
  */
object IncrementalDedup {

  /** The band table to materialize for an accumulated corpus:
    * (doc_id, band_idx, band_hash).
    */
  def bandStore(docs: DataFrame): DataFrame =
    Dedup.lshBands(Dedup.minhashSignatures(docs))

  /** Candidate pairs of a new block against a stored band table —
    * (new_id, old_id), distinct. The two inputs are assumed disjoint
    * (blocks are immutable and appended once).
    */
  def newBlockCandidates(newDocs: DataFrame, store: DataFrame): DataFrame = {
    val nb = bandStore(newDocs)
      .select(col("doc_id").as("new_id"), col("band_idx"), col("band_hash"))
    val ob = store
      .select(col("doc_id").as("old_id"), col("band_idx"), col("band_hash"))
    nb.join(ob, Seq("band_idx", "band_hash"))
      .select("new_id", "old_id")
      .distinct()
  }

  /** Incremental CLUSTER MAINTENANCE (`incremental_components`): the
    * daily-arrival discipline applied to the near-dup component state.
    * Same probe contract as `dedup_components` (τ=0.95 unigram Jaccard,
    * doc_id < 100) and the SAME oracle — what changes is how the labels
    * are computed:
    *
    *  1. The accumulated corpus (doc_id % 3 ≠ 0) has its components
    *     materialized once (memoized on the dataset stamp — at scale: a
    *     parquet label snapshot).
    *  2. A new block (doc_id % 3 = 0) contributes only the NEW edges:
    *     block-internal pairs plus block-vs-store pairs.
    *  3. New edges are CONTRACTED through the stored labels (each old
    *     endpoint replaced by its cluster label) and components run on
    *     the contracted graph: nodes = new docs + existing cluster
    *     labels. Cost ∝ |block| + touched clusters — never the corpus.
    *  4. Store labels re-map through the contracted result; untouched
    *     clusters ride through as isolated contracted nodes.
    *
    * Labeling is preserved exactly: store labels are their clusters' min
    * ids, so min-id over the contracted component = min-id over the full
    * merged member set — the incremental result is bit-identical to the
    * from-scratch `dedup_components`, which IncrementalSpec asserts and
    * the shared DuckDB recursive-CTE oracle checks.
    */
  def incrementalComponents(t: Tables): DataFrame = {
    val (edges, nodes) = Graph.jaccardEdges(t, 0.95, 100)
    val isNew = (c: org.apache.spark.sql.Column) => c % 3 === 0
    val storeEdges = edges.filter(!isNew(col("src")) && !isNew(col("dst")))
    val newEdges = edges.filter(isNew(col("src")) || isNew(col("dst")))
    val storeNodes = nodes.filter(!isNew(col("node")))

    // Accumulated state: one (node → label) pair per stored probe doc,
    // memoized like Graph.dedupComponents' probe labels (≤100 rows here;
    // a parquet snapshot at scale).
    val storeLabels = Memo.value(Memo.Key("inc_store_labels", t.sfDir, "documents")) {
      Graph.connectedComponents(storeEdges, storeNodes)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
    }
    import t.spark.implicits._
    val lbl = storeLabels.toSeq.toDF("node", "label")

    // Contract: old endpoints → their stored cluster label; new endpoints
    // pass through. Both joins are broadcasts of the O(probe) label table.
    val srcMapped = newEdges
      .join(broadcast(lbl.select(col("node").as("src"), col("label").as("src_l"))), Seq("src"), "left")
      .join(broadcast(lbl.select(col("node").as("dst"), col("label").as("dst_l"))), Seq("dst"), "left")
      .select(coalesce(col("src_l"), col("src")).as("src"),
        coalesce(col("dst_l"), col("dst")).as("dst"))
    val contractedNodes = nodes.filter(isNew(col("node")))
      .union(lbl.select(col("label").as("node")).distinct())
    val contracted = Graph.connectedComponents(srcMapped, contractedNodes)
      .select(col("node").as("cnode"), col("component").as("final_label"))

    // Store docs re-map through their stored label; new docs map directly.
    val storeFinal = lbl
      .join(contracted, col("label") === col("cnode"))
      .select(col("node").as("doc_id"), col("final_label").as("component_id"))
    val newFinal = contracted
      .filter(isNew(col("cnode")))
      .select(col("cnode").as("doc_id"), col("final_label").as("component_id"))
    storeFinal.unionByName(newFinal).orderBy("doc_id")
  }

  /** The registered daily-arrival drive (`incremental_dedup`): the corpus
    * split two-phase — accumulated store = `doc_id % 3 != 0`, today's block
    * = `doc_id % 3 == 0` — then the full incremental pipeline: materialize
    * the store's band table, candidate-join ONLY the block's bands against
    * it, exact shingle-Jaccard re-rank, keep pairs ≥ minJaccard.
    *
    * Oracle-checkable (ExtraSql `incremental_dedup`): the DuckDB side is
    * the exact cross-boundary Jaccard join at the same threshold. Equality
    * holds when LSH recall on the corpus's true pairs is total — this
    * corpus's near-dup pairs sit at j ≥ 0.88 (P[band hit] ≈ 1−(1−j⁴)⁸ >
    * 0.998, and identical docs collide with certainty), and the seeded
    * hashes make the outcome deterministic, so the driver's hash compare is
    * stable run to run. IncrementalSpec separately proves the structural
    * invariant (block-vs-store candidates ≡ batch candidates restricted to
    * cross-boundary) that makes the incremental discipline sound at ANY
    * recall.
    *
    * At 100 TB: the store's band table is written once, bucketed on
    * (band_idx, band_hash); each day's block computes its own bands (pure
    * map over the block) and probes — per-block cost O(|block|), never
    * O(|corpus|) — [[incrementalDedupBucketed]] is that layout made
    * literal.
    */
  def incrementalDedup(t: Tables, minJaccard: Double = 0.5): DataFrame = {
    val docs = t.documents
    val store = docs.filter(col("doc_id") % 3 =!= 0)
    val block = docs.filter(col("doc_id") % 3 === 0)
    rerankCandidates(t, newBlockCandidates(block, bandStore(store)), minJaccard)
  }

  /** Exact shingle-Jaccard re-rank of (new_id, old_id) candidates, same
    * evaluate-once explode barrier as Dedup.dedupMinhashLsh (jac computed
    * once per pair). Shared by the in-plan and bucketed-store variants.
    * The threshold filters the RAW jaccard and rounding happens after —
    * matching the DuckDB oracle (`WHERE jraw >= τ`, ROUND in the output)
    * and SimJoin's established pattern; filtering the rounded value would
    * admit pairs in [τ − 5e-7, τ) that the oracle excludes.
    */
  private def rerankCandidates(
      t: Tables, cands: DataFrame, minJaccard: Double): DataFrame = {
    val sets = Dedup.shingleArray(t.documents)
      .select(col("doc_id"), array_distinct(col("shingles")).as("s"))
      .repartition(col("doc_id"))
    cands
      .join(sets.select(col("doc_id").as("new_id"), col("s").as("n_s")), "new_id")
      .join(sets.select(col("doc_id").as("old_id"), col("s").as("o_s")), "old_id")
      .select(col("new_id"), col("old_id"),
        explode(array(call_function("graft_jaccard", col("n_s"), col("o_s")))).as("jraw"))
      .filter(col("jraw") >= minJaccard)
      .select(col("new_id"), col("old_id"), round(col("jraw"), 6).as("jac"))
      .orderBy("new_id", "old_id")
  }

  /** The 100 TB form of [[incrementalDedup]] made literal: the corpus band
    * store is MATERIALIZED as a parquet table bucketed+sorted on the band
    * join key (band_idx, band_hash), once per dataset stamp — so each
    * arriving block's probe is a sort-merge join in which the STORE side's
    * distribution requirement is pre-satisfied by the layout (no Exchange;
    * PlanSpec pins exactly one band-key Exchange in the plan — the
    * block's own bands, the only data that should move per block). Same
    * candidates, same re-rank, same oracle as the in-plan variant;
    * IncrementalSpec asserts result equality.
    */
  def incrementalDedupBucketed(t: Tables, minJaccard: Double = 0.5): DataFrame = {
    val spark = t.spark
    // the table name carries the dataset's tag (basename + digest of the
    // full dir), so two datasets that share a basename get distinct tables
    val tbl = s"graft_bkt_bandstore_${Memo.tag(t.sfDir)}"
    val key = Memo.Key("bandstore", t.sfDir, "documents")
    Memo.inContext(spark, key) {
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      bandStore(t.documents.filter(col("doc_id") % 3 =!= 0))
        .write
        .bucketBy(8, "band_idx", "band_hash")
        .sortBy("band_idx", "band_hash")
        .option("path", Memo.emptyPath(key).toString)
        .mode("overwrite")
        .format("parquet")
        .saveAsTable(tbl)
    }
    val store = spark.table(tbl)
      .select(col("doc_id").as("old_id"), col("band_idx"), col("band_hash"))
    val nb = bandStore(t.documents.filter(col("doc_id") % 3 === 0))
      .select(col("doc_id").as("new_id"), col("band_idx"), col("band_hash"))
    val cands = nb.join(store.hint("merge"), Seq("band_idx", "band_hash"))
      .select("new_id", "old_id")
      .distinct()
    rerankCandidates(t, cands, minJaccard)
  }
}
