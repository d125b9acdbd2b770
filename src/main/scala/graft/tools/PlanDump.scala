package graft.tools

import java.nio.file.{Files, Paths}

import graft.Registry
import graft.util.GraftSession

/** Dumps the executed physical plans of registry queries, taken under the
  * engine's session profile ([[GraftSession]]) on uncached tables, as
  * Verify runs them. With no query names it writes the representative set
  * below to PLANS.md: the plan-shape evidence (pushdown, pruning,
  * broadcasts, partial aggregation, codegen spans, custom operators)
  * reviewable without running anything. Named queries give the before and
  * after plans of one change.
  *
  * Usage: sbt "runMain graft.tools.PlanDump [sfDir] [outFile] [query ...]"
  */
object PlanDump {

  val representative: Seq[(String, String)] = Seq(
    "scan_filter_pushdown" -> "predicate + projection reach the parquet reader",
    "agg_hash_q1" -> "partial+final hash aggregation, decimal money math",
    "join_multiway" -> "star join: dims broadcast, facts shuffle once",
    "join_asof_native" -> "custom AsOfJoinExec physical operator",
    "win_running_sum" -> "single shuffle on the partition key, frame-based window",
    "topk_global" -> "TakeOrderedAndProject, no global sort",
    "sim_cosine_topk" -> "broadcast probe x corpus with codegen'd graft_dot",
    "dedup_minhash_lsh" -> "shingle MinHash -> LSH band equi-join -> exact re-rank",
    "stream_session" -> "session windows directly in the aggregation",
    "subq_correlated" -> "decorrelated aggregate + left join",
    "dedup_components" -> "CC star-forest labels joined back to the probe (iterative loop runs before the final plan)",
    "sample_stratified" -> "single stratum-keyed shuffle, hash-order rank",
    "pipeline_corpus_clean" -> "3-stage dedup pipeline fused into one plan by Catalyst",
    "win_time_range" -> "event-time RANGE frame partitioned by user",
    "sessionize_gap" -> "lag + running-sum sessionization: one user_id exchange feeds two chained windows",
    "heavy_hitters" -> "Misra-Gries candidates (mapPartitions) -> broadcast exact recount",
    "decontaminate" -> "distinct doc/gram pairs, gram-keyed candidate equi-join",
    "graph_pagerank" -> "integer power iteration: keyed joins + partial sums per round",
    "join_skew_salted" -> "composite (key, salt) join with replicated dim",
    "join_bucketed" -> "co-located bucketed join: SelectedBucketsCount, no Exchange on either side",
    "chunk_documents" -> "token-window chunking as a pure map-side Generate",
    "ann_cosine_topk" -> "single graft_hplanes signature call feeding the band-bucket candidate join",
    "sim_jaccard_join" -> "prefix-filtered exact similarity join: freq rank -> prefix explode -> token equi-join + size/positional prune -> exact re-rank",
    "ann_ivfpq_topk" -> "IVF-ADC: probed-cell pruning joined with the broadcast PQ lookup table",
    "incremental_dedup" -> "new-block bands probe the materialized corpus band store: block-sized map stage + one equi-join, corpus bodies never move",
    "incremental_dedup_bucketed" -> "bucketed band-store probe: store side pre-satisfied by the layout (SelectedBucketsCount), the block's bands are the only band-key Exchange",
    "topk_group_agg" -> "k-bounded ObjectHashAggregate partial+final: the shuffle carries #groups x k buffers, no WindowExec anywhere",
    "skyline_pareto" -> "two-phase Pareto frontier: parallel bucket frontiers, then the merge pass over survivors only",
    "snapshot_diff" -> "CDC derivation: one full-outer key join, unchanged rows dropped inside the join projection",
    "dq_check" -> "every flag rule folded into ONE table scan (conditional sums), uniqueness as its own two-level aggregate",
    "agg_bitmap_distinct" -> "bitmap pre-aggregate: partial bitmap_construct_agg map-side, daily counts + OR-merged all-time rollup from the same sketch table",
    "basket_assoc" -> "bit_or basket masks (primitive-long hash agg), one in-row emission pass feeds the single vocabulary-bounded aggregate",
    "source_range_v2" -> "DSv2 BatchScan: pushed id-range clamp + pruned columns visible in the scan description, residual tag filter post-scan",
    "join_dpp" -> "dynamic partition pruning: the calendar dim's broadcast re-used as an IN-subquery partition filter on the date-partitioned fact scan",
    "rec_item_cooccur" -> "one basket emission stream carries pairs AND margins; margins attach as windows over the single pair aggregate",
    "geo_grid_join" -> "grid-blocked spatial join: cell-keyed repartition, 3x3 stencil Generate, candidate build side pinned",
    "rollup_incremental" -> "incremental rollup merge: partial-store scan UNION block partials — the raw fact scan carries the pushed split-date filter",
    "feature_pit_join" -> "point-in-time features: union-tag stream, ONE entity-keyed window pass serves every as-of date",
    "join_multiway_cbo" -> "statistics-driven reorder: ANALYZE'd row counts/NDVs rebuild the deliberately pessimal written join order under cbo.enabled + joinReorder",
    "join_bloom_runtime" -> "runtime bloom-filter pruning: the selective dim side's bloom filter lands as might_contain in the fact scan, ahead of the join shuffle",
    "ann_ivfpq_upsert" -> "persisted-index upsert serve: versioned code-delta union (snap + delta), probed-cell partition pruning per version dir, frozen broadcast codebook",
    "sql_recursive_cte" -> "engine-owned recursion: UnionLoopExec iterates the 16-ary ancestor walk, one distributed map per round, one final hash aggregate",
    "feature_scale" -> "per-group scaling: the 3-row exact-moment stats broadcast back onto the fact — the fact table never shuffles, scaling is map-side math",
    "topk_per_group" -> "rank-filter top-k compiles to WindowGroupLimit: each partition keeps k rows per group BEFORE the shuffle and the WindowExec",
    "scan_file_metadata" -> "reader-synthesized _metadata provenance columns (file_name/row_index): zero extra I/O, no input_file_name fallback",
    "join_manifest_runtime_filter" -> "dynamic partition pruning on the manifest store: the month dim's broadcast re-used as a dynamicpruning IN filter that re-plans the fact's FILES at runtime",
    "join_manifest_spj_bucket" -> "storage-partitioned join on a bucketed layout: both scans report KeyGroupedPartitioning(bucket(16, custkey)) resolved via the catalog's V2 function — ZERO Exchange on either side",
    "agg_manifest_group_pushdown" -> "grouped aggregate pushdown: per-month count/min/max answered from the manifest alone (graft-manifest-agg scan, zero data files opened)",
    "source_manifest_typed" -> "parquet-codec typed store: a DATE range predicate prunes files via epoch-day zone maps AND row groups via the pushed parquet FilterPredicate; exact DECIMAL(12,2) cents aggregation + time travel",
    "agg_manifest_date_pushdown" -> "date aggregate pushdown: count + MIN/MAX(date) answered from the manifest's epoch-day zone maps (graft-manifest-agg scan, zero data files opened)",
    "source_manifest_multidim" -> "multi-dimension partitioned layout: the (year, key-slot) slice plans only the matching value-combination files — each @field prunes alone",
    "sql_manifest_zorder_call" -> "OPTIMIZE ZORDER BY via CALL: the append-ordered store rewritten Morton-clustered, the 2D slice pruning most files on both dimensions")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = args.lift(1).getOrElse("PLANS.md")
    val why = representative.toMap
    val names = if (args.length > 2) args.drop(2).toSeq else representative.map(_._1)
    val spark = GraftSession()
    spark.sparkContext.setLogLevel("ERROR")

    try {
      def conf(k: String) = spark.conf.get(k)
      val sb = new StringBuilder
      sb.append("# PLANS — executed physical plans of representative operators\n\n")
      sb.append(s"Generated by `graft.tools.PlanDump` on `$sfDir` under the engine's\n")
      sb.append(s"session profile (`graft.util.GraftSession`: ${spark.sparkContext.master},\n")
      sb.append(s"shuffle partitions ${conf("spark.sql.shuffle.partitions")}, ")
      sb.append(s"AQE ${conf("spark.sql.adaptive.enabled")}, storage-partitioned joins on,\n")
      sb.append("graft.GraftExtensions), tables uncached. Regenerate from the repo root:\n")
      sb.append("`sbt \"runMain graft.tools.PlanDump\"` (output path is cwd-relative).\n")
      names.foreach { name =>
        val df = Registry.all(name)(spark, sfDir)
        df.collect() // finalize AQE, when it is on
        sb.append(s"\n## $name${why.get(name).fold("")(" — " + _)}\n\n```\n")
        sb.append(df.queryExecution.executedPlan.toString().trim)
        sb.append("\n```\n")
      }
      Files.writeString(Paths.get(out), sb.toString)
      println(s"wrote $out")
    } finally spark.stop()
  }
}
