package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import ops._

/** Name → implementation map for every declared operator in SURVEY.md §2.2.
  * Keys match `survey/queries.json` exactly; each implementation is the
  * DataFrame-API plan whose semantics the corresponding `SurveySql.spark`
  * text specifies and whose `SurveySql.duck` text the driver's DuckDB
  * oracle checks.
  */
object Registry {

  type Query = (SparkSession, String) => DataFrame

  private def q(f: Tables => DataFrame): Query =
    (spark, sfDir) => f(Tables(spark, sfDir))

  /** A query that produces a declarative graph-spec resource. */
  private def graphQuery(resource: String): Query =
    (spark, sfDir) => graft.pipeline.GraphLoader.produce(
      graft.pipeline.GraphLoader.fromResource(resource), spark, sfDir)

  val all: Map[String, Query] = Map(
    // scans
    "scan_project" -> q(Relational.scanProject),
    "scan_filter_pushdown" -> q(Relational.scanFilterPushdown),
    // hidden _metadata columns (file_name/row_index) — file provenance
    "scan_file_metadata" -> q(Relational.scanFileMetadata),
    // projection / filter
    "project_compute" -> q(Relational.projectCompute),
    "filter_compound" -> q(Relational.filterCompound),
    "filter_like_null" -> q(Relational.filterLikeNull),
    "distinct_rows" -> q(Relational.distinctRows),
    // joins
    "join_inner" -> q(Relational.joinInner),
    "join_broadcast" -> q(Relational.joinBroadcast),
    "join_left" -> q(Relational.joinLeft),
    "join_full_outer" -> q(Relational.joinFullOuter),
    "join_semi" -> q(Relational.joinSemi),
    "join_anti" -> q(Relational.joinAnti),
    "join_theta" -> q(Relational.joinTheta),
    "join_cross" -> q(Relational.joinCross),
    "join_multiway" -> q(Relational.joinMultiway),
    "join_asof" -> q(Temporal.joinAsof),
    "join_asof_left" -> q(Temporal.joinAsofLeft),
    "join_asof_grouped" -> q(AsofGrouped.joinAsofGrouped),
    "join_asof_native" -> q(AsofGrouped.joinAsofNative),
    "join_interval" -> q(Temporal.joinInterval),
    "join_interval_bucketed" -> q(Temporal.joinIntervalBucketed),
    // aggregation
    "agg_hash_q1" -> q(Aggregates.aggHashQ1),
    "agg_avg" -> q(Aggregates.aggAvg),
    "agg_minmax" -> q(Aggregates.aggMinmax),
    "agg_count_distinct" -> q(Aggregates.aggCountDistinct),
    "agg_having" -> q(Aggregates.aggHaving),
    "agg_grouping_sets" -> q(Aggregates.aggGroupingSets),
    "agg_rollup" -> q(Aggregates.aggRollup),
    "agg_cube" -> q(Aggregates.aggCube),
    // grouping()/grouping_id() — the machine-readable cube disambiguator
    "agg_grouping_id" -> q(Aggregates.aggGroupingId),
    // predicate aggregates: count_if / bool_and / bool_or
    "agg_bool" -> q(Aggregates.aggBool),
    "agg_stddev" -> q(Aggregates.aggStddev),
    "agg_collect_list" -> q(Aggregates.aggCollectList),
    // ARGMAX/ARGMIN: max_by/min_by with total-order tie-break structs
    "agg_argmax" -> q(Aggregates.aggArgmax),
    "abc_analysis" -> q(Aggregates.abcAnalysis),
    "agg_gini" -> q(Aggregates.aggGini),
    // exact weighted median over the value-bounded support
    "agg_weighted_median" -> q(Aggregates.aggWeightedMedian),
    // windows
    "win_row_number" -> q(Windows.winRowNumber),
    "win_rank_dense" -> q(Windows.winRankDense),
    "win_lag_lead" -> q(Windows.winLagLead),
    "win_running_sum" -> q(Windows.winRunningSum),
    "win_sliding_avg" -> q(Windows.winSlidingAvg),
    "win_range_frame" -> q(Windows.winRangeFrame),
    "win_ntile_cume" -> q(Windows.winNtileCume),
    "win_first_last" -> q(Windows.winFirstLast),
    // percent_rank + ratio-to-report (share of partition) — Windows
    "win_percent_ratio" -> q(Windows.winPercentRatio),
    // the IGNORE NULLS window family (lag/lead/first/nth) via the parser
    "win_ignore_nulls" -> q(Windows.winIgnoreNulls),
    "topk_per_group" -> q(Windows.topkPerGroup),
    // same contract via a k-bounded typed Aggregator: shuffle carries
    // #groups × k buffer entries instead of every input row (TopK scaladoc)
    "topk_group_agg" -> q(TopK.topkGroupAgg),
    // sort / limit / set ops
    "sort_multi" -> q(Relational.sortMulti),
    "limit_offset" -> q(Relational.limitOffset),
    "topk_global" -> q(Relational.topkGlobal),
    "set_union_all" -> q(Relational.setUnionAll),
    "set_union_distinct" -> q(Relational.setUnionDistinct),
    "set_intersect" -> q(Relational.setIntersect),
    "set_except" -> q(Relational.setExcept),
    // scalar functions
    "fn_string" -> q(Functions.fnString),
    "fn_regexp" -> q(Functions.fnRegexp),
    "fn_date" -> q(Functions.fnDate),
    "fn_math" -> q(Functions.fnMath),
    "fn_case_coalesce" -> q(Functions.fnCaseCoalesce),
    "fn_cast" -> q(Functions.fnCast),
    "fn_json" -> q(Functions.fnJson),
    "fn_array" -> q(Functions.fnArray),
    // temporal / streaming batch twins
    "stream_tumbling" -> q(Temporal.streamTumbling),
    "stream_sliding" -> q(Temporal.streamSliding),
    "stream_session" -> q(Temporal.streamSession),
    "stream_dedup" -> q(Temporal.streamDedup),
    "dedup_keep_latest" -> q(Temporal.dedupKeepLatest),
    // text / LLM-pipeline
    "text_tokenize" -> q(Text.textTokenize),
    "text_stats" -> q(Text.textStats),
    "text_tfidf" -> q(Text.textTfidf),
    "dedup_exact" -> q(Text.dedupExact),
    // CCNet-style cross-corpus line dedup: one canonical occurrence of
    // every distinct 10-token line survives (Text.dedupLines scaladoc)
    "dedup_lines" -> q((t: Tables) => Text.dedupLines(t)),
    // EXACT suffix-grain repeated-substring dedup (Lee et al. 2021):
    // covering N-grams == duplicated-substring positions, distributed
    // restatement of the suffix-array construction (Text scaladoc)
    "dedup_substrings" -> q((t: Tables) => Text.dedupSubstrings(t)),
    "sim_jaccard" -> q(Text.simJaccard),
    "udtf_bigrams" -> q(Text.udtfBigrams),
    // vector similarity
    "sim_cosine_topk" -> q(Vector.simCosineTopk),
    // EXACT top-k via int8-pruned scan + full-precision re-rank — output
    // provably identical to brute force (Vector.simCosineTopkSq8 scaladoc)
    "sim_cosine_topk_sq8" -> q((t: Tables) => Vector.simCosineTopkSq8(t)),
    "knn_label_vote" -> q(Vector.knnLabelVote),
    "sim_cosine_threshold" -> q(Vector.simCosineThreshold),
    // text analysis (north-star additions)
    "text_token_count" -> q(TextAnalysis.textTokenCount),
    // per-doc type-token ratio + hapax profile (vocabulary richness)
    "text_ttr" -> q(TextAnalysis.textTtr),
    "text_quality" -> q(TextAnalysis.textQuality),
    // unigram-LM avg-NLL scoring (CCNet-style filter) over the store/block
    // split; micro-nat integer sums keep it cross-engine exact
    "text_lm_score" -> q(TextAnalysis.textLmScore),
    // bigram transition model: same store/block split and micro-nat
    // discipline, catches implausible token ORDER
    "text_lm_bigram" -> q(TextAnalysis.textLmBigram),
    "text_langid" -> q(TextAnalysis.textLangid),
    // feature-association statistics + retrieval scoring + collocations
    // (FeatureStats): contingency/margin aggregates and micro-nat ln
    // discipline — all DuckDB-oracled
    // trained embedding-structure surfaces (Cluster): k-means profiles of
    // the IVF quantizer + top principal component; seeded-deterministic
    // like the ANN family, spec-gated (no cross-engine oracle exists)
    "kmeans_clusters" -> q(Cluster.kmeansClusters),
    // supervised trained-structure surface: one aggregate per GD step,
    // micro-quantized integer gradient sums (rows-only, LogRegSpec)
    "ml_logreg" -> q(LogReg.mlLogreg),
    "vec_pca_power" -> q(Cluster.vecPcaPower),
    "feature_mutual_info" -> q(FeatureStats.featureMutualInfo),
    "feature_chi2" -> q(FeatureStats.featureChi2),
    "agg_entropy" -> q(FeatureStats.aggEntropy),
    // interval-union sweep + rolling distinct actives + class balancing —
    // linear restatements of classically-quadratic metrics (see scaladoc)
    "interval_union_length" -> q(Behavior.intervalUnionLength),
    "rolling_active_users" -> q(Behavior.rollingActiveUsers),
    "balance_classes" -> q(Sampling.balanceClasses),
    // exact mergeable bitmap distinct + audience overlap (Audience),
    // brand-pair association rules (Assoc), two-sample KS drift gate,
    // weekly seasonality profile, skew-salted two-level aggregation,
    // rolling robust median — all DuckDB-oracled
    "agg_bitmap_distinct" -> q(Audience.aggBitmapDistinct),
    "agg_bitmap_rollup" -> q(Audience.aggBitmapRollup),
    "agg_count_distinct_rewrite" -> q(Audience.aggCountDistinctRewrite),
    "segment_overlap" -> q(Audience.segmentOverlap),
    "basket_assoc" -> q(Assoc.basketAssoc(_)),
    // item-granularity "also bought" recommendations: basket-width-bounded
    // in-row pair emission, lift-ranked (Rec.recItemCooccur)
    "rec_item_cooccur" -> q(Rec.recItemCooccur),
    // leave-one-out target encoding: category aggregate broadcast back,
    // zero fact shuffles (Encode.targetEncoding)
    "feature_target_encoding" -> q(Encode.targetEncoding),
    // per-group z-score + min-max scaling from exact moments, stats
    // broadcast back onto the fact (FeatureStats.featureScale)
    "feature_scale" -> q(FeatureStats.featureScale),
    // grid-blocked spatial radius self-join on exact integer micro-degree
    // geometry (Geo.geoGridJoin)
    "geo_grid_join" -> q(Geo.geoGridJoin),
    "stats_ks_test" -> q(FeatureStats.statsKsTest),
    // the parametric + rank-based members of the same drift battery
    "stats_welch_ttest" -> q(FeatureStats.statsWelchTtest),
    "stats_anova" -> q(FeatureStats.statsAnova),
    "stats_mannwhitney" -> q(FeatureStats.statsMannWhitney),
    // Welch two-sample t: two rows of exact integer moments shuffled,
    // all double derivation in one final projection
    "stats_ttest" -> q(FeatureStats.statsTtest),
    "stats_cov_matrix" -> q(FeatureStats.statsCovMatrix),
    "agg_bootstrap_ci" -> q(FeatureStats.aggBootstrapCi(_)),
    "ts_seasonality" -> q(Behavior.tsSeasonality),
    "ts_changepoint" -> q(Behavior.tsChangepoint),
    // OLS trend + 7-day forecast from five sufficient statistics
    "ts_forecast_linear" -> q(Forecast.tsForecastLinear),
    "ts_interarrival" -> q(Behavior.tsInterarrival),
    "behavior_rfm" -> q(Behavior.behaviorRfm),
    "ts_autocorrelation" -> q(Behavior.tsAutocorrelation(_)),
    // lead/lag cross-correlation of clicks vs purchases on the day spine
    "ts_cross_correlation" -> q(Behavior.tsCrossCorrelation(_)),
    "attribution_linear" -> q(Behavior.attributionLinear),
    "dim_calendar" -> q(Behavior.dimCalendar),
    "text_hashing_vectorizer" -> q(Text.textHashingVectorizer(_)),
    "agg_salted_twolevel" -> q(Skew.aggSaltedTwolevel(_)),
    "win_rolling_median" -> q(Windows.winRollingMedian),
    "text_keywords" -> q(Text.textKeywords(_)),
    "fn_url" -> q(Urls.fnUrl),
    "dedup_url_canonical" -> q(Urls.dedupUrlCanonical),
    "text_bm25" -> q(FeatureStats.textBm25),
    "text_collocations" -> q(FeatureStats.textCollocations),
    "text_fingerprint" -> q(TextAnalysis.textFingerprint),
    "sim_shingle" -> q(TextAnalysis.simShingle),
    "sim_edit_distance" -> q(TextAnalysis.simEditDistance),
    "agg_percentile" -> q(Aggregates.aggPercentile),
    "fn_string2" -> q(Functions.fnString2),
    "fn_date2" -> q(Functions.fnDate2),
    "fn_date_trunc" -> q(Functions.fnDateTrunc),
    "pipeline_train_prep" -> q(Pipelines.pipelineTrainPrep),
    // Dataset.observe/CollectMetrics instrumentation riding the plan
    // (value-invisible; PipelineSpec pins metric delivery)
    "pipeline_observe" -> q(Pipelines.pipelineObserve),
    "win_nth_value" -> q(Windows.winNthValue),
    "pipeline_revenue_by_segment" -> q(Pipelines.pipelineRevenueBySegment),
    // The same pipeline built FROM the declarative JSON graph spec
    // (pipeline.GraphLoader): shares its oracle — loader path must be
    // result-identical to the code-level graph.
    "pipeline_graph_spec" -> graphQuery("/graphs/revenue_by_segment.json"),
    // A graph whose first node is a `query` node (any registered engine
    // operator, here text_quality) composed with a sql aggregation —
    // proves the declarative form reaches the full operator surface.
    "pipeline_graph_query" -> graphQuery("/graphs/quality_by_lang.json"),
    // The literal basis graph.yml form through the YAML front-end —
    // same graph, same oracle as the JSON path.
    "pipeline_graph_yaml" -> graphQuery("/graphs/revenue_by_segment.yml"),
    // declarative observe: on graph nodes (Dataset.observe metrics
    // collected as the graph runs; GraphLoaderSpec pins delivery)
    "pipeline_graph_observe" -> graphQuery("/graphs/revenue_observed.yml"),
    // the engine's own manifest row store as a declarative graph SOURCE
    // (kind: manifest, optional version: time travel from the spec)
    "pipeline_graph_manifest" -> ((s, dir) => {
      val store = sources.Feeds.ensureCustomerManifest(s, dir)
      graft.pipeline.GraphLoader.produce(
        graft.pipeline.GraphLoader.fromResource(
          "/graphs/manifest_rollup.yml", Map("store_path" -> store)), s, dir)
    }),
    // the store's CHANGE FEED as a declarative graph source
    // (change_feed: true + starting_version) — shares the Scala CDF
    // query's oracle verbatim: the spec front end must be value-invisible
    "pipeline_graph_cdf" -> ((s, dir) => {
      val store = sources.Feeds.ensureOrdersCdfManifest(s, dir)
      graft.pipeline.GraphLoader.produce(
        graft.pipeline.GraphLoader.fromResource(
          "/graphs/cdf_rollup.yml", Map("store_path" -> store)), s, dir)
    }),
    // The same graph with its join persisted through a `materialize`
    // node (declared-format block, written exactly once, downstream
    // reads the block) — still the same oracle: the storage hop must be
    // value-preserving.
    "pipeline_graph_materialize" ->
      ((s: org.apache.spark.sql.SparkSession, dir: String) => {
        val block = java.nio.file.Files.createTempDirectory("graft_gmat")
        graft.pipeline.GraphLoader.produce(
          graft.pipeline.GraphLoader.fromResource(
            "/graphs/revenue_by_segment_mat.yml",
            Map("block_dir" -> s"$block/enriched")),
          s, dir)
      }),
    // Source node with a declared schema at cast level loose — the
    // downstream sql sees the DECLARED shape (overflow/domain → NULL).
    "pipeline_graph_schema" -> graphQuery("/graphs/events_typed.yml"),
    // OUTPUT schema on a sql node (basis casts at every materialization
    // hop, not just input ports): the aggregate leaves its node loosely
    // cast to the declared shape — domain violations nulled, widths
    // narrowed — and the downstream node consumes the declared shape.
    "pipeline_graph_output_schema" -> graphQuery("/graphs/daily_output_schema.yml"),
    // Statistics-driven join planning: ANALYZE'd external catalog tables
    // + cbo.enabled/joinReorder — the deliberately pessimal written
    // order is rebuilt from row counts/NDVs (CboSpec pins the reorder
    // fired; this oracle pins it value-invisible).
    "join_multiway_cbo" -> ((s: org.apache.spark.sql.SparkSession, dir: String) =>
      ops.Cbo.joinMultiwayCbo(s, dir)),
    // Runtime bloom-filter join pruning (row-level DPP sibling): the
    // selective small side builds a bloom filter at runtime and
    // might_contain prunes the fact SCAN before the join shuffle.
    "join_bloom_runtime" -> ((s: org.apache.spark.sql.SparkSession, dir: String) =>
      ops.RuntimeFilters.joinBloomRuntime(s, dir)),
    // A STREAM port through the graph: query node = the windowed
    // streaming surface, sql node rolls hours up to days.
    "pipeline_graph_stream" -> graphQuery("/graphs/stream_daily.yml"),
    // round-4 additions: reshape / stats / sampling / repetition quality /
    // keep-best dedup policy — all DuckDB-oracled
    "pivot_wide" -> q(Reshape.pivotWide),
    "unpivot_long" -> q(Reshape.unpivotLong),
    "sample_hash" -> q(Reshape.sampleHash),
    "agg_string" -> q(Reshape.aggString),
    // native SQL-standard LISTAGG … WITHIN GROUP through the parser
    // (Spark 4.0+) — aggString's composition twin
    "agg_listagg" -> q(Reshape.aggListagg),
    "agg_stats2" -> q(Reshape.aggStats2),
    "agg_histogram" -> q(Reshape.aggHistogram),
    "ts_resample" -> q(Reshape.tsResample),
    "funnel_conversion" -> q(Temporal.funnelConversion),
    "vec_quantize" -> q(Vector.vecQuantize),
    "text_repetition" -> q(TextAnalysis.textRepetition),
    // Gopher-rule document filter: per-rule 0/1 flags + composed keep
    "text_gopher_filter" -> q(TextAnalysis.textGopherFilter),
    "dedup_keep_best" -> q(TextAnalysis.dedupKeepBest),
    // sketch/ANN scale paths — engine-specific seeded hashes, so no
    // cross-engine oracle (driver: rows-only; DedupSpec/AnnSpec assert the
    // real guarantees)
    "dedup_minhash_lsh" -> q(Dedup.dedupMinhash),
    // daily-arrival incremental dedup: block bands probe the materialized
    // corpus band store; exact re-rank makes it oracle-checkable (the
    // corpus's true pairs sit far above the LSH recall knee — see
    // IncrementalDedup.incrementalDedup scaladoc)
    "incremental_dedup" -> q((t: Tables) => IncrementalDedup.incrementalDedup(t)),
    // incremental cluster maintenance: new-block edges contracted through
    // the stored labels; CC runs on block + touched clusters only
    "incremental_components" -> q((t: Tables) => IncrementalDedup.incrementalComponents(t)),
    // the 100 TB band-store shape made literal: store bucketed on the band
    // key, per-block probe shuffles only the block's bands
    "incremental_dedup_bucketed" -> q((t: Tables) => IncrementalDedup.incrementalDedupBucketed(t)),
    // both SimHash keys run the banded pigeonhole-exact path, at two
    // operating points: 8x8-bit bands / d<=7 (wide net) and 4x16-bit
    // bands / d<=3 (web-dedup point)
    "dedup_simhash" -> q((t: Tables) => Dedup.dedupSimhash(t)),
    "dedup_simhash_banded" -> q((t: Tables) => Dedup.dedupSimhashBanded(t)),
    "ann_cosine_topk" -> q((t: Tables) => Ann.annCosineTopk(t)),
    "ann_ivf_topk" -> q((t: Tables) => Ivf.ivfCosineTopk(t)),
    "ann_pq_topk" -> q((t: Tables) => Pq.pqCosineTopk(t)),
    // IVF-ADC composition: coarse cells prune the ADC scan to
    // nprobe/NumCells of the code table per probe (Jégou §V)
    "ann_ivfpq_topk" -> q((t: Tables) => IvfPq.ivfpqCosineTopk(t)),
    "ann_ivfpq_persisted" -> q((t: Tables) => AnnIndex.ivfpqPersistedTopk(t)),
    // Incremental index maintenance: a new vector batch appended to the
    // persisted index with FROZEN centroids/codebooks (no Lloyd), read
    // path unions the versioned code deltas; planted twins make the
    // append falsifiable (AnnIndexSpec pins twin recall + idempotence).
    "ann_ivfpq_upsert" -> q((t: Tables) => AnnIndex.ivfpqUpsertTopk(t)),
    // Tombstone deletion: the last CRUD op of a served index — deleted
    // ids vanish logically at commit (read-path anti-join) and
    // physically at the next compact; AnnIndexSpec pins both stages,
    // slot backfill, idempotence, and untouched-probe invariance.
    "ann_ivfpq_delete" -> q((t: Tables) => AnnIndex.ivfpqDeleteTopk(t)),
    // rows-only: HLL sketch values / map type are engine-specific surfaces
    "agg_approx_distinct" -> q(Aggregates.aggApproxDistinct),
    // mergeable day-sketch rollup (DataSketches HLL): union-of-daily ==
    // direct-over-all by register-max commutativity; rows-only check +
    // HllSpec ε/merge-law pins
    "agg_hll_mergeable" -> q(Aggregates.aggHllMergeable),
    "fn_map" -> q(Functions.fnMap),
    // binary feature extraction (typed mapPartitions over the synthetic
    // media corpus); oracled — ASCII corpus makes byte entropy
    // SQL-expressible as char-frequency entropy (ExtraSql)
    "multimodal_features" -> ((s, dir) => Multimodal.featureStats(s, dir)),
    "multimodal_meta" -> ((s, dir) => Multimodal.mediaMeta(s, dir)),
    // UDx
    "udf_slugify" -> q(Udx.udfSlugify),
    "udaf_weighted_avg" -> q(Udx.udafWeightedAvg),
    // subqueries
    // LATERAL correlated subquery through the SQL parser (Relational)
    "join_lateral" -> q(Relational.joinLateral),
    // WITH RECURSIVE through the SQL parser (Spark 4 UnionLoopExec) —
    // ancestor-walk subtree rollup; the engine owns the iteration
    "sql_recursive_cte" -> q(Relational.sqlRecursiveCte),
    // Spark-4 SQL surfaces: pipe syntax, session variables, scripting
    // (SqlSurface scaladoc — sugar over analysis, pinned vs plain SQL)
    "sql_pipe_syntax" -> q(SqlSurface.sqlPipeSyntax),
    "sql_session_vars" -> q(SqlSurface.sqlSessionVars),
    "sql_script" -> q(SqlSurface.sqlScript),
    "sql_group_by_all" -> q(SqlSurface.sqlGroupByAll),
    "sql_unpivot" -> q(SqlSurface.sqlUnpivot),
    "sql_parameterized" -> q(SqlSurface.sqlParameterized),
    "sql_agg_filter" -> q(SqlSurface.sqlAggFilter),
    // VariantType semi-structured surface: parse_json → typed
    // variant_get paths (nested object / array / missing)
    "fn_variant" -> q(Functions.fnVariant),
    // ANSI-safe try_* arithmetic (poisoned rows -> NULL, not dead jobs)
    "fn_try" -> q(Functions.fnTry),
    // calendar interval arithmetic (month clamp, next-weekday, deltas)
    "fn_interval" -> q(Functions.fnInterval),
    // collation-aware grouping (UTF8_LCASE) — declarative case folding
    "fn_collation" -> q(Functions.fnCollation),
    // split_part + predicate trio + padding (third string tranche)
    "fn_string3" -> q(Functions.fnString3),
    // format-preserving PII masking (governance family)
    "fn_mask" -> q(Functions.fnMask),
    // in-row CSV codec round trip (to_csv/from_csv)
    "fn_csv" -> q(Functions.fnCsv),
    // higher-order array lambdas (transform/filter/exists/forall/zip_with)
    "fn_lambda" -> q(Functions.fnLambda),
    "subq_scalar" -> q(Relational.subqScalar),
    "subq_in" -> q(Relational.subqIn),
    "subq_correlated" -> q(Relational.subqCorrelated),
    // NOT IN with three-valued-logic semantics, in the hash-joinable
    // decomposition (anti join + broadcast null-presence gate)
    "subq_not_in" -> q(Relational.subqNotIn),
    // EXISTS/NOT EXISTS through the parser (semi + anti in one statement)
    "subq_exists" -> q(Relational.subqExists),
    // round-5 additions: duplicate-cluster resolution (distributed
    // connected components), deterministic sampling/splits, end-to-end
    // corpus-clean pipeline — all DuckDB-oracled (CC via recursive CTE)
    "win_time_range" -> q(Windows.winTimeRange),
    "win_fill_forward" -> q(Windows.winFillForward),
    "fn_bits" -> q(Functions.fnBits),
    "fn_struct" -> q(Functions.fnStruct),
    "dedup_components" -> q(Graph.dedupComponents),
    "dedup_resolve" -> q(Graph.dedupResolve),
    "sample_stratified" -> q((t: Tables) => Sampling.sampleStratified(t)),
    "split_train_test" -> q(Sampling.splitTrainTest),
    "pipeline_corpus_clean" -> q(Pipelines.pipelineCorpusClean),
    "pack_sequences" -> q((t: Tables) => Packing.packSequences(t)),
    "text_chunk" -> q((t: Tables) => Packing.textChunk(t)),
    "sample_weighted" -> q((t: Tables) => Sampling.sampleWeighted(t)),
    // deterministic contrastive negatives from a broadcast hash-gated pool
    "sample_negatives" -> q((t: Tables) => Sampling.sampleNegatives(t)),
    "graph_degree" -> q(Graph.graphDegree),
    // behavioral analytics over the event stream
    "sessionize_gap" -> q((t: Tables) => Behavior.sessionizeGap(t)),
    "cohort_retention" -> q(Behavior.cohortRetention),
    // conversion-latency distribution: percentile_disc row selection
    "funnel_time_to_convert" -> q(Behavior.funnelTimeToConvert),
    // first-order-year cohorts, cumulative spend per cohort age
    "cohort_ltv" -> q(Behavior.cohortLtv),
    "anomaly_zscore" -> q(Behavior.anomalyZscore),
    "activity_islands" -> q(Behavior.activityIslands),
    "markov_transitions" -> q(Behavior.markovTransitions),
    "interval_overlap" -> q(Behavior.intervalOverlap),
    "time_weighted_avg" -> q(Behavior.timeWeightedAvg),
    // corpus n-gram surface: heavy hitters + eval-set decontamination
    "ngram_topk" -> q((t: Tables) => TextAnalysis.ngramTopk(t)),
    "decontaminate" -> q((t: Tables) => TextAnalysis.decontaminate(t)),
    // per-doc duplicated-span fraction (substring-dedup diagnostic):
    // gram-keyed shuffles only, doc bodies never move
    "text_dup_spans" -> q((t: Tables) => TextAnalysis.textDupSpans(t)),
    "heavy_hitters" -> q((t: Tables) => TextAnalysis.heavyHitters(t)),
    // decimal-exact bivariate stats; salted skew join
    "agg_corr" -> q(Aggregates.aggCorr),
    "agg_mode" -> q(Aggregates.aggMode),
    "graph_triangles" -> q(Graph.graphTriangles),
    // local clustering coefficient composed from the same edge set
    "graph_clustering_coeff" -> q(Graph.graphClusteringCoeff),
    "graph_pagerank" -> q((t: Tables) => Graph.graphPagerank(t)),
    "join_asof_forward" -> q(Temporal.joinAsofForward),
    "join_asof_nearest" -> q(Temporal.joinAsofNearest),
    "join_asof_forward_native" -> q(AsofGrouped.joinAsofForwardNative),
    "join_asof_nearest_native" -> q(AsofGrouped.joinAsofNearestNative),
    "dedup_semantic" -> q(Graph.dedupSemantic),
    // sub-quadratic LSH-candidate operating point of the same pipeline
    // (near-dup regime, tau=0.8; oracle-checkable on this corpus — see
    // Graph.dedupSemanticAnn scaladoc)
    "dedup_semantic_ann" -> q((t: Tables) => Graph.dedupSemanticAnn(t)),
    "sim_containment" -> q((t: Tables) => TextAnalysis.simContainment(t)),
    // EXACT unbounded set-similarity self-join via prefix filtering
    // (AllPairs/PPJoin) — candidate-complete by the prefix theorem, so
    // unlike the minhash path it is DuckDB-oracle-checkable
    "sim_jaccard_join" -> q((t: Tables) => SimJoin.simJaccardJoin(t)),
    // edit-family fuzzy match under a brand blocking key, scored by the
    // native codegen'd graft_jaro_winkler expression
    "sim_jaro_winkler" -> q((t: Tables) => SimJoin.simJaroWinkler(t)),
    "join_skew_salted" -> q((t: Tables) => Skew.joinSkewSalted(t)),
    // the AUTOMATIC skew path: AQE's runtime split on a deliberately
    // skewed join (SkewAqeSpec pins skew=true in the executed SMJ)
    "join_skew_aqe" ->
      ((s: org.apache.spark.sql.SparkSession, dir: String) =>
        Skew.joinSkewAqe(s, dir)),
    "join_bloom_semi" -> q((t: Tables) => Bloom.bloomSemiJoin(t)),
    // transformWithState operators driven END-TO-END as bounded streams
    // (file source → stateful processor → memory sink), reduced to the
    // latest emission per key so a batch SQL oracle can check them.
    "state_running_stats" -> ((s, dir) => streaming.StreamDrive.stateRunningStats(s, dir)),
    // CDC apply: upsert/delete change feed → transformWithState
    // materialized current-state, driven across three micro-batches
    "stream_cdc_apply" -> ((s, dir) => streaming.StreamDrive.streamCdcApply(s, dir)),
    // custom DSv2 micro-batch source: offset-tracked, admission-
    // controlled, AvailableNow-terminated (sources/RangeGen.scala)
    "stream_source_v2" -> ((s, dir) => streaming.StreamDrive.streamSourceV2(s, dir)),
    "state_top_values" -> ((s, dir) => streaming.StreamDrive.stateTopValues(s, dir)),
    "state_type_counts" -> ((s, dir) => streaming.StreamDrive.stateTypeCounts(s, dir)),
    "stream_static_join" -> ((s, dir) => streaming.StreamDrive.streamStaticJoin(s, dir)),
    // watermark late-data dropping, driven end-to-end as a real
    // two-micro-batch out-of-order stream (batch oracle states the
    // surviving rows exactly — see StreamDrive.streamWatermark)
    "stream_watermark" -> ((s, dir) => streaming.StreamDrive.streamWatermark(s, dir)),
    // watermark-bounded streaming dedup (dropDuplicatesWithinWatermark):
    // cross-batch state rejection, eviction pinned by StreamingSpec
    "stream_dedup_watermark" -> ((s, dir) => streaming.StreamDrive.streamDedupWatermark(s, dir)),
    // stream-stream interval join driven end-to-end (two file streams,
    // dual watermarks, append-mode inner join) — single co-arriving
    // micro-batch makes the sink ≡ the batch interval join over the feed
    "stream_stream_join" -> ((s, dir) => streaming.StreamDrive.streamStreamJoin(s, dir)),
    // same join, sides arriving in DIFFERENT micro-batches: emissions
    // require the RocksDB join buffer to survive the batch boundary
    "stream_join_multibatch" -> ((s, dir) => streaming.StreamDrive.streamJoinMultibatch(s, dir)),
    // left-outer stream-stream join: watermark-gated null emission forced
    // by fence batches (see StreamDrive.streamOuterJoin)
    "stream_outer_join" -> ((s, dir) => streaming.StreamDrive.streamOuterJoin(s, dir)),
    // checkpoint restart driven end-to-end: two starts of one aggregation
    // over a shared checkpoint; run 2's sink proves offset-log skip +
    // RocksDB state restore (see StreamDrive.streamRestart)
    "stream_restart" -> ((s, dir) => streaming.StreamDrive.streamRestart(s, dir)),
    // corpus tokenizer (vocab build + id-sequence encoding), BFS radius,
    // robust (median/MAD) outlier stats, sketch quantiles
    "vocab_build" -> q((t: Tables) => Tokenize.vocabBuild(t)),
    // Deterministic BPE subword trainer + encoder (ops.Bpe): both fully
    // DuckDB-oracled — the oracle re-trains the merge sequence itself
    // via an unrolled CTE chain.
    "vocab_bpe_build" -> q((t: Tables) => Bpe.vocabBpeBuild(t)),
    "tokenize_bpe_ids" -> q((t: Tables) => Bpe.tokenizeBpeIds(t)),
    "tokenize_ids" -> q((t: Tables) => Tokenize.tokenizeIds(t)),
    "graph_bfs" -> q(Graph.graphBfs),
    // weighted SSSP (synchronous Bellman-Ford, bounded-hop contract
    // shared with the oracle CTE — Graph.graphSssp scaladoc)
    "graph_sssp" -> q(Graph.graphSssp),
    "anomaly_mad" -> q(Behavior.anomalyMad),
    "agg_approx_quantile" -> q(Aggregates.aggApproxQuantile),
    "win_median" -> q(Windows.winMedian),
    "multimodal_frames" -> ((s, dir) => ops.Multimodal.frameIndex(s, dir)),
    // resize/transcode stage: aspect-fit dims + stride-k downsample,
    // fully value-checked in SQL (Multimodal.resize scaladoc)
    "multimodal_resize" -> ((s, dir) => ops.Multimodal.mediaResize(s, dir)),
    // exact media dedup: sha2 over the opaque binary payload, duplicate
    // histogram + survivor checksum (Multimodal scaladoc)
    "multimodal_dedup" -> ((s, dir) => ops.Multimodal.mediaDedup(s, dir)),
    "pipeline_curate" -> q(Pipelines.pipelineCurate),
    // the daily-ingest ship/drop decision: incremental near-dup gate +
    // LM quality features, composed from independently-oracled stages
    "pipeline_daily_ingest" -> q(Pipelines.pipelineDailyIngest),
    // Batch exactly-once-per-block runtime (pipeline.BlockRuntime): a
    // growing block feed consumed across three runs, each block one named
    // commit of the manifest store; oracle = full-history recompute.
    "pipeline_incremental_run" ->
      ((s: org.apache.spark.sql.SparkSession, dir: String) =>
        graft.pipeline.BlockRuntime.pipelineIncrementalRun(s, dir)),
    // The same exactly-once drive through the DECLARATIVE graph form
    // (GraphLoader `incremental` node kind) — graph.yml + Environment
    // composed; shares the full-history-recompute oracle.
    "pipeline_graph_incremental" ->
      ((s: org.apache.spark.sql.SparkSession, dir: String) =>
        graft.pipeline.BlockRuntime.pipelineGraphIncremental(s, dir)),
    "profile_table" -> q(Profile.profileOrders),
    // rule-based expectations gate: all flag rules in ONE table scan
    "dq_check" -> q(Profile.dqCheck),
    // engine-neutral table checksums (md5+HexFold, SUM/BIT_XOR folds) —
    // the replication/migration integrity check (Profile.dqChecksum)
    "dq_checksum" -> q(Profile.dqChecksum),
    // k-anonymity / l-diversity re-identification audit (governance
    // family beside gdpr_erasure / text_pii_scrub)
    "dq_kanonymity" -> q((t: Tables) => Profile.dqKAnonymity(t)),
    // mergeable quantile pre-aggregation (moments sketch + Cornish-
    // Fisher): grains add four-column partials, never rescan
    "agg_quantile_moments" -> q(MomentsSketch.aggQuantileMoments),
    // per-type freshness lag vs the table's own high-water mark
    "dq_freshness" -> q((t: Tables) => Profile.dqFreshness(t)),
    "dq_drift" -> q(Profile.dqDrift),
    // per-priority Pareto frontier: local bucket frontiers → merge pass,
    // oracled against the quadratic dominance definition
    "skyline_pareto" -> q(Skyline.skylinePareto),
    // PII redaction over deterministically planted emails/phones — both
    // engines construct the same text, scrub with their own regex engines
    "text_pii_scrub" -> q(Text.textPiiScrub),
    // Unicode NFC normalization (graft_nfc codegen expression) — the
    // canonicalization step before any hash/dedup/tokenize; decomposed
    // sequences injected so the ASCII corpus can't make it vacuous.
    "text_normalize" -> q(Text.textNormalize),
    // NFKC+casefold dedup-key normalization — rows-only (no DuckDB NFKC
    // oracle; NfcSpec pins idempotence, compatibility pairs, and the
    // variant-pair collapse the query demonstrates)
    "text_normalize_nfkc" -> q(Text.textNormalizeNfkc),
    // web-crawl markup removal: strip tags, pull title, count links
    "text_html_extract" -> q(Text.textHtmlExtract),
    // Unicode script histogram — the pre-langid gate (codepoint ranges)
    "text_script" -> q(Text.textScript),
    "budget_select" -> q((t: Tables) => Mixing.budgetSelect(t)),
    "mix_weights" -> q(Mixing.mixWeights),
    "agg_regression" -> q(Aggregates.aggRegression),
    "win_ewma" -> q(Windows.winEwma),
    "regex_extract_table" -> q(Functions.fnRegexpTable),
    "join_asof_tolerance" -> q(Temporal.joinAsofTolerance(_)),
    "agg_histogram_eq" -> q(Aggregates.aggHistogramEquiDepth(_)),
    "agg_skew_kurt" -> q(Aggregates.aggSkewKurt(_)),
    "fk_check" -> q(Profile.fkCheck),
    // chunking: overlapping token windows (map-side generate) + the
    // chunk-grain exact dedup that catches cross-document boilerplate
    // whole-document hashing can't
    "chunk_documents" -> q((t: Tables) => Chunking.chunkDocuments(t)),
    "dedup_chunks" -> q((t: Tables) => Chunking.dedupChunks(t)),
    // content-defined chunking (rolling-hash boundaries): the chunk
    // table + the insertion-robust duplicated-mass audit
    "chunk_cdc" -> q((t: Tables) => Chunking.chunkCdc(t)),
    "dedup_cdc" -> q((t: Tables) => Chunking.dedupCdc(t)),
    // declared-schema cast levels (basis CommonModel): loose per-field
    // violation report + strict quarantine gate over schemas/event.yml
    "schema_cast_report" -> q(SchemaCast.schemaCastReport),
    "schema_enforce" -> q(SchemaCast.schemaEnforce),
    // unigram-LM subword tokenizer (Viterbi-EM trained structure —
    // rows-only like the other trained surfaces; UnigramSpec pins laws)
    "vocab_unigram_build" -> q(Unigram.vocabUnigramBuild),
    "tokenize_unigram_ids" -> q(Unigram.tokenizeUnigramIds),
    // per-label prototype vectors (micro-unit-exact embedding mean)
    "vec_centroid" -> q(Vector.vecCentroid),
    // batch MERGE / dimension maintenance (CDC shapes)
    "merge_upsert" -> q(Merge.mergeUpsert),
    "merge_scd2" -> q(Merge.mergeScd2),
    // CDC derivation: diff two snapshot generations into a change feed
    "snapshot_diff" -> q(Merge.snapshotDiff),
    "scd2_point_in_time" -> q(Merge.scd2PointInTime),
    // MATCH_RECOGNIZE-style funnel pattern over per-user event sequences
    "seq_pattern" -> q(Behavior.seqPattern),
    // storage layouts driven end-to-end: materialize the layout once per
    // (SF, source stamp), query through it, oracle on the ORIGINAL table
    "layout_partitioned" -> ((s, dir) => sources.Layouts.layoutPartitioned(s, dir)),
    "layout_zorder" -> ((s, dir) => sources.Layouts.layoutZorder(s, dir)),
    "join_bucketed" -> ((s, dir) => sources.Layouts.joinBucketed(s, dir)),
    // small-file compaction lifecycle: fragment → compact → read back,
    // oracled against the original table (Layouts.layoutCompaction)
    "layout_compaction" -> ((s, dir) => sources.Layouts.layoutCompaction(s, dir)),
    // dynamic-partition-pruning star join: calendar dim filter prunes the
    // partitioned fact's date directories at runtime (Layouts.joinDpp)
    "join_dpp" -> ((s, dir) => sources.Layouts.joinDpp(s, dir)),
    // surgical right-to-be-forgotten rewrite: untouched files hard-linked,
    // only range-affected files rewritten (Layouts.gdprErasure)
    "gdpr_erasure" -> ((s, dir) => sources.Layouts.gdprErasure(s, dir)),
    // schema-evolution read across generations: mergeSchema union, added
    // column NULL for old files (Layouts.sourceSchemaEvolution)
    "source_schema_evolution" -> ((s, dir) => sources.Layouts.sourceSchemaEvolution(s, dir)),
    // incremental aggregate maintenance: stored per-day partials ⊕ new
    // block partials, history never rescanned (Rollup.rollupIncremental)
    "rollup_incremental" -> q(Rollup.rollupIncremental),
    // point-in-time feature retrieval via the union-tag chronological
    // sweep — one pass over history for all probe dates (FeatureStore)
    "feature_pit_join" -> q(FeatureStore.featurePitJoin),
    // DPO-style (chosen, rejected) pair construction per comparable group
    "pair_preference" -> q(Prefs.pairPreference),
    // EVENT-time timer sessionization driven end-to-end over the
    // out-of-order watermark feed: sessions emit only when the watermark
    // proves them final (StreamDrive.stateSessions scaladoc)
    "state_sessions" -> ((s, dir) => streaming.StreamDrive.stateSessions(s, dir)),
    // the pre-fold multi-batch arrival variant: exercises LATE-EVENT
    // rejection across ordered micro-batches (the semantics the
    // single-batch fold traded away — kept priced under its own name)
    "state_sessions_multibatch" ->
      ((s, dir) => streaming.StreamDrive.stateSessionsMultibatch(s, dir)),
    // PROCESSING-time timer sessionization driven end-to-end: all events
    // co-arrive, two empty trailing batches form the deterministic batch
    // clock that fires every timer before termination (StreamDrive
    // .stateSessionsTimeout scaladoc has the full argument)
    "state_sessions_timeout" ->
      ((s, dir) => streaming.StreamDrive.stateSessionsTimeout(s, dir)),
    // foreachBatch upsert sink: per-batch aggregates commit as
    // batchId-keyed immutable versions (stage→rename, replay = no-op),
    // read side folds — the lakehouse-sink pattern driven end-to-end
    "stream_foreach_upsert" ->
      ((s, dir) => streaming.StreamDrive.streamForeachUpsert(s, dir)),
    // streaming ingest INTO the manifest table: one ACID manifest
    // version per micro-batch, marker-keyed replay idempotence, fold ≡
    // batch aggregate (StreamDrive.streamManifestSink scaladoc)
    "stream_manifest_sink" ->
      ((s, dir) => streaming.StreamDrive.streamManifestSink(s, dir)),
    // the manifest table as a streaming SOURCE: offsets = versions,
    // version-per-batch, append-only contract enforced (StreamDrive
    // .streamManifestSource scaladoc)
    "stream_manifest_source" ->
      ((s, dir) => streaming.StreamDrive.streamManifestSource(s, dir)),
    // the change feed as a streaming source: deletes expressible, batch
    // CDF oracle shared verbatim (StreamDrive.streamManifestCdf)
    "stream_manifest_cdf" ->
      ((s, dir) => streaming.StreamDrive.streamManifestCdf(s, dir)),
    // time-series gap repair + moving statistics
    "ts_interpolate" -> q(Reshape.tsInterpolate),
    "win_rolling_corr" -> q(Windows.winRollingCorr),
    // running distinct-count via first-occurrence flags (state-free: no
    // accumulated collect_set in window state)
    "win_running_distinct" -> q(Windows.winRunningDistinct),
    // non-parquet sources driven end-to-end: materialize a dim table as
    // CSV / JSON-lines, read through the declared-schema source, oracle
    // via DuckDB read_csv/read_json on the very same file
    "source_csv" -> ((s, dir) => sources.Feeds.sourceCsv(s, dir)),
    // text-lines round trip — unlike its CSV/JSON siblings above, the
    // oracle recomputes from the ORIGINAL table (the ORC pattern: no
    // DuckDB bare-lines reader, so write/read/parse corruption = mismatch)
    "source_text" -> ((s, dir) => sources.Feeds.sourceText(s, dir)),
    "source_json" -> ((s, dir) => sources.Feeds.sourceJson(s, dir)),
    "source_orc" -> ((s, dir) => sources.Feeds.sourceOrc(s, dir)),
    // XML round trip (Spark 4 built-in xml source; ORC-pattern oracle —
    // DuckDB has no XML reader, original-table recompute)
    "source_xml" -> ((s, dir) => sources.Feeds.sourceXml(s, dir)),
    // custom DataSource V2 connector with live filter pushdown +
    // partition pruning + column pruning (sources/RangeGen.scala)
    "source_range_v2" -> ((s, _) => sources.Feeds.sourceRangeV2(s)),
    // DSv2 WRITE path: staged files + atomic manifest commit
    // (sources/ManifestTable.scala), round-tripped and aggregated
    "source_manifest" -> ((s, dir) => sources.Feeds.sourceManifest(s, dir)),
    "source_manifest_time_travel" -> ((s, dir) => sources.Feeds.sourceManifestTimeTravel(s, dir)),
    // zone-map file skipping: range predicate pushed into the manifest
    // scan prunes whole files by their min/max stats (Feeds scaladoc)
    "source_manifest_skipping" -> ((s, dir) => sources.Feeds.sourceManifestSkipping(s, dir)),
    // truncating overwrite + VACUUM retention: expired snapshot's files
    // deleted, live snapshot reads exactly (Feeds scaladoc)
    "source_manifest_vacuum" -> ((s, dir) => sources.Feeds.sourceManifestVacuum(s, dir)),
    // EQUALITY DELETES (merge-on-read): delete commits as a key file +
    // new manifest version, scan anti-filters, compact folds physically,
    // history stays time-travelable (Feeds scaladoc)
    "source_manifest_delete" -> ((s, dir) => sources.Feeds.sourceManifestDelete(s, dir)),
    // atomic MERGE/upsert: one version = delete entry + replacement rows,
    // sequenced so the merge's own inserts survive (Feeds scaladoc)
    "source_manifest_merge" -> ((s, dir) => sources.Feeds.sourceManifestMerge(s, dir)),
    // additive ADD-COLUMN schema evolution: a wider append evolves the
    // DDL, old rows null-pad, incompatible appends rejected (Feeds)
    "source_manifest_evolution" -> ((s, dir) => sources.Feeds.sourceManifestEvolution(s, dir)),
    // PERMISSIVE corrupt-record intake: bad rows quarantined, good rows
    // aggregated — the malformed-feed path clean round-trips can't show
    "source_csv_malformed" -> ((s, dir) => sources.Feeds.sourceCsvMalformed(s, dir)),
    // DSv2 statistics from the manifest: the dim-side broadcast chosen
    // with NO hint, purely from per-file row/byte stats (Feeds scaladoc)
    "join_manifest_broadcast" -> ((s, dir) => sources.Feeds.joinManifestBroadcast(s, dir)),
    // SQL row-level statements on the manifest store: DELETE FROM via
    // SupportsDelete, MERGE INTO via the post-hoc rewrite onto
    // mergeKeys — value-invisible vs the Scala API (shared oracles)
    "sql_manifest_delete" -> ((s, dir) => sources.Feeds.sqlManifestDelete(s, dir)),
    "sql_manifest_merge" -> ((s, dir) => sources.Feeds.sqlManifestMerge(s, dir)),
    // the rest of the statement surface: UPDATE (bounded read-modify-
    // write via the merge commit), VERSION AS OF, INSERT INTO…SELECT
    "sql_manifest_update" -> ((s, dir) => sources.Feeds.sqlManifestUpdate(s, dir)),
    "sql_manifest_time_travel" -> ((s, dir) => sources.Feeds.sqlManifestTimeTravel(s, dir)),
    // wall-time addressing of the same snapshots: commit stamps recorded
    // inside the manifest header, monotonic per table (Feeds scaladoc)
    "sql_manifest_timestamp_travel" ->
      ((s, dir) => sources.Feeds.sqlManifestTimestampTravel(s, dir)),
    "sql_manifest_insert" -> ((s, dir) => sources.Feeds.sqlManifestInsert(s, dir)),
    // multi-dimension partitioned layout: one file per value combination,
    // each @field prunable alone (Feeds scaladoc)
    "source_manifest_multidim" ->
      ((s, dir) => sources.Feeds.sourceManifestMultidim(s, dir)),
    // SQL DDL: CREATE TABLE … PARTITIONED BY … AS SELECT into the store,
    // layout persisted in the manifest header (Feeds scaladoc)
    "sql_manifest_ctas" ->
      ((s, dir) => sources.Feeds.sqlManifestCtas(s, dir)),
    // OPTIMIZE ZORDER BY via CALL: append-ordered v1 rewritten into the
    // Morton-clustered layout, value-invisibly (Feeds scaladoc)
    "sql_manifest_zorder_call" ->
      ((s, dir) => sources.Feeds.sqlManifestZorderCall(s, dir)),
    // SQL CALL maintenance surface (ProcedureCatalog): compact_deletes/
    // compact_files/vacuum_older_than as stored procedures (Feeds)
    "sql_manifest_procedures" ->
      ((s, dir) => sources.Feeds.sqlManifestProcedures(s, dir)),
    // age-based retention: a 7-day vacuum window expires nothing fresh;
    // time travel + history survive inside the window (Feeds scaladoc)
    "source_manifest_vacuum_age" ->
      ((s, dir) => sources.Feeds.sourceManifestVacuumAge(s, dir)),
    // DATE aggregate pushdown: count + date bounds answered from the
    // manifest's epoch-day zone maps, zero files opened (Feeds scaladoc)
    "agg_manifest_date_pushdown" ->
      ((s, dir) => sources.Feeds.aggManifestDatePushdown(s, dir)),
    // full type surface through the parquet codec: DATE zone-map pruning
    // + exact DECIMAL aggregation + time travel (Feeds scaladoc)
    "source_manifest_typed" ->
      ((s, dir) => sources.Feeds.sourceManifestTyped(s, dir)),
    // partitioned manifest layout: first-class @col partition fields,
    // pruned before per-file stats (Feeds scaladoc)
    "source_manifest_partitioned" ->
      ((s, dir) => sources.Feeds.sourceManifestPartitioned(s, dir)),
    // dynamic partition pruning on the manifest store: the dim's join-key
    // set prunes fact FILES at runtime (SupportsRuntimeFiltering; Feeds)
    "join_manifest_runtime_filter" ->
      ((s, dir) => sources.Feeds.joinManifestRuntimeFilter(s, dir)),
    // storage-partitioned join: co-partitioned manifest tables join with
    // zero Exchange via reported KeyGroupedPartitioning (Feeds)
    "join_manifest_spj" -> ((s, dir) => sources.Feeds.joinManifestSpj(s, dir)),
    // bucketed SPJ: zero-shuffle equi-join on a HIGH-CARDINALITY key via
    // the catalog-resolved bucket(n, col) transform (Feeds scaladoc)
    "join_manifest_spj_bucket" ->
      ((s, dir) => sources.Feeds.joinManifestSpjBucket(s, dir)),
    // copy-on-write predicate delete: only may-match files rewrite,
    // survivors pass by reference (Feeds scaladoc)
    "source_manifest_delete_cow" ->
      ((s, dir) => sources.Feeds.sourceManifestDeleteCow(s, dir)),
    // file-grain LIMIT pushdown: plan a prefix of files, not the table
    "limit_manifest_pushdown" ->
      ((s, dir) => sources.Feeds.limitManifestPushdown(s, dir)),
    // zero-copy shallow clone: branch a table as pure metadata, diverge
    "source_manifest_clone" ->
      ((s, dir) => sources.Feeds.sourceManifestClone(s, dir)),
    // change data feed: version-diff reads (inserts file-restricted,
    // deletes as prior-snapshot key filters) — Feeds scaladoc
    "source_manifest_cdf" -> ((s, dir) => sources.Feeds.sourceManifestCdf(s, dir)),
    // OPTIMIZE bin-packing: only the small files rewrite, survivors pass
    // by reference — the streaming-sink accretion antidote (Feeds)
    "source_manifest_compact_files" ->
      ((s, dir) => sources.Feeds.sourceManifestCompactFiles(s, dir)),
    // layout-preserving maintenance: bin-pack + predicate delete +
    // z-order over a PERSISTED partitioned+bloomed table, partition
    // pruning intact after all three rewrites (Feeds scaladoc; plan
    // physics pinned in ManifestLayoutMaintenanceSpec)
    "source_manifest_maintain_layout" ->
      ((s, dir) => sources.Feeds.sourceManifestMaintainLayout(s, dir)),
    // embeddings + media payloads IN the manifest store: array<float> /
    // binary columns land through the parquet codec and serve a cosine
    // top-k + payload digest back (Feeds scaladoc)
    "source_manifest_vector" ->
      ((s, dir) => sources.Feeds.sourceManifestVector(s, dir)),
    // decimal(38,4) end to end: the codec's FIXED_LEN_BYTE_ARRAY path
    "source_manifest_decimal_wide" ->
      ((s, dir) => sources.Feeds.sourceManifestDecimalWide(s, dir)),
    // ALTER TABLE ADD COLUMN: the DDL spelling of additive evolution —
    // shares source_manifest_evolution's oracle verbatim (Feeds)
    "sql_manifest_alter" ->
      ((s, dir) => sources.Feeds.sqlManifestAlter(s, dir)),
    // two-level manifest: loose data lines spill into per-partition
    // child manifests; a one-partition plan parses only touched
    // children (Feeds scaladoc; child-read accounting in
    // ManifestGroupSpec)
    "source_manifest_grouped" ->
      ((s, dir) => sources.Feeds.sourceManifestGrouped(s, dir)),
    // two-level manifest under a LIVE delete stream (round 16): the
    // spill composes with pending snapshot-global AND prior-only
    // deletes — scoping rides the #seq commit sequence, so a sustained
    // GDPR erasure stream no longer pins the manifest flat (Feeds
    // scaladoc; sequence laws in ManifestGroupSpec)
    "source_manifest_grouped_deletes" ->
      ((s, dir) => sources.Feeds.sourceManifestGroupedDeletes(s, dir)),
    // nested struct + map columns through the manifest store's own
    // parquet codec, typed field extraction served back (Feeds
    // scaladoc; recursive round-trip laws in ManifestCodecProps)
    "source_manifest_nested" ->
      ((s, dir) => sources.Feeds.sourceManifestNested(s, dir)),
    // cost-based join reorder driven by the manifest's own per-file
    // column statistics (HLL NDV + null counts + zone min/max) — no
    // ANALYZE anywhere; reorder pinned in-query and in ManifestCboSpec
    "join_manifest_cbo" ->
      ((s, dir) => sources.Feeds.joinManifestCbo(s, dir)),
    // partition-spec evolution: ALTER SET TBLPROPERTIES re-declares the
    // write layout for future writes; old and new files each prune by
    // their own recorded field (Feeds scaladoc; plan physics in
    // ManifestLayoutEvolutionSpec)
    "source_manifest_spec_evolution" ->
      ((s, dir) => sources.Feeds.sourceManifestSpecEvolution(s, dir)),
    // aggregate pushdown: count/min/max answered from manifest stats,
    // zero data files opened (Feeds scaladoc; plan pinned in spec)
    "agg_manifest_pushdown" ->
      ((s, dir) => sources.Feeds.aggManifestPushdown(s, dir)),
    // grouped aggregate pushdown: per-partition count/min/max from the
    // manifest alone — the partition-stats catalog query (Feeds)
    "agg_manifest_group_pushdown" ->
      ((s, dir) => sources.Feeds.aggManifestGroupPushdown(s, dir)),
    // per-file string blooms: point lookups open only candidate files
    // (Feeds scaladoc; planned-file count pinned in spec)
    "source_manifest_bloom_skip" ->
      ((s, dir) => sources.Feeds.sourceManifestBloomSkip(s, dir)),
    // DESCRIBE HISTORY: per-version physical shape from the manifests
    // alone — append/delete/compact lifecycle made auditable (Feeds)
    "source_manifest_history" ->
      ((s, dir) => sources.Feeds.sourceManifestHistory(s, dir)),
    // Z-ordered layout: Morton-clustered files give tight zone maps on
    // BOTH dimensions — 2D slices prune most files (Feeds scaladoc)
    "source_manifest_zorder" ->
      ((s, dir) => sources.Feeds.sourceManifestZorder(s, dir)),
  )
}
