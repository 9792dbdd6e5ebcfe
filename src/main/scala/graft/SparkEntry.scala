package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model._
import graft.extract.Extractor
import graft.ops._
import graft.udf.StableAgg

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator from SURVEY.md §2.B is exposed as a named query; those with
  * a DuckDB-expressible equivalent also have an `oracleSql` entry (the
  * driver's t2 correctness gate hash-compares them on sf0.01). Column names
  * and row order are aligned on both sides; timestamps are compared as epoch
  * micros (`unix_micros` ≡ DuckDB `epoch_us`), and cross-row float aggregates
  * go through exact per-row integer mappings (see [[graft.ops.Relational]]).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.aggPricingSummary(spark, "/root/testdata/sf0.001")

  // ------------------------------------------------------------ extraction
  // These run the real Extractor decision tree (graft.extract.Extractor),
  // then project timestamps to epoch micros + impose a deterministic order
  // for the oracle compare. The extractor caches nothing, so the returned
  // df is a plain plan that Verify/Bench execute like any other query.

  private def eventsOut(df: DataFrame): DataFrame =
    df.select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .orderBy("event_id")

  private val eventsIncrTs = TableConfig("events",
    replicationMethod = ReplicationMethod.Incremental,
    iterateColumn = Some("ts"), iterateColumnType = IterateType.DatetimeCol)

  private val eventsIncrId = TableConfig("events",
    replicationMethod = ReplicationMethod.Incremental,
    iterateColumn = Some("event_id"), iterateColumnType = IterateType.IntCol)

  private def extractFull(spark: SparkSession, dir: String): DataFrame =
    new Extractor(dir).extract(spark, TableConfig("orders")).df.get
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), unix_micros(col("o_orderdate")).as("o_orderdate_us"),
        col("o_orderpriority"))
      .orderBy("o_orderkey")

  private def extractIncrInitial(spark: SparkSession, dir: String): DataFrame =
    eventsOut(new Extractor(dir).extract(spark, eventsIncrTs, lastPoint = None).df.get)

  private def extractIncrWatermark(spark: SparkSession, dir: String): DataFrame =
    eventsOut(new Extractor(dir)
      .extract(spark, eventsIncrTs, lastPoint = Some("2024-01-15 00:00:00")).df.get)

  private def extractIncrBounds(spark: SparkSession, dir: String): DataFrame =
    eventsOut(new Extractor(dir).extract(spark,
      eventsIncrId.copy(filterLowerBound = Some("200"), filterUpperBound = Some("700"))).df.get)

  private def extractIncrLowerOnly(spark: SparkSession, dir: String): DataFrame =
    eventsOut(new Extractor(dir).extract(spark,
      eventsIncrId.copy(filterLowerBound = Some("500"))).df.get)

  private def watermarkMax(spark: SparkSession, dir: String): DataFrame =
    new Extractor(dir)
      .extract(spark, eventsIncrTs, lastPoint = Some("2024-01-15 00:00:00")).df.get
      .agg(unix_micros(max(col("ts"))).as("max_val"))

  private def probeNonempty(spark: SparkSession, dir: String): DataFrame =
    Tables.t(spark, dir, "events")
      .orderBy("event_id").limit(1)
      .select("event_id", "user_id", "event_type")

  /** A9 splice of an *aggregating* template, run directly on Catalyst. (The
    * extractor path requires the custom query to keep the iterate column —
    * the reference computes max(iterate_column) on the query result,
    * __init__.py:112 — so aggregate templates go through splice+sql only.)
    */
  private def customQuerySplice(spark: SparkSession, dir: String): DataFrame = {
    val (clause, _) = graft.extract.Predicates.incrementalClause(
      eventsIncrTs, Some("2024-01-10 00:00:00"))
    Tables.t(spark, dir, "events").createOrReplaceTempView("events")
    spark.sql(graft.extract.QueryTemplate.splice(
      "SELECT event_type, count(*) AS c FROM events {query_filter} GROUP BY event_type",
      clause)).orderBy("event_type")
  }

  /** A9 through the full extractor decision tree with a CLICKHOUSE-dialect
    * template — what a reference user's YAML actually contains, since
    * custom_query ships to ClickHouse verbatim (`__init__.py:96-101`):
    * PREWHERE alongside the `{query_filter}` splice, a `toYYYYMM` bucket,
    * and a QUALIFY top-n-per-user filter, run through the SAME
    * `Extractor.extract` production path as [[customQueryExtract]] (which
    * now routes every custom_query through the dialect layer). The
    * template keeps the iterate column, as the reference's watermark
    * aggregate demands of any custom_query (`__init__.py:110-115`).
    */
  private def customQueryClickhouse(spark: SparkSession, dir: String): DataFrame =
    new Extractor(dir).extract(spark,
      eventsIncrTs.copy(customQuery = Some(
        """SELECT event_id, ts, user_id, toYYYYMM(ts) AS ym,
          |       CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id) AS BIGINT) AS rn
          |FROM events PREWHERE user_id % 2 = 0 {query_filter}
          |QUALIFY rn <= 3""".stripMargin)),
      lastPoint = Some("2024-01-10 00:00:00")).df.get
      .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("user_id"), col("ym"), col("rn"))
      .orderBy("event_id")

  /** A realistic dashboard custom_query through the SAME extractor path,
    * exercising the r11 dialect surface end-to-end: PREWHERE merged with
    * the spliced watermark filter, toStartOfFifteenMinutes bucketing,
    * countIf/uniqExact/quantileExactLow aggregates, a sorted
    * groupUniqArray, and a trailing LIMIT 2 BY — the per-user
    * first-two-buckets shape ClickHouse dashboards lean on.
    */
  private def customQueryDashboard(spark: SparkSession, dir: String): DataFrame =
    new Extractor(dir).extract(spark,
      eventsIncrTs.copy(customQuery = Some(
        """SELECT user_id, toStartOfFifteenMinutes(ts) AS bucket,
          |  toInt64(countIf(event_type = 'purchase')) AS n_buy,
          |  toInt64(uniqExact(event_type)) AS n_types,
          |  toInt64(quantileExactLow(0.5)(toInt64(floor(value * 100 + 0.5)))) AS med_cents,
          |  arrayStringConcat(arraySort(groupUniqArray(event_type)), ',') AS types,
          |  max(ts) AS ts
          |FROM events PREWHERE value > 5 {query_filter}
          |GROUP BY user_id, bucket
          |ORDER BY user_id, bucket
          |LIMIT 2 BY user_id""".stripMargin)),
      lastPoint = Some("2024-01-10 00:00:00")).df.get
      .select(col("user_id"), unix_micros(col("bucket")).as("bucket_us"),
        col("n_buy"), col("n_types"), col("med_cents"), col("types"))
      .orderBy("user_id", "bucket_us")

  /** A9 through the full extractor decision tree: a projection template that
    * keeps the iterate column, spliced with the watermark clause; the
    * watermark max is then computed on the result as in the reference.
    */
  private def customQueryExtract(spark: SparkSession, dir: String): DataFrame =
    new Extractor(dir).extract(spark,
      eventsIncrTs.copy(customQuery = Some(
        "SELECT event_id, ts, user_id, event_type, value FROM events {query_filter}")),
      lastPoint = Some("2024-01-10 00:00:00")).df.get
      .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("user_id"), col("event_type"), col("value"))
      .orderBy("event_id")

  // ------------------------------------------------------------ the inventory

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // scans / sources / sinks (SURVEY §2.B)
    "scan_full" -> (Relational.scanFull _),
    "scan_projection" -> (Relational.scanProjection _),
    "scan_partitioned" -> (Relational.scanPartitioned _),
    "sink_coalesce" -> (Relational.sinkCoalesce _),
    // extraction / replication semantics (the reference's core)
    "extract_full" -> (extractFull _),
    "extract_incr_initial" -> (extractIncrInitial _),
    "extract_incr_watermark" -> (extractIncrWatermark _),
    "extract_incr_bounds" -> (extractIncrBounds _),
    "extract_incr_lower_only" -> (extractIncrLowerOnly _),
    "watermark_max" -> (watermarkMax _),
    "probe_nonempty" -> (probeNonempty _),
    "custom_query_splice" -> (customQuerySplice _),
    "custom_query_extract" -> (customQueryExtract _),
    "custom_query_clickhouse" -> (customQueryClickhouse _),
    "custom_query_dashboard" -> (customQueryDashboard _),
    // joins
    "join_inner_hash" -> (Relational.joinInnerHash _),
    "join_multiway" -> (Relational.joinMultiway _),
    "join_left_outer" -> (Relational.joinLeftOuter _),
    "join_semi" -> (Relational.joinSemi _),
    "join_anti" -> (Relational.joinAnti _),
    "join_range_theta" -> (Relational.joinRangeTheta _),
    "join_asof_latest" -> (Relational.joinAsofLatest _),
    "join_full_outer" -> (Relational.joinFullOuter _),
    "join_cross" -> (Relational.joinCross _),
    // aggregations
    "agg_pricing_summary" -> (Relational.aggPricingSummary _),
    "agg_distinct_count" -> (Relational.aggDistinctCount _),
    "agg_approx_distinct" -> (Relational.aggApproxDistinct _),
    "agg_rollup" -> (Relational.aggRollup _),
    "agg_cube" -> (Relational.aggCube _),
    "agg_grouping_sets" -> (Relational.aggGroupingSets _),
    "agg_pivot" -> (Relational.aggPivot _),
    "agg_minmax_by" -> (Relational.aggMinmaxBy _),
    "agg_percentiles" -> (Relational.aggPercentiles _),
    "agg_approx_percentiles" -> (Relational.aggApproxPercentiles _),
    "sql_tpch_q3" -> (Relational.sqlTpchQ3 _),
    "sql_tpch_q6" -> (Relational.sqlTpchQ6 _),
    "sql_tpch_q4" -> (Relational.sqlTpchQ4 _),
    "sql_tpch_q12" -> (Relational.sqlTpchQ12 _),
    "sql_tpch_q14" -> (Relational.sqlTpchQ14 _),
    "sql_tpch_q1" -> (Relational.sqlTpchQ1 _),
    "sql_tpch_q5" -> (Relational.sqlTpchQ5 _),
    "sql_tpch_q7" -> (Relational.sqlTpchQ7 _),
    "sql_tpch_q8" -> (Relational.sqlTpchQ8 _),
    "sql_tpch_q17" -> (Relational.sqlTpchQ17 _),
    "sql_tpch_q2" -> (Relational.sqlTpchQ2 _),
    "sql_tpch_q9" -> (Relational.sqlTpchQ9 _),
    "sql_tpch_q11" -> (Relational.sqlTpchQ11 _),
    "sql_tpch_q16" -> (Relational.sqlTpchQ16 _),
    "sql_tpch_q20" -> (Relational.sqlTpchQ20 _),
    "sql_tpch_q21" -> (Relational.sqlTpchQ21 _),
    "sql_tpch_q10" -> (Relational.sqlTpchQ10 _),
    "sql_tpch_q13" -> (Relational.sqlTpchQ13 _),
    "sql_tpch_q15" -> (Relational.sqlTpchQ15 _),
    "sql_tpch_q18" -> (Relational.sqlTpchQ18 _),
    "sql_tpch_q19" -> (Relational.sqlTpchQ19 _),
    "sql_tpch_q22" -> (Relational.sqlTpchQ22 _),
    "typed_event_stats" -> (Relational.typedEventStats _),
    "window_ntile" -> (Relational.windowNtile _),
    "window_percent_rank" -> (Relational.windowPercentRank _),
    "window_nth_lead" -> (Relational.windowNthLead _),
    "agg_every_any" -> (Relational.aggEveryAny _),
    "agg_grouping_id" -> (Relational.aggGroupingId _),
    "agg_multi_distinct" -> (Relational.aggMultiDistinct _),
    "agg_percentile_disc" -> (Relational.aggPercentileDisc _),
    "scalar_hash_encode" -> (Scalars.scalarHashEncode _),
    "scalar_try_safe" -> (Scalars.scalarTrySafe _),
    "scalar_levenshtein" -> (Scalars.scalarLevenshtein _),
    "scalar_url" -> (Scalars.scalarUrl _),
    "scalar_interval" -> (Scalars.scalarInterval _),
    "agg_mode" -> (Relational.aggMode _),
    "scalar_array_extras" -> (Scalars.scalarArrayExtras _),
    "generator_explode_map" -> (Scalars.generatorExplodeMap _),
    "scan_file_provenance" -> (Scalars.scanFileProvenance _),
    "setop_except_all" -> (Relational.setopExceptAll _),
    "setop_intersect_all" -> (Relational.setopIntersectAll _),
    "window_range_interval" -> (Relational.windowRangeInterval _),
    "agg_bitwise" -> (Relational.aggBitwise _),
    "agg_stddev_median" -> (Relational.aggStddevMedian _),
    "agg_string_concat" -> (Relational.aggStringConcat _),
    "generator_stack" -> (Relational.generatorStack _),
    "agg_histogram" -> (Relational.aggHistogram _),
    "join_asof_union" -> (Relational.joinAsofUnion _),
    "text_heavy_hitters" -> (LlmPipeline.textHeavyHitters _),
    "join_lateral_topn" -> (Relational.joinLateralTopn _),
    "generator_explode_outer" -> (Relational.generatorExplodeOuter _),
    "sort_nulls_order" -> (Relational.sortNullsOrder _),
    "scalar_bitwise" -> (Scalars.scalarBitwise _),
    "scalar_datetime_extras" -> (Scalars.scalarDatetimeExtras _),
    "window_first_last" -> (Relational.windowFirstLast _),
    "window_range_frame" -> (Relational.windowRangeFrame _),
    // windows
    "window_rank_topn" -> (Relational.windowRankTopN _),
    "window_running_sum" -> (Relational.windowRunningSum _),
    "window_lag_delta" -> (Relational.windowLagDelta _),
    "window_moving_avg" -> (Relational.windowMovingAvg _),
    "window_moving_avg_twopass" -> (Relational.windowMovingAvgTwopass _),
    // sorts / limits / set ops
    "sort_limit_topk" -> (Relational.sortLimitTopK _),
    "setop_union" -> (Relational.setopUnion _),
    "setop_union_distinct" -> (Relational.setopUnionDistinct _),
    "setop_intersect" -> (Relational.setopIntersect _),
    "setop_except" -> (Relational.setopExcept _),
    // scalar functions
    "scalar_string" -> (Scalars.scalarString _),
    "scalar_regex" -> (Scalars.scalarRegex _),
    "scalar_conditional" -> (Scalars.scalarConditional _),
    "scalar_casts" -> (Scalars.scalarCasts _),
    "scalar_date" -> (Scalars.scalarDate _),
    "scalar_math" -> (Scalars.scalarMath _),
    "scalar_json" -> (Scalars.scalarJson _),
    "scalar_variant" -> (Scalars.scalarVariant _),
    "scalar_collation" -> (Scalars.scalarCollation _),
    "scalar_array" -> (Scalars.scalarArray _),
    // LLM-data-pipeline extensions
    "dedup_exact" -> (LlmPipeline.dedupExact _),
    "dedup_near_minhash" -> (LlmPipeline.dedupNearMinhash _),
    "dedup_clusters" -> (LlmPipeline.dedupClusters _),
    "dedup_cluster_stats" -> (LlmPipeline.dedupClusterStats _),
    "dedup_simhash" -> ((s: SparkSession, d: String) => LlmPipeline.dedupSimhash(s, d)),
    "text_rolling_fingerprint" -> (LlmPipeline.textRollingFingerprint _),
    "text_containment" -> ((s: SparkSession, d: String) => LlmPipeline.textContainment(s, d)),
    "multimodal_dedup" -> (Multimodal.multimodalDedup _),
    "sim_knn_join" -> ((s: SparkSession, d: String) => LlmPipeline.simKnnJoin(s, d)),
    "sim_knn_join_cells" -> ((s: SparkSession, d: String) => LlmPipeline.simKnnJoinCells(s, d)),
    "dedup_ngram_jaccard" -> (LlmPipeline.dedupNgramJaccard _),
    "curation_pipeline" -> (LlmPipeline.curationPipeline _),
    "dedup_near_embedding" -> ((s, d) => LlmPipeline.dedupNearEmbedding(s, d, threshold = -1.0)),
    "dedup_semantic" -> ((s, d) => LlmPipeline.dedupSemantic(s, d)),
    "dedup_incremental" -> (LlmPipeline.dedupIncremental _),
    "text_fingerprint" -> (LlmPipeline.textFingerprint _),
    "sim_topk_cosine" -> (LlmPipeline.simTopkCosine _),
    "sim_topk_ivf" -> ((s, d) => LlmPipeline.simTopkIvf(s, d)),
    "text_tokenize_tf" -> (LlmPipeline.textTokenizeTf _),
    "text_tfidf" -> (LlmPipeline.textTfidf _),
    "text_scrub" -> (LlmPipeline.textScrub _),
    "text_token_regex" -> (LlmPipeline.textTokenRegex _),
    "generator_posexplode" -> (LlmPipeline.generatorPosexplode _),
    "text_stats" -> (LlmPipeline.textStats _),
    "text_quality" -> (LlmPipeline.textQuality _),
    "text_langid" -> (LlmPipeline.textLangId _),
    "text_langid_kappa" -> (LlmPipeline.textLangIdKappa _),
    // multimodal plumbing
    "multimodal_fingerprint" -> (Multimodal.multimodalFingerprint _),
    "multimodal_decode" -> (Multimodal.decodeFeatures _),
    "scan_csv_roundtrip" -> (graft.sources.FileFormats.scanCsvRoundtrip _),
    "sink_partitioned_prune" -> (graft.sources.FileFormats.sinkPartitionedPrune _),
    "scan_json_roundtrip" -> (graft.sources.FileFormats.scanJsonRoundtrip _),
    "scan_orc_roundtrip" -> (graft.sources.FileFormats.scanOrcRoundtrip _),
    "scan_schema_evolution" -> (graft.sources.FileFormats.scanSchemaEvolution _),
    "scan_text_roundtrip" -> (graft.sources.FileFormats.scanTextRoundtrip _),
    "events_markov" -> (Analytics.eventsMarkov _),
    "text_entropy" -> (Analytics.textEntropy _),
    "multimodal_kind_stats" -> (Multimodal.multimodalKindStats _),
    "multimodal_decode_mixed" -> (Multimodal.decodeFeaturesMixed _),
    "scalar_map" -> (Scalars.scalarMap _),
    "agg_hll_sketch" -> (Relational.aggHllSketch _),
    "agg_theta_sketch" -> (Relational.aggThetaSketch _),
    // streaming (batch-equivalent event-time windows)
    "stream_tumbling" -> (StreamingOps.streamTumbling _),
    "stream_join" -> (StreamingOps.streamJoin _),
    "stream_sliding" -> (StreamingOps.streamSliding _),
    "stream_session" -> (StreamingOps.streamSession _),
    // skew mitigation (salted two-phase agg / salted join)
    "agg_salted_user" -> ((s, d) => Skew.aggSaltedUserRevenue(s, d)),
    "join_salted" -> (Skew.joinSaltedCustomer _),
    // UDF / UDAF extension points
    "udaf_stable_mean" -> (StableAgg.udafStableMean _),
    "udf_slugify" -> (StableAgg.udfSlugify _),
    // behavioral / curation analytics
    "sample_stratified" -> (Analytics.sampleStratified _),
    "events_sessionize" -> (Analytics.eventsSessionize _),
    "events_funnel" -> (Analytics.eventsFunnel _),
    "events_retention" -> (Analytics.eventsRetention _),
    "events_outliers" -> (Analytics.eventsOutliers _),
    "curation_dup_rate" -> (Analytics.curationDupRate _),
    "curation_token_budget" -> (Analytics.curationTokenBudget _),
    "sim_topk_pq" -> ((s, d) => LlmPipeline.simTopkPq(s, d)),
    "sim_topk_ivfpq" -> ((s, d) => LlmPipeline.simTopkIvfPq(s, d)),
    "sample_split" -> (Analytics.sampleSplit _),
    "text_chunk" -> (Analytics.textChunk _),
    "curation_contamination" -> (Analytics.curationContamination _),
    "agg_regression" -> (Analytics.aggRegression _),
    "dq_checks" -> (Analytics.dqChecks _),
    "dq_k_anonymity" -> (Analytics.dqKAnonymity _),
    "layout_zorder" -> (graft.sources.FileFormats.layoutZorderStats _),
    "layout_hilbert" -> (graft.sources.FileFormats.layoutHilbertStats _),
    "events_gapfill" -> (Analytics.eventsGapfill _),
    "text_repetition" -> (Analytics.textRepetition _),
    "text_pii_scrub" -> (Analytics.textPiiScrub _),
    "dedup_passages" -> (Analytics.dedupPassages _),
    "scd2_history" -> (Analytics.scd2History _),
    "text_vocab_coverage" -> (Analytics.textVocabCoverage _),
    "events_anomaly_mad" -> (Analytics.eventsAnomalyMad _),
    "events_user_growth" -> (Analytics.eventsUserGrowth _),
    "scalar_higher_order" -> (Scalars.scalarHigherOrder _),
    "basket_pairs" -> (Analytics.basketPairs _),
    "dedup_passage_scrub" -> (Analytics.dedupPassageScrub _),
    "customers_rfm" -> (Analytics.customersRfm _),
    "agg_skew_kurt" -> (Analytics.aggSkewKurt _),
    "text_lm_score" -> (Analytics.textLmScore _),
    "join_bloom_anti" -> (Analytics.joinBloomAnti _),
    "stream_dedup" -> (Analytics.streamDedup _),
    "sample_weighted_mix" -> (Analytics.sampleWeightedMix _),
    "events_sequence_match" -> (Analytics.eventsSequenceMatch _),
    "window_cume_dist" -> (Analytics.windowCumeDist _),
    "text_compress_ratio" -> (Analytics.textCompressRatio _),
    "pack_sequences" -> (Analytics.packSequences _),
    "events_ab_lift" -> (Analytics.eventsAbLift _),
    "window_rolling_median" -> (Analytics.windowRollingMedian _),
    "window_count_distinct" -> (Analytics.windowCountDistinct _),
    "orders_pareto" -> (Analytics.ordersPareto _),
    "events_attribution" -> (Analytics.eventsAttribution _),
    "events_attribution_direct" -> (Analytics.eventsAttributionDirect _),
    "orders_cohort" -> (Analytics.ordersCohort _),
    "dq_profile" -> (Analytics.dqProfile _),
    "text_dsir_weights" -> (Analytics.textDsirWeights _),
    "text_nb_classify" -> (Analytics.textNbClassify _),
    "graph_components" -> (Graph.graphComponents _),
    "graph_bfs" -> (Graph.graphBfs _),
    "basket_rules" -> (Analytics.basketRules _),
    "sim_mmr_select" -> ((s, d) => LlmPipeline.simMmrSelect(s, d)),
    "multimodal_phash" -> (Multimodal.multimodalPhash _),
    "events_holt_forecast" -> (Analytics.eventsHoltForecast _),
    "graph_neighbor_jaccard" -> (Graph.graphNeighborJaccard _),
    "orders_open_backlog" -> (Analytics.ordersOpenBacklog _),
    "dq_drift" -> (Analytics.dqDrift _),
    "dq_fd_violations" -> (Analytics.dqFdViolations _),
    "basket_triples" -> (Analytics.basketTriples _),
    "graph_kcore" -> ((s, d) => Graph.graphKcore(s, d)),
    "dq_benford" -> (Analytics.dqBenford _),
    "join_asof_nearest" -> (Relational.joinAsofNearest _),
    "sample_temperature" -> ((s, d) => Analytics.sampleTemperature(s, d)),
    "embed_pca_project" -> (LlmPipeline.embedPcaProject _),
    "events_dau_wau_mau" -> (Analytics.eventsDauWauMau _),
    "orders_lead_time" -> (Analytics.ordersLeadTime _),
    "orders_xyz_class" -> (Analytics.ordersXyzClass _),
    "graph_assortativity" -> (Graph.graphAssortativity _),
    "text_zipf_fit" -> (Analytics.textZipfFit _),
    "events_funnel_time" -> (Analytics.eventsFunnelTime _),
    "events_acf" -> (Analytics.eventsAcf _),
    "orders_seasonal_dow" -> (Analytics.ordersSeasonalDow _),
    "dedup_jaccard_prefix" -> ((s, d) => LlmPipeline.dedupJaccardPrefix(s, d)),
    "embed_pca" -> ((s, d) => LlmPipeline.embedPca(s, d)),
    "stream_watermark_late" -> (StreamingOps.streamWatermarkLate _),
    "events_islands" -> (Analytics.eventsIslands _),
    "reshape_unpivot" -> (Analytics.reshapeUnpivot _),
    "cdc_apply" -> (Analytics.cdcApply _),
    "er_blocked_match" -> (Analytics.erBlockedMatch _),
    "text_inverted_index" -> (Analytics.textInvertedIndex _),
    "join_bucketed_colocated" -> (graft.sources.FileFormats.joinBucketedColocated _),
    "graph_pagerank" -> (Graph.graphPagerank _),
    "events_ewma" -> (Analytics.eventsEwma _),
    "events_cusum" -> (Analytics.eventsCusum _),
    "text_bpe_merges" -> (Analytics.textBpeMerges _),
    "text_bpe_encode" -> (Analytics.textBpeEncode _),
    "graph_degree_stats" -> (Graph.graphDegreeStats _),
    "graph_triangles" -> (Graph.graphTriangles _),
    "scan_binaryfile" -> (graft.sources.FileFormats.scanBinaryfile _),
    "scan_avro_roundtrip" -> (graft.sources.FileFormats.scanAvroRoundtrip _),
    "scan_xml_roundtrip" -> (graft.sources.FileFormats.scanXmlRoundtrip _),
    "text_char_ngrams" -> (Analytics.textCharNgrams _),
    "setop_union_by_name" -> (Relational.setopUnionByName _),
    "sql_recursive_cte" -> (Relational.sqlRecursiveCte _),
    "sim_topk_ivf_stored" -> ((s, d) => LlmPipeline.simTopkIvfStored(s, d)),
    "sim_range_search" -> ((s, d) => LlmPipeline.simRangeSearch(s, d)),
    "join_interval_bucketed" -> (Relational.joinIntervalBucketed _),
    "join_interval_native" -> (Relational.joinIntervalNative _),
    "sql_interval_join" -> (Relational.sqlIntervalJoin _),
    "graph_pagerank_bucketed" -> (Graph.graphPagerankBucketed _),
    "graph_components_bucketed" -> (Graph.graphComponentsBucketed _),
    "graph_label_prop_bucketed" -> (Graph.graphLabelPropBucketed _),
    "graph_bfs_bucketed" -> (Graph.graphBfsBucketed _),
    "graph_kcore_bucketed" -> ((s, d) => Graph.graphKcoreBucketed(s, d)),
    "sql_ch_limit_by" -> (Relational.sqlChLimitBy _),
    "sql_ch_limit_by_offset" -> (Relational.sqlChLimitByOffset _),
    "sql_ch_qualify" -> (Relational.sqlChQualify _),
    "sql_ch_functions" -> (Relational.sqlChFunctions _),
    "sql_ch_quantile" -> (Relational.sqlChQuantile _),
    "sql_ch_dates" -> (Relational.sqlChDates _),
    "sql_ch_retention" -> (Relational.sqlChRetention _),
    "sql_ch_funnel" -> (Relational.sqlChFunnel _),
    "sql_ch_funnel_modes" -> (Relational.sqlChFunnelModes _),
    "sample_reservoir" -> ((s, d) => Analytics.sampleReservoir(s, d)),
    "events_top_paths" -> (Analytics.eventsTopPaths _),
    "events_ab_cuped" -> (Analytics.eventsAbCuped _),
    "embed_dim_stats" -> (LlmPipeline.embedDimStats _),
    "embed_quantize" -> (LlmPipeline.embedQuantize _),
    "embed_diversity" -> (LlmPipeline.embedDiversity _),
    "embed_drift" -> (LlmPipeline.embedDrift _),
    "events_mde_power" -> (Analytics.eventsMdePower _),
    "join_asof_native" -> (Relational.joinAsofNative _),
    "sql_asof_join" -> (Relational.sqlAsofJoin _),
    "sql_asof_join_strict" -> (Relational.sqlAsofJoinStrict _),
    "sql_ch_asof" -> (Relational.sqlChAsof _),
    "sql_ch_with_fill" -> (Relational.sqlChWithFill _),
    "sql_ch_with_fill_interp" -> (Relational.sqlChWithFillInterp _),
    "sql_ch_with_fill_interp2" -> (Relational.sqlChWithFillInterp2 _),
    "sql_ch_vector" -> (Relational.sqlChVector _),
    "sql_ch_url" -> (Relational.sqlChUrl _),
    "sql_ch_strings2" -> (Relational.sqlChStrings2 _),
    "sql_ch_dates2" -> (Relational.sqlChDates2 _),
    "sql_ch_agg2" -> (Relational.sqlChAgg2 _),
    "sql_ch_arrays2" -> (Relational.sqlChArrays2 _),
    "sql_ch_misc" -> (Relational.sqlChMisc _),
    "sql_ch_topk" -> (Relational.sqlChTopk _),
    "sql_ch_array_join" -> (Relational.sqlChArrayJoin _),
    "sql_ch_scalars" -> (Relational.sqlChScalars _),
    "sql_ch_datediff" -> (Relational.sqlChDateDiff _),
    "sql_ch_json" -> (Relational.sqlChJson _),
    "sql_ch_age" -> (Relational.sqlChAge _),
    "sql_ch_limit_offset" -> (Relational.sqlChLimitOffset _),
    "sql_ch_limit_ties" -> (Relational.sqlChLimitTies _),
    "sql_ch_dict" -> (Relational.sqlChDict _),
    "sql_ch_conv" -> (Relational.sqlChConv _),
    "sql_ch_parse_dt" -> (Relational.sqlChParseDt _),
    "sql_ch_ip" -> (Relational.sqlChIp _),
    "sql_ch_ip6" -> (Relational.sqlChIp6 _),
    "sql_ch_strdist" -> (Relational.sqlChStrDist _),
    "sql_ch_json2" -> (Relational.sqlChJson2 _),
    "sql_ch_vector2" -> (Relational.sqlChVector2 _),
    "sql_ch_star" -> (Relational.sqlChStar _),
    "sql_ch_geo" -> (Relational.sqlChGeo _),
    "sql_ch_lttb" -> (Relational.sqlChLttb _),
    "sql_ch_with_fill_date" -> (Relational.sqlChWithFillDate _),
    "sql_ch_week" -> (Relational.sqlChWeek _),
    "sql_ch_like" -> (Relational.sqlChLike _),
    "sql_ch_with_fill_hour" -> (Relational.sqlChWithFillHour _),
    "sql_ch_rollup" -> (Relational.sqlChRollup _),
    "sql_ch_sets" -> (Relational.sqlChSets _),
    "sql_ch_with_macro" -> (Relational.sqlChWithMacro _),
    "sql_ch_ngram" -> (Relational.sqlChNgram _),
    "sql_ch_ema" -> (Relational.sqlChEma _),
    "sql_ch_sparkbar" -> (Relational.sqlChSparkbar _),
    "sql_ch_url2" -> (Relational.sqlChUrl2 _),
    "sql_ch_url3" -> (Relational.sqlChUrl3 _),
    "sql_ch_pip" -> (Relational.sqlChPip _),
    "sql_ch_misc2" -> (Relational.sqlChMisc2 _),
    "sql_ch_round" -> (Relational.sqlChRound _),
    "sql_ch_index" -> (Relational.sqlChIndex _),
    "sql_ch_dateadd" -> (Relational.sqlChDateAdd _),
    "sql_interval_left_join" -> (Relational.sqlIntervalLeftJoin _),
    "scalar_inet" -> (Scalars.scalarInet _),
    "orders_interarrival" -> (Analytics.ordersInterarrival _),
    "orders_repeat_rate" -> (Analytics.ordersRepeatRate _),
    "events_error_budget" -> (Analytics.eventsErrorBudget _),
    "text_contamination" -> (LlmPipeline.textContamination _),
    "text_burstiness" -> (Analytics.textBurstiness _),
    "agg_median_twopass" -> (Relational.aggMedianTwopass _),
    "orders_abc_migration" -> (Analytics.ordersAbcMigration _),
    "events_heatmap" -> (Analytics.eventsHeatmap _),
    "sim_recall_curve" -> ((s, d) => LlmPipeline.simRecallCurve(s, d)),
    "stream_asof" -> (StreamingOps.streamAsof _),
    "dq_orphans" -> (Analytics.dqOrphans _),
    "events_seasonal_anomaly" -> (Analytics.eventsSeasonalAnomaly _),
    "dedup_eval" -> ((s, d) => LlmPipeline.dedupEval(s, d)),
    "events_bot_detect" -> (Analytics.eventsBotDetect _),
    "events_changepoint" -> (Analytics.eventsChangepoint _),
    "events_survival" -> ((s, d) => Analytics.eventsSurvival(s, d)),
    "window_regr_slope" -> (Analytics.windowRegrSlope _),
    "text_filter_funnel" -> (Analytics.textFilterFunnel _),
    "text_ngram_novelty" -> (LlmPipeline.textNgramNovelty _),
    "graph_label_prop" -> (Graph.graphLabelProp _),
    "graph_modularity" -> (Graph.graphModularity _),
    "agg_sketch_rollup" -> (Relational.aggSketchRollup _),
    "dedup_edit_distance" -> ((s, d) => LlmPipeline.dedupEditDistance(s, d)),
  )

  /** DuckDB oracles for the driver's t2 compare. Keys absent here (approx
    * sketches, float HOFs, LSH, sliding windows, xxhash fingerprints) are
    * scalatest-verified instead and get the driver's rows-only check.
    */
  /** The langid kernel's oracle — shared verbatim by `text_langid` and,
    * as the `pred` CTE, by `text_langid_kappa` (the same structural-reuse
    * argument as [[intervalBruteForceOracle]]: the QC score is DEFINED
    * over the classifier's own predictions, so the two must never drift).
    */
  private val langidOracle =
    """WITH tok AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term FROM documents), tt AS (SELECT lang AS cand_lang, term, count(*) AS cnt FROM tok GROUP BY 1, 2), top AS (SELECT cand_lang, term FROM (SELECT cand_lang, term, row_number() OVER (PARTITION BY cand_lang ORDER BY cnt DESC, term) AS rk FROM tt) WHERE rk <= 20), dtok AS (SELECT DISTINCT doc_id, term FROM tok), ov AS (SELECT dt.doc_id, tp.cand_lang, count(*) AS ovl FROM dtok dt JOIN top tp ON dt.term = tp.term GROUP BY 1, 2), fullgrid AS (SELECT d.doc_id, d.lang, c.cand_lang, coalesce(ov.ovl, 0) AS ovl FROM documents d CROSS JOIN (SELECT DISTINCT cand_lang FROM top) c LEFT JOIN ov ON ov.doc_id = d.doc_id AND ov.cand_lang = c.cand_lang) SELECT doc_id, lang, cand_lang AS pred_lang, CAST(ovl AS BIGINT) AS overlap FROM (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY ovl DESC, cand_lang) AS rk FROM fullgrid) WHERE rk = 1 ORDER BY doc_id"""

  /** ONE brute-force oracle for both interval-join faces
    * (`join_interval_native` DataFrame path, `sql_interval_join` SQL
    * marker path): sharing the string makes the "SQL ≡ DataFrame ≡ brute
    * force" equivalence structural — an edit cannot silently decouple the
    * two claims.
    */
  private val intervalBruteForceOracle =
    """WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS tus FROM events WHERE event_type = 'purchase'), c AS (SELECT event_id AS click_id, user_id AS click_user, epoch_us(ts) AS cus FROM events WHERE event_type = 'click') SELECT event_id, CAST(count(*) AS BIGINT) AS n_clicks_nearby FROM p JOIN c ON user_id = click_user AND abs(tus - cus) <= 900000000 GROUP BY event_id ORDER BY event_id"""

  def oracleSql: Map[String, String] = Map(
    "scan_full" ->
      """SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus, epoch_us(l_shipdate) AS l_shipdate FROM lineitem ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey""",
    "scan_projection" ->
      """SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us FROM events ORDER BY event_id""",
    "scan_partitioned" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity FROM lineitem ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey""",
    "sink_coalesce" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders ORDER BY o_orderkey""",
    "extract_full" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, epoch_us(o_orderdate) AS o_orderdate_us, o_orderpriority FROM orders ORDER BY o_orderkey""",
    "extract_incr_initial" ->
      """SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value, props FROM events ORDER BY event_id""",
    "extract_incr_watermark" ->
      """SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value, props FROM events WHERE ts >= TIMESTAMP '2024-01-15 00:00:00' ORDER BY event_id""",
    "extract_incr_bounds" ->
      """SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value, props FROM events WHERE event_id >= 200 AND event_id < 700 ORDER BY event_id""",
    "extract_incr_lower_only" ->
      """SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value, props FROM events WHERE event_id >= 500 ORDER BY event_id""",
    "watermark_max" ->
      """SELECT epoch_us(max(ts)) AS max_val FROM events WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'""",
    "probe_nonempty" ->
      """SELECT event_id, user_id, event_type FROM events ORDER BY event_id LIMIT 1""",
    "custom_query_splice" ->
      """SELECT event_type, count(*) AS c FROM events WHERE ts >= '2024-01-10 00:00:00' GROUP BY event_type ORDER BY event_type""",
    "custom_query_extract" ->
      """SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value FROM events WHERE ts >= '2024-01-10 00:00:00' ORDER BY event_id""",
    "custom_query_dashboard" ->
      """WITH f AS (SELECT user_id, ts, event_type, value FROM events WHERE value > 5 AND ts >= '2024-01-10 00:00:00'), g AS (SELECT user_id, (epoch_us(ts) // 900000000) * 900000000 AS bucket_us, CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS n_buy, CAST(count(DISTINCT event_type) AS BIGINT) AS n_types, CAST(list_sort(list(CAST(floor(value * 100 + 0.5) AS BIGINT)))[CAST(floor(0.5 * (count(*) - 1)) AS BIGINT) + 1] AS BIGINT) AS med_cents, array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types FROM f GROUP BY 1, 2), r AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY bucket_us) AS rn FROM g) SELECT user_id, bucket_us, n_buy, n_types, med_cents, types FROM r WHERE rn <= 2 ORDER BY user_id, bucket_us""",
    "custom_query_clickhouse" ->
      """SELECT event_id, epoch_us(ts) AS ts_us, user_id, CAST(year(ts) * 100 + month(ts) AS INTEGER) AS ym, rn FROM (SELECT event_id, ts, user_id, CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id) AS BIGINT) AS rn FROM events WHERE (user_id % 2 = 0) AND (ts >= '2024-01-10 00:00:00')) WHERE rn <= 3 ORDER BY event_id""",
    "join_inner_hash" ->
      """SELECT o.o_orderkey, c.c_custkey, c.c_name, c.c_mktsegment, o.o_totalprice FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey ORDER BY o.o_orderkey""",
    "join_multiway" ->
      """SELECT n_name, sum(CAST(floor(l_extendedprice*(1-l_discount)*10000 + 0.5) AS BIGINT))/10000.0 AS revenue, count(*) AS n_items FROM lineitem JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey GROUP BY n_name ORDER BY n_name""",
    "join_left_outer" ->
      """SELECT c.c_custkey, c.c_name, count(o.o_orderkey) AS order_cnt FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey GROUP BY c.c_custkey, c.c_name ORDER BY c.c_custkey""",
    "join_semi" ->
      """SELECT c_custkey, c_name FROM customer c WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey) ORDER BY c_custkey""",
    "join_anti" ->
      """SELECT c_custkey, c_name FROM customer c WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT') ORDER BY c_custkey""",
    "join_range_theta" ->
      """SELECT e.user_id, count(*) AS pair_cnt FROM events e JOIN orders o ON (o.o_custkey % 16) = e.user_id AND o.o_orderdate <= e.ts GROUP BY e.user_id ORDER BY e.user_id""",
    "join_asof_latest" ->
      """SELECT event_id, user_id, lag(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_event_id FROM events ORDER BY event_id""",
    "join_full_outer" ->
      """SELECT nk, coalesce(customers, 0) AS customers, coalesce(suppliers, 0) AS suppliers FROM (SELECT c_nationkey AS nk, count(*) AS customers FROM customer GROUP BY 1) c FULL JOIN (SELECT s_nationkey AS nk, count(*) AS suppliers FROM supplier GROUP BY 1) s USING (nk) ORDER BY nk""",
    "join_cross" ->
      """SELECT r_regionkey, r_name, n_nationkey, n_name FROM region CROSS JOIN nation ORDER BY r_regionkey, n_nationkey""",
    "agg_minmax_by" ->
      """SELECT event_type, arg_max(event_id, ts) AS latest_event, arg_min(event_id, ts) AS earliest_event FROM events GROUP BY event_type ORDER BY event_type""",
    "setop_union_distinct" ->
      """SELECT user_id FROM events WHERE event_type = 'click' UNION SELECT user_id FROM events WHERE event_type = 'purchase' ORDER BY user_id""",
    "window_first_last" ->
      """SELECT o_orderkey, o_custkey, first_value(o_orderkey) OVER w AS cheapest, last_value(o_orderkey) OVER w AS priciest FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) ORDER BY o_orderkey""",
    "sql_tpch_q6" ->
      """SELECT sum(CAST(floor(l_extendedprice * l_discount * 10000 + 0.5) AS BIGINT))/10000.0 AS revenue, count(*) AS cnt FROM lineitem WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00' AND l_shipdate < TIMESTAMP '1999-01-01 00:00:00' AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24""",
    "sql_tpch_q4" ->
      """SELECT o_orderpriority, count(*) AS order_count FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00' AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity > 45) GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "sql_tpch_q12" ->
      """SELECT l_returnflag, CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_cnt, CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_cnt FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY l_returnflag ORDER BY l_returnflag""",
    "sql_tpch_q14" ->
      """SELECT CAST(100.0 AS DOUBLE) * sum(CASE WHEN p_type = 'PROMO' THEN CAST(floor(l_extendedprice*(1-l_discount)*10000 + 0.5) AS BIGINT) ELSE 0 END) / sum(CAST(floor(l_extendedprice*(1-l_discount)*10000 + 0.5) AS BIGINT)) AS promo_revenue_pct, count(*) AS cnt FROM lineitem JOIN part ON l_partkey = p_partkey""",
    "sql_tpch_q1" ->
      """SELECT l_returnflag, l_linestatus, sum(CAST(floor(l_quantity*100 + 0.5) AS BIGINT))/100.0 AS sum_qty, sum(CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT))/100.0 AS sum_base_price, sum(CAST(floor(l_extendedprice*(1-l_discount)*10000 + 0.5) AS BIGINT))/10000.0 AS sum_disc_price, sum(CAST(floor(l_extendedprice*(1-l_discount)*(1+l_tax)*10000 + 0.5) AS BIGINT))/10000.0 AS sum_charge, floor(sum(CAST(floor(l_quantity*100 + 0.5) AS BIGINT))/count(*)/100.0*100 + 0.5)/100.0 AS avg_qty, floor(sum(CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT))/count(*)/100.0*100 + 0.5)/100.0 AS avg_price, floor(sum(CAST(floor(l_discount*10000 + 0.5) AS BIGINT))/count(*)/10000.0*10000 + 0.5)/10000.0 AS avg_disc, count(*) AS count_order FROM lineitem WHERE l_shipdate <= TIMESTAMP '2001-09-01 00:00:00' GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""",
    "sql_tpch_q5" ->
      """SELECT n_name, sum(CAST(floor(l_extendedprice*(1-l_discount)*10000 + 0.5) AS BIGINT))/10000.0 AS revenue, count(*) AS cnt FROM customer JOIN orders ON c_custkey = o_custkey JOIN lineitem ON l_orderkey = o_orderkey JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey JOIN nation ON s_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00' GROUP BY n_name ORDER BY revenue DESC, n_name""",
    "sql_tpch_q7" ->
      """SELECT supp_nation, cust_nation, l_year, sum(v)/10000.0 AS revenue, count(*) AS cnt FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation, CAST(year(l_shipdate) AS BIGINT) AS l_year, CAST(floor(l_extendedprice*(1-l_discount)*10000 + 0.5) AS BIGINT) AS v FROM supplier JOIN lineitem ON s_suppkey = l_suppkey JOIN orders ON o_orderkey = l_orderkey JOIN customer ON c_custkey = o_custkey JOIN nation n1 ON s_nationkey = n1.n_nationkey JOIN nation n2 ON c_nationkey = n2.n_nationkey WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2') OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')) GROUP BY supp_nation, cust_nation, l_year ORDER BY supp_nation, cust_nation, l_year""",
    "sql_tpch_q8" ->
      """WITH vol AS (SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year, CAST(floor(l_extendedprice*(1-l_discount)*10000 + 0.5) AS BIGINT) AS v, n2.n_name AS supp_nation FROM lineitem JOIN part ON p_partkey = l_partkey JOIN orders ON o_orderkey = l_orderkey JOIN customer ON c_custkey = o_custkey JOIN nation n1 ON c_nationkey = n1.n_nationkey JOIN region ON n1.n_regionkey = r_regionkey JOIN supplier ON s_suppkey = l_suppkey JOIN nation n2 ON s_nationkey = n2.n_nationkey WHERE r_name = 'ASIA' AND p_type = 'PROMO') SELECT o_year, CAST(sum(CASE WHEN supp_nation = 'NATION_1' THEN v ELSE 0 END) AS DOUBLE) / sum(v) AS mkt_share, count(*) AS cnt FROM vol GROUP BY o_year ORDER BY o_year""",
    "sql_tpch_q17" ->
      """WITH pagg AS (SELECT l_partkey AS pk, sum(CAST(floor(l_quantity*100 + 0.5) AS BIGINT)) AS sum_qc, count(*) AS cnt FROM lineitem GROUP BY l_partkey) SELECT sum(CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT))/100.0/7.0 AS avg_yearly, count(*) AS cnt FROM lineitem JOIN part ON p_partkey = l_partkey JOIN pagg ON pk = l_partkey WHERE p_brand = 'Brand#11' AND CAST(floor(l_quantity*100 + 0.5) AS BIGINT) * 5 * cnt < sum_qc""",
    "sql_tpch_q10" ->
      """SELECT c_custkey, c_name, n_name, sum(CAST(floor(l_extendedprice*(1-l_discount)*10000 + 0.5) AS BIGINT))/10000.0 AS revenue, count(*) AS cnt FROM customer JOIN orders ON c_custkey = o_custkey JOIN lineitem ON l_orderkey = o_orderkey JOIN nation ON c_nationkey = n_nationkey WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00' AND l_returnflag = 'R' GROUP BY c_custkey, c_name, n_name ORDER BY revenue DESC, c_custkey LIMIT 20""",
    "sql_tpch_q13" ->
      """SELECT c_count, count(*) AS custdist FROM (SELECT c_custkey, count(o_orderkey) AS c_count FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT' GROUP BY c_custkey) c_orders GROUP BY c_count ORDER BY custdist DESC, c_count DESC""",
    "sql_tpch_q15" ->
      """WITH revenue AS (SELECT l_suppkey AS supplier_no, sum(CAST(floor(l_extendedprice*(1-l_discount)*10000 + 0.5) AS BIGINT)) AS total_bp FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00' AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00' GROUP BY l_suppkey) SELECT s_suppkey, s_name, total_bp/10000.0 AS total_revenue FROM supplier JOIN revenue ON s_suppkey = supplier_no WHERE total_bp = (SELECT max(total_bp) FROM revenue) ORDER BY s_suppkey""",
    "sql_tpch_q18" ->
      """SELECT c_custkey, o_orderkey, epoch_us(o_orderdate) AS o_orderdate_us, sum(CAST(floor(l_quantity*100 + 0.5) AS BIGINT))/100.0 AS total_qty FROM customer JOIN orders ON c_custkey = o_custkey JOIN lineitem ON o_orderkey = l_orderkey WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING sum(CAST(floor(l_quantity*100 + 0.5) AS BIGINT)) > 25000) GROUP BY c_custkey, o_orderkey, o_orderdate ORDER BY total_qty DESC, o_orderkey""",
    "sql_tpch_q19" ->
      """SELECT sum(CAST(floor(l_extendedprice*(1-l_discount)*10000 + 0.5) AS BIGINT))/10000.0 AS revenue, count(*) AS cnt FROM lineitem JOIN part ON p_partkey = l_partkey WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1.0 AND 30.0) OR (p_brand = 'Brand#22' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10.0 AND 40.0) OR (p_type LIKE 'PROMO%' AND l_quantity >= 20.0)""",
    "sql_tpch_q22" ->
      """WITH pos AS (SELECT c_custkey, c_mktsegment, CAST(floor(c_acctbal*100 + 0.5) AS BIGINT) AS bal_c FROM customer WHERE c_acctbal > 0.0), tot AS (SELECT sum(bal_c) AS s, count(*) AS n FROM pos) SELECT c_mktsegment AS seg, count(*) AS numcust, sum(bal_c)/100.0 AS totacctbal FROM pos CROSS JOIN tot WHERE bal_c * n > s AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT') GROUP BY c_mktsegment ORDER BY seg""",
    "sql_tpch_q2" ->
      """WITH asia AS (SELECT l_partkey AS pk, s_acctbal, s_name, n_name FROM lineitem JOIN supplier ON s_suppkey = l_suppkey JOIN nation ON s_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'ASIA'), mins AS (SELECT pk, min(s_acctbal) AS min_bal FROM asia GROUP BY pk) SELECT DISTINCT s_acctbal, s_name, n_name, p_partkey, p_name FROM part JOIN asia ON pk = p_partkey JOIN mins ON mins.pk = p_partkey AND s_acctbal = min_bal WHERE p_size = 10 AND p_type = 'SMALL' ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100""",
    "sql_tpch_q9" ->
      """SELECT nation, o_year, sum(amount_bp)/10000.0 AS sum_profit, count(*) AS cnt FROM (SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year, CAST(floor(l_extendedprice*(1-l_discount)*10000 + 0.5) AS BIGINT) - CAST(floor(0.4*p_retailprice*l_quantity*10000 + 0.5) AS BIGINT) AS amount_bp FROM lineitem JOIN part ON p_partkey = l_partkey JOIN supplier ON s_suppkey = l_suppkey JOIN orders ON o_orderkey = l_orderkey JOIN nation ON s_nationkey = n_nationkey WHERE p_name LIKE '%widget%') profit GROUP BY nation, o_year ORDER BY nation, o_year DESC""",
    "sql_tpch_q11" ->
      """WITH sv AS (SELECT l_partkey AS pk, sum(CAST(floor(l_quantity*100 + 0.5) AS BIGINT)) AS val_c FROM lineitem JOIN supplier ON s_suppkey = l_suppkey JOIN nation ON s_nationkey = n_nationkey WHERE n_name = 'NATION_1' GROUP BY l_partkey) SELECT pk AS p_partkey, val_c/100.0 AS part_value FROM sv CROSS JOIN (SELECT sum(val_c) AS total_c FROM sv) t WHERE val_c * 600 > total_c ORDER BY part_value DESC, p_partkey""",
    "sql_tpch_q16" ->
      """SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt FROM lineitem JOIN part ON p_partkey = l_partkey WHERE p_brand <> 'Brand#11' AND p_type <> 'PROMO' AND p_size IN (5,10,15,20,25) AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 100.0) GROUP BY p_brand, p_type, p_size ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""",
    "sql_tpch_q20" ->
      """SELECT s_name, s_acctbal FROM supplier JOIN nation ON s_nationkey = n_nationkey WHERE n_name = 'NATION_1' AND s_suppkey IN (SELECT l_suppkey FROM lineitem WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%') AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00' AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00' GROUP BY l_suppkey HAVING sum(CAST(floor(l_quantity*100 + 0.5) AS BIGINT)) > 10000) ORDER BY s_name""",
    "sql_tpch_q21" ->
      """SELECT s_name, count(*) AS numwait FROM supplier JOIN lineitem l1 ON s_suppkey = l1.l_suppkey JOIN orders ON o_orderkey = l1.l_orderkey JOIN nation ON s_nationkey = n_nationkey WHERE o_orderstatus = 'F' AND n_name = 'NATION_1' AND l1.l_returnflag = 'R' AND EXISTS (SELECT 1 FROM lineitem l2 WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey) AND NOT EXISTS (SELECT 1 FROM lineitem l3 WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey AND l3.l_returnflag = 'R') GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 100""",
    "typed_event_stats" ->
      """SELECT event_type, count(*) AS cnt, sum(CAST(floor(value*100 + 0.5) AS BIGINT))/100.0 AS sum_value FROM events WHERE value > 50.0 GROUP BY event_type ORDER BY event_type""",
    "scalar_regex" ->
      """SELECT c_custkey, regexp_extract(c_name, '([0-9]+)$', 1) AS num_suffix, string_split(c_name, '#')[1] AS name_head, regexp_matches(c_name, '^Customer') AS is_customer FROM customer ORDER BY c_custkey""",
    "scalar_conditional" ->
      """SELECT o_orderkey, CASE WHEN o_totalprice >= 200000 THEN 'high' WHEN o_totalprice >= 100000 THEN 'mid' ELSE 'low' END AS tier, coalesce(nullif(o_orderstatus, 'O'), 'OPEN') AS status_alias, least(o_totalprice, CAST(150000.0 AS DOUBLE)) AS capped, greatest(o_totalprice, CAST(1000.0 AS DOUBLE)) AS floored FROM orders ORDER BY o_orderkey""",
    "scalar_casts" ->
      """SELECT event_id, CAST(event_id AS VARCHAR) AS id_str, CAST(trunc(value) AS INTEGER) AS value_int, concat(CAST(user_id AS VARCHAR), '#', event_type) AS composite, CAST(CAST(ts AS DATE) AS VARCHAR) AS day_str FROM events ORDER BY event_id""",
    "scalar_array" ->
      """SELECT vec_id, CAST(len(embedding) AS BIGINT) AS dim, embedding[1] AS first, sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS l2_norm FROM embeddings ORDER BY vec_id""",
    "scalar_bitwise" ->
      """SELECT event_id, event_id & 255 AS band, event_id | 4096 AS bor, xor(event_id, user_id) AS bxor, event_id << 2 AS shl, event_id >> 3 AS shr, CAST(bit_count(event_id) AS BIGINT) AS bits FROM events ORDER BY event_id""",
    "scalar_datetime_extras" ->
      """SELECT o_orderkey, CAST(CAST(o_orderdate + INTERVAL 3 MONTH AS DATE) AS VARCHAR) AS plus3m, CAST(last_day(CAST(o_orderdate AS DATE)) AS VARCHAR) AS month_end, CAST(quarter(o_orderdate) AS BIGINT) AS qtr, CAST(dayofyear(o_orderdate) AS BIGINT) AS doy, CAST(weekofyear(o_orderdate) AS BIGINT) AS woy FROM orders ORDER BY o_orderkey""",
    "window_percent_rank" ->
      """SELECT event_id, event_type, value, percent_rank() OVER w AS pr, cume_dist() OVER w AS cd FROM events WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id) ORDER BY event_id""",
    "window_nth_lead" ->
      """SELECT event_id, nth_value(value, 3) OVER w AS third, lead(value, 2, -1.0) OVER w2 AS lead2 FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING), w2 AS (PARTITION BY user_id ORDER BY ts, event_id) ORDER BY event_id""",
    "agg_every_any" ->
      """SELECT o_orderstatus, bool_and(o_totalprice > 1000.0) AS all_over_1k, bool_or(o_totalprice > 400000.0) AS any_over_400k, CAST(count(*) FILTER (WHERE o_totalprice > 200000.0) AS BIGINT) AS n_over_200k FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "agg_grouping_id" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status, coalesce(o_orderpriority, 'ALL') AS priority, CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status, CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority, count(*) AS cnt FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority) ORDER BY status, priority""",
    "agg_multi_distinct" ->
      """SELECT count(DISTINCT user_id) AS users, count(DISTINCT event_type) AS types, count(*) AS cnt FROM events""",
    "agg_percentile_disc" ->
      """SELECT o_orderstatus, quantile_disc(o_totalprice, 0.5) AS p50_disc, quantile_disc(o_totalprice, 0.9) AS p90_disc FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "scalar_hash_encode" ->
      """SELECT c_custkey, md5(c_name) AS name_md5, base64(encode(c_name)) AS name_b64, hex(encode(c_name)) AS name_hex, lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS padded, rtrim(ltrim(concat('  ', c_mktsegment, '  '))) AS trimmed FROM customer ORDER BY c_custkey""",
    "scalar_try_safe" ->
      """SELECT event_id, value / nullif(CAST(user_id % 3 AS DOUBLE), 0.0) AS safe_div, TRY_CAST(event_type AS BIGINT) AS bad_cast, TRY_CAST(CAST(event_id AS VARCHAR) AS BIGINT) AS good_cast FROM events ORDER BY event_id""",
    "scalar_levenshtein" ->
      """SELECT c_custkey, CAST(levenshtein(c_name, 'Customer#000000000') AS BIGINT) AS dist_probe, CAST(levenshtein(c_name, upper(c_name)) AS BIGINT) AS dist_case FROM customer ORDER BY c_custkey""",
    // FIXTURE CONTRACT: c_name = 'Customer#NNNNNNNNN' — '#'→'%23' is the only
    // encoding java.net.URLEncoder applies, so replace() reproduces Spark's
    // url_encode and regexp_extract stands in for parse_url (absent in
    // DuckDB 1.0).
    "scalar_url" ->
      """WITH u AS (SELECT c_custkey, c_name, 'https://shop.example.com/seg/' || lower(c_mktsegment) || '/profile?id=' || CAST(c_custkey AS VARCHAR) || '&name=' || replace(c_name, '#', '%23') AS url FROM customer) SELECT c_custkey, url, regexp_extract(url, '^https://([^/]+)', 1) AS host, regexp_extract(url, '^https://[^/]+(/[^?]*)', 1) AS path, regexp_extract(url, '\?(.*)$', 1) AS query, regexp_extract(url, '[?&]id=([^&]*)', 1) AS id_param, c_name AS name_decoded FROM u ORDER BY c_custkey""",
    "scalar_interval" ->
      """SELECT o_orderkey, CAST(date_diff('day', o_orderdate, DATE '1998-12-01') AS BIGINT) AS age_days, CAST(CAST(o_orderdate + INTERVAL 30 DAY AS DATE) AS VARCHAR) AS due30, CAST(CAST(o_orderdate - INTERVAL 7 DAY AS DATE) AS VARCHAR) AS minus7, CAST(CAST(date_trunc('month', o_orderdate) AS DATE) AS VARCHAR) AS month_start FROM orders ORDER BY o_orderkey""",
    "agg_mode" ->
      """SELECT bucket, event_type AS mode_event, mode_cnt FROM (SELECT user_id % 10 AS bucket, event_type, count(*) AS mode_cnt, row_number() OVER (PARTITION BY user_id % 10 ORDER BY count(*) DESC, event_type) AS rk FROM events GROUP BY 1, 2) WHERE rk = 1 ORDER BY bucket""",
    "scalar_array_extras" ->
      """SELECT vec_id, CAST(len(flatten([embedding, embedding])) AS BIGINT) AS flat_len, list_reverse(embedding)[1] AS rev_first, embedding[64] AS last_elem FROM embeddings ORDER BY vec_id""",
    // FIXTURE CONTRACT: events.props is a single-key JSON object {"k": n}
    // (TESTDATA.md); the oracle hardcodes that key because DuckDB can't
    // lazily iterate JSON keys the way Spark's explode(from_json MAP) does.
    // If the fixture ever grows multi-key props, rewrite with a DuckDB
    // json_each lateral — the Spark query is already key-generic.
    "generator_explode_map" ->
      """SELECT event_id, 'k' AS key, CAST(json_extract_string(props, '$.k') AS BIGINT) AS val FROM events ORDER BY event_id, key""",
    // FIXTURE CONTRACT: each sf dir stores events as exactly one file named
    // events.parquet, so input_file_name() yields one basename. A multi-file
    // events table would need the oracle to list the glob instead.
    "scan_file_provenance" ->
      """SELECT 'events.parquet' AS file, count(*) AS cnt FROM events GROUP BY 1 ORDER BY file""",
    "setop_except_all" ->
      """SELECT * FROM (SELECT user_id FROM events WHERE event_type = 'click' EXCEPT ALL SELECT user_id FROM events WHERE event_type = 'purchase') ORDER BY user_id""",
    "setop_intersect_all" ->
      """SELECT * FROM (SELECT user_id FROM events WHERE event_type = 'click' INTERSECT ALL SELECT user_id FROM events WHERE event_type = 'purchase') ORDER BY user_id""",
    "window_range_interval" ->
      """SELECT event_id, sum(CAST(floor(value*100 + 0.5) AS BIGINT)) OVER (PARTITION BY user_id ORDER BY ts RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)/100.0 AS hr_sum FROM events ORDER BY event_id""",
    "agg_bitwise" ->
      """SELECT event_type, bit_and(user_id) AS uand, bit_or(user_id) AS uor, bit_xor(user_id) AS uxor FROM events GROUP BY event_type ORDER BY event_type""",
    "agg_stddev_median" ->
      """SELECT o_orderstatus, floor(stddev_samp(o_totalprice)*100 + 0.5)/100.0 AS sd, median(o_totalprice) AS med FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "agg_string_concat" ->
      """SELECT c_mktsegment, count(*) AS cnt, string_agg(c_name, ',' ORDER BY c_name) AS names FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "generator_stack" ->
      """SELECT * FROM (SELECT o_orderkey, 'price' AS metric, o_totalprice AS val FROM orders UNION ALL SELECT o_orderkey, 'cust' AS metric, CAST(o_custkey AS DOUBLE) AS val FROM orders) ORDER BY o_orderkey, metric""",
    "generator_explode_outer" ->
      """SELECT event_id, u.e FROM (SELECT event_id, CASE WHEN event_type = 'error' THEN CAST([] AS BIGINT[]) ELSE [user_id, user_id+1] END AS arr FROM events) t LEFT JOIN LATERAL (SELECT unnest(arr) AS e) u ON true ORDER BY event_id, e NULLS FIRST""",
    "sort_nulls_order" ->
      """SELECT o_orderkey, nullif(o_orderstatus, 'O') AS st FROM orders ORDER BY st ASC NULLS LAST, o_orderkey""",
    "udaf_stable_mean" ->
      """SELECT event_type, floor(avg(value)*10000 + 0.5)/10000.0 AS mean_value FROM events GROUP BY event_type ORDER BY event_type""",
    "agg_histogram" ->
      """SELECT CAST(floor(o_totalprice/50000.0) AS BIGINT) AS bucket, count(*) AS cnt, sum(CAST(floor(o_totalprice*100 + 0.5) AS BIGINT))/100.0 AS total FROM orders GROUP BY bucket ORDER BY bucket""",
    "join_asof_union" ->
      """SELECT event_id, user_id, epoch_us(ts) AS ts_us, last_click_us FROM (SELECT event_id, user_id, ts, event_type, last_value(CASE WHEN event_type = 'click' THEN epoch_us(ts) END IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_us FROM events WHERE event_type IN ('click', 'purchase')) WHERE event_type = 'purchase' ORDER BY event_id""",
    "join_lateral_topn" ->
      """SELECT c_custkey, t.o_orderkey, t.o_totalprice FROM customer, LATERAL (SELECT o_orderkey, o_totalprice FROM orders WHERE o_custkey = c_custkey ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t ORDER BY c_custkey, t.o_orderkey""",
    "scalar_map" ->
      """SELECT event_id, CAST(len(json_keys(props)) AS BIGINT) AS n_keys, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val, json_extract(props, '$.k') IS NOT NULL AS has_k FROM events ORDER BY event_id""",
    "scan_csv_roundtrip" ->
      """SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us, value FROM events ORDER BY event_id""",
    "sink_partitioned_prune" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus FROM orders WHERE o_orderstatus = 'F' ORDER BY o_orderkey""",
    "scan_json_roundtrip" ->
      """SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us, value FROM events ORDER BY event_id""",
    "scan_orc_roundtrip" ->
      """SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us, value FROM events ORDER BY event_id""",
    "scan_avro_roundtrip" ->
      """SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us, value FROM events ORDER BY event_id""",
    "scan_xml_roundtrip" ->
      """SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us, value FROM events ORDER BY event_id""",
    "join_interval_bucketed" ->
      """WITH ev AS (SELECT event_id, epoch_us(ts) AS tus FROM events WHERE event_type = 'purchase'), o AS (SELECT event_id AS oid, epoch_us(ts) AS ous FROM events WHERE event_type = 'click') SELECT event_id, CAST(count(*) AS BIGINT) AS n_clicks_nearby FROM ev JOIN o ON abs(tus - ous) <= 900000000 GROUP BY event_id ORDER BY event_id""",
    "join_interval_native" -> intervalBruteForceOracle,
    // Same brute-force oracle as join_interval_native: the pass proves the
    // SQL marker path ≡ the DataFrame path ≡ the all-pairs reference.
    "sql_interval_join" -> intervalBruteForceOracle,
    // Textbook range LEFT JOIN: zero-click purchases appear with count 0 —
    // the pass proves the native sweep's null-extension rows.
    "sql_interval_left_join" ->
      """WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS tus FROM events WHERE event_type = 'purchase'), c AS (SELECT event_id AS click_id, user_id AS click_user, epoch_us(ts) AS cus FROM events WHERE event_type = 'click') SELECT event_id, CAST(count(click_id) AS BIGINT) AS n_clicks_nearby FROM p LEFT JOIN c ON user_id = click_user AND cus BETWEEN tus - 900000000 AND tus + 900000000 GROUP BY event_id ORDER BY event_id""",
    "setop_union_by_name" ->
      """SELECT o_orderkey, CAST(floor(o_totalprice*100+0.5) AS BIGINT) AS cents, NULL AS o_orderpriority FROM orders WHERE o_orderkey % 2 = 0 UNION ALL SELECT o_orderkey, NULL, o_orderpriority FROM orders WHERE o_orderkey % 2 = 1 ORDER BY o_orderkey""",
    "sql_recursive_cte" ->
      """WITH RECURSIVE anc AS (SELECT s_suppkey AS node, s_suppkey AS ancestor, 0 AS depth FROM supplier UNION ALL SELECT node, ancestor // 2, depth + 1 FROM anc WHERE ancestor > 0) SELECT node, CAST(max(depth) AS BIGINT) AS chain_len, CAST(count(*) AS BIGINT) AS n_ancestors FROM anc GROUP BY node ORDER BY node""",
    "text_char_ngrams" ->
      """WITH g AS (SELECT lang, substring(lower(text), i, 3) AS gram FROM documents, LATERAL unnest(range(1, length(text) - 1)) AS r(i)), c AS (SELECT lang, gram, CAST(count(*) AS BIGINT) AS cnt FROM g GROUP BY 1, 2), rr AS (SELECT lang, gram, cnt, CAST(row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, gram) AS BIGINT) AS rn FROM c) SELECT lang, gram, cnt, rn FROM rr WHERE rn <= 10 ORDER BY lang, rn""",
    "scan_schema_evolution" ->
      """SELECT event_id, user_id, event_type, CASE WHEN event_id % 2 = 1 THEN value ELSE NULL END AS value FROM events ORDER BY event_id""",
    "scan_text_roundtrip" ->
      """SELECT text FROM documents ORDER BY text""",
    "events_markov" ->
      """WITH seq AS (SELECT user_id, event_type AS to_type, lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS from_type FROM events), tc AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n FROM seq WHERE from_type IS NOT NULL GROUP BY 1,2), tot AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS n_from FROM tc GROUP BY from_type) SELECT tc.from_type, to_type, n, floor(CAST(n AS DOUBLE)/n_from*10000 + 0.5)/10000 AS p FROM tc JOIN tot USING (from_type) ORDER BY tc.from_type, to_type""",
    "text_entropy" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS tk FROM documents), tc AS (SELECT doc_id, tk, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1,2), tot AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n FROM tc GROUP BY doc_id), terms AS (SELECT tc.doc_id, CAST(floor(-(CAST(c AS DOUBLE)/n) * log2(CAST(c AS DOUBLE)/n) * 1000000 + 0.5) AS BIGINT) AS t_micro FROM tc JOIN tot USING (doc_id)) SELECT doc_id, floor(CAST(sum(t_micro) AS DOUBLE)/1000000*10000 + 0.5)/10000 AS token_entropy FROM terms GROUP BY doc_id ORDER BY doc_id""",
    "multimodal_kind_stats" ->
      """SELECT CASE doc_id % 4 WHEN 0 THEN 'text' WHEN 1 THEN 'image' WHEN 2 THEN 'audio' ELSE 'video' END AS kind, count(*) AS n_assets, CAST(sum(strlen(text)) AS BIGINT) AS total_bytes, CAST(max(strlen(text)) AS BIGINT) AS max_bytes, min(doc_id) AS first_asset FROM documents GROUP BY 1 ORDER BY 1""",
    "text_langid" -> langidOracle,
    "text_langid_kappa" ->
      (s"WITH pred AS ($langidOracle), " +
        "m AS (SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS c FROM pred GROUP BY 1, 2), " +
        "rowm AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n_true FROM m GROUP BY 1), " +
        "colm AS (SELECT pred_lang, CAST(sum(c) AS BIGINT) AS n_pred FROM m GROUP BY 1), " +
        "diag AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n_correct FROM m WHERE lang = pred_lang GROUP BY 1), " +
        "tot AS (SELECT CAST(sum(c) AS BIGINT) AS n, CAST(sum(CASE WHEN lang = pred_lang THEN c ELSE 0 END) AS BIGINT) AS a FROM m), " +
        "pe AS (SELECT CAST(sum(rowm.n_true * coalesce(colm.n_pred, 0)) AS BIGINT) AS p FROM rowm LEFT JOIN colm ON rowm.lang = colm.pred_lang), " +
        "g AS (SELECT (1000000 * a) // n AS accuracy_micro, CAST(floor(1000000.0 * (n * a - p) / (n * n - p) + 0.5) AS BIGINT) AS kappa_micro FROM tot CROSS JOIN pe) " +
        "SELECT rowm.lang, n_true, coalesce(n_pred, 0) AS n_pred, coalesce(n_correct, 0) AS n_correct, " +
        "CASE WHEN coalesce(n_pred, 0) = 0 THEN NULL ELSE (1000000 * coalesce(n_correct, 0)) // n_pred END AS precision_micro, " +
        "(1000000 * coalesce(n_correct, 0)) // n_true AS recall_micro, " +
        "accuracy_micro, kappa_micro " +
        "FROM rowm LEFT JOIN colm ON rowm.lang = colm.pred_lang " +
        "LEFT JOIN diag ON rowm.lang = diag.lang CROSS JOIN g ORDER BY rowm.lang"),
    "agg_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus, sum_qty, sum_base, sum_disc, cnt, floor((sum_qty/cnt)*100 + 0.5)/100.0 AS avg_qty FROM (SELECT l_returnflag, l_linestatus, sum(CAST(floor(l_quantity*100 + 0.5) AS BIGINT))/100.0 AS sum_qty, sum(CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT))/100.0 AS sum_base, sum(CAST(floor(l_extendedprice*(1-l_discount)*10000 + 0.5) AS BIGINT))/10000.0 AS sum_disc, count(*) AS cnt FROM lineitem GROUP BY l_returnflag, l_linestatus) ORDER BY l_returnflag, l_linestatus""",
    "agg_distinct_count" ->
      """SELECT event_type, count(DISTINCT user_id) AS users FROM events GROUP BY event_type ORDER BY event_type""",
    "agg_rollup" ->
      """SELECT coalesce(event_type, 'ALL') AS et, coalesce(CAST(bucket AS VARCHAR), 'ALL') AS bucket, count(*) AS cnt, sum(CAST(floor(value*100 + 0.5) AS BIGINT))/100.0 AS sum_value FROM (SELECT event_type, user_id % 4 AS bucket, value FROM events) GROUP BY ROLLUP(event_type, bucket) ORDER BY et, bucket""",
    "agg_cube" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status, coalesce(o_orderpriority, 'ALL') AS priority, count(*) AS cnt, sum(CAST(floor(o_totalprice*100 + 0.5) AS BIGINT))/100.0 AS sum_price FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority) ORDER BY status, priority""",
    "agg_grouping_sets" ->
      """SELECT coalesce(event_type, 'ALL') AS et, coalesce(CAST(user_id AS VARCHAR), 'ALL') AS uid, count(*) AS cnt FROM events GROUP BY GROUPING SETS ((event_type), (user_id), ()) ORDER BY et, uid""",
    "agg_pivot" ->
      """SELECT user_id % 4 AS bucket, count(*) FILTER (WHERE event_type = 'click') AS click, count(*) FILTER (WHERE event_type = 'error') AS error, count(*) FILTER (WHERE event_type = 'purchase') AS purchase, count(*) FILTER (WHERE event_type = 'signup') AS signup, count(*) FILTER (WHERE event_type = 'view') AS view FROM events GROUP BY 1 ORDER BY bucket""",
    "agg_percentiles" ->
      """SELECT event_type, floor(quantile_cont(value, 0.5)*100 + 0.5)/100.0 AS p50, floor(quantile_cont(value, 0.9)*100 + 0.5)/100.0 AS p90 FROM events GROUP BY event_type ORDER BY event_type""",
    "window_ntile" ->
      """SELECT event_id, user_id, ntile(4) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS quartile FROM events ORDER BY event_id""",
    "sql_tpch_q3" ->
      """SELECT l_orderkey, sum(CAST(floor(l_extendedprice*(1-l_discount)*10000 + 0.5) AS BIGINT))/10000.0 AS revenue, epoch_us(o_orderdate) AS orderdate_us, o_orderpriority FROM customer JOIN orders ON c_custkey = o_custkey JOIN lineitem ON l_orderkey = o_orderkey WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00' GROUP BY l_orderkey, o_orderdate, o_orderpriority ORDER BY revenue DESC, l_orderkey LIMIT 10""",
    "window_rank_topn" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (SELECT o_custkey, o_orderkey, o_totalprice, row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn FROM orders) WHERE rn <= 3 ORDER BY o_custkey, rn""",
    "window_running_sum" ->
      """SELECT event_id, user_id, sum(CAST(floor(value*100 + 0.5) AS BIGINT)) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)/100.0 AS run_sum FROM events ORDER BY event_id""",
    "window_lag_delta" ->
      """SELECT event_id, user_id, epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS delta_us FROM events ORDER BY event_id""",
    "window_moving_avg" ->
      """SELECT o_orderkey, floor(sum(CAST(floor(o_totalprice*100 + 0.5) AS BIGINT)) OVER w / count(*) OVER w + 0.5)/100.0 AS mavg FROM orders WINDOW w AS (ORDER BY o_orderdate, o_orderkey ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) ORDER BY o_orderkey""",
    // Same oracle as window_moving_avg: the two-pass variant must produce
    // the IDENTICAL relation — that equality is the point of the query.
    "window_moving_avg_twopass" ->
      """SELECT o_orderkey, floor(sum(CAST(floor(o_totalprice*100 + 0.5) AS BIGINT)) OVER w / count(*) OVER w + 0.5)/100.0 AS mavg FROM orders WINDOW w AS (ORDER BY o_orderdate, o_orderkey ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) ORDER BY o_orderkey""",
    "sort_limit_topk" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_extendedprice FROM lineitem ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber, l_partkey, l_suppkey LIMIT 10""",
    "setop_union" ->
      """SELECT user_id, event_id FROM events WHERE event_type = 'click' UNION ALL SELECT user_id, event_id FROM events WHERE event_type = 'purchase' ORDER BY event_id""",
    "setop_intersect" ->
      """SELECT user_id FROM events WHERE event_type = 'click' INTERSECT SELECT user_id FROM events WHERE event_type = 'purchase' ORDER BY user_id""",
    "setop_except" ->
      """SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events WHERE event_type = 'view' EXCEPT SELECT user_id, epoch_us(ts) // 86400000000 FROM events WHERE event_type = 'purchase' ORDER BY user_id, day""",
    "scalar_string" ->
      """SELECT c_custkey, upper(c_name) AS uname, substring(c_name, 1, 8) AS pre, concat(c_mktsegment, '#', c_name) AS tagged, (c_name LIKE '%5') AS ends5 FROM customer ORDER BY c_custkey""",
    "scalar_date" ->
      """SELECT event_id, epoch_us(date_trunc('day', ts)) AS day_us, epoch_us(date_trunc('hour', ts)) AS hour_us, dayofweek(ts) + 1 AS dow, datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS days_since FROM events ORDER BY event_id""",
    "scalar_math" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, floor((l_extendedprice*(1-l_discount)*(1+l_tax))*100 + 0.5)/100.0 AS net, abs(l_discount-0.05) AS adisc, CAST(ceil(l_extendedprice) AS BIGINT) AS cprice FROM lineitem ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey""",
    "scalar_json" ->
      """SELECT event_id, CAST(props->>'$.k' AS BIGINT) AS k FROM events ORDER BY event_id""",
    "scalar_variant" ->
      """SELECT event_id, CAST(props->>'$.k' AS BIGINT) AS k, 'OBJECT<k: BIGINT>' AS vschema, false AS v_is_null, CAST(NULL AS BIGINT) AS bad FROM events ORDER BY event_id""",
    "scalar_collation" ->
      """WITH m AS (SELECT c_custkey, CASE WHEN c_custkey % 2 = 0 THEN lower(c_mktsegment) ELSE c_mktsegment END AS seg_mixed FROM customer) SELECT c_custkey, seg_mixed, lower(seg_mixed) = 'building' AS eq_lcase, seg_mixed = 'BUILDING' AS eq_binary, starts_with(lower(seg_mixed), 'build') AS pfx_lcase FROM m ORDER BY c_custkey""",
    "dedup_exact" ->
      """SELECT min(doc_id) AS doc_id, count(*) AS dup_cnt FROM documents GROUP BY text ORDER BY doc_id""",
    "udf_slugify" ->
      """SELECT c_custkey, lower(replace(c_name, ' ', '-')) AS slug FROM customer ORDER BY c_custkey""",
    "agg_salted_user" ->
      """SELECT user_id, count(*) AS cnt, sum(CAST(floor(value*100 + 0.5) AS BIGINT))/100.0 AS sum_value FROM events GROUP BY user_id ORDER BY user_id""",
    "join_salted" ->
      """SELECT o.o_orderkey, c.c_custkey, c.c_name, c.c_mktsegment, o.o_totalprice FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey ORDER BY o.o_orderkey""",
    "window_range_frame" ->
      """SELECT event_id, user_id, sum(CAST(floor(value*100 + 0.5) AS BIGINT)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts) RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)/100.0 AS hour_sum FROM events ORDER BY event_id""",
    "text_tfidf" ->
      """WITH tf AS (SELECT doc_id, term, count(*) AS tf FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents) GROUP BY 1, 2), dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1), n AS (SELECT count(*) AS n FROM documents) SELECT doc_id, term, tf, df, score, rk FROM (SELECT tf.doc_id, tf.term, tf.tf, dfreq.df, tf.tf * n.n * 1.0 / dfreq.df AS score, row_number() OVER (PARTITION BY tf.doc_id ORDER BY tf.tf * n.n * 1.0 / dfreq.df DESC, tf.term) AS rk FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN n) WHERE rk <= 3 ORDER BY doc_id, rk""",
    "text_scrub" ->
      """SELECT doc_id, substring(regexp_replace(text, '[aeiou]', '*', 'g'), 1, 40) AS scrubbed_head, len(string_split(text, ' ')) AS n_tokens FROM documents ORDER BY doc_id""",
    "text_token_regex" ->
      """SELECT doc_id, len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS regex_tokens, len(string_split(text, ' ')) AS ws_tokens FROM documents ORDER BY doc_id""",
    "generator_posexplode" ->
      """SELECT doc_id, i AS pos, ss[i] AS term FROM (SELECT doc_id, string_split(text, ' ') AS ss FROM documents) t, (SELECT unnest(generate_series(1, 5)) AS i) g WHERE i <= len(ss) ORDER BY doc_id, pos""",
    "text_tokenize_tf" ->
      """SELECT lang, term, cnt, rk FROM (SELECT lang, term, count(*) AS cnt, row_number() OVER (PARTITION BY lang ORDER BY count(*) DESC, term) AS rk FROM (SELECT lang, unnest(string_split(text, ' ')) AS term FROM documents) GROUP BY lang, term) WHERE rk <= 5 ORDER BY lang, rk""",
    "text_stats" ->
      """SELECT source, count(*) AS docs, floor((sum(n_chars)/(count(*)*1.0))*100 + 0.5)/100.0 AS avg_chars, count(DISTINCT lang) AS langs FROM documents GROUP BY source ORDER BY source""",
    "text_quality" ->
      """SELECT doc_id, lang, CAST(length(text) AS BIGINT) AS n_chars_text, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words, CAST(ceil(length(text)/4.0) AS BIGINT) AS est_bpe_tokens, floor((length(text)/(len(string_split(text, ' '))*1.0))*100 + 0.5)/100.0 AS mean_word_len, floor((len(list_filter(string_split(text, ' '), t -> t IN ('the','a','of','and','to','in','is','on','for','by')))/(len(string_split(text, ' '))*1.0))*10000 + 0.5)/10000.0 AS stopword_ratio FROM documents ORDER BY doc_id""",
    "multimodal_fingerprint" ->
      """SELECT doc_id AS asset_id, CAST(octet_length(encode(text)) AS BIGINT) AS byte_len, sha256(text) AS fingerprint, 'text' AS kind FROM documents ORDER BY asset_id""",
    "multimodal_dedup" ->
      """SELECT min(doc_id) AS asset_id, count(*) AS copies, CAST(max(octet_length(encode(text))) AS BIGINT) AS byte_len FROM documents GROUP BY sha256(text) ORDER BY asset_id""",
    "stream_tumbling" ->
      """SELECT epoch_us(date_trunc('hour', ts)) AS ws, event_type, count(*) AS cnt FROM events GROUP BY 1, 2 ORDER BY ws, event_type""",
    "stream_join" ->
      """SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id, epoch_us(p.ts) - epoch_us(c.ts) AS delta_us FROM events c JOIN events p ON c.user_id = p.user_id AND c.event_type = 'click' AND p.event_type = 'purchase' AND epoch_us(p.ts) >= epoch_us(c.ts) AND epoch_us(p.ts) <= epoch_us(c.ts) + 1800000000 ORDER BY click_id, purchase_id""",
    "stream_sliding" ->
      """SELECT epoch_us(g.ws) AS ws, count(*) AS cnt, sum(CAST(floor(e.value*100 + 0.5) AS BIGINT))/100.0 AS sum_value FROM events e JOIN (SELECT unnest(generate_series(TIMESTAMP '2023-12-31 00:00:00', TIMESTAMP '2024-06-01 00:00:00', INTERVAL 15 MINUTE)) AS ws) g ON e.ts >= g.ws AND e.ts < g.ws + INTERVAL 60 MINUTE GROUP BY g.ws ORDER BY ws""",
    "stream_session" ->
      """SELECT user_id, epoch_us(min(ts)) AS session_start, count(*) AS n_events FROM (SELECT user_id, ts, sum(CASE WHEN prev_us IS NULL OR epoch_us(ts) - prev_us > 1800000000 THEN 1 ELSE 0 END) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM (SELECT user_id, event_id, ts, lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us FROM events)) GROUP BY user_id, sid ORDER BY user_id, session_start""",
    "sample_stratified" ->
      """WITH k AS (SELECT lang, doc_id, (doc_id * 1103515245 + 12345) % 2147483647 AS skey FROM documents), r AS (SELECT lang, doc_id, skey, row_number() OVER (PARTITION BY lang ORDER BY skey, doc_id) AS rn FROM k) SELECT lang, doc_id, skey FROM r WHERE rn <= 20 ORDER BY lang, doc_id""",
    "events_sessionize" ->
      """WITH s AS (SELECT user_id, event_id, epoch_us(ts) AS tus, lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM events), m AS (SELECT user_id, event_id, tus, CASE WHEN prev IS NULL OR tus - prev > 1800000000 THEN 1 ELSE 0 END AS ns FROM s), q AS (SELECT user_id, tus, CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY tus, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_seq FROM m) SELECT user_id, sess_seq, count(*) AS n_events, min(tus) AS start_us, max(tus) AS end_us, max(tus) - min(tus) AS duration_us FROM q GROUP BY user_id, sess_seq ORDER BY user_id, sess_seq""",
    "events_funnel" ->
      """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS tus FROM events), v AS (SELECT user_id, min(tus) AS first_view_us FROM ev WHERE event_type = 'view' GROUP BY user_id), c AS (SELECT e.user_id, min(tus) AS first_click_us FROM ev e JOIN v USING (user_id) WHERE event_type = 'click' AND tus > first_view_us GROUP BY e.user_id), p AS (SELECT e.user_id, min(tus) AS first_purchase_us FROM ev e JOIN c USING (user_id) WHERE event_type = 'purchase' AND tus > first_click_us GROUP BY e.user_id) SELECT v.user_id, first_view_us, first_click_us, first_purchase_us, CAST(1 + CASE WHEN first_click_us IS NULL THEN 0 ELSE 1 END + CASE WHEN first_purchase_us IS NULL THEN 0 ELSE 1 END AS BIGINT) AS stage FROM v LEFT JOIN c ON v.user_id = c.user_id LEFT JOIN p ON v.user_id = p.user_id ORDER BY v.user_id""",
    "events_retention" ->
      """WITH pairs AS (SELECT DISTINCT user_id, epoch_us(date_trunc('week', ts)) AS wk_us FROM events), coh AS (SELECT user_id, min(wk_us) AS cohort_us FROM pairs GROUP BY user_id), act AS (SELECT cohort_us, (wk_us - cohort_us) // 604800000000 AS week_offset, p.user_id FROM pairs p JOIN coh USING (user_id)), r AS (SELECT cohort_us, week_offset, count(DISTINCT user_id) AS n_active FROM act GROUP BY cohort_us, week_offset), w AS (SELECT cohort_us, week_offset, n_active, first_value(n_active) OVER (PARTITION BY cohort_us ORDER BY week_offset ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cohort_size FROM r) SELECT cohort_us, week_offset, n_active, cohort_size, floor(CAST(n_active AS DOUBLE) / cohort_size * 10000 + 0.5) / 10000.0 AS retained_pct FROM w ORDER BY cohort_us, week_offset""",
    "events_outliers" ->
      """WITH ev AS (SELECT event_id, event_type, value, CAST(floor(value*100 + 0.5) AS BIGINT) AS vc FROM events), m AS (SELECT event_type, CAST(sum(vc) AS BIGINT) AS s1, CAST(sum(vc*vc) AS BIGINT) AS s2, count(*) AS n FROM ev GROUP BY event_type), z AS (SELECT event_id, event_type, value, floor((CAST(vc AS DOUBLE) - CAST(s1 AS DOUBLE)/n) / sqrt(CAST(s2 AS DOUBLE)/n - (CAST(s1 AS DOUBLE)/n)*(CAST(s1 AS DOUBLE)/n)) * 10000 + 0.5) / 10000.0 AS z FROM ev JOIN m USING (event_type)) SELECT event_id, event_type, value, z FROM z WHERE abs(z) > 2.5 ORDER BY event_id""",
    "sample_split" ->
      """SELECT doc_id, CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'val' ELSE 'test' END AS split FROM (SELECT doc_id, ((doc_id * 1103515245 + 12345) % 2147483647) % 10 AS b FROM documents) ORDER BY doc_id""",
    "text_chunk" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ss FROM documents), n AS (SELECT doc_id, ss, GREATEST(1, CAST(ceil((len(ss) - 40)/30.0) AS BIGINT) + 1) AS nc FROM d) SELECT doc_id, i AS chunk_id, array_to_string(ss[(i*30+1):(i*30+40)], ' ') AS chunk FROM n, (SELECT unnest(generate_series(0, 600)) AS i) g WHERE i < nc ORDER BY doc_id, chunk_id""",
    "curation_contamination" ->
      """WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS ss FROM documents), sh AS (SELECT doc_id, source, array_to_string(ss[i:i+7], ' ') AS s FROM d, (SELECT unnest(generate_series(1, 600)) AS i) g WHERE i <= len(ss) - 7), ev AS (SELECT DISTINCT doc_id AS eval_doc, s FROM sh WHERE source = 'src0'), tr AS (SELECT DISTINCT doc_id, s FROM sh WHERE source != 'src0') SELECT doc_id, count(DISTINCT s) AS n_shared_shingles, count(DISTINCT eval_doc) AS n_eval_docs FROM tr JOIN ev USING (s) GROUP BY doc_id ORDER BY doc_id""",
    "dq_k_anonymity" ->
      """SELECT c_nationkey, c_mktsegment, CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) // 100000 AS bal_band, count(*) AS class_size, count(*) < 4 AS at_risk FROM customer GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""",
    "dq_checks" ->
      """SELECT 'orders_null_priority' AS check, CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_violations, count(*) AS n_checked FROM orders UNION ALL SELECT 'orders_negative_total', CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT), count(*) FROM orders UNION ALL SELECT 'orders_orphan_custkey', count(*), NULL FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer) UNION ALL SELECT 'orders_dup_orderkey', CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT), count(*) FROM (SELECT o_orderkey, count(*) AS c FROM orders GROUP BY o_orderkey) UNION ALL SELECT 'events_value_range', CAST(sum(CASE WHEN value < 0 OR value > 1000 THEN 1 ELSE 0 END) AS BIGINT), count(*) FROM events ORDER BY 1""",
    "events_gapfill" ->
      """WITH ev AS (SELECT date_trunc('day', ts) AS day, event_type FROM events), b AS (SELECT min(day) AS lo, max(day) AS hi FROM ev), spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day FROM b), types AS (SELECT DISTINCT event_type FROM ev), daily AS (SELECT day, event_type AS etype, count(*) AS cnt FROM ev GROUP BY day, event_type) SELECT epoch_us(s.day) AS day_us, t.event_type, coalesce(d.cnt, 0) AS cnt FROM spine s CROSS JOIN types t LEFT JOIN daily d ON d.day = s.day AND d.etype = t.event_type ORDER BY day_us, t.event_type""",
    "agg_regression" ->
      """WITH xy AS (SELECT l_returnflag AS flag, CAST(floor(l_quantity*100 + 0.5) AS BIGINT) AS x, CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT) AS y FROM lineitem), m AS (SELECT flag, count(*) AS n, CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x*x) AS BIGINT) AS sxx, CAST(sum(x*y) AS BIGINT) AS sxy, CAST(sum(y*y) AS BIGINT) AS syy FROM xy GROUP BY flag) SELECT flag, n, floor((CAST(n AS DOUBLE)*sxy - CAST(sx AS DOUBLE)*sy) / (CAST(n AS DOUBLE)*sxx - CAST(sx AS DOUBLE)*sx) * 1000000 + 0.5)/1000000.0 AS slope_cents, floor((CAST(sy AS DOUBLE) - (CAST(n AS DOUBLE)*sxy - CAST(sx AS DOUBLE)*sy) / (CAST(n AS DOUBLE)*sxx - CAST(sx AS DOUBLE)*sx) * sx) / n * 1000000 + 0.5)/1000000.0 AS intercept_cents, floor((CAST(n AS DOUBLE)*sxy - CAST(sx AS DOUBLE)*sy) / sqrt((CAST(n AS DOUBLE)*sxx - CAST(sx AS DOUBLE)*sx) * (CAST(n AS DOUBLE)*syy - CAST(sy AS DOUBLE)*sy)) * 1000000 + 0.5)/1000000.0 AS corr_xy FROM m ORDER BY flag""",
    "curation_dup_rate" ->
      """WITH h AS (SELECT source, array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ') AS k FROM documents), c AS (SELECT source, k, count(*) OVER (PARTITION BY k) AS copies FROM h) SELECT source, count(*) AS n_docs, CAST(sum(CASE WHEN copies > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs, count(DISTINCT k) AS n_distinct_keys, CAST(sum(CASE WHEN copies > 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS dup_rate FROM c GROUP BY source ORDER BY source""",
    "curation_token_budget" ->
      """WITH d AS (SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS tok FROM documents), s AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(tok) AS BIGINT) AS avail_tokens, 1 + CAST(substring(source, 4) AS BIGINT) % 4 AS w FROM d GROUP BY source), tt AS (SELECT (CAST(sum(avail_tokens) AS BIGINT) * 9) // 10 AS budget FROM s), b AS (SELECT s.*, budget, (avail_tokens * 1000000) // w AS ratio FROM s CROSS JOIN tt), st AS (SELECT *, CAST(row_number() OVER ord AS BIGINT) AS rn, CAST(coalesce(sum(avail_tokens) OVER (ord ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS p_prev, CAST(sum(w) OVER (ord ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS rw FROM b WINDOW ord AS (ORDER BY ratio, source)), fl AS (SELECT *, avail_tokens * rw >= (budget - p_prev) * w AS uncapped FROM st), kk AS (SELECT *, CAST(min(CASE WHEN uncapped THEN rn END) OVER () AS BIGINT) AS krn FROM fl), lm AS (SELECT *, CAST(max(CASE WHEN rn = krn THEN budget - p_prev END) OVER () AS BIGINT) AS lam_num, CAST(max(CASE WHEN rn = krn THEN rw END) OVER () AS BIGINT) AS lam_den FROM kk) SELECT source, n_docs, w, avail_tokens, CASE WHEN krn IS NULL OR rn < krn THEN avail_tokens ELSE (lam_num * w) // lam_den END AS alloc_tokens, (krn IS NULL OR rn < krn) AS capped, (CASE WHEN krn IS NULL OR rn < krn THEN avail_tokens ELSE (lam_num * w) // lam_den END * 1000000) // budget AS share_micro FROM lm ORDER BY source""",
    "text_repetition" ->
      """WITH s AS (SELECT doc_id, string_split(text,' ') AS ss FROM documents), tok AS (SELECT doc_id, unnest(ss) AS tk FROM s), tc AS (SELECT doc_id, tk, count(*) AS c FROM tok GROUP BY 1,2), td AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS total, count(*) AS n_distinct, CAST(max(c) AS BIGINT) AS topc FROM tc GROUP BY 1), bg AS (SELECT doc_id, unnest(list_transform(range(1, array_length(ss)), i -> ss[i] || ' ' || ss[i+1])) AS b FROM s), bc AS (SELECT doc_id AS bdoc, CAST(count(*) AS BIGINT) AS total_bi, CAST(count(DISTINCT b) AS BIGINT) AS dist_bi FROM bg GROUP BY 1) SELECT td.doc_id, total AS n_tokens, floor(CAST(n_distinct AS DOUBLE)/total*10000 + 0.5)/10000 AS uniq_token_frac, floor(CAST(topc AS DOUBLE)/total*10000 + 0.5)/10000 AS top_token_frac, floor(CAST(total_bi - dist_bi AS DOUBLE)/total_bi*10000 + 0.5)/10000 AS dup_bigram_frac FROM td JOIN bc ON td.doc_id = bdoc ORDER BY doc_id""",
    "text_pii_scrub" ->
      """WITH prof AS (SELECT c_custkey, c_name || ' <' || lower(replace(c_name, '#', '')) || '@example.com> phone 555-' || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0') AS profile FROM customer) SELECT c_custkey, profile, regexp_replace(regexp_replace(profile, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'), '\b\d{3}-\d{4}\b', '[PHONE]', 'g') AS scrubbed, CAST(length(regexp_extract_all(profile, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails, CAST(length(regexp_extract_all(profile, '\b\d{3}-\d{4}\b')) AS BIGINT) AS n_phones FROM prof ORDER BY c_custkey""",
    "dedup_passages" ->
      """WITH s AS (SELECT doc_id, string_split(text,' ') AS ss FROM documents), sh AS (SELECT doc_id, unnest(list_transform(range(1, array_length(ss)-6), i -> array_to_string(ss[i:i+7], ' '))) AS passage FROM s) SELECT passage, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs, CAST(count(*) AS BIGINT) AS n_occ, min(doc_id) AS first_doc FROM sh GROUP BY passage HAVING count(DISTINCT doc_id) > 1 ORDER BY n_docs DESC, n_occ DESC, passage LIMIT 100""",
    "scd2_history" ->
      """WITH base AS (SELECT user_id, event_id, epoch_us(ts) AS tus, event_type FROM events), chg AS (SELECT user_id, event_id, tus, event_type, CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS is_new FROM base WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)), runs AS (SELECT user_id, event_type, tus, event_id, CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY tus, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_id FROM chg), hist AS (SELECT user_id, run_id, min(event_type) AS attr_value, min(tus) AS valid_from_us, count(*) AS n_events FROM runs GROUP BY user_id, run_id) SELECT user_id, run_id, attr_value, valid_from_us, lead(valid_from_us) OVER wr AS valid_to_us, CASE WHEN lead(valid_from_us) OVER wr IS NULL THEN true ELSE false END AS is_current, n_events FROM hist WINDOW wr AS (PARTITION BY user_id ORDER BY valid_from_us, run_id) ORDER BY user_id, run_id""",
    "text_vocab_coverage" ->
      """WITH tok AS (SELECT unnest(string_split(text,' ')) AS tk FROM documents), tc AS (SELECT tk, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY tk), tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM tc), top AS (SELECT tk, cnt, row_number() OVER (ORDER BY cnt DESC, tk) AS rnk FROM tc ORDER BY cnt DESC, tk LIMIT 50) SELECT rnk, tk AS token, cnt, floor(CAST(sum(cnt) OVER (ORDER BY rnk ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)/total*10000 + 0.5)/10000 AS cum_frac FROM top CROSS JOIN tot ORDER BY rnk""",
    "agg_theta_sketch" ->
      """WITH c AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'), p AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase') SELECT (SELECT count(*) FROM c) AS n_click, (SELECT count(*) FROM p) AS n_purchase, (SELECT count(*) FROM (SELECT user_id FROM c UNION SELECT user_id FROM p)) AS n_union, (SELECT count(*) FROM (SELECT user_id FROM c INTERSECT SELECT user_id FROM p)) AS n_intersect, (SELECT count(*) FROM (SELECT user_id FROM c EXCEPT SELECT user_id FROM p)) AS n_click_only""",
    "events_anomaly_mad" ->
      """WITH ev AS (SELECT event_id, event_type, CAST(floor(value*100 + 0.5) AS BIGINT) AS vc FROM events), med AS (SELECT event_type, CAST(quantile_disc(vc, 0.5) AS BIGINT) AS med_c FROM ev GROUP BY event_type), dev AS (SELECT event_id, ev.event_type, vc, med_c, abs(vc - med_c) AS ad FROM ev JOIN med USING (event_type)), madt AS (SELECT event_type, CAST(quantile_disc(ad, 0.5) AS BIGINT) AS mad_c FROM dev GROUP BY event_type) SELECT event_id, dev.event_type, vc/100.0 AS value, floor(CAST(vc - med_c AS DOUBLE)/(1.4826*mad_c)*10000 + 0.5)/10000 AS robust_z FROM dev JOIN madt ON dev.event_type = madt.event_type WHERE abs(CAST(vc - med_c AS DOUBLE)/(1.4826*mad_c)) > 2.5 ORDER BY event_id""",
    "events_user_growth" ->
      """WITH pairs AS (SELECT DISTINCT epoch_us(date_trunc('day', ts)) AS day_us, user_id FROM events), daily AS (SELECT day_us, CAST(count(*) AS BIGINT) AS active_users FROM pairs GROUP BY day_us), fd AS (SELECT user_id, min(day_us) AS day_us FROM pairs GROUP BY user_id), newu AS (SELECT day_us, CAST(count(*) AS BIGINT) AS n_new_users FROM fd GROUP BY day_us) SELECT d.day_us, active_users, coalesce(n_new_users, 0) AS n_new_users, CAST(sum(coalesce(n_new_users, 0)) OVER (ORDER BY d.day_us ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_distinct_users FROM daily d LEFT JOIN newu USING (day_us) ORDER BY day_us""",
    "scalar_higher_order" ->
      """WITH s AS (SELECT doc_id, string_split(text,' ') AS ss FROM documents) SELECT doc_id, CAST(len(list_filter(ss, x -> length(x) > 4)) AS BIGINT) AS n_long_tokens, CAST(list_reduce(list_prepend(0, list_transform(ss, x -> CAST(length(x) AS BIGINT))), (a,b) -> a + b) AS BIGINT) AS total_chars, array_to_string(list_transform(ss[1:3], x -> upper(x)), '|') AS head_upper FROM s ORDER BY doc_id""",
    "basket_pairs" ->
      """WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, CAST(count(*) AS BIGINT) AS support FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey GROUP BY 1, 2 HAVING count(*) >= 2 ORDER BY support DESC, part_a, part_b LIMIT 100""",
    "customers_rfm" ->
      """WITH base AS (SELECT c_custkey, max(epoch_us(o_orderdate)) AS last_us, CAST(count(*) AS BIGINT) AS freq, CAST(sum(CAST(floor(o_totalprice*100 + 0.5) AS BIGINT)) AS BIGINT) AS mon_c FROM customer JOIN orders ON c_custkey = o_custkey GROUP BY c_custkey), cuts AS (SELECT quantile_disc(last_us, 0.25) AS r1, quantile_disc(last_us, 0.50) AS r2, quantile_disc(last_us, 0.75) AS r3, quantile_disc(freq, 0.25) AS f1, quantile_disc(freq, 0.50) AS f2, quantile_disc(freq, 0.75) AS f3, quantile_disc(mon_c, 0.25) AS m1, quantile_disc(mon_c, 0.50) AS m2, quantile_disc(mon_c, 0.75) AS m3 FROM base) SELECT c_custkey, CAST(1 + (CASE WHEN last_us > r1 THEN 1 ELSE 0 END) + (CASE WHEN last_us > r2 THEN 1 ELSE 0 END) + (CASE WHEN last_us > r3 THEN 1 ELSE 0 END) AS BIGINT) AS r_score, CAST(1 + (CASE WHEN freq > f1 THEN 1 ELSE 0 END) + (CASE WHEN freq > f2 THEN 1 ELSE 0 END) + (CASE WHEN freq > f3 THEN 1 ELSE 0 END) AS BIGINT) AS f_score, CAST(1 + (CASE WHEN mon_c > m1 THEN 1 ELSE 0 END) + (CASE WHEN mon_c > m2 THEN 1 ELSE 0 END) + (CASE WHEN mon_c > m3 THEN 1 ELSE 0 END) AS BIGINT) AS m_score FROM base CROSS JOIN cuts ORDER BY c_custkey""",
    "agg_skew_kurt" ->
      """WITH x AS (SELECT l_returnflag AS flag, CAST(floor(l_quantity + 0.5) AS BIGINT) AS v FROM lineitem), m AS (SELECT flag, count(*) AS n, CAST(sum(v) AS BIGINT) AS s1, CAST(sum(v*v) AS BIGINT) AS s2, CAST(sum(v*v*v) AS BIGINT) AS s3, CAST(sum(v*v*v*v) AS BIGINT) AS s4 FROM x GROUP BY flag) SELECT flag, n, floor((CAST(s3 AS DOUBLE)/n - 3*(CAST(s1 AS DOUBLE)/n)*(CAST(s2 AS DOUBLE)/n) + 2*(CAST(s1 AS DOUBLE)/n)*(CAST(s1 AS DOUBLE)/n)*(CAST(s1 AS DOUBLE)/n)) / pow(CAST(s2 AS DOUBLE)/n - (CAST(s1 AS DOUBLE)/n)*(CAST(s1 AS DOUBLE)/n), 1.5) * 1000000 + 0.5)/1000000.0 AS skewness, floor(((CAST(s4 AS DOUBLE)/n - 4*(CAST(s1 AS DOUBLE)/n)*(CAST(s3 AS DOUBLE)/n) + 6*(CAST(s1 AS DOUBLE)/n)*(CAST(s1 AS DOUBLE)/n)*(CAST(s2 AS DOUBLE)/n) - 3*pow(CAST(s1 AS DOUBLE)/n, 4)) / pow(CAST(s2 AS DOUBLE)/n - (CAST(s1 AS DOUBLE)/n)*(CAST(s1 AS DOUBLE)/n), 2) - 3) * 1000000 + 0.5)/1000000.0 AS excess_kurtosis FROM m ORDER BY flag""",
    "text_lm_score" ->
      """WITH s AS (SELECT doc_id, string_split(text,' ') AS ss FROM documents), bg AS (SELECT doc_id, unnest(list_transform(range(1, array_length(ss)), i -> ss[i] || ' ' || ss[i+1])) AS b, unnest(list_transform(range(1, array_length(ss)), i -> ss[i])) AS a FROM s), cab AS (SELECT b, CAST(count(*) AS BIGINT) AS nab FROM bg GROUP BY b), ca AS (SELECT a, CAST(count(*) AS BIGINT) AS na FROM bg GROUP BY a), scored AS (SELECT doc_id, CAST(floor(log2(CAST(nab AS DOUBLE)/na) * 1000000 + 0.5) AS BIGINT) AS lp_micro FROM bg JOIN cab USING (b) JOIN ca USING (a)) SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams, floor(CAST(sum(lp_micro) AS DOUBLE)/count(*)/1000000*10000 + 0.5)/10000 AS avg_log2p FROM scored GROUP BY doc_id ORDER BY doc_id""",
    "dedup_passage_scrub" ->
      """WITH s AS (SELECT doc_id, string_split(text,' ') AS ss FROM documents), tok AS (SELECT doc_id, i AS pos, ss[i] AS tk FROM s, LATERAL unnest(range(1, array_length(ss)+1)) AS r(i)), psg AS (SELECT doc_id, i, array_to_string(ss[i:i+7], ' ') AS passage FROM s, LATERAL unnest(range(1, array_length(ss)-6)) AS r(i)), firstdoc AS (SELECT passage, min(doc_id) AS fd FROM psg GROUP BY passage), dupspan AS (SELECT p.doc_id, p.i FROM psg p JOIN firstdoc f ON p.passage = f.passage AND p.doc_id > f.fd), covered AS (SELECT DISTINCT doc_id, i + o AS pos FROM dupspan, LATERAL unnest(range(0, 8)) AS g(o)), kept AS (SELECT t.doc_id, t.pos, t.tk FROM tok t LEFT JOIN covered c ON t.doc_id = c.doc_id AND t.pos = c.pos WHERE c.doc_id IS NULL) SELECT s.doc_id, CAST(array_length(s.ss) AS BIGINT) AS n_tokens, CAST(array_length(s.ss) - coalesce(k.n_kept, 0) AS BIGINT) AS n_removed, coalesce(k.cleaned, '') AS cleaned_text FROM s LEFT JOIN (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept, string_agg(tk, ' ' ORDER BY pos) AS cleaned FROM kept GROUP BY doc_id) k ON s.doc_id = k.doc_id ORDER BY s.doc_id""",
    "join_bloom_anti" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer WHERE c_acctbal < 0) ORDER BY o_orderkey""",
    "stream_dedup" ->
      """SELECT user_id, event_type, event_id, tus FROM (SELECT user_id, event_type, event_id, epoch_us(ts) AS tus, row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn FROM events) WHERE rn = 1 ORDER BY user_id, event_type""",
    "sample_weighted_mix" ->
      """WITH c AS (SELECT lang, CAST(count(*) AS DOUBLE) AS n, CASE lang WHEN 'en' THEN 0.5 WHEN 'zh' THEN 0.2 ELSE 0.1 END AS w FROM documents GROUP BY lang), cap AS (SELECT min(n / w) AS t FROM c), r AS (SELECT lang, doc_id, (doc_id * 1103515245 + 12345) % 2147483647 AS skey, row_number() OVER (PARTITION BY lang ORDER BY (doc_id * 1103515245 + 12345) % 2147483647, doc_id) AS rn FROM documents) SELECT r.lang, r.doc_id, r.skey FROM r JOIN c ON r.lang = c.lang CROSS JOIN cap WHERE r.rn <= floor(c.w * cap.t) ORDER BY r.lang, r.doc_id""",
    "events_sequence_match" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS tus, event_id, CASE event_type WHEN 'view' THEN 'v' WHEN 'click' THEN 'c' WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's' ELSE 'e' END AS tok FROM events), s AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events, string_agg(tok, '' ORDER BY tus, event_id) AS seq FROM e GROUP BY user_id) SELECT user_id, n_events, seq, regexp_matches(seq, 'v.*c.*p') AS m_funnel, regexp_matches(seq, 'cp') AS m_quick_buy FROM s ORDER BY user_id""",
    "window_cume_dist" ->
      """SELECT o_orderkey, o_orderpriority, o_totalprice, cume_dist() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice) AS cd FROM orders ORDER BY o_orderkey""",
    "events_ab_lift" ->
      """WITH pc AS (SELECT user_id, CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purch FROM events GROUP BY user_id), av AS (SELECT CAST(sum(n_purch) AS DOUBLE) / count(*) AS avg_purch FROM pc), pu AS (SELECT user_id, CASE WHEN CAST(n_purch AS DOUBLE) > avg_purch THEN 1 ELSE 0 END AS converted FROM pc CROSS JOIN av), armed AS (SELECT CASE WHEN ((user_id * 1103515245 + 12345) % 2147483647) % 2 = 0 THEN 'A' ELSE 'B' END AS arm, converted FROM pu), ag AS (SELECT arm, CAST(count(*) AS BIGINT) AS n, CAST(sum(converted) AS BIGINT) AS conv FROM armed GROUP BY arm), a AS (SELECT n AS n_a, conv AS conv_a FROM ag WHERE arm = 'A'), b AS (SELECT n AS n_b, conv AS conv_b FROM ag WHERE arm = 'B'), j AS (SELECT *, CAST(conv_a AS DOUBLE)/n_a AS p_a, CAST(conv_b AS DOUBLE)/n_b AS p_b, CAST(conv_a + conv_b AS DOUBLE)/(n_a + n_b) AS p_pool FROM a CROSS JOIN b), k AS (SELECT *, p_b - p_a AS lift, sqrt(p_pool * (1 - p_pool) * (1.0/n_a + 1.0/n_b)) AS se FROM j) SELECT n_a, conv_a, n_b, conv_b, p_a, p_b, lift, p_pool, se, CASE WHEN se > 0 THEN lift / se ELSE 0.0 END AS z FROM k""",
    "window_rolling_median" ->
      """SELECT o_orderkey, o_orderpriority, o_totalprice, median(o_totalprice) OVER (PARTITION BY o_orderpriority ORDER BY o_orderkey ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS med7 FROM orders ORDER BY o_orderkey""",
    "window_count_distinct" ->
      """SELECT user_id, event_id, epoch_us(ts) AS tus, CAST(count(DISTINCT event_type) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS breadth FROM events ORDER BY user_id, tus, event_id""",
    "orders_pareto" ->
      """WITH c AS (SELECT o_orderkey, o_orderpriority, CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents FROM orders) SELECT o_orderkey, o_orderpriority, cents, CAST(sum(cents) OVER (PARTITION BY o_orderpriority ORDER BY cents DESC, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cents, CAST(sum(cents) OVER (PARTITION BY o_orderpriority ORDER BY cents DESC, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / CAST(sum(cents) OVER (PARTITION BY o_orderpriority) AS DOUBLE) AS share, CASE WHEN CAST(sum(cents) OVER (PARTITION BY o_orderpriority ORDER BY cents DESC, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / CAST(sum(cents) OVER (PARTITION BY o_orderpriority) AS DOUBLE) <= 0.7 THEN 'A' WHEN CAST(sum(cents) OVER (PARTITION BY o_orderpriority ORDER BY cents DESC, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / CAST(sum(cents) OVER (PARTITION BY o_orderpriority) AS DOUBLE) <= 0.9 THEN 'B' ELSE 'C' END AS abc FROM c ORDER BY o_orderkey""",
    "events_attribution" ->
      """WITH ev AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS tus FROM events), tch AS (SELECT * FROM ev WHERE event_type IN ('view','click')), pur AS (SELECT user_id, event_id AS p_id, tus AS p_tus FROM ev WHERE event_type = 'purchase'), pairs AS (SELECT t.event_type, t.tus, t.event_id, p.p_id FROM tch t JOIN pur p USING (user_id) WHERE t.tus < p.p_tus AND p.p_tus - t.tus <= 604800000000), cr AS (SELECT event_type, count(*) OVER (PARTITION BY p_id) AS n_touch, CASE WHEN row_number() OVER (PARTITION BY p_id ORDER BY tus, event_id) = 1 THEN 1 ELSE 0 END AS is_first, CASE WHEN row_number() OVER (PARTITION BY p_id ORDER BY tus DESC, event_id DESC) = 1 THEN 1 ELSE 0 END AS is_last FROM pairs) SELECT event_type AS channel, count(*) AS n_touches, CAST(sum(is_first) AS BIGINT) AS n_first, CAST(sum(is_last) AS BIGINT) AS n_last, CAST(sum(CAST(floor(1000000.0 / n_touch) AS BIGINT)) AS DOUBLE) / 1000000.0 AS linear_credit FROM cr GROUP BY event_type ORDER BY channel""",
    // The LEFT JOIN form: zero-touch purchases land in channel 'direct'
    // with full linear credit — the null-extension rows carry the pass.
    "events_attribution_direct" ->
      """WITH ev AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS tus FROM events), tch AS (SELECT user_id, event_id AS t_event, event_type AS t_type, tus AS t_tus FROM ev WHERE event_type IN ('view','click')), pur AS (SELECT user_id, event_id AS p_id, tus AS p_tus FROM ev WHERE event_type = 'purchase'), pairs AS (SELECT p.p_id, t.t_event, t.t_type, t.t_tus FROM pur p LEFT JOIN tch t ON p.user_id = t.user_id AND t.t_tus < p.p_tus AND p.p_tus - t.t_tus <= 604800000000), cr AS (SELECT t_type, count(t_event) OVER (PARTITION BY p_id) AS n_touch, CASE WHEN row_number() OVER (PARTITION BY p_id ORDER BY t_tus, t_event) = 1 THEN 1 ELSE 0 END AS is_first, CASE WHEN row_number() OVER (PARTITION BY p_id ORDER BY t_tus DESC, t_event DESC) = 1 THEN 1 ELSE 0 END AS is_last FROM pairs) SELECT coalesce(t_type, 'direct') AS channel, count(*) AS n_touches, CAST(sum(is_first) AS BIGINT) AS n_first, CAST(sum(is_last) AS BIGINT) AS n_last, CAST(sum(CASE WHEN n_touch = 0 THEN 1000000 ELSE CAST(floor(1000000.0 / n_touch) AS BIGINT) END) AS DOUBLE) / 1000000.0 AS linear_credit FROM cr GROUP BY coalesce(t_type, 'direct') ORDER BY channel""",
    "orders_cohort" ->
      """WITH o AS (SELECT o_custkey, year(o_orderdate)*12 + month(o_orderdate) - 1 AS ym, CAST(floor(o_totalprice*100 + 0.5) AS BIGINT) AS cents FROM orders), coh AS (SELECT o_custkey, min(ym) AS cohort_ym FROM o GROUP BY o_custkey) SELECT CAST(cohort_ym AS BIGINT) AS cohort_ym, CAST(o.ym - cohort_ym AS BIGINT) AS month_offset, count(DISTINCT o.o_custkey) AS n_customers, count(*) AS n_orders, CAST(sum(cents) AS DOUBLE) / 100.0 AS revenue FROM o JOIN coh USING (o_custkey) GROUP BY 1, 2 ORDER BY cohort_ym, month_offset""",
    "events_islands" ->
      """WITH days AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS dnum FROM events), g AS (SELECT user_id, dnum, dnum - row_number() OVER (PARTITION BY user_id ORDER BY dnum) AS grp FROM days) SELECT user_id, min(dnum) AS start_day, max(dnum) AS end_day, CAST(count(*) AS BIGINT) AS len_days FROM g GROUP BY user_id, grp ORDER BY user_id, start_day""",
    "reshape_unpivot" ->
      """WITH wide AS (SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_orders, CAST(sum(CAST(floor(o_totalprice*100+0.5) AS BIGINT)) AS BIGINT) AS sum_cents, CAST(min(CAST(floor(o_totalprice*100+0.5) AS BIGINT)) AS BIGINT) AS min_cents, CAST(max(CAST(floor(o_totalprice*100+0.5) AS BIGINT)) AS BIGINT) AS max_cents FROM orders GROUP BY o_orderstatus) SELECT o_orderstatus, metric, value FROM wide UNPIVOT (value FOR metric IN (n_orders, sum_cents, min_cents, max_cents)) ORDER BY o_orderstatus, metric""",
    "cdc_apply" ->
      """WITH base AS (SELECT o_orderkey AS k, CAST(floor(o_totalprice*100+0.5) AS BIGINT) AS cents FROM orders), chg AS (SELECT k, CAST(0 AS BIGINT) AS seq, 'S' AS op, cents FROM base WHERE k % 4 != 3 UNION ALL SELECT k, 1, 'I', cents FROM base WHERE k % 4 = 3 UNION ALL SELECT k, 2, 'U', cents + 11111 FROM base WHERE k % 3 = 0 UNION ALL SELECT k, 3, 'U', cents + 22222 FROM base WHERE k % 6 = 0 UNION ALL SELECT k, 4, 'D', 0 FROM base WHERE k % 7 = 0), r AS (SELECT k, seq, op, cents, row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn, CAST(count(*) OVER (PARTITION BY k) AS BIGINT) AS n_versions FROM chg) SELECT k AS o_orderkey, cents, op AS last_op, n_versions FROM r WHERE rn = 1 AND op != 'D' ORDER BY o_orderkey""",
    "er_blocked_match" ->
      """WITH c AS (SELECT c_custkey, CAST(c_nationkey AS BIGINT) AS nation, substring(c_name, 10, 9) AS c_suf FROM customer), s AS (SELECT s_suppkey, CAST(s_nationkey AS BIGINT) AS nation, substring(s_name, 10, 9) AS s_suf FROM supplier) SELECT c.nation, c_custkey, s_suppkey, CAST(levenshtein(c_suf, s_suf) AS BIGINT) AS dist FROM c JOIN s ON c.nation = s.nation WHERE levenshtein(c_suf, s_suf) <= 1 ORDER BY c.nation, c_custkey, s_suppkey""",
    "text_inverted_index" ->
      """WITH toks AS (SELECT DISTINCT doc_id, tok FROM (SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z]+')) AS tok FROM documents) WHERE length(tok) >= 3) SELECT tok, CAST(count(*) AS BIGINT) AS df, array_to_string((list_sort(list(doc_id)))[1:20], ',') AS postings FROM toks GROUP BY tok HAVING count(*) >= 25 ORDER BY tok""",
    "join_bucketed_colocated" ->
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_lines, CAST(sum(CAST(floor(o_totalprice*100+0.5) AS BIGINT)) AS BIGINT) AS revenue_cents FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "graph_pagerank" -> Graph.pagerankOracleSql,
    "graph_pagerank_bucketed" -> Graph.pagerankOracleSql,
    "graph_components" -> Graph.componentsOracleSql,
    // Same unrolled-CTE oracle as graph_components: the pass proves the
    // bucketed-edge layout is a pure cost flip, never a semantic one.
    "graph_components_bucketed" -> Graph.componentsOracleSql,
    "graph_bfs" -> Graph.bfsOracleSql,
    // Same unrolled-CTE oracle as graph_bfs / graph_kcore: each bucketed
    // variant is a pure cost flip, never a semantic one (for kcore the
    // oracle pass is also the equivalence proof of the static-edge
    // alive-vector recurrence vs the rewrite recurrence).
    "graph_bfs_bucketed" -> Graph.bfsOracleSql,
    "graph_kcore_bucketed" -> Graph.kcoreOracleSql,
    // ClickHouse-dialect queries (the reference's custom_query migration
    // path): each oracle is the standard-SQL equivalent — except
    // sql_ch_qualify, where DuckDB's OWN native QUALIFY adjudicates the
    // same feature as an independent implementation.
    "sql_ch_limit_by" ->
      """SELECT user_id, event_id, event_type, tus FROM (SELECT user_id, event_id, event_type, CAST(epoch_us(ts) AS BIGINT) AS tus, row_number() OVER (PARTITION BY user_id ORDER BY CAST(epoch_us(ts) AS BIGINT) DESC, event_id) AS rn FROM events WHERE event_type IN ('click', 'purchase') AND user_id < 200) WHERE rn <= 2 ORDER BY user_id, tus DESC, event_id""",
    "sql_ch_limit_by_offset" ->
      """SELECT user_id, event_id, event_type, tus FROM (SELECT user_id, event_id, event_type, CAST(epoch_us(ts) AS BIGINT) AS tus, row_number() OVER (PARTITION BY user_id ORDER BY CAST(epoch_us(ts) AS BIGINT) DESC, event_id) AS rn FROM events WHERE event_type IN ('click', 'purchase') AND user_id < 200) WHERE rn > 1 AND rn <= 3 ORDER BY user_id, tus DESC, event_id""",
    "sql_ch_qualify" ->
      """SELECT o_orderpriority, o_orderkey, CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents, CAST(row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn FROM orders QUALIFY rn <= 3 ORDER BY o_orderpriority, rn""",
    "sql_ch_functions" ->
      """SELECT l_returnflag, CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supp, CAST(count(*) FILTER (WHERE l_quantity > 25) AS BIGINT) AS n_big, CAST(coalesce(sum(CAST(l_quantity AS BIGINT)) FILTER (WHERE l_discount > 0.05), 0) AS BIGINT) AS qty_disc, CAST(count(*) FILTER (WHERE list_contains([l_linestatus, l_returnflag], 'O')) AS BIGINT) AS n_open, (max(row(l_orderkey * 10 + l_linenumber, l_partkey)))[2] AS last_part, (min(row(l_orderkey * 10 + l_linenumber, l_partkey)))[2] AS first_part, max(CAST(CAST(l_shipdate AS DATE) AS VARCHAR)) AS max_ship_day, CASE WHEN l_returnflag = 'A' THEN 1 WHEN l_returnflag = 'N' THEN 2 ELSE 3 END AS flag_code, min(l_partkey) FILTER (WHERE l_quantity > 25) AS min_big_part, max(l_partkey) FILTER (WHERE l_quantity > 25) AS max_big_part, least(CAST(count(DISTINCT l_linestatus) AS BIGINT), 4) AS status_up_to_3, least(CAST(count(DISTINCT l_partkey) AS BIGINT), 500001) AS parts_exact, least(CAST(count(DISTINCT l_suppkey) AS BIGINT), 2) AS supp_capped, CAST(bit_or(CAST(l_linenumber AS BIGINT)) AS BIGINT) AS line_bits, CAST(bit_and(CAST(l_linenumber AS BIGINT)) AS BIGINT) AS line_bits_and, CAST(bit_xor(CAST(l_orderkey AS BIGINT)) AS BIGINT) AS order_xor FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "sql_ch_quantile" ->
      """SELECT l_returnflag, CAST(floor(quantile_cont(l_quantity, 0.5) * 1000000 + 0.5) AS BIGINT) AS p50_micro, CAST(floor(quantile_cont(l_quantity, 0.9) * 1000000 + 0.5) AS BIGINT) AS p90_micro, (list_sort(list(CAST(l_quantity AS BIGINT))))[greatest(1, least(CAST(floor(0.9 * count(l_quantity)) AS INTEGER) + 1, CAST(count(l_quantity) AS INTEGER)))] AS p90_element FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "sql_ch_retention" ->
      """SELECT user_id, array_to_string([CASE WHEN bool_or(event_type = 'signup') THEN 1 ELSE 0 END, CASE WHEN bool_or(event_type = 'signup') AND bool_or(event_type = 'click') THEN 1 ELSE 0 END, CASE WHEN bool_or(event_type = 'signup') AND bool_or(event_type = 'purchase') THEN 1 ELSE 0 END], ',') AS funnel_flags, array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types_seen, CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS n_purchase, array_to_string(list_filter(list_sort(list(DISTINCT event_type)), x -> x < 'f'), ',') AS early_types, bool_or(event_type = 'error') AS has_error, min(event_type) >= 'e' AS all_late FROM events GROUP BY user_id ORDER BY user_id""",
    // The funnel oracle replays graft_window_funnel's greedy fold as a
    // recursive CTE over the per-user (t, step) entry stream (the same
    // (timestamp, event_index) sort ClickHouse applies), and checks the
    // sequenceMatch leg by its closed form: a subsequence signup→purchase
    // exists iff some purchase lands at-or-after some signup at second
    // granularity.
    "sql_ch_funnel" ->
      """WITH RECURSIVE ent0 AS (SELECT user_id, epoch_us(ts) // 1000000 AS t, 1 AS idx FROM events WHERE event_type = 'view' UNION ALL SELECT user_id, epoch_us(ts) // 1000000, 2 FROM events WHERE event_type = 'click' UNION ALL SELECT user_id, epoch_us(ts) // 1000000, 3 FROM events WHERE event_type = 'purchase'), ent AS (SELECT user_id, t, idx, row_number() OVER (PARTITION BY user_id ORDER BY t, idx) AS rn FROM ent0), users AS (SELECT DISTINCT user_id FROM events), cnt AS (SELECT u.user_id, (SELECT count(*) FROM ent e WHERE e.user_id = u.user_id) AS n FROM users u), rec AS (SELECT user_id, CAST(0 AS BIGINT) AS rn, CAST(NULL AS BIGINT) AS t1, CAST(NULL AS BIGINT) AS t2, CAST(NULL AS BIGINT) AS t3 FROM users UNION ALL SELECT r.user_id, r.rn + 1, CASE WHEN e.idx = 1 THEN e.t ELSE r.t1 END, CASE WHEN e.idx = 2 AND r.t1 IS NOT NULL AND e.t - r.t1 <= 21600 THEN r.t1 ELSE r.t2 END, CASE WHEN e.idx = 3 AND r.t2 IS NOT NULL AND e.t - r.t2 <= 21600 THEN r.t2 ELSE r.t3 END FROM rec r JOIN ent e ON e.user_id = r.user_id AND e.rn = r.rn + 1), fin AS (SELECT r.user_id, CAST(CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2 WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS funnel_level FROM rec r JOIN cnt c ON r.user_id = c.user_id AND r.rn = c.n), seq AS (SELECT u.user_id, EXISTS (SELECT 1 FROM events s JOIN events p ON p.user_id = s.user_id WHERE s.user_id = u.user_id AND s.event_type = 'signup' AND p.event_type = 'purchase' AND p.value > 150 AND epoch_us(p.ts) // 1000000 >= epoch_us(s.ts) // 1000000) AS signup_then_buy, EXISTS (SELECT 1 FROM events s JOIN events p ON p.user_id = s.user_id WHERE s.user_id = u.user_id AND s.event_type = 'signup' AND p.event_type = 'purchase' AND p.value > 150 AND epoch_us(p.ts) // 1000000 >= epoch_us(s.ts) // 1000000 AND epoch_us(p.ts) // 1000000 - epoch_us(s.ts) // 1000000 <= 21600) AS signup_then_buy_6h FROM users u), sc0 AS (SELECT user_id, idx, lag(idx) OVER (PARTITION BY user_id ORDER BY t, idx) AS pidx FROM (SELECT user_id, epoch_us(ts) // 1000000 AS t, CASE WHEN event_type = 'signup' THEN 1 ELSE 2 END AS idx FROM events WHERE event_type = 'signup' OR (event_type = 'purchase' AND value > 150))), sc AS (SELECT user_id, CAST(count(*) FILTER (WHERE idx = 2 AND pidx = 1) AS BIGINT) AS nc FROM sc0 GROUP BY user_id) SELECT funnel_level, CAST(count(*) AS BIGINT) AS n_users, CAST(count(*) FILTER (WHERE signup_then_buy) AS BIGINT) AS n_seq, CAST(count(*) FILTER (WHERE signup_then_buy_6h) AS BIGINT) AS n_seq_6h, CAST(sum(coalesce(nc, 0)) AS BIGINT) AS n_chains FROM fin JOIN seq USING (user_id) LEFT JOIN sc USING (user_id) GROUP BY funnel_level ORDER BY funnel_level""",
    // The strict-modes oracle replays ClickHouse's getEventLevel scan as
    // one recursive CTE carrying all three mode states over the same
    // (t, step)-sorted entry stream: the strict_order lane reads the
    // (t, 0) sentinel of non-matching rows and terminates (freezing the
    // prefix level) on interruption or out-of-order arrival; the
    // strict_deduplication lane terminates at a repeated level; the
    // strict_increase lane carries (first, last) per level and requires
    // last < t. Termination columns (odn/ddn) are sticky and coalesce
    // ahead of the final max-level scan — the algorithm's early returns.
    "sql_ch_funnel_modes" ->
      """WITH RECURSIVE ent0 AS (SELECT user_id, epoch_us(ts) // 1000000 AS t, CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2 WHEN 'purchase' THEN 3 ELSE 0 END AS idx FROM events), ent AS (SELECT user_id, t, idx, row_number() OVER (PARTITION BY user_id ORDER BY t, idx) AS rn FROM ent0), users AS (SELECT DISTINCT user_id FROM events), cnt AS (SELECT u.user_id, (SELECT count(*) FROM ent e WHERE e.user_id = u.user_id) AS n FROM users u), rec AS (SELECT user_id, CAST(0 AS BIGINT) AS rn, CAST(NULL AS BIGINT) AS o1f, CAST(NULL AS BIGINT) AS o2f, CAST(NULL AS BIGINT) AS o3f, FALSE AS ofe, CAST(NULL AS BIGINT) AS odn, CAST(NULL AS BIGINT) AS d1f, CAST(NULL AS BIGINT) AS d2f, CAST(NULL AS BIGINT) AS d3f, CAST(NULL AS BIGINT) AS ddn, CAST(NULL AS BIGINT) AS i1f, CAST(NULL AS BIGINT) AS i1l, CAST(NULL AS BIGINT) AS i2f, CAST(NULL AS BIGINT) AS i2l, CAST(NULL AS BIGINT) AS i3f FROM users UNION ALL SELECT r.user_id, r.rn + 1, CASE WHEN e.idx = 1 THEN e.t ELSE r.o1f END, CASE WHEN e.idx = 2 AND r.o1f IS NOT NULL AND e.t - r.o1f <= 21600 THEN r.o1f ELSE r.o2f END, CASE WHEN e.idx = 3 AND r.o2f IS NOT NULL AND e.t - r.o2f <= 21600 THEN r.o2f ELSE r.o3f END, r.ofe OR e.idx = 1, CASE WHEN r.odn IS NOT NULL THEN r.odn WHEN e.idx = 0 AND r.ofe THEN (CASE WHEN r.o3f IS NOT NULL THEN 3 WHEN r.o2f IS NOT NULL THEN 2 WHEN r.o1f IS NOT NULL THEN 1 ELSE 0 END) WHEN e.idx = 2 AND r.o1f IS NULL AND r.ofe THEN (CASE WHEN r.o3f IS NOT NULL THEN 3 WHEN r.o2f IS NOT NULL THEN 2 WHEN r.o1f IS NOT NULL THEN 1 ELSE 0 END) WHEN e.idx = 3 AND r.o2f IS NULL AND r.ofe THEN (CASE WHEN r.o3f IS NOT NULL THEN 3 WHEN r.o2f IS NOT NULL THEN 2 WHEN r.o1f IS NOT NULL THEN 1 ELSE 0 END) WHEN e.idx = 3 AND r.o2f IS NOT NULL AND e.t - r.o2f <= 21600 THEN 3 END, CASE WHEN e.idx = 1 THEN e.t ELSE r.d1f END, CASE WHEN e.idx = 2 AND r.d2f IS NULL AND r.d1f IS NOT NULL AND e.t - r.d1f <= 21600 THEN r.d1f ELSE r.d2f END, CASE WHEN e.idx = 3 AND r.d3f IS NULL AND r.d2f IS NOT NULL AND e.t - r.d2f <= 21600 THEN r.d2f ELSE r.d3f END, CASE WHEN r.ddn IS NOT NULL THEN r.ddn WHEN e.idx = 2 AND r.d2f IS NOT NULL THEN 2 WHEN e.idx = 3 AND r.d3f IS NOT NULL THEN 3 WHEN e.idx = 3 AND r.d2f IS NOT NULL AND e.t - r.d2f <= 21600 THEN 3 END, CASE WHEN e.idx = 1 THEN e.t ELSE r.i1f END, CASE WHEN e.idx = 1 THEN e.t ELSE r.i1l END, CASE WHEN e.idx = 2 AND r.i1f IS NOT NULL AND e.t - r.i1f <= 21600 AND r.i1l < e.t THEN r.i1f ELSE r.i2f END, CASE WHEN e.idx = 2 AND r.i1f IS NOT NULL AND e.t - r.i1f <= 21600 AND r.i1l < e.t THEN e.t ELSE r.i2l END, CASE WHEN e.idx = 3 AND r.i2f IS NOT NULL AND e.t - r.i2f <= 21600 AND r.i2l < e.t THEN r.i2f ELSE r.i3f END FROM rec r JOIN ent e ON e.user_id = r.user_id AND e.rn = r.rn + 1), fin AS (SELECT r.user_id, CAST(coalesce(r.odn, CASE WHEN o3f IS NOT NULL THEN 3 WHEN o2f IS NOT NULL THEN 2 WHEN o1f IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS lvl_order, CAST(coalesce(r.ddn, CASE WHEN d3f IS NOT NULL THEN 3 WHEN d2f IS NOT NULL THEN 2 WHEN d1f IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS lvl_dedup, CAST(CASE WHEN i3f IS NOT NULL THEN 3 WHEN i2f IS NOT NULL THEN 2 WHEN i1f IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS lvl_incr FROM rec r JOIN cnt c ON r.user_id = c.user_id AND r.rn = c.n) SELECT lvl_order, lvl_dedup, lvl_incr, CAST(count(*) AS BIGINT) AS n_users FROM fin GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""",
    "sql_ch_dates" ->
      """SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INTEGER) AS ym, CAST(count(*) AS BIGINT) AS n, CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust, CAST(CAST(date_trunc('month', min(o_orderdate)) AS DATE) AS VARCHAR) AS month_start, CAST(min(year(o_orderdate)) AS INTEGER) AS y_min, CAST(max(day(o_orderdate)) AS INTEGER) AS d_max, CAST(min(epoch_us(date_trunc('day', o_orderdate)) // 1000000) AS BIGINT) AS first_day_s, CAST(max(CAST(date_trunc('week', o_orderdate) AS DATE)) AS VARCHAR) AS wk_mon, CAST(max(CAST(o_orderdate AS DATE) - CAST(dayofweek(o_orderdate) AS INTEGER)) AS VARCHAR) AS wk_sun FROM orders WHERE (o_orderkey % 2 = 0) AND (o_custkey > 0) GROUP BY GROUPING SETS ((year(o_orderdate) * 100 + month(o_orderdate)), ()) ORDER BY ym NULLS FIRST""",
    "graph_neighbor_jaccard" -> Graph.neighborJaccardOracleSql,
    "dq_drift" ->
      """WITH cents AS (SELECT o_orderkey % 2 AS half, CAST(floor(o_totalprice*100+0.5) AS BIGINT) AS v FROM orders), nref AS (SELECT CAST(count(*) AS BIGINT) AS n_ref FROM cents WHERE half = 0), cum AS (SELECT v, sum(count(*)) OVER (ORDER BY v) AS cum FROM cents WHERE half = 0 GROUP BY v), edges AS (SELECT i, min(v) AS edge FROM cum CROSS JOIN nref CROSS JOIN range(1, 10) r(i) WHERE cum >= 1 + ((n_ref - 1) * i) // 10 GROUP BY i), bucketed AS (SELECT half, (SELECT count(*) FROM edges WHERE v >= edge) AS bucket FROM cents), bb AS (SELECT bucket, CAST(sum(CASE WHEN half=0 THEN 1 ELSE 0 END) AS BIGINT) AS n_ref, CAST(sum(CASE WHEN half=1 THEN 1 ELSE 0 END) AS BIGINT) AS n_cur FROM bucketed GROUP BY bucket), tot AS (SELECT CAST(sum(n_ref) AS BIGINT) AS tr, CAST(sum(n_cur) AS BIGINT) AS tc FROM bb) SELECT bucket, n_ref, n_cur, CAST(floor(((CAST(n_ref+1 AS DOUBLE)/(tr+10)) - (CAST(n_cur+1 AS DOUBLE)/(tc+10))) * ln(CAST((n_ref+1)*(tc+10) AS DOUBLE)/CAST((n_cur+1)*(tr+10) AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS psi_micro FROM bb CROSS JOIN tot ORDER BY bucket""",
    "orders_open_backlog" ->
      """WITH closes AS (SELECT l_orderkey, max(l_shipdate) AS close_date FROM lineitem GROUP BY 1), spans AS (SELECT epoch_us(o_orderdate) // 86400000000 AS open_day, greatest(epoch_us(o_orderdate) // 86400000000, epoch_us(close_date) // 86400000000) AS close_day FROM orders JOIN closes ON o_orderkey = l_orderkey), deltas AS (SELECT day_num, CAST(sum(opened) AS BIGINT) AS n_opened, CAST(sum(closed) AS BIGINT) AS n_closed FROM (SELECT open_day AS day_num, 1 AS opened, 0 AS closed FROM spans UNION ALL SELECT close_day + 1, 0, 1 FROM spans) GROUP BY day_num) SELECT day_num, n_opened, n_closed, CAST(sum(n_opened - n_closed) OVER (ORDER BY day_num ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS backlog FROM deltas ORDER BY day_num""",
    "basket_rules" ->
      """WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem), ps AS (SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, CAST(count(*) AS BIGINT) AS supp_ab FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey GROUP BY 1, 2 HAVING count(*) >= 2), it AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS supp FROM op GROUP BY 1), nb AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_baskets FROM op), rules AS (SELECT part_a AS antecedent, part_b AS consequent, supp_ab FROM ps UNION ALL SELECT part_b, part_a, supp_ab FROM ps) SELECT antecedent, consequent, supp_ab, (supp_ab * 1000000) // ia.supp AS conf_micro, (supp_ab * n_baskets * 1000000) // (ia.supp * ic.supp) AS lift_micro FROM rules JOIN it ia ON ia.l_partkey = antecedent JOIN it ic ON ic.l_partkey = consequent CROSS JOIN nb ORDER BY lift_micro DESC, antecedent, consequent LIMIT 100""",
    "text_nb_classify" ->
      """WITH train AS (SELECT doc_id, lang, text FROM documents WHERE doc_id % 2 = 0), tc AS (SELECT lang, w, CAST(count(*) AS BIGINT) AS c FROM (SELECT lang, unnest(string_split(text, ' ')) AS w FROM train) GROUP BY 1, 2), vocab AS (SELECT DISTINCT w FROM tc), clsdocs AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs FROM train GROUP BY lang), clstok AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n_tok FROM tc GROUP BY lang), consts AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM vocab) AS v, (SELECT CAST(count(*) AS BIGINT) FROM train) AS n_all), model AS (SELECT cd.lang AS cls, vocab.w, CAST(floor(log2(CAST(coalesce(tc.c, 0) + 1 AS DOUBLE) / (ct.n_tok + consts.v)) * 1000000 + 0.5) AS BIGINT) AS lw_micro FROM clsdocs cd CROSS JOIN vocab CROSS JOIN consts JOIN clstok ct ON ct.lang = cd.lang LEFT JOIN tc ON tc.lang = cd.lang AND tc.w = vocab.w), priors AS (SELECT lang AS cls, CAST(floor(log2(CAST(n_docs AS DOUBLE) / consts.n_all) * 1000000 + 0.5) AS BIGINT) AS prior_micro FROM clsdocs CROSS JOIN consts), tftest AS (SELECT doc_id, lang, w, CAST(count(*) AS BIGINT) AS tf FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w FROM documents WHERE doc_id % 2 = 1) GROUP BY 1, 2, 3), sc AS (SELECT t.doc_id, t.lang, m.cls, CAST(sum(t.tf * m.lw_micro) AS BIGINT) AS like_micro FROM tftest t JOIN model m ON t.w = m.w GROUP BY 1, 2, 3), scored AS (SELECT sc.doc_id, sc.lang, sc.cls, like_micro + prior_micro AS score_micro FROM sc JOIN priors ON sc.cls = priors.cls), r AS (SELECT doc_id, lang, cls, score_micro, row_number() OVER (PARTITION BY doc_id ORDER BY score_micro DESC, cls) AS rn FROM scored) SELECT doc_id, lang AS actual, cls AS predicted, score_micro, CAST(CASE WHEN cls = lang THEN 1 ELSE 0 END AS BIGINT) AS correct FROM r WHERE rn = 1 ORDER BY doc_id""",
    "stream_watermark_late" ->
      """WITH ev AS (SELECT event_id, epoch_us(ts) AS tus, (tus + ((event_id * 1103515245 + 12345) % 2147483647) % 1800000000) // 60000000 AS batch FROM events), bm AS (SELECT batch, max(tus) AS bmax FROM ev GROUP BY batch), wm AS (SELECT batch, max(bmax) OVER (ORDER BY batch ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) - 600000000 AS wm FROM bm), fl AS (SELECT tus, CASE WHEN wm IS NOT NULL AND tus < wm THEN 1 ELSE 0 END AS late FROM ev JOIN wm USING (batch)) SELECT tus // 3600000000 AS hour_num, count(*) AS n_events, CAST(sum(late) AS BIGINT) AS n_late, CAST(sum(1 - late) AS BIGINT) AS n_kept FROM fl GROUP BY 1 ORDER BY hour_num""",
    "events_ewma" ->
      """WITH ev AS (SELECT user_id, CAST(floor(value*100+0.5) AS BIGINT) AS cents, ts, event_id FROM events) SELECT user_id, CAST(count(*) AS BIGINT) AS n_events, list_reduce(list(CAST(cents AS DOUBLE) ORDER BY ts, event_id), (s, x) -> (s + x) / 2) AS ewma_cents FROM ev GROUP BY user_id ORDER BY user_id""",
    // NOTE: rendered as a recursive-CTE fold, NOT list_reduce — DuckDB
    // 1.0's list_reduce miscomputes multi-field struct accumulators (a
    // 3-element fold returns t=3 where the hand fold gives 5).
    "events_holt_forecast" ->
      """WITH RECURSIVE daily AS (SELECT event_type, epoch_us(ts) // 86400000000 AS dnum, CAST(sum(CAST(floor(value*100+0.5) AS BIGINT)) AS BIGINT) AS dc FROM events GROUP BY 1, 2), typed AS (SELECT event_type, list(dc ORDER BY dnum) AS dcs, CAST(count(*) AS BIGINT) AS n_days FROM daily GROUP BY event_type), rec AS (SELECT event_type, CAST(1 AS BIGINT) AS i, dcs[1] AS l, CAST(0 AS BIGINT) AS t FROM typed UNION ALL SELECT r.event_type, r.i + 1, CAST(floor((ty.dcs[CAST(r.i + 1 AS INT)] + r.l + r.t)/2) AS BIGINT), CAST(floor((CAST(floor((ty.dcs[CAST(r.i + 1 AS INT)] + r.l + r.t)/2) AS BIGINT) - r.l + r.t)/2) AS BIGINT) FROM rec r JOIN typed ty USING (event_type) WHERE r.i < ty.n_days) SELECT r.event_type, ty.n_days, r.l AS level_cents, r.t AS trend_cents, r.l + r.t AS forecast_cents FROM rec r JOIN typed ty USING (event_type) WHERE r.i = ty.n_days ORDER BY event_type""",
    "graph_degree_stats" ->
      """WITH base AS (SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp FROM lineitem JOIN orders ON l_orderkey = o_orderkey), edges AS (SELECT cust AS src, supp + 1000000 AS dst FROM base UNION ALL SELECT supp + 1000000, cust FROM base), deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY src) SELECT CASE WHEN node >= 1000000 THEN 'supplier' ELSE 'customer' END AS side, CAST(length(bin(d)) AS BIGINT) AS degree_bits, CAST(count(*) AS BIGINT) AS n_nodes, min(d) AS min_degree, max(d) AS max_degree FROM deg GROUP BY 1, 2 ORDER BY side, degree_bits""",
    "graph_triangles" ->
      """WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem), e AS (SELECT a.l_partkey AS x, b.l_partkey AS y FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey GROUP BY 1, 2 HAVING count(*) >= 2) SELECT e1.x AS a, e1.y AS b, e2.y AS c FROM e e1 JOIN e e2 ON e1.y = e2.x JOIN e e3 ON e3.x = e1.x AND e3.y = e2.y ORDER BY a, b, c""",
    "scan_binaryfile" ->
      """SELECT doc_id AS asset_id, CAST(strlen(text) AS BIGINT) AS byte_len, sha256(text) AS fingerprint FROM documents ORDER BY asset_id""",
    "dq_profile" ->
      """SELECT 'o_custkey' AS col_name, count(*) AS n_rows, CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls, count(DISTINCT o_custkey) AS n_distinct, CAST(min(o_custkey) AS VARCHAR) AS min_canon, CAST(max(o_custkey) AS VARCHAR) AS max_canon FROM orders UNION ALL SELECT 'o_orderdate', count(*), CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT), count(DISTINCT o_orderdate), CAST(epoch_us(min(o_orderdate)) AS VARCHAR), CAST(epoch_us(max(o_orderdate)) AS VARCHAR) FROM orders UNION ALL SELECT 'o_orderkey', count(*), CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT), count(DISTINCT o_orderkey), CAST(min(o_orderkey) AS VARCHAR), CAST(max(o_orderkey) AS VARCHAR) FROM orders UNION ALL SELECT 'o_orderpriority', count(*), CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT), count(DISTINCT o_orderpriority), min(o_orderpriority), max(o_orderpriority) FROM orders UNION ALL SELECT 'o_orderstatus', count(*), CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT), count(DISTINCT o_orderstatus), min(o_orderstatus), max(o_orderstatus) FROM orders UNION ALL SELECT 'o_totalprice', count(*), CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT), count(DISTINCT o_totalprice), CAST(CAST(floor(min(o_totalprice)*100 + 0.5) AS BIGINT) AS VARCHAR), CAST(CAST(floor(max(o_totalprice)*100 + 0.5) AS BIGINT) AS VARCHAR) FROM orders ORDER BY col_name""",
    "text_dsir_weights" ->
      """WITH tf AS (SELECT doc_id, lang, w, CAST(count(*) AS BIGINT) AS tf FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w FROM documents) GROUP BY 1, 2, 3), raw AS (SELECT w, CAST(sum(tf) AS BIGINT) AS c_r FROM tf GROUP BY w), tgt AS (SELECT w, CAST(sum(tf) AS BIGINT) AS c_t FROM tf WHERE lang = 'en' GROUP BY w), model AS (SELECT raw.w, c_r, coalesce(c_t, CAST(0 AS BIGINT)) AS c_t FROM raw LEFT JOIN tgt ON raw.w = tgt.w), tot AS (SELECT CAST(count(*) AS BIGINT) AS v, CAST(sum(c_r) AS BIGINT) AS n_r, CAST(sum(c_t) AS BIGINT) AS n_t FROM model), lr AS (SELECT w, CAST(floor(log2((CAST(c_t + 1 AS DOUBLE) / (n_t + v)) / (CAST(c_r + 1 AS DOUBLE) / (n_r + v))) * 1000000 + 0.5) AS BIGINT) AS lr_micro FROM model CROSS JOIN tot), wt AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens, CAST(sum(tf * lr_micro) AS BIGINT) AS w_micro FROM tf JOIN lr USING (w) GROUP BY doc_id), rk AS (SELECT doc_id, n_tokens, w_micro, row_number() OVER (ORDER BY w_micro DESC, doc_id) AS rn FROM wt), n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM wt) SELECT doc_id, n_tokens, w_micro, CAST(CASE WHEN rn <= CAST(floor(CAST(n AS DOUBLE) / 5) AS BIGINT) THEN 1 ELSE 0 END AS BIGINT) AS selected FROM rk CROSS JOIN n ORDER BY doc_id""",
    "events_cusum" ->
      """WITH daily AS (SELECT event_type, epoch_us(ts) // 86400000000 AS dnum, CAST(sum(CAST(floor(value*100+0.5) AS BIGINT)) AS BIGINT) AS dc FROM events GROUP BY 1, 2), typed AS (SELECT event_type, list(dnum ORDER BY dnum) AS days, list(dc ORDER BY dnum) AS dcs, CAST(count(*) AS BIGINT) AS n, CAST(sum(dc) AS BIGINT) AS total FROM daily GROUP BY event_type) SELECT event_type, days[i] AS day, list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(dcs[1:i], x -> x*n - total)), (s, x) -> greatest(s + x, 0)) AS cusum FROM typed, LATERAL unnest(range(1, n+1)) AS g(i) ORDER BY event_type, day""",
    "basket_triples" ->
      """WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem), tr AS (SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, c.l_partkey AS part_c, CAST(count(*) AS BIGINT) AS support FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey JOIN op c ON b.l_orderkey = c.l_orderkey AND b.l_partkey < c.l_partkey GROUP BY 1, 2, 3) SELECT part_a, part_b, part_c, support FROM tr ORDER BY support DESC, part_a, part_b, part_c LIMIT 100""",
    "graph_kcore" -> Graph.kcoreOracleSql,
    "graph_assortativity" -> Graph.assortativityOracleSql,
    "text_zipf_fit" ->
      """WITH freq AS (SELECT term, CAST(count(*) AS BIGINT) AS f FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents) GROUP BY 1), ranked AS (SELECT CAST(floor(ln(CAST(row_number() OVER (ORDER BY f DESC, term) AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS lx, CAST(floor(ln(CAST(f AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS ly FROM freq), s AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(lx) AS BIGINT) AS sx, CAST(sum(ly) AS BIGINT) AS sy, CAST(sum(lx*lx) AS BIGINT) AS sxx, CAST(sum(lx*ly) AS BIGINT) AS sxy FROM ranked) SELECT n AS n_terms, CAST(floor(CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS slope_micro FROM s""",
    "events_funnel_time" ->
      """WITH per AS (SELECT user_id, min(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END) AS s FROM events GROUP BY 1), conv AS (SELECT p.user_id, min(epoch_us(ts) - s) // 60000000 AS delay_min FROM events e JOIN per p ON e.user_id = p.user_id AND e.event_type = 'purchase' AND s IS NOT NULL AND epoch_us(ts) >= s GROUP BY 1) SELECT CAST(count(*) AS BIGINT) AS n_converted, quantile_disc(delay_min, 0.5) AS p50_min, quantile_disc(delay_min, 0.9) AS p90_min, (CAST(sum(delay_min) AS BIGINT) * 100) // count(*) AS mean_centimin FROM conv""",
    "orders_xyz_class" ->
      """WITH weekly AS (SELECT l_partkey, epoch_us(l_shipdate) // 604800000000 AS week, CAST(sum(CAST(floor(l_quantity + 0.5) AS BIGINT)) AS BIGINT) AS wq FROM lineitem GROUP BY 1, 2), per AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n, CAST(sum(wq) AS BIGINT) AS s, CAST(sum(wq * wq) AS BIGINT) AS qq FROM weekly GROUP BY 1), cls AS (SELECT l_partkey, CASE WHEN 4 * (n * qq - s * s) < s * s THEN 'X' WHEN n * qq - s * s < s * s THEN 'Y' ELSE 'Z' END AS xyz_class FROM per) SELECT xyz_class, CAST(count(*) AS BIGINT) AS n_parts FROM cls GROUP BY 1 ORDER BY xyz_class""",
    "events_dau_wau_mau" ->
      """WITH ud AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events), dau AS (SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS dau FROM ud GROUP BY 1), wau AS (SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS wau FROM (SELECT user_id, ud.day + i AS day FROM ud, LATERAL unnest(generate_series(0, 6)) AS g(i)) GROUP BY day), mau AS (SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS mau FROM (SELECT user_id, ud.day + i AS day FROM ud, LATERAL unnest(generate_series(0, 29)) AS g(i)) GROUP BY day) SELECT dau.day, dau, wau, mau, (dau * 1000000) // wau AS dau_wau_micro, (dau * 1000000) // mau AS dau_mau_micro FROM dau JOIN wau USING (day) JOIN mau USING (day) ORDER BY day""",
    "orders_lead_time" ->
      """WITH closes AS (SELECT l_orderkey, max(l_shipdate) AS close FROM lineitem GROUP BY 1), lead AS (SELECT o_orderpriority AS priority, greatest(epoch_us(close) // 86400000000 - epoch_us(o_orderdate) // 86400000000, 0) AS days FROM closes JOIN orders ON l_orderkey = o_orderkey) SELECT priority, CAST(count(*) AS BIGINT) AS n_orders, quantile_disc(days, 0.5) AS p50_days, quantile_disc(days, 0.9) AS p90_days, quantile_disc(days, 0.99) AS p99_days, (CAST(sum(days) AS BIGINT) * 100) // count(*) AS mean_centidays FROM lead GROUP BY priority ORDER BY priority""",
    "sample_temperature" ->
      """WITH per AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY 1), tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n FROM per), w AS (SELECT lang, n_docs, (n_docs * 1000000) // n AS q_micro, CAST(floor(pow(CAST(n_docs AS DOUBLE) / CAST(n AS DOUBLE), 0.7) * 1000000000 + 0.5) AS BIGINT) AS w_nano FROM per CROSS JOIN tot), wt AS (SELECT CAST(sum(w_nano) AS BIGINT) AS wt FROM w) SELECT lang, n_docs, q_micro, (w_nano * 1000000) // wt AS p_micro, (w_nano * 10000) // wt AS draws_per_10k FROM w CROSS JOIN wt ORDER BY lang""",
    "dq_benford" ->
      """WITH per AS (SELECT CAST(substring(CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit, CAST(count(*) AS BIGINT) AS observed FROM orders GROUP BY 1), tot AS (SELECT CAST(sum(observed) AS BIGINT) AS n FROM per) SELECT digit, observed, (observed * 1000000) // n AS obs_micro, CAST(floor(log10(1.0 + 1.0 / digit) * 1000000 + 0.5) AS BIGINT) AS exp_micro, abs((observed * 1000000) // n - CAST(floor(log10(1.0 + 1.0 / digit) * 1000000 + 0.5) AS BIGINT)) AS dev_micro FROM per CROSS JOIN tot ORDER BY digit""",
    "join_asof_nearest" ->
      """WITH p AS (SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS purchase_us FROM events WHERE event_type = 'purchase'), c AS (SELECT event_id AS click_id, user_id, epoch_us(ts) AS click_us FROM events WHERE event_type = 'click'), cand AS (SELECT purchase_id, p.user_id, purchase_us, click_id, click_us FROM p JOIN c ON p.user_id = c.user_id AND abs(purchase_us - click_us) <= 900000000), r AS (SELECT *, row_number() OVER (PARTITION BY purchase_id ORDER BY abs(purchase_us - click_us), click_us, click_id) AS rn FROM cand) SELECT purchase_id, user_id, purchase_us, click_id, click_us, abs(purchase_us - click_us) AS delta_us FROM r WHERE rn = 1 ORDER BY purchase_id""",
    "dq_fd_violations" ->
      """WITH f1 AS (SELECT CAST(count(*) AS BIGINT) AS n_groups, CAST(sum(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating, max(d) AS max_distinct FROM (SELECT l_orderkey, CAST(count(DISTINCT l_returnflag) AS BIGINT) AS d FROM lineitem GROUP BY 1)), f2 AS (SELECT CAST(count(*) AS BIGINT) AS n_groups, CAST(sum(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating, max(d) AS max_distinct FROM (SELECT l_partkey, CAST(count(DISTINCT l_suppkey) AS BIGINT) AS d FROM lineitem GROUP BY 1)), f3 AS (SELECT CAST(count(*) AS BIGINT) AS n_groups, CAST(sum(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating, max(d) AS max_distinct FROM (SELECT o_orderkey, CAST(count(DISTINCT o_custkey) AS BIGINT) AS d FROM orders GROUP BY 1)) SELECT 'l_orderkey->l_returnflag' AS fd, n_groups, n_violating, max_distinct, (n_violating * 1000000) // n_groups AS viol_micro FROM f1 UNION ALL SELECT 'l_partkey->l_suppkey', n_groups, n_violating, max_distinct, (n_violating * 1000000) // n_groups FROM f2 UNION ALL SELECT 'o_orderkey->o_custkey', n_groups, n_violating, max_distinct, (n_violating * 1000000) // n_groups FROM f3 ORDER BY fd""",
    "events_acf" ->
      """WITH daily AS (SELECT epoch_us(ts) // 86400000000 AS day, CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1), st AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS s FROM daily), dev AS (SELECT day, n * x - s AS dev FROM daily CROSS JOIN st), dn AS (SELECT CAST(sum(dev * dev) AS BIGINT) AS den FROM dev), nm AS (SELECT lag_k, CAST(sum(a.dev * b.dev) AS BIGINT) AS num FROM dev a CROSS JOIN range(1, 8) r(lag_k) JOIN dev b ON b.day = a.day + lag_k GROUP BY lag_k) SELECT CAST(lag_k AS BIGINT) AS lag_k, num, den, CAST(floor(CAST(num AS DOUBLE) * 1000000.0 / CAST(den AS DOUBLE)) AS BIGINT) AS acf_micro FROM nm CROSS JOIN dn ORDER BY lag_k""",
    "orders_seasonal_dow" ->
      """WITH per AS (SELECT CAST(dayofweek(o_orderdate) + 1 AS BIGINT) AS dow, CAST(count(*) AS BIGINT) AS n_orders, CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev_cents FROM orders GROUP BY 1), tot AS (SELECT CAST(sum(n_orders) AS BIGINT) AS tn, CAST(sum(rev_cents) AS BIGINT) AS tr FROM per) SELECT dow, n_orders, rev_cents, CAST(floor(CAST(rev_cents AS DOUBLE) * CAST(tn AS DOUBLE) * 1000000.0 / (CAST(n_orders AS DOUBLE) * CAST(tr AS DOUBLE)) + 0.5) AS BIGINT) AS index_micro FROM per CROSS JOIN tot ORDER BY dow""",
    "dedup_jaccard_prefix" ->
      """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents), tok AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS term FROM ws, LATERAL unnest(generate_series(1, len(ws) - 2)) AS g(i)), sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS m FROM tok GROUP BY 1), inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS inter FROM tok a JOIN tok b ON a.term = b.term AND a.doc_id < b.doc_id GROUP BY 1, 2) SELECT doc_a, doc_b, inter, sa.m + sb.m - inter AS uni, (inter * 1000000) // (sa.m + sb.m - inter) AS jaccard_micro FROM inter JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b WHERE (inter * 1000000) // (sa.m + sb.m - inter) >= 800000 ORDER BY doc_a, doc_b""",
    "sample_reservoir" ->
      """SELECT doc_id, lang, (doc_id * 2654435761) % 4294967296 AS priority FROM documents ORDER BY priority, doc_id LIMIT 64""",
    "events_top_paths" ->
      """WITH seq AS (SELECT user_id, event_type AS e1, lead(event_type, 1) OVER w AS e2, lead(event_type, 2) OVER w AS e3 FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)) SELECT e1, e2, e3, CAST(count(*) AS BIGINT) AS n FROM seq WHERE e3 IS NOT NULL GROUP BY 1, 2, 3 ORDER BY n DESC, e1, e2, e3 LIMIT 20""",
    "events_ab_cuped" ->
      """WITH per AS (SELECT user_id, CAST(sum(CASE WHEN event_type = 'purchase' THEN CAST(floor(value + 0.5) AS BIGINT) ELSE 0 END) AS BIGINT) AS y, CAST(sum(CASE WHEN event_type <> 'purchase' THEN CAST(floor(value + 0.5) AS BIGINT) ELSE 0 END) AS BIGINT) AS x, CASE WHEN ((user_id * 1103515245 + 12345) % 2147483647) % 2 = 0 THEN 'A' ELSE 'B' END AS arm FROM events GROUP BY 1), pooled AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x*x) AS BIGINT) AS sxx, CAST(sum(x*y) AS BIGINT) AS sxy, CAST(sum(y*y) AS BIGINT) AS syy FROM per), a AS (SELECT CAST(count(*) AS BIGINT) AS n_a, CAST(sum(x) AS BIGINT) AS sx_a, CAST(sum(y) AS BIGINT) AS sy_a FROM per WHERE arm = 'A'), b AS (SELECT CAST(count(*) AS BIGINT) AS n_b, CAST(sum(x) AS BIGINT) AS sx_b, CAST(sum(y) AS BIGINT) AS sy_b FROM per WHERE arm = 'B') SELECT n_a, n_b, CAST(floor(CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS theta_micro, CAST(floor((CAST(sy_b AS DOUBLE)/n_b - CAST(sy_a AS DOUBLE)/n_a) * 1000000 + 0.5) AS BIGINT) AS lift_raw_micro, CAST(floor((CAST(sy_b AS DOUBLE)/n_b - CAST(sy_a AS DOUBLE)/n_a - CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE) * (CAST(sx_b AS DOUBLE)/n_b - CAST(sx_a AS DOUBLE)/n_a)) * 1000000 + 0.5) AS BIGINT) AS lift_cuped_micro, CAST(floor(CAST(n*sxy - sx*sy AS DOUBLE) * CAST(n*sxy - sx*sy AS DOUBLE) / (CAST(n*sxx - sx*sx AS DOUBLE) * CAST(n*syy - sy*sy AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS rho2_micro FROM a CROSS JOIN b CROSS JOIN pooled""",
    "embed_dim_stats" ->
      """WITH m AS (SELECT i AS dim, CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS m FROM embeddings CROSS JOIN (SELECT unnest(range(1, 65)) AS i)), per AS (SELECT dim, CAST(count(*) AS BIGINT) AS n_vecs, CAST(sum(m) AS BIGINT) AS s, CAST(sum(m*m) AS BIGINT) AS q FROM m GROUP BY 1) SELECT CAST(dim AS BIGINT) AS dim, n_vecs, CAST(floor(CAST(s AS DOUBLE) / n_vecs + 0.5) AS BIGINT) AS mean_micro, CAST(floor(CAST(n_vecs*q - s*s AS DOUBLE) / (CAST(n_vecs AS DOUBLE) * CAST(n_vecs AS DOUBLE) * 1000000.0) + 0.5) AS BIGINT) AS var_micro FROM per ORDER BY dim""",
    "embed_quantize" ->
      """SELECT vec_id, CAST(floor(s * 1000000 + 0.5) AS BIGINT) AS scale_micro, CASE WHEN s = 0 THEN 0 ELSE CAST(floor(list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE) - GREATEST(-127.0, LEAST(127.0, floor(CAST(y AS DOUBLE) / s * 127.0 + 0.5))) * s / 127.0))) * 1000000 + 0.5) AS BIGINT) END AS max_err_micro FROM (SELECT vec_id, embedding, list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE)))) AS s FROM embeddings) ORDER BY vec_id""",
    "embed_diversity" ->
      """WITH nm AS (SELECT vec_id, CAST(label AS BIGINT) AS label, i AS dim, CAST(floor(CAST(embedding[i] AS DOUBLE) / sqrt(list_reduce(list_transform(embedding, y -> CAST(y AS DOUBLE)*CAST(y AS DOUBLE)), (a,b) -> a+b)) * 1000000 + 0.5) AS BIGINT) AS m FROM embeddings CROSS JOIN (SELECT unnest(range(1,65)) AS i)), perdim AS (SELECT label, dim, CAST(sum(m) AS BIGINT) AS s FROM nm GROUP BY 1,2), tt AS (SELECT label, sum(s::HUGEINT * s::HUGEINT) AS t FROM perdim GROUP BY 1), uu AS (SELECT label, CAST(sum(m*m) AS BIGINT) AS u FROM nm GROUP BY 1), nn AS (SELECT CAST(label AS BIGINT) AS label, CAST(count(*) AS BIGINT) AS n_vecs FROM embeddings GROUP BY 1) SELECT label, n_vecs, CAST(floor(CAST(t - u AS DOUBLE) / (CAST(n_vecs AS DOUBLE) * CAST(n_vecs - 1 AS DOUBLE) * 1000000.0) + 0.5) AS BIGINT) AS mean_cos_micro FROM tt JOIN uu USING (label) JOIN nn USING (label) ORDER BY label""",
    "embed_drift" ->
      """WITH per AS (SELECT vec_id % 2 = 0 AS ref, i AS dim, CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS m FROM embeddings CROSS JOIN (SELECT unnest(range(1,65)) AS i)), ag AS (SELECT ref, dim, CAST(count(*) AS BIGINT) AS n, CAST(sum(m) AS BIGINT) AS s, CAST(sum(m*m) AS BIGINT) AS q FROM per GROUP BY 1,2), st AS (SELECT ref, dim, CAST(s AS DOUBLE) / n AS mean_d, CAST(n*q - s*s AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS var_d FROM ag), r AS (SELECT dim, mean_d AS mr, var_d AS vr FROM st WHERE ref), c AS (SELECT dim, mean_d AS mc, var_d AS vc FROM st WHERE NOT ref) SELECT CAST(dim AS BIGINT) AS dim, CAST(floor(mr + 0.5) AS BIGINT) AS mean_ref_micro, CAST(floor(mc + 0.5) AS BIGINT) AS mean_cand_micro, CASE WHEN vr + vc = 0 THEN CASE WHEN mc = mr THEN 0 ELSE 1000000000 END ELSE CAST(floor(abs(mc - mr) / sqrt((vr + vc) / 2.0) * 1000000 + 0.5) AS BIGINT) END AS smd_micro FROM r JOIN c USING (dim) ORDER BY dim""",
    "agg_median_twopass" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows, quantile_disc(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT), 0.5) AS median_cents FROM orders""",
    "orders_abc_migration" ->
      """WITH days AS (SELECT o_custkey, epoch_us(o_orderdate) // 86400000000 AS d, CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents FROM orders), m AS (SELECT (min(d) + max(d) + 1) // 2 AS mid FROM days), per AS (SELECT CASE WHEN d < mid THEN 1 ELSE 2 END AS period, o_custkey, CAST(sum(cents) AS BIGINT) AS rev FROM days CROSS JOIN m GROUP BY 1, 2), cl AS (SELECT period, o_custkey, CASE WHEN CAST(sum(rev) OVER (PARTITION BY period ORDER BY rev DESC, o_custkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / sum(rev) OVER (PARTITION BY period) <= 0.7 THEN 'A' WHEN CAST(sum(rev) OVER (PARTITION BY period ORDER BY rev DESC, o_custkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / sum(rev) OVER (PARTITION BY period) <= 0.9 THEN 'B' ELSE 'C' END AS abc FROM per), p1 AS (SELECT o_custkey, abc AS c1 FROM cl WHERE period = 1), p2 AS (SELECT o_custkey, abc AS c2 FROM cl WHERE period = 2) SELECT coalesce(c1, '-') AS class_p1, coalesce(c2, '-') AS class_p2, CAST(count(*) AS BIGINT) AS n_customers FROM p1 FULL OUTER JOIN p2 USING (o_custkey) GROUP BY 1, 2 ORDER BY class_p1, class_p2""",
    "events_heatmap" ->
      """WITH per AS (SELECT CAST(dayofweek(ts) + 1 AS BIGINT) AS dow, (epoch_us(ts) // 3600000000) % 24 AS hour, CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1, 2), tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM per) SELECT dow, hour, n, (n * 1000000) // t AS share_micro FROM per CROSS JOIN tot ORDER BY dow, hour""",
    "scalar_inet" ->
      """WITH ips AS (SELECT c_custkey, (c_custkey * 2654435761) % 4294967296 AS ipn FROM customer), s AS (SELECT c_custkey, ipn, CAST(ipn // 16777216 AS VARCHAR) || '.' || CAST((ipn // 65536) % 256 AS VARCHAR) || '.' || CAST((ipn // 256) % 256 AS VARCHAR) || '.' || CAST(ipn % 256 AS VARCHAR) AS ip FROM ips), p AS (SELECT c_custkey, ip, ipn, CAST(string_split(ip, '.')[1] AS BIGINT) AS o1, CAST(string_split(ip, '.')[2] AS BIGINT) AS o2, CAST(string_split(ip, '.')[3] AS BIGINT) AS o3, CAST(string_split(ip, '.')[4] AS BIGINT) AS o4 FROM s) SELECT c_custkey, ip, o1 * 16777216 + o2 * 65536 + o3 * 256 + o4 AS ip_num, (o1 = 10 OR (o1 = 172 AND o2 BETWEEN 16 AND 31) OR (o1 = 192 AND o2 = 168)) AS is_private, ipn // 16777216 = 10 AS in_10_8 FROM p ORDER BY c_custkey""",
    "orders_interarrival" ->
      """WITH o AS (SELECT o_custkey, o_orderkey, epoch_us(o_orderdate) // 86400000000 AS d FROM orders), g AS (SELECT d - lag(d) OVER (PARTITION BY o_custkey ORDER BY d, o_orderkey) AS gap FROM o) SELECT CAST(count(*) AS BIGINT) AS n_gaps, min(gap) AS min_days, quantile_disc(gap, 0.5) AS p50_days, quantile_disc(gap, 0.9) AS p90_days, max(gap) AS max_days, (CAST(sum(gap) AS BIGINT) * 100) // count(*) AS mean_centidays FROM g WHERE gap IS NOT NULL""",
    "orders_repeat_rate" ->
      """WITH ranked AS (SELECT o_custkey, epoch_us(o_orderdate) // 86400000000 AS d, row_number() OVER (PARTITION BY o_custkey ORDER BY epoch_us(o_orderdate) // 86400000000, o_orderkey) AS rn FROM orders), per AS (SELECT o_custkey, min(CASE WHEN rn = 1 THEN d END) AS d1, min(CASE WHEN rn = 2 THEN d END) AS d2 FROM ranked WHERE rn <= 2 GROUP BY 1) SELECT CAST(count(*) AS BIGINT) AS n_customers, CAST(sum(CASE WHEN d2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_repeat, (CAST(sum(CASE WHEN d2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) * 1000000) // CAST(count(*) AS BIGINT) AS repeat_micro, CAST(quantile_disc(d2 - d1, 0.5) AS BIGINT) AS p50_days, CAST(quantile_disc(d2 - d1, 0.9) AS BIGINT) AS p90_days, (CAST(sum(d2 - d1) AS BIGINT) * 100) // greatest(CAST(count(d2) AS BIGINT), 1) AS mean_centidays FROM per""",
    "events_error_budget" ->
      """WITH daily AS (SELECT epoch_us(ts) // 86400000000 AS day, CAST(count(*) AS BIGINT) AS n_events, CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_errors FROM events GROUP BY 1) SELECT day, n_events, n_errors, (n_errors * 1000000) // n_events AS err_micro, CAST(sum(n_events) OVER (ORDER BY day) AS BIGINT) AS cum_events, CAST(sum(n_errors) OVER (ORDER BY day) AS BIGINT) AS cum_errors, CAST(sum(n_events) OVER (ORDER BY day) AS BIGINT) // 5 AS budget_events, CAST(sum(n_errors) OVER (ORDER BY day) AS BIGINT) > CAST(sum(n_events) OVER (ORDER BY day) AS BIGINT) // 5 AS over_budget FROM daily ORDER BY day""",
    "text_contamination" ->
      """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents), tok AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS term FROM ws, LATERAL unnest(generate_series(1, len(ws) - 2)) AS g(i)), bench AS (SELECT DISTINCT term FROM tok WHERE doc_id % 10 = 0), tr AS (SELECT t.doc_id, CASE WHEN b.term IS NOT NULL THEN 1 ELSE 0 END AS hit FROM tok t LEFT JOIN bench b USING (term) WHERE t.doc_id % 10 <> 0) SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles, CAST(sum(hit) AS BIGINT) AS n_contaminated, (CAST(sum(hit) AS BIGINT) * 1000000) // CAST(count(*) AS BIGINT) AS contamination_micro, CAST(sum(hit) AS BIGINT) > 0 AS flagged FROM tr GROUP BY doc_id ORDER BY doc_id""",
    "text_burstiness" ->
      """WITH tf AS (SELECT doc_id, w AS term, CAST(count(*) AS BIGINT) AS tf FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents) GROUP BY 1, 2), nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents), per AS (SELECT term, CAST(count(*) AS BIGINT) AS df, CAST(sum(tf) AS BIGINT) AS s, CAST(sum(tf*tf) AS BIGINT) AS q FROM tf GROUP BY 1) SELECT term, df, s AS tf_total, (n * q - s * s) * 1000000 // (n * s) AS vmr_micro FROM per CROSS JOIN nn ORDER BY df DESC, term LIMIT 20""",
    "events_seasonal_anomaly" ->
      """WITH daily AS (SELECT epoch_us(ts) // 86400000000 AS day, CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1), base AS (SELECT day % 7 AS dow, CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS s, CAST(sum(x*x) AS BIGINT) AS q FROM daily GROUP BY 1) SELECT day, x, CAST(dow AS BIGINT) AS dow, CASE WHEN n*q - s*s = 0 THEN 0 ELSE CAST(floor(CAST(n*x - s AS DOUBLE) / sqrt(CAST(n*q - s*s AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) END AS z_micro, CASE WHEN n*q - s*s = 0 THEN FALSE ELSE abs(CAST(floor(CAST(n*x - s AS DOUBLE) / sqrt(CAST(n*q - s*s AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)) > 2000000 END AS is_anomaly FROM daily JOIN base ON day % 7 = dow ORDER BY day""",
    "dq_orphans" ->
      """WITH f1 AS (SELECT CAST(count(*) AS BIGINT) AS n_child, CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans FROM lineitem LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o ON l_orderkey = o_orderkey), f2 AS (SELECT CAST(count(*) AS BIGINT) AS n_child, CAST(sum(CASE WHEN s_suppkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans FROM lineitem LEFT JOIN (SELECT DISTINCT s_suppkey FROM supplier) s ON l_suppkey = s_suppkey), f3 AS (SELECT CAST(count(*) AS BIGINT) AS n_child, CAST(sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans FROM orders LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c ON o_custkey = c_custkey) SELECT 'lineitem.l_orderkey->orders' AS fk, n_child, n_orphans, n_orphans * 1000000 // greatest(n_child, 1) AS orphan_micro FROM f1 UNION ALL SELECT 'lineitem.l_suppkey->supplier', n_child, n_orphans, n_orphans * 1000000 // greatest(n_child, 1) FROM f2 UNION ALL SELECT 'orders.o_custkey->customer', n_child, n_orphans, n_orphans * 1000000 // greatest(n_child, 1) FROM f3 ORDER BY fk""",
    "stream_asof" ->
      """WITH p AS (SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS purchase_us FROM events WHERE event_type = 'purchase'), c AS (SELECT event_id AS click_id, user_id, epoch_us(ts) AS click_us FROM events WHERE event_type = 'click'), m AS (SELECT purchase_id, click_id, click_us, row_number() OVER (PARTITION BY purchase_id ORDER BY click_us DESC, click_id DESC) AS rn FROM p JOIN c ON p.user_id = c.user_id AND c.click_us <= p.purchase_us) SELECT p.purchase_id, p.user_id, p.purchase_us, m.click_id, m.click_us FROM p LEFT JOIN m ON m.purchase_id = p.purchase_id AND m.rn = 1 ORDER BY p.purchase_id""",
    "join_asof_native" ->
      """WITH p AS (SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS purchase_us FROM events WHERE event_type = 'purchase'), c AS (SELECT event_id AS click_id, user_id, epoch_us(ts) AS click_us FROM events WHERE event_type = 'click'), m AS (SELECT purchase_id, click_id, click_us, row_number() OVER (PARTITION BY purchase_id ORDER BY click_us DESC, click_id DESC) AS rn FROM p JOIN c ON p.user_id = c.user_id AND c.click_us <= p.purchase_us) SELECT p.purchase_id, p.user_id, p.purchase_us, m.click_id, m.click_us FROM p LEFT JOIN m ON m.purchase_id = p.purchase_id AND m.rn = 1 ORDER BY p.purchase_id""",
    // DuckDB's NATIVE ASOF JOIN is the oracle: both engines run the same
    // SQL feature, independently implemented (see Relational.sqlAsofJoin).
    "sql_asof_join" ->
      """WITH p AS (SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS purchase_us FROM events WHERE event_type = 'purchase'), c AS (SELECT event_id AS click_id, user_id AS click_user, epoch_us(ts) AS click_us FROM events WHERE event_type = 'click') SELECT purchase_id, user_id, purchase_us, click_us FROM p ASOF JOIN c ON user_id = click_user AND purchase_us >= click_us ORDER BY purchase_id""",
    // DuckDB's native ASOF JOIN with the STRICT comparison (>): every
    // purchase matches itself under >= (the right side is all events), so
    // a <=-vs-< regression flips every row, not an edge case.
    "sql_asof_join_strict" ->
      """WITH p AS (SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS purchase_us FROM events WHERE event_type = 'purchase'), e AS (SELECT event_id AS prior_id, user_id AS euser, epoch_us(ts) AS eus FROM events) SELECT purchase_id, user_id, purchase_us, eus AS prior_us FROM p ASOF JOIN e ON user_id = euser AND purchase_us > eus ORDER BY purchase_id""",
    // DuckDB's own ASOF LEFT JOIN in its native ON-conjunct spelling —
    // the same syntax family ClickHouse uses, so the oracle is a genuine
    // independent implementation of the query's exact surface form.
    "sql_ch_asof" ->
      """WITH p AS (SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS purchase_us FROM events WHERE event_type = 'purchase'), c AS (SELECT user_id AS click_user, epoch_us(ts) AS click_us FROM events WHERE event_type = 'click') SELECT purchase_id, user_id, purchase_us, click_us FROM p ASOF LEFT JOIN c ON user_id = click_user AND purchase_us >= click_us ORDER BY purchase_id""",
    // topK replayed exactly: rank values by (count desc, value asc) per
    // group, keep the top 3 in rank order; sumMap as key-ordered lists.
    "sql_ch_topk" ->
      """WITH c AS (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q, CAST(count(*) AS BIGINT) AS n FROM lineitem GROUP BY 1, 2), r AS (SELECT l_returnflag, q, row_number() OVER (PARTITION BY l_returnflag ORDER BY n DESC, q) AS rk FROM c), tk AS (SELECT l_returnflag, array_to_string(list(q ORDER BY rk), ',') AS top_q FROM r WHERE rk <= 3 GROUP BY 1), wc AS (SELECT l_returnflag, CAST(l_suppkey % 50 AS BIGINT) AS wv, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS ws FROM lineitem GROUP BY 1, 2), wr AS (SELECT l_returnflag, wv, row_number() OVER (PARTITION BY l_returnflag ORDER BY ws DESC, wv) AS rk FROM wc), tw AS (SELECT l_returnflag, array_to_string(list(wv ORDER BY rk), ',') AS top_w FROM wr WHERE rk <= 3 GROUP BY 1), s AS (SELECT l_returnflag, l_linestatus AS k, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS v FROM lineitem GROUP BY 1, 2), sm AS (SELECT l_returnflag, array_to_string(list(k ORDER BY k), ',') AS sm_keys, array_to_string(list(v ORDER BY k), ',') AS sm_vals FROM s GROUP BY 1) SELECT l_returnflag, top_q, top_w, sm_keys, sm_vals FROM tk JOIN tw USING (l_returnflag) JOIN sm USING (l_returnflag) ORDER BY l_returnflag""",
    "sql_ch_limit_offset" ->
      """SELECT o_orderkey, o_orderpriority, CAST(o_orderkey // 100 AS BIGINT) AS key_century FROM orders ORDER BY o_orderkey LIMIT 10 OFFSET 20""",
    // DuckDB has no WITH TIES spelling — the oracle computes the same
    // keep-the-tie-group rule with ITS OWN rank window (independent
    // engine, independent sort), which is what the rewrite emits on the
    // Spark side too.
    "sql_ch_limit_ties" ->
      """WITH f AS (SELECT CAST(l_orderkey AS BIGINT) AS okey, CAST(l_linenumber AS BIGINT) AS lno, CAST(l_quantity AS BIGINT) AS q FROM lineitem WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderkey < 2000)), r AS (SELECT okey, lno, q, rank() OVER (ORDER BY q) AS rk FROM f) SELECT okey, lno, q FROM r WHERE rk <= 40 ORDER BY q, okey, lno""",
    "sql_ch_dict" ->
      """SELECT c_custkey, coalesce((SELECT max(n_name) FROM nation WHERE n_nationkey = c_custkey % 50), 'NONE') AS nat, ((SELECT count(*) FROM nation WHERE n_nationkey = c_custkey % 50) > 0) AS has_nat, (SELECT max(n_regionkey) FROM nation WHERE n_nationkey = c_custkey % 50) AS reg, coalesce((SELECT max(n_name) FROM nation WHERE n_nationkey = c_custkey % 50), '') AS nat_t FROM customer WHERE c_custkey < 600 ORDER BY c_custkey""",
    "sql_ch_like" ->
      """SELECT c_custkey, c_mktsegment LIKE 'BUIL%' AS seg_like, c_mktsegment NOT LIKE '%MOTIVE%' AS seg_notlike, c_mktsegment ILIKE 'buil%' AS seg_ilike, NOT (c_mktsegment ILIKE 'auto%') AS seg_notilike, (regexp_matches(c_mktsegment, '^BUIL') OR regexp_matches(c_mktsegment, 'HOLD$')) AS seg_mm, starts_with(c_mktsegment, 'AUTO') AS seg_sw, ends_with(c_mktsegment, 'RY') AS seg_ew, CAST(CAST(DATE '2024-01-15' + to_days(CAST(c_custkey % 40 AS INT)) AS DATE) AS VARCHAR) AS d_plus, CAST(CAST(DATE '2024-01-31' + to_months(CAST(c_custkey % 5 AS INT)) AS DATE) AS VARCHAR) AS m_plus, CAST(c_nationkey AS VARCHAR) || ',-1,-1' AS resized FROM customer WHERE c_custkey < 500 ORDER BY c_custkey""",
    // toWeek mode 0 replayed arithmetically (DuckDB dayofweek is Sun=0,
    // so the year's first Sunday is day 1 + (7 - dow(jan1)) % 7); mode 3
    // is DuckDB's own ISO weekofyear — an independent implementation.
    "sql_ch_week" ->
      """WITH t AS (SELECT o_orderpriority, o_orderdate, CASE WHEN dayofyear(o_orderdate) < 1 + (7 - dayofweek(date_trunc('year', o_orderdate))) % 7 THEN 0 ELSE (dayofyear(o_orderdate) - (1 + (7 - dayofweek(date_trunc('year', o_orderdate))) % 7)) // 7 + 1 END AS w0 FROM orders) SELECT o_orderpriority, CASE substring(o_orderpriority, 1, 1) WHEN '1' THEN 'high' WHEN '2' THEN 'med' WHEN '3' THEN 'low' ELSE 'other' END AS prio_name, CAST(min(w0) AS BIGINT) AS min_w0, CAST(max(w0) AS BIGINT) AS max_w0, CAST(sum(w0) AS BIGINT) AS sum_w0, CAST(max(weekofyear(o_orderdate)) AS BIGINT) AS max_w3, CAST(sum(weekofyear(o_orderdate)) AS BIGINT) AS sum_w3 FROM t GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    // Daily fill: STEP 1 day makes per-gap re-anchoring coincide with
    // the global calendar spine, so the oracle uses one generate_series;
    // the INTERPOLATE carry is last_value(IGNORE NULLS) over real rows.
    "sql_ch_with_fill_date" ->
      """WITH base AS (SELECT CAST(o_orderdate AS DATE) AS d, CAST(count(*) AS BIGINT) AS n, CAST(max(CAST(o_custkey AS BIGINT)) AS BIGINT) AS ck FROM orders WHERE o_orderkey < 300 GROUP BY 1), cal AS (SELECT CAST(unnest(generate_series(CAST((SELECT min(d) FROM base) AS TIMESTAMP), CAST((SELECT max(d) FROM base) AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS d), j AS (SELECT cal.d AS d, coalesce(base.n, 0) AS n, base.ck AS ck FROM cal LEFT JOIN base ON cal.d = base.d) SELECT CAST(d AS VARCHAR) AS d, n, last_value(ck IGNORE NULLS) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ck FROM j ORDER BY d""",
    // Hourly fill: the 2-hour stride re-anchors PER GAP, so the oracle
    // generates each gap's series from its own left edge (exclusive
    // right bound via -1 microsecond on the inclusive generate_series).
    "sql_ch_with_fill_hour" ->
      """WITH base AS (SELECT date_trunc('hour', ts) AS h, CAST(count(*) AS BIGINT) AS n FROM events WHERE event_type = 'purchase' AND value < 15 GROUP BY 1), g2 AS (SELECT h, nh FROM (SELECT h, lead(h) OVER (ORDER BY h) AS nh FROM base) WHERE nh IS NOT NULL), fills AS (SELECT CAST(u.g AS TIMESTAMP) AS h FROM g2, LATERAL (SELECT unnest(generate_series(g2.h + INTERVAL 2 HOUR, g2.nh - INTERVAL 1 MICROSECOND, INTERVAL 2 HOUR)) AS g) u), allr AS (SELECT h, n FROM base UNION ALL SELECT h, 0 FROM fills) SELECT CAST(epoch_us(h) AS BIGINT) AS h_us, n FROM allr ORDER BY h_us""",
    "sql_ch_rollup" ->
      """SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus) ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""",
    "sql_ch_with_macro" ->
      """WITH big AS (SELECT l_linestatus AS ls, CAST(count(*) AS BIGINT) AS n_all FROM lineitem GROUP BY l_linestatus), av AS (SELECT avg(CAST(l_quantity AS BIGINT)) AS qty_avg FROM lineitem) SELECT l_linestatus, CAST(count(*) FILTER (WHERE l_quantity > 25) AS BIGINT) AS n_big, CAST(count(*) FILTER (WHERE l_returnflag = 'A') AS BIGINT) AS n_probe, CAST(count(*) FILTER (WHERE l_quantity > qty_avg) AS BIGINT) AS n_above_avg, max(n_all) AS n_all FROM lineitem CROSS JOIN av JOIN big ON l_linestatus = ls GROUP BY l_linestatus ORDER BY l_linestatus""",
    // DuckDB's replace() is replace-all; replaceOne is spelled as the
    // same locate-and-splice the engine composes.
    "sql_ch_sets" ->
      """SELECT doc_id, list_has_all(string_split(text, ' '), ['the', 'a']) AS has_the_a, list_has_any(string_split(text, ' '), ['zebra', 'the']) AS any_hit, coalesce(array_to_string(list_sort(list_intersect(list_distinct(string_split(text, ' ')), ['the', 'of', 'and'])), ','), '') AS stops, CAST(doc_id & 255 AS BIGINT) AS low_byte, CAST((doc_id & 15) << 2 AS BIGINT) AS nib2, CASE WHEN instr(text[1:40], ' ') = 0 THEN text[1:40] ELSE concat(text[1:40][1:instr(text[1:40], ' ') - 1], '_', text[1:40][instr(text[1:40], ' ') + 1:]) END AS first_gap, replace(text[1:20], 'e', '3') AS leeted FROM documents WHERE doc_id < 60 ORDER BY doc_id""",
    // Complete periods from boundary date_diff: subtract one when the
    // end's day-of-month (resp. month-day pair) precedes the anchor's.
    "sql_ch_age" ->
      """SELECT o_orderpriority, CAST(max(date_diff('month', DATE '1995-01-15', o_orderdate) - CASE WHEN day(o_orderdate) < 15 THEN 1 ELSE 0 END) AS BIGINT) AS max_age_m, CAST(min(date_diff('year', DATE '1995-01-15', o_orderdate) - CASE WHEN month(o_orderdate) * 100 + day(o_orderdate) < 115 THEN 1 ELSE 0 END) AS BIGINT) AS min_age_y, CAST(max(date_diff('day', DATE '1995-01-15', o_orderdate)) AS BIGINT) AS max_age_d, max(lpad(CAST(o_orderkey AS VARCHAR), 9, '0')) AS max_key_pad, min(trim(concat('  ', rpad(o_orderpriority, 12, '.'), ' '))) AS prio_padded FROM orders WHERE o_orderdate >= DATE '1995-01-15' GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    // The JSON legs are algebraic identities (extract ∘ build = id) the
    // oracle states directly; the Spark side runs the JsonPath machinery.
    "sql_ch_json" ->
      """SELECT event_type, epoch_us(ts) // 21600000000 * 21600 AS bucket6h_s, CAST(CAST(date_trunc('month', ts) AS DATE) AS VARCHAR) AS bucket_month, CAST(count(*) AS BIGINT) AS n, max(event_type) AS t_echo, CAST(max(user_id) AS BIGINT) AS max_u FROM events GROUP BY 1, 2, 3 ORDER BY 1, 2""",
    // dateDiff ≡ date_diff (end minus start); month diff over dates is
    // calendar-boundary counting in both engines at midnight anchors.
    "sql_ch_datediff" ->
      """SELECT o_orderpriority, CAST(max(date_diff('day', DATE '1995-01-01', o_orderdate)) AS BIGINT) AS max_days, CAST(min(date_diff('month', DATE '1995-01-01', o_orderdate)) AS BIGINT) AS min_months, max(strftime(o_orderdate, '%Y-%m-%d')) AS last_day, min(strftime(o_orderdate, '%Y/%m day=%d')) AS first_fmt, CAST(max(greatest(o_orderkey, o_custkey)) AS BIGINT) AS mx, CAST(min(least(o_orderkey, o_custkey)) AS BIGINT) AS mn, CAST(max(o_orderkey % 7) AS BIGINT) AS md FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    // DuckDB list_position returns NULL for missing where ClickHouse's
    // indexOf returns 0 — coalesced explicitly.
    "sql_ch_scalars" ->
      """SELECT doc_id, CAST(length(text) AS INTEGER) AS n_cp, upper(text[1:5]) AS head5, CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_uniq_terms, array_to_string(string_split(text, ' ')[1:3], '_') AS first3, CAST(coalesce(list_position(string_split(text, ' '), 'the'), 0) AS BIGINT) AS idx_the, len(list_filter(string_split(text, ' '), x -> x = 'zebra')) = 0 AS no_zebra, len(string_split(text, ' ')) > 0 AS has_terms, lang AS lang2 FROM documents WHERE doc_id < 50 ORDER BY doc_id""",
    // The zip leg is self-checking: tlen is computed BEFORE the zip on
    // the Spark side, AFTER the unnest here — equal only if the zip is
    // index-aligned.
    "sql_ch_array_join" ->
      """WITH t AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents), f AS (SELECT term, CAST(length(term) AS INTEGER) AS tlen, CAST(count(*) AS BIGINT) AS n FROM t GROUP BY 1, 2) SELECT term, tlen, n FROM f WHERE tlen >= 2 AND n >= 200 ORDER BY n DESC, term""",
    // WITH FILL replayed explicitly: generate_series over the result's
    // min/max, anti-join away the present days, zero-fill the rest.
    "sql_ch_with_fill" ->
      """WITH d AS (SELECT epoch_us(ts) // 86400000000 AS day, CAST(count(*) AS BIGINT) AS n_hi, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users FROM events WHERE event_type = 'purchase' AND value > 180 GROUP BY 1), b AS (SELECT min(day) AS lo, max(day) AS hi FROM d), s AS (SELECT unnest(generate_series(lo, hi)) AS day FROM b), f AS (SELECT day, CAST(0 AS BIGINT) AS n_hi, CAST(0 AS BIGINT) AS n_users FROM s WHERE day NOT IN (SELECT day FROM d)) SELECT day, n_hi, n_users FROM d UNION ALL SELECT day, n_hi, n_users FROM f ORDER BY day""",
    // INTERPOLATE replayed: generated days zero the count but CARRY the
    // last real day's metric via a max-day-at-or-before scalar lookup.
    "sql_ch_with_fill_interp" ->
      """WITH d AS (SELECT epoch_us(ts) // 86400000000 AS day, CAST(count(*) AS BIGINT) AS n, max(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS v_cents FROM events WHERE event_type = 'purchase' AND value > 150 GROUP BY 1), b AS (SELECT min(day) AS lo, max(day) AS hi FROM d), s AS (SELECT unnest(generate_series(lo, hi)) AS day FROM b), f AS (SELECT s.day, CAST(0 AS BIGINT) AS n, (SELECT v_cents FROM d WHERE d.day = (SELECT max(day) FROM d d2 WHERE d2.day <= s.day)) AS v_cents FROM s WHERE s.day NOT IN (SELECT day FROM d)) SELECT day, n, v_cents FROM d UNION ALL SELECT day, n, v_cents FROM f ORDER BY day""",
    // The chained linear recurrence has the closed form prev + 100*(day
    // - prev_day); the bare carry u rides the same max-at-or-before
    // lookup.
    "sql_ch_with_fill_interp2" ->
      """WITH d AS (SELECT epoch_us(ts) // 86400000000 AS day, CAST(count(*) AS BIGINT) AS n, max(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS v_cents, CAST(count(DISTINCT user_id) AS BIGINT) AS u FROM events WHERE event_type = 'purchase' AND value > 150 GROUP BY 1), b AS (SELECT min(day) AS lo, max(day) AS hi FROM d), s AS (SELECT unnest(generate_series(lo, hi)) AS day FROM b), f AS (SELECT s.day, CAST(0 AS BIGINT) AS n, (SELECT v_cents + 100 * (s.day - d.day) FROM d WHERE d.day = (SELECT max(day) FROM d d2 WHERE d2.day <= s.day)) AS v_cents, (SELECT u FROM d WHERE d.day = (SELECT max(day) FROM d d2 WHERE d2.day <= s.day)) AS u FROM s WHERE s.day NOT IN (SELECT day FROM d)) SELECT day, n, v_cents, u FROM d UNION ALL SELECT day, n, v_cents, u FROM f ORDER BY day""",
    // The URL family replayed with plain regexes over the SAME in-query
    // constructed URLs — the mapping is pinned by value, not parser trust.
    "sql_ch_url" ->
      """WITH u AS (SELECT 'https://www.shop-' || CAST(o_orderkey % 7 AS VARCHAR) || '.example.com:' || CAST(8000 + o_orderkey % 2 AS VARCHAR) || '/' || replace(o_orderpriority, ' ', '_') || '/item-' || CAST(o_orderkey % 13 AS VARCHAR) || '?p=' || replace(o_orderpriority, ' ', '_') || '&s=' || o_orderstatus || '#sec-' || CAST(o_orderkey % 3 AS VARCHAR) AS url FROM orders), d AS (SELECT url, regexp_extract(url, '^https://([^/:?#]+)', 1) AS dom, regexp_extract(url, '^[a-z]+://[^/?#]*(/[^?#]*)', 1) AS pth, regexp_extract(url, '\?([^#]*)', 1) AS qs, regexp_extract(url, '#(.*)$', 1) AS frag, regexp_extract(url, '[?&]s=([^&#]*)', 1) AS sparam FROM u) SELECT dom, regexp_replace(dom, '^www\.', '') AS dom2, 'https' AS proto, min(pth) AS min_path, max(pth || '?' || qs) AS max_pathq, min(qs) AS min_qs, max(frag) AS max_frag, min(sparam) AS min_s, '' AS max_absent, max(regexp_replace(url, '\?[^#]*', '')) AS max_cutq, min(regexp_extract(url, '^([^#]*)', 1)) AS min_cutf, min(regexp_extract(url, '^([^?#]*)', 1)) AS min_cut2, max(regexp_extract(dom, '\.([^.]+)$', 1)) AS tld, CAST(min(CAST(regexp_extract(url, '://[^/]*:([0-9]+)', 1) AS INTEGER)) AS BIGINT) AS min_port, CAST(9 AS BIGINT) AS dflt_port, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY dom, dom2, proto ORDER BY dom""",
    "sql_ch_strings2" ->
      """SELECT doc_id, CAST(strpos(lower(text), 'table') AS BIGINT) AS pos_table, CAST(strpos(text, 'row') AS BIGINT) AS pos_row, CAST((length(text) - length(replace(text, 'an', ''))) // 2 AS BIGINT) AS n_an, regexp_matches(text, 'hash|merge') AS has_hm, coalesce(array_to_string(regexp_extract_all(text, '[a-z]{6,}')[1:3], ','), '') AS first3_long, coalesce(array_to_string(regexp_extract_all(substr(text, 1, 60), 'a([a-z])', 1)[1:4], ''), '') AS after_a, (contains(text, 'spark') OR contains(text, 'flink') OR contains(text, 'zzz')) AS has_engine, to_base64(encode(lang)) AS b64, source AS rt, '' AS bad, upper(sha256(source)) AS sha_hex, replace(substr(text, 1, 12), ' ', '%20') AS enc, substr(text, 1, 12) AS dec_rt, array_to_string(list_filter(string_split_regex(substr(text, 1, 30), '[^a-zA-Z0-9]+'), x -> len(x) > 0)[1:4], '/') AS toks, CAST(len(regexp_extract_all(text, '[aeiou]{2}')) AS BIGINT) AS nvv, regexp_extract(text, '([a-z]{5}) ', 1) AS first5, array_to_string(list_filter(string_split_regex(substr(text, 1, 25), '\s+'), x -> len(x) > 0)[1:3], '/') AS ws3 FROM documents WHERE doc_id < 60 ORDER BY doc_id""",
    "sql_ch_dates2" ->
      """SELECT o_orderpriority, CAST(max(CAST(date_trunc('week', o_orderdate) AS DATE)) AS VARCHAR) AS max_monday, CAST(min(last_day(CAST(o_orderdate AS DATE))) AS VARCHAR) AS min_eom, CAST(max(quarter(o_orderdate)) AS BIGINT) AS max_q, CAST(max(dayofyear(o_orderdate)) AS BIGINT) AS max_doy, CAST(sum(isodow(o_orderdate)) AS BIGINT) AS sum_dow0, CAST(sum(isodow(o_orderdate) - 1) AS BIGINT) AS sum_dow1, CAST(sum(dayofweek(o_orderdate)) AS BIGINT) AS sum_dow2, CAST(sum(dayofweek(o_orderdate) + 1) AS BIGINT) AS sum_dow3, CAST(max(CAST(o_orderdate + INTERVAL 45 DAY AS DATE)) AS VARCHAR) AS max_plus45, CAST(min(CAST(o_orderdate - INTERVAL 2 MONTH AS DATE)) AS VARCHAR) AS min_minus2m, CAST(max(floor(epoch(o_orderdate) / 86400)) AS BIGINT) AS max_rel_day, CAST(min(floor(epoch(o_orderdate) / 3600)) AS BIGINT) AS min_rel_hour, CAST(max(epoch(o_orderdate + INTERVAL 6 HOUR)) AS BIGINT) AS max_plus6h FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    // Moments two-pass (the engine's are one-pass) — agreement at the
    // 1e-4 scale is the drift bound stated in the query's scaladoc; the
    // weighted median is a cumulative-weight window reconstruction of
    // the discrete >=-crossing rule.
    "sql_ch_agg2" ->
      """WITH base AS (SELECT l_returnflag AS rf, CAST(l_quantity AS DOUBLE) AS q, CAST(l_extendedprice AS DOUBLE) AS p, CAST(l_quantity AS BIGINT) AS qi, CAST(l_linenumber AS BIGINT) AS w, l_suppkey % 10 AS sk, l_suppkey % 8 AS sk8, CAST(l_orderkey AS BIGINT) * 10 + CAST(l_linenumber AS BIGINT) AS ux FROM lineitem), m AS (SELECT rf, avg(p) AS mp FROM base GROUP BY rf), mom AS (SELECT b.rf, sum((p - mp)*(p - mp)) / count(*) AS m2, sum((p - mp)*(p - mp)*(p - mp)) / count(*) AS m3, sum((p - mp)*(p - mp)*(p - mp)*(p - mp)) / count(*) AS m4 FROM base b JOIN m ON b.rf = m.rf GROUP BY b.rf), wm AS (SELECT rf, qi AS x, sum(w) AS wt FROM base GROUP BY rf, qi), wc AS (SELECT rf, x, sum(wt) OVER (PARTITION BY rf ORDER BY x) AS acc, sum(wt) OVER (PARTITION BY rf) AS tot FROM wm), wq AS (SELECT rf, min(x) AS wmed FROM wc WHERE acc >= 0.5 * tot GROUP BY rf), br AS (SELECT rf, ((max(row(ux, p)))[2] - (min(row(ux, p)))[2]) / (CAST(max(ux) AS DOUBLE) - CAST(min(ux) AS DOUBLE)) AS brv FROM base GROUP BY rf), ag AS (SELECT rf, sum(p * qi) / CAST(sum(qi) AS DOUBLE) AS avgw, least(count(DISTINCT sk), 4) AS up3, least(count(DISTINCT sk), 21) AS up20, CAST(sum(qi) AS BIGINT) AS sc_sum, CAST(count(qi) AS BIGINT) AS sc_n, CAST(count(DISTINCT sk) AS BIGINT) AS cd, stddev_pop(q) AS sdp, var_samp(q) AS vsm, covar_pop(q, p) AS cvp, regr_slope(p, q) AS slope, regr_intercept(p, q) AS icept, CAST(list_sort(list(qi))[CAST(least(floor(0.3 * count(*)), count(*) - 1) AS BIGINT) + 1] AS BIGINT) AS qlo, CAST(list_sort(list(qi))[CAST(least(floor(0.3 * count(*)), count(*) - 1) AS BIGINT) + 1] AS BIGINT) AS qhi, CAST(floor(entropy(sk8) * 10000 + 0.5) AS BIGINT) AS ent_4 FROM base GROUP BY rf) SELECT ag.rf AS l_returnflag, CAST(floor(avgw * 100 + 0.5) AS BIGINT) AS avgw_cents, CAST(up3 AS BIGINT) AS up3, CAST(up20 AS BIGINT) AS up20, sc_sum, sc_n, cd, CAST(floor(sdp * 10000 + 0.5) AS BIGINT) AS sd_4, CAST(floor(vsm * 10000 + 0.5) AS BIGINT) AS vs_4, CAST(floor(cvp * 100 + 0.5) AS BIGINT) AS cov_cents, CAST(floor(m3 / (m2 * sqrt(m2)) * 10000 + 0.5) AS BIGINT) AS skew_4, CAST(floor(m4 / (m2 * m2) * 10000 + 0.5) AS BIGINT) AS kurt_4, CAST(floor(slope * 10000 + 0.5) AS BIGINT) AS slope_4, CAST(floor(icept * 100 + 0.5) AS BIGINT) AS icept_cents, CAST(floor(brv * 10000 + 0.5) AS BIGINT) AS br_4, CAST(wmed AS BIGINT) AS wmed, CAST(wmed AS BIGINT) AS wmed2, qlo, qhi, ent_4 FROM ag JOIN mom ON ag.rf = mom.rf JOIN wq ON ag.rf = wq.rf JOIN br ON ag.rf = br.rf ORDER BY l_returnflag""",
    "sql_ch_arrays2" ->
      """WITH a AS (SELECT l_orderkey AS okey, list_sort(list(CAST(l_suppkey % 3 AS BIGINT))) AS ms, list_sort(list(CAST(l_linenumber AS BIGINT))) AS ln FROM lineitem WHERE l_orderkey < 2000 GROUP BY l_orderkey) SELECT CAST(okey AS BIGINT) AS okey, CAST(list_aggregate(ln, 'sum') AS BIGINT) AS s, CAST(floor(list_aggregate(ln, 'avg') * 100 + 0.5) AS BIGINT) AS avg_c, CAST(floor(list_aggregate(ln, 'product') + 0.5) AS BIGINT) AS prod_i, CAST(list_filter(ln, x -> x > 2)[1] AS BIGINT) AS first_gt2, CAST(coalesce(list_position(list_transform(ln, x -> x > 2), true), 0) AS BIGINT) AS fidx, CAST(CASE WHEN coalesce(list_position(list_transform(list_reverse(ln), x -> x > 2), true), 0) = 0 THEN 0 ELSE len(ln) - list_position(list_transform(list_reverse(ln), x -> x > 2), true) + 1 END AS BIGINT) AS lidx, array_to_string(list_sort(list_distinct(ms)), ',') AS compacted, array_to_string(list_append(ln[2:], 99), ',') AS shifted, array_to_string(list_prepend(0, ln[1:len(ln)-1]), ',') AS shifted2, array_to_string([okey % 5, okey % 5, okey % 5], ',') AS const3, array_to_string(generate_series(1, len(ln)), ',') AS enumd, CASE WHEN okey % 4 <= 0 THEN '' ELSE array_to_string(generate_series(0, okey % 4 - 1), ',') END AS rng, array_to_string(list_reverse(ln), ',') AS revd, array_to_string(list_sort(list_distinct(ms)), ',') AS dist FROM a ORDER BY okey""",
    "sql_ch_vector" ->
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0), e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 200), p AS (SELECT e.vec_id, CAST(e.embedding[i] AS DOUBLE) AS x, CAST(q.qe[i] AS DOUBLE) AS y FROM e CROSS JOIN q CROSS JOIN UNNEST(generate_series(1, len(e.embedding))) AS t(i)), d AS (SELECT vec_id, sum(x * y) AS dot, sum(abs(x - y)) AS l1, sum((x - y) * (x - y)) AS l2s, max(abs(x - y)) AS linf, sum(x * x) AS na, sum(y * y) AS nb FROM p GROUP BY vec_id), j AS (SELECT e.vec_id, CAST(len(list_intersect(list_transform(e.embedding, v -> CAST(floor(CAST(v AS DOUBLE) * 10) AS BIGINT)), list_transform(q.qe, v -> CAST(floor(CAST(v AS DOUBLE) * 10) AS BIGINT)))) AS DOUBLE) / len(list_distinct(list_concat(list_transform(e.embedding, v -> CAST(floor(CAST(v AS DOUBLE) * 10) AS BIGINT)), list_transform(q.qe, v -> CAST(floor(CAST(v AS DOUBLE) * 10) AS BIGINT))))) AS jac FROM e CROSS JOIN q) SELECT d.vec_id, CAST(floor(dot * 1000 + 0.5) AS BIGINT) AS dot_3, CAST(floor((1.0 - dot / (sqrt(na) * sqrt(nb))) * 100000 + 0.5) AS BIGINT) AS cos_5, CAST(floor(sqrt(l2s) * 1000 + 0.5) AS BIGINT) AS l2_3, CAST(floor(l2s * 1000 + 0.5) AS BIGINT) AS l2s_3, CAST(floor(l1 * 1000 + 0.5) AS BIGINT) AS l1_3, CAST(floor(linf * 1000 + 0.5) AS BIGINT) AS linf_3, CAST(floor(jac * 10000 + 0.5) AS BIGINT) AS jac_4 FROM d JOIN j ON d.vec_id = j.vec_id ORDER BY d.vec_id""",
    // The conversion family's rules re-derived as direct expected
    // values (NULL/0/default lanes spelled out), not a re-implementation
    // of the parse — the independent-oracle discipline.
    "sql_ch_conv" ->
      """SELECT o_orderkey AS k, CAST(o_orderkey AS INTEGER) AS i32, CAST(NULL AS INTEGER) AS i32_pad, CAST(NULL AS INTEGER) AS i32_frac, CAST(0 AS INTEGER) AS i32_zero, CAST(-7 AS INTEGER) AS i32_def, CAST(NULL AS INTEGER) AS i32_over, CAST(CASE WHEN o_orderkey % 300 <= 255 THEN o_orderkey % 300 END AS SMALLINT) AS u8, CAST(o_orderkey * 7 AS INTEGER) AS u16, CAST(NULL AS BIGINT) AS u32_neg, CAST(o_orderkey + 4294967295 AS VARCHAR) AS u64_big, CAST(o_orderkey AS DOUBLE) + 0.25 AS f64, CASE o_orderkey % 3 WHEN 0 THEN 'Infinity' WHEN 1 THEN '-Infinity' ELSE 'NaN' END AS f64_spec, CAST(0 AS REAL) AS f32_zero, CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS d_ok, '1970-01-01' AS d_zero, CAST(epoch(CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP) + INTERVAL 12 HOUR + INTERVAL 30 MINUTE) AS BIGINT) AS dt_epoch FROM orders WHERE o_orderkey < 400 ORDER BY k""",
    "sql_ch_parse_dt" ->
      """SELECT o_orderkey AS k, CAST(epoch(CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP)) AS BIGINT) AS rt_epoch, CAST(NULL AS BIGINT) AS p_bad, CAST(0 AS BIGINT) AS p_zero, CAST(epoch(CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP)) + 8*3600 + 15*60 + 30 AS BIGINT) AS be_iso, CAST(epoch(CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP)) AS BIGINT) AS be_dot, CAST(1000000000 + o_orderkey AS BIGINT) AS be_unix, CAST(NULL AS BIGINT) AS be_null, CAST(epoch(CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP)) AS BIGINT) AS be_slash FROM orders WHERE o_orderkey < 400 ORDER BY k""",
    // IPv4 octets and /20 bounds re-derived with integer arithmetic —
    // no IP parser on the oracle side.
    "sql_ch_ip" ->
      """WITH s AS (SELECT o_orderkey AS k, (o_orderkey * 2654435761) % 4294967296 AS n FROM orders WHERE o_orderkey < 400) SELECT k, CAST(n // 16777216 AS VARCHAR) || '.' || CAST((n // 65536) % 256 AS VARCHAR) || '.' || CAST((n // 256) % 256 AS VARCHAR) || '.' || CAST(n % 256 AS VARCHAR) AS ip, CAST(n AS BIGINT) AS rt, true AS ok, false AS five_octets, CAST(NULL AS BIGINT) AS bad, CAST(0 AS BIGINT) AS dflt, CAST(n - n % 4096 AS BIGINT) AS cidr_lo, CAST(n - n % 4096 + 4095 AS BIGINT) AS cidr_hi FROM s ORDER BY k""",
    // IPv6 lanes re-derived with printf/concat hex arithmetic — the
    // oracle RECONSTRUCTS each canonical form from the same group
    // values, it never parses an address; the compression boundary
    // lanes are constants pinned straight from RFC 5952.
    "sql_ch_ip6" ->
      """WITH s AS (SELECT o_orderkey AS k, o_orderkey % 65535 + 1 AS g1, (o_orderkey * 31) % 65535 + 1 AS g2, (o_orderkey * 101) % 65535 + 1 AS g3, (o_orderkey * 257) % 65535 + 1 AS g4, (o_orderkey * 1021) % 65535 + 1 AS g5, (o_orderkey * 4099) % 65535 + 1 AS g6, (o_orderkey * 16381) % 65535 + 1 AS g7, (o_orderkey * 65521) % 65535 + 1 AS g8, (o_orderkey * 2654435761) % 4294967296 AS n FROM orders WHERE o_orderkey < 400) SELECT k, printf('%x',g1)||':'||printf('%x',g2)||':'||printf('%x',g3)||':'||printf('%x',g4)||':'||printf('%x',g5)||':'||printf('%x',g6)||':'||printf('%x',g7)||':'||printf('%x',g8) AS full8, '2a02:'||printf('%x',g1)||'::'||printf('%x',g2) AS comp, '2A02'||upper(printf('%04x',g1))||'00000000000000000000'||upper(printf('%04x',g2)) AS rt_hex, '::ffff:'||CAST(n // 16777216 AS VARCHAR)||'.'||CAST((n // 65536) % 256 AS VARCHAR)||'.'||CAST((n // 256) % 256 AS VARCHAR)||'.'||CAST(n % 256 AS VARCHAR) AS mapped, '00000000000000000000FFFF01020304' AS mapped_hex, true AS ok, false AS v4_not_v6, CAST(NULL AS VARCHAR) AS bad, '00000000000000000000000000000000' AS dflt_hex, '::' AS all_zero, '::1' AS loopback, '1::2:0:0:3:4' AS tie, '0:0:1:2::3' AS longest, '1:2:3:0:5:6:7:8' AS single_zero, '::102:304' AS compat, '1:2:3:4:5:6:4d4d:5863' AS tail, 'ffff:ffff:ffff:ffff:ffff:ffff:ffff:ffff' AS max_addr, false AS bad_expand, '::ffff:0.0.0.0' AS mapped_zero, '2a02:'||printf('%x',g1)||'::' AS cidr64_lo, '2a02:'||printf('%x',g1)||'::ffff:ffff:ffff:ffff' AS cidr64_hi, '::' AS cidr0_lo, 'ffff:ffff:ffff:ffff:ffff:ffff:ffff:ffff' AS cidr0_hi, '2a02:'||printf('%x',g1)||'::'||printf('%x',g2) AS cidr128_hi FROM s ORDER BY k""",
    // DuckDB's levenshtein/hamming/jaccard are independent
    // implementations of the SAME definitions (probed: jaccard is
    // distinct-character sets, hamming equal-length positions).
    "sql_ch_strdist" ->
      """SELECT doc_id, CAST(levenshtein(substr(text, 1, 12), substr(text, 20, 12)) AS BIGINT) AS lev, CAST(levenshtein(lang, source) AS BIGINT) AS lev2, CAST(hamming(substr(text, 1, 10), substr(text, 11, 10)) AS BIGINT) AS ham, CAST(floor(jaccard(substr(text, 1, 40), substr(text, 41, 40)) * 10000 + 0.5) AS BIGINT) AS jac_4, CAST(floor(jaccard(lang, source) * 10000 + 0.5) AS BIGINT) AS jac2_4, array_to_string(regexp_extract_all(substr(text, 1, 30), '[a-zA-Z]+')[1:4], '/') AS alpha4, lang || source || '|' || source || lang AS shingles2 FROM documents WHERE doc_id < 150 ORDER BY doc_id""",
    // Every value re-derived from the source columns directly — the
    // oracle never parses the JSON it is checking.
    "sql_ch_json2" ->
      """SELECT o_orderkey AS k, true AS has_q, false AS has_zz, true AS has_tag2, false AS has_tag3, CAST(2 AS BIGINT) AS n_tags, CAST(3 AS BIGINT) AS n_doc, CAST(0 AS BIGINT) AS n_scalar, CAST(o_orderkey AS VARCHAR) AS raw_k, '"' || o_orderstatus || '"' AS raw_tag1, 'null' AS raw_q, '' AS raw_missing, '"' || o_orderstatus || '"|"' || o_orderpriority || '"' AS tags_raw, 'k,tags,meta' AS keys_doc, 'p,q' AS keys_meta FROM orders WHERE o_orderkey < 400 ORDER BY k""",
    "sql_ch_vector2" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS ve FROM embeddings WHERE vec_id < 300) SELECT vec_id, CAST(floor(list_aggregate(list_transform(ve, x -> abs(x)), 'sum') * 1000 + 0.5) AS BIGINT) AS l1_3, CAST(floor(sqrt(list_aggregate(list_transform(ve, x -> x * x), 'sum')) * 1000 + 0.5) AS BIGINT) AS l2_3, CAST(floor(list_aggregate(list_transform(ve, x -> x * x), 'sum') * 1000 + 0.5) AS BIGINT) AS l2s_3, CAST(floor(list_aggregate(list_transform(ve, x -> abs(x)), 'max') * 1000 + 0.5) AS BIGINT) AS linf_3, CAST(floor(ve[1] / sqrt(list_aggregate(list_transform(ve, x -> x * x), 'sum')) * 100000 + 0.5) AS BIGINT) AS unit0_5, array_to_string(list_reverse(list_sort(list_transform(ve[1:6], v -> CAST(floor(v * 10) AS BIGINT)))), ',') AS rsorted, (SELECT CAST(floor(sum(CASE WHEN ve[i] > ve[j] THEN 1.0 WHEN ve[i] = ve[j] THEN 0.5 ELSE 0.0 END) / 16 * 1000000 + 0.5) AS BIGINT) FROM UNNEST([1, 3, 5, 7]) t(i) CROSS JOIN UNNEST([2, 4, 6, 8]) u(j)) AS auc_6 FROM e ORDER BY vec_id""",
    // The star expansion spelled by hand, with APPLY's func(col)
    // output names as quoted aliases.
    // LTTB invariants (size, endpoints, subset) — the exact selection
    // is pinned by the in-suite reference-algorithm differential.
    "sql_ch_lttb" ->
      """SELECT event_type, CAST(least(40, count(*)) AS BIGINT) AS n_out, CAST(min(epoch_us(ts) // 1000000) AS BIGINT) AS first_x, CAST(max(epoch_us(ts) // 1000000) AS BIGINT) AS last_x, true AS subset_ok FROM events GROUP BY event_type ORDER BY event_type""",
    // The documented 4-gram multiset algebra reconstructed RELATIONALLY
    // (UNNEST gram positions -> GROUP BY gram -> sum(least(counts))) —
    // an independent spelling of the same definition, no lambdas, with
    // the <4-char empty-gram lane falling out of generate_series(1, n<1)
    // being empty. ASCII data makes byte grams == character grams; the
    // case-insensitive legs lower both sides (already-lowercase text
    // makes ASCII-vs-Unicode lowering moot here; the multibyte boundary
    // is pinned in ClickHouseSqlSpec).
    "sql_ch_ngram" ->
      """WITH d AS (SELECT doc_id, substr(text, 1, 24) AS a1, substr(text, 25, 24) AS b1, substr(text, 1, 16) AS a2, substr(text, 9, 16) AS b2, lang AS a3, source AS b3, text AS a4, replace(substr(text, 10, 12), 'a', 'e') AS b4 FROM documents WHERE doc_id < 120), p AS (SELECT doc_id, 1 AS pid, a1 AS a, b1 AS b FROM d UNION ALL SELECT doc_id, 2, a2, b2 FROM d UNION ALL SELECT doc_id, 3, a3, b3 FROM d UNION ALL SELECT doc_id, 4, a4, b4 FROM d), ga AS (SELECT doc_id, pid, substr(a, CAST(i AS INTEGER), 4) AS g, count(*) AS c FROM p CROSS JOIN UNNEST(generate_series(1, length(a) - 3)) AS t(i) GROUP BY doc_id, pid, g), gb AS (SELECT doc_id, pid, substr(b, CAST(i AS INTEGER), 4) AS g, count(*) AS c FROM p CROSS JOIN UNNEST(generate_series(1, length(b) - 3)) AS t(i) GROUP BY doc_id, pid, g), cm AS (SELECT ga.doc_id, ga.pid, sum(least(ga.c, gb.c)) AS common FROM ga JOIN gb ON ga.doc_id = gb.doc_id AND ga.pid = gb.pid AND ga.g = gb.g GROUP BY ga.doc_id, ga.pid), m AS (SELECT p.doc_id, p.pid, greatest(length(a) - 3, 0) AS na, greatest(length(b) - 3, 0) AS nb, coalesce(cm.common, 0) AS c FROM p LEFT JOIN cm ON p.doc_id = cm.doc_id AND p.pid = cm.pid), v AS (SELECT doc_id, pid, CAST(na + nb - 2 * c AS DOUBLE) / greatest(na + nb, 1) AS dist, CAST(c AS DOUBLE) / greatest(nb, 1) AS srch FROM m) SELECT doc_id, CAST(floor(max(CASE WHEN pid = 1 THEN dist END) * 10000 + 0.5) AS BIGINT) AS nd_4, CAST(floor(max(CASE WHEN pid = 2 THEN dist END) * 10000 + 0.5) AS BIGINT) AS ndci_4, CAST(floor(max(CASE WHEN pid = 3 THEN dist END) * 10000 + 0.5) AS BIGINT) AS nd_tiny_4, CAST(floor(max(CASE WHEN pid = 4 THEN srch END) * 10000 + 0.5) AS BIGINT) AS ns_4, CAST(floor(max(CASE WHEN pid = 4 THEN srch END) * 10000 + 0.5) AS BIGINT) AS nsci_4 FROM v GROUP BY doc_id ORDER BY doc_id""",
    // Calendar arithmetic replayed on DuckDB's independent to_days/
    // to_months/to_hours interval functions; hasSubstr's dynamic lane
    // re-derived arithmetically ([k3,1,k5] contains [k4,1] contiguously
    // iff k4=k3 at position 1, or k4=1 and k5=1 at position 2).
    "sql_ch_dateadd" ->
      """SELECT o_orderkey AS k, CAST(CAST(CAST(o_orderdate AS DATE) + to_days(CAST(o_orderkey % 40 AS INTEGER)) AS DATE) AS VARCHAR) AS d_day, CAST(CAST(CAST(o_orderdate AS DATE) + to_months(2) AS DATE) AS VARCHAR) AS d_mon, CAST(floor(epoch(o_orderdate + to_hours(CAST(o_orderkey % 50 AS INTEGER)))) AS BIGINT) AS ts_hr, CAST(CAST(CAST(o_orderdate AS DATE) - to_days(7) AS DATE) AS VARCHAR) AS d_wk, CAST(floor(epoch(o_orderdate - to_minutes(30))) AS BIGINT) AS ts_min, true AS hs_t, false AS hs_f, (o_orderkey % 4 = o_orderkey % 3) OR (o_orderkey % 4 = 1 AND o_orderkey % 5 = 1) AS hs_dyn FROM orders WHERE o_orderkey < 400 ORDER BY k""",
    // Every indexing lane re-derived from the same building blocks —
    // the oracle holds no array at all. adyn walks k%4+1 over indexes
    // 1..4 (4 is out of bounds -> NULL); the literal subscript and the
    // map lanes are constants per row.
    "sql_ch_index" ->
      """SELECT o_orderkey AS k, CAST(o_orderkey % 3 AS VARCHAR) AS a1, CAST(o_orderkey % 5 AS VARCHAR) AS al, CASE o_orderkey % 4 + 1 WHEN 1 THEN CAST(o_orderkey % 3 AS VARCHAR) WHEN 2 THEN 'mid' WHEN 3 THEN CAST(o_orderkey % 5 AS VARCHAR) ELSE CAST(NULL AS VARCHAR) END AS adyn, CAST(NULL AS VARCHAR) AS oob, 'y' AS lit2, CAST(o_orderkey % 7 AS BIGINT) AS mp, CAST(NULL AS BIGINT) AS mabs FROM orders WHERE o_orderkey < 400 ORDER BY k""",
    // Every URL value re-derived from the same building blocks the
    // query constructs the URL from — the oracle never parses a URL.
    // The medians are re-derived by the sorted-index definition
    // (row_number over ORDER BY), an independent spelling.
    "sql_ch_url2" ->
      """WITH u AS (SELECT o_orderkey AS k, o_orderkey % 5 AS k5, o_orderkey % 7 AS k7, 8080 + o_orderkey % 2 AS prt, o_orderkey % 3 AS k3, o_orderkey % 4 AS k4, o_orderstatus AS st, o_orderkey % 2 AS k2 FROM orders WHERE o_orderkey < 300), agg AS (SELECT CAST(min(CASE WHEN rn = (n - 1) // 2 + 1 THEN v END) AS BIGINT) AS mlo, CAST(min(CASE WHEN rn = n // 2 + 1 THEN v END) AS BIGINT) AS mhi FROM (SELECT o_orderkey % 97 AS v, row_number() OVER (ORDER BY o_orderkey % 97) AS rn, count(*) OVER () AS n FROM orders WHERE o_orderkey < 300)) SELECT k, 'u' || k5 || ':pw@host-' || k7 || '.example.com:' || prt AS nl, 'p=' || k4 || '&q=' || st || '&p2=x#f' || k2 AS qsf, '#only-frag' AS qsf_noq, 'p=' || k4 || '|q=' || st || '|p2=x' AS params, 'p,q,p2' AS names, 'https://u' || k5 || ':pw@host-' || k7 || '.example.com:' || prt || '/a/b-' || k3 || '?p=' || k4 || '&p2=x#f' || k2 AS cut_mid, 'https://u' || k5 || ':pw@host-' || k7 || '.example.com:' || prt || '/a/b-' || k3 || '?q=' || st || '&p2=x#f' || k2 AS cut_first, 'https://u' || k5 || ':pw@host-' || k7 || '.example.com:' || prt || '/a/b-' || k3 || '?p=' || k4 || '&q=' || st || '#f' || k2 AS cut_last, 'https://u' || k5 || ':pw@host-' || k7 || '.example.com:' || prt || '/a/b-' || k3 || '?p=' || k4 || '&q=' || st || '&p2=x#f' || k2 AS cut_absent, mlo, mhi, CAST(1500 AS BIGINT) AS dp FROM u CROSS JOIN agg ORDER BY k""",
    // Every hierarchy prefix re-derived from the same URL building
    // blocks by concatenation — the oracle never scans for separators;
    // the constant lanes are the docs' own example plus the stated
    // corners spelled out literally.
    "sql_ch_url3" ->
      """WITH u AS (SELECT o_orderkey AS k, 'https://ex' || CAST(o_orderkey % 5 AS VARCHAR) || '.com' AS hst, '/cat' || CAST(o_orderkey % 7 AS VARCHAR) || '/' AS seg1, 'item' || CAST(o_orderkey AS VARCHAR) AS seg2, CASE WHEN o_orderkey % 3 = 0 THEN '?p=' || CAST(o_orderkey AS VARCHAR) ELSE '' END AS qs FROM orders WHERE o_orderkey < 400) SELECT k, CASE WHEN qs = '' THEN hst || '/' || '|' || hst || seg1 || '|' || hst || seg1 || seg2 ELSE hst || '/' || '|' || hst || seg1 || '|' || hst || seg1 || seg2 || '?' || '|' || hst || seg1 || seg2 || qs END AS h, CASE WHEN qs = '' THEN seg1 || '|' || seg1 || seg2 ELSE seg1 || '|' || seg1 || seg2 || '?' || '|' || seg1 || seg2 || qs END AS p, 'https://example.com/|https://example.com/browse/|https://example.com/browse/CONV-6788' AS doc_ex, '/browse/|/browse/CONV-6788' AS doc_ex_p, '' AS no_path, 'https://example.com/' AS root_only, '' AS root_only_p, 'https://e.com/|https://e.com/a//|https://e.com/a//b/?|https://e.com/a//b/?q=1&r=2' AS runs, '/a//|/a//b/?|/a//b/?q=1&r=2' AS runs_p, 'https://e.com/|https://e.com/a#frag/|https://e.com/a#frag/x' AS frag, 'e.com/|e.com/a/|e.com/a/b' AS schemeless FROM u ORDER BY k""",
    // The NULL-propagation lanes are SPELLED OUT with CASE (DuckDB's
    // greatest/least skip nulls like Spark's — the independent oracle
    // derives ClickHouse's rule by hand); gcd/lcm ride DuckDB's own
    // implementations (abs() on the negative lane pins OUR stated
    // non-negative contract); CIDR lanes re-derive by arithmetic and
    // construction.
    "sql_ch_misc2" ->
      """WITH s AS (SELECT o_orderkey AS k, (o_orderkey * 2654435761) % 4294967296 AS n FROM orders WHERE o_orderkey < 400) SELECT k, CASE WHEN k % 5 = 0 THEN NULL ELSE k + 3 END AS g_null, CASE WHEN k % 11 = 0 THEN NULL ELSE least(k % 7, k % 5) END AS l_null, least(k % 7, k % 5, k % 3) AS l_ok, CAST(gcd(k + 1, k % 12 + 1) AS BIGINT) AS gcd1, CAST(gcd(k % 4, k % 8) AS BIGINT) AS gcd_zero, CAST(abs(gcd(-(k + 2), k % 9 + 1)) AS BIGINT) AS gcd_neg, CAST(lcm(k % 6 + 1, k % 4 + 1) AS BIGINT) AS lcm1, CAST(lcm(k % 3, 4) AS BIGINT) AS lcm_zero, (n >= 2147483648) AS ipr_half, true AS ipr_all, true AS ipr_v6_hit, false AS ipr_v6_miss, false AS ipr_mix, false AS ipr_bad, CAST(k % 3 AS VARCHAR) || ',7,9,11' AS uni, true AS sw, (k % 10 = 7) AS ew FROM s ORDER BY k""",
    // Buckets re-derived as CASE chains from the same documented
    // tables; positions via DuckDB's own strpos (ASCII lanes, so byte
    // == char); the power of two via floor(log2) — IEEE-exact at this
    // range, independently of the engine's bit kernel.
    "sql_ch_round" ->
      """WITH s AS (SELECT o_orderkey AS k, o_orderkey % 4 + 1 AS m, repeat('x', CAST(o_orderkey % 4 + 1 AS INTEGER)) || 'ab' || CAST(o_orderkey % 10 AS VARCHAR) || 'cd' AS str FROM orders WHERE o_orderkey < 400) SELECT k, CAST(strpos(str, 'ab') AS VARCHAR) || ',0,' || CAST(strpos(str, 'cd') AS VARCHAR) AS pos_all, CAST(strpos(str, 'ab') AS BIGINT) AS pos_first, CAST(0 AS BIGINT) AS pos_none, CAST(pow(2, floor(log2(k + 1))) AS BIGINT) AS exp2, CAST(0 AS BIGINT) AS exp2_neg, CAST(CASE WHEN k % 50 >= 40 THEN 40 WHEN k % 50 >= 20 THEN 20 WHEN k % 50 >= 10 THEN 10 ELSE 0 END AS BIGINT) AS rdown, CAST(1 AS BIGINT) AS rdown_low, CAST(CASE WHEN k % 700 >= 600 THEN 600 WHEN k % 700 >= 300 THEN 300 WHEN k % 700 >= 240 THEN 240 WHEN k % 700 >= 180 THEN 180 WHEN k % 700 >= 120 THEN 120 WHEN k % 700 >= 60 THEN 60 WHEN k % 700 >= 30 THEN 30 WHEN k % 700 >= 10 THEN 10 WHEN k % 700 >= 1 THEN 1 ELSE 0 END AS BIGINT) AS rdur, CAST(CASE WHEN k % 90 >= 55 THEN 55 WHEN k % 90 >= 45 THEN 45 WHEN k % 90 >= 35 THEN 35 WHEN k % 90 >= 25 THEN 25 WHEN k % 90 >= 18 THEN 18 WHEN k % 90 >= 1 THEN 17 ELSE 0 END AS BIGINT) AS rage FROM s ORDER BY k""",
    // Containment re-derived by coordinate INEQUALITIES over the same
    // fixtures (boundary-is-inside spelled with <=, hole exclusion with
    // strict <) — no ray caster on the oracle side.
    "sql_ch_pip" ->
      """WITH s AS (SELECT o_orderkey AS k, (o_orderkey % 13) / 2.0 AS x, (o_orderkey % 9) / 2.0 AS y FROM orders WHERE o_orderkey < 400) SELECT k, (x >= 1 AND x <= 3 AND y >= 1 AND y <= 3) AS sq, (x >= 0 AND y >= 0 AND x + y <= 4) AS tri, ((x >= 0 AND x <= 4 AND y >= 0 AND y <= 2) OR (x >= 0 AND x <= 2 AND y >= 0 AND y <= 4)) AS ell, (x >= 0 AND x <= 6 AND y >= 0 AND y <= 6 AND NOT (x > 2 AND x < 4 AND y > 2 AND y < 4)) AS holed FROM s ORDER BY k""",
    // The SAME closed form as plain SQL — the mapping is faithful
    // precisely because the docs-pinned formula is a sum to the max-t
    // anchor, not a row-order recurrence. floor(epoch(ts)) matches
    // toUnixTimestamp's whole-second truncation (events carry
    // microseconds; DuckDB's epoch() returns fractional DOUBLE).
    // 1e4-scaled; drift bound = double summation order.
    "sql_ch_ema" ->
      """WITH e AS (SELECT event_type, value AS v, floor(epoch(ts)) AS t FROM events), mx AS (SELECT event_type, max(t) AS tmax FROM e WHERE v IS NOT NULL GROUP BY event_type) SELECT e.event_type, CAST(floor((1 - pow(2, -1.0 / 3600)) * sum(v * pow(2, -(tmax - t) / 3600)) * 10000 + 0.5) AS BIGINT) AS ema_4, CAST(floor((1 - pow(2, -1.0 / 86400)) * sum(v * pow(2, -(tmax - t) / 86400)) * 10000 + 0.5) AS BIGINT) AS ema_day_4 FROM e JOIN mx ON e.event_type = mx.event_type GROUP BY e.event_type ORDER BY e.event_type""",
    // The stated bucket/glyph contract reconstructed relationally:
    // identical IEEE bucket arithmetic ((m-1)/11.0*12, floor, clamp),
    // per-bucket sums, ceil(s*8/max) glyph levels, string_agg in bucket
    // order. The max bucket's ratio is exactly 8.0 on both sides (its
    // own sum over its own max); other levels sit far from integer
    // boundaries relative to summation-order drift.
    "sql_ch_sparkbar" ->
      """WITH o AS (SELECT o_orderpriority AS pr, month(CAST(o_orderdate AS DATE)) AS m, o_totalprice AS y FROM orders), b12 AS (SELECT pr, least(CAST(floor((m - 1) / 11.0 * 12) AS BIGINT), 11) AS b, sum(y) AS s FROM o WHERE m BETWEEN 1 AND 12 GROUP BY pr, b), g12 AS (SELECT pr, b, s, max(s) OVER (PARTITION BY pr) AS mx FROM b12), f12 AS (SELECT t.pr, t.b, CASE WHEN g.s IS NULL OR g.s <= 0 THEN ' ' ELSE substr('▁▂▃▄▅▆▇█', CAST(greatest(1, least(8, ceil(g.s * 8 / g.mx))) AS INTEGER), 1) END AS ch FROM (SELECT DISTINCT pr, i AS b FROM o CROSS JOIN UNNEST(generate_series(0, 11)) AS u(i)) t LEFT JOIN g12 g ON t.pr = g.pr AND t.b = g.b), s12 AS (SELECT pr, string_agg(ch, '' ORDER BY b) AS bar12 FROM f12 GROUP BY pr), b6 AS (SELECT pr, least(CAST(floor((m - 1) / 11.0 * 6) AS BIGINT), 5) AS b, sum(y) AS s FROM o WHERE m BETWEEN 1 AND 12 GROUP BY pr, b), g6 AS (SELECT pr, b, s, max(s) OVER (PARTITION BY pr) AS mx FROM b6), f6 AS (SELECT t.pr, t.b, CASE WHEN g.s IS NULL OR g.s <= 0 THEN ' ' ELSE substr('▁▂▃▄▅▆▇█', CAST(greatest(1, least(8, ceil(g.s * 8 / g.mx))) AS INTEGER), 1) END AS ch FROM (SELECT DISTINCT pr, i AS b FROM o CROSS JOIN UNNEST(generate_series(0, 5)) AS u(i)) t LEFT JOIN g6 g ON t.pr = g.pr AND t.b = g.b), s6 AS (SELECT pr, string_agg(ch, '' ORDER BY b) AS bar6 FROM f6 GROUP BY pr) SELECT s12.pr AS o_orderpriority, s12.bar12, s6.bar6 FROM s12 JOIN s6 ON s12.pr = s6.pr ORDER BY o_orderpriority""",
    // Round-trip containment identities (the self-checking pattern) +
    // the published ezs42 decode values.
    "sql_ch_geo" ->
      """SELECT o_orderkey AS k, CAST(9 AS BIGINT) AS len9, true AS pfx_ok, true AS lon_ok, true AS lat_ok, true AS reenc_ok, -5.60302734375 AS ez_lon, 42.60498046875 AS ez_lat FROM orders WHERE o_orderkey < 400 ORDER BY k""",
    // The star expansion spelled by hand, with APPLY's func(col)
    // output names as quoted aliases.
    "sql_ch_star" ->
      """SELECT o_orderstatus, CAST(max(o_orderkey) AS BIGINT) AS "max(o_orderkey)", CAST(max(o_custkey) AS BIGINT) AS "max(o_custkey)", CAST(max(CAST(floor(o_totalprice) AS BIGINT)) AS BIGINT) AS "max(o_totalprice)" FROM orders WHERE o_orderkey < 3000 GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "sql_ch_misc" ->
      """SELECT l_orderkey AS okey, CAST(l_linenumber AS BIGINT) AS lno, CAST(l_linenumber AS BIGINT) AS te, l_returnflag || '/' || l_linestatus || '/' || CAST(CAST(l_quantity AS BIGINT) AS VARCHAR) AS sp, CAST(-1 AS BIGINT) AS inf_guard, monthname(l_shipdate) AS mn, dayname(l_shipdate) AS wd, CAST(year(l_shipdate) AS VARCHAR) AS yr, CAST(strftime(l_shipdate, '%Y%m%d%H%M%S') AS BIGINT) AS ymdhms, CAST(greatest(CAST(l_quantity AS BIGINT), l_suppkey) AS BIGINT) AS rmax, CAST(CAST(l_quantity AS BIGINT) + l_linenumber AS BIGINT) AS rsum, CASE WHEN l_suppkey % 2 = 1 THEN '1,2,3' ELSE '1,2,1' END AS enq, CAST(coalesce(lag(CAST(l_linenumber AS BIGINT)) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber), -1) AS BIGINT) AS lg, CAST(coalesce(lead(CAST(l_linenumber AS BIGINT)) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber), -1) AS BIGINT) AS ld, 'q,p' AS mk, CAST(CAST(l_quantity AS BIGINT) + l_suppkey AS BIGINT) AS mv, true AS mc1, false AS mc0, CAST(2 * (l_linenumber + CAST(l_quantity AS BIGINT)) AS BIGINT) AS fold2, CASE WHEN l_suppkey % 2 = 1 THEN '1,1,1' ELSE '1,1,2' END AS dense, epoch_ms(l_shipdate) AS ship_ms, CAST(greatest(l_linenumber - 2, 0) AS VARCHAR) || ',' || CAST(greatest(l_linenumber - 2, 0) + 3 AS VARCHAR) || ',' || CAST(greatest(greatest(l_linenumber - 2, 0) + 3 - 4, 0) AS VARCHAR) AS nncum FROM lineitem WHERE l_orderkey < 300 ORDER BY okey, lno""",
    "events_mde_power" ->
      """WITH pc AS (SELECT user_id, CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purch FROM events GROUP BY user_id), av AS (SELECT CAST(sum(n_purch) AS DOUBLE) / count(*) AS avg_purch FROM pc), pu AS (SELECT user_id, CASE WHEN CAST(n_purch AS DOUBLE) > avg_purch THEN 1 ELSE 0 END AS converted FROM pc CROSS JOIN av), armed AS (SELECT CASE WHEN ((user_id * 1103515245 + 12345) % 2147483647) % 2 = 0 THEN 'A' ELSE 'B' END AS arm, converted FROM pu), ag AS (SELECT arm, CAST(count(*) AS BIGINT) AS n, CAST(sum(converted) AS BIGINT) AS conv FROM armed GROUP BY arm), a AS (SELECT n AS n_a, conv AS conv_a FROM ag WHERE arm = 'A'), b AS (SELECT n AS n_b, conv AS conv_b FROM ag WHERE arm = 'B'), j AS (SELECT *, CAST(conv_a + conv_b AS DOUBLE)/(n_a + n_b) AS p, 1.959964 + 0.841621 AS zs FROM a CROSS JOIN b), k AS (SELECT *, zs * sqrt(p * (1.0 - p) * (1.0/n_a + 1.0/n_b)) AS mde FROM j) SELECT n_a, n_b, CAST(floor(p * 1000000 + 0.5) AS BIGINT) AS p_pool_micro, CAST(floor(mde * 1000000 + 0.5) AS BIGINT) AS mde_abs_micro, CAST(floor(mde / p * 1000000 + 0.5) AS BIGINT) AS mde_rel_micro, CAST(ceil(zs * zs * 2.0 * p * (1.0 - p) / 0.0004) AS BIGINT) AS n_per_arm_2pp FROM k""",
    "events_bot_detect" ->
      """WITH g AS (SELECT user_id, event_id, (epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)) // 60000000 AS gap FROM events), per AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n, CAST(sum(gap) AS BIGINT) AS s, CAST(sum(gap*gap) AS BIGINT) AS q FROM g WHERE gap IS NOT NULL GROUP BY 1) SELECT user_id, n AS n_gaps, s // n AS mean_gap_min, CAST(floor(CAST(n*q - s*s AS DOUBLE) * 1000000 / CAST(s*s AS DOUBLE)) AS BIGINT) AS cv2_micro, CASE WHEN 5*(n*q - s*s) < 4*s*s THEN 'regular' WHEN 5*(n*q - s*s) > 6*s*s THEN 'bursty' ELSE 'typical' END AS cadence_class FROM per WHERE n >= 11 AND s > 0 ORDER BY user_id""",
    "events_changepoint" ->
      """WITH daily AS (SELECT epoch_us(ts) // 86400000000 AS day, CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1), tot AS (SELECT CAST(count(*) AS BIGINT) AS nn, CAST(sum(x) AS BIGINT) AS ss FROM daily), cum AS (SELECT day, CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS nl, CAST(sum(x) OVER (ORDER BY day) AS BIGINT) AS sl, nn, ss FROM daily CROSS JOIN tot), sc AS (SELECT day, nl, nn - nl AS nr, sl, ss - sl AS sr, ss, (nn - nl)*sl - nl*(ss - sl) AS diff FROM cum WHERE nl < nn) SELECT day, nl AS n_left, nr AS n_right, (sl * 100) // nl AS mean_left_centi, (sr * 100) // nr AS mean_right_centi, CAST(floor(CAST(diff AS DOUBLE) * CAST(diff AS DOUBLE) * 1000000 / (CAST(nl AS DOUBLE) * CAST(nr AS DOUBLE) * CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE))) AS BIGINT) AS score_micro FROM sc ORDER BY score_micro DESC, day LIMIT 5""",
    "events_survival" ->
      """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS tus FROM events), su AS (SELECT user_id, min(tus) AS t0 FROM ev WHERE event_type = 'signup' GROUP BY 1), pu AS (SELECT e.user_id, min(tus) AS t1 FROM ev e JOIN su USING (user_id) WHERE event_type = 'purchase' AND tus >= t0 GROUP BY 1), obs AS (SELECT CASE WHEN t1 IS NOT NULL AND (t1 - t0) // 3600000000 <= 48 THEN (t1 - t0) // 3600000000 ELSE 48 END AS obs_hr, (t1 IS NOT NULL AND (t1 - t0) // 3600000000 <= 48) AS is_event FROM su LEFT JOIN pu USING (user_id)), tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM obs), per AS (SELECT obs_hr, CAST(sum(CASE WHEN is_event THEN 1 ELSE 0 END) AS BIGINT) AS n_events, CAST(sum(CASE WHEN is_event THEN 0 ELSE 1 END) AS BIGINT) AS n_censored FROM obs GROUP BY 1), cum AS (SELECT obs_hr, n_events, n_censored, n_total, COALESCE(CAST(sum(n_events + n_censored) OVER (ORDER BY obs_hr ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS ended_before FROM per CROSS JOIN tot), hz AS (SELECT obs_hr, n_events, n_censored, n_total - ended_before AS n_at_risk, (n_events * 1000000) // (n_total - ended_before) AS hazard_micro FROM cum) SELECT obs_hr, n_events, n_censored, n_at_risk, hazard_micro, CAST(sum(hazard_micro) OVER (ORDER BY obs_hr) AS BIGINT) AS cumhaz_micro FROM hz ORDER BY obs_hr""",
    "window_regr_slope" ->
      """WITH daily AS (SELECT epoch_us(o_orderdate) // 86400000000 AS day, CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev_cents FROM orders GROUP BY 1), base AS (SELECT min(day) AS d0 FROM daily), wi AS (SELECT day, rev_cents, day - d0 AS ti FROM daily CROSS JOIN base), ws AS (SELECT day, rev_cents, CAST(count(*) OVER w AS BIGINT) AS k, CAST(sum(ti) OVER w AS BIGINT) AS st, CAST(sum(rev_cents) OVER w AS BIGINT) AS sy, CAST(sum(ti*ti) OVER w AS BIGINT) AS stt, CAST(sum(ti*rev_cents) OVER w AS BIGINT) AS sty, row_number() OVER (ORDER BY day) AS rn FROM wi WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) SELECT day, rev_cents, CAST(floor(CAST(k*sty - st*sy AS DOUBLE) * 100 / CAST(k*stt - st*st AS DOUBLE) + 0.5) AS BIGINT) AS slope_centi_per_day FROM ws WHERE rn >= 7 ORDER BY day""",
    "text_filter_funnel" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents), tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY 1, 2), per AS (SELECT p.doc_id, p.n_words, p.max_tf, p.n_stop, length(d.text) - (p.n_words - 1) AS sumlen FROM (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words, CAST(max(c) AS BIGINT) AS max_tf, CAST(sum(CASE WHEN term IN ('the','a','of','and','to','in','is','on','for','by') THEN 1 ELSE 0 END) AS BIGINT) AS n_stop FROM tf GROUP BY 1) p JOIN documents d USING (doc_id)), fl AS (SELECT n_words >= 30 AS f1, 10*sumlen >= 30*n_words AND 10*sumlen <= 50*n_words AS f2, n_stop >= 2 AS f3, 10*max_tf <= n_words AS f4 FROM per), ag AS (SELECT CAST(count(*) AS BIGINT) AS n0, CAST(sum(CASE WHEN f1 THEN 1 ELSE 0 END) AS BIGINT) AS s1, CAST(sum(CASE WHEN f1 AND f2 THEN 1 ELSE 0 END) AS BIGINT) AS s2, CAST(sum(CASE WHEN f1 AND f2 AND f3 THEN 1 ELSE 0 END) AS BIGINT) AS s3, CAST(sum(CASE WHEN f1 AND f2 AND f3 AND f4 THEN 1 ELSE 0 END) AS BIGINT) AS s4 FROM fl), st AS (SELECT '0_input' AS rule, n0 AS n_in, n0 AS n_out, n0 FROM ag UNION ALL SELECT '1_min_words', n0, s1, n0 FROM ag UNION ALL SELECT '2_word_len', s1, s2, n0 FROM ag UNION ALL SELECT '3_stopwords', s2, s3, n0 FROM ag UNION ALL SELECT '4_dominance', s3, s4, n0 FROM ag) SELECT rule, n_in, n_out, n_in - n_out AS n_dropped, (n_out * 1000000) // n0 AS retention_micro FROM st ORDER BY rule""",
    "text_ngram_novelty" ->
      """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents), tok AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS term FROM ws, LATERAL unnest(generate_series(1, len(ws) - 2)) AS g(i)), fs AS (SELECT term, min(doc_id) AS first_doc FROM tok GROUP BY 1) SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles, CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel, (CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT) * 1000000) // CAST(count(*) AS BIGINT) AS novelty_micro FROM tok JOIN fs USING (term) GROUP BY doc_id ORDER BY doc_id""",
    "graph_label_prop" -> Graph.labelPropOracleSql,
    // Same unrolled-CTE oracle as graph_label_prop: the bucketed-edge
    // layout is a pure cost flip, never a semantic one.
    "graph_label_prop_bucketed" -> Graph.labelPropOracleSql,
    "graph_modularity" -> Graph.modularityOracleSql,
    "dedup_edit_distance" ->
      """SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_distance FROM documents a JOIN documents b ON a.doc_id < b.doc_id AND levenshtein(a.text, b.text) <= 8 ORDER BY doc_a, doc_b""",
  )
}
