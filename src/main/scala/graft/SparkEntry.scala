package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 appears as a named
  * query here; each SQL-expressible one has a DuckDB oracle in
  * [[oracleSql]]. Column names/aliases are kept identical between the
  * Spark result and the oracle SQL (driver hash-compares after sorting
  * columns by name), every query ends with a total-order ORDER BY, and
  * double-valued outputs are rounded so cross-engine float noise can't
  * flip the hash (SURVEY.md §7.5 risk 1).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    reward.Reward.rewardTrajectory(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- reference analytic core (SURVEY.md §2.4-2.5) ---
    "reward_trajectory" -> ((s, d) => reward.Reward.rewardTrajectory(s, d)),
    "turn_scores" -> ((s, d) => reward.Reward.turnScores(s, d)),
    "grpo_normalize" -> ((s, d) => reward.Reward.grpoNormalize(s, d)),
    "preference_pairs" -> ((s, d) => reward.Reward.preferencePairs(s, d)),
    "reward_trajectory_agg" -> (reward.RewardAgg.rewardTrajectoryAgg _),
    "session_termination" -> ((s, d) => session.Termination.sessionTermination(s, d)),
    // --- [EXT] relational core (SURVEY.md §2.3-2.8) ---
    "q1_pricing_summary" -> (ops.Relational.q1PricingSummary _),
    "revenue_by_nation" -> (ops.Relational.revenueByNation _),
    "q3_shipping_priority" -> (ops.Relational.q3ShippingPriority _),
    "q18_large_orders" -> (ops.Relational.q18LargeOrders _),
    "top_orders_per_customer" -> (ops.Relational.topOrdersPerCustomer _),
    "moving_revenue_7d" -> (ops.Relational.movingRevenue7d _),
    "customers_without_orders" -> (ops.Relational.customersWithoutOrders _),
    "segment_order_stats" -> (ops.Relational.segmentOrderStats _),
    "q5_local_supplier" -> (ops.Relational.q5LocalSupplier _),
    "q7_volume_shipping" -> (ops.Relational.q7VolumeShipping _),
    "q10_returned_items" -> (ops.Relational.q10ReturnedItems _),
    "quantile_quantity" -> (ops.Relational.quantileQuantity _),
    "range_join_quantity" -> (ops.Relational.rangeJoinQuantity _),
    "asof_latest_error" -> (ops.Relational.asofLatestError _),
    "asof_native" -> (ops.Relational.asofNativeLatestError _),
    "rollup_acctbal" -> (ops.Relational.rollupAcctbal _),
    "distinct_counts" -> (ops.Relational.distinctCounts _),
    "approx_distinct_users" -> (ops.Relational.approxDistinctUsers _),
    "json_extract_events" -> (ops.Relational.jsonExtractEvents _),
    "variant_extract_events" -> (ops.Relational.variantExtractEvents _),
    "monthly_revenue" -> (ops.Relational.monthlyRevenue _),
    "topk_parts" -> (ops.Relational.topkParts _),
    "nation_coverage" -> (ops.Relational.nationCoverage _),
    "nations_without_suppliers" -> (ops.Relational.nationsWithoutSuppliers _),
    "string_funcs_part" -> (ops.Relational.stringFuncsPart _),
    "map_defaults_weights" -> (ops.Relational.mapDefaultsWeights _),
    // --- [EXT] LLM-data-pipeline ops (SURVEY.md §2.10) ---
    "dedup_exact" -> (llm.Dedup.dedupExact _),
    "dedup_prefix_key" -> (llm.Dedup.dedupPrefixKey _),
    "minhash_signatures" -> (llm.Dedup.minhashSignaturesQuery _),
    "minhash_near_dup" -> (llm.Dedup.minhashNearDupQuery _),
    "dedup_clusters" -> ((s, d) => llm.Dedup.dedupClusters(s, d)),
    "dedup_keep_best" -> ((s, d) => llm.Dedup.dedupKeepBest(s, d)),
    "cluster_size_hist" -> (llm.Dedup.clusterSizeHistogram _),
    "streaming_dedup" -> (streaming.StreamingDedup.streamingDedupQuery _),
    "stream_near_dup" -> (streaming.StreamingDedup.streamingNearDupQuery _),
    "simhash_docs" -> (llm.Dedup.simhashDocs _),
    "simhash_near_dup" -> ((s, d) => llm.Dedup.simhashNearDup(s, d)),
    "setsim_join_exact" -> (llm.Dedup.setSimJoinQuery _),
    "triangle_count" -> (llm.Dedup.triangleCount _),
    "pagerank_near_dup" -> ((s, d) => llm.Dedup.pagerankNearDup(s, d)),
    "jaccard_consecutive" -> (llm.Dedup.jaccardConsecutive _),
    "levenshtein_consecutive" -> (llm.Dedup.levenshteinConsecutive _),
    "cjk_edit_sim" -> (llm.Dedup.cjkEditSim _),
    "knn_brute_force" -> ((s, d) => llm.Similarity.knnBruteForce(s, d)),
    "knn_topk_agg" -> ((s, d) => llm.Similarity.knnTopKAgg(s, d)),
    // approximate-KNN family: the declared queries are the ORACLE
    // GATES (exact-side aggregates + a recall-floor boolean the
    // oracle asserts as literal true — round-10 verdict ask #3); the
    // raw approximate top-k paths run INSIDE each gate and remain
    // library calls (knnLshBucketed/knnIvf/knnIvfKmeans)
    "knn_lsh_bucketed" -> ((s, d) => llm.Similarity.knnLshGate(s, d)),
    "knn_ivf" -> ((s, d) => llm.Similarity.knnIvfGate(s, d)),
    // ...and the IVF CELL ASSIGNMENT is exact arithmetic — its
    // companion query hash-pins the assignment math itself
    "knn_ivf_cells" -> ((s, d) => llm.Similarity.knnIvfCellCounts(s, d)),
    "knn_ivf_kmeans" -> ((s, d) => llm.Similarity.knnIvfKmeansGate(s, d)),
    "knn_ivf_pq" -> ((s, d) => llm.Similarity.knnIvfPqGate(s, d)),
    "knn_int8" -> ((s, d) => llm.Similarity.knnInt8Gate(s, d)),
    "knn_graph" -> ((s, d) => llm.Similarity.knnGraphGate(s, d)),
    // SemDeDup: cluster-bounded semantic dedup; rounded-everywhere
    // arithmetic makes the WHOLE algorithm oracle-replayable
    "semdedup" -> ((s, d) => llm.Similarity.semDeDupQuery(s, d)),
    // production SemDeDup: kmeans-TRAINED centroids; exact-side
    // values + assignment/keep/recall booleans (round-11 "missing" #4)
    "semdedup_kmeans" -> ((s, d) => llm.Similarity.semDeDupKmeansGate(s, d)),
    // hard-negative mining: LSH-bucketed candidates, banded cosine,
    // rank on the rounded value — fully oracle-replayable
    "hard_negatives" -> ((s, d) => llm.Similarity.hardNegatives(s, d)),
    "label_cohesion" -> (llm.Similarity.labelCohesion _),
    "chi2_lang_label" -> (llm.Similarity.chi2LangLabel _),
    "doc_embedding_join" -> (llm.Similarity.docEmbeddingJoin _),
    "text_quality" -> (llm.TextAnalysis.textQuality _),
    "doc_length_histogram" -> (llm.TextAnalysis.docLengthHistogram _),
    "decontaminate_overlap" -> (llm.TextAnalysis.decontaminateOverlap _),
    "bigram_lm_score" -> (llm.TextAnalysis.bigramLmScore _),
    "token_predicates" -> (llm.TextAnalysis.tokenPredicates _),
    "token_counts" -> (llm.TextAnalysis.tokenCounts _),
    "lang_id" -> (llm.TextAnalysis.langId _),
    "lang_id_confusion" -> (llm.TextAnalysis.langIdConfusion _),
    "doc_fingerprint" -> (llm.TextAnalysis.docFingerprint _),
    "cjk_fingerprint" -> (llm.TextAnalysis.cjkFingerprint _),
    "sql_registry_fingerprint" -> (llm.TextAnalysis.sqlRegistryFingerprint _),
    "bpe_token_stats" -> (llm.TextAnalysis.bpeTokenStats _),
    "bpe_train_merges" -> (llm.TextAnalysis.bpeTrainMerges _),
    "bpe_encode" -> (llm.TextAnalysis.bpeEncodeTokens _),
    "gopher_repetition" -> (llm.TextAnalysis.gopherRepetitionQuery _),
    "dsir_select" -> (llm.TextAnalysis.dsirSelectQuery _),
    "ccnet_buckets" -> (llm.TextAnalysis.ccnetBucketsQuery _),
    // production CCNet: sampled-histogram cutoffs, map-only
    // assignment; exact tercile counts + agreement-floor boolean
    "ccnet_buckets_sampled" ->
      ((s, d) => llm.TextAnalysis.ccnetBucketsSampledQuery(s, d)),
    "lang_id_ngram" -> (llm.TextAnalysis.langIdNgram _),
    "tfidf_top_terms" -> (llm.TextAnalysis.tfidfTopTerms _),
    "bm25_retrieval" -> (llm.TextAnalysis.bm25Retrieval _),
    "conjunctive_search" -> (llm.TextAnalysis.conjunctiveSearch _),
    "inverted_index_lookup" -> (llm.TextAnalysis.invertedIndexLookup _),
    "hash_split" -> (etl.Preprocess.hashSplit _),
    "stratified_sample" -> (etl.Preprocess.stratifiedSample _),
    "sequence_packing" -> (etl.Preprocess.sequencePacking _),
    "doc_chunking" -> (etl.Preprocess.docChunking _),
    "padding_waste" -> (etl.Preprocess.paddingWaste _),
    "split_leakage_audit" -> (llm.Dedup.splitLeakageAudit _),
    "incremental_ingest_dedup" -> (llm.Dedup.incrementalIngestDedup _),
    "importance_sample" -> (etl.Preprocess.importanceSample _),
    "repetition_signals" -> (llm.TextAnalysis.repetitionSignals _),
    "token_budget_select" -> (llm.TextAnalysis.tokenBudgetSelect _),
    "vocab_coverage" -> (llm.TextAnalysis.vocabCoverage _),
    "pii_scrub" -> (llm.TextAnalysis.piiScrub _),
    "dq_checks" -> (ops.Relational.dqChecks _),
    "bloom_prune_lineitem" -> (ops.Relational.bloomPruneLineitem _),
    "ntile_quartiles" -> (ops.Relational.ntileQuartiles _),
    "salted_skew_join" -> (ops.Relational.saltedSkewJoin _),
    "bucketed_join_colocated" -> (ops.Relational.bucketedJoinColocated _),
    "q4_late_orders" -> (ops.Relational.q4LateOrders _),
    "q12_priority_shipping" -> (ops.Relational.q12PriorityShipping _),
    "q13_order_distribution" -> (ops.Relational.q13OrderDistribution _),
    "q14_promo_revenue" -> (ops.Relational.q14PromoRevenue _),
    "q19_disjunctive_revenue" -> (ops.Relational.q19DisjunctiveRevenue _),
    "q22_sales_opportunity" -> (ops.Relational.q22SalesOpportunity _),
    "q6_forecast_revenue" -> (ops.Relational.q6ForecastRevenue _),
    "q9_product_profit" -> (ops.Relational.q9ProductProfit _),
    "q17_small_quantity" -> (ops.Relational.q17SmallQuantityRevenue _),
    "q21_waiting_suppliers" -> (ops.Relational.q21WaitingSuppliers _),
    "q8_market_share" -> (ops.Relational.q8MarketShare _),
    "q15_top_supplier" -> (ops.Relational.q15TopSupplier _),
    "q2_min_cost_supplier" -> (ops.Relational.q2MinCostSupplier _),
    "q11_important_stock" -> (ops.Relational.q11ImportantStock _),
    "q16_supplier_count" -> (ops.Relational.q16SupplierCountByPart _),
    "q20_promotion_suppliers" -> (ops.Relational.q20PromotionSuppliers _),
    "dup_ngram_frac" -> (llm.TextAnalysis.dupNgramFrac _),
    "exact_substring_spans" -> (llm.TextAnalysis.exactSubstringSpans _),
    "exact_substring_cut" -> (llm.TextAnalysis.exactSubstringCut _),
    "quality_logit" -> (llm.TextAnalysis.qualityLogit _),
    "normalized_dedup" -> (llm.Dedup.normalizedDedup _),
    "k_anonymity_audit" -> ((s, d) => ops.Relational.kAnonymityAudit(s, d)),
    "source_overlap_matrix" -> (llm.Dedup.sourceOverlapMatrix _),
    "mixture_plan" -> (etl.Preprocess.mixturePlan _),
    "hash_topk_sample" -> ((s, d) => etl.Preprocess.hashTopkSample(s, d)),
    "label_centroid_sim" -> (llm.Similarity.labelCentroidSim _),
    "curation_funnel" -> (llm.Curation.curationFunnel _),
    "domain_caps" -> ((s, d) => llm.Curation.domainCapsQuery(s, d)),
    "mixture_sampling" -> ((s, d) => llm.Curation.mixtureSamplingQuery(s, d)),
    "phrase_search" -> ((s, d) => llm.TextAnalysis.phraseSearch(s, d)),
    "augment_token_dropout" -> (llm.TextAnalysis.augmentTokenDropout _),
    "funnel_stages" -> (ops.Behavioral.funnelStages _),
    "cohort_retention" -> (ops.Behavioral.cohortRetention _),
    "time_to_convert" -> (ops.Behavioral.timeToConvert _),
    "approx_quantiles" -> ((s, d) => ops.Relational.approxQuantiles(s, d)),
    "winsorized_stats" -> (ops.Behavioral.winsorizedStats _),
    "zscore_outliers" -> (ops.Behavioral.zscoreOutliers _),
    "moving_median_7d" -> (ops.Behavioral.movingMedian7d _),
    "event_transitions" -> (ops.Behavioral.eventTransitions _),
    "revenue_pareto" -> (ops.Behavioral.revenuePareto _),
    "resample_ffill" -> (ops.Behavioral.resampleFfill _),
    "ewma_daily_revenue" -> (ops.Behavioral.ewmaDailyRevenue _),
    "unpivot_segment_metrics" -> (ops.Relational.unpivotSegmentMetrics _),
    "embedding_near_dup" -> ((s, d) => llm.Similarity.embeddingNearDup(s, d)),
    "multi_signal_near_dup" -> ((s, d) => llm.Similarity.multiSignalNearDup(s, d)),
    "multimodal_features" -> (llm.Multimodal.multimodalFeatures _),
    "video_frame_sample" -> (llm.Multimodal.videoFrameSample _),
    "media_embedding_search" -> ((s, d) => llm.Multimodal.mediaEmbeddingSearch(s, d)),
    "media_near_dup" -> ((s, d) => llm.Multimodal.mediaNearDup(s, d)),
    "media_text_align" -> ((s, d) => llm.Multimodal.mediaTextAlign(s, d)),
    "above_avg_customers" -> (ops.Relational.aboveAvgCustomers _),
    // --- reference ETL parity (SURVEY.md §2.2, §2.6 O3, §3 E1) ---
    "etl_verl_rows" -> (etl.Preprocess.verlRows _),
    "permissive_ingest" -> (etl.Preprocess.permissiveIngest _),
    "etl_positional_split" -> (etl.Preprocess.positionalSplit _),
    "role_swap_messages" -> (etl.Preprocess.roleSwapMessages _),
    "softmax_classify" -> (etl.Preprocess.softmaxClassify _),
    "zip_scripts" -> (etl.Preprocess.zipScripts _),
    "rank_family" -> (ops.Relational.rankFamily _),
    "window_value_funcs" -> (ops.Relational.windowValueFuncs _),
    "union_entities" -> (ops.Relational.unionEntities _),
    "cube_status_priority" -> (ops.Relational.cubeStatusPriority _),
    "grouping_sets_orders" -> (ops.Relational.groupingSetsOrders _),
    "salted_type_stats" -> (ops.Relational.saltedTypeStats _),
    "stats_summary" -> (ops.Relational.statsSummary _),
    "pivot_status_revenue" -> (ops.Relational.pivotStatusRevenue _),
    "skyline_price_size" -> (ops.Relational.skylinePriceSize _),
    "lake_snapshot_read" -> (sources.LakeTable.snapshotReadQuery _),
    "lake_agg_pushdown" -> (sources.LakeTable.aggPushdownQuery _),
    "lake_agg_pushdown_group" -> (sources.LakeTable.aggPushdownGroupQuery _),
    "lake_catalog_sql" -> (sources.LakeTable.catalogSqlQuery _),
    "lake_partitions_meta" -> (sources.LakeTable.partitionsMetaQuery _),
    "lake_mor_partitions" -> (sources.LakeTable.morPartitionsQuery _),
    "lake_entries_meta" -> (sources.LakeTable.entriesMetaQuery _),
    "lake_versioned_view" -> (sources.GraftViews.versionedViewQuery _),
    "lake_materialized_view" -> (sources.GraftMaterializedViews.materializedViewQuery _),
    "lake_mv_incremental" -> (sources.GraftMaterializedViews.incrementalMvQuery _),
    "lake_incremental_append" -> (sources.LakeTable.incrementalAppendQuery _),
    "lake_table_appends_sql" -> (sources.LakeTable.tableAppendsSqlQuery _),
    "lake_add_files" -> (sources.LakeTable.addFilesQuery _),
    "lake_position_deletes" -> (sources.LakeTable.positionDeletesQuery _),
    "lake_filtered_rewrite" -> (sources.LakeTable.filteredRewriteQuery _),
    "lake_replace_where" -> (sources.LakeTable.replaceWhereQuery _),
    "lake_all_files" -> (sources.LakeTable.allFilesQuery _),
    "lake_rewrite_manifests" -> (sources.LakeTable.rewriteManifestsQuery _),
    "lake_row_lineage" -> (sources.LakeTable.rowLineageQuery _),
    "lake_wire_arbitrated_commit" -> (sources.LakeTable.wireArbitratedCommitQuery _),
    "lake_txn_commit" -> (sources.LakeTable.txnCommitQuery _),
    "lake_stream_fanout" -> (sources.LakeTable.streamFanOutQuery _),
    "lake_snapshots_meta" -> (sources.LakeTable.snapshotsMetaQuery _),
    "lake_call_maintenance" -> (sources.LakeTable.callMaintenanceQuery _),
    "lake_lineage_cdc" -> (sources.LakeTable.lineageCdcQuery _),
    "lake_lineage_cdc_stream" -> (sources.LakeTable.lineageCdcStreamQuery _),
    "lake_ndv_sketch" -> (sources.LakeTable.ndvSketchQuery _),
    "lake_file_granular_delete" -> (sources.LakeTable.fileGranularDeleteQuery _),
    "lake_delete_in_subquery" -> (sources.LakeTable.deleteInSubqueryQuery _),
    "lake_update_in_subquery" -> (sources.LakeTable.updateInSubqueryQuery _),
    "lake_update_correlated" -> (sources.LakeTable.updateCorrelatedQuery _),
    "lake_delete_correlated" -> (sources.LakeTable.deleteCorrelatedQuery _),
    "lake_merge_composite" -> (sources.LakeTable.mergeCompositeQuery _),
    "lake_mor_merge_composite" -> (sources.LakeTable.morMergeCompositeQuery _),
    "lake_mor_mode_dml" -> (sources.LakeTable.morModeDmlQuery _),
    "lake_snapshot_migrate" -> (sources.LakeTable.snapshotMigrateQuery _),
    "lake_metadata_log" -> (sources.LakeTable.metadataLogQuery _),
    "lake_variant_column" -> (sources.LakeTable.variantColumnQuery _),
    "lake_variant_shredded" -> (sources.LakeTable.variantShreddedQuery _),
    "lake_conflict_rebase" -> (sources.LakeTable.conflictRebaseQuery _),
    "lake_conflict_serializable" -> (sources.LakeTable.conflictSerializableQuery _),
    "lake_arbitrated_commit" -> (sources.LakeTable.arbitratedCommitQuery _),
    "lake_ctas" -> (sources.LakeTable.ctasQuery _),
    "lake_runtime_prune" -> (sources.LakeTable.runtimePruneQuery _),
    "lake_merge_read" -> (sources.LakeTable.mergeReadQuery _),
    "lake_partition_prune" -> (sources.LakeTable.partitionPruneQuery _),
    "lake_time_travel" -> (sources.LakeTable.timeTravelQuery _),
    "lake_stats_skip" -> (sources.LakeTable.statsSkipQuery _),
    "lake_zorder_box" -> (sources.LakeTable.zorderBoxQuery _),
    "lake_change_feed" -> (sources.LakeTable.changeFeedQuery _),
    "lake_table_changes_sql" -> (sources.LakeTable.tableChangesSqlQuery _),
    "lake_expire_read" -> (sources.LakeTable.expireReadQuery _),
    "lake_mor_delete" -> (sources.LakeTable.morDeleteQuery _),
    "lake_dv_read" -> (sources.LakeTable.dvReadQuery _),
    "lake_mor_upsert" -> (sources.LakeTable.morUpsertQuery _),
    "lake_tag_read" -> (sources.LakeTable.tagReadQuery _),
    "lake_incremental_agg" -> (sources.LakeTable.incrementalAggQuery _),
    "lake_schema_evolution" -> (sources.LakeTable.schemaEvolutionQuery _),
    "lake_default_column" -> (sources.LakeTable.defaultColumnQuery _),
    "lake_merge_evolution" -> (sources.LakeTable.mergeEvolutionQuery _),
    "lake_nested_evolution" -> (sources.LakeTable.nestedEvolutionQuery _),
    "lake_rename_read" -> (sources.LakeTable.renameReadQuery _),
    "lake_merge_conditional" -> (sources.LakeTable.mergeConditionalQuery _),
    "lake_sql_merge" -> (sources.LakeTable.sqlMergeQuery _),
    "lake_hidden_partition" -> (sources.LakeTable.hiddenPartitionQuery _),
    "lake_partitioned_ddl" -> (sources.LakeTable.partitionedDdlQuery _),
    "lake_dynamic_overwrite" -> (sources.LakeTable.dynamicOverwriteQuery _),
    "lake_change_stream" -> (sources.LakeTable.changeStreamQuery _),
    "lake_v2_change_stream" -> (sources.LakeTable.v2ChangeStreamQuery _),
    "lake_stream_sink" -> (sources.LakeTable.streamSinkQuery _),
    "lake_spj_join" -> (sources.LakeTable.spjJoinQuery _),
    "lake_rollback" -> (sources.LakeTable.rollbackQuery _),
    "lake_bloom_skip" -> (sources.LakeTable.bloomSkipQuery _),
    "lake_branch_ff" -> (sources.LakeTable.branchFastForwardQuery _),
    "lake_truncate" -> (sources.LakeTable.truncateQuery _),
    "lake_identifier_fields" -> (sources.LakeTable.identifierFieldsQuery _),
    "lake_cherrypick" -> (sources.LakeTable.cherryPickQuery _),
    "lake_apply_changes" -> (sources.CdcApply.applyChangesQuery _),
    "lake_apply_changes_composite" ->
      (sources.CdcApply.applyChangesCompositeQuery _),
    "lake_cdc_tombstone" -> (sources.CdcApply.cdcTombstoneQuery _),
    "scd2_build" -> (sources.CdcApply.scd2Query _),
    "scd2_apply" -> (sources.CdcApply.scd2ApplyQuery _),
    "lake_orphan_gc" -> (sources.LakeTable.orphanGcQuery _),
    // --- streaming semantics (SURVEY.md §2.9 T1-T6), batch-replayed ---
    "session_replay" -> (streaming.DialogueStateMachine.sessionReplay _),
    "tumbling_hourly" -> (streaming.EventTimeWindows.tumblingHourly _),
    "tumbling_hourly_stream" -> (streaming.EventTimeWindows.tumblingHourlyStream _),
    "tumbling_late_drop" -> (streaming.EventTimeWindows.tumblingLateDropStream _),
    "sliding_hourly_30m" -> (streaming.EventTimeWindows.slidingHourly30m _),
    "session_windows_30m" -> (streaming.EventTimeWindows.sessionWindows30m _),
    "session_windows_stream" -> (streaming.EventTimeWindows.sessionWindowsStream _),
    "stream_interval_join" -> (streaming.StreamJoin.intervalJoinStream _),
    "stream_outer_join" -> (streaming.StreamJoin.outerJoinStream _),
    "stream_right_outer_join" -> (streaming.StreamJoin.rightOuterJoinStream _),
    "stream_full_outer_join" -> (streaming.StreamJoin.fullOuterJoinStream _),
    "stream_semi_join" -> (streaming.StreamJoin.semiJoinStream _),
  )

  /** MinHash near-dup pair SQL, shared by the `minhash_near_dup`
    * oracle and the recursive-CTE closure in `dedup_clusters`. */
  /** The near-dup corpus (originals ∪ manufactured variants) as a
    * DuckDB SELECT — shared by every oracle that mirrors
    * `Dedup.nearDupCorpus` so the corpora cannot drift. */
  private val NearDupCorpusSql: String =
    """SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, regexp_replace(text, '^\S+ ', '') FROM documents""".stripMargin

  /** The MinHash band/signature pair pipeline over an arbitrary
    * corpus SELECT — one definition, instantiated for the manufactured
    * near-dup corpus (below) and for the plain documents corpus
    * (`multi_signal_near_dup`), so the band math cannot drift. */
  /** The shared banding prefix (corpus → token hashes → shingles →
    * 16-perm signatures → 4-perm band keys) of every MinHash oracle —
    * identical arithmetic to the Spark-side native expressions. */
  private def minhashBandsSqlOver(corpusSql: String): String =
    s"""WITH corpus AS (
        |  $corpusSql
        |),
        |tok AS (SELECT doc_id, string_split(text, ' ') AS tokens FROM corpus),
        |t2 AS (SELECT doc_id, list_transform(tokens, t ->
        |        list_reduce(list_prepend(0::BIGINT,
        |          list_transform(range(1, length(t)+1), i -> ascii(substring(t,i,1))::BIGINT)),
        |          (a,c) -> (a*31+c) % 1000000007)) AS th FROM tok),
        |h AS (SELECT doc_id, list_transform(range(1, len(th)-1),
        |        i -> (((th[i]*37 + th[i+1]) % 1000000007) * 37 + th[i+2]) % 1000000007) AS hs
        |      FROM t2),
        |sig AS (SELECT doc_id, perm,
        |        list_aggregate(list_transform(hs,
        |          x -> (x*((103515239 + 2*perm) % 1000000007) + (12345 + perm)) % 1000000007),
        |          'min') AS minhash
        |        FROM (SELECT doc_id, hs, unnest(range(16)) AS perm FROM h)),
        |bands AS (SELECT doc_id, CAST(perm // 4 AS INT) AS band,
        |          string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY perm) AS band_key
        |          FROM sig GROUP BY doc_id, band)""".stripMargin

  private def minhashPairsSqlOver(corpusSql: String): String =
    minhashBandsSqlOver(corpusSql) + ",\n" +
      """cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        |         FROM bands x JOIN bands y
        |           ON x.band = y.band AND x.band_key = y.band_key AND x.doc_id < y.doc_id)
        |SELECT doc_a, doc_b,
        |       round(avg(CASE WHEN sa.minhash = sb.minhash THEN 1.0 ELSE 0.0 END), 6) AS est_jaccard
        |FROM cand
        |JOIN sig sa ON doc_a = sa.doc_id
        |JOIN sig sb ON doc_b = sb.doc_id AND sa.perm = sb.perm
        |GROUP BY doc_a, doc_b
        |HAVING est_jaccard >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin

  private val MinhashNearDupSql: String = minhashPairsSqlOver(NearDupCorpusSql)

  /** One BPE round as a CTE block: pair count → best pair by
    * (n DESC, left, right) → greedy-leftmost application via island
    * alternation → retokenize. SHARED by the `bpe_train_merges` and
    * `bpe_encode` oracles so a fix to the round SQL cannot
    * desynchronize train and encode verification. */
  private def bpeRoundSql(k: Int): String = {
    val prev = s"t${k - 1}"
    s"""p$k AS (SELECT *, lead(tok) OVER (PARTITION BY w ORDER BY pos) AS nxt FROM $prev),
       |b$k AS (SELECT tok AS l, nxt AS r, sum(cnt)::BIGINT AS n FROM p$k
       |       WHERE nxt IS NOT NULL GROUP BY 1, 2 ORDER BY n DESC, l, r LIMIT 1),
       |k$k AS (
       |  SELECT w, pos FROM (
       |    SELECT w, pos, pos - min(pos) OVER (PARTITION BY w, grp) AS off FROM (
       |      SELECT s.w, s.pos,
       |             s.pos - row_number() OVER (PARTITION BY s.w ORDER BY s.pos) AS grp
       |      FROM p$k s, b$k WHERE s.tok = b$k.l AND s.nxt = b$k.r))
       |  WHERE off % 2 = 0),
       |t$k AS (
       |  SELECT w, cnt, row_number() OVER (PARTITION BY w ORDER BY pos) - 1 AS pos, tok
       |  FROM (
       |    SELECT p.w, p.cnt, p.pos, p.tok || p.nxt AS tok
       |    FROM p$k p JOIN k$k kk ON kk.w = p.w AND kk.pos = p.pos
       |    UNION ALL
       |    SELECT p.w, p.cnt, p.pos, p.tok FROM p$k p
       |    WHERE NOT EXISTS (SELECT 1 FROM k$k kk WHERE kk.w = p.w AND kk.pos = p.pos)
       |      AND NOT EXISTS (SELECT 1 FROM k$k kk WHERE kk.w = p.w AND kk.pos = p.pos - 1)))""".stripMargin
  }

  /** The full 3-round BPE CTE chain over the documents vocabulary. */
  private val BpeCtesSql: String =
    """WITH words AS (
      |  SELECT w, count(*) AS cnt FROM (
      |    SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
      |    FROM documents)
      |  GROUP BY w),
      |t0 AS (
      |  SELECT w, cnt, i AS pos, substr(w, i + 1, 1) AS tok
      |  FROM words, LATERAL unnest(range(length(w))) AS u(i)),""".stripMargin +
      "\n" + bpeRoundSql(1) + ",\n" + bpeRoundSql(2) + ",\n" + bpeRoundSql(3)

  /** Hashed-shingle-set Jaccard edges (τ = 4/5) over the near-dup
    * corpus by BRUTE FORCE — legitimate as an oracle because the
    * Spark side's prefix + positional filters are proven exact; shared
    * by `setsim_join_exact` and `triangle_count`. The hash chain (th →
    * hs) is the same published polyhash/shingle math as the MinHash
    * oracle and the fuzz harness. */
  private val SetSimEdgesSql: String =
    s"""corpus AS (
        |  $NearDupCorpusSql
        |),
        |t2 AS (SELECT doc_id, list_transform(string_split(text, ' '), t ->
        |        list_reduce(list_prepend(0::BIGINT,
        |          list_transform(range(1, length(t)+1), i -> ascii(substring(t,i,1))::BIGINT)),
        |          (a,c) -> (a*31+c) % 1000000007)) AS th FROM corpus),
        |h AS (SELECT doc_id, list_transform(range(1, len(th)-1),
        |        i -> (((th[i]*37 + th[i+1]) % 1000000007) * 37 + th[i+2]) % 1000000007) AS hs
        |      FROM t2 WHERE len(th) >= 3),
        |tkset AS (SELECT doc_id, list_distinct(hs) AS ts FROM h),
        |e AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |             len(list_intersect(a.ts, b.ts)) AS n_inter,
        |             len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts)) AS n_union
        |      FROM tkset a JOIN tkset b ON a.doc_id < b.doc_id
        |      WHERE 5 * len(list_intersect(a.ts, b.ts)) >=
        |            4 * (len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts))))""".stripMargin

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  /** Shared oracle for the three approximate-KNN recall gates: the
    * exact brute-force top-5 (identical CTE to knn_brute_force's
    * oracle) aggregated to one row, with the recall-floor boolean as
    * literal true — the Spark side recomputes the same exact side and
    * evaluates the floor against its approximate path. */
  private val knnGateOracle: String =
    """WITH e AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
      |                  unnest(range(len(embedding))) AS i FROM embeddings),
      |n AS (SELECT vec_id, sqrt(sum(x*x)) AS nrm FROM e GROUP BY 1),
      |d AS (SELECT a.vec_id AS qid, b.vec_id AS vid, sum(a.x * b.x) AS dp
      |      FROM e a JOIN e b ON a.i = b.i AND b.vec_id != a.vec_id
      |      WHERE a.vec_id < 10 GROUP BY 1, 2),
      |sc AS (SELECT qid, vid, round(dp / (na.nrm * nb.nrm), 6) AS cos_sim
      |       FROM d JOIN n na ON na.vec_id = qid JOIN n nb ON nb.vec_id = vid),
      |tk AS (SELECT qid, vid, cos_sim FROM (
      |         SELECT qid, vid, cos_sim,
      |                row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, vid) AS rn
      |         FROM sc)
      |       WHERE rn <= 5)
      |SELECT count(DISTINCT qid) AS n_queries, count(*) AS n_pairs,
      |       CAST(sum(vid) AS BIGINT) AS sum_exact_ids,
      |       round(sum(cos_sim), 4) AS sum_exact_sim,
      |       true AS recall_floor_met
      |FROM tk""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "reward_trajectory" ->
      """WITH turns AS (
        |  SELECT user_id AS dia_id,
        |         CAST(event_id % 5 + 1 AS INT) AS layer,
        |         CAST(event_id * 7 % 100 AS DOUBLE) / 100.0 AS confidence,
        |         row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS turn
        |  FROM events
        |), lagged AS (
        |  SELECT dia_id, layer, confidence,
        |         coalesce(lag(layer) OVER (PARTITION BY dia_id ORDER BY turn), layer) AS last_layer
        |  FROM turns
        |), scored AS (
        |  SELECT dia_id,
        |         1.0/(1.0+exp(-8.0*((layer/5.0
        |           + 0.7*greatest(layer-last_layer,0)/5.0
        |           - 0.6*greatest(last_layer-layer,0)/5.0
        |           - 5.0*greatest(layer-(last_layer+1),0)/5.0) * (0.5+0.5*confidence) - 0.5))) AS score
        |  FROM lagged
        |)
        |SELECT dia_id, count(*) AS n_turns,
        |       round(CASE WHEN count(*) < 5 THEN 0.0 ELSE avg(score) END, 6) AS reward
        |FROM scored GROUP BY dia_id ORDER BY dia_id""".stripMargin,
    // typed-Aggregator path: same math as reward_trajectory, reward only
    "reward_trajectory_agg" ->
      """WITH turns AS (
        |  SELECT user_id AS dia_id,
        |         CAST(event_id % 5 + 1 AS INT) AS layer,
        |         CAST(event_id * 7 % 100 AS DOUBLE) / 100.0 AS confidence,
        |         row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS turn
        |  FROM events
        |), lagged AS (
        |  SELECT dia_id, layer, confidence,
        |         coalesce(lag(layer) OVER (PARTITION BY dia_id ORDER BY turn), layer) AS last_layer
        |  FROM turns
        |), scored AS (
        |  SELECT dia_id,
        |         1.0/(1.0+exp(-8.0*((layer/5.0
        |           + 0.7*greatest(layer-last_layer,0)/5.0
        |           - 0.6*greatest(last_layer-layer,0)/5.0
        |           - 5.0*greatest(layer-(last_layer+1),0)/5.0) * (0.5+0.5*confidence) - 0.5))) AS score
        |  FROM lagged
        |)
        |SELECT dia_id,
        |       round(CASE WHEN count(*) < 5 THEN 0.0 ELSE avg(score) END, 6) AS reward
        |FROM scored GROUP BY dia_id ORDER BY dia_id""".stripMargin,
    "turn_scores" ->
      """WITH turns AS (
        |  SELECT user_id AS dia_id,
        |         CAST(event_id % 5 + 1 AS INT) AS layer,
        |         CAST(event_id * 7 % 100 AS DOUBLE) / 100.0 AS confidence,
        |         row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS turn
        |  FROM events
        |), lagged AS (
        |  SELECT dia_id, CAST(turn AS INT) AS turn, layer, confidence,
        |         coalesce(lag(layer) OVER (PARTITION BY dia_id ORDER BY turn), layer) AS last_layer
        |  FROM turns
        |)
        |SELECT dia_id, turn, layer, last_layer,
        |       round(1.0/(1.0+exp(-8.0*((layer/5.0
        |         + 0.7*greatest(layer-last_layer,0)/5.0
        |         - 0.6*greatest(last_layer-layer,0)/5.0
        |         - 5.0*greatest(layer-(last_layer+1),0)/5.0) * (0.5+0.5*confidence) - 0.5))), 6) AS score
        |FROM lagged ORDER BY dia_id, turn""".stripMargin,
    "grpo_normalize" ->
      """SELECT event_id, user_id, value,
        |       round(CASE WHEN sd IS NULL OR sd = 0.0 THEN 0.0
        |                  ELSE (value - mu) / sd END, 6) AS advantage
        |FROM (
        |  SELECT event_id, user_id, value,
        |         avg(value) OVER (PARTITION BY user_id) AS mu,
        |         stddev_samp(value) OVER (PARTITION BY user_id) AS sd
        |  FROM events
        |) ORDER BY event_id""".stripMargin,
    // preference_pairs: best-vs-worst rollout per prompt group, ties
    // broken on the smallest event id; all-tied groups emit nothing
    "preference_pairs" ->
      """WITH rk AS (
        |  SELECT user_id, event_id, value,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY value DESC, event_id) AS rb,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY value ASC, event_id) AS rw
        |  FROM events),
        |c AS (SELECT user_id, event_id AS chosen_id, value AS chosen_r
        |      FROM rk WHERE rb = 1),
        |r AS (SELECT user_id, event_id AS rejected_id, value AS rejected_r
        |      FROM rk WHERE rw = 1)
        |SELECT c.user_id, chosen_id, rejected_id,
        |       round(chosen_r, 6) AS chosen_r,
        |       round(rejected_r, 6) AS rejected_r,
        |       round(chosen_r - rejected_r, 6) AS margin
        |FROM c JOIN r ON c.user_id = r.user_id
        |WHERE chosen_id != rejected_id
        |  AND round(chosen_r - rejected_r, 6) > 0
        |ORDER BY c.user_id""".stripMargin,
    "session_termination" ->
      """WITH turns AS (
        |  SELECT user_id AS dia_id,
        |         CAST(event_id % 5 + 1 AS INT) AS layer,
        |         row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS turn
        |  FROM events
        |), flagged AS (
        |  SELECT dia_id, turn,
        |         CASE WHEN turn >= 20 THEN 'max_turns'
        |              WHEN count(*) OVER w6 = 6
        |                   AND min(layer) OVER w6 = max(layer) OVER w6 THEN 'no_progress_6'
        |              WHEN count(*) OVER w5 = 5
        |                   AND min(layer) OVER w5 = 5 THEN 'perception_5'
        |         END AS terminate_reason
        |  FROM turns
        |  WINDOW w6 AS (PARTITION BY dia_id ORDER BY turn ROWS BETWEEN 5 PRECEDING AND CURRENT ROW),
        |         w5 AS (PARTITION BY dia_id ORDER BY turn ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
        |)
        |SELECT dia_id, CAST(turn AS INT) AS end_turn, terminate_reason
        |FROM (
        |  SELECT dia_id, turn, terminate_reason,
        |         row_number() OVER (PARTITION BY dia_id ORDER BY turn) AS rn
        |  FROM flagged WHERE terminate_reason IS NOT NULL
        |) WHERE rn = 1 ORDER BY dia_id""".stripMargin,
    // --- [EXT] relational core. DuckDB type notes: sum(INTEGER/BIGINT)
    // returns HUGEINT → cast to BIGINT to match Spark's LongType;
    // year()/month() return BIGINT → cast to INT. ---
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |       round(sum(l_quantity), 2) AS sum_qty,
        |       round(sum(l_extendedprice), 2) AS sum_base_price,
        |       round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
        |       round(sum(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)), 2) AS sum_charge,
        |       round(avg(l_quantity), 6) AS avg_qty,
        |       round(avg(l_extendedprice), 6) AS avg_price,
        |       round(avg(l_discount), 6) AS avg_disc,
        |       count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2000-12-01'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "revenue_by_nation" ->
      """SELECT r_name, n_name,
        |       round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
        |       count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,
    "q3_shipping_priority" ->
      """SELECT l_orderkey, strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS o_orderdate,
        |       o_orderpriority,
        |       round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate >= TIMESTAMP '1998-01-01'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "q18_large_orders" ->
      """SELECT c_custkey, c_name, o_orderkey, o_totalprice,
        |       round(total_qty, 2) AS total_qty
        |FROM orders
        |JOIN (SELECT l_orderkey, sum(l_quantity) AS total_qty
        |      FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 150) b
        |  ON o_orderkey = b.l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin,
    "top_orders_per_customer" ->
      """SELECT o_custkey, CAST(rn AS INT) AS rn, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_custkey
        |                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders
        |) WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,
    "moving_revenue_7d" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |         sum(o_totalprice) AS rev,
        |         datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS daynum
        |  FROM orders GROUP BY 1, 3
        |)
        |SELECT strftime(day, '%Y-%m-%d') AS day, round(rev, 2) AS revenue,
        |       round(sum(rev) OVER (ORDER BY daynum
        |             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW), 2) AS revenue_7d
        |FROM daily ORDER BY day""".stripMargin,
    "customers_without_orders" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin,
    "segment_order_stats" ->
      """SELECT c_mktsegment, count(*) AS n_customers,
        |       round(sum(c_acctbal), 2) AS sum_acctbal
        |FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q5_local_supplier" ->
      """SELECT n_name,
        |       round(sum(l_extendedprice * (1 - l_discount)), 6) AS revenue,
        |       CAST(count(*) AS BIGINT) AS n_items
        |FROM customer, orders, lineitem, supplier, nation, region
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q7_volume_shipping" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |       CAST(year(l_shipdate) AS INT) AS l_year,
        |       round(sum(l_extendedprice * (1 - l_discount)), 6) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
        |   OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3')
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "q10_returned_items" ->
      """SELECT c_custkey, c_name, n_name,
        |       round(sum(l_extendedprice * (1 - l_discount)), 6) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-04-01'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,
    "quantile_quantity" ->
      """SELECT l_returnflag,
        |       round(quantile_cont(l_quantity, 0.25), 6) AS q25,
        |       round(quantile_cont(l_quantity, 0.5), 6) AS q50,
        |       round(quantile_cont(l_quantity, 0.75), 6) AS q75,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "range_join_quantity" ->
      """SELECT p_partkey,
        |       CAST(count(*) AS BIGINT) AS n_items,
        |       round(sum(l_quantity), 2) AS sum_qty
        |FROM part JOIN lineitem
        |  ON CAST(floor(l_quantity) AS INT) BETWEEN p_size AND p_size + 4
        |GROUP BY p_partkey ORDER BY p_partkey""".stripMargin,
    "asof_latest_error" ->
      """SELECT event_id, user_id, ts, prior_error_ts FROM (
        |  SELECT event_id, user_id, event_type, epoch_us(ts) AS ts,
        |         last_value(CASE WHEN event_type = 'error' THEN epoch_us(ts) END
        |                    IGNORE NULLS)
        |           OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prior_error_ts
        |  FROM events
        |) WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin,
    "asof_native" ->
      """SELECT event_id, user_id, ts, prior_error_ts FROM (
        |  SELECT event_id, user_id, event_type, epoch_us(ts) AS ts,
        |         last_value(CASE WHEN event_type = 'error' THEN epoch_us(ts) END
        |                    IGNORE NULLS)
        |           OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prior_error_ts
        |  FROM events
        |) WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin,
    "rollup_acctbal" ->
      """SELECT r_name, n_name, count(*) AS n_customers,
        |       round(sum(c_acctbal), 2) AS sum_acctbal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)
        |ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin,
    "distinct_counts" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // approx_distinct_users / approx_quantiles: the sketch VALUES are
    // engine-specific, so the declared queries emit the exact side
    // (recomputed in-query) plus within-bound booleans the oracle
    // asserts as literal true — the knn_ivf_cells gate pattern
    // (round-10 verdict ask #3; zero rows-only queries remain)
    "approx_distinct_users" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_exact,
        |       true AS within_bound
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "approx_quantiles" ->
      """SELECT event_type, count(*) AS n,
        |       true AS q25_ok, true AS q50_ok, true AS q75_ok, true AS q90_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "json_extract_events" ->
      """SELECT event_type,
        |       CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
        |       round(avg(CAST(json_extract_string(props, '$.k') AS INT)), 6) AS avg_k,
        |       count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // variant_extract_events (F21): the Spark side constructs a
    // nested JSON doc per event, parses to VARIANT and extracts typed
    // paths; the oracle recomputes from the flat columns, verifying
    // the construct->parse->extract round trip (absent path = NULL
    // for every row, so n_absent = n)
    "variant_extract_events" ->
      """SELECT event_type AS t, count(*) AS n,
        |       round(sum(value), 6) AS sum_v,
        |       count(DISTINCT user_id) AS n_users,
        |       CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
        |       count(*) AS n_absent
        |FROM events GROUP BY 1 ORDER BY t""".stripMargin,
    "monthly_revenue" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS yr,
        |       CAST(month(o_orderdate) AS INT) AS mo,
        |       round(sum(o_totalprice), 2) AS revenue, count(*) AS n_orders
        |FROM orders GROUP BY 1, 2 ORDER BY yr, mo""".stripMargin,
    "topk_parts" ->
      """SELECT p_partkey, p_name, p_retailprice FROM part
        |ORDER BY p_retailprice DESC, p_partkey LIMIT 10""".stripMargin,
    "nation_coverage" ->
      """SELECT n_name FROM nation
        |WHERE EXISTS (SELECT 1 FROM customer WHERE c_nationkey = n_nationkey)
        |INTERSECT
        |SELECT n_name FROM nation
        |WHERE EXISTS (SELECT 1 FROM supplier WHERE s_nationkey = n_nationkey)
        |ORDER BY n_name""".stripMargin,
    "nations_without_suppliers" ->
      """SELECT n_name FROM nation
        |WHERE EXISTS (SELECT 1 FROM customer WHERE c_nationkey = n_nationkey)
        |EXCEPT
        |SELECT n_name FROM nation
        |WHERE EXISTS (SELECT 1 FROM supplier
        |              WHERE s_nationkey = n_nationkey AND s_acctbal > 5000)
        |ORDER BY n_name""".stripMargin,
    // map_defaults_weights: MapType lookup with coalesce default on
    // the Spark side; the oracle mirrors it as a CASE ladder
    "map_defaults_weights" ->
      """SELECT event_type, count(*) AS n,
        |       round(sum(value * CASE event_type
        |                           WHEN 'purchase' THEN 1.5
        |                           WHEN 'error' THEN 0.5
        |                           WHEN 'view' THEN 0.0
        |                           ELSE 1.0 END), 6) AS weighted_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "string_funcs_part" ->
      """SELECT p_partkey, lower(p_name) AS name_lc,
        |       substring(p_type, 1, 5) AS type5,
        |       replace(p_brand, '#', '_') AS brand_u,
        |       CAST(length(p_name) AS INT) AS name_len
        |FROM part ORDER BY p_partkey""".stripMargin,
    // --- [EXT] LLM-data-pipeline ops. The polyhash list_reduce mirrors
    // ColumnFunctions.polyHash exactly: h=(h*31+ascii)%1000000007; the
    // minhash multiplier (103515239+2*perm)%p mirrors seededHash. ---
    "dedup_exact" ->
      """SELECT doc_id, n_copies FROM (
        |  SELECT doc_id, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn,
        |         count(*) OVER (PARTITION BY text) AS n_copies
        |  FROM documents) WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "dedup_prefix_key" ->
      """SELECT key, min(doc_id) AS keeper_doc_id, count(*) AS n_docs FROM (
        |  SELECT doc_id, tokens[1] || ' ' || tokens[2] AS key
        |  FROM (SELECT doc_id, string_split(text, ' ') AS tokens FROM documents))
        |GROUP BY key ORDER BY key""".stripMargin,
    "minhash_signatures" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS tokens FROM documents),
        |t2 AS (SELECT doc_id, list_transform(tokens, t ->
        |        list_reduce(list_prepend(0::BIGINT,
        |          list_transform(range(1, length(t)+1), i -> ascii(substring(t,i,1))::BIGINT)),
        |          (a,c) -> (a*31+c) % 1000000007)) AS th FROM tok),
        |h AS (SELECT doc_id, list_transform(range(1, len(th)-1),
        |        i -> (((th[i]*37 + th[i+1]) % 1000000007) * 37 + th[i+2]) % 1000000007) AS hs
        |      FROM t2)
        |SELECT doc_id, CAST(perm AS INT) AS perm,
        |       list_aggregate(list_transform(hs,
        |         x -> (x*((103515239 + 2*perm) % 1000000007) + (12345 + perm)) % 1000000007),
        |         'min') AS minhash
        |FROM (SELECT doc_id, hs, unnest(range(16)) AS perm FROM h)
        |ORDER BY doc_id, perm""".stripMargin,
    "minhash_near_dup" -> MinhashNearDupSql,
    // stream_near_dup: the SAME banded-LSH pair set produced by the
    // CONTINUOUS form (flatMapGroupsWithState bucket state, pairs
    // emitted when the later member arrives) — the batch
    // recomputation IS its oracle, proving stream ≡ batch
    "stream_near_dup" -> MinhashNearDupSql,
    // multi_signal_near_dup: text-side band candidates over the
    // manufactured corpus, embedding-cosine verify per candidate; the
    // +1M variant rides a perturbed copy of its base embedding (same
    // formula as embedding_near_dup's variant). Float products are
    // exact in double (24-bit mantissas), so round(…,6) absorbs
    // summation-order ulps.
    "multi_signal_near_dup" ->
      ("WITH nd AS (\n" + MinhashNearDupSql + "\n),\n" +
        """eb AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          |       FROM embeddings),
          |ev AS (SELECT vec_id + 1000000 AS vec_id,
          |              list_transform(range(len(v)), i -> v[i+1] * (1 + 0.02*((i % 5) - 2))) AS v
          |       FROM eb),
          |e AS (SELECT vec_id, unnest(v) AS x, unnest(range(len(v))) AS i
          |      FROM (SELECT * FROM eb UNION ALL SELECT * FROM ev)),
          |n AS (SELECT vec_id, sqrt(sum(x*x)) AS nrm FROM e GROUP BY 1),
          |dp AS (SELECT nd.doc_a, nd.doc_b, nd.est_jaccard, sum(a.x * b.x) AS dp
          |       FROM nd JOIN e a ON a.vec_id = nd.doc_a
          |               JOIN e b ON b.vec_id = nd.doc_b AND a.i = b.i
          |       GROUP BY 1, 2, 3)
          |SELECT doc_a, doc_b, est_jaccard,
          |       round(dp / (na.nrm * nb.nrm), 6) AS cos_sim,
          |       round(dp / (na.nrm * nb.nrm), 6) >= 0.8 AS confirmed
          |FROM dp JOIN n na ON na.vec_id = doc_a JOIN n nb ON nb.vec_id = doc_b
          |ORDER BY doc_a, doc_b""".stripMargin),
    // dedup_clusters: connected components over the near-dup pairs —
    // the oracle computes the EXACT transitive closure with a
    // recursive CTE, guarding the Spark side's iteration bound
    "dedup_clusters" ->
      ("WITH RECURSIVE nd AS (\n" + MinhashNearDupSql + "\n),\n" +
        """edges AS (SELECT doc_a AS src, doc_b AS dst FROM nd
          |          UNION ALL SELECT doc_b, doc_a FROM nd),
          |nodes AS (SELECT DISTINCT src AS id FROM edges),
          |reach(id, label) AS (
          |  SELECT id, id FROM nodes
          |  UNION
          |  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id)
          |SELECT id AS doc_id, min(label) AS cluster_id
          |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin),
    // cluster_size_hist: exact-closure cluster sizes histogrammed —
    // all-integer, guards the shared contraction labels a third way
    "cluster_size_hist" ->
      ("WITH RECURSIVE nd AS (\n" + MinhashNearDupSql + "\n),\n" +
        """edges AS (SELECT doc_a AS src, doc_b AS dst FROM nd
          |          UNION ALL SELECT doc_b, doc_a FROM nd),
          |nodes AS (SELECT DISTINCT src AS id FROM edges),
          |reach(id, label) AS (
          |  SELECT id, id FROM nodes
          |  UNION
          |  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id),
          |labels AS (SELECT id, min(label) AS label FROM reach GROUP BY id),
          |sz AS (SELECT label, count(*) AS cluster_size FROM labels GROUP BY 1)
          |SELECT cluster_size, count(*) AS n_clusters
          |FROM sz GROUP BY 1 ORDER BY cluster_size""".stripMargin),
    // dedup_keep_best: exact closure (as dedup_clusters) + the
    // canonical keeper per cluster — highest ROUNDED
    // ln(1+|tokens|)·TTR quality, doc_id tie-break
    "dedup_keep_best" ->
      ("WITH RECURSIVE nd AS (\n" + MinhashNearDupSql + "\n),\n" +
        "corpus2 AS (\n  " + NearDupCorpusSql + "\n),\n" +
        """edges AS (SELECT doc_a AS src, doc_b AS dst FROM nd
          |          UNION ALL SELECT doc_b, doc_a FROM nd),
          |nodes AS (SELECT DISTINCT src AS id FROM edges),
          |reach(id, label) AS (
          |  SELECT id, id FROM nodes
          |  UNION
          |  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id),
          |labels AS (SELECT id, min(label) AS label FROM reach GROUP BY id),
          |q AS (SELECT doc_id,
          |        round(ln(1.0 + len(tk)) * (len(list_distinct(tk))::DOUBLE / len(tk)), 6)
          |          AS quality
          |      FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM corpus2)),
          |ranked AS (SELECT l.label AS cluster_id, q.doc_id, q.quality,
          |             row_number() OVER (PARTITION BY l.label
          |                                ORDER BY q.quality DESC, q.doc_id) AS rk,
          |             count(*) OVER (PARTITION BY l.label) AS n_docs
          |           FROM labels l JOIN q ON q.doc_id = l.id)
          |SELECT cluster_id, doc_id AS keeper_doc_id, quality AS keeper_quality, n_docs
          |FROM ranked WHERE rk = 1 ORDER BY cluster_id""".stripMargin),
    // curation_funnel: the END-TO-END pipeline recomputed from
    // scratch — normalization dedup, recursive-CTE near-dup closure +
    // keep-best, logistic gate, hash split — so the COMPOSITION is
    // hash-verified, not just the stages
    // mixture_sampling: temperature-flattened (T=2) domain quotas —
    // weight = isqrt(count), quota = (w * budget) // Σw, best-first
    // within each domain; every step integer-exact cross-engine
    "mixture_sampling" ->
      """WITH c AS (SELECT source, count(*) AS cnt FROM documents GROUP BY 1),
        |w AS (SELECT source, cnt,
        |             CAST(floor(sqrt(cnt)) AS BIGINT) AS w FROM c),
        |q AS (SELECT source, cnt, w,
        |             (w * 300) // (SELECT sum(w) FROM w) AS quota FROM w),
        |r AS (SELECT source, n_chars,
        |  row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rk
        |  FROM documents)
        |SELECT r.source,
        |  CAST(max(q.cnt) AS BIGINT) AS n_docs,
        |  CAST(max(q.w) AS BIGINT) AS weight,
        |  CAST(max(q.quota) AS BIGINT) AS quota,
        |  CAST(sum(CASE WHEN rk <= quota THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(sum(CASE WHEN rk <= quota THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
        |FROM r JOIN q ON q.source = r.source
        |GROUP BY r.source ORDER BY r.source""".stripMargin,
    "domain_caps" ->
      """WITH r AS (SELECT source, n_chars,
        |  row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rk
        |  FROM documents)
        |SELECT source,
        |  CAST(sum(CASE WHEN rk <= 15 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(sum(CASE WHEN rk > 15 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
        |  CAST(sum(CASE WHEN rk <= 15 THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
        |FROM r GROUP BY source ORDER BY source""".stripMargin,
    "curation_funnel" ->
      ("WITH RECURSIVE nd AS (\n" + MinhashNearDupSql + "\n),\n" +
        "corpus2 AS (\n  " + NearDupCorpusSql + "\n),\n" +
        """styled AS (SELECT doc_id + 2000000 AS doc_id,
          |                  upper(substr(text, 1, 1)) || substr(text, 2) || ' .' AS text
          |           FROM documents),
          |raw AS (SELECT doc_id, text FROM corpus2 UNION ALL SELECT * FROM styled),
          |s1 AS (SELECT min(doc_id) AS doc_id, arg_min(text, doc_id) AS text
          |       FROM (SELECT doc_id, text,
          |               trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
          |                                   ' +', ' ', 'g')) AS norm
          |             FROM raw)
          |       GROUP BY norm),
          |edges AS (SELECT doc_a AS src, doc_b AS dst FROM nd
          |          UNION ALL SELECT doc_b, doc_a FROM nd),
          |nodes AS (SELECT DISTINCT src AS id FROM edges),
          |reach(id, label) AS (
          |  SELECT id, id FROM nodes
          |  UNION
          |  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id),
          |labels AS (SELECT id, min(label) AS label FROM reach GROUP BY id),
          |q AS (SELECT doc_id,
          |        round(ln(1.0 + len(tk)) * (len(list_distinct(tk))::DOUBLE / len(tk)), 6)
          |          AS quality
          |      FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM corpus2)),
          |ranked AS (SELECT l.label, q.doc_id, q.quality,
          |             row_number() OVER (PARTITION BY l.label
          |                                ORDER BY q.quality DESC, q.doc_id) AS rk
          |           FROM labels l JOIN q ON q.doc_id = l.id),
          |s2 AS (SELECT s1.doc_id, s1.text FROM s1
          |       WHERE s1.doc_id IN (SELECT doc_id FROM ranked WHERE rk = 1)
          |          OR s1.doc_id NOT IN (SELECT id FROM nodes)),
          |s3 AS (SELECT doc_id, text FROM (
          |         SELECT doc_id, text,
          |           -2.0 + 3.0 * (len(list_distinct(tk))::DOUBLE / len(tk))
          |           - 1.5 * (len(list_filter(tk, t -> list_contains(['the','a','of','and','in'], t)))::DOUBLE
          |                    / len(tk))
          |           + 0.3 * ln(1.0 + len(tk)) AS z
          |         FROM (SELECT doc_id, text, string_split(text, ' ') AS tk FROM s2))
          |       WHERE z >= 0.0),
          |s4 AS (SELECT CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
          |                   ELSE 'test' END AS split
          |       FROM (SELECT list_reduce(list_prepend(0::BIGINT,
          |               list_transform(range(1, length(text)+1),
          |                 i -> ascii(substring(text,i,1))::BIGINT)),
          |               (a,c) -> (a*31+c) % 1000000007) % 100 AS b
          |             FROM s3))
          |SELECT 's0_raw' AS stage, count(*) AS n_docs FROM raw
          |UNION ALL SELECT 's1_exact_dedup', count(*) FROM s1
          |UNION ALL SELECT 's2_near_dedup', count(*) FROM s2
          |UNION ALL SELECT 's3_quality', count(*) FROM s3
          |UNION ALL SELECT 's4_' || split, count(*) FROM s4 GROUP BY split
          |ORDER BY stage""".stripMargin),
    // streaming_dedup: first-seen dedup state across micro-batches;
    // the aggregate uses only copy-invariant columns, so it equals
    // the distinct-text aggregate regardless of arrival order
    "streaming_dedup" ->
      """WITH dup AS (
        |  SELECT doc_id, lang, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 5000000, lang, text FROM documents WHERE doc_id % 3 = 0
        |),
        |uniq AS (SELECT DISTINCT lang, text FROM dup)
        |SELECT lang, count(*) AS n_uniq,
        |       round(avg(len(string_split(text, ' '))::DOUBLE), 6) AS avg_tokens
        |FROM uniq GROUP BY lang ORDER BY lang""".stripMargin,
    // sql_registry_fingerprint: same math as doc_fingerprint + simhash,
    // but the Spark side runs through the graft_* SQL registry
    "sql_registry_fingerprint" ->
      """WITH t2 AS (SELECT doc_id, text, list_transform(string_split(text, ' '), t ->
        |        list_reduce(list_prepend(0::BIGINT,
        |          list_transform(range(1, length(t)+1), i -> ascii(substring(t,i,1))::BIGINT)),
        |          (a,c) -> (a*31+c) % 1000000007)) AS th FROM documents),
        |fp AS (SELECT doc_id,
        |  list_reduce(list_prepend(0::BIGINT, list_transform(range(1, length(text)+1),
        |    i -> ascii(substring(text,i,1))::BIGINT)), (a,c) -> (a*31+c) % 1000000007) AS content_fp,
        |  list_aggregate(list_transform(range(1, len(th)-1),
        |    i -> (((th[i]*37 + th[i+1]) % 1000000007) * 37 + th[i+2]) % 1000000007),
        |    'min') AS min_fp
        |FROM t2),
        |cnt AS (SELECT doc_id, h, count(*) AS c
        |        FROM (SELECT doc_id, unnest(th) AS h FROM t2) GROUP BY 1, 2),
        |bits AS (SELECT doc_id, b, CAST(power(2, b) AS BIGINT) AS pow2,
        |         sum(CASE WHEN (h & CAST(power(2, b) AS BIGINT)) != 0 THEN c ELSE -c END) AS s
        |         FROM cnt, (SELECT unnest(range(30)) AS b) bb GROUP BY 1, 2, 3),
        |sh AS (SELECT doc_id, CAST(sum(CASE WHEN s > 0 THEN pow2 ELSE 0 END) AS BIGINT) AS simhash
        |       FROM bits GROUP BY doc_id)
        |SELECT fp.doc_id, content_fp, min_fp, simhash
        |FROM fp JOIN sh ON fp.doc_id = sh.doc_id ORDER BY fp.doc_id""".stripMargin,
    "simhash_docs" ->
      """WITH th AS (
        |  SELECT doc_id,
        |         list_reduce(list_prepend(0::BIGINT, list_transform(range(1, length(token)+1),
        |           i -> ascii(substring(token,i,1))::BIGINT)), (a,c) -> (a*31+c) % 1000000007) AS h,
        |         count(*) AS c
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
        |  GROUP BY 1, 2
        |),
        |bits AS (
        |  SELECT doc_id, b, CAST(power(2, b) AS BIGINT) AS pow2,
        |         sum(CASE WHEN (h & CAST(power(2, b) AS BIGINT)) != 0 THEN c ELSE -c END) AS s
        |  FROM th, (SELECT unnest(range(30)) AS b) bb
        |  GROUP BY 1, 2, 3
        |)
        |SELECT doc_id, CAST(sum(CASE WHEN s > 0 THEN pow2 ELSE 0 END) AS BIGINT) AS simhash
        |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // simhash_near_dup: threshold 2 = bands−1, so banding is EXACT
    // (pigeonhole: ≤2 flipped bits leave one 10-bit band untouched) —
    // the band join here is the same pure prune as the Spark side;
    // hamming is integral bit math
    "simhash_near_dup" ->
      """WITH th AS (
        |  SELECT doc_id,
        |         list_reduce(list_prepend(0::BIGINT, list_transform(range(1, length(token)+1),
        |           i -> ascii(substring(token,i,1))::BIGINT)), (a,c) -> (a*31+c) % 1000000007) AS h,
        |         count(*) AS c
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
        |  GROUP BY 1, 2
        |),
        |bits AS (
        |  SELECT doc_id, b, CAST(power(2, b) AS BIGINT) AS pow2,
        |         sum(CASE WHEN (h & CAST(power(2, b) AS BIGINT)) != 0 THEN c ELSE -c END) AS s
        |  FROM th, (SELECT unnest(range(30)) AS b) bb
        |  GROUP BY 1, 2, 3
        |),
        |sim AS (
        |  SELECT doc_id, CAST(sum(CASE WHEN s > 0 THEN pow2 ELSE 0 END) AS BIGINT) AS simhash
        |  FROM bits GROUP BY doc_id
        |),
        |bands AS (
        |  SELECT doc_id, simhash, b, (simhash >> (b*10)) & 1023 AS bv
        |  FROM sim, (SELECT unnest(range(3)) AS b) bb
        |)
        |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
        |FROM bands a JOIN bands b
        |  ON a.b = b.b AND a.bv = b.bv AND a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
        |ORDER BY doc_a, doc_b""".stripMargin,
    // setsim_join_exact: the Spark side's prefix + positional
    // filters are proven exact, so the oracle verifies by brute force
    // over the same hashed shingle sets; thresholds all-integer
    "setsim_join_exact" ->
      (s"""WITH $SetSimEdgesSql\n""" +
        """SELECT doc_a, doc_b, CAST(n_inter AS INT) AS n_inter,
          |       CAST(n_union AS INT) AS n_union,
          |       round(n_inter::DOUBLE / n_union, 6) AS jaccard
          |FROM e ORDER BY doc_a, doc_b""".stripMargin),
    // triangle_count: edges = the minhash near-dup pairs (shared
    // MinhashNearDupSql, nested like dedup_clusters does), wedges
    // closed with two joins; all-integer
    "triangle_count" ->
      ("WITH e AS (\n" + MinhashNearDupSql + "\n),\n" +
        """vx AS (SELECT count(DISTINCT v) AS n_vertices
          |       FROM (SELECT doc_a AS v FROM e UNION ALL SELECT doc_b FROM e)),
          |ed AS (SELECT count(*) AS n_edges FROM e),
          |tri AS (SELECT count(*) AS n_triangles
          |        FROM e e1 JOIN e e2 ON e1.doc_b = e2.doc_a
          |                  JOIN e e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b)
          |SELECT n_vertices, n_edges, n_triangles FROM vx, ed, tri""".stripMargin),
    // pagerank_near_dup: 3 power iterations UNROLLED as CTEs (the
    // Spark side runs the same fixed count) in NORMALIZED rank space
    // (q0 = 1, update 0.15 + 0.85·Σ q/deg — no |V| anywhere);
    // teleport/damping written as the literals 0.15/0.85 on both
    // engines, and EACH iteration rounded to 9 decimals exactly as
    // the Spark side does, so summation-order ulps cannot compound
    // across iterations and flip the final 6-decimal round
    // (round-4 ADVICE)
    "pagerank_near_dup" ->
      ("WITH nd AS (\n" + MinhashNearDupSql + "\n),\n" +
        """e AS (SELECT doc_a AS u, doc_b AS v FROM nd
          |      UNION ALL SELECT doc_b, doc_a FROM nd),
          |deg AS (SELECT u, count(*) AS deg FROM e GROUP BY 1),
          |ed AS (SELECT e.u, e.v, deg.deg FROM e JOIN deg USING (u)),
          |r0 AS (SELECT u, 1.0 AS r FROM deg),
          |r1 AS (SELECT ed.v AS u, round(0.15 + 0.85 * sum(r0.r / ed.deg), 9) AS r
          |       FROM ed JOIN r0 ON ed.u = r0.u GROUP BY ed.v),
          |r2 AS (SELECT ed.v AS u, round(0.15 + 0.85 * sum(r1.r / ed.deg), 9) AS r
          |       FROM ed JOIN r1 ON ed.u = r1.u GROUP BY ed.v),
          |r3 AS (SELECT ed.v AS u, round(0.15 + 0.85 * sum(r2.r / ed.deg), 9) AS r
          |       FROM ed JOIN r2 ON ed.u = r2.u GROUP BY ed.v)
          |SELECT deg.u AS doc_id, CAST(deg.deg AS INT) AS degree,
          |       round(r3.r, 6) AS rank_norm
          |FROM r3 JOIN deg ON r3.u = deg.u
          |ORDER BY doc_id""".stripMargin),
    "jaccard_consecutive" ->
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(tokens)-1),
        |    i -> tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2])) AS sh
        |  FROM (SELECT doc_id, string_split(text, ' ') AS tokens FROM documents))
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       round(len(list_intersect(a.sh, b.sh))::DOUBLE /
        |             len(list_distinct(list_concat(a.sh, b.sh)))::DOUBLE, 6) AS jaccard
        |FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
        |ORDER BY doc_a""".stripMargin,
    "levenshtein_consecutive" ->
      """SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       CAST(levenshtein(a.text, b.text) AS INT) AS edit_dist,
        |       round(1.0 - levenshtein(a.text, b.text)::DOUBLE /
        |             greatest(length(a.text), length(b.text))::DOUBLE, 6) AS edit_sim
        |FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        |ORDER BY doc_a""".stripMargin,
    // cjk_edit_sim: Spark computes the native CODE-POINT Levenshtein
    // over 1:1 ASCII→CJK translated strings; the oracle computes the
    // byte distance over the ASCII originals — equal iff the native
    // expression counts code points (a byte bug would cost 3 per CJK
    // substitution and hash-mismatch)
    "cjk_edit_sim" ->
      """WITH t AS (SELECT doc_id, substring(text, 1, 40) AS s FROM documents)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       CAST(levenshtein(a.s, b.s) AS INT) AS edit_dist,
        |       round(1.0 - levenshtein(a.s, b.s)::DOUBLE /
        |             greatest(length(a.s), length(b.s))::DOUBLE, 6) AS edit_sim
        |FROM t a JOIN t b ON b.doc_id = a.doc_id + 1
        |ORDER BY doc_a""".stripMargin,
    "knn_brute_force" ->
      """WITH e AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
        |                  unnest(range(len(embedding))) AS i FROM embeddings),
        |n AS (SELECT vec_id, sqrt(sum(x*x)) AS nrm FROM e GROUP BY 1),
        |d AS (SELECT a.vec_id AS qid, b.vec_id AS vid, sum(a.x * b.x) AS dp
        |      FROM e a JOIN e b ON a.i = b.i AND b.vec_id != a.vec_id
        |      WHERE a.vec_id < 10 GROUP BY 1, 2),
        |sc AS (SELECT qid, vid, round(dp / (na.nrm * nb.nrm), 6) AS cos_sim
        |       FROM d JOIN n na ON na.vec_id = qid JOIN n nb ON nb.vec_id = vid)
        |SELECT qid, CAST(rn AS INT) AS "rank", vid AS vec_id, cos_sim FROM (
        |  SELECT qid, vid, cos_sim,
        |         row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, vid) AS rn FROM sc)
        |WHERE rn <= 5 ORDER BY qid, rn""".stripMargin,
    // knn_ivf_cells: the IVF family's hash gate — exact cell
    // assignment under the deterministic stand-in centroids (first 16
    // vectors), rounded-cosine argmax with cell_id tie-break (the
    // ranking contract knn_brute_force hash-proves)
    "knn_ivf_cells" ->
      """WITH e AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
        |                  unnest(range(len(embedding))) AS i FROM embeddings),
        |n AS (SELECT vec_id, sqrt(sum(x*x)) AS nrm FROM e GROUP BY 1),
        |d AS (SELECT a.vec_id AS vid, b.vec_id AS cell_id, sum(a.x * b.x) AS dp
        |      FROM e a JOIN e b ON a.i = b.i AND b.vec_id < 16
        |      GROUP BY 1, 2),
        |sc AS (SELECT vid, cell_id, round(dp / (na.nrm * nb.nrm), 6) AS cs
        |       FROM d JOIN n na ON na.vec_id = vid JOIN n nb ON nb.vec_id = cell_id),
        |a AS (SELECT vid, cell_id,
        |        row_number() OVER (PARTITION BY vid ORDER BY cs DESC, cell_id) AS rn
        |      FROM sc)
        |SELECT cell_id, count(*) AS n_vectors, CAST(sum(vid) AS BIGINT) AS sum_vec_id
        |FROM a WHERE rn = 1 GROUP BY cell_id ORDER BY cell_id""".stripMargin,
    // semdedup: the full SemDeDup pipeline replayed — manufactured
    // corpus (originals + perturbed variants), stand-in-centroid
    // assignment (rounded argmax), cluster-bounded ordered pairs,
    // the ε≥0.95 drop sweep in keep-order (centroid-sim ASC, id ASC),
    // per-cell census
    "semdedup" ->
      """WITH base AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
        |                     unnest(range(len(embedding))) AS i FROM embeddings),
        |corp AS (
        |  SELECT vec_id, i, x FROM base
        |  UNION ALL
        |  SELECT vec_id + 1000000, i, x * (1.0 + 0.02 * ((i % 5) - 2))
        |  FROM base),
        |n AS (SELECT vec_id, sqrt(sum(x*x)) AS nrm FROM corp GROUP BY 1),
        |cents AS (SELECT vec_id AS cell_id, i, x FROM corp WHERE vec_id < 16),
        |d AS (SELECT a.vec_id AS vid, c.cell_id, sum(a.x * c.x) AS dp
        |      FROM corp a JOIN cents c ON a.i = c.i GROUP BY 1, 2),
        |sc AS (SELECT vid, cell_id, round(dp / (na.nrm * nb.nrm), 6) AS cs
        |       FROM d JOIN n na ON na.vec_id = vid
        |              JOIN n nb ON nb.vec_id = cell_id),
        |m AS (SELECT vid, cell_id, cell_sim FROM (
        |        SELECT vid, cell_id, cs AS cell_sim,
        |               row_number() OVER (PARTITION BY vid
        |                                  ORDER BY cs DESC, cell_id) AS rn
        |        FROM sc) WHERE rn = 1),
        |pd AS (SELECT a.vid AS avid, b.vid AS bvid, sum(ca.x * cb.x) AS dp
        |       FROM m a JOIN m b ON a.cell_id = b.cell_id
        |         AND (b.cell_sim < a.cell_sim OR
        |              (b.cell_sim = a.cell_sim AND b.vid < a.vid))
        |       JOIN corp ca ON ca.vec_id = a.vid
        |       JOIN corp cb ON cb.vec_id = b.vid AND cb.i = ca.i
        |       GROUP BY 1, 2),
        |drp AS (SELECT DISTINCT avid FROM pd
        |        JOIN n na ON na.vec_id = avid JOIN n nb ON nb.vec_id = bvid
        |        WHERE round(dp / (na.nrm * nb.nrm), 6) >= 0.95)
        |SELECT m.cell_id, count(*) AS n_members,
        |       CAST(sum(CASE WHEN drp.avid IS NOT NULL THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_dropped,
        |       CAST(sum(CASE WHEN drp.avid IS NULL THEN m.vid END)
        |            AS BIGINT) AS sum_kept_ids,
        |       round(sum(m.cell_sim), 4) AS sum_cell_sim
        |FROM m LEFT JOIN drp ON drp.avid = m.vid
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // semdedup_kmeans: the exact stand-in side replayed (corpus
    // size, pair count, caught pairs); the kmeans-trained path's
    // assignment/keep/recall guarantees assert as literal TRUE
    "semdedup_kmeans" ->
      """WITH base AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
        |                     unnest(range(len(embedding))) AS i FROM embeddings),
        |corp AS (
        |  SELECT vec_id, i, x FROM base
        |  UNION ALL
        |  SELECT vec_id + 1000000, i, x * (1.0 + 0.02 * ((i % 5) - 2))
        |  FROM base),
        |n AS (SELECT vec_id, sqrt(sum(x*x)) AS nrm FROM corp GROUP BY 1),
        |cents AS (SELECT vec_id AS cell_id, i, x FROM corp WHERE vec_id < 16),
        |d AS (SELECT a.vec_id AS vid, c.cell_id, sum(a.x * c.x) AS dp
        |      FROM corp a JOIN cents c ON a.i = c.i GROUP BY 1, 2),
        |sc AS (SELECT vid, cell_id, round(dp / (na.nrm * nb.nrm), 6) AS cs
        |       FROM d JOIN n na ON na.vec_id = vid
        |              JOIN n nb ON nb.vec_id = cell_id),
        |m AS (SELECT vid, cell_id, cell_sim FROM (
        |        SELECT vid, cell_id, cs AS cell_sim,
        |               row_number() OVER (PARTITION BY vid
        |                                  ORDER BY cs DESC, cell_id) AS rn
        |        FROM sc) WHERE rn = 1),
        |pd AS (SELECT a.vid AS avid, b.vid AS bvid, sum(ca.x * cb.x) AS dp
        |       FROM m a JOIN m b ON a.cell_id = b.cell_id
        |         AND (b.cell_sim < a.cell_sim OR
        |              (b.cell_sim = a.cell_sim AND b.vid < a.vid))
        |       JOIN corp ca ON ca.vec_id = a.vid
        |       JOIN corp cb ON cb.vec_id = b.vid AND cb.i = ca.i
        |       GROUP BY 1, 2),
        |drp AS (SELECT DISTINCT avid FROM pd
        |        JOIN n na ON na.vec_id = avid JOIN n nb ON nb.vec_id = bvid
        |        WHERE round(dp / (na.nrm * nb.nrm), 6) >= 0.95)
        |SELECT (SELECT count(*) FROM m) AS n_vectors,
        |       (SELECT count(*) FROM embeddings) AS n_pairs,
        |       (SELECT count(DISTINCT avid % 1000000) FROM drp) AS n_exact_caught,
        |       true AS assigned_once_ok,
        |       true AS every_cell_keeps_ok,
        |       true AS recall_floor_met""".stripMargin,
    // hard_negatives: per-anchor top-k inside the [0, 0.95) cosine
    // band over 4-plane LSH buckets — buckets, band and rank all
    // replayed exactly by the oracle
    "hard_negatives" ->
      """WITH corpus AS (SELECT vec_id,
        |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |       FROM embeddings),
        |proj AS (SELECT vec_id, p,
        |                list_sum(list_transform(range(len(v)),
        |                  i -> v[i+1] * (CASE WHEN ((i*31 + p*17) % 7) % 2 = 0
        |                                 THEN 1.0 ELSE -1.0 END))) AS pr
        |         FROM corpus, (SELECT unnest(range(4)) AS p)),
        |buck AS (SELECT vec_id,
        |                CAST(sum(CASE WHEN pr > 0 THEN CAST(pow(2, p) AS BIGINT)
        |                          ELSE 0 END) AS BIGINT) AS bucket
        |         FROM proj GROUP BY 1),
        |e AS (SELECT vec_id, unnest(v) AS x, unnest(range(len(v))) AS i FROM corpus),
        |n AS (SELECT vec_id, sqrt(sum(x*x)) AS nrm FROM e GROUP BY 1),
        |d AS (SELECT a.vec_id AS qid, b.vec_id AS vid, sum(a.x * b.x) AS dp
        |      FROM e a JOIN e b ON a.i = b.i AND b.vec_id != a.vec_id
        |      JOIN buck ba ON ba.vec_id = a.vec_id
        |      JOIN buck bb ON bb.vec_id = b.vec_id AND ba.bucket = bb.bucket
        |      WHERE a.vec_id < 20 GROUP BY 1, 2),
        |sc AS (SELECT qid, vid, round(dp / (na.nrm * nb.nrm), 6) AS cos_sim
        |       FROM d JOIN n na ON na.vec_id = qid JOIN n nb ON nb.vec_id = vid
        |       WHERE round(dp / (na.nrm * nb.nrm), 6) >= 0.0
        |         AND round(dp / (na.nrm * nb.nrm), 6) < 0.95)
        |SELECT qid, CAST(rn AS INT) AS "rank", vid AS vec_id, cos_sim FROM (
        |  SELECT qid, vid, cos_sim,
        |         row_number() OVER (PARTITION BY qid
        |                            ORDER BY cos_sim DESC, vid) AS rn FROM sc)
        |WHERE rn <= 5 ORDER BY qid, rn""".stripMargin,
    // knn_topk_agg: heap-aggregate plan, identical results/oracle as brute force
    "knn_topk_agg" ->
      """WITH e AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
        |                  unnest(range(len(embedding))) AS i FROM embeddings),
        |n AS (SELECT vec_id, sqrt(sum(x*x)) AS nrm FROM e GROUP BY 1),
        |d AS (SELECT a.vec_id AS qid, b.vec_id AS vid, sum(a.x * b.x) AS dp
        |      FROM e a JOIN e b ON a.i = b.i AND b.vec_id != a.vec_id
        |      WHERE a.vec_id < 10 GROUP BY 1, 2),
        |sc AS (SELECT qid, vid, round(dp / (na.nrm * nb.nrm), 6) AS cos_sim
        |       FROM d JOIN n na ON na.vec_id = qid JOIN n nb ON nb.vec_id = vid)
        |SELECT qid, CAST(rn AS INT) AS "rank", vid AS vec_id, cos_sim FROM (
        |  SELECT qid, vid, cos_sim,
        |         row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, vid) AS rn FROM sc)
        |WHERE rn <= 5 ORDER BY qid, rn""".stripMargin,
    "cube_status_priority" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
        |       round(sum(o_totalprice), 2) AS revenue
        |FROM orders
        |GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin,
    "grouping_sets_orders" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
        |       round(sum(o_totalprice), 2) AS revenue
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin,
    "salted_type_stats" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 6) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "stats_summary" ->
      """SELECT l_returnflag,
        |       round(quantile_cont(l_quantity, 0.5), 6) AS median_qty,
        |       round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
        |       round(covar_samp(l_quantity, l_discount), 6) AS covar_qty_disc,
        |       round(stddev_samp(l_quantity), 6) AS stddev_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // lake_snapshot_read: two lake-table commits then a latest-snapshot
    // read; values must equal the plain aggregate over the source table
    "lake_snapshot_read" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 6) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // lake_agg_pushdown: global count/min/max answered from manifest
    // metadata alone (plan-contract require'd in the query); the
    // oracle recomputes the same aggregate over the source rows
    "lake_agg_pushdown" ->
      """SELECT count(*) AS n, min(event_id) AS mn_id, max(event_id) AS mx_id,
        |       round(min(value), 6) AS mn_value, round(max(value), 6) AS mx_value
        |FROM events""".stripMargin,
    // lake_agg_pushdown_group: per-partition counts/bounds from
    // manifests (plan require'd in-query); shard = event_id % 8
    "lake_agg_pushdown_group" ->
      """SELECT event_id % 8 AS shard, count(*) AS n, min(event_id) AS mn_id,
        |       round(max(value), 6) AS mx_value
        |FROM events GROUP BY event_id % 8 ORDER BY shard""".stripMargin,
    // lake_runtime_prune: broadcast star join whose dim keys are
    // exactly event_id < 100, so the join is value-equivalent to a
    // filter; the runtime file-skip contract is require'd in-query
    "lake_runtime_prune" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 6) AS sum_value
        |FROM events WHERE event_id < 100
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // lake_catalog_sql: catalog DDL + INSERT INTO + native VERSION AS
    // OF; phase v1 = first insert (even ids); latest = all events
    // (bonus null-extended by the metadata-only ADD COLUMN) plus the
    // post-add bonus rows (every 10th id, value*2), plus the `hits`
    // rows: narrow-vintage INT rows (event_id % 10 = 1, hits =
    // event_id % 1000) widened by the metadata-only TYPE promotion,
    // and one post-widen row past the int range (3000000000)
    "lake_catalog_sql" ->
      """WITH latest AS (
        |  SELECT event_type, value, CAST(NULL AS DOUBLE) AS bonus,
        |         CAST(NULL AS BIGINT) AS hits FROM events
        |  UNION ALL
        |  SELECT 'bonus' AS event_type, value, value * 2 AS bonus,
        |         CAST(NULL AS BIGINT) AS hits
        |  FROM events WHERE event_id % 10 = 0
        |  UNION ALL
        |  SELECT 'hits' AS event_type, value, CAST(NULL AS DOUBLE) AS bonus,
        |         CAST(event_id % 1000 AS BIGINT) AS hits
        |  FROM events WHERE event_id % 10 = 1
        |  UNION ALL
        |  SELECT 'hits' AS event_type, CAST(0.5 AS DOUBLE) AS value,
        |         CAST(NULL AS DOUBLE) AS bonus, CAST(3000000000 AS BIGINT) AS hits)
        |SELECT 'latest' AS phase, event_type, count(*) AS n,
        |       round(sum(value), 6) AS sum_value,
        |       count(bonus) AS n_bonus,
        |       coalesce(round(sum(bonus), 6), CAST(0.0 AS DOUBLE)) AS sum_bonus,
        |       count(hits) AS n_hits,
        |       CAST(coalesce(sum(hits), 0) AS BIGINT) AS sum_hits
        |FROM latest GROUP BY event_type
        |UNION ALL
        |SELECT 'v1' AS phase, event_type, count(*) AS n,
        |       round(sum(value), 6) AS sum_value,
        |       CAST(0 AS BIGINT) AS n_bonus, CAST(0.0 AS DOUBLE) AS sum_bonus,
        |       CAST(0 AS BIGINT) AS n_hits, CAST(0 AS BIGINT) AS sum_hits
        |FROM events WHERE event_id % 2 = 0 GROUP BY event_type
        |ORDER BY phase, event_type""".stripMargin,
    // lake_arbitrated_commit: seed (ids % 3 = 0) + two contending
    // arbitrated appends (% 3 = 1 and % 3 = 2, one forced through a
    // refused-claim rebase) must equal ALL events exactly once; the
    // protocol facts (1 rebase, head = v2) are require'd in-query
    "lake_arbitrated_commit" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 6) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // lake_partitions_meta: the per-partition record_count rollup
    // must equal a direct group-by over the raw events, for BOTH
    // layout generations (hive event_type dirs + hidden day dirs);
    // file/byte physicals are require'd in-query, not oracle-stable
    "lake_partitions_meta" ->
      """SELECT concat('day_ts_s=',
        |              CAST((epoch_us(ts) // 1000000) // 86400 AS VARCHAR)) AS part,
        |       count(*) AS record_count
        |FROM events GROUP BY 1
        |UNION ALL
        |SELECT concat('event_type=', event_type) AS part, count(*) AS record_count
        |FROM events GROUP BY 1
        |ORDER BY part""".stripMargin,
    // lake_mor_partitions: the partitions rollup served THROUGH live
    // position-delete and deletion-vector manifests (metadata-only;
    // both representations + global-count agreement require'd
    // in-query) must equal a direct recompute with the deletes applied
    // — INCLUDING an equality delete retired by the equality→DV
    // conversion (the pre-convert refusal is require'd by name)
    "lake_mor_partitions" ->
      """SELECT concat('identity_event_type=', event_type) AS part,
        |       count(*) AS record_count
        |FROM events
        |WHERE event_id % 10 NOT IN (0, 1, 2)
        |GROUP BY 1 ORDER BY part""".stripMargin,
    // lake_entries_meta: the per-entry debug plane's data rollup must
    // equal a direct group-by over the raw events, and its posdel
    // entries must count exactly the MoR-deleted rows; seqs present,
    // lineage spans tiling the id space, and pin flags are require'd
    // in-query (physical facts, not oracle-stable)
    "lake_entries_meta" ->
      """SELECT concat('identity_event_type=', event_type) AS part,
        |       'data' AS kind, count(*) AS n
        |FROM events GROUP BY 1
        |UNION ALL
        |SELECT '' AS part, 'posdel' AS kind, count(*) AS n
        |FROM events WHERE event_id % 10 = 0
        |ORDER BY kind, part""".stripMargin,
    // lake_versioned_view: two view DEFINITIONS (v0 evens, the
    // REPLACE'd v1 odds) each aggregate through the catalog's
    // ViewCatalog route; the version-audit contract (history keeps
    // both SQL texts, SHOW VIEWS/TABLES separation) is require'd
    // in-query
    "lake_versioned_view" ->
      """SELECT 'v0' AS phase, event_type, count(*) AS n,
        |       round(sum(value), 6) AS sum_value
        |FROM events WHERE event_id % 2 = 0 GROUP BY event_type
        |UNION ALL
        |SELECT 'v1' AS phase, event_type, count(*) AS n,
        |       round(sum(value), 6) AS sum_value
        |FROM events WHERE event_id % 2 = 1 GROUP BY event_type
        |ORDER BY phase, event_type""".stripMargin,
    // lake_materialized_view: fresh reads serve the storage table
    // (plan provenance require'd), a source commit flips the next
    // read to the query expansion (current answers, never stale),
    // REFRESH re-arms — three phases of rollups
    "lake_materialized_view" ->
      """SELECT 'fresh' AS phase, event_type, count(*) AS n,
        |       round(sum(value), 6) AS sum_value
        |FROM events WHERE event_id % 2 = 0 GROUP BY event_type
        |UNION ALL
        |SELECT 'refreshed' AS phase, event_type, count(*) AS n,
        |       round(sum(value), 6) AS sum_value
        |FROM events GROUP BY event_type
        |UNION ALL
        |SELECT 'stale' AS phase, event_type, count(*) AS n,
        |       round(sum(value), 6) AS sum_value
        |FROM events GROUP BY event_type
        |ORDER BY phase, event_type""".stripMargin,
    // lake_mv_incremental: a pure-append source commit refreshes the
    // materialized view through the O(delta) incremental fold (mode
    // recorded on the view version + cross-checked in-query against
    // the direct recompute), a DML commit falls back to the full
    // recompute — both phases' rollups are the oracle surface
    "lake_mv_incremental" ->
      """WITH upd AS (
        |  SELECT event_id, event_type,
        |         CASE WHEN event_id % 7 = 0 THEN value + 1 ELSE value END
        |           AS value
        |  FROM events)
        |SELECT * FROM (
        |  SELECT 'after_update' AS phase, event_type, count(*) AS n,
        |         round(sum(value), 6) AS sv,
        |         min(event_id) AS mn, max(event_id) AS mx
        |  FROM upd GROUP BY event_type
        |  UNION ALL
        |  SELECT 'incremental' AS phase, event_type, count(*) AS n,
        |         round(sum(value), 6) AS sv,
        |         min(event_id) AS mn, max(event_id) AS mx
        |  FROM events GROUP BY event_type
        |) ORDER BY phase, event_type""".stripMargin,
    // lake_all_files: the history-wide metadata tables — per-snapshot
    // file/row rollup over a pinned lifecycle (1-file overwrite,
    // 1-file append, compact); the carried-manifest membership and
    // the 3-distinct-files bound are require'd in-query
    "lake_all_files" ->
      """SELECT 0 AS snapshot, CAST(1 AS BIGINT) AS n_files,
        |       (SELECT count(*) FROM events WHERE event_id % 2 = 0) AS n_rows
        |UNION ALL
        |SELECT 1 AS snapshot, CAST(2 AS BIGINT) AS n_files,
        |       (SELECT count(*) FROM events) AS n_rows
        |UNION ALL
        |SELECT 2 AS snapshot, CAST(1 AS BIGINT) AS n_files,
        |       (SELECT count(*) FROM events) AS n_rows
        |ORDER BY snapshot""".stripMargin,
    // lake_incremental_append: Iceberg's incremental read — exactly
    // the rows two appends added after v0 (evens overwritten at v0,
    // odds appended); v0 files provably unlisted and the refusal
    // across a later DELETE are require'd in-query
    "lake_incremental_append" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 6) AS sum_value
        |FROM events WHERE event_id % 2 = 1
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // lake_table_appends_sql: the SAME 0→3 incremental append served
    // through the table_appends SQL TVF (head-default refusal across
    // the v4 delete require'd in-query)
    "lake_table_appends_sql" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 6) AS sum_value
        |FROM events WHERE event_id % 2 = 1
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // lake_add_files: evens committed normally + odds registered
    // from an external dir metadata-only (zero-copy + in-place scan
    // + schema-mismatch refusal require'd in-query); the rollup over
    // both halves is the full events aggregate
    "lake_add_files" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 6) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // lake_filtered_rewrite: where-scoped binpack — file selection
    // from manifest stats folds only the in-scope half (carried
    // original paths + fold require'd in-query); reads unchanged
    "lake_filtered_rewrite" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 6) AS sum_value
        |FROM events WHERE event_id % 2 = 0
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // lake_replace_where: predicate-scoped overwrite — the lower
    // half replaced by a value+100 batch in ONE commit (carry +
    // out-of-slice refusal require'd in-query); rollup over the
    // final state
    "lake_replace_where" ->
      """WITH k AS (SELECT max(event_id) // 2 AS k FROM events)
        |SELECT event_type, count(*) AS n,
        |       round(sum(CASE WHEN event_id < (SELECT k FROM k)
        |                      THEN value + 100 ELSE value END), 6) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // lake_position_deletes: per-kind census of the row-level
    // delete positions over a deterministically-ordered single file
    // (row_index = rank among sorted evens; the DV phase deletes
    // over the VISIBLE state, so the %70 overlap stays with posdel)
    "lake_position_deletes" ->
      """WITH ev AS (SELECT event_id,
        |              row_number() OVER (ORDER BY event_id) - 1 AS pos
        |            FROM events WHERE event_id % 2 = 0)
        |SELECT * FROM (
        |  SELECT 'dv' AS kind, count(*) AS n_positions,
        |         CAST(1 AS BIGINT) AS n_target_files,
        |         CAST(sum(pos) AS BIGINT) AS sum_pos
        |  FROM ev WHERE event_id % 14 = 0 AND event_id % 10 <> 0
        |  UNION ALL
        |  SELECT 'posdel', count(*), CAST(1 AS BIGINT), CAST(sum(pos) AS BIGINT)
        |  FROM ev WHERE event_id % 10 = 0
        |) ORDER BY kind""".stripMargin,
    // lake_rewrite_manifests: the rollup reads THROUGH the
    // consolidated manifest state (per-entry seq pins, multi-base
    // assembly, posdel subtraction across the fold); the
    // metadata-only contract (manifest count drops, file set
    // identical) is require'd in-query
    "lake_rewrite_manifests" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 6) AS sum_value
        |FROM events WHERE event_id % 10 != 0
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // lake_txn_commit: a multi-table transaction through the HTTP
    // catalog's /v1/transactions/commit all-or-nothing claim; a solo
    // append provably 409-rebases the WHOLE transaction (require'd),
    // then both tables land — table a holds seed+solo+txn slices,
    // table b seed+txn
    "lake_txn_commit" ->
      """SELECT 'a' AS tbl, event_type, count(*) AS n,
        |       round(sum(value), 6) AS sum_value
        |FROM events WHERE event_id % 4 <> 1 GROUP BY event_type
        |UNION ALL
        |SELECT 'b' AS tbl, event_type, count(*) AS n,
        |       round(sum(value), 6) AS sum_value
        |FROM events WHERE event_id % 4 IN (1, 3) GROUP BY event_type
        |ORDER BY tbl, event_type""".stripMargin,
    // lake_stream_fanout: the evens/odds split of the full events
    // table, landed through per-micro-batch transactions (ledger +
    // replay no-op + head alignment require'd in-query)
    "lake_stream_fanout" ->
      """SELECT * FROM (
        |  SELECT 'evens' AS tbl, event_type, count(*) AS n,
        |         round(sum(value), 6) AS sum_value
        |  FROM events WHERE event_id % 2 = 0 GROUP BY event_type
        |  UNION ALL
        |  SELECT 'odds', event_type, count(*), round(sum(value), 6)
        |  FROM events WHERE event_id % 2 = 1 GROUP BY event_type
        |) ORDER BY tbl, event_type""".stripMargin,
    // lake_wire_arbitrated_commit: every arbitration round trip
    // crosses a real loopback socket (refused claim drives the rebase
    // — require'd in-query); no row lost or doubled
    "lake_wire_arbitrated_commit" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 6) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // lake_snapshots_meta: the snapshots table's FILE-granular deltas
    // over a count-pinned lifecycle (4-file overwrite, 2-file append,
    // metadata-only ANALYZE reporting ZERO churn, compact folding 6
    // into 1) — the whole answer is the constant lifecycle table
    "lake_snapshots_meta" ->
      """SELECT * FROM (VALUES
        |  (CAST(0 AS INTEGER), 'overwrite', CAST(4 AS BIGINT), CAST(4 AS BIGINT), CAST(0 AS BIGINT)),
        |  (CAST(1 AS INTEGER), 'append',    CAST(6 AS BIGINT), CAST(2 AS BIGINT), CAST(0 AS BIGINT)),
        |  (CAST(2 AS INTEGER), 'analyze',   CAST(6 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)),
        |  (CAST(3 AS INTEGER), 'compact',   CAST(1 AS BIGINT), CAST(1 AS BIGINT), CAST(6 AS BIGINT))
        |) AS t(version, operation, total_files, added, removed)
        |ORDER BY version""".stripMargin,
    // lake_call_maintenance: CALL procedures (native ProcedureCatalog
    // grammar) run binpack + snapshot expiry + ANALYZE on a catalog
    // table (each effect require'd in-query); the surviving rows must
    // equal the raw recompute
    "lake_call_maintenance" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 6) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // lake_lineage_cdc: before/after pair on the durable _row_id, so
    // the UPDATEd clicks surface as preimage/postimage rows (original
    // vs value+1), deletes carry the v1 image, untouched rows emit
    // nothing — Delta CDF's four change types from row lineage
    "lake_lineage_cdc" ->
      """WITH base AS (
        |  SELECT event_id, event_type, value,
        |         CAST(row_number() OVER (ORDER BY event_id) - 1 AS BIGINT) AS row_id
        |  FROM events)
        |SELECT * FROM (
        |  SELECT 'delete' AS change_type, event_id, event_type,
        |         round(value, 6) AS value, row_id
        |  FROM base WHERE event_id % 7 = 0
        |  UNION ALL
        |  SELECT 'update_preimage', event_id, event_type, round(value, 6), row_id
        |  FROM base WHERE event_type = 'click' AND event_id % 7 <> 0
        |  UNION ALL
        |  SELECT 'update_postimage', event_id, event_type,
        |         round(value + 1, 6), row_id
        |  FROM base WHERE event_type = 'click' AND event_id % 7 <> 0) t
        |ORDER BY change_type, event_id""".stripMargin,
    // lake_lineage_cdc_stream: the SAME lifecycle consumed through
    // the lineage STREAMING feed — per-version diffs (v1 initial
    // snapshot, v2 update pairs, v3 deletes carrying the POST-update
    // image), keyed on the durable row_id; per-version micro-batch
    // delivery is require'd in-query
    "lake_lineage_cdc_stream" ->
      """WITH base AS (
        |  SELECT event_id, event_type, value,
        |         CAST(row_number() OVER (ORDER BY event_id) - 1 AS BIGINT) AS row_id
        |  FROM events)
        |SELECT * FROM (
        |  SELECT 1 AS v, 'insert' AS change_type, event_id, event_type,
        |         round(value, 6) AS value, row_id
        |  FROM base
        |  UNION ALL
        |  SELECT 2, 'update_preimage', event_id, event_type, round(value, 6), row_id
        |  FROM base WHERE event_type = 'click'
        |  UNION ALL
        |  SELECT 2, 'update_postimage', event_id, event_type,
        |         round(value + 1, 6), row_id
        |  FROM base WHERE event_type = 'click'
        |  UNION ALL
        |  SELECT 3, 'delete', event_id, event_type,
        |         round(value + CASE WHEN event_type = 'click' THEN 1 ELSE 0 END, 6),
        |         row_id
        |  FROM base WHERE event_id % 7 = 0) t
        |ORDER BY v, change_type, event_id""".stripMargin,
    // lake_row_lineage: rows land as ONE event_id-ordered file, so
    // _row_id is the 0-based event_id rank; an UPDATE (clicks, commit
    // seq 2) and a DELETE (every 7th id) must preserve survivors' ids
    // and bump exactly the updated rows' last-updated sequence
    "lake_row_lineage" ->
      """SELECT event_id, row_id, last_upd FROM (
        |  SELECT event_id,
        |         CAST(row_number() OVER (ORDER BY event_id) - 1 AS BIGINT) AS row_id,
        |         CAST(CASE WHEN event_type = 'click' THEN 2 ELSE 0 END AS BIGINT) AS last_upd
        |  FROM events) t
        |WHERE event_id % 7 <> 0
        |ORDER BY event_id""".stripMargin,
    // lake_conflict_rebase: a racer append (whose rows MATCH the
    // delete predicate) lands between the DELETE's snapshot read and
    // its claim; both commits land and the racer's rows survive —
    // snapshot isolation, recomputed by the oracle from the raw table
    "lake_conflict_rebase" ->
      """WITH fin AS (
        |  SELECT event_type, value FROM events WHERE event_type <> 'click'
        |  UNION ALL
        |  SELECT 'click' AS event_type, value FROM events WHERE event_id % 10 = 0)
        |SELECT event_type, count(*) AS n, round(sum(value), 6) AS sum_value
        |FROM fin GROUP BY event_type ORDER BY event_type""".stripMargin,
    // lake_conflict_serializable: write.delete.isolation-level=
    // serializable — a racer whose rows do NOT match the DELETE
    // predicate still rebases (exact evaluation, race 1); a racer
    // whose rows MATCH refuses the DELETE entirely (race 2), so the
    // original purchases survive alongside both racers' rows
    "lake_conflict_serializable" ->
      """WITH fin AS (
        |  SELECT event_type, value FROM events WHERE event_type <> 'click'
        |  UNION ALL
        |  SELECT 'view' AS event_type, value FROM events WHERE event_id % 10 = 0
        |  UNION ALL
        |  SELECT 'purchase' AS event_type, value FROM events WHERE event_id % 7 = 0)
        |SELECT event_type, count(*) AS n, round(sum(value), 6) AS sum_value
        |FROM fin GROUP BY event_type ORDER BY event_type""".stripMargin,
    // lake_variant_column: events parsed to VARIANT at ingest, landed
    // in a lake table across two generations (the second adds another
    // variant column the first null-folds), read back typed — the
    // oracle recomputes every extraction from the flat columns
    "lake_variant_column" ->
      """SELECT event_type AS t, count(*) AS n,
        |       round(sum(value), 6) AS sum_v,
        |       CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
        |       CAST(sum(CASE WHEN event_id % 2 <> 0 THEN event_id ELSE 0 END) AS BIGINT)
        |         AS sum_extra_ids
        |FROM events GROUP BY 1 ORDER BY t""".stripMargin,
    // lake_variant_shredded: the $.e box read through sidecar-stat
    // file skipping (files-skipped require'd in-query); the oracle
    // replays the slice from the raw table
    "lake_variant_shredded" ->
      """SELECT event_type AS t, count(*) AS n, round(sum(value), 6) AS sum_v
        |FROM events
        |WHERE event_id BETWEEN (SELECT max(event_id) // 4 FROM events)
        |                   AND (SELECT max(event_id) // 2 FROM events)
        |GROUP BY 1 ORDER BY t""".stripMargin,
    // lake_update_in_subquery: an equi-correlated EXISTS update whose
    // SET references the row's own columns, then a residual-scoped
    // NOT IN — the oracle replays both from the raw table
    "lake_update_in_subquery" ->
      """WITH upd AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 11 = 5 THEN 'und' ELSE lang END AS lang,
        |    CASE WHEN doc_id % 11 = 5 THEN n_chars + 1000000 ELSE n_chars END AS n_chars,
        |    CASE WHEN doc_id % 11 <> 5 AND lang = 'en' THEN 'clean' ELSE source END AS source
        |  FROM documents)
        |SELECT lang, count(*) AS n,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |       CAST(sum(CASE WHEN source = 'clean' THEN 1 ELSE 0 END) AS BIGINT) AS n_clean
        |FROM upd GROUP BY lang ORDER BY lang""".stripMargin,
    // lake_update_correlated: UPDATE SET x = (SELECT max(...) FROM r
    // WHERE r.source = t.source) — matched sources take the review
    // max, sources the zh-only review slice misses take NULL (SQL's
    // empty-scalar-subquery semantics); a plain SET rides alongside
    "lake_update_correlated" ->
      """WITH rv AS (SELECT source, n_chars FROM documents
        |            WHERE doc_id % 13 = 2 AND lang = 'zh'),
        |mx AS (SELECT source, max(n_chars) AS m FROM rv GROUP BY source),
        |upd AS (
        |  SELECT d.source,
        |    CASE WHEN d.lang = 'en' THEN 'relabeled' ELSE d.lang END AS lang,
        |    CASE WHEN d.lang = 'en' THEN mx.m ELSE d.n_chars END AS n_chars
        |  FROM documents d LEFT JOIN mx ON mx.source = d.source)
        |SELECT source, count(*) AS n,
        |       CAST(count(n_chars) AS BIGINT) AS n_set,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |       CAST(sum(CASE WHEN lang = 'relabeled' THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_relabeled
        |FROM upd GROUP BY source ORDER BY source""".stripMargin,
    // lake_delete_correlated: DELETE WHERE n_chars < (SELECT avg(...)
    // FROM r WHERE r.source = t.source) AND lang = 'en' — per-key
    // threshold purge; sources the review misses keep their docs
    // (NULL threshold -> UNKNOWN -> kept, SQL three-valued logic)
    "lake_delete_correlated" ->
      """WITH rv AS (SELECT source, n_chars FROM documents
        |            WHERE doc_id % 13 = 2 AND lang = 'zh'),
        |av AS (SELECT source, avg(n_chars) AS a FROM rv GROUP BY source)
        |SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents d LEFT JOIN av ON av.source = d.source
        |WHERE NOT COALESCE(d.lang = 'en' AND d.n_chars < av.a, FALSE)
        |GROUP BY lang ORDER BY lang""".stripMargin,
    // lake_metadata_log: metadata_log_entries over a three-commit
    // lifecycle with one expiration (v0's list file gone) + the
    // ancestors_of CALL agreeing row-for-row; per-version row counts
    // re-read through time travel, recomputed here from raw
    "lake_metadata_log" ->
      """WITH n AS (SELECT count(*) AS total,
        |            CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)
        |              AS BIGINT) AS evens,
        |            CAST(sum(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END)
        |              AS BIGINT) AS f
        |           FROM documents)
        |SELECT CAST(1 AS INT) AS version, false AS is_current,
        |       CAST(evens AS BIGINT) AS n_rows, CAST(3 AS INT) AS n_ancestors
        |FROM n
        |UNION ALL
        |SELECT CAST(2 AS INT), false, CAST(total AS BIGINT), CAST(3 AS INT)
        |FROM n
        |UNION ALL
        |SELECT CAST(3 AS INT), true, CAST(total + f AS BIGINT), CAST(3 AS INT)
        |FROM n
        |ORDER BY version""".stripMargin,
    // lake_mor_mode_dml: write.<kind>.mode=merge-on-read routes the
    // same SQL DELETE/UPDATE/MERGE onto position-delete + replacement
    // commits; the oracle replays the three statements from raw
    "lake_mor_mode_dml" ->
      """WITH del AS (SELECT * FROM documents WHERE doc_id % 10 <> 3),
        |upd AS (SELECT doc_id, lang, source,
        |               CASE WHEN lang = 'de' THEN n_chars + 7
        |                    ELSE n_chars END AS n_chars
        |        FROM del),
        |msrc AS (
        |  SELECT doc_id, 'merged' AS lang, source, n_chars + 1000 AS n_chars
        |  FROM documents WHERE doc_id % 9 = 4
        |  UNION ALL
        |  SELECT doc_id + 5000000, 'merged', source, n_chars + 1000
        |  FROM documents WHERE doc_id % 11 = 6),
        |fin AS (
        |  SELECT CASE WHEN m.doc_id IS NOT NULL THEN m.lang
        |              ELSE u.lang END AS lang,
        |         CASE WHEN m.doc_id IS NOT NULL THEN m.n_chars
        |              ELSE u.n_chars END AS n_chars
        |  FROM upd u LEFT JOIN msrc m ON m.doc_id = u.doc_id
        |  UNION ALL
        |  SELECT m.lang, m.n_chars
        |  FROM msrc m LEFT JOIN upd u ON u.doc_id = m.doc_id
        |  WHERE u.doc_id IS NULL)
        |SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM fin GROUP BY lang ORDER BY lang""".stripMargin,
    // lake_merge_composite: MERGE over the (l_orderkey, l_linenumber)
    // business key — line-1 matches DELETE, other matches take the
    // source quantity (+100), source-only tuples (+10M orderkeys,
    // ok%13=0) INSERT; the oracle replays the clause algebra
    "lake_merge_composite" ->
      """WITH srcb AS (SELECT l_orderkey, l_linenumber,
        |                     min(l_quantity) AS mq, min(l_extendedprice) AS mp
        |              FROM lineitem GROUP BY 1, 2),
        |upd AS (SELECT l_orderkey, l_linenumber, mq + 100 AS q
        |        FROM srcb WHERE l_orderkey % 7 = 0),
        |kept AS (
        |  SELECT l.l_linenumber,
        |         CASE WHEN u.l_orderkey IS NOT NULL THEN u.q
        |              ELSE l.l_quantity END AS q,
        |         l.l_extendedprice AS p
        |  FROM lineitem l LEFT JOIN upd u
        |    ON u.l_orderkey = l.l_orderkey AND u.l_linenumber = l.l_linenumber
        |  WHERE NOT (u.l_orderkey IS NOT NULL AND l.l_linenumber = 1)
        |  UNION ALL
        |  SELECT l_linenumber, mq AS q, mp AS p
        |  FROM srcb WHERE l_orderkey % 13 = 0)
        |SELECT l_linenumber, count(*) AS n,
        |       round(sum(q), 6) AS sum_qty, round(sum(p), 3) AS sum_price
        |FROM kept GROUP BY 1 ORDER BY l_linenumber""".stripMargin,
    // lake_mor_merge_composite: the SAME composite-key clause algebra
    // under write.merge.mode=merge-on-read — a multi-column equality-
    // delete file + replacements; content require'd equal to the CoW
    // twin in-query, so ONE oracle replay covers both planners
    "lake_mor_merge_composite" ->
      """WITH li AS (SELECT * FROM lineitem WHERE l_orderkey % 5 = 0),
        |srcb AS (SELECT l_orderkey, l_linenumber,
        |                min(l_quantity) AS mq, min(l_extendedprice) AS mp
        |         FROM li GROUP BY 1, 2),
        |upd AS (SELECT l_orderkey, l_linenumber, mq + 100 AS q
        |        FROM srcb WHERE l_orderkey % 7 = 0),
        |kept AS (
        |  SELECT l.l_linenumber,
        |         CASE WHEN u.l_orderkey IS NOT NULL THEN u.q
        |              ELSE l.l_quantity END AS q,
        |         l.l_extendedprice AS p
        |  FROM li l LEFT JOIN upd u
        |    ON u.l_orderkey = l.l_orderkey AND u.l_linenumber = l.l_linenumber
        |  WHERE NOT (u.l_orderkey IS NOT NULL AND l.l_linenumber = 1)
        |  UNION ALL
        |  SELECT l_linenumber, mq AS q, mp AS p
        |  FROM srcb WHERE l_orderkey % 13 = 0)
        |SELECT l_linenumber, count(*) AS n,
        |       round(sum(q), 6) AS sum_qty, round(sum(p), 3) AS sum_price
        |FROM kept GROUP BY 1 ORDER BY l_linenumber""".stripMargin,
    // lake_delete_in_subquery: two subquery DELETEs (uncorrelated IN
    // incl. ids absent from the corpus; equi-correlated EXISTS with a
    // residual conjunct) — the oracle recomputes the survivors from
    // the raw table, pinning the subquery materialization + merge
    // lowering bit for bit
    "lake_delete_in_subquery" ->
      """SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents
        |WHERE NOT (doc_id % 13 = 3)
        |  AND NOT (doc_id % 7 = 2 AND source = 'src3')
        |GROUP BY lang ORDER BY lang""".stripMargin,
    // lake_file_granular_delete: after a partition-aligned delete of
    // 'click' (require'd metadata-only) and a boundary delete of
    // every 10th 'view' (require'd carry + layout-preserving
    // rewrite), the survivors must equal a plain WHERE-NOT recompute
    "lake_file_granular_delete" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 6) AS sum_value
        |FROM events
        |WHERE event_type <> 'click'
        |  AND NOT (event_type = 'view' AND event_id % 10 = 0)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // lake_ndv_sketch: the manifest-sketch NDV of event_type is
    // EXACT (HLL coupon mode below ~512 distinct) so the oracle
    // recomputes it as count(distinct); the high-cardinality
    // event_id estimate is bound in-query (== SQL sketch estimate,
    // within 2% of exact) and surfaces as a checked flag
    "lake_ndv_sketch" ->
      """SELECT 'event_id_sketch_ok' AS metric, 1 AS ndv
        |UNION ALL
        |SELECT 'event_type_ndv' AS metric, count(DISTINCT event_type) AS ndv
        |FROM events ORDER BY metric""".stripMargin,
    // lake_ctas: v0 = the CTAS content (purchases), latest = the
    // RTAS-replaced content (everything else); atomicity of the
    // poisoned CTAS is require'd in-query, values are the oracle's
    "lake_ctas" ->
      """SELECT 'latest' AS phase, count(*) AS n, round(sum(value), 6) AS sum_value
        |FROM events WHERE event_type <> 'purchase'
        |UNION ALL
        |SELECT 'v0' AS phase, count(*) AS n, round(sum(value), 6) AS sum_value
        |FROM events WHERE event_type = 'purchase'
        |ORDER BY phase""".stripMargin,
    // permissive_ingest: malformed JSON rows (every 7th) parse to
    // null-defaulted columns; the oracle mirrors the outcome directly
    "permissive_ingest" ->
      """SELECT doc_id,
        |       CASE WHEN doc_id % 7 = 0 THEN NULL ELSE lang END AS lang,
        |       CASE WHEN doc_id % 7 = 0 THEN NULL
        |            ELSE CAST(length(text) AS INT) END AS n_chars,
        |       doc_id % 7 = 0 AS malformed
        |FROM documents ORDER BY doc_id""".stripMargin,
    // lake_mor_delete: both phases (anti-join read, post-compact read)
    // must equal events minus every 5th event_id — a wrong anti-join
    // OR a lossy fold fails the hash
    "lake_mor_delete" ->
      """WITH base AS (SELECT event_type, count(*) AS n, round(sum(value), 6) AS sum_value
        |              FROM events WHERE event_id % 5 <> 0
        |              GROUP BY event_type)
        |SELECT 'compacted' AS phase, event_type, n, sum_value FROM base
        |UNION ALL
        |SELECT 'mor', event_type, n, sum_value FROM base
        |ORDER BY phase, event_type""".stripMargin,
    // lake_dv_read: deletion vectors — every 7th event bit-flagged in
    // a per-file bitmap; the DV-applied read and the post-compact
    // fold must both equal events-minus-deleted
    "lake_dv_read" ->
      """WITH base AS (SELECT event_type, count(*) AS n, round(sum(value), 6) AS sum_value
        |              FROM events WHERE event_id % 7 <> 0
        |              GROUP BY event_type)
        |SELECT 'compacted' AS phase, event_type, n, sum_value FROM base
        |UNION ALL
        |SELECT 'dv', event_type, n, sum_value FROM base
        |ORDER BY phase, event_type""".stripMargin,
    // lake_mor_upsert: the sequence rule hash-checked — patch rows
    // must survive their own delete keys, originals must not
    "lake_mor_upsert" ->
      """WITH merged AS (
        |  SELECT event_id,
        |         CASE WHEN event_id % 3 = 0 THEN 'patched' ELSE event_type END AS event_type,
        |         CASE WHEN event_id % 3 = 0 THEN value + 1000 ELSE value END AS value
        |  FROM events)
        |SELECT event_type, count(*) AS n, round(sum(value), 6) AS sum_value
        |FROM merged GROUP BY event_type ORDER BY event_type""".stripMargin,
    // lake_tag_read: the tag resolves to v0 (evens only) — identical
    // check shape to lake_time_travel but through the named ref
    "lake_tag_read" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 6) AS sum_value
        |FROM events WHERE event_id % 2 = 0
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // lake_expire_read: three snapshots, expire all but the last two
    // (v0's files actually GC'd, v0 unreadable — require'd in the
    // query), then a latest-snapshot read; a GC pass that deleted a
    // LIVE file would lose rows here and hash-mismatch
    "lake_expire_read" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 6) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // lake_orphan_gc: dead-commit residue removed; the hash gate
    // proves no LIVE file was deleted (rows would go missing)
    "lake_orphan_gc" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 6) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // lake_stats_skip: footer-stats file pruning on a clustered table;
    // results must equal the plain range aggregate
    "lake_stats_skip" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 6) AS sum_value
        |FROM events WHERE event_id BETWEEN 1000 AND 2999
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // lake_change_feed: v0→v2 CDC over overwrite + merge + delete;
    // inserts = patched rows, deletes = pre-patch originals + deleted
    "lake_change_feed" ->
      """WITH ins AS (
        |  SELECT 'insert' AS change_type, event_id,
        |         'patched' AS event_type, round(value + 1000, 6) AS value
        |  FROM events WHERE event_id % 3 = 0
        |), del AS (
        |  SELECT 'delete' AS change_type, event_id, event_type, round(value, 6) AS value
        |  FROM events
        |  WHERE event_id % 3 = 0 OR (event_id % 7 = 0 AND event_id % 3 != 0)
        |)
        |SELECT * FROM ins UNION ALL SELECT * FROM del
        |ORDER BY change_type, event_id""".stripMargin,
    // lake_snapshot_migrate: snapshot (zero-copy + GC-refusal
    // require'd) and migrate (registration-drop + in-place require'd)
    // over two parquet exports of the same slice; both lake tables
    // must serve the slice byte-identically
    "lake_snapshot_migrate" ->
      """WITH slice AS (
        |  SELECT event_type, value FROM events WHERE event_id % 4 = 1
        |), a AS (
        |  SELECT 'snapshot' AS src, event_type, count(*) AS n,
        |         round(sum(value), 6) AS sum_value
        |  FROM slice GROUP BY 2
        |), b AS (
        |  SELECT 'migrate' AS src, event_type, count(*) AS n,
        |         round(sum(value), 6) AS sum_value
        |  FROM slice GROUP BY 2
        |)
        |SELECT * FROM a UNION ALL SELECT * FROM b
        |ORDER BY src, event_type""".stripMargin,
    // lake_table_changes_sql: the SAME v0→v2 diff served through the
    // table_changes SQL TVF (2-arg head default require'd in-query)
    "lake_table_changes_sql" ->
      """WITH ins AS (
        |  SELECT 'insert' AS change_type, event_id,
        |         'patched' AS event_type, round(value + 1000, 6) AS value
        |  FROM events WHERE event_id % 3 = 0
        |), del AS (
        |  SELECT 'delete' AS change_type, event_id, event_type, round(value, 6) AS value
        |  FROM events
        |  WHERE event_id % 3 = 0 OR (event_id % 7 = 0 AND event_id % 3 != 0)
        |)
        |SELECT * FROM ins UNION ALL SELECT * FROM del
        |ORDER BY change_type, event_id""".stripMargin,
    // lake_zorder_box: z-order clustering + 2-dim box scan through
    // footer-stats skipping; results equal the plain box aggregate
    "lake_zorder_box" ->
      """SELECT user_id, count(*) AS n, round(sum(value), 6) AS sum_value
        |FROM events
        |WHERE event_id BETWEEN 100 AND 2999 AND user_id BETWEEN 10 AND 49
        |GROUP BY 1 ORDER BY user_id""".stripMargin,
    // lake_time_travel: v0 (evens) then v1 (append odds), read v0 —
    // version pinning is what's verified
    "lake_time_travel" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 6) AS sum_value
        |FROM events WHERE event_id % 2 = 0
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // lake_partition_prune: partitioned lake-table write + predicate
    // read; only the event_type=purchase partition's files are scanned
    "lake_partition_prune" ->
      """SELECT event_id % 10 AS bucket, count(*) AS n, round(sum(value), 6) AS sum_value
        |FROM events WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY bucket""".stripMargin,
    "lake_merge_read" ->
      """WITH merged AS (
        |  SELECT event_id,
        |         CASE WHEN event_id % 3 = 0 THEN 'patched' ELSE event_type END AS event_type,
        |         CASE WHEN event_id % 3 = 0 THEN value + 1000 ELSE value END AS value
        |  FROM events
        |), final AS (
        |  SELECT * FROM merged WHERE NOT (event_id % 7 = 0 AND event_id % 3 != 0)
        |)
        |SELECT event_type, count(*) AS n, round(sum(value), 6) AS sum_value
        |FROM final GROUP BY event_type ORDER BY event_type""".stripMargin,
    // lake_incremental_agg: the maintained aggregate must equal a
    // full re-aggregation of the final CoW state — the oracle IS that
    // direct v2 aggregate (same algebra as lake_merge_read)
    "lake_incremental_agg" ->
      """WITH merged AS (
        |  SELECT event_id,
        |         CASE WHEN event_id % 3 = 0 THEN 'patched' ELSE event_type END AS event_type,
        |         CASE WHEN event_id % 3 = 0 THEN value + 1000 ELSE value END AS value
        |  FROM events
        |), final AS (
        |  SELECT * FROM merged WHERE NOT (event_id % 7 = 0 AND event_id % 3 != 0)
        |)
        |SELECT event_type, count(*) AS n,
        |       round(CAST(sum(CAST(value AS DECIMAL(24,6))) AS DOUBLE), 6) AS sum_value
        |FROM final GROUP BY event_type ORDER BY event_type""".stripMargin,
    // lake_branch_ff: evens land on main, odds through a branch +
    // fast-forward — the adopted table is simply the full aggregate
    "lake_branch_ff" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 6) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // lake_truncate: evens land at v0, odds append at v1, SQL
    // TRUNCATE empties the table as one metadata-only commit (zero
    // manifests, time-travelable history — require'd in-query), and
    // the %4==1 slice refills it; the oracle is the refill aggregate
    "lake_truncate" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 6) AS sum_value
        |FROM events WHERE event_id % 4 = 1
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // lake_identifier_fields: %10<5 lands at v0, the table declares
    // its key (SET IDENTIFIER FIELDS event_id, NOT NULL guard
    // require'd), and upsertByIdentity merges the %10∈[3,7] batch
    // with NEGATED values without the caller naming the key — so the
    // final content is {0,1,2} original ∪ {3..7} negated (negation is
    // exact in doubles; refusal arms require'd in-query)
    "lake_identifier_fields" ->
      """WITH cur AS (
        |  SELECT event_type, value FROM events WHERE event_id % 10 IN (0, 1, 2)
        |  UNION ALL
        |  SELECT event_type, -value AS value FROM events
        |  WHERE event_id % 10 BETWEEN 3 AND 7)
        |SELECT event_type, count(*) AS n, round(sum(value), 6) AS sum_value
        |FROM cur GROUP BY event_type ORDER BY event_type""".stripMargin,
    // lake_cherrypick: evens on main, one odd quarter picked off a
    // branch onto a DIVERGED main (the other quarter) — every event
    // arrives exactly once, so the oracle is again the full aggregate;
    // metadata-only adoption, the double-pick refusal, and
    // collision-free row-id re-spanning are require'd in-query
    "lake_cherrypick" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 6) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // lake_apply_changes: the CDC feed of a full source lifecycle
    // (click update, %7 delete, new-key append) replays into a replica
    // via applyChanges — replica ≡ source and retry-idempotence are
    // require'd in-query, so the oracle is the source's final state
    // recomputed from the raw table
    "lake_apply_changes" ->
      """WITH final AS (
        |  SELECT event_id, event_type,
        |         CASE WHEN event_type = 'click' THEN value + 1.0 ELSE value END AS value
        |  FROM events WHERE event_id % 7 <> 0
        |  UNION ALL
        |  SELECT event_id + 1000000000 AS event_id, event_type, value
        |  FROM events WHERE event_id % 5 = 0
        |)
        |SELECT event_type, count(*) AS n, round(sum(value), 6) AS sum_value
        |FROM final GROUP BY event_type ORDER BY event_type""".stripMargin,
    // lake_apply_changes_composite: a (l_orderkey, l_partkey,
    // l_suppkey)-keyed feed folded via the composite merge — replica ≡
    // expected state and retry-idempotence are require'd in-query, so
    // the oracle recomputes the final state from the raw table
    "lake_apply_changes_composite" ->
      """WITH base AS (
        |  SELECT l_orderkey, sum(l_quantity) AS l_quantity,
        |         sum(l_extendedprice) AS l_extendedprice,
        |         min(l_returnflag) AS l_returnflag
        |  FROM lineitem WHERE l_orderkey % 4 = 0
        |  GROUP BY l_orderkey, l_partkey, l_suppkey
        |), final AS (
        |  SELECT l_returnflag,
        |         CASE WHEN l_orderkey % 3 = 0 THEN l_quantity + 5.0
        |              ELSE l_quantity END AS l_quantity,
        |         l_extendedprice
        |  FROM base WHERE l_orderkey % 7 <> 0
        |)
        |SELECT l_returnflag, count(*) AS n,
        |       round(sum(l_quantity), 2) AS sum_qty,
        |       round(sum(l_extendedprice), 2) AS sum_price
        |FROM final GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // lake_cdc_tombstone: out-of-order CDC delivery (delete at seq 3
    // applied, then a stale seq-2 batch of the same keys) converges to
    // the in-order answer via the tombstone gate — convergence and the
    // retention-expiry boundary are require'd in-query, so the oracle
    // is the in-order final state recomputed from the raw table
    "lake_cdc_tombstone" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 6) AS sum_value
        |FROM events WHERE event_id % 2 = 0 AND event_id % 5 <> 0
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // scd2_apply: incremental SCD2 maintenance over three ordered
    // batches + a retry, require'd row-equal to the one-shot build —
    // so it shares the batch build's oracle
    "scd2_apply" ->
      """WITH ch AS (
        |  SELECT event_id % 97 AS ent_id, event_id AS seq,
        |         CASE WHEN event_id % 11 = 3 THEN 'delete' ELSE 'insert' END AS ct,
        |         event_type, value
        |  FROM events
        |), ev AS (
        |  SELECT *, lead(seq) OVER (PARTITION BY ent_id ORDER BY seq) AS end_seq
        |  FROM ch
        |)
        |SELECT (end_seq IS NULL) AS is_current, count(*) AS n,
        |       round(sum(value), 6) AS sum_value,
        |       CAST(coalesce(sum(end_seq - seq), 0) AS BIGINT) AS span
        |FROM ev WHERE ct = 'insert'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // scd2_build: the SCD-2 window algebra (lead per key; deletes
    // close without emitting) replayed verbatim in SQL
    "scd2_build" ->
      """WITH ch AS (
        |  SELECT event_id % 97 AS ent_id, event_id AS seq,
        |         CASE WHEN event_id % 11 = 3 THEN 'delete' ELSE 'insert' END AS ct,
        |         event_type, value
        |  FROM events
        |), ev AS (
        |  SELECT *, lead(seq) OVER (PARTITION BY ent_id ORDER BY seq) AS end_seq
        |  FROM ch
        |)
        |SELECT (end_seq IS NULL) AS is_current, count(*) AS n,
        |       round(sum(value), 6) AS sum_value,
        |       CAST(coalesce(sum(end_seq - seq), 0) AS BIGINT) AS span
        |FROM ev WHERE ct = 'insert'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // lake_bloom_skip: the bloom is a file-skip signal only — results
    // are the plain equality filter, so the oracle never sees it
    "lake_bloom_skip" ->
      """SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents
        |WHERE source = (SELECT min(source) FROM documents)
        |GROUP BY lang ORDER BY lang""".stripMargin,
    // lake_rollback: rolling back past a bad overwrite re-exposes the
    // good snapshot — the oracle is simply the v0 aggregate
    "lake_rollback" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 6) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // lake_change_stream: the materialized per-version change feed,
    // delivered through a real streaming run — v0 = initial inserts,
    // v1 = the CoW merge's insert+delete pairs (patched rows in,
    // pre-patch originals out), v2 = the delete's removed rows
    "lake_change_stream" ->
      """WITH orig AS (
        |  SELECT event_id, event_type, value FROM events
        |), rows_ AS (
        |  SELECT 0 AS v, 'insert' AS change_type, * FROM orig
        |  UNION ALL
        |  SELECT 1, 'insert', event_id, 'patched', value + 1000.0
        |  FROM orig WHERE event_id % 3 = 0
        |  UNION ALL
        |  SELECT 1, 'delete', * FROM orig WHERE event_id % 3 = 0
        |  UNION ALL
        |  SELECT 2, 'delete', * FROM orig
        |  WHERE event_id % 7 = 0 AND event_id % 3 != 0
        |)
        |SELECT v, change_type, event_id, event_type, round(value, 6) AS value
        |FROM rows_ ORDER BY v, change_type, event_id""".stripMargin,
    // lake_stream_sink: the native V2 streaming SINK — rows written
    // by sink tasks, committed per epoch with the exactly-once
    // ledger, read back from the lake; content must equal a plain
    // aggregate of the source (delivery path is the part under test)
    "lake_stream_sink" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 6) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // lake_spj_join: the storage-partitioned join must return exactly
    // the plain relational join (the zero-shuffle plan is require'd
    // in-query; content is what the oracle can check)
    "lake_spj_join" ->
      """SELECT o_orderkey, o_orderstatus, count(*) AS n,
        |       round(sum(l_extendedprice * (1 - l_discount)), 6) AS revenue
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderkey, o_orderstatus ORDER BY o_orderkey""".stripMargin,
    // lake_v2_change_stream: identical content contract to
    // lake_change_stream — the delivery path is the part under test
    // (native V2 MicroBatchStream, version offsets, per-commit
    // batches), and it must not change a single row
    "lake_v2_change_stream" ->
      """WITH orig AS (
        |  SELECT event_id, event_type, value FROM events
        |), rows_ AS (
        |  SELECT 0 AS v, 'insert' AS change_type, * FROM orig
        |  UNION ALL
        |  SELECT 1, 'insert', event_id, 'patched', value + 1000.0
        |  FROM orig WHERE event_id % 3 = 0
        |  UNION ALL
        |  SELECT 1, 'delete', * FROM orig WHERE event_id % 3 = 0
        |  UNION ALL
        |  SELECT 2, 'delete', * FROM orig
        |  WHERE event_id % 7 = 0 AND event_id % 3 != 0
        |)
        |SELECT v, change_type, event_id, event_type, round(value, 6) AS value
        |FROM rows_ ORDER BY v, change_type, event_id""".stripMargin,
    // lake_hidden_partition: the layout (day × bucket dirs) is
    // invisible to the query, so the oracle is a plain filter over
    // the source table — epoch-second truncation mirrors ts DIV 1e9
    "lake_hidden_partition" ->
      """WITH e AS (
        |  SELECT event_type, value, user_id,
        |         CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
        |  FROM events
        |), b AS (
        |  SELECT (min(ts_s) // 86400 + 2) * 86400 AS lo,
        |         (min(ts_s) // 86400 + 9) * 86400 - 1 AS hi
        |  FROM e
        |)
        |SELECT event_type, count(*) AS n, round(sum(value), 6) AS sum_value
        |FROM e, b WHERE ts_s BETWEEN b.lo AND b.hi AND user_id = 7
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // lake_partitioned_ddl (S9g): identical box semantics to
    // lake_hidden_partition — the layout is declared by DDL and the
    // INSERT never names it, so the oracle is the same raw filter
    "lake_partitioned_ddl" ->
      """WITH e AS (
        |  SELECT event_type, value, user_id,
        |         CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
        |  FROM events
        |), b AS (
        |  SELECT (min(ts_s) // 86400 + 2) * 86400 AS lo,
        |         (min(ts_s) // 86400 + 9) * 86400 - 1 AS hi
        |  FROM e
        |)
        |SELECT event_type, count(*) AS n, round(sum(value), 6) AS sum_value
        |FROM e, b WHERE ts_s BETWEEN b.lo AND b.hi AND user_id = 7
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // lake_dynamic_overwrite: three days re-land doubled through SQL
    // INSERT OVERWRITE under partitionOverwriteMode=dynamic; the
    // oracle recomputes the final table from the source (doubled
    // inside the replaced window, original outside) — carry/replace
    // file-set semantics are require'd in-query
    "lake_dynamic_overwrite" ->
      """WITH e AS (
        |  SELECT event_id, event_type, value,
        |         CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
        |  FROM events
        |), b AS (
        |  SELECT (min(ts_s) // 86400 + 2) * 86400 AS lo,
        |         (min(ts_s) // 86400 + 5) * 86400 - 1 AS hi
        |  FROM e
        |), final AS (
        |  SELECT event_type,
        |         CASE WHEN ts_s BETWEEN b.lo AND b.hi
        |              THEN value * 2.0 ELSE value END AS value
        |  FROM e, b
        |)
        |SELECT event_type, count(*) AS n, round(sum(value), 6) AS sum_value
        |FROM final GROUP BY event_type ORDER BY event_type""".stripMargin,
    // lake_merge_conditional: SQL MERGE replayed as CTEs — left join
    // picks the first matching clause per target row (update if
    // t.value<500, else delete), anti-join + condition picks inserts
    "lake_merge_conditional" ->
      """WITH src AS (
        |  SELECT event_id, 'patched' AS event_type, value + 1000.0 AS value
        |  FROM events WHERE event_id % 3 = 0
        |  UNION ALL
        |  SELECT -event_id, 'inserted', value FROM events WHERE event_id % 10 = 5
        |), merged AS (
        |  SELECT CASE WHEN s.event_id IS NOT NULL AND t.value < 500
        |              THEN s.event_type ELSE t.event_type END AS event_type,
        |         CASE WHEN s.event_id IS NOT NULL AND t.value < 500
        |              THEN s.value ELSE t.value END AS value,
        |         (s.event_id IS NOT NULL AND t.value >= 500) AS deleted
        |  FROM events t LEFT JOIN src s ON t.event_id = s.event_id
        |), surv AS (
        |  SELECT event_type, value FROM merged WHERE NOT deleted
        |), ins AS (
        |  SELECT event_type, value FROM src
        |  WHERE event_id NOT IN (SELECT event_id FROM events) AND value > 100
        |), final AS (
        |  SELECT * FROM surv UNION ALL SELECT * FROM ins
        |)
        |SELECT event_type, count(*) AS n, round(sum(value), 6) AS sum_value
        |FROM final GROUP BY event_type ORDER BY event_type""".stripMargin,
    // lake_sql_merge: the SAME merge executed as a SQL MERGE INTO
    // statement (parser + resolution-rule lowering onto
    // mergeConditional) — same CTE oracle by construction
    "lake_sql_merge" ->
      """WITH src AS (
        |  SELECT event_id, 'patched' AS event_type, value + 1000.0 AS value
        |  FROM events WHERE event_id % 3 = 0
        |  UNION ALL
        |  SELECT -event_id, 'inserted', value FROM events WHERE event_id % 10 = 5
        |), merged AS (
        |  SELECT CASE WHEN s.event_id IS NOT NULL AND t.value < 500
        |              THEN s.event_type ELSE t.event_type END AS event_type,
        |         CASE WHEN s.event_id IS NOT NULL AND t.value < 500
        |              THEN s.value ELSE t.value END AS value,
        |         (s.event_id IS NOT NULL AND t.value >= 500) AS deleted
        |  FROM events t LEFT JOIN src s ON t.event_id = s.event_id
        |), surv AS (
        |  SELECT event_type, value FROM merged WHERE NOT deleted
        |), ins AS (
        |  SELECT event_type, value FROM src
        |  WHERE event_id NOT IN (SELECT event_id FROM events) AND value > 100
        |), final AS (
        |  SELECT * FROM surv UNION ALL SELECT * FROM ins
        |)
        |SELECT event_type, count(*) AS n, round(sum(value), 6) AS sum_value
        |FROM final GROUP BY event_type ORDER BY event_type""".stripMargin,
    // lake_rename_read: value→amount is a metadata-only field-id
    // rename — old files resolve BY ID under the new name, so the
    // oracle is simply the full-table aggregate with the new alias
    "lake_rename_read" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 6) AS sum_amount
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // lake_schema_evolution: v0 = evens (no channel column), v1 =
    // odds with the evolved column; the read's by-name union of the
    // generations must null-extend v0 rows as channel=null (folded to
    // 'legacy')
    "lake_schema_evolution" ->
      """WITH un AS (
        |  SELECT value, NULL AS channel FROM events WHERE event_id % 2 = 0
        |  UNION ALL
        |  SELECT value, CASE WHEN event_id % 4 = 1 THEN 'web' ELSE 'app' END
        |  FROM events WHERE event_id % 2 != 0
        |)
        |SELECT coalesce(channel, 'legacy') AS channel, count(*) AS n,
        |       round(sum(value), 6) AS sum_value
        |FROM un GROUP BY 1 ORDER BY channel""".stripMargin,
    // lake_default_column (S9d): v0 = evens with no tier column, one
    // metadata-only ADD COLUMN ... DEFAULT 'standard', v2 = odds
    // carrying computed tiers; old rows must read the constant
    "lake_default_column" ->
      """WITH un AS (
        |  SELECT event_type, value, 'standard' AS tier
        |  FROM events WHERE event_id % 2 = 0
        |  UNION ALL
        |  SELECT event_type, value,
        |         CASE WHEN event_id % 4 = 1 THEN 'gold' ELSE 'silver' END
        |  FROM events WHERE event_id % 2 != 0
        |)
        |SELECT event_type, tier, count(*) AS n, round(sum(value), 6) AS sum_value
        |FROM un GROUP BY 1, 2 ORDER BY event_type, tier""".stripMargin,
    // lake_nested_evolution: a payload struct's subfield renamed,
    // dropped, and re-added across five generations — metadata-only
    // rename, time travel, and renamed-path readWhere ≡ full filter
    // are require'd in-query; tag reads NULL for every pre-re-add
    // generation (fresh field id) and 're' for the final one
    "lake_nested_evolution" ->
      """WITH final AS (
        |  SELECT value AS revenue, NULL AS tag FROM events
        |  UNION ALL
        |  SELECT value, 're' FROM events WHERE event_id % 5 = 0
        |)
        |SELECT coalesce(tag, 'none') AS tag, count(*) AS n,
        |       round(sum(revenue), 6) AS sum_revenue
        |FROM final GROUP BY 1 ORDER BY 1""".stripMargin,
    // lake_merge_evolution (S9e): left join replays SET */INSERT *
    // with the source-only grade column; untouched rows fold to
    // 'ungraded'
    "lake_merge_evolution" ->
      """WITH src AS (
        |  SELECT event_id, event_type, value * 2 AS value,
        |         CASE WHEN value >= 250.0 THEN 'high' ELSE 'low' END AS grade
        |  FROM events WHERE event_id % 4 = 0
        |  UNION ALL
        |  SELECT -event_id, 'fresh', value, 'new'
        |  FROM events WHERE event_id % 10 = 7
        |),
        |merged AS (
        |  SELECT coalesce(s.value, t.value) AS value, s.grade AS grade
        |  FROM events t LEFT JOIN src s ON t.event_id = s.event_id
        |  UNION ALL
        |  SELECT value, grade FROM src WHERE event_id < 0
        |)
        |SELECT coalesce(grade, 'ungraded') AS grade, count(*) AS n,
        |       round(sum(value), 6) AS sum_value
        |FROM merged GROUP BY 1 ORDER BY grade""".stripMargin,
    "skyline_price_size" ->
      """WITH pts AS (SELECT DISTINCT p_retailprice, p_size FROM part)
        |SELECT p_retailprice, p_size FROM pts a
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM pts b
        |  WHERE b.p_retailprice <= a.p_retailprice AND b.p_size <= a.p_size
        |    AND (b.p_retailprice < a.p_retailprice OR b.p_size < a.p_size))
        |ORDER BY p_retailprice, p_size""".stripMargin,
    "pivot_status_revenue" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS yr,
        |       round(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 2) AS F,
        |       round(sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END), 2) AS O,
        |       round(sum(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END), 2) AS P
        |FROM orders GROUP BY 1 ORDER BY yr""".stripMargin,
    // knn_lsh_bucketed / knn_ivf / knn_ivf_kmeans: the approximate
    // top-k is engine-specific, so each declared query is its recall
    // GATE — exact brute-force aggregates (the deterministic ranking
    // contract knn_brute_force hash-proves) + a recall-floor boolean
    // the oracle asserts as literal true (round-10 verdict ask #3)
    "knn_lsh_bucketed" -> knnGateOracle,
    "knn_ivf" -> knnGateOracle,
    "knn_ivf_kmeans" -> knnGateOracle,
    "knn_ivf_pq" -> knnGateOracle,
    "knn_int8" -> knnGateOracle,
    "knn_graph" -> knnGateOracle,
    "doc_embedding_join" ->
      """WITH n AS (SELECT vec_id, label,
        |             round(sqrt(list_sum(list_transform(embedding,
        |               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS vec_norm
        |           FROM embeddings)
        |SELECT doc_id, lang, CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
        |       label, vec_norm
        |FROM documents JOIN n ON doc_id = vec_id
        |ORDER BY doc_id""".stripMargin,
    "label_cohesion" ->
      """WITH e AS (SELECT label, vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
        |                  unnest(range(len(embedding))) AS pos FROM embeddings),
        |cent AS (SELECT label, pos, avg(x) AS c FROM e GROUP BY 1, 2),
        |m AS (SELECT e.label, e.vec_id, sum(e.x * cent.c) AS dotvc,
        |             sqrt(sum(e.x * e.x)) AS nv, sqrt(sum(cent.c * cent.c)) AS nc
        |      FROM e JOIN cent ON e.label = cent.label AND e.pos = cent.pos
        |      GROUP BY 1, 2)
        |SELECT label, count(*) AS n_members,
        |       round(avg(dotvc / (nv * nc)), 6) AS cohesion
        |FROM m GROUP BY label ORDER BY label""".stripMargin,
    // label_centroid_sim: centroids ROUNDED before the pairwise
    // cosine, so both engines feed identical decimals into the matrix
    "label_centroid_sim" ->
      """WITH e AS (SELECT label, CAST(unnest(embedding) AS DOUBLE) AS x,
        |                  unnest(range(len(embedding))) AS pos FROM embeddings),
        |cent AS (SELECT label, pos, round(avg(x), 6) AS c FROM e GROUP BY 1, 2),
        |p AS (SELECT a.label AS label_a, b.label AS label_b, a.pos,
        |             a.c AS ca, b.c AS cb
        |      FROM cent a JOIN cent b ON a.pos = b.pos AND a.label < b.label)
        |SELECT label_a, label_b,
        |       round(sum(ca * cb) / (sqrt(sum(ca * ca)) * sqrt(sum(cb * cb))), 6) AS cos_sim
        |FROM p GROUP BY 1, 2 ORDER BY label_a, label_b""".stripMargin,
    // chi2_lang_label: integral contingency counts; the statistic sums
    // 25-ish double cells → round 6; zero cells contribute E
    "chi2_lang_label" ->
      """WITH ct AS (
        |  SELECT lang, label, count(*) AS o
        |  FROM documents JOIN embeddings ON doc_id = vec_id GROUP BY 1, 2),
        |rt AS (SELECT lang, sum(o) AS r FROM ct GROUP BY 1),
        |clt AS (SELECT label, sum(o) AS c FROM ct GROUP BY 1),
        |nn AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM ct),
        |cells AS (
        |  SELECT nn.n, g.lang, g.label,
        |         CAST(coalesce(ct.o, 0) AS DOUBLE) AS od,
        |         CAST(g.r AS DOUBLE) * g.c / nn.n AS e
        |  FROM (SELECT lang, r, label, c FROM rt CROSS JOIN clt) g
        |  LEFT JOIN ct USING (lang, label) CROSS JOIN nn)
        |SELECT n, CAST(count(*) AS INT) AS n_cells,
        |       round(sum((od - e) * (od - e) / e), 6) AS chi2
        |FROM cells GROUP BY n""".stripMargin,
    "token_predicates" ->
      """SELECT doc_id,
        |  len(list_filter(string_split(text, ' '),
        |      t -> t IN ('the','a','of','and','in'))) > 0 AS has_stopword,
        |  len(list_filter(string_split(text, ' '), t -> length(t) >= 15)) = 0 AS all_short,
        |  CAST(len(list_filter(string_split(text, ' '), t -> length(t) >= 8)) AS INT) AS n_long,
        |  CAST(list_reduce(list_prepend(0::BIGINT,
        |    list_transform(string_split(text, ' '), t -> length(t)::BIGINT)),
        |    (a, c) -> a + c) AS INT) AS sum_token_len
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_quality" ->
      """SELECT doc_id, lang,
        |  CAST(len(tokens) AS INT) AS n_tokens,
        |  CAST(len(list_distinct(tokens)) AS INT) AS n_uniq,
        |  round(len(list_distinct(tokens))::DOUBLE / len(tokens), 6) AS ttr,
        |  round((length(text) - (len(tokens)-1))::DOUBLE / len(tokens), 6) AS avg_token_len,
        |  round(len(list_filter(tokens, t -> list_contains(['the','a','of','and','in'], t)))::DOUBLE
        |        / len(tokens), 6) AS stopword_ratio,
        |  round(ln(1.0 + len(tokens)) * (len(list_distinct(tokens))::DOUBLE / len(tokens)) *
        |        (1.0 - len(list_filter(tokens, t -> list_contains(['the','a','of','and','in'], t)))::DOUBLE
        |         / len(tokens)), 6) AS quality
        |FROM (SELECT doc_id, lang, text, string_split(text, ' ') AS tokens FROM documents)
        |ORDER BY doc_id""".stripMargin,
    // decontaminate_overlap: shingles are exact strings, counts are
    // integral — no float anywhere; self-pairs excluded on both sides
    "decontaminate_overlap" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(tk) - 3),
        |    i -> array_to_string(list_slice(tk, i, i + 4), ' ')))) AS shingle
        |  FROM toks WHERE len(tk) >= 5),
        |bench AS (SELECT doc_id AS b_id, shingle FROM sh WHERE doc_id % 50 = 0),
        |ov AS (
        |  SELECT s.doc_id, CAST(count(DISTINCT s.shingle) AS INT) AS n_overlap
        |  FROM sh s JOIN bench b ON s.shingle = b.shingle AND s.doc_id != b.b_id
        |  GROUP BY 1)
        |SELECT d.doc_id, d.doc_id % 50 = 0 AS is_benchmark,
        |       coalesce(n_overlap, 0) AS n_overlap,
        |       coalesce(n_overlap, 0) > 0 AS contaminated
        |FROM documents d LEFT JOIN ov USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // bigram_lm_score: integral counts through ln, rounded after the
    // mean; docs with <2 tokens have no bigrams and are absent in both
    "bigram_lm_score" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |uni AS (SELECT w, count(*) AS cw
        |        FROM (SELECT unnest(tk) AS w FROM toks) GROUP BY 1),
        |v AS (SELECT count(*) AS v FROM uni),
        |big AS (
        |  SELECT doc_id, tk[CAST(i AS INT)] AS w1, tk[CAST(i AS INT) + 1] AS w2
        |  FROM (SELECT doc_id, tk, unnest(range(1, len(tk))) AS i
        |        FROM toks WHERE len(tk) >= 2)),
        |bc AS (SELECT w1, w2, count(*) AS cb FROM big GROUP BY 1, 2)
        |SELECT doc_id, count(*) AS n_bigrams,
        |       round(avg(ln((cb + 1.0) / (cw + v))), 6) AS lm_score
        |FROM big JOIN bc USING (w1, w2) JOIN uni ON w1 = uni.w CROSS JOIN v
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // ccnet_buckets: per-language head/middle/tail perplexity
    // terciles over the bigram-LM score — rank on the rounded score
    // with doc_id tie-break, integer-arithmetic boundaries
    "ccnet_buckets" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |uni AS (SELECT w, count(*) AS cw
        |        FROM (SELECT unnest(tk) AS w FROM toks) GROUP BY 1),
        |v AS (SELECT count(*) AS v FROM uni),
        |big AS (
        |  SELECT doc_id, tk[CAST(i AS INT)] AS w1, tk[CAST(i AS INT) + 1] AS w2
        |  FROM (SELECT doc_id, tk, unnest(range(1, len(tk))) AS i
        |        FROM toks WHERE len(tk) >= 2)),
        |bc AS (SELECT w1, w2, count(*) AS cb FROM big GROUP BY 1, 2),
        |sc AS (SELECT doc_id, round(avg(ln((cb + 1.0) / (cw + v))), 6) AS lm_score
        |       FROM big JOIN bc USING (w1, w2) JOIN uni ON w1 = uni.w CROSS JOIN v
        |       GROUP BY doc_id),
        |r AS (SELECT d.lang, s.doc_id, s.lm_score,
        |        row_number() OVER (PARTITION BY d.lang
        |                           ORDER BY s.lm_score DESC, s.doc_id) AS rk,
        |        count(*) OVER (PARTITION BY d.lang) AS n
        |      FROM sc s JOIN documents d USING (doc_id))
        |SELECT lang,
        |       CASE WHEN rk * 3 <= n THEN 'head'
        |            WHEN rk * 3 <= n * 2 THEN 'middle'
        |            ELSE 'tail' END AS bucket,
        |       count(*) AS n_docs,
        |       CAST(sum(doc_id) AS BIGINT) AS sum_doc_id,
        |       round(sum(lm_score), 4) AS sum_score,
        |       min(lm_score) AS cutoff_score
        |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // ccnet_buckets_sampled: the exact per-language tercile counts
    // replayed; the sampled-cutoff path's agreement floor asserts as
    // literal TRUE
    "ccnet_buckets_sampled" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |uni AS (SELECT w, count(*) AS cw
        |        FROM (SELECT unnest(tk) AS w FROM toks) GROUP BY 1),
        |v AS (SELECT count(*) AS v FROM uni),
        |big AS (
        |  SELECT doc_id, tk[CAST(i AS INT)] AS w1, tk[CAST(i AS INT) + 1] AS w2
        |  FROM (SELECT doc_id, tk, unnest(range(1, len(tk))) AS i
        |        FROM toks WHERE len(tk) >= 2)),
        |bc AS (SELECT w1, w2, count(*) AS cb FROM big GROUP BY 1, 2),
        |sc AS (SELECT doc_id, round(avg(ln((cb + 1.0) / (cw + v))), 6) AS lm_score
        |       FROM big JOIN bc USING (w1, w2) JOIN uni ON w1 = uni.w CROSS JOIN v
        |       GROUP BY doc_id),
        |r AS (SELECT d.lang, s.doc_id, s.lm_score,
        |        row_number() OVER (PARTITION BY d.lang
        |                           ORDER BY s.lm_score DESC, s.doc_id) AS rk,
        |        count(*) OVER (PARTITION BY d.lang) AS n
        |      FROM sc s JOIN documents d USING (doc_id))
        |SELECT lang, count(*) AS n_docs,
        |       CAST(sum(CASE WHEN rk * 3 <= n THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_head,
        |       CAST(sum(CASE WHEN rk * 3 > n AND rk * 3 <= n * 2 THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_middle,
        |       CAST(sum(CASE WHEN rk * 3 > n * 2 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_tail,
        |       true AS agree_floor_met
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,
    // augment_token_dropout: the 10% "random" dropout is the pure
    // function (polyhash(token) + doc_id) % 10 == 0 — reproducible
    // across engines byte for byte
    "augment_token_dropout" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |k AS (SELECT doc_id, len(tk) AS n_tokens,
        |        list_filter(tk, t -> (list_reduce(list_prepend(0::BIGINT,
        |          list_transform(range(1, length(t)+1), i -> ascii(substring(t,i,1))::BIGINT)),
        |          (x,c) -> (x*31+c) % 1000000007) + doc_id) % 10 <> 0) AS kept
        |      FROM toks)
        |SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
        |       CAST(len(kept) AS INT) AS n_kept,
        |       array_to_string(kept, ' ') AS augmented,
        |       CAST(length(array_to_string(kept, ' ')) AS INT) AS len_augmented
        |FROM k ORDER BY doc_id""".stripMargin,
    // media_embedding_search: the stub encoder's seeded byte folds
    // recomputed per dimension; cosine rounded before the rank cut,
    // doc_id tie-break (ASCII corpus: byte == code point)
    "media_embedding_search" ->
      """WITH codes AS (SELECT doc_id, list_transform(range(1, length(text)+1),
        |                 i -> ascii(substring(text,i,1))::BIGINT) AS cs FROM documents),
        |v AS (SELECT doc_id, j,
        |        (list_reduce(list_prepend(CAST(j AS BIGINT), cs),
        |           (a,c) -> (a*31 + c + j) % 1000000007) % 1000) / 1000.0 AS vj,
        |        ((j*37 + 11) % 1000) / 1000.0 AS qj
        |      FROM codes CROSS JOIN (SELECT unnest(range(8)) AS j)),
        |s AS (SELECT doc_id, sum(vj*qj) AS dp,
        |             sqrt(sum(vj*vj)) AS nv, sqrt(sum(qj*qj)) AS nq
        |      FROM v GROUP BY 1)
        |SELECT doc_id, round(dp / (nv * nq), 6) AS cos_sim
        |FROM s ORDER BY cos_sim DESC, doc_id LIMIT 5""".stripMargin,
    // media_text_align (L5c): CLIP-score-style alignment gate — the
    // polyhash text tower expanded to 64 integer dims via the MinHash
    // seeded-hash family, media embedding quantized by floor(x*1000),
    // cosine over exact integer sums (summation-order-proof); census
    // per source with min/max (order-independent) score extremes
    "media_text_align" ->
      """WITH h AS (SELECT doc_id, source,
        |    list_reduce(list_prepend(0::BIGINT,
        |      list_transform(range(1, length(text)+1), i -> ascii(substring(text,i,1))::BIGINT)),
        |      (a,c) -> (a*31+c) % 1000000007) AS h
        |  FROM documents),
        |terms AS (SELECT doc_id, source, j,
        |    (h * ((103515239 + 2*j) % 1000000007) + (12345 + j)) % 1000000007 % 1000 AS tj,
        |    CAST(floor(CAST(embedding[CAST(j AS INT)+1] AS DOUBLE) * 1000) AS BIGINT) AS mj
        |  FROM h JOIN embeddings e ON e.vec_id = h.doc_id
        |  CROSS JOIN (SELECT unnest(range(64)) AS j)
        |  WHERE len(embedding) >= 64),
        |sc AS (SELECT doc_id, source, sum(mj*tj) AS dot,
        |              sum(mj*mj) AS na2, sum(tj*tj) AS nb2
        |       FROM terms GROUP BY 1, 2),
        |scored AS (SELECT source,
        |    round(dot * 1.0 / (sqrt(na2 * 1.0) * sqrt(nb2 * 1.0)), 6) AS s
        |  FROM sc WHERE na2 > 0 AND nb2 > 0)
        |SELECT source, count(*) AS n_pairs,
        |       CAST(sum(CASE WHEN s >= 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
        |       round(min(s), 6) AS min_score, round(max(s), 6) AS max_score
        |FROM scored GROUP BY source ORDER BY source""".stripMargin,
    // media_near_dup: 60-bit perceptual aHash pairs at hamming <= 3 —
    // the oracle recomputes the signature per doc (average-pool to 60
    // block sums, mean threshold via integer cross-multiplication;
    // ASCII corpus: byte == code point) and BRUTE-FORCES all pairs,
    // so the engine's banded join is verified lossless every run
    "media_near_dup" ->
      """WITH chars AS (
        |  SELECT doc_id, i, ascii(substring(text, CAST(i+1 AS INT), 1))::BIGINT AS c,
        |         length(text) AS len
        |  FROM documents, LATERAL unnest(range(length(text))) AS t(i)
        |  WHERE length(text) > 0 AND strlen(text) = length(text)
        |), blocks AS (
        |  SELECT doc_id, i * 60 // len AS j, sum(c) AS v
        |  FROM chars GROUP BY 1, 2
        |), tot AS (SELECT doc_id, sum(v) AS s FROM blocks GROUP BY 1),
        |bits AS (
        |  SELECT b.doc_id,
        |         sum(CASE WHEN 60 * v > s THEN 1::BIGINT << CAST(j AS INT)
        |                  ELSE 0::BIGINT END) AS h
        |  FROM blocks b JOIN tot USING (doc_id) GROUP BY 1
        |)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       CAST(bit_count(xor(a.h, b.h)) AS INT) AS hamming
        |FROM bits a JOIN bits b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.h, b.h)) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin,
    // phrase_search: consecutive 'table scan' occurrences; adjacency
    // via 1-based positions, counts integral
    "phrase_search" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |hits AS (SELECT doc_id
        |         FROM (SELECT doc_id, tk, unnest(range(1, len(tk))) AS i FROM toks)
        |         WHERE tk[CAST(i AS INT)] = 'table' AND tk[CAST(i AS INT) + 1] = 'scan')
        |SELECT doc_id, CAST(count(*) AS INT) AS n_occurrences
        |FROM hits GROUP BY 1 ORDER BY doc_id""".stripMargin,
    // dup_ngram_frac: distinct 5-grams per doc, df>=2 means shared
    // with another doc; counts are integral, division rounded last
    "dup_ngram_frac" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |sh AS (SELECT DISTINCT doc_id,
        |         tk[CAST(i AS INT)] || ' ' || tk[CAST(i AS INT) + 1] || ' ' ||
        |         tk[CAST(i AS INT) + 2] || ' ' || tk[CAST(i AS INT) + 3] || ' ' ||
        |         tk[CAST(i AS INT) + 4] AS shingle
        |       FROM (SELECT doc_id, tk, unnest(range(1, len(tk) - 3)) AS i
        |             FROM toks WHERE len(tk) >= 5)),
        |dfq AS (SELECT shingle, count(*) AS ndocs FROM sh GROUP BY 1),
        |pd AS (SELECT doc_id, count(*) AS n_shingles,
        |              sum(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END) AS n_dup
        |       FROM sh JOIN dfq USING (shingle) GROUP BY 1)
        |SELECT doc_id,
        |       CAST(coalesce(n_shingles, 0) AS INT) AS n_shingles,
        |       CAST(coalesce(n_dup, 0) AS INT) AS n_dup,
        |       round(coalesce(n_dup, 0) * 1.0 /
        |             greatest(coalesce(n_shingles, 0), 1), 6) AS dup_frac
        |FROM documents LEFT JOIN pd USING (doc_id) ORDER BY doc_id""".stripMargin,
    // exact_substring_spans (L13): positional 8-token windows; a
    // position is duplicated when its window occurs anywhere else in
    // the corpus (positions counted, not distinct shingles);
    // consecutive duplicated windows (gap <= 8) coalesce into maximal
    // spans via gaps-and-islands — identical logic both engines
    "exact_substring_spans" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |win AS (SELECT doc_id, CAST(i AS INT) AS pos,
        |          array_to_string(tk[CAST(i AS INT):CAST(i AS INT) + 7], ' ') AS w
        |        FROM (SELECT doc_id, tk, unnest(range(1, len(tk) - 6)) AS i
        |              FROM toks WHERE len(tk) >= 8)),
        |cnts AS (SELECT w, count(*) AS cnt FROM win GROUP BY 1),
        |dup AS (SELECT doc_id, pos FROM win JOIN cnts USING (w) WHERE cnt >= 2),
        |isl AS (SELECT doc_id, pos,
        |          CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 8
        |               THEN 0 ELSE 1 END AS newgrp
        |        FROM dup),
        |grp AS (SELECT doc_id, pos,
        |          sum(newgrp) OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        |        FROM isl),
        |spans AS (SELECT doc_id, grp, min(pos) AS s, max(pos) + 7 AS e
        |          FROM grp GROUP BY 1, 2),
        |pd AS (SELECT doc_id, count(*) AS n_spans, sum(e - s + 1) AS dup_tokens,
        |              max(e - s + 1) AS longest_span
        |       FROM spans GROUP BY 1)
        |SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
        |       CAST(coalesce(n_spans, 0) AS INT) AS n_spans,
        |       CAST(coalesce(dup_tokens, 0) AS INT) AS dup_tokens,
        |       CAST(coalesce(longest_span, 0) AS INT) AS longest_span,
        |       round(coalesce(dup_tokens, 0) * 1.0 /
        |             greatest(len(string_split(text, ' ')), 1), 6) AS dup_frac
        |FROM documents LEFT JOIN pd USING (doc_id) ORDER BY doc_id""".stripMargin,
    // exact_substring_cut (L13b): the islands CTE carried one step
    // further — every token covered by a duplicated 8-token window is
    // cut and the kept tokens re-join in order; identical covered-set
    // expansion + anti-join + ordered string_agg on both engines
    "exact_substring_cut" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |win AS (SELECT doc_id, CAST(i AS INT) AS pos,
        |          array_to_string(tk[CAST(i AS INT):CAST(i AS INT) + 7], ' ') AS w
        |        FROM (SELECT doc_id, tk, unnest(range(1, len(tk) - 6)) AS i
        |              FROM toks WHERE len(tk) >= 8)),
        |cnts AS (SELECT w, count(*) AS cnt FROM win GROUP BY 1),
        |dup AS (SELECT doc_id, pos FROM win JOIN cnts USING (w) WHERE cnt >= 2),
        |cov AS (SELECT DISTINCT doc_id, pos + i AS idx
        |        FROM dup CROSS JOIN (SELECT unnest(range(0, 8)) AS i) o),
        |tokpos AS (SELECT doc_id, CAST(i AS INT) AS idx, tk[CAST(i AS INT)] AS tok
        |           FROM (SELECT doc_id, tk, unnest(range(1, len(tk) + 1)) AS i
        |                 FROM toks)),
        |kept AS (SELECT t.doc_id, t.idx, t.tok FROM tokpos t
        |         LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.idx = c.idx
        |         WHERE c.idx IS NULL),
        |cl AS (SELECT doc_id, count(*) AS kept_tokens,
        |              string_agg(tok, ' ' ORDER BY idx) AS clean_text
        |       FROM kept GROUP BY 1)
        |SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
        |       CAST(coalesce(kept_tokens, 0) AS INT) AS kept_tokens,
        |       coalesce(clean_text, '') AS clean_text
        |FROM documents LEFT JOIN cl USING (doc_id) ORDER BY doc_id""".stripMargin,
    // quality_logit: identical linear formula inside and outside the
    // sigmoid; keep tests the LINEAR score (monotone σ) so exp() never
    // sits on the decision boundary
    "quality_logit" ->
      """WITH f AS (SELECT doc_id,
        |    len(list_distinct(tokens))::DOUBLE / len(tokens) AS ttr,
        |    len(list_filter(tokens, t -> list_contains(['the','a','of','and','in'], t)))::DOUBLE
        |      / len(tokens) AS sr,
        |    len(tokens) AS n
        |  FROM (SELECT doc_id, string_split(text, ' ') AS tokens FROM documents))
        |SELECT doc_id,
        |       round(-2.0 + 3.0*ttr - 1.5*sr + 0.3*ln(1.0 + n), 6) AS logit,
        |       round(1.0 / (1.0 + exp(-(-2.0 + 3.0*ttr - 1.5*sr + 0.3*ln(1.0 + n)))), 6) AS p_keep,
        |       (-2.0 + 3.0*ttr - 1.5*sr + 0.3*ln(1.0 + n)) >= 0.0 AS keep
        |FROM f ORDER BY doc_id""".stripMargin,
    // normalized_dedup: canonicalization chain written identically on
    // both engines (DuckDB regexp_replace needs the 'g' flag to match
    // Spark's replace-all default); counts integral
    "normalized_dedup" ->
      """WITH c AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 2000000,
        |         upper(substr(text, 1, 1)) || substr(text, 2) || ' .'
        |  FROM documents),
        |n AS (SELECT doc_id,
        |        trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
        |                            ' +', ' ', 'g')) AS norm
        |      FROM c)
        |SELECT min(doc_id) AS doc_id, CAST(count(*) AS INT) AS n_copies,
        |       CAST(length(norm) AS INT) AS norm_len
        |FROM n GROUP BY norm ORDER BY doc_id""".stripMargin,
    // source_overlap_matrix: near-dup pairs mapped to the SOURCE of
    // both endpoints (variant ids fold back via % 1000000); counts
    // integral, matrix keyed on the (least, greatest) source pair
    "source_overlap_matrix" ->
      ("WITH nd AS (\n" + MinhashNearDupSql + "\n)\n" +
        """SELECT least(da.source, db.source) AS source_a,
          |       greatest(da.source, db.source) AS source_b,
          |       count(*) AS n_pairs
          |FROM nd
          |JOIN documents da ON da.doc_id = nd.doc_a % 1000000
          |JOIN documents db ON db.doc_id = nd.doc_b % 1000000
          |GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin),
    // hash_topk_sample: deterministic per-group sample — rank on the
    // content polyhash (same list_reduce form as hash_split), doc_id
    // tie-break; row_number cast to Spark's INT
    "hash_topk_sample" ->
      """WITH h AS (SELECT doc_id, lang,
        |  list_reduce(list_prepend(0::BIGINT, list_transform(range(1, length(text)+1),
        |    i -> ascii(substring(text,i,1))::BIGINT)), (a,c) -> (a*31+c) % 1000000007) AS h
        |  FROM documents),
        |r AS (SELECT doc_id, lang, h,
        |        CAST(row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS INT) AS rn
        |      FROM h)
        |SELECT lang, rn, doc_id, h FROM r WHERE rn <= 20 ORDER BY lang, rn""".stripMargin,
    // mixture_plan: integral token counts; shares and keep rates
    // divided once per output row, rounded last
    "mixture_plan" ->
      """WITH g AS (SELECT lang, count(*) AS n_docs,
        |                  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |           FROM documents GROUP BY 1),
        |t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |             count(*) AS n_langs FROM g)
        |SELECT lang, n_docs, n_tokens,
        |       round(n_tokens * 1.0 / total_tokens, 6) AS current_share,
        |       round(1.0 / n_langs, 6) AS target_share,
        |       round(least(1.0, (total_tokens * 1.0 / n_langs) / n_tokens), 6) AS sample_rate
        |FROM g CROSS JOIN t ORDER BY lang""".stripMargin,
    "k_anonymity_audit" ->
      """SELECT lang, source, CAST(n_chars // 100 AS INT) AS len_bucket,
        |       count(*) AS n_docs, count(*) < 5 AS at_risk
        |FROM documents GROUP BY 1, 2, 3
        |ORDER BY lang, source, len_bucket""".stripMargin,
    // doc_length_histogram: integer `//` bucketing — no float boundary
    // can flip a doc between bins cross-engine
    "doc_length_histogram" ->
      """SELECT CAST(least(length(text) // 100, 19) AS INT) AS bucket,
        |       count(*) AS n_docs,
        |       CAST(min(length(text)) AS INT) AS min_len,
        |       CAST(max(length(text)) AS INT) AS max_len,
        |       round(avg(len(string_split(text, ' '))), 6) AS avg_tokens
        |FROM documents GROUP BY 1 ORDER BY bucket""".stripMargin,
    "token_counts" ->
      """SELECT token, count(*) AS cnt
        |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |GROUP BY token ORDER BY cnt DESC, token LIMIT 20""".stripMargin,
    // tfidf_top_terms: smoothed-idf TF-IDF, rank on the ROUNDED score
    // (ln() may differ by ulps across engines; rounding + term
    // tie-break makes row_number deterministic)
    "tfidf_top_terms" ->
      """WITH pairs AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM pairs GROUP BY 1, 2),
        |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM pairs GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents),
        |scored AS (SELECT doc_id, term, tf,
        |  round(tf * (ln((n + 1)::DOUBLE / (df + 1)) + 1.0), 6) AS score
        |  FROM tf JOIN df USING (term) CROSS JOIN n)
        |SELECT doc_id, CAST(rk AS INT) AS rk, term, CAST(tf AS INT) AS tf, score FROM (
        |  SELECT doc_id, term, tf, score,
        |         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rk
        |  FROM scored) WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin,
    // bloom_prune_lineitem: the bloom sketch admits only false
    // POSITIVES and the exact semi-join removes those, so the result
    // equals the plain semi-join — which is exactly what the oracle
    // computes
    "bloom_prune_lineitem" ->
      """SELECT l_returnflag, count(*) AS n,
        |       round(sum(l_extendedprice * (1.0 - l_discount)), 6) AS revenue
        |FROM lineitem SEMI JOIN part
        |  ON l_partkey = p_partkey AND p_brand = 'Brand#23'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "conjunctive_search" ->
      """SELECT doc_id, count(*) AS n_hits
        |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
        |WHERE term IN ('spark', 'vector', 'stream')
        |GROUP BY doc_id HAVING count(DISTINCT term) = 3
        |ORDER BY doc_id""".stripMargin,
    // inverted_index_lookup: the materialized-index path must give the
    // SAME answer as the direct corpus query — identical oracle
    "inverted_index_lookup" ->
      """SELECT doc_id, count(*) AS n_hits
        |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
        |WHERE term IN ('spark', 'vector', 'stream')
        |GROUP BY doc_id HAVING count(DISTINCT term) = 3
        |ORDER BY doc_id""".stripMargin,
    // sequence_packing: the next-fit fold is the identical all-integer
    // list_reduce on both engines (state = bin*512 + used); shards and
    // token counts are pure integer functions of the row
    "sequence_packing" ->
      """WITH dl AS (
        |  SELECT doc_id // 100 AS shard, doc_id,
        |         len(string_split(text, ' ')) AS l
        |  FROM documents),
        |sh AS (SELECT shard, count(*) AS n_docs,
        |              CAST(sum(l) AS BIGINT) AS total_tokens,
        |              list(l ORDER BY doc_id) AS ls
        |       FROM dl GROUP BY 1),
        |f AS (SELECT shard, n_docs, total_tokens,
        |             list_reduce(list_prepend(512::BIGINT,
        |               list_transform(ls, x -> x::BIGINT)),
        |               (st, x) -> CASE WHEN st % 512 + x > 256
        |                          THEN (st // 512 + 1) * 512 + x
        |                          ELSE st + x END) AS st
        |      FROM sh)
        |SELECT shard, n_docs, total_tokens,
        |       CAST(st // 512 AS INT) AS n_bins,
        |       round(total_tokens::DOUBLE / ((st // 512) * 256), 6) AS fill_ratio
        |FROM f ORDER BY shard""".stripMargin,
    // split_leakage_audit: near-dup pairs (the proven MinHash oracle)
    // joined to the content-addressed split of both endpoints; counts
    // per unordered split combination
    "split_leakage_audit" ->
      ("WITH nd AS (\n" + MinhashNearDupSql + "\n),\n" +
        "corpus2 AS (\n  " + NearDupCorpusSql + "\n),\n" +
        """sp AS (SELECT doc_id,
          |  CASE WHEN ph % 100 < 80 THEN 'train'
          |       WHEN ph % 100 < 90 THEN 'val' ELSE 'test' END AS split
          |  FROM (SELECT doc_id, list_reduce(list_prepend(0::BIGINT,
          |    list_transform(range(1, length(text)+1), i -> ascii(substring(text,i,1))::BIGINT)),
          |    (a,c) -> (a*31+c) % 1000000007) AS ph FROM corpus2)),
          |j AS (SELECT least(a.split, b.split) AS split_a,
          |             greatest(a.split, b.split) AS split_b
          |      FROM nd JOIN sp a ON a.doc_id = nd.doc_a
          |              JOIN sp b ON b.doc_id = nd.doc_b)
          |SELECT split_a, split_b, count(*) AS n_pairs,
          |       CAST(CASE WHEN split_a <> split_b THEN 1 ELSE 0 END AS INT) AS leaky
          |FROM j GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // incremental_ingest_dedup: the store-probe decision (any shared
    // band between a new doc and an existing one) recomputed from
    // scratch by banding the union — the incremental path must land
    // on exactly the same per-doc outcome
    "incremental_ingest_dedup" ->
      (minhashBandsSqlOver(NearDupCorpusSql) + ",\n" +
        """cand AS (SELECT y.doc_id AS new_id, x.doc_id AS old_id
          |         FROM bands x JOIN bands y
          |           ON x.band = y.band AND x.band_key = y.band_key
          |         WHERE x.doc_id < 1000000 AND y.doc_id >= 1000000),
          |p AS (SELECT new_id, count(DISTINCT old_id) AS n_partners FROM cand GROUP BY 1)
          |SELECT d.doc_id, coalesce(p.n_partners, 0) AS n_partners,
          |       CAST(coalesce(p.n_partners, 0) > 0 AS INT) AS dup
          |FROM (SELECT doc_id + 1000000 AS doc_id FROM documents) d
          |LEFT JOIN p ON p.new_id = d.doc_id
          |ORDER BY doc_id""".stripMargin),
    // padding_waste: batch membership is integer arithmetic on doc_id
    // / length-bucket row numbers; only the final fraction is rounded
    "padding_waste" ->
      """WITH dl AS (SELECT doc_id, len(string_split(text, ' ')) AS l FROM documents),
        |nb AS (SELECT doc_id // 32 AS bkey, count(*) AS n, max(l) AS mx,
        |              CAST(sum(l) AS BIGINT) AS tot
        |       FROM dl GROUP BY 1),
        |na AS (SELECT 'naive' AS strategy, count(*) AS n_batches,
        |              CAST(sum(tot) AS BIGINT) AS total_tokens,
        |              CAST(sum(n * mx) AS BIGINT) AS padded_tokens FROM nb),
        |bk AS (SELECT l, l // 8 AS lb,
        |              row_number() OVER (PARTITION BY l // 8 ORDER BY doc_id) AS rn
        |       FROM dl),
        |bb AS (SELECT lb, (rn - 1) // 32 AS b2, count(*) AS n, max(l) AS mx,
        |              CAST(sum(l) AS BIGINT) AS tot
        |       FROM bk GROUP BY 1, 2),
        |ba AS (SELECT 'bucketed' AS strategy, count(*) AS n_batches,
        |              CAST(sum(tot) AS BIGINT) AS total_tokens,
        |              CAST(sum(n * mx) AS BIGINT) AS padded_tokens FROM bb)
        |SELECT strategy, n_batches, total_tokens, padded_tokens,
        |       padded_tokens - total_tokens AS waste_tokens,
        |       round((padded_tokens - total_tokens)::DOUBLE / padded_tokens, 6) AS waste_frac
        |FROM (SELECT * FROM na UNION ALL SELECT * FROM ba) ORDER BY strategy""".stripMargin,
    // doc_chunking: chunk count/boundaries are integer functions of
    // the token count; list slicing clamps at the tail on both engines
    "doc_chunking" ->
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS ts,
        |                   len(string_split(text, ' ')) AS n
        |            FROM documents),
        |c AS (SELECT doc_id, ts,
        |             unnest(range(0, 1 + greatest(0, (n - 64 + 47) // 48))) AS cid
        |      FROM tk)
        |SELECT doc_id, CAST(cid AS INT) AS chunk_id,
        |       CAST(cid * 48 + 1 AS INT) AS start_tok,
        |       CAST(len(ts[(cid*48+1):(cid*48+64)]) AS INT) AS n_chunk_tokens,
        |       array_to_string(ts[(cid*48+1):(cid*48+64)], ' ') AS chunk_text
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,
    // importance_sample: the acceptance test polyhash(text) % n_g <
    // min_n is all-integer; the char-fold polyhash is the proven
    // cross-engine formulation
    "importance_sample" ->
      """WITH h AS (SELECT doc_id, lang,
        |  len(string_split(text, ' ')) AS n_tokens,
        |  list_reduce(list_prepend(0::BIGINT, list_transform(range(1, length(text)+1),
        |    i -> ascii(substring(text,i,1))::BIGINT)), (a,c) -> (a*31+c) % 1000000007) AS ph
        |  FROM documents),
        |cnt AS (SELECT lang, count(*) AS n_source FROM h GROUP BY 1),
        |mn AS (SELECT min(n_source) AS target_n FROM cnt)
        |SELECT h.lang, cnt.n_source, mn.target_n,
        |       count(*) AS n_sampled,
        |       round(count(*)::DOUBLE / cnt.n_source, 6) AS rate,
        |       round(avg(n_tokens::DOUBLE), 6) AS avg_tokens
        |FROM h JOIN cnt USING (lang) CROSS JOIN mn
        |WHERE ph % cnt.n_source < mn.target_n
        |GROUP BY h.lang, cnt.n_source, mn.target_n
        |ORDER BY lang""".stripMargin,
    // token_budget_select: the oracle takes the PLAIN global running
    // sum over (quality DESC, doc_id) — the Spark side's
    // bucket-prefix + within-bucket cumsum decomposition must equal
    // it exactly (the bucket key is a truncation of the same rounded
    // quality, so bucket order refines the global order)
    "token_budget_select" ->
      """WITH q AS (SELECT doc_id, lang, len(tokens) AS n_tokens,
        |  round(ln(1.0 + len(tokens)) * (len(list_distinct(tokens))::DOUBLE / len(tokens)) *
        |        (1.0 - len(list_filter(tokens, t -> list_contains(['the','a','of','and','in'], t)))::DOUBLE
        |         / len(tokens)), 6) AS quality
        |  FROM (SELECT doc_id, lang, string_split(text, ' ') AS tokens FROM documents)),
        |b AS (SELECT CAST(sum(n_tokens) AS BIGINT) // 4 AS budget FROM q),
        |c AS (SELECT lang, n_tokens, quality,
        |             sum(n_tokens) OVER (ORDER BY quality DESC, doc_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |      FROM q)
        |SELECT lang, count(*) AS n_selected,
        |       CAST(sum(n_tokens) AS BIGINT) AS tokens_selected,
        |       round(min(quality), 6) AS min_quality
        |FROM c CROSS JOIN b WHERE cum <= budget
        |GROUP BY lang ORDER BY lang""".stripMargin,
    // vocab_coverage: type counts + rank, coverage of the top-k mass
    "vocab_coverage" ->
      """WITH tc AS (SELECT w, count(*) AS c
        |            FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |            GROUP BY w),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS total_tokens FROM tc),
        |rk AS (SELECT w, c, row_number() OVER (ORDER BY c DESC, w) AS rk FROM tc)
        |SELECT k, count(*) AS n_types,
        |       CAST(sum(c) AS BIGINT) AS covered_tokens,
        |       total_tokens,
        |       round(CAST(sum(c) AS BIGINT)::DOUBLE / total_tokens, 6) AS coverage
        |FROM rk CROSS JOIN tot CROSS JOIN (SELECT unnest([10, 100, 1000]) AS k)
        |WHERE rk <= k
        |GROUP BY k, total_tokens ORDER BY k""".stripMargin,
    // repetition_signals: bigram profile via unnest + two aggs; the
    // run fold uses the identical radix-packed integer state on both
    // engines (token hash < 2^30, run/best capped at 1023)
    "repetition_signals" ->
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents
        |            WHERE len(string_split(text, ' ')) >= 2),
        |bgl AS (SELECT doc_id,
        |               unnest(list_transform(range(1, len(ts)),
        |                 i -> ts[i] || ' ' || ts[i+1])) AS bg
        |        FROM tk),
        |p1 AS (SELECT doc_id, bg, count(*) AS c FROM bgl GROUP BY 1, 2),
        |prof AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
        |                count(*) AS n_distinct, max(c) AS top_count
        |         FROM p1 GROUP BY 1),
        |runs AS (SELECT doc_id,
        |  CAST(list_reduce(list_prepend(1000000007::BIGINT * 1048576,
        |    list_transform(ts, t ->
        |      list_reduce(list_prepend(0::BIGINT, list_transform(range(1, length(t)+1),
        |        j -> ascii(substring(t,j,1))::BIGINT)), (a,c2) -> (a*31+c2) % 1000000007))),
        |    (st, x) -> x * 1048576
        |      + least(CASE WHEN x = st // 1048576
        |               THEN ((st // 1024) % 1024) + 1 ELSE 1 END, 1023) * 1024
        |      + greatest(st % 1024,
        |          least(CASE WHEN x = st // 1048576
        |                THEN ((st // 1024) % 1024) + 1 ELSE 1 END, 1023))) % 1024
        |    AS INT) AS max_run
        |  FROM tk)
        |SELECT prof.doc_id, n_bigrams, n_distinct, top_count,
        |       round((n_bigrams - n_distinct)::DOUBLE / n_bigrams, 6) AS dup2_frac,
        |       round(top_count::DOUBLE / n_bigrams, 6) AS top2_frac,
        |       max_run,
        |       CAST(CASE WHEN 5 * top_count > n_bigrams
        |                   OR 2 * (n_bigrams - n_distinct) > n_bigrams
        |                   OR max_run >= 3 THEN 1 ELSE 0 END AS INT) AS repetitive
        |FROM prof JOIN runs ON prof.doc_id = runs.doc_id
        |ORDER BY prof.doc_id""".stripMargin,
    // pii_scrub: injection is a pure integer function of doc_id;
    // patterns are RE2-safe character classes so Java regex and RE2
    // agree on every span
    "pii_scrub" ->
      """WITH inj AS (SELECT doc_id, lang, text
        |  || CASE WHEN doc_id % 5 = 0
        |          THEN ' reach user' || doc_id || '@mail.example.org' ELSE '' END
        |  || CASE WHEN doc_id % 7 = 0
        |          THEN ' dial 555-' || lpad((doc_id % 10000)::VARCHAR, 4, '0') ELSE '' END
        |  || CASE WHEN doc_id % 11 = 0
        |          THEN ' from 10.' || (doc_id % 256) || '.' || ((doc_id * 7) % 256)
        |               || '.' || ((doc_id * 13) % 256) ELSE '' END AS text
        |  FROM documents)
        |SELECT doc_id, lang,
        |       CAST(len(regexp_extract_all(text, '[a-z0-9]+@[a-z0-9.]+')) AS INT) AS n_emails,
        |       CAST(len(regexp_extract_all(text, '555-[0-9]{4}')) AS INT) AS n_phones,
        |       CAST(len(regexp_extract_all(text, '10\.[0-9]+\.[0-9]+\.[0-9]+')) AS INT) AS n_ips,
        |       CAST(length(text) AS INT) AS len_raw,
        |       regexp_replace(regexp_replace(regexp_replace(text,
        |         '[a-z0-9]+@[a-z0-9.]+', '<EMAIL>', 'g'),
        |         '10\.[0-9]+\.[0-9]+\.[0-9]+', '<IP>', 'g'),
        |         '555-[0-9]{4}', '<PHONE>', 'g') AS scrubbed,
        |       CAST(length(regexp_replace(regexp_replace(regexp_replace(text,
        |         '[a-z0-9]+@[a-z0-9.]+', '<EMAIL>', 'g'),
        |         '10\.[0-9]+\.[0-9]+\.[0-9]+', '<IP>', 'g'),
        |         '555-[0-9]{4}', '<PHONE>', 'g')) AS INT) AS len_scrubbed
        |FROM inj ORDER BY doc_id""".stripMargin,
    "stratified_sample" ->
      """WITH b AS (SELECT doc_id, lang,
        |  list_reduce(list_prepend(0::BIGINT, list_transform(range(1, length(text)+1),
        |    i -> ascii(substring(text,i,1))::BIGINT)), (a,c) -> (a*31+c) % 1000000007)
        |    % 100 AS bucket
        |  FROM documents)
        |SELECT lang, count(*) AS n_sampled, min(doc_id) AS min_doc, max(doc_id) AS max_doc
        |FROM b WHERE bucket < CASE WHEN lang = 'en' THEN 50 ELSE 10 END
        |GROUP BY lang ORDER BY lang""".stripMargin,
    // dq_checks: every violation count must be independently derivable
    // from the same table — the oracle recomputes each rule in SQL
    "dq_checks" ->
      """SELECT rule, n_violations FROM (
        |  SELECT 'accepted_values_o_orderstatus' AS rule,
        |         count(*) FILTER (o_orderstatus NOT IN ('O','F','P')) AS n_violations
        |  FROM orders
        |  UNION ALL
        |  SELECT 'not_null_o_custkey', count(*) FILTER (o_custkey IS NULL) FROM orders
        |  UNION ALL
        |  SELECT 'pk_unique_o_orderkey', count(*) - count(DISTINCT o_orderkey) FROM orders
        |  UNION ALL
        |  SELECT 'positive_o_totalprice', count(*) FILTER (o_totalprice <= 0) FROM orders
        |  UNION ALL
        |  SELECT 'ref_orders_customer', count(*) FROM orders
        |  WHERE o_custkey IS NOT NULL
        |    AND o_custkey NOT IN (SELECT c_custkey FROM customer
        |                          WHERE c_custkey IS NOT NULL)
        |) ORDER BY rule""".stripMargin,
    // ntile_quartiles: tile assignment is deterministic because the
    // window order (acctbal, custkey) is total
    "ntile_quartiles" ->
      """SELECT tile, count(*) AS n, min(c_acctbal) AS min_bal, max(c_acctbal) AS max_bal
        |FROM (SELECT c_acctbal,
        |             CAST(ntile(4) OVER (ORDER BY c_acctbal, c_custkey) AS INT) AS tile
        |      FROM customer)
        |GROUP BY tile ORDER BY tile""".stripMargin,
    "q4_late_orders" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q6_forecast_revenue" ->
      """SELECT round(sum(l_extendedprice * l_discount), 6) AS revenue,
        |       count(*) AS n_lines
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin,
    // q9: supply cost is the deterministic stand-in 0.6*p_retailprice
    // (no partsupp in the driver schema)
    "q9_product_profit" ->
      """SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
        |       round(sum(l_extendedprice * (1.0 - l_discount)
        |                 - 0.6 * p_retailprice * l_quantity), 6) AS sum_profit
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey AND p_type = 'STANDARD'
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY n_name, year(o_orderdate)
        |ORDER BY nation, o_year DESC""".stripMargin,
    // q17: the correlated 0.2*avg predicate reformulated all-integer
    // (5*qty*cnt < sum_qty) — no float boundary can flip a line
    "q17_small_quantity" ->
      """WITH pp AS (SELECT l_partkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sq,
        |                   count(*) AS cnt
        |            FROM lineitem GROUP BY 1)
        |SELECT round(sum(l_extendedprice) / 7.0, 6) AS avg_yearly,
        |       count(*) AS n_lines
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey AND p_brand = 'Brand#23' AND p_size <= 10
        |JOIN pp USING (l_partkey)
        |WHERE 5 * CAST(l_quantity AS BIGINT) * cnt < sq""".stripMargin,
    // q21: EXISTS/NOT-EXISTS decorrelated into per-order distinct
    // supplier counts, lateness as in q4 (> 60 days after order date)
    "q21_waiting_suppliers" ->
      """WITH lo AS (SELECT l_orderkey, l_suppkey, l_shipdate, o_orderdate
        |            FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |po AS (SELECT l_orderkey, count(DISTINCT l_suppkey) AS nsupp,
        |              count(DISTINCT CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
        |                                  THEN l_suppkey END) AS nlate
        |       FROM lo GROUP BY 1),
        |w AS (SELECT DISTINCT lo.l_orderkey, lo.l_suppkey
        |      FROM lo JOIN po ON lo.l_orderkey = po.l_orderkey
        |      WHERE lo.l_shipdate > lo.o_orderdate + INTERVAL 60 DAY
        |        AND po.nsupp >= 2 AND po.nlate = 1)
        |SELECT s_name, count(*) AS numwait
        |FROM w JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin,
    // q8: market-share ratio rounded AFTER the division (q14's rule);
    // the conditional sum is over the identical join result so both
    // engines divide the same two doubles up to summation-order ulps
    "q8_market_share" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS o_year,
        |       round(sum(CASE WHEN sn.n_name = 'NATION_7'
        |                 THEN l_extendedprice * (1.0 - l_discount)
        |                 ELSE 0.0 END) /
        |             sum(l_extendedprice * (1.0 - l_discount)), 6) AS mkt_share,
        |       count(*) AS n_lines
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey AND p_type = 'ECONOMY'
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation cn ON c_nationkey = cn.n_nationkey
        |JOIN region ON cn.n_regionkey = r_regionkey AND r_name = 'ASIA'
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation sn ON s_nationkey = sn.n_nationkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1 ORDER BY o_year""".stripMargin,
    // q2: supply relation derived from lineitem (no partsupp table);
    // unit cost rounded BEFORE the min/equality (q15's rule)
    "q2_min_cost_supplier" ->
      """WITH ps AS (SELECT l_partkey, l_suppkey,
        |                   round(min(l_extendedprice / l_quantity), 6) AS cost
        |            FROM lineitem GROUP BY 1, 2),
        |rps AS (SELECT ps.*, s_name, s_acctbal, n_name
        |        FROM ps JOIN supplier ON l_suppkey = s_suppkey
        |        JOIN nation ON s_nationkey = n_nationkey
        |        JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE'),
        |mc AS (SELECT l_partkey, min(cost) AS mincost FROM rps GROUP BY 1)
        |SELECT s_acctbal, s_name, n_name, p_partkey, p_brand
        |FROM rps JOIN mc ON rps.l_partkey = mc.l_partkey AND cost = mincost
        |JOIN part ON rps.l_partkey = p_partkey
        |         AND p_type = 'STANDARD' AND p_size BETWEEN 10 AND 20
        |ORDER BY s_acctbal DESC, p_partkey, s_name LIMIT 100""".stripMargin,
    // q11: all-integer threshold (1000 * qty_value > total) replaces
    // the float fraction boundary (q17's reformulation rule)
    "q11_important_stock" ->
      """WITH pv AS (
        |  SELECT l_partkey,
        |         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_value
        |  FROM lineitem
        |  WHERE l_suppkey IN (SELECT s_suppkey FROM supplier WHERE s_nationkey = 3)
        |  GROUP BY 1)
        |SELECT l_partkey, qty_value
        |FROM pv, (SELECT sum(qty_value) AS total FROM pv)
        |WHERE 1000 * qty_value > total
        |ORDER BY qty_value DESC, l_partkey""".stripMargin,
    // q16: blacklist exclusion as NOT IN over a non-nullable key
    // (negative-balance suppliers stand in for the comment LIKE)
    "q16_supplier_count" ->
      """WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
        |            WHERE l_suppkey NOT IN
        |              (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0))
        |SELECT p_brand, p_type, p_size,
        |       count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM ps JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#23' AND p_type <> 'PROMO'
        |  AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,
    // q20: nested IN chain decorrelated; all-integer 2*q96 > qall with
    // a volume floor (no availqty column exists in the corpus)
    "q20_promotion_suppliers" ->
      """WITH pssum AS (
        |  SELECT l_partkey, l_suppkey,
        |         sum(CASE WHEN l_shipdate >= TIMESTAMP '1996-01-01'
        |                   AND l_shipdate < TIMESTAMP '1997-01-01'
        |                  THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS q96,
        |         sum(CAST(l_quantity AS BIGINT)) AS qall
        |  FROM lineitem
        |  WHERE l_partkey IN (SELECT p_partkey FROM part
        |                      WHERE p_name LIKE 'small%')
        |  GROUP BY 1, 2)
        |SELECT s_suppkey, s_name, s_acctbal
        |FROM supplier
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE'
        |WHERE s_suppkey IN (SELECT l_suppkey FROM pssum
        |                    WHERE 2 * q96 > qall AND qall >= 60)
        |ORDER BY s_name""".stripMargin,
    // q15: revenue rounded BEFORE max/equality, so the top-supplier
    // selection compares the identical decimal cross-engine
    "q15_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |         round(sum(l_extendedprice * (1.0 - l_discount)), 6) AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
        |ORDER BY s_name""".stripMargin,
    "q14_promo_revenue" ->
      """SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
        |                        THEN l_extendedprice * (1.0 - l_discount)
        |                        ELSE 0.0 END) /
        |             sum(l_extendedprice * (1.0 - l_discount)), 6) AS promo_revenue_pct,
        |       count(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'""".stripMargin,
    "q12_priority_shipping" ->
      """SELECT CAST(year(l_shipdate) AS INT) AS ship_year,
        |       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |                THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY ship_year""".stripMargin,
    "q13_order_distribution" ->
      """WITH co AS (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |  GROUP BY 1)
        |SELECT c_count, count(*) AS custdist
        |FROM co GROUP BY 1 ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "q19_disjunctive_revenue" ->
      """SELECT round(sum(l_extendedprice * (1.0 - l_discount)), 6) AS revenue,
        |       count(*) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
        |       AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
        |       AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin,
    // q22: NOT EXISTS (never NOT IN — a single null o_custkey would
    // empty the result); dormant = no order since 2000 (every customer
    // in this corpus has ordered at least once); threshold rounded so
    // both engines cut at the identical double
    "q22_sales_opportunity" ->
      """WITH ab AS (SELECT round(avg(c_acctbal), 6) AS ab
        |            FROM customer WHERE c_acctbal > 0.0)
        |SELECT c_nationkey, count(*) AS numcust,
        |       round(sum(c_acctbal), 6) AS totacctbal
        |FROM customer, ab
        |WHERE c_acctbal > ab
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderdate >= TIMESTAMP '2000-01-01')
        |GROUP BY 1 ORDER BY c_nationkey""".stripMargin,
    // salted_skew_join: the salt is invisible to the result — the
    // oracle is the UNSALTED join (dim weight rounded before the
    // multiply on both sides)
    "salted_skew_join" ->
      """WITH dim AS (SELECT user_id AS k, round(avg(value), 6) AS w
        |             FROM events GROUP BY 1),
        |fact AS (SELECT CASE WHEN event_id % 2 = 0 THEN 0 ELSE user_id END AS k,
        |                event_type, value
        |         FROM events)
        |SELECT event_type, count(*) AS n, round(sum(value * w), 6) AS weighted_value
        |FROM fact JOIN dim USING (k)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // bucketed_join_colocated: the bucket layout is invisible to the
    // result — the oracle is the plain join + two-level aggregate
    // the OUTER sum folds thousands of 6-dp revs to ~1e9 — 15
    // significant digits, the edge of double, where shuffle-arrival
    // summation order can flip round(,6) (observed at sf0.01 once
    // AQE coalesced the outer exchange to one reducer). DECIMAL
    // accumulation makes both engines exact and order-free; the
    // per-ORDER inner sum stays double (bounded items, ~1e6 · 1e-6 =
    // 12 digits, comfortably exact)
    "bucketed_join_colocated" ->
      """WITH per_order AS (
        |  SELECT o_orderkey, CAST(count(*) AS INT) AS n_items,
        |         round(sum(l_extendedprice), 6) AS rev
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |  GROUP BY 1)
        |SELECT n_items, count(*) AS n_orders,
        |       round(CAST(sum(CAST(rev AS DECIMAL(24,6))) AS DOUBLE), 6) AS sum_rev
        |FROM per_order GROUP BY 1 ORDER BY n_items""".stripMargin,
    // funnel_stages: the per-user state machine is an int fold in
    // BOTH engines (list_reduce over a mapped prefix); prefix order
    // is total via the (µs, event_id) sort key
    "funnel_stages" ->
      """WITH pref AS (
        |  SELECT user_id,
        |         list_slice(list(event_type ORDER BY epoch_us(ts), event_id), 1, 12) AS t12
        |  FROM events GROUP BY user_id),
        |st AS (SELECT user_id,
        |  list_reduce(list_prepend(0, list_transform(t12,
        |    x -> CASE x WHEN 'view' THEN 1 WHEN 'click' THEN 2
        |                WHEN 'purchase' THEN 3 ELSE -1 END)),
        |    (a, c) -> CASE WHEN a = 0 AND c = 1 THEN 1
        |                   WHEN a = 1 AND c = 2 THEN 2
        |                   WHEN a = 2 AND c = 3 THEN 3 ELSE a END) AS stage
        |  FROM pref)
        |SELECT CAST(stage AS INT) AS stage, count(*) AS n_users
        |FROM st GROUP BY stage ORDER BY stage""".stripMargin,
    "cohort_retention" ->
      """WITH act AS (SELECT DISTINCT user_id, epoch_us(ts) // 604800000000 AS wk
        |             FROM events),
        |coh AS (SELECT user_id, min(wk) AS cohort_wk FROM act GROUP BY user_id)
        |SELECT cohort_wk, wk - cohort_wk AS week_offset, count(*) AS n_users
        |FROM act JOIN coh USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // time_to_convert: integer minutes (µs div 60e6) feed exact
    // percentiles — identical inputs cross-engine; interpolated
    // percentile rounded last
    "time_to_convert" ->
      """WITH pu AS (
        |  SELECT user_id,
        |         min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS v_us,
        |         min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS p_us
        |  FROM events GROUP BY user_id),
        |conv AS (
        |  SELECT v_us // 604800000000 AS cohort_wk,
        |         (p_us - v_us) // 60000000 AS mins
        |  FROM pu
        |  WHERE v_us IS NOT NULL AND p_us IS NOT NULL AND p_us >= v_us)
        |SELECT cohort_wk, count(*) AS n_converted,
        |       round(avg(mins), 6) AS avg_mins,
        |       round(quantile_cont(mins, 0.5), 6) AS p50_mins,
        |       round(quantile_cont(mins, 0.9), 6) AS p90_mins,
        |       max(mins) AS max_mins
        |FROM conv GROUP BY 1 ORDER BY cohort_wk""".stripMargin,
    // winsorized_stats: percentile bounds ROUNDED before the clamp so
    // both engines cut at the identical double
    "winsorized_stats" ->
      """WITH b AS (SELECT event_type,
        |                  round(quantile_cont(value, 0.05), 6) AS lo,
        |                  round(quantile_cont(value, 0.95), 6) AS hi
        |           FROM events GROUP BY 1)
        |SELECT event_type, count(*) AS n,
        |       round(avg(value), 6) AS raw_mean,
        |       round(avg(least(greatest(value, lo), hi)), 6) AS winsorized_mean,
        |       round(any_value(lo), 6) AS p05,
        |       round(any_value(hi), 6) AS p95
        |FROM events JOIN b USING (event_type)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // zscore_outliers: z rounded to 6 BEFORE the threshold test so
    // both engines compare the identical double (mu/sigma carry
    // partial-order ulps; the raw parquet value does not)
    // zscore_outliers: NULLIF guards the constant-group sigma=0 case
    // identically on both engines (z undefined -> row drops)
    "zscore_outliers" ->
      """WITH st AS (
        |  SELECT event_type, avg(value) AS mu, stddev(value) AS sigma
        |  FROM events GROUP BY 1)
        |SELECT event_id, event_type, round((value - mu) / NULLIF(sigma, 0.0), 6) AS z
        |FROM events JOIN st USING (event_type)
        |WHERE abs(round((value - mu) / NULLIF(sigma, 0.0), 6)) > 3.0
        |ORDER BY event_id""".stripMargin,
    // event_transitions: (µs, event_id) makes sequences total-ordered;
    // probabilities rounded after the division
    "event_transitions" ->
      """WITH o AS (
        |  SELECT user_id, event_type,
        |         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events)
        |SELECT prev, event_type AS next, count(*) AS n,
        |       round(count(*)::DOUBLE / sum(count(*)) OVER (PARTITION BY prev), 6) AS p
        |FROM o WHERE prev IS NOT NULL
        |GROUP BY prev, event_type ORDER BY prev, next""".stripMargin,
    // revenue_pareto: rank/cumsum/total all over the ROUNDED per-nation
    // revenue — identical doubles in identical order on both engines
    "revenue_pareto" ->
      """WITH bn AS (
        |  SELECT c_nationkey, round(sum(o_totalprice), 2) AS revenue
        |  FROM customer JOIN orders ON c_custkey = o_custkey GROUP BY 1),
        |t AS (SELECT sum(revenue) AS total FROM bn)
        |SELECT c_nationkey, revenue,
        |       CAST(rank() OVER (ORDER BY revenue DESC, c_nationkey) AS INT) AS rk,
        |       round(sum(revenue) OVER (ORDER BY revenue DESC, c_nationkey
        |                                ROWS UNBOUNDED PRECEDING) / total, 6) AS cum_share
        |FROM bn, t ORDER BY rk""".stripMargin,
    // moving_median_7d: daily sums rounded BEFORE the window so the
    // holistic percentile interpolates identical doubles both engines
    "moving_median_7d" ->
      """WITH daily AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |         round(sum(value), 6) AS rev
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, day,
        |       CAST(count(*) OVER w AS INT) AS n_days,
        |       round(quantile_cont(rev, 0.5) OVER w, 6) AS med_rev
        |FROM daily
        |WINDOW w AS (PARTITION BY event_type ORDER BY day
        |             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
        |ORDER BY event_type, day""".stripMargin,
    // ewma_daily_revenue: DuckDB's list_reduce seeds with the first
    // element — exactly the Spark fold's NaN-seed semantics; (1.0-0.3)
    // is spelled as the subtraction so both engines use the identical
    // double (the 0.7 literal is one ulp away)
    "ewma_daily_revenue" ->
      """WITH daily AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |         round(sum(value), 6) AS rev
        |  FROM events GROUP BY 1, 2),
        |ser AS (SELECT event_type, list(rev ORDER BY day) AS l FROM daily GROUP BY 1)
        |SELECT event_type, CAST(len(l) AS INT) AS n_days,
        |       round(list_reduce(l, (a, x) -> 0.3 * x + (1.0 - 0.3) * a), 6) AS ewma
        |FROM ser ORDER BY event_type""".stripMargin,
    // resample_ffill: hourly sums are rounded BEFORE the forward
    // fill in both engines, so carried values are bit-identical; the
    // first spine hour always has data (bounds come from the
    // aggregate), so no leading null
    "resample_ffill" ->
      """WITH hourly AS (
        |  SELECT epoch_us(ts) // 3600000000 AS h, count(*) AS n, round(sum(value), 6) AS sv
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |bounds AS (SELECT min(h) AS mn, max(h) AS mx FROM hourly),
        |spine AS (SELECT unnest(range(mn, mx + 1)) AS h FROM bounds)
        |SELECT s.h, coalesce(n, 0) AS n,
        |       last_value(sv IGNORE NULLS)
        |         OVER (ORDER BY s.h ROWS UNBOUNDED PRECEDING) AS sum_filled
        |FROM spine s LEFT JOIN hourly ON hourly.h = s.h
        |ORDER BY s.h""".stripMargin,
    "unpivot_segment_metrics" ->
      """WITH wide AS (
        |  SELECT c_mktsegment,
        |         count(*)::DOUBLE AS n,
        |         round(avg(c_acctbal), 6) AS avg_bal,
        |         max(c_acctbal)::DOUBLE AS max_bal
        |  FROM customer GROUP BY c_mktsegment)
        |SELECT c_mktsegment, metric, value FROM (
        |  SELECT c_mktsegment, 'n' AS metric, n AS value FROM wide
        |  UNION ALL SELECT c_mktsegment, 'avg_bal', avg_bal FROM wide
        |  UNION ALL SELECT c_mktsegment, 'max_bal', max_bal FROM wide)
        |ORDER BY c_mktsegment, metric""".stripMargin,
    // hash_split: content-addressed 80/10/10 split — the polyhash
    // list_reduce is the shared cross-engine hash (same fold as
    // doc_fingerprint), so split membership itself is hash-verified
    "hash_split" ->
      """WITH b AS (SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens,
        |  list_reduce(list_prepend(0::BIGINT, list_transform(range(1, length(text)+1),
        |    i -> ascii(substring(text,i,1))::BIGINT)), (a,c) -> (a*31+c) % 1000000007)
        |    % 100 AS bucket
        |  FROM documents)
        |SELECT CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val'
        |            ELSE 'test' END AS split,
        |       count(*) AS n_docs, count(DISTINCT lang) AS n_langs,
        |       round(avg(n_tokens::DOUBLE), 6) AS avg_tokens,
        |       min(doc_id) AS min_doc, max(doc_id) AS max_doc
        |FROM b GROUP BY split ORDER BY split""".stripMargin,
    // bm25_retrieval: k1=1.2 b=0.75 over the fixed query bag
    // ('spark','vector','stream'); final order on the rounded score
    "bm25_retrieval" ->
      """WITH docs AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |dl AS (SELECT doc_id, len(tk) AS dl FROM docs),
        |stats AS (SELECT count(*) AS n, avg(dl::DOUBLE) AS avgdl FROM dl),
        |qp AS (SELECT doc_id, term FROM
        |        (SELECT doc_id, unnest(tk) AS term FROM docs)
        |       WHERE term IN ('spark', 'vector', 'stream')),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM qp GROUP BY 1, 2),
        |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM qp GROUP BY 1)
        |SELECT doc_id, round(sum(contrib), 6) AS bm25,
        |       CAST(count(*) AS INT) AS n_matched_terms
        |FROM (SELECT tf.doc_id,
        |        ln(1.0 + (n - df + 0.5) / (df + 0.5)) *
        |          (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) AS contrib
        |      FROM tf JOIN df USING (term)
        |      JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN stats)
        |GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin,
    "lang_id" ->
      """WITH tok AS (SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents),
        |cnt AS (SELECT lang, token, count(*) AS c FROM tok GROUP BY 1, 2),
        |prof AS (SELECT lang AS plang, token FROM (
        |  SELECT lang, token,
        |         row_number() OVER (PARTITION BY lang ORDER BY c DESC, token) AS rn
        |  FROM cnt) WHERE rn <= 10),
        |dtok AS (SELECT doc_id, lang,
        |                unnest(list_distinct(string_split(text, ' '))) AS token FROM documents),
        |hits AS (SELECT doc_id, lang, plang, count(*) AS overlap
        |         FROM dtok JOIN prof USING (token) GROUP BY 1, 2, 3)
        |SELECT doc_id, lang, plang AS predicted FROM (
        |  SELECT doc_id, lang, plang,
        |         row_number() OVER (PARTITION BY doc_id ORDER BY overlap DESC, plang) AS rn
        |  FROM hits) WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    // lang_id_confusion: the same classifier, matrixed — declared ×
    // predicted counts, all-integer
    "lang_id_confusion" ->
      """WITH tok AS (SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents),
        |cnt AS (SELECT lang, token, count(*) AS c FROM tok GROUP BY 1, 2),
        |prof AS (SELECT lang AS plang, token FROM (
        |  SELECT lang, token,
        |         row_number() OVER (PARTITION BY lang ORDER BY c DESC, token) AS rn
        |  FROM cnt) WHERE rn <= 10),
        |dtok AS (SELECT doc_id, lang,
        |                unnest(list_distinct(string_split(text, ' '))) AS token FROM documents),
        |hits AS (SELECT doc_id, lang, plang, count(*) AS overlap
        |         FROM dtok JOIN prof USING (token) GROUP BY 1, 2, 3),
        |pred AS (SELECT doc_id, lang, plang AS predicted FROM (
        |  SELECT doc_id, lang, plang,
        |         row_number() OVER (PARTITION BY doc_id ORDER BY overlap DESC, plang) AS rn
        |  FROM hits) WHERE rn = 1)
        |SELECT lang, predicted, count(*) AS n_docs
        |FROM pred GROUP BY 1, 2 ORDER BY lang, predicted""".stripMargin,
    // cjk_fingerprint: code-point polyhash over mixed CJK/ASCII text —
    // ascii(substring) is codePointAt in both engines, so this oracle
    // pins multi-byte hash agreement cross-engine
    "cjk_fingerprint" ->
      """WITH t AS (SELECT doc_id, '文档«' || lang || '»共情¶ ' || text AS s, text
        |           FROM documents)
        |SELECT doc_id,
        |  list_reduce(list_prepend(0::BIGINT, list_transform(range(1, length(s)+1),
        |    i -> ascii(substring(s,i,1))::BIGINT)), (a,c) -> (a*31+c) % 1000000007) AS cjk_fp,
        |  list_reduce(list_prepend(0::BIGINT, list_transform(range(1, length(text)+1),
        |    i -> ascii(substring(text,i,1))::BIGINT)), (a,c) -> (a*31+c) % 1000000007) AS ascii_fp
        |FROM t ORDER BY doc_id""".stripMargin,
    "doc_fingerprint" ->
      """WITH t2 AS (SELECT doc_id, text, list_transform(string_split(text, ' '), t ->
        |        list_reduce(list_prepend(0::BIGINT,
        |          list_transform(range(1, length(t)+1), i -> ascii(substring(t,i,1))::BIGINT)),
        |          (a,c) -> (a*31+c) % 1000000007)) AS th FROM documents)
        |SELECT doc_id,
        |  list_reduce(list_prepend(0::BIGINT, list_transform(range(1, length(text)+1),
        |    i -> ascii(substring(text,i,1))::BIGINT)), (a,c) -> (a*31+c) % 1000000007) AS content_fp,
        |  list_aggregate(list_transform(range(1, len(th)-1),
        |    i -> (((th[i]*37 + th[i+1]) % 1000000007) * 37 + th[i+2]) % 1000000007),
        |    'min') AS min_fp
        |FROM t2 ORDER BY doc_id""".stripMargin,
    // dsir_select: DSIR importance selection (Xie et al. 2023) — two
    // Laplace-smoothed unigram models (target slice vs raw pool), per
    // raw doc Σ ln(p_target/p_raw), deterministic top-50 with rank on
    // the ROUNDED score + doc_id tiebreak
    "dsir_select" ->
      """WITH tok AS (
        |  SELECT doc_id, source, unnest(list_filter(
        |    string_split(text, ' '), x -> x <> '')) AS w
        |  FROM documents),
        |cnt AS (
        |  SELECT w,
        |    sum(CASE WHEN source IN ('src0','src1','src2','src3')
        |             THEN 1 ELSE 0 END) AS ct,
        |    sum(CASE WHEN source IN ('src0','src1','src2','src3')
        |             THEN 0 ELSE 1 END) AS cr
        |  FROM tok GROUP BY w),
        |tot AS (SELECT count(*) AS v, sum(ct) AS tt, sum(cr) AS rt FROM cnt),
        |ratio AS (
        |  SELECT w, ln((ct + 1.0) / (tt + v)) - ln((cr + 1.0) / (rt + v)) AS lr
        |  FROM cnt, tot),
        |score AS (
        |  SELECT t.doc_id, round(sum(r.lr), 6) AS dsir_score
        |  FROM tok t JOIN ratio r USING (w)
        |  WHERE t.source NOT IN ('src0','src1','src2','src3')
        |  GROUP BY t.doc_id)
        |SELECT doc_id, dsir_score,
        |       CAST(row_number() OVER (ORDER BY dsir_score DESC, doc_id)
        |            AS BIGINT) AS rk
        |FROM score
        |QUALIFY rk <= 50
        |ORDER BY rk""".stripMargin,
    // gopher_repetition: MassiveText repetition filters — duplicate
    // word fraction + top-bigram share with the 0.2 keep/drop flag
    "gopher_repetition" ->
      """WITH base AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
        |  FROM documents),
        |words AS (SELECT doc_id, unnest(w) AS word FROM base),
        |wstats AS (
        |  SELECT doc_id, count(*) AS n_words, count(DISTINCT word) AS n_distinct
        |  FROM words GROUP BY doc_id),
        |bg AS (
        |  SELECT doc_id, unnest(list_filter(
        |    list_transform(list_zip(w, w[2:]), p -> p[1] || ' ' || p[2]),
        |    x -> x IS NOT NULL)) AS bigram
        |  FROM base),
        |bgc AS (SELECT doc_id, bigram, count(*) AS c FROM bg GROUP BY doc_id, bigram),
        |bstats AS (SELECT doc_id, max(c) AS top_c, sum(c) AS tot_c FROM bgc GROUP BY doc_id)
        |SELECT w.doc_id,
        |       CAST(w.n_words AS BIGINT) AS n_words,
        |       round(1.0 - CAST(n_distinct AS DOUBLE) / n_words, 6) AS dup_word_frac,
        |       round(coalesce(CAST(top_c AS DOUBLE) / tot_c, 0.0), 6) AS top_bigram_share,
        |       coalesce(CAST(top_c AS DOUBLE) / tot_c, 0.0) > 0.2 AS repetitive
        |FROM wstats w LEFT JOIN bstats b ON w.doc_id = b.doc_id
        |ORDER BY w.doc_id""".stripMargin,
    "bpe_token_stats" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS INT) AS n_ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INT) AS n_bpe_tokens,
        |  CAST(len(list_distinct(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS INT)
        |    AS n_uniq_bpe
        |FROM documents ORDER BY doc_id""".stripMargin,
    // bpe_train_merges: 3 rounds of Sennrich BPE merge induction over
    // the word vocabulary — the oracle UNROLLS the identical rounds as
    // CTE chains (pair count → best pair by (n DESC, left, right) →
    // greedy-leftmost application via island alternation → retokenize)
    "bpe_train_merges" ->
      (BpeCtesSql + """
        |SELECT * FROM (
        |  SELECT 1 AS iter, l AS merge_left, r AS merge_right, n AS pair_n FROM b1
        |  UNION ALL SELECT 2, l, r, n FROM b2
        |  UNION ALL SELECT 3, l, r, n FROM b3)
        |ORDER BY iter""".stripMargin),
    // bpe_encode: the corpus subword histogram after the 3 learned
    // merges — the weighted token aggregate over t3, the vocabulary
    // state the unrolled rounds leave after merge 3 is applied
    "bpe_encode" ->
      (BpeCtesSql + """
        |SELECT tok, sum(cnt)::BIGINT AS n FROM t3
        |GROUP BY tok ORDER BY n DESC, tok LIMIT 20""".stripMargin),
    "lang_id_ngram" ->
      """WITH g AS (SELECT doc_id, lang,
        |                  list_transform(range(1, length(text)-1),
        |                                 i -> substring(text, i, 3)) AS grams
        |           FROM documents),
        |tok AS (SELECT lang, unnest(grams) AS g FROM g),
        |cnt AS (SELECT lang, g, count(*) AS c FROM tok GROUP BY 1, 2),
        |prof AS (SELECT lang AS plang, g FROM (
        |  SELECT lang, g, row_number() OVER (PARTITION BY lang ORDER BY c DESC, g) AS rn
        |  FROM cnt) WHERE rn <= 10),
        |dtok AS (SELECT doc_id, lang, unnest(list_distinct(grams)) AS g FROM g),
        |hits AS (SELECT doc_id, lang, plang, count(*) AS overlap
        |         FROM dtok JOIN prof USING (g) GROUP BY 1, 2, 3)
        |SELECT doc_id, lang, plang AS predicted FROM (
        |  SELECT doc_id, lang, plang,
        |         row_number() OVER (PARTITION BY doc_id ORDER BY overlap DESC, plang) AS rn
        |  FROM hits) WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    // Mirrors the Spark LSH bucketing bit-exactly: plane coefficient
    // coef(p,i) = +1 iff ((i*31 + p*17) % 7) % 2 = 0 (Similarity.
    // planeCoef), projection = left-to-right double sum, bucket bit p
    // set iff projection > 0. Candidates are within-bucket pairs only.
    "embedding_near_dup" ->
      """WITH base AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |              FROM embeddings WHERE vec_id < 200),
        |var AS (SELECT vec_id + 1000000 AS vec_id,
        |               list_transform(range(len(v)), i -> v[i+1] * (1 + 0.02*((i % 5) - 2))) AS v
        |        FROM base),
        |corpus AS (SELECT * FROM base UNION ALL SELECT * FROM var),
        |proj AS (SELECT vec_id, p,
        |                list_sum(list_transform(range(len(v)),
        |                  i -> v[i+1] * (CASE WHEN ((i*31 + p*17) % 7) % 2 = 0
        |                                 THEN 1.0 ELSE -1.0 END))) AS pr
        |         FROM corpus, (SELECT unnest(range(8)) AS p)),
        |buck AS (SELECT vec_id,
        |                CAST(sum(CASE WHEN pr > 0 THEN CAST(pow(2, p) AS BIGINT)
        |                          ELSE 0 END) AS BIGINT) AS bucket
        |         FROM proj GROUP BY 1),
        |e AS (SELECT vec_id, unnest(v) AS x, unnest(range(len(v))) AS i FROM corpus),
        |n AS (SELECT vec_id, sqrt(sum(x*x)) AS nrm FROM e GROUP BY 1),
        |d AS (SELECT a.vec_id AS va, b.vec_id AS vb, sum(a.x * b.x) AS dp
        |      FROM e a JOIN e b ON a.i = b.i AND a.vec_id < b.vec_id
        |      JOIN buck ba ON ba.vec_id = a.vec_id
        |      JOIN buck bb ON bb.vec_id = b.vec_id AND ba.bucket = bb.bucket
        |      GROUP BY 1, 2)
        |SELECT va AS vec_a, vb AS vec_b,
        |       round(dp / (na.nrm * nb.nrm), 6) AS cos_sim
        |FROM d JOIN n na ON na.vec_id = va JOIN n nb ON nb.vec_id = vb
        |WHERE round(dp / (na.nrm * nb.nrm), 6) >= 0.9
        |ORDER BY vec_a, vec_b""".stripMargin,
    "video_frame_sample" ->
      """SELECT doc_id, CAST(f AS INT) AS frame_idx,
        |       ((length(text)::BIGINT * 31 + ascii(substring(text, 1, 1))) * 37 + f)
        |         % 1000000007 AS frame_hash
        |FROM documents,
        |     LATERAL (SELECT unnest(range(least(1 + length(text) // 100, 5))) AS f) fr
        |ORDER BY doc_id, frame_idx""".stripMargin,
    "above_avg_customers" ->
      """SELECT c_custkey, c_nationkey, c_acctbal
        |FROM customer c
        |WHERE c_acctbal > (SELECT avg(c2.c_acctbal) FROM customer c2
        |                   WHERE c2.c_nationkey = c.c_nationkey)
        |ORDER BY c_custkey""".stripMargin,
    "multimodal_features" ->
      """SELECT doc_id, 'image/synthetic' AS media_type,
        |  CAST(length(text) AS INT) AS n_bytes,
        |  CAST(64 + length(text) % 576 AS INT) AS width,
        |  CAST(64 + (ascii(substring(text, 1, 1)) * 7) % 448 AS INT) AS height,
        |  CAST(1 AS INT) AS n_frames
        |FROM documents ORDER BY doc_id""".stripMargin,
    // --- reference ETL parity ---
    "etl_verl_rows" ->
      """WITH turns AS (
        |  SELECT user_id AS dia_id, event_id AS turn_id, pos,
        |         CASE WHEN pos = 1 THEN
        |           CASE event_id % 4 WHEN 0 THEN 'speaker' WHEN 1 THEN 'listener'
        |                WHEN 2 THEN 'speaker_primary' ELSE 'observer' END
        |         ELSE CASE WHEN event_id % 2 = 0 THEN 'speaker_alt' ELSE 'listener_alt' END
        |         END AS role,
        |         CASE WHEN pos = 1 THEN
        |           CASE WHEN event_id % 13 = 0 THEN '   ' ELSE event_type END
        |         ELSE 'alt_' || event_type END AS text
        |  FROM events, (SELECT unnest([1, 2]) AS pos) p
        |),
        |firsts AS (
        |  SELECT dia_id, turn_id,
        |    (list(text ORDER BY pos) FILTER (WHERE lower(role) LIKE 'speaker%'))[1] AS user_text,
        |    (list(text ORDER BY pos) FILTER (WHERE lower(role) LIKE 'listener%'))[1] AS asst_text
        |  FROM turns GROUP BY 1, 2
        |),
        |scripts AS (
        |  SELECT dia_id, count(*) AS rounds,
        |    coalesce(list(trim(user_text) ORDER BY turn_id)
        |      FILTER (WHERE user_text IS NOT NULL AND length(trim(user_text)) > 0), []) AS user_script,
        |    coalesce(list(trim(asst_text) ORDER BY turn_id)
        |      FILTER (WHERE asst_text IS NOT NULL AND length(trim(asst_text)) > 0), []) AS asst_script
        |  FROM firsts GROUP BY 1
        |)
        |SELECT dia_id, 'EmpDia_Iceberg' AS data_source, 'empathy_dialogue' AS ability,
        |  CAST(rounds AS INT) AS rounds,
        |  CAST(len(user_script) AS INT) AS n_user_turns,
        |  CAST(len(asst_script) AS INT) AS n_asst_turns,
        |  array_to_string(user_script, '|') AS user_script_str,
        |  array_to_string(asst_script, '|') AS asst_script_str,
        |  user_script[1] AS prompt_user
        |FROM scripts ORDER BY dia_id""".stripMargin,
    "etl_positional_split" ->
      """SELECT dia_id,
        |       CASE WHEN rn <= (7*cnt + 9) // 10 THEN 'train' ELSE 'test' END AS split
        |FROM (
        |  SELECT dia_id, row_number() OVER (ORDER BY dia_id) AS rn, count(*) OVER () AS cnt
        |  FROM (SELECT DISTINCT user_id AS dia_id FROM events)
        |) ORDER BY dia_id""".stripMargin,
    "role_swap_messages" ->
      """WITH m AS (
        |  SELECT user_id AS dia_id,
        |         list(CASE WHEN event_id % 2 = 0 THEN 'user' ELSE 'assistant' END
        |              ORDER BY event_id) AS roles
        |  FROM events GROUP BY 1
        |),
        |s AS (
        |  SELECT dia_id, roles,
        |    list_transform(roles, r -> CASE r WHEN 'user' THEN 'assistant'
        |                                      WHEN 'assistant' THEN 'user' ELSE r END) AS sw
        |  FROM m
        |)
        |SELECT dia_id, CAST(len(roles) AS INT) AS n_msgs,
        |  array_to_string(roles, '|') AS roles_str,
        |  array_to_string(CASE WHEN sw[-1] != 'user' THEN list_append(sw, 'user') ELSE sw END,
        |                  '|') AS swapped_roles_str,
        |  sw[-1] != 'user' AS appended
        |FROM s ORDER BY dia_id""".stripMargin,
    "softmax_classify" ->
      """WITH l AS (SELECT vec_id,
        |                  list_transform(embedding[1:5], x -> CAST(x AS DOUBLE)) AS lg
        |           FROM embeddings)
        |SELECT vec_id,
        |  CAST(list_position(lg, list_aggregate(lg, 'max')) AS INT) AS pred_layer,
        |  round(1.0 / list_sum(list_transform(lg, x -> exp(x - list_aggregate(lg, 'max')))), 6)
        |    AS confidence
        |FROM l ORDER BY vec_id""".stripMargin,
    "zip_scripts" ->
      """WITH turns AS (
        |  SELECT user_id AS dia_id, event_id AS turn_id, pos,
        |         CASE WHEN pos = 1 THEN
        |           CASE event_id % 4 WHEN 0 THEN 'speaker' WHEN 1 THEN 'listener'
        |                WHEN 2 THEN 'speaker_primary' ELSE 'observer' END
        |         ELSE CASE WHEN event_id % 2 = 0 THEN 'speaker_alt' ELSE 'listener_alt' END
        |         END AS role,
        |         CASE WHEN pos = 1 THEN
        |           CASE WHEN event_id % 13 = 0 THEN '   ' ELSE event_type END
        |         ELSE 'alt_' || event_type END AS text
        |  FROM events, (SELECT unnest([1, 2]) AS pos) p
        |),
        |firsts AS (
        |  SELECT dia_id, turn_id,
        |    (list(text ORDER BY pos) FILTER (WHERE lower(role) LIKE 'speaker%'))[1] AS user_text,
        |    (list(text ORDER BY pos) FILTER (WHERE lower(role) LIKE 'listener%'))[1] AS asst_text
        |  FROM turns GROUP BY 1, 2
        |),
        |scripts AS (
        |  SELECT dia_id,
        |    coalesce(list(trim(user_text) ORDER BY turn_id)
        |      FILTER (WHERE user_text IS NOT NULL AND length(trim(user_text)) > 0), []) AS user_script,
        |    coalesce(list(trim(asst_text) ORDER BY turn_id)
        |      FILTER (WHERE asst_text IS NOT NULL AND length(trim(asst_text)) > 0), []) AS asst_script
        |  FROM firsts GROUP BY 1
        |),
        |u AS (SELECT dia_id, unnest(user_script) AS user_text,
        |             unnest(range(1, len(user_script)+1)) AS pos FROM scripts),
        |a AS (SELECT dia_id, unnest(asst_script) AS asst_text,
        |             unnest(range(1, len(asst_script)+1)) AS pos FROM scripts)
        |SELECT dia_id, CAST(pos AS INT) AS pos, user_text, asst_text
        |FROM u FULL OUTER JOIN a USING (dia_id, pos)
        |ORDER BY dia_id, pos""".stripMargin,
    "rank_family" ->
      """SELECT c_mktsegment, c_custkey, c_acctbal,
        |       CAST(rn AS INT) AS rn, CAST(rnk AS INT) AS rnk,
        |       CAST(drnk AS INT) AS drnk, CAST(quartile AS INT) AS quartile
        |FROM (
        |  SELECT c_mktsegment, c_custkey, c_acctbal,
        |         row_number() OVER w AS rn, rank() OVER w AS rnk,
        |         dense_rank() OVER w AS drnk, ntile(4) OVER w AS quartile
        |  FROM customer
        |  WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
        |) WHERE rn <= 5 ORDER BY c_mktsegment, rn""".stripMargin,
    "window_value_funcs" ->
      """SELECT o_custkey, o_orderkey,
        |       first_value(o_totalprice) OVER wf AS first_price,
        |       last_value(o_totalprice) OVER wf AS last_price,
        |       nth_value(o_totalprice, 2) OVER wf AS second_price,
        |       coalesce(lag(o_totalprice) OVER w, 0.0) AS prev_price,
        |       coalesce(lead(o_totalprice) OVER w, 0.0) AS next_price,
        |       round(percent_rank() OVER w, 6) AS pr,
        |       round(cume_dist() OVER w, 6) AS cd
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey),
        |       wf AS (PARTITION BY o_custkey ORDER BY o_orderkey
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_orderkey""".stripMargin,
    "union_entities" ->
      """SELECT kind, count(*) AS n, min(name) AS first_name FROM (
        |  SELECT c_name AS name, 'customer' AS kind FROM customer
        |  UNION ALL
        |  SELECT s_name AS name, 'supplier' AS kind FROM supplier
        |) GROUP BY kind ORDER BY kind""".stripMargin,
    // --- streaming semantics, batch-replayed ---
    "session_replay" ->
      """WITH turns AS (
        |  SELECT user_id AS dia_id,
        |         CAST(event_id % 5 + 1 AS INT) AS layer,
        |         CAST(event_id * 7 % 100 AS DOUBLE) / 100.0 AS confidence,
        |         row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS turn
        |  FROM events
        |), lagged AS (
        |  SELECT dia_id, turn, layer,
        |         coalesce(lag(layer) OVER (PARTITION BY dia_id ORDER BY turn), layer) AS last_layer,
        |         confidence
        |  FROM turns
        |), scored AS (
        |  SELECT dia_id, turn, layer,
        |         1.0/(1.0+exp(-8.0*((layer/5.0
        |           + 0.7*greatest(layer-last_layer,0)/5.0
        |           - 0.6*greatest(last_layer-layer,0)/5.0
        |           - 5.0*greatest(layer-(last_layer+1),0)/5.0) * (0.5+0.5*confidence) - 0.5))) AS score
        |  FROM lagged
        |), flagged AS (
        |  SELECT dia_id, turn, layer, score,
        |         CASE WHEN turn >= 20 THEN 'max_turns'
        |              WHEN count(*) OVER w6 = 6
        |                   AND min(layer) OVER w6 = max(layer) OVER w6 THEN 'no_progress_6'
        |              WHEN count(*) OVER w5 = 5 AND min(layer) OVER w5 = 5 THEN 'perception_5'
        |         END AS reason
        |  FROM scored
        |  WINDOW w6 AS (PARTITION BY dia_id ORDER BY turn ROWS BETWEEN 5 PRECEDING AND CURRENT ROW),
        |         w5 AS (PARTITION BY dia_id ORDER BY turn ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
        |), firstterm AS (
        |  SELECT dia_id, min(turn) AS t_end FROM flagged WHERE reason IS NOT NULL GROUP BY dia_id
        |), emitted AS (
        |  SELECT f.dia_id, f.turn, f.layer, f.score, f.reason, ft.t_end
        |  FROM flagged f LEFT JOIN firstterm ft USING (dia_id)
        |  WHERE ft.t_end IS NULL OR f.turn <= ft.t_end
        |)
        |SELECT dia_id,
        |  CAST(count(*) AS INT) AS n_turns,
        |  CAST(max(turn) AS INT) AS end_turn,
        |  max(CASE WHEN turn = t_end THEN reason END) AS terminate_reason,
        |  max(layer) AS deepest_layer,
        |  round(avg(score), 6) AS mean_score
        |FROM emitted GROUP BY dia_id ORDER BY dia_id""".stripMargin,
    "tumbling_hourly" ->
      """SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
        |       event_type, count(*) AS n, round(sum(value), 6) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // tumbling_hourly_stream: SAME oracle as tumbling_hourly — the
    // query executes through a real Structured Streaming run
    // (file-source micro-batches + complete-mode state + foreachBatch
    // sink), so streaming execution itself sits under the hash gate
    // tumbling_late_drop: append-mode watermarking — only windows
    // closed by the final watermark (max ts − 30 min) are emitted,
    // and the engineered stragglers (every 5th event of a closed
    // window, delivered in a later micro-batch) are DROPPED; the
    // oracle aggregates exactly that in-horizon subset
    "tumbling_late_drop" ->
      """WITH wm AS (SELECT max(ts) - INTERVAL 30 MINUTE AS w FROM events)
        |SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
        |       event_type, count(*) AS n, round(sum(value), 6) AS sum_value
        |FROM events, wm
        |WHERE time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' <= wm.w
        |  AND event_id % 5 != 0
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "tumbling_hourly_stream" ->
      """SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
        |       event_type, count(*) AS n, round(sum(value), 6) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "sliding_hourly_30m" ->
      """WITH w AS (
        |  SELECT value,
        |         unnest([time_bucket(INTERVAL '30 minutes', ts),
        |                 time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes']) AS w_start
        |  FROM events)
        |SELECT strftime(w_start, '%Y-%m-%d %H:%M:%S') AS window_start, count(*) AS n,
        |       round(sum(value), 6) AS sum_value
        |FROM w GROUP BY 1 ORDER BY 1""".stripMargin,
    "session_windows_30m" ->
      """WITH o AS (
        |  SELECT user_id, ts, value, event_id,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |              OR ts - lag(ts) OVER w >= INTERVAL '30 minutes' THEN 1 ELSE 0 END AS brk
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), s AS (
        |  SELECT user_id, ts, value,
        |         sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                        ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM o)
        |SELECT user_id,
        |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |  strftime(max(ts) + INTERVAL '30 minutes', '%Y-%m-%d %H:%M:%S') AS session_end,
        |  count(*) AS n_events, round(sum(value), 6) AS sum_value
        |FROM s GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin,
    // session_windows_stream: the streaming execution must converge to
    // the SAME final sessions as the batch query — identical oracle
    "session_windows_stream" ->
      """WITH o AS (
        |  SELECT user_id, ts, value, event_id,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |              OR ts - lag(ts) OVER w >= INTERVAL '30 minutes' THEN 1 ELSE 0 END AS brk
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), s AS (
        |  SELECT user_id, ts, value,
        |         sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                        ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM o)
        |SELECT user_id,
        |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |  strftime(max(ts) + INTERVAL '30 minutes', '%Y-%m-%d %H:%M:%S') AS session_end,
        |  count(*) AS n_events, round(sum(value), 6) AS sum_value
        |FROM s GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin,
    // stream_interval_join: a real stream-stream interval join (views
    // x purchases within 1h, both sides streaming); inner joins emit
    // each pair exactly once across micro-batches, so the accumulated
    // union equals this batch self-join regardless of file batching
    "stream_interval_join" ->
      """WITH v AS (SELECT user_id, ts AS vt FROM events WHERE event_type = 'view'),
        |p AS (SELECT user_id, ts AS pt, value FROM events WHERE event_type = 'purchase')
        |SELECT user_id, count(*) AS n_attrib, round(sum(value), 6) AS attrib_value
        |FROM v JOIN p USING (user_id)
        |WHERE pt >= vt AND pt <= vt + INTERVAL '1 hour'
        |GROUP BY 1 ORDER BY user_id""".stripMargin,
    // stream_outer_join: stream-stream LEFT OUTER interval join —
    // matched pairs emit exactly once across micro-batches; a view
    // that never converted emits once WITH NULLS when the watermark
    // (advanced past the corpus by a provably-last sentinel arrival)
    // evicts its state, so the accumulated union equals this batch
    // LEFT JOIN regardless of file batching
    "stream_outer_join" ->
      """WITH v AS (SELECT user_id, ts AS vt FROM events WHERE event_type = 'view'),
        |p AS (SELECT user_id AS p_user, ts AS pt, value
        |      FROM events WHERE event_type = 'purchase')
        |SELECT user_id, count(*) AS n_rows,
        |       CAST(sum(CASE WHEN pt IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_unmatched,
        |       round(sum(CASE WHEN pt IS NULL THEN NULL ELSE value END), 6)
        |         AS matched_value
        |FROM v LEFT JOIN p
        |  ON p_user = user_id AND pt >= vt AND pt <= vt + INTERVAL '1 hour'
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    // stream_right_outer_join: the purchase-side mirror — purchases
    // no view preceded emit once with the view side nulled (purchase
    // windows close at watermark > pt, same sentinel drain)
    "stream_right_outer_join" ->
      """WITH v AS (SELECT user_id AS v_user, ts AS vt
        |      FROM events WHERE event_type = 'view'),
        |p AS (SELECT user_id, ts AS pt, value
        |      FROM events WHERE event_type = 'purchase')
        |SELECT user_id, count(*) AS n_rows,
        |       CAST(sum(CASE WHEN vt IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_unmatched_purchases,
        |       round(sum(CASE WHEN vt IS NULL THEN NULL ELSE value END), 6)
        |         AS matched_value
        |FROM v RIGHT JOIN p
        |  ON v_user = user_id AND pt >= vt AND pt <= vt + INTERVAL '1 hour'
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    // stream_full_outer_join: both sides' misses surface — views that
    // never converted AND purchases no view preceded each emit exactly
    // once with the other side nulled; the same sentinel jump drains
    // both state stores (purchase windows close at watermark > pt)
    "stream_full_outer_join" ->
      """WITH v AS (SELECT user_id AS v_user, ts AS vt
        |      FROM events WHERE event_type = 'view'),
        |p AS (SELECT user_id AS p_user, ts AS pt, value
        |      FROM events WHERE event_type = 'purchase')
        |SELECT COALESCE(v_user, p_user) AS user_id,
        |       count(*) AS n_rows,
        |       CAST(sum(CASE WHEN pt IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_unmatched_views,
        |       CAST(sum(CASE WHEN vt IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_unmatched_purchases,
        |       round(sum(CASE WHEN vt IS NOT NULL AND pt IS NOT NULL
        |                      THEN value END), 6) AS matched_value
        |FROM v FULL JOIN p
        |  ON p_user = v_user AND pt >= vt AND pt <= vt + INTERVAL '1 hour'
        |GROUP BY 1 ORDER BY user_id""".stripMargin,
    // stream_semi_join: a view emits its own columns exactly once the
    // first time a purchase lands in its hour — never-matched views
    // never emit, so the accumulated union equals this batch EXISTS
    "stream_semi_join" ->
      """WITH v AS (SELECT user_id, ts AS vt FROM events WHERE event_type = 'view'),
        |p AS (SELECT user_id AS p_user, ts AS pt
        |      FROM events WHERE event_type = 'purchase')
        |SELECT user_id, count(*) AS n_converted
        |FROM v
        |WHERE EXISTS (SELECT 1 FROM p WHERE p_user = user_id
        |              AND pt >= vt AND pt <= vt + INTERVAL '1 hour')
        |GROUP BY 1 ORDER BY user_id""".stripMargin,
  )
}
