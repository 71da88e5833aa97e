package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit}
import graft.Det.moneySum
import graft.ops._

/** Driver contract — see /root/repo/SURVEY.md §2 (the operator inventory
  * whose query keys appear here) and §7.
  *
  * Every key in `queries` has a DuckDB twin in `oracleSql`; both obey the
  * determinism rules of SURVEY.md §2.1 (decimal money sums, round-6 stats,
  * total-order tiebreaks, UTC). Aliases match exactly — the driver sorts
  * columns by name before hashing.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.pricingSummary(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2 D aggregations
    "q_agg_pricing_summary" -> Relational.pricingSummary,
    "q_agg_distinct" -> Relational.aggDistinct,
    "q_agg_multi_distinct" -> Relational.aggMultiDistinct,
    "q_agg_rollup" -> Relational.aggRollup,
    "q_agg_cube" -> Relational.aggCube,
    "q_agg_grouping_sets" -> Relational.aggGroupingSets,
    "q_agg_stats" -> Relational.aggStats,
    "q_agg_percentile" -> Relational.aggPercentile,
    "q_agg_percentile_disc" -> Relational.aggPercentileDisc,
    "q_distinct_on" -> Relational.distinctOn,
    "q_agg_collect" -> Relational.aggCollect,
    "q_pivot" -> Relational.pivotStatus,
    "q_string_agg" -> Relational.stringAgg,
    "q_unpivot" -> Relational.unpivotMoney,
    "q_histogram" -> Relational.histogram,
    "q_scalar_subquery" -> Relational.scalarSubquery,
    "q_corr_subquery" -> Relational.corrSubquery,
    "q_exists_subquery" -> Relational.existsSubquery,
    "q_lateral_join" -> Relational.lateralJoin,
    "q_recursive_cte" -> Relational.recursiveCte,
    "q_window_time_range" -> Windows.windowTimeRange,
    "q_window_time_range_hours" -> Windows.windowTimeRangeHours,
    "q_bucket_join" -> Scale.bucketJoinQuery,
    "q_runtime_filter" -> Scale.runtimeFilterQuery,
    "q_skew_diag" -> Scale.skewDiagQuery,
    "q_geo_grid" -> Geo.geoGrid,
    // §2 B predicates / projections
    "q_predicates" -> Relational.predicates,
    "q_conditional" -> Relational.conditional,
    // §2 C joins
    "q_join_inner" -> Joins.joinInner,
    "q_join_broadcast" -> Joins.joinBroadcast,
    "q_join_sortmerge" -> Joins.joinSortMerge,
    "q_join_left" -> Joins.joinLeft,
    "q_join_full" -> Joins.joinFull,
    "q_join_semi" -> Joins.joinSemi,
    "q_join_anti" -> Joins.joinAnti,
    "q_join_cross" -> Joins.joinCross,
    "q_join_range" -> Joins.joinRange,
    "q_mjoin_shipping" -> Joins.shippingPriority,
    "q_mjoin_region_volume" -> Joins.regionVolume,
    "q_mjoin_topk_revenue" -> Joins.mjoinTopkRevenue,
    // §2 A scans / sources
    "q_scan_project_filter" -> Etl.scanProjectFilter,
    "q_csv_roundtrip" -> Etl.csvRoundtrip,
    "q_json_roundtrip" -> Etl.jsonRoundtrip,
    "q_json_extract" -> Etl.jsonExtract,
    "q_variant_extract" -> Etl.variantExtract,
    "q_partition_prune" -> Etl.partitionPrune,
    "q_partition_catalog" -> Etl.partitionCatalog,
    "q_orc_roundtrip" -> Etl.orcRoundtrip,
    "q_schema_merge" -> Etl.schemaMerge,
    "q_xml_roundtrip" -> Etl.xmlRoundtrip,
    "q_partition_dpp" -> Etl.partitionDpp,
    // §2 E mutation verbs as dataflow
    "q_upsert_merge" -> Merge.upsertMerge,
    "q_merge_sql" -> Merge.mergeSqlQuery,
    "q_scd2" -> Merge.scd2Query,
    "q_dq_checks" -> Etl.dqChecksQuery,
    "q_dataset_diff" -> Etl.datasetDiffQuery,
    "q_insert_missing" -> Merge.insertMissingQuery,
    "q_delete_keys" -> Merge.deleteKeysQuery,
    // §2 G scalar functions / generators
    "q_string_funcs" -> Functions.stringFuncs,
    "q_date_funcs" -> Functions.dateFuncs,
    "q_math_funcs" -> Functions.mathFuncs,
    "q_array_funcs" -> Functions.arrayFuncs,
    "q_explode" -> Functions.explodeTokens,
    "q_map_funcs" -> Functions.mapFuncs,
    // §2 I LLM-pipeline operators
    "q_dedup_exact" -> Text.dedupExact,
    "q_text_stats" -> Text.textStats,
    "q_tfidf_topterms" -> Text.tfidfTopTerms,
    "q_bpe_pairs" -> Text.bpePairsQuery,
    "q_vocab_growth" -> Text.vocabGrowthQuery,
    "q_keywords_rake" -> Text.keywordsRakeQuery,
    "q_bm25" -> Text.bm25Query,
    "q_sim_cosine_topk" -> Similarity.cosineTopK,
    "q_knn_majority" -> Similarity.knnMajority,
    "q_lang_id" -> Text.langIdQuery,
    "q_quality_score" -> Text.qualityQuery,
    "q_token_count" -> Text.tokenCountQuery,
    "q_doc_fingerprint" -> Text.fingerprintQuery,
    "q_chunk_docs" -> Text.chunkDocsQuery,
    "q_dedup_ngram" -> Text.dedupNgramQuery,
    "q_dedup_prefix" -> Text.dedupPrefixQuery,
    "q_dedup_substring" -> Text.dedupSubstringQuery,
    "q_dedup_substring_winnow" -> Text.dedupSubstringWinnowQuery,
    "q_dedup_lsh_candidates" -> Text.dedupLshQuery,
    "q_dedup_clusters" -> Text.dedupClustersQuery,
    "q_dedup_keep_best" -> Text.dedupKeepBestQuery,
    "q_pagerank" -> Graph.pageRankQuery,
    "q_degree_dist" -> Graph.degreeDistQuery,
    "q_jaccard_neighbors" -> Graph.jaccardNeighborsQuery,
    "q_graph_assortativity" -> Graph.assortativityQuery,
    "q_communities" -> Graph.communitiesQuery,
    "q_user_paths" -> Analytics.userPaths,
    "q_event_regex" -> Analytics.eventRegex,
    "q_time_to_convert" -> Analytics.timeToConvert,
    "q_sql_macro" -> Functions.sqlMacroQuery,
    "q_triangle_count" -> Graph.triangleCountQuery,
    "q_bfs_hops" -> Graph.bfsHopsQuery,
    "q_dedup_minhash" -> Text.dedupMinhashQuery,
    "q_minhash_agg" -> Text.minhashAggQuery,
    "q_bpe_train" -> Text.bpeTrainQuery,
    "q_minhash_calibration" -> Text.minhashCalibrationQuery,
    "q_lsh_recall" -> Text.lshRecallQuery,
    "q_dedup_lsh_rebanded" -> Text.dedupLshRebandedQuery,
    "q_lsh_recall_rebanded" -> Text.lshRecallRebandedQuery,
    "q_dedup_simhash" -> Text.dedupSimhashQuery,
    "q_media_dedup" -> Multimodal.mediaDedupQuery,
    "q_media_meta" -> Multimodal.mediaMetaQuery,
    "q_repetition_ratio" -> Text.repetitionQuery,
    "q_pii_scrub" -> Text.piiScrubQuery,
    "q_table_stats" -> ((s, dir) => Statistics.tableStatsExact(
      graft.io.Sources.customer(s, dir),
      Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"))),
    "q_sim_neardup" -> Similarity.simPairsQuery,
    "q_embed_lsh" -> Similarity.embedLshQuery,
    "q_embed_lsh_recall" -> Similarity.embedLshRecallQuery,
    "q_vector_stats" -> Similarity.vectorStatsQuery,
    "q_embed_quant_int8" -> Similarity.embedQuantQuery,
    "q_cluster_assign" -> Similarity.clusterAssignQuery,
    "q_semantic_dedup" -> Similarity.semanticDedupQuery,
    "q_kmeans" -> Similarity.kmeansQuery,
    "q_ivf_search" -> Ivf.ivfSearchQuery,
    "q_ivf_probe" -> Ivf.ivfProbeQuery,
    "q_ann_recall" -> Ivf.annRecallQuery,
    "q_pq_adc" -> Pq.pqAdcQuery,
    "q_ivf_pq" -> Pq.ivfPqQuery,
    "q_tdigest_exact" -> Quantile.tdigestExactQuery,
    "q_pipeline_corpus" -> Pipeline.pipelineQuery,
    "q_dataset_card" -> Pipeline.datasetCardQuery,
    "q_train_test_split" -> Pipeline.trainTestSplitQuery,
    "q_quality_funnel" -> Pipeline.qualityFunnelQuery,
    "q_score_deciles" -> Pipeline.scoreDecilesQuery,
    "q_pack_tokens" -> Pipeline.packTokensQuery,
    "q_decontaminate" -> Pipeline.decontaminateQuery,
    "q_mixture_weights" -> Pipeline.mixtureWeightsQuery,
    "q_mixture_sample" -> Pipeline.mixtureSampleQuery,
    "q_sim_users" -> Similarity.userSimilarityQuery,
    "q_join_skew" -> Scale.skewJoinQuery,
    "q_text_levenshtein" -> Functions.levenshteinQuery,
    "q_text_jaro" -> Functions.jaroQuery,
    "q_fuzzy_match" -> Functions.fuzzyMatchQuery,
    "q_try_cast" -> Functions.tryCastQuery,
    "q_agg_bitwise" -> Relational.aggBitwise,
    "q_sample_hash" -> ((s: SparkSession, dir: String) =>
      Scale.sampleByMd5(graft.io.Sources.orders(s, dir), "o_orderkey", Seq("0", "1"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), moneySum(col("o_totalprice")).as("sum_price"))
        .orderBy(col("o_orderpriority"))),
    // §2 H event-time processing (batch twins; streaming twins in tests)
    "q_stream_tumbling" -> Streaming.tumbling,
    "q_stream_exec" -> Streaming.streamExec,
    "q_stream_update_exec" -> Streaming.streamUpdateExec,
    "q_stream_tws_exec" -> Streaming.streamTwsExec,
    "q_stream_sliding" -> Streaming.sliding,
    "q_stream_session" -> Streaming.session,
    "q_session_native" -> Streaming.sessionNative,
    "q_stream_session_exec" -> Streaming.streamSessionExec,
    "q_stream_join_exec" -> Streaming.streamJoinExec,
    "q_stream_dedup_exec" -> Streaming.streamDedupExec,
    "q_stream_sliding_exec" -> Streaming.streamSlidingExec,
    "q_stream_asof_exec" -> Streaming.streamAsofExec,
    "q_stream_cdc_exec" -> Streaming.streamCdcExec,
    "q_join_asof" -> Streaming.asofClickSignup,
    "q_join_asof_fwd" -> Streaming.asofForward,
    "q_join_asof_near" -> Streaming.asofNearest,
    "q_join_pit" -> Merge.joinPit,
    "q_incremental_view" -> Merge.incrementalViewQuery,
    "q_join_asof_bucketed" -> Streaming.asofBucketedCatalog,
    "q_join_asof_tol" -> Streaming.asofTolerance,
    "q_join_interval" -> Streaming.intervalJoin,
    "q_retention_cohort" -> Analytics.retentionCohort,
    "q_growth_accounting" -> Analytics.growthAccounting,
    "q_l28_histogram" -> Analytics.l28Histogram,
    "q_dau_mau" -> Analytics.dauMau,
    "q_rfm" -> Analytics.rfm,
    "q_percent_total" -> Relational.percentTotal,
    "q_regex_extract_all" -> Functions.regexExtractAllQuery,
    "q_cohort_ltv" -> Analytics.cohortLtv,
    "q_quantile_bands" -> Relational.quantileBands,
    "q_changepoint" -> Analytics.changepoint,
    "q_psi" -> Stats.psi,
    "q_spearman" -> Stats.spearman,
    "q_mannwhitney" -> Stats.mannWhitney,
    "q_cramers_v" -> Analytics.cramersV,
    "q_runs_test" -> Stats.runsTest,
    "q_cumulative_uniques" -> Analytics.cumulativeUniques,
    "q_attribution" -> Analytics.attribution,
    "q_funnel" -> Analytics.funnel,
    "q_funnel_window" -> Analytics.funnelWindow,
    "q_error_spikes" -> Analytics.errorSpikes,
    "q_retention_curve" -> Analytics.retentionCurve,
    "q_event_bigrams" -> Analytics.eventBigrams,
    "q_sessionize" -> Analytics.sessionize,
    "q_winsorize" -> Analytics.winsorize,
    "q_heavy_hitters" -> Sketch.heavyHittersQuery,
    "q_regression" -> Analytics.regression,
    "q_autocorr" -> Analytics.autocorr,
    "q_chisq" -> Analytics.chisq,
    "q_streaks" -> Analytics.streaks,
    // §2 I time-series verbs (round 8)
    "q_time_weighted_avg" -> Timeseries.timeWeightedAvg,
    "q_ema" -> Timeseries.ema,
    "q_interp_gapfill" -> Timeseries.interpGapfill,
    "q_containment" -> Text.containmentQuery,
    "q_weighted_median" -> Stats.weightedMedian,
    "q_ohlc" -> Timeseries.ohlc,
    "q_locf_gapfill" -> Timeseries.locfGapfill,
    "q_interval_coverage" -> Timeseries.intervalCoverage,
    "q_delta_rank" -> Timeseries.deltaRank,
    // §2 I statistical tests / association mining (round 8)
    "q_ks_test" -> Stats.ksTest,
    "q_ttest" -> Stats.ttest,
    "q_anova" -> Stats.anova,
    "q_kruskal_wallis" -> Stats.kruskalWallis,
    "q_hhi" -> Stats.hhi,
    "q_market_basket" -> Stats.marketBasket,
    "q_zipf_slope" -> Stats.zipfSlope,
    "q_url_canonicalize" -> Text.urlCanonicalizeQuery,
    "q_tokenize_cjk" -> Text.tokenizeCjkQuery,
    "q_text_nfc" -> Functions.textNfcQuery,
    "q_mode" -> Relational.modeQuery,
    "q_window_exclude" -> Windows.windowExclude,
    "q_rolling_median" -> Timeseries.rollingMedian,
    "q_drawdown" -> Timeseries.drawdown,
    "q_seasonal_index" -> Timeseries.seasonalIndex,
    "q_bollinger" -> Timeseries.bollinger,
    "q_wma" -> Timeseries.wma,
    "q_rsi" -> Timeseries.rsi,
    "q_theil_sen" -> Timeseries.theilSen,
    "q_mann_kendall" -> Timeseries.mannKendall,
    "q_rolling_corr" -> Timeseries.rollingCorr,
    "q_peak_concurrency" -> Timeseries.peakConcurrency,
    "q_decompose_daily" -> Timeseries.decomposeDaily,
    "q_burn_rate" -> Timeseries.burnRate,
    "q_cusum" -> Timeseries.cusumQuery,
    "q_rate_shift" -> Stats.rateShift,
    "q_k_anonymity" -> Stats.kAnonymity,
    "q_benford" -> Stats.benford,
    "q_skyline" -> Stats.skyline,
    "q_mad_outliers" -> Stats.madOutliers,
    "q_gini" -> Stats.gini,
    "q_geo_distance" -> Geo.geoDistance,
    "q_geo_join" -> Geo.geoJoin,
    "q_pareto_topn" -> Stats.paretoTopN,
    "q_freshness" -> Stats.freshness,
    "q_source_similarity" -> Stats.sourceSimilarity,
    "q_survival" -> Analytics.survival,
    "q_entropy" -> Text.entropyQuery,
    "q_token_pmi" -> Text.tokenPmiQuery,
    "q_lm_score" -> Text.lmScoreQuery,
    "q_stratified_sample" -> Scale.stratifiedSampleQuery,
    "q_outlier_zscore" -> Analytics.outlierZscore,
    "q_zorder_layout" -> Scale.zorderLayoutQuery,
    "q_agg_filtered" -> Relational.aggFiltered,
    "q_date_spine" -> Relational.dateSpine,
    "q_join_nullsafe" -> Joins.joinNullSafe,
    // §2 F windows / sort / set ops
    "q_window_ntile" -> Windows.windowNtile,
    "q_window_rank" -> Windows.windowRank,
    "q_window_running" -> Windows.windowRunning,
    "q_window_range" -> Windows.windowRange,
    "q_window_lag_lead" -> Windows.windowLagLead,
    "q_window_distinct" -> Windows.windowDistinct,
    "q_window_first_last" -> Windows.windowFirstLast,
    "q_topk_per_group" -> Windows.topkPerGroup,
    "q_sort_limit_topk" -> Windows.sortLimitTopk,
    "q_union_all" -> Windows.unionAll,
    "q_union_distinct" -> Windows.unionDistinct,
    "q_intersect" -> Windows.intersectKeys,
    "q_except" -> Windows.exceptKeys,
    "q_except_all" -> Windows.exceptAllKeys,
    "q_intersect_all" -> Windows.intersectAllKeys,
  )

  /** Keys whose FIRST call does the real work (a streaming execution or
    * the IVM commit chain, through `Session.once`) while every later
    * call re-reads its result: every `_exec` key plus q_incremental_view.
    * Bench publishes their first-call time as `first_run_s`.
    */
  lazy val runOnce: Set[String] =
    queries.keySet.filter(_.endsWith("_exec")) + "q_incremental_view"

  /** Render a Scala word list as a DuckDB list literal — keeps the oracle
    * twins of the stopword-driven queries in lockstep with Text.stopwords
    * (one source of truth for both engines).
    */
  private def sqlList(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString("[", ", ", "]")

  /** q_lang_id oracle: replicates Text.languageId exactly — per-language
    * stopword-hit ratio, argmax with ties to the lexicographically LARGEST
    * language (Spark's array_max over (score, lang) structs ⇒ the CASE
    * tests languages in descending name order with >=).
    */
  private def langIdOracle: String = {
    val langs = graft.ops.Text.stopwords.toSeq.sortBy(_._1)
    val scoreCols = langs.map { case (l, ws) =>
      s"CAST(len(list_intersect(toks, ${sqlList(ws)})) AS DOUBLE)/n AS s_$l"
    }.mkString(",\n    ")
    s"""WITH t AS (
       |  SELECT lang, list_distinct(string_split(lower(text), ' ')) AS toks,
       |         CAST(len(string_split(lower(text), ' ')) AS DOUBLE) AS n
       |  FROM documents),
       |s AS (SELECT lang,
       |    $scoreCols
       |  FROM t)
       |SELECT lang,
       |  CASE WHEN s_zh >= greatest(s_en, s_de, s_es, s_fr) THEN 'zh'
       |       WHEN s_fr >= greatest(s_en, s_de, s_es) THEN 'fr'
       |       WHEN s_es >= greatest(s_en, s_de) THEN 'es'
       |       WHEN s_en >= s_de THEN 'en'
       |       ELSE 'de' END AS lang_pred,
       |  COUNT(*) AS n
       |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  /** Shared CTE body replicating Text.qualityScore term-for-term (same
    * literal weights, same left-to-right double arithmetic) — ends with a
    * `qscore(doc_id, quality)` relation, reused by the quality and
    * pipeline oracles.
    */
  private def qualityCtes: String = {
    val allStops = sqlList(graft.ops.Text.stopwords.values.flatten.toSeq)
    s"""t AS (
       |  SELECT doc_id,
       |    CAST(length(text) AS DOUBLE) AS nchars,
       |    CAST(len(string_split(text, ' ')) AS DOUBLE) AS ntoks,
       |    CAST(length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS DOUBLE) AS punct,
       |    CAST(len(list_intersect(list_distinct(string_split(lower(text), ' ')), $allStops)) AS DOUBLE) AS stop_hits
       |  FROM documents),
       |sc AS (
       |  SELECT doc_id,
       |    CASE WHEN nchars BETWEEN 100 AND 2000 THEN 1.0
       |         WHEN nchars < 100 THEN nchars/100.0
       |         ELSE 2000.0/nchars END AS len_score,
       |    1.0 - least(punct/greatest(ntoks, 1.0), 1.0) AS punct_score,
       |    least(stop_hits/5.0, 1.0) AS stop_score
       |  FROM t),
       |qscore AS (
       |  SELECT doc_id, round(len_score*0.4 + punct_score*0.3 + stop_score*0.3, 6) AS quality
       |  FROM sc)""".stripMargin
  }

  private def qualityOracle: String =
    s"""WITH $qualityCtes
       |SELECT doc_id, quality FROM qscore ORDER BY doc_id""".stripMargin

  /** The RAKE stopword alternation — the SAME Scala value feeds the Spark
    * regex and this oracle, so the two can never drift. */
  private def rakeStops: String = graft.ops.Text.stopwords("en").mkString("|")

  /** q_score_deciles oracle: NTILE(10) over the shared quality CTE —
    * DuckDB's ntile fill rule equals Rank.ntileExact's (the Spark rule). */
  private def scoreDecilesOracle: String =
    s"""WITH $qualityCtes,
       |d AS (SELECT doc_id, quality,
       |        CAST(ntile(10) OVER (ORDER BY quality, doc_id) AS BIGINT) AS decile
       |      FROM qscore)
       |SELECT decile, COUNT(*) AS n_docs, CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id,
       |  MIN(quality) AS q_min, MAX(quality) AS q_max,
       |  round(SUM(quality) / CAST(COUNT(*) AS DOUBLE), 6) AS q_mean
       |FROM d GROUP BY 1 ORDER BY 1""".stripMargin

  /** q_keywords_rake oracle: identical string algebra (lower → collapse →
    * double spaces → mark stopwords → split '|'), exact deg/freq, one
    * IEEE division round-6, row_number top-25. */
  private def keywordsRakeOracle: String =
    s"""WITH ph AS (
       |  SELECT unnest(string_split(
       |    regexp_replace(
       |      regexp_replace(' ' || regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')
       |                     || ' ', ' ', '  ', 'g'),
       |      ' ($rakeStops) ', ' | ', 'g'),
       |    '|')) AS phrase
       |  FROM documents),
       |w AS (SELECT list_filter(string_split_regex(phrase, ' +'),
       |                         x -> len(x) > 0) AS lw
       |      FROM ph),
       |occ AS (SELECT unnest(lw) AS w, CAST(len(lw) AS BIGINT) AS plen
       |        FROM w WHERE len(lw) > 0),
       |sc AS (SELECT w, COUNT(*) AS freq, CAST(SUM(plen) AS BIGINT) AS deg,
       |         round(CAST(SUM(plen) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS score
       |       FROM occ GROUP BY 1)
       |SELECT rk, w, freq, deg, score FROM (
       |  SELECT row_number() OVER (ORDER BY score DESC, w) AS rk,
       |         w, freq, deg, score
       |  FROM sc) z
       |WHERE rk <= 25 ORDER BY rk""".stripMargin

  /** Shared session oracle (q_stream_session AND q_session_native): the
    * portable lag/cumsum sessionization with the >= gap-start boundary —
    * the ground truth both the window-function form and Spark's native
    * session_window must hash-match.
    */
  private def sessionOracle: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
      |d AS (
      |  SELECT user_id, event_id, us,
      |    CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) >= 1800000000
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM e),
      |s AS (
      |  SELECT user_id, us,
      |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
      |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
      |  FROM d)
      |SELECT user_id, MIN(us) AS sess_start_us, MAX(us) AS sess_end_us, COUNT(*) AS n_events
      |FROM s GROUP BY user_id, sess_id ORDER BY user_id, sess_start_us""".stripMargin

  /** q_pipeline_corpus oracle: quality gate → keep-min-per-md5 dedup →
    * exact 3-gram-Jaccard pair drop (id_b of pairs ≥ 0.5, one pass) →
    * per-lang survivor stats. Mirrors Pipeline.pipelineQuery stage order.
    */
  private def pipelineOracle: String =
    s"""WITH $qualityCtes,
       |gated AS (
       |  SELECT d.* FROM documents d JOIN qscore q USING (doc_id) WHERE q.quality >= 0.3),
       |ded AS (
       |  SELECT * FROM gated
       |  WHERE doc_id IN (SELECT min(doc_id) FROM gated GROUP BY md5(text))),
       |tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM ded),
       |sh AS (
       |  SELECT doc_id, unnest(list_distinct(CASE WHEN len(toks) < 3 THEN []
       |    ELSE list_transform(range(1, len(toks)-1), i -> array_to_string(toks[i:i+2], ' ')) END)) AS s
       |  FROM tk),
       |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
       |cm AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
       |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
       |dropids AS (
       |  SELECT DISTINCT id_b AS doc_id
       |  FROM cm JOIN sz x ON x.doc_id = id_a JOIN sz y ON y.doc_id = id_b
       |  WHERE round(CAST(common AS DOUBLE)/(x.sz + y.sz - common), 6) >= 0.5)
       |SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
       |FROM ded WHERE doc_id NOT IN (SELECT doc_id FROM dropids)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q_dedup_minhash oracle: min-md5-substring MinHash, k=8 — component i
    * is min(substr(md5('g:' || shingle), (i%4)*8+1, 8)) with g = i/4 (one
    * md5 yields four 32-bit components — see MinHash.md5Signature); est =
    * matching components / 8. Shingle construction is verbatim the
    * q_dedup_ngram oracle's.
    */
  private def minhashOracle: String = {
    val mins = (0 until 8).map(i =>
      s"min(substr(md5('${i / 4}:'||s), ${(i % 4) * 8 + 1}, 8)) AS m$i").mkString(",\n    ")
    val matches = (0 until 8).map(i => s"CASE WHEN a.m$i = b.m$i THEN 1.0 ELSE 0.0 END").mkString(" + ")
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents WHERE doc_id < 40),
       |sh AS (
       |  SELECT doc_id, unnest(list_distinct(CASE WHEN len(toks) < 3 THEN []
       |    ELSE list_transform(range(1, len(toks)-1), i -> array_to_string(toks[i:i+2], ' ')) END)) AS s
       |  FROM t),
       |sig AS (SELECT doc_id,
       |    $mins
       |  FROM sh GROUP BY 1)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  round(($matches) / 8.0, 6) AS est_j
       |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** Shared CTE prefix of the two embedding-LSH oracles: quantize →
    * md5-nibble plane signs → exact integer dots → 8-bit band values →
    * distinct candidate pairs. Mirrors Similarity.embedLshCandidates
    * step for step (same md5("p:d") strings, same round(x·1e6) BIGINT
    * quantization, same sign-of-dot bits).
    */
  private def embedLshCtes: String =
    """c AS (SELECT vec_id, embedding FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + (SELECT max(vec_id) + 1 FROM embeddings), embedding
      |  FROM embeddings
      |  WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) IN ('0','1','2','3')),
      |e AS (SELECT vec_id,
      |    list_transform(CAST(embedding AS DOUBLE[]), x -> CAST(round(x * 1000000) AS BIGINT)) AS qe
      |  FROM c),
      |pl AS (SELECT p.range AS p, d.range AS d,
      |    CASE WHEN substr(md5(p.range||':'||d.range), 1, 1)
      |           IN ('0','1','2','3','4','5','6','7') THEN 1 ELSE -1 END AS s
      |  FROM range(64) p, range(64) d),
      |dots AS (SELECT e.vec_id, pl.p, SUM(pl.s * e.qe[pl.d + 1]) AS dot
      |  FROM e, pl GROUP BY 1, 2),
      |bands AS (SELECT vec_id, p // 8 AS band_idx,
      |    SUM(CASE WHEN dot >= 0 THEN 1 << (p % 8) ELSE 0 END) AS band_val
      |  FROM dots GROUP BY 1, 2),
      |cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      |  FROM bands a JOIN bands b
      |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
      |   AND a.vec_id < b.vec_id)""".stripMargin

  private def embedLshOracle: String =
    s"""WITH $embedLshCtes
       |SELECT id_a, id_b, sim FROM (
       |  SELECT id_a, id_b,
       |    round(list_cosine_similarity(CAST(x.embedding AS DOUBLE[]),
       |                                 CAST(y.embedding AS DOUBLE[])), 6) AS sim
       |  FROM cand JOIN c x ON x.vec_id = id_a
       |            JOIN c y ON y.vec_id = id_b) t
       |WHERE sim >= 0.8 ORDER BY id_a, id_b""".stripMargin

  private def embedLshRecallOracle: String =
    s"""WITH $embedLshCtes,
       |p AS (SELECT vec_id, embedding FROM c
       |  WHERE CASE WHEN vec_id >= (SELECT max(vec_id) + 1 FROM embeddings)
       |             THEN vec_id - (SELECT max(vec_id) + 1 FROM embeddings)
       |             ELSE vec_id END < 1000),
       |tp AS (SELECT * FROM (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |    round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
       |                                 CAST(b.embedding AS DOUBLE[])), 6) AS sim
       |  FROM p a JOIN p b ON a.vec_id < b.vec_id) z
       |  WHERE sim >= 0.8)
       |SELECT tp.id_a, tp.id_b, tp.sim,
       |  CAST(CASE WHEN cd.id_a IS NULL THEN 0 ELSE 1 END AS BIGINT) AS found
       |FROM tp LEFT JOIN cand cd ON tp.id_a = cd.id_a AND tp.id_b = cd.id_b
       |ORDER BY tp.id_a, tp.id_b""".stripMargin

  /** q_bpe_train oracle: the same 5 unrolled merge rounds — per round,
    * pair census over the evolving word-census symbol sequences, argmax
    * (n desc, pair asc), literal double-space replace, re-canonicalize.
    * Generated by the same loop shape the Spark side runs.
    */
  private def bpeTrainOracle: String = {
    val rounds = 5
    val sb = new StringBuilder
    sb.append(
      """r0 AS (
        |  SELECT array_to_string(string_split(w, ''), ' ') AS s, cnt FROM (
        |    SELECT w, COUNT(*) AS cnt FROM (
        |      SELECT unnest(string_split(text, ' ')) AS w FROM documents) z
        |    WHERE w <> '' GROUP BY 1) wc)""".stripMargin)
    for (r <- 1 to rounds) {
      val prev = s"r${r - 1}"
      sb.append(s""",
        |p$r AS (SELECT pr, CAST(SUM(cnt) AS BIGINT) AS n FROM (
        |  SELECT unnest(list_transform(range(1, len(tk)), i -> tk[i]||' '||tk[i+1])) AS pr, cnt
        |  FROM (SELECT string_split(s, ' ') AS tk, cnt FROM $prev) tt) pp GROUP BY 1),
        |m$r AS (SELECT pr, n FROM p$r ORDER BY n DESC, pr LIMIT 1),
        |r$r AS (SELECT trim(regexp_replace(replace(' '||replace(s, ' ', '  ')||' ',
        |    ' '||(SELECT string_split(pr, ' ')[1] FROM m$r)||'  '||(SELECT string_split(pr, ' ')[2] FROM m$r)||' ',
        |    ' '||(SELECT replace(pr, ' ', '') FROM m$r)||' '), ' +', ' ', 'g')) AS s, cnt FROM $prev)""".stripMargin)
    }
    val sel = (1 to rounds).map(r =>
      s"SELECT $r AS round, string_split(pr, ' ')[1] AS left_tok, " +
        s"string_split(pr, ' ')[2] AS right_tok, replace(pr, ' ', '') AS merged, n FROM m$r")
      .mkString("\nUNION ALL ")
    s"WITH ${sb.result()}\n$sel\nORDER BY round"
  }

  /** q_minhash_agg oracle: per-doc signature components over the FULL
    * corpus — the identical min(substr(md5('g:'||shingle))) arithmetic
    * the Spark side's typed Aggregator computes through the UDAF path.
    */
  private def minhashAggOracle: String = {
    val mins = (0 until 8).map(i =>
      s"min(substr(md5('${i / 4}:'||s), ${(i % 4) * 8 + 1}, 8)) AS m$i").mkString(",\n    ")
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |sh AS (
       |  SELECT doc_id, unnest(list_distinct(CASE WHEN len(toks) < 3 THEN []
       |    ELSE list_transform(range(1, len(toks)-1), i -> array_to_string(toks[i:i+2], ' ')) END)) AS s
       |  FROM t)
       |SELECT doc_id,
       |    $mins
       |FROM sh GROUP BY 1
       |ORDER BY doc_id""".stripMargin
  }

  /** q_minhash_calibration oracle: the q_dedup_minhash estimate LEFT
    * JOINed to the q_dedup_ngram-style exact shingle Jaccard on the same
    * bounded panel; |err| of two already-rounded values is deterministic.
    */
  private def minhashCalibrationOracle: String = {
    val mins = (0 until 8).map(i =>
      s"min(substr(md5('${i / 4}:'||s), ${(i % 4) * 8 + 1}, 8)) AS m$i").mkString(",\n    ")
    val matches = (0 until 8).map(i => s"CASE WHEN a.m$i = b.m$i THEN 1.0 ELSE 0.0 END").mkString(" + ")
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents WHERE doc_id < 40),
       |sh AS (
       |  SELECT doc_id, unnest(list_distinct(CASE WHEN len(toks) < 3 THEN []
       |    ELSE list_transform(range(1, len(toks)-1), i -> array_to_string(toks[i:i+2], ' ')) END)) AS s
       |  FROM t),
       |sig AS (SELECT doc_id,
       |    $mins
       |  FROM sh GROUP BY 1),
       |est AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    round(($matches) / 8.0, 6) AS est_j
       |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id),
       |sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
       |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
       |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
       |ex AS (SELECT i.id_a, i.id_b,
       |    round(CAST(common AS DOUBLE) / (za.sz + zb.sz - common), 6) AS jaccard
       |  FROM inter i JOIN sz za ON i.id_a = za.doc_id
       |  JOIN sz zb ON i.id_b = zb.doc_id)
       |SELECT est.id_a, est.id_b, est_j,
       |  COALESCE(jaccard, 0.0) AS jaccard,
       |  round(abs(est_j - COALESCE(jaccard, 0.0)), 6) AS abs_err
       |FROM est LEFT JOIN ex ON est.id_a = ex.id_a AND est.id_b = ex.id_b
       |WHERE est_j > 0 OR COALESCE(jaccard, 0) > 0
       |ORDER BY est.id_a, est.id_b""".stripMargin
  }

  /** q_dedup_lsh_candidates oracle: the same banded-MinHash candidate
    * generation over the FULL corpus — signature = 8 min-md5-string
    * components (verbatim the q_dedup_minhash construction), 4 bands of 2
    * components each, candidates = docs equal on any band key, est_j =
    * matching components / 8. The banding join is an equi-join in DuckDB
    * exactly as in Spark, so both engines do subquadratic candidate
    * generation — the gate proves the SCALE path end-to-end, not just its
    * quadratic ground truth.
    */
  /** Shared CTE prefix of the two banded-LSH oracles: signatures → bands
    * → candidate pairs → `scored(id_a, id_b, n_bands, est_j)`. Kept as one
    * string so q_dedup_lsh_candidates and q_dedup_clusters stay in
    * lockstep with Text.lshScoredCandidates.
    */
  private def lshScoredCtes: String = lshScoredCtesAt(rows = 2)

  /** rows = 2 → 4 bands × 2 (the candidate-lean default); rows = 1 →
    * 8 bands × 1 (the recall ≈ 1 re-banding). Band keys mirror
    * Text.lshScoredCandidates' concat_ws("|", slice(sig, ...)) exactly.
    */
  private def lshScoredCtesAt(rows: Int): String = {
    val mins = (0 until 8).map(i =>
      s"min(substr(md5('${i / 4}:'||s), ${(i % 4) * 8 + 1}, 8)) AS m$i").mkString(",\n    ")
    val bands = (0 until 8 / rows).map { b =>
      val key = (0 until rows).map(r => s"m${rows * b + r}").mkString("||'|'||")
      s"SELECT doc_id, $b AS band_idx, $key AS band_key FROM sig"
    }.mkString(" UNION ALL\n  ")
    val matches = (0 until 8).map(i => s"CASE WHEN x.m$i = y.m$i THEN 1.0 ELSE 0.0 END").mkString(" + ")
    s"""t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |sh AS (
       |  SELECT doc_id, unnest(list_distinct(CASE WHEN len(toks) < 3 THEN []
       |    ELSE list_transform(range(1, len(toks)-1), i -> array_to_string(toks[i:i+2], ' ')) END)) AS s
       |  FROM t),
       |sig AS (SELECT doc_id,
       |    $mins
       |  FROM sh GROUP BY 1),
       |banded AS (
       |  $bands),
       |cand AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_bands
       |  FROM banded a JOIN banded b
       |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |scored AS (
       |  SELECT id_a, id_b, n_bands,
       |    round(($matches) / 8.0, 6) AS est_j
       |  FROM cand JOIN sig x ON x.doc_id = id_a JOIN sig y ON y.doc_id = id_b)""".stripMargin
  }

  private def lshOracle: String =
    s"""WITH $lshScoredCtes
       |SELECT id_a, id_b, n_bands, est_j FROM scored
       |ORDER BY id_a, id_b""".stripMargin

  private def lshRebandedOracle: String =
    s"""WITH ${lshScoredCtesAt(rows = 1)}
       |SELECT id_a, id_b, n_bands, est_j FROM scored
       |ORDER BY id_a, id_b""".stripMargin

  /** q_lsh_recall oracle: the q_dedup_ngram-style exact ≥0.5 pairs on
    * the bounded panel LEFT JOINed to the full-corpus `scored` LSH
    * candidate frame — the miss set itself is hash-proven.
    */
  private def lshRecallOracle: String = lshRecallOracleAt(rows = 2)
  private def lshRecallRebandedOracle: String = lshRecallOracleAt(rows = 1)

  private def lshRecallOracleAt(rows: Int): String =
    s"""WITH ${lshScoredCtesAt(rows)},
       |pt AS (SELECT doc_id, string_split(text, ' ') AS toks
       |       FROM documents WHERE doc_id < 40),
       |psh AS (
       |  SELECT doc_id, unnest(list_distinct(CASE WHEN len(toks) < 3 THEN []
       |    ELSE list_transform(range(1, len(toks)-1), i -> array_to_string(toks[i:i+2], ' ')) END)) AS s
       |  FROM pt),
       |psz AS (SELECT doc_id, COUNT(*) AS sz FROM psh GROUP BY 1),
       |pinter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
       |  FROM psh a JOIN psh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
       |tp AS (SELECT i.id_a, i.id_b,
       |    round(CAST(common AS DOUBLE) / (za.sz + zb.sz - common), 6) AS jaccard
       |  FROM pinter i JOIN psz za ON i.id_a = za.doc_id
       |  JOIN psz zb ON i.id_b = zb.doc_id
       |  WHERE round(CAST(common AS DOUBLE) / (za.sz + zb.sz - common), 6) >= 0.5)
       |SELECT tp.id_a, tp.id_b, tp.jaccard,
       |  CAST(CASE WHEN s2.id_a IS NULL THEN 0 ELSE 1 END AS BIGINT) AS found
       |FROM tp LEFT JOIN scored s2 ON tp.id_a = s2.id_a AND tp.id_b = s2.id_b
       |ORDER BY tp.id_a, tp.id_b""".stripMargin

  /** q_dedup_clusters oracle: the identical LSH pairs at est_j >= 0.5
    * become symmetric edges; a recursive CTE propagates every reachable
    * node id and MIN(label) per node is the component id — the same
    * fixpoint Graph.connectedComponents reaches by min-label iteration.
    * est_j is a multiple of 1/8, so the 0.5 threshold is exact in both
    * engines.
    */
  private def clustersOracle: String =
    s"""WITH RECURSIVE $lshScoredCtes,
       |edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM scored WHERE est_j >= 0.5
       |  UNION ALL
       |  SELECT id_b AS src, id_a AS dst FROM scored WHERE est_j >= 0.5),
       |reach(id, label) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, r.label FROM edges e JOIN reach r ON r.id = e.dst)
       |SELECT id AS doc_id, MIN(label) AS cluster_id,
       |  CAST(id = MIN(label) AS INT) AS is_canonical
       |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin

  /** q_dedup_keep_best oracle: the q_dedup_clusters recursive components
    * joined to the q_quality_score computation (CTE names prefixed q* —
    * both helper CTE sets define a `t`), argmax by (quality desc, doc_id)
    * per cluster. Quality values are the proven-portable round-6 doubles,
    * so the ordering is a total order in both engines.
    */
  private def keepBestOracle: String = {
    val allStops = sqlList(graft.ops.Text.stopwords.values.flatten.toSeq)
    s"""WITH RECURSIVE $lshScoredCtes,
       |edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM scored WHERE est_j >= 0.5
       |  UNION ALL
       |  SELECT id_b AS src, id_a AS dst FROM scored WHERE est_j >= 0.5),
       |reach(id, label) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, r.label FROM edges e JOIN reach r ON r.id = e.dst),
       |comp AS (SELECT id AS doc_id, MIN(label) AS cluster_id FROM reach GROUP BY id),
       |qt AS (
       |  SELECT doc_id,
       |    CAST(length(text) AS DOUBLE) AS nchars,
       |    CAST(len(string_split(text, ' ')) AS DOUBLE) AS ntoks,
       |    CAST(length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS DOUBLE) AS punct,
       |    CAST(len(list_intersect(list_distinct(string_split(lower(text), ' ')), $allStops)) AS DOUBLE) AS stop_hits
       |  FROM documents),
       |qsc AS (
       |  SELECT doc_id,
       |    CASE WHEN nchars BETWEEN 100 AND 2000 THEN 1.0
       |         WHEN nchars < 100 THEN nchars/100.0
       |         ELSE 2000.0/nchars END AS len_score,
       |    1.0 - least(punct/greatest(ntoks, 1.0), 1.0) AS punct_score,
       |    least(stop_hits/5.0, 1.0) AS stop_score
       |  FROM qt),
       |qq AS (
       |  SELECT doc_id, round(len_score*0.4 + punct_score*0.3 + stop_score*0.3, 6) AS quality
       |  FROM qsc),
       |j AS (
       |  SELECT c.cluster_id, c.doc_id, q.quality,
       |    row_number() OVER (PARTITION BY c.cluster_id ORDER BY q.quality DESC, c.doc_id) AS rn
       |  FROM comp c JOIN qq q USING (doc_id))
       |SELECT cluster_id, COUNT(*) AS n_members,
       |  MIN(CASE WHEN rn = 1 THEN doc_id END) AS keep_doc,
       |  MAX(quality) AS best_quality
       |FROM j GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** q_pagerank oracle: the identical 5 fixed PageRank rounds UNROLLED as
    * chained CTEs (pr0..pr5) — the simplified formulation needs no
    * recursion, no per-round scalar, and runs the same IEEE-double tree
    * as the Spark loop; round-6 on output only absorbs summation-order
    * ulp drift (the q_bm25 pattern).
    */
  private def pagerankOracle: String = {
    val iters = (1 to 5).map { i =>
      // base constant spelled (1.0e0 - 0.85e0), NOT 0.15e0: Spark's side
      // computes lit(1.0 - damping) = 0x1.3333333333334p-3, one ulp OFF
      // the decimal literal 0.15 — the subtraction is the identical IEEE
      // op in both engines, a literal is not
      s"""pr$i AS (
         |  SELECT n.id, (1.0e0 - 0.85e0) + 0.85e0 * coalesce(s.c, 0.0e0) AS r
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS id, sum(p.r / d.outdeg) AS c
         |    FROM pr${i - 1} p JOIN e ON e.src = p.id JOIN deg d ON d.src = p.id
         |    GROUP BY e.dst) s ON s.id = n.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS (
       |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
       |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
       |e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
       |deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
       |nodes AS (SELECT DISTINCT src AS id FROM e),
       |pr0 AS (SELECT id, 1.0e0 AS r FROM nodes),
       |$iters
       |SELECT CASE WHEN id % 2 = 0 THEN 'c' ELSE 's' END AS kind,
       |  CAST(id // 2 AS BIGINT) AS key, round(r, 6) AS pr
       |FROM pr5 ORDER BY kind, key""".stripMargin
  }

  /** q_zorder_layout oracle: the identical Morton interleave as integer
    * bit math — term 2i is bit i of x, term 2i+1 is bit i of y — then the
    * same per-256-wide-range rollup. Shifts/masks/adds agree exactly in
    * both engines.
    */
  private def zorderOracle: String = {
    val terms = (0 until 8).flatMap(i => Seq(
      s"((x >> $i) & 1) * ${1L << (2 * i)}",
      s"((y >> $i) & 1) * ${1L << (2 * i + 1)}"))
    s"""WITH xy AS (SELECT o_custkey % 256 AS x, o_orderkey % 256 AS y FROM orders),
       |z AS (SELECT x, y, ${terms.mkString(" + ")} AS z FROM xy)
       |SELECT z >> 8 AS z_range, COUNT(*) AS n, MIN(z) AS z_min, MAX(z) AS z_max,
       |  MIN(x) AS x_min, MAX(x) AS x_max
       |FROM z GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** q_dedup_simhash oracle: 16-bit SimHash from md5 hex nibbles — bit b
    * = sign of Σ_tokens ±1 per bit (b%4) of hex digit 1+b/4 (nibble via
    * ascii arithmetic), Hamming via bit_count(xor).
    */
  private def simhashOracle: String = {
    val sums = (0 until 16).map { b =>
      val pos = 1 + b / 4; val shift = b % 4
      s"SUM(CASE WHEN ((ascii(substr(h, $pos, 1)) - CASE WHEN ascii(substr(h, $pos, 1)) <= 57 THEN 48 ELSE 87 END) >> $shift) % 2 = 1 THEN 1 ELSE -1 END) AS s$b"
    }.mkString(",\n    ")
    val sig = (0 until 16).map(b => s"CASE WHEN s$b >= 0 THEN ${1L << b} ELSE 0 END").mkString(" + ")
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
       |  FROM documents WHERE doc_id < 40),
       |h AS (SELECT doc_id, md5(tok) AS h FROM tok),
       |sums AS (SELECT doc_id,
       |    $sums
       |  FROM h GROUP BY 1),
       |sig AS (SELECT doc_id, ($sig) AS sig FROM sums)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
       |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** DuckDB oracle twins — bare table names (driver registers each parquet
    * table under its name, per the contract example).
    */
  def oracleSql: Map[String, String] = Map(
    "q_dedup_minhash" -> minhashOracle,
    "q_minhash_agg" -> minhashAggOracle,
    "q_bpe_train" -> bpeTrainOracle,
    "q_minhash_calibration" -> minhashCalibrationOracle,
    "q_lsh_recall" -> lshRecallOracle,
    "q_lsh_recall_rebanded" -> lshRecallRebandedOracle,

    "q_dedup_lsh_candidates" -> lshOracle,
    "q_dedup_lsh_rebanded" -> lshRebandedOracle,

    "q_dedup_clusters" -> clustersOracle,

    "q_dedup_keep_best" -> keepBestOracle,

    "q_bpe_pairs" ->
      // distinct-word counts first, then char bigrams x word count —
      // the BPE trainer's pair census; all integers, top-20 (n desc, pair)
      """WITH w AS (
        |  SELECT w, count(*) AS wc FROM (
        |    SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
        |  WHERE length(w) >= 2 GROUP BY 1),
        |p AS (
        |  SELECT unnest(list_transform(range(1, length(w)), i -> w[i:i+1])) AS pair, wc
        |  FROM w)
        |SELECT pair, CAST(SUM(wc) AS BIGINT) AS n
        |FROM p GROUP BY 1 ORDER BY n DESC, pair LIMIT 20""".stripMargin,

    "q_vocab_growth" ->
      // each type's first doc, then ten exact integer threshold counts
      """WITH fd AS (
        |  SELECT tok, min(doc_id) AS first_doc FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents) t
        |  WHERE tok <> '' GROUP BY 1),
        |md AS (SELECT max(doc_id) AS max_doc FROM documents),
        |cuts AS (SELECT unnest(range(1, 11)) AS decile)
        |SELECT decile, COUNT(*) AS vocab
        |FROM fd, md, cuts
        |WHERE first_doc * 10 <= max_doc * decile
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_degree_dist" ->
      // same weighted co-order edge construction as q_triangle_count
      // (join spelling — semantics identical to the HOF pair generation)
      """WITH ls AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
        |e AS (SELECT a.l_suppkey AS u, b.l_suppkey AS v
        |      FROM ls a JOIN ls b ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
        |      GROUP BY 1, 2 HAVING COUNT(*) >= 5),
        |deg AS (SELECT n, COUNT(*) AS deg
        |        FROM (SELECT u AS n FROM e UNION ALL SELECT v AS n FROM e) t GROUP BY 1)
        |SELECT deg, COUNT(*) AS n_nodes, CAST(SUM(n) AS BIGINT) AS sum_id
        |FROM deg GROUP BY 1 ORDER BY 1""".stripMargin,

    // same edge CTE as q_degree_dist; exact integer moments over edges,
    // zero-variance guard as an exact integer test, ONE IEEE tree round-6
    "q_graph_assortativity" ->
      """WITH ls AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
        |e AS (SELECT a.l_suppkey AS u, b.l_suppkey AS v
        |      FROM ls a JOIN ls b ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
        |      GROUP BY 1, 2 HAVING COUNT(*) >= 5),
        |deg AS (SELECT n, COUNT(*) AS d
        |        FROM (SELECT u AS n FROM e UNION ALL SELECT v AS n FROM e) t GROUP BY 1),
        |j AS (SELECT du.d AS du, dv.d AS dv
        |      FROM e JOIN deg du ON e.u = du.n JOIN deg dv ON e.v = dv.n),
        |m AS (SELECT COUNT(*) AS n_edges,
        |             CAST(SUM(du * dv) AS BIGINT) AS s_jk,
        |             CAST(SUM(du + dv) AS BIGINT) AS s_sum,
        |             CAST(SUM(du * du + dv * dv) AS BIGINT) AS s_sq
        |      FROM j)
        |SELECT n_edges, s_jk, s_sum, s_sq,
        |  CASE WHEN s_sq * n_edges * 2 <> s_sum * s_sum THEN
        |    round((CAST(s_jk AS DOUBLE) / CAST(n_edges AS DOUBLE)
        |            - (CAST(s_sum AS DOUBLE) / (CAST(n_edges AS DOUBLE) * 2.0))
        |              * (CAST(s_sum AS DOUBLE) / (CAST(n_edges AS DOUBLE) * 2.0)))
        |          / (CAST(s_sq AS DOUBLE) / (CAST(n_edges AS DOUBLE) * 2.0)
        |            - (CAST(s_sum AS DOUBLE) / (CAST(n_edges AS DOUBLE) * 2.0))
        |              * (CAST(s_sum AS DOUBLE) / (CAST(n_edges AS DOUBLE) * 2.0))), 6)
        |  END AS r
        |FROM m WHERE n_edges > 0""".stripMargin,

    "q_jaccard_neighbors" ->
      // same edge CTE as q_degree_dist; wedge self-join on the symmetric
      // adjacency (a<b counts each wedge once), LEFT join keeps
      // zero-overlap edges; one IEEE division round-6
      """WITH ls AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
        |e AS (SELECT a.l_suppkey AS u, b.l_suppkey AS v
        |      FROM ls a JOIN ls b ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
        |      GROUP BY 1, 2 HAVING COUNT(*) >= 5),
        |adj AS (SELECT u AS n, v AS nbr FROM e UNION ALL SELECT v, u FROM e),
        |deg AS (SELECT n, COUNT(*) AS deg FROM adj GROUP BY 1),
        |com AS (SELECT x.n AS u, y.n AS v, COUNT(*) AS com
        |        FROM adj x JOIN adj y ON x.nbr = y.nbr AND x.n < y.n
        |        JOIN e ON e.u = x.n AND e.v = y.n
        |        GROUP BY 1, 2)
        |SELECT e.u, e.v, CAST(COALESCE(c.com, 0) AS BIGINT) AS common,
        |  round(CAST(COALESCE(c.com, 0) AS DOUBLE) /
        |        CAST(du.deg + dv.deg - COALESCE(c.com, 0) AS DOUBLE), 6) AS jacc
        |FROM e LEFT JOIN com c ON c.u = e.u AND c.v = e.v
        |JOIN deg du ON du.n = e.u JOIN deg dv ON dv.n = e.v
        |ORDER BY e.u, e.v""".stripMargin,

    "q_communities" ->
      // 3 sync LPA rounds unrolled as chained CTEs (most-frequent
      // neighbour label, ties to the smallest — all integer, no FP)
      """WITH ls AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
        |e AS (SELECT a.l_suppkey AS u, b.l_suppkey AS v
        |      FROM ls a JOIN ls b ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
        |      GROUP BY 1, 2 HAVING COUNT(*) >= 5),
        |e2 AS (SELECT u AS src, v AS dst FROM e UNION ALL SELECT v, u FROM e),
        |l0 AS (SELECT DISTINCT src AS id, src AS label FROM e2),
        |l1 AS (SELECT src AS id, label FROM (
        |  SELECT e2.src, l.label, count(*) AS cnt,
        |    row_number() OVER (PARTITION BY e2.src ORDER BY count(*) DESC, l.label) AS rn
        |  FROM e2 JOIN l0 l ON l.id = e2.dst GROUP BY 1, 2) z WHERE rn = 1),
        |l2 AS (SELECT src AS id, label FROM (
        |  SELECT e2.src, l.label, count(*) AS cnt,
        |    row_number() OVER (PARTITION BY e2.src ORDER BY count(*) DESC, l.label) AS rn
        |  FROM e2 JOIN l1 l ON l.id = e2.dst GROUP BY 1, 2) z WHERE rn = 1),
        |l3 AS (SELECT src AS id, label FROM (
        |  SELECT e2.src, l.label, count(*) AS cnt,
        |    row_number() OVER (PARTITION BY e2.src ORDER BY count(*) DESC, l.label) AS rn
        |  FROM e2 JOIN l2 l ON l.id = e2.dst GROUP BY 1, 2) z WHERE rn = 1)
        |SELECT label AS community, COUNT(*) AS n_members,
        |  MIN(id) AS min_id, CAST(SUM(id) AS BIGINT) AS sum_id
        |FROM l3 GROUP BY 1 ORDER BY 1""".stripMargin,

    // funnel latency: exact integer-second deltas; percentile_disc picks
    // at integer ranks ((n+1)//2, (9n+9)//10) over the (sec, user) order
    "q_time_to_convert" ->
      """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        |tv AS (SELECT user_id, MIN(us) AS tv FROM ev
        |       WHERE event_type = 'view' GROUP BY 1),
        |tp AS (SELECT ev.user_id, tv, MIN(us) AS tp
        |       FROM ev JOIN tv USING (user_id)
        |       WHERE event_type = 'purchase' AND us >= tv
        |       GROUP BY 1, 2),
        |d AS (SELECT user_id, (tp - tv) // 1000000 AS sec FROM tp),
        |r AS (SELECT user_id, sec,
        |        row_number() OVER (ORDER BY sec, user_id) AS rk FROM d),
        |s AS (SELECT COUNT(*) AS n, MIN(sec) AS mn, MAX(sec) AS mx FROM d)
        |SELECT n AS n_converters, mn AS min_s,
        |  MAX(CASE WHEN rk = (n + 1) // 2 THEN sec END) AS p50_s,
        |  MAX(CASE WHEN rk = (9 * n + 9) // 10 THEN sec END) AS p90_s,
        |  mx AS max_s
        |FROM r, s GROUP BY n, mn, mx""".stripMargin,

    // CEP-lite: identical comma-joined per-user sequences (string_agg
    // ORDER BY ts, event_id == array_sort struct order), same RE2∩Java
    // regexes; HAVING drops empty patterns exactly as the filtered
    // aggregate does
    "q_event_regex" ->
      """WITH p AS (
        |  SELECT user_id,
        |         string_agg(event_type, ',' ORDER BY ts, event_id) AS path
        |  FROM events GROUP BY 1),
        |m AS (
        |  SELECT 'converted' AS pattern, user_id FROM p WHERE regexp_matches(path, 'view.*purchase')
        |  UNION ALL
        |  SELECT 'error_spiral', user_id FROM p WHERE regexp_matches(path, 'error(,error){2,}')
        |  UNION ALL
        |  SELECT 'error_recovery', user_id FROM p WHERE regexp_matches(path, 'error.*purchase')
        |  UNION ALL
        |  SELECT 'signup_first', user_id FROM p WHERE regexp_matches(path, '^signup')
        |  UNION ALL
        |  SELECT 'pure_browse', user_id FROM p WHERE regexp_matches(path, '^view(,view)*$'))
        |SELECT pattern, COUNT(*) AS n_users, CAST(SUM(user_id) AS BIGINT) AS sum_uid
        |FROM m GROUP BY 1 HAVING COUNT(*) > 0 ORDER BY pattern""".stripMargin,

    "q_user_paths" ->
      // first-3-event journey per user by the (ts, event_id) total order
      """WITH r AS (
        |  SELECT user_id, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events),
        |p AS (
        |  SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
        |  FROM r WHERE rn <= 3 GROUP BY 1)
        |SELECT path, COUNT(*) AS n_users FROM p
        |GROUP BY 1 ORDER BY n_users DESC, path LIMIT 20""".stripMargin,

    "q_sql_macro" ->
      // the macro body inlined: exact decimal revenue per flag (the
      // engine side calls the CREATE FUNCTION form; the analyzer inlines
      // it to exactly this expression)
      """SELECT l_returnflag,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |           (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_pagerank" -> pagerankOracle,

    // BFS unrolled: each hop joins the previous frontier and excludes
    // every already-settled node, exactly like the engine's anti-join.
    "q_bfs_hops" ->
      """WITH p AS (SELECT DISTINCT o_custkey*2 AS src, l_suppkey*2+1 AS dst
        |           FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        |e AS (SELECT src, dst FROM p UNION SELECT dst, src FROM p),
        |h0 AS (SELECT CAST(0 AS BIGINT) AS id),
        |h1 AS (SELECT DISTINCT e.dst AS id FROM e JOIN h0 ON e.src = h0.id
        |       WHERE e.dst NOT IN (SELECT id FROM h0)),
        |h2 AS (SELECT DISTINCT e.dst AS id FROM e JOIN h1 ON e.src = h1.id
        |       WHERE e.dst NOT IN (SELECT id FROM h0 UNION ALL SELECT id FROM h1)),
        |h3 AS (SELECT DISTINCT e.dst AS id FROM e JOIN h2 ON e.src = h2.id
        |       WHERE e.dst NOT IN (SELECT id FROM h0 UNION ALL SELECT id FROM h1
        |                           UNION ALL SELECT id FROM h2)),
        |allh AS (SELECT id, 0 AS hop FROM h0 UNION ALL SELECT id, 1 FROM h1
        |         UNION ALL SELECT id, 2 FROM h2 UNION ALL SELECT id, 3 FROM h3)
        |SELECT CAST(hop AS BIGINT) AS hop, COUNT(*) AS n_nodes,
        |       CAST(SUM(CAST(floor(id / 2) AS BIGINT)) AS BIGINT) AS sum_key
        |FROM allh GROUP BY 1 ORDER BY 1""".stripMargin,

    // Degree-oriented triangle counting, mirrored step for step: weighted
    // co-order edges (>= 5 shared orders), degrees, (deg, id) orientation,
    // directed wedges, closure against the undirected edge set.
    "q_triangle_count" ->
      """WITH ls AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
        |e AS (SELECT a.l_suppkey AS u, b.l_suppkey AS v
        |      FROM ls a JOIN ls b ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
        |      GROUP BY 1, 2 HAVING COUNT(*) >= 5),
        |deg AS (SELECT n, COUNT(*) AS deg
        |        FROM (SELECT u AS n FROM e UNION ALL SELECT v AS n FROM e) t GROUP BY 1),
        |o AS (SELECT CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND e.u < e.v)
        |                  THEN e.u ELSE e.v END AS src,
        |             CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND e.u < e.v)
        |                  THEN e.v ELSE e.u END AS dst
        |      FROM e JOIN deg du ON du.n = e.u JOIN deg dv ON dv.n = e.v),
        |w AS (SELECT least(w1.dst, w2.dst) AS u, greatest(w1.dst, w2.dst) AS v
        |      FROM o w1 JOIN o w2 ON w1.src = w2.src AND w1.dst < w2.dst)
        |SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
        |       (SELECT COUNT(*) FROM e) AS n_edges,
        |       (SELECT COUNT(*) FROM w
        |        WHERE EXISTS (SELECT 1 FROM e WHERE e.u = w.u AND e.v = w.v)) AS n_triangles""".stripMargin,

    // Two fixed Lloyd rounds, every cross-engine boundary rounded: the
    // assignment ranks round-6 cosine (cid tiebreak) and the centroid
    // update rounds each dimension, so round 2's inputs are bit-identical.
    "q_kmeans" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |c0 AS (SELECT vec_id AS cid, emb AS cent FROM e WHERE vec_id < 4),
        |s0 AS (SELECT e.vec_id, e.emb, c0.cid,
        |         row_number() OVER (PARTITION BY e.vec_id
        |           ORDER BY round(list_cosine_similarity(e.emb, c0.cent), 6) DESC, c0.cid) AS rn
        |       FROM e CROSS JOIN c0),
        |a0 AS (SELECT vec_id, emb, cid FROM s0 WHERE rn = 1),
        |d AS (SELECT cid, unnest(list_transform(range(1, len(emb)+1),
        |        i -> {'dim': i, 'x': emb[i]})) AS s FROM a0),
        |m AS (SELECT cid, s.dim AS dim, round(AVG(s.x), 6) AS m FROM d GROUP BY 1, 2),
        |c1 AS (SELECT cid, list(m ORDER BY dim) AS cent FROM m GROUP BY 1),
        |s1 AS (SELECT e.vec_id, c1.cid, c1.cent,
        |         row_number() OVER (PARTITION BY e.vec_id
        |           ORDER BY round(list_cosine_similarity(e.emb, c1.cent), 6) DESC, c1.cid) AS rn
        |       FROM e CROSS JOIN c1),
        |a1 AS (SELECT vec_id, cid, cent FROM s1 WHERE rn = 1)
        |SELECT cid AS cluster_id, COUNT(*) AS n,
        |  MIN(cent[1]) AS c0, MIN(cent[2]) AS c1
        |FROM a1 GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_cluster_assign" ->
      """WITH c AS (SELECT vec_id AS centroid_id, CAST(embedding AS DOUBLE[]) AS cent
        |           FROM embeddings WHERE vec_id < 8),
        |s AS (SELECT e.vec_id, c.centroid_id,
        |        round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cent), 6) AS sim
        |      FROM embeddings e CROSS JOIN c),
        |asg AS (SELECT vec_id, centroid_id, sim,
        |          row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, centroid_id) AS rn
        |        FROM s)
        |SELECT centroid_id, COUNT(*) AS n, MIN(sim) AS min_sim, MAX(sim) AS max_sim
        |FROM asg WHERE rn = 1 GROUP BY 1 ORDER BY 1""".stripMargin,

    // SemDeDup twin: the same coarse assignment, then pairs only WITHIN a
    // cluster, thresholded on the ROUNDED cosine (boundary cannot flip).
    // k = ceil(N/250) mirrors the engine's adaptive cluster count.
    "q_semantic_dedup" ->
      """WITH k AS (SELECT CAST(ceil(COUNT(*) / 250.0) AS BIGINT) AS k FROM embeddings),
        |c AS (SELECT vec_id AS centroid_id, CAST(embedding AS DOUBLE[]) AS cent
        |           FROM embeddings, k WHERE vec_id < k.k),
        |asg AS (SELECT vec_id, embedding, centroid_id FROM (
        |          SELECT e.vec_id, e.embedding, c.centroid_id,
        |            row_number() OVER (PARTITION BY e.vec_id
        |              ORDER BY round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cent), 6) DESC,
        |                       c.centroid_id) AS rn
        |          FROM embeddings e CROSS JOIN c) t WHERE rn = 1),
        |prs0 AS (SELECT x.centroid_id AS cl, x.vec_id AS a, y.vec_id AS b,
        |           round(list_cosine_similarity(CAST(x.embedding AS DOUBLE[]),
        |                                        CAST(y.embedding AS DOUBLE[])), 6) AS sim
        |         FROM asg x JOIN asg y ON x.centroid_id = y.centroid_id AND x.vec_id < y.vec_id),
        |prs AS (SELECT * FROM prs0 WHERE sim >= 0.3),
        |pc AS (SELECT cl, COUNT(*) AS n_pairs, MAX(sim) AS max_sim FROM prs GROUP BY 1),
        |mem AS (SELECT cl, COUNT(DISTINCT vec) AS n_vecs FROM
        |        (SELECT cl, a AS vec FROM prs UNION ALL SELECT cl, b AS vec FROM prs) t GROUP BY 1)
        |SELECT pc.cl AS cluster_id, pc.n_pairs, mem.n_vecs, pc.max_sim
        |FROM pc JOIN mem ON pc.cl = mem.cl ORDER BY 1""".stripMargin,

    "q_vector_stats" ->
      // dim is 0-based on both sides (Spark posexplode pos; DuckDB i-1);
      // float32 -> double casts exact; min/max order-free; mean round-6
      """WITH e AS (
        |  SELECT unnest(list_transform(range(1, len(embedding)+1),
        |    i -> {'dim': i-1, 'x': embedding[i]})) AS s
        |  FROM embeddings)
        |SELECT CAST(s.dim AS BIGINT) AS dim, COUNT(*) AS n,
        |  round(AVG(CAST(s.x AS DOUBLE)), 6) AS mean,
        |  MIN(CAST(s.x AS DOUBLE)) AS min_x,
        |  MAX(CAST(s.x AS DOUBLE)) AS max_x
        |FROM e GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_text_jaro" ->
      // graft's native expression is bit-identical to DuckDB's
      // jaro_winkler_similarity (verified over this exact pair set);
      // round-6 guards the threshold
      """WITH v AS (SELECT DISTINCT unnest(string_split(text, ' ')) AS tok FROM documents)
        |SELECT a.tok AS tok_a, b.tok AS tok_b,
        |  round(jaro_winkler_similarity(a.tok, b.tok), 6) AS jw
        |FROM v a JOIN v b ON a.tok < b.tok
        |WHERE round(jaro_winkler_similarity(a.tok, b.tok), 6) >= 0.6
        |ORDER BY tok_a, tok_b""".stripMargin,

    "q_fuzzy_match" ->
      // best Jaro-Winkler match per probe; jw is bit-identical between
      // engines so (jw DESC, p_partkey) picks the same winner; round-6
      // only on output
      """WITH probes(probe) AS (VALUES ('smal ring'), ('red widgit'), ('blu bolt'),
        |  ('hot gier'), ('small gizmmo'), ('cold platte'), ('large anvill'), ('small ring')),
        |scored AS (
        |  SELECT probe, p_partkey, p_name,
        |    jaro_winkler_similarity(probe, p_name) AS jw
        |  FROM probes CROSS JOIN part),
        |best AS (
        |  SELECT *, row_number() OVER (PARTITION BY probe ORDER BY jw DESC, p_partkey) AS rn
        |  FROM scored)
        |SELECT probe, p_partkey AS best_key, p_name AS best_name, round(jw, 6) AS score
        |FROM best WHERE rn = 1 ORDER BY probe""".stripMargin,

    "q_bm25" ->
      // every literal forced to DOUBLE (…e0) so DuckDB's decimal literal
      // arithmetic can't diverge from Spark's double tree; ranking on the
      // ROUNDED score with doc_id tiebreak (see Text.bm25Query)
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM d),
        |stats AS (SELECT COUNT(*) AS n, SUM(dl) AS sumdl FROM dl),
        |tf AS (
        |  SELECT doc_id, tok, CAST(COUNT(*) AS DOUBLE) AS tf
        |  FROM (SELECT doc_id, unnest(toks) AS tok FROM d)
        |  WHERE tok IN ('join', 'window', 'hash') GROUP BY 1, 2),
        |df AS (SELECT tok, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
        |sc AS (
        |  SELECT t.doc_id,
        |    SUM(ln(1e0 + (n - df + 0.5e0) / (df + 0.5e0))
        |        * (tf * 2.2e0)
        |        / (tf + 1.2e0 * (1e0 - 0.75e0 + 0.75e0 * l.dl / (CAST(sumdl AS DOUBLE) / n)))) AS score
        |  FROM tf t JOIN dl l USING (doc_id) JOIN df USING (tok) CROSS JOIN stats
        |  GROUP BY 1)
        |SELECT doc_id, round(score, 6) AS score FROM sc
        |ORDER BY round(score, 6) DESC, doc_id LIMIT 20""".stripMargin,

    "q_dedup_simhash" -> simhashOracle,

    "q_media_dedup" ->
      // binary content-addressed dedup: Spark hashes the BINARY payload,
      // the oracle hashes the same UTF-8 bytes via md5(text); keep-rule is
      // lowest media_id per digest on both sides
      """WITH media AS (
        |  SELECT doc_id AS media_id,
        |    CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |      ELSE 'video' END AS kind,
        |    md5(text) AS digest, n_chars
        |  FROM documents),
        |kept AS (
        |  SELECT media_id, kind, n_chars,
        |    ROW_NUMBER() OVER (PARTITION BY digest ORDER BY media_id) AS rn
        |  FROM media)
        |SELECT kind, COUNT(*) AS n_kept,
        |  CAST(SUM(media_id) AS BIGINT) AS sum_id,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_bytes
        |FROM kept WHERE rn = 1
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_media_meta" ->
      // the Spark side PARSES real PNG/WAV/MP4 container bytes it built
      // from doc_id; the oracle recomputes the same dims/rates as pure
      // doc_id arithmetic (Multimodal.synth* formulas) — any byte-offset
      // error in builder or parser breaks this hash match
      """WITH m AS (
        |  SELECT doc_id,
        |    CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'wav' ELSE 'mp4' END AS format,
        |    CASE WHEN doc_id % 3 = 0 THEN CAST(16 + doc_id % 320 AS INTEGER)
        |         WHEN doc_id % 3 = 2 THEN CAST(160 + doc_id % 160 AS INTEGER) END AS width,
        |    CASE WHEN doc_id % 3 = 0 THEN CAST(16 + (doc_id * 7) % 200 AS INTEGER)
        |         WHEN doc_id % 3 = 2 THEN CAST(90 + doc_id % 90 AS INTEGER) END AS height,
        |    CASE WHEN doc_id % 3 = 1 THEN CAST(8000 + (doc_id % 8) * 4000 AS INTEGER) END AS sample_rate,
        |    CASE WHEN doc_id % 3 = 1 THEN CAST(1 + doc_id % 2 AS INTEGER) END AS channels
        |  FROM documents)
        |SELECT format, COUNT(*) AS n,
        |  min(width) AS min_width, max(width) AS max_width,
        |  min(height) AS min_height, max(height) AS max_height,
        |  min(sample_rate) AS min_rate, max(sample_rate) AS max_rate,
        |  CAST(sum(channels) AS BIGINT) AS sum_channels
        |FROM m GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_repetition_ratio" ->
      // exact integer counts; ONE double division + round-6 on both sides
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
        |  round(1.0 - CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |          / len(string_split(text, ' ')), 6) AS rep_ratio
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_pii_scrub" ->
      // same injected PII, same RE2/Java-identical regexes, global replace
      """WITH pii AS (
        |  SELECT lang,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR)
        |      || '@example.com or call +1-555-'
        |      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
        |  FROM documents),
        |scr AS (
        |  SELECT lang, length(t) AS pii_len,
        |    regexp_replace(regexp_replace(t,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '[+][0-9]{1,2}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS s
        |  FROM pii)
        |SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN s LIKE '%<EMAIL>%' AND s LIKE '%<PHONE>%'
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_scrubbed,
        |  CAST(SUM(length(s)) AS BIGINT) AS sum_len,
        |  CAST(SUM(pii_len - length(s)) AS BIGINT) AS sum_removed
        |FROM scr GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_table_stats" ->
      // exact ANALYZE profile; COUNT(DISTINCT) excludes NULLs in both engines
      """SELECT 'c_acctbal' AS col_name,
        |  CAST(SUM(CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
        |  COUNT(DISTINCT c_acctbal) AS n_distinct FROM customer
        |UNION ALL
        |SELECT 'c_custkey',
        |  CAST(SUM(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  COUNT(DISTINCT c_custkey) FROM customer
        |UNION ALL
        |SELECT 'c_mktsegment',
        |  CAST(SUM(CASE WHEN c_mktsegment IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  COUNT(DISTINCT c_mktsegment) FROM customer
        |UNION ALL
        |SELECT 'c_name',
        |  CAST(SUM(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  COUNT(DISTINCT c_name) FROM customer
        |UNION ALL
        |SELECT 'c_nationkey',
        |  CAST(SUM(CASE WHEN c_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  COUNT(DISTINCT c_nationkey) FROM customer
        |ORDER BY col_name""".stripMargin,

    "q_lang_id" -> langIdOracle,

    "q_quality_score" -> qualityOracle,
    "q_score_deciles" -> scoreDecilesOracle,
    "q_keywords_rake" -> keywordsRakeOracle,

    "q_pipeline_corpus" -> pipelineOracle,

    "q_train_test_split" -> {
      // the q_mixture_sample dyadic hash against INTEGER thresholds
      // (58982 = ⌊0.9·2¹⁶⌋, 62259 = ⌊0.95·2¹⁶⌋) — no float comparison
      def nib(p: Int) =
        s"(ascii(substr(h, $p, 1)) - CASE WHEN ascii(substr(h, $p, 1)) <= 57 THEN 48 ELSE 87 END)"
      val hex4 = s"${nib(1)}*4096 + ${nib(2)}*256 + ${nib(3)}*16 + ${nib(4)}"
      s"""WITH d AS (SELECT doc_id, lang, text,
         |             md5(CAST(doc_id AS VARCHAR)) AS h FROM documents),
         |u AS (SELECT lang, text,
         |        CASE WHEN $hex4 < 58982 THEN 'train'
         |             WHEN $hex4 < 62259 THEN 'val'
         |             ELSE 'test' END AS split
         |      FROM d)
         |SELECT lang, split, COUNT(*) AS n_docs,
         |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
         |FROM u GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    },

    "q_dataset_card" ->
      // exact median via the value-histogram pick (rank ⌈n/2⌉ over
      // distinct n_chars); dup rate = content-hash distinct count;
      // dup_pct = one exact BIGINT ratio, single IEEE division, round-6
      """WITH base AS (
        |  SELECT source, lang, COUNT(*) AS n_docs,
        |         CAST(SUM(n_chars) AS BIGINT) AS chars,
        |         COUNT(DISTINCT md5(text)) AS n_uniq
        |  FROM documents GROUP BY 1, 2),
        |counts AS (
        |  SELECT source, lang, n_chars, COUNT(*) AS c
        |  FROM documents GROUP BY 1, 2, 3),
        |cum AS (
        |  SELECT source, lang, n_chars, c,
        |    SUM(c) OVER (PARTITION BY source, lang ORDER BY n_chars) AS cum,
        |    SUM(c) OVER (PARTITION BY source, lang) AS n
        |  FROM counts),
        |med AS (
        |  SELECT source, lang, n_chars AS med_chars
        |  FROM cum WHERE cum >= ceil(n * 0.5) AND cum - c < ceil(n * 0.5))
        |SELECT b.source, b.lang, b.n_docs, b.chars, m.med_chars,
        |  round(CAST(b.n_docs - b.n_uniq AS DOUBLE) / CAST(b.n_docs AS DOUBLE), 6) AS dup_pct
        |FROM base b JOIN med m USING (source, lang)
        |ORDER BY b.source, b.lang""".stripMargin,

    // cumulative ingest-funnel survivor counts; quality gate tests the
    // shared round-6 qscore, dedup keep = min doc_id per md5(text)
    "q_quality_funnel" ->
      s"""WITH $qualityCtes,
         |docs AS (
         |  SELECT d.doc_id, d.lang, length(d.text) AS nchars,
         |    len(string_split(d.text, ' ')) AS ntoks, q.quality,
         |    (row_number() OVER (PARTITION BY md5(d.text) ORDER BY d.doc_id)) = 1 AS keep
         |  FROM documents d JOIN qscore q USING (doc_id))
         |SELECT lang,
         |  COUNT(*) AS n_total,
         |  COUNT(CASE WHEN nchars >= 100 THEN 1 END) AS n_len,
         |  COUNT(CASE WHEN nchars >= 100 AND ntoks >= 20 THEN 1 END) AS n_tok,
         |  COUNT(CASE WHEN nchars >= 100 AND ntoks >= 20 AND keep THEN 1 END) AS n_dedup,
         |  COUNT(CASE WHEN nchars >= 100 AND ntoks >= 20 AND keep AND quality >= 0.5 THEN 1 END) AS n_quality
         |FROM docs GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_pack_tokens" ->
      // exact integer cumulative sums + integer division: pack_id is the
      // pack each doc STARTS in under a 2048-token budget, per language
      """WITH t AS (
        |  SELECT doc_id, lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, lang, n_tokens,
        |    SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id) AS cum
        |  FROM t)
        |SELECT doc_id, lang, n_tokens, CAST((cum - n_tokens) // 2048 AS BIGINT) AS pack_id
        |FROM c ORDER BY doc_id""".stripMargin,

    "q_decontaminate" ->
      // 5-gram shingles; eval set = doc_id % 100 = 0; per-train-doc count
      // of distinct shingles shared with ANY eval doc ((doc_id, s) is
      // distinct by construction, so count(*) is the distinct count)
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(CASE WHEN len(toks) < 5 THEN []
        |    ELSE list_transform(range(1, len(toks)-3), i -> array_to_string(toks[i:i+4], ' ')) END)) AS s
        |  FROM t),
        |ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % 100 = 0)
        |SELECT doc_id, count(*) AS n_shared
        |FROM sh JOIN ev USING (s)
        |WHERE doc_id % 100 <> 0
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_mixture_weights" ->
      // T* = min(n_l / share_l); take = floor(share * T*); identical IEEE
      // double ops in both engines (shares CAST to DOUBLE — DuckDB decimal
      // literals must not enter the arithmetic)
      """WITH n AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1),
        |s AS (SELECT lang, n_docs,
        |  CAST(CASE lang WHEN 'en' THEN 0.40 WHEN 'de' THEN 0.15 WHEN 'es' THEN 0.15
        |                 WHEN 'fr' THEN 0.15 WHEN 'zh' THEN 0.15 ELSE 0.0 END AS DOUBLE) AS share
        |  FROM n),
        |t AS (SELECT min(CAST(n_docs AS DOUBLE) / share) AS tstar FROM s)
        |SELECT lang, n_docs, share,
        |  CAST(floor(share * tstar) AS BIGINT) AS take_n,
        |  round(CAST(floor(share * tstar) AS BIGINT) / CAST(n_docs AS DOUBLE), 6) AS rate
        |FROM s, t ORDER BY lang""".stripMargin,

    "q_mixture_sample" -> {
      // deterministic uniform = first 4 md5 hex nibbles of doc_id (ascii
      // decode, the simhash-oracle pattern) / 65536 — exact dyadic, so
      // u < rate can never flip between engines
      def nib(p: Int) =
        s"(ascii(substr(h, $p, 1)) - CASE WHEN ascii(substr(h, $p, 1)) <= 57 THEN 48 ELSE 87 END)"
      val hex4 = s"${nib(1)}*4096 + ${nib(2)}*256 + ${nib(3)}*16 + ${nib(4)}"
      s"""WITH n AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1),
         |s AS (SELECT lang, n_docs,
         |  CAST(CASE lang WHEN 'en' THEN 0.40 WHEN 'de' THEN 0.15 WHEN 'es' THEN 0.15
         |                 WHEN 'fr' THEN 0.15 WHEN 'zh' THEN 0.15 ELSE 0.0 END AS DOUBLE) AS share
         |  FROM n),
         |t AS (SELECT min(CAST(n_docs AS DOUBLE) / share) AS tstar FROM s),
         |r AS (SELECT lang,
         |  round(CAST(floor(share * tstar) AS BIGINT) / CAST(n_docs AS DOUBLE), 6) AS rate
         |  FROM s, t),
         |d AS (SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR)) AS h FROM documents),
         |u AS (SELECT doc_id, lang, CAST($hex4 AS DOUBLE) / 65536.0e0 AS u FROM d)
         |SELECT u.doc_id, u.lang FROM u JOIN r ON u.lang = r.lang
         |WHERE u.u < r.rate ORDER BY u.doc_id""".stripMargin
    },

    "q_sim_users" ->
      // sparse behavioral cosine: integer partial sums are exact, only the
      // final ratio is floating — identical arithmetic in both engines
      """WITH v AS (
        |  SELECT user_id, date_trunc('hour', ts) AS h, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |norms AS (SELECT user_id, sqrt(CAST(SUM(n*n) AS DOUBLE)) AS nrm FROM v GROUP BY 1),
        |p AS (SELECT user_id AS probe_id, h, n AS pn FROM v WHERE user_id < 5),
        |dots AS (
        |  SELECT p.probe_id, v.user_id AS other_id, CAST(SUM(p.pn * v.n) AS DOUBLE) AS dot
        |  FROM p JOIN v ON p.h = v.h AND v.user_id <> p.probe_id
        |  GROUP BY 1, 2),
        |sims AS (
        |  SELECT probe_id, other_id, round(dot/(a.nrm*b.nrm), 6) AS sim
        |  FROM dots JOIN norms a ON a.user_id = probe_id JOIN norms b ON b.user_id = other_id),
        |ranked AS (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, other_id) AS BIGINT) AS rn
        |  FROM sims)
        |SELECT probe_id, other_id, sim, rn FROM ranked WHERE rn <= 5
        |ORDER BY probe_id, rn""".stripMargin,

    "q_join_skew" ->
      // the oracle is the PLAIN join: the salt must be semantically invisible
      """SELECT c_mktsegment, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_bucket_join" ->
      // the oracle is the PLAIN join on flat parquet: the bucketed layout
      // must be semantically invisible (only the plan changes)
      """SELECT c_mktsegment, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // the oracle is the plain join: a runtime bloom filter may only ever
    // pass-through rows to the exact join (false positives are filtered
    // by the join itself), so forced-on injection must be invisible
    "q_runtime_filter" ->
      """WITH ord AS (SELECT o_orderkey FROM orders
        |             WHERE o_orderpriority = '1-URGENT')
        |SELECT l_suppkey, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem JOIN ord ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_text_levenshtein" ->
      """SELECT c_custkey, CAST(levenshtein(c_name, 'Customer#000000001') AS BIGINT) AS dist
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "q_try_cast" ->
      """SELECT c_custkey,
        |  TRY_CAST(substr(c_name, 10, 15) AS BIGINT) AS name_num,
        |  TRY_CAST(c_mktsegment AS DOUBLE) AS seg_num
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "q_agg_bitwise" ->
      """SELECT l_returnflag,
        |  CAST(bit_and(l_linenumber) AS BIGINT) AS band,
        |  CAST(bit_or(l_linenumber) AS BIGINT) AS bor,
        |  CAST(bit_xor(l_linenumber) AS BIGINT) AS bxor
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_sample_hash" ->
      // deterministic md5-digit sample — identical row membership in any
      // engine that can compute md5 of the key string
      """SELECT o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders
        |WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) IN ('0', '1')
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_token_count" ->
      // BPE-ish tokens = maximal letter/digit runs + each kept single-char
      // piece. The Spark twin keeps a piece iff trim() leaves it non-empty,
      // and Java's trim strips EVERY char <= U+0020 — so the oracle's
      // "counted punctuation" class is [^letters digits \x00-\x20], NOT
      // RE2's \s (which would diverge on \x0B and other control chars)
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens_ws,
        |  CAST(len(regexp_extract_all(text, '[\p{L}\p{N}]+'))
        |     + len(regexp_extract_all(text, '[^\p{L}\p{N}\x00-\x20]')) AS BIGINT) AS n_tokens_bpe
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_doc_fingerprint" ->
      // explicit whitespace class — Java \s and RE2 \s differ on \x0B
      """SELECT doc_id, md5(lower(regexp_replace(text, '[ \t\n\x0b\f\r]+', ' ', 'g'))) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_chunk_docs" ->
      // window=32/stride=24 token chunks; 1-based inclusive list slicing
      // on both engines takes the same 32 elements; short final chunk
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |n AS (SELECT doc_id, toks, len(toks) AS n,
        |  greatest(CAST(floor((len(toks) - 32 + 23) / 24.0) AS BIGINT) + 1, 1) AS n_chunks
        |  FROM t),
        |c AS (SELECT doc_id, unnest(range(0, n_chunks)) AS chunk_idx, toks, n FROM n)
        |SELECT doc_id, chunk_idx,
        |  array_to_string(toks[chunk_idx*24 + 1 : chunk_idx*24 + 32], ' ') AS chunk_text,
        |  CAST(least(n - chunk_idx*24, 32) AS BIGINT) AS n_tokens
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,

    "q_dedup_ngram" ->
      // 3-gram shingle Jaccard; round-6 before the threshold on both
      // sides; BOUNDED doc slice (the exact all-pairs form is ground
      // truth only — q_dedup_lsh_candidates is the full-corpus scale path)
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents WHERE doc_id < 100),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(CASE WHEN len(toks) < 3 THEN []
        |    ELSE list_transform(range(1, len(toks)-1), i -> array_to_string(toks[i:i+2], ' ')) END)) AS s
        |  FROM t),
        |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        |common AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |j AS (
        |  SELECT id_a, id_b,
        |    round(CAST(common AS DOUBLE)/(x.sz + y.sz - common), 6) AS jaccard
        |  FROM common JOIN sz x ON x.doc_id = id_a JOIN sz y ON y.doc_id = id_b)
        |SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.5 ORDER BY id_a, id_b""".stripMargin,

    "q_dedup_substring" ->
      // Exact 30-char stride-1 window duplication profile. md5/substr/
      // length are character-identical across engines on this corpus;
      // range(1, n) is end-exclusive, so len-W+2 = len-28 yields
      // positions 1..len-29 inclusive — the same 1..len-W+1 set Spark's
      // sequence(1, length-29) generates. The window hash is the SAME
      // portable 60-bit md5-prefix BIGINT Spark shuffles
      // (('0x'||substr(md5,1,15))::BIGINT == conv(...,16,10)), so the
      // grouping is bit-identical in both engines even under truncation
      // collisions. All-integer output.
      """WITH g AS (
        |  SELECT doc_id, ('0x' || substr(md5(substr(text, i, 30)), 1, 15))::BIGINT AS h,
        |         COUNT(*) AS cnt
        |  FROM (SELECT doc_id, text, unnest(range(1, length(text) - 28)) AS i
        |        FROM documents WHERE length(text) >= 30)
        |  GROUP BY doc_id, h),
        |n AS (SELECT *, COUNT(*) OVER (PARTITION BY h) AS nd FROM g)
        |SELECT doc_id,
        |  CAST(SUM(cnt) AS BIGINT) AS n_windows,
        |  CAST(SUM(CASE WHEN nd > 1 THEN cnt ELSE 0 END) AS BIGINT) AS dup_positions,
        |  CAST(COUNT(CASE WHEN nd > 1 THEN 1 END) AS BIGINT) AS dup_windows
        |FROM n GROUP BY doc_id
        |HAVING SUM(CASE WHEN nd > 1 THEN cnt ELSE 0 END) > 0
        |ORDER BY doc_id""".stripMargin,

    "q_dedup_substring_winnow" ->
      // Winnowed (Schleimer et al.) substring profile — the scale form:
      // per doc, hash array hs over all stride-1 windows (same portable
      // 60-bit BIGINT as q_dedup_substring), keep min(hs[j..j+7]) per
      // winnowing window of 8, distinct per doc, then the cross-doc
      // nd > 1 profile over SELECTED fingerprints only. hs[j:j+7] is
      // DuckDB's 1-based INCLUSIVE slice = Spark's slice(hs, j, 8);
      // list_min == array_min on BIGINTs. All-integer output.
      """WITH h AS (
        |  SELECT doc_id, list_transform(range(1, length(text) - 28),
        |           i -> ('0x' || substr(md5(substr(text, i, 30)), 1, 15))::BIGINT) AS hs
        |  FROM documents WHERE length(text) >= 37),
        |f AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(hs) - 6),
        |           j -> list_min(hs[j:j+7])))) AS f
        |  FROM h),
        |n AS (SELECT *, COUNT(*) OVER (PARTITION BY f) AS nd FROM f)
        |SELECT doc_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_fp,
        |  CAST(COUNT(CASE WHEN nd > 1 THEN 1 END) AS BIGINT) AS dup_fp
        |FROM n GROUP BY doc_id
        |HAVING COUNT(CASE WHEN nd > 1 THEN 1 END) > 0
        |ORDER BY doc_id""".stripMargin,

    "q_dedup_prefix" ->
      // FULL-corpus exact 3-gram Jaccard at t=0.7. The Spark side runs
      // prefix filtering (rarest-shingle join keys); the oracle is the
      // naive all-pairs form — if the filter ever dropped or invented a
      // pair, this twin hash-mismatches. Threshold is the division-free
      // integer-exact form (common >= 0.7*union) on both engines.
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(CASE WHEN len(toks) < 3 THEN []
        |    ELSE list_transform(range(1, len(toks)-1), i -> array_to_string(toks[i:i+2], ' ')) END)) AS s
        |  FROM t),
        |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        |common AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |j AS (
        |  SELECT id_a, id_b, common, x.sz + y.sz - common AS un
        |  FROM common JOIN sz x ON x.doc_id = id_a JOIN sz y ON y.doc_id = id_b)
        |SELECT id_a, id_b, round(CAST(common AS DOUBLE)/un, 6) AS jaccard
        |FROM j WHERE CAST(common AS DOUBLE) >= 0.7e0 * un
        |ORDER BY id_a, id_b""".stripMargin,

    "q_sim_neardup" ->
      // deterministic md5-digit half-slice on BOTH sides (mirrors
      // Scale.sampleByMd5 — the same engine-portable sample q_sample_hash
      // uses), so the declared exact pair mining is input-bounded
      """SELECT * FROM (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) AS sim
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |  WHERE a.vec_id < 2000 AND b.vec_id < 2000
        |    AND substr(md5(CAST(a.vec_id AS VARCHAR)), 1, 1) IN ('0','1','2','3','4','5','6','7')
        |    AND substr(md5(CAST(b.vec_id AS VARCHAR)), 1, 1) IN ('0','1','2','3','4','5','6','7')) t
        |WHERE sim >= 0.45 ORDER BY id_a, id_b""".stripMargin,

    "q_embed_lsh" -> embedLshOracle,
    "q_embed_lsh_recall" -> embedLshRecallOracle,

    "q_window_ntile" ->
      """SELECT c_custkey, c_mktsegment,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  percent_rank() OVER w AS pr,
        |  cume_dist() OVER w AS cd
        |FROM customer WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
        |ORDER BY c_custkey""".stripMargin,

    "q_agg_filtered" ->
      """SELECT o_orderpriority,
        |  COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
        |  COUNT(*) FILTER (WHERE o_totalprice > 200000) AS n_big,
        |  bool_and(o_totalprice > 0) AS all_positive,
        |  bool_or(o_totalprice > 450000) AS any_huge
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_date_spine" ->
      """WITH months AS (
        |  SELECT unnest(generate_series(TIMESTAMP '1995-01-01', TIMESTAMP '2001-12-01', INTERVAL 1 MONTH)) AS month_start),
        |m AS (
        |  SELECT date_trunc('month', o_orderdate) AS ms, COUNT(*) AS n_orders,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |  FROM orders GROUP BY 1)
        |SELECT month_start, COALESCE(n_orders, 0) AS n_orders, COALESCE(sum_price, 0.0) AS sum_price
        |FROM months LEFT JOIN m ON month_start = ms ORDER BY month_start""".stripMargin,

    "q_join_nullsafe" ->
      """SELECT c_mktsegment, COUNT(*) AS n
        |FROM customer c JOIN supplier s
        |  ON nullif(c.c_nationkey, 13) IS NOT DISTINCT FROM nullif(s.s_nationkey, 13)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_agg_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  round(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) AS avg_qty,
        |  COUNT(*) AS count_order
        |FROM lineitem WHERE l_quantity <= 45
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q_agg_distinct" ->
      """SELECT l_returnflag, COUNT(DISTINCT l_suppkey) AS n_supp, COUNT(*) AS n_rows
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_agg_multi_distinct" ->
      """SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS n_cust,
        |  COUNT(DISTINCT o_orderpriority) AS n_prio, COUNT(*) AS n_orders
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_agg_rollup" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  CAST(GROUPING(o_orderstatus)*2 + GROUPING(o_orderpriority) AS BIGINT) AS gid
        |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        |ORDER BY gid, o_orderstatus, o_orderpriority""".stripMargin,

    "q_agg_cube" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  CAST(GROUPING(l_returnflag)*2 + GROUPING(l_linestatus) AS BIGINT) AS gid
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin,

    "q_agg_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(GROUPING(l_returnflag)*2 + GROUPING(l_linestatus) AS BIGINT) AS gid,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin,

    "q_agg_stats" ->
      """SELECT l_returnflag, round(stddev_samp(l_extendedprice), 6) AS sd_price,
        |  round(var_samp(l_quantity), 6) AS var_qty,
        |  round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_agg_percentile" ->
      """SELECT l_returnflag,
        |  round(percentile_cont(0.5) WITHIN GROUP (ORDER BY l_quantity), 6) AS median_qty,
        |  round(percentile_cont(0.25) WITHIN GROUP (ORDER BY l_extendedprice), 6) AS p25_price
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    // native DISTINCT ON (the Postgres idiom) vs Spark's row_number form
    "q_distinct_on" ->
      """SELECT DISTINCT ON (o_custkey) o_custkey, o_orderkey, o_orderdate,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS latest_price
        |FROM orders
        |ORDER BY o_custkey, o_orderdate DESC, o_orderkey DESC""".stripMargin,

    // native quantile_disc (probed: identical ceil(q*n) rank rule) vs
    // Spark's rank-selection window form
    "q_agg_percentile_disc" ->
      """SELECT l_returnflag,
        |  CAST(quantile_disc(CAST(l_quantity AS DECIMAL(18,2)), 0.5) AS DOUBLE) AS p50_disc,
        |  CAST(quantile_disc(CAST(l_quantity AS DECIMAL(18,2)), 0.25) AS DOUBLE) AS p25_disc
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_agg_collect" ->
      // the ordered-list aggregation, serialized: the comparator cannot
      // sort rows containing raw array cells (pandas sort_values chokes)
      """SELECT n_regionkey, array_to_string(list(n_name ORDER BY n_name), ',') AS nations
        |FROM nation GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_pivot" ->
      """SELECT o_orderpriority,
        |  COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
        |  COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
        |  COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_string_agg" ->
      """SELECT n_regionkey, string_agg(n_name, '|' ORDER BY n_name) AS nations, COUNT(*) AS n
        |FROM nation GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_unpivot" ->
      """SELECT measure, COUNT(*) AS n,
        |  CAST(SUM(CAST(v AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
        |FROM (
        |  SELECT 'l_extendedprice' AS measure, l_extendedprice AS v FROM lineitem
        |  UNION ALL SELECT 'l_discount', l_discount FROM lineitem
        |  UNION ALL SELECT 'l_tax', l_tax FROM lineitem) t
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_histogram" ->
      // DuckDB 1.0 has no width_bucket; for in-range positive values the
      // SQL-standard bucket is 1 + floor(x/width) — identical IEEE ops
      """SELECT CAST(1 + FLOOR(o_totalprice / 50000.0) AS BIGINT) AS bucket, COUNT(*) AS n
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_scalar_subquery" ->
      """SELECT c_custkey, c_nationkey, CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS bal
        |FROM customer c
        |WHERE CAST(c_acctbal AS DECIMAL(18,2)) *
        |        (SELECT COUNT(*) FROM customer c2 WHERE c2.c_nationkey = c.c_nationkey)
        |      > (SELECT SUM(CAST(c_acctbal AS DECIMAL(18,2))) FROM customer c3
        |         WHERE c3.c_nationkey = c.c_nationkey)
        |ORDER BY c_custkey""".stripMargin,

    "q_corr_subquery" ->
      // Q17 shape; threshold = exact-integer sum cast to double, one IEEE
      // division — no dependence on either engine's AVG implementation
      """SELECT p.p_brand, COUNT(*) AS n,
        |  CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |WHERE 5 * CAST(l.l_quantity AS BIGINT)
        |  < (SELECT CAST(SUM(CAST(l2.l_quantity AS BIGINT)) AS DOUBLE)
        |       / COUNT(*)
        |     FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
        |GROUP BY p.p_brand ORDER BY p.p_brand""".stripMargin,

    "q_exists_subquery" ->
      """SELECT c.c_mktsegment, COUNT(*) AS n,
        |  CAST(SUM(c.c_custkey) AS BIGINT) AS sum_key
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 150000)
        |  AND NOT EXISTS (SELECT 1 FROM orders o2
        |                  WHERE o2.o_custkey = c.c_custkey
        |                    AND o2.o_orderstatus = 'F' AND o2.o_totalprice > 400000)
        |GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment""".stripMargin,

    "q_lateral_join" ->
      """SELECT c.c_mktsegment, COUNT(*) AS n,
        |  CAST(SUM(t.n_orders) AS BIGINT) AS sum_orders,
        |  CAST(SUM(CAST(t.max_price AS DECIMAL(18,2))) AS DOUBLE) AS sum_max
        |FROM customer c, LATERAL (
        |  SELECT COUNT(*) AS n_orders, MAX(o_totalprice) AS max_price
        |  FROM orders o WHERE o.o_custkey = c.c_custkey) t
        |WHERE t.n_orders > 0
        |GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment""".stripMargin,

    // Identical WITH RECURSIVE text runs on both engines — the binary-tree
    // parent join makes the recursion finite and every depth deterministic.
    "q_recursive_cte" ->
      """WITH RECURSIVE h(ck, depth, bal) AS (
        |  SELECT c_custkey, CAST(0 AS BIGINT) AS depth,
        |         CAST(c_acctbal AS DECIMAL(18,2)) AS bal
        |  FROM customer WHERE c_custkey = 0
        |  UNION ALL
        |  SELECT c.c_custkey, h.depth + 1, CAST(c.c_acctbal AS DECIMAL(18,2))
        |  FROM customer c JOIN h ON CAST(floor(c.c_custkey / 2) AS BIGINT) = h.ck
        |  WHERE c.c_custkey > 0)
        |SELECT depth, COUNT(*) AS n, CAST(SUM(bal) AS DOUBLE) AS sum_bal
        |FROM h GROUP BY depth ORDER BY depth""".stripMargin,

    "q_predicates" ->
      """SELECT c_custkey, c_name, c_mktsegment, c_acctbal,
        |  CAST(CAST(c_acctbal AS DECIMAL(18,2)) * CAST(1.1 AS DECIMAL(2,1)) AS DOUBLE) AS bal_uplift
        |FROM customer
        |WHERE (c_mktsegment IN ('AUTOMOBILE','BUILDING') OR c_mktsegment = 'MACHINERY')
        |  AND c_acctbal BETWEEN 1000 AND 9000
        |  AND c_name LIKE 'Customer#00%' AND c_name IS NOT NULL
        |ORDER BY c_custkey""".stripMargin,

    "q_conditional" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_orderstatus='F' THEN 'finished' WHEN o_orderstatus='O' THEN 'open' ELSE 'pending' END AS status_label,
        |  COALESCE(NULLIF(o_orderpriority, '4-NOT SPECIFIED'), 'none') AS priority_or_none,
        |  GREATEST(o_totalprice, 100000.0) AS price_floor,
        |  LEAST(o_totalprice, 400000.0) AS price_cap
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q_scan_project_filter" ->
      """SELECT l_orderkey, l_linenumber, l_shipdate, l_extendedprice
        |FROM lineitem WHERE l_extendedprice > 90000.0
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_csv_roundtrip" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem WHERE l_orderkey % 5 = 0
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_schema_merge" ->
      // the evolved read must be indistinguishable from never having
      // evolved: recompute with the same even/odd writer rule; v1 rows
      // have no price (NULL) — count(price)/sum skip them
      """SELECT o_orderpriority, COUNT(*) AS n,
        |  COUNT(CASE WHEN o_orderkey % 2 = 1 THEN 1 END) AS n_with_price,
        |  CAST(SUM(CASE WHEN o_orderkey % 2 = 1
        |                THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_json_roundtrip" ->
      // the oracle reads PARQUET directly: the roundtrip must be lossless
      """SELECT lang, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  COUNT(DISTINCT source) AS n_sources
        |FROM documents WHERE doc_id % 3 = 0
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_partition_prune" ->
      // the oracle reads FLAT parquet: the hive-partitioned roundtrip and
      // its directory-pruned read must be lossless vs the unpartitioned scan
      """SELECT strftime(o_orderdate, '%Y-%m') AS o_month, o_orderpriority,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders
        |WHERE strftime(o_orderdate, '%Y-%m') BETWEEN '1996-01' AND '1996-03'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_partition_catalog" ->
      // the oracle reads FLAT parquet: the catalog's days(ts) layout and
      // its manifest-pruned scan must be lossless vs the plain scan
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
        |  AND ts <  TIMESTAMP '2024-01-15 00:00:00'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_orc_roundtrip" ->
      // the oracle reads PARQUET directly: the ORC roundtrip must be lossless
      """SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  COUNT(DISTINCT o_orderpriority) AS n_priorities
        |FROM orders WHERE o_orderkey % 7 = 0
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_xml_roundtrip" ->
      // the oracle reads PARQUET directly: the XML roundtrip must be lossless
      """SELECT p_brand, COUNT(*) AS n,
        |  CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  COUNT(DISTINCT p_type) AS n_types
        |FROM part WHERE p_partkey % 4 = 0
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_zorder_layout" -> zorderOracle,

    "q_outlier_zscore" ->
      // exact moments first (n, Σx, Σx² as decimals), THEN one identical
      // IEEE expression tree in both engines — the |z|>1.7 boundary cannot
      // flip (see Analytics.outlierZscore; 1.7 not 2 because the uniform-ish
      // balances are bounded at |z| ~ sqrt(3), so a 2σ gate is vacuously
      // empty at sf0.01+ — 1.7 keeps a real tail at EVERY scale factor)
      """WITH stats AS (
        |  SELECT c_mktsegment, COUNT(*) AS n,
        |    CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS s1,
        |    CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2)) * CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS s2
        |  FROM customer GROUP BY 1)
        |SELECT c_custkey, c.c_mktsegment,
        |  round((c_acctbal - s1/n) / sqrt((s2 - s1*s1/n)/(n-1)), 6) AS z
        |FROM customer c JOIN stats s ON c.c_mktsegment = s.c_mktsegment
        |WHERE n > 1 AND (s2 - s1*s1/n)/(n-1) > 0
        |  AND abs((c_acctbal - s1/n) / sqrt((s2 - s1*s1/n)/(n-1))) > 1.7
        |ORDER BY c_custkey""".stripMargin,

    "q_partition_dpp" ->
      // DPP must be semantically invisible: the oracle applies the
      // equivalent literal predicate to flat parquet
      """SELECT strftime(o_orderdate, '%Y-%m') AS o_month,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders
        |WHERE strftime(o_orderdate, '%Y') = '1997'
        |  AND strftime(o_orderdate, '%m') IN ('01', '02', '03')
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_json_extract" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
        |  MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    // The VARIANT path's oracle is plain JSON extraction — the gate proves
    // the binary-encoded route is semantically invisible.
    "q_variant_extract" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
        |  MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
        |  COUNT(DISTINCT CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_distinct_k
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_upsert_merge" ->
      """WITH stage AS (
        |  SELECT c_custkey, c_name, c_nationkey,
        |         CAST(CAST(c_acctbal AS DECIMAL(18,2)) + CAST(100 AS DECIMAL(18,2)) AS DECIMAL(18,2)) AS c_acctbal,
        |         c_mktsegment
        |  FROM customer WHERE c_custkey % 10 = 0
        |  UNION ALL
        |  SELECT c_custkey + 1000000, 'Customer#new', c_nationkey, CAST(500 AS DECIMAL(18,2)), 'AUTOMOBILE'
        |  FROM customer WHERE c_custkey % 100 = 0
        |)
        |SELECT COALESCE(s.c_mktsegment, t.c_mktsegment) AS c_mktsegment, COUNT(*) AS n,
        |  CAST(SUM(COALESCE(s.c_acctbal, CAST(t.c_acctbal AS DECIMAL(18,2)))) AS DOUBLE) AS sum_bal
        |FROM customer t FULL OUTER JOIN stage s ON t.c_custkey = s.c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_merge_sql" ->
      // the SAME oracle as q_upsert_merge: executable MERGE INTO and the
      // join-dataflow upsert are two routes to one semantic — both gated
      """WITH stage AS (
        |  SELECT c_custkey, c_name, c_nationkey,
        |         CAST(CAST(c_acctbal AS DECIMAL(18,2)) + CAST(100 AS DECIMAL(18,2)) AS DECIMAL(18,2)) AS c_acctbal,
        |         c_mktsegment
        |  FROM customer WHERE c_custkey % 10 = 0
        |  UNION ALL
        |  SELECT c_custkey + 1000000, 'Customer#new', c_nationkey, CAST(500 AS DECIMAL(18,2)), 'AUTOMOBILE'
        |  FROM customer WHERE c_custkey % 100 = 0
        |)
        |SELECT COALESCE(s.c_mktsegment, t.c_mktsegment) AS c_mktsegment, COUNT(*) AS n,
        |  CAST(SUM(COALESCE(s.c_acctbal, CAST(t.c_acctbal AS DECIMAL(18,2)))) AS DOUBLE) AS sum_bal
        |FROM customer t FULL OUTER JOIN stage s ON t.c_custkey = s.c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_scd2" ->
      """SELECT o_custkey, o_orderkey,
        |  epoch_us(o_orderdate) AS from_us,
        |  epoch_us(lead(o_orderdate, 1) OVER w) AS to_us,
        |  lead(o_orderdate, 1) OVER w IS NULL AS is_current
        |FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, from_us, o_orderkey""".stripMargin,

    "q_join_pit" ->
      // the as-of union form mirrored exactly: versions (kind 0, one per
      // customer-day, last order wins) + facts (kind 1) in one stream,
      // running last-non-null carries the in-effect version id
      """WITH o AS (SELECT o_orderkey, o_custkey, o_orderdate FROM orders),
        |v AS (
        |  SELECT o_custkey AS ck, epoch_us(o_orderdate) AS us, max(o_orderkey) AS ver
        |  FROM o GROUP BY 1, 2),
        |f AS (
        |  SELECT l.l_orderkey, CAST(l.l_linenumber AS BIGINT) AS fln,
        |    o.o_custkey AS ck, epoch_us(l.l_shipdate) AS us
        |  FROM lineitem l JOIN o ON o.o_orderkey = l.l_orderkey),
        |u AS (
        |  SELECT ck, us, ver, 0 AS kind, CAST(NULL AS BIGINT) AS fok, CAST(NULL AS BIGINT) AS fln FROM v
        |  UNION ALL
        |  SELECT ck, us, CAST(NULL AS BIGINT), 1, l_orderkey, fln FROM f),
        |w AS (
        |  SELECT ck, us, kind, fok, fln,
        |    last_value(ver IGNORE NULLS) OVER (PARTITION BY ck ORDER BY us, kind, ver
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pit
        |  FROM u)
        |SELECT fok AS l_orderkey, fln AS l_linenumber, ck AS c_custkey,
        |  us AS ship_us, pit AS pit_orderkey
        |FROM w WHERE kind = 1 ORDER BY 1, 2""".stripMargin,

    "q_dataset_diff" ->
      // replay the deterministic perturbation, then the same md5-fingerprint
      // full-outer diff (sep chr(1), null marker chr(0) — matching the
      // Spark fingerprint bytes)
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus, o_orderpriority FROM orders),
        |aft AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CASE WHEN o_orderkey % 17 = 0 THEN 'X-' || o_orderpriority
        |         ELSE o_orderpriority END AS o_orderpriority
        |  FROM base WHERE o_orderkey % 13 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + 1000000000, o_orderstatus, o_orderpriority
        |  FROM base WHERE o_orderkey % 19 = 0),
        |fa AS (SELECT o_orderkey, md5(concat_ws(chr(1),
        |         coalesce(CAST(o_orderstatus AS VARCHAR), chr(0)),
        |         coalesce(CAST(o_orderpriority AS VARCHAR), chr(0)))) AS f FROM base),
        |fb AS (SELECT o_orderkey, md5(concat_ws(chr(1),
        |         coalesce(CAST(o_orderstatus AS VARCHAR), chr(0)),
        |         coalesce(CAST(o_orderpriority AS VARCHAR), chr(0)))) AS f FROM aft),
        |j AS (
        |  SELECT coalesce(fa.o_orderkey, fb.o_orderkey) AS k,
        |    CASE WHEN fa.f IS NULL THEN 'added'
        |         WHEN fb.f IS NULL THEN 'removed'
        |         WHEN fa.f = fb.f THEN 'unchanged' ELSE 'changed' END AS status
        |  FROM fa FULL OUTER JOIN fb ON fa.o_orderkey = fb.o_orderkey)
        |SELECT status, COUNT(*) AS n_rows, min(k) AS min_key, max(k) AS max_key,
        |  CAST(SUM(k) AS BIGINT) AS key_sum
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_dq_checks" ->
      """WITH base AS (
        |  SELECT
        |    COUNT(*) FILTER (WHERE NOT l_quantity BETWEEN 1 AND 50) AS qty_out_of_range,
        |    COUNT(*) FILTER (WHERE NOT l_discount BETWEEN 0.0 AND 0.1) AS discount_out_of_range,
        |    COUNT(*) FILTER (WHERE l_orderkey IS NULL) AS null_orderkey,
        |    COUNT(*) FILTER (WHERE l_returnflag NOT IN ('A','N','R')) AS bad_returnflag
        |  FROM lineitem),
        |dups AS (
        |  SELECT COALESCE(SUM(c - 1), 0) AS violations FROM (
        |    SELECT COUNT(*) AS c FROM lineitem
        |    GROUP BY l_orderkey, l_linenumber, l_partkey, l_suppkey HAVING COUNT(*) > 1))
        |SELECT chk, CAST(violations AS BIGINT) AS violations FROM (
        |  SELECT 'qty_out_of_range' AS chk, qty_out_of_range AS violations FROM base
        |  UNION ALL SELECT 'discount_out_of_range', discount_out_of_range FROM base
        |  UNION ALL SELECT 'null_orderkey', null_orderkey FROM base
        |  UNION ALL SELECT 'bad_returnflag', bad_returnflag FROM base
        |  UNION ALL SELECT 'dup_composite_key', violations FROM dups)
        |ORDER BY chk""".stripMargin,

    "q_insert_missing" ->
      """WITH stage AS (
        |  SELECT * FROM customer WHERE c_custkey % 5 = 0
        |  UNION ALL
        |  SELECT c_custkey + 2000000, c_name, c_nationkey, c_acctbal, c_mktsegment
        |  FROM customer WHERE c_custkey % 50 = 0
        |),
        |merged AS (
        |  SELECT * FROM customer
        |  UNION ALL
        |  SELECT * FROM stage s WHERE NOT EXISTS (SELECT 1 FROM customer t WHERE t.c_custkey = s.c_custkey)
        |)
        |SELECT c_mktsegment, COUNT(*) AS n,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
        |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_delete_keys" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem l
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM lineitem k
        |  WHERE k.l_suppkey % 13 = 0 AND k.l_orderkey = l.l_orderkey AND k.l_linenumber = l.l_linenumber)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_join_inner" ->
      """SELECT c_mktsegment, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q_join_broadcast" ->
      """SELECT p_brand, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,

    "q_join_sortmerge" ->
      """SELECT o_orderpriority, COUNT(*) AS n_lines,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_join_left" ->
      """SELECT c_custkey, COUNT(o_orderkey) AS n_orders,
        |  COALESCE(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 0.0) AS sum_price
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,

    "q_join_full" ->
      """WITH c AS (SELECT CAST(c_nationkey AS BIGINT) AS c_nk, COUNT(*) AS n_cust FROM customer GROUP BY 1),
        |     s AS (SELECT CAST(s_nationkey AS BIGINT) AS s_nk, COUNT(*) AS n_supp FROM supplier GROUP BY 1)
        |SELECT COALESCE(c_nk, s_nk) AS nationkey, COALESCE(n_cust, 0) AS n_cust, COALESCE(n_supp, 0) AS n_supp
        |FROM c FULL OUTER JOIN s ON c_nk = s_nk ORDER BY nationkey""".stripMargin,

    "q_join_semi" ->
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400000)
        |ORDER BY c_custkey""".stripMargin,

    "q_join_anti" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,

    "q_join_cross" ->
      """SELECT r_name, n_name FROM region CROSS JOIN nation ORDER BY r_name, n_name""",

    "q_join_range" ->
      """SELECT o1.o_custkey AS custkey, COUNT(*) AS n_pairs
        |FROM orders o1 JOIN orders o2
        |  ON o1.o_custkey = o2.o_custkey AND o1.o_orderdate < o2.o_orderdate
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_stream_tumbling" ->
      """SELECT epoch_us(date_trunc('hour', ts)) AS win_us, event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_stream_tws_exec" ->
      // transformWithState gate: the declared result is the FINAL
      // per-user (count, cents) total — integer state, so the batch
      // aggregate below is the answer under ANY batching of the source
      """WITH c AS (SELECT user_id,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM events)
        |SELECT user_id, COUNT(*) AS n_events,
        |  CAST(SUM(cents) AS DOUBLE) / 100.0 AS sum_value
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_stream_update_exec" ->
      // the UPDATE-MODE contract: the final upserted table holds every
      // window's final running value — INCLUDING the still-open one the
      // append run must omit — so the oracle is the plain tumbling
      // aggregate with no closure predicate (q_stream_tumbling verbatim)
      """SELECT epoch_us(date_trunc('hour', ts)) AS win_us, event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_stream_exec" ->
      // the APPEND-MODE contract of the real streaming run: the tumbling
      // aggregate restricted to windows CLOSED by the final watermark
      // (max event time, 0s delay) — the window holding max(ts) stays
      // open in state and is correctly absent from the sink
      """WITH m AS (SELECT max(epoch_us(ts)) AS max_us FROM events),
        |b AS (
        |  SELECT epoch_us(date_trunc('hour', ts)) AS win_us, event_type,
        |    COUNT(*) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |  FROM events GROUP BY 1, 2)
        |SELECT b.win_us, b.event_type, b.n, b.sum_value
        |FROM b, m WHERE b.win_us + 3600000000 <= m.max_us
        |ORDER BY 1, 2""".stripMargin,

    "q_stream_sliding" ->
      """WITH wins AS (
        |  SELECT event_type,
        |    unnest([epoch_us(ts) - epoch_us(ts) % 1800000000,
        |            epoch_us(ts) - epoch_us(ts) % 1800000000 - 1800000000]) AS win_us
        |  FROM events)
        |SELECT win_us, event_type, COUNT(*) AS n
        |FROM wins GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_stream_session" -> sessionOracle,

    "q_stream_sliding_exec" ->
      // the q_stream_sliding aggregate under the same append-mode
      // closure contract as q_stream_exec (window END ≤ final watermark)
      """WITH m AS (SELECT max(epoch_us(ts)) AS max_us FROM events),
        |wins AS (
        |  SELECT event_type,
        |    unnest([epoch_us(ts) - epoch_us(ts) % 1800000000,
        |            epoch_us(ts) - epoch_us(ts) % 1800000000 - 1800000000]) AS win_us
        |  FROM events)
        |SELECT win_us, event_type, COUNT(*) AS n
        |FROM wins, m WHERE win_us + 3600000000 <= max_us
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // the real streaming session run emits exactly the sessions CLOSED by
    // the final watermark (session end = last event + 30-min gap)
    "q_stream_dedup_exec" ->
      // the deduped double-read must equal the plain batch census —
      // any double-emit or lost row in the dedup state breaks the hash
      """SELECT event_type, COUNT(*) AS n_events
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_stream_session_exec" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
        |m AS (SELECT max(us) AS max_us FROM e),
        |d AS (
        |  SELECT user_id, event_id, us,
        |    CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) >= 1800000000
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM e),
        |s AS (
        |  SELECT user_id, us,
        |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
        |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        |  FROM d),
        |g AS (
        |  SELECT user_id, MIN(us) AS sess_start_us, MAX(us) AS sess_end_us, COUNT(*) AS n_events
        |  FROM s GROUP BY user_id, sess_id)
        |SELECT g.user_id, g.sess_start_us, g.sess_end_us, g.n_events
        |FROM g, m WHERE g.sess_end_us + 1800000000 <= m.max_us
        |ORDER BY user_id, sess_start_us""".stripMargin,

    // the SAME oracle verbatim: q_session_native runs Spark's native
    // session_window against the portable lag/cumsum ground truth, so the
    // two session forms are hash-proven equivalent through the gate
    "q_session_native" -> sessionOracle,

    // CDC apply exec: three ordered change batches (seq 1..3) upserted by
    // the foreachBatch loop == argmax-by-seq over the unioned change sets
    "q_stream_cdc_exec" ->
      """WITH o AS (
        |  SELECT o_orderkey AS k, o_orderpriority AS pri,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM orders),
        |c AS (
        |  SELECT k, pri, cents, CAST(1 AS BIGINT) AS seq FROM o WHERE k % 3 = 0
        |  UNION ALL SELECT k, pri, cents + 100, 2 FROM o WHERE k % 2 = 0
        |  UNION ALL SELECT k, pri, cents * 2, 3 FROM o WHERE k % 5 = 0)
        |SELECT k, pri, cents, seq FROM (
        |  SELECT *, row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn FROM c) z
        |WHERE rn = 1 ORDER BY k""".stripMargin,

    // custom-state streaming exec: flatMapGroupsWithState emits
    // immediately (no closure holdback) and the single-file source is one
    // AvailableNow batch, so the sink equals the batch as-of verbatim
    "q_stream_asof_exec" ->
      """WITH c AS (SELECT event_id, user_id, ts, epoch_us(ts) AS click_us FROM events WHERE event_type = 'click'),
        |     s AS (SELECT user_id, ts, epoch_us(ts) AS signup_us FROM events WHERE event_type = 'signup')
        |SELECT c.event_id, c.user_id, c.click_us, s.signup_us
        |FROM c ASOF JOIN s ON c.user_id = s.user_id AND c.ts >= s.ts
        |ORDER BY c.event_id""".stripMargin,

    "q_join_asof" ->
      """WITH c AS (SELECT event_id, user_id, ts, epoch_us(ts) AS click_us FROM events WHERE event_type = 'click'),
        |     s AS (SELECT user_id, ts, epoch_us(ts) AS signup_us FROM events WHERE event_type = 'signup')
        |SELECT c.event_id, c.user_id, c.click_us, s.signup_us
        |FROM c ASOF JOIN s ON c.user_id = s.user_id AND c.ts >= s.ts
        |ORDER BY c.event_id""".stripMargin,

    "q_join_asof_fwd" ->
      // forward direction: the inequality flips, DuckDB picks the
      // EARLIEST signup at-or-after each click
      """WITH c AS (SELECT event_id, user_id, ts, epoch_us(ts) AS click_us FROM events WHERE event_type = 'click'),
        |     s AS (SELECT user_id, ts, epoch_us(ts) AS signup_us FROM events WHERE event_type = 'signup')
        |SELECT c.event_id, c.user_id, c.click_us, s.signup_us,
        |       s.signup_us - c.click_us AS wait_us
        |FROM c ASOF JOIN s ON c.user_id = s.user_id AND c.ts <= s.ts
        |ORDER BY c.event_id""".stripMargin,

    "q_join_asof_near" ->
      // two directional ASOF LEFT candidates + the same exact-integer
      // |Δ| CASE as the engine (ties → backward); inner on either side
      """WITH c AS (SELECT event_id, user_id, ts, epoch_us(ts) AS click_us FROM events WHERE event_type = 'click'),
        |     s AS (SELECT user_id, ts, epoch_us(ts) AS signup_us FROM events WHERE event_type = 'signup'),
        |b AS (SELECT c.event_id, c.user_id, c.click_us, s.signup_us AS b_us
        |      FROM c ASOF LEFT JOIN s ON c.user_id = s.user_id AND c.ts >= s.ts),
        |f AS (SELECT c.event_id, s.signup_us AS f_us
        |      FROM c ASOF LEFT JOIN s ON c.user_id = s.user_id AND c.ts <= s.ts),
        |j AS (SELECT b.event_id, b.user_id, b.click_us,
        |        CASE WHEN b.b_us IS NULL THEN f.f_us
        |             WHEN f.f_us IS NULL THEN b.b_us
        |             WHEN b.click_us - b.b_us <= f.f_us - b.click_us THEN b.b_us
        |             ELSE f.f_us END AS signup_us
        |      FROM b JOIN f USING (event_id)
        |      WHERE b.b_us IS NOT NULL OR f.f_us IS NOT NULL)
        |SELECT event_id, user_id, click_us, signup_us,
        |       signup_us - click_us AS delta_us
        |FROM j ORDER BY event_id""".stripMargin,

    "q_join_asof_bucketed" ->
      // the oracle is the PLAIN ASOF JOIN on flat parquet: the catalog's
      // bucketed layout must be semantically invisible (only the plan —
      // zero hash Exchange before the window — changes)
      """WITH c AS (SELECT event_id, user_id, ts, epoch_us(ts) AS click_us FROM events WHERE event_type = 'click'),
        |     s AS (SELECT user_id, ts, epoch_us(ts) AS signup_us FROM events WHERE event_type = 'signup')
        |SELECT c.event_id, c.user_id, c.click_us, s.signup_us
        |FROM c ASOF JOIN s ON c.user_id = s.user_id AND c.ts >= s.ts
        |ORDER BY c.event_id""".stripMargin,

    "q_retention_cohort" ->
      """WITH e AS (SELECT user_id, date_trunc('week', ts) AS wk FROM events),
        |c AS (SELECT user_id, min(wk) AS cohort_wk FROM e GROUP BY 1)
        |SELECT epoch_us(cohort_wk) AS cohort_us, epoch_us(wk) AS week_us,
        |  COUNT(DISTINCT e.user_id) AS n_users
        |FROM e JOIN c ON e.user_id = c.user_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_growth_accounting" ->
      // weeks = epoch_day // 7 (integer, no locale); churn at w+1 only
      // through the last observed week; all exact integer counts
      """WITH uw AS (
        |  SELECT DISTINCT user_id,
        |    datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7 AS week
        |  FROM events),
        |f AS (
        |  SELECT user_id, week,
        |    lag(week) OVER w AS prev, lead(week) OVER w AS nxt
        |  FROM uw WINDOW w AS (PARTITION BY user_id ORDER BY week)),
        |states AS (
        |  SELECT week,
        |    CAST(COUNT(CASE WHEN prev IS NULL THEN 1 END) AS BIGINT) AS n_new,
        |    CAST(COUNT(CASE WHEN prev = week - 1 THEN 1 END) AS BIGINT) AS n_retained,
        |    CAST(COUNT(CASE WHEN prev IS NOT NULL AND prev < week - 1 THEN 1 END) AS BIGINT) AS n_resurrected
        |  FROM f GROUP BY 1),
        |mw AS (SELECT max(week) AS max_week FROM uw),
        |churn AS (
        |  SELECT week + 1 AS week, CAST(COUNT(*) AS BIGINT) AS n_churned
        |  FROM f, mw
        |  WHERE (nxt IS NULL OR nxt > week + 1) AND week + 1 <= max_week
        |  GROUP BY 1)
        |SELECT COALESCE(s.week, c.week) AS week,
        |  COALESCE(n_new, 0) AS n_new,
        |  COALESCE(n_retained, 0) AS n_retained,
        |  COALESCE(n_resurrected, 0) AS n_resurrected,
        |  COALESCE(n_churned, 0) AS n_churned
        |FROM states s FULL OUTER JOIN churn c ON s.week = c.week
        |ORDER BY 1""".stripMargin,

    "q_l28_histogram" ->
      // day 0 = the dataset's own min epoch day; distinct (user, day)
      // census -> per-user count -> histogram; sum_uid pins membership
      """WITH days AS (
        |  SELECT DISTINCT user_id,
        |    datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS epoch_day
        |  FROM events),
        |m AS (SELECT min(epoch_day) AS d0 FROM days),
        |per AS (
        |  SELECT user_id, COUNT(*) AS days_active
        |  FROM days, m WHERE epoch_day < d0 + 28
        |  GROUP BY 1)
        |SELECT days_active, COUNT(*) AS n_users, CAST(SUM(user_id) AS BIGINT) AS sum_uid
        |FROM per GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_dau_mau" ->
      // trailing-28 MAU via census coverage expansion (each active day
      // covers 28 output days), distinct after; ratio = one BIGINT pair,
      // single IEEE division, round-6
      """WITH days AS (
        |  SELECT DISTINCT user_id,
        |    datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d
        |  FROM events),
        |dau AS (SELECT d AS day, COUNT(*) AS dau FROM days GROUP BY 1),
        |cov AS (
        |  SELECT DISTINCT user_id, d + x AS day
        |  FROM days CROSS JOIN (SELECT unnest(generate_series(0, 27)) AS x) t),
        |mau AS (SELECT day, COUNT(*) AS mau FROM cov GROUP BY 1)
        |SELECT day, dau, mau,
        |  round(CAST(dau AS DOUBLE) / CAST(mau AS DOUBLE), 6) AS stickiness
        |FROM dau JOIN mau USING (day)
        |ORDER BY day""".stripMargin,

    "q_incremental_view" ->
      // the chained change-feed refreshes must land on exactly the
      // never-incremental answer over the post-DML row set; SUM is NULL
      // when the group's non-null count is zero (the __nn contract)
      """WITH rows AS (
        |  SELECT o_orderkey AS k, o_orderpriority AS pri,
        |    CASE WHEN o_orderkey % 7 = 0 THEN NULL
        |         ELSE CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) END AS cents
        |  FROM orders
        |  WHERE (o_orderkey % 3 = 0 OR o_orderkey % 3 = 1) AND o_orderkey % 5 <> 0)
        |SELECT pri AS o_orderpriority, COUNT(*) AS n, COUNT(cents) AS n_price,
        |  CAST(SUM(cents) AS BIGINT) AS sum_cents
        |FROM rows GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_winsorize" ->
      // exact interpolated percentiles: Spark percentile() and DuckDB
      // quantile_cont share the (n-1)*q definition; round-6 on the
      // clipped output absorbs interpolation-order ulp drift
      """WITH c AS (
        |  SELECT c_custkey, c_mktsegment, CAST(c_acctbal AS DOUBLE) AS v FROM customer),
        |b AS (
        |  SELECT c_mktsegment,
        |    quantile_cont(v, 0.05e0) AS p05, quantile_cont(v, 0.95e0) AS p95
        |  FROM c GROUP BY 1)
        |SELECT c_custkey, c.c_mktsegment,
        |  round(least(greatest(v, p05), p95), 6) AS clipped
        |FROM c JOIN b ON c.c_mktsegment = b.c_mktsegment
        |ORDER BY c_custkey""".stripMargin,

    "q_regression" ->
      // exact moments (integer x, decimal y) cast to double, then ONE
      // identical IEEE tree for slope/intercept/r2 (the outlier-zscore
      // portability pattern)
      """WITH pts AS (
        |  SELECT event_type,
        |    datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS x,
        |    CAST(value AS DECIMAL(18,2)) AS y
        |  FROM events),
        |m AS (
        |  SELECT event_type, CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(x*x) AS DOUBLE) AS sxx,
        |    CAST(SUM(y) AS DOUBLE) AS sy, CAST(SUM(y*y) AS DOUBLE) AS syy,
        |    CAST(SUM(y*x) AS DOUBLE) AS sxy
        |  FROM pts GROUP BY 1)
        |SELECT event_type,
        |  round((n*sxy - sx*sy) / (n*sxx - sx*sx), 6) AS slope,
        |  round((sy - (n*sxy - sx*sy) / (n*sxx - sx*sx) * sx) / n, 6) AS intercept,
        |  round((n*sxy - sx*sy) * (n*sxy - sx*sy) / ((n*sxx - sx*sx) * (n*syy - sy*sy)), 6) AS r2
        |FROM m
        |WHERE n > 1 AND n*sxx - sx*sx > 0 AND n*syy - sy*sy > 0
        |ORDER BY event_type""".stripMargin,

    // gaps-and-islands: day - row_number is constant along a consecutive
    // run, so it is the island key; DuckDB date - int arithmetic = date_sub
    "q_streaks" ->
      """WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
        |isl AS (SELECT user_id, d,
        |          d - CAST(row_number() OVER (PARTITION BY user_id ORDER BY d) AS INTEGER) AS island
        |        FROM days),
        |runs AS (SELECT user_id, island, COUNT(*) AS len FROM isl GROUP BY 1, 2)
        |SELECT user_id, MAX(len) AS max_streak, COUNT(*) AS n_streaks,
        |  CAST(SUM(len) AS BIGINT) AS n_active_days
        |FROM runs GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_time_weighted_avg" ->
      // exact integer cents x whole-seconds weights (integer DIV both
      // engines); ONE shared IEEE division at the end, round-6
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM events),
        |d AS (
        |  SELECT user_id, cents,
        |    lead(us, 1) OVER (PARTITION BY user_id ORDER BY us, event_id) - us AS dt_us
        |  FROM e),
        |s AS (
        |  SELECT user_id, COUNT(*) AS n_segments,
        |    CAST(SUM(dt_us // 1000000) AS BIGINT) AS total_s,
        |    CAST(SUM(cents * (dt_us // 1000000)) AS BIGINT) AS weighted_cents_s
        |  FROM d WHERE dt_us IS NOT NULL GROUP BY 1)
        |SELECT user_id, n_segments, total_s,
        |  round(CAST(weighted_cents_s AS DOUBLE) / (100e0 * CAST(total_s AS DOUBLE)), 6) AS twa
        |FROM s WHERE total_s > 0 ORDER BY user_id""".stripMargin,

    "q_ohlc" ->
      // open/close picked by row_number over the SAME total order both
      // engines; value passes through untouched (no arithmetic)
      """WITH e AS (
        |  SELECT event_type,
        |    datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS epoch_day,
        |    epoch_us(ts) AS us, event_id, value
        |  FROM events),
        |r AS (
        |  SELECT *,
        |    row_number() OVER (PARTITION BY event_type, epoch_day ORDER BY us, event_id) AS rn_a,
        |    row_number() OVER (PARTITION BY event_type, epoch_day ORDER BY us DESC, event_id DESC) AS rn_z
        |  FROM e)
        |SELECT event_type, epoch_day,
        |  MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
        |  MAX(value) AS high, MIN(value) AS low,
        |  MAX(CASE WHEN rn_z = 1 THEN value END) AS close,
        |  COUNT(*) AS volume,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_locf_gapfill" ->
      // generated daily spine x users; per-day last observation by the
      // (us, event_id) total order; LOCF via last_value IGNORE NULLS
      """WITH e AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d, epoch_us(ts) AS us, event_id, value
        |  FROM events),
        |lastv AS (
        |  SELECT user_id, d, value FROM (
        |    SELECT user_id, d, value,
        |      row_number() OVER (PARTITION BY user_id, d ORDER BY us DESC, event_id DESC) AS rn
        |    FROM e) z WHERE rn = 1),
        |spine AS (
        |  SELECT u.user_id, CAST(g.gd AS DATE) AS d
        |  FROM (SELECT DISTINCT user_id FROM events) u
        |  CROSS JOIN (SELECT unnest(generate_series(DATE '2024-01-01', DATE '2024-01-30', INTERVAL 1 DAY)) AS gd) g)
        |SELECT s.user_id,
        |  datediff('day', DATE '1970-01-01', s.d) AS epoch_day,
        |  last_value(l.value IGNORE NULLS) OVER (PARTITION BY s.user_id ORDER BY s.d
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled,
        |  CAST(l.value IS NOT NULL AS INT) AS is_observed
        |FROM spine s LEFT JOIN lastv l ON s.user_id = l.user_id AND s.d = l.d
        |ORDER BY 1, 2""".stripMargin,

    "q_percent_total" ->
      // ratio-to-report: exact decimal sums, one shared double division
      """WITH seg AS (
        |  SELECT c_mktsegment, COUNT(*) AS n,
        |    SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS seg_bal
        |  FROM customer GROUP BY 1),
        |tot AS (SELECT SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS tot_bal FROM customer)
        |SELECT c_mktsegment, n, CAST(seg_bal AS DOUBLE) AS seg_bal,
        |  round(CAST(seg_bal AS DOUBLE) / CAST(tot_bal AS DOUBLE), 6) AS share
        |FROM seg, tot ORDER BY c_mktsegment""".stripMargin,

    "q_regex_extract_all" ->
      // all matches of the shared RE2/Java-common pattern; scalar rollup
      // (count/first/last) of the internal match array
      """WITH m AS (
        |  SELECT doc_id, regexp_extract_all(text, '[a-z]+a[a-z]*') AS ms FROM documents)
        |SELECT doc_id, CAST(len(ms) AS BIGINT) AS n_matches,
        |  ms[1] AS first_match, ms[-1] AS last_match
        |FROM m ORDER BY doc_id""".stripMargin,

    "q_cohort_ltv" ->
      // cumulative purchase value per signup cohort by week offset; cells
      // are exact decimal sums, the running sum adds exact 2-dp doubles
      // over the identical ordered frame
      """WITH e AS (
        |  SELECT user_id, event_type, value, date_trunc('week', ts) AS wk FROM events),
        |cohort AS (SELECT user_id, min(wk) AS cohort_wk FROM e GROUP BY 1),
        |cells AS (
        |  SELECT c.cohort_wk,
        |    CAST(datediff('day', CAST(c.cohort_wk AS DATE), CAST(e.wk AS DATE)) // 7 AS BIGINT) AS week_offset,
        |    COUNT(DISTINCT e.user_id) AS n_buyers,
        |    CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS wk_value
        |  FROM e JOIN cohort c USING (user_id)
        |  WHERE e.event_type = 'purchase' GROUP BY 1, 2)
        |SELECT epoch_us(cohort_wk) AS cohort_us, week_offset, n_buyers, wk_value,
        |  round(SUM(wk_value) OVER (PARTITION BY cohort_wk ORDER BY week_offset
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS cum_value
        |FROM cells ORDER BY 1, 2""".stripMargin,

    "q_quantile_bands" ->
      // equi-depth deciles per priority: ntile over the (cents, orderkey)
      // total order — deterministic band assignment in both engines
      """WITH o AS (
        |  SELECT o_orderpriority, o_orderkey,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS p_cents
        |  FROM orders),
        |b AS (
        |  SELECT o_orderpriority, p_cents,
        |    CAST(ntile(10) OVER (PARTITION BY o_orderpriority
        |                         ORDER BY p_cents, o_orderkey) AS BIGINT) AS band
        |  FROM o)
        |SELECT o_orderpriority, band, COUNT(*) AS n,
        |  CAST(min(p_cents) AS DOUBLE) / 100 AS lo,
        |  CAST(max(p_cents) AS DOUBLE) / 100 AS hi
        |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_changepoint" ->
      // integer-exact scaled CUSUM: T_i = n·cum_i − i·total (BIGINT), so
      // the argmax can never flip; one double division at the end
      """WITH daily AS (
        |  SELECT event_type,
        |    datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS epoch_day,
        |    count(*) AS x
        |  FROM events GROUP BY 1, 2),
        |c AS (
        |  SELECT event_type, epoch_day, x,
        |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY epoch_day) AS BIGINT) AS i,
        |    CAST(SUM(x) OVER (PARTITION BY event_type ORDER BY epoch_day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |    CAST(SUM(x) OVER (PARTITION BY event_type) AS BIGINT) AS total,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n_days
        |  FROM daily),
        |t AS (
        |  SELECT event_type, epoch_day, n_days,
        |    n_days * cum - i * total AS t_stat,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY abs(n_days * cum - i * total) DESC, epoch_day) AS rk
        |  FROM c)
        |SELECT event_type, epoch_day AS cp_day, n_days,
        |  round(CAST(t_stat AS DOUBLE) / CAST(n_days AS DOUBLE), 6) AS cusum_peak
        |FROM t WHERE rk = 1 ORDER BY event_type""".stripMargin,

    "q_psi" ->
      // PSI with Laplace-smoothed exact integer counts; fixed cents bands;
      // Σ(p−q)·ln(p/q) as one shared double tree, round-6
      """WITH e AS (
        |  SELECT event_type,
        |    datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) <= 19737 AS is_a,
        |    least(9, CAST(floor(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) / 1000) AS BIGINT)) AS band
        |  FROM events),
        |cnt AS (
        |  SELECT event_type, band,
        |    count(*) FILTER (is_a) AS ca, count(*) FILTER (NOT is_a) AS cb
        |  FROM e GROUP BY 1, 2),
        |w AS (
        |  SELECT event_type, band, ca, cb,
        |    CAST(SUM(ca) OVER (PARTITION BY event_type) AS BIGINT) AS na,
        |    CAST(SUM(cb) OVER (PARTITION BY event_type) AS BIGINT) AS nb
        |  FROM cnt),
        |pq AS (
        |  SELECT event_type,
        |    CAST(ca + 1 AS DOUBLE) / CAST(na + 10 AS DOUBLE) AS p,
        |    CAST(cb + 1 AS DOUBLE) / CAST(nb + 10 AS DOUBLE) AS q
        |  FROM w)
        |SELECT event_type, COUNT(*) AS n_bands,
        |  round(SUM((p - q) * ln(p / q)), 6) AS psi
        |FROM pq GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_spearman" ->
      // tie-averaged ranks doubled (min+max of the row_number rank per
      // tie group — exact BIGINT), centered on (n+1); rho = one shared
      // IEEE tree (div + two sqrts) over exact integer moments, round-6
      """WITH per AS (
        |  SELECT o_custkey, COUNT(*) AS x,
        |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS y
        |  FROM orders GROUP BY 1),
        |rk AS (
        |  SELECT o_custkey, x, y,
        |    ROW_NUMBER() OVER (ORDER BY x, o_custkey) AS rx,
        |    ROW_NUMBER() OVER (ORDER BY y, o_custkey) AS ry
        |  FROM per),
        |ar AS (
        |  SELECT
        |    MIN(rx) OVER (PARTITION BY x) + MAX(rx) OVER (PARTITION BY x) AS ax2,
        |    MIN(ry) OVER (PARTITION BY y) + MAX(ry) OVER (PARTITION BY y) AS ay2
        |  FROM rk),
        |c AS (SELECT COUNT(*) AS n FROM ar),
        |ctr AS (SELECT n, ax2 - (n + 1) AS cx, ay2 - (n + 1) AS cy FROM ar, c)
        |SELECT n, CAST(SUM(cx * cy) AS BIGINT) AS sxy,
        |  round(CAST(SUM(cx * cy) AS DOUBLE) /
        |        (sqrt(CAST(SUM(cx * cx) AS DOUBLE)) * sqrt(CAST(SUM(cy * cy) AS DOUBLE))), 6) AS rho
        |FROM ctr GROUP BY n""".stripMargin,

    "q_runs_test" ->
      // signs of nonzero daily diffs; R = 1 + sign changes (exact ints);
      // z = (R − (1 + 2n1n2/n)) / sqrt(2n1n2(2n1n2−n)/(n²(n−1))) — the
      // identical IEEE tree as the engine, round-6
      """WITH daily AS (
        |  SELECT event_type,
        |    datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS epoch_day,
        |    COUNT(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |d AS (
        |  SELECT event_type, epoch_day,
        |    cnt - lag(cnt) OVER (PARTITION BY event_type ORDER BY epoch_day) AS diff
        |  FROM daily),
        |mv AS (
        |  SELECT event_type, epoch_day,
        |    CASE WHEN diff > 0 THEN 1 ELSE -1 END AS mv
        |  FROM d WHERE diff IS NOT NULL AND diff <> 0),
        |chg AS (
        |  SELECT event_type, mv,
        |    lag(mv) OVER (PARTITION BY event_type ORDER BY epoch_day) AS pmv
        |  FROM mv),
        |agg AS (
        |  SELECT event_type,
        |    CAST(COUNT(CASE WHEN mv = 1 THEN 1 END) AS BIGINT) AS n1,
        |    CAST(COUNT(CASE WHEN mv = -1 THEN 1 END) AS BIGINT) AS n2,
        |    CAST(COUNT(CASE WHEN pmv IS NOT NULL AND pmv <> mv THEN 1 END) + 1 AS BIGINT) AS runs
        |  FROM chg GROUP BY 1)
        |SELECT event_type, n1, n2, runs,
        |  round((CAST(runs AS DOUBLE) -
        |         (1.0 + 2.0 * CAST(n1 * n2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))) /
        |        sqrt(2.0 * CAST(n1 * n2 AS DOUBLE) *
        |             (2.0 * CAST(n1 * n2 AS DOUBLE) - CAST(n1 + n2 AS DOUBLE)) /
        |             (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 AS DOUBLE) *
        |              (CAST(n1 + n2 AS DOUBLE) - 1))), 6) AS z
        |FROM agg WHERE n1 > 0 AND n2 > 0
        |ORDER BY event_type""".stripMargin,

    "q_mannwhitney" ->
      // pooled tie-averaged ranks doubled → 2R1, 2U1 exact BIGINTs;
      // tie-corrected z as one shared IEEE tree, round-6; u is an exact
      // half-integer double
      """WITH two AS (
        |  SELECT c_custkey, c_mktsegment AS seg,
        |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        |  FROM customer WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')),
        |rk AS (
        |  SELECT seg, v, ROW_NUMBER() OVER (ORDER BY v, c_custkey) AS rk FROM two),
        |ar AS (
        |  SELECT seg,
        |    MIN(rk) OVER (PARTITION BY v) + MAX(rk) OVER (PARTITION BY v) AS ar2
        |  FROM rk),
        |m AS (
        |  SELECT
        |    COUNT(CASE WHEN seg = 'BUILDING' THEN 1 END) AS n1,
        |    COUNT(CASE WHEN seg = 'MACHINERY' THEN 1 END) AS n2,
        |    CAST(SUM(CASE WHEN seg = 'BUILDING' THEN ar2 END) AS BIGINT) AS r1_2
        |  FROM ar),
        |tie AS (
        |  SELECT CAST(SUM(t * t * t - t) AS BIGINT) AS tsum
        |  FROM (SELECT COUNT(*) AS t FROM two GROUP BY v))
        |SELECT n1, n2,
        |  CAST(r1_2 - n1 * (n1 + 1) AS DOUBLE) / 2 AS u,
        |  round(CAST((r1_2 - n1 * (n1 + 1)) - n1 * n2 AS DOUBLE) /
        |    (2 * sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12 *
        |      (CAST(n1 + n2 + 1 AS DOUBLE) -
        |       CAST(tsum AS DOUBLE) /
        |         (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 - 1 AS DOUBLE))))), 6) AS z
        |FROM m, tie""".stripMargin,

    "q_cramers_v" ->
      // χ² terms over ≤15 cells as one IEEE tree (round-6 absorbs the Σ
      // order — the q_chisq pattern); V from the UNROUNDED χ²
      """WITH cells AS (
        |  SELECT o_orderpriority AS p, o_orderstatus AS s, COUNT(*) AS obs
        |  FROM orders GROUP BY 1, 2),
        |rt AS (SELECT p, SUM(obs) AS rt FROM cells GROUP BY 1),
        |ct AS (SELECT s, SUM(obs) AS ct FROM cells GROUP BY 1),
        |tot AS (SELECT CAST(SUM(obs) AS DOUBLE) AS n,
        |               COUNT(DISTINCT p) AS nr, COUNT(DISTINCT s) AS nc FROM cells),
        |x AS (
        |  SELECT n, nr, nc, COUNT(*) AS n_cells,
        |    SUM((CAST(obs AS DOUBLE) - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / n)
        |      * (CAST(obs AS DOUBLE) - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / n)
        |      / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / n)) AS chi2raw
        |  FROM cells JOIN rt USING (p) JOIN ct USING (s) CROSS JOIN tot
        |  GROUP BY 1, 2, 3)
        |SELECT CAST(n AS BIGINT) AS n_orders, n_cells, round(chi2raw, 6) AS chi2,
        |  round(sqrt(chi2raw / (n * (least(nr, nc) - 1))), 6) AS v
        |FROM x""".stripMargin,

    "q_rfm" ->
      // RFM quartiles WITHIN market segment (ntile fills early buckets
      // first under the same rule in both engines; every order ends in
      // the custkey tiebreak); anchor = max order date in the data
      """WITH o AS (
        |  SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM orders),
        |anchor AS (SELECT max(d) AS anchor FROM o),
        |pc AS (
        |  SELECT o_custkey, datediff('day', max(d), (SELECT anchor FROM anchor)) AS r_days,
        |    count(*) AS f, SUM(cents) AS m_cents
        |  FROM o GROUP BY 1),
        |j AS (
        |  SELECT pc.*, c.c_mktsegment AS seg
        |  FROM pc JOIN customer c ON c.c_custkey = pc.o_custkey),
        |b AS (
        |  SELECT seg,
        |    ntile(4) OVER (PARTITION BY seg ORDER BY r_days, o_custkey) AS r_bucket,
        |    ntile(4) OVER (PARTITION BY seg ORDER BY f DESC, o_custkey) AS f_bucket,
        |    ntile(4) OVER (PARTITION BY seg ORDER BY m_cents DESC, o_custkey) AS m_bucket,
        |    m_cents
        |  FROM j)
        |SELECT seg, r_bucket, f_bucket, m_bucket, COUNT(*) AS n_customers,
        |  CAST(SUM(m_cents) AS DOUBLE) / 100 AS cell_value
        |FROM b GROUP BY 1, 2, 3, 4 ORDER BY 1, 2, 3, 4""".stripMargin,

    "q_cumulative_uniques" ->
      // first-seen day per user, then daily new + running cumulative
      """WITH fd AS (
        |  SELECT user_id,
        |    min(datediff('day', DATE '1970-01-01', CAST(ts AS DATE))) AS epoch_day
        |  FROM events GROUP BY 1),
        |d AS (SELECT epoch_day, count(*) AS n_new FROM fd GROUP BY 1)
        |SELECT epoch_day, n_new,
        |  CAST(SUM(n_new) OVER (ORDER BY epoch_day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users
        |FROM d ORDER BY epoch_day""".stripMargin,

    "q_attribution" ->
      // first-touch channel by the (ts, event_id) total order; purchase
      // money exact decimal; non-buyers counted with zero value
      """WITH ft AS (
        |  SELECT user_id, event_type AS channel FROM (
        |    SELECT user_id, event_type,
        |      row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |    FROM events) z WHERE rn = 1),
        |sp AS (
        |  SELECT user_id,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS purchased,
        |    count(*) AS n_purchases
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1)
        |SELECT channel, COUNT(*) AS n_users,
        |  COUNT(purchased) AS n_buyers,
        |  CAST(SUM(n_purchases) AS BIGINT) AS n_purchases,
        |  CAST(SUM(CAST(COALESCE(purchased, 0) AS DECIMAL(18,2))) AS DOUBLE) AS attributed_value
        |FROM ft LEFT JOIN sp USING (user_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_ema" ->
      // adjust=True EWM with calendar-distance decay, factored running
      // form S1/S2 (the alpha^idx factors cancel exactly — one shared
      // op sequence; pow/div ulps absorbed by round-6)
      """WITH daily AS (
        |  SELECT event_type,
        |    datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS epoch_day,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |s AS (
        |  SELECT event_type, epoch_day, n,
        |    SUM(CAST(n AS DOUBLE) * pow(0.8, -CAST(epoch_day - 19723 AS DOUBLE))) OVER w AS s1,
        |    SUM(pow(0.8, -CAST(epoch_day - 19723 AS DOUBLE))) OVER w AS s2
        |  FROM daily
        |  WINDOW w AS (PARTITION BY event_type ORDER BY epoch_day
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT event_type, epoch_day, n, round(s1 / s2, 6) AS ema
        |FROM s ORDER BY event_type, epoch_day""".stripMargin,

    "q_interp_gapfill" ->
      // linear interpolation between bracketing observations (exact cents
      // + exact day gaps -> ONE shared double tree); edges stay NULL
      """WITH e AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d, epoch_us(ts) AS us, event_id,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v_cents
        |  FROM events),
        |lastv AS (
        |  SELECT user_id, d, v_cents FROM (
        |    SELECT user_id, d, v_cents,
        |      row_number() OVER (PARTITION BY user_id, d ORDER BY us DESC, event_id DESC) AS rn
        |    FROM e) z WHERE rn = 1),
        |spine AS (
        |  SELECT u.user_id, CAST(g.gd AS DATE) AS d
        |  FROM (SELECT DISTINCT user_id FROM events) u
        |  CROSS JOIN (SELECT unnest(generate_series(DATE '2024-01-01', DATE '2024-01-30', INTERVAL 1 DAY)) AS gd) g),
        |j AS (
        |  SELECT s.user_id, l.v_cents,
        |    datediff('day', DATE '1970-01-01', s.d) AS day,
        |    last_value(l.v_cents IGNORE NULLS) OVER wb AS vp,
        |    last_value(CASE WHEN l.v_cents IS NOT NULL
        |      THEN datediff('day', DATE '1970-01-01', s.d) END IGNORE NULLS) OVER wb AS dp,
        |    first_value(l.v_cents IGNORE NULLS) OVER wf AS vn,
        |    first_value(CASE WHEN l.v_cents IS NOT NULL
        |      THEN datediff('day', DATE '1970-01-01', s.d) END IGNORE NULLS) OVER wf AS dn
        |  FROM spine s LEFT JOIN lastv l ON s.user_id = l.user_id AND s.d = l.d
        |  WINDOW wb AS (PARTITION BY s.user_id ORDER BY s.d
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |         wf AS (PARTITION BY s.user_id ORDER BY s.d
        |                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT user_id, day AS epoch_day,
        |  round(CASE WHEN v_cents IS NOT NULL THEN CAST(v_cents AS DOUBLE) / 100
        |    WHEN vp IS NOT NULL AND vn IS NOT NULL THEN
        |      CAST(vp AS DOUBLE) / 100 + CAST(vn - vp AS DOUBLE) / 100 *
        |      (CAST(day - dp AS DOUBLE) / CAST(dn - dp AS DOUBLE))
        |    END, 6) AS interp,
        |  CAST(v_cents IS NOT NULL AS INT) AS is_observed
        |FROM j ORDER BY 1, 2""".stripMargin,

    "q_containment" ->
      // asymmetric containment |A∩B|/min(|A|,|B|) over docs 0..49 plus
      // their 60%-prefix fragments (id+100000) — sub-document structure
      // planted deterministically; round-6 before the 0.8 gate
      """WITH base AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents WHERE doc_id < 50),
        |t AS (
        |  SELECT doc_id, toks FROM base
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id,
        |    toks[1:CAST(ceil(len(toks) * 0.6) AS INT)] AS toks
        |  FROM base),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(CASE WHEN len(toks) < 3 THEN []
        |    ELSE list_transform(range(1, len(toks)-1), i -> array_to_string(toks[i:i+2], ' ')) END)) AS s
        |  FROM t),
        |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        |cm AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |c AS (
        |  SELECT id_a, id_b,
        |    round(CAST(common AS DOUBLE) / CAST(least(x.sz, y.sz) AS DOUBLE), 6) AS containment
        |  FROM cm JOIN sz x ON x.doc_id = id_a JOIN sz y ON y.doc_id = id_b)
        |SELECT id_a, id_b, containment FROM c
        |WHERE containment >= 0.8 ORDER BY id_a, id_b""".stripMargin,

    "q_weighted_median" ->
      // lower weighted median: smallest price with 2*cum >= total, all
      // selection arithmetic exact BIGINT (cents x integral quantities)
      """WITH li AS (
        |  SELECT l_returnflag AS flag,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS p,
        |    CAST(l_quantity AS BIGINT) AS q
        |  FROM lineitem),
        |per AS (SELECT flag, p, SUM(q) AS w FROM li GROUP BY 1, 2),
        |c AS (
        |  SELECT flag, p, w,
        |    SUM(w) OVER (PARTITION BY flag ORDER BY p
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    SUM(w) OVER (PARTITION BY flag) AS tw
        |  FROM per)
        |SELECT flag, round(CAST(min(p) AS DOUBLE) / 100, 6) AS w_median,
        |  CAST(max(tw) AS BIGINT) AS total_weight
        |FROM c WHERE cum * 2 >= tw GROUP BY flag ORDER BY flag""".stripMargin,

    "q_interval_coverage" ->
      // interval sweep entirely in BIGINT microseconds: running max of
      // prior ends flags island starts, running sum numbers islands
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) * 10000 AS len_us
        |  FROM events),
        |x AS (
        |  SELECT user_id, event_id, us, us + len_us AS end_us,
        |    max(us + len_us) OVER (PARTITION BY user_id ORDER BY us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max_end
        |  FROM e),
        |f AS (
        |  SELECT user_id, event_id, us, end_us,
        |    CASE WHEN prev_max_end IS NULL OR us > prev_max_end THEN 1 ELSE 0 END AS new_island
        |  FROM x),
        |num AS (
        |  SELECT user_id, us, end_us,
        |    SUM(new_island) OVER (PARTITION BY user_id ORDER BY us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM f),
        |isl AS (
        |  SELECT user_id, island, MIN(us) AS start_us, MAX(end_us) AS max_end_us
        |  FROM num GROUP BY 1, 2)
        |SELECT user_id, COUNT(*) AS n_islands,
        |  CAST(SUM(max_end_us - start_us) AS BIGINT) AS covered_us
        |FROM isl GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_delta_rank" ->
      // monthly decimal sums -> identical doubles; delta = one shared
      // IEEE subtraction; movers ranked by (delta desc, segment)
      """WITH m AS (
        |  SELECT year(o_orderdate) * 100 + month(o_orderdate) AS month_id, c_mktsegment,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |l AS (
        |  SELECT month_id, c_mktsegment, rev,
        |    lag(rev, 1) OVER (PARTITION BY c_mktsegment ORDER BY month_id) AS prev_rev
        |  FROM m)
        |SELECT month_id, c_mktsegment, rev, prev_rev, rev - prev_rev AS delta,
        |  row_number() OVER (PARTITION BY month_id ORDER BY rev - prev_rev DESC, c_mktsegment) AS mrank
        |FROM l WHERE prev_rev IS NOT NULL
        |ORDER BY month_id, mrank""".stripMargin,

    "q_ks_test" ->
      // KS in INTEGER arithmetic: d_num = max |cum1*n2 - cum2*n1| is an
      // exact BIGINT; the one division happens once at the end, round-6
      """WITH two AS (
        |  SELECT c_mktsegment, c_acctbal FROM customer
        |  WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')),
        |pv AS (
        |  SELECT c_acctbal,
        |    COUNT(CASE WHEN c_mktsegment = 'BUILDING' THEN 1 END) AS c1,
        |    COUNT(CASE WHEN c_mktsegment = 'MACHINERY' THEN 1 END) AS c2
        |  FROM two GROUP BY 1),
        |tot AS (SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2 FROM pv),
        |cum AS (
        |  SELECT
        |    CAST(SUM(c1) OVER (ORDER BY c_acctbal ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum1,
        |    CAST(SUM(c2) OVER (ORDER BY c_acctbal ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum2
        |  FROM pv)
        |SELECT n1, n2,
        |  CAST(MAX(ABS(cum1 * n2 - cum2 * n1)) AS BIGINT) AS d_num,
        |  round(CAST(MAX(ABS(cum1 * n2 - cum2 * n1)) AS DOUBLE) /
        |        (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)), 6) AS d
        |FROM cum, tot GROUP BY n1, n2""".stripMargin,

    // one-way ANOVA: exact per-segment integer-cents moments -> SSB/SSW
    // in one shared double tree; cross-group double sums round-6-absorbed
    "q_anova" ->
      """WITH v AS (
        |  SELECT c_mktsegment AS seg,
        |         CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        |  FROM customer),
        |g AS (
        |  SELECT seg, COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS s,
        |         CAST(SUM(v * v) AS BIGINT) AS q
        |  FROM v GROUP BY 1),
        |m AS (
        |  SELECT COUNT(*) AS k, CAST(SUM(n) AS BIGINT) AS n_total,
        |         CAST(SUM(s) AS BIGINT) AS ss,
        |         CAST(SUM(q) AS DOUBLE) AS qq,
        |         SUM(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) AS tt
        |  FROM g)
        |SELECT k, n_total,
        |  round(((tt - CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE) / CAST(n_total AS DOUBLE))
        |          / CAST(k - 1 AS DOUBLE))
        |        / ((qq - tt) / CAST(n_total - k AS DOUBLE)), 6) AS f,
        |  round((tt - CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE) / CAST(n_total AS DOUBLE))
        |        / ((tt - CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE) / CAST(n_total AS DOUBLE))
        |           + (qq - tt)), 6) AS eta_sq
        |FROM m WHERE k > 1 AND n_total > k""".stripMargin,

    // Kruskal–Wallis: pooled doubled-average-ranks (2·rank()+tie−1 per
    // row — matches Rank.rankExact min+max of the tie run), exact BIGINT
    // rank sums and tie correction, one IEEE tree round-6
    "q_kruskal_wallis" ->
      """WITH v AS (
        |  SELECT c_custkey, c_mktsegment AS seg,
        |         CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        |  FROM customer),
        |r AS (
        |  SELECT seg, v, rank() OVER (ORDER BY v) AS rk,
        |         COUNT(*) OVER (PARTITION BY v) AS c
        |  FROM v),
        |g AS (
        |  SELECT seg, COUNT(*) AS n,
        |         CAST(SUM(2 * rk + c - 1) AS BIGINT) AS r2
        |  FROM r GROUP BY 1),
        |t AS (SELECT CAST(SUM(t * t * t - t) AS BIGINT) AS tsum
        |      FROM (SELECT COUNT(*) AS t FROM v GROUP BY v)),
        |m AS (
        |  SELECT COUNT(*) AS k, CAST(SUM(n) AS BIGINT) AS nn,
        |         SUM(CAST(r2 AS DOUBLE) * CAST(r2 AS DOUBLE) / 4.0
        |             / CAST(n AS DOUBLE)) AS rr
        |  FROM g)
        |SELECT k, nn AS n_total,
        |  round((12.0 / (CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE) + 1.0)) * rr
        |         - 3.0 * (CAST(nn AS DOUBLE) + 1.0))
        |        / (1.0 - CAST(tsum AS DOUBLE)
        |                 / CAST(nn * nn * nn - nn AS DOUBLE)), 6) AS h
        |FROM m, t WHERE k > 1 AND nn > k AND tsum < nn * nn * nn - nn""".stripMargin,

    // HHI: supplier-grain exact cents revenue, per-nation concentration;
    // s_i^2 summed in DOUBLE (BIGINT would overflow near sf10), round-6
    "q_hhi" ->
      """WITH bys AS (
        |  SELECT l_suppkey,
        |         CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT))
        |              AS BIGINT) AS s
        |  FROM lineitem GROUP BY 1),
        |d AS (SELECT s_suppkey, n_name
        |      FROM supplier JOIN nation ON s_nationkey = n_nationkey),
        |g AS (
        |  SELECT n_name, COUNT(*) AS n_suppliers,
        |         CAST(SUM(s) AS BIGINT) AS total_cents,
        |         SUM(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) AS sq,
        |         CAST(MAX(s) AS BIGINT) AS smax
        |  FROM bys JOIN d ON bys.l_suppkey = d.s_suppkey
        |  GROUP BY 1)
        |SELECT n_name, n_suppliers, total_cents,
        |  round(sq / (CAST(total_cents AS DOUBLE) * CAST(total_cents AS DOUBLE)), 6) AS hhi,
        |  round(CAST(smax AS DOUBLE) / CAST(total_cents AS DOUBLE), 6) AS top_share
        |FROM g ORDER BY n_name""".stripMargin,

    "q_ttest" ->
      // Welch's t: exact conditional moments (decimal sums) -> ONE
      // shared double tree for t and the Welch-Satterthwaite df
      """WITH m AS (
        |  SELECT
        |    CAST(COUNT(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS n1,
        |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS s1,
        |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS q1,
        |    CAST(COUNT(CASE WHEN event_type = 'click' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS n2,
        |    CAST(SUM(CASE WHEN event_type = 'click' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS s2,
        |    CAST(SUM(CASE WHEN event_type = 'click' THEN CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS q2
        |  FROM events WHERE event_type IN ('purchase', 'click'))
        |SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
        |  round((s1 / n1 - s2 / n2) / sqrt(
        |    (q1 - s1 * s1 / n1) / (n1 - 1) / n1 + (q2 - s2 * s2 / n2) / (n2 - 1) / n2), 6) AS t,
        |  round(((q1 - s1 * s1 / n1) / (n1 - 1) / n1 + (q2 - s2 * s2 / n2) / (n2 - 1) / n2) *
        |        ((q1 - s1 * s1 / n1) / (n1 - 1) / n1 + (q2 - s2 * s2 / n2) / (n2 - 1) / n2) /
        |        ((q1 - s1 * s1 / n1) / (n1 - 1) / n1 * ((q1 - s1 * s1 / n1) / (n1 - 1) / n1) / (n1 - 1) +
        |         (q2 - s2 * s2 / n2) / (n2 - 1) / n2 * ((q2 - s2 * s2 / n2) / (n2 - 1) / n2) / (n2 - 1)), 6) AS df
        |FROM m WHERE n1 > 1 AND n2 > 1""".stripMargin,

    "q_market_basket" ->
      // pair support counts exact; lift = one final double, round-6;
      // bounded output (top-50 by the total order n_ab desc, a, b)
      """WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM b),
        |ic AS (SELECT l_partkey, COUNT(*) AS n_item FROM b GROUP BY 1),
        |p AS (
        |  SELECT b1.l_partkey AS a, b2.l_partkey AS b, COUNT(*) AS n_ab
        |  FROM b b1 JOIN b b2 ON b1.l_orderkey = b2.l_orderkey AND b1.l_partkey < b2.l_partkey
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2)
        |SELECT a, b, n_ab, ia.n_item AS n_a, ib.n_item AS n_b,
        |  round(CAST(n_ab AS DOUBLE) * CAST(n.n_orders AS DOUBLE) /
        |        (CAST(ia.n_item AS DOUBLE) * CAST(ib.n_item AS DOUBLE)), 6) AS lift
        |FROM p JOIN ic ia ON ia.l_partkey = a JOIN ic ib ON ib.l_partkey = b, n
        |ORDER BY n_ab DESC, a, b LIMIT 50""".stripMargin,

    "q_zipf_slope" ->
      // ranks from the total order (count desc, token asc); ln-sum ulp
      // drift absorbed by round-6 (the q_entropy argument)
      """WITH tc AS (
        |  SELECT tok, COUNT(*) AS cnt FROM (
        |    SELECT unnest(string_split(text, ' ')) AS tok FROM documents) t
        |  WHERE tok <> '' GROUP BY 1),
        |r AS (
        |  SELECT ln(CAST(row_number() OVER (ORDER BY cnt DESC, tok) AS DOUBLE)) AS x,
        |    ln(CAST(cnt AS DOUBLE)) AS y
        |  FROM tc ORDER BY cnt DESC, tok LIMIT 500),
        |m AS (
        |  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
        |    SUM(x) AS sx, SUM(x * x) AS sxx, SUM(y) AS sy, SUM(y * y) AS syy, SUM(x * y) AS sxy
        |  FROM r)
        |SELECT CAST(n AS BIGINT) AS n_ranks,
        |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
        |  round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6) AS intercept,
        |  round((n * sxy - sx * sy) * (n * sxy - sx * sy) /
        |        ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
        |FROM m""".stripMargin,

    "q_tokenize_cjk" ->
      // synthesized mixed ASCII+Han text from the SAME codepoint
      // arithmetic; the oracle states the expected tokenization directly:
      // the ASCII word whole, the unspaced Han run as character unigrams
      """WITH s AS (
        |  SELECT doc_id,
        |    'w' || CAST(doc_id % 5 AS VARCHAR) AS w,
        |    ['一','二','三','四','五','六','七','八'][CAST(doc_id % 8 AS INT) + 1] AS c1,
        |    ['一','二','三','四','五','六','七','八'][CAST((doc_id + 3) % 8 AS INT) + 1] AS c2,
        |    ['一','二','三','四','五','六','七','八'][CAST((doc_id + 5) % 8 AS INT) + 1] AS c3
        |  FROM documents),
        |t AS (SELECT doc_id, unnest([w, c1, c2, c3]) AS token FROM s)
        |SELECT token, COUNT(*) AS n, COUNT(DISTINCT doc_id) AS n_docs
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_url_canonicalize" ->
      // identical synthetic URLs both engines; canonicalization = the
      // same regex steps (RE2/Java-identical syntax, no backreferences;
      // DuckDB needs the 'g' flag to match Spark's always-global replace)
      """WITH u AS (
        |  SELECT doc_id,
        |    'HTTPS://Site' || CAST(doc_id % 5 AS VARCHAR) || '.Example.COM:443/Path/' ||
        |    CAST(doc_id % 13 AS VARCHAR) ||
        |    CASE WHEN doc_id % 4 = 0 THEN '?utm_source=x&id=' || CAST(doc_id % 3 AS VARCHAR)
        |         WHEN doc_id % 4 = 1 THEN '?id=' || CAST(doc_id % 3 AS VARCHAR) || '&utm_campaign=y&utm_medium=z'
        |         WHEN doc_id % 4 = 2 THEN '#sec' || CAST(doc_id % 3 AS VARCHAR)
        |         ELSE '/' END AS url
        |  FROM documents),
        |nf AS (SELECT doc_id, url, regexp_replace(url, '#.*$', '', 'g') AS u0 FROM u),
        |pf AS (SELECT doc_id, url, u0,
        |         regexp_extract(u0, '^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)', 1) AS pfx
        |       FROM nf),
        |c AS (
        |  SELECT doc_id, url,
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(
        |          regexp_replace(
        |            regexp_replace(lower(pfx) || substr(u0, length(pfx) + 1),
        |                           ':443/', '/', 'g'),
        |            ':443$', '', 'g'),
        |          'utm_[a-z]+=[^&#]*&', '', 'g'),
        |        '[?&]utm_[a-z]+=[^&#]*$', '', 'g'),
        |      '[/?]$', '', 'g') AS canon
        |  FROM pf)
        |SELECT canon, COUNT(*) AS n, COUNT(DISTINCT url) AS n_variants, MIN(doc_id) AS keep_doc
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_text_nfc" ->
      // identical mixed-normalization inputs built in plain SQL; the gate
      // proves the native UnicodeNormalize expression == DuckDB's
      // nfc_normalize byte-for-byte
      // raw combining characters live in the literal (NFD forms for
      // case 0/2, precomposed NFC for case 1)
      """WITH s AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 4 = 0 THEN 'café déjà'
        |         WHEN doc_id % 4 = 1 THEN 'café déjà'
        |         WHEN doc_id % 4 = 2 THEN 'über straße'
        |         ELSE 'plain ascii' END || ' #' || CAST(doc_id % 10 AS VARCHAR) AS s
        |  FROM documents)
        |SELECT doc_id, nfc_normalize(s) AS norm,
        |  CAST(s <> nfc_normalize(s) AS INT) AS changed
        |FROM s ORDER BY doc_id""".stripMargin,

    "q_window_exclude" ->
      // Spark has no frame EXCLUDE — the engine runs the algebraic form
      // (partition sum − own value over exact cents); the oracle runs
      // DuckDB's NATIVE "EXCLUDE CURRENT ROW", proving the workaround
      // row-identical to the real construct
      """WITH c AS (
        |  SELECT c_custkey, c_mktsegment,
        |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM customer),
        |x AS (
        |  SELECT c_custkey, c_mktsegment,
        |    COUNT(*) OVER (PARTITION BY c_mktsegment) - 1 AS n_peers,
        |    SUM(cents) OVER (PARTITION BY c_mktsegment
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
        |      EXCLUDE CURRENT ROW) AS peer_cents
        |  FROM c)
        |SELECT c_custkey, c_mktsegment, CAST(n_peers AS BIGINT) AS n_peers,
        |  round(CAST(peer_cents AS DOUBLE) / (100e0 * CAST(n_peers AS DOUBLE)), 6) AS peer_avg
        |FROM x WHERE n_peers > 0 ORDER BY c_custkey""".stripMargin,

    "q_rolling_median" ->
      // exact integer daily counts; both engines share the (n-1)*q
      // interpolated-percentile definition over the 7-row frame
      """WITH daily AS (
        |  SELECT event_type,
        |    datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS epoch_day,
        |    CAST(COUNT(*) AS DOUBLE) AS cnt
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, epoch_day, CAST(cnt AS BIGINT) AS cnt,
        |  round(quantile_cont(cnt, 0.5e0) OVER (PARTITION BY event_type ORDER BY epoch_day
        |        ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6) AS med7
        |FROM daily ORDER BY event_type, epoch_day""".stripMargin,

    "q_drawdown" ->
      // running peak = cumulative max over the daily series; drawdowns
      // exact integers; relative form maxed BEFORE the single round-6
      """WITH daily AS (
        |  SELECT event_type,
        |    datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS epoch_day,
        |    COUNT(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |p AS (
        |  SELECT event_type, cnt,
        |    MAX(cnt) OVER (PARTITION BY event_type ORDER BY epoch_day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
        |  FROM daily)
        |SELECT event_type, COUNT(*) AS n_days, CAST(MAX(peak) AS BIGINT) AS peak,
        |  CAST(MAX(peak - cnt) AS BIGINT) AS max_dd,
        |  round(MAX(CAST(peak - cnt AS DOUBLE) / CAST(peak AS DOUBLE)), 6) AS max_dd_rel
        |FROM p GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_bollinger" ->
      // all window moments exact BIGINTs over the daily census; the
      // breach flag is PURE INTEGER arithmetic ((n·x−Σx)² vs 4·(nΣx²−(Σx)²))
      // so no rounding boundary can flip it between engines
      """WITH daily AS (
        |  SELECT event_type,
        |    datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS epoch_day,
        |    COUNT(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |w AS (
        |  SELECT event_type, epoch_day, cnt,
        |    COUNT(*) OVER win AS n7,
        |    SUM(cnt) OVER win AS s7,
        |    SUM(cnt * cnt) OVER win AS q7
        |  FROM daily
        |  WINDOW win AS (PARTITION BY event_type ORDER BY epoch_day
        |                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
        |SELECT event_type, epoch_day, cnt,
        |  round(CAST(s7 AS DOUBLE) / CAST(n7 AS DOUBLE), 6) AS ma7,
        |  round(sqrt(CAST(n7 * q7 - s7 * s7 AS DOUBLE)) / CAST(n7 AS DOUBLE), 6) AS sd7,
        |  CAST(CASE WHEN n7 * cnt - s7 > 0
        |         AND (n7 * cnt - s7) * (n7 * cnt - s7) > 4 * (n7 * q7 - s7 * s7)
        |       THEN 1 ELSE 0 END AS INT) AS breach_hi
        |FROM w ORDER BY event_type, epoch_day""".stripMargin,

    // Mann–Kendall: same bounded pair join as q_theil_sen; S, n and both
    // tie corrections exact BIGINTs; tau_b and continuity-corrected z
    // are one IEEE tree each, round-6; all-tied types refused exactly
    "q_mann_kendall" ->
      """WITH daily AS (
        |  SELECT event_type,
        |    datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS epoch_day,
        |    COUNT(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |p AS (
        |  SELECT a.event_type,
        |    CAST(SUM(CASE WHEN b.cnt > a.cnt THEN 1
        |                  WHEN b.cnt < a.cnt THEN -1 ELSE 0 END) AS BIGINT) AS s
        |  FROM daily a JOIN daily b
        |    ON a.event_type = b.event_type AND a.epoch_day < b.epoch_day
        |  GROUP BY 1),
        |n AS (SELECT event_type, COUNT(*) AS n FROM daily GROUP BY 1),
        |t AS (
        |  SELECT event_type,
        |    CAST(SUM(t * (t - 1) // 2) AS BIGINT) AS tx,
        |    CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tv
        |  FROM (SELECT event_type, cnt, COUNT(*) AS t FROM daily GROUP BY 1, 2)
        |  GROUP BY 1)
        |SELECT p.event_type, s, n,
        |  round(CAST(s AS DOUBLE)
        |        / sqrt(CAST(n * (n - 1) // 2 - tx AS DOUBLE)
        |               * CAST(n * (n - 1) // 2 AS DOUBLE)), 6) AS tau_b,
        |  round((CAST(s AS DOUBLE) - sign(CAST(s AS DOUBLE)))
        |        / sqrt(CAST(n * (n - 1) * (2 * n + 5) - tv AS DOUBLE) / 18.0), 6) AS z
        |FROM p JOIN n USING (event_type) JOIN t USING (event_type)
        |WHERE n * (n - 1) // 2 > tx AND n * (n - 1) * (2 * n + 5) - tv > 0
        |ORDER BY event_type""".stripMargin,

    // rolling Pearson: exact BIGINT 14-window moments on the daily census
    // joined to the global daily total; casts precede the cross products
    // (no 2^63 risk), flat windows refused by exact integer tests
    "q_rolling_corr" ->
      """WITH ev AS (
        |  SELECT event_type,
        |    datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS epoch_day
        |  FROM events),
        |daily AS (SELECT event_type, epoch_day, COUNT(*) AS x
        |          FROM ev GROUP BY 1, 2),
        |tot AS (SELECT epoch_day, COUNT(*) AS y FROM ev GROUP BY 1),
        |mo AS (
        |  SELECT event_type, epoch_day, x, y,
        |    COUNT(*) OVER w14 AS n14,
        |    CAST(SUM(x) OVER w14 AS BIGINT) AS sx,
        |    CAST(SUM(y) OVER w14 AS BIGINT) AS sy,
        |    CAST(SUM(x * y) OVER w14 AS BIGINT) AS sxy,
        |    CAST(SUM(x * x) OVER w14 AS BIGINT) AS sxx,
        |    CAST(SUM(y * y) OVER w14 AS BIGINT) AS syy
        |  FROM daily JOIN tot USING (epoch_day)
        |  WINDOW w14 AS (PARTITION BY event_type ORDER BY epoch_day
        |                 ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
        |SELECT event_type, epoch_day, x, y,
        |  round(CAST(14 * sxy - sx * sy AS DOUBLE)
        |        / (sqrt(CAST(14 * sxx - sx * sx AS DOUBLE))
        |           * sqrt(CAST(14 * syy - sy * sy AS DOUBLE))), 6) AS corr14
        |FROM mo
        |WHERE n14 = 14 AND 14 * sxx - sx * sx > 0 AND 14 * syy - sy * sy > 0
        |ORDER BY event_type, epoch_day""".stripMargin,

    "q_theil_sen" ->
      // pairwise slopes on the bounded daily census; IEEE divisions of
      // exact integers sort identically in both engines; discrete lower
      // median (rank ⌈m/2⌉, day-pair tiebreak) selected BEFORE round-6
      """WITH daily AS (
        |  SELECT event_type,
        |    datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS epoch_day,
        |    COUNT(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |p AS (
        |  SELECT a.event_type,
        |    CAST(b.cnt - a.cnt AS DOUBLE) / CAST(b.epoch_day - a.epoch_day AS DOUBLE) AS slope,
        |    a.epoch_day AS da, b.epoch_day AS db
        |  FROM daily a JOIN daily b
        |    ON a.event_type = b.event_type AND a.epoch_day < b.epoch_day),
        |r AS (
        |  SELECT event_type, slope,
        |    row_number() OVER (PARTITION BY event_type ORDER BY slope, da, db) AS rn,
        |    COUNT(*) OVER (PARTITION BY event_type) AS m
        |  FROM p)
        |SELECT event_type, CAST(m AS BIGINT) AS n_pairs, round(slope, 6) AS slope
        |FROM r WHERE rn = (m + 1) // 2
        |ORDER BY event_type""".stripMargin,

    // interval stacking: +1/−1 boundary deltas at exact epoch-µs, two-phase
    // prefix sums (within-hour window + hour-grain offsets); peak argmax by
    // earliest microsecond — all integers, no float anywhere
    "q_peak_concurrency" ->
      """WITH ev AS (SELECT event_type, epoch_us(ts) AS us FROM events),
        |b AS (SELECT event_type, us, 1 AS delta FROM ev
        |      UNION ALL SELECT event_type, us + 1800000000, -1 FROM ev),
        |c AS (SELECT event_type, us, CAST(SUM(delta) AS BIGINT) AS delta,
        |             us // 3600000000 AS hr
        |      FROM b GROUP BY 1, 2),
        |r AS (SELECT event_type, us, hr,
        |        CAST(SUM(delta) OVER (PARTITION BY event_type, hr ORDER BY us
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run
        |      FROM c),
        |h AS (SELECT event_type, hr, CAST(SUM(delta) AS BIGINT) AS dsum
        |      FROM c GROUP BY 1, 2),
        |o AS (SELECT event_type, hr,
        |        COALESCE(CAST(SUM(dsum) OVER (PARTITION BY event_type ORDER BY hr
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
        |                 0) AS off
        |      FROM h),
        |conc AS (SELECT r.event_type, r.us, o.off + r.run AS conc
        |         FROM r JOIN o ON r.event_type = o.event_type AND r.hr = o.hr),
        |p AS (SELECT event_type, MAX(conc) AS peak FROM conc GROUP BY 1),
        |n AS (SELECT event_type, COUNT(*) AS n_events FROM ev GROUP BY 1)
        |SELECT conc.event_type, n_events, peak, MIN(us) AS peak_us
        |FROM conc JOIN p USING (event_type) JOIN n USING (event_type)
        |WHERE conc = peak
        |GROUP BY 1, 2, 3 ORDER BY event_type""".stripMargin,

    // burn rate: exact BIGINT 7-window sums over the global daily
    // (err, tot) census; burn multiple = one shared IEEE tree round-6
    "q_cusum" ->
      // CUSUM in prefix-sum closed form: S+ = P - min(0, running min P);
      // all BIGINT (deviations scaled by n; k/h integer-floor cents), so
      // the alarm is an exact integer compare in both engines
      """WITH d AS (
        |  SELECT datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS epoch_day,
        |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS x
        |  FROM orders GROUP BY 1),
        |s AS (SELECT COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS t FROM d),
        |p AS (
        |  SELECT epoch_day, x, n, t,
        |    CAST(SUM(n * x - t - n * (t // (20 * n))) OVER w AS BIGINT) AS pp
        |  FROM d, s
        |  WINDOW w AS (ORDER BY epoch_day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |m AS (
        |  SELECT epoch_day, x, n, t, pp,
        |    CAST(MIN(pp) OVER (ORDER BY epoch_day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS pmin
        |  FROM p)
        |SELECT epoch_day, CAST(x AS DOUBLE) / 100.0 AS revenue,
        |  CAST((pp - LEAST(0, pmin)) // n AS DOUBLE) / 100.0 AS s_plus,
        |  CAST(CASE WHEN pp - LEAST(0, pmin) > n * (t // (2 * n)) THEN 1 ELSE 0 END AS INT) AS alarm
        |FROM m ORDER BY epoch_day""".stripMargin,

    "q_burn_rate" ->
      """WITH d AS (
        |  SELECT datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS epoch_day,
        |    CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS err,
        |    COUNT(*) AS tot
        |  FROM events GROUP BY 1),
        |r AS (
        |  SELECT epoch_day, err, tot,
        |    COUNT(*) OVER w7 AS n7,
        |    CAST(SUM(err) OVER w7 AS BIGINT) AS err7,
        |    CAST(SUM(tot) OVER w7 AS BIGINT) AS tot7
        |  FROM d
        |  WINDOW w7 AS (ORDER BY epoch_day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
        |SELECT epoch_day, err, tot, err7, tot7,
        |  round(CAST(err7 AS DOUBLE) / CAST(tot7 AS DOUBLE) / 0.01, 6) AS burn7x
        |FROM r WHERE n7 = 7 ORDER BY epoch_day""".stripMargin,

    // additive decomposition: BIGINT 7-day sums -> deterministic
    // trend/det IEEE expressions; seasonal mean round-6 absorbed; the
    // remainder subtracts the ROUNDED seasonal from deterministic det
    "q_decompose_daily" ->
      """WITH daily AS (
        |  SELECT event_type,
        |    datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS epoch_day,
        |    COUNT(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |t AS (
        |  SELECT event_type, epoch_day, cnt,
        |    COUNT(*) OVER w7 AS n7,
        |    CAST(SUM(cnt) OVER w7 AS BIGINT) AS s7
        |  FROM daily
        |  WINDOW w7 AS (PARTITION BY event_type ORDER BY epoch_day
        |                ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |f AS (
        |  SELECT event_type, epoch_day, cnt,
        |    CAST(s7 AS DOUBLE) / 7.0 AS trend,
        |    CAST(cnt AS DOUBLE) - CAST(s7 AS DOUBLE) / 7.0 AS det,
        |    (epoch_day + 3) % 7 + 1 AS dow
        |  FROM t WHERE n7 = 7),
        |seas AS (
        |  SELECT event_type, dow,
        |    round(SUM(det) / CAST(COUNT(*) AS DOUBLE), 6) AS seasonal
        |  FROM f GROUP BY 1, 2)
        |SELECT f.event_type, epoch_day, cnt, round(trend, 6) AS trend,
        |  seasonal, round(det - seasonal, 6) AS remainder
        |FROM f JOIN seas ON f.event_type = seas.event_type AND f.dow = seas.dow
        |ORDER BY f.event_type, epoch_day""".stripMargin,

    // k-anonymity: QI-grain census -> class-size histogram; floor (not
    // integer div) banding because balances go negative and the two
    // engines' integer division semantics differ on negatives
    "q_k_anonymity" ->
      """WITH cls AS (
        |  SELECT c_nationkey, c_mktsegment,
        |    CAST(floor(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
        |               / 100000.0) AS BIGINT) AS band,
        |    COUNT(*) AS class_size
        |  FROM customer GROUP BY 1, 2, 3)
        |SELECT class_size, COUNT(*) AS n_classes,
        |  CAST(class_size * COUNT(*) AS BIGINT) AS n_rows
        |FROM cls GROUP BY 1 ORDER BY 1""".stripMargin,

    // Poisson rate shift: data-derived midpoint split, exact conditional
    // counts and day spans, one shared IEEE tree round-6
    "q_rate_shift" ->
      """WITH d AS (
        |  SELECT event_type,
        |    datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day
        |  FROM events),
        |b AS (SELECT min(day) AS mn, max(day) AS mx,
        |             (min(day) + max(day) + 1) // 2 AS mid FROM d),
        |g AS (
        |  SELECT event_type,
        |    CAST(SUM(CASE WHEN day < mid THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(SUM(CASE WHEN day >= mid THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        |    CAST(mid - mn AS BIGINT) AS t1,
        |    CAST(mx - mid + 1 AS BIGINT) AS t2
        |  FROM d, b GROUP BY 1, mid, mn, mx)
        |SELECT event_type, n1, n2, t1, t2,
        |  round((CAST(n1 AS DOUBLE) / CAST(t1 AS DOUBLE)
        |         - CAST(n2 AS DOUBLE) / CAST(t2 AS DOUBLE))
        |        / sqrt(CAST(n1 AS DOUBLE) / (CAST(t1 AS DOUBLE) * CAST(t1 AS DOUBLE))
        |               + CAST(n2 AS DOUBLE) / (CAST(t2 AS DOUBLE) * CAST(t2 AS DOUBLE))), 6) AS z
        |FROM g WHERE n1 + n2 > 0 AND t1 > 0 AND t2 > 0
        |ORDER BY event_type""".stripMargin,

    // Cutler's RSI: integer day-over-day deltas, exact 14-window BIGINT
    // gain/loss sums, ONE IEEE division; full-window + nonflat rows only
    "q_rsi" ->
      """WITH daily AS (
        |  SELECT event_type,
        |    datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS epoch_day,
        |    COUNT(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |d AS (
        |  SELECT event_type, epoch_day, cnt,
        |    cnt - lag(cnt) OVER (PARTITION BY event_type ORDER BY epoch_day) AS delta
        |  FROM daily),
        |r AS (
        |  SELECT event_type, epoch_day, cnt,
        |    COUNT(delta) OVER w14 AS n14,
        |    CAST(SUM(greatest(delta, 0)) OVER w14 AS BIGINT) AS sg,
        |    CAST(SUM(greatest(-delta, 0)) OVER w14 AS BIGINT) AS sl
        |  FROM d
        |  WINDOW w14 AS (PARTITION BY event_type ORDER BY epoch_day
        |                 ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
        |SELECT event_type, epoch_day, cnt, sg AS sum_gain, sl AS sum_loss,
        |  round(CAST(sg AS DOUBLE) * 100.0 / CAST(sg + sl AS DOUBLE), 6) AS rsi14
        |FROM r WHERE n14 = 14 AND sg + sl > 0
        |ORDER BY event_type, epoch_day""".stripMargin,

    "q_wma" ->
      // weighted sum exact in BIGINT (weights 7..1, newest heaviest);
      // full-window rows only; ONE IEEE division by 28, round-6
      """WITH daily AS (
        |  SELECT event_type,
        |    datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS epoch_day,
        |    COUNT(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |l AS (
        |  SELECT event_type, epoch_day, cnt,
        |    lag(cnt, 1) OVER w AS x1, lag(cnt, 2) OVER w AS x2,
        |    lag(cnt, 3) OVER w AS x3, lag(cnt, 4) OVER w AS x4,
        |    lag(cnt, 5) OVER w AS x5, lag(cnt, 6) OVER w AS x6
        |  FROM daily
        |  WINDOW w AS (PARTITION BY event_type ORDER BY epoch_day))
        |SELECT event_type, epoch_day, cnt,
        |  round(CAST(7 * cnt + 6 * x1 + 5 * x2 + 4 * x3 + 3 * x4 + 2 * x5 + 1 * x6
        |             AS DOUBLE) / 28.0, 6) AS wma7
        |FROM l WHERE x6 IS NOT NULL
        |ORDER BY event_type, epoch_day""".stripMargin,

    "q_seasonal_index" ->
      // ISO dow from the epoch day (1970-01-01 = Thursday = ISO 4) — an
      // arithmetic definition, not a locale; index = one exact BIGINT
      // ratio (s_dow*n_days)/(n_dow*s_tot), single IEEE division, round-6
      """WITH daily AS (
        |  SELECT event_type,
        |    datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS epoch_day,
        |    COUNT(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |d2 AS (
        |  SELECT event_type, cnt,
        |    CAST((epoch_day + 3) % 7 + 1 AS INT) AS dow
        |  FROM daily),
        |by_dow AS (
        |  SELECT event_type, dow, COUNT(*) AS n_dow, CAST(SUM(cnt) AS BIGINT) AS s_dow
        |  FROM d2 GROUP BY 1, 2),
        |by_type AS (
        |  SELECT event_type, COUNT(*) AS n_days, CAST(SUM(cnt) AS BIGINT) AS s_tot
        |  FROM d2 GROUP BY 1)
        |SELECT a.event_type, a.dow, a.n_dow,
        |  round(CAST(a.s_dow * b.n_days AS DOUBLE) /
        |        CAST(a.n_dow * b.s_tot AS DOUBLE), 6) AS idx
        |FROM by_dow a JOIN by_type b USING (event_type)
        |ORDER BY a.event_type, a.dow""".stripMargin,

    "q_benford" ->
      // first digit via the DECIMAL(18,2) string rendering (both engines
      // print plain digits); exact counts; expectation = one log10 tree
      """WITH d AS (
        |  SELECT CAST(substr(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR), 1, 1) AS INT) AS digit
        |  FROM orders WHERE o_totalprice >= 1e0),
        |c AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY 1),
        |t AS (SELECT CAST(SUM(n) AS BIGINT) AS n_total FROM c)
        |SELECT digit, n,
        |  round(CAST(n AS DOUBLE) / CAST(n_total AS DOUBLE), 6) AS pct,
        |  round(log10(1e0 + 1e0 / CAST(digit AS DOUBLE)), 6) AS benford_pct
        |FROM c, t ORDER BY digit""".stripMargin,

    "q_skyline" ->
      // collapse to best size per exact price cent, then the running-max
      // RANGE frame over strictly cheaper points — linear, no pair join
      """WITH pp AS (
        |  SELECT CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price_cents,
        |    MAX(p_size) AS size, COUNT(*) AS n_at_price
        |  FROM part GROUP BY 1),
        |w AS (
        |  SELECT price_cents, size, n_at_price,
        |    MAX(size) OVER (ORDER BY price_cents
        |      RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS best_cheaper
        |  FROM pp)
        |SELECT price_cents, CAST(size AS BIGINT) AS size, n_at_price
        |FROM w WHERE best_cheaper IS NULL OR size > best_cheaper
        |ORDER BY price_cents""".stripMargin,

    "q_survival" ->
      // identical duration/censoring arithmetic (time to first
      // purchase; never-converters censored at their span); S = exp of
      // the running ln-sum — identical IEEE terms in identical window
      // order; a terminal d == n step pins S to exactly 0
      """WITH pu AS (
        |  SELECT user_id, MIN(epoch_us(ts)) AS first_us, MAX(epoch_us(ts)) AS last_us,
        |    MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS conv_us
        |  FROM events GROUP BY 1),
        |dur AS (
        |  SELECT CASE WHEN conv_us IS NOT NULL THEN (conv_us - first_us) // 86400000000
        |              ELSE (last_us - first_us) // 86400000000 END AS t,
        |    CASE WHEN conv_us IS NOT NULL THEN 0 ELSE 1 END AS censored
        |  FROM pu),
        |byt AS (
        |  SELECT t, CAST(SUM(1 - censored) AS BIGINT) AS d, CAST(SUM(censored) AS BIGINT) AS c
        |  FROM dur GROUP BY 1),
        |st AS (
        |  SELECT t, d, c,
        |    CAST(SUM(d + c) OVER (ORDER BY t ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS n_at_risk
        |  FROM byt),
        |tm AS (
        |  SELECT t, d, c, n_at_risk,
        |    CASE WHEN d > 0 AND d < n_at_risk
        |         THEN ln(CAST(n_at_risk - d AS DOUBLE) / CAST(n_at_risk AS DOUBLE))
        |         ELSE 0e0 END AS term,
        |    MAX(CASE WHEN d = n_at_risk THEN 1 ELSE 0 END)
        |      OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dead_end
        |  FROM st)
        |SELECT t, d, c, n_at_risk,
        |  CASE WHEN dead_end = 1 THEN 0e0
        |       ELSE round(exp(SUM(term) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6)
        |  END AS s
        |FROM tm ORDER BY t""".stripMargin,

    "q_source_similarity" ->
      // exact integer counts; dot and norms are exact sums; ONE shared
      // dot/sqrt(na*nb) tree, round-6
      """WITH c AS (
        |  SELECT source, tok, COUNT(*) AS c FROM (
        |    SELECT source, unnest(string_split(text, ' ')) AS tok
        |    FROM documents) t
        |  WHERE tok <> '' GROUP BY 1, 2),
        |n AS (SELECT source, CAST(SUM(c * c) AS BIGINT) AS n2 FROM c GROUP BY 1),
        |d AS (
        |  SELECT x.source AS a, y.source AS b, CAST(SUM(x.c * y.c) AS BIGINT) AS dot
        |  FROM c x JOIN c y ON x.tok = y.tok AND x.source < y.source
        |  GROUP BY 1, 2)
        |SELECT a, b,
        |  round(CAST(dot AS DOUBLE) / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)), 6) AS cos
        |FROM d JOIN n na ON na.source = a JOIN n nb ON nb.source = b
        |ORDER BY a, b""".stripMargin,

    "q_pareto_topn" ->
      // exact integer cents; the 80% boundary is the BIGINT test
      // 5*cum >= 4*total, so it cannot flip between engines
      """WITH spend AS (
        |  SELECT c_mktsegment, c_custkey,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |r AS (
        |  SELECT c_mktsegment, cents,
        |    CAST(row_number() OVER (PARTITION BY c_mktsegment ORDER BY cents DESC, c_custkey) AS BIGINT) AS rk,
        |    CAST(SUM(cents) OVER (PARTITION BY c_mktsegment ORDER BY cents DESC, c_custkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |    CAST(SUM(cents) OVER (PARTITION BY c_mktsegment) AS BIGINT) AS total,
        |    CAST(COUNT(*) OVER (PARTITION BY c_mktsegment) AS BIGINT) AS n_customers
        |  FROM spend)
        |SELECT c_mktsegment, n_customers, MIN(rk) AS n_top80,
        |  round(CAST(MIN(rk) AS DOUBLE) / CAST(n_customers AS DOUBLE), 6) AS head_share
        |FROM r WHERE cum * 5 >= total * 4
        |GROUP BY c_mktsegment, n_customers, total
        |ORDER BY c_mktsegment""".stripMargin,

    "q_freshness" ->
      // exact integer microseconds; lag vs the freshest stream
      """WITH l AS (
        |  SELECT event_type, MAX(epoch_us(ts)) AS last_us, COUNT(*) AS n_events
        |  FROM events GROUP BY 1),
        |g AS (SELECT MAX(last_us) AS global_us FROM l)
        |SELECT event_type, n_events, last_us, global_us - last_us AS lag_us
        |FROM l, g ORDER BY event_type""".stripMargin,

    // density grid over the shared synthetic points: integer cells,
    // exact counts/id sums, round-6 centroids
    "q_geo_grid" ->
      """WITH p AS (
        |  SELECT c_custkey AS id,
        |    CAST((c_custkey * 37) % 1000 AS DOUBLE) / 100e0 + 40e0 AS lat,
        |    CAST((c_custkey * 73) % 2000 AS DOUBLE) / 100e0 AS lon
        |  FROM customer)
        |SELECT CAST(floor(lat) AS BIGINT) AS cell_lat,
        |  CAST(floor(lon) AS BIGINT) AS cell_lon,
        |  COUNT(*) AS n_points, CAST(SUM(id) AS BIGINT) AS sum_id,
        |  round(SUM(lat) / CAST(COUNT(*) AS DOUBLE), 6) AS centroid_lat,
        |  round(SUM(lon) / CAST(COUNT(*) AS DOUBLE), 6) AS centroid_lon
        |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // join-key skew census: per-key counts -> value histogram ->
    // cumulative median pick; skew = max*n_keys/n_rows, one division
    "q_skew_diag" ->
      """WITH a AS (
        |  SELECT 'lineitem_per_orderkey' AS side, l_orderkey AS k FROM lineitem
        |  UNION ALL
        |  SELECT 'orders_per_custkey', o_custkey FROM orders),
        |census AS (SELECT side, k, COUNT(*) AS c FROM a GROUP BY 1, 2),
        |hist AS (SELECT side, c, COUNT(*) AS nk FROM census GROUP BY 1, 2),
        |s AS (
        |  SELECT side, c, nk,
        |    CAST(SUM(nk) OVER (PARTITION BY side ORDER BY c
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |    CAST(SUM(nk) OVER (PARTITION BY side) AS BIGINT) AS n_keys,
        |    CAST(SUM(c * nk) OVER (PARTITION BY side) AS BIGINT) AS n_rows,
        |    CAST(MAX(c) OVER (PARTITION BY side) AS BIGINT) AS max_c
        |  FROM hist)
        |SELECT side, n_keys, n_rows, max_c AS max_per_key, c AS p50_per_key,
        |  round(CAST(max_c * n_keys AS DOUBLE) / CAST(n_rows AS DOUBLE), 6) AS skew_ratio
        |FROM s
        |WHERE cum >= (n_keys + 1) // 2 AND cum - nk < (n_keys + 1) // 2
        |ORDER BY side""".stripMargin,

    "q_geo_distance" ->
      // identical synthetic coordinates; haversine as ONE shared tree
      // mirroring the engine's exact argument order (no sign flips —
      // libm odd-symmetry exactness is not guaranteed); round-6 absorbs
      // sin/cos/asin ulp drift across runtimes (the ln argument)
      """WITH p AS (
        |  SELECT c_custkey AS id,
        |    CAST((c_custkey * 37) % 1000 AS DOUBLE) / 100e0 + 40e0 AS lat,
        |    CAST((c_custkey * 73) % 2000 AS DOUBLE) / 100e0 AS lon
        |  FROM customer)
        |SELECT id, round(12742e0 * asin(sqrt(
        |  sin(radians(45e0 - lat) / 2e0) * sin(radians(45e0 - lat) / 2e0) +
        |  cos(radians(lat)) * cos(radians(45e0)) *
        |  sin(radians(10e0 - lon) / 2e0) * sin(radians(10e0 - lon) / 2e0))), 6) AS hub_km
        |FROM p ORDER BY id""".stripMargin,

    "q_geo_join" ->
      // 2-degree-cell 5x3 neighborhood equi-join (dx -2..2: at lat ~50 a
      // 150 km radius spans up to ~2.1 deg of lon = two cells — see
      // Geo.geoJoin), exact haversine verify on the ROUNDED km, rollup
      """WITH p AS (
        |  SELECT c_custkey AS id,
        |    CAST((c_custkey * 37) % 1000 AS DOUBLE) / 100e0 + 40e0 AS lat,
        |    CAST((c_custkey * 73) % 2000 AS DOUBLE) / 100e0 AS lon
        |  FROM customer),
        |c AS (SELECT id, lat, lon,
        |        CAST(floor(lon / 2e0) AS BIGINT) AS cx,
        |        CAST(floor(lat / 2e0) AS BIGINT) AS cy FROM p),
        |pr AS (
        |  SELECT a.id AS a, a.lat AS alat, a.lon AS alon,
        |         a.cx + dxt.dx AS cx, a.cy + dyt.dy AS cy
        |  FROM c a, (VALUES (-2), (-1), (0), (1), (2)) dxt(dx), (VALUES (-1), (0), (1)) dyt(dy)
        |  WHERE a.id % 20 = 0 AND a.id <= 3000),
        |cand AS (
        |  SELECT pr.a, b.id AS b,
        |    round(12742e0 * asin(sqrt(
        |      sin(radians(b.lat - pr.alat) / 2e0) * sin(radians(b.lat - pr.alat) / 2e0) +
        |      cos(radians(pr.alat)) * cos(radians(b.lat)) *
        |      sin(radians(b.lon - pr.alon) / 2e0) * sin(radians(b.lon - pr.alon) / 2e0))), 6) AS km
        |  FROM pr JOIN c b ON b.cx = pr.cx AND b.cy = pr.cy
        |  WHERE pr.a <> b.id),
        |f AS (SELECT a, b, km FROM cand WHERE km <= 150e0)
        |SELECT a, n_neighbors, b AS nearest_id, km AS nearest_km FROM (
        |  SELECT a, b, km,
        |    row_number() OVER (PARTITION BY a ORDER BY km, b) AS rn,
        |    COUNT(*) OVER (PARTITION BY a) AS n_neighbors
        |  FROM f) z
        |WHERE rn = 1 ORDER BY a""".stripMargin,

    "q_mad_outliers" ->
      // exact interpolated medians (quantile_cont == percentile); the
      // 1.8 gate tests the ROUNDED score so the boundary cannot flip
      """WITH c AS (
        |  SELECT c_custkey, c_mktsegment, CAST(c_acctbal AS DOUBLE) AS v FROM customer),
        |med AS (SELECT c_mktsegment, quantile_cont(v, 0.5e0) AS med FROM c GROUP BY 1),
        |mad AS (SELECT c.c_mktsegment, med, quantile_cont(abs(v - med), 0.5e0) AS mad
        |        FROM c JOIN med USING (c_mktsegment) GROUP BY 1, 2)
        |SELECT c_custkey, c.c_mktsegment, round(abs(v - med) / mad, 6) AS score
        |FROM c JOIN mad USING (c_mktsegment)
        |WHERE mad > 0 AND round(abs(v - med) / mad, 6) > 1.8e0
        |ORDER BY c_custkey""".stripMargin,

    "q_gini" ->
      // exact integer cents x integer ranks: numerator and denominator
      // are exact, the one division is shared, round-6
      """WITH spend AS (
        |  SELECT c_mktsegment, c_custkey,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |r AS (
        |  SELECT c_mktsegment, cents,
        |    CAST(row_number() OVER (PARTITION BY c_mktsegment ORDER BY cents, c_custkey) AS BIGINT) AS i
        |  FROM spend)
        |SELECT c_mktsegment, COUNT(*) AS n_customers,
        |  round(CAST(SUM((i * 2 - 1) * cents) - COUNT(*) * SUM(cents) AS DOUBLE) /
        |        CAST(COUNT(*) * SUM(cents) AS DOUBLE), 6) AS gini
        |FROM r GROUP BY 1 HAVING SUM(cents) > 0 ORDER BY 1""".stripMargin,

    "q_mode" ->
      // PG mode() tie rule made explicit: (count desc, value asc) under
      // row_number — both engines run the same deterministic form
      """WITH c AS (SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
        |           FROM orders GROUP BY 1, 2),
        |r AS (SELECT o_orderstatus, o_orderpriority, n,
        |        row_number() OVER (PARTITION BY o_orderstatus ORDER BY n DESC, o_orderpriority) AS rk
        |      FROM c)
        |SELECT o_orderstatus, o_orderpriority AS mode_priority, n
        |FROM r WHERE rk = 1 ORDER BY 1""".stripMargin,

    "q_chisq" ->
      // weekday = epoch-day mod 7 (engine-portable origin); exact counts;
      // (obs-exp)^2/exp as one double tree, round-6 over <=35 cells
      """WITH cells AS (
        |  SELECT event_type,
        |    CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) % 7 AS BIGINT) AS dow,
        |    COUNT(*) AS obs
        |  FROM events GROUP BY 1, 2),
        |rt AS (SELECT event_type, CAST(SUM(obs) AS BIGINT) AS rt FROM cells GROUP BY 1),
        |ct AS (SELECT dow, CAST(SUM(obs) AS BIGINT) AS ct FROM cells GROUP BY 1),
        |tot AS (SELECT CAST(SUM(obs) AS DOUBLE) AS n,
        |               COUNT(DISTINCT event_type) AS nr, COUNT(DISTINCT dow) AS nc
        |        FROM cells)
        |SELECT CAST(tot.n AS BIGINT) AS n_events, COUNT(*) AS n_cells,
        |  CAST((tot.nr - 1) * (tot.nc - 1) AS BIGINT) AS dof,
        |  round(SUM((CAST(cells.obs AS DOUBLE) - CAST(rt.rt AS DOUBLE) * CAST(ct.ct AS DOUBLE) / tot.n)
        |          * (CAST(cells.obs AS DOUBLE) - CAST(rt.rt AS DOUBLE) * CAST(ct.ct AS DOUBLE) / tot.n)
        |          / (CAST(rt.rt AS DOUBLE) * CAST(ct.ct AS DOUBLE) / tot.n)), 6) AS chi2
        |FROM cells JOIN rt USING (event_type) JOIN ct USING (dow), tot
        |GROUP BY tot.n, tot.nr, tot.nc""".stripMargin,

    "q_token_pmi" ->
      // adjacent-pair counts exact; PMI as ONE identical double tree
      """WITH t AS (SELECT list_filter(string_split(text, ' '), x -> x <> '') AS t FROM documents),
        |bi AS (SELECT u.a AS a, u.b AS b FROM (
        |        SELECT unnest(list_transform(range(1, len(t)), i -> {'a': t[i], 'b': t[i+1]})) AS u
        |        FROM t) z),
        |bc AS (SELECT a, b, COUNT(*) AS c_ab FROM bi GROUP BY 1, 2),
        |uc AS (SELECT tok, COUNT(*) AS c FROM (SELECT unnest(t) AS tok FROM t) u GROUP BY 1),
        |n AS (SELECT CAST(SUM(c) AS DOUBLE) AS n FROM uc),
        |m AS (SELECT CAST(SUM(c_ab) AS DOUBLE) AS m FROM bc)
        |SELECT bc.a, bc.b, bc.c_ab,
        |  round(ln((CAST(bc.c_ab AS DOUBLE) / m.m) /
        |           ((CAST(ua.c AS DOUBLE) / n.n) * (CAST(ub.c AS DOUBLE) / n.n))), 6) AS pmi
        |FROM bc JOIN uc ua ON ua.tok = bc.a JOIN uc ub ON ub.tok = bc.b, n, m
        |ORDER BY bc.c_ab DESC, bc.a, bc.b LIMIT 20""".stripMargin,

    "q_autocorr" ->
      // exact daily counts; Pearson over (cnt, lag) with NULL-lag pairs
      // dropped identically; round-6 absorbs double-sum order drift
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d, CAST(COUNT(*) AS DOUBLE) AS cnt
        |  FROM events GROUP BY 1, 2),
        |lagged AS (
        |  SELECT event_type, cnt,
        |    lag(cnt, 1) OVER (PARTITION BY event_type ORDER BY d) AS l1,
        |    lag(cnt, 7) OVER (PARTITION BY event_type ORDER BY d) AS l7
        |  FROM daily)
        |SELECT event_type, COUNT(*) AS n_days,
        |  round(corr(cnt, l1), 6) AS acf1, round(corr(cnt, l7), 6) AS acf7
        |FROM lagged GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_entropy" ->
      // exact (lang, token) counts; the double Σ of -p·ln(p) terms drifts
      // by ulps across engines' sum orders — absorbed by round-6 (the
      // tfidf ln-tolerance argument)
      """WITH t AS (
        |  SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents),
        |t2 AS (SELECT lang, tok FROM t WHERE tok <> ''),
        |tf AS (SELECT lang, tok, COUNT(*) AS c FROM t2 GROUP BY 1, 2),
        |tot AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS n_tokens,
        |        COUNT(*) AS vocab FROM tf GROUP BY 1)
        |SELECT f.lang, n_tokens, vocab,
        |  round(-SUM((c / n_tokens) * ln(c / n_tokens)), 6) AS entropy
        |FROM tf f JOIN tot USING (lang)
        |GROUP BY f.lang, n_tokens, vocab ORDER BY f.lang""".stripMargin,

    "q_lm_score" ->
      // corpus-as-unigram-LM surprisal: exact (lang,doc,tok) counts roll
      // up to the model and the per-doc score; the double Σ c·ln(c/n)
      // drifts by ulps across engines — absorbed by round-6 (the
      // q_entropy argument); worst-10 per lang, doc_id tiebreak
      """WITH t AS (
        |  SELECT lang, doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |t2 AS (SELECT lang, doc_id, tok FROM t WHERE tok <> ''),
        |tf AS (SELECT lang, doc_id, tok, COUNT(*) AS c_dt FROM t2 GROUP BY 1, 2, 3),
        |lm AS (SELECT lang, tok, CAST(SUM(c_dt) AS BIGINT) AS c FROM tf GROUP BY 1, 2),
        |tot AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS n FROM lm GROUP BY 1),
        |pd AS (SELECT f.lang, f.doc_id, CAST(SUM(f.c_dt) AS BIGINT) AS len,
        |         round(SUM(f.c_dt * ln(c / n)) / SUM(f.c_dt), 6) AS avg_logprob
        |       FROM tf f JOIN lm ON f.lang = lm.lang AND f.tok = lm.tok
        |       JOIN tot ON f.lang = tot.lang
        |       GROUP BY 1, 2)
        |SELECT lang, rk, doc_id, len, avg_logprob FROM (
        |  SELECT lang, doc_id, len, avg_logprob,
        |    row_number() OVER (PARTITION BY lang ORDER BY avg_logprob, doc_id) AS rk
        |  FROM pd)
        |WHERE rk <= 10 ORDER BY lang, rk""".stripMargin,

    "q_stratified_sample" ->
      // md5-ordered exact-k per stratum: portable (md5 + string order
      // agree across engines), total (doc_id tiebreak)
      """SELECT lang, rk, doc_id FROM (
        |  SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang
        |                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= 10 ORDER BY lang, rk""".stripMargin,

    "q_heavy_hitters" ->
      // the oracle is the plain exact form; the Spark side reaches the
      // same answer via Misra-Gries candidates + exact recount (the
      // sketch provably loses nothing above the 1/200 threshold), and the
      // integer HAVING (200*cnt >= n) removes any float boundary
      """WITH t AS (
        |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        |t2 AS (SELECT tok FROM t WHERE tok <> ''),
        |n AS (SELECT COUNT(*) AS n FROM t2)
        |SELECT tok, COUNT(*) AS cnt FROM t2, n
        |GROUP BY tok, n.n HAVING COUNT(*) * 200 >= n.n
        |ORDER BY cnt DESC, tok""".stripMargin,

    "q_sessionize" ->
      // 30-minute-gap sessions: lag flags session starts, running sum
      // numbers them; epoch-microsecond arithmetic and an exact decimal
      // money sum keep both engines identical
      """WITH e AS (
        |  SELECT user_id, event_id, value, epoch_us(ts) AS us FROM events),
        |flagged AS (
        |  SELECT user_id, event_id, value, us,
        |    CASE WHEN us - lag(us) OVER w > 1800000000 OR lag(us) OVER w IS NULL
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |labeled AS (
        |  SELECT user_id, us, value,
        |    CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
        |  FROM flagged)
        |SELECT user_id, session_idx, count(*) AS n_events,
        |  max(us) - min(us) AS duration_us,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM labeled GROUP BY user_id, session_idx
        |ORDER BY user_id, session_idx""".stripMargin,

    "q_event_bigrams" ->
      // per-user lag ordered by (ts, event_id) — event_id is unique, so
      // ts ties cannot reorder between engines; pct = exact integer ratio
      """WITH tr AS (
        |  SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
        |    event_type AS next_type
        |  FROM events),
        |t2 AS (SELECT prev_type, next_type FROM tr WHERE prev_type IS NOT NULL),
        |tot AS (SELECT count(*) AS n_total FROM t2)
        |SELECT prev_type, next_type, count(*) AS n,
        |  round(CAST(count(*) AS DOUBLE) / CAST(n_total AS DOUBLE), 6) AS pct
        |FROM t2, tot GROUP BY prev_type, next_type, n_total
        |ORDER BY prev_type, next_type""".stripMargin,

    "q_funnel" ->
      """WITH f AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS t_view,
        |    min(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS t_click,
        |    min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS t_purchase
        |  FROM events GROUP BY 1)
        |SELECT COUNT(t_view) AS n_view,
        |  COUNT(*) FILTER (WHERE t_click > t_view) AS n_view_click,
        |  COUNT(*) FILTER (WHERE t_click > t_view AND t_purchase > t_click) AS n_full_funnel
        |FROM f""".stripMargin,

    "q_funnel_window" ->
      // the same conditional-min frame under conversion deadlines:
      // click within 24h of first view, purchase within 72h of the click
      """WITH f AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS t_view,
        |    min(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS t_click,
        |    min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS t_purchase
        |  FROM events GROUP BY 1)
        |SELECT COUNT(t_view) AS n_view,
        |  COUNT(*) FILTER (WHERE t_click > t_view
        |    AND t_click - t_view <= 86400000000) AS n_click_24h,
        |  COUNT(*) FILTER (WHERE t_click > t_view
        |    AND t_click - t_view <= 86400000000
        |    AND t_purchase > t_click
        |    AND t_purchase - t_click <= 259200000000) AS n_purchase_72h
        |FROM f""".stripMargin,

    "q_error_spikes" ->
      // top-3 by the ROUND-6 daily error share, epoch-day tiebreak (a
      // fixed multiplicative gate goes vacuous at scale — see scaladoc)
      """WITH daily AS (
        |  SELECT datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS epoch_day,
        |    count(*) AS n,
        |    count(*) FILTER (event_type = 'error') AS n_err
        |  FROM events GROUP BY 1),
        |tot AS (
        |  SELECT CAST(SUM(n) AS BIGINT) AS nt, CAST(SUM(n_err) AS BIGINT) AS et FROM daily)
        |SELECT epoch_day, n, n_err,
        |  round(CAST(n_err AS DOUBLE) / CAST(n AS DOUBLE), 6) AS day_rate,
        |  round(CAST(et AS DOUBLE) / CAST(nt AS DOUBLE), 6) AS overall_rate
        |FROM daily, tot
        |ORDER BY day_rate DESC, epoch_day LIMIT 3""".stripMargin,

    "q_retention_curve" ->
      // normalized retention: active share of each cohort per week offset
      """WITH e AS (
        |  SELECT user_id, date_trunc('week', ts) AS wk FROM events),
        |cohort AS (SELECT user_id, min(wk) AS cohort_wk FROM e GROUP BY 1),
        |sizes AS (SELECT cohort_wk, COUNT(DISTINCT user_id) AS cohort_n FROM cohort GROUP BY 1),
        |act AS (
        |  SELECT c.cohort_wk,
        |    CAST(datediff('day', CAST(c.cohort_wk AS DATE), CAST(e.wk AS DATE)) // 7 AS BIGINT) AS week_offset,
        |    COUNT(DISTINCT e.user_id) AS n_active
        |  FROM e JOIN cohort c USING (user_id) GROUP BY 1, 2)
        |SELECT epoch_us(a.cohort_wk) AS cohort_us, a.week_offset, s.cohort_n, a.n_active,
        |  round(CAST(a.n_active AS DOUBLE) / CAST(s.cohort_n AS DOUBLE), 6) AS retention
        |FROM act a JOIN sizes s USING (cohort_wk)
        |ORDER BY 1, 2""".stripMargin,

    // the stream-stream inner join emits every matched pair exactly once,
    // so the streamed execution shares the batch interval-join oracle
    "q_stream_join_exec" ->
      """SELECT a.user_id, COUNT(*) AS n_pairs
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id AND a.event_id < b.event_id
        | AND abs(epoch_us(a.ts) - epoch_us(b.ts)) <= 1800000000
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_join_interval" ->
      """SELECT a.user_id, COUNT(*) AS n_pairs
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id AND a.event_id < b.event_id
        | AND abs(epoch_us(a.ts) - epoch_us(b.ts)) <= 1800000000
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_join_asof_tol" ->
      """WITH c AS (SELECT event_id, user_id, ts, epoch_us(ts) AS click_us FROM events WHERE event_type = 'click'),
        |     s AS (SELECT user_id, ts, epoch_us(ts) AS signup_us FROM events WHERE event_type = 'signup')
        |SELECT c.event_id, c.user_id, c.click_us, s.signup_us
        |FROM c ASOF JOIN s ON c.user_id = s.user_id AND c.ts >= s.ts
        |WHERE c.click_us - s.signup_us <= 604800000000
        |ORDER BY c.event_id""".stripMargin,

    "q_string_funcs" ->
      """SELECT c_custkey,
        |  upper(c_mktsegment) AS seg_up,
        |  lower(c_name) AS name_lo,
        |  substr(c_name, 10, 5) AS name_sub,
        |  c_name || '_' || c_mktsegment AS name_cat,
        |  CAST(length(c_name) AS BIGINT) AS name_len,
        |  lpad(CAST(c_custkey AS VARCHAR), 12, '0') AS key_pad,
        |  replace(c_name, 'Customer', 'C') AS name_rep,
        |  regexp_extract(c_name, '(\d+)', 1) AS name_digits,
        |  string_split(c_name, '#')[2] AS name_after_hash,
        |  trim('  ' || c_mktsegment || '  ') AS seg_trim
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "q_date_funcs" ->
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS BIGINT) AS yr,
        |  CAST(month(o_orderdate) AS BIGINT) AS mo,
        |  CAST(day(o_orderdate) AS BIGINT) AS dy,
        |  date_trunc('month', o_orderdate) AS month_start,
        |  CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since_95,
        |  o_orderdate + INTERVAL 30 DAY AS plus_30d
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q_math_funcs" ->
      """SELECT o_orderkey,
        |  abs(o_orderkey - 100000) AS key_dist,
        |  CAST(ceil(o_totalprice) AS BIGINT) AS price_ceil,
        |  CAST(floor(o_totalprice) AS BIGINT) AS price_floor,
        |  sqrt(o_totalprice) AS price_sqrt,
        |  round(ln(o_totalprice), 6) AS price_ln,
        |  power(o_orderkey % 9, 2) AS key_mod_sq,
        |  o_orderkey % 7 AS key_mod7
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q_array_funcs" ->
      // scalar-only projection of the slice: float32 elements widen exactly
      // to double; raw array cells would break the comparator's row sort
      """SELECT vec_id, CAST(label AS BIGINT) AS label,
        |  CAST(len(embedding) AS BIGINT) AS dim,
        |  CAST(embedding[1] AS DOUBLE) AS first_el,
        |  CAST(embedding[64] AS DOUBLE) AS last_el,
        |  CAST(embedding[1:3][2] AS DOUBLE) AS head3_2,
        |  CAST(embedding[1:3][3] AS DOUBLE) AS head3_3
        |FROM embeddings ORDER BY vec_id""".stripMargin,

    "q_explode" ->
      """SELECT tok, COUNT(*) AS n
        |FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents) t
        |WHERE tok <> '' GROUP BY tok ORDER BY n DESC, tok LIMIT 20""".stripMargin,

    "q_map_funcs" ->
      """WITH kv AS (SELECT unnest(json_keys(props)) AS key, props FROM events)
        |SELECT key, COUNT(*) AS n,
        |  CAST(SUM(CAST(json_extract_string(props, '$.' || key) AS BIGINT)) AS BIGINT) AS sum_v,
        |  MIN(CAST(json_extract_string(props, '$.' || key) AS BIGINT)) AS min_v,
        |  MAX(CAST(json_extract_string(props, '$.' || key) AS BIGINT)) AS max_v
        |FROM kv GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_dedup_exact" ->
      """SELECT lang, COUNT(*) AS n_docs,
        |  COUNT(DISTINCT md5(text)) AS n_kept,
        |  CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS BIGINT) AS n_dropped
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_text_stats" ->
      """WITH dstats AS (
        |  SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |  FROM documents GROUP BY 1),
        |tstats AS (
        |  SELECT lang, COUNT(*) AS n_tokens, COUNT(DISTINCT tok) AS n_uniq_tokens
        |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents) t
        |  WHERE tok <> '' GROUP BY 1)
        |SELECT d.lang, d.n_docs, d.sum_chars,
        |  round(CAST(d.sum_chars AS DOUBLE) / d.n_docs, 6) AS avg_chars,
        |  t.n_tokens, t.n_uniq_tokens
        |FROM dstats d JOIN tstats t ON d.lang = t.lang ORDER BY d.lang""".stripMargin,

    "q_tfidf_topterms" ->
      """WITH tok AS (
        |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term FROM documents),
        |tok2 AS (SELECT * FROM tok WHERE term <> ''),
        |tf AS (SELECT lang, term, COUNT(*) AS tf FROM tok2 GROUP BY 1, 2),
        |df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok2 GROUP BY 1),
        |n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
        |scored AS (
        |  SELECT tf.lang, tf.term, round(tf.tf * ln(n.n / df.df), 6) AS score
        |  FROM tf JOIN df ON tf.term = df.term CROSS JOIN n),
        |ranked AS (
        |  SELECT lang, term, score,
        |    CAST(row_number() OVER (PARTITION BY lang ORDER BY score DESC, term) AS BIGINT) AS rn
        |  FROM scored)
        |SELECT lang, term, score, rn FROM ranked WHERE rn <= 5 ORDER BY lang, rn""".stripMargin,

    "q_sim_cosine_topk" ->
      """WITH p AS (SELECT embedding AS probe_emb FROM embeddings WHERE vec_id = 0)
        |SELECT e.vec_id, round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(p.probe_emb AS DOUBLE[])), 6) AS sim
        |FROM embeddings e, p WHERE e.vec_id <> 0
        |ORDER BY sim DESC, e.vec_id LIMIT 5""".stripMargin,

    "q_ivf_search" ->
      // recall-1 IVF config (nprobe = #cells) ⇒ the oracle is plain
      // brute-force cosine top-5 per probe, rank on the ROUND-6 sim with
      // vec_id tiebreak (the same pre-rank rounding the Spark side does)
      """WITH probes AS (SELECT vec_id AS probe_id, embedding AS probe_emb FROM embeddings WHERE vec_id < 10),
        |cand AS (SELECT * FROM embeddings WHERE vec_id >= 10),
        |sims AS (
        |  SELECT p.probe_id, c.vec_id, c.label,
        |    round(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), CAST(p.probe_emb AS DOUBLE[])), 6) AS sim
        |  FROM cand c CROSS JOIN probes p)
        |SELECT probe_id, vec_id, label, sim, rn FROM (
        |  SELECT probe_id, vec_id, label, sim,
        |    row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, vec_id) AS rn
        |  FROM sims) z
        |WHERE rn <= 5 ORDER BY probe_id, rn""".stripMargin,

    "q_embed_quant_int8" ->
      // symmetric per-vector int8 quant audit; ONE operator order per
      // element (round(x*127/max)*max/127) so both engines run identical
      // IEEE ops; round() is half-away-from-zero in both
      """WITH v AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS x FROM embeddings),
        |m AS (
        |  SELECT vec_id, label, x,
        |    list_max(list_transform(x, e -> abs(e))) AS maxabs FROM v),
        |q AS (
        |  SELECT vec_id, label,
        |    round(list_sum(list_transform(x, e ->
        |      abs(e - round(e * 127.0 / maxabs) * maxabs / 127.0))) / len(x), 6) AS err,
        |    len(list_filter(x, e -> round(e * 127.0 / maxabs) = 0)) AS n_zero,
        |    len(list_filter(x, e -> abs(round(e * 127.0 / maxabs)) = 127)) AS n_sat
        |  FROM m WHERE maxabs > 0)
        |SELECT label, COUNT(*) AS n_vecs,
        |  round(SUM(err) / COUNT(*), 6) AS avg_err,
        |  CAST(SUM(n_zero) AS BIGINT) AS n_zero,
        |  CAST(SUM(n_sat) AS BIGINT) AS n_sat
        |FROM q GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_ivf_probe" ->
      // the PRUNED regime (nprobe=2 of 8 fixed cells): assignment and
      // probe-cell choice rank the ROUND-6 cosine with centroid-id
      // tiebreak; the top-5 runs over the 2 probed cells' candidates only
      """WITH c AS (SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS cent
        |           FROM embeddings WHERE vec_id < 8),
        |p AS (SELECT vec_id AS probe_id, CAST(embedding AS DOUBLE[]) AS pvec
        |      FROM embeddings WHERE vec_id >= 8 AND vec_id < 18),
        |corpus AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings WHERE vec_id >= 18),
        |asg AS (SELECT vec_id, label, v, cell FROM (
        |          SELECT co.vec_id, co.label, co.v, c.cell,
        |            row_number() OVER (PARTITION BY co.vec_id
        |              ORDER BY round(list_cosine_similarity(co.v, c.cent), 6) DESC,
        |                       c.cell) AS rn
        |          FROM corpus co CROSS JOIN c) z WHERE rn = 1),
        |pc AS (SELECT probe_id, pvec, cell FROM (
        |          SELECT p.probe_id, p.pvec, c.cell,
        |            row_number() OVER (PARTITION BY p.probe_id
        |              ORDER BY round(list_cosine_similarity(p.pvec, c.cent), 6) DESC,
        |                       c.cell) AS rn
        |          FROM p CROSS JOIN c) z WHERE rn <= 2),
        |cand AS (SELECT pc.probe_id, a.vec_id, a.label,
        |           round(list_cosine_similarity(a.v, pc.pvec), 6) AS sim
        |         FROM pc JOIN asg a USING (cell))
        |SELECT probe_id, vec_id, label, sim, rn FROM (
        |  SELECT probe_id, vec_id, label, sim,
        |    row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, vec_id) AS rn
        |  FROM cand) z
        |WHERE rn <= 5 ORDER BY probe_id, rn""".stripMargin,

    // recall@5 of the pruned IVF regime vs brute force: both sets are
    // deterministic (q_ivf_probe config + round-6 exact top-5), so the
    // per-probe intersection size is a hashable number, not a tolerance
    "q_ann_recall" ->
      """WITH c AS (SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS cent
        |           FROM embeddings WHERE vec_id < 8),
        |p AS (SELECT vec_id AS probe_id, CAST(embedding AS DOUBLE[]) AS pvec
        |      FROM embeddings WHERE vec_id >= 8 AND vec_id < 18),
        |corpus AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings WHERE vec_id >= 18),
        |asg AS (SELECT vec_id, v, cell FROM (
        |          SELECT co.vec_id, co.v, c.cell,
        |            row_number() OVER (PARTITION BY co.vec_id
        |              ORDER BY round(list_cosine_similarity(co.v, c.cent), 6) DESC,
        |                       c.cell) AS rn
        |          FROM corpus co CROSS JOIN c) z WHERE rn = 1),
        |pc AS (SELECT probe_id, pvec, cell FROM (
        |          SELECT p.probe_id, p.pvec, c.cell,
        |            row_number() OVER (PARTITION BY p.probe_id
        |              ORDER BY round(list_cosine_similarity(p.pvec, c.cent), 6) DESC,
        |                       c.cell) AS rn
        |          FROM p CROSS JOIN c) z WHERE rn <= 2),
        |pruned AS (SELECT probe_id, vec_id FROM (
        |          SELECT pc.probe_id, a.vec_id,
        |            row_number() OVER (PARTITION BY pc.probe_id
        |              ORDER BY round(list_cosine_similarity(a.v, pc.pvec), 6) DESC,
        |                       a.vec_id) AS rn
        |          FROM pc JOIN asg a USING (cell)) z WHERE rn <= 5),
        |ex AS (SELECT probe_id, vec_id FROM (
        |          SELECT p.probe_id, co.vec_id,
        |            row_number() OVER (PARTITION BY p.probe_id
        |              ORDER BY round(list_cosine_similarity(co.v, p.pvec), 6) DESC,
        |                       co.vec_id) AS rn
        |          FROM p CROSS JOIN corpus co) z WHERE rn <= 5),
        |h AS (SELECT ex.probe_id, COUNT(*) AS n_hits
        |      FROM ex JOIN pruned USING (probe_id, vec_id) GROUP BY 1)
        |SELECT p.probe_id, CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
        |  CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / 5.0 AS recall_at_5
        |FROM p LEFT JOIN h ON p.probe_id = h.probe_id
        |ORDER BY p.probe_id""".stripMargin,

    // t-digest exact regime: δ past the all-singleton threshold makes the
    // digest's q=0/0.5/1 equal min/percentile_cont(0.5)/max exactly
    "q_tdigest_exact" ->
      """SELECT lang, COUNT(*) AS n_docs,
        |  CAST(min(length(text)) AS DOUBLE) AS len_min,
        |  median(length(text)) AS len_med,
        |  CAST(max(length(text)) AS DOUBLE) AS len_max
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_ivf_pq" ->
      // IVFADC composed: round-6 cell pruning (argmax can't flip) +
      // lossless ADC == exact L2² on the candidate set; top-10 cut inside
      // a 50-replica group — exact ties, row_id break
      """WITH base AS (
        |  SELECT vec_id, embedding, CAST(embedding AS DOUBLE[]) AS emb
        |  FROM embeddings WHERE vec_id < 16),
        |corpus AS (
        |  SELECT vec_id * 100 + r.range AS row_id, emb FROM base, range(50) r),
        |cents AS (
        |  SELECT vec_id AS centroid_id, CAST(embedding AS DOUBLE[]) AS cemb
        |  FROM embeddings WHERE vec_id >= 16 AND vec_id < 20),
        |asg AS (SELECT row_id, emb, centroid_id AS cell FROM (
        |  SELECT c.row_id, c.emb, ct.centroid_id,
        |    row_number() OVER (PARTITION BY c.row_id ORDER BY
        |      round(list_cosine_similarity(c.emb, ct.cemb), 6) DESC, ct.centroid_id) AS rn
        |  FROM corpus c, cents ct) z WHERE rn = 1),
        |p AS (SELECT CAST(embedding AS DOUBLE[]) AS pemb FROM embeddings WHERE vec_id = 20),
        |pc AS (SELECT centroid_id AS cell FROM (
        |  SELECT ct.centroid_id,
        |    round(list_cosine_similarity(ct.cemb, p.pemb), 6) AS s
        |  FROM cents ct, p) z ORDER BY s DESC, centroid_id LIMIT 2),
        |d AS (
        |  SELECT a.row_id,
        |    list_inner_product(a.emb, a.emb) + list_inner_product(p.pemb, p.pemb)
        |      - 2 * list_inner_product(a.emb, p.pemb) AS dist2
        |  FROM asg a JOIN pc ON a.cell = pc.cell, p)
        |SELECT row_id, round(dist2, 6) AS dist2 FROM d
        |ORDER BY dist2, row_id LIMIT 10""".stripMargin,

    "q_pq_adc" ->
      // lossless-regime ADC == exact squared L2 (inner-product expansion);
      // top-10 sits inside one 50-replica group — exact ties, row_id break
      """WITH base AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
        |  FROM embeddings WHERE vec_id < 16),
        |corpus AS (
        |  SELECT vec_id * 100 + r.range AS row_id, emb FROM base, range(50) r),
        |p AS (SELECT CAST(embedding AS DOUBLE[]) AS pemb FROM embeddings WHERE vec_id = 20),
        |d AS (
        |  SELECT row_id,
        |    list_inner_product(emb, emb) + list_inner_product(pemb, pemb)
        |      - 2 * list_inner_product(emb, pemb) AS dist2
        |  FROM corpus, p)
        |SELECT row_id, round(dist2, 6) AS dist2 FROM d
        |ORDER BY dist2, row_id LIMIT 10""".stripMargin,

    "q_knn_majority" ->
      """WITH probes AS (SELECT vec_id AS probe_id, embedding AS probe_emb FROM embeddings WHERE vec_id < 10),
        |cand AS (SELECT * FROM embeddings WHERE vec_id >= 10),
        |sims AS (
        |  SELECT p.probe_id, c.vec_id, c.label,
        |    round(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), CAST(p.probe_emb AS DOUBLE[])), 6) AS sim
        |  FROM cand c CROSS JOIN probes p),
        |top5 AS (
        |  SELECT * FROM (
        |    SELECT probe_id, vec_id, label, sim,
        |      row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, vec_id) AS rn
        |    FROM sims) WHERE rn <= 5),
        |votes AS (
        |  SELECT probe_id, CAST(label AS BIGINT) AS label, COUNT(*) AS votes FROM top5 GROUP BY 1, 2),
        |winner AS (
        |  SELECT probe_id, label AS pred_label, votes,
        |    row_number() OVER (PARTITION BY probe_id ORDER BY votes DESC, label) AS vr
        |  FROM votes)
        |SELECT probe_id, pred_label, votes FROM winner WHERE vr = 1 ORDER BY probe_id""".stripMargin,

    "q_mjoin_shipping" ->
      """SELECT o_orderkey, o_orderdate, o_orderpriority,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |  AND l_shipdate > TIMESTAMP '1997-01-01'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin,

    "q_mjoin_region_volume" ->
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_lines
        |FROM region JOIN nation ON r_regionkey = n_regionkey
        |JOIN customer ON n_nationkey = c_nationkey
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |WHERE r_name = 'ASIA'
        |GROUP BY 1 ORDER BY revenue DESC, n_name""".stripMargin,

    // TPC-H Q3 shape: all-decimal revenue (no double ever sums), total
    // order (revenue desc, date, orderkey), top-10 by row_number
    "q_mjoin_topk_revenue" ->
      """WITH j AS (
        |  SELECT l_orderkey, o_orderdate, o_orderpriority,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |             * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))))
        |         AS DOUBLE) AS revenue
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  WHERE c_mktsegment = 'BUILDING'
        |    AND o_orderdate < TIMESTAMP '1995-03-15'
        |    AND l_shipdate > TIMESTAMP '1995-03-15'
        |  GROUP BY 1, 2, 3)
        |SELECT rk, l_orderkey, revenue,
        |  datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS order_epoch_day,
        |  o_orderpriority
        |FROM (
        |  SELECT CAST(row_number() OVER (ORDER BY revenue DESC, o_orderdate, l_orderkey)
        |              AS BIGINT) AS rk, *
        |  FROM j) z
        |WHERE rk <= 10 ORDER BY rk""".stripMargin,

    "q_window_rank" ->
      """SELECT c_custkey, c_mktsegment, c_acctbal,
        |  CAST(rank() OVER w AS BIGINT) AS rnk,
        |  CAST(dense_rank() OVER w AS BIGINT) AS drnk,
        |  CAST(row_number() OVER w AS BIGINT) AS rn
        |FROM customer WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
        |ORDER BY c_custkey""".stripMargin,

    "q_window_running" ->
      """SELECT o_orderkey, o_custkey,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS run_sum
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q_window_range" ->
      """SELECT o_orderkey, o_custkey, day,
        |  COUNT(*) OVER w AS n_30d,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_30d
        |FROM (SELECT *, CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS day FROM orders)
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY day RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
        |ORDER BY o_orderkey""".stripMargin,

    "q_window_time_range" ->
      // the literal INTERVAL range-frame spelling; peers share frames so
      // same-date rows are deterministic without a tiebreak
      """SELECT o_custkey, epoch_us(o_orderdate) AS od_us,
        |  CAST(COUNT(*) OVER w AS BIGINT) AS n_90d,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_90d
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate
        |             RANGE BETWEEN INTERVAL 90 DAY PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, od_us""".stripMargin,

    "q_window_time_range_hours" ->
      // sub-day (microsecond) order key: the 6-hour bound discriminates
      // rows hours apart, pinning frame inclusion the day-granular key
      // can't; frame aggregates are exact integers
      """SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        |  CAST(COUNT(*) OVER w AS BIGINT) AS n_6h,
        |  CAST(SUM(event_id) OVER w AS BIGINT) AS sum_eid_6h
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts
        |             RANGE BETWEEN INTERVAL 6 HOURS PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,

    "q_window_lag_lead" ->
      """SELECT event_id, user_id,
        |  epoch_us(ts) - lag(epoch_us(ts), 1) OVER w AS delta_us,
        |  lag(event_type, 1) OVER w AS prev_type,
        |  lead(value, 1) OVER w AS next_value
        |FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY event_id""".stripMargin,

    // DuckDB's NATIVE windowed count(DISTINCT) vs Spark's collect_set
    // workaround — the gate proves them identical
    "q_window_distinct" ->
      """SELECT event_id, user_id,
        |  CAST(count(DISTINCT event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_types_so_far
        |FROM events ORDER BY user_id, event_id""".stripMargin,

    "q_window_first_last" ->
      // last/nth REQUIRE the explicit full frame — the default running
      // frame would make last_value the current row on both engines
      """SELECT o_orderkey, o_custkey,
        |  first_value(o_totalprice) OVER w AS first_price,
        |  last_value(o_totalprice) OVER wf AS last_price,
        |  nth_value(o_totalprice, 2) OVER wf AS second_price
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
        |       wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_orderkey""".stripMargin,

    "q_topk_per_group" ->
      """SELECT c_mktsegment, o_orderkey, o_totalprice, rn FROM (
        |  SELECT c_mktsegment, o_orderkey, o_totalprice,
        |    CAST(row_number() OVER (PARTITION BY c_mktsegment ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
        |  FROM orders JOIN customer ON o_custkey = c_custkey) t
        |WHERE rn <= 3 ORDER BY c_mktsegment, rn""".stripMargin,

    "q_sort_limit_topk" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,

    "q_union_all" ->
      """SELECT custkey, COUNT(*) AS n FROM (
        |  SELECT c_custkey AS custkey FROM customer
        |  UNION ALL SELECT o_custkey FROM orders) t
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_union_distinct" ->
      """SELECT s_suppkey AS suppkey FROM supplier
        |UNION SELECT l_suppkey FROM lineitem ORDER BY suppkey""".stripMargin,

    "q_intersect" ->
      """SELECT c_custkey AS custkey FROM customer
        |INTERSECT SELECT o_custkey FROM orders ORDER BY custkey""".stripMargin,

    "q_except" ->
      """SELECT c_custkey AS custkey FROM customer
        |EXCEPT SELECT o_custkey FROM orders ORDER BY custkey""".stripMargin,

    // bag semantics: the post-op aggregate declares the multiplicities
    // max(ca−cb, 0) / min(ca, cb) the distinct forms erase
    "q_except_all" ->
      """WITH a AS (SELECT l_suppkey FROM lineitem WHERE l_orderkey % 2 = 1),
        |b AS (SELECT l_suppkey FROM lineitem WHERE l_orderkey % 3 = 0),
        |e AS (SELECT * FROM a EXCEPT ALL SELECT * FROM b)
        |SELECT l_suppkey, COUNT(*) AS n FROM e GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_intersect_all" ->
      """WITH a AS (SELECT l_suppkey FROM lineitem WHERE l_orderkey % 2 = 1),
        |b AS (SELECT l_suppkey FROM lineitem WHERE l_orderkey % 3 = 0),
        |e AS (SELECT * FROM a INTERSECT ALL SELECT * FROM b)
        |SELECT l_suppkey, COUNT(*) AS n FROM e GROUP BY 1 ORDER BY 1""".stripMargin,
  )
}
