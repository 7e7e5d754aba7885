package graft
import org.apache.spark.sql.{SparkSession, DataFrame}

import graft.ops.Relational
import graft.tsdb.{Queries => T}
import graft.ops.{LlmQueries => L}

/** Driver contract — see /root/repo/SURVEY.md §2 for the operator
  * inventory each entry maps to.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q1Agg(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // E. relational core
    "q1_agg" -> ((s, dir) => Relational.q1Agg(s, dir)),
    "q3_join" -> ((s, dir) => Relational.q3Join(s, dir)),
    "q5_multijoin" -> ((s, dir) => Relational.q5MultiJoin(s, dir)),
    "topk_window" -> ((s, dir) => Relational.topkWindow(s, dir)),
    "event_sessionize" -> ((s, dir) => Relational.eventSessionize(s, dir)),
    "event_sessionize_presplit" -> ((s, dir) => Relational.eventSessionizePresplit(s, dir)),
    "events_asof" -> ((s, dir) => Relational.eventsAsof(s, dir)),
    "events_asof_tol" -> ((s, dir) => Relational.eventsAsofTol(s, dir)),
    "stream_asof_enrich" -> ((s, dir) => Relational.streamAsofEnrich(s, dir)),
    "events_funnel" -> ((s, dir) => Relational.eventsFunnel(s, dir)),
    "events_funnel_presplit" -> ((s, dir) => Relational.eventsFunnelPresplit(s, dir)),
    "events_retention" -> ((s, dir) => Relational.eventsRetention(s, dir)),
    "events_transitions" -> ((s, dir) => Relational.eventsTransitions(s, dir)),
    "stream_funnel" -> ((s, dir) => Relational.streamFunnel(s, dir)),
    "stream_funnel_horizon" -> ((s, dir) => Relational.streamFunnelHorizon(s, dir)),
    "events_attribution" -> ((s, dir) => Relational.eventsAttribution(s, dir)),
    "stream_sessionize" -> ((s, dir) => Relational.streamSessionize(s, dir)),
    "events_interval_count" -> ((s, dir) => Relational.eventsIntervalCount(s, dir)),
    // A. Carbon ingest
    "carbon_parse" -> ((s, dir) => T.carbonParse(s, dir)),
    "carbon_rewrite" -> ((s, dir) => T.carbonRewrite(s, dir)),
    "schema_match" -> ((s, dir) => T.schemaMatch(s, dir)),
    "watch_translate" -> ((s, dir) => T.watchTranslate(s, dir)),
    "watch_translate_conf" -> ((s, dir) => T.watchTranslateConf(s, dir)),
    "conf_rules" -> ((s, dir) => T.confRules(s, dir)),
    "carbon_aggregate" -> ((s, dir) => T.carbonAggregate(s, dir)),
    "carbon_aggregate_e2e" -> ((s, dir) => T.carbonAggregateE2e(s, dir)),
    "stream_aggregate" -> ((s, dir) => T.streamAggregate(s, dir)),
    "stream_aggregate_multi" -> ((s, dir) => T.streamAggregateMulti(s, dir)),
    // B. Whisper TSDB core
    "ts_rollup_avg" -> ((s, dir) => T.rollup(s, dir, "average")),
    "ts_rollup_sum" -> ((s, dir) => T.rollup(s, dir, "sum")),
    "ts_rollup_last" -> ((s, dir) => T.rollup(s, dir, "last")),
    "ts_rollup_max" -> ((s, dir) => T.rollup(s, dir, "max")),
    "ts_rollup_min" -> ((s, dir) => T.rollup(s, dir, "min")),
    "ts_xff" -> ((s, dir) => T.xff(s, dir)),
    "ts_multi_archive" -> ((s, dir) => T.multiArchive(s, dir)),
    "ts_fetch" -> ((s, dir) => T.fetch(s, dir)),
    "ts_fetch_stored" -> ((s, dir) => T.fetchStored(s, dir)),
    "ts_fetch_sum_zero" -> ((s, dir) => T.fetchSumZero(s, dir)),
    "ts_fetch_last_hold" -> ((s, dir) => T.fetchLastHold(s, dir)),
    "ts_info" -> ((s, dir) => T.info(s, dir)),
    "ts_upsert" -> ((s, dir) => T.upsert(s, dir)),
    "stream_upsert" -> ((s, dir) => T.streamUpsert(s, dir)),
    "stream_upsert_replay" -> ((s, dir) => T.streamUpsertReplay(s, dir)),
    "carbon_e2e" -> ((s, dir) => T.carbonE2e(s, dir)),
    "carbon_e2e_conf" -> ((s, dir) => T.carbonE2eConf(s, dir)),
    "carbon_user_hook" -> ((s, dir) => T.carbonUserHook(s, dir)),
    "watch_relay" -> ((s, dir) => T.watchRelay(s, dir)),
    // C. Graphite metrics API
    "metrics_find" -> ((s, dir) => T.metricsFind(s, dir)),
    "metrics_find_treejson" -> ((s, dir) => T.metricsFindTreejson(s, dir)),
    "metrics_find_completer" -> ((s, dir) => T.metricsFindCompleter(s, dir)),
    "metrics_find_federated" -> ((s, dir) => T.metricsFindFederated(s, dir)),
    "metrics_expand" -> ((s, dir) => T.metricsExpand(s, dir)),
    "metrics_index" -> ((s, dir) => T.metricsIndex(s, dir)),
    "series_expand" -> ((s, dir) => T.seriesExpand(s, dir)),
    "render_csv" -> ((s, dir) => T.renderCsv(s, dir)),
    "render_json" -> ((s, dir) => T.renderJson(s, dir)),
    "render_svg" -> ((s, dir) => T.renderSvg(s, dir)),
    "render_svg_struct" -> ((s, dir) => T.renderSvgStruct(s, dir)),
    "cgi_render_csv" -> ((s, dir) => T.cgiRenderCsv(s, dir)),
    "cgi_find" -> ((s, dir) => T.cgiFind(s, dir)),
    "cgi_expand" -> ((s, dir) => T.cgiExpand(s, dir)),
    // C9. Graphite render-function pipeline
    "gfn_sum_series" -> ((s, dir) => T.gfnSumSeries(s, dir)),
    "gfn_summarize" -> ((s, dir) => T.gfnSummarize(s, dir)),
    "gfn_derivative" -> ((s, dir) => T.gfnDerivative(s, dir)),
    "gfn_integral" -> ((s, dir) => T.gfnIntegral(s, dir)),
    "gfn_moving_top" -> ((s, dir) => T.gfnMovingTop(s, dir)),
    "gfn_alias_nodes" -> ((s, dir) => T.gfnAliasNodes(s, dir)),
    "gfn_pipeline" -> ((s, dir) => T.gfnPipeline(s, dir)),
    "gfn_divide" -> ((s, dir) => T.gfnDivide(s, dir)),
    "gfn_clamp_window" -> ((s, dir) => T.gfnClampWindow(s, dir)),
    "gfn_timeshift" -> ((s, dir) => T.gfnTimeshift(s, dir)),
    "gfn_percent_filter" -> ((s, dir) => T.gfnPercentFilter(s, dir)),
    "gfn_cgi_render" -> ((s, dir) => T.gfnCgiRender(s, dir)),
    "gfn_npercentile" -> ((s, dir) => T.gfnNPercentile(s, dir)),
    "gfn_stdev" -> ((s, dir) => T.gfnStdev(s, dir)),
    "gfn_sort_maxima" -> ((s, dir) => T.gfnSortMaxima(s, dir)),
    "gfn_sort_natural" -> ((s, dir) => T.gfnSortNatural(s, dir)),
    "gfn_percent_const" -> ((s, dir) => T.gfnPercentConst(s, dir)),
    "gfn_divide_list" -> ((s, dir) => T.gfnDivideList(s, dir)),
    "gfn_most_deviant" -> ((s, dir) => T.gfnMostDeviant(s, dir)),
    "gfn_lowest_sub" -> ((s, dir) => T.gfnLowestSub(s, dir)),
    "gfn_group_node" -> ((s, dir) => T.gfnGroupNode(s, dir)),
    "gfn_integral_by" -> ((s, dir) => T.gfnIntegralBy(s, dir)),
    "gfn_hitcount" -> ((s, dir) => T.gfnHitcount(s, dir)),
    "gfn_ema" -> ((s, dir) => T.gfnEma(s, dir)),
    "gfn_linreg" -> ((s, dir) => T.gfnLinReg(s, dir)),
    "gfn_range" -> ((s, dir) => T.gfnRange(s, dir)),
    "gfn_moving_median" -> ((s, dir) => T.gfnMovingMedian(s, dir)),
    "gfn_weighted_avg" -> ((s, dir) => T.gfnWeightedAvg(s, dir)),
    "gfn_holt_winters" -> ((s, dir) => T.gfnHoltWinters(s, dir)),
    "gfn_hw_bands" -> ((s, dir) => T.gfnHwBands(s, dir)),
    "gfn_hw_aberration" -> ((s, dir) => T.gfnHwAberration(s, dir)),
    "gfn_pointwise" -> ((s, dir) => T.gfnPointwise(s, dir)),
    "gfn_changed_delay" -> ((s, dir) => T.gfnChangedDelay(s, dir)),
    "gfn_diff_multiply" -> ((s, dir) => T.gfnDiffMultiply(s, dir)),
    "gfn_percentile_gates" -> ((s, dir) => T.gfnPercentileGates(s, dir)),
    "gfn_substr" -> ((s, dir) => T.gfnSubstr(s, dir)),
    "gfn_smart_summarize" -> ((s, dir) => T.gfnSmartSummarize(s, dir)),
    "gfn_timestack" -> ((s, dir) => T.gfnTimestack(s, dir)),
    "gfn_moving_minmax" -> ((s, dir) => T.gfnMovingMinmax(s, dir)),
    "gfn_interpolate" -> ((s, dir) => T.gfnInterpolate(s, dir)),
    "gfn_wildcards" -> ((s, dir) => T.gfnWildcards(s, dir)),
    "gfn_slice_scale" -> ((s, dir) => T.gfnSliceScale(s, dir)),
    "gfn_band_select" -> ((s, dir) => T.gfnBandSelect(s, dir)),
    "gfn_outside_avg" -> ((s, dir) => T.gfnOutsideAvg(s, dir)),
    "gfn_consolidate" -> ((s, dir) => T.gfnConsolidate(s, dir)),
    "cgi_render_maxdp" -> ((s, dir) => T.cgiRenderMaxdp(s, dir)),
    "cgi_render_maxdp_archive" -> ((s, dir) => T.cgiRenderMaxdpArchive(s, dir)),
    "gfn_wrap_counter" -> ((s, dir) => T.gfnWrapCounter(s, dir)),
    "gfn_apply_by_node" -> ((s, dir) => T.gfnApplyByNode(s, dir)),
    "gfn_generic_select" -> ((s, dir) => T.gfnGenericSelect(s, dir)),
    "gfn_summarize_align" -> ((s, dir) => T.gfnSummarizeAlign(s, dir)),
    "gfn_reduce_series" -> ((s, dir) => T.gfnReduceSeries(s, dir)),
    "gfn_use_series_above" -> ((s, dir) => T.gfnUseSeriesAbove(s, dir)),
    "tags_index" -> ((s, dir) => T.tagsIndex(s, dir)),
    "tags_index_merge" -> ((s, dir) => T.tagsIndexMerge(s, dir)),
    "tags_values_indexed" -> ((s, dir) => T.tagsValuesIndexed(s, dir)),
    "gfn_series_by_tag" -> ((s, dir) => T.gfnSeriesByTag(s, dir)),
    "gfn_alias_by_tags" -> ((s, dir) => T.gfnAliasByTags(s, dir)),
    "cgi_tags_autocomplete" -> ((s, dir) => T.cgiTagsAutocomplete(s, dir)),
    "cgi_tags_values" -> ((s, dir) => T.cgiTagsValues(s, dir)),
    "gfn_group_by_tags" -> ((s, dir) => T.gfnGroupByTags(s, dir)),
    "gfn_filter_series" -> ((s, dir) => T.gfnFilterSeries(s, dir)),
    "gfn_divide_lists" -> ((s, dir) => T.gfnDivideLists(s, dir)),
    "gfn_agg_lists" -> ((s, dir) => T.gfnAggLists(s, dir)),
    "gfn_scalar_sweep" -> ((s, dir) => T.gfnScalarSweep(s, dir)),
    "gfn_window_generators" -> ((s, dir) => T.gfnWindowGenerators(s, dir)),
    "gfn_alias_query" -> ((s, dir) => T.gfnAliasQuery(s, dir)),
    "gfn_cacti_style" -> ((s, dir) => T.gfnCactiStyle(s, dir)),
    "gfn_legend_value" -> ((s, dir) => T.gfnLegendValue(s, dir)),
    "gfn_display_pack" -> ((s, dir) => T.gfnDisplayPack(s, dir)),
    "gfn_moving_time" -> ((s, dir) => T.gfnMovingTime(s, dir)),
    "store_compact_fetch" -> ((s, dir) => T.storeCompactFetch(s, dir)),
    "store_maintained_fetch" -> ((s, dir) => T.storeMaintainedFetch(s, dir)),
    "store_retention_fetch" -> ((s, dir) => T.storeRetentionFetch(s, dir)),
    "store_report" -> ((s, dir) => T.storeReportQuery(s, dir)),
    "gfn_xff_limit" -> ((s, dir) => T.gfnXffLimit(s, dir)),
    "store_conf_fetch" -> ((s, dir) => T.storeConfFetch(s, dir)),
    "gfn_aggregate_minmax" -> ((s, dir) => T.gfnAggregateMinmax(s, dir)),
    "gfn_group_nodes" -> ((s, dir) => T.gfnGroupNodes(s, dir)),
    "gfn_multiply_wildcards" -> ((s, dir) => T.gfnMultiplyWildcards(s, dir)),
    "gfn_keeplast_unique" -> ((s, dir) => T.gfnKeeplastUnique(s, dir)),
    // D. dataMine bridge
    "dm_resample" -> ((s, dir) => T.dmResample(s, dir)),
    "dm_resample_all" -> ((s, dir) => T.dmResampleAll(s, dir)),
    "dm_filter" -> ((s, dir) => T.dmFilter(s, dir)),
    "dm_weekly" -> ((s, dir) => T.dmWeekly(s, dir)),
    "dm_fetch_raw" -> ((s, dir) => T.dmFetchRaw(s, dir)),
    "whisper_read" -> ((s, dir) => T.whisperRead(s, dir)),
    "whisper_fetch" -> ((s, dir) => T.whisperFetch(s, dir)),
    "whisper_export_fetch" -> ((s, dir) => T.whisperExportFetch(s, dir)),
    // F. LLM-pipeline operators
    "dedup_exact" -> ((s, dir) => L.dedupExact(s, dir)),
    "decontaminate" -> ((s, dir) => L.decontaminate(s, dir)),
    "decontaminate_normalized" -> ((s, dir) => L.decontaminateNormalized(s, dir)),
    "decontaminate_multi" -> ((s, dir) => L.decontaminateMulti(s, dir)),
    "decontaminate_overlap" -> ((s, dir) => L.decontaminateOverlap(s, dir)),
    "decontaminate_fuzzy" -> ((s, dir) => L.decontaminateFuzzy(s, dir)),
    "dedup_ngram_jaccard" -> ((s, dir) => L.dedupNgramJaccard(s, dir)),
    "dedup_ngram_jaccard_capped" -> ((s, dir) => L.dedupNgramJaccardCapped(s, dir)),
    "dedup_substring" -> ((s, dir) => L.dedupSubstring(s, dir)),
    "dedup_substring_clusters" -> ((s, dir) => L.dedupSubstringClusters(s, dir)),
    "dedup_substring_spans" -> ((s, dir) => L.dedupSubstringSpans(s, dir)),
    "dedup_substring_scrub" -> ((s, dir) => L.dedupSubstringScrub(s, dir)),
    "dedup_minhash" -> ((s, dir) => L.dedupMinhash(s, dir)),
    "dedup_minhash_capped" -> ((s, dir) => L.dedupMinhashCapped(s, dir)),
    "dedup_incremental" -> ((s, dir) => L.dedupIncremental(s, dir)),
    "stream_incremental_gate" -> ((s, dir) => L.streamIncrementalGate(s, dir)),
    "dedup_index_merge" -> ((s, dir) => L.dedupIndexMerge(s, dir)),
    "dedup_simhash_index_merge" -> ((s, dir) => L.dedupSimhashIndexMerge(s, dir)),
    "dedup_minhash_bucket_stats" -> ((s, dir) => L.dedupMinhashBucketStats(s, dir)),
    "dedup_minhash_clusters" -> ((s, dir) => L.dedupMinhashClusters(s, dir)),
    "dedup_minhash_est" -> ((s, dir) => L.dedupMinhashEst(s, dir)),
    "dedup_jaccard_clusters" -> ((s, dir) => L.dedupJaccardClusters(s, dir)),
    "dedup_cc_clusters" -> ((s, dir) => L.dedupCcClusters(s, dir)),
    "dedup_cc_sizes" -> ((s, dir) => L.dedupCcSizes(s, dir)),
    "dedup_soft" -> ((s, dir) => L.dedupSoft(s, dir)),
    "dedup_url" -> ((s, dir) => L.dedupUrl(s, dir)),
    "dedup_embed_cosine_clusters" -> ((s, dir) => L.dedupEmbedCosineClusters(s, dir)),
    "dedup_embed_cosine" -> ((s, dir) => L.dedupEmbedCosine(s, dir)),
    "dedup_semantic" -> ((s, dir) => L.dedupSemantic(s, dir)),
    "dedup_semantic_routed" -> ((s, dir) => L.dedupSemanticRouted(s, dir)),
    "dedup_embed_cosine_lsh" -> ((s, dir) => L.dedupEmbedCosineLsh(s, dir)),
    "dedup_image_phash" -> ((s, dir) => L.dedupImagePhash(s, dir)),
    "ann_image_phash" -> ((s, dir) => L.annImagePhash(s, dir)),
    "stream_phash_gate" -> ((s, dir) => L.streamPhashGate(s, dir)),
    "dedup_simhash" -> ((s, dir) => L.dedupSimhash(s, dir)),
    "dedup_simhash_capped" -> ((s, dir) => L.dedupSimhashCapped(s, dir)),
    "dedup_simhash_clusters" -> ((s, dir) => L.dedupSimhashClusters(s, dir)),
    "ann_cosine_topk" -> ((s, dir) => L.annCosineTopk(s, dir)),
    "ann_lsh" -> ((s, dir) => L.annLsh(s, dir)),
    "ann_ivf" -> ((s, dir) => L.annIvf(s, dir)),
    "ann_range" -> ((s, dir) => L.annRange(s, dir)),
    "ann_range_ivf" -> ((s, dir) => L.annRangeIvf(s, dir)),
    "ann_filtered" -> ((s, dir) => L.annFiltered(s, dir)),
    "ann_mips" -> ((s, dir) => L.annMips(s, dir)),
    "ann_mips_lsh" -> ((s, dir) => L.annMipsLsh(s, dir)),
    "ann_ivf_refined" -> ((s, dir) => L.annIvfRefined(s, dir)),
    "ann_ivf_sampled" -> ((s, dir) => L.annIvfSampled(s, dir)),
    "ann_ivf_sampled2" -> ((s, dir) => L.annIvfSampled2(s, dir)),
    "ann_pq" -> ((s, dir) => L.annPq(s, dir)),
    "ann_pq_trained" -> ((s, dir) => L.annPqTrained(s, dir)),
    "ann_ivf_pq" -> ((s, dir) => L.annIvfPq(s, dir)),
    "ann_ivf_pq_refine" -> ((s, dir) => L.annIvfPqRefine(s, dir)),
    "ann_hybrid_rrf" -> ((s, dir) => L.annHybridRrf(s, dir)),
    "ann_bm25" -> ((s, dir) => L.annBm25(s, dir)),
    "dedup_cdc" -> ((s, dir) => L.dedupCdc(s, dir)),
    "dedup_cdc_bytes" -> ((s, dir) => L.dedupCdcBytes(s, dir)),
    "stream_cdc_gate" -> ((s, dir) => L.streamCdcGate(s, dir)),
    "corpus_dsir" -> ((s, dir) => L.corpusDsir(s, dir)),
    "stream_dsir_gate" -> ((s, dir) => L.streamDsirGate(s, dir)),
    "ann_ivf_pq_trained" -> ((s, dir) => L.annIvfPqTrained(s, dir)),
    "ann_index_search" -> ((s, dir) => L.annIndexSearch(s, dir)),
    "ann_index_refresh" -> ((s, dir) => L.annIndexRefresh(s, dir)),
    "ann_index_deleted" -> ((s, dir) => L.annIndexDeleted(s, dir)),
    "ann_index_compacted" -> ((s, dir) => L.annIndexCompacted(s, dir)),
    "ann_index_cutover" -> ((s, dir) => L.annIndexCutover(s, dir)),
    "ann_ivf_pq_residual" -> ((s, dir) => L.annIvfPqResidual(s, dir)),
    "ann_quantized" -> ((s, dir) => L.annQuantized(s, dir)),
    "ann_ivf_quantized" -> ((s, dir) => L.annIvfQuantized(s, dir)),
    "text_langid" -> ((s, dir) => L.textLangid(s, dir)),
    "text_quality" -> ((s, dir) => L.textQuality(s, dir)),
    "text_repetition" -> ((s, dir) => L.textRepetition(s, dir)),
    "text_tokens" -> ((s, dir) => L.textTokens(s, dir)),
    "text_fingerprint" -> ((s, dir) => L.textFingerprint(s, dir)),
    "text_pii_redact" -> ((s, dir) => L.textPiiRedact(s, dir)),
    "text_lm_score" -> ((s, dir) => L.textLmScore(s, dir)),
    "text_lm_bigram" -> ((s, dir) => L.textLmBigram(s, dir)),
    "text_keywords" -> ((s, dir) => L.textKeywords(s, dir)),
    "text_boilerplate" -> ((s, dir) => L.textBoilerplate(s, dir)),
    "text_line_dedup" -> ((s, dir) => L.textLineDedup(s, dir)),
    "text_novelty" -> ((s, dir) => L.textNovelty(s, dir)),
    "text_domains" -> ((s, dir) => L.textDomains(s, dir)),
    "text_gopher_rules" -> ((s, dir) => L.textGopherRules(s, dir)),
    "text_entropy" -> ((s, dir) => L.textEntropy(s, dir)),
    "quality_classifier_train" -> ((s, dir) => L.qualityClassifierTrain(s, dir)),
    "quality_classifier_score" -> ((s, dir) => L.qualityClassifierScore(s, dir)),
    "embed_norm_stats" -> ((s, dir) => L.embedNormStats(s, dir)),
    "corpus_curation" -> ((s, dir) => L.corpusCuration(s, dir)),
    "corpus_curation_decontam" -> ((s, dir) => L.corpusCurationDecontam(s, dir)),
    "corpus_vocab" -> ((s, dir) => L.corpusVocab(s, dir)),
    "corpus_bpe_merges" -> ((s, dir) => L.corpusBpeMerges(s, dir)),
    "corpus_bpe_sampled" -> ((s, dir) => L.corpusBpeSampled(s, dir)),
    "corpus_bpe_apply" -> ((s, dir) => L.corpusBpeApply(s, dir)),
    "corpus_split" -> ((s, dir) => L.corpusSplit(s, dir)),
    "corpus_epoch_order" -> ((s, dir) => L.corpusEpochOrder(s, dir)),
    "corpus_sample" -> ((s, dir) => L.corpusSample(s, dir)),
    "corpus_sample_weighted" -> ((s, dir) => L.corpusSampleWeighted(s, dir)),
    "corpus_cardinality_hll" -> ((s, dir) => L.corpusCardinalityHll(s, dir)),
    "corpus_cardinality_incremental" -> ((s, dir) => L.corpusCardinalityIncremental(s, dir)),
    "corpus_quantile_sketch" -> ((s, dir) => L.corpusQuantileSketch(s, dir)),
    "stream_qsketch_gate" -> ((s, dir) => L.streamQsketchGate(s, dir)),
    "stream_cms_gate" -> ((s, dir) => L.streamCmsGate(s, dir)),
    "corpus_quantile_incremental" -> ((s, dir) => L.corpusQuantileIncremental(s, dir)),
    "corpus_heavy_hitters" -> ((s, dir) => L.corpusHeavyHitters(s, dir)),
    "corpus_heavy_hitters_incremental" -> ((s, dir) => L.corpusHeavyHittersIncremental(s, dir)),
    "corpus_mix_plan" -> ((s, dir) => L.corpusMixPlan(s, dir)),
    "corpus_mix_apply" -> ((s, dir) => L.corpusMixApply(s, dir)),
    "corpus_mix_temperature" -> ((s, dir) => L.corpusMixTemperature(s, dir)),
    "corpus_mix_temperature_apply" -> ((s, dir) => L.corpusMixTemperatureApply(s, dir)),
    "corpus_window_chunks" -> ((s, dir) => L.corpusWindowChunks(s, dir)),
    "stream_mix_gate" -> ((s, dir) => L.streamMixGate(s, dir)),
    "corpus_quality_buckets" -> ((s, dir) => L.corpusQualityBuckets(s, dir)),
    "corpus_report" -> ((s, dir) => L.corpusReport(s, dir)),
    "corpus_pack" -> ((s, dir) => L.corpusPack(s, dir)),
    // G. streaming (batch twin) + F12 multimodal plumbing
    "stream_rollup" -> ((s, dir) => T.streamRollup(s, dir)),
    "stream_sig_dedup" -> ((s, dir) => L.streamSigDedup(s, dir)),
    "stream_decontaminate" -> ((s, dir) => L.streamDecontaminate(s, dir)),
    "stream_quality_gate" -> ((s, dir) => L.streamQualityGate(s, dir)),
    "stream_cls_gate" -> ((s, dir) => L.streamClsGate(s, dir)),
    "stream_url_gate" -> ((s, dir) => L.streamUrlGate(s, dir)),
    "stream_ann_assign" -> ((s, dir) => L.streamAnnAssign(s, dir)),
    "ann_assign_2level" -> ((s, dir) => L.annAssign2Level(s, dir)),
    "stream_tokenize" -> ((s, dir) => L.streamTokenize(s, dir)),
    "stream_keywords" -> ((s, dir) => L.streamKeywords(s, dir)),
    "multimodal_pipeline" -> ((s, dir) =>
      graft.multimodal.BinaryPipeline.pipelineSummary(s, graft.core.Tables.documents(s, dir))),
    "multimodal_dims" -> ((s, dir) =>
      graft.multimodal.BinaryPipeline.pipelineDims(s, graft.core.Tables.documents(s, dir))),
    "multimodal_frames" -> ((s, dir) =>
      graft.multimodal.BinaryPipeline.pipelineFrames(s, graft.core.Tables.documents(s, dir))),
    "audio_frames" -> ((s, dir) =>
      graft.multimodal.Audio.frameFeatures(s, graft.core.Tables.documents(s, dir)))
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  /** Shared DuckDB CTE: the synthetic metric namespace (SURVEY.md §3). */
  private val M =
    """m AS (SELECT 'vera.u'||user_id||'.'||event_type AS path,
      | CAST(floor(epoch(ts)) AS BIGINT) AS ts, value FROM events)""".stripMargin
  private val MD =
    """md AS (SELECT 'vera.'||event_type AS path,
      | CAST(floor(epoch(ts)) AS BIGINT) AS ts, value FROM events)""".stripMargin

  /** carbon_e2e oracle — shared by carbon_e2e and carbon_e2e_conf (the
    * conf variant parses the same rules from Graphite conf text).
    */
  private val CarbonE2eSql =
    s"""WITH $M,
       |rew AS (SELECT CASE
       |   WHEN regexp_matches(path, '^vera\\.u1\\.') THEN regexp_replace(path, '^vera\\.u1\\.', 'vera.user-one.')
       |   WHEN regexp_matches(path, '^vera\\.u2\\.') THEN regexp_replace(path, '^vera\\.u2\\.', 'vera.user-two.')
       |   ELSE path END AS p1, ts, value FROM m),
       |rw AS (SELECT CASE
       |   WHEN regexp_matches(p1, '\\.click$$') THEN regexp_replace(p1, '\\.click$$', '.clicks')
       |   ELSE p1 END AS path, ts, value FROM rew),
       |ruled AS (SELECT path, ts, value,
       |  CASE WHEN regexp_matches(path, '.*\\.clicks$$') THEN 'sum'
       |       WHEN regexp_matches(path, '^vera\\.user-(one|two)\\.') THEN 'last'
       |       ELSE 'average' END AS agg_method,
       |  CASE WHEN regexp_matches(path, '.*\\.clicks$$') THEN 60
       |       WHEN regexp_matches(path, '^vera\\.user-(one|two)\\.') THEN 10
       |       ELSE 3600 END AS step
       | FROM rw)
       |SELECT path, ts - ts%step AS bucket, agg_method,
       | round(CASE agg_method
       |   WHEN 'sum' THEN sum(value)
       |   WHEN 'last' THEN (max(struct_pack(t := ts, v := value))).v
       |   ELSE avg(value) END - 1e-9, 4) AS value,
       | count(*) AS npoints
       |FROM ruled GROUP BY path, ts - ts%step, agg_method
       |ORDER BY 1,2""".stripMargin

  /** A8 aggregator oracle — shared by carbon_aggregate (batch) and
    * stream_aggregate_multi (the whole conf in one streaming query,
    * run over a batch frame: branch-per-rule ≡ the batch fold).
    */
  private lazy val CarbonAggregateSql =
    s"""WITH $M,
       |mm AS (SELECT path, split_part(path, '.', 3) AS kind, ts, value
       |  FROM m WHERE regexp_matches(path, '^vera\\.[^.]+\\.[^.]+$$')),
       |r1 AS (SELECT 'vera.all.' || kind AS path, ts - ts%600 AS bucket,
       |  round(sum(value) - 1e-9, 4) AS value, count(*) AS npoints
       |  FROM mm GROUP BY 1, 2),
       |r2 AS (SELECT 'stats.' || kind || '.mean' AS path,
       |  ts - ts%3600 AS bucket, round(avg(value) - 1e-9, 4) AS value,
       |  count(*) AS npoints FROM mm GROUP BY 1, 2),
       |r3 AS (SELECT 'stats.' || kind || '.n' AS path,
       |  ts - ts%3600 AS bucket,
       |  round(CAST(count(value) AS DOUBLE) - 1e-9, 4) AS value,
       |  count(*) AS npoints FROM mm GROUP BY 1, 2)
       |SELECT * FROM (SELECT * FROM r1 UNION ALL SELECT * FROM r2
       |  UNION ALL SELECT * FROM r3) t
       |ORDER BY 1, 2""".stripMargin

  /** B11 slot-overwrite oracle — shared by ts_upsert and the G6
    * streaming twin (two sequential last-write-wins merges compose to
    * the same src-precedence fold).
    */
  private lazy val UpsertSql =
    s"""WITH $M,
       |inc AS (SELECT path, ts, value*2 AS value FROM m WHERE ts % 3 = 0),
       |u AS (SELECT path, ts, value, 0 AS src FROM m
       |      UNION ALL SELECT path, ts, value, 1 AS src FROM inc)
       |SELECT path, ts, round((max(struct_pack(s := src, v := value))).v, 4) AS value
       |FROM u GROUP BY 1,2 ORDER BY 1,2,3""".stripMargin

  /** E8 funnel oracle — shared by events_funnel and
    * events_funnel_presplit (the hot-key-safe (user, day) pre-split
    * stitches to the identical answer).
    */
  private val FunnelSql =
    """WITH e AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t,
      |  event_type FROM events),
      |s1 AS (SELECT user_id,
      |  min(CASE WHEN event_type = 'view' THEN t END) AS t1 FROM e GROUP BY 1),
      |s2 AS (SELECT e.user_id,
      |  min(CASE WHEN event_type = 'click' AND t >= t1 THEN t END) AS t2
      | FROM e JOIN s1 USING (user_id) GROUP BY 1),
      |s3 AS (SELECT e.user_id,
      |  min(CASE WHEN event_type = 'purchase' AND t >= t2 THEN t END) AS t3
      | FROM e JOIN s2 USING (user_id) GROUP BY 1)
      |SELECT s1.user_id,
      | coalesce(t1, -1) AS t_view, coalesce(t2, -1) AS t_click,
      | coalesce(t3, -1) AS t_purchase,
      | CAST((CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END) +
      |      (CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END) +
      |      (CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS depth
      |FROM s1 JOIN s2 USING (user_id) JOIN s3 USING (user_id)
      |ORDER BY user_id""".stripMargin

  private val SessionizeSql =
    """WITH e AS (
      | SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS t
      | FROM events),
      |g AS (
      | SELECT user_id,
      |  t - lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id) AS gap
      | FROM e)
      |SELECT user_id,
      | CAST(sum(CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
      | count(*) AS n_events
      |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin

  private def rollupOracle(valueExpr: String): String =
    s"""WITH $M
       |SELECT path, ts - ts%3600 AS bucket, $valueExpr AS value,
       | count(*) AS npoints
       |FROM m GROUP BY 1,2 ORDER BY 1,2""".stripMargin

  /** The B8 fetch pipeline as DuckDB CTEs (shared by ts_fetch / render_csv),
    * parameterized on the per-level aggregate (avg for method=average,
    * sum for sum, last-point-in-bucket for last).
    */
  private def fetchCteAgg(a1Expr: String, a2Expr: String): String =
    s"""$M,
       |f AS (SELECT * FROM m WHERE regexp_matches(path, '^vera\\.u1[^.]\\.click$$')),
       |a1 AS (SELECT path, ts - ts%600 AS bucket, $a1Expr AS value FROM f GROUP BY 1,2),
       |a2 AS (SELECT path, bucket - bucket%3600 AS bucket, $a2Expr AS value FROM a1 GROUP BY 1,2),
       |p AS (SELECT DISTINCT path FROM f),
       |g AS (SELECT p.path, s.t FROM p CROSS JOIN generate_series(1706097600, 1706659200, 3600) AS s(t))""".stripMargin
  private val FetchCte = fetchCteAgg("avg(value)", "avg(value)")

  /** The C9 function-family frame: the B8 fetch grid joined to its
    * values UNROUNDED (`fr`) — function math happens on raw doubles,
    * each query's final projection applies the Eps-guarded round.
    */
  private val GfnFrameCte =
    s"""$FetchCte,
       |fr AS (SELECT g.path, g.t, a2.value AS value
       |  FROM g LEFT JOIN a2 ON g.path = a2.path AND g.t = a2.bucket)""".stripMargin

  /** The graphite-1.1 TAGGED namespace: the same event stream with the
    * hierarchy moved into canonical sorted-order tags
    * (`name;src=vera;user=uN`), values pre-shifted by -Eps (linear
    * through the method=average cascade, the cgiEnv convention).
    */
  private val MT =
    """mt AS (SELECT event_type || ';src=vera;user=u' || user_id AS path,
      | CAST(floor(epoch(ts)) AS BIGINT) AS ts, value - 1e-9 AS value FROM events)""".stripMargin

  /** The C15 fetch frame over `mt`: paths kept by `where`, the same
    * 600s→3600s average cascade and dense hourly grid as GfnFrameCte.
    */
  private def taggedFrameCte(where: String): String =
    s"""ft AS (SELECT * FROM mt WHERE $where),
       |a1t AS (SELECT path, ts - ts%600 AS bucket, avg(value) AS value FROM ft GROUP BY 1,2),
       |a2t AS (SELECT path, bucket - bucket%3600 AS bucket, avg(value) AS value FROM a1t GROUP BY 1,2),
       |pt AS (SELECT DISTINCT path FROM ft),
       |gt AS (SELECT pt.path, s.t FROM pt CROSS JOIN generate_series(1706097600, 1706659200, 3600) AS s(t)),
       |frt AS (SELECT gt.path, gt.t, a2t.value AS value
       |  FROM gt LEFT JOIN a2t ON gt.path = a2t.path AND gt.t = a2t.bucket)""".stripMargin

  /** A suffixed copy of the same frame chain for queries combining TWO
    * fetches (divideSeries) — every CTE name carries `id` so two
    * instances coexist in one WITH.
    */
  private def gfnFrameCteNamed(pathRe: String, id: String): String =
    s"""f$id AS (SELECT * FROM m WHERE regexp_matches(path, '$pathRe')),
       |a1$id AS (SELECT path, ts - ts%600 AS bucket, avg(value) AS value FROM f$id GROUP BY 1,2),
       |a2$id AS (SELECT path, bucket - bucket%3600 AS bucket, avg(value) AS value FROM a1$id GROUP BY 1,2),
       |p$id AS (SELECT DISTINCT path FROM f$id),
       |g$id AS (SELECT p$id.path, s.t FROM p$id CROSS JOIN generate_series(1706097600, 1706659200, 3600) AS s(t)),
       |fr$id AS (SELECT g$id.path, g$id.t, a2$id.value AS value
       |  FROM g$id LEFT JOIN a2$id ON g$id.path = a2$id.path AND g$id.t = a2$id.bucket)""".stripMargin

  /** The F54b/G22 shared oracle: the whole-corpus quantile-register
    * law re-sketched from scratch in SQL — F54b's Spark side merges
    * two halves' registers; G22's routes the batch table through the
    * streaming gate's shared projection. Both must land on this.
    */
  private lazy val QuantileRegisterLawSql =
    s"""WITH d AS (SELECT lang,
       |  CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS v FROM documents),
       |b AS (SELECT lang,
       |  CASE WHEN v <= 0 THEN -1
       |       ELSE (length(bin(v)) - 1) * 16 +
       |            ((v - (CAST(1 AS BIGINT) << (length(bin(v)) - 1))) * 16)
       |              // (CAST(1 AS BIGINT) << (length(bin(v)) - 1))
       |  END AS qb FROM d),
       |regs AS (SELECT lang, qb, count(*) AS cnt FROM b GROUP BY 1, 2),
       |cum AS (SELECT lang, qb,
       |  sum(cnt) OVER (PARTITION BY lang ORDER BY qb) AS cum,
       |  sum(cnt) OVER (PARTITION BY lang) AS n FROM regs),
       |qs AS (SELECT CAST(unnest([5000, 9000, 9900]) AS BIGINT) AS q_bp),
       |hit AS (SELECT lang, q_bp, min(qb) AS qb FROM cum CROSS JOIN qs
       |  WHERE cum > (q_bp * (n - 1)) // 10000 GROUP BY 1, 2)
       |SELECT lang, q_bp,
       | CAST(CASE WHEN qb < 0 THEN 0
       |      ELSE (CAST(1 AS BIGINT) << (qb // 16)) +
       |           ((qb % 16) * (CAST(1 AS BIGINT) << (qb // 16))) // 16
       | END AS BIGINT) AS q_est FROM hit
       |ORDER BY 1, 2""".stripMargin

  /** The F58b/G23 shared oracle: the whole-corpus Count-Min law. */
  private lazy val CmsRegisterLawSql =
    """WITH tok AS (SELECT lang AS slice,
      |  unnest(string_split(lower(text), ' ')) AS token FROM documents),
      |ex AS (SELECT slice, token, count(*) AS n_exact FROM tok GROUP BY 1, 2),
      |cand AS (SELECT slice, token FROM (
      |  SELECT slice, token, row_number() OVER (
      |    PARTITION BY slice ORDER BY n_exact DESC, token) AS rk FROM ex)
      | WHERE rk <= 10),
      |rws AS (SELECT unnest([0, 1, 2, 3]) AS rw),
      |regs AS (SELECT slice, rw,
      |  ('0x'||substr(md5('#cms'||rw||'#'||token),1,15))::BIGINT % 1024 AS bucket,
      |  count(*) AS cnt
      | FROM tok CROSS JOIN rws GROUP BY 1, 2, 3),
      |pr AS (SELECT c.slice, c.token, rws.rw,
      |  ('0x'||substr(md5('#cms'||rws.rw||'#'||c.token),1,15))::BIGINT % 1024 AS bucket
      | FROM cand c CROSS JOIN rws)
      |SELECT pr.slice AS lang, pr.token,
      | CAST(min(coalesce(regs.cnt, 0)) AS BIGINT) AS cms_est
      |FROM pr LEFT JOIN regs ON pr.slice = regs.slice
      |  AND pr.rw = regs.rw AND pr.bucket = regs.bucket
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** The F53/G18 shared oracle: hashed-unigram DSIR scoring — the two
    * driver entries compute identical output by construction (shared
    * delta-table arithmetic; batch join+groupBy vs the stream's in-row
    * map-literal fold differ only in plan shape).
    */
  private lazy val DsirOracleSql: String = {
    import graft.ops.{LlmQueries => LQ, Sampling => SA}
    val B = SA.DsirBuckets
    val denom = LQ.SplitWeights.map(_._2).sum
    s"""WITH $TK,
       |tok AS (SELECT doc_id, unnest(toks) AS token FROM tk),
       |tb AS (SELECT doc_id, ('0x'||substr(md5(token),1,15))::BIGINT % $B AS b,
       |  ('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15))::BIGINT % $denom AS sb FROM tok),
       |raw AS (SELECT b, count(*) AS rc FROM tb GROUP BY 1),
       |tgt AS (SELECT b, count(*) AS tc FROM tb
       |  WHERE sb >= ${LQ.dsirValLower} AND sb < ${LQ.dsirValUpper} GROUP BY 1),
       |tot AS (SELECT count(*) AS rt,
       |  count(CASE WHEN sb >= ${LQ.dsirValLower} AND sb < ${LQ.dsirValUpper} THEN 1 END) AS tt
       |  FROM tb),
       |del AS (SELECT raw.b,
       |  CAST(round((ln((coalesce(tc, 0) + 1) * 1.0 / (tt + $B))
       |    - ln((rc + 1) * 1.0 / (rt + $B))) * 1e6, 0) AS BIGINT) AS dfp
       |  FROM raw LEFT JOIN tgt USING (b) CROSS JOIN tot),
       |sc AS (SELECT doc_id, count(*) AS n_tokens, sum(dfp) AS wfp
       |  FROM tb JOIN del USING (b) GROUP BY 1)
       |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       |  round(wfp / 1e6, 6) AS logw, wfp > 0 AS keep
       |FROM sc ORDER BY doc_id""".stripMargin
  }

  /** Shared DuckDB CTEs for the documents table: tokens + distinct
    * 3-word shingles (mirrors graft.text.TextFns).
    */
  private val TK =
    """tk AS (SELECT doc_id, text, string_split(lower(text), ' ') AS toks FROM documents)"""
  private val SHD =
    """shd AS (SELECT DISTINCT doc_id, shingle FROM (
      |  SELECT doc_id, tok || ' ' || lead(tok,1) OVER w || ' ' || lead(tok,2) OVER w AS shingle
      |  FROM (SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks,1) AS pos FROM tk)
      |  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)) s
      | WHERE shingle IS NOT NULL)""".stripMargin

  /** The dedup_simhash signature pipeline as DuckDB CTEs (shared by the
    * exact / capped / clusters variants): doc_id → 60-bit simhash.
    */
  private def simCte(tkName: String): String = SIM.replace(
    "unnest(toks) AS tok FROM tk)", s"unnest(toks) AS tok FROM $tkName)")
  private val SIM =
    """td AS (SELECT DISTINCT doc_id, unnest(toks) AS tok FROM tk),
      |th AS (SELECT doc_id, ('0x'||substr(md5(tok),1,15))::BIGINT AS h FROM td),
      |sums AS (SELECT doc_id, j, sum(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
      |  FROM th CROSS JOIN generate_series(0,59) AS g(j) GROUP BY 1,2),
      |sim AS (SELECT doc_id, CAST(sum(CASE WHEN s > 0 THEN 1::BIGINT << j ELSE 0::BIGINT END) AS BIGINT) AS simhash
      |  FROM sums GROUP BY 1)""".stripMargin

  /** The df-capped band-widening stage (CappedIndex.keys) as DuckDB
    * CTEs. The key arithmetic is rendered from `Dedup.simhashKeyExpr`
    * — portable `>> & | %`/CAST SQL — which the Spark plan's compiled
    * `SimHashKeys` repeats (LlmSpec pins the two equal).
    */
  private val SimhashCappedKeyed: String = {
    val cap = graft.ops.LlmQueries.SimhashMaxDf
    val n = graft.dedup.Dedup.simhashWidenLevels
    val kCols = (0 to n).map(j => s"${graft.dedup.Dedup.simhashKeyExpr(j)} AS k$j").mkString(",\n  ")
    val dfCols = (0 to n).map(j => s"count(*) OVER (PARTITION BY band, k$j) AS df$j").mkString(",\n  ")
    val lvl = "CASE " + (0 until n).map(j => s"WHEN df$j <= $cap THEN $j").mkString(" ") + s" ELSE $n END"
    val bkey = "CASE " + (0 until n).map(j => s"WHEN df$j <= $cap THEN k$j").mkString(" ") + s" ELSE k$n END"
    s"""sigs AS (SELECT DISTINCT simhash FROM sim),
       |bk AS (SELECT simhash, band,
       |  $kCols
       |  FROM sigs CROSS JOIN generate_series(0,3) AS gb(band)),
       |dk AS (SELECT *,
       |  $dfCols
       |  FROM bk),
       |keyed AS (SELECT simhash, band, $lvl AS lvl, $bkey AS bkey FROM dk),
       |sigpairs AS (SELECT DISTINCT a.simhash AS s1, b.simhash AS s2,
       |    CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
       |  FROM keyed a JOIN keyed b
       |    ON a.band=b.band AND a.lvl=b.lvl AND a.bkey=b.bkey AND a.simhash < b.simhash
       |  WHERE bit_count(xor(a.simhash, b.simhash)) <= ${graft.ops.LlmQueries.SimhashMaxHamming})""".stripMargin
  }

  /** Star-clustering CTEs over (sim, sigpairs) — shared by the
    * dedup_simhash_clusters oracle and the corpus_curation near-dup
    * stage (same one-step min-propagation rule as Dedup.simhashClusters).
    */
  private val SimhashClusterCtes =
    """groups AS (SELECT simhash, min(doc_id) AS rep FROM sim GROUP BY 1),
      |oriented AS (SELECT CASE WHEN g1.rep < g2.rep THEN p.s2 ELSE p.s1 END AS simhash,
      |    least(g1.rep, g2.rep) AS cand
      |  FROM sigpairs p JOIN groups g1 ON g1.simhash = p.s1
      |                  JOIN groups g2 ON g2.simhash = p.s2),
      |roots AS (SELECT simhash, min(cand) AS root FROM oriented GROUP BY 1),
      |clusters AS (SELECT g.simhash, coalesce(r.root, g.rep) AS cluster_id
      |  FROM groups g LEFT JOIN roots r ON r.simhash = g.simhash)""".stripMargin

  /** The text_quality score formula (mirrors Analysis.quality), shared
    * with the corpus_curation quality gate.
    */
  private def qualityScoreSql(enList: String): String =
    s"""round(0.3*least(len(toks)*1.0/100, 1.0)
       |     + 0.3*(len(list_distinct(toks))*1.0/len(toks))
       |     + 0.2*(len(list_filter(toks, x -> x IN ($enList)))*1.0/len(toks))
       |     + 0.2*least((length(text) - (len(toks)-1))*1.0/len(toks)/10.0, 1.0) - 1e-9, 4)""".stripMargin

  /** The df-capped Jaccard candidate pipeline as DuckDB CTEs (shared
    * by the capped-pairs and clusters oracles). jaccard still uses
    * UNCAPPED set sizes (intersection under-counts, never over-counts).
    */
  private lazy val JaccardCappedCtes =
    s"""rare AS (SELECT shingle FROM shd GROUP BY 1 HAVING count(*) <= ${graft.ops.LlmQueries.JaccardMaxDf}),
       |shc AS (SELECT shd.doc_id, shd.shingle FROM shd JOIN rare USING (shingle)),
       |sizes AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY 1),
       |inter AS (SELECT a.doc_id AS x, b.doc_id AS y, count(*) AS i
       |  FROM shc a JOIN shc b ON a.shingle=b.shingle AND a.doc_id<b.doc_id GROUP BY 1,2)""".stripMargin

  /** The df-capped hashed 50-gram pipeline (Dedup.substringPairs) as
    * DuckDB CTEs — window string_agg builds each w-gram, h60-hashed
    * with the same md5 arithmetic as the Spark plan.
    */
  /** Positioned w-gram base (window string_agg gram rebuild), shared by
    * the pairs/clusters/spans substring oracles.
    */
  private lazy val SubstrGramCtes = {
    val w = graft.ops.LlmQueries.SubstrW
    s"""pos AS (SELECT doc_id, unnest(toks) AS tok,
       |    generate_subscripts(toks,1) AS p, len(toks) AS n FROM tk),
       |sg AS (SELECT doc_id, p, n,
       |    string_agg(tok,' ') OVER (PARTITION BY doc_id ORDER BY p
       |      ROWS BETWEEN CURRENT ROW AND ${w - 1} FOLLOWING) AS gram
       |  FROM pos),
       |pgr AS (SELECT doc_id, p, ('0x'||substr(md5(gram),1,15))::BIGINT AS g
       |  FROM sg WHERE p + ${w - 1} <= n)""".stripMargin
  }

  private lazy val SubstrCtes = {
    val cap = graft.ops.LlmQueries.SubstrMaxDf
    s"""$SubstrGramCtes,
       |shw AS (SELECT DISTINCT doc_id, g FROM pgr),
       |rare50 AS (SELECT g FROM shw GROUP BY 1 HAVING count(*) <= $cap),
       |shw_c AS (SELECT shw.doc_id, shw.g FROM shw JOIN rare50 USING (g)),
       |sprs AS (SELECT a.doc_id AS x, b.doc_id AS y, count(*) AS n_grams
       |  FROM shw_c a JOIN shw_c b ON a.g=b.g AND a.doc_id<b.doc_id
       |  GROUP BY 1,2)""".stripMargin
  }

  /** The MinHash signature/banding pipeline as DuckDB CTEs (shared by
    * the pairs and clusters oracles).
    */
  private lazy val MinhashBandsCtes =
    s"""h AS (SELECT doc_id, ('0x'||substr(md5(shingle),1,15))::BIGINT % 2147483647 AS hv FROM shd),
       |params(i,a,b) AS (VALUES $MinhashValues),
       |sigs AS (SELECT doc_id, i, min((a*hv+b)%2147483647) AS mh
       |  FROM h CROSS JOIN params GROUP BY 1,2),
       |bands AS (SELECT doc_id, i//3 AS band,
       |  md5(string_agg(mh::VARCHAR, ',' ORDER BY i)) AS bh FROM sigs GROUP BY 1,2)""".stripMargin

  /** The df-capped MinHash keying stage (CappedIndex.keys) as
    * DuckDB CTEs — the key slot schedule is rendered from the SAME
    * `Dedup.minhashKeySlots` the Spark plan evaluates (md5 over the
    * comma-joined decimal slot values; DuckDB concat_ws casts BIGINT
    * identically), single source of truth like SimhashCappedKeyed.
    */
  /** md5 band-key expression over a signature list column `s` at
    * (band b, widening level j) — shared by the capped chain and the
    * G14 incoming-key blocks.
    */
  private def minhashKeyExprSql(b: Int, j: Int): String =
    graft.dedup.Dedup.minhashKeySlots(b, j).map(i => s"s[${i + 1}]")
      .mkString("md5(concat_ws(',', ", ", ", "))")

  private lazy val MinhashCappedCtes: String = minhashCappedCtesWhere("")

  /** The capped-keying CTE chain with an optional doc filter on the
    * signature source — `dsigWhere` restricts which docs' signatures
    * enter the keyed index (the G14 base-only index build).
    */
  private def minhashCappedCtesWhere(dsigWhere: String): String = {
    import graft.dedup.{Dedup => D}
    val cap = graft.ops.LlmQueries.MinhashMaxDf
    val n = D.minhashWidenLevels
    def keyExpr(b: Int, j: Int): String = minhashKeyExprSql(b, j)
    val bandBlocks = (0 until D.minhashNBands).map { b =>
      val kCols = (0 to n).map(j => s"${keyExpr(b, j)} AS k$j").mkString(",\n    ")
      s"SELECT sk, $b AS band,\n    $kCols\n  FROM dsig"
    }.mkString("\n  UNION ALL ")
    val dfCols = (0 to n).map(j => s"count(*) OVER (PARTITION BY band, k$j) AS df$j").mkString(",\n  ")
    val lvl = "CASE " + (0 until n).map(j => s"WHEN df$j <= $cap THEN $j").mkString(" ") + s" ELSE $n END"
    val bkey = "CASE " + (0 until n).map(j => s"WHEN df$j <= $cap THEN k$j").mkString(" ") + s" ELSE k$n END"
    s"""sarr AS (SELECT doc_id, list(mh ORDER BY i) AS s,
       |    md5(string_agg(mh::VARCHAR, ',' ORDER BY i)) AS sk
       |  FROM sigs GROUP BY 1),
       |dsig AS (SELECT sk, any_value(s) AS s FROM sarr $dsigWhere GROUP BY 1),
       |mbk AS (
       |  $bandBlocks),
       |mdk AS (SELECT *,
       |  $dfCols
       |  FROM mbk),
       |mkeyed AS (SELECT sk, band, $lvl AS lvl, $bkey AS bkey FROM mdk),
       |msigpairs AS (SELECT DISTINCT a.sk AS s1, b.sk AS s2
       |  FROM mkeyed a JOIN mkeyed b
       |    ON a.band=b.band AND a.lvl=b.lvl AND a.bkey=b.bkey AND a.sk < b.sk)""".stripMargin
  }

  /** The BPE merge chain (graft.text.Bpe) as a rendered DuckDB CTE
    * sequence — one (pair-count, top-1, rewrite) block per iteration,
    * the Lloyd-codebook replay pattern: same delimiter arithmetic, same
    * greedy `replace` merge, same pinned tie-break (cnt desc, lhs,
    * rhs). The step count and delimiter come from the Scala constants.
    */
  /** The shared w/s0/p·m·s per-iteration CTE chain that regenerates
    * the merge table inside DuckDB (consumed by both the F21 merges
    * oracle and the F21c/G10 apply oracles).
    */
  private def bpeChainCtes(src: String): String = {
    val n = graft.ops.LlmQueries.BpeMerges
    val D = graft.text.Bpe.D
    def stepCtes(k: Int): String = {
      val prev = if (k == 1) "s0" else s"s${k - 1}"
      s"""p$k AS (SELECT lhs, rhs, CAST(sum(freq) AS BIGINT) AS cnt FROM (
         |  SELECT freq, sym AS lhs, lead(sym) OVER (PARTITION BY word ORDER BY p) AS rhs
         |  FROM (SELECT word, freq, unnest(string_split(trim(s, '$D'), '$D$D')) AS sym,
         |        generate_subscripts(string_split(trim(s, '$D'), '$D$D'), 1) AS p FROM $prev) u) v
         |  WHERE rhs IS NOT NULL GROUP BY 1, 2),
         |m$k AS (SELECT CAST($k AS BIGINT) AS step, lhs, rhs, cnt FROM p$k
         |  ORDER BY cnt DESC, lhs, rhs LIMIT 1),
         |s$k AS (SELECT word, freq,
         |    replace(s, '$D'||lhs||'$D$D'||rhs||'$D', '$D'||lhs||rhs||'$D') AS s
         |  FROM $prev CROSS JOIN m$k)""".stripMargin
    }
    val steps = (1 to n).map(stepCtes).mkString(",\n")
    s"""w AS (SELECT word, count(*) AS freq FROM (
       |    SELECT unnest(string_split(lower(text), ' ')) AS word FROM $src) t
       |  WHERE length(word) > 0 GROUP BY 1),
       |s0 AS (SELECT word, freq, regexp_replace(word, '(.)', '$D\\1$D', 'g') AS s FROM w),
       |$steps""".stripMargin
  }

  private lazy val BpeChainCtes: String = bpeChainCtes("documents")

  /** The F21 merge-table oracle over an arbitrary document source —
    * shared by corpus_bpe_merges (full corpus) and corpus_bpe_sampled
    * (the salted-hash sampled sub-corpus).
    */
  private def bpeMergesOracleSql(src: String): String = {
    val n = graft.ops.LlmQueries.BpeMerges
    val sel = (1 to n).map(k => s"SELECT step, lhs, rhs, cnt FROM m$k")
      .mkString("\nUNION ALL ")
    s"""WITH ${bpeChainCtes(src)}
       |$sel
       |ORDER BY step""".stripMargin
  }

  private lazy val BpeOracleSql: String = bpeMergesOracleSql("documents")

  /** The F46 planted-variant + canonicalization chain as DuckDB CTEs
    * over `src` — the identical 6-stage regexp law graft.text.Urls
    * evaluates, in RE2 spelling. Every CTE name and the value column
    * carry the suffix `s` so two instances coexist in one WITH (the
    * G17 gate joins the base index against the arriving batch).
    */
  private def urlCanonCtes(src: String, s: String): String =
    s"""uv$s AS (SELECT doc_id, CASE CAST(doc_id % 4 AS INT)
       |  WHEN 0 THEN 'https://site'||(doc_id%5)||'.example.com/a'||(doc_id%11)
       |  WHEN 1 THEN 'HTTPS://SITE'||(doc_id%5)||'.EXAMPLE.COM:443/a'||(doc_id%11)||'#sec'||(doc_id%3)
       |  WHEN 2 THEN 'https://www.site'||(doc_id%5)||'.example.com/a'||(doc_id%11)||'/?utm_source=s'||(doc_id%2)
       |  ELSE 'https://site'||(doc_id%5)||'.example.com/a'||(doc_id%11)||'?id='||(doc_id%5)||'&utm_campaign=c'
       |  END AS url FROM $src),
       |c1$s AS (SELECT doc_id, regexp_replace(url, '#.*$$', '') AS u$s FROM uv$s),
       |c2$s AS (SELECT doc_id,
       |  lower(regexp_extract(u$s, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?]*', 0)) ||
       |  substr(u$s, length(regexp_extract(u$s, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?]*', 0)) + 1) AS u$s
       |  FROM c1$s),
       |c3$s AS (SELECT doc_id, regexp_replace(regexp_replace(u$s,
       |    '^(https://[^/:?]*):443([/?]|$$)', '\\1\\2'),
       |    '^(http://[^/:?]*):80([/?]|$$)', '\\1\\2') AS u$s FROM c2$s),
       |c4$s AS (SELECT doc_id, regexp_replace(u$s, '^(https?://)www\\.', '\\1') AS u$s FROM c3$s),
       |c5$s AS (SELECT doc_id, regexp_replace(u$s,
       |    '([?&])(utm_[a-z]+|fbclid|gclid)=[^&#]*', '\\1', 'g') AS u$s FROM c4$s),
       |c6$s AS (SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(regexp_replace(u$s,
       |    '\\?&+', '?', 'g'), '&&+', '&', 'g'), '[?&]$$', ''), '/+$$', '') AS u$s FROM c5$s)""".stripMargin

  /** F42 classifier GD unroll as DuckDB CTEs — the exact
    * per-token/per-doc fixed-point law graft.text.Classifier evaluates
    * (1e-12 grid z terms, 1e-9 grid gradient terms, fast-sigmoid link,
    * η·(s/(N·1e9)) update in the same operation order), iterated
    * [[graft.text.Classifier.Iters]] times as chained CTEs; bias rides
    * the gradient union as bucket −1 and its own c{t} chain.
    */
  private lazy val ClassifierCtes: String = {
    import graft.text.{Classifier => C}
    val d = C.Dim
    val eta = C.Eta
    val sb = new StringBuilder
    sb ++= s"""$TK,
      |base AS (SELECT doc_id, toks, len(toks) AS n,
      |  CASE WHEN ${qualityScoreSql(EnStopwordList)} >= ${C.LabelMin} THEN 1.0 ELSE 0.0 END AS y
      |  FROM tk WHERE text IS NOT NULL),
      |nn AS (SELECT count(*) AS nd FROM base),
      |tok AS (SELECT doc_id, ('0x'||substr(md5(tok),1,15))::BIGINT % $d AS b, n, y
      |  FROM (SELECT doc_id, unnest(toks) AS tok, n, y FROM base)),
      |w0 AS (SELECT range AS b, 0.0 AS w FROM range($d)),
      |c0 AS (SELECT 0.0 AS bias)""".stripMargin
    for (t <- 0 until C.Iters) {
      sb ++= s""",
        |z$t AS (SELECT t.doc_id, any_value(t.y) AS y,
        |  (SELECT bias FROM c$t) + CAST(sum(CAST(round((w.w/t.n)*1000000000000.0) AS BIGINT)) AS DOUBLE)/1000000000000.0 AS z
        |  FROM tok t JOIN w$t w USING (b) GROUP BY t.doc_id),
        |e$t AS (SELECT doc_id, (0.5 + z/(2.0*(1.0+abs(z)))) - y AS err FROM z$t),
        |g$t AS (SELECT b, sum(fx) AS s FROM (
        |  SELECT t.b AS b, CAST(round((e.err/t.n)*1000000000.0) AS BIGINT) AS fx
        |    FROM tok t JOIN e$t e USING (doc_id)
        |  UNION ALL SELECT CAST(-1 AS BIGINT) AS b, CAST(round(err*1000000000.0) AS BIGINT) AS fx FROM e$t
        |  ) u GROUP BY b),
        |w${t + 1} AS (SELECT w.b, w.w - $eta*(CAST(coalesce(g.s,0) AS DOUBLE)/((SELECT nd FROM nn)*1000000000.0)) AS w
        |  FROM w$t w LEFT JOIN g$t g ON w.b = g.b),
        |c${t + 1} AS (SELECT (SELECT bias FROM c$t) - $eta*(CAST(coalesce((SELECT s FROM g$t WHERE b = -1),0) AS DOUBLE)/((SELECT nd FROM nn)*1000000000.0)) AS bias)""".stripMargin
    }
    sb.toString
  }

  /** The F21s sampled document source as a DuckDB subquery — the SAME
    * salted h60 keep rule LlmQueries.bpeSampleDocs evaluates.
    */
  private lazy val BpeSampleSrc: String = {
    import graft.ops.{LlmQueries => LQ}
    s"""(SELECT * FROM documents
       | WHERE ('0x'||substr(md5(CAST(doc_id AS VARCHAR)||'${LQ.BpeSampleSalt}'),1,15))::BIGINT
       |   % 10000 < ${LQ.BpeSampleBp})""".stripMargin
  }

  /** F21c/G10: the regenerated merge table applied to every document —
    * the whole text delimiter-wrapped once (spaces stay bare, so no
    * merge pattern can cross a word boundary — the same argument as
    * Bpe.applyTokens), then each m·k's pair pulled in as scalar
    * subqueries for one literal replace per step. All-integer outputs
    * (DuckDB `//` and Spark `div` agree on positive operands).
    */
  private lazy val BpeApplyOracleSql: String = {
    val n = graft.ops.LlmQueries.BpeMerges
    val D = graft.text.Bpe.D
    val applies = (1 to n).map { k =>
      val prev = if (k == 1) "d0" else s"d${k - 1}"
      s"""d$k AS (SELECT doc_id, nb, replace(s,
         |  (SELECT '$D'||lhs||'$D$D'||rhs||'$D' FROM m$k),
         |  (SELECT '$D'||lhs||rhs||'$D' FROM m$k)) AS s FROM $prev)""".stripMargin
    }.mkString(",\n")
    s"""WITH $BpeChainCtes,
       |d0 AS (SELECT doc_id,
       |  length(replace(lower(text), ' ', '')) AS nb,
       |  regexp_replace(lower(text), '([^ ])', '$D\\1$D', 'g') AS s FROM documents),
       |$applies
       |SELECT doc_id,
       |  CAST((length(s) - length(replace(s, '$D', ''))) // 2 AS BIGINT) AS n_tokens,
       |  CAST(nb AS BIGINT) AS n_base_syms,
       |  CAST(coalesce((nb * 10000) //
       |    nullif((length(s) - length(replace(s, '$D', ''))) // 2, 0), 0) AS BIGINT)
       |    AS compression_bp
       |FROM d$n ORDER BY doc_id""".stripMargin
  }

  /** The F14 staged-curation pipeline as DuckDB CTEs ending in `cres`
    * (doc_id, reason) — shared by corpus_curation and the F14b
    * decontamination-extended variant.
    */
  private lazy val CurationStageCtes: String =
    s"""$TK,
       |qual AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
       |  ${qualityScoreSql(EnStopwordList)} AS score FROM tk),
       |tok AS (SELECT doc_id, unnest(toks) AS tok FROM tk),
       |dict(lang_cand, word) AS (VALUES $StopwordValues),
       |hits AS (SELECT doc_id, lang_cand, count(*) AS hits FROM tok
       |  JOIN dict ON tok = word GROUP BY 1,2),
       |best AS (SELECT doc_id, lang_cand,
       |  row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, lang_cand) AS rk FROM hits),
       |lng AS (SELECT d.doc_id, coalesce(b.lang_cand, 'unknown') AS pred_lang
       |  FROM documents d LEFT JOIN (SELECT * FROM best WHERE rk = 1) b USING (doc_id)),
       |base AS (SELECT t.doc_id, t.text, q.n_tokens, q.score, lng.pred_lang,
       |  (q.score >= ${graft.ops.LlmQueries.CurationMinScore}
       |    AND q.n_tokens >= ${graft.ops.LlmQueries.CurationMinTokens}) AS q_pass,
       |  (lng.pred_lang = '${graft.ops.LlmQueries.CurationLang}') AS l_pass
       |  FROM tk t JOIN qual q USING (doc_id) JOIN lng USING (doc_id)),
       |sv AS (SELECT doc_id, text, min(doc_id) OVER (PARTITION BY md5(text)) AS keep_id
       |  FROM base WHERE q_pass AND l_pass),
       |tk2 AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM sv
       |  WHERE doc_id = keep_id),
       |${simCte("tk2")},
       |$SimhashCappedKeyed,
       |$SimhashClusterCtes,
       |nd AS (SELECT m.doc_id,
       |    CASE WHEN m.doc_id = c.cluster_id THEN 1 ELSE 0 END AS nd_keep
       |  FROM sim m JOIN clusters c ON c.simhash = m.simhash),
       |cres AS (SELECT b.doc_id,
       |  CASE WHEN NOT b.q_pass THEN 'quality'
       |       WHEN NOT b.l_pass THEN 'language'
       |       WHEN b.doc_id <> s.keep_id THEN 'exact_dup'
       |       WHEN n.nd_keep = 0 THEN 'near_dup'
       |       ELSE 'kept' END AS reason
       |  FROM base b LEFT JOIN sv s USING (doc_id) LEFT JOIN nd n USING (doc_id))""".stripMargin

  /** DuckDB CTE: nearest-centroid assignment of every vector in `n`
    * against codebook CTE `cents` — argmax of round(cos, 6) with
    * lowest-cent_id tie-break, the Ann.coarseAssign/ivfTopKWith rule.
    * Shared by the IVF family and the SemDeDup oracle.
    */
  private def ivfAssignCte(cents: String, name: String,
                           src: String = "n"): String =
    s"""$name AS (SELECT vec_id, cent_id FROM (
       |  SELECT n.vec_id, c.cent_id, row_number() OVER (PARTITION BY n.vec_id
       |    ORDER BY round(list_dot_product(n.emb, c.ce)/(n.nrm*c.cn), 6) DESC, c.cent_id) AS ark
       |  FROM $src n CROSS JOIN $cents c) WHERE ark = 1)""".stripMargin

  /** The Lloyd-refined codebook as DuckDB CTEs — `n` (normed vectors),
    * `c0` (lowest-K seed), then per-iteration assign → FIXED-POINT
    * element-wise mean (exact 1e-6-grid integer sum / count, then the
    * FLOAT pass) → rebuilt codebook, exactly Ann.refinedCentroids'
    * arithmetic; the final codebook CTE is [[LloydFinalCte]]. Shared by
    * ann_ivf_refined and dedup_semantic (VERDICT r6 #4).
    */
  private def lloydChainCtesOver(src: String): String = {
    import graft.ops.{LlmQueries => LQ}
    def lloydCte(a: String, m: String, prev: String, next: String) =
      s"""$m AS (SELECT a.cent_id, e.d,
         |  CAST(CAST(CAST(sum(CAST(round(e.v * 1000000.0) AS BIGINT)) AS DOUBLE)
         |    / (count(*) * 1000000.0) AS FLOAT) AS DOUBLE) AS mv
         |  FROM $a a JOIN (SELECT vec_id, generate_subscripts(emb,1) AS d, unnest(emb) AS v
         |                  FROM $src) e USING (vec_id)
         |  GROUP BY 1,2),
         |${m}l AS (SELECT cent_id, list(mv ORDER BY d) AS ce FROM $m GROUP BY 1),
         |$next AS (SELECT p.cent_id, coalesce(l.ce, p.ce) AS ce,
         |  sqrt(list_dot_product(coalesce(l.ce, p.ce), coalesce(l.ce, p.ce))) AS cn
         |  FROM $prev p LEFT JOIN ${m}l l USING (cent_id))""".stripMargin
    val iterCtes = (1 to LQ.IvfLloydIters).map(i =>
      ivfAssignCte(s"c${i - 1}", s"a$i", src) + ",\n" +
        lloydCte(s"a$i", s"m$i", s"c${i - 1}", s"c$i")).mkString(",\n")
    s"""c0 AS (SELECT vec_id AS cent_id, emb AS ce, nrm AS cn FROM $src
       |  ORDER BY vec_id LIMIT ${LQ.IvfCentroids}),
       |$iterCtes""".stripMargin
  }

  private lazy val LloydChainCtes: String =
    s"""n AS (SELECT vec_id, embedding::DOUBLE[] AS emb,
       |  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm FROM embeddings),
       |${lloydChainCtesOver("n")}""".stripMargin

  /** The SAMPLE-trained Lloyd chain (F6e): the same c0→cN CTE names,
    * but every training row comes from `ns` — the salted basis-point
    * keep rule Ann.codebookTrainSample evaluates (h60 = first 15 md5
    * hex digits as a 60-bit integer, the F24 rendering).
    */
  private lazy val LloydChainSampledCtes: String = {
    import graft.ops.{LlmQueries => LQ}
    s"""n AS (SELECT vec_id, embedding::DOUBLE[] AS emb,
       |  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm FROM embeddings),
       |ns AS (SELECT * FROM n
       |  WHERE ('0x'||substr(md5(CAST(vec_id AS VARCHAR)||'#cbtrain'),1,15))::BIGINT % 10000
       |        < ${LQ.CbSampleBp}),
       |${lloydChainCtesOver("ns")}""".stripMargin
  }

  private lazy val LloydFinalCte = s"c${graft.ops.LlmQueries.IvfLloydIters}"

  /** The F6d two-level argmax as CTEs assigning `src` rows against
    * codebook CTE `cents` → `name` = (vec_id, cent_id): super-codebook
    * (G lowest cent_ids), centroid→super map, level-1 routing, level-2
    * member argmax — all on the shared round(cos,6)/lowest-id rule.
    * Per-iteration inside the F6f hierarchical Lloyd chain.
    */
  private def twoLevelAssignCte(cents: String, name: String, src: String,
                                g: Int): String =
    s"""${name}sup AS (SELECT cent_id AS super_id, ce AS se, cn AS sn FROM $cents
       |  ORDER BY cent_id LIMIT $g),
       |${name}cmap AS (SELECT cent_id, super_id, ce, cn FROM (
       |  SELECT c.cent_id, s.super_id, c.ce, c.cn,
       |    row_number() OVER (PARTITION BY c.cent_id
       |      ORDER BY round(list_dot_product(c.ce, s.se)/(c.cn*s.sn), 6) DESC, s.super_id) AS rk
       |  FROM $cents c CROSS JOIN ${name}sup s) WHERE rk = 1),
       |${name}r1 AS (SELECT vec_id, super_id FROM (
       |  SELECT n.vec_id, s.super_id,
       |    row_number() OVER (PARTITION BY n.vec_id
       |      ORDER BY round(list_dot_product(n.emb, s.se)/(n.nrm*s.sn), 6) DESC, s.super_id) AS rk
       |  FROM $src n CROSS JOIN ${name}sup s) WHERE rk = 1),
       |$name AS (SELECT vec_id, cent_id FROM (
       |  SELECT n.vec_id, m.cent_id,
       |    row_number() OVER (PARTITION BY n.vec_id
       |      ORDER BY round(list_dot_product(n.emb, m.ce)/(n.nrm*m.cn), 6) DESC, m.cent_id) AS rk
       |  FROM $src n JOIN ${name}r1 r1 USING (vec_id)
       |  JOIN ${name}cmap m ON m.super_id = r1.super_id) t WHERE rk = 1)""".stripMargin

  /** The F6f hierarchical Lloyd chain over the sampled rows: same
    * c0→cN names and fixed-point mean CTEs as the flat chain, but each
    * iteration's assignment is the two-level router.
    */
  private lazy val LloydChainSampled2Ctes: String = {
    import graft.ops.{LlmQueries => LQ}
    def lloydCte(a: String, m: String, prev: String, next: String) =
      s"""$m AS (SELECT a.cent_id, e.d,
         |  CAST(CAST(CAST(sum(CAST(round(e.v * 1000000.0) AS BIGINT)) AS DOUBLE)
         |    / (count(*) * 1000000.0) AS FLOAT) AS DOUBLE) AS mv
         |  FROM $a a JOIN (SELECT vec_id, generate_subscripts(emb,1) AS d, unnest(emb) AS v
         |                  FROM ns) e USING (vec_id)
         |  GROUP BY 1,2),
         |${m}l AS (SELECT cent_id, list(mv ORDER BY d) AS ce FROM $m GROUP BY 1),
         |$next AS (SELECT p.cent_id, coalesce(l.ce, p.ce) AS ce,
         |  sqrt(list_dot_product(coalesce(l.ce, p.ce), coalesce(l.ce, p.ce))) AS cn
         |  FROM $prev p LEFT JOIN ${m}l l USING (cent_id))""".stripMargin
    val iterCtes = (1 to LQ.IvfLloydIters).map(i =>
      twoLevelAssignCte(s"c${i - 1}", s"a$i", "ns", LQ.SuperCells) + ",\n" +
        lloydCte(s"a$i", s"m$i", s"c${i - 1}", s"c$i")).mkString(",\n")
    s"""n AS (SELECT vec_id, embedding::DOUBLE[] AS emb,
       |  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm FROM embeddings),
       |ns AS (SELECT * FROM n
       |  WHERE ('0x'||substr(md5(CAST(vec_id AS VARCHAR)||'#cbtrain'),1,15))::BIGINT % 10000
       |        < ${LQ.CbSampleBp}),
       |c0 AS (SELECT vec_id AS cent_id, emb AS ce, nrm AS cn FROM ns
       |  ORDER BY vec_id LIMIT ${LQ.IvfCentroids}),
       |$iterCtes""".stripMargin
  }

  /** The F25g trained product codebook as DuckDB CTEs over an existing
    * `n` (vec_id, emb DOUBLE[]) CTE: '#pqtrain' hash sample → sub-
    * vector explode → slice-init seeds → per-iteration argmin /
    * fixed-point-mean Lloyd chain, exactly Ann.pqCodebookTrained's
    * arithmetic. Final book CTE is [[PqTrainedFinalCte]] with columns
    * (s, j, cw, cc). Shared by ann_pq_trained and ann_ivf_pq_trained.
    */
  private lazy val PqTrainedBookCtes: String = pqTrainedBookCtesOver("n")

  /** The F25g trained-book chain over an arbitrary (vec_id, emb) CTE —
    * `src = "n"` trains on raw vectors (F25g/h); the residual variant
    * (F25i) passes its residual-vector CTE.
    */
  private def pqTrainedBookCtesOver(src: String): String = {
    import graft.ops.{LlmQueries => LQ}
    val sd = 64 / LQ.PqSubspaces
    val iterCtes = (1 to LQ.PqTrainIters).map { i =>
      val prev = s"b${i - 1}"
      s"""pa$i AS (SELECT vec_id, s, j, sv FROM (
         |  SELECT sub.vec_id, sub.s, b.j, sub.sv,
         |    row_number() OVER (PARTITION BY sub.vec_id, sub.s
         |      ORDER BY round(b.cc - 2*list_dot_product(sub.sv, b.cw), 6) ASC, b.j) AS ark
         |  FROM sub JOIN $prev b USING (s)) WHERE ark = 1),
         |pm$i AS (SELECT s, j, e.d,
         |  CAST(CAST(CAST(sum(CAST(round(e.v * 1000000.0) AS BIGINT)) AS DOUBLE)
         |    / (count(*) * 1000000.0) AS FLOAT) AS DOUBLE) AS mv
         |  FROM (SELECT s, j, generate_subscripts(sv,1) AS d, unnest(sv) AS v
         |        FROM pa$i) e
         |  GROUP BY 1,2,3),
         |pm${i}l AS (SELECT s, j, list(mv ORDER BY d) AS cw FROM pm$i GROUP BY 1,2),
         |b$i AS (SELECT p.s, p.j, coalesce(l.cw, p.cw) AS cw,
         |  list_dot_product(coalesce(l.cw, p.cw), coalesce(l.cw, p.cw)) AS cc
         |  FROM $prev p LEFT JOIN pm${i}l l USING (s, j))""".stripMargin
    }.mkString(",\n")
    s"""ns AS (SELECT * FROM $src
       |  WHERE ('0x'||substr(md5(CAST(vec_id AS VARCHAR)||'#pqtrain'),1,15))::BIGINT % 10000
       |        < ${LQ.PqTrainBp}),
       |sub AS (SELECT vec_id, t.range AS s,
       |    emb[t.range*$sd+1 : t.range*$sd+$sd] AS sv
       |  FROM ns CROSS JOIN range(${LQ.PqSubspaces}) t),
       |seed AS (SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS j
       |  FROM ns ORDER BY vec_id LIMIT ${LQ.PqCodes}),
       |b0 AS (SELECT sub.s, seed.j, sub.sv AS cw,
       |    list_dot_product(sub.sv, sub.sv) AS cc
       |  FROM sub JOIN seed USING (vec_id)),
       |$iterCtes""".stripMargin
  }

  private lazy val PqTrainedFinalCte =
    s"b${graft.ops.LlmQueries.PqTrainIters}"

  /** The complete F25h trained-IVFPQ search SQL, parameterized over the
    * TRAINING corpus: `extraCtes` (may be empty) injects extra CTEs
    * after `n`, and `trainSrc` names the CTE the coarse centroids and
    * the product codebook train on — "n" is the plain F25h query;
    * ann_index_refresh trains on a `base` subset while encode/probe
    * still run over the whole corpus (the frozen-codebook extend law).
    */
  private def ivfPqTrainedSqlOver(trainSrc: String,
                                  extraCtes: String = "",
                                  candWhere: String = ""): String = {
    import graft.ops.{LlmQueries => LQ}
    val sd = 64 / LQ.PqSubspaces
    s"""WITH n AS (SELECT vec_id, embedding::DOUBLE[] AS emb,
       |  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm FROM embeddings),
       |$extraCtes${pqTrainedBookCtesOver(trainSrc)},
       |cents AS (SELECT vec_id AS cent_id, emb AS ce, nrm AS cn FROM $trainSrc
       |  ORDER BY vec_id LIMIT ${LQ.IvfCentroids}),
       |va AS (SELECT n.vec_id, c.cent_id,
       |  row_number() OVER (PARTITION BY n.vec_id
       |    ORDER BY round(list_dot_product(n.emb, c.ce)/(n.nrm*c.cn), 6) DESC, c.cent_id) AS ark
       |  FROM n CROSS JOIN cents c),
       |assigned AS (SELECT vec_id, cent_id FROM va WHERE ark = 1),
       |qa AS (SELECT n.vec_id AS q_id, c.cent_id,
       |  row_number() OVER (PARTITION BY n.vec_id
       |    ORDER BY round(list_dot_product(n.emb, c.ce)/(n.nrm*c.cn), 6) DESC, c.cent_id) AS crk
       |  FROM n CROSS JOIN cents c WHERE n.vec_id < ${LQ.AnnQueryMax}),
       |probes AS (SELECT q_id, cent_id FROM qa WHERE crk <= ${LQ.IvfProbe}),
       |codes AS (SELECT vec_id, s, j, cvec, cc FROM (
       |  SELECT n.vec_id, b.s, b.j, b.cw AS cvec, b.cc,
       |    row_number() OVER (PARTITION BY n.vec_id, b.s
       |      ORDER BY round(b.cc - 2*list_dot_product(
       |        n.emb[b.s*$sd+1 : b.s*$sd+$sd], b.cw), 6) ASC, b.j) AS ark
       |  FROM n CROSS JOIN $PqTrainedFinalCte b) WHERE ark = 1),
       |q AS (SELECT vec_id AS q_id, emb AS qe, nrm AS qn FROM n
       |  WHERE vec_id < ${LQ.AnnQueryMax}),
       |cand AS (SELECT p.q_id, a.vec_id
       |  FROM assigned a JOIN probes p USING (cent_id)
       |  WHERE a.vec_id <> p.q_id$candWhere),
       |terms AS (SELECT ca.q_id, ca.vec_id,
       |    CAST(round(list_dot_product(
       |      q.qe[cd.s*$sd+1 : cd.s*$sd+$sd], cd.cvec) * 1e6, 0) AS BIGINT) AS tl,
       |    CAST(round(cd.cc * 1e6, 0) AS BIGINT) AS ccl
       |  FROM cand ca JOIN codes cd ON cd.vec_id = ca.vec_id
       |  JOIN q ON q.q_id = ca.q_id),
       |agg AS (SELECT q_id, vec_id, sum(tl) AS sl, sum(ccl) AS scc
       |  FROM terms GROUP BY 1, 2),
       |scored AS (SELECT a.q_id, a.vec_id,
       |  (a.sl / 1e6) / (q.qn * sqrt(a.scc / 1e6)) AS cos
       |  FROM agg a JOIN q ON q.q_id = a.q_id),
       |rk AS (SELECT q_id, vec_id, cos,
       |  row_number() OVER (PARTITION BY q_id ORDER BY round(cos,6) DESC, vec_id) AS rk
       |  FROM scored)
       |SELECT q_id, rk, vec_id, round(cos,4) AS cos FROM rk
       |WHERE rk <= ${LQ.AnnK}
       |ORDER BY q_id, rk""".stripMargin
  }

  /** MinHash params / stopword dict rendered from the same Scala
    * constants the Spark plans use — single source of truth.
    */
  private val MinhashValues = graft.dedup.Dedup.minhashParams
    .map { case (i, a, b) => s"($i,$a,$b)" }.mkString(",")
  private val StopwordValues = graft.text.TextFns.stopwords.toSeq.sortBy(_._1)
    .flatMap { case (l, ws) => ws.map(w => s"('$l','$w')") }.mkString(",")
  private val EnStopwordList = graft.text.TextFns.stopwords("en")
    .map(w => s"'$w'").mkString(", ")

  /** Shared DuckDB CTEs for the LSH-bucketed embedding pipelines: every
    * vector's (table, bucket) rows from the SAME md5-derived hyperplanes
    * the Spark plans evaluate (Ann.bucketSqlExpr renders the exact
    * double arithmetic — FloatDot and list_dot_product agree bitwise,
    * so the `dot >= 0` sign test is engine-stable).
    */
  private val LshBucketCtes: String = {
    import graft.ops.{LlmQueries => LQ}
    val nT = 4
    val bkCols = (0 until nT).map(t =>
      graft.similarity.Ann.bucketSqlExpr("emb", LQ.LshPlanes, LQ.EmbedDim, nT, t) +
        s" AS bk$t").mkString(",\n  ")
    val packs = (0 until nT).map(t => s"struct_pack(t := $t, b := bk$t)").mkString(", ")
    s"""n AS (SELECT vec_id, embedding::DOUBLE[] AS emb,
       |  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm FROM embeddings),
       |bk AS (SELECT vec_id, emb, nrm,
       |  $bkCols
       |  FROM n),
       |bb AS (SELECT vec_id, u.t AS t, u.b AS b FROM (
       |  SELECT vec_id, unnest([$packs]) AS u FROM bk))""".stripMargin
  }

  /** Shared DuckDB CTEs for the MIPS reduction (F43s): the corpus side
    * augmented with CAST(sqrt(M² − ‖x‖²) AS FLOAT) (the exact
    * float-pass the Spark plan takes), the query side with 0, both
    * bucketed by the SAME dim+1 hyperplanes Ann.mipsTopKLsh evaluates.
    */
  private val MipsBucketCtes: String = {
    import graft.ops.{LlmQueries => LQ}
    val nT = 4
    val bkCols = (0 until nT).map(t =>
      graft.similarity.Ann.bucketSqlExpr("ae", LQ.LshPlanes, LQ.EmbedDim + 1, nT, t) +
        s" AS bk$t").mkString(",\n  ")
    val packs = (0 until nT).map(t => s"struct_pack(t := $t, b := bk$t)").mkString(", ")
    s"""n AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
       |m AS (SELECT max(list_dot_product(emb, emb)) AS m2 FROM n),
       |vaug AS (SELECT vec_id, list_append(emb,
       |  CAST(CAST(sqrt(m.m2 - list_dot_product(emb, emb)) AS FLOAT) AS DOUBLE)) AS ae
       |  FROM n CROSS JOIN m),
       |qaug AS (SELECT vec_id, list_append(emb, 0.0) AS ae FROM n
       |  WHERE vec_id < ${LQ.AnnQueryMax}),
       |vbk AS (SELECT vec_id,
       |  $bkCols
       |  FROM vaug),
       |qbk AS (SELECT vec_id,
       |  $bkCols
       |  FROM qaug),
       |vbb AS (SELECT vec_id, u.t AS t, u.b AS b FROM (
       |  SELECT vec_id, unnest([$packs]) AS u FROM vbk)),
       |qbb AS (SELECT vec_id, u.t AS t, u.b AS b FROM (
       |  SELECT vec_id, unnest([$packs]) AS u FROM qbk))""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    // ---- G. streaming batch twin ----
    "stream_rollup" ->
      s"""WITH $M
         |SELECT path, ts - ts%600 AS bucket, round(avg(value) - 1e-9,4) AS value,
         | count(*) AS npoints
         |FROM m GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    // G4 batch twin — ALSO cross-checks the per-row HOF simhash
    // (TextFns.simhashRow) against the oracle's explode-pipeline
    // arithmetic: same 60-bit signature from two different plans
    "stream_sig_dedup" ->
      s"""WITH $TK,
         |$SIM,
         |g AS (SELECT simhash, min(doc_id) AS keep_id FROM sim GROUP BY 1)
         |SELECT m.doc_id, m.simhash,
         | CASE WHEN m.doc_id = g.keep_id THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS keep
         |FROM sim m JOIN g USING (simhash)
         |ORDER BY m.doc_id""".stripMargin,
    // ---- F. LLM-pipeline operators ----
    "dedup_exact" ->
      """SELECT md5(text) AS content_md5, min(doc_id) AS keep_id, count(*) AS n
        |FROM documents GROUP BY 1 ORDER BY keep_id""".stripMargin,
    // F15: 5-gram train/eval overlap — corpus-side df cap, eval = every
    // 37th doc; hits = distinct shared shingles per (corpus, eval) pair
    "decontaminate" ->
      s"""WITH dtk AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
         |d5 AS (SELECT DISTINCT doc_id, shingle FROM (
         |  SELECT doc_id, tok || ' ' || lead(tok,1) OVER w || ' ' || lead(tok,2) OVER w
         |    || ' ' || lead(tok,3) OVER w || ' ' || lead(tok,4) OVER w AS shingle
         |  FROM (SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks,1) AS pos FROM dtk)
         |  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)) s
         | WHERE shingle IS NOT NULL),
         |rare AS (SELECT shingle FROM (SELECT shingle, count(*) AS df FROM d5 GROUP BY 1)
         |  WHERE df <= ${graft.ops.LlmQueries.DecontamMaxDf}),
         |ev AS (SELECT doc_id AS eval_id, shingle FROM d5
         |  WHERE doc_id % ${graft.ops.LlmQueries.DecontamEvalMod} = 0)
         |SELECT c.doc_id, e.eval_id, count(*) AS hits
         |FROM d5 c JOIN rare USING (shingle) JOIN ev e USING (shingle)
         |GROUP BY 1, 2 HAVING count(*) >= ${graft.ops.LlmQueries.DecontamMinHits}
         |ORDER BY 1, 2""".stripMargin,
    // F15n: the normalized-mode leak check — the SAME d5/rare/ev chain
    // as F15 but over case-folded, punctuation-stripped,
    // whitespace-collapsed text (RE2 'g' replaces = Spark's
    // global-by-default regexp_replace); trivial reformatting can no
    // longer hide a leak
    "decontaminate_normalized" ->
      s"""WITH dtk AS (SELECT doc_id, string_split(
         |  trim(regexp_replace(regexp_replace(lower(text),
         |    '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')), ' ') AS toks
         |  FROM documents),
         |d5 AS (SELECT DISTINCT doc_id, shingle FROM (
         |  SELECT doc_id, tok || ' ' || lead(tok,1) OVER w || ' ' || lead(tok,2) OVER w
         |    || ' ' || lead(tok,3) OVER w || ' ' || lead(tok,4) OVER w AS shingle
         |  FROM (SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks,1) AS pos FROM dtk)
         |  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)) s
         | WHERE shingle IS NOT NULL),
         |rare AS (SELECT shingle FROM (SELECT shingle, count(*) AS df FROM d5 GROUP BY 1)
         |  WHERE df <= ${graft.ops.LlmQueries.DecontamMaxDf}),
         |ev AS (SELECT doc_id AS eval_id, shingle FROM d5
         |  WHERE doc_id % ${graft.ops.LlmQueries.DecontamEvalMod} = 0)
         |SELECT c.doc_id, e.eval_id, count(*) AS hits
         |FROM d5 c JOIN rare USING (shingle) JOIN ev e USING (shingle)
         |GROUP BY 1, 2 HAVING count(*) >= ${graft.ops.LlmQueries.DecontamMinHits}
         |ORDER BY 1, 2""".stripMargin,
    // F15d: the F15 pair chain rolled up per benchmark — eval docs
    // partition into suites by integer arithmetic on their ids
    "decontaminate_multi" -> {
      import graft.ops.{LlmQueries => LQ}
      s"""WITH dtk AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
         |d5 AS (SELECT DISTINCT doc_id, shingle FROM (
         |  SELECT doc_id, tok || ' ' || lead(tok,1) OVER w || ' ' || lead(tok,2) OVER w
         |    || ' ' || lead(tok,3) OVER w || ' ' || lead(tok,4) OVER w AS shingle
         |  FROM (SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks,1) AS pos FROM dtk)
         |  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)) s
         | WHERE shingle IS NOT NULL),
         |rare AS (SELECT shingle FROM (SELECT shingle, count(*) AS df FROM d5 GROUP BY 1)
         |  WHERE df <= ${LQ.DecontamMaxDf}),
         |ev AS (SELECT doc_id AS eval_id, shingle FROM d5
         |  WHERE doc_id % ${LQ.DecontamEvalMod} = 0),
         |evb AS (SELECT doc_id AS eval_id,
         |  (doc_id // ${LQ.DecontamEvalMod}) % ${LQ.DecontamBenches} AS bench_id
         |  FROM documents WHERE doc_id % ${LQ.DecontamEvalMod} = 0),
         |pairs AS (SELECT c.doc_id, e.eval_id, count(*) AS hits
         |  FROM d5 c JOIN rare USING (shingle) JOIN ev e USING (shingle)
         |  GROUP BY 1, 2 HAVING count(*) >= ${LQ.DecontamMinHits})
         |SELECT b.bench_id, CAST(count(DISTINCT p.doc_id) AS BIGINT) AS n_contaminated,
         | CAST(count(*) AS BIGINT) AS n_pairs, max(p.hits) AS max_hits
         |FROM pairs p JOIN evb b USING (eval_id)
         |GROUP BY 1 ORDER BY 1""".stripMargin
    },
    // F15b: per-eval-doc contamination fraction — corpus evidence per
    // eval gram reduces to (count, min doc) over per-doc-distinct rows;
    // one corpus occurrence leaks iff it is someone else's
    "decontaminate_overlap" ->
      s"""WITH dtk AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
         |d5 AS (SELECT DISTINCT doc_id, shingle FROM (
         |  SELECT doc_id, tok || ' ' || lead(tok,1) OVER w || ' ' || lead(tok,2) OVER w
         |    || ' ' || lead(tok,3) OVER w || ' ' || lead(tok,4) OVER w AS shingle
         |  FROM (SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks,1) AS pos FROM dtk)
         |  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)) s
         | WHERE shingle IS NOT NULL),
         |ev AS (SELECT doc_id AS eval_id, shingle FROM d5
         |  WHERE doc_id % ${graft.ops.LlmQueries.DecontamEvalMod} = 0),
         |cs AS (SELECT shingle, count(*) AS n_docs, min(doc_id) AS d0 FROM d5
         |  WHERE shingle IN (SELECT shingle FROM ev) GROUP BY 1),
         |h AS (SELECT e.eval_id,
         |    CASE WHEN cs.shingle IS NULL THEN 0
         |         WHEN cs.n_docs >= 2 OR cs.d0 <> e.eval_id THEN 1 ELSE 0 END AS hit
         |  FROM ev e LEFT JOIN cs USING (shingle))
         |SELECT eval_id, count(*) AS n_grams, CAST(sum(hit) AS BIGINT) AS hit_grams,
         |  CAST(coalesce((sum(hit) * 10000) // nullif(count(*), 0), 0) AS BIGINT)
         |    AS contamination_bp
         |FROM h GROUP BY 1 ORDER BY 1""".stripMargin,
    // F15c: fuzzy decontamination — (corpus, eval) pairs colliding on
    // ≥1 of the 4 level-0 MinHash band keys (the same `bands` CTE the
    // F3 family joins on), scored by the F3e slot-agreement estimate;
    // matches is pair-constant, so DISTINCT candidates then one score
    // per pair replays Spark's filter-then-max exactly
    "decontaminate_fuzzy" -> {
      val k = graft.dedup.Dedup.minhashParams.size
      val matchSum = (1 to k).map(i =>
        s"(CASE WHEN sa.s[$i] = sb.s[$i] THEN 1 ELSE 0 END)").mkString(" + ")
      s"""WITH $TK, $SHD,
         |$MinhashBandsCtes,
         |sarr AS (SELECT doc_id, list(mh ORDER BY i) AS s FROM sigs GROUP BY 1),
         |eb AS (SELECT doc_id AS eval_id, band, bh FROM bands
         |  WHERE doc_id % ${graft.ops.LlmQueries.DecontamEvalMod} = 0),
         |fcand AS (SELECT DISTINCT c.doc_id, e.eval_id
         |  FROM bands c JOIN eb e ON c.band = e.band AND c.bh = e.bh
         |  WHERE c.doc_id <> e.eval_id),
         |fm AS (SELECT f.doc_id, f.eval_id, ($matchSum) AS m
         |  FROM fcand f JOIN sarr sa ON sa.doc_id = f.doc_id
         |               JOIN sarr sb ON sb.doc_id = f.eval_id)
         |SELECT doc_id, eval_id, round(m / $k.0, 4) AS est_jaccard
         |FROM fm WHERE m >= ${graft.ops.LlmQueries.FuzzyMinMatches}
         |ORDER BY 1, 2""".stripMargin
    },
    // G5 batch twin: per-doc distinct 5-gram hits against the eval
    // UNION shingle set (stateless broadcast-membership flag)
    "stream_decontaminate" ->
      s"""WITH dtk AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
         |d5 AS (SELECT DISTINCT doc_id, shingle FROM (
         |  SELECT doc_id, tok || ' ' || lead(tok,1) OVER w || ' ' || lead(tok,2) OVER w
         |    || ' ' || lead(tok,3) OVER w || ' ' || lead(tok,4) OVER w AS shingle
         |  FROM (SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks,1) AS pos FROM dtk)
         |  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)) s
         | WHERE shingle IS NOT NULL),
         |ev AS (SELECT DISTINCT shingle FROM d5
         |  WHERE doc_id % ${graft.ops.LlmQueries.DecontamEvalMod} = 0),
         |h AS (SELECT c.doc_id, count(*) AS hits FROM d5 c JOIN ev USING (shingle) GROUP BY 1)
         |SELECT d.doc_id, CAST(coalesce(h.hits, 0) AS BIGINT) AS hits,
         |  CAST(CASE WHEN coalesce(h.hits, 0) >= ${graft.ops.LlmQueries.DecontamMinHits}
         |       THEN 1 ELSE 0 END AS BIGINT) AS contaminated
         |FROM documents d LEFT JOIN h USING (doc_id)
         |ORDER BY 1""".stripMargin,
    "dedup_ngram_jaccard" ->
      s"""WITH $TK, $SHD,
         |sizes AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY 1),
         |inter AS (SELECT a.doc_id AS x, b.doc_id AS y, count(*) AS i
         |  FROM shd a JOIN shd b ON a.shingle=b.shingle AND a.doc_id<b.doc_id GROUP BY 1,2)
         |SELECT x, y, round(i*1.0/(sa.n+sb.n-i) - 1e-9, 4) AS jaccard
         |FROM inter JOIN sizes sa ON sa.doc_id=x JOIN sizes sb ON sb.doc_id=y
         |WHERE i*1.0/(sa.n+sb.n-i) >= 0.8 ORDER BY 1,2""".stripMargin,
    // same pipeline with shingles above the df cap dropped before the
    // pair join; jaccard still uses UNCAPPED set sizes (intersection is
    // an under-count, never an over-count)
    "dedup_ngram_jaccard_capped" ->
      s"""WITH $TK, $SHD,
         |$JaccardCappedCtes
         |SELECT x, y, round(i*1.0/(sa.n+sb.n-i) - 1e-9, 4) AS jaccard
         |FROM inter JOIN sizes sa ON sa.doc_id=x JOIN sizes sb ON sb.doc_id=y
         |WHERE i*1.0/(sa.n+sb.n-i) >= 0.8 ORDER BY 1,2""".stripMargin,
    // one-step min propagation over the capped-Jaccard pair graph
    // (Dedup.jaccardClusters: cluster_id = min({doc} ∪ neighbours))
    "dedup_jaccard_clusters" ->
      s"""WITH $TK, $SHD,
         |$JaccardCappedCtes,
         |prs AS (SELECT x, y
         |  FROM inter JOIN sizes sa ON sa.doc_id=x JOIN sizes sb ON sb.doc_id=y
         |  WHERE i*1.0/(sa.n+sb.n-i) >= 0.8),
         |mn AS (SELECT doc_id, min(nbr) AS mn FROM (
         |    SELECT x AS doc_id, y AS nbr FROM prs
         |    UNION ALL SELECT y AS doc_id, x AS nbr FROM prs) e GROUP BY 1)
         |SELECT d.doc_id,
         | least(d.doc_id, coalesce(m.mn, d.doc_id)) AS cluster_id,
         | CASE WHEN least(d.doc_id, coalesce(m.mn, d.doc_id)) = d.doc_id
         |      THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS keep
         |FROM documents d LEFT JOIN mn m ON m.doc_id = d.doc_id
         |ORDER BY 1""".stripMargin,
    // F19: TRUE connected components over the capped-Jaccard pair graph
    // — the recursive closure replays Spark's min-propagation FIXPOINT
    // (labels = min id reachable via symmetric edges), the canonical
    // labeling the one-step cluster rule deliberately approximates
    "dedup_cc_clusters" ->
      s"""WITH RECURSIVE $TK, $SHD,
         |$JaccardCappedCtes,
         |prs AS (SELECT x, y
         |  FROM inter JOIN sizes sa ON sa.doc_id=x JOIN sizes sb ON sb.doc_id=y
         |  WHERE i*1.0/(sa.n+sb.n-i) >= 0.8),
         |edges AS (SELECT x AS u, y AS v FROM prs
         |  UNION ALL SELECT y AS u, x AS v FROM prs),
         |reach(u, lbl) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.u, r.lbl FROM edges e JOIN reach r ON r.u = e.v)
         |SELECT u AS doc_id, min(lbl) AS cluster_id,
         | CASE WHEN min(lbl) = u THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS keep
         |FROM reach GROUP BY u ORDER BY 1""".stripMargin,
    // F19b: cluster-size report over the same recursive-closure labels
    // as dedup_cc_clusters — one GROUP BY over the fixpoint labeling,
    // multi-member components only (a one-step labeling would split
    // chains and report every size wrong — the operator's whole point)
    "dedup_cc_sizes" ->
      s"""WITH RECURSIVE $TK, $SHD,
         |$JaccardCappedCtes,
         |prs AS (SELECT x, y
         |  FROM inter JOIN sizes sa ON sa.doc_id=x JOIN sizes sb ON sb.doc_id=y
         |  WHERE i*1.0/(sa.n+sb.n-i) >= 0.8),
         |edges AS (SELECT x AS u, y AS v FROM prs
         |  UNION ALL SELECT y AS u, x AS v FROM prs),
         |reach(u, lbl) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.u, r.lbl FROM edges e JOIN reach r ON r.u = e.v),
         |lab AS (SELECT u, min(lbl) AS cluster_id FROM reach GROUP BY u)
         |SELECT cluster_id, count(*) AS size,
         |  CAST(count(*) - 1 AS BIGINT) AS n_removed
         |FROM lab GROUP BY 1 HAVING count(*) >= 2
         |ORDER BY size DESC, cluster_id""".stripMargin,
    // F45: soft dedup — 1/|cluster| weights over the same recursive
    // closure labels; singletons weigh exactly 1.0
    "dedup_soft" ->
      s"""WITH RECURSIVE $TK, $SHD,
         |$JaccardCappedCtes,
         |prs AS (SELECT x, y
         |  FROM inter JOIN sizes sa ON sa.doc_id=x JOIN sizes sb ON sb.doc_id=y
         |  WHERE i*1.0/(sa.n+sb.n-i) >= 0.8),
         |edges AS (SELECT x AS u, y AS v FROM prs
         |  UNION ALL SELECT y AS u, x AS v FROM prs),
         |reach(u, lbl) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.u, r.lbl FROM edges e JOIN reach r ON r.u = e.v),
         |lab AS (SELECT u, min(lbl) AS cluster_id FROM reach GROUP BY u),
         |sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS size
         |  FROM lab GROUP BY 1)
         |SELECT lab.u AS doc_id, lab.cluster_id, sz.size,
         |  round(1.0/sz.size - 1e-9, 4) + 0.0 AS weight
         |FROM lab JOIN sz USING (cluster_id)
         |ORDER BY doc_id""".stripMargin,
    // F46: URL canonicalization dedup — the identical regexp chain in
    // RE2 spelling ('g' flags where the Spark side replaces globally,
    // \1 backrefs in replacements), then the F1-style count/min
    "dedup_url" ->
      s"""WITH ${urlCanonCtes("documents", "")}
         |SELECT u AS url_canon, CAST(count(*) AS BIGINT) AS n_urls,
         |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |  min(doc_id) AS keeper
         |FROM c6 GROUP BY 1 ORDER BY 1""".stripMargin,
    // G17: the URL frontier gate — the even-half's canonical set as
    // the standing index (its own chain instance), every variant
    // arriving with shifted ids; seen/fetch from the left join
    "stream_url_gate" ->
      s"""WITH ${urlCanonCtes("(SELECT * FROM documents WHERE doc_id % 2 = 0)", "b")},
         |idx AS (SELECT DISTINCT ub AS u FROM c6b),
         |${urlCanonCtes("documents", "")},
         |inc AS (SELECT doc_id + 5000000 AS doc_id, u FROM c6)
         |SELECT inc.doc_id, inc.u AS url_canon,
         |  CASE WHEN idx.u IS NULL THEN 0::BIGINT ELSE 1::BIGINT END AS seen,
         |  CASE WHEN idx.u IS NULL THEN 1::BIGINT ELSE 0::BIGINT END AS fetch
         |FROM inc LEFT JOIN idx ON inc.u = idx.u
         |ORDER BY inc.doc_id""".stripMargin,
    // F16: verbatim >=50-token-span pairs — hashed 50-gram equi-join
    // with the df cap (Dedup.substringPairs); n_grams = shared grams
    "dedup_substring" ->
      s"""WITH $TK,
         |$SubstrCtes
         |SELECT x, y, n_grams FROM sprs ORDER BY 1,2""".stripMargin,
    // F16s: longest verbatim shared span per pair — gaps-and-islands
    // over consecutive gram positions per (x, y, pa−pb) diagonal
    // (Dedup.substringSpans; integer arithmetic, engine-identical)
    "dedup_substring_spans" -> {
      val cap = graft.ops.LlmQueries.SubstrMaxDf
      val w = graft.ops.LlmQueries.SubstrW
      s"""WITH $TK,
         |$SubstrGramCtes,
         |rare50 AS (SELECT g FROM (SELECT DISTINCT doc_id, g FROM pgr)
         |  GROUP BY g HAVING count(*) <= $cap),
         |pgc AS (SELECT pgr.doc_id, pgr.p, pgr.g FROM pgr JOIN rare50 USING (g)),
         |hits AS (SELECT DISTINCT a.doc_id AS x, b.doc_id AS y,
         |    a.p AS pa, a.p - b.p AS diag
         |  FROM pgc a JOIN pgc b ON a.g=b.g AND a.doc_id<b.doc_id),
         |isl AS (SELECT x, y, diag,
         |    pa - row_number() OVER (PARTITION BY x, y, diag ORDER BY pa) AS isl
         |  FROM hits),
         |runs AS (SELECT x, y, count(*) AS run FROM isl GROUP BY x, y, diag, isl)
         |SELECT x, y, max(run) + ${w - 1} AS max_span
         |FROM runs GROUP BY 1,2 ORDER BY 1,2""".stripMargin
    },
    // F16x: duplicated-span scrub — min doc per capped gram keeps its
    // copy; a token is cut iff the running max of dup-span ends at or
    // before it reaches it (Dedup.substringScrub; the 1-based vs
    // 0-based position offset cancels — the rule is offset-invariant)
    "dedup_substring_scrub" -> {
      val cap = graft.ops.LlmQueries.SubstrMaxDf
      val w = graft.ops.LlmQueries.SubstrW
      s"""WITH $TK,
         |$SubstrGramCtes,
         |shw AS (SELECT DISTINCT doc_id, g FROM pgr),
         |rare50 AS (SELECT g FROM shw GROUP BY 1 HAVING count(*) <= $cap),
         |gmin AS (SELECT g, min(doc_id) AS gm FROM shw JOIN rare50 USING (g) GROUP BY 1),
         |dst AS (SELECT pgr.doc_id, pgr.p, pgr.p + ${w - 1} AS pe
         |  FROM pgr JOIN gmin USING (g) WHERE gmin.gm < pgr.doc_id),
         |tc AS (SELECT pos.doc_id, pos.p, pos.tok,
         |    max(dst.pe) OVER (PARTITION BY pos.doc_id ORDER BY pos.p
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_pe
         |  FROM pos LEFT JOIN dst ON pos.doc_id = dst.doc_id AND pos.p = dst.p),
         |k AS (SELECT doc_id, p, tok,
         |    CASE WHEN run_pe IS NOT NULL AND run_pe >= p THEN 1 ELSE 0 END AS cut FROM tc)
         |SELECT doc_id, count(*) AS n_tokens, CAST(sum(cut) AS BIGINT) AS n_cut,
         |  md5(coalesce(string_agg(CASE WHEN cut = 0 THEN tok END, ' ' ORDER BY p), ''))
         |    AS scrubbed_md5
         |FROM k GROUP BY 1 ORDER BY 1""".stripMargin
    },
    // one-step min propagation over the substring pair graph
    "dedup_substring_clusters" ->
      s"""WITH $TK,
         |$SubstrCtes,
         |mn AS (SELECT doc_id, min(nbr) AS mn FROM (
         |    SELECT x AS doc_id, y AS nbr FROM sprs
         |    UNION ALL SELECT y AS doc_id, x AS nbr FROM sprs) e GROUP BY 1)
         |SELECT d.doc_id,
         | least(d.doc_id, coalesce(m.mn, d.doc_id)) AS cluster_id,
         | CASE WHEN least(d.doc_id, coalesce(m.mn, d.doc_id)) = d.doc_id
         |      THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS keep
         |FROM documents d LEFT JOIN mn m ON m.doc_id = d.doc_id
         |ORDER BY 1""".stripMargin,
    "dedup_minhash" ->
      s"""WITH $TK, $SHD,
         |$MinhashBandsCtes
         |SELECT DISTINCT a.doc_id AS x, b.doc_id AS y
         |FROM bands a JOIN bands b ON a.band=b.band AND a.bh=b.bh AND a.doc_id<b.doc_id
         |ORDER BY 1,2""".stripMargin,
    // same signature pipeline over DISTINCT sigs with hot band buckets
    // re-keyed by extra signature slots until df ≤ cap (drop-only;
    // identical-sig pairs come from the intra-group expansion)
    "dedup_minhash_capped" ->
      s"""WITH $TK, $SHD,
         |$MinhashBandsCtes,
         |$MinhashCappedCtes,
         |mcross AS (SELECT least(m1.doc_id, m2.doc_id) AS x,
         |    greatest(m1.doc_id, m2.doc_id) AS y
         |  FROM msigpairs p JOIN sarr m1 ON m1.sk = p.s1
         |                   JOIN sarr m2 ON m2.sk = p.s2),
         |mintra AS (SELECT m1.doc_id AS x, m2.doc_id AS y
         |  FROM sarr m1 JOIN sarr m2 ON m1.sk = m2.sk AND m1.doc_id < m2.doc_id)
         |SELECT x, y FROM (SELECT * FROM mcross UNION ALL SELECT * FROM mintra) t
         |ORDER BY 1,2""".stripMargin,
    // F36: incremental ingest dedup — the shared signature/keying CTEs
    // over the whole corpus (base ∪ incoming IS documents under the
    // mod-4 arrival rule), then the incremental pair step: only
    // incoming-bearing signatures on the join's left, priors = base
    // signatures or earlier-arriving incoming signatures
    "dedup_incremental" -> {
      import graft.ops.{LlmQueries => LQ}
      s"""WITH $TK, $SHD,
         |$MinhashBandsCtes,
         |$MinhashCappedCtes,
         |flags AS (SELECT sa.doc_id, sa.sk,
         |  CASE WHEN sa.doc_id % ${LQ.IncrementalMod} <> 0 THEN 1 ELSE 0 END AS is_base
         |  FROM sarr sa),
         |ski AS (SELECT sk, CAST(max(is_base) AS BIGINT) AS has_base,
         |  min(CASE WHEN is_base = 0 THEN doc_id END) AS min_inc
         |  FROM flags GROUP BY 1),
         |incsk AS (SELECT sk FROM ski WHERE min_inc IS NOT NULL),
         |mpair AS (SELECT DISTINCT a.sk AS ska, b.sk AS skb
         |  FROM mkeyed a JOIN mkeyed b
         |    ON a.band = b.band AND a.lvl = b.lvl AND a.bkey = b.bkey
         |    AND a.sk <> b.sk
         |  WHERE a.sk IN (SELECT sk FROM incsk)),
         |nearsk AS (SELECT DISTINCT p.ska AS sk
         |  FROM mpair p JOIN ski me ON p.ska = me.sk
         |  JOIN ski o ON p.skb = o.sk
         |  WHERE o.has_base = 1
         |     OR (o.min_inc IS NOT NULL AND o.min_inc < me.min_inc)),
         |inc AS (SELECT doc_id FROM documents WHERE doc_id % ${LQ.IncrementalMod} = 0),
         |vf AS (SELECT i.doc_id, f.sk FROM inc i
         |  LEFT JOIN flags f ON f.doc_id = i.doc_id),
         |vv AS (SELECT vf.doc_id,
         |  CASE WHEN vf.sk IS NULL THEN 'unique'
         |       WHEN s.has_base = 1 OR s.min_inc < vf.doc_id THEN 'exact_dup'
         |       WHEN n.sk IS NOT NULL THEN 'near_dup'
         |       ELSE 'unique' END AS verdict
         |  FROM vf LEFT JOIN ski s ON vf.sk = s.sk
         |  LEFT JOIN nearsk n ON vf.sk = n.sk)
         |SELECT doc_id, verdict,
         | CASE WHEN verdict = 'unique' THEN CAST(1 AS BIGINT)
         |      ELSE CAST(0 AS BIGINT) END AS keep
         |FROM vv ORDER BY doc_id""".stripMargin
    },
    // G14: the ingest gate against the BASE-ONLY signature index — the
    // capped chain keyed over base docs' signatures alone, the
    // arriving side offering its key at every widening level, exact
    // matches via the base sk set
    "stream_incremental_gate" -> {
      import graft.ops.{LlmQueries => LQ}
      import graft.dedup.{Dedup => D}
      val n = D.minhashWidenLevels
      val ikeyBlocks = (for (b <- 0 until D.minhashNBands; j <- 0 to n) yield
        s"SELECT doc_id, $b AS band, CAST($j AS BIGINT) AS lvl, ${minhashKeyExprSql(b, j)} AS key FROM isig")
        .mkString("\n  UNION ALL ")
      s"""WITH $TK, $SHD,
         |$MinhashBandsCtes,
         |${minhashCappedCtesWhere(s"WHERE doc_id % ${LQ.IncrementalMod} <> 0")},
         |bsk AS (SELECT DISTINCT sk FROM sarr WHERE doc_id % ${LQ.IncrementalMod} <> 0),
         |inc AS (SELECT doc_id FROM documents WHERE doc_id % ${LQ.IncrementalMod} = 0),
         |isig AS (SELECT i.doc_id, sa.sk, sa.s FROM inc i JOIN sarr sa USING (doc_id)),
         |ikeys AS (
         |  $ikeyBlocks),
         |near AS (SELECT DISTINCT k.doc_id FROM ikeys k
         |  JOIN mkeyed m ON m.band = k.band AND m.lvl = k.lvl AND m.bkey = k.key),
         |vv AS (SELECT i.doc_id,
         |  CASE WHEN s.sk IS NULL THEN 'unique'
         |       WHEN b.sk IS NOT NULL THEN 'exact_dup'
         |       WHEN nr.doc_id IS NOT NULL THEN 'near_dup'
         |       ELSE 'unique' END AS verdict
         |  FROM inc i
         |  LEFT JOIN isig s ON s.doc_id = i.doc_id
         |  LEFT JOIN bsk b ON s.sk = b.sk
         |  LEFT JOIN near nr ON nr.doc_id = i.doc_id)
         |SELECT doc_id, verdict,
         | CASE WHEN verdict = 'unique' THEN CAST(1 AS BIGINT)
         |      ELSE CAST(0 AS BIGINT) END AS keep
         |FROM vv ORDER BY doc_id""".stripMargin
    },
    // F37: merge ≡ rebuild, stated cross-engine — the Spark side FOLDS
    // the new batch into the standing index (touched-bucket re-keying
    // only); the oracle rebuilds the whole capped keying from scratch
    // over base ∪ incoming (= all documents). A hash match is the
    // closure theorem verified, not just an implementation compare.
    "dedup_index_merge" ->
      s"""WITH $TK, $SHD,
         |$MinhashBandsCtes,
         |$MinhashCappedCtes
         |SELECT sk, CAST(band AS BIGINT) AS band, CAST(lvl AS BIGINT) AS lvl, bkey
         |FROM mkeyed ORDER BY sk, band""".stripMargin,
    // F3s: the df-cap bound as data — bucket stats per (band, level)
    // over the same mkeyed CTE the capped pair join consumes
    "dedup_minhash_bucket_stats" ->
      s"""WITH $TK, $SHD,
         |$MinhashBandsCtes,
         |$MinhashCappedCtes,
         |bstat AS (SELECT band, lvl, bkey, count(*) AS df FROM mkeyed GROUP BY 1,2,3)
         |SELECT CAST(band AS BIGINT) AS band, CAST(lvl AS BIGINT) AS lvl,
         | CAST(count(*) AS BIGINT) AS n_buckets,
         | CAST(sum(df) AS BIGINT) AS n_sigs, CAST(max(df) AS BIGINT) AS max_df
         |FROM bstat GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // F3e: slot-agreement jaccard estimate over the capped candidate
    // graph — matches/12 per pair; estimates live on the k/12 grid, so
    // round(,4) never lands on a boundary in either engine
    "dedup_minhash_est" -> {
      val k = graft.dedup.Dedup.minhashParams.size
      val matchSum = (1 to k).map(i =>
        s"(CASE WHEN sa.s[$i] = sb.s[$i] THEN 1 ELSE 0 END)").mkString(" + ")
      s"""WITH $TK, $SHD,
         |$MinhashBandsCtes,
         |$MinhashCappedCtes,
         |mcross AS (SELECT least(m1.doc_id, m2.doc_id) AS x,
         |    greatest(m1.doc_id, m2.doc_id) AS y
         |  FROM msigpairs p JOIN sarr m1 ON m1.sk = p.s1
         |                   JOIN sarr m2 ON m2.sk = p.s2),
         |mintra AS (SELECT m1.doc_id AS x, m2.doc_id AS y
         |  FROM sarr m1 JOIN sarr m2 ON m1.sk = m2.sk AND m1.doc_id < m2.doc_id),
         |mpairs AS (SELECT x, y FROM mcross UNION ALL SELECT x, y FROM mintra)
         |SELECT p.x, p.y,
         |  round(($matchSum) / $k.0, 4) AS est_jaccard
         |FROM mpairs p JOIN sarr sa ON sa.doc_id = p.x
         |              JOIN sarr sb ON sb.doc_id = p.y
         |ORDER BY 1, 2""".stripMargin
    },
    // star clustering over the CAPPED candidate graph: each sig group's
    // rep = min(doc_id); a group points at the smallest neighbouring rep
    // (one-step min propagation, same rule as Dedup.minhashClusters);
    // docs without a signature are their own singleton cluster
    "dedup_minhash_clusters" ->
      s"""WITH $TK, $SHD,
         |$MinhashBandsCtes,
         |$MinhashCappedCtes,
         |mgroups AS (SELECT sk, min(doc_id) AS rep FROM sarr GROUP BY 1),
         |moriented AS (SELECT CASE WHEN g1.rep < g2.rep THEN p.s2 ELSE p.s1 END AS sk,
         |    least(g1.rep, g2.rep) AS cand
         |  FROM msigpairs p JOIN mgroups g1 ON g1.sk = p.s1
         |                   JOIN mgroups g2 ON g2.sk = p.s2),
         |mroots AS (SELECT sk, min(cand) AS root FROM moriented GROUP BY 1),
         |mclusters AS (SELECT g.sk, coalesce(r.root, g.rep) AS cluster_id
         |  FROM mgroups g LEFT JOIN mroots r ON r.sk = g.sk)
         |SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id,
         | CASE WHEN coalesce(c.cluster_id, d.doc_id) = d.doc_id
         |      THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS keep
         |FROM documents d LEFT JOIN sarr m ON m.doc_id = d.doc_id
         |                 LEFT JOIN mclusters c ON c.sk = m.sk
         |ORDER BY 1""".stripMargin,
    // F20: the EXPECTED image near-dup pairs are the planted-twin
    // construction itself — every 5th image a cross-format re-encode
    // (id + 2e7), every 7th a slight resize (id + 3e7), plus the
    // twin-twin pair where both exist; the hash/band machinery under
    // test must reproduce exactly this set (twin distances ≤ 2 are
    // inside the 4-band pigeonhole guarantee; closest distinct pair is
    // hamming 15, far above the τ=6 threshold)
    "dedup_image_phash" ->
      """SELECT doc_id AS x, doc_id + 20000000 AS y FROM documents
        |  WHERE doc_id % 3 = 0 AND doc_id % 5 = 0
        |UNION ALL
        |SELECT doc_id AS x, doc_id + 30000000 AS y FROM documents
        |  WHERE doc_id % 3 = 0 AND doc_id % 7 = 0
        |UNION ALL
        |SELECT doc_id + 20000000 AS x, doc_id + 30000000 AS y FROM documents
        |  WHERE doc_id % 3 = 0 AND doc_id % 5 = 0 AND doc_id % 7 = 0
        |ORDER BY 1, 2""".stripMargin,
    // F34: image SEARCH — each planted copy (the arriving "new crawl"
    // side) finds exactly its own source in the originals' phash index:
    // twins measured at hamming ≤ 2, nearest DISTINCT image at ≥ 15,
    // so top-1 at τ=6 is the id-arithmetic source and the oracle never
    // hashes a pixel
    "ann_image_phash" ->
      """SELECT doc_id + 20000000 AS q_id, doc_id AS match_id FROM documents
        |  WHERE doc_id % 3 = 0 AND doc_id % 5 = 0
        |UNION ALL
        |SELECT doc_id + 30000000 AS q_id, doc_id AS match_id FROM documents
        |  WHERE doc_id % 3 = 0 AND doc_id % 7 = 0
        |ORDER BY 1""".stripMargin,
    // G15: the image ingest gate — base = originals with doc_id%4 != 0;
    // a copy is a dup iff its source is indexed, %4==0 originals are
    // unique (twins <= 2 hamming, nearest distinct >= 15; the oracle
    // never hashes a pixel)
    "stream_phash_gate" ->
      """SELECT doc_id AS q_id, 'unique' AS verdict, CAST(1 AS BIGINT) AS keep
        |FROM documents WHERE doc_id % 3 = 0 AND doc_id % 4 = 0
        |UNION ALL
        |SELECT doc_id + 20000000,
        |  CASE WHEN doc_id % 4 <> 0 THEN 'dup' ELSE 'unique' END,
        |  CASE WHEN doc_id % 4 <> 0 THEN CAST(0 AS BIGINT) ELSE CAST(1 AS BIGINT) END
        |FROM documents WHERE doc_id % 3 = 0 AND doc_id % 5 = 0
        |UNION ALL
        |SELECT doc_id + 30000000,
        |  CASE WHEN doc_id % 4 <> 0 THEN 'dup' ELSE 'unique' END,
        |  CASE WHEN doc_id % 4 <> 0 THEN CAST(0 AS BIGINT) ELSE CAST(1 AS BIGINT) END
        |FROM documents WHERE doc_id % 3 = 0 AND doc_id % 7 = 0
        |ORDER BY 1""".stripMargin,
    "dedup_simhash" ->
      s"""WITH $TK,
         |$SIM,
         |bands AS (SELECT doc_id, simhash, band, (simhash >> (band*15)) & 32767 AS bv
         |  FROM sim CROSS JOIN generate_series(0,3) AS gb(band))
         |SELECT DISTINCT a.doc_id AS x, b.doc_id AS y,
         | CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         |FROM bands a JOIN bands b ON a.band=b.band AND a.bv=b.bv AND a.doc_id<b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 6 ORDER BY 1,2""".stripMargin,
    // same pipeline over DISTINCT sigs with hot band buckets re-keyed by
    // extra simhash bits until df ≤ cap (drop-only approximation;
    // identical-sig pairs come from the intra-group expansion)
    // F41: hamming-index merge ≡ rebuild — the oracle IS the theorem:
    // DuckDB rebuilds the capped keying from scratch over ALL sigs,
    // Spark merges the batch into the standing index; hash match
    // verifies the level-0-closure argument cross-engine
    "dedup_simhash_index_merge" ->
      s"""WITH $TK,
         |$SIM,
         |$SimhashCappedKeyed
         |SELECT simhash, band, CAST(lvl AS BIGINT) AS lvl, bkey
         |FROM keyed ORDER BY 1, 2""".stripMargin,
    "dedup_simhash_capped" ->
      s"""WITH $TK,
         |$SIM,
         |$SimhashCappedKeyed,
         |cross_p AS (SELECT least(m1.doc_id, m2.doc_id) AS x,
         |    greatest(m1.doc_id, m2.doc_id) AS y, p.hamming
         |  FROM sigpairs p JOIN sim m1 ON m1.simhash = p.s1
         |                  JOIN sim m2 ON m2.simhash = p.s2),
         |intra AS (SELECT m1.doc_id AS x, m2.doc_id AS y, CAST(0 AS BIGINT) AS hamming
         |  FROM sim m1 JOIN sim m2
         |    ON m1.simhash = m2.simhash AND m1.doc_id < m2.doc_id)
         |SELECT x, y, hamming
         |FROM (SELECT * FROM cross_p UNION ALL SELECT * FROM intra) t
         |ORDER BY 1,2""".stripMargin,
    // star clustering over the capped candidate graph: each sig group's
    // rep = min(doc_id); a group points at the smallest neighbouring rep
    // (one-step min propagation, same rule in Spark)
    "dedup_simhash_clusters" ->
      s"""WITH $TK,
         |$SIM,
         |$SimhashCappedKeyed,
         |$SimhashClusterCtes
         |SELECT m.doc_id, c.cluster_id,
         | CASE WHEN m.doc_id = c.cluster_id THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS keep
         |FROM sim m JOIN clusters c ON c.simhash = m.simhash
         |ORDER BY 1""".stripMargin,
    // LSH-bucketed cosine near-dup: candidates from shared
    // (table, bucket) keys, exact cosine filter after — the planes are
    // rendered into SQL from the same Scala arithmetic (Ann.bucketSqlExpr)
    "dedup_embed_cosine_lsh" ->
      s"""WITH $LshBucketCtes,
         |cand AS (SELECT DISTINCT a.vec_id AS x, b.vec_id AS y
         |  FROM bb a JOIN bb b ON a.t = b.t AND a.b = b.b AND a.vec_id < b.vec_id)
         |SELECT c.x, c.y,
         |  round(list_dot_product(na.emb, nb.emb)/(na.nrm*nb.nrm) - 1e-9, 4) AS cos
         |FROM cand c JOIN n na ON na.vec_id = c.x JOIN n nb ON nb.vec_id = c.y
         |WHERE list_dot_product(na.emb, nb.emb)/(na.nrm*nb.nrm) >= ${graft.ops.LlmQueries.EmbedCosineTau}
         |ORDER BY 1,2""".stripMargin,
    // F6: LSH top-k — score only the vectors sharing any table's bucket
    // with the query (same candidate rule as Ann.lshTopK)
    "ann_lsh" ->
      s"""WITH $LshBucketCtes,
         |cand AS (SELECT DISTINCT q.vec_id AS q_id, v.vec_id AS vec_id
         |  FROM bb v JOIN bb q ON q.t = v.t AND q.b = v.b
         |    AND v.vec_id <> q.vec_id AND q.vec_id < ${graft.ops.LlmQueries.AnnQueryMax}),
         |scored AS (SELECT c.q_id, c.vec_id,
         |  list_dot_product(nq.emb, nv.emb)/(nq.nrm*nv.nrm) AS cos
         |  FROM cand c JOIN n nq ON nq.vec_id = c.q_id JOIN n nv ON nv.vec_id = c.vec_id),
         |rk AS (SELECT q_id, vec_id, cos,
         |  row_number() OVER (PARTITION BY q_id ORDER BY round(cos,6) DESC, vec_id) AS rk
         |  FROM scored)
         |SELECT q_id, rk, vec_id, round(cos,4) AS cos FROM rk
         |WHERE rk <= ${graft.ops.LlmQueries.AnnK}
         |ORDER BY q_id, rk""".stripMargin,
    // F6b: IVF top-k — nearest-of-K coarse assignment (round(csim,6)
    // DESC, cent_id tie-break, like Ann.ivfTopK's max_by struct), probe
    // the nProbe nearest lists per query, exact-rerank inside them
    // F48: exact range search — membership on the round-6 grid, no
    // rank window at all
    "ann_range" -> {
      import graft.ops.{LlmQueries => LQ}
      s"""WITH n AS (SELECT vec_id, embedding::DOUBLE[] AS emb,
         |  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm FROM embeddings)
         |SELECT q.vec_id AS q_id, v.vec_id,
         |  round(list_dot_product(q.emb, v.emb)/(q.nrm*v.nrm), 4) AS cos
         |FROM n q CROSS JOIN n v
         |WHERE q.vec_id < ${LQ.AnnQueryMax} AND v.vec_id <> q.vec_id
         |  AND round(list_dot_product(q.emb, v.emb)/(q.nrm*v.nrm), 6) >= ${LQ.EmbedCosineTau}
         |ORDER BY q_id, v.vec_id""".stripMargin
    },
    // F48 IVF: the ann_ivf assignment/probe CTEs with the radius
    // filter replacing the rank cut
    "ann_range_ivf" -> {
      import graft.ops.{LlmQueries => LQ}
      s"""WITH n AS (SELECT vec_id, embedding::DOUBLE[] AS emb,
         |  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm FROM embeddings),
         |cents AS (SELECT vec_id AS cent_id, emb AS ce, nrm AS cn FROM n
         |  ORDER BY vec_id LIMIT ${LQ.IvfCentroids}),
         |va AS (SELECT n.vec_id, c.cent_id,
         |  row_number() OVER (PARTITION BY n.vec_id
         |    ORDER BY round(list_dot_product(n.emb, c.ce)/(n.nrm*c.cn), 6) DESC, c.cent_id) AS ark
         |  FROM n CROSS JOIN cents c),
         |assigned AS (SELECT vec_id, cent_id FROM va WHERE ark = 1),
         |qa AS (SELECT n.vec_id AS q_id, c.cent_id,
         |  row_number() OVER (PARTITION BY n.vec_id
         |    ORDER BY round(list_dot_product(n.emb, c.ce)/(n.nrm*c.cn), 6) DESC, c.cent_id) AS crk
         |  FROM n CROSS JOIN cents c WHERE n.vec_id < ${LQ.AnnQueryMax}),
         |probes AS (SELECT q_id, cent_id FROM qa WHERE crk <= ${LQ.IvfProbe})
         |SELECT p.q_id, a.vec_id,
         |  round(list_dot_product(nq.emb, nv.emb)/(nq.nrm*nv.nrm), 4) AS cos
         |FROM assigned a JOIN probes p USING (cent_id)
         |JOIN n nq ON nq.vec_id = p.q_id JOIN n nv ON nv.vec_id = a.vec_id
         |WHERE a.vec_id <> p.q_id
         |  AND round(list_dot_product(nq.emb, nv.emb)/(nq.nrm*nv.nrm), 6) >= ${LQ.EmbedCosineTau}
         |ORDER BY p.q_id, a.vec_id""".stripMargin
    },
    "ann_ivf" -> {
      import graft.ops.{LlmQueries => LQ}
      s"""WITH n AS (SELECT vec_id, embedding::DOUBLE[] AS emb,
         |  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm FROM embeddings),
         |cents AS (SELECT vec_id AS cent_id, emb AS ce, nrm AS cn FROM n
         |  ORDER BY vec_id LIMIT ${LQ.IvfCentroids}),
         |va AS (SELECT n.vec_id, c.cent_id,
         |  row_number() OVER (PARTITION BY n.vec_id
         |    ORDER BY round(list_dot_product(n.emb, c.ce)/(n.nrm*c.cn), 6) DESC, c.cent_id) AS ark
         |  FROM n CROSS JOIN cents c),
         |assigned AS (SELECT vec_id, cent_id FROM va WHERE ark = 1),
         |qa AS (SELECT n.vec_id AS q_id, c.cent_id,
         |  row_number() OVER (PARTITION BY n.vec_id
         |    ORDER BY round(list_dot_product(n.emb, c.ce)/(n.nrm*c.cn), 6) DESC, c.cent_id) AS crk
         |  FROM n CROSS JOIN cents c WHERE n.vec_id < ${LQ.AnnQueryMax}),
         |probes AS (SELECT q_id, cent_id FROM qa WHERE crk <= ${LQ.IvfProbe}),
         |scored AS (SELECT p.q_id, a.vec_id,
         |  list_dot_product(nq.emb, nv.emb)/(nq.nrm*nv.nrm) AS cos
         |  FROM assigned a JOIN probes p USING (cent_id)
         |  JOIN n nq ON nq.vec_id = p.q_id JOIN n nv ON nv.vec_id = a.vec_id
         |  WHERE a.vec_id <> p.q_id),
         |rk AS (SELECT q_id, vec_id, cos,
         |  row_number() OVER (PARTITION BY q_id ORDER BY round(cos,6) DESC, vec_id) AS rk
         |  FROM scored)
         |SELECT q_id, rk, vec_id, round(cos,4) AS cos FROM rk
         |WHERE rk <= ${LQ.AnnK}
         |ORDER BY q_id, rk""".stripMargin
    },
    // F42: metadata-filtered IVF search — centroids and probe lists
    // from the FULL corpus (the standing index), the vector-side
    // assignment restricted to rows passing the label predicate (the
    // pre-filter shape: filtering before the per-row pure-function
    // assignment ≡ filtering the materialized lists)
    "ann_filtered" -> {
      import graft.ops.{LlmQueries => LQ}
      s"""WITH n AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb,
         |  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm FROM embeddings),
         |cents AS (SELECT vec_id AS cent_id, emb AS ce, nrm AS cn FROM n
         |  ORDER BY vec_id LIMIT ${LQ.IvfCentroids}),
         |va AS (SELECT n.vec_id, c.cent_id,
         |  row_number() OVER (PARTITION BY n.vec_id
         |    ORDER BY round(list_dot_product(n.emb, c.ce)/(n.nrm*c.cn), 6) DESC, c.cent_id) AS ark
         |  FROM n CROSS JOIN cents c WHERE n.label % ${LQ.FilterLabelMod} = 0),
         |assigned AS (SELECT vec_id, cent_id FROM va WHERE ark = 1),
         |qa AS (SELECT n.vec_id AS q_id, c.cent_id,
         |  row_number() OVER (PARTITION BY n.vec_id
         |    ORDER BY round(list_dot_product(n.emb, c.ce)/(n.nrm*c.cn), 6) DESC, c.cent_id) AS crk
         |  FROM n CROSS JOIN cents c WHERE n.vec_id < ${LQ.AnnQueryMax}),
         |probes AS (SELECT q_id, cent_id FROM qa WHERE crk <= ${LQ.IvfProbe}),
         |scored AS (SELECT p.q_id, a.vec_id,
         |  list_dot_product(nq.emb, nv.emb)/(nq.nrm*nv.nrm) AS cos
         |  FROM assigned a JOIN probes p USING (cent_id)
         |  JOIN n nq ON nq.vec_id = p.q_id JOIN n nv ON nv.vec_id = a.vec_id
         |  WHERE a.vec_id <> p.q_id),
         |rk AS (SELECT q_id, vec_id, cos,
         |  row_number() OVER (PARTITION BY q_id ORDER BY round(cos,6) DESC, vec_id) AS rk
         |  FROM scored)
         |SELECT q_id, rk, vec_id, round(cos,4) AS cos FROM rk
         |WHERE rk <= ${LQ.AnnK}
         |ORDER BY q_id, rk""".stripMargin
    },
    // F43: exact maximum-inner-product top-k — the cosine tail with
    // the raw dot as the score (no normalization)
    "ann_mips" -> {
      import graft.ops.{LlmQueries => LQ}
      s"""WITH n AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
         |q AS (SELECT vec_id AS q_id, emb AS qe FROM n WHERE vec_id < ${LQ.AnnQueryMax}),
         |scored AS (SELECT q.q_id, v.vec_id, list_dot_product(q.qe, v.emb) AS dp
         |  FROM n v CROSS JOIN q WHERE v.vec_id <> q.q_id),
         |rk AS (SELECT q_id, vec_id, dp,
         |  row_number() OVER (PARTITION BY q_id ORDER BY round(dp,6) DESC, vec_id) AS rk
         |  FROM scored)
         |SELECT q_id, rk, vec_id, round(dp,4) AS dp FROM rk
         |WHERE rk <= ${LQ.AnnK}
         |ORDER BY q_id, rk""".stripMargin
    },
    // F43s: bucketed MIPS — candidates from the augmented-space LSH
    // buckets (corpus side carries sqrt(M²−‖x‖²) through FLOAT, query
    // side 0 — the exact reduction arithmetic), raw-dot scoring
    "ann_mips_lsh" -> {
      import graft.ops.{LlmQueries => LQ}
      s"""WITH $MipsBucketCtes,
         |cand AS (SELECT DISTINCT q.vec_id AS q_id, v.vec_id AS vec_id
         |  FROM vbb v JOIN qbb q ON q.t = v.t AND q.b = v.b
         |    AND v.vec_id <> q.vec_id),
         |scored AS (SELECT c.q_id, c.vec_id,
         |  list_dot_product(nq.emb, nv.emb) AS dp
         |  FROM cand c JOIN n nq ON nq.vec_id = c.q_id JOIN n nv ON nv.vec_id = c.vec_id),
         |rk AS (SELECT q_id, vec_id, dp,
         |  row_number() OVER (PARTITION BY q_id ORDER BY round(dp,6) DESC, vec_id) AS rk
         |  FROM scored)
         |SELECT q_id, rk, vec_id, round(dp,4) AS dp FROM rk
         |WHERE rk <= ${LQ.AnnK}
         |ORDER BY q_id, rk""".stripMargin
    },
    // F6c: IVF over a Lloyd-refined codebook — the same assignment /
    // probe / rerank tail as ann_ivf, but the codebook is 2 iterations
    // of assign → element-wise mean. Parity contract: FIXED-POINT mean
    // (exact integer sum of 1e-6-grid components / count, so no
    // accumulation-order sensitivity in either engine), then the FLOAT
    // pass — exactly what Ann.refinedCentroids computes; both engines
    // regenerate the identical codebook.
    "ann_ivf_refined" -> {
      import graft.ops.{LlmQueries => LQ}
      val cf = LloydFinalCte
      s"""WITH $LloydChainCtes,
         |${ivfAssignCte(cf, "assigned")},
         |qa AS (SELECT n.vec_id AS q_id, c.cent_id,
         |  row_number() OVER (PARTITION BY n.vec_id
         |    ORDER BY round(list_dot_product(n.emb, c.ce)/(n.nrm*c.cn), 6) DESC, c.cent_id) AS crk
         |  FROM n CROSS JOIN $cf c WHERE n.vec_id < ${LQ.AnnQueryMax}),
         |probes AS (SELECT q_id, cent_id FROM qa WHERE crk <= ${LQ.IvfProbe}),
         |scored AS (SELECT p.q_id, a.vec_id,
         |  list_dot_product(nq.emb, nv.emb)/(nq.nrm*nv.nrm) AS cos
         |  FROM assigned a JOIN probes p USING (cent_id)
         |  JOIN n nq ON nq.vec_id = p.q_id JOIN n nv ON nv.vec_id = a.vec_id
         |  WHERE a.vec_id <> p.q_id),
         |rk AS (SELECT q_id, vec_id, cos,
         |  row_number() OVER (PARTITION BY q_id ORDER BY round(cos,6) DESC, vec_id) AS rk
         |  FROM scored)
         |SELECT q_id, rk, vec_id, round(cos,4) AS cos FROM rk
         |WHERE rk <= ${LQ.AnnK}
         |ORDER BY q_id, rk""".stripMargin
    },
    // F6e: IVF over the SAMPLE-trained codebook — training rows pass
    // the salted h60 basis-point keep rule (the F24 rendering), the
    // Lloyd chain is the shared CTE generator over `ns`, and the
    // assignment/probe/rerank tail is byte-identical to ann_ivf_refined
    "ann_ivf_sampled" -> {
      import graft.ops.{LlmQueries => LQ}
      val cf = LloydFinalCte
      s"""WITH $LloydChainSampledCtes,
         |${ivfAssignCte(cf, "assigned")},
         |qa AS (SELECT n.vec_id AS q_id, c.cent_id,
         |  row_number() OVER (PARTITION BY n.vec_id
         |    ORDER BY round(list_dot_product(n.emb, c.ce)/(n.nrm*c.cn), 6) DESC, c.cent_id) AS crk
         |  FROM n CROSS JOIN $cf c WHERE n.vec_id < ${LQ.AnnQueryMax}),
         |probes AS (SELECT q_id, cent_id FROM qa WHERE crk <= ${LQ.IvfProbe}),
         |scored AS (SELECT p.q_id, a.vec_id,
         |  list_dot_product(nq.emb, nv.emb)/(nq.nrm*nv.nrm) AS cos
         |  FROM assigned a JOIN probes p USING (cent_id)
         |  JOIN n nq ON nq.vec_id = p.q_id JOIN n nv ON nv.vec_id = a.vec_id
         |  WHERE a.vec_id <> p.q_id),
         |rk AS (SELECT q_id, vec_id, cos,
         |  row_number() OVER (PARTITION BY q_id ORDER BY round(cos,6) DESC, vec_id) AS rk
         |  FROM scored)
         |SELECT q_id, rk, vec_id, round(cos,4) AS cos FROM rk
         |WHERE rk <= ${LQ.AnnK}
         |ORDER BY q_id, rk""".stripMargin
    },
    // F6f: IVF over the hierarchically-sample-trained codebook — the
    // Lloyd chain's per-iteration assignment is the F6d two-level
    // router; the search tail is unchanged
    "ann_ivf_sampled2" -> {
      import graft.ops.{LlmQueries => LQ}
      val cf = LloydFinalCte
      s"""WITH $LloydChainSampled2Ctes,
         |${ivfAssignCte(cf, "assigned")},
         |qa AS (SELECT n.vec_id AS q_id, c.cent_id,
         |  row_number() OVER (PARTITION BY n.vec_id
         |    ORDER BY round(list_dot_product(n.emb, c.ce)/(n.nrm*c.cn), 6) DESC, c.cent_id) AS crk
         |  FROM n CROSS JOIN $cf c WHERE n.vec_id < ${LQ.AnnQueryMax}),
         |probes AS (SELECT q_id, cent_id FROM qa WHERE crk <= ${LQ.IvfProbe}),
         |scored AS (SELECT p.q_id, a.vec_id,
         |  list_dot_product(nq.emb, nv.emb)/(nq.nrm*nv.nrm) AS cos
         |  FROM assigned a JOIN probes p USING (cent_id)
         |  JOIN n nq ON nq.vec_id = p.q_id JOIN n nv ON nv.vec_id = a.vec_id
         |  WHERE a.vec_id <> p.q_id),
         |rk AS (SELECT q_id, vec_id, cos,
         |  row_number() OVER (PARTITION BY q_id ORDER BY round(cos,6) DESC, vec_id) AS rk
         |  FROM scored)
         |SELECT q_id, rk, vec_id, round(cos,4) AS cos FROM rk
         |WHERE rk <= ${LQ.AnnK}
         |ORDER BY q_id, rk""".stripMargin
    },
    // exact embedding-cosine near-dup pairs (baseline for the _lsh
    // scale path above)
    "dedup_embed_cosine" ->
      s"""WITH n AS (SELECT vec_id, embedding::DOUBLE[] AS emb,
         |  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm FROM embeddings)
         |SELECT a.vec_id AS x, b.vec_id AS y,
         |  round(list_dot_product(a.emb,b.emb)/(a.nrm*b.nrm) - 1e-9, 4) AS cos
         |FROM n a JOIN n b ON a.vec_id < b.vec_id
         |WHERE list_dot_product(a.emb,b.emb)/(a.nrm*b.nrm) >= ${graft.ops.LlmQueries.EmbedCosineTau}
         |ORDER BY 1,2""".stripMargin,
    // F28: SemDeDup cluster-then-prune — the corpus is partitioned into
    // 32 coarse cells by the Lloyd-REFINED codebook (the shared
    // ann_ivf_refined CTE chain — the paper k-means-clusters first),
    // pairs are considered WITHIN a cell only (the by-design
    // approximation), exact cosine filter at the F13 tau, then the
    // shared one-step min-label rule
    "dedup_semantic" -> {
      import graft.ops.{LlmQueries => LQ}
      s"""WITH $LloydChainCtes,
         |${ivfAssignCte(LloydFinalCte, "va")},
         |prs AS (SELECT ja.vec_id AS x, jb.vec_id AS y
         |  FROM va ja JOIN va jb ON ja.cent_id = jb.cent_id AND ja.vec_id < jb.vec_id
         |  JOIN n a ON a.vec_id = ja.vec_id JOIN n b ON b.vec_id = jb.vec_id
         |  WHERE list_dot_product(a.emb,b.emb)/(a.nrm*b.nrm) >= ${LQ.EmbedCosineTau}),
         |mn AS (SELECT vec_id, min(nbr) AS mn FROM (
         |    SELECT x AS vec_id, y AS nbr FROM prs
         |    UNION ALL SELECT y AS vec_id, x AS nbr FROM prs) e GROUP BY 1)
         |SELECT v.vec_id, va.cent_id,
         | least(v.vec_id, coalesce(m.mn, v.vec_id)) AS cluster_id,
         | CASE WHEN least(v.vec_id, coalesce(m.mn, v.vec_id)) = v.vec_id
         |      THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS keep
         |FROM embeddings v JOIN va USING (vec_id) LEFT JOIN mn m ON m.vec_id = v.vec_id
         |ORDER BY 1""".stripMargin
    },
    // F28b: the PRODUCTION SemDeDup composition under the gate — the
    // hierarchical sampled trainer's codebook (the F6f CTE chain) with
    // the corpus routed through the F6d two-level argmax, then the
    // same in-cell pair join and min-label tail as dedup_semantic
    "dedup_semantic_routed" -> {
      import graft.ops.{LlmQueries => LQ}
      s"""WITH $LloydChainSampled2Ctes,
         |${twoLevelAssignCte(LloydFinalCte, "va", "n", LQ.SuperCells)},
         |prs AS (SELECT ja.vec_id AS x, jb.vec_id AS y
         |  FROM va ja JOIN va jb ON ja.cent_id = jb.cent_id AND ja.vec_id < jb.vec_id
         |  JOIN n a ON a.vec_id = ja.vec_id JOIN n b ON b.vec_id = jb.vec_id
         |  WHERE list_dot_product(a.emb,b.emb)/(a.nrm*b.nrm) >= ${LQ.EmbedCosineTau}),
         |mn AS (SELECT vec_id, min(nbr) AS mn FROM (
         |    SELECT x AS vec_id, y AS nbr FROM prs
         |    UNION ALL SELECT y AS vec_id, x AS nbr FROM prs) e GROUP BY 1)
         |SELECT v.vec_id, va.cent_id,
         | least(v.vec_id, coalesce(m.mn, v.vec_id)) AS cluster_id,
         | CASE WHEN least(v.vec_id, coalesce(m.mn, v.vec_id)) = v.vec_id
         |      THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS keep
         |FROM embeddings v JOIN va USING (vec_id) LEFT JOIN mn m ON m.vec_id = v.vec_id
         |ORDER BY 1""".stripMargin
    },
    // one-step min propagation over the EXACT cosine pair graph; the
    // LSH-bucketed graph is the 100 TB pair source (same rule,
    // Dedup.embedCosineClusters is pair-source-agnostic)
    "dedup_embed_cosine_clusters" ->
      s"""WITH n AS (SELECT vec_id, embedding::DOUBLE[] AS emb,
         |  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm FROM embeddings),
         |prs AS (SELECT a.vec_id AS x, b.vec_id AS y
         |  FROM n a JOIN n b ON a.vec_id < b.vec_id
         |  WHERE list_dot_product(a.emb,b.emb)/(a.nrm*b.nrm) >= ${graft.ops.LlmQueries.EmbedCosineTau}),
         |mn AS (SELECT vec_id, min(nbr) AS mn FROM (
         |    SELECT x AS vec_id, y AS nbr FROM prs
         |    UNION ALL SELECT y AS vec_id, x AS nbr FROM prs) e GROUP BY 1)
         |SELECT v.vec_id,
         | least(v.vec_id, coalesce(m.mn, v.vec_id)) AS cluster_id,
         | CASE WHEN least(v.vec_id, coalesce(m.mn, v.vec_id)) = v.vec_id
         |      THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS keep
         |FROM embeddings v LEFT JOIN mn m ON m.vec_id = v.vec_id
         |ORDER BY 1""".stripMargin,
    // G9 batch twin: row-wise IVF assignment — the same argmax rule
    // (round(cos,6) DESC, lowest cent_id) as ann_ivf's assignment CTE,
    // over the same lowest-K codebook
    "stream_ann_assign" -> {
      import graft.ops.{LlmQueries => LQ}
      s"""WITH n AS (SELECT vec_id, embedding::DOUBLE[] AS emb,
         |  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm FROM embeddings),
         |cents AS (SELECT vec_id AS cent_id, emb AS ce, nrm AS cn FROM n
         |  ORDER BY vec_id LIMIT ${LQ.IvfCentroids}),
         |va AS (SELECT n.vec_id, c.cent_id,
         |  row_number() OVER (PARTITION BY n.vec_id
         |    ORDER BY round(list_dot_product(n.emb, c.ce)/(n.nrm*c.cn), 6) DESC, c.cent_id) AS ark
         |  FROM n CROSS JOIN cents c)
         |SELECT vec_id, cent_id FROM va WHERE ark = 1
         |ORDER BY vec_id""".stripMargin
    },
    // F6d: two-level coarse routing — super-codebook = the G
    // lowest-cent_id centroids, centroid→super by the same argmax,
    // rows route super first then argmax over ONLY the super-cell's
    // member centroids (the O(√K) hierarchical approximation)
    "ann_assign_2level" -> {
      import graft.ops.{LlmQueries => LQ}
      s"""WITH n AS (SELECT vec_id, embedding::DOUBLE[] AS emb,
         |  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm FROM embeddings),
         |cents AS (SELECT vec_id AS cent_id, emb AS ce, nrm AS cn FROM n
         |  ORDER BY vec_id LIMIT ${LQ.IvfCentroids}),
         |sup AS (SELECT cent_id AS super_id, ce AS se, cn AS sn FROM cents
         |  ORDER BY cent_id LIMIT ${LQ.SuperCells}),
         |cmap AS (SELECT cent_id, super_id, ce, cn FROM (
         |  SELECT c.cent_id, s.super_id, c.ce, c.cn,
         |    row_number() OVER (PARTITION BY c.cent_id
         |      ORDER BY round(list_dot_product(c.ce, s.se)/(c.cn*s.sn), 6) DESC, s.super_id) AS rk
         |  FROM cents c CROSS JOIN sup s) WHERE rk = 1),
         |r1 AS (SELECT vec_id, super_id FROM (
         |  SELECT n.vec_id, s.super_id,
         |    row_number() OVER (PARTITION BY n.vec_id
         |      ORDER BY round(list_dot_product(n.emb, s.se)/(n.nrm*s.sn), 6) DESC, s.super_id) AS rk
         |  FROM n CROSS JOIN sup s) WHERE rk = 1)
         |SELECT vec_id, super_id, cent_id FROM (
         |  SELECT n.vec_id, r1.super_id, m.cent_id,
         |    row_number() OVER (PARTITION BY n.vec_id
         |      ORDER BY round(list_dot_product(n.emb, m.ce)/(n.nrm*m.cn), 6) DESC, m.cent_id) AS rk
         |  FROM n JOIN r1 USING (vec_id) JOIN cmap m ON m.super_id = r1.super_id) t
         |WHERE rk = 1
         |ORDER BY vec_id""".stripMargin
    },
    // F25b: IVF + int8 rerank — ann_ivf's float assignment/probe CTEs
    // with ann_quantized's code arithmetic in the rerank
    "ann_ivf_quantized" -> {
      import graft.ops.{LlmQueries => LQ}
      s"""WITH n AS (SELECT vec_id, embedding::DOUBLE[] AS emb,
         |  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm FROM embeddings),
         |s AS (SELECT vec_id, emb,
         |  greatest(list_max(list_transform(emb, x -> abs(x))), 1e-30) AS sc FROM n),
         |cq AS (SELECT vec_id,
         |  list_transform(emb, x -> round(x * 127.0 / sc)) AS code FROM s),
         |cqn AS (SELECT vec_id, code,
         |  sqrt(list_dot_product(code, code)) AS cnrm FROM cq),
         |cents AS (SELECT vec_id AS cent_id, emb AS ce, nrm AS cn FROM n
         |  ORDER BY vec_id LIMIT ${LQ.IvfCentroids}),
         |va AS (SELECT n.vec_id, c.cent_id,
         |  row_number() OVER (PARTITION BY n.vec_id
         |    ORDER BY round(list_dot_product(n.emb, c.ce)/(n.nrm*c.cn), 6) DESC, c.cent_id) AS ark
         |  FROM n CROSS JOIN cents c),
         |assigned AS (SELECT vec_id, cent_id FROM va WHERE ark = 1),
         |qa AS (SELECT n.vec_id AS q_id, c.cent_id,
         |  row_number() OVER (PARTITION BY n.vec_id
         |    ORDER BY round(list_dot_product(n.emb, c.ce)/(n.nrm*c.cn), 6) DESC, c.cent_id) AS crk
         |  FROM n CROSS JOIN cents c WHERE n.vec_id < ${LQ.AnnQueryMax}),
         |probes AS (SELECT q_id, cent_id FROM qa WHERE crk <= ${LQ.IvfProbe}),
         |scored AS (SELECT p.q_id, a.vec_id,
         |  list_dot_product(nq.code, nv.code)/(nq.cnrm*nv.cnrm) AS cos
         |  FROM assigned a JOIN probes p USING (cent_id)
         |  JOIN cqn nq ON nq.vec_id = p.q_id JOIN cqn nv ON nv.vec_id = a.vec_id
         |  WHERE a.vec_id <> p.q_id),
         |rk AS (SELECT q_id, vec_id, cos,
         |  row_number() OVER (PARTITION BY q_id ORDER BY round(cos,6) DESC, vec_id) AS rk
         |  FROM scored)
         |SELECT q_id, rk, vec_id, round(cos,4) AS cos FROM rk
         |WHERE rk <= ${LQ.AnnK}
         |ORDER BY q_id, rk""".stripMargin
    },
    // F25c: product quantization — codeword (s,j) is the s-th 8-dim
    // slice of the j-th lowest-vec_id embedding; encode is the L2
    // argmin via the c·c − 2·x·c expansion on the round(,6) grid with
    // lowest-j tie-break; ADC terms and codeword self-dots land on the
    // 1e-6 fixed-point grid as BIGINTs so the m-term sums are integer-
    // exact in both engines (the Lloyd fixed-point discipline)
    "ann_pq" -> {
      import graft.ops.{LlmQueries => LQ}
      val sd = 64 / LQ.PqSubspaces
      s"""WITH n AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
         |cwv AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, emb
         |  FROM n ORDER BY vec_id LIMIT ${LQ.PqCodes}),
         |cw AS (SELECT t.range AS s, c.j,
         |    c.emb[t.range*$sd+1 : t.range*$sd+$sd] AS cvec,
         |    list_dot_product(c.emb[t.range*$sd+1 : t.range*$sd+$sd],
         |                     c.emb[t.range*$sd+1 : t.range*$sd+$sd]) AS cc
         |  FROM cwv c CROSS JOIN range(${LQ.PqSubspaces}) t),
         |codes AS (SELECT vec_id, s, j, cvec, cc FROM (
         |  SELECT n.vec_id, cw.s, cw.j, cw.cvec, cw.cc,
         |    row_number() OVER (PARTITION BY n.vec_id, cw.s
         |      ORDER BY round(cw.cc - 2*list_dot_product(
         |        n.emb[cw.s*$sd+1 : cw.s*$sd+$sd], cw.cvec), 6) ASC, cw.j) AS ark
         |  FROM n CROSS JOIN cw) WHERE ark = 1),
         |q AS (SELECT vec_id AS q_id, emb AS qe,
         |  sqrt(list_dot_product(emb, emb)) AS qn FROM n
         |  WHERE vec_id < ${LQ.AnnQueryMax}),
         |terms AS (SELECT q.q_id, cd.vec_id,
         |    CAST(round(list_dot_product(
         |      q.qe[cd.s*$sd+1 : cd.s*$sd+$sd], cd.cvec) * 1e6, 0) AS BIGINT) AS tl,
         |    CAST(round(cd.cc * 1e6, 0) AS BIGINT) AS ccl
         |  FROM codes cd CROSS JOIN q WHERE cd.vec_id <> q.q_id),
         |agg AS (SELECT q_id, vec_id, sum(tl) AS sl, sum(ccl) AS scc
         |  FROM terms GROUP BY 1, 2),
         |scored AS (SELECT a.q_id, a.vec_id,
         |  (a.sl / 1e6) / (q.qn * sqrt(a.scc / 1e6)) AS cos
         |  FROM agg a JOIN q ON q.q_id = a.q_id),
         |rk AS (SELECT q_id, vec_id, cos,
         |  row_number() OVER (PARTITION BY q_id ORDER BY round(cos,6) DESC, vec_id) AS rk
         |  FROM scored)
         |SELECT q_id, rk, vec_id, round(cos,4) AS cos FROM rk
         |WHERE rk <= ${LQ.AnnK}
         |ORDER BY q_id, rk""".stripMargin
    },
    // F25g: the TRAINED product codebook — per-subspace Lloyd k-means
    // over the '#pqtrain' hash sample (sub-vector explode, argmin of
    // round(cc−2·sv·cw,6) with lowest-j tie, fixed-point 1e-6-grid
    // means with the FLOAT pass, empty codewords keep their previous
    // value), then ann_pq's encode/ADC tail over the final book
    "ann_pq_trained" -> {
      import graft.ops.{LlmQueries => LQ}
      val sd = 64 / LQ.PqSubspaces
      s"""WITH n AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
         |$PqTrainedBookCtes,
         |codes AS (SELECT vec_id, s, j, cvec, cc FROM (
         |  SELECT n.vec_id, b.s, b.j, b.cw AS cvec, b.cc,
         |    row_number() OVER (PARTITION BY n.vec_id, b.s
         |      ORDER BY round(b.cc - 2*list_dot_product(
         |        n.emb[b.s*$sd+1 : b.s*$sd+$sd], b.cw), 6) ASC, b.j) AS ark
         |  FROM n CROSS JOIN $PqTrainedFinalCte b) WHERE ark = 1),
         |q AS (SELECT vec_id AS q_id, emb AS qe,
         |  sqrt(list_dot_product(emb, emb)) AS qn FROM n
         |  WHERE vec_id < ${LQ.AnnQueryMax}),
         |terms AS (SELECT q.q_id, cd.vec_id,
         |    CAST(round(list_dot_product(
         |      q.qe[cd.s*$sd+1 : cd.s*$sd+$sd], cd.cvec) * 1e6, 0) AS BIGINT) AS tl,
         |    CAST(round(cd.cc * 1e6, 0) AS BIGINT) AS ccl
         |  FROM codes cd CROSS JOIN q WHERE cd.vec_id <> q.q_id),
         |agg AS (SELECT q_id, vec_id, sum(tl) AS sl, sum(ccl) AS scc
         |  FROM terms GROUP BY 1, 2),
         |scored AS (SELECT a.q_id, a.vec_id,
         |  (a.sl / 1e6) / (q.qn * sqrt(a.scc / 1e6)) AS cos
         |  FROM agg a JOIN q ON q.q_id = a.q_id),
         |rk AS (SELECT q_id, vec_id, cos,
         |  row_number() OVER (PARTITION BY q_id ORDER BY round(cos,6) DESC, vec_id) AS rk
         |  FROM scored)
         |SELECT q_id, rk, vec_id, round(cos,4) AS cos FROM rk
         |WHERE rk <= ${LQ.AnnK}
         |ORDER BY q_id, rk""".stripMargin
    },
    // F25d: IVF + PQ (the FAISS IVFPQ shape) — ann_ivf's float coarse
    // assignment / probe CTEs bound the candidate set, ann_pq's
    // fixed-point ADC CTEs score it; the BIGINT-grid term sums are
    // integer-exact in both engines
    "ann_ivf_pq" -> {
      import graft.ops.{LlmQueries => LQ}
      val sd = 64 / LQ.PqSubspaces
      s"""WITH n AS (SELECT vec_id, embedding::DOUBLE[] AS emb,
         |  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm FROM embeddings),
         |cents AS (SELECT vec_id AS cent_id, emb AS ce, nrm AS cn FROM n
         |  ORDER BY vec_id LIMIT ${LQ.IvfCentroids}),
         |va AS (SELECT n.vec_id, c.cent_id,
         |  row_number() OVER (PARTITION BY n.vec_id
         |    ORDER BY round(list_dot_product(n.emb, c.ce)/(n.nrm*c.cn), 6) DESC, c.cent_id) AS ark
         |  FROM n CROSS JOIN cents c),
         |assigned AS (SELECT vec_id, cent_id FROM va WHERE ark = 1),
         |qa AS (SELECT n.vec_id AS q_id, c.cent_id,
         |  row_number() OVER (PARTITION BY n.vec_id
         |    ORDER BY round(list_dot_product(n.emb, c.ce)/(n.nrm*c.cn), 6) DESC, c.cent_id) AS crk
         |  FROM n CROSS JOIN cents c WHERE n.vec_id < ${LQ.AnnQueryMax}),
         |probes AS (SELECT q_id, cent_id FROM qa WHERE crk <= ${LQ.IvfProbe}),
         |cwv AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, emb
         |  FROM n ORDER BY vec_id LIMIT ${LQ.PqCodes}),
         |cw AS (SELECT t.range AS s, c.j,
         |    c.emb[t.range*$sd+1 : t.range*$sd+$sd] AS cvec,
         |    list_dot_product(c.emb[t.range*$sd+1 : t.range*$sd+$sd],
         |                     c.emb[t.range*$sd+1 : t.range*$sd+$sd]) AS cc
         |  FROM cwv c CROSS JOIN range(${LQ.PqSubspaces}) t),
         |codes AS (SELECT vec_id, s, j, cvec, cc FROM (
         |  SELECT n.vec_id, cw.s, cw.j, cw.cvec, cw.cc,
         |    row_number() OVER (PARTITION BY n.vec_id, cw.s
         |      ORDER BY round(cw.cc - 2*list_dot_product(
         |        n.emb[cw.s*$sd+1 : cw.s*$sd+$sd], cw.cvec), 6) ASC, cw.j) AS ark
         |  FROM n CROSS JOIN cw) WHERE ark = 1),
         |q AS (SELECT vec_id AS q_id, emb AS qe, nrm AS qn FROM n
         |  WHERE vec_id < ${LQ.AnnQueryMax}),
         |cand AS (SELECT p.q_id, a.vec_id
         |  FROM assigned a JOIN probes p USING (cent_id)
         |  WHERE a.vec_id <> p.q_id),
         |terms AS (SELECT ca.q_id, ca.vec_id,
         |    CAST(round(list_dot_product(
         |      q.qe[cd.s*$sd+1 : cd.s*$sd+$sd], cd.cvec) * 1e6, 0) AS BIGINT) AS tl,
         |    CAST(round(cd.cc * 1e6, 0) AS BIGINT) AS ccl
         |  FROM cand ca JOIN codes cd ON cd.vec_id = ca.vec_id
         |  JOIN q ON q.q_id = ca.q_id),
         |agg AS (SELECT q_id, vec_id, sum(tl) AS sl, sum(ccl) AS scc
         |  FROM terms GROUP BY 1, 2),
         |scored AS (SELECT a.q_id, a.vec_id,
         |  (a.sl / 1e6) / (q.qn * sqrt(a.scc / 1e6)) AS cos
         |  FROM agg a JOIN q ON q.q_id = a.q_id),
         |rk AS (SELECT q_id, vec_id, cos,
         |  row_number() OVER (PARTITION BY q_id ORDER BY round(cos,6) DESC, vec_id) AS rk
         |  FROM scored)
         |SELECT q_id, rk, vec_id, round(cos,4) AS cos FROM rk
         |WHERE rk <= ${LQ.AnnK}
         |ORDER BY q_id, rk""".stripMargin
    },
    // F25j: IVFPQ + exact refine — the ann_ivf_pq chain verbatim with
    // the rank cut widened to k*refine (the ADC shortlist), then the
    // stored floats re-score exactly and re-rank to k (the
    // ann_cosine_topk arithmetic restricted to the shortlist)
    "ann_ivf_pq_refine" -> {
      import graft.ops.{LlmQueries => LQ}
      val sd = 64 / LQ.PqSubspaces
      s"""WITH n AS (SELECT vec_id, embedding::DOUBLE[] AS emb,
         |  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm FROM embeddings),
         |cents AS (SELECT vec_id AS cent_id, emb AS ce, nrm AS cn FROM n
         |  ORDER BY vec_id LIMIT ${LQ.IvfCentroids}),
         |va AS (SELECT n.vec_id, c.cent_id,
         |  row_number() OVER (PARTITION BY n.vec_id
         |    ORDER BY round(list_dot_product(n.emb, c.ce)/(n.nrm*c.cn), 6) DESC, c.cent_id) AS ark
         |  FROM n CROSS JOIN cents c),
         |assigned AS (SELECT vec_id, cent_id FROM va WHERE ark = 1),
         |qa AS (SELECT n.vec_id AS q_id, c.cent_id,
         |  row_number() OVER (PARTITION BY n.vec_id
         |    ORDER BY round(list_dot_product(n.emb, c.ce)/(n.nrm*c.cn), 6) DESC, c.cent_id) AS crk
         |  FROM n CROSS JOIN cents c WHERE n.vec_id < ${LQ.AnnQueryMax}),
         |probes AS (SELECT q_id, cent_id FROM qa WHERE crk <= ${LQ.IvfProbe}),
         |cwv AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, emb
         |  FROM n ORDER BY vec_id LIMIT ${LQ.PqCodes}),
         |cw AS (SELECT t.range AS s, c.j,
         |    c.emb[t.range*$sd+1 : t.range*$sd+$sd] AS cvec,
         |    list_dot_product(c.emb[t.range*$sd+1 : t.range*$sd+$sd],
         |                     c.emb[t.range*$sd+1 : t.range*$sd+$sd]) AS cc
         |  FROM cwv c CROSS JOIN range(${LQ.PqSubspaces}) t),
         |codes AS (SELECT vec_id, s, j, cvec, cc FROM (
         |  SELECT n.vec_id, cw.s, cw.j, cw.cvec, cw.cc,
         |    row_number() OVER (PARTITION BY n.vec_id, cw.s
         |      ORDER BY round(cw.cc - 2*list_dot_product(
         |        n.emb[cw.s*$sd+1 : cw.s*$sd+$sd], cw.cvec), 6) ASC, cw.j) AS ark
         |  FROM n CROSS JOIN cw) WHERE ark = 1),
         |q AS (SELECT vec_id AS q_id, emb AS qe, nrm AS qn FROM n
         |  WHERE vec_id < ${LQ.AnnQueryMax}),
         |cand AS (SELECT p.q_id, a.vec_id
         |  FROM assigned a JOIN probes p USING (cent_id)
         |  WHERE a.vec_id <> p.q_id),
         |terms AS (SELECT ca.q_id, ca.vec_id,
         |    CAST(round(list_dot_product(
         |      q.qe[cd.s*$sd+1 : cd.s*$sd+$sd], cd.cvec) * 1e6, 0) AS BIGINT) AS tl,
         |    CAST(round(cd.cc * 1e6, 0) AS BIGINT) AS ccl
         |  FROM cand ca JOIN codes cd ON cd.vec_id = ca.vec_id
         |  JOIN q ON q.q_id = ca.q_id),
         |agg AS (SELECT q_id, vec_id, sum(tl) AS sl, sum(ccl) AS scc
         |  FROM terms GROUP BY 1, 2),
         |scored AS (SELECT a.q_id, a.vec_id,
         |  (a.sl / 1e6) / (q.qn * sqrt(a.scc / 1e6)) AS cos
         |  FROM agg a JOIN q ON q.q_id = a.q_id),
         |rk AS (SELECT q_id, vec_id, cos,
         |  row_number() OVER (PARTITION BY q_id ORDER BY round(cos,6) DESC, vec_id) AS rk
         |  FROM scored),
         |short AS (SELECT q_id, vec_id FROM rk WHERE rk <= ${LQ.AnnK * LQ.PqRefine}),
         |ex AS (SELECT sh.q_id, sh.vec_id,
         |  list_dot_product(q2.qe, n2.emb) / (q2.qn * n2.nrm) AS cos
         |  FROM short sh JOIN n n2 ON n2.vec_id = sh.vec_id
         |               JOIN q q2 ON q2.q_id = sh.q_id),
         |rk2 AS (SELECT q_id, vec_id, cos,
         |  row_number() OVER (PARTITION BY q_id ORDER BY round(cos,6) DESC, vec_id) AS rk
         |  FROM ex)
         |SELECT q_id, rk, vec_id, round(cos,4) AS cos FROM rk2
         |WHERE rk <= ${LQ.AnnK}
         |ORDER BY q_id, rk""".stripMargin
    },
    // F25h: IVF + TRAINED PQ — ann_ivf_pq's routing/probe/ADC CTEs
    // verbatim, with the codeword table swapped for the F25g trained
    // Lloyd chain (the shared trained-book CTEs); only the codewords
    // change, as in the Spark plan
    "ann_ivf_pq_trained" -> ivfPqTrainedSqlOver("n"),
    // F60: the persisted/epoch-pinned index search is bit-equal to the
    // in-session F25h by construction (shared Ann.ivfTopKPqOnIndex tail
    // + lossless parquet round-trip), so the oracle is SHARED VERBATIM
    // — the hash match is the save/load round-trip theorem cross-engine
    "ann_index_search" -> ivfPqTrainedSqlOver("n"),
    // F60e: after the rebuild cutover the alias serves the fresh
    // full-corpus build — the F25h oracle verbatim; gen 1's
    // base-trained codebooks would mis-rank, so the hash match proves
    // the alias followed the cutover
    "ann_index_cutover" -> ivfPqTrainedSqlOver("n"),
    // F60b: extend ≡ rebuild-encode over the persisted form — the
    // codebooks train on the BASE corpus only (the frozen-book law),
    // while encode/probe/ADC run over the whole corpus
    "ann_index_refresh" -> ivfPqTrainedSqlOver("base",
      "base AS (SELECT * FROM n WHERE vec_id % 3 <> 0),\n"),
    // F60c: compact+vacuum are lossless/non-semantic, so the full
    // maintenance cycle answers exactly as the refresh — shared SQL
    "ann_index_compacted" -> ivfPqTrainedSqlOver("base",
      "base AS (SELECT * FROM n WHERE vec_id % 3 <> 0),\n"),
    // F60d: the delete cycle — codebooks trained on the FULL corpus
    // (deletes never retrain), queries the full set, but tombstoned
    // ids are excluded from the CANDIDATE side: a deleted vector must
    // never appear in anyone's top-k, before or after the purge
    "ann_index_deleted" -> ivfPqTrainedSqlOver("n",
      candWhere = " AND a.vec_id % 17 <> 0"),
    // F25i: residual IVFPQ — residuals float-rounded from the
    // assignment, the trained chain over the residual CTE, ADC with
    // the q·c / ‖c‖² / c·cw cross terms all on the BIGINT grid
    "ann_ivf_pq_residual" -> {
      import graft.ops.{LlmQueries => LQ}
      val sd = 64 / LQ.PqSubspaces
      val bFinal = s"b${LQ.PqTrainIters}"
      s"""WITH n AS (SELECT vec_id, embedding::DOUBLE[] AS emb,
         |  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm FROM embeddings),
         |cents AS (SELECT vec_id AS cent_id, emb AS ce, nrm AS cn FROM n
         |  ORDER BY vec_id LIMIT ${LQ.IvfCentroids}),
         |va AS (SELECT n.vec_id, c.cent_id,
         |  row_number() OVER (PARTITION BY n.vec_id
         |    ORDER BY round(list_dot_product(n.emb, c.ce)/(n.nrm*c.cn), 6) DESC, c.cent_id) AS ark
         |  FROM n CROSS JOIN cents c),
         |assigned AS (SELECT vec_id, cent_id FROM va WHERE ark = 1),
         |rvd AS (SELECT a.vec_id, a.cent_id, generate_subscripts(n.emb, 1) AS d,
         |  unnest(n.emb) AS xv, unnest(c.ce) AS cv
         |  FROM assigned a JOIN n USING (vec_id) JOIN cents c USING (cent_id)),
         |nres AS (SELECT vec_id, any_value(cent_id) AS cent_id,
         |  list(CAST(CAST(xv - cv AS FLOAT) AS DOUBLE) ORDER BY d) AS emb
         |  FROM rvd GROUP BY vec_id),
         |${pqTrainedBookCtesOver("nres")},
         |codes AS (SELECT vec_id, cent_id, s, j, cvec, cc FROM (
         |  SELECT r.vec_id, r.cent_id, b.s, b.j, b.cw AS cvec, b.cc,
         |    row_number() OVER (PARTITION BY r.vec_id, b.s
         |      ORDER BY round(b.cc - 2*list_dot_product(
         |        r.emb[b.s*$sd+1 : b.s*$sd+$sd], b.cw), 6) ASC, b.j) AS ark
         |  FROM nres r CROSS JOIN $bFinal b) WHERE ark = 1),
         |q AS (SELECT vec_id AS q_id, emb AS qe, nrm AS qn FROM n
         |  WHERE vec_id < ${LQ.AnnQueryMax}),
         |qa AS (SELECT q.q_id, c.cent_id,
         |  CAST(round(list_dot_product(q.qe, c.ce) * 1e6) AS BIGINT) AS qcl,
         |  row_number() OVER (PARTITION BY q.q_id
         |    ORDER BY round(list_dot_product(q.qe, c.ce)/(q.qn*c.cn), 6) DESC, c.cent_id) AS crk
         |  FROM q CROSS JOIN cents c),
         |probes AS (SELECT q_id, cent_id, qcl FROM qa WHERE crk <= ${LQ.IvfProbe}),
         |ccent AS (SELECT cent_id,
         |  CAST(round(list_dot_product(ce, ce) * 1e6) AS BIGINT) AS ccl2 FROM cents),
         |ctab AS (SELECT c.cent_id, b.s, b.j,
         |  CAST(round(list_dot_product(c.ce[b.s*$sd+1 : b.s*$sd+$sd], b.cw) * 1e6) AS BIGINT) AS ctl
         |  FROM cents c CROSS JOIN $bFinal b),
         |cand AS (SELECT p.q_id, a.vec_id, a.cent_id, p.qcl
         |  FROM assigned a JOIN probes p USING (cent_id)
         |  WHERE a.vec_id <> p.q_id),
         |terms AS (SELECT ca.q_id, ca.vec_id, ca.qcl,
         |    CAST(round(list_dot_product(
         |      q.qe[cd.s*$sd+1 : cd.s*$sd+$sd], cd.cvec) * 1e6) AS BIGINT) AS tl,
         |    ct.ctl, CAST(round(cd.cc * 1e6) AS BIGINT) AS ccl
         |  FROM cand ca JOIN codes cd ON cd.vec_id = ca.vec_id
         |  JOIN q ON q.q_id = ca.q_id
         |  JOIN ctab ct ON ct.cent_id = ca.cent_id AND ct.s = cd.s AND ct.j = cd.j),
         |agg AS (SELECT q_id, vec_id, any_value(qcl) AS qcl,
         |  sum(tl) AS sl, sum(ctl) AS sct, sum(ccl) AS scc
         |  FROM terms GROUP BY 1, 2),
         |scored AS (SELECT a.q_id, a.vec_id,
         |  ((a.qcl + a.sl) / 1e6) /
         |  (q.qn * sqrt(greatest(0, cc.ccl2 + 2*a.sct + a.scc) / 1e6)) AS cos
         |  FROM agg a JOIN q ON q.q_id = a.q_id
         |  JOIN cand ca ON ca.q_id = a.q_id AND ca.vec_id = a.vec_id
         |  JOIN ccent cc ON cc.cent_id = ca.cent_id),
         |rk AS (SELECT q_id, vec_id, cos,
         |  row_number() OVER (PARTITION BY q_id ORDER BY round(cos,6) DESC, vec_id) AS rk
         |  FROM scored)
         |SELECT q_id, rk, vec_id, round(cos,4) AS cos FROM rk
         |WHERE rk <= ${LQ.AnnK}
         |ORDER BY q_id, rk""".stripMargin
    },
    // F25: int8-quantized top-k — same symmetric per-vector
    // quantization as Ann.quantize (scale = max |x| floored at 1e-30,
    // code = round(x·127/scale), ties away from zero in both engines);
    // code dots are exact integers in both engines, so the only float
    // ops are the final sqrt and divide — identical IEEE arithmetic
    "ann_quantized" -> {
      import graft.ops.{LlmQueries => LQ}
      s"""WITH n AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
         |s AS (SELECT vec_id, emb,
         |  greatest(list_max(list_transform(emb, x -> abs(x))), 1e-30) AS sc FROM n),
         |c AS (SELECT vec_id,
         |  list_transform(emb, x -> round(x * 127.0 / sc)) AS code FROM s),
         |cn AS (SELECT vec_id, code,
         |  sqrt(list_dot_product(code, code)) AS nrm FROM c),
         |q AS (SELECT vec_id AS q_id, code AS qc, nrm AS qn FROM cn
         |  WHERE vec_id < ${LQ.AnnQueryMax}),
         |scored AS (SELECT q.q_id, v.vec_id,
         |  list_dot_product(q.qc, v.code)/(q.qn*v.nrm) AS cos
         |  FROM cn v CROSS JOIN q WHERE v.vec_id <> q.q_id),
         |rk AS (SELECT q_id, vec_id, cos,
         |  row_number() OVER (PARTITION BY q_id ORDER BY round(cos,6) DESC, vec_id) AS rk
         |  FROM scored)
         |SELECT q_id, rk, vec_id, round(cos,4) AS cos FROM rk
         |WHERE rk <= ${LQ.AnnK}
         |ORDER BY q_id, rk""".stripMargin
    },
    "ann_cosine_topk" ->
      """WITH n AS (SELECT vec_id, embedding::DOUBLE[] AS emb,
        |  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm FROM embeddings),
        |q AS (SELECT vec_id AS q_id, emb AS qe, nrm AS qn FROM n WHERE vec_id < 10),
        |scored AS (SELECT q.q_id, v.vec_id, list_dot_product(q.qe, v.emb)/(q.qn*v.nrm) AS cos
        |  FROM n v CROSS JOIN q WHERE v.vec_id <> q.q_id),
        |rk AS (SELECT q_id, vec_id, cos,
        |  row_number() OVER (PARTITION BY q_id ORDER BY round(cos,6) DESC, vec_id) AS rk FROM scored)
        |SELECT q_id, rk, vec_id, round(cos,4) AS cos FROM rk WHERE rk <= 5
        |ORDER BY q_id, rk""".stripMargin,
    // F40: hybrid RRF — the exact-cosine ranking and the
    // keyword-overlap ranking replayed, fused 1/(60+rk) + 1/(60+rk),
    // re-ranked on the rounded fusion score with id tie-break
    "ann_hybrid_rrf" -> {
      import graft.ops.{LlmQueries => LQ}
      s"""WITH $TK,
         |n AS (SELECT vec_id, embedding::DOUBLE[] AS emb,
         |  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm FROM embeddings),
         |q AS (SELECT vec_id AS q_id, emb AS qe, nrm AS qn FROM n WHERE vec_id < ${LQ.AnnQueryMax}),
         |dscored AS (SELECT q.q_id, v.vec_id, list_dot_product(q.qe, v.emb)/(q.qn*v.nrm) AS cos
         |  FROM n v CROSS JOIN q WHERE v.vec_id <> q.q_id),
         |drk AS (SELECT q_id, vec_id AS id,
         |  row_number() OVER (PARTITION BY q_id ORDER BY round(cos,6) DESC, vec_id) AS rk
         |  FROM dscored),
         |dense AS (SELECT q_id, id, rk FROM drk WHERE rk <= ${LQ.AnnK}),
         |tok AS (SELECT doc_id, unnest(toks) AS token FROM tk),
         |tfd AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2),
         |dfs AS (SELECT token, count(*) AS df FROM tfd GROUP BY 1),
         |nn AS (SELECT count(*) AS n FROM documents),
         |sc AS (SELECT t.doc_id, t.token,
         |  row_number() OVER (PARTITION BY t.doc_id
         |    ORDER BY round(t.tf * ln((nn.n + 1)*1.0/(d.df + 1)), 6) DESC, t.token) AS krk
         |  FROM tfd t JOIN dfs d USING (token) CROSS JOIN nn),
         |kws AS (SELECT doc_id, token FROM sc WHERE krk <= ${LQ.KeywordsTopK}),
         |ov AS (SELECT a.doc_id AS q_id, b.doc_id, count(*) AS overlap
         |  FROM kws a JOIN kws b ON a.token = b.token AND a.doc_id <> b.doc_id
         |  WHERE a.doc_id < ${LQ.AnnQueryMax}
         |  GROUP BY 1, 2),
         |srk AS (SELECT q_id, doc_id AS id,
         |  row_number() OVER (PARTITION BY q_id ORDER BY overlap DESC, doc_id) AS rk
         |  FROM ov),
         |sparse AS (SELECT q_id, id, rk FROM srk WHERE rk <= ${LQ.AnnK}),
         |fused AS (SELECT coalesce(d.q_id, s2.q_id) AS q_id, coalesce(d.id, s2.id) AS id,
         |  coalesce(1.0/(d.rk + 60), 0.0) + coalesce(1.0/(s2.rk + 60), 0.0) AS rrf
         |  FROM dense d FULL OUTER JOIN sparse s2 ON d.q_id = s2.q_id AND d.id = s2.id),
         |frk AS (SELECT q_id, id, rrf,
         |  row_number() OVER (PARTITION BY q_id ORDER BY round(rrf, 9) DESC, id) AS rk
         |  FROM fused)
         |SELECT q_id, CAST(rk AS BIGINT) AS rk, id, round(rrf, 6) AS rrf
         |FROM frk WHERE rk <= ${LQ.AnnK}
         |ORDER BY q_id, rk""".stripMargin
    },
    // F50: Okapi BM25 — query terms = the F30 top-keyword chain,
    // per-TERM score snapped to a 1e-6 fixed-point BIGINT (identical
    // scalar expression shape in both engines) so the per-(q,d) sum is
    // integer-exact; rank compares the integers
    "ann_bm25" -> {
      import graft.ops.{LlmQueries => LQ}
      import graft.text.{Analysis => A}
      s"""WITH $TK,
         |tok AS (SELECT doc_id, unnest(toks) AS token FROM tk),
         |tfd AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2),
         |dfs AS (SELECT token, count(*) AS df FROM tfd GROUP BY 1),
         |dls AS (SELECT doc_id, sum(tf) AS dl FROM tfd GROUP BY 1),
         |nn AS (SELECT count(*) AS n, sum(len(toks)) AS tot FROM tk),
         |sc AS (SELECT t.doc_id, t.token,
         |  row_number() OVER (PARTITION BY t.doc_id
         |    ORDER BY round(t.tf * ln((nn.n + 1)*1.0/(d.df + 1)), 6) DESC, t.token) AS krk
         |  FROM tfd t JOIN dfs d USING (token) CROSS JOIN nn),
         |qk AS (SELECT doc_id AS q_id, token FROM sc
         |  WHERE krk <= ${LQ.KeywordsTopK} AND doc_id < ${LQ.AnnQueryMax}),
         |cand AS (SELECT q.q_id, t.doc_id,
         |  CAST(round(ln(1.0 + (nn.n - d.df + 0.5)/(d.df + 0.5))
         |    * (t.tf * (${A.Bm25K1} + 1.0)
         |       / (t.tf + ${A.Bm25K1} * (1.0 - ${A.Bm25B}
         |          + ${A.Bm25B} * l.dl / (CAST(nn.tot AS DOUBLE) / CAST(nn.n AS DOUBLE)))))
         |    * 1e6, 0) AS BIGINT) AS t_fp
         |  FROM qk q JOIN tfd t USING (token) JOIN dfs d USING (token)
         |  JOIN dls l ON l.doc_id = t.doc_id CROSS JOIN nn
         |  WHERE t.doc_id <> q.q_id),
         |sc2 AS (SELECT q_id, doc_id, sum(t_fp) AS s_fp FROM cand GROUP BY 1, 2),
         |rkd AS (SELECT q_id, doc_id, s_fp,
         |  row_number() OVER (PARTITION BY q_id ORDER BY s_fp DESC, doc_id) AS rk FROM sc2)
         |SELECT q_id, CAST(rk AS BIGINT) AS rk, doc_id, round(s_fp / 1e6, 6) AS bm25
         |FROM rkd WHERE rk <= ${LQ.AnnK}
         |ORDER BY q_id, rk""".stripMargin
    },
    // F51: REAL WAV decode + framed features — the payload samples are
    // id arithmetic, so the oracle replays the WHOLE pipeline (clip
    // shape, frame split incl. the partial tail, Σs² energy, strict
    // zero crossings) in SQL without touching a byte; every feature is
    // integer-exact, so the hash compare carries no float tolerance
    "audio_frames" -> {
      val fs = graft.multimodal.Audio.FrameSize
      s"""WITH aud AS (SELECT doc_id AS media_id,
         |    CAST(512 + doc_id % 777 AS BIGINT) AS ns,
         |    8000 + (doc_id % 4) * 4000 AS sr
         |  FROM documents WHERE doc_id % 3 = 1),
         |fr AS (SELECT media_id, ns, sr,
         |    unnest(range(0, CAST(ceil(ns/$fs.0) AS BIGINT))) AS frame_idx FROM aud),
         |sm AS (SELECT media_id, ns, sr, frame_idx,
         |    unnest(range(frame_idx*$fs, least((frame_idx+1)*$fs, ns))) AS i FROM fr),
         |sv AS (SELECT media_id, ns, sr, frame_idx, i,
         |    ((media_id*31 + i*7) % 2003) - 1001 AS s FROM sm),
         |lg AS (SELECT media_id, ns, sr, frame_idx, i, s,
         |    lag(s) OVER (PARTITION BY media_id, frame_idx ORDER BY i) AS ps FROM sv),
         |ft AS (SELECT media_id, sr, ns, frame_idx,
         |    count(*) AS n, sum(s*s) AS energy_sq,
         |    sum(CASE WHEN ps IS NOT NULL AND ps * s < 0 THEN 1 ELSE 0 END) AS zero_cross
         |  FROM lg GROUP BY 1, 2, 3, 4)
         |SELECT media_id, CAST(sr AS INT) AS sample_rate, CAST(ns AS INT) AS n_samples,
         |  CAST(frame_idx AS INT) AS frame_idx, CAST(n AS INT) AS n,
         |  CAST(energy_sq AS BIGINT) AS energy_sq, CAST(zero_cross AS BIGINT) AS zero_cross
         |FROM ft ORDER BY media_id, frame_idx""".stripMargin
    },
    // F52: content-defined chunking dedup — the in-row boundary rule
    // (h60(token) % W == 0, never the last token), chunk spans, md5
    // content hashes, and the per-hash (df, first-copy-keeps) window
    // all replayed over the same token arrays
    "dedup_cdc" -> {
      val w = graft.dedup.Dedup.CdcW
      s"""WITH $TK,
         |tokp AS (SELECT doc_id, toks, len(toks) AS n FROM tk),
         |bnd AS (SELECT doc_id, toks, n,
         |  list_filter(range(1, n + 1), p -> p < n
         |    AND ('0x'||substr(md5(toks[CAST(p AS INT)]),1,15))::BIGINT % $w = 0) AS bps
         |  FROM tokp),
         |sp AS (SELECT doc_id, toks,
         |  list_prepend(CAST(1 AS BIGINT), list_transform(bps, p -> p + 1)) AS starts,
         |  list_append(bps, CAST(n AS BIGINT)) AS ends FROM bnd),
         |ch AS (SELECT doc_id, unnest(range(0, len(starts))) AS k, starts, ends, toks FROM sp),
         |ct AS (SELECT doc_id, CAST(k AS BIGINT) AS chunk_idx,
         |  CAST(ends[CAST(k+1 AS INT)] - starts[CAST(k+1 AS INT)] + 1 AS BIGINT) AS n_tokens,
         |  md5(array_to_string(
         |    toks[CAST(starts[CAST(k+1 AS INT)] AS INT):CAST(ends[CAST(k+1 AS INT)] AS INT)],
         |    ' ')) AS chunk_md5 FROM ch),
         |fin AS (SELECT doc_id, chunk_idx, n_tokens, chunk_md5,
         |  count(*) OVER (PARTITION BY chunk_md5) AS df,
         |  row_number() OVER (PARTITION BY chunk_md5 ORDER BY doc_id, chunk_idx) = 1 AS keep
         |  FROM ct)
         |SELECT doc_id, chunk_idx, n_tokens, chunk_md5, CAST(df AS BIGINT) AS df, keep
         |FROM fin ORDER BY doc_id, chunk_idx""".stripMargin
    },
    // F59: byte-level CDC dedup — the EXPECTED pairs are the planted
    // construction itself (the F20 discipline): every %15==0 doc's 4 KB
    // md5-keystream payload meets its insert variant (id + 4e7, 1-13
    // bytes spliced near the front) at ≥ 50% shared chunk bytes after
    // gear-hash resync — the unshared prefix is bounded by splice
    // position + 64-byte hash window + the first post-splice boundary,
    // far under 2 KB — while distinct keystreams share no 64-byte
    // chunk; the oracle never hashes a byte
    "dedup_cdc_bytes" ->
      """SELECT doc_id AS x, doc_id + 40000000 AS y FROM documents
        |WHERE doc_id % 15 = 0 ORDER BY 1, 2""".stripMargin,
    // G25: the byte-CDC ingest gate — variants (id+4e7) share ≥ tau of
    // their stored original's chunk bytes after gear-hash resync →
    // refused; novel keystreams (id+8e7) share nothing → admitted;
    // the oracle never hashes a byte (the F59 discipline)
    "stream_cdc_gate" ->
      """SELECT media_id, keep FROM (
        |  SELECT doc_id + 40000000 AS media_id, CAST(0 AS BIGINT) AS keep
        |  FROM documents WHERE doc_id % 15 = 0
        |  UNION ALL
        |  SELECT doc_id + 80000000, CAST(1 AS BIGINT)
        |  FROM documents WHERE doc_id % 15 = 0)
        |ORDER BY 1""".stripMargin,
    // F53: DSIR importance scoring — hashed-unigram target/raw
    // distributions with add-one smoothing, the per-bucket log-ratio
    // snapped to a 1e-6 fixed-point BIGINT so each document's sum is
    // integer-exact; target = the F18 'val' split bucket range
    "corpus_dsir" -> DsirOracleSql,
    // G18: the frozen-artifact ingest gate — output ≡ F53 by
    // construction (one shared delta-table build; in-row fold vs
    // join+groupBy is a plan difference, not a semantics one), so the
    // same oracle cross-checks the map-literal scoring path
    "stream_dsir_gate" -> DsirOracleSql,
    // F17: tokenizer-corpus vocabulary stats — tf/df per token, top-N
    // by tf with token tie-break (deterministic cutoff)
    "corpus_vocab" ->
      s"""WITH $TK,
         |tok AS (SELECT doc_id, unnest(toks) AS token FROM tk)
         |SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS df
         |FROM tok GROUP BY 1
         |ORDER BY tf DESC, token LIMIT ${graft.ops.LlmQueries.VocabTopN}""".stripMargin,
    // F21: BPE merge table — the rendered per-iteration CTE chain
    // replays the same greedy merges (see BpeOracleSql)
    "corpus_bpe_merges" -> BpeOracleSql,
    // F21s: the same greedy chain replayed over the SAMPLED word table
    // (salted-hash keep rule rendered as SQL — the sampled sub-corpus
    // is itself deterministic, so both engines train on identical rows)
    "corpus_bpe_sampled" -> bpeMergesOracleSql(BpeSampleSrc),
    // F21c: the same regenerated merges applied per document; G10's
    // batch twin runs the identical projection, so the oracle is shared
    "corpus_bpe_apply" -> BpeApplyOracleSql,
    "stream_tokenize" -> BpeApplyOracleSql,
    // G11: in-flight keyword tagging — the frozen artifact (top-V
    // vocab df + corpus N) is replayed as CTEs, per-doc tf joins it
    // LEFT (OOV → df 0, the idf ceiling), same round(,6)-desc-token
    // rank and Eps'd projection as F30
    "stream_keywords" -> {
      import graft.ops.{LlmQueries => LQ}
      s"""WITH $TK,
         |tok AS (SELECT doc_id, unnest(toks) AS token FROM tk),
         |voc AS (SELECT token, count(*) AS tfc, count(DISTINCT doc_id) AS df
         |  FROM tok GROUP BY 1 ORDER BY tfc DESC, token LIMIT ${LQ.VocabTopN}),
         |nn AS (SELECT count(*) AS n FROM documents),
         |tfd AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2),
         |sc AS (SELECT t.doc_id, t.token, t.tf,
         |  t.tf * ln((nn.n + 1)*1.0/(coalesce(v.df, 0) + 1)) AS s
         |  FROM tfd t LEFT JOIN voc v USING (token) CROSS JOIN nn),
         |rkd AS (SELECT doc_id, token, tf, s,
         |  row_number() OVER (PARTITION BY doc_id ORDER BY round(s, 6) DESC, token) AS rk
         |  FROM sc)
         |SELECT doc_id, CAST(rk AS BIGINT) AS rk, token, tf,
         |  round(s - 1e-9, 4) + 0.0 AS tfidf
         |FROM rkd WHERE rk <= ${LQ.KeywordsTopK}
         |ORDER BY doc_id, rk""".stripMargin
    },
    // F18: hash-stable split — same h60(doc_id) % denom arithmetic as
    // graft.ops.Sampling.split, CASE rendered from the same weights
    "corpus_split" -> {
      val ws = graft.ops.LlmQueries.SplitWeights
      val denom = ws.map(_._2).sum
      val uppers = ws.scanLeft(0) { case (a, (_, w)) => a + w }.tail
      val cases = ws.zip(uppers).init
        .map { case ((n, _), u) => s"WHEN bucket < $u THEN '$n'" }.mkString(" ")
      s"""SELECT doc_id, bucket, CASE $cases ELSE '${ws.last._1}' END AS split FROM (
         |  SELECT doc_id,
         |    ('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15))::BIGINT % $denom AS bucket
         |  FROM documents) b ORDER BY doc_id""".stripMargin
    },
    // F39: epoch-salted hash-bucketed training order — the same h60
    // salt arithmetic, bucket = h % B, pos = rank by (h, doc_id)
    // within bucket
    "corpus_epoch_order" -> {
      import graft.ops.{LlmQueries => LQ}
      s"""SELECT doc_id, bucket,
         |  row_number() OVER (PARTITION BY bucket ORDER BY h, doc_id) AS pos
         |FROM (SELECT doc_id,
         |    ('0x'||substr(md5(CAST(doc_id AS VARCHAR) || '#epoch${LQ.EpochN}'),1,15))::BIGINT AS h,
         |    ('0x'||substr(md5(CAST(doc_id AS VARCHAR) || '#epoch${LQ.EpochN}'),1,15))::BIGINT % ${LQ.EpochBuckets} AS bucket
         |  FROM documents) b
         |ORDER BY bucket, pos""".stripMargin
    },
    // F24: stratified mixture sampling — same salted-h60 basis-point
    // arithmetic as graft.ops.Sampling.sampleByStratum; the rate CASE
    // is rendered from the same Seq, unlisted langs take the default
    // F35: token budgets → basis-point keep rates, all-integer
    // (DuckDB `//` floor-div replays Spark's explicit floor)
    // F56: the chunking law replayed — K = 1 for n<=32 else
    // 1 + ceil((n-32)/24) via //, window k = positions [24k, 24k+len),
    // md5 over the space-joined slice as the byte-level witness
    "corpus_window_chunks" ->
      s"""WITH $TK,
         |nn AS (SELECT doc_id, toks, len(toks) AS n FROM tk),
         |kk AS (SELECT doc_id, toks, n,
         |  CASE WHEN n <= 32 THEN 1 ELSE 1 + (n - 32 + 23) // 24 END AS nk FROM nn),
         |w AS (SELECT doc_id, toks, n, unnest(range(nk)) AS k FROM kk)
         |SELECT doc_id, CAST(k AS BIGINT) AS k,
         | CAST(k * 24 AS BIGINT) AS start,
         | CAST(least(32, n - k * 24) AS BIGINT) AS len,
         | md5(array_to_string(
         |   list_slice(toks, k*24 + 1, k*24 + least(32, n - k*24)), ' ')) AS chunk_md5
         |FROM w ORDER BY 1, 2""".stripMargin,
    // F55: the temperature plan law replayed — sqrt (correctly-rounded
    // in both engines) snapped to 1e-6 fixed point BEFORE the
    // normalizer sum (integer, order-free), then pure // arithmetic
    "corpus_mix_temperature" ->
      """WITH c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1),
        |sq AS (SELECT lang, n_docs,
        |  CAST(round(sqrt(CAST(n_docs AS DOUBLE)) * 1e6, 0) AS BIGINT) AS sq_fp FROM c),
        |tot AS (SELECT sum(sq_fp) AS s_fp FROM sq)
        |SELECT lang, n_docs, sq_fp,
        | CAST((3000 * sq_fp) // s_fp AS BIGINT) AS picks,
        | CAST(least(10000, (10000 * ((3000 * sq_fp) // s_fp)) // n_docs) AS BIGINT) AS rate_bp
        |FROM sq CROSS JOIN tot ORDER BY 1""".stripMargin,
    // F55b: plan → broadcast join → the F24 salted keep rule, with a
    // planless stratum dropping at rate 0
    "corpus_mix_temperature_apply" ->
      """WITH c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1),
        |sq AS (SELECT lang, n_docs,
        |  CAST(round(sqrt(CAST(n_docs AS DOUBLE)) * 1e6, 0) AS BIGINT) AS sq_fp FROM c),
        |tot AS (SELECT sum(sq_fp) AS s_fp FROM sq),
        |plan AS (SELECT lang,
        |  CAST(least(10000, (10000 * ((3000 * sq_fp) // s_fp)) // n_docs) AS BIGINT) AS rate_bp
        | FROM sq CROSS JOIN tot)
        |SELECT d.doc_id, d.lang,
        | ('0x'||substr(md5(CAST(d.doc_id AS VARCHAR)||'#sample'),1,15))::BIGINT % 10000 AS bucket,
        | coalesce(p.rate_bp, 0) AS rate_bp,
        | CASE WHEN ('0x'||substr(md5(CAST(d.doc_id AS VARCHAR)||'#sample'),1,15))::BIGINT % 10000
        |        < coalesce(p.rate_bp, 0)
        |      THEN 1::BIGINT ELSE 0::BIGINT END AS keep
        |FROM documents d LEFT JOIN plan p USING (lang) ORDER BY d.doc_id""".stripMargin,
    "corpus_mix_plan" -> {
      import graft.ops.{LlmQueries => LQ}
      val caseSql = LQ.MixTargets.map { case (l, t) => s"WHEN '$l' THEN $t" }.mkString(" ")
      s"""WITH $TK,
         |avail AS (SELECT d.lang, CAST(sum(len(t.toks)) AS BIGINT) AS available
         |  FROM tk t JOIN documents d USING (doc_id) GROUP BY 1),
         |pl AS (SELECT lang, available,
         |  CAST(CASE lang $caseSql ELSE ${LQ.MixDefaultTarget} END AS BIGINT) AS target
         |  FROM avail)
         |SELECT lang, available, target,
         | CAST(least(10000, target * 10000 // available) AS BIGINT) AS rate_bp,
         | CAST(available * least(10000, target * 10000 // available) // 10000 AS BIGINT) AS expected
         |FROM pl ORDER BY lang""".stripMargin
    },
    // F35b: the full plan-then-apply loop — planned rates drive the
    // salted F24 keep rule, kept mass reported per stratum (an
    // excluded stratum vanishes from the report in both engines)
    "corpus_mix_apply" -> {
      import graft.ops.{LlmQueries => LQ}
      val caseSql = LQ.MixTargets.map { case (l, t) => s"WHEN '$l' THEN $t" }.mkString(" ")
      s"""WITH $TK,
         |avail AS (SELECT d.lang, CAST(sum(len(t.toks)) AS BIGINT) AS available
         |  FROM tk t JOIN documents d USING (doc_id) GROUP BY 1),
         |rt AS (SELECT lang,
         |  least(10000, CAST(CASE lang $caseSql ELSE ${LQ.MixDefaultTarget} END AS BIGINT)
         |    * 10000 // available) AS rate_bp FROM avail),
         |k AS (SELECT d.doc_id, d.lang, len(t.toks) AS ntok,
         |  ('0x'||substr(md5(CAST(d.doc_id AS VARCHAR)||'#sample'),1,15))::BIGINT % 10000 AS bucket
         |  FROM tk t JOIN documents d USING (doc_id))
         |SELECT k.lang, CAST(count(*) AS BIGINT) AS n_docs,
         | CAST(sum(k.ntok) AS BIGINT) AS kept_tokens
         |FROM k JOIN rt ON k.lang = rt.lang
         |WHERE k.bucket < rt.rate_bp
         |GROUP BY 1 ORDER BY 1""".stripMargin
    },
    // G13: the frozen mixture plan as per-document ingest verdicts —
    // the F35 rate derivation (rt) + the F24 salted keep rule, one row
    // per document; a lang absent from the plan cannot occur (the plan
    // covers every lang in the corpus by construction)
    "stream_mix_gate" -> {
      import graft.ops.{LlmQueries => LQ}
      val caseSql = LQ.MixTargets.map { case (l, t) => s"WHEN '$l' THEN $t" }.mkString(" ")
      s"""WITH $TK,
         |avail AS (SELECT d.lang, CAST(sum(len(t.toks)) AS BIGINT) AS available
         |  FROM tk t JOIN documents d USING (doc_id) GROUP BY 1),
         |rt AS (SELECT lang,
         |  least(10000, CAST(CASE lang $caseSql ELSE ${LQ.MixDefaultTarget} END AS BIGINT)
         |    * 10000 // available) AS rate_bp FROM avail)
         |SELECT d.doc_id, d.lang,
         | ('0x'||substr(md5(CAST(d.doc_id AS VARCHAR)||'#sample'),1,15))::BIGINT % 10000 AS bucket,
         | CAST(rt.rate_bp AS BIGINT) AS rate_bp,
         | CASE WHEN ('0x'||substr(md5(CAST(d.doc_id AS VARCHAR)||'#sample'),1,15))::BIGINT % 10000
         |        < rt.rate_bp THEN 1::BIGINT ELSE 0::BIGINT END AS keep
         |FROM documents d JOIN rt ON d.lang = rt.lang
         |ORDER BY d.doc_id""".stripMargin
    },
    "corpus_sample" -> {
      val cases = graft.ops.LlmQueries.SampleRatesBp
        .map { case (n, bp) => s"WHEN lang = '$n' THEN $bp" }.mkString(" ")
      s"""SELECT doc_id, lang, bucket, rate_bp,
         | CASE WHEN bucket < rate_bp THEN 1::BIGINT ELSE 0::BIGINT END AS keep
         |FROM (
         |  SELECT doc_id, lang,
         |    ('0x'||substr(md5(CAST(doc_id AS VARCHAR)||'#sample'),1,15))::BIGINT % 10000 AS bucket,
         |    CAST(CASE $cases ELSE ${graft.ops.LlmQueries.SampleDefaultBp} END AS BIGINT) AS rate_bp
         |  FROM documents) b ORDER BY doc_id""".stripMargin
    },
    // F47: the F24 hash/CASE sampler with each doc's rate integer-
    // divided by its recursive-closure cluster size (DuckDB // ≡ Spark
    // div on positive operands)
    "corpus_sample_weighted" -> {
      val cases = graft.ops.LlmQueries.SampleRatesBp
        .map { case (n, bp) => s"WHEN lang = '$n' THEN $bp" }.mkString(" ")
      s"""WITH RECURSIVE $TK, $SHD,
         |$JaccardCappedCtes,
         |prs AS (SELECT x, y
         |  FROM inter JOIN sizes sa ON sa.doc_id=x JOIN sizes sb ON sb.doc_id=y
         |  WHERE i*1.0/(sa.n+sb.n-i) >= 0.8),
         |edges AS (SELECT x AS u, y AS v FROM prs
         |  UNION ALL SELECT y AS u, x AS v FROM prs),
         |reach(u, lbl) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.u, r.lbl FROM edges e JOIN reach r ON r.u = e.v),
         |lab AS (SELECT u, min(lbl) AS cluster_id FROM reach GROUP BY u),
         |sz AS (SELECT lab.u AS doc_id, CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS size FROM lab),
         |smp AS (SELECT doc_id, lang,
         |    ('0x'||substr(md5(CAST(doc_id AS VARCHAR)||'#sample'),1,15))::BIGINT % 10000 AS bucket,
         |    CAST(CASE $cases ELSE ${graft.ops.LlmQueries.SampleDefaultBp} END AS BIGINT) AS rate_bp
         |  FROM documents)
         |SELECT s.doc_id, s.lang, s.bucket, s.rate_bp, z.size,
         | s.rate_bp // z.size AS eff_bp,
         | CASE WHEN s.bucket < s.rate_bp // z.size THEN 1::BIGINT ELSE 0::BIGINT END AS keep
         |FROM smp s JOIN sz z ON s.doc_id = z.doc_id
         |ORDER BY s.doc_id""".stripMargin
    },
    "text_langid" ->
      s"""WITH $TK,
         |tok AS (SELECT doc_id, unnest(toks) AS tok FROM tk),
         |dict(lang_cand, word) AS (VALUES $StopwordValues),
         |hits AS (SELECT doc_id, lang_cand, count(*) AS hits FROM tok
         |  JOIN dict ON tok = word GROUP BY 1,2),
         |best AS (SELECT doc_id, lang_cand, hits,
         |  row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, lang_cand) AS rk FROM hits)
         |SELECT d.doc_id, coalesce(b.lang_cand, 'unknown') AS pred_lang,
         | coalesce(b.hits, 0::BIGINT) AS hits
         |FROM documents d LEFT JOIN (SELECT * FROM best WHERE rk = 1) b ON d.doc_id = b.doc_id
         |ORDER BY 1""".stripMargin,
    "text_quality" ->
      s"""WITH $TK
         |SELECT doc_id,
         | CAST(len(toks) AS BIGINT) AS n_tokens,
         | round(1.0 - len(list_distinct(toks))*1.0/len(toks) - 1e-9, 4) + 0.0 AS dup_ratio,
         | round(len(list_filter(toks, x -> x IN ($EnStopwordList)))*1.0/len(toks) - 1e-9, 4) + 0.0 AS stopword_ratio,
         | ${qualityScoreSql(EnStopwordList)} AS score
         |FROM tk ORDER BY 1""".stripMargin,
    // F29: exact global quality deciles — DuckDB's one global
    // row_number IS the semantics; the Spark plan reaches the same
    // rank via the bounded per-score prefix sum (no global sort task)
    "corpus_quality_buckets" ->
      s"""WITH $TK,
         |q AS (SELECT doc_id,
         |  CAST(round((${qualityScoreSql(EnStopwordList)}) * 10000, 0) AS BIGINT) AS score_fp,
         |  ('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15))::BIGINT AS h
         |  FROM tk),
         |r AS (SELECT doc_id, score_fp,
         |  row_number() OVER (ORDER BY score_fp, h, doc_id) AS rk,
         |  count(*) OVER () AS n FROM q)
         |SELECT doc_id, score_fp, CAST(rk AS BIGINT) AS rank,
         |  CAST(((rk - 1) * ${graft.ops.LlmQueries.QualityBucketN}) // n AS BIGINT) AS bucket
         |FROM r ORDER BY doc_id""".stripMargin,
    // F22: PII redaction over the deterministically-planted corpus —
    // the plant construction is stated in SQL (id arithmetic, no
    // regexes needed to predict it) and the redaction patterns are the
    // LITERAL same strings the Spark plan compiles (Java∩RE2 dialect)
    "text_pii_redact" -> {
      import graft.text.{Analysis => A}
      s"""WITH p AS (SELECT doc_id, text
         | || CASE WHEN doc_id % 7 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now' ELSE '' END
         | || CASE WHEN doc_id % 11 = 0 THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.' || CAST(doc_id % 100 AS VARCHAR) || ' logged' ELSE '' END
         | || CASE WHEN doc_id % 13 = 0 THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END AS t
         | FROM documents)
         |SELECT doc_id,
         | CAST(len(regexp_extract_all(t, '${A.EmailRe}')) AS BIGINT) AS n_emails,
         | CAST(len(regexp_extract_all(t, '${A.PhoneRe}')) AS BIGINT) AS n_phones,
         | CAST(len(regexp_extract_all(t, '${A.Ipv4Re}')) AS BIGINT) AS n_ips,
         | md5(regexp_replace(regexp_replace(regexp_replace(t,
         |   '${A.EmailRe}', '<EMAIL>', 'g'), '${A.PhoneRe}', '<PHONE>', 'g'),
         |   '${A.Ipv4Re}', '<IP>', 'g')) AS redacted_md5
         |FROM p ORDER BY doc_id""".stripMargin
    },
    // F23: unigram-LM scoring — add-one-smoothed logprob over the F17
    // top-V vocabulary; the per-doc mean is the FIXED-POINT contract
    // (1e-6-grid integer sum, order-independent — the Lloyd pattern)
    "text_lm_score" -> {
      val v = graft.ops.LlmQueries.VocabTopN
      s"""WITH $TK,
         |tok AS (SELECT doc_id, unnest(toks) AS token FROM tk),
         |voc AS (SELECT token, count(*) AS tf FROM tok GROUP BY 1
         |  ORDER BY tf DESC, token LIMIT $v),
         |tot AS (SELECT count(*) AS n_total FROM tok)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         | round(sum(CASE WHEN v.tf IS NULL THEN 1 ELSE 0 END)*1.0/count(*) - 1e-9, 4) + 0.0 AS oov_ratio,
         | round(CAST(sum(CAST(round(ln((coalesce(v.tf,0)+1)*1.0/(t.n_total + $v + 1)) * 1000000.0) AS BIGINT)) AS DOUBLE)
         |   / (count(*) * 1000000.0) - 1e-9, 4) + 0.0 AS logprob
         |FROM tok LEFT JOIN voc v USING (token) CROSS JOIN tot t
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },
    // F23b: add-one bigram LM — OOV→chr(1) UNK collapse BEFORE
    // counting, history counts derived from the bounded bigram-count
    // table, the same 1e-6 fixed-point mean as F23; docs with < 2
    // tokens carry no transition and drop from both engines
    "text_lm_bigram" -> {
      val v = graft.ops.LlmQueries.VocabTopN
      s"""WITH $TK,
         |tok AS (SELECT doc_id, unnest(toks) AS token,
         |  generate_subscripts(toks,1) AS pos FROM tk),
         |voc AS (SELECT token, count(*) AS tf FROM tok GROUP BY 1
         |  ORDER BY tf DESC, token LIMIT $v),
         |mp AS (SELECT t.doc_id, t.pos,
         |  CASE WHEN v.token IS NULL THEN chr(1) ELSE t.token END AS w1
         |  FROM tok t LEFT JOIN voc v USING (token)),
         |bi AS (SELECT doc_id, w1, w2 FROM (
         |  SELECT doc_id, w1, lead(w1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
         |  FROM mp) x WHERE w2 IS NOT NULL),
         |cbi AS (SELECT w1, w2, count(*) AS cb FROM bi GROUP BY 1, 2),
         |ch AS (SELECT w1, CAST(sum(cb) AS BIGINT) AS ch FROM cbi GROUP BY 1)
         |SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         | round(CAST(sum(CAST(round(ln((c.cb+1)*1.0/(h.ch + $v + 1)) * 1000000.0) AS BIGINT)) AS DOUBLE)
         |   / (count(*) * 1000000.0) - 1e-9, 4) + 0.0 AS logprob_bi
         |FROM bi b JOIN cbi c USING (w1, w2) JOIN ch h USING (w1)
         |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin
    },
    // F30: per-doc TF-IDF top-k keywords — add-one idf over the
    // (doc, token) count table, rank on the round(,6) grid with token
    // tie-break; an everywhere-token scores exactly 0
    "text_keywords" -> {
      val k = graft.ops.LlmQueries.KeywordsTopK
      s"""WITH $TK,
         |tok AS (SELECT doc_id, unnest(toks) AS token FROM tk),
         |tfd AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2),
         |dfs AS (SELECT token, count(*) AS df FROM tfd GROUP BY 1),
         |nn AS (SELECT count(*) AS n FROM documents),
         |sc AS (SELECT t.doc_id, t.token, t.tf,
         |  t.tf * ln((nn.n + 1)*1.0/(d.df + 1)) AS s
         |  FROM tfd t JOIN dfs d USING (token) CROSS JOIN nn),
         |rkd AS (SELECT doc_id, token, tf, s,
         |  row_number() OVER (PARTITION BY doc_id ORDER BY round(s, 6) DESC, token) AS rk
         |  FROM sc)
         |SELECT doc_id, CAST(rk AS BIGINT) AS rk, token, tf,
         |  round(s - 1e-9, 4) + 0.0 AS tfidf
         |FROM rkd WHERE rk <= $k
         |ORDER BY doc_id, rk""".stripMargin
    },
    // F31: line-level boilerplate removal — the planted multi-line
    // fixture (12-token chunks + id-arithmetic nav/footer lines) built
    // identically in both engines, then the published keep rule (≥4
    // tokens AND ≥1 English stopword) and the cleaned-text md5 witness
    "text_boilerplate" -> {
      import graft.text.{Analysis => A}
      val lt = A.BoilerLineTokens
      s"""WITH $TK,
         |ln AS (SELECT doc_id, toks, CAST(ceil(len(toks)/$lt.0) AS INT) AS nl FROM tk),
         |chunks AS (SELECT doc_id,
         |  list_transform(range(0, nl), i -> array_to_string(toks[(i*$lt+1):(i*$lt+$lt)], ' ')) AS ch
         |  FROM ln),
         |p1 AS (SELECT doc_id, CASE WHEN doc_id % 2 = 0
         |  THEN list_prepend('${A.BoilerNavLine}', ch) ELSE ch END AS c2 FROM chunks),
         |p2 AS (SELECT doc_id, CASE WHEN doc_id % 3 = 0
         |  THEN list_append(c2, '${A.BoilerFooterLine}') ELSE c2 END AS lines FROM p1),
         |strip AS (SELECT doc_id, lines,
         |  list_filter(lines, l -> len(string_split(l, ' ')) >= 4
         |    AND list_has_any(string_split(l, ' '), [$EnStopwordList])) AS kept
         |  FROM p2)
         |SELECT doc_id, CAST(len(lines) AS BIGINT) AS n_lines,
         | CAST(len(kept) AS BIGINT) AS n_kept,
         | md5(coalesce(array_to_string(kept, chr(10)), '')) AS clean_md5
         |FROM strip ORDER BY doc_id""".stripMargin
    },
    // F38: global line dedup — the same planted multi-line fixture,
    // lines h60-hashed, per-line (df, min-doc) over per-doc-distinct
    // rows, cut everywhere but the min doc, md5 witness ordered by
    // position (the F16x oracle pattern one level up)
    // F57: novelty = share of a doc's distinct 3-gram shingles with
    // corpus df 1, in integer basis points; unshingleable docs read -1
    "text_novelty" ->
      s"""WITH $TK,
         |$SHD,
         |df AS (SELECT shingle, count(*) AS df FROM shd GROUP BY 1),
         |per AS (SELECT s.doc_id,
         |  count(*) AS n_shingles,
         |  sum(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS n_novel
         | FROM shd s JOIN df USING (shingle) GROUP BY 1)
         |SELECT d.doc_id,
         | CAST(coalesce(n_shingles, 0) AS BIGINT) AS n_shingles,
         | CAST(coalesce(n_novel, 0) AS BIGINT) AS n_novel,
         | CAST(coalesce((10000 * n_novel) // n_shingles, -1) AS BIGINT) AS novelty_bp
         |FROM documents d LEFT JOIN per USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,
    "text_line_dedup" -> {
      import graft.text.{Analysis => A}
      val lt = A.BoilerLineTokens
      s"""WITH $TK,
         |ln AS (SELECT doc_id, toks, CAST(ceil(len(toks)/$lt.0) AS INT) AS nl FROM tk),
         |chunks AS (SELECT doc_id,
         |  list_transform(range(0, nl), i -> array_to_string(toks[(i*$lt+1):(i*$lt+$lt)], ' ')) AS ch
         |  FROM ln),
         |p1 AS (SELECT doc_id, CASE WHEN doc_id % 2 = 0
         |  THEN list_prepend('${A.BoilerNavLine}', ch) ELSE ch END AS c2 FROM chunks),
         |p2 AS (SELECT doc_id, CASE WHEN doc_id % 3 = 0
         |  THEN list_append(c2, '${A.BoilerFooterLine}') ELSE c2 END AS lines FROM p1),
         |lx AS (SELECT doc_id, unnest(lines) AS line,
         |  generate_subscripts(lines, 1) AS p FROM p2),
         |hx AS (SELECT doc_id, p, line,
         |  ('0x'||substr(md5(line),1,15))::BIGINT AS g FROM lx),
         |dup AS (SELECT g, min(doc_id) AS dmin
         |  FROM (SELECT DISTINCT doc_id, g FROM hx)
         |  GROUP BY 1 HAVING count(*) >= 2),
         |k AS (SELECT h.doc_id, h.p, h.line,
         |  CASE WHEN d.g IS NOT NULL AND h.doc_id > d.dmin THEN 1 ELSE 0 END AS cut
         |  FROM hx h LEFT JOIN dup d ON h.g = d.g)
         |SELECT doc_id, count(*) AS n_lines, CAST(sum(cut) AS BIGINT) AS n_cut,
         | md5(coalesce(string_agg(CASE WHEN cut = 0 THEN line END, chr(10) ORDER BY p), ''))
         |   AS clean_md5
         |FROM k GROUP BY 1 ORDER BY 1""".stripMargin
    },
    // F32: per-domain URL statistics — planting replayed in SQL, the
    // same Java∩RE2 pattern extracts, hosts aggregate per domain
    "text_domains" -> {
      import graft.text.{Analysis => A}
      s"""WITH planted AS (SELECT doc_id, text ||
         |  CASE WHEN doc_id % 5 = 0
         |    THEN ' visit https://news' || (doc_id % 7) || '.example.com/p' || doc_id
         |    ELSE '' END ||
         |  CASE WHEN doc_id % 9 = 0
         |    THEN ' see http://blog' || (doc_id % 4) || '.test.org/x'
         |    ELSE '' END AS text FROM documents),
         |u AS (SELECT doc_id, unnest(regexp_extract_all(text, '${A.UrlRe}')) AS url
         |  FROM planted)
         |SELECT regexp_replace(url, '^https?://', '') AS domain,
         | count(DISTINCT doc_id) AS n_docs, count(*) AS n_urls
         |FROM u GROUP BY 1 ORDER BY 1""".stripMargin
    },
    // F33: Gopher rule bundle — every signal recomputed in SQL, rule
    // boundaries tested on the round(,6) grid, symbol_ratio's -0.0
    // normalized
    "text_gopher_rules" -> {
      import graft.text.{Analysis => A}
      s"""WITH $TK,
         |s AS (SELECT doc_id, text, len(toks) AS n,
         |  list_sum(list_transform(toks, x -> length(x)))*1.0/len(toks) AS mwl,
         |  len(list_filter(toks, x -> regexp_matches(x, '^[a-z]+$$')))*1.0/len(toks) AS alpha,
         |  len(list_filter(toks, x -> x IN ($EnStopwordList))) AS stopc,
         |  (length(text) - length(regexp_replace(text, '[#|]', '', 'g')))*1.0/length(text) AS symr
         | FROM tk)
         |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
         | round(mwl - 1e-9, 4) AS mean_wlen,
         | round(alpha - 1e-9, 4) AS alpha_ratio,
         | CAST(stopc AS BIGINT) AS stop_count,
         | round(symr - 1e-9, 4) + 0.0 AS symbol_ratio,
         | CASE WHEN n BETWEEN ${A.GopherMinTokens} AND ${A.GopherMaxTokens}
         |   AND round(mwl, 6) BETWEEN ${A.GopherMinMeanWlen} AND ${A.GopherMaxMeanWlen}
         |   AND round(alpha, 6) >= ${A.GopherMinAlphaRatio}
         |   AND stopc >= ${A.GopherMinStopwords}
         |   AND round(symr, 6) <= ${A.GopherMaxSymbolRatio}
         | THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS keep
         |FROM s ORDER BY doc_id""".stripMargin
    },
    // F34: unigram token entropy — H = ln n − (Σ tf·ln tf)/n with the
    // tf·ln tf terms on the 1e-6 grid so the sum is integer-exact
    "text_entropy" ->
      s"""WITH $TK,
         |tok AS (SELECT doc_id, unnest(toks) AS token FROM tk),
         |tfd AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2)
         |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS n_distinct,
         | round(ln(CAST(sum(tf) AS DOUBLE)) -
         |   sum(CAST(round(tf * ln(CAST(tf AS DOUBLE)) * 1000000.0) AS BIGINT))*1.0
         |     / (CAST(sum(tf) AS DOUBLE) * 1000000.0) - 1e-9, 4) AS entropy
         |FROM tfd GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin,
    // F42: hashed-unigram logistic classifier, trained weights — the
    // full GD unroll replayed on the shared fixed-point grids; `+ 0.0`
    // normalizes never-touched buckets' -0.0
    "quality_classifier_train" -> {
      val it = graft.text.Classifier.Iters
      s"""WITH $ClassifierCtes
         |SELECT b AS bucket, round(w - 1e-9, 6) + 0.0 AS weight FROM (
         |  SELECT CAST(-1 AS BIGINT) AS b, bias AS w FROM c$it
         |  UNION ALL SELECT b, w FROM w$it) u
         |ORDER BY bucket""".stripMargin
    },
    // F42: frozen-weight scoring — one more z pass under the final
    // w/c tables, fast-sigmoid prob on the 4-dp grid
    "quality_classifier_score" -> {
      val it = graft.text.Classifier.Iters
      s"""WITH $ClassifierCtes,
         |zf AS (SELECT t.doc_id, any_value(t.y) AS y,
         |  (SELECT bias FROM c$it) + CAST(sum(CAST(round((w.w/t.n)*1000000000000.0) AS BIGINT)) AS DOUBLE)/1000000000000.0 AS z
         |  FROM tok t JOIN w$it w USING (b) GROUP BY t.doc_id)
         |SELECT doc_id, CAST(y AS BIGINT) AS label,
         |  round((0.5 + z/(2.0*(1.0+abs(z)))) - 1e-9, 4) + 0.0 AS prob,
         |  CASE WHEN (0.5 + z/(2.0*(1.0+abs(z)))) >= 0.5
         |    THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS pred
         |FROM zf ORDER BY doc_id""".stripMargin
    },
    // G16: the frozen-classifier ingest gate — the same trained
    // w/c chain, label-free scoring projection (kept = σ(z) ≥ 0.5)
    "stream_cls_gate" -> {
      val it = graft.text.Classifier.Iters
      s"""WITH $ClassifierCtes,
         |zf AS (SELECT t.doc_id,
         |  (SELECT bias FROM c$it) + CAST(sum(CAST(round((w.w/t.n)*1000000000000.0) AS BIGINT)) AS DOUBLE)/1000000000000.0 AS z
         |  FROM tok t JOIN w$it w USING (b) GROUP BY t.doc_id)
         |SELECT doc_id,
         |  round((0.5 + z/(2.0*(1.0+abs(z)))) - 1e-9, 4) + 0.0 AS prob,
         |  CASE WHEN (0.5 + z/(2.0*(1.0+abs(z)))) >= 0.5
         |    THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS kept
         |FROM zf ORDER BY doc_id""".stripMargin
    },
    // F8b: duplicate n-gram fraction per doc (2- and 3-grams); the
    // lead-window shingle build mirrors SHD, `+ 0.0` normalizes
    // DuckDB's IEEE -0.0 to the +0.0 Spark's BigDecimal round emits
    "text_repetition" ->
      s"""WITH $TK,
         |s2 AS (SELECT doc_id, count(DISTINCT shingle) AS d FROM (
         |  SELECT doc_id, tok || ' ' || lead(tok,1) OVER w AS shingle
         |  FROM (SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks,1) AS pos FROM tk)
         |  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)) x
         | WHERE shingle IS NOT NULL GROUP BY 1),
         |s3 AS (SELECT doc_id, count(DISTINCT shingle) AS d FROM (
         |  SELECT doc_id, tok || ' ' || lead(tok,1) OVER w || ' ' || lead(tok,2) OVER w AS shingle
         |  FROM (SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks,1) AS pos FROM tk)
         |  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)) x
         | WHERE shingle IS NOT NULL GROUP BY 1)
         |SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
         | round(CASE WHEN greatest(len(t.toks)-1, 0) = 0 THEN 0.0
         |   ELSE 1.0 - s2.d*1.0/greatest(len(t.toks)-1, 0) END - 1e-9, 4) + 0.0 AS rep2,
         | round(CASE WHEN greatest(len(t.toks)-2, 0) = 0 THEN 0.0
         |   ELSE 1.0 - s3.d*1.0/greatest(len(t.toks)-2, 0) END - 1e-9, 4) + 0.0 AS rep3
         |FROM tk t LEFT JOIN s2 ON t.doc_id = s2.doc_id LEFT JOIN s3 ON t.doc_id = s3.doc_id
         |ORDER BY 1""".stripMargin,
    // F27: token-budget packing — the oracle replays the bucketed
    // two-pass prefix sum as ONE global running total over the same
    // (h, doc_id) order (the bucket decomposition is exact: buckets
    // are contiguous ranges of that order)
    "corpus_pack" -> {
      val budget = graft.ops.LlmQueries.PackBudget
      s"""WITH t AS (SELECT doc_id,
         |  ('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15))::BIGINT AS h,
         |  CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens FROM documents),
         |c AS (SELECT doc_id, n_tokens,
         |  CAST(sum(n_tokens) OVER (ORDER BY h, doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
         |  FROM t)
         |SELECT doc_id, n_tokens, cum,
         |  CAST((cum - n_tokens) // $budget AS BIGINT) AS shard
         |FROM c ORDER BY doc_id""".stripMargin
    },
    // F26: per-(source, lang) report — same per-doc score/md5 signals,
    // dup attributed to the slice the duplicate doc lives in; mean
    // score via the fixed-point 1e-6 integer sum (order-independent)
    "corpus_report" ->
      s"""WITH sig AS (SELECT doc_id, source, lang,
         |  CAST(len(toks) AS BIGINT) AS n_tokens,
         |  ${qualityScoreSql(EnStopwordList)} AS score,
         |  md5(text) AS content_md5
         |  FROM (SELECT *, string_split(lower(text), ' ') AS toks FROM documents) d),
         |k AS (SELECT content_md5, min(doc_id) AS keep_id FROM sig GROUP BY 1)
         |SELECT source, lang, count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |  round(CAST(sum(CAST(round(score * 1000000.0) AS BIGINT)) AS DOUBLE)
         |    / (count(*) * 1000000.0) - 1e-9, 4) AS mean_score,
         |  CAST(sum(CASE WHEN sig.doc_id <> k.keep_id THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dups
         |FROM sig JOIN k USING (content_md5)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // G8 batch twin: the per-document quality + language gates with
    // F14's thresholds, reason = first failing stage — the same
    // score/argmax arithmetic as text_quality / text_langid
    "stream_quality_gate" -> {
      import graft.ops.{LlmQueries => LQ}
      s"""WITH $TK,
         |tok AS (SELECT doc_id, unnest(toks) AS tok FROM tk),
         |dict(lang_cand, word) AS (VALUES $StopwordValues),
         |hits AS (SELECT doc_id, lang_cand, count(*) AS hits FROM tok
         |  JOIN dict ON tok = word GROUP BY 1,2),
         |best AS (SELECT doc_id, lang_cand, hits,
         |  row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, lang_cand) AS rk FROM hits),
         |q AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
         |  ${qualityScoreSql(EnStopwordList)} AS score FROM tk),
         |g AS (SELECT q.doc_id, q.n_tokens, q.score,
         |  coalesce(b.lang_cand, 'unknown') AS pred_lang
         |  FROM q LEFT JOIN (SELECT * FROM best WHERE rk = 1) b USING (doc_id))
         |SELECT doc_id, n_tokens, score, pred_lang,
         | CASE WHEN reason = 'kept' THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS kept,
         | reason
         |FROM (SELECT *, CASE
         |   WHEN NOT coalesce(score >= ${LQ.CurationMinScore}
         |     AND n_tokens >= ${LQ.CurationMinTokens}, false) THEN 'quality'
         |   WHEN NOT coalesce(pred_lang = '${LQ.CurationLang}', false) THEN 'language'
         |   ELSE 'kept' END AS reason FROM g) t
         |ORDER BY doc_id""".stripMargin
    },
    // staged curation: quality → language → exact dedup → simhash
    // near-dedup; each stage sees only the previous stage's survivors,
    // reason = first failing stage (mirrors graft.ops.Curation)
    "corpus_curation" ->
      s"""WITH $CurationStageCtes
         |SELECT doc_id,
         | CASE WHEN reason = 'kept' THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS kept,
         | reason
         |FROM cres
         |ORDER BY doc_id""".stripMargin,
    // F14b: the same staged pipeline + the stage-5 decontamination
    // gate: survivors sharing >= DecontamMinHits distinct 5-gram
    // shingles with the eval sample (df cap computed over the SURVIVOR
    // corpus — the semantics of running F15 on the curated set) flip
    // to (0, 'contaminated')
    "corpus_curation_decontam" -> {
      import graft.ops.{LlmQueries => LQ}
      s"""WITH $CurationStageCtes,
         |ktk AS (SELECT b.doc_id, string_split(lower(b.text), ' ') AS toks
         |  FROM base b JOIN cres r USING (doc_id) WHERE r.reason = 'kept'),
         |k5 AS (SELECT DISTINCT doc_id, shingle FROM (
         |  SELECT doc_id, tok || ' ' || lead(tok,1) OVER w || ' ' || lead(tok,2) OVER w
         |    || ' ' || lead(tok,3) OVER w || ' ' || lead(tok,4) OVER w AS shingle
         |  FROM (SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks,1) AS pos FROM ktk)
         |  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)) s
         | WHERE shingle IS NOT NULL),
         |e5 AS (SELECT DISTINCT doc_id AS eval_id, shingle FROM (
         |  SELECT doc_id, tok || ' ' || lead(tok,1) OVER w || ' ' || lead(tok,2) OVER w
         |    || ' ' || lead(tok,3) OVER w || ' ' || lead(tok,4) OVER w AS shingle
         |  FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok,
         |        generate_subscripts(string_split(lower(text), ' '),1) AS pos
         |        FROM documents WHERE doc_id % ${LQ.DecontamEvalMod} = 0)
         |  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)) s
         | WHERE shingle IS NOT NULL),
         |khit AS (SELECT k5.doc_id, k5.shingle FROM k5
         |  JOIN (SELECT DISTINCT shingle FROM e5) ev USING (shingle)),
         |krare AS (SELECT shingle FROM (
         |  SELECT shingle, count(*) AS df FROM khit GROUP BY 1)
         |  WHERE df <= ${LQ.DecontamMaxDf}),
         |cont AS (SELECT DISTINCT doc_id FROM (
         |  SELECT h.doc_id, e.eval_id FROM khit h JOIN krare USING (shingle)
         |    JOIN e5 e USING (shingle)
         |  GROUP BY 1, 2 HAVING count(*) >= ${LQ.DecontamMinHits}))
         |SELECT doc_id,
         | CASE WHEN fr = 'kept' THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS kept,
         | fr AS reason
         |FROM (SELECT r.doc_id,
         |  CASE WHEN r.reason = 'kept' AND c.doc_id IS NOT NULL
         |       THEN 'contaminated' ELSE r.reason END AS fr
         |  FROM cres r LEFT JOIN cont c USING (doc_id))
         |ORDER BY doc_id""".stripMargin
    },
    "text_tokens" ->
      """SELECT doc_id,
        | CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS ws_tokens,
        | CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS BIGINT) AS re_tokens
        |FROM documents ORDER BY 1""".stripMargin,
    "text_fingerprint" ->
      s"""WITH $TK,
         |t AS (SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks,1) AS pos FROM tk)
         |SELECT doc_id,
         | CAST(sum(((('0x'||substr(md5(tok),1,15))::BIGINT % 1000000007) * pos) % 1000000007) % 1000000007 AS BIGINT) AS fp
         |FROM t GROUP BY 1 ORDER BY 1""".stripMargin,
    "embed_norm_stats" ->
      """WITH n AS (SELECT label,
        |  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm FROM embeddings)
        |SELECT label, count(*) AS n, round(avg(nrm) - 1e-9, 4) AS avg_norm,
        | round(min(nrm), 4) AS min_norm, round(max(nrm), 4) AS max_norm
        |FROM n GROUP BY 1 ORDER BY 1""".stripMargin,
    // ---- A. Carbon ingest ----
    "carbon_parse" ->
      s"""WITH $M
         |SELECT path, round(value,4) AS value,
         | CASE WHEN ts % 2 = 0 THEN ts ELSE 1706659200 END AS ts
         |FROM m ORDER BY 1, 3, 2""".stripMargin,
    "carbon_rewrite" ->
      s"""WITH $M,
         |pre AS (SELECT CASE
         |  WHEN regexp_matches(path, '^vera\\.u1\\.') THEN regexp_replace(path, '^vera\\.u1\\.', 'vera.user-one.')
         |  WHEN regexp_matches(path, '^vera\\.u2\\.') THEN regexp_replace(path, '^vera\\.u2\\.', 'vera.user-two.')
         |  ELSE path END AS path FROM m),
         |post AS (SELECT CASE
         |  WHEN regexp_matches(path, '\\.click$$') THEN regexp_replace(path, '\\.click$$', '.clicks')
         |  ELSE path END AS path FROM pre)
         |SELECT path, count(*) AS n FROM post GROUP BY 1 ORDER BY 1""".stripMargin,
    "schema_match" ->
      s"""WITH $M, p AS (SELECT DISTINCT path FROM m)
         |SELECT path,
         | CASE WHEN regexp_matches(path, '.*\\.click$$') THEN 'clicks'
         |      WHEN regexp_matches(path, '^vera\\.u\\d\\.') THEN 'single_digit'
         |      ELSE 'default' END AS schema_name,
         | CASE WHEN regexp_matches(path, '.*\\.click$$') THEN '1m:1d,10m:7d'
         |      WHEN regexp_matches(path, '^vera\\.u\\d\\.') THEN '10s:1h'
         |      ELSE '1h:30d' END AS retentions,
         | CASE WHEN regexp_matches(path, '.*\\.click$$') THEN 'sum'
         |      WHEN regexp_matches(path, '^vera\\.u\\d\\.') THEN 'last'
         |      ELSE 'average' END AS agg_method,
         | CASE WHEN regexp_matches(path, '.*\\.click$$') THEN CAST(0.3 AS DOUBLE)
         |      WHEN regexp_matches(path, '^vera\\.u\\d\\.') THEN CAST(0.1 AS DOUBLE)
         |      ELSE CAST(0.5 AS DOUBLE) END AS xff
         |FROM p ORDER BY 1""".stripMargin,
    "watch_translate" ->
      """SELECT CASE WHEN event_type='click' THEN '1'
        |            WHEN event_type='view' THEN '2'
        |            WHEN event_type='purchase' THEN '3'
        |            ELSE 'unknown' END AS code, count(*) AS n
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    // routed translation: the conf section tag (wildcard or specific
    // device) picks the table per series; unmatched series pass through
    "watch_translate_conf" ->
      """WITH t AS (SELECT
        |  CAST(user_id % 10 AS VARCHAR) || '.' ||
        |  CASE WHEN user_id % 3 = 0 THEN 'urn:micasaverde-com:serviceId:HVAC_OperatingState1.ModeState'
        |       WHEN user_id % 3 = 1 THEN 'urn:micasaverde-com:serviceId:SwitchPower1.Status'
        |       ELSE 'urn:upnp-org:serviceId:TemperatureSensor1.CurrentTemperature' END AS tag,
        |  CASE WHEN event_type='click' THEN 'Cooling'
        |       WHEN event_type='view' THEN 'Idle'
        |       WHEN event_type='purchase' THEN 'On'
        |       ELSE event_type END AS sym
        |FROM events)
        |SELECT tag,
        |  CASE WHEN tag = '7.urn:micasaverde-com:serviceId:SwitchPower1.Status'
        |       THEN CASE sym WHEN 'Off' THEN '0' WHEN 'On' THEN '1' ELSE 'unknown' END
        |       WHEN regexp_matches(tag, '^[^.]*\.urn:micasaverde-com:serviceId:HVAC_OperatingState1\.ModeState$')
        |       THEN CASE sym WHEN 'Cooling' THEN '-1' WHEN 'Idle' THEN '0' WHEN 'Heating' THEN '1' ELSE 'unknown' END
        |       ELSE sym END AS code,
        |  count(*) AS n
        |FROM t GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    // ---- B. Whisper TSDB core ----
    "ts_rollup_avg" -> rollupOracle("round(avg(value) - 1e-9,4)"),
    "ts_rollup_sum" -> rollupOracle("round(sum(value) - 1e-9,4)"),
    "ts_rollup_last" -> rollupOracle("round((max(struct_pack(t := ts, v := value))).v - 1e-9,4)"),
    "ts_rollup_max" -> rollupOracle("round(max(value) - 1e-9,4)"),
    "ts_rollup_min" -> rollupOracle("round(min(value) - 1e-9,4)"),
    "ts_xff" ->
      s"""WITH $MD,
         |fin AS (SELECT path, ts - ts%600 AS bucket, avg(value) AS value FROM md GROUP BY 1,2)
         |SELECT path, bucket - bucket%3600 AS bucket, round(avg(value) - 1e-9,4) AS value,
         | count(*) AS npoints
         |FROM fin GROUP BY 1,2 HAVING count(*) >= 3.0 ORDER BY 1,2""".stripMargin,
    "ts_multi_archive" ->
      s"""WITH $MD,
         |a1 AS (SELECT path, ts - ts%600 AS bucket, avg(value) AS value FROM md GROUP BY 1,2),
         |a2 AS (SELECT path, bucket - bucket%3600 AS bucket, avg(value) AS value FROM a1 GROUP BY 1,2)
         |SELECT path, bucket - bucket%86400 AS bucket, round(avg(value) - 1e-9,4) AS value,
         | count(*) AS npoints
         |FROM a2 GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    "ts_fetch" ->
      s"""WITH $FetchCte
         |SELECT g.path, g.t, round(a2.value - 1e-9,4) AS value
         |FROM g LEFT JOIN a2 ON g.path = a2.path AND g.t = a2.bucket
         |ORDER BY 1,2""".stripMargin,
    // the .wsp-exported cascade fetched back must agree with the
    // in-plan fetch too (B14 reverse migration round trip)
    "whisper_export_fetch" ->
      s"""WITH $FetchCte
         |SELECT g.path, g.t, round(a2.value - 1e-9,4) AS value
         |FROM g LEFT JOIN a2 ON g.path = a2.path AND g.t = a2.bucket
         |ORDER BY 1,2""".stripMargin,
    // the materialized-store fetch must agree with the in-plan fetch
    "ts_fetch_stored" ->
      s"""WITH $FetchCte
         |SELECT g.path, g.t, round(a2.value - 1e-9,4) AS value
         |FROM g LEFT JOIN a2 ON g.path = a2.path AND g.t = a2.bucket
         |ORDER BY 1,2""".stripMargin,
    // method=sum: gaps read as zero (L_DataGraph.lua:173); `+ 0.0`
    // normalizes DuckDB's round(0 - eps) = -0.0 to the +0.0 Spark writes
    "ts_fetch_sum_zero" ->
      s"""WITH ${fetchCteAgg("sum(value)", "sum(value)")}
         |SELECT g.path, g.t, round(COALESCE(a2.value, 0.0) - 1e-9,4) + 0.0 AS value
         |FROM g LEFT JOIN a2 ON g.path = a2.path AND g.t = a2.bucket
         |ORDER BY 1,2""".stripMargin,
    // method=last: gaps hold the previous value (L_DataGraph.lua:173);
    // leading gaps (nothing to hold yet) stay null
    "ts_fetch_last_hold" ->
      s"""WITH ${fetchCteAgg(
              "(max(struct_pack(t := ts, v := value))).v",
              "(max(struct_pack(t := bucket, v := value))).v")}
         |SELECT g.path, g.t, round(last_value(a2.value IGNORE NULLS) OVER (
         |  PARTITION BY g.path ORDER BY g.t
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1e-9,4) AS value
         |FROM g LEFT JOIN a2 ON g.path = a2.path AND g.t = a2.bucket
         |ORDER BY 1,2""".stripMargin,
    "ts_info" ->
      s"""WITH $M
         |SELECT path, min(ts) AS earliest, max(ts) AS latest, count(*) AS n
         |FROM m GROUP BY 1 ORDER BY 1""".stripMargin,
    // the stateful change-relay's batch twin: emit iff value differs
    // from the previous (ts,value)-ordered point of the same path
    "watch_relay" ->
      s"""WITH $M,
         |ch AS (SELECT path, ts, value,
         |  lag(value) OVER (PARTITION BY path ORDER BY ts, value) AS pv FROM m)
         |SELECT path, ts, value FROM ch
         |WHERE pv IS NULL OR value <> pv ORDER BY 1, 2, 3""".stripMargin,
    "ts_upsert" -> UpsertSql,
    // G6: the streaming two-micro-batch merge converges to the same
    // store state as the batch upsert — shared oracle by design
    "stream_upsert" -> UpsertSql,
    // G6x: replayed micro-batch is a no-op behind the txn marker —
    // final store state is ts_upsert's, oracle shared verbatim
    "stream_upsert_replay" -> UpsertSql,
    // A6: the parsed conf rule tables vs a VALUES literal of the
    // expected parses of the reference's own Configuration files
    // (the same tables ConfSpec pins field-by-field; rewrite-rules
    // .conf.example is all comments, so zero rewrite rows IS the
    // correct parse)
    "conf_rules" ->
      """SELECT * FROM (VALUES
        | ('agg',CAST(0 AS BIGINT),'max','\.max$','max','0.0000'),
        | ('agg',CAST(1 AS BIGINT),'min','\.min$','min','0.0000'),
        | ('agg',CAST(2 AS BIGINT),'sum','\.sum$','sum','0.0000'),
        | ('agg',CAST(3 AS BIGINT),'avg','\.average$','average','0.0000'),
        | ('agg',CAST(4 AS BIGINT),'last','\.last$','last','0.0000'),
        | ('agg',CAST(5 AS BIGINT),'Alarm',':Alarm','sum','0.0000'),
        | ('agg',CAST(6 AS BIGINT),'Security',':Security','sum','0.0000'),
        | ('agg',CAST(7 AS BIGINT),'DoorLock',':DoorLock','sum','0.0000'),
        | ('agg',CAST(8 AS BIGINT),'Ping',':Ping','max','0.0000'),
        | ('agg',CAST(9 AS BIGINT),'KWH','\.KWH','last','0.0000'),
        | ('agg',CAST(10 AS BIGINT),'Power','\.Watts','average','0.0000'),
        | ('agg',CAST(11 AS BIGINT),'Battery','\.BatteryLevel','last','0.0000'),
        | ('agg',CAST(12 AS BIGINT),'Temperature',':Temperature','average','0.0000'),
        | ('agg',CAST(13 AS BIGINT),'Humidity',':Humidity','average','0.0000'),
        | ('agg',CAST(14 AS BIGINT),'Light',':Light','average','0.0000'),
        | ('agg',CAST(15 AS BIGINT),'Generic',':Generic','average','0.0000'),
        | ('schema',CAST(0 AS BIGINT),'Alarm',':Alarm','1s:1m,1m:1d,5m:7d,1h:90d,6h:1y,1d:5y',''),
        | ('schema',CAST(1 AS BIGINT),'Security',':Security','1s:1m,1m:1d,5m:7d,1h:90d,6h:1y,1d:5y',''),
        | ('schema',CAST(2 AS BIGINT),'DoorLock',':DoorLock','1s:1m,1m:1d,5m:7d,1h:90d,6h:1y,1d:5y',''),
        | ('schema',CAST(3 AS BIGINT),'Ping',':Ping','1s:1m,1m:1d,5m:7d,1h:90d,6h:1y,1d:5y',''),
        | ('schema',CAST(4 AS BIGINT),'KWH','\.KWH','20m:30d,3h:1y,1d:10y',''),
        | ('schema',CAST(5 AS BIGINT),'Power','\.Watts','20m:30d,3h:1y,1d:10y',''),
        | ('schema',CAST(6 AS BIGINT),'Battery','Battery','1d:5y',''),
        | ('schema',CAST(7 AS BIGINT),'Temperature',':Temperature','10m:7d,1h:30d,3h:1y,1d:10y',''),
        | ('schema',CAST(8 AS BIGINT),'Humidity',':Humidity','10m:7d,1h:30d,3h:1y,1d:10y',''),
        | ('schema',CAST(9 AS BIGINT),'Light',':Light','10m:7d,1h:30d,3h:1y,1d:10y',''),
        | ('schema',CAST(10 AS BIGINT),'Generic',':Generic','10m:7d,1h:30d,3h:1y,1d:10y',''),
        | ('schema',CAST(11 AS BIGINT),'day','\.d$','1m:1d',''),
        | ('schema',CAST(12 AS BIGINT),'2day','\.2$','2m:2d',''),
        | ('schema',CAST(13 AS BIGINT),'week','\.w$','5m:7d',''),
        | ('schema',CAST(14 AS BIGINT),'month','\.m$','20m:30d',''),
        | ('schema',CAST(15 AS BIGINT),'quarter','\.q$','1h:90d',''),
        | ('schema',CAST(16 AS BIGINT),'year','\.y$','6h:1y',''),
        | ('translation',CAST(-1 AS BIGINT),'*.urn:micasaverde-com:serviceId:HVAC_OperatingState1.ModeState','Cooling','-1',''),
        | ('translation',CAST(-1 AS BIGINT),'*.urn:micasaverde-com:serviceId:HVAC_OperatingState1.ModeState','Heating','1',''),
        | ('translation',CAST(-1 AS BIGINT),'*.urn:micasaverde-com:serviceId:HVAC_OperatingState1.ModeState','Idle','0','')) AS t(kind, ord, name, pattern, v1, v2)
        |ORDER BY kind, ord, name, pattern, v1""".stripMargin,
    // A8: carbon-aggregator — each rule is match + template rename +
    // (path, bucket) fold; kind = the 3rd node the <kind> field captures
    "carbon_aggregate" -> CarbonAggregateSql,
    // G27m: the whole 3-rule conf as ONE streaming query — over a batch
    // frame each branch IS its rule's batch fold, so the oracle is
    // carbon_aggregate's verbatim
    "stream_aggregate_multi" -> CarbonAggregateSql,
    // A8b: pre-rewrite -> aggregate -> post-rewrite, the reference's
    // own bracket placement (L_DataCache.lua:81-88)
    "carbon_aggregate_e2e" ->
      s"""WITH $M,
         |pre AS (SELECT CASE WHEN regexp_matches(path, '^vera\\.u')
         |  THEN regexp_replace(path, '^vera\\.u', 'vera.user')
         |  ELSE path END AS path, ts, value FROM m),
         |mm AS (SELECT split_part(path, '.', 3) AS kind, ts, value FROM pre
         |  WHERE regexp_matches(path, '^vera\\.[^.]+\\.[^.]+$$')),
         |ag AS (SELECT 'vera.all.' || kind AS path, ts - ts%600 AS bucket,
         |  round(sum(value) - 1e-9, 4) AS value, count(*) AS npoints
         |  FROM mm GROUP BY 1, 2)
         |SELECT CASE WHEN regexp_matches(path, '\\.click$$')
         |  THEN regexp_replace(path, '\\.click$$', '.clicks')
         |  ELSE path END AS path, bucket, value, npoints
         |FROM ag ORDER BY 1, 2""".stripMargin,
    // G27: the streaming twin runs ONE rule through the epoch-aligned
    // window — the r1 fold alone
    "stream_aggregate" ->
      s"""WITH $M,
         |mm AS (SELECT path, split_part(path, '.', 3) AS kind, ts, value
         |  FROM m WHERE regexp_matches(path, '^vera\\.[^.]+\\.[^.]+$$'))
         |SELECT 'vera.all.' || kind AS path, ts - ts%600 AS bucket,
         |  round(sum(value) - 1e-9, 4) AS value, count(*) AS npoints
         |FROM mm GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "carbon_e2e" -> CarbonE2eSql,
    // identical semantics with all rule sets parsed from Graphite conf
    // text (Conf.scala) — the conf encodes the same rules, so the
    // oracle is shared verbatim
    "carbon_e2e_conf" -> CarbonE2eSql,
    // DataUser hook: drop ts%100==0, clamp into [0.5, 2.0], fan
    // ts%97==0 out to a .shadow twin
    "carbon_user_hook" ->
      s"""WITH $M,
         |kept AS (SELECT path, ts, least(greatest(value, 0.5), 2.0) AS value
         |  FROM m WHERE ts % 100 <> 0)
         |SELECT path, ts, round(value, 4) AS value FROM (
         |  SELECT path, ts, value FROM kept
         |  UNION ALL
         |  SELECT path||'.shadow', ts, value FROM kept WHERE ts % 97 = 0) t
         |ORDER BY 1, 2, 3""".stripMargin,
    // ---- C. Graphite metrics API ----
    "metrics_find" ->
      s"""WITH $M, p AS (SELECT DISTINCT path FROM m),
         |f1 AS (SELECT DISTINCT 'vera.'||split_part(path,'.',2) AS path,
         |  split_part(path,'.',2) AS name, CAST(0 AS BIGINT) AS is_leaf, 'vera.*' AS q FROM p),
         |f2 AS (SELECT path, split_part(path,'.',3) AS name, CAST(1 AS BIGINT) AS is_leaf,
         |  'vera.u1.*' AS q FROM p WHERE regexp_matches(path, '^vera\\.u1\\.[^.]+$$'))
         |SELECT q, path, name, is_leaf FROM (SELECT * FROM f1 UNION ALL SELECT * FROM f2) t
         |ORDER BY 1, 2, 4""".stripMargin,
    "metrics_find_treejson" ->
      s"""WITH $M, p AS (SELECT DISTINCT path FROM m),
         |f1 AS (SELECT DISTINCT 'vera.'||split_part(path,'.',2) AS path,
         |  split_part(path,'.',2) AS name, CAST(0 AS BIGINT) AS is_leaf, 'vera.*' AS q FROM p),
         |f2 AS (SELECT path, split_part(path,'.',3) AS name, CAST(1 AS BIGINT) AS is_leaf,
         |  'vera.u1.*' AS q FROM p WHERE regexp_matches(path, '^vera\\.u1\\.[^.]+$$'))
         |SELECT 1 - is_leaf AS allow_children, 1 - is_leaf AS expandable,
         |  is_leaf AS leaf, path AS id, name AS text, q
         |FROM (SELECT * FROM f1 UNION ALL SELECT * FROM f2) t
         |ORDER BY q, id, leaf""".stripMargin,
    "metrics_find_completer" ->
      s"""WITH $M, p AS (SELECT DISTINCT path FROM m),
         |f1 AS (SELECT DISTINCT 'vera.'||split_part(path,'.',2) AS path,
         |  split_part(path,'.',2) AS name, CAST(0 AS BIGINT) AS is_leaf, 'vera.*' AS q FROM p),
         |f2 AS (SELECT path, split_part(path,'.',3) AS name, CAST(1 AS BIGINT) AS is_leaf,
         |  'vera.u1.*' AS q FROM p WHERE regexp_matches(path, '^vera\\.u1\\.[^.]+$$'))
         |SELECT is_leaf, CASE WHEN is_leaf = 1 THEN path ELSE path||'.' END AS path, name, q
         |FROM (SELECT * FROM f1 UNION ALL SELECT * FROM f2) t
         |ORDER BY q, path, is_leaf""".stripMargin,
    // finder federation: two whisper stores (the second claims the same
    // paths over a narrower window and must LOSE on intervals —
    // first-leaf-wins) + a dataMine channel tree; branch rows carry
    // null finder/intervals
    "metrics_find_federated" ->
      s"""WITH $M,
         |ev AS (SELECT user_id AS device, 'urn:graft:serviceId:Events1' AS service,
         |  event_type AS variable, CAST(floor(epoch(ts)) AS BIGINT) AS ts FROM events),
         |w1 AS (SELECT path, min(ts) AS earliest, max(ts) AS latest,
         |  CAST(0 AS BIGINT) AS finder FROM m GROUP BY 1),
         |w2 AS (SELECT path, min(ts) AS earliest, max(ts) AS latest,
         |  CAST(1 AS BIGINT) AS finder FROM m WHERE ts >= 1705000000 GROUP BY 1),
         |dm AS (SELECT 'DM.'||(CASE WHEN length(CAST(device AS VARCHAR)) >= 3
         |    THEN CAST(device AS VARCHAR) ELSE lpad(CAST(device AS VARCHAR),3,'0') END)
         |  ||'.'||service||'.'||variable AS path,
         |  min(ts) AS earliest, max(ts) AS latest, CAST(2 AS BIGINT) AS finder
         |  FROM ev GROUP BY 1),
         |u AS (SELECT * FROM w1 UNION ALL SELECT * FROM w2 UNION ALL SELECT * FROM dm),
         |leaves AS (SELECT path, min_by(earliest, finder) AS earliest,
         |  min_by(latest, finder) AS latest, min(finder) AS finder FROM u GROUP BY 1),
         |q1 AS (SELECT DISTINCT split_part(path,'.',1) AS path, split_part(path,'.',1) AS name,
         |  CAST(0 AS BIGINT) AS is_leaf, CAST(-1 AS BIGINT) AS finder,
         |  CAST(-1 AS BIGINT) AS earliest, CAST(-1 AS BIGINT) AS latest, '*' AS q FROM leaves),
         |q2 AS (SELECT path, split_part(path,'.',3) AS name, CAST(1 AS BIGINT) AS is_leaf,
         |  finder, earliest, latest, 'vera.*.*' AS q FROM leaves
         |  WHERE regexp_matches(path, '^vera\\.[^.]+\\.[^.]+$$')),
         |q3 AS (SELECT path, split_part(path,'.',4) AS name, CAST(1 AS BIGINT) AS is_leaf,
         |  finder, earliest, latest, 'DM.*.*.*' AS q FROM leaves
         |  WHERE regexp_matches(path, '^DM\\.[^.]+\\.[^.]+\\.[^.]+$$'))
         |SELECT q, path, name, is_leaf, finder, earliest, latest
         |FROM (SELECT * FROM q1 UNION ALL SELECT * FROM q2 UNION ALL SELECT * FROM q3) t
         |ORDER BY 1, 2, 4""".stripMargin,
    "metrics_expand" ->
      s"""WITH $M, p AS (SELECT DISTINCT path FROM m),
         |e1 AS (SELECT DISTINCT 'vera.'||split_part(path,'.',2)||'.' AS path, 'vera.*' AS q FROM p),
         |e2 AS (SELECT DISTINCT path, 'vera.u{1,2,3}.*' AS q FROM p
         |  WHERE regexp_matches(path, '^vera\\.u(1|2|3)\\.[^.]+$$'))
         |SELECT path, q FROM (SELECT * FROM e1 UNION ALL SELECT * FROM e2) t ORDER BY 2, 1""".stripMargin,
    "metrics_index" ->
      s"""WITH $M SELECT DISTINCT path FROM m ORDER BY 1""".stripMargin,
    "series_expand" ->
      """SELECT * FROM (VALUES
        | (CAST(0 AS BIGINT),'host.a.cpu0.load'),(CAST(1 AS BIGINT),'host.a.cpu1.load'),
        | (CAST(2 AS BIGINT),'host.a.cpu2.load'),(CAST(3 AS BIGINT),'host.b.cpu0.load'),
        | (CAST(4 AS BIGINT),'host.b.cpu1.load'),(CAST(5 AS BIGINT),'host.b.cpu2.load'))
        | AS t(idx, series) ORDER BY idx""".stripMargin,
    "render_csv" ->
      s"""WITH $FetchCte
         |SELECT g.path AS target,
         | strftime(make_timestamp(g.t*1000000), '%Y-%m-%d %H:%M:%S') AS ts_str,
         | round(a2.value - 1e-9,4) AS value
         |FROM g LEFT JOIN a2 ON g.path = a2.path AND g.t = a2.bucket
         |ORDER BY 1, 2""".stripMargin,
    // C6s-struct: the SVG document's polylines re-derived from the
    // DATA — method=last fetch, hold fill, staircase dup expansion,
    // global-bounds scaling to the 600x500/m=40 viewport; coordinates
    // as round(.,1) doubles (both engines HALF_UP on the exact binary
    // value — never printf strings, whose midpoint rounding differs)
    "render_svg_struct" ->
      s"""WITH ${fetchCteAgg(
              "(max(struct_pack(t := ts, v := value))).v",
              "(max(struct_pack(t := bucket, v := value))).v")},
         |held AS (SELECT g.path, g.t, last_value(a2.value IGNORE NULLS) OVER (
         |  PARTITION BY g.path ORDER BY g.t
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value
         |  FROM g LEFT JOIN a2 ON g.path = a2.path AND g.t = a2.bucket),
         |pts AS (SELECT path, CAST(t AS DOUBLE) AS t,
         |    CAST(value AS DOUBLE) AS value, 1 AS ord
         |  FROM held WHERE value IS NOT NULL),
         |dups AS (SELECT path, t, pv AS value, 0 AS ord FROM (
         |  SELECT path, t, lag(value) OVER (PARTITION BY path ORDER BY t) AS pv
         |  FROM pts) d WHERE pv IS NOT NULL),
         |allp AS (SELECT * FROM pts UNION ALL SELECT * FROM dups),
         |b AS (SELECT min(t) AS t0, max(t) AS t1,
         |  min(value) AS v0, max(value) AS v1 FROM allp),
         |sc AS (SELECT p.path, p.t, p.ord,
         |  40 + (p.t - b.t0) / greatest(b.t1 - b.t0, 1e-9) * 520 AS x,
         |  460 - (p.value - b.v0) / greatest(b.v1 - b.v0, 1e-9) * 420 AS y
         |  FROM allp p CROSS JOIN b)
         |SELECT path,
         |  CAST(row_number() OVER (PARTITION BY path ORDER BY t, ord) - 1
         |    AS BIGINT) AS idx,
         |  round(x, 1) AS x, round(y, 1) AS y
         |FROM sc ORDER BY path, idx""".stripMargin,
    // F12-dims: decoded dimensions after the 16x16 resize are pure
    // functions of doc_id for a CORRECT decode chain — the oracle
    // derives them from documents alone, proving per-row the real
    // codec round-trip ran (image: 16/16/3; fallback: -1)
    "multimodal_dims" ->
      """SELECT doc_id AS media_id,
        | CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
        |   WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        | CAST(CASE WHEN doc_id % 3 = 0 THEN 16 ELSE -1 END AS BIGINT) AS width,
        | CAST(CASE WHEN doc_id % 3 = 0 THEN 16 ELSE -1 END AS BIGINT) AS height,
        | CAST(CASE WHEN doc_id % 3 = 0 THEN 3 ELSE -1 END AS BIGINT) AS channels
        |FROM documents ORDER BY media_id""".stripMargin,
    // F12-frames: sampled frame indices per video media (every 2nd of
    // n_frames = doc_id%30+1) — sequence semantics, DuckDB-derivable
    "multimodal_frames" ->
      """SELECT doc_id AS media_id,
        | CAST(doc_id % 30 + 1 AS BIGINT) AS n_frames,
        | CAST(unnest(range(0, doc_id % 30 + 1, 2)) AS BIGINT) AS frame_idx
        |FROM documents WHERE doc_id % 3 = 2
        |ORDER BY media_id, frame_idx""".stripMargin,
    // C9a: sumSeries + alias — per-timestamp sum across the fetched
    // series (SQL sum ignores nulls, all-null stays null — graphite
    // safeSum), renamed by the alias literal
    "gfn_sum_series" ->
      s"""WITH $GfnFrameCte
         |SELECT 'clicks' AS path, t, round(sum(value) - 1e-9, 4) AS value
         |FROM fr GROUP BY t ORDER BY 1, 2""".stripMargin,
    // C9b: summarize to interval-aligned 4h buckets, per-bucket avg,
    // the graphite-rendered series name
    "gfn_summarize" ->
      s"""WITH $GfnFrameCte
         |SELECT 'summarize(' || path || ', "4hour", "avg")' AS path,
         | t - t%14400 AS t, round(avg(value) - 1e-9, 4) AS value
         |FROM fr GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // C9c: nonNegativeDerivative — lag delta per series, negative
    // steps (counter wraps) and gap-adjacent points null
    "gfn_derivative" ->
      s"""WITH $GfnFrameCte,
         |d AS (SELECT path, t,
         |  value - lag(value) OVER (PARTITION BY path ORDER BY t) AS dv FROM fr)
         |SELECT 'nonNegativeDerivative(' || path || ')' AS path, t,
         | round(CASE WHEN dv >= 0 THEN dv END - 1e-9, 4) AS value
         |FROM d ORDER BY 1, 2""".stripMargin,
    // C9d: integral — running non-null total per series, null at gaps
    "gfn_integral" ->
      s"""WITH $GfnFrameCte
         |SELECT 'integral(' || path || ')' AS path, t,
         | round(CASE WHEN value IS NOT NULL THEN sum(value) OVER (
         |   PARTITION BY path ORDER BY t
         |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) END - 1e-9, 4) AS value
         |FROM fr ORDER BY 1, 2""".stripMargin,
    // C9e: movingAverage(3) then highestCurrent(2) — trailing window
    // mean (nulls ignored, leading partials included), series ranked by
    // last non-null value on the round(,6) grid with path tie-break
    "gfn_moving_top" ->
      s"""WITH $GfnFrameCte,
         |ma AS (SELECT 'movingAverage(' || path || ',3)' AS path, t,
         |  avg(value) OVER (PARTITION BY path ORDER BY t
         |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS value FROM fr),
         |cur AS (SELECT path,
         |  (max(struct_pack(t := t, v := value)) FILTER (WHERE value IS NOT NULL)).v AS s
         |  FROM ma GROUP BY 1),
         |top AS (SELECT path FROM (SELECT path,
         |    row_number() OVER (ORDER BY round(s, 6) DESC NULLS LAST, path) AS rk
         |  FROM cur) WHERE rk <= 2)
         |SELECT m.path, m.t, round(m.value - 1e-9, 4) AS value
         |FROM ma m JOIN top USING (path) ORDER BY 1, 2""".stripMargin,
    // C9f: highestAverage(3) then aliasByNode(1,2) — per-series mean
    // ranking, then the path rebuilt from dot-components 1 and 2
    "gfn_alias_nodes" ->
      s"""WITH $GfnFrameCte,
         |st AS (SELECT path, avg(value) AS s FROM fr GROUP BY 1),
         |top AS (SELECT path FROM (SELECT path,
         |    row_number() OVER (ORDER BY round(s, 6) DESC NULLS LAST, path) AS rk
         |  FROM st) WHERE rk <= 3)
         |SELECT string_split(f.path, '.')[2] || '.' || string_split(f.path, '.')[3] AS path,
         | f.t, round(f.value - 1e-9, 4) AS value
         |FROM fr f JOIN top ON f.path = top.path ORDER BY 1, 2""".stripMargin,
    // C9g: the three-deep pipeline scale(summarize(sumSeries(...)))
    // with the evaluator's rendered call text as the series name
    "gfn_pipeline" ->
      s"""WITH $GfnFrameCte,
         |ss AS (SELECT t, sum(value) AS value FROM fr GROUP BY 1),
         |sm AS (SELECT t - t%14400 AS t, max(value) AS value FROM ss GROUP BY 1)
         |SELECT 'scale(summarize(sumSeries(vera.u1?.click), "4hour", "max"),0.5)' AS path,
         | t, round(value * 0.5 - 1e-9, 4) AS value
         |FROM sm ORDER BY 2""".stripMargin,
    // C9i: divideSeries over two combined fetches — per-t ratio of the
    // click and error sums; zero/absent divisor points null
    "gfn_divide" ->
      s"""WITH $M,
         |${gfnFrameCteNamed("^vera\\.u1[^.]\\.click$$", "c")},
         |${gfnFrameCteNamed("^vera\\.u1[^.]\\.error$$", "e")},
         |dc AS (SELECT t, sum(value) AS v FROM frc GROUP BY 1),
         |de AS (SELECT t, sum(value) AS dv FROM fre GROUP BY 1)
         |SELECT 'divideSeries(sumSeries(vera.u1?.click),sumSeries(vera.u1?.error))' AS path,
         | dc.t, round(CASE WHEN de.dv <> 0 THEN dc.v/de.dv END - 1e-9, 4) AS value
         |FROM dc LEFT JOIN de USING (t) ORDER BY 2""".stripMargin,
    // C9j: averageAbove gate then asPercent — per-series mean filter on
    // the round(,6) grid, each survivor as share of the group total
    "gfn_percent_filter" ->
      s"""WITH $GfnFrameCte,
         |st AS (SELECT path, avg(value) AS s FROM fr GROUP BY 1),
         |keep AS (SELECT path FROM st WHERE round(s, 6) > 30),
         |kf AS (SELECT f.* FROM fr f JOIN keep USING (path)),
         |tot AS (SELECT t, sum(value) AS tot FROM kf GROUP BY 1)
         |SELECT 'asPercent(' || k.path || ')' AS path, k.t,
         | round(CASE WHEN tot.tot <> 0 THEN k.value*100.0/tot.tot END - 1e-9, 4) AS value
         |FROM kf k LEFT JOIN tot USING (t) ORDER BY 1, 2""".stripMargin,
    // C9k: clamp → per-series rebase → trailing window sum, graphite
    // name-wrapping at each stage
    "gfn_clamp_window" ->
      s"""WITH $GfnFrameCte,
         |cl AS (SELECT path, t, CASE WHEN value >= 10 THEN value END AS value FROM fr),
         |oz AS (SELECT path, t, value - min(value) OVER (PARTITION BY path) AS value FROM cl)
         |SELECT 'movingSum(offsetToZero(removeBelowValue(' || path || ',10)),3)' AS path, t,
         | round(sum(value) OVER (PARTITION BY path ORDER BY t
         |   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) - 1e-9, 4) + 0.0 AS value
         |FROM oz ORDER BY 1, 2""".stripMargin,
    // C9l: timeShift("1d") — the shifted window ages off the 1h
    // archive's 7-day retention, so the oracle replays the THIRD
    // cascade level (86400 buckets) on the day-quantized shifted grid,
    // sums across series, and relabels +86400 back onto render time
    "gfn_timeshift" ->
      s"""WITH $M,
         |f AS (SELECT * FROM m WHERE regexp_matches(path, '^vera\\.u1[^.]\\.click$$')),
         |a1 AS (SELECT path, ts - ts%600 AS bucket, avg(value) AS value FROM f GROUP BY 1,2),
         |a2 AS (SELECT path, bucket - bucket%3600 AS bucket, avg(value) AS value FROM a1 GROUP BY 1,2),
         |a3 AS (SELECT path, bucket - bucket%86400 AS bucket, avg(value) AS value FROM a2 GROUP BY 1,2),
         |p AS (SELECT DISTINCT path FROM f),
         |g AS (SELECT p.path, s.t FROM p CROSS JOIN generate_series(1705968000, 1706572800, 86400) AS s(t)),
         |fr AS (SELECT g.path, g.t, a3.value AS value
         |  FROM g LEFT JOIN a3 ON g.path = a3.path AND g.t = a3.bucket),
         |ss AS (SELECT t, sum(value) AS value FROM fr GROUP BY 1)
         |SELECT 'timeShift(sumSeries(vera.u1?.click),"1d")' AS path,
         | t + 86400 AS t, round(value - 1e-9, 4) AS value
         |FROM ss ORDER BY 2""".stripMargin,
    // C9m: nPercentile(90) — discrete per-series percentile (sorted
    // non-null values, element max(1, floor(.9*(cnt+1)))) broadcast
    // back as a flat line over the grid
    "gfn_npercentile" ->
      s"""WITH $GfnFrameCte,
         |nn AS (SELECT path, value,
         |  row_number() OVER (PARTITION BY path ORDER BY value, t) AS rn,
         |  count(*) OVER (PARTITION BY path) AS cnt
         |  FROM fr WHERE value IS NOT NULL),
         |pv AS (SELECT path, value AS pv FROM nn
         |  WHERE rn = greatest(1, least(cnt, CAST(floor(0.9*(cnt+1)) AS BIGINT))))
         |SELECT 'nPercentile(' || f.path || ',90)' AS path, f.t,
         | round(pv.pv - 1e-9, 4) AS value
         |FROM fr f LEFT JOIN pv USING (path) ORDER BY 1, 2""".stripMargin,
    // C9n: stdev(6) — trailing-window population stddev via the same
    // explicit moment formula the Spark side evaluates (√((Σv² −
    // (Σv)²/n)/n) over the ordered 6-row frame), nulls ignored,
    // all-null window null
    "gfn_stdev" ->
      s"""WITH $GfnFrameCte,
         |w AS (SELECT path, t,
         |  count(value) OVER win AS cnt, sum(value) OVER win AS s,
         |  sum(value*value) OVER win AS s2
         |  FROM fr WINDOW win AS (PARTITION BY path ORDER BY t
         |    ROWS BETWEEN 5 PRECEDING AND CURRENT ROW))
         |SELECT 'stdev(' || path || ',6)' AS path, t,
         | round(CASE WHEN cnt > 0
         |   THEN sqrt(greatest(0, (s2 - s*s/cnt)/cnt)) END - 1e-9, 4) + 0.0 AS value
         |FROM w ORDER BY 1, 2""".stripMargin,
    // C9o: limit(sortByMaxima, 2) — series ranked by max on the
    // round(,6) grid with path tie-break, first two kept
    "gfn_sort_maxima" ->
      s"""WITH $GfnFrameCte,
         |st AS (SELECT path, max(value) AS s FROM fr GROUP BY 1),
         |top AS (SELECT path FROM (SELECT path,
         |    row_number() OVER (ORDER BY round(s, 6) DESC NULLS LAST, path) AS rk
         |  FROM st) WHERE rk <= 2)
         |SELECT f.path, f.t, round(f.value - 1e-9, 4) AS value
         |FROM fr f JOIN top USING (path) ORDER BY 1, 2""".stripMargin,
    // C9ob: natural name sort — the padded-digit-run key replayed
    // (chr(1)-inserted split, RE2-portable), u1,u2,u10 survive limit 3
    "gfn_sort_natural" ->
      s"""WITH $M,
         |${gfnFrameCteNamed("^vera\\.u(1|2|10|11)\\.click$$$$", "n")},
         |nk AS (SELECT path, array_to_string(list_transform(
         |    string_split(regexp_replace(path, '([0-9]+)',
         |      chr(1) || '\\1' || chr(1), 'g'), chr(1)),
         |    t -> CASE WHEN regexp_matches(t, '^[0-9]+$$')
         |      THEN lpad(t, 20, '0') ELSE t END), '') AS k
         |  FROM (SELECT DISTINCT path FROM frn)),
         |top AS (SELECT path FROM (SELECT path,
         |    row_number() OVER (ORDER BY k, path) AS rk FROM nk) WHERE rk <= 3)
         |SELECT f.path, f.t, round(f.value - 1e-9, 4) AS value
         |FROM frn f JOIN top USING (path) ORDER BY 1, 2""".stripMargin,
    // C9p: asPercent against a constant total — pure map-only scaling
    "gfn_percent_const" ->
      s"""WITH $GfnFrameCte
         |SELECT 'asPercent(' || path || ',120)' AS path, t,
         | round(value*100.0/120 - 1e-9, 4) AS value
         |FROM fr ORDER BY 1, 2""".stripMargin,
    // C9q: per-dividend divideSeries — each series over the group sum,
    // one named output per dividend input; zero/absent divisor null
    "gfn_divide_list" ->
      s"""WITH $GfnFrameCte,
         |dv AS (SELECT t, sum(value) AS dv FROM fr GROUP BY 1)
         |SELECT 'divideSeries(' || f.path || ',sumSeries(vera.u1?.click))' AS path,
         | f.t, round(CASE WHEN dv.dv <> 0 THEN f.value/dv.dv END - 1e-9, 4) AS value
         |FROM fr f LEFT JOIN dv USING (t) ORDER BY 1, 2""".stripMargin,
    // C9r: mostDeviant(3) — per-series population variance via the
    // stdev moment formula, top-3 on the round(,6) grid, path tie-break
    "gfn_most_deviant" ->
      s"""WITH $GfnFrameCte,
         |st AS (SELECT path,
         |  CASE WHEN count(value) > 0 THEN
         |    (sum(value*value) - sum(value)*sum(value)/count(value))/count(value)
         |  END AS v
         |  FROM fr GROUP BY 1),
         |top AS (SELECT path FROM (SELECT path,
         |    row_number() OVER (ORDER BY round(v, 6) DESC NULLS LAST, path) AS rk
         |  FROM st) WHERE rk <= 3)
         |SELECT f.path, f.t, round(f.value - 1e-9, 4) AS value
         |FROM fr f JOIN top USING (path) ORDER BY 1, 2""".stripMargin,
    // C9s: lowestAverage(3) then aliasSub("^vera" → "v") — ascending
    // mean rank with nulls last, then a map-only regex relabel
    "gfn_lowest_sub" ->
      s"""WITH $GfnFrameCte,
         |st AS (SELECT path, avg(value) AS s FROM fr GROUP BY 1),
         |low AS (SELECT path FROM (SELECT path,
         |    row_number() OVER (ORDER BY round(s, 6) ASC NULLS LAST, path) AS rk
         |  FROM st) WHERE rk <= 3)
         |SELECT regexp_replace(f.path, '^vera', 'v') AS path, f.t,
         | round(f.value - 1e-9, 4) AS value
         |FROM fr f JOIN low USING (path) ORDER BY 1, 2""".stripMargin,
    // C9t: groupByNode(1, sumSeries) — all u1x event streams, grouped
    // by the user component, safeSum per (user, t); the wider glob's
    // frame CTE carries every event type
    "gfn_group_node" ->
      s"""WITH $M,
         |${gfnFrameCteNamed("^vera\\.u1[^.]\\.[^.]+$$", "g")}
         |SELECT string_split(path, '.')[2] AS path, t,
         | round(sum(value) - 1e-9, 4) AS value
         |FROM frg GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // C9u: integralByInterval("1day") — running total resetting at
    // each day boundary; gap points stay null, non-gap points
    // accumulate the bucket's non-nulls so far
    "gfn_integral_by" ->
      s"""WITH $GfnFrameCte
         |SELECT 'integralByInterval(' || path || ',"1day")' AS path, t,
         | round(CASE WHEN value IS NOT NULL THEN sum(value) OVER (
         |   PARTITION BY path, t - t%86400 ORDER BY t
         |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) END - 1e-9, 4) AS value
         |FROM fr ORDER BY 1, 2""".stripMargin,
    // C9v: hitcount over the combined series — value × (t − lag t)
    // summed per day bucket; the first grid point has no step and
    // contributes nothing
    "gfn_hitcount" ->
      s"""WITH $GfnFrameCte,
         |ss AS (SELECT t, sum(value) AS value FROM fr GROUP BY 1),
         |hc AS (SELECT t, value * (t - lag(t) OVER (ORDER BY t)) AS hc FROM ss)
         |SELECT 'hitcount(sumSeries(vera.u1?.click), "1day")' AS path,
         | t - t%86400 AS t, round(sum(hc) - 1e-9, 4) AS value
         |FROM hc GROUP BY 2 ORDER BY 2""".stripMargin,
    // C9w: exponentialMovingAverage(6) — α = 2/7; the WITH RECURSIVE
    // replay executes the IDENTICAL multiply-add sequence as the
    // in-row fold: null points emit null and leave the state
    // untouched, the first non-null seeds the state
    "gfn_ema" ->
      s"""WITH RECURSIVE $GfnFrameCte,
         |pts AS (SELECT path, t, value,
         |  row_number() OVER (PARTITION BY path ORDER BY t) AS rn FROM fr),
         |rec AS (
         |  SELECT path, t, rn, value,
         |    CASE WHEN value IS NOT NULL THEN value END AS ema
         |  FROM pts WHERE rn = 1
         |  UNION ALL
         |  SELECT p.path, p.t, p.rn, p.value,
         |    CASE WHEN p.value IS NULL THEN r.ema
         |         WHEN r.ema IS NULL THEN p.value
         |         ELSE (2.0/7.0)*p.value + (1.0 - 2.0/7.0)*r.ema END
         |  FROM pts p JOIN rec r ON p.path = r.path AND p.rn = r.rn + 1)
         |SELECT 'exponentialMovingAverage(' || path || ',6)' AS path, t,
         | round(CASE WHEN value IS NOT NULL THEN ema END - 1e-9, 4) AS value
         |FROM rec ORDER BY 1, 2""".stripMargin,
    // C9x: linearRegression — integer-exact Σ sums over recentered t
    // and fixed-point values, one closed-form float expression, the
    // fitted line drawn at EVERY grid point
    "gfn_linreg" ->
      s"""WITH $GfnFrameCte,
         |nn AS (SELECT path, t, CAST(round(value * 1e6) AS BIGINT) AS vfp,
         |  t - min(t) OVER (PARTITION BY path) AS tr,
         |  min(t) OVER (PARTITION BY path) AS t0
         |  FROM fr WHERE value IS NOT NULL),
         |fit AS (SELECT path, count(*) AS n, min(t0) AS t0,
         |  sum(tr) AS st, sum(vfp) AS sv, sum(tr*vfp) AS stv, sum(tr*tr) AS stt
         |  FROM nn GROUP BY 1),
         |bb AS (SELECT path, t0, st, sv, n,
         |  CAST(n*stv - st*sv AS DOUBLE) / CAST(n*stt - st*st AS DOUBLE) / 1e6 AS b
         |  FROM fit WHERE n*stt - st*st <> 0),
         |ab AS (SELECT path, t0, b,
         |  (CAST(sv AS DOUBLE)/1e6 - b*CAST(st AS DOUBLE)) / CAST(n AS DOUBLE) AS a
         |  FROM bb)
         |SELECT 'linearRegression(' || f.path || ')' AS path, f.t,
         | round(ab.a + ab.b * (f.t - ab.t0) - 1e-9, 4) AS value
         |FROM fr f LEFT JOIN ab ON f.path = ab.path ORDER BY 1, 2""".stripMargin,
    // C9y: rangeOfSeries + stddevSeries in one grouped result — the
    // across-series spread (max−min) and the population deviation via
    // the shared moment formula
    "gfn_range" ->
      s"""WITH $GfnFrameCte,
         |rg AS (SELECT 'rangeOfSeries(vera.u1?.click)' AS path, t,
         |  max(value) - min(value) AS value FROM fr GROUP BY t),
         |sd AS (SELECT 'stddevSeries(vera.u1?.click)' AS path, t,
         |  CASE WHEN count(value) > 0 THEN
         |    sqrt(greatest(0, (sum(value*value) - sum(value)*sum(value)/count(value))
         |      / count(value))) END AS value
         |  FROM fr GROUP BY t)
         |SELECT path, t, round(value - 1e-9, 4) + 0.0 AS value
         |FROM (SELECT * FROM rg UNION ALL SELECT * FROM sd) u
         |ORDER BY 1, 2""".stripMargin,
    // C9z: movingMedian(5) — the window's non-null values sorted
    // in-row, discrete clamped-rank selection at p=50
    "gfn_moving_median" ->
      s"""WITH $GfnFrameCte,
         |wl AS (SELECT path, t,
         |  list_sort(list_filter(list(value) OVER (PARTITION BY path ORDER BY t
         |    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), x -> x IS NOT NULL)) AS arr
         |  FROM fr)
         |SELECT 'movingMedian(' || path || ',5)' AS path, t,
         | round(CASE WHEN len(arr) > 0 THEN
         |   arr[greatest(1, least(len(arr), CAST(floor(0.5*(len(arr)+1)) AS INT)))]
         | END - 1e-9, 4) AS value
         |FROM wl ORDER BY 1, 2""".stripMargin,
    // C9ak: forward fill → min-gate selection → 3-point trailing min →
    // 2-point trailing max; selection keeps the keepLastValue-wrapped
    // names, the window pair wraps them further
    "gfn_moving_minmax" ->
      s"""WITH $GfnFrameCte,
         |kl AS (SELECT path, t, last_value(value IGNORE NULLS) OVER (PARTITION BY path ORDER BY t
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value FROM fr),
         |sel AS (SELECT path FROM kl GROUP BY path HAVING round(min(value), 6) < 20),
         |mn AS (SELECT kl.path, t, min(value) OVER (PARTITION BY kl.path ORDER BY t
         |  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS v
         |  FROM kl JOIN sel USING (path))
         |SELECT 'movingMax(movingMin(keepLastValue(' || path || '),3),2)' AS path, t,
         | round(max(v) OVER (PARTITION BY path ORDER BY t
         |   ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) - 1e-9, 4) AS value
         |FROM mn ORDER BY 1, 2""".stripMargin,
    // C9al: linear fill between non-null neighbours by TIMESTAMP; ends
    // with no neighbour stay null — the same two null-skipping windows
    "gfn_interpolate" ->
      s"""WITH $GfnFrameCte,
         |ip AS (SELECT path, t, value,
         |  last_value(value IGNORE NULLS) OVER wp AS pv,
         |  last_value(CASE WHEN value IS NOT NULL THEN t END IGNORE NULLS) OVER wp AS pt,
         |  first_value(value IGNORE NULLS) OVER wn AS nv,
         |  first_value(CASE WHEN value IS NOT NULL THEN t END IGNORE NULLS) OVER wn AS nt
         |  FROM fr WINDOW
         |   wp AS (PARTITION BY path ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |   wn AS (PARTITION BY path ORDER BY t ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
         |SELECT 'interpolate(' || path || ')' AS path, t,
         | round(CASE WHEN value IS NOT NULL THEN value
         |   ELSE pv + (nv - pv) * (t - pt) / (nt - pt) END - 1e-9, 4) AS value
         |FROM ip ORDER BY 1, 2""".stripMargin,
    // C9am: wildcard merge — node 1 removed (DuckDB lambda index is
    // 1-based: i != 2), series summed under the reduced name
    "gfn_wildcards" ->
      s"""WITH $GfnFrameCte,
         |w AS (SELECT array_to_string(list_filter(string_split(path, '.'),
         |    (x,i) -> i != 2), '.') AS path, t, value FROM fr)
         |SELECT path, t, round(sum(value) - 1e-9, 4) AS value
         |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // C9an: timeSlice nulls points outside the middle window, then
    // scaleToSeconds multiplies by 60/step with step = the series' own
    // min Δt (3600 on this grid)
    "gfn_slice_scale" ->
      s"""WITH $GfnFrameCte,
         |sl AS (SELECT path, t, CASE WHEN t >= 1706184000 AND t <= 1706500800
         |  THEN value END AS value FROM fr),
         |st AS (SELECT path, t, value, min(dt) OVER (PARTITION BY path) AS step FROM (
         |  SELECT path, t, value, t - lag(t) OVER (PARTITION BY path ORDER BY t) AS dt
         |  FROM sl) x)
         |SELECT 'scaleToSeconds(timeSlice(' || path || ',1706184000,1706500800),60)' AS path, t,
         | round(value * (60.0 / step) - 1e-9, 4) AS value
         |FROM st ORDER BY 1, 2""".stripMargin,
    // C9ao: per-timestamp (20th, 80th) percentile band across series
    // over the forward-filled frame; keep series with any point at or
    // outside an edge (graphite's open-interval rule)
    "gfn_band_select" ->
      s"""WITH $GfnFrameCte,
         |kl AS (SELECT path, t, last_value(value IGNORE NULLS) OVER (PARTITION BY path ORDER BY t
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value FROM fr),
         |band AS (SELECT t, list_sort(list_filter(list(value), x -> x IS NOT NULL)) AS arr
         |  FROM kl GROUP BY t),
         |bp AS (SELECT t,
         |  CASE WHEN len(arr) > 0 THEN arr[greatest(1, least(len(arr),
         |    CAST(floor(0.2*(len(arr)+1)) AS INT)))] END AS lo,
         |  CASE WHEN len(arr) > 0 THEN arr[greatest(1, least(len(arr),
         |    CAST(floor(0.8*(len(arr)+1)) AS INT)))] END AS hi
         |  FROM band),
         |keep AS (SELECT DISTINCT path FROM kl JOIN bp USING (t)
         |  WHERE value <= lo OR value >= hi)
         |SELECT 'keepLastValue(' || kl.path || ')' AS path, t,
         | round(value - 1e-9, 4) AS value
         |FROM kl JOIN keep USING (path) ORDER BY 1, 2""".stripMargin,
    // C9ap: series whose mean leaves the (30th, 70th) band of all
    // means (round-6 comparisons — both sides computed floats), each
    // painted as its constant average line
    "gfn_outside_avg" ->
      s"""WITH $GfnFrameCte,
         |av AS (SELECT path, avg(value) AS m FROM fr GROUP BY 1),
         |bd AS (SELECT list_sort(list_filter(list(m), x -> x IS NOT NULL)) AS arr FROM av),
         |bp AS (SELECT
         |  CASE WHEN len(arr) > 0 THEN arr[greatest(1, least(len(arr),
         |    CAST(floor(0.3*(len(arr)+1)) AS INT)))] END AS lo,
         |  CASE WHEN len(arr) > 0 THEN arr[greatest(1, least(len(arr),
         |    CAST(floor(0.7*(len(arr)+1)) AS INT)))] END AS hi
         |  FROM bd),
         |keep AS (SELECT path, m FROM av CROSS JOIN bp
         |  WHERE round(m, 6) <= round(lo, 6) OR round(m, 6) >= round(hi, 6))
         |SELECT 'aggregateLine(' || fr.path || ',''avg'')' AS path, t,
         | round(m - 1e-9, 4) AS value
         |FROM fr JOIN keep ON fr.path = keep.path ORDER BY 1, 2""".stripMargin,
    // C9: useSeriesAbove — the qualifying CLICK series (max > 40 on
    // the round-6 grid) have click→view applied to their names and
    // the related VIEW series drawn
    "gfn_use_series_above" ->
      s"""WITH $M,
         |${gfnFrameCteNamed("^vera\\.u1[^.]\\.click$$", "a")},
         |${gfnFrameCteNamed("^vera\\.u1[^.]\\.view$$", "w")},
         |q AS (SELECT path FROM (SELECT path, max(value) AS mx FROM fra GROUP BY 1)
         |  WHERE round(mx, 6) > 40),
         |qq AS (SELECT replace(path, 'click', 'view') AS path FROM q)
         |SELECT frw.path, frw.t, round(frw.value - 1e-9, 4) AS value
         |FROM frw JOIN qq ON frw.path = qq.path ORDER BY 1, 2""".stripMargin,
    // C15a: the tag index over the tagged namespace — implicit name
    // tag + one row per tag=value segment, K-row path metadata
    "tags_index" ->
      s"""WITH $MT,
         |p AS (SELECT DISTINCT path FROM mt)
         |SELECT path, tag, value FROM (
         |  SELECT path, 'name' AS tag, string_split(path, ';')[1] AS value FROM p
         |  UNION ALL SELECT path, 'src' AS tag, 'vera' AS value FROM p
         |  UNION ALL SELECT path, 'user' AS tag,
         |    regexp_extract(path, ';user=([^;]*)', 1) AS value FROM p)
         |ORDER BY 1, 2""".stripMargin,
    // C15f: merge == rebuild — the artifact built on the click subset
    // then merged with the whole namespace holds exactly the
    // from-scratch index rows (tags_index's SQL verbatim)
    "tags_index_merge" ->
      s"""WITH $MT,
         |p AS (SELECT DISTINCT path FROM mt)
         |SELECT path, tag, value FROM (
         |  SELECT path, 'name' AS tag, string_split(path, ';')[1] AS value FROM p
         |  UNION ALL SELECT path, 'src' AS tag, 'vera' AS value FROM p
         |  UNION ALL SELECT path, 'user' AS tag,
         |    regexp_extract(path, ';user=([^;]*)', 1) AS value FROM p)
         |ORDER BY 1, 2""".stripMargin,
    // C15g: the cgi_tags_values request served off the persisted
    // artifact — same answer, same SQL
    "tags_values_indexed" ->
      s"""WITH $MT,
         |p AS (SELECT DISTINCT path FROM mt WHERE regexp_matches(path, '^click;'))
         |SELECT DISTINCT regexp_extract(path, ';user=([^;]*)', 1) AS value
         |FROM p WHERE regexp_extract(path, ';user=([^;]*)', 1) LIKE 'u1%'
         |ORDER BY value LIMIT 5""".stripMargin,
    // C15b: seriesByTag — equality + anchored regex + not-equal over
    // the tag index resolve to exactly {u10,u13}×{non-error events};
    // the fetch replays the same two-level archive cascade
    "gfn_series_by_tag" ->
      s"""WITH $MT,
         |${taggedFrameCte(
             "regexp_matches(path, ';user=u1[03]$$') AND NOT regexp_matches(path, '^error;')")}
         |SELECT path, t, round(value, 4) AS value
         |FROM frt ORDER BY 1, 2""".stripMargin,
    // C15c: aliasByTags('user','name') — the tagged selection renamed
    // to its '.'-joined tag values
    "gfn_alias_by_tags" ->
      s"""WITH $MT,
         |${taggedFrameCte(
             "regexp_matches(path, ';user=u11$$') AND regexp_matches(path, '^(click|view);')")}
         |SELECT regexp_extract(path, ';user=([^;]*)', 1) || '.' ||
         |  string_split(path, ';')[1] AS path,
         | t, round(value, 4) AS value
         |FROM frt ORDER BY 1, 2""".stripMargin,
    // C15d: /tags/autoComplete/tags — tag names over the expr-matched
    // tagged universe (every series carries name/src/user)
    "cgi_tags_autocomplete" ->
      s"""WITH $MT,
         |p AS (SELECT DISTINCT path FROM mt)
         |SELECT DISTINCT tag FROM (
         |  SELECT 'name' AS tag FROM p
         |  UNION ALL SELECT 'src' FROM p
         |  UNION ALL SELECT 'user' FROM p)
         |ORDER BY tag LIMIT 100""".stripMargin,
    // C15e: /tags/autoComplete/values — the user values on click
    // series, u1-prefixed, first 5 in sorted order
    "cgi_tags_values" ->
      s"""WITH $MT,
         |p AS (SELECT DISTINCT path FROM mt WHERE regexp_matches(path, '^click;'))
         |SELECT DISTINCT regexp_extract(path, ';user=([^;]*)', 1) AS value
         |FROM p WHERE regexp_extract(path, ';user=([^;]*)', 1) LIKE 'u1%'
         |ORDER BY value LIMIT 5""".stripMargin,
    // C16a: groupByTags('sum','src') — three users' series collapse
    // under (name, src); SQL sum ignores nulls, all-null stays null
    "gfn_group_by_tags" ->
      s"""WITH $MT,
         |${taggedFrameCte(
             "regexp_matches(path, '^(click|view);') AND regexp_matches(path, ';user=u1[0-2]$$')")}
         |SELECT string_split(path, ';')[1] || ';src=vera' AS path, t,
         | round(sum(value), 4) AS value
         |FROM frt GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // C16b: filterSeries(max, <=, 40) — the round-6 stat gate,
    // complement of gfn_use_series_above's > gate over the same frame
    "gfn_filter_series" ->
      s"""WITH $GfnFrameCte,
         |k AS (SELECT path FROM (SELECT path, max(value) AS mx FROM fr GROUP BY 1)
         |  WHERE round(mx, 6) <= 40)
         |SELECT fr.path, fr.t, round(fr.value - 1e-9, 4) AS value
         |FROM fr JOIN k USING (path) ORDER BY 1, 2""".stripMargin,
    // C16c: divideSeriesLists — sorted-name positional pairing, which
    // on this namespace pairs each user's click with its own view
    // (replayed as the user-prefix equi-join); zero/absent divisor null
    "gfn_divide_lists" ->
      s"""WITH $M,
         |${gfnFrameCteNamed("^vera\\.u1[^.]\\.click$$", "a")},
         |${gfnFrameCteNamed("^vera\\.u1[^.]\\.view$$", "w")}
         |SELECT 'divideSeries(' || fra.path || ',' || frw.path || ')' AS path,
         | fra.t, round(CASE WHEN frw.value <> 0 THEN fra.value / frw.value END - 1e-9, 4) AS value
         |FROM fra JOIN frw
         |  ON replace(fra.path, '.click', '') = replace(frw.path, '.view', '')
         |  AND fra.t = frw.t
         |ORDER BY 1, 2""".stripMargin,
    // C16d: diffSeriesLists (missing side reads 0 unless both missing)
    // + aggregateSeriesLists multiply (either side missing nulls)
    // + the 4-arg xFilesFactor form (sum gated at 0.99: both sides
    // must be present — nn >= 0.99·2)
    "gfn_agg_lists" ->
      s"""WITH $M,
         |${gfnFrameCteNamed("^vera\\.u1[^.]\\.click$$", "a")},
         |${gfnFrameCteNamed("^vera\\.u1[^.]\\.view$$", "w")},
         |j AS (SELECT fra.path AS pa, frw.path AS pb, fra.t,
         |    fra.value AS va, frw.value AS vb
         |  FROM fra JOIN frw
         |    ON replace(fra.path, '.click', '') = replace(frw.path, '.view', '')
         |    AND fra.t = frw.t)
         |SELECT path, t, value FROM (
         |  SELECT 'diffSeries(' || pa || ',' || pb || ')' AS path, t,
         |    round(CASE WHEN va IS NOT NULL OR vb IS NOT NULL
         |      THEN coalesce(va, 0) - coalesce(vb, 0) END - 1e-9, 4) AS value FROM j
         |  UNION ALL
         |  SELECT 'multiplySeries(' || pa || ',' || pb || ')' AS path, t,
         |    round(va * vb - 1e-9, 4) AS value FROM j
         |  UNION ALL
         |  SELECT 'sumSeries(' || pa || ',' || pb || ')' AS path, t,
         |    round(CASE WHEN (CASE WHEN va IS NOT NULL THEN 1 ELSE 0 END
         |        + CASE WHEN vb IS NOT NULL THEN 1 ELSE 0 END) >= 0.99 * 2
         |      THEN coalesce(va, 0) + coalesce(vb, 0) END - 1e-9, 4) AS value FROM j)
         |ORDER BY 1, 2""".stripMargin,
    // C16e: the scalar sweep — round half-up (the documented
    // banker's-rounding divergence), add, exp, sigmoid, logit's
    // (0,1)-domain null law; names are the rendered call texts
    "gfn_scalar_sweep" ->
      s"""WITH $GfnFrameCte,
         |u AS (SELECT t, value FROM fr WHERE path = 'vera.u11.click')
         |SELECT path, t, value FROM (
         |  SELECT 'round(add(vera.u11.click,5),1)' AS path, t,
         |    round(round(value + 5, 1) - 1e-9, 4) AS value FROM u
         |  UNION ALL SELECT 'exp(scale(vera.u11.click,0.01))', t,
         |    round(exp(value * 0.01) - 1e-9, 4) FROM u
         |  UNION ALL SELECT 'sigmoid(scale(vera.u11.click,0.01))', t,
         |    round(1.0 / (1.0 + exp(-(value * 0.01))) - 1e-9, 4) FROM u
         |  UNION ALL SELECT 'logit(scale(vera.u11.click,0.001))', t,
         |    round(CASE WHEN value * 0.001 > 0 AND value * 0.001 < 1
         |      THEN ln(value * 0.001 / (1 - value * 0.001)) END - 1e-9, 4) FROM u)
         |ORDER BY 1, 2""".stripMargin,
    // C16f: window generators — constantLine's 3-point construction
    // (step = (until-from)/2 = 279600 over the 1706100000..1706659200
    // render window), threshold's labeled line, time() on a 6h step
    // ([from, until) exclusive end); no metric data fetched
    "gfn_window_generators" ->
      """SELECT path, t, value FROM (
        |  SELECT '42.5' AS path, t, 42.5 AS value
        |    FROM (VALUES (1706100000), (1706379600), (1706659200)) v(t)
        |  UNION ALL SELECT 'limit', t, 95.0
        |    FROM (VALUES (1706100000), (1706379600), (1706659200)) v(t)
        |  UNION ALL SELECT 'tick', CAST(range AS BIGINT), CAST(range AS DOUBLE)
        |    FROM range(1706100000, 1706659200, 21600)
        |  UNION ALL SELECT 'deploy', t, 1.0
        |    FROM (VALUES (1706184000), (1706184001)) v(t))
        |ORDER BY 1, 2""".stripMargin,
    // C9az: aliasQuery — each click series renamed by its VIEW
    // sibling's last non-null value on the shared hourly cascade;
    // names may collide (graphite loses identity), so the value rides
    // the ordering with Spark's NULLS FIRST; %d truncates toward zero
    // off the round(,6) stat grid
    "gfn_alias_query" ->
      s"""WITH $M,
         |${gfnFrameCteNamed("^vera\\.u[0124]\\.click$$$$", "c")},
         |${gfnFrameCteNamed("^vera\\.u[0124]\\.view$$$$", "w")},
         |lv AS (SELECT path AS rq, arg_max(value, t) AS lv
         |  FROM frw WHERE value IS NOT NULL GROUP BY 1)
         |SELECT printf('views last=%d', CAST(trunc(round(l.lv, 6)) AS BIGINT)) AS path,
         |  c.t, round(c.value - 1e-9, 4) AS value
         |FROM frc c JOIN lv l ON replace(c.path, '.click', '.view') = l.rq
         |ORDER BY 1, 2, 3 NULLS FIRST""".stripMargin,
    // C16j: xFilesFactor/limit arguments — the 3-arg aggregate's
    // non-null-fraction gate, interpolate's bounded bridge (row-
    // position gap arithmetic), aggregateLine over the shared stat
    // table ('total' = sum painted at every grid point)
    "gfn_xff_limit" ->
      s"""WITH $GfnFrameCte,
         |u AS (SELECT t, value FROM fr WHERE path = 'vera.u11.click'),
         |ag AS (SELECT 'aggregate(vera.u1?.click,"sum",0.35)' AS path, t,
         |  round(CASE WHEN count(value) >= 0.35 * count(*) THEN sum(value) END - 1e-9, 4) AS value
         |  FROM fr GROUP BY t),
         |ip0 AS (SELECT t, value, row_number() OVER (ORDER BY t) AS rn FROM u),
         |ip1 AS (SELECT t, value,
         |  last_value(value IGNORE NULLS) OVER wp AS pv,
         |  max(CASE WHEN value IS NOT NULL THEN t END) OVER wp AS pt,
         |  first_value(value IGNORE NULLS) OVER wn AS nv,
         |  min(CASE WHEN value IS NOT NULL THEN t END) OVER wn AS nt,
         |  max(CASE WHEN value IS NOT NULL THEN rn END) OVER wp AS li,
         |  min(CASE WHEN value IS NOT NULL THEN rn END) OVER wn AS ni
         |  FROM ip0 WINDOW
         |   wp AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |   wn AS (ORDER BY t ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)),
         |ip AS (SELECT 'interpolate(vera.u11.click)' AS path, t,
         |  round(CASE WHEN value IS NOT NULL THEN value
         |    WHEN ni - li - 1 <= 2 THEN pv + (nv - pv) * (t - pt) / (nt - pt)
         |  END - 1e-9, 4) AS value FROM ip1),
         |al AS (SELECT 'aggregateLine(vera.u11.click,''total'')' AS path, t,
         |  round((SELECT sum(value) FROM u) - 1e-9, 4) AS value FROM u),
         |agc AS (SELECT 'aggregate(setXFilesFactor(vera.u1?.click,0.35),"sum")' AS path, t,
         |  round(CASE WHEN count(value) >= 0.35 * count(*) THEN sum(value) END - 1e-9, 4) AS value
         |  FROM fr GROUP BY t)
         |SELECT path, t, value FROM
         | (SELECT * FROM ag UNION ALL SELECT * FROM agc
         |  UNION ALL SELECT * FROM ip UNION ALL SELECT * FROM al)
         |ORDER BY 1, 2""".stripMargin,
    // B16: the schema-driven store — one glob spanning two rule
    // groups: clicks replay THEIR cascade (raw→10m sum→1h sum, the
    // matched rule) while every other event type takes the default
    // (raw→1h avg); both answer on the same hourly grid here because
    // both specs' covering archive at this window is 1h — the rules
    // differ in METHOD and CASCADE DEPTH, which the values expose
    "store_conf_fetch" ->
      s"""WITH $M,
         |fc AS (SELECT * FROM m WHERE regexp_matches(path, '^vera\\.u1[^.]\\.click$$')),
         |c1 AS (SELECT path, ts - ts%600 AS b, sum(value) AS value FROM fc GROUP BY 1, 2),
         |c2 AS (SELECT path, b - b%3600 AS b, sum(value) AS value FROM c1 GROUP BY 1, 2),
         |pc AS (SELECT DISTINCT path FROM fc),
         |gc AS (SELECT pc.path, s.t FROM pc CROSS JOIN generate_series(1706097600, 1706659200, 3600) AS s(t)),
         |rc AS (SELECT gc.path, gc.t, c2.value AS value
         |  FROM gc LEFT JOIN c2 ON gc.path = c2.path AND gc.t = c2.b),
         |fd AS (SELECT * FROM m WHERE regexp_matches(path, '^vera\\.u1[^.]\\.')
         |  AND NOT regexp_matches(path, '\\.click$$')),
         |d1 AS (SELECT path, ts - ts%3600 AS b, avg(value) AS value FROM fd GROUP BY 1, 2),
         |pd AS (SELECT DISTINCT path FROM fd),
         |gd AS (SELECT pd.path, s.t FROM pd CROSS JOIN generate_series(1706097600, 1706659200, 3600) AS s(t)),
         |rd AS (SELECT gd.path, gd.t, d1.value AS value
         |  FROM gd LEFT JOIN d1 ON gd.path = d1.path AND gd.t = d1.b)
         |SELECT path, t, round(value - 1e-9, 4) AS value
         |FROM (SELECT * FROM rc UNION ALL SELECT * FROM rd)
         |ORDER BY 1, 2""".stripMargin,
    // B15: compaction is LOSSLESS — the compacted store's scan is the
    // raw point set, bit-for-bit (file layout is the spec's claim)
    "store_compact_fetch" ->
      s"""WITH $M
         |SELECT path, ts, round(value, 4) AS value
         |FROM m ORDER BY 1, 2, 3""".stripMargin,
    // G26: streaming maintenance is LOSSLESS — the maintained read
    // (each cold day's newest generation + the hot live tail) is the
    // raw point multiset, the B15 law with the compaction driven from
    // the ingest loop — under held-back LATE delivery (a new generation
    // of a published day) and a REPLAYED batch id too
    "store_maintained_fetch" ->
      s"""WITH $M
         |SELECT path, ts, round(value, 4) AS value
         |FROM m ORDER BY 1, 2, 3""".stripMargin,
    // G26r: retention ageing is EXACT at day granularity — after
    // vacuuming days before the first third's cut, the maintained
    // read is the raw points at-or-after the horizon; the cutoff is
    // derived in SQL exactly as the query derives it (the
    // (len/3)-th distinct day, 0-based)
    "store_retention_fetch" ->
      s"""WITH $M,
         |d AS (SELECT DISTINCT ts - ts%86400 AS day FROM m),
         |c AS (SELECT day AS cutoff FROM d ORDER BY day
         |  LIMIT 1 OFFSET (SELECT count(*)//3 FROM d))
         |SELECT path, ts, round(value, 4) AS value FROM m, c
         |WHERE ts - ts%86400 >= c.cutoff ORDER BY 1, 2, 3""".stripMargin,
    // G28: the store report's day/row counts are pure functions of the
    // fixture's routing — after 3 day-ordered ticks, late rows living in
    // their day's newest generation: cold = every day before the max
    // (on-time + late rows), hot = the live tail plus the copies the
    // 3rd tick replaced (days >= the 2/3 cut, plus the max day before
    // that cut), late = (0, 0) by construction
    "store_report" ->
      s"""WITH $M,
         |d AS (SELECT DISTINCT ts - ts%86400 AS day FROM m),
         |mx AS (SELECT max(day) AS dmax FROM d),
         |c1 AS (SELECT day AS cut1 FROM d ORDER BY day
         |  LIMIT 1 OFFSET (SELECT 2*count(*)//3 FROM d)),
         |l2 AS (SELECT max(day) AS lday FROM d, c1 WHERE day < cut1),
         |pts AS (SELECT path, ts, value, ts - ts%86400 AS day FROM m)
         |SELECT 'cold' AS section,
         |  (SELECT count(*) FROM d, mx WHERE day < dmax) AS n_days,
         |  (SELECT count(*) FROM pts, mx WHERE day < dmax) AS n_rows
         |UNION ALL
         |SELECT 'hot',
         |  (SELECT count(*) FROM d, c1, l2 WHERE day >= cut1 OR day = lday),
         |  (SELECT count(*) FROM pts, c1, l2 WHERE day >= cut1 OR day = lday)
         |UNION ALL
         |SELECT 'late', 0, 0
         |ORDER BY 1""".stripMargin,
    // C16i: string-interval moving windows — the trailing time-RANGE
    // frame (t−14399 .. t), on the hourly grid ≡ 4 trailing points;
    // names carry the QUOTED interval, graphite's string-windowSize
    // rendering
    "gfn_moving_time" ->
      s"""WITH $GfnFrameCte,
         |u AS (SELECT path, t, value FROM fr WHERE path = 'vera.u11.click'),
         |wl AS (SELECT path, t,
         |  avg(value) OVER w AS mavg,
         |  list_sort(list_filter(list(value) OVER w, x -> x IS NOT NULL)) AS arr
         |  FROM u WINDOW w AS (PARTITION BY path ORDER BY t
         |    RANGE BETWEEN 14399 PRECEDING AND CURRENT ROW))
         |SELECT path, t, value FROM (
         |  SELECT 'movingAverage(' || path || ',"4hour")' AS path, t,
         |    round(mavg - 1e-9, 4) AS value FROM wl
         |  UNION ALL
         |  SELECT 'movingMedian(' || path || ',"4hour")' AS path, t,
         |    round(CASE WHEN len(arr) > 0 THEN
         |      arr[greatest(1, least(len(arr), CAST(floor(0.5*(len(arr)+1)) AS INT)))]
         |    END - 1e-9, 4) AS value FROM wl)
         |ORDER BY 1, 2""".stripMargin,
    // C16h: the display-option family — color/lineWidth/alpha identity
    // (graphite sets style attributes without renaming), dashed/
    // stacked/drawAsInfinite rename exactly as graphite-web; values
    // untouched throughout
    "gfn_display_pack" ->
      s"""WITH $M,
         |${gfnFrameCteNamed("^vera\\.u11\\.(click|view|error)$$", "a")}
         |SELECT CASE WHEN path LIKE '%.click' THEN 'dashed(' || path || ', 10)'
         |            WHEN path LIKE '%.view' THEN 'stacked(' || path || ')'
         |            ELSE 'drawAsInfinite(' || path || ')' END AS path,
         | t, round(value - 1e-9, 4) AS value
         |FROM fra ORDER BY 1, 2""".stripMargin,
    // C16g: cactiStyle — names carry Current:/Max:/Min: stats
    // round(,2)-ed then %.2f-formatted (tie-free by construction);
    // 'current' is the latest non-null (the lexicographic struct-max)
    "gfn_cacti_style" ->
      s"""WITH $GfnFrameCte,
         |fc AS (SELECT * FROM fr WHERE regexp_matches(path, '^vera\\.u1[01]\\.click$$')),
         |k AS (SELECT path,
         |  round((max(CASE WHEN value IS NOT NULL THEN struct_pack(t := t, v := value) END)).v, 2) AS cur,
         |  round(max(value), 2) AS mx, round(min(value), 2) AS mn
         |  FROM fc GROUP BY 1)
         |SELECT fc.path || ' Current:' || coalesce(printf('%.2f', k.cur), 'nan')
         |  || ' Max:' || coalesce(printf('%.2f', k.mx), 'nan')
         |  || ' Min:' || coalesce(printf('%.2f', k.mn), 'nan') AS path,
         | fc.t, round(fc.value - 1e-9, 4) AS value
         |FROM fc JOIN k USING (path) ORDER BY 1, 2""".stripMargin,
    // C16g2: legendValue — the generic legend suffix off the shared
    // stat table; round(,2) before %.2f so the format step is tie-free
    // in both engines (the cactiStyle discipline); avg/max/total
    "gfn_legend_value" ->
      s"""WITH $GfnFrameCte,
         |st AS (SELECT path, avg(value) AS a, max(value) AS mx,
         |  sum(value) AS tt FROM fr GROUP BY 1)
         |SELECT f.path || ' (avg: ' ||
         |    CASE WHEN s.a IS NULL THEN 'None' ELSE printf('%.2f', round(s.a, 2)) END ||
         |  ') (max: ' ||
         |    CASE WHEN s.mx IS NULL THEN 'None' ELSE printf('%.2f', round(s.mx, 2)) END ||
         |  ') (total: ' ||
         |    CASE WHEN s.tt IS NULL THEN 'None' ELSE printf('%.2f', round(s.tt, 2)) END ||
         |  ')' AS path, f.t, round(f.value - 1e-9, 4) AS value
         |FROM fr f LEFT JOIN st s ON f.path = s.path
         |ORDER BY 1, 2""".stripMargin,
    // C9: reduceSeries(mapSeries(...)) — series paired by suffix
    // matcher at node 2 within each 2-node prefix, asPercent law
    // (zero/absent denominator → null), result named by the prefix
    "gfn_reduce_series" ->
      s"""WITH $M,
         |${gfnFrameCteNamed("^vera\\.u1[^.]\\.(click|view)$$", "a")},
         |k AS (SELECT string_split(path, '.')[1] || '.' ||
         |    string_split(path, '.')[2] AS gkey,
         |  string_split(path, '.')[3] AS sfx, t, value FROM fra),
         |ca AS (SELECT gkey, t, sum(value) AS av FROM k
         |  WHERE sfx = 'click' GROUP BY 1, 2),
         |cb AS (SELECT gkey, t, sum(value) AS bv FROM k
         |  WHERE sfx = 'view' GROUP BY 1, 2)
         |SELECT ca.gkey AS path, ca.t,
         | round(CASE WHEN bv <> 0 THEN av / bv * 100 END - 1e-9, 4) AS value
         |FROM ca LEFT JOIN cb ON ca.gkey = cb.gkey AND ca.t = cb.t
         |ORDER BY 1, 2""".stripMargin,
    // C9: the generic selection pipeline — highest(5,"total") rank,
    // fill-fraction gate (nn>0 AND nn >= 0.02·n, the single float
    // compare both engines share), generic sortBy("stddev",true) on
    // the shared moment formula, limit 2 by the rank tag; every stage
    // ranks on round(,6) with the path tie-break
    "gfn_generic_select" ->
      s"""WITH $GfnFrameCte,
         |st AS (SELECT path, sum(value) AS s FROM fr GROUP BY 1),
         |top5 AS (SELECT path FROM (SELECT path,
         |    row_number() OVER (ORDER BY round(s, 6) DESC NULLS LAST, path) AS rk FROM st)
         |  WHERE rk <= 5),
         |fill AS (SELECT path FROM (SELECT path, count(value) AS nn, count(*) AS n
         |    FROM fr JOIN top5 USING (path) GROUP BY path)
         |  WHERE nn > 0 AND CAST(nn AS DOUBLE) >= 0.02 * CAST(n AS DOUBLE)),
         |sd AS (SELECT fr.path,
         |    CASE WHEN count(value) > 0 THEN sqrt(greatest(0.0,
         |      (sum(value*value) - sum(value)*sum(value)/count(value))
         |        / count(value))) END AS s
         |  FROM fr JOIN fill ON fr.path = fill.path GROUP BY 1),
         |ord3 AS (SELECT path FROM (SELECT path,
         |    row_number() OVER (ORDER BY round(s, 6) DESC NULLS LAST, path) AS rk FROM sd)
         |  WHERE rk <= 2)
         |SELECT fr.path, fr.t, round(fr.value - 1e-9, 4) AS value
         |FROM fr JOIN ord3 ON fr.path = ord3.path ORDER BY 1, 2""".stripMargin,
    // C9: summarize alignToFrom — buckets anchored at each series' own
    // first grid point (t − (t − t0) % 25200), graphite's 4-arg naming
    "gfn_summarize_align" ->
      s"""WITH $GfnFrameCte,
         |anchor AS (SELECT path, min(t) AS t0 FROM fr GROUP BY 1)
         |SELECT 'summarize(' || fr.path || ', "7hour", "max", true)' AS path,
         | fr.t - ((fr.t - anchor.t0) % 25200) AS t,
         | round(max(value) - 1e-9, 4) AS value
         |FROM fr JOIN anchor ON fr.path = anchor.path
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // C9: applyByNode — the template divideSeries(%.click,%.error)
    // evaluated per 2-node user prefix: dividend joined to its own
    // group's safeSum-collapsed divisor on (user, t); zero/absent
    // divisor nulls; graphite's target.replace('%',prefix) naming
    "gfn_apply_by_node" ->
      s"""WITH $M,
         |${gfnFrameCteNamed("^vera\\.u1[^.]\\.click$$", "a")},
         |${gfnFrameCteNamed("^vera\\.u1[^.]\\.error$$", "w")},
         |ka AS (SELECT string_split(path, '.')[2] AS u, path, t, value FROM fra),
         |ke AS (SELECT string_split(path, '.')[2] AS u, t, sum(value) AS dv
         |  FROM frw GROUP BY 1, 2)
         |SELECT 'divideSeries(' || ka.path || ',vera.' || ka.u || '.error)' AS path,
         | ka.t,
         | round(CASE WHEN dv <> 0 THEN value/dv END - 1e-9, 4) AS value
         |FROM ka LEFT JOIN ke ON ka.u = ke.u AND ka.t = ke.t
         |ORDER BY 1, 2""".stripMargin,
    // C9: counter-wrap recovery — a decrease whose current reading
    // fits under the 10000 ceiling is a WRAP (delta = max − prev +
    // curr + 1), a decrease above it stays a reset (null); perSecond
    // divides the same recovered delta by the step. A null prev makes
    // the wrap arithmetic null (the first WHEN's unknown falls
    // through, the second computes with NULL) — both engines agree.
    "gfn_wrap_counter" ->
      s"""WITH $GfnFrameCte,
         |d AS (SELECT path, t, value,
         |  lag(value) OVER (PARTITION BY path ORDER BY t) AS pv,
         |  t - lag(t) OVER (PARTITION BY path ORDER BY t) AS dt FROM fr)
         |SELECT 'nonNegativeDerivative(' || path || ')' AS path, t,
         | round(CASE WHEN value - pv >= 0 THEN value - pv
         |   WHEN 10000 >= value THEN 10000 - pv + value + 1 END - 1e-9, 4) AS value
         |FROM d
         |UNION ALL
         |SELECT 'perSecond(' || path || ')' AS path, t,
         | round(CASE WHEN value - pv >= 0 AND dt > 0 THEN (value - pv)/dt
         |   WHEN 10000 >= value AND dt > 0 THEN (10000 - pv + value + 1)/dt
         |   END - 1e-9, 4) AS value
         |FROM d ORDER BY 1, 2""".stripMargin,
    // C9: consolidateBy + maxDataPoints — the renderer's point-budget
    // consolidation: factor = ceil(n/24) integer buckets IN ROW ORDER,
    // nulls dropped inside a bucket (SQL aggregate semantics), bucket
    // keeps its first timestamp; the max-tagged clicks take per-bucket
    // max, the untagged views the average default (consolidateBy
    // OVERRIDES the default — fn rides the wrapped name)
    "gfn_consolidate" ->
      s"""WITH $M,
         |${gfnFrameCteNamed("^vera\\.u1[^.]\\.click$$", "a")},
         |${gfnFrameCteNamed("^vera\\.u1[^.]\\.view$$", "w")},
         |u AS (SELECT 'consolidateBy(' || path || ',"max")' AS path, t, value,
         |    'max' AS fn FROM fra
         |  UNION ALL SELECT path, t, value, 'avg' AS fn FROM frw),
         |tg AS (SELECT path, t, value, fn,
         |  row_number() OVER (PARTITION BY path ORDER BY t) AS rn,
         |  count(*) OVER (PARTITION BY path) AS n FROM u),
         |bk AS (SELECT path, t, value, fn,
         |  (rn - 1) // CAST(ceil(n / 24.0) AS BIGINT) AS b FROM tg),
         |cg AS (SELECT path, fn, b, min(t) AS t,
         |  avg(value) AS c_avg, max(value) AS c_max FROM bk GROUP BY 1, 2, 3)
         |SELECT path, t,
         | round(CASE WHEN fn = 'max' THEN c_max ELSE c_avg END - 1e-9, 4) AS value
         |FROM cg ORDER BY 1, 2""".stripMargin,
    // C9aq: aggregate(...,"range") → minMax — across-series spread per
    // t (all-null stays null), then per-series [0,1] normalization
    // against the combined series' own non-null min/max (flat → 0)
    "gfn_aggregate_minmax" ->
      s"""WITH $GfnFrameCte,
         |rg AS (SELECT 'aggregate(vera.u1?.click,"range")' AS path, t,
         |  max(value) - min(value) AS value FROM fr GROUP BY 2),
         |mm AS (SELECT path, t, value,
         |  min(value) OVER (PARTITION BY path) AS mn,
         |  max(value) OVER (PARTITION BY path) AS mx FROM rg)
         |SELECT 'minMax(' || path || ')' AS path, t,
         | round(CASE WHEN value IS NULL THEN NULL
         |   WHEN mx = mn THEN 0.0 ELSE (value - mn)/(mx - mn) END - 1e-9, 4) + 0.0 AS value
         |FROM mm ORDER BY 1, 2""".stripMargin,
    // C9ar: groupByNodes(1,2) — every u1x event stream grouped under
    // the dot-joined (user, event) node pair, safeSum per (key, t)
    "gfn_group_nodes" ->
      s"""WITH $M,
         |${gfnFrameCteNamed("^vera\\.u1[^.]\\.[^.]+$$", "g")}
         |SELECT string_split(path, '.')[2] || '.' || string_split(path, '.')[3] AS path, t,
         | round(sum(value) - 1e-9, 4) AS value
         |FROM frg GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // C9as: multiplySeriesWithWildcards(1) — names reduced by dropping
    // node 1 merge under 'vera.click'; per-t product with the
    // any-missing-factor-nulls law (DuckDB product() vs the sorted
    // in-row fold agree within the shared Eps+round — the
    // multiplySeries argument)
    "gfn_multiply_wildcards" ->
      s"""WITH $GfnFrameCte
         |SELECT 'vera.click' AS path, t,
         | round(CASE WHEN count(*) = count(value) AND count(*) > 0
         |   THEN product(value) END - 1e-9, 4) AS value
         |FROM fr GROUP BY 2 ORDER BY 1, 2""".stripMargin,
    // C9at: unique() collapses the duplicate series from overlapping
    // globs (group(u1?.click, u11.click) carries u11 twice), then
    // keepLastValue(...,2) bridges only consecutive-null runs whose
    // WHOLE length is <= 2 (graphite's rule — a 3-null gap stays
    // fully broken; gap length = next non-null rn − last non-null
    // rn − 1, trailing runs measured to one-past-end), wrapped by
    // the secondYAxis axis marker
    "gfn_keeplast_unique" ->
      s"""WITH $GfnFrameCte,
         |tag AS (SELECT path, t, value,
         |  row_number() OVER (PARTITION BY path ORDER BY t) AS rn FROM fr),
         |st AS (SELECT path, t, value, rn,
         |  max(CASE WHEN value IS NOT NULL THEN rn END) OVER (
         |    PARTITION BY path ORDER BY rn) AS li,
         |  min(CASE WHEN value IS NOT NULL THEN rn END) OVER (
         |    PARTITION BY path ORDER BY rn
         |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS ni,
         |  max(rn) OVER (PARTITION BY path) AS mx,
         |  last_value(value IGNORE NULLS) OVER (PARTITION BY path ORDER BY rn
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hv
         |  FROM tag)
         |SELECT 'secondYAxis(keepLastValue(' || path || '))' AS path, t,
         | round(CASE WHEN value IS NOT NULL THEN value
         |   WHEN li IS NOT NULL AND coalesce(ni, mx + 1) - li - 1 <= 2
         |   THEN hv END - 1e-9, 4) AS value
         |FROM st ORDER BY 1, 2""".stripMargin,
    // C9aa: weightedAverage on the user node — Σ click·view / Σ view
    // per t over node-matched pairs; weights count only when the value
    // side is present
    "gfn_weighted_avg" ->
      s"""WITH $M,
         |${gfnFrameCteNamed("^vera\\.u1[^.]\\.click$$", "a")},
         |${gfnFrameCteNamed("^vera\\.u1[^.]\\.view$$", "w")},
         |ka AS (SELECT string_split(path, '.')[2] AS k, t, value AS va FROM fra),
         |kw AS (SELECT string_split(path, '.')[2] AS k, t, value AS vw FROM frw),
         |j AS (SELECT ka.t, ka.va, kw.vw FROM ka JOIN kw ON ka.k = kw.k AND ka.t = kw.t),
         |ag AS (SELECT t, sum(va*vw) AS num,
         |  sum(CASE WHEN va IS NOT NULL THEN vw END) AS den FROM j GROUP BY 1)
         |SELECT 'weightedAverage(vera.u1?.click,vera.u1?.view,1)' AS path, t,
         | round(CASE WHEN den <> 0 THEN num/den END - 1e-9, 4) AS value
         |FROM ag ORDER BY 2""".stripMargin,
    // C9ab: holtWintersForecast — the recursive triple smoother over
    // the combined series; the WITH RECURSIVE carries (lvl, trd,
    // season ring) and replays the IDENTICAL update sequence: seed on
    // first non-null, gaps emit the forecast but hold the state, the
    // ring slot k = (rn−1) mod 24 updates by list slicing
    "gfn_holt_winters" ->
      s"""WITH RECURSIVE $GfnFrameCte,
         |ss AS (SELECT t, sum(value) AS value FROM fr GROUP BY 1),
         |pts AS (SELECT t, value, row_number() OVER (ORDER BY t) AS rn FROM ss),
         |zeros AS (SELECT list_transform(range(24), x -> CAST(0.0 AS DOUBLE)) AS z),
         |rec AS (
         |  SELECT p.t, p.rn, p.value,
         |    CAST(NULL AS DOUBLE) AS fc,
         |    CASE WHEN p.value IS NOT NULL THEN p.value END AS lvl,
         |    CAST(0.0 AS DOUBLE) AS trd, (SELECT z FROM zeros) AS season
         |  FROM pts p WHERE p.rn = 1
         |  UNION ALL
         |  SELECT p.t, p.rn, p.value,
         |    CASE WHEN r.lvl IS NULL THEN NULL
         |         ELSE r.lvl + r.trd + r.season[((p.rn-1) % 24) + 1] END AS fc,
         |    CASE WHEN p.value IS NULL THEN r.lvl
         |         WHEN r.lvl IS NULL THEN p.value
         |         ELSE 0.1*(p.value - r.season[((p.rn-1) % 24) + 1])
         |              + 0.9*(r.lvl + r.trd) END AS lvl,
         |    CASE WHEN p.value IS NULL OR r.lvl IS NULL THEN r.trd
         |         ELSE 0.0035*((0.1*(p.value - r.season[((p.rn-1) % 24) + 1])
         |                       + 0.9*(r.lvl + r.trd)) - r.lvl)
         |              + 0.9965*r.trd END AS trd,
         |    CASE WHEN p.value IS NULL OR r.lvl IS NULL THEN r.season
         |         ELSE r.season[1:((p.rn-1) % 24)]
         |           || [0.1*(p.value - (0.1*(p.value - r.season[((p.rn-1) % 24) + 1])
         |                               + 0.9*(r.lvl + r.trd)))
         |               + 0.9*r.season[((p.rn-1) % 24) + 1]]
         |           || r.season[((p.rn-1) % 24) + 2 :] END AS season
         |  FROM pts p JOIN rec r ON p.rn = r.rn + 1)
         |SELECT 'holtWintersForecast(sumSeries(vera.u1?.click),"1day")' AS path,
         | t, round(fc - 1e-9, 4) AS value
         |FROM rec ORDER BY 2""".stripMargin,
    // C9ac: the confidence envelope — the SAME recursive state chain
    // extended with a second (deviation) ring: dev'[k] = 0.1·|v − fc|
    // + 0.9·dev[k] on present post-seed points; upper/lower = fc ±
    // 3·dev[k] with the PRE-update slot (the season-ring discipline on
    // the error channel)
    "gfn_hw_bands" ->
      s"""WITH RECURSIVE $GfnFrameCte,
         |ss AS (SELECT t, sum(value) AS value FROM fr GROUP BY 1),
         |pts AS (SELECT t, value, row_number() OVER (ORDER BY t) AS rn FROM ss),
         |zeros AS (SELECT list_transform(range(24), x -> CAST(0.0 AS DOUBLE)) AS z),
         |rec AS (
         |  SELECT p.t, p.rn, p.value,
         |    CAST(NULL AS DOUBLE) AS fc, CAST(NULL AS DOUBLE) AS dk,
         |    CASE WHEN p.value IS NOT NULL THEN p.value END AS lvl,
         |    CAST(0.0 AS DOUBLE) AS trd,
         |    (SELECT z FROM zeros) AS season,
         |    (SELECT z FROM zeros) AS dev
         |  FROM pts p WHERE p.rn = 1
         |  UNION ALL
         |  SELECT p.t, p.rn, p.value,
         |    CASE WHEN r.lvl IS NULL THEN NULL
         |         ELSE r.lvl + r.trd + r.season[((p.rn-1) % 24) + 1] END AS fc,
         |    r.dev[((p.rn-1) % 24) + 1] AS dk,
         |    CASE WHEN p.value IS NULL THEN r.lvl
         |         WHEN r.lvl IS NULL THEN p.value
         |         ELSE 0.1*(p.value - r.season[((p.rn-1) % 24) + 1])
         |              + 0.9*(r.lvl + r.trd) END AS lvl,
         |    CASE WHEN p.value IS NULL OR r.lvl IS NULL THEN r.trd
         |         ELSE 0.0035*((0.1*(p.value - r.season[((p.rn-1) % 24) + 1])
         |                       + 0.9*(r.lvl + r.trd)) - r.lvl)
         |              + 0.9965*r.trd END AS trd,
         |    CASE WHEN p.value IS NULL OR r.lvl IS NULL THEN r.season
         |         ELSE r.season[1:((p.rn-1) % 24)]
         |           || [0.1*(p.value - (0.1*(p.value - r.season[((p.rn-1) % 24) + 1])
         |                               + 0.9*(r.lvl + r.trd)))
         |               + 0.9*r.season[((p.rn-1) % 24) + 1]]
         |           || r.season[((p.rn-1) % 24) + 2 :] END AS season,
         |    CASE WHEN p.value IS NULL OR r.lvl IS NULL THEN r.dev
         |         ELSE r.dev[1:((p.rn-1) % 24)]
         |           || [0.1*abs(p.value - (r.lvl + r.trd + r.season[((p.rn-1) % 24) + 1]))
         |               + 0.9*r.dev[((p.rn-1) % 24) + 1]]
         |           || r.dev[((p.rn-1) % 24) + 2 :] END AS dev
         |  FROM pts p JOIN rec r ON p.rn = r.rn + 1)
         |SELECT path, t, round(value - 1e-9, 4) AS value FROM (
         |  SELECT 'holtWintersConfidenceLower(sumSeries(vera.u1?.click))' AS path,
         |    t, fc - 3.0*dk AS value FROM rec
         |  UNION ALL
         |  SELECT 'holtWintersConfidenceUpper(sumSeries(vera.u1?.click))' AS path,
         |    t, fc + 3.0*dk AS value FROM rec) u
         |ORDER BY 1, 2""".stripMargin,
    // C9ac: aberration — excursion past the same envelope; 0 inside,
    // 0 at gaps and before the forecast seeds (alerting semantics:
    // "no anomaly", never "no data")
    "gfn_hw_aberration" ->
      s"""WITH RECURSIVE $GfnFrameCte,
         |ss AS (SELECT t, sum(value) AS value FROM fr GROUP BY 1),
         |pts AS (SELECT t, value, row_number() OVER (ORDER BY t) AS rn FROM ss),
         |zeros AS (SELECT list_transform(range(24), x -> CAST(0.0 AS DOUBLE)) AS z),
         |rec AS (
         |  SELECT p.t, p.rn, p.value,
         |    CAST(NULL AS DOUBLE) AS fc, CAST(NULL AS DOUBLE) AS dk,
         |    CASE WHEN p.value IS NOT NULL THEN p.value END AS lvl,
         |    CAST(0.0 AS DOUBLE) AS trd,
         |    (SELECT z FROM zeros) AS season,
         |    (SELECT z FROM zeros) AS dev
         |  FROM pts p WHERE p.rn = 1
         |  UNION ALL
         |  SELECT p.t, p.rn, p.value,
         |    CASE WHEN r.lvl IS NULL THEN NULL
         |         ELSE r.lvl + r.trd + r.season[((p.rn-1) % 24) + 1] END AS fc,
         |    r.dev[((p.rn-1) % 24) + 1] AS dk,
         |    CASE WHEN p.value IS NULL THEN r.lvl
         |         WHEN r.lvl IS NULL THEN p.value
         |         ELSE 0.1*(p.value - r.season[((p.rn-1) % 24) + 1])
         |              + 0.9*(r.lvl + r.trd) END AS lvl,
         |    CASE WHEN p.value IS NULL OR r.lvl IS NULL THEN r.trd
         |         ELSE 0.0035*((0.1*(p.value - r.season[((p.rn-1) % 24) + 1])
         |                       + 0.9*(r.lvl + r.trd)) - r.lvl)
         |              + 0.9965*r.trd END AS trd,
         |    CASE WHEN p.value IS NULL OR r.lvl IS NULL THEN r.season
         |         ELSE r.season[1:((p.rn-1) % 24)]
         |           || [0.1*(p.value - (0.1*(p.value - r.season[((p.rn-1) % 24) + 1])
         |                               + 0.9*(r.lvl + r.trd)))
         |               + 0.9*r.season[((p.rn-1) % 24) + 1]]
         |           || r.season[((p.rn-1) % 24) + 2 :] END AS season,
         |    CASE WHEN p.value IS NULL OR r.lvl IS NULL THEN r.dev
         |         ELSE r.dev[1:((p.rn-1) % 24)]
         |           || [0.1*abs(p.value - (r.lvl + r.trd + r.season[((p.rn-1) % 24) + 1]))
         |               + 0.9*r.dev[((p.rn-1) % 24) + 1]]
         |           || r.dev[((p.rn-1) % 24) + 2 :] END AS dev
         |  FROM pts p JOIN rec r ON p.rn = r.rn + 1)
         |SELECT 'holtWintersAberration(sumSeries(vera.u1?.click))' AS path, t,
         | round(CASE WHEN value IS NULL OR fc IS NULL THEN 0.0
         |        WHEN value > fc + 3.0*dk THEN value - (fc + 3.0*dk)
         |        WHEN value < fc - 3.0*dk THEN value - (fc - 3.0*dk)
         |        ELSE 0.0 END - 1e-9, 4) + 0.0 AS value
         |FROM rec ORDER BY 2""".stripMargin,
    // C9ad: the pointwise null/math family — five map-only transforms
    // of the same raw frame, replayed as five UNION branches
    "gfn_pointwise" ->
      s"""WITH $GfnFrameCte,
         |u AS (
         |  SELECT 'transformNull(' || path || ',0)' AS path, t,
         |    coalesce(value, 0.0) AS value FROM fr
         |  UNION ALL
         |  SELECT 'isNonNull(' || path || ')' AS path, t,
         |    CASE WHEN value IS NOT NULL THEN 1.0 ELSE 0.0 END AS value FROM fr
         |  UNION ALL
         |  SELECT 'logarithm(' || path || ',10)' AS path, t,
         |    CASE WHEN value > 0 THEN ln(value) / ln(10.0) END AS value FROM fr
         |  UNION ALL
         |  SELECT 'squareRoot(' || path || ')' AS path, t,
         |    CASE WHEN value >= 0 THEN sqrt(value) END AS value FROM fr
         |  UNION ALL
         |  SELECT 'invert(' || path || ')' AS path, t,
         |    CASE WHEN value <> 0 THEN 1.0/value END AS value FROM fr)
         |SELECT path, t, round(value - 1e-9, 4) + 0.0 AS value FROM u
         |ORDER BY 1, 2""".stripMargin,
    // C9ae: changed + delay — one lag window each; changed needs BOTH
    // points present and unequal
    "gfn_changed_delay" ->
      s"""WITH $GfnFrameCte,
         |sq AS (SELECT path, t, value,
         |  lag(value) OVER (PARTITION BY path ORDER BY t) AS pv,
         |  lag(value, 2) OVER (PARTITION BY path ORDER BY t) AS dv
         |  FROM fr),
         |u AS (
         |  SELECT 'changed(' || path || ')' AS path, t,
         |    CASE WHEN value IS NOT NULL AND pv IS NOT NULL AND value <> pv
         |         THEN 1.0 ELSE 0.0 END AS value FROM sq
         |  UNION ALL
         |  SELECT 'delay(' || path || ',2)' AS path, t, dv AS value FROM sq)
         |SELECT path, t, round(value - 1e-9, 4) + 0.0 AS value FROM u
         |ORDER BY 1, 2""".stripMargin,
    // C9af: diffSeries (missing subtrahend subtracts 0, missing
    // minuend stays null) + multiplySeries (any missing factor nulls
    // the product; DuckDB's product() vs the in-row fold agree within
    // the shared Eps+round, the stddevSeries moment-sum argument)
    "gfn_diff_multiply" ->
      s"""WITH $M,
         |${gfnFrameCteNamed("^vera\\.u1[^.]\\.click$$", "c")},
         |${gfnFrameCteNamed("^vera\\.u1[^.]\\.error$$", "e")},
         |dc AS (SELECT t, sum(value) AS v FROM frc GROUP BY 1),
         |de AS (SELECT t, sum(value) AS sv FROM fre GROUP BY 1),
         |mp AS (SELECT t, count(*) AS n, count(value) AS nn,
         |  product(value) AS pr FROM frc GROUP BY 1),
         |u AS (
         |  SELECT 'diffSeries(sumSeries(vera.u1?.click),sumSeries(vera.u1?.error))' AS path,
         |    dc.t, dc.v - coalesce(de.sv, 0.0) AS value
         |  FROM dc LEFT JOIN de USING (t)
         |  UNION ALL
         |  SELECT 'multiplySeries(vera.u1?.click)' AS path, t,
         |    CASE WHEN nn = n AND n > 0 THEN pr END AS value FROM mp)
         |SELECT path, t, round(value - 1e-9, 4) AS value FROM u
         |ORDER BY 1, 2""".stripMargin,
    // C9ag: percentile gates — the shared clamped discrete rank, per
    // series (removeAbove/BelowPercentile) and per timestamp
    // (percentileOfSeries)
    "gfn_percentile_gates" ->
      s"""WITH $GfnFrameCte,
         |nn AS (SELECT path, value,
         |  row_number() OVER (PARTITION BY path ORDER BY value, t) AS rn,
         |  count(*) OVER (PARTITION BY path) AS cnt
         |  FROM fr WHERE value IS NOT NULL),
         |p90 AS (SELECT path, value AS pv FROM nn
         |  WHERE rn = greatest(1, least(cnt, CAST(floor(0.90*(cnt+1)) AS BIGINT)))),
         |p10 AS (SELECT path, value AS pv FROM nn
         |  WHERE rn = greatest(1, least(cnt, CAST(floor(0.10*(cnt+1)) AS BIGINT)))),
         |ps AS (SELECT t, list_sort(list_filter(list(value), x -> x IS NOT NULL)) AS arr
         |  FROM fr GROUP BY 1),
         |u AS (
         |  SELECT 'removeAbovePercentile(' || f.path || ',90)' AS path, f.t,
         |    CASE WHEN f.value <= p90.pv THEN f.value END AS value
         |  FROM fr f LEFT JOIN p90 ON f.path = p90.path
         |  UNION ALL
         |  SELECT 'removeBelowPercentile(' || f.path || ',10)' AS path, f.t,
         |    CASE WHEN f.value >= p10.pv THEN f.value END AS value
         |  FROM fr f LEFT JOIN p10 ON f.path = p10.path
         |  UNION ALL
         |  SELECT 'percentileOfSeries(vera.u1?.click,90)' AS path, t,
         |    CASE WHEN len(arr) > 0 THEN
         |      arr[greatest(1, least(len(arr), CAST(floor(0.90*(len(arr)+1)) AS INT)))]
         |    END AS value FROM ps)
         |SELECT path, t, round(value - 1e-9, 4) AS value FROM u
         |ORDER BY 1, 2""".stripMargin,
    // C9ai: smartSummarize — per-series window-start-aligned buckets
    // (t0 = the frame's min t), same aggregate dispatch as summarize
    "gfn_smart_summarize" ->
      s"""WITH $GfnFrameCte,
         |t0 AS (SELECT path, min(t) AS t0 FROM fr GROUP BY 1),
         |sb AS (SELECT f.path, f.t - ((f.t - t0.t0) % 18000) AS b, f.value
         |  FROM fr f JOIN t0 USING (path)),
         |ag AS (SELECT path, b AS t, max(value) AS value FROM sb GROUP BY 1,2)
         |SELECT 'smartSummarize(' || path || ', "5hour", "max")' AS path, t,
         | round(value - 1e-9, 4) AS value FROM ag ORDER BY 1, 2""".stripMargin,
    // C9aj: timeStack — three shifted-window fetches over the SAME
    // hourly archive chain (shifts are 3600-multiples, so each grid is
    // the render grid slid back), relabeled onto the render window
    "gfn_timestack" ->
      s"""WITH $M,
         |f AS (SELECT * FROM m WHERE regexp_matches(path, '^vera\\.u1[^.]\\.click$$')),
         |a1 AS (SELECT path, ts - ts%600 AS bucket, avg(value) AS value FROM f GROUP BY 1,2),
         |a2 AS (SELECT path, bucket - bucket%3600 AS bucket, avg(value) AS value FROM a1 GROUP BY 1,2),
         |p AS (SELECT DISTINCT path FROM f),
         |g0 AS (SELECT p.path, s.t FROM p CROSS JOIN generate_series(1706097600, 1706659200, 3600) AS s(t)),
         |fr0 AS (SELECT g0.path, g0.t, a2.value FROM g0 LEFT JOIN a2 ON g0.path = a2.path AND g0.t = a2.bucket),
         |ss0 AS (SELECT t, sum(value) AS value FROM fr0 GROUP BY 1),
         |g1 AS (SELECT p.path, s.t FROM p CROSS JOIN generate_series(1706083200, 1706644800, 3600) AS s(t)),
         |fr1 AS (SELECT g1.path, g1.t, a2.value FROM g1 LEFT JOIN a2 ON g1.path = a2.path AND g1.t = a2.bucket),
         |ss1 AS (SELECT t, sum(value) AS value FROM fr1 GROUP BY 1),
         |g2 AS (SELECT p.path, s.t FROM p CROSS JOIN generate_series(1706068800, 1706630400, 3600) AS s(t)),
         |fr2 AS (SELECT g2.path, g2.t, a2.value FROM g2 LEFT JOIN a2 ON g2.path = a2.path AND g2.t = a2.bucket),
         |ss2 AS (SELECT t, sum(value) AS value FROM fr2 GROUP BY 1)
         |SELECT path, t, round(value - 1e-9, 4) AS value FROM (
         |  SELECT 'timeShift(sumSeries(vera.u1?.click),"4hour,0")' AS path, t, value FROM ss0
         |  UNION ALL
         |  SELECT 'timeShift(sumSeries(vera.u1?.click),"4hour,1")' AS path, t + 14400 AS t, value FROM ss1
         |  UNION ALL
         |  SELECT 'timeShift(sumSeries(vera.u1?.click),"4hour,2")' AS path, t + 28800 AS t, value FROM ss2) u
         |ORDER BY 1, 2""".stripMargin,
    // C9ah: substr node slice over the top-2-by-average selection —
    // the alias_nodes pattern with a range instead of a node list
    "gfn_substr" ->
      s"""WITH $GfnFrameCte,
         |st AS (SELECT path, avg(value) AS s FROM fr GROUP BY 1),
         |top AS (SELECT path FROM (SELECT path,
         |    row_number() OVER (ORDER BY round(s, 6) DESC NULLS LAST, path) AS rk
         |  FROM st) WHERE rk <= 2)
         |SELECT string_split(f.path, '.')[2] || '.' || string_split(f.path, '.')[3] AS path,
         | f.t, round(f.value - 1e-9, 4) AS value
         |FROM fr f JOIN top ON f.path = top.path ORDER BY 1, 2""".stripMargin,
    // C9h: the URL round trip — function target through /render
    // format=csv; the env's -Eps input shift rides max() exactly
    "gfn_cgi_render" ->
      s"""WITH $M,
         |f AS (SELECT path, ts, value - 1e-9 AS value FROM m
         |  WHERE regexp_matches(path, '^vera\\.u1[^.]\\.click$$')),
         |a1 AS (SELECT path, ts - ts%600 AS bucket, avg(value) AS value FROM f GROUP BY 1,2),
         |a2 AS (SELECT path, bucket - bucket%3600 AS bucket, avg(value) AS value FROM a1 GROUP BY 1,2),
         |p AS (SELECT DISTINCT path FROM f),
         |g AS (SELECT p.path, s.t FROM p CROSS JOIN generate_series(1706097600, 1706659200, 3600) AS s(t)),
         |fr2 AS (SELECT g.path, g.t, a2.value AS value
         |  FROM g LEFT JOIN a2 ON g.path = a2.path AND g.t = a2.bucket)
         |SELECT 'peak' AS target,
         | strftime(make_timestamp(t*1000000), '%Y-%m-%d %H:%M:%S') AS ts_str,
         | round(max(value), 4) AS value
         |FROM fr2 GROUP BY t ORDER BY 1, 2""".stripMargin,
    // C8a: the URL-dispatched csv render. Same fetch pipeline as
    // render_csv, but the -Eps tie-guard is applied to the INPUT values
    // (the Cgi path has no post-fetch hook); avg is linear, so the two
    // placements agree to the same 4-dp rounding.
    "cgi_render_csv" ->
      s"""WITH $M,
         |f AS (SELECT path, ts, value - 1e-9 AS value FROM m
         |  WHERE regexp_matches(path, '^vera\\.u1[^.]\\.click$$')),
         |a1 AS (SELECT path, ts - ts%600 AS bucket, avg(value) AS value FROM f GROUP BY 1,2),
         |a2 AS (SELECT path, bucket - bucket%3600 AS bucket, avg(value) AS value FROM a1 GROUP BY 1,2),
         |p AS (SELECT DISTINCT path FROM f),
         |g AS (SELECT p.path, s.t FROM p CROSS JOIN generate_series(1706097600, 1706659200, 3600) AS s(t))
         |SELECT g.path AS target,
         | strftime(make_timestamp(g.t*1000000), '%Y-%m-%d %H:%M:%S') AS ts_str,
         | round(a2.value,4) AS value
         |FROM g LEFT JOIN a2 ON g.path = a2.path AND g.t = a2.bucket
         |ORDER BY 1, 2""".stripMargin,
    // C8d: the URL-dispatched maxDataPoints render — same -Eps-shifted
    // fetch as cgi_render_csv (max and avg are order-preserving /
    // linear, so the input-side shift survives consolidation), the
    // consolidateBy(...,'max') target's integer-bucket consolidation
    // (factor ceil(157/24)=7), csv's round(,4) at the very end
    "cgi_render_maxdp" ->
      s"""WITH $M,
         |f AS (SELECT path, ts, value - 1e-9 AS value FROM m
         |  WHERE regexp_matches(path, '^vera\\.u1[^.]\\.click$$')),
         |a1 AS (SELECT path, ts - ts%600 AS bucket, avg(value) AS value FROM f GROUP BY 1,2),
         |a2 AS (SELECT path, bucket - bucket%3600 AS bucket, avg(value) AS value FROM a1 GROUP BY 1,2),
         |p AS (SELECT DISTINCT path FROM f),
         |g AS (SELECT p.path, s.t FROM p CROSS JOIN generate_series(1706097600, 1706659200, 3600) AS s(t)),
         |fr AS (SELECT 'consolidateBy(' || g.path || ',"max")' AS path, g.t, a2.value AS value
         |  FROM g LEFT JOIN a2 ON g.path = a2.path AND g.t = a2.bucket),
         |tg AS (SELECT path, t, value,
         |  row_number() OVER (PARTITION BY path ORDER BY t) AS rn,
         |  count(*) OVER (PARTITION BY path) AS n FROM fr),
         |bk AS (SELECT path, t, value,
         |  (rn - 1) // CAST(ceil(n / 24.0) AS BIGINT) AS b FROM tg),
         |cg AS (SELECT path, b, min(t) AS t, max(value) AS v FROM bk GROUP BY 1, 2)
         |SELECT path AS target,
         | strftime(make_timestamp(t*1000000), '%Y-%m-%d %H:%M:%S') AS ts_str,
         | round(v, 4) AS value
         |FROM cg ORDER BY 1, 2""".stripMargin,
    // C8e: budget-aware archive selection — the same -Eps-shifted
    // fetch cascaded ONE level further (86400s avg-of-avg, the level
    // maxDataPoints=5 selects: 8 daily points ≥ 5 < 157 hourly), the
    // daily grid from the day-quantized from, then default-average
    // consolidation factor ceil(8/5)=2
    "cgi_render_maxdp_archive" ->
      s"""WITH $M,
         |f AS (SELECT path, ts, value - 1e-9 AS value FROM m
         |  WHERE regexp_matches(path, '^vera\\.u1[^.]\\.click$$')),
         |a1 AS (SELECT path, ts - ts%600 AS bucket, avg(value) AS value FROM f GROUP BY 1,2),
         |a2 AS (SELECT path, bucket - bucket%3600 AS bucket, avg(value) AS value FROM a1 GROUP BY 1,2),
         |a3 AS (SELECT path, bucket - bucket%86400 AS bucket, avg(value) AS value FROM a2 GROUP BY 1,2),
         |p AS (SELECT DISTINCT path FROM f),
         |g AS (SELECT p.path, s.t FROM p CROSS JOIN generate_series(1706054400, 1706659200, 86400) AS s(t)),
         |fr AS (SELECT g.path, g.t, a3.value AS value
         |  FROM g LEFT JOIN a3 ON g.path = a3.path AND g.t = a3.bucket),
         |tg AS (SELECT path, t, value,
         |  row_number() OVER (PARTITION BY path ORDER BY t) AS rn,
         |  count(*) OVER (PARTITION BY path) AS n FROM fr),
         |cg AS (SELECT path, (rn - 1) // CAST(ceil(n / 5.0) AS BIGINT) AS b,
         |  min(t) AS t, avg(value) AS v FROM tg GROUP BY 1, 2)
         |SELECT path AS target,
         | strftime(make_timestamp(t*1000000), '%Y-%m-%d %H:%M:%S') AS ts_str,
         | round(v, 4) AS value
         |FROM cg ORDER BY 1, 2""".stripMargin,
    // C8b: URL-dispatched completer find (escaped glob, one query —
    // the relational completer shape without the fixture's q column)
    "cgi_find" ->
      s"""WITH $M, p AS (SELECT DISTINCT path FROM m)
         |SELECT CAST(1 AS BIGINT) AS is_leaf, path, split_part(path,'.',3) AS name
         |FROM p WHERE regexp_matches(path, '^vera\\.u1\\.[^.]+$$')
         |ORDER BY path""".stripMargin,
    // C8c: URL-dispatched expand, leavesOnly=1 (leaf paths only — no
    // trailing dots)
    "cgi_expand" ->
      s"""WITH $M, p AS (SELECT DISTINCT path FROM m)
         |SELECT path FROM p WHERE regexp_matches(path, '^vera\\.u(1|2|3)\\.[^.]+$$')
         |ORDER BY path""".stripMargin,
    // C6: the json render document rebuilt verbatim — same fetch CTE,
    // same -Eps + round(,4), same DECIMAL(38,4) value formatting, gaps
    // as the literal 'null' (graphite_cgi.lua:340-371)
    "render_json" ->
      s"""WITH $FetchCte
         |SELECT g.path AS target,
         | '[' || string_agg(
         |   '[' || CASE WHEN a2.value IS NULL THEN 'null'
         |          ELSE CAST(round(a2.value - 1e-9, 4) AS DECIMAL(38,4))::VARCHAR END
         |   || ', ' || g.t || ']', ', ' ORDER BY g.t) || ']' AS datapoints
         |FROM g LEFT JOIN a2 ON g.path = a2.path AND g.t = a2.bucket
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // ---- D. dataMine bridge ----
    "dm_resample" ->
      s"""WITH $M,
         |pts AS (SELECT ts AS pt, max(value) AS value FROM m
         |  WHERE path = 'vera.u42.click' GROUP BY 1),
         |grid AS (SELECT CAST(floor(1704067200 + s.i*25920.0 + 0.5) AS BIGINT) AS t
         |  FROM generate_series(0,100) AS s(i))
         |SELECT grid.t, round(pts.value,4) AS value
         |FROM grid ASOF LEFT JOIN pts ON pts.pt <= grid.t
         |ORDER BY 1""".stripMargin,
    "dm_filter" ->
      s"""WITH $M,
         |pts AS (SELECT ts AS pt, max(value) AS value FROM m
         |  WHERE path = 'vera.u42.click' GROUP BY 1),
         |grid AS (SELECT CAST(floor(1704067200 + s.i*25920.0 + 0.5) AS BIGINT) AS t
         |  FROM generate_series(0,100) AS s(i))
         |SELECT grid.t,
         |  round(CASE WHEN pts.value IS NULL THEN NULL
         |    ELSE LEAST(GREATEST(pts.value + CAST(2.5 AS DOUBLE),
         |      CAST(10.0 AS DOUBLE)), CAST(75.0 AS DOUBLE)) END, 4) AS value
         |FROM grid ASOF LEFT JOIN pts ON pts.pt <= grid.t
         |ORDER BY 1""".stripMargin,
    "dm_resample_all" ->
      s"""WITH $MD,
         |pts AS (SELECT path, ts AS pt, max(value) AS value FROM md GROUP BY 1,2),
         |grid AS (SELECT p.path, CAST(floor(1704067200 + s.i*25920.0 + 0.5) AS BIGINT) AS t
         |  FROM (SELECT DISTINCT path FROM md) p
         |  CROSS JOIN generate_series(0,100) AS s(i))
         |SELECT grid.path, grid.t, round(pts.value,4) AS value
         |FROM grid ASOF LEFT JOIN pts ON pts.path = grid.path AND pts.pt <= grid.t
         |ORDER BY 1,2""".stripMargin,
    "dm_weekly" ->
      s"""WITH $M
         |SELECT path, CAST(floor(ts/604800) AS BIGINT) AS week, count(*) AS n,
         | round(avg(value) - 1e-9,4) AS avg_value
         |FROM m GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    // the dataMine reader's raw fetch: non-uniform samples in range,
    // channel paths DM.<lpad dev>.<srv>.<var>, click channels only
    "dm_fetch_raw" ->
      """SELECT 'DM.'||lpad(CAST(user_id AS VARCHAR),3,'0')||'.urn:graft:serviceId:Events1.click' AS path,
        | CAST(floor(epoch(ts)) AS BIGINT) AS t, round(value, 4) AS value
        |FROM events
        |WHERE event_type = 'click'
        |  AND CAST(floor(epoch(ts)) AS BIGINT) BETWEEN 1706100000 AND 1706659200
        |ORDER BY 1, 2, 3""".stripMargin,
    // whisper FILE round-trip: Queries.whisperRead writes the fixture
    // through graft.sources.Whisper (the reference's text pack) and
    // reads it back distributed; these literals are the hand-computed
    // surviving ring slots (7 updates into 5 wrap to the last 5;
    // archive 1 holds its two direct updates)
    "whisper_read" ->
      """SELECT path, archive, spp, ts, value FROM (VALUES
        | ('vera.u1a.click', 0, CAST(600 AS BIGINT), CAST(1706098800 AS BIGINT), CAST(3.0 AS DOUBLE)),
        | ('vera.u1a.click', 0, CAST(600 AS BIGINT), CAST(1706099400 AS BIGINT), CAST(4.0 AS DOUBLE)),
        | ('vera.u1a.click', 0, CAST(600 AS BIGINT), CAST(1706100000 AS BIGINT), CAST(5.0 AS DOUBLE)),
        | ('vera.u1a.click', 0, CAST(600 AS BIGINT), CAST(1706100600 AS BIGINT), CAST(6.0 AS DOUBLE)),
        | ('vera.u1a.click', 0, CAST(600 AS BIGINT), CAST(1706101200 AS BIGINT), CAST(7.0 AS DOUBLE)),
        | ('vera.u1b.temp', 0, CAST(600 AS BIGINT), CAST(1706097600 AS BIGINT), CAST(10.5 AS DOUBLE)),
        | ('vera.u1b.temp', 0, CAST(600 AS BIGINT), CAST(1706098200 AS BIGINT), CAST(11.5 AS DOUBLE)),
        | ('vera.u1b.temp', 0, CAST(600 AS BIGINT), CAST(1706098800 AS BIGINT), CAST(12.5 AS DOUBLE)),
        | ('vera.u1b.temp', 0, CAST(600 AS BIGINT), CAST(1706099400 AS BIGINT), CAST(13.5 AS DOUBLE)),
        | ('vera.u1b.temp', 1, CAST(3600 AS BIGINT), CAST(1706097600 AS BIGINT), CAST(99.25 AS DOUBLE)),
        | ('vera.u1b.temp', 1, CAST(3600 AS BIGINT), CAST(1706101200 AS BIGINT), CAST(98.5 AS DOUBLE))
        |) AS t(path, archive, spp, ts, value)
        |ORDER BY path, archive, ts""".stripMargin,
    // per-file-header fetch over the same fixture (now=1706101800,
    // window [1706098000, 1706101500]): click's lone 600s×5 archive
    // clamps from to its oldest slot 1706099400; temp picks its fine
    // archive (oldest 1706097600 ≤ from), quantizes to 1706097600 and
    // leaves nulls after its last stored point
    "whisper_fetch" ->
      """SELECT path, t, value FROM (VALUES
        | ('vera.u1a.click', CAST(1706099400 AS BIGINT), CAST(4.0 AS DOUBLE)),
        | ('vera.u1a.click', CAST(1706100000 AS BIGINT), CAST(5.0 AS DOUBLE)),
        | ('vera.u1a.click', CAST(1706100600 AS BIGINT), CAST(6.0 AS DOUBLE)),
        | ('vera.u1a.click', CAST(1706101200 AS BIGINT), CAST(7.0 AS DOUBLE)),
        | ('vera.u1b.temp', CAST(1706097600 AS BIGINT), CAST(10.5 AS DOUBLE)),
        | ('vera.u1b.temp', CAST(1706098200 AS BIGINT), CAST(11.5 AS DOUBLE)),
        | ('vera.u1b.temp', CAST(1706098800 AS BIGINT), CAST(12.5 AS DOUBLE)),
        | ('vera.u1b.temp', CAST(1706099400 AS BIGINT), CAST(13.5 AS DOUBLE)),
        | ('vera.u1b.temp', CAST(1706100000 AS BIGINT), CAST(NULL AS DOUBLE)),
        | ('vera.u1b.temp', CAST(1706100600 AS BIGINT), CAST(NULL AS DOUBLE)),
        | ('vera.u1b.temp', CAST(1706101200 AS BIGINT), CAST(NULL AS DOUBLE))
        |) AS t(path, t, value)
        |ORDER BY path, t""".stripMargin,
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        | round(sum(l_quantity),4) AS sum_qty,
        | round(sum(l_extendedprice),4) AS sum_base_price,
        | round(sum(l_extendedprice*(1-l_discount)),4) AS sum_disc_price,
        | round(avg(l_quantity),4) AS avg_qty,
        | round(avg(l_discount),4) AS avg_disc,
        | count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q3_join" ->
      """SELECT l_orderkey,
        | round(sum(l_extendedprice*(1-l_discount)),4) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY l_orderkey
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 20""".stripMargin,
    "q5_multijoin" ->
      """SELECT r_name, n_name,
        | round(sum(l_extendedprice*(1-l_discount)),4) AS revenue,
        | count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name
        |ORDER BY r_name, n_name""".stripMargin,
    "topk_window" ->
      """SELECT o_custkey, rk, o_orderkey, totalprice FROM (
        | SELECT o_custkey, o_orderkey, round(o_totalprice,4) AS totalprice,
        |  row_number() OVER (PARTITION BY o_custkey
        |                     ORDER BY o_totalprice DESC, o_orderkey) AS rk
        | FROM orders) t
        |WHERE rk <= 2
        |ORDER BY o_custkey, rk""".stripMargin,
    "event_sessionize" -> SessionizeSql,
    // E5-presplit: the hot-key-safe (user, day) pre-split twin is
    // provably the same answer — oracle shared verbatim (the theorem)
    "event_sessionize_presplit" -> SessionizeSql,
    // E6: as-of join — the same union-and-carry law in window SQL
    // (NOT DuckDB's native ASOF JOIN: its equal-timestamp tie rule is
    // unstated; this CTE chain pins ours exactly — right-before-left
    // at equal t via the isl sort key, max event_id among equal-t
    // right rows via the id sort key)
    "events_asof" ->
      s"""WITH $AsofCtes
        |SELECT event_id, user_id, t,
        | coalesce(asof_id, -1) AS asof_id, coalesce(asof_t, -1) AS asof_t,
        | coalesce(t - asof_t, -1) AS lag_s
        |FROM w WHERE isl = 1 ORDER BY event_id""".stripMargin,
    // G19: streaming as-of enrichment — the oracle IS E6's carry SQL
    // with the snapshot/arrival split filters (clicks before the
    // boundary, purchases at-or-after): under that split the
    // latest-per-key stream-static join the Spark side runs is
    // PROVABLY the as-of carry, and the hash match verifies the
    // theorem cross-engine (the staleness contract's exact regime)
    "stream_asof_enrich" ->
      """WITH e AS (
        | SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS t,
        |  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS isl
        | FROM events
        | WHERE (event_type = 'click'
        |         AND CAST(floor(epoch(ts)) AS BIGINT) < 1705363200)
        |    OR (event_type = 'purchase'
        |         AND CAST(floor(epoch(ts)) AS BIGINT) >= 1705363200)),
        |w AS (
        | SELECT user_id, t, event_id, isl,
        |  last_value(CASE WHEN isl = 0 THEN event_id END IGNORE NULLS) OVER cw AS asof_id,
        |  last_value(CASE WHEN isl = 0 THEN t END IGNORE NULLS) OVER cw AS asof_t
        | FROM e
        | WINDOW cw AS (PARTITION BY user_id ORDER BY t, isl, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT event_id, user_id, t,
        | coalesce(asof_id, -1) AS asof_id, coalesce(asof_t, -1) AS asof_t,
        | coalesce(t - asof_t, -1) AS lag_s
        |FROM w WHERE isl = 1 ORDER BY event_id""".stripMargin,
    // E8: the conversion funnel — three sequential conditional mins
    // per user (view, click-at-or-after, purchase-at-or-after), -1
    // sentinels, depth = completed steps
    "events_funnel" -> FunnelSql,
    // E8p: the (user, day) pre-split + suffix-splice stitch is
    // provably the plain conditional-min chain — the oracle is E8's
    // verbatim (the equivalence theorem, cross-engine)
    "events_funnel_presplit" -> FunnelSql,
    // G20d: the event-time horizon rule replayed deterministically —
    // per-user gap split at > 86400 s (ALL event types advance
    // last-activity, the stream fold's lastT), E8's conditional-min
    // chain WITHIN each journey, one terminal closed=1 row per journey
    // (depth-0 journeys included: expiry emits whatever state holds)
    "stream_funnel_horizon" ->
      """WITH e AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t,
        |  event_type,
        |  CASE event_type WHEN 'view' THEN 0 WHEN 'click' THEN 1
        |    WHEN 'purchase' THEN 2 ELSE 3 END AS rk FROM events),
        |g AS (SELECT user_id, t, event_type, rk,
        |  CASE WHEN lag(t) OVER w IS NULL OR t - lag(t) OVER w > 86400
        |       THEN 1 ELSE 0 END AS nj
        | FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, rk)),
        |j AS (SELECT user_id, t, event_type,
        |  sum(nj) OVER (PARTITION BY user_id ORDER BY t, rk
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS jid
        | FROM g),
        |c1 AS (SELECT user_id, jid, min(t) AS jstart,
        |  min(CASE WHEN event_type = 'view' THEN t END) AS t1
        | FROM j GROUP BY 1, 2),
        |c2 AS (SELECT j.user_id, j.jid,
        |  min(CASE WHEN event_type = 'click' AND t >= t1 THEN t END) AS t2
        | FROM j JOIN c1 USING (user_id, jid) GROUP BY 1, 2),
        |c3 AS (SELECT j.user_id, j.jid,
        |  min(CASE WHEN event_type = 'purchase' AND t >= t2 THEN t END) AS t3
        | FROM j JOIN c2 USING (user_id, jid) GROUP BY 1, 2)
        |SELECT c1.user_id, c1.jstart,
        | coalesce(t1, -1) AS t_view, coalesce(t2, -1) AS t_click,
        | coalesce(t3, -1) AS t_purchase,
        | CAST((CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END) +
        |      (CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END) +
        |      (CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS depth,
        | CAST(1 AS BIGINT) AS closed
        |FROM c1 JOIN c2 USING (user_id, jid) JOIN c3 USING (user_id, jid)
        |ORDER BY user_id, jstart""".stripMargin,
    // G21: session_window sessionization — Spark's session law
    // replayed: a session's window is [start, last+gap] INCLUSIVE of
    // its end for merging, so a gap of exactly 1800 s still MERGES
    // (split only when diff > gap — the same boundary as E5's rule;
    // the spec pins it against a planted exact-gap pair); session end
    // = last event + gap
    "stream_sessionize" ->
      """WITH e AS (SELECT user_id,
        |  CAST(floor(epoch(ts)) AS BIGINT) AS t FROM events),
        |g AS (SELECT user_id, t,
        |  CASE WHEN lag(t) OVER w IS NULL OR t - lag(t) OVER w > 1800
        |       THEN 1 ELSE 0 END AS ns
        | FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t)),
        |s AS (SELECT user_id, t,
        |  sum(ns) OVER (PARTITION BY user_id ORDER BY t
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        | FROM g)
        |SELECT user_id, min(t) AS t0, max(t) + 1800 AS t1,
        | count(*) AS n_events
        |FROM s GROUP BY user_id, sid ORDER BY 1, 2""".stripMargin,
    // E11: journey transitions — consecutive-pair counts per user in
    // (t, event_id) order (the id tie-break pins same-second pairs)
    "events_transitions" ->
      """WITH e AS (SELECT user_id, event_id,
        |  CAST(floor(epoch(ts)) AS BIGINT) AS t, event_type FROM events),
        |p AS (SELECT event_type AS to_type,
        |  lag(event_type) OVER (PARTITION BY user_id
        |    ORDER BY t, event_id) AS from_type FROM e)
        |SELECT from_type, to_type, count(*) AS n FROM p
        |WHERE from_type IS NOT NULL
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // E10: linear multi-touch attribution — per-purchase in-window
    // click count, equal integer credit shares (10000 div n, remainder
    // dropped), accumulated per click
    "events_attribution" ->
      """WITH e AS (SELECT user_id, event_id,
        |  CAST(floor(epoch(ts)) AS BIGINT) AS t, event_type FROM events),
        |cand AS (SELECT p.event_id AS p_id, c.event_id AS c_id,
        |  p.user_id AS user_id
        | FROM e p JOIN e c ON p.user_id = c.user_id
        |  AND p.event_type = 'purchase' AND c.event_type = 'click'
        |  AND c.t <= p.t AND c.t > p.t - 3600),
        |pn AS (SELECT p_id, count(*) AS n FROM cand GROUP BY 1)
        |SELECT c_id AS event_id, min(user_id) AS user_id,
        | count(*) AS n_purchases,
        | CAST(sum(10000 // n) AS BIGINT) AS credit_bp
        |FROM cand JOIN pn USING (p_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // G20: the streaming funnel's batch twin — the per-user state fold
    // ≡ E8's window chain restricted to advanced funnels (depth ≥ 1,
    // the emit-on-change rule); the oracle replays E8's SQL with that
    // filter, proving the fold/window equivalence cross-engine
    "stream_funnel" ->
      """WITH e AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t,
        |  event_type FROM events),
        |s1 AS (SELECT user_id,
        |  min(CASE WHEN event_type = 'view' THEN t END) AS t1 FROM e GROUP BY 1),
        |s2 AS (SELECT e.user_id,
        |  min(CASE WHEN event_type = 'click' AND t >= t1 THEN t END) AS t2
        | FROM e JOIN s1 USING (user_id) GROUP BY 1),
        |s3 AS (SELECT e.user_id,
        |  min(CASE WHEN event_type = 'purchase' AND t >= t2 THEN t END) AS t3
        | FROM e JOIN s2 USING (user_id) GROUP BY 1)
        |SELECT s1.user_id,
        | coalesce(t1, -1) AS t_view, coalesce(t2, -1) AS t_click,
        | coalesce(t3, -1) AS t_purchase,
        | CAST((CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END) +
        |      (CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END) +
        |      (CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS depth,
        | CAST(0 AS BIGINT) AS closed
        |FROM s1 JOIN s2 USING (user_id) JOIN s3 USING (user_id)
        |WHERE t1 IS NOT NULL
        |ORDER BY user_id""".stripMargin,
    // E9: the cohort retention matrix — epoch-week integer arithmetic,
    // first-event cohort, distinct weekly activity, per-cell users
    "events_retention" ->
      """WITH e AS (SELECT DISTINCT user_id,
        |  CAST(floor(epoch(ts)) AS BIGINT) // 604800 AS wk FROM events),
        |c AS (SELECT user_id, min(wk) AS cohort FROM e GROUP BY 1)
        |SELECT c.cohort, e.wk - c.cohort AS offset,
        | CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
        |FROM e JOIN c USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // E7: keyless point-in-interval range join — the oracle states the
    // SEMANTICS as the plain BETWEEN theta-join; the Spark side's
    // bucketed equi-join must reproduce it row for row
    "events_interval_count" ->
      """WITH e AS (
        | SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS t
        | FROM events),
        |g AS (
        | SELECT user_id, event_id, t,
        |  CASE WHEN lag(t) OVER uw IS NULL OR t - lag(t) OVER uw > 1800
        |       THEN 1 ELSE 0 END AS ns
        | FROM e
        | WINDOW uw AS (PARTITION BY user_id ORDER BY t, event_id)),
        |s AS (
        | SELECT user_id, t,
        |  CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY t, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS seq
        | FROM g),
        |iv AS (
        | SELECT CAST(user_id * 100000 + seq AS BIGINT) AS interval_id,
        |  min(t) AS t0, max(t) AS t1
        | FROM s GROUP BY user_id, seq)
        |SELECT iv.interval_id, iv.t0, iv.t1, count(*) AS n_events
        |FROM iv JOIN e ON e.t BETWEEN iv.t0 AND iv.t1
        |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin,
    // F58: the Count-Min law replayed — 4 md5-salted rows × 1024
    // buckets of counter sums, candidates = exact per-lang top-10
    // (count desc, token asc tie-break), estimate = min over rows;
    // est ≥ exact by construction (collisions only add)
    "corpus_heavy_hitters" ->
      """WITH tok AS (SELECT lang AS slice,
        |  unnest(string_split(lower(text), ' ')) AS token FROM documents),
        |ex AS (SELECT slice, token, count(*) AS n_exact FROM tok GROUP BY 1, 2),
        |cand AS (SELECT slice, token, n_exact FROM (
        |  SELECT slice, token, n_exact, row_number() OVER (
        |    PARTITION BY slice ORDER BY n_exact DESC, token) AS rk FROM ex)
        | WHERE rk <= 10),
        |rws AS (SELECT unnest([0, 1, 2, 3]) AS rw),
        |regs AS (SELECT slice, rw,
        |  ('0x'||substr(md5('#cms'||rw||'#'||token),1,15))::BIGINT % 1024 AS bucket,
        |  count(*) AS cnt
        | FROM tok CROSS JOIN rws GROUP BY 1, 2, 3),
        |pr AS (SELECT c.slice, c.token, c.n_exact, rws.rw,
        |  ('0x'||substr(md5('#cms'||rws.rw||'#'||c.token),1,15))::BIGINT % 1024 AS bucket
        | FROM cand c CROSS JOIN rws)
        |SELECT pr.slice AS lang, pr.token,
        | CAST(min(coalesce(regs.cnt, 0)) AS BIGINT) AS cms_est,
        | CAST(min(pr.n_exact) AS BIGINT) AS n_exact
        |FROM pr LEFT JOIN regs ON pr.slice = regs.slice
        |  AND pr.rw = regs.rw AND pr.bucket = regs.bucket
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // F58b: merge ≡ rebuild for counter sums — the oracle re-sketches
    // the whole corpus; the Spark side only ever sums the halves
    "corpus_heavy_hitters_incremental" -> CmsRegisterLawSql,
    // G23: the same whole-corpus CMS law, with the Spark side routed
    // through the STREAMING gate's code path (shared cmsRegisters
    // projection) — the G18 oracle-sharing convention
    "stream_cms_gate" -> CmsRegisterLawSql,
    // F54: the deterministic quantile-sketch law replayed end-to-end —
    // binary-string octave (no float log), integer sub-bucket, count
    // registers, cumulative-rank pick, bucket-lower-bound estimate;
    // the '*' row sketches the doubled corpus directly, which must
    // equal the Spark side's register-SUM merge (count associativity);
    // the exact rank-selected percentile is the audit column
    "corpus_quantile_sketch" ->
      s"""WITH d AS (SELECT lang,
         |  CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS v FROM documents),
         |dd AS (SELECT lang, v FROM d UNION ALL SELECT '*' AS lang, v FROM d),
         |b AS (SELECT lang,
         |  CASE WHEN v <= 0 THEN -1
         |       ELSE (length(bin(v)) - 1) * 16 +
         |            ((v - (CAST(1 AS BIGINT) << (length(bin(v)) - 1))) * 16)
         |              // (CAST(1 AS BIGINT) << (length(bin(v)) - 1))
         |  END AS qb FROM dd),
         |regs AS (SELECT lang, qb, count(*) AS cnt FROM b GROUP BY 1, 2),
         |cum AS (SELECT lang, qb,
         |  sum(cnt) OVER (PARTITION BY lang ORDER BY qb) AS cum,
         |  sum(cnt) OVER (PARTITION BY lang) AS n FROM regs),
         |qs AS (SELECT CAST(unnest([5000, 9000, 9900]) AS BIGINT) AS q_bp),
         |hit AS (SELECT lang, q_bp, min(qb) AS qb FROM cum CROSS JOIN qs
         |  WHERE cum > (q_bp * (n - 1)) // 10000 GROUP BY 1, 2),
         |est AS (SELECT lang, q_bp,
         |  CAST(CASE WHEN qb < 0 THEN 0
         |       ELSE (CAST(1 AS BIGINT) << (qb // 16)) +
         |            ((qb % 16) * (CAST(1 AS BIGINT) << (qb // 16))) // 16
         |  END AS BIGINT) AS q_est FROM hit),
         |rk AS (SELECT lang, v,
         |  row_number() OVER (PARTITION BY lang ORDER BY v) - 1 AS rn,
         |  count(*) OVER (PARTITION BY lang) AS n FROM dd),
         |ex AS (SELECT lang, q_bp, v AS q_exact FROM rk JOIN qs
         |  ON rk.rn = (qs.q_bp * (rk.n - 1)) // 10000)
         |SELECT lang, q_bp, q_est, q_exact FROM est JOIN ex USING (lang, q_bp)
         |ORDER BY 1, 2""".stripMargin,
    // F54b: merge ≡ rebuild for the count registers — the Spark side
    // estimates ONLY from the two halves' summed registers; the
    // oracle re-sketches the whole corpus from scratch; hash equality
    // is the theorem, cross-engine
    "corpus_quantile_incremental" -> QuantileRegisterLawSql,
    // G22: the same whole-corpus register law, with the Spark side
    // routed through the STREAMING gate's code path (shared
    // qRegisters projection) — the G18 oracle-sharing convention
    "stream_qsketch_gate" -> QuantileRegisterLawSql,
    // F49: the deterministic HLL law replayed end-to-end — hex-string
    // rho extraction, BIGINT-exact register sums, the single-constant
    // raw estimate, the Flajolet linear-counting branch on the 1e-6
    // ln grid; the '*' row estimates from MERGED registers (max), the
    // sketch's defining property
    "corpus_cardinality_hll" ->
      s"""WITH ${hllRegsCtes("documents", "")},
         |allregs AS (SELECT lang, bucket, register FROM regs
         | UNION ALL
         | SELECT '*' AS lang, bucket, CAST(max(register) AS BIGINT) AS register
         | FROM regs GROUP BY bucket),
         |${hllEstCtes("allregs", "")},
         |ex AS (SELECT lang, count(DISTINCT token) AS n_exact FROM tok GROUP BY 1
         | UNION ALL
         | SELECT '*' AS lang, count(DISTINCT token) AS n_exact FROM tok)
         |SELECT ex.lang, ex.n_exact, e4.hll_est
         |FROM ex JOIN e4 USING (lang) ORDER BY ex.lang""".stripMargin,
    // F49b: the merge theorem as an oracle row — registers from the
    // two halves max-merged vs a fresh full sketch; the two estimate
    // chains run independently and MUST agree
    "corpus_cardinality_incremental" ->
      s"""WITH ${hllRegsCtes("(SELECT * FROM documents WHERE doc_id % 2 = 0)", "b")},
         |${hllRegsCtes("(SELECT * FROM documents WHERE doc_id % 2 <> 0)", "i")},
         |mg AS (SELECT lang, bucket, CAST(max(register) AS BIGINT) AS register
         | FROM (SELECT * FROM regsb UNION ALL SELECT * FROM regsi) u
         | GROUP BY 1, 2),
         |${hllRegsCtes("documents", "f")},
         |${hllEstCtes("mg", "m")},
         |${hllEstCtes("regsf", "f")}
         |SELECT e4m.lang, e4m.hll_est AS est_merged, e4f.hll_est AS est_full
         |FROM e4m JOIN e4f USING (lang) ORDER BY e4m.lang""".stripMargin,
    // E6b: the same carry chain + the tolerance CASE — an
    // out-of-window carried match nulls to the sentinel exactly like
    // no-match (the carried row is the latest candidate, so every
    // other candidate is staler)
    "events_asof_tol" ->
      s"""WITH $AsofCtes
         |SELECT event_id, user_id, t,
         | coalesce(CASE WHEN t - asof_t <= 3600 THEN asof_id END, -1) AS asof_id,
         | coalesce(CASE WHEN t - asof_t <= 3600 THEN asof_t END, -1) AS asof_t,
         | coalesce(CASE WHEN t - asof_t <= 3600 THEN t - asof_t END, -1) AS lag_s
         |FROM w WHERE isl = 1 ORDER BY event_id""".stripMargin
  )

  /** E6 union-and-carry chain as window SQL — shared by the plain and
    * tolerance as-of oracles (one law, two post-filters).
    */
  private val AsofCtes: String =
    """e AS (
      | SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS t,
      |  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS isl
      | FROM events WHERE event_type IN ('purchase', 'click')),
      |w AS (
      | SELECT user_id, t, event_id, isl,
      |  last_value(CASE WHEN isl = 0 THEN event_id END IGNORE NULLS) OVER cw AS asof_id,
      |  last_value(CASE WHEN isl = 0 THEN t END IGNORE NULLS) OVER cw AS asof_t
      | FROM e
      | WINDOW cw AS (PARTITION BY user_id ORDER BY t, isl, event_id
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))""".stripMargin

  /** F49 register-build CTEs over `src` — the identical md5/hex rho
    * law graft.ops.Sketch evaluates, suffix `s` so several instances
    * coexist in one WITH (the F49b merge oracle needs three).
    */
  private def hllRegsCtes(src: String, s: String): String =
    s"""tok$s AS (SELECT lang, unnest(string_split(lower(text), ' ')) AS token FROM $src),
       |h$s AS (SELECT lang, token, md5(token) AS hx FROM tok$s),
       |br$s AS (SELECT lang,
       |  ('0x' || substr(hx, 1, 2))::BIGINT AS bucket,
       |  ltrim(substr(hx, 3, 13), '0') AS trimmed FROM h$s),
       |rr$s AS (SELECT lang, bucket,
       |  CASE WHEN length(trimmed) = 0 THEN 53
       |   ELSE (13 - length(trimmed)) * 4 +
       |    CASE WHEN substr(trimmed, 1, 1) IN ('8','9','a','b','c','d','e','f') THEN 0
       |         WHEN substr(trimmed, 1, 1) IN ('4','5','6','7') THEN 1
       |         WHEN substr(trimmed, 1, 1) IN ('2','3') THEN 2
       |         ELSE 3 END + 1 END AS rho
       | FROM br$s),
       |regs$s AS (SELECT lang, bucket, CAST(max(rho) AS BIGINT) AS register
       | FROM rr$s GROUP BY 1, 2)""".stripMargin

  /** F49 estimate CTEs from a register table `regs`: BIGINT-exact
    * harmonic sum, the shared α literal, the linear-counting branch.
    */
  private def hllEstCtes(regs: String, s: String): String =
    s"""agg$s AS (SELECT lang,
       |  CAST(sum(1::BIGINT << CAST(53 - register AS INT)) AS BIGINT) AS sp,
       |  CAST(count(*) AS BIGINT) AS nb
       | FROM $regs GROUP BY 1),
       |e2$s AS (SELECT lang, 256 - nb AS v0,
       |  CAST(sp + (256 - nb) * (1::BIGINT << 53) AS BIGINT) AS s FROM agg$s),
       |e3$s AS (SELECT lang, v0, ${graft.ops.Sketch.AlphaNum} / CAST(s AS DOUBLE) AS raw
       | FROM e2$s),
       |e4$s AS (SELECT lang,
       |  round(CASE WHEN v0 > 0 AND raw <= 640.0
       |   THEN round(ln(256.0 / CAST(v0 AS DOUBLE)) * 1e6, 0) / 1e6 * 256.0
       |   ELSE raw END, 4) AS hll_est FROM e3$s)""".stripMargin
}
