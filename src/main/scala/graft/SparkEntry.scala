package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._
import graft.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 has an entry in [[queries]]
  * and (where ANSI-SQL-expressible) a DuckDB oracle in [[oracleSql]].
  * Column names/aliases are kept identical on both sides — the driver's
  * compare sorts columns by name before hashing.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * the full backfill feed (scan → broadcast key-store join → envelope). */
  def entry(spark: SparkSession): DataFrame =
    Envelope.unionFeed(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2.1–§2.5 reference-parity relational surface
    "backfill_scan"      -> (Relational.backfillScan _),
    "backfill_scan_inlist" -> (Relational.backfillScanInList _),
    "count_keystores"    -> (Relational.countKeystores _),
    "count_per_merchant" -> (Relational.countPerMerchant _),
    "numeric_moments"    -> (Aggregates.numericMoments _),
    "keystore_in_list"   -> (Relational.keystoreInList _),
    "backfill_join"      -> (Relational.backfillJoin _),
    "bloom_join_prune"   -> (Relational.bloomJoinPrune _),
    "skew_salted_join"   -> (Skew.saltedJoinQuery _),
    "range_join_pairs"   -> ((s: SparkSession, d: String) => RangeJoin.eventPairsWithin(s, d)),
    "semi_join"          -> (Relational.semiJoin _),
    "anti_join"          -> (Relational.antiJoin _),
    "full_outer_join"    -> (Relational.fullOuterJoin _),
    "pagination_window"  -> (Relational.paginationWindow _),
    "topk_per_group"     -> (Relational.topkPerGroup _),
    "asof_event_order"   -> (Relational.asofEventOrder _),
    "asof_next_event"    -> (Relational.asofOrderNextEvent _),
    "tenant_tag"         -> (Relational.tenantTag _),
    "zorder_key"         -> (graft.sources.Layout.zorderKey _),
    // §2.6 per-row transforms
    "multi_format_ts"    -> (Timestamps.multiFormatParse _),
    "event_envelope"     -> (Envelope.eventEnvelope _),
    "union_feed"         -> (Envelope.unionFeed _),
    "decrypt_two_level"  -> (Crypto.decryptTwoLevel _),
    "decrypt_shredded"   -> (Crypto.decryptShredded _),
    // aggregation surface
    "pricing_summary"    -> (Aggregates.pricingSummary _),
    "distinct_counts"    -> (Aggregates.distinctCounts _),
    "approx_distinct"    -> (Aggregates.approxDistinct _),
    "window_running"     -> (Aggregates.windowRunning _),
    "window_range_frame" -> (Aggregates.windowRangeFrame _),
    "source_mix_weights" -> ((s: SparkSession, d: String) => Sampling.sourceMixWeights(s, d)),
    "epoch_plan"         -> ((s: SparkSession, d: String) => Sampling.epochPlan(s, d)),
    "mix_expand"         -> ((s: SparkSession, d: String) => Sampling.mixExpand(s, d, ordered = true)),
    "rollup_docs"        -> (Aggregates.rollupDocs _),
    "events_window_agg"  -> (Aggregates.eventsWindowAgg _),
    "events_hopping"     -> (Aggregates.eventsHoppingAgg _),
    "anomaly_hours"      -> (Aggregates.anomalyHours _),
    "events_sessionize"  -> (Aggregates.sessionize _),
    "funnel_conversion"  -> (EventAnalytics.funnelConversion _),
    "cohort_retention"   -> (EventAnalytics.cohortRetention _),
    "event_paths"        -> ((s: SparkSession, d: String) => EventAnalytics.eventPaths(s, d)),
    "fuzzy_match"        -> (Fuzzy.fuzzyMatch _),
    "tdigest_quantiles"  -> (Aggregates.tdigestQuantiles _),
    // §2.9 E1/E2 dedup
    "dedup_exact_key"    -> (Dedup.exactByKey _),
    "cdc_apply"          -> ((s: SparkSession, d: String) => Cdc.applySnapshot(s, d)),
    "cdc_history"        -> (Cdc.scdHistory _),
    "dedup_content_hash" -> (Dedup.exactByContentHash _),
    "minhash_signatures" -> (Dedup.minhashSignatures _),
    "minhash_buckets"    -> (Dedup.minhashBuckets _),
    "minhash_band_saturation" -> ((s: SparkSession, d: String) =>
      Dedup.minhashBandSaturation(s, d)),
    "minhash_pairs"      -> ((s: SparkSession, d: String) => Dedup.minhashPairs(s, d)),
    "dedup_incremental"  -> ((s: SparkSession, d: String) => Dedup.incrementalPairs(s, d)),
    "dedup_incremental_bucketed" ->
      ((s: SparkSession, d: String) => Dedup.incrementalPairsBucketed(s, d)),
    "dedup_index_churn" ->
      ((s: SparkSession, d: String) => Dedup.incrementalPairsChurned(s, d)),
    "simhash"            -> (Dedup.simhash _),
    "simhash_pairs"      -> ((s: SparkSession, d: String) => Dedup.simhashPairs(s, d)),
    "ngram_jaccard"      -> (Dedup.ngramJaccard _),
    "embedding_buckets"  -> (Dedup.embeddingBuckets _),
    "embedding_neardup"  -> ((s: SparkSession, d: String) => Dedup.embeddingNearDup(s, d)),
    "dedup_clusters"     -> (Components.dedupClusters _),
    "span_dedup"         -> ((s: SparkSession, d: String) => Dedup.spanDedup(s, d)),
    "int8_quantize"      -> (Quantize.int8Quantize _),
    "embedding_project"  -> ((s: SparkSession, d: String) => Similarity.randomProject(s, d)),
    // §2.9 E3 similarity search
    "sim_topk_brute"     -> ((s: SparkSession, d: String) => Similarity.bruteForceTopK(s, d)),
    "sim_topk_ivf"       -> ((s: SparkSession, d: String) => Similarity.ivfTopK(s, d)),
    "sim_topk_ivf_kmeans" -> ((s: SparkSession, d: String) => Similarity.ivfTopKTrained(s, d, iters = 2)),
    "sim_topk_incremental" -> ((s: SparkSession, d: String) => Similarity.incrementalTopK(s, d)),
    "mmr_rerank"         -> ((s: SparkSession, d: String) => Similarity.mmrRerank(s, d)),
    "mmr_rerank_ivf"     -> ((s: SparkSession, d: String) => Similarity.mmrRerankIvf(s, d)),
    "sim_topk_maintained" -> ((s: SparkSession, d: String) => Similarity.maintainedTopK(s, d)),
    "sim_topk_churn"     -> ((s: SparkSession, d: String) => Similarity.churnedTopK(s, d)),
    "pq_codes"           -> ((s: SparkSession, d: String) => Quantize.pqCodes(s, d)),
    "sim_topk_pq"        -> ((s: SparkSession, d: String) => Quantize.pqTopK(s, d)),
    "sim_topk_pq_rerank" -> ((s: SparkSession, d: String) => Quantize.pqTopKRerank(s, d)),
    "sim_topk_pq_maintained" -> ((s: SparkSession, d: String) => Quantize.pqMaintainedTopK(s, d)),
    "sim_topk_pq_packed" -> ((s: SparkSession, d: String) => Quantize.pqPackedTopK(s, d)),
    "sim_topk_pq_churn"  -> ((s: SparkSession, d: String) => Quantize.pqChurnTopK(s, d)),
    "sim_topk_ivfpq"     -> ((s: SparkSession, d: String) => Quantize.pqIvfTopK(s, d)),
    "sim_topk_ivfpq_rerank" -> ((s: SparkSession, d: String) => Quantize.pqIvfTopKRerank(s, d)),
    "sim_topk_ivfpq_res" -> ((s: SparkSession, d: String) => Quantize.pqIvfResidualTopK(s, d)),
    "sim_topk_opq"       -> ((s: SparkSession, d: String) => Quantize.opqTopK(s, d)),
    "sim_topk_opq_rerank" -> ((s: SparkSession, d: String) => Quantize.opqTopKRerank(s, d)),
    "sim_topk_int8"      -> ((s: SparkSession, d: String) => Quantize.int8TopK(s, d)),
    "sim_topk_int8_ivf"  -> ((s: SparkSession, d: String) => Quantize.int8IvfTopK(s, d)),
    "sim_topk_int8_rerank" -> ((s: SparkSession, d: String) => Quantize.int8TopKRerank(s, d)),
    "embedding_bucket_saturation" -> ((s: SparkSession, d: String) => Dedup.embeddingBucketSaturation(s, d)),
    "knn_graph"          -> ((s: SparkSession, d: String) => Similarity.knnGraph(s, d)),
    "knn_graph_maintained" -> ((s: SparkSession, d: String) => Similarity.knnGraphMaintained(s, d)),
    "knn_graph_churn"    -> ((s: SparkSession, d: String) => Similarity.knnGraphChurn(s, d)),
    "mutual_knn"         -> ((s: SparkSession, d: String) => Similarity.mutualKnn(s, d)),
    "knn_density"        -> ((s: SparkSession, d: String) => Similarity.knnDensity(s, d)),
    "knn_classify"       -> ((s: SparkSession, d: String) => Similarity.knnClassify(s, d)),
    "knn_centrality"     -> ((s: SparkSession, d: String) => Similarity.knnCentrality(s, d)),
    "density_prune"      -> ((s: SparkSession, d: String) => Similarity.densityPrune(s, d)),
    "semantic_clusters"  -> ((s: SparkSession, d: String) => Components.semanticClusters(s, d)),
    "cluster_quota"      -> ((s: SparkSession, d: String) => Sampling.clusterQuota(s, d)),
    "semantic_neardup"   -> ((s: SparkSession, d: String) => Similarity.semanticNearDupPairs(s, d)),
    "semantic_neardup_maintained" -> ((s: SparkSession, d: String) => Similarity.semanticNearDupMaintained(s, d)),
    "semantic_dedup_keep" -> ((s: SparkSession, d: String) => Similarity.semanticDedupKeep(s, d)),
    "semantic_dedup_incremental" -> ((s: SparkSession, d: String) => Similarity.semanticScreenBatch(s, d)),
    // §2.9 E5 text analysis
    "text_langid"        -> (TextAnalysis.langId _),
    "text_quality"       -> (TextAnalysis.quality _),
    "text_token_counts"  -> (TextAnalysis.tokenCounts _),
    "quality_quantile_filter" -> ((s: SparkSession, d: String) =>
      TextAnalysis.qualityQuantileFilter(s, d)),
    "text_term_freq"     -> (TextAnalysis.termFrequencies _),
    "approx_top_terms"   -> ((s: SparkSession, d: String) => TextAnalysis.approxTopTerms(s, d)),
    "count_min_freq"     -> ((s: SparkSession, d: String) => TextAnalysis.countMinFreq(s, d)),
    "text_fingerprint"   -> (TextAnalysis.fingerprints _),
    "inverted_index"     -> ((s: SparkSession, d: String) => Retrieval.invertedIndex(s, d)),
    "bm25_search"        -> ((s: SparkSession, d: String) => Retrieval.bm25Search(s, d)),
    "bm25_from_index"    -> ((s: SparkSession, d: String) => Retrieval.bm25FromIndex(s, d)),
    "bm25_index_maintained" -> ((s: SparkSession, d: String) => Retrieval.bm25IndexMaintained(s, d)),
    "bm25_index_churn"   -> ((s: SparkSession, d: String) => Retrieval.bm25IndexChurn(s, d)),
    "bm25_salted"        -> ((s: SparkSession, d: String) => Retrieval.bm25Salted(s, d)),
    "bm25_salted_churn"  -> ((s: SparkSession, d: String) => Retrieval.bm25SaltedChurn(s, d)),
    "phrase_salted"      -> ((s: SparkSession, d: String) => Retrieval.phraseSalted(s, d)),
    "sim_topk_retrained" -> ((s: SparkSession, d: String) => Similarity.retrainedTopK(s, d)),
    "bm25_batch"         -> ((s: SparkSession, d: String) => Retrieval.bm25Batch(s, d)),
    "hybrid_search"      -> ((s: SparkSession, d: String) => Retrieval.hybridSearch(s, d)),
    "phrase_search"      -> ((s: SparkSession, d: String) => Retrieval.phraseSearch(s, d)),
    "phrase_from_index"  -> ((s: SparkSession, d: String) => Retrieval.phraseFromIndex(s, d)),
    "phrase3_from_index" -> ((s: SparkSession, d: String) =>
      Retrieval.phraseFromIndexN(s, d, Seq("part", "filter", "scan"))),
    "phrase_index_maintained" -> ((s: SparkSession, d: String) =>
      Retrieval.phraseIndexMaintained(s, d)),
    "phrase_index_churn" -> ((s: SparkSession, d: String) =>
      Retrieval.phraseIndexChurn(s, d)),
    "doc_chunks"         -> ((s: SparkSession, d: String) => TextAnalysis.docChunks(s, d)),
    "vocab_coverage"     -> ((s: SparkSession, d: String) => TextAnalysis.vocabCoverage(s, d)),
    "dedup_keep_best"    -> (Components.dedupKeepBest _),
    "tfidf_top_terms"    -> ((s: SparkSession, d: String) => TextAnalysis.tfidfTopTerms(s, d)),
    "sample_per_lang"    -> (TextAnalysis.sampleKPerLang _),
    "train_split"        -> (Sampling.trainSplit _),
    "leakage_safe_split" -> (Sampling.leakageSafeSplit _),
    "contamination"      -> (Sampling.contamination _),
    "contamination_ngram" -> ((s: SparkSession, d: String) => Sampling.contaminationNgram(s, d)),
    "contamination_bloom" -> ((s: SparkSession, d: String) => Sampling.contaminationBloom(s, d)),
    "stratified_split"   -> ((s: SparkSession, d: String) => Sampling.stratifiedSplit(s, d)),
    "dsir_weights"       -> ((s: SparkSession, d: String) => Sampling.dsirWeights(s, d)),
    "dsir_select"        -> ((s: SparkSession, d: String) => Sampling.dsirSelect(s, d)),
    "dsir_select_frac"   -> ((s: SparkSession, d: String) => Sampling.dsirSelectFrac(s, d)),
    "dsir_select_stats"  -> ((s: SparkSession, d: String) => Sampling.dsirSelectStats(s, d)),
    "quality_classifier" -> ((s: SparkSession, d: String) => TextAnalysis.qualityClassifier(s, d)),
    "quality_classifier_frac" -> ((s: SparkSession, d: String) => TextAnalysis.qualityClassifierFrac(s, d)),
    "span_scrub"         -> ((s: SparkSession, d: String) => Dedup.spanScrub(s, d)),
    "html_extract"       -> ((s: SparkSession, d: String) => Html.htmlExtract(s, d)),
    "html_extract_hostile" -> ((s: SparkSession, d: String) => Html.htmlExtractHostile(s, d)),
    "html_boilerplate_stats" -> ((s: SparkSession, d: String) => Html.htmlBoilerplateStats(s, d)),
    "curation_pipeline"  -> ((s: SparkSession, d: String) => Curation.curationPipeline(s, d)),
    "curation_pipeline_neardup" -> ((s: SparkSession, d: String) => Curation.curationPipelineNearDup(s, d)),
    "ulm_vocab"          -> ((s: SparkSession, d: String) => TextAnalysis.ulmVocab(s, d)),
    "ulm_encode"         -> ((s: SparkSession, d: String) => TextAnalysis.ulmEncode(s, d)),
    "unigram_logprob"    -> (TextAnalysis.unigramLogprob _),
    "bigram_logprob"     -> (TextAnalysis.bigramLogprob _),
    "phrase_pmi"         -> ((s: SparkSession, d: String) => TextAnalysis.phrasePmi(s, d)),
    "bpe_merges"         -> ((s: SparkSession, d: String) => TextAnalysis.bpeMerges(s, d)),
    "bpe_encode"         -> ((s: SparkSession, d: String) => TextAnalysis.bpeEncode(s, d)),
    "bpe_merges_vocab"   -> ((s: SparkSession, d: String) => TextAnalysis.bpeMergesVocab(s, d)),
    "bpe_encode_vocab"   -> ((s: SparkSession, d: String) => TextAnalysis.bpeEncodeVocab(s, d)),
    "cluster_labels"     -> ((s: SparkSession, d: String) => TextAnalysis.clusterLabels(s, d)),
    "source_quota"       -> ((s: SparkSession, d: String) => Sampling.sourceQuota(s, d)),
    "doc_pack"           -> ((s: SparkSession, d: String) => Sampling.docPack(s, d)),
    "corpus_manifest"    -> (Sampling.corpusManifest _),
    "text_normalize"     -> (TextAnalysis.normalize _),
    "text_repetition"    -> (TextAnalysis.repetition _),
    "text_redact_pii"    -> (TextAnalysis.redactPii _),
    "histogram_totals"   -> ((s: SparkSession, d: String) => SemiStructured.histogramTotals(s, d)),
    "table_profile"      -> ((s: SparkSession, d: String) => Profile.tableProfile(s, d)),
    "events_spine_fill"  -> (SemiStructured.eventsSpineFill _),
    // §2.9 E6 multimodal
    "media_features"     -> (Multimodal.mediaFeatures _),
    "media_frame_sample" -> ((s: SparkSession, d: String) => Multimodal.frameSample(s, d)),
    "audio_features"     -> (Multimodal.audioFeatures _),
    "image_resize"       -> ((s: SparkSession, d: String) => Multimodal.imageResize(s, d)),
    "image_decode"       -> ((s: SparkSession, d: String) => Multimodal.imageDecode(s, d)),
    "image_phash"        -> ((s: SparkSession, d: String) => Multimodal.imagePhash(s, d)),
    "image_neardup"      -> ((s: SparkSession, d: String) => Multimodal.imageNearDup(s, d)),
    "audio_decode"       -> (Multimodal.audioDecode _),
    "audio_fingerprint"  -> ((s: SparkSession, d: String) => Multimodal.audioFingerprint(s, d)),
    "audio_neardup"      -> ((s: SparkSession, d: String) => Multimodal.audioNearDup(s, d)),
    "audio_band_saturation" -> ((s: SparkSession, d: String) =>
      Dedup.bandingSaturation(
        Multimodal.audioFingerprint(s, d), "doc_id", "ehash")),
    "image_band_saturation" -> ((s: SparkSession, d: String) =>
      Dedup.bandingSaturation(
        Multimodal.imagePhash(s, d), "doc_id", "ahash")),
    "video_decode"       -> (Multimodal.videoDecode _),
    "video_phash"        -> ((s: SparkSession, d: String) => Multimodal.videoPhash(s, d)),
    "video_neardup"      -> ((s: SparkSession, d: String) => Multimodal.videoNearDup(s, d)),
    "video_band_saturation" -> ((s: SparkSession, d: String) =>
      Dedup.bandingSaturation(
        Multimodal.videoPhash(s, d), "doc_id", "vhash")),
    // SQL front door + sketch quantiles
    "sql_backfill_scan"  -> (SqlInterface.sqlBackfillScan _),
    "sql_merchant_revenue" -> (SqlInterface.sqlMerchantRevenue _),
    "sql_custom_funcs"   -> (SqlInterface.sqlCustomFuncs _),
    "sql_grouping_sets"  -> (SqlInterface.sqlGroupingSets _),
    "approx_quantiles"   -> (SqlInterface.approxQuantiles _),
    // semi-structured + reshaping
    "json_extract"       -> (SemiStructured.jsonExtract _),
    "quarantine_split"   -> (SemiStructured.quarantineSplit _),
    "pivot_lang_source"  -> (SemiStructured.pivotLangSource _),
    "quantiles"          -> (SemiStructured.quantiles _),
    // §2.7 categories absent from the reference, exposed via built-ins
    "set_ops"            -> (SetOps.setOps _),
    "cube_agg"           -> (SetOps.cubeAgg _),
    "window_funcs"       -> (SetOps.windowFuncs _),
    "window_distribution" -> (SetOps.windowDistribution _),
    "id_validation"      -> (SetOps.idValidation _),
    // §7 M2: the full parameterized backfill pipeline (EP1 parity)
    "backfill_pipeline"  -> ((s: SparkSession, d: String) =>
      graft.pipeline.Backfill.run(s, d, graft.pipeline.Backfill.Config(
        start = Some("1996-01-01"), end = Some("1997-12-31")))
        .orderBy("entity", "key", "value")),
    "backfill_checksum"  -> ((s: SparkSession, d: String) =>
      graft.pipeline.Backfill.feedChecksum(graft.pipeline.Backfill.run(s, d))),
    // at-least-once compaction: feed + deterministic 10% re-delivery →
    // one row per event with its delivery count (X6 downstream dedupe).
    // r17: the re-delivery was an in-plan explode before the identity
    // aggregation; since the ×2 factor depends only on (entity, key) —
    // both in the group key — it is constant per group, so multiplying
    // the base count AFTER the aggregation yields identical rows while
    // the agg processes 10% fewer rows and skips the Generate. The
    // aggregation itself rides Backfill.compactRun (per-entity, JSON
    // never shuffled — see its scaladoc; optimization guide §2.3/§2.4).
    "feed_compact"       -> ((s: SparkSession, d: String) => {
      import org.apache.spark.sql.functions.{col, concat, lit, pmod, when}
      graft.pipeline.Backfill.compactRun(s, d)
        .select(col("entity"), col("key"), col("tenant"), col("value"),
          (col("n_deliveries") * when(
            pmod(Hash60.hash60(concat(col("entity"), lit(":"), col("key"))),
              lit(10L)) === 0, lit(2L)).otherwise(lit(1L)))
            .as("n_deliveries"))
        .orderBy("entity", "key", "value")
    }),
    // wide-payload entity: nested metadata object + nullable PII through
    // the same run() path — null-field JSON envelope semantics
    "backfill_wide_entity" -> ((s: SparkSession, d: String) =>
      graft.pipeline.Backfill.wideEntityFeed(s, d)),
    // multi-tenant routing: merchant→tenant assignment + per-tenant topic
    // (reference config/development.toml:724-729, main.rs:119-145)
    "backfill_multitenant" -> ((s: SparkSession, d: String) => {
      import org.apache.spark.sql.functions.{col, when}
      val B = graft.pipeline.Backfill
      B.runMultiTenant(s, d,
        Seq(B.Tenant("public", "events"),
          B.Tenant("analytics", "events-analytics")),
        e => when(col(e.merchantCol) % 2 === 0, "public")
          .otherwise("analytics"))
        .orderBy("entity", "key", "value")
    }),
  )

  // ================== oracle-SQL generators (cross-engine hash family) ==
  // The minhash/simhash/LSH/cluster operators hash with
  // Dedup.hash60 = int(md5[0:15 hex]) — computable bit-identically in
  // DuckDB as ('0x'||substr(md5(s),1,15))::BIGINT — so the entire
  // near-dup family is hash-checked end to end, not rows-only.

  /** DuckDB twin of [[graft.operators.Dedup.hash60]]. */
  private def dH60(e: String): String =
    s"(('0x'||substr(md5($e),1,15))::BIGINT)"

  /** The EXACT double→decimal(38,18) input hop, oracle side — twin of
    * [[graft.functions.DecimalConv.decExact]]: format's correctly-
    * rounded 70-digit expansion parsed into the sum type, so the
    * decimal image of an addend is the double's IEEE value on BOTH
    * engines. As of r15 this is THE input hop of every decimal sum
    * family (decSum/decSumStr/decSumExact/decMean) — the native casts
    * it replaces are two different value functions (Spark Java-
    * toString value; DuckDB a multiply cast that leaves its int64
    * fast path at |x|·10¹⁸ > 2⁶³) and measurably fork on grid
    * addends above ~9.2 in magnitude. |x| < 5e-19 guards DuckDB's
    * long-mantissa parser misround; those values quantize to 0 at
    * scale 18 on both sides regardless. */
  private def dExactDec(e: String): String =
    s"""CASE WHEN abs($e) < 5e-19 THEN CAST(0 AS DECIMAL(38,18))
              ELSE CAST(format('{:.70e}', $e) AS DECIMAL(38,18)) END"""

  private val dToks =
    """list_filter(string_split_regex(lower(text), '\s+'), t -> len(t) > 0)"""

  /** `n`-token word shingles over a token list `ts` (DuckDB `range`
    * upper bound is exclusive). */
  private def dShinglesN(n: Int): String = {
    val joined = (0 until n).map(j => s"ts[i+$j]").mkString("||' '||")
    s"""CASE WHEN len(ts) < $n THEN []
            ELSE [$joined for i in range(1, len(ts)-${n - 2})] END"""
  }

  private val dShingles = dShinglesN(3)

  /** MMR diversified-re-rank oracle — twin of
    * [[graft.operators.Similarity.mmrRerank]]: brute top-`poolK`
    * shortlist with round-6 relevance, poolK² round-6 pairwise
    * cosines, then the k-step greedy replayed as k unrolled
    * MATERIALIZED rounds (rank by the raw IEEE mmr expression —
    * identical op tree to the engine's fold — pick rn=1, accumulate
    * the selected set). */
  /** The MMR greedy-round + psim CTE tail — assumes a
    * `pool(q_id, rk, vec_id, v, rel)` CTE is already defined; ONE
    * definition for every pool source (brute / IVF-served). */
  private def dMmrTail(k: Int): String = {
    val lam = graft.operators.Similarity.MmrLambda
    val mu = graft.operators.Similarity.MmrMu
    def round(r: Int): String = {
      val prev = if (r == 1) "selacc0" else s"selacc${r - 1}"
      s"""mmr$r AS MATERIALIZED (
           SELECT q_id, rk AS rk_pool, vec_id, rel, mmr,
                  row_number() OVER (PARTITION BY q_id
                    ORDER BY mmr DESC, vec_id) AS rn
           FROM (
             SELECT p.q_id, p.rk, p.vec_id, p.rel,
                    $lam*p.rel - $mu*coalesce(ms.msim, 0.0) AS mmr
             FROM pool p
             LEFT JOIN (SELECT s.q_id, ps.b_rk, max(ps.sim) AS msim
                        FROM $prev s JOIN psim ps
                          ON ps.q_id = s.q_id AND ps.a_rk = s.rk_pool
                        GROUP BY 1, 2) ms
               ON ms.q_id = p.q_id AND ms.b_rk = p.rk
             WHERE NOT EXISTS (SELECT 1 FROM $prev s
                               WHERE s.q_id = p.q_id
                                 AND s.rk_pool = p.rk))),
         pick$r AS MATERIALIZED (
           SELECT q_id, rk_pool, vec_id, rel, mmr,
                  CAST($r AS BIGINT) AS rk
           FROM mmr$r WHERE rn = 1),
         selacc$r AS (SELECT q_id, rk_pool FROM $prev
                      UNION ALL SELECT q_id, rk_pool FROM pick$r)"""
    }
    val rounds = (1 to k).map(round).mkString(",\n         ")
    // mmr is emitted RAW (both engines build the identical double from
    // identical op trees): λ·(round-6 rel) sits exactly on a 7th-digit
    // half boundary whenever rel's 6th digit is odd, so a round-6
    // output grid forks on the engines' round algorithms
    val sel = (1 to k).map(r =>
      s"SELECT q_id, rk, vec_id, rel, mmr FROM pick$r")
      .mkString("\n         UNION ALL ")
    s"""psim AS MATERIALIZED (
           SELECT a.q_id, a.rk AS a_rk, b.rk AS b_rk,
                  round(list_dot_product(a.v, b.v) /
                    (sqrt(list_dot_product(a.v, a.v)) *
                     sqrt(list_dot_product(b.v, b.v))), 6) AS sim
           FROM pool a JOIN pool b USING (q_id)),
         selacc0 AS (SELECT CAST(NULL AS BIGINT) AS q_id,
                            CAST(NULL AS BIGINT) AS rk_pool WHERE false),
         $rounds
         $sel
         ORDER BY q_id, rk"""
  }

  private def dMmrSql(poolK: Int, k: Int): String =
    s"""WITH emb AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
           WHERE list_dot_product(CAST(embedding AS DOUBLE[]),
                 CAST(embedding AS DOUBLE[])) > 0),
         scored AS (
           SELECT q.vec_id AS q_id, e.vec_id, e.v,
                  list_dot_product(q.v, e.v) /
                    (sqrt(list_dot_product(q.v, q.v)) *
                     sqrt(list_dot_product(e.v, e.v))) AS cos
           FROM emb q, emb e
           WHERE q.vec_id < 8 AND e.vec_id <> q.vec_id),
         pool AS MATERIALIZED (
           SELECT q_id, rk, vec_id, v, round(cos, 6) AS rel
           FROM (SELECT q_id, vec_id, v, cos,
                        row_number() OVER (PARTITION BY q_id
                          ORDER BY cos DESC, vec_id) AS rk
                 FROM scored)
           WHERE rk <= $poolK),
         ${dMmrTail(k)}"""

  /** IVF-pooled MMR: the shared Lloyd-assignment probe chain supplies
    * the shortlist (vectors carried from the assignment CTE), then the
    * identical greedy tail. */
  private def dMmrIvfSql(poolK: Int, k: Int): String =
    s"""WITH ${dIvfProbeCtes(iters = 2)},
         pool AS MATERIALIZED (
           SELECT r.q_id, r.rk, r.vec_id, a.v, round(r.cos, 6) AS rel
           FROM ranked r JOIN af a USING (vec_id)
           WHERE r.rk <= $poolK),
         ${dMmrTail(k)}"""

  /** DSIR oracle CTE chain — twin of [[graft.operators.Sampling
    * .dsirWeighted]]: hashed unigram+bigram buckets, add-one-smoothed
    * target/raw bucket LMs, per-pool-doc decimal-exact log-ratio sum.
    * Ends in `dw(doc_id, n_feats, logratio, avg_logratio)`. */
  /** HTML-extraction oracle CTE chain — twin of
    * [[graft.operators.Html]]: synthesize the identical page frame
    * (nav/ad/footer boilerplate around ~12-token paragraphs, ¾-length
    * truncation for doc_id ≡ 3 mod 17), segment on closing block
    * tags, strip/collapse, integer link-density classification.
    * Whitespace is the EXPLICIT class [ \t\n\r] everywhere (Java \s
    * includes \x0B, RE2's does not); regexp_replace carries 'g'
    * (DuckDB is first-match by default, Spark is global). Ends in
    * `hblk(doc_id, source, blocks: struct(txt, ll)[])`. */
  /** The shared hdoc CTE: per-doc id/source/tokens both page frames
    * synthesize from. RAW string — its whitespace class relies on
    * un-processed backslashes. */
  private def dHtmlDocCte: String =
    """hdoc AS (
           SELECT doc_id, source, coalesce(doc_id, 0) AS hid,
                  list_filter(string_split_regex(coalesce(text, ''),
                      '[ \t\n\r]+'), x -> len(x) > 0) AS ts
           FROM documents)"""

  /** The ~12-token `<p>` paragraph expression over `ts` — the content
    * half of BOTH frames (twin of Html.parasOf). The coalesce is
    * LOAD-BEARING: duck array_to_string([]) is NULL and concat_ws
    * SKIPS it, Spark array_join([]) is '' and concat_ws keeps it —
    * without it a zero-token doc's page is one newline shorter on the
    * oracle and offset-sensitive rules fork (ADVICE r15: doc 1006
    * boiler_chars 88 vs 89). */
  private def dHtmlParasSql: String =
    """coalesce(array_to_string(
                 CASE WHEN len(ts) = 0 THEN []
                 ELSE ['<p>' ||
                         array_to_string(ts[i*12+1 : i*12+12], ' ')
                         || '</p>'
                       for i in range(0, (len(ts)+11)//12)] END,
                 chr(10)), '')"""

  /** The extraction tail (scrub → segment → strip/measure) reading a
    * `hpage(doc_id, source, h)` CTE — ONE definition for the standard
    * and hostile frames. The scrub chain interpolates
    * Html.ScrubPatterns verbatim (the engine's literal strings — ONE
    * source of truth); spliced by token replacement because the block
    * must stay a RAW string (its regex literals rely on un-processed
    * backslashes, which an s-interpolator would consume). */
  private def dHtmlTail: String = {
    val scrubExpr = graft.operators.Html.ScrubPatterns
      .foldLeft("h")((acc, p) => s"regexp_replace($acc, '$p', ' ', 'g')")
    dHtmlTailRaw.replace("GRAFT_SCRUB_EXPR", scrubExpr)
  }

  private def dHtmlCtes: String =
    s"""$dHtmlDocCte,
         $dHtmlStdFrameCtes,
         $dHtmlTail"""

  /** Hostile-markup oracle chain — twin of Html.htmlHostileOf: quoted
    * `>` in attributes, mixed-case script, CDATA / uppercase-anchor /
    * unclosed-comment variants by doc_id mod 3, entity references, a
    * trailing unclosed `<p>` — through the IDENTICAL extraction
    * tail. */
  private def dHtmlHostileCtes: String =
    s"""$dHtmlDocCte,
         hpage AS (
           SELECT doc_id, source,
             concat_ws(chr(10),
               '<html><body>',
               '<H1 title="Doc > ' || hid || '" class="t">' ||
                 'Hostile Document ' || hid || '</H1>',
               '<SCRIPT type="a>b">var p = "</p>"; ' ||
                 'track("</div>");</SCRIPT>',
               $dHtmlParasSql,
               CASE ((hid % 3) + 3) % 3
                 WHEN 0 THEN '<![CDATA[cdata block <p>not a ' ||
                   'paragraph</p> raw text]]>'
                 WHEN 1 THEN '<DIV class="x>y"><A TITLE="a>b" ' ||
                   'HREF="/x">anchor &amp; entity</A></DIV>'
                 ELSE '<!-- unclosed template comment drops to ' ||
                   'end of page'
               END,
               '<p>trailing unclosed &amp; 5 &gt; 3',
               '</body></html>') AS h
           FROM hdoc),
         $dHtmlTail"""

  private def dHtmlStdFrameCtes: String =
    s"""hpage0 AS (
           SELECT doc_id, source, hid,
             concat_ws(chr(10),
               '<html><head><title>d</title></head><body>',
               '<h1>Document ' || hid || '</h1>',
               '<script type="text/javascript">var a = 1; ' ||
                 'if (a < 2) { track("</div> page view analytics ' ||
                 'beacon"); }</script>',
               '<style>.c { color: red; margin: 0 auto; ' ||
                 'padding: 2px; }</style>',
               '<nav><ul>' || array_to_string(
                 ['<li><a href="/s' || i || '">sec ' || i || '</a></li>'
                  for i in range(1, 4 + ((hid % 4) + 4) % 4)], '')
                 || '</ul></nav>',
               $dHtmlParasSql,
               '<!-- rendered by example corp template v2 -->',
               '<div><a href="/buy">Buy now best deals click here ' ||
                 'limited offer</a></div>',
               '<footer><a href="/tos">Terms</a> ' ||
                 '<a href="/privacy">Privacy</a> (c) example corp' ||
                 '</footer>',
               '</body></html>') AS h
           FROM hdoc),
         hpage AS (
           SELECT doc_id, source,
             CASE WHEN ((hid % 17) + 17) % 17 = 3
                  THEN substr(h, 1, CAST((len(h)*3)//4 AS INT))
                  ELSE h END AS h
           FROM hpage0)"""

  private def dHtmlTailRaw: String =
    """hscrub AS (
           SELECT doc_id, source,
             GRAFT_SCRUB_EXPR AS h
           FROM hpage),
         hblk AS (
           SELECT doc_id, source,
             list_transform(
               string_split_regex(h,
                 '</p>|</li>|</h1>|</div>|</footer>'),
               b -> struct_pack(
                 txt := trim(regexp_replace(
                   regexp_replace(b, '<[^>]*>', ' ', 'g'),
                   '[ \t\n\r]+', ' ', 'g')),
                 ll := CAST(coalesce(list_sum(list_transform(
                         regexp_extract_all(b, '<a [^>]*>([^<]*)', 1),
                         x -> len(trim(regexp_replace(x,
                           '[ \t\n\r]+', ' ', 'g'))))), 0) AS BIGINT)))
               AS blocks
           FROM hscrub)"""

  /** The per-doc extraction-metrics SELECT over an hblk CTE chain —
    * ONE definition for the standard and hostile frame oracles (twin
    * of Html.extractMetrics). */
  private def dHtmlExtractSql(ctes: String): String =
    s"""WITH $ctes
         SELECT doc_id,
                CAST(len(list_filter(blocks,
                  b -> len(b.txt) > 0)) AS BIGINT) AS n_blocks,
                CAST(len(list_filter(blocks,
                  b -> $dHtmlContent)) AS BIGINT) AS n_content,
                CAST(coalesce(list_sum(list_transform(
                  list_filter(blocks, b -> $dHtmlContent),
                  b -> len(b.txt))), 0) AS BIGINT) AS content_chars,
                CAST(coalesce(list_sum(list_transform(
                  list_filter(blocks,
                    b -> len(b.txt) > 0 AND NOT ($dHtmlContent)),
                  b -> len(b.txt))), 0) AS BIGINT) AS boiler_chars,
                ${dH60("coalesce(array_to_string(list_transform(" +
                  s"list_filter(blocks, b -> $dHtmlContent), " +
                  // duck array_to_string([]) is NULL, Spark
                  // array_join([]) is '' (null-gate finding)
                  "b -> b.txt), chr(10)), '')")} AS extract_h
         FROM hblk ORDER BY doc_id"""

  /** The content-block predicate over an hblk struct `b` — the ONE
    * definition both html oracle rows classify with. */
  private def dHtmlContent: String =
    s"len(b.txt) >= ${graft.operators.Html.MinBlockChars} " +
      "AND 3*b.ll < len(b.txt)"

  /** Curation-composition oracle — twin of [[graft.operators.Curation
    * .curationPipeline]]: the html-extraction CTEs feed a langid /
    * quality-score / per-language-rank / fingerprint-dedup replay
    * over the EXTRACTED text. The oracle states each stage naively
    * (full rank window, direct group-by dedup); the engine reaches
    * the identical manifest via the memoized narrow base + RankCut. */
  /** Shared curation-stage CTE chain — the extract → langid → score →
    * fingerprint → per-language naive rank cut replay BOTH manifest
    * oracles (`curation_pipeline`, `curation_pipeline_neardup`) build
    * on, so the two can never observe drifting stage definitions.
    * Assumes the html CTEs are in scope; ends in
    * `ctoks(doc_id, ext, ts)` and
    * `ck(doc_id, pred_lang, score, fp, quality_kept)`. */
  private def dCurationCtes: String = {
    val langs = graft.functions.TextFunctions.stopwords.keys.toSeq.sorted
    val scores = langs.map { l =>
      val sw = graft.functions.TextFunctions.stopwords(l)
        .map(w => s"'$w'").mkString(", ")
      s"""CASE WHEN len(ts) = 0 THEN 0.0
              ELSE CAST(len(list_filter(ts, t -> list_contains([$sw], t))) AS DOUBLE)
                   / len(ts) END AS s_$l"""
    }.mkString(",\n           ")
    val all = (langs :+ "zh").map(l => s"s_$l").mkString(", ")
    val cases = (langs :+ "zh")
      .map(l => s"WHEN s_$l = greatest($all) THEN '$l'")
      .mkString("\n              ")
    val enSw = graft.functions.TextFunctions.stopwords("en")
      .map(w => s"'$w'").mkString(", ")
    val keep = graft.operators.Curation.KeepFrac
    s"""hext AS (SELECT doc_id,
                  coalesce(array_to_string(list_transform(
                    list_filter(blocks, b -> $dHtmlContent),
                    b -> b.txt), chr(10)), '') AS ext
                FROM hblk),
       ctoks AS (SELECT doc_id, ext,
                   list_filter(string_split_regex(lower(ext), '\\s+'),
                     t -> len(t) > 0) AS ts
                 FROM hext),
       csc AS (SELECT doc_id, ext, ts,
           $scores,
           CASE WHEN len(ext) = 0 THEN 0.0
                ELSE CAST(len(regexp_extract_all(ext,
                  '[\\x{4e00}-\\x{9fff}]')) AS DOUBLE)
                     / len(ext) END AS s_zh
         FROM ctoks),
       cq AS (SELECT doc_id,
                CASE WHEN greatest($all) < 0.05 THEN 'und'
                $cases
                ELSE 'und' END AS pred_lang,
                round(
                  round(CASE WHEN len(ts) = 0 THEN 0.0
                    ELSE CAST(len(list_filter(ts, t -> list_contains(
                      [$enSw], t))) AS DOUBLE) / len(ts) END, 6) -
                  round(CASE WHEN len(ext) = 0 THEN 0.0
                    ELSE CAST(len(regexp_extract_all(ext, '[.,;:!?]'))
                      AS DOUBLE) / len(ext) END, 6) -
                  round(CASE WHEN len(ext) = 0 THEN 0.0
                    ELSE CAST(len(regexp_extract_all(ext, '[0-9]'))
                      AS DOUBLE) / len(ext) END, 6), 6) AS score,
                ${dH60("ext")} AS fp
              FROM csc),
       cr AS (SELECT *, row_number() OVER (PARTITION BY pred_lang
                ORDER BY score DESC, doc_id) AS rk,
                count(*) OVER (PARTITION BY pred_lang) AS n
              FROM cq),
       ck AS (SELECT doc_id, pred_lang, score, fp,
                rk <= floor(1 + $keep * (n - 1)) AS quality_kept
              FROM cr)"""
  }

  /** The 90/5/5 split label of an id expression — the curation
    * manifests' split column (the train_split hash kernel). */
  private def dCurationSplit(idExpr: String): String = {
    val h = dH60(s"'split:'||CAST($idExpr AS VARCHAR)")
    s"""CASE WHEN $h % 100 < 90 THEN 'train'
             WHEN $h % 100 < 95 THEN 'val'
             ELSE 'test' END"""
  }

  private def dCurationSql: String =
    s"""WITH $dHtmlCtes,
       $dCurationCtes,
       cdk AS (SELECT fp, min(doc_id) AS keep_id FROM ck
               WHERE quality_kept GROUP BY fp),
       cmk AS (SELECT k.doc_id, k.pred_lang, k.score, k.quality_kept,
                coalesce(k.quality_kept AND k.doc_id = d.keep_id, false)
                  AS dedup_keeper,
                ${dCurationSplit("k.doc_id")} AS split
              FROM ck k LEFT JOIN cdk d USING (fp))
       SELECT doc_id, pred_lang, score, quality_kept, dedup_keeper,
              split, dedup_keeper AND split = 'train' AS selected
       FROM cmk ORDER BY doc_id"""

  /** Near-dup curation manifest oracle — the same stage chain, with
    * the dedup stage replayed as the FULL minhash pipeline over the
    * extracted-text tokens (the chain `minhash_pairs` proves, fed by
    * `ctoks` instead of documents tokens), recursive-CTE components,
    * and the quality-aware keeper (kept first, score desc, min id). */
  private def dCurationNearDupSql: String =
    s"""WITH RECURSIVE $dHtmlCtes,
       $dCurationCtes,
       ${dMinhashPairsCtesFrom("toks AS (SELECT doc_id, ts FROM ctoks)")},
       edges AS (SELECT doc_a AS s, doc_b AS d FROM mh_pairs
                 UNION SELECT doc_b, doc_a FROM mh_pairs),
       reach AS (SELECT s, d FROM edges
                 UNION SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
       comp AS (SELECT s AS doc_id, least(s, min(d)) AS cluster_id
                FROM reach GROUP BY s),
       ncl AS (SELECT k.doc_id, k.pred_lang, k.score, k.quality_kept,
                      coalesce(c.cluster_id, k.doc_id) AS cluster_id
               FROM ck k LEFT JOIN comp c USING (doc_id)),
       nwin AS (SELECT cluster_id, doc_id AS keep_doc_id FROM (
                  SELECT cluster_id, doc_id,
                         row_number() OVER (PARTITION BY cluster_id
                           ORDER BY quality_kept DESC, score DESC,
                             doc_id) AS rk
                  FROM ncl) WHERE rk = 1),
       nmk AS (SELECT n.doc_id, n.pred_lang, n.score, n.quality_kept,
                      n.cluster_id,
                      n.quality_kept AND n.doc_id = w.keep_doc_id
                        AS dedup_keeper,
                      ${dCurationSplit("n.doc_id")} AS split
               FROM ncl n JOIN nwin w USING (cluster_id))
       SELECT doc_id, pred_lang, score, quality_kept, cluster_id,
              dedup_keeper, split,
              dedup_keeper AND split = 'train' AS selected
       FROM nmk ORDER BY doc_id"""

  /** Gumbel-perturbed DSIR selection-key CTEs — ONE definition shared
    * by the three selection oracles (`dsir_select`,
    * `dsir_select_frac`, `dsir_select_stats`), because the gumbel
    * draw (hash mod 2^52 dyadic u, round-6) and the sel_key grid
    * (round-8 sum, null filter) are rounding-grid-critical: two
    * drifting copies would let the stats row observe a different key
    * grid than the select it reports on. Consumes `dw`, ends in
    * `dkey(doc_id, logratio, gumbel, sel_key)` (non-null keys). */
  private def dDsirKeyCtes: String =
    s"""dsel AS (SELECT doc_id, logratio,
                    round(-ln(-ln(
                      ((${dH60("'dsirn:'||CAST(doc_id AS VARCHAR)")}
                          % 4503599627370496) + 0.5)
                        / 4503599627370496.0)), 6) AS gumbel
                  FROM dw),
         dkey AS (SELECT doc_id, logratio, gumbel,
                         round(logratio + gumbel, 8) AS sel_key
                  FROM dsel WHERE round(logratio + gumbel, 8) IS NOT NULL)"""

  /** The DSIR target predicate as SQL. */
  private def dDsirTgt: String = graft.operators.Sampling.DsirTargets
    .map(s => s"'$s'").mkString(", ")

  /** The shared DSIR LM-fit CTE prefix: hashed unigram+bigram
    * features over the FULL corpus → per-bucket target/raw counts →
    * totals. Consumed by the selection oracles (dDsirCtes) AND the
    * classifier's dense-feature chain (dQcCtes) — one definition so
    * the two can never fit drifting LMs. Ends in `dfeat(doc_id,
    * source, b)`, `dstat(b, ct, cr)`, `dtot(nt, nr)`. */
  private def dDsirStatCtes: String = {
    val b = graft.operators.Sampling.DsirBuckets
    s"""toks AS (SELECT doc_id, source, $dToks AS ts FROM documents),
       dfeat AS (SELECT doc_id, source,
                   (${dH60("'dsir:'||f")} % $b) AS b
                 FROM (SELECT doc_id, source,
                         unnest(list_concat(ts, ${dShinglesN(2)})) AS f
                       FROM toks)),
       dstat AS (SELECT b,
                   CAST(sum(CASE WHEN coalesce(source IN ($dDsirTgt), false)
                            THEN 1 ELSE 0 END) AS BIGINT) AS ct,
                   CAST(sum(CASE WHEN coalesce(source IN ($dDsirTgt), false)
                            THEN 0 ELSE 1 END) AS BIGINT) AS cr
                 FROM dfeat GROUP BY b),
       dtot AS (SELECT CAST(sum(ct) AS BIGINT) AS nt,
                       CAST(sum(cr) AS BIGINT) AS nr FROM dstat)"""
  }

  /** The per-feature round-8 log-ratio expression over a
    * dstat×dtot-joined row — the ONE arithmetic both per-doc sums
    * (selection dper, classifier qdper) feed to the exact decimal
    * hop. */
  private def dDsirLogRatioExpr: String = {
    val b = graft.operators.Sampling.DsirBuckets
    s"""round(ln(
         (CAST(ct+1 AS DOUBLE) * CAST(nr+$b AS DOUBLE)) /
         (CAST(cr+1 AS DOUBLE) * CAST(nt+$b AS DOUBLE))), 8)"""
  }

  private def dDsirCtes: String = {
    val tgt = dDsirTgt
    s"""$dDsirStatCtes,
       dpool AS (SELECT doc_id FROM documents
                 WHERE NOT coalesce(source IN ($tgt), false)),
       dper AS (SELECT doc_id, count(*) AS n_feats,
                  CAST(CAST(sum(${dExactDec(dDsirLogRatioExpr)})
                    AS VARCHAR) AS DOUBLE) AS w
                FROM dfeat JOIN dstat USING (b) CROSS JOIN dtot
                WHERE NOT coalesce(source IN ($tgt), false)
                GROUP BY doc_id),
       dw AS (SELECT p.doc_id,
                coalesce(n_feats, 0) AS n_feats,
                -- round-8 is identity on the scale-8 sum grid; round-6
                -- sits on half boundaries (the vecdegen finding)
                CASE WHEN coalesce(n_feats, 0) = 0 THEN 0.0
                     ELSE round(w, 8) END AS logratio,
                CASE WHEN coalesce(n_feats, 0) = 0 THEN 0.0
                     ELSE w / n_feats END AS avg_logratio
              FROM dpool p LEFT JOIN dper USING (doc_id))"""
  }

  /** Unigram-LM tokenizer oracle CTEs — twin of
    * [[graft.operators.TextAnalysis.ulmVocab]]/[[graft.operators
    * .TextAnalysis.ulmEncode]]: candidate char-n-gram vocab over the
    * distinct-word table, then per round a full Viterbi DP per word as
    * a sliding-window recursive CTE (state = last-4 best scores +
    * chosen-length list; argmax = struct list_max over ≤4 LEFT-JOINed
    * candidates, ties to the longer piece) + a backtrace walk.
    * `mkRound(scoreCte, suffix)` emits up/udp/udpf/ubt/useg CTEs;
    * ends with useg$suffix(word, freq, ps). */
  private object DUlm {
    val maxWord = graft.operators.TextAnalysis.UlmMaxWord
    val maxPiece = graft.operators.TextAnalysis.UlmMaxPiece
    val vocabSize = graft.operators.TextAnalysis.UlmVocabSize

    def baseCtes: String =
      s"""uw AS (SELECT word, CAST(count(*) AS BIGINT) AS freq
             FROM (SELECT unnest($dToks) AS word FROM documents)
             GROUP BY 1),
         uelig AS (SELECT word, freq FROM uw WHERE len(word) <= $maxWord),
         upc AS (SELECT piece, CAST(sum(freq) AS BIGINT) AS pfreq FROM (
                 SELECT freq, substr(word, CAST(i AS INT), CAST(L AS INT))
                        AS piece
                 FROM uelig,
                      LATERAL unnest(range(1, len(word)+1)) t(i),
                      LATERAL unnest(range(1, ${maxPiece + 1})) s(L)
                 WHERE i + L - 1 <= len(word)) GROUP BY 1),
         utop AS (SELECT piece, pfreq FROM upc
                  ORDER BY pfreq DESC, piece LIMIT $vocabSize),
         uvocab AS (SELECT DISTINCT piece, pfreq FROM
                    (SELECT * FROM utop UNION ALL
                     SELECT piece, pfreq FROM upc WHERE len(piece) = 1)),
         utot0 AS (SELECT CAST(sum(pfreq) AS BIGINT) AS tot FROM uvocab),
         us0 AS (SELECT piece,
                   round(ln(CAST(pfreq AS DOUBLE) / CAST(tot AS DOUBLE)), 8)
                     AS s
                 FROM uvocab CROSS JOIN utot0)"""

    /** One segmentation round under score CTE `sc` (piece, s). */
    def mkRound(sc: String, x: String): String = {
      val cands = (1 to maxPiece).map { l =>
        s"""CASE WHEN p$l.s IS NULL THEN NULL
                ELSE {'s': d.bests[len(d.bests) - ${l - 1}] + p$l.s,
                      'l': CAST($l AS BIGINT)} END"""
      }.mkString(",\n                  ")
      val joins = (1 to maxPiece).map { l =>
        s"""LEFT JOIN up$x p$l ON p$l.word = d.word
                AND p$l.endpos = d.i + 1 AND p$l.l = $l"""
      }.mkString("\n              ")
      s"""up$x AS MATERIALIZED (
           SELECT e.word, i AS endpos, L AS l, sc.s
           FROM uelig e,
                LATERAL unnest(range(1, len(e.word)+1)) t(i),
                LATERAL unnest(range(1, ${maxPiece + 1})) s(L),
                $sc sc
           WHERE L <= i
             AND sc.piece = substr(e.word, CAST(i - L + 1 AS INT),
                                   CAST(L AS INT))),
         udp$x AS (
           SELECT word, freq, 0 AS i, [CAST(0.0 AS DOUBLE)] AS bests,
                  CAST([] AS BIGINT[]) AS ls
           FROM uelig
           UNION ALL
           SELECT word, freq, i + 1,
                  CASE WHEN len(bests) >= $maxPiece
                       THEN list_append(bests[2:], pick['s'])
                       ELSE list_append(bests, pick['s']) END,
                  list_append(ls, pick['l'])
           FROM (
             SELECT d.word, d.freq, d.i, d.bests, d.ls,
                    list_max(list_filter([
                  $cands], c -> c IS NOT NULL)) AS pick
             FROM udp$x d
              $joins
             WHERE d.i < len(d.word)) picked),
         udpf$x AS MATERIALIZED (
           SELECT word, freq, ls FROM udp$x WHERE i = len(word)),
         ubt$x AS (
           SELECT word, freq, ls, CAST(len(word) AS BIGINT) AS j,
                  CAST([] AS VARCHAR[]) AS ps
           FROM udpf$x
           UNION ALL
           SELECT word, freq, ls, j - ls[CAST(j AS INT)],
                  list_prepend(substr(word,
                    CAST(j - ls[CAST(j AS INT)] + 1 AS INT),
                    CAST(ls[CAST(j AS INT)] AS INT)), ps)
           FROM ubt$x WHERE j > 0),
         useg$x AS MATERIALIZED (
           SELECT word, freq, ps FROM ubt$x WHERE j = 0)"""
    }

    /** EM M-step score table us1 (piece, pfreq, cnt, s) from round-1
      * segmentation counts. */
    def emCtes: String =
      s"""ucnt1 AS (SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt
             FROM (SELECT freq, unnest(ps) AS piece FROM useg1)
             GROUP BY 1),
         ucj AS (SELECT v.piece, v.pfreq, coalesce(c.cnt, 0) AS cnt
                 FROM uvocab v LEFT JOIN ucnt1 c USING (piece)),
         utot1 AS (SELECT CAST(sum(cnt) AS BIGINT) AS tot,
                          CAST(count(*) AS BIGINT) AS nv FROM ucj),
         us1 AS MATERIALIZED (
           SELECT piece, pfreq, cnt,
                  round(ln(CAST(cnt + 1 AS DOUBLE) /
                           CAST(tot + nv AS DOUBLE)), 8) AS s
           FROM ucj CROSS JOIN utot1)"""

    def vocabSql: String =
      s"""WITH RECURSIVE $baseCtes,
         ${mkRound("us0", "1")},
         $emCtes
         SELECT piece, pfreq, cnt, s FROM us1 ORDER BY piece"""

    def encodeSql: String =
      s"""WITH RECURSIVE $baseCtes,
         ${mkRound("us0", "1")},
         $emCtes,
         ${mkRound("us1", "2")},
         uenc AS (
           SELECT word, CAST(len(word) AS BIGINT) AS n_chars,
                  CAST(len(ps) AS BIGINT) AS n_pieces,
                  array_to_string(list_transform(ps,
                    p -> len(p)||':'||p), '') AS enc
           FROM useg2
           UNION ALL
           SELECT word, CAST(len(word) AS BIGINT), CAST(1 AS BIGINT),
                  len(word)||':'||word
           FROM uw WHERE len(word) > $maxWord),
         etoks AS (SELECT doc_id, $dToks AS dts FROM documents),
         epos AS (SELECT doc_id, i AS pos, dts[i] AS word
                  FROM etoks, LATERAL unnest(range(1, len(dts)+1)) t(i)),
         eagg AS (SELECT doc_id,
                         CAST(sum(n_chars) AS BIGINT) AS n_raw,
                         CAST(sum(n_pieces) AS BIGINT) AS n_tokens,
                         string_agg(enc, '' ORDER BY pos) AS encstr
                  FROM epos JOIN uenc USING (word) GROUP BY 1)
         SELECT d.doc_id,
                coalesce(n_raw, 0) AS n_raw,
                coalesce(n_tokens, 0) AS n_tokens,
                ${dH60("coalesce(encstr, '')")} AS enc_h
         FROM documents d LEFT JOIN eagg USING (doc_id)
         ORDER BY doc_id"""
  }

  /** Learned-quality-probe oracle — twin of
    * [[graft.operators.TextAnalysis.qualityClassifier]]: hashed
    * bag-of-words features + bias, then [[graft.operators.TextAnalysis
    * .QcIters]] unrolled full-batch GD rounds with the rational
    * sigmoid link. Every sum rides the EXACT-expansion decimal hop
    * (format('{:.70e}') — the decSumExact twin) so training weights
    * are bit-identical cross-engine; the update is raw IEEE ops. */
  /** Shared GD-training CTE chain for the two classifier calibration
    * modes — ends in `zf(doc_id, z)`, `qlab(doc_id, y)`, `qp(bias0)`. */
  private def dQcCtes: String = {
    val tgt = graft.operators.Sampling.DsirTargets
      .map(s => s"'$s'").mkString(", ")
    val b = graft.operators.TextAnalysis.QcBuckets
    val eta = graft.operators.TextAnalysis.QcEta
    val iters = graft.operators.TextAnalysis.QcIters
    def exact(e: String) =
      s"""CASE WHEN abs($e) < 5e-19 THEN CAST(0 AS DECIMAL(38,18))
              ELSE CAST(format('{:.70e}', $e) AS DECIMAL(38,18)) END"""
    def sigma(z: String) = s"0.5 + $z/(2*(1+abs($z)))"
    def iter(t: Int): String = {
      val prev = s"w${t - 1}"
      s"""z$t AS (SELECT f.doc_id,
                  CAST(CAST(sum(${exact("w*x")}) AS VARCHAR) AS DOUBLE)
                    AS z
                FROM qfeat f JOIN $prev USING (b) GROUP BY f.doc_id),
         r$t AS (SELECT z$t.doc_id, (${sigma("z")}) - y AS resid
                FROM z$t JOIN qlab USING (doc_id)),
         g$t AS (SELECT b,
                  CAST(CAST(sum(${exact("resid*x")}) AS VARCHAR)
                    AS DOUBLE) AS g
                FROM qfeat JOIN r$t USING (doc_id) GROUP BY b),
         w$t AS MATERIALIZED (
           SELECT w.b, w.w - $eta*(coalesce(g.g, 0.0)/n) AS w
           FROM $prev w LEFT JOIN g$t g USING (b) CROSS JOIN qn)"""
    }
    s"""$dDsirStatCtes,
         -- all-docs DSIR avg log-ratio: the classifier's dense
         -- stacked feature (the dper shape WITHOUT the pool filter)
         qdper AS (SELECT doc_id, count(*) AS n_feats,
                     CAST(CAST(sum(${dExactDec(dDsirLogRatioExpr)})
                       AS VARCHAR) AS DOUBLE) AS w
                   FROM dfeat JOIN dstat USING (b) CROSS JOIN dtot
                   GROUP BY doc_id),
         qalr AS (SELECT d.doc_id,
                    CASE WHEN coalesce(n_feats, 0) = 0 THEN 0.0
                         ELSE w / n_feats END AS alr
                  FROM documents d LEFT JOIN qdper USING (doc_id)),
         qdocs AS (
           SELECT doc_id,
                  CASE WHEN coalesce(source IN ($tgt), false)
                       THEN 1.0 ELSE 0.0 END AS y,
                  $dToks AS ts
           FROM documents),
         -- the DSIR feature family: unigrams + word bigrams, hashed
         -- with multiplicity (same list_concat shape dfeat proves)
         qfs AS (SELECT doc_id,
                        list_concat(ts, ${dShinglesN(2)}) AS fs
                 FROM qdocs),
         qtok AS (SELECT doc_id, unnest(fs) AS token, len(fs) AS nt
                  FROM qfs),
         qtf AS (SELECT doc_id, (${dH60("'qc:'||token")} % $b) AS b,
                        CAST(count(*) AS DOUBLE) /
                          CAST(min(nt) AS DOUBLE) AS x
                 FROM qtok GROUP BY 1, 2),
         qfeat AS (SELECT doc_id, b, x FROM qtf
                   UNION ALL
                   SELECT doc_id, $b AS b, 1.0 AS x FROM qdocs
                   UNION ALL
                   SELECT doc_id, ${b + 1} AS b, alr AS x FROM qalr),
         qlab AS (SELECT doc_id, y FROM qdocs),
         qn AS (SELECT CAST(count(*) AS DOUBLE) AS n,
                       CAST(sum(y) AS DOUBLE) AS npos FROM qdocs),
         -- bias init + decision threshold at the base-rate prior under
         -- the Elliott link: the z with sigma(z) = p — each step one
         -- IEEE op in the Spark side's exact order
         qp AS (SELECT CASE
                  WHEN n = 0.0 OR npos = 0.0 OR npos = n THEN 0.0
                  WHEN npos / n >= 0.5 THEN
                    (2.0 * (npos / n) - 1.0) / (2.0 * (1.0 - npos / n))
                  ELSE (2.0 * (npos / n) - 1.0) / (2.0 * (npos / n))
                END AS bias0 FROM qn),
         w0 AS (SELECT i AS b,
                  CASE WHEN i = $b THEN bias0 ELSE 0.0 END AS w
                FROM range(0, ${b + 2}) t(i) CROSS JOIN qp),
         ${(1 to iters).map(iter).mkString(",\n         ")},
         zf AS (SELECT f.doc_id,
                  CAST(CAST(sum(${exact("w*x")}) AS VARCHAR) AS DOUBLE)
                    AS z
                FROM qfeat f JOIN w$iters USING (b) GROUP BY f.doc_id)"""
  }

  private def dQcSql: String = {
    def sigma(z: String) = s"0.5 + $z/(2*(1+abs($z)))"
    s"""WITH ${dQcCtes}
         SELECT zf.doc_id, CAST(y AS INT) AS label_curated,
                round(z, 6) AS score,
                round(${sigma("z")}, 6) AS prob,
                z >= bias0 AS predicted
         FROM zf JOIN qlab USING (doc_id) CROSS JOIN qp
         ORDER BY doc_id"""
  }

  /** Kept-fraction calibration replay: rank the ROUNDED (6dp) scores
    * — the value the engine ranks — desc with doc_id tiebreak. */
  private def dQcFracSql: String =
    s"""WITH ${dQcCtes},
         qr AS (SELECT zf.doc_id, y, round(z, 6) AS score,
                  row_number() OVER (ORDER BY round(z, 6) DESC,
                    zf.doc_id) AS rk,
                  count(*) OVER () AS nn
                FROM zf JOIN qlab USING (doc_id))
         SELECT doc_id, CAST(y AS INT) AS label_curated, score,
                rk <= floor(1 + ${graft.operators.TextAnalysis.QcKeepFrac}
                  * (nn - 1)) AS kept
         FROM qr ORDER BY doc_id"""

  /** Per-doc distinct `n`-token span hashes — shared CTE prefix of the
    * span-granular dedup/decontamination oracles. Ends in
    * `spanx(doc_id, span_h)`. */
  private def dSpanCtes(n: Int): String =
    s"""toks AS (SELECT doc_id, $dToks AS ts FROM documents),
         sp AS (SELECT doc_id, list_distinct(${dShinglesN(n)}) AS spans FROM toks),
         spanx AS (SELECT doc_id, ${dH60("s")} AS span_h
                   FROM (SELECT doc_id, unnest(spans) AS s FROM sp))"""

  /** The default token-table CTE the minhash chain shingles: the
    * documents table's lowered whitespace tokens. */
  private def dDocToksCte: String =
    s"toks AS (SELECT doc_id, $dToks AS ts FROM documents)"

  /** CTE chain ending in per-doc minhash mins m<i> for i in `perms`.
    * `toksCte` supplies the token table (doc_id, ts) — the curation
    * near-dup oracle passes EXTRACTED-text tokens instead of the
    * default documents tokens. */
  private def minhashCtes(perms: Seq[Int],
      toksCte: String = dDocToksCte): String = {
    val mins = perms.map { i =>
      s"list_min(list_transform(hs, h -> (${Dedup.permA(i)}*h + ${Dedup.permB(i)}) % 2147483647)) AS m$i"
    }.mkString(",\n           ")
    s"""$toksCte,
         shing AS (SELECT doc_id, $dShingles AS shingles FROM toks),
         hs0 AS (SELECT doc_id, shingles,
                   list_transform(shingles, s -> ${dH60("s")} % 2147483647) AS hs
                 FROM shing WHERE len(shingles) > 0),
         sig AS (SELECT doc_id, shingles,
           $mins
         FROM hs0)"""
  }

  /** 16 band keys per doc (parallel unnest zips the two lists). */
  private val dBandsCte: String = {
    val ids = (0 until Dedup.MinhashBands).mkString(", ")
    val keys = (0 until Dedup.MinhashBands).map { b =>
      (0 until 4).map(r => s"m${b * 4 + r}").mkString("||':'||")
    }.mkString(",\n             ")
    s"""bands AS (SELECT doc_id, unnest([$ids]) AS band_id,
           unnest([$keys]) AS band_key FROM sig)"""
  }

  /** LSH candidate pairs + exact-Jaccard verification (minhash_pairs
    * semantics: skew-capped buckets, threshold 0.5) over an arbitrary
    * token-table CTE. */
  private def dMinhashPairsCtesFrom(toksCte: String): String =
    s"""${minhashCtes(0 until 64, toksCte)},
         $dBandsCte,
         big AS (SELECT band_id, band_key FROM bands
                 GROUP BY 1, 2 HAVING count(*) > 200),
         bf AS (SELECT bands.* FROM bands ANTI JOIN big USING (band_id, band_key)),
         grams AS (SELECT doc_id, list_distinct(shingles) AS g FROM hs0),
         cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                  FROM bf a JOIN bf b USING (band_id, band_key)
                  WHERE a.doc_id < b.doc_id),
         jac AS (SELECT doc_a, doc_b,
                   CAST(len(list_intersect(ga.g, gb.g)) AS DOUBLE) /
                     len(list_distinct(list_concat(ga.g, gb.g))) AS jaccard
                 FROM cand JOIN grams ga ON ga.doc_id = cand.doc_a
                           JOIN grams gb ON gb.doc_id = cand.doc_b),
         mh_pairs AS (SELECT doc_a, doc_b, jaccard FROM jac
                      WHERE jaccard >= 0.5)"""

  private val dMinhashPairsCtes: String =
    dMinhashPairsCtesFrom(dDocToksCte)

  /** Perceptual-hash CTE chain: the grouped raster's closed form →
    * 10×6 aHash (integer mean, ≥ bit) + 11×6 dHash (right-neighbor
    * strictly brighter) — bit-identical to the DECODED-pixel hashes of
    * `Multimodal.imagePhash` (PNG is lossless). Ends in
    * `phash (doc_id, width, height, ahash, dhash)`. */
  private lazy val dPhashCtes: String =
    """pg AS (
           SELECT doc_id, doc_id // 4 AS gid, doc_id % 4 AS v,
                  16 + (doc_id // 4) % 9 AS w, 12 + (doc_id // 4) % 7 AS h
           FROM documents),
         ppx AS (
           SELECT doc_id, w, h,
                  [((gid*37 + i*11) % 256 +
                     CASE WHEN (i+1) % (7+v) = 0 THEN 48 ELSE 0 END) % 256
                   for i in range(0, 432)] AS px
           FROM pg),
         psamp AS (
           SELECT doc_id, w, h, px,
                  [px[((b//10)*h//6)*w + ((b%10)*w//10) + 1]
                   for b in range(0, 60)] AS sa
           FROM ppx),
         pmean AS (
           SELECT doc_id, w, h, px, sa, list_sum(sa) // 60 AS amean
           FROM psamp),
         phash AS (
           SELECT doc_id,
                  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
                  CAST(list_sum([CASE WHEN sa[b+1] >= amean
                      THEN (1::BIGINT << b) ELSE 0 END
                    for b in range(0, 60)]) AS BIGINT) AS ahash,
                  CAST(list_sum(flatten(
                    [[CASE WHEN px[(y*h//6)*w + ((x+1)*w//11) + 1] >
                             px[(y*h//6)*w + (x*w//11) + 1]
                        THEN (1::BIGINT << (y*10+x)) ELSE 0 END
                      for x in range(0, 10)] for y in range(0, 6)]))
                    AS BIGINT) AS dhash
           FROM pmean)"""

  /** Video perceptual-hash CTE chain: the grouped clip's closed-form
    * frames → per-frame 10×6 aHash (the image-phash arithmetic) →
    * per-bit MAJORITY across frames (`vhash`) + frame 0's aHash
    * (`f0hash`) — bit-identical to the DECODED-frame hashes of
    * `Multimodal.videoPhash` (the gray-palette GIF is lossless). Frame
    * index unrolls over the constant max frame count (5; range()
    * rejects lateral bounds) and filters to nf; px over the constant
    * max raster 16×13 = 208. Ends in
    * `vph (doc_id, n_frames, vhash, f0hash)`. */
  private lazy val dVphashCtes: String =
    """vg AS (
           SELECT doc_id, doc_id // 4 AS gid, doc_id % 4 AS v,
                  3 + (doc_id // 4) % 3 AS nf,
                  12 + (doc_id // 4) % 5 AS w, 10 + (doc_id // 4) % 4 AS h
           FROM documents),
         vfr AS (SELECT doc_id, gid, v, nf, w, h,
                        unnest(range(0, 5)) AS f
                 FROM vg),
         vpx AS (
           SELECT doc_id, nf, f, w, h,
                  [((gid*37 + f*53 + i*11) % 256 +
                     CASE WHEN (i+1) % (7+v) = 0 THEN 48 ELSE 0 END) % 256
                   for i in range(0, 208)] AS px
           FROM vfr WHERE f < nf),
         vsa AS (
           SELECT doc_id, nf, f,
                  [px[((b//10)*h//6)*w + ((b%10)*w//10) + 1]
                   for b in range(0, 60)] AS sa
           FROM vpx),
         vfh AS (SELECT doc_id, nf, f, sa, list_sum(sa) // 60 AS m
                 FROM vsa),
         vbit AS (
           SELECT doc_id, nf,
                  unnest([CASE WHEN sa[b+1] >= m THEN 1 ELSE 0 END
                          for b in range(0, 60)]) AS bv,
                  unnest(range(0, 60)) AS b
           FROM vfh),
         vcnt AS (SELECT doc_id, nf, b, sum(bv) AS cnt
                  FROM vbit GROUP BY 1, 2, 3),
         vmh AS (
           SELECT doc_id,
                  CAST(sum(CASE WHEN 2*cnt > nf THEN (1::BIGINT << b)
                           ELSE 0 END) AS BIGINT) AS vhash
           FROM vcnt GROUP BY doc_id, nf),
         vkf AS (
           SELECT doc_id,
                  CAST(list_sum([CASE WHEN sa[b+1] >= m
                      THEN (1::BIGINT << b) ELSE 0 END
                    for b in range(0, 60)]) AS BIGINT) AS f0hash
           FROM vfh WHERE f = 0),
         vph AS (
           SELECT vg.doc_id, CAST(vg.nf AS BIGINT) AS n_frames,
                  vmh.vhash, vkf.f0hash
           FROM vg JOIN vmh ON vmh.doc_id = vg.doc_id
                   JOIN vkf ON vkf.doc_id = vg.doc_id)"""

  /** Audio-fingerprint CTE chain: the grouped four-saw-ramp waveform's
    * closed form → 61 window energies (20-sample sums of squares) →
    * the 60-bit Gray-quantized envelope hash (30 paired super-windows,
    * 4 loudness levels against the integer envelope mean, two Gray
    * bits each, (b%4)·15 + b/4 interleaved layout) and the 60-bit
    * temporal-delta hash (next window strictly more energetic) —
    * bit-identical to the DECODED-sample hashes of
    * `Multimodal.audioFingerprint` (WAV PCM is lossless). Ends in
    * `afp (doc_id, n_samples, energy_total, ehash, thash)`. */
  private lazy val dAfpCtes: String =
    """ag AS (SELECT doc_id, doc_id // 4 AS gid, doc_id % 4 AS v
           FROM documents),
         asmp AS (
           SELECT doc_id,
                  [CAST((gid*31 + i*7) % 2003 - 1001 +
                     (gid*17 + i*11) % 1009 - 504 +
                     (gid*13 + i*5) % 509 - 254 +
                     (gid*7 + i*3) % 251 - 125 +
                     CASE WHEN (i+1) % (13+v) = 0 THEN 97 ELSE 0 END
                     AS BIGINT) for i in range(0, 1220)] AS s
           FROM ag),
         aen AS (
           SELECT doc_id,
                  [list_sum([s[w*20+j+1]*s[w*20+j+1]
                     for j in range(0, 20)]) for w in range(0, 61)] AS e
           FROM asmp),
         aem AS (
           SELECT doc_id, e,
                  [e[2*w+1] + e[2*w+2] for w in range(0, 30)] AS ew,
                  list_sum([e[w+1] for w in range(0, 60)]) // 30 AS em
           FROM aen),
         afp AS (
           SELECT doc_id,
                  CAST(1220 AS BIGINT) AS n_samples,
                  CAST(list_sum(e) AS BIGINT) AS energy_total,
                  CAST(list_sum([
                      CASE WHEN 2*ew[w+1] >= em AND ew[w+1] < 2*em
                        THEN (1::BIGINT << (((2*w) % 4)*15 + (2*w)//4))
                        ELSE 0 END
                    + CASE WHEN ew[w+1] >= em
                        THEN (1::BIGINT << (((2*w+1) % 4)*15 + (2*w+1)//4))
                        ELSE 0 END
                    for w in range(0, 30)]) AS BIGINT) AS ehash,
                  CAST(list_sum([CASE WHEN e[b+2] > e[b+1]
                      THEN (1::BIGINT << b) ELSE 0 END
                    for b in range(0, 60)]) AS BIGINT) AS thash
           FROM aem)"""

  /** BPE merge-learning oracle: replay all `m` rounds bit-exactly —
    * per round, adjacent-pair counts over the current encoding, the
    * (count DESC, left, right) argmax, and the greedy left-to-right
    * non-overlapping merge pass as a per-document RECURSIVE walk
    * (state = (position, out, skip); a fusion consumes the next
    * position, exactly `TextAnalysis.mergePass`'s aggregate). Out-of-
    * bounds `ts[i+1]` is NULL in DuckDB and null-safe-false on the
    * Spark side — same lookahead semantics at the list end. */
  private def dBpeCtes(m: Int): String = {
    // m$k/t$k MATERIALIZED and the merge pair carried as recursion-state
    // columns (ml, mr): a correlated `(SELECT l FROM m$k)` inside the
    // recursion re-derives the entire upstream CTE chain per row under
    // DuckDB's inlining — measured as a >10-min hang at 6 rounds vs
    // seconds materialized
    def round(src: String, k: Int) =
      s"""p$k AS (SELECT unnest([{'l': ts[i], 'r': ts[i+1]}
               for i in range(1, len(ts))]) AS p
             FROM $src WHERE len(ts) >= 2),
         c$k AS (SELECT p.l AS l, p.r AS r, count(*) AS cnt
                 FROM p$k GROUP BY 1, 2),
         m$k AS MATERIALIZED (
           SELECT CAST($k AS BIGINT) AS merge_rank, l, r,
                  CAST(cnt AS BIGINT) AS cnt
           FROM c$k ORDER BY cnt DESC, l, r LIMIT 1),
         r$k AS (
           SELECT doc_id, ts, CAST(1 AS BIGINT) AS i, len(ts) AS n,
                  CAST([] AS VARCHAR[]) AS out, false AS skip,
                  m.l AS ml, m.r AS mr
           FROM $src CROSS JOIN m$k m
           UNION ALL
           SELECT doc_id, ts, i + 1, n,
                  CASE WHEN skip THEN out
                       WHEN i < n AND ts[i] = ml AND ts[i+1] = mr
                         THEN list_append(out, ts[i] || ' ' || ts[i+1])
                       ELSE list_append(out, ts[i]) END,
                  CASE WHEN skip THEN false
                       WHEN i < n AND ts[i] = ml AND ts[i+1] = mr
                         THEN true ELSE false END,
                  ml, mr
           FROM r$k WHERE i <= n),
         t$k AS MATERIALIZED (
           SELECT doc_id, out AS ts FROM r$k WHERE i = n + 1)"""
    val rounds = (1 to m).map(k =>
      round(if (k == 1) "t0" else s"t${k - 1}", k)).mkString(",\n         ")
    s"""t0 AS (SELECT doc_id,
                    coalesce($dToks, CAST([] AS VARCHAR[])) AS ts
             FROM documents),
         $rounds"""
  }

  private def dBpeSql(m: Int): String = {
    val sel = (1 to m).map(k =>
      s"SELECT merge_rank, l AS left_sym, r AS right_sym, cnt AS pair_cnt FROM m$k")
      .mkString("\n         UNION ALL ")
    s"""WITH RECURSIVE ${dBpeCtes(m)}
         $sel
         ORDER BY merge_rank"""
  }

  /** Word-table BPE oracle CTEs (the `TextAnalysis.bpeMergesVocab`
    * replay): ONE corpus aggregate to the (word, freq) table, words
    * split to character symbol lists, then per round the word-internal
    * adjacent-pair counts WEIGHTED BY word freq, the (sum DESC, l, r)
    * argmax, and the same greedy recursive merge walk as [[dBpeCtes]]
    * run per DISTINCT WORD — every round is vocab-bounded on this
    * engine too. Ends in `vt$m (word, freq, ts)` + `vm1..vm$m`. */
  private def dBpeVocabCtes(m: Int): String = {
    def round(src: String, k: Int) =
      s"""vp$k AS (SELECT freq, unnest([{'l': ts[i], 'r': ts[i+1]}
               for i in range(1, len(ts))]) AS p
             FROM $src WHERE len(ts) >= 2),
         vc$k AS (SELECT p.l AS l, p.r AS r, sum(freq) AS cnt
                 FROM vp$k GROUP BY 1, 2),
         vm$k AS MATERIALIZED (
           SELECT CAST($k AS BIGINT) AS merge_rank, l, r,
                  CAST(cnt AS BIGINT) AS cnt
           FROM vc$k ORDER BY cnt DESC, l, r LIMIT 1),
         vr$k AS (
           SELECT word, freq, ts, CAST(1 AS BIGINT) AS i, len(ts) AS n,
                  CAST([] AS VARCHAR[]) AS out, false AS skip,
                  m.l AS ml, m.r AS mr
           FROM $src CROSS JOIN vm$k m
           UNION ALL
           SELECT word, freq, ts, i + 1, n,
                  CASE WHEN skip THEN out
                       WHEN i < n AND ts[i] = ml AND ts[i+1] = mr
                         THEN list_append(out, ts[i] || ' ' || ts[i+1])
                       ELSE list_append(out, ts[i]) END,
                  CASE WHEN skip THEN false
                       WHEN i < n AND ts[i] = ml AND ts[i+1] = mr
                         THEN true ELSE false END,
                  ml, mr
           FROM vr$k WHERE i <= n),
         vt$k AS MATERIALIZED (
           SELECT word, freq, out AS ts FROM vr$k WHERE i = n + 1)"""
    val rounds = (1 to m).map(k =>
      round(if (k == 1) "vt0" else s"vt${k - 1}", k)).mkString(",\n         ")
    s"""wv0 AS (SELECT word, CAST(count(*) AS BIGINT) AS freq
           FROM (SELECT unnest($dToks) AS word FROM documents) GROUP BY 1),
         vt0 AS (SELECT word, freq,
                  [word[i] for i in range(1, len(word)+1)] AS ts
                 FROM wv0),
         $rounds"""
  }

  private def dBpeVocabSql(m: Int): String = {
    val sel = (1 to m).map(k =>
      s"SELECT merge_rank, l AS left_sym, r AS right_sym, cnt AS pair_cnt FROM vm$k")
      .mkString("\n         UNION ALL ")
    s"""WITH RECURSIVE ${dBpeVocabCtes(m)}
         $sel
         ORDER BY merge_rank"""
  }

  /** GPT-3-style n-gram decontamination oracle — shared VERBATIM by the
    * exact operator (`contamination_ngram`) and its bloom-screened twin
    * (`contamination_bloom`): the screen must change the exchange, never
    * the answer. */
  private lazy val dContamNgramSql: String =
    s"""WITH ${dSpanCtes(8)},
         split AS (
           SELECT doc_id,
                  CASE WHEN b < 90 THEN 'train'
                       WHEN b < 95 THEN 'val'
                       ELSE 'test' END AS split
           FROM (SELECT doc_id, ${dH60("'split:'||doc_id")} % 100 AS b
                 FROM documents)),
         ex AS (SELECT spanx.doc_id, split.split, span_h
                FROM spanx JOIN split USING (doc_id)),
         train AS (SELECT DISTINCT span_h FROM ex WHERE split = 'train'),
         per AS (SELECT ex.doc_id, count(*) AS n_spans,
                        CAST(sum(CASE WHEN train.span_h IS NOT NULL
                                      THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
                 FROM ex LEFT JOIN train ON ex.span_h = train.span_h
                 WHERE ex.split <> 'train' GROUP BY 1)
         SELECT s.doc_id, s.split,
                coalesce(n_spans, 0) AS n_spans,
                coalesce(n_hit, 0) AS n_hit,
                CASE WHEN coalesce(n_spans, 0) = 0 THEN 0.0
                     ELSE round(n_hit / CAST(n_spans AS DOUBLE), 6)
                END AS hit_frac
         FROM split s LEFT JOIN per USING (doc_id)
         WHERE s.split <> 'train'
         ORDER BY doc_id"""

  /** Per-doc 60-bit simhash (nested bit-vote comprehension). */
  private val dSimhashCtes: String =
    s"""simtoks AS (SELECT doc_id, $dToks AS ts FROM documents),
         simhs AS (SELECT doc_id, list_transform(ts, t -> ${dH60("t")}) AS hs
                   FROM simtoks WHERE len(ts) > 0),
         simsig AS (SELECT doc_id,
             CAST(list_sum([CASE WHEN list_sum([CASE WHEN ((h >> i) & 1) = 1
                 THEN 1 ELSE -1 END for h in hs]) > 0
               THEN (1::BIGINT << i) ELSE 0 END
               for i in range(0, ${Dedup.SimhashBits})]) AS BIGINT) AS simhash
           FROM simhs)"""

  /** md5-derived hyperplanes + per-vector 16-bit LSH bucket (twin of
    * Dedup.withHyperplaneBucket/planeComponent). emb0 replays the
    * engine's zero-norm source exclusion (Similarity.emb): an all-zero
    * vector has no direction to bucket and no cosine to verify. */
  private val dEmbBucketCtes: String =
    s"""planes AS (SELECT p,
             [(${dH60("'plane:'||p||':'||d")} % ${Dedup.PlaneMod}) /
                ${Dedup.PlaneMod}.0 * 2.0 - 1.0 for d in range(0, 64)] AS pv
           FROM range(0, 16) t(p)),
         emb0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                  FROM embeddings
                  WHERE list_dot_product(CAST(embedding AS DOUBLE[]),
                    CAST(embedding AS DOUBLE[])) > 0),
         bkt AS (SELECT emb0.vec_id,
             CAST(SUM(CASE WHEN list_dot_product(emb0.v, planes.pv) >= 0
               THEN (1::BIGINT << (15 - planes.p)) ELSE 0 END) AS BIGINT) AS bucket
           FROM emb0 CROSS JOIN planes GROUP BY emb0.vec_id)"""

  /** SQ8 (symmetric int8) replay twin of Quantize.int8IndexTable /
    * int8Scored: the zero-norm-excluded vector frame `e8`, the
    * quantized frame `q8` (scale, integral-double codes), and the
    * rescaled integer-dot scores `i8scored` for the standard 8-query
    * set. */
  private val dInt8Ctes: String =
    s"""e8 AS (
           SELECT * FROM (
             SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                      CAST(embedding AS DOUBLE[]))) AS nrm
             FROM embeddings)
           WHERE nrm > 0),
         q8 AS (
           SELECT vec_id, nrm, scale,
                  [round(x * scale) for x in v] AS codes
           FROM (SELECT vec_id, nrm, v,
                        127.0 / list_max([abs(x) for x in v]) AS scale
                 FROM e8)),
         i8scored AS (
           SELECT q.vec_id AS q_id, c.vec_id,
                  list_dot_product(q.codes, c.codes)
                    / (q.scale * c.scale) / (q.nrm * c.nrm) AS cos
           FROM q8 q, q8 c
           WHERE q.vec_id < 8 AND c.vec_id <> q.vec_id)"""

  /** Full IVF replication in SQL: sample (or `iters`-round decimal-exact
    * Lloyd) centroids → per-vector argmax assignment → per-query nprobe
    * probing → in-list exact cosine top-k. Every arithmetic step
    * (list_dot_product, decimal-exact means, tie-broken row_number) is
    * bit-identical to the Spark plan, so the ANN result itself is
    * oracle-checked — not just its recall. */
  /** The Lloyd-assignment CTE chain shared by every IVF oracle: `emb0`
    * (cast + norm), `cent0` (deterministic init), `iters` rounds of
    * decimal-exact assignment/update, and the final full assignment
    * `af (vec_id, v, nrm, c_id)` — bit-identical to
    * `Similarity.assignmentTable`. Returned string is the WITH body up
    * to and including `af`; the final centroid CTE is `cent<iters>`. */
  private def dIvfAssignCtes(iters: Int, dims: Int = 64,
      nCentroids: Int = 64): String = {
    def assign(cent: String, name: String) =
      s"""$name AS (
           SELECT vec_id, v, nrm, c_id FROM (
             SELECT e.vec_id, e.v, e.nrm, c.c_id,
                    row_number() OVER (PARTITION BY e.vec_id
                      ORDER BY list_dot_product(e.v, c.c_v) / (e.nrm * c.c_nrm)
                        DESC, c.c_id) AS crk
             FROM emb0 e CROSS JOIN $cent c)
           WHERE crk = 1)"""
    // the input hop is the EXACT expansion (format is correctly
    // rounded; sub-5e-19 guarded to 0 — DuckDB's parser mis-rounds
    // long-mantissa tiny exponents, and those quantize to 0 anyway),
    // replaying Spark's ExactDecimal18 (decExact): a VARCHAR (Ryu-shortest)
    // hop forks from Java-toString-mediated casts on 1e16+ doubles
    // (the vecdegen-s2 codebook finding)
    def update(assigned: String, name: String) =
      s"""${name}_m AS (
           SELECT c_id, i AS pos,
                  CAST(CAST(sum(CASE WHEN abs(v[i]) < 5e-19
                      THEN CAST(0 AS DECIMAL(38,18))
                      ELSE CAST(format('{:.70e}', v[i])
                        AS DECIMAL(38,18)) END) AS VARCHAR) AS DOUBLE)
                    / count(*) AS m
           FROM $assigned, range(1, ${dims + 1}) t(i)
           GROUP BY c_id, i),
         $name AS (
           SELECT c_id, c_v, sqrt(list_dot_product(c_v, c_v)) AS c_nrm
           FROM (SELECT c_id, list(m ORDER BY pos) AS c_v
                 FROM ${name}_m GROUP BY c_id))"""
    val lloyd = (0 until iters).map { i =>
      assign(s"cent$i", s"a${i + 1}") + ",\n         " +
        update(s"a${i + 1}", s"cent${i + 1}")
    }
    val centFinal = s"cent$iters"
    s"""emb0 AS (
           SELECT * FROM (
             SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                      CAST(embedding AS DOUBLE[]))) AS nrm
             FROM embeddings)
           WHERE nrm > 0),
         cent0 AS (SELECT vec_id AS c_id, v AS c_v, nrm AS c_nrm
                   FROM emb0 ORDER BY vec_id LIMIT $nCentroids),
         ${(lloyd :+ assign(centFinal, "af")).mkString(",\n         ")}"""
  }

  /** The IVF probe/scan/rank CTE chain through `ranked` — shared by the
    * per-query serve oracles ([[dIvfSql]]) and the graph-consuming
    * oracles (semantic_clusters), which append their own recursion on
    * top of the same ranked candidate set. */
  private def dIvfProbeCtes(iters: Int, dims: Int = 64, nCentroids: Int = 64,
      nQueries: Int = 8, nprobe: Int = 8,
      queryPred: String = "", corpusPred: String = "TRUE"): String = {
    val qp = if (queryPred.nonEmpty) queryPred else s"q.vec_id < $nQueries"
    val centFinal = s"cent$iters"
    s"""${dIvfAssignCtes(iters, dims, nCentroids)},
         probes AS (
           SELECT q_id, q_v, q_nrm, c_id FROM (
             SELECT q.vec_id AS q_id, q.v AS q_v, q.nrm AS q_nrm, c.c_id,
                    row_number() OVER (PARTITION BY q.vec_id
                      ORDER BY list_dot_product(q.v, c.c_v) / (q.nrm * c.c_nrm)
                        DESC, c.c_id) AS crk
             FROM emb0 q CROSS JOIN $centFinal c WHERE $qp)
           WHERE crk <= $nprobe),
         scan AS (
           SELECT p.q_id, a.vec_id,
                  list_dot_product(p.q_v, a.v) / (p.q_nrm * a.nrm) AS cos
           FROM af a JOIN probes p USING (c_id)
           WHERE a.vec_id <> p.q_id AND $corpusPred),
         ranked AS (
           SELECT q_id, vec_id, cos,
                  CAST(row_number() OVER (PARTITION BY q_id
                    ORDER BY cos DESC, vec_id) AS BIGINT) AS rk
           FROM scan)"""
  }

  private def dIvfSql(iters: Int, dims: Int = 64, nCentroids: Int = 64,
      nQueries: Int = 8, nprobe: Int = 8, k: Int = 10,
      queryPred: String = "", corpusPred: String = "TRUE"): String =
    s"""WITH ${dIvfProbeCtes(iters, dims, nCentroids, nQueries, nprobe,
          queryPred, corpusPred)}
       SELECT q_id, rk, vec_id, round(cos, 6) AS cos
       FROM ranked WHERE rk <= $k ORDER BY q_id, rk"""

  /** SemDeDup pairwise oracle: the shared Lloyd assignment chain, then
    * per-cluster pairwise cosine above the threshold. */
  private lazy val dSemanticPairsSql: String =
    s"""WITH ${dIvfAssignCtes(iters = 2)},
         pairs AS (
           SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                  list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cos
           FROM af a JOIN af b USING (c_id)
           WHERE a.vec_id < b.vec_id)
         SELECT vec_a, vec_b, round(cos, 6) AS cos
         FROM pairs WHERE cos >= 0.40 ORDER BY vec_a, vec_b"""

  /** Product-quantization CTE chain: subvector slices, Lloyd-trained
    * per-subspace codebooks (decimal-exact means — the IVF pattern with
    * a `sub` grouping column), and the final nearest-entry encoding.
    * Ends at `pqcodes` (vec_id, sub, code); `pqcb2` is the trained
    * codebook. Argmin L2 ranks by 2·sv·cv − cv·cv DESC (sv·sv constant
    * per group), tie to the smallest c_id — exactly the Spark side's
    * argmax struct. */
  /** The two-iteration Lloyd codebook-training chain over an existing
    * `${p}subs` (vec_id, sub, sv) CTE — plain PQ trains on raw
    * subvectors (`p = "pq"`), residual PQ on coarse residuals
    * (`p = "pqr"`). Emits `${p}cb2` (trained codebooks) and
    * `${p}codes` (the encoding). */
  private def dPqTrainCtes(p: String): String = {
    val ksub = graft.operators.Quantize.Ksub
    val sd = graft.operators.Quantize.SubDim
    def assign(cb: String, name: String) =
      s"""$name AS (
           SELECT vec_id, sub, sv, c_id AS code FROM (
             SELECT s.vec_id, s.sub, s.sv, c.c_id,
                    row_number() OVER (PARTITION BY s.vec_id, s.sub
                      ORDER BY 2 * list_dot_product(s.sv, c.cv) -
                        list_dot_product(c.cv, c.cv) DESC, c.c_id) AS rk
             FROM ${p}subs s JOIN $cb c USING (sub))
           WHERE rk = 1)"""
    // EXACT-expansion input hop — see dIvfAssignCtes.update
    def update(assigned: String, name: String) =
      s"""${name}_m AS (
           SELECT sub, code AS c_id, i AS pos,
                  CAST(CAST(CAST(CAST(sum(CASE WHEN abs(sv[i]) < 5e-19
                      THEN CAST(0 AS DECIMAL(38,18))
                      ELSE CAST(format('{:.70e}', sv[i])
                        AS DECIMAL(38,18)) END) AS VARCHAR) AS DOUBLE)
                    / count(*) AS FLOAT) AS DOUBLE) AS m
           FROM $assigned, range(1, ${sd + 1}) t(i)
           GROUP BY sub, code, i),
         $name AS (
           SELECT sub, c_id, list(m ORDER BY pos) AS cv
           FROM ${name}_m GROUP BY sub, c_id)"""
    // seed = the Ksub LOWEST ids with DENSE c_ids 0..Ksub−1 (the Spark
    // side's driver-bounded rule, Quantize.trainCodebooksOver): a
    // `vec_id < Ksub` filter replays it only on corpora whose ids are
    // dense from 0 — a zero-excluded or offset id among the lowest Ksub
    // forks the codebook SIZE between engines (the vecdegen gate's
    // finding, the r10 seed-rule class on the oracle side this time)
    s"""${p}cb0 AS (
           SELECT sub, c_id, cv FROM (
             SELECT sub, sv AS cv,
                    dense_rank() OVER (ORDER BY vec_id) - 1 AS c_id
             FROM ${p}subs)
           WHERE c_id < $ksub),
         ${assign(s"${p}cb0", s"${p}a1")},
         ${update(s"${p}a1", s"${p}cb1")},
         ${assign(s"${p}cb1", s"${p}a2")},
         ${update(s"${p}a2", s"${p}cb2")},
         ${assign(s"${p}cb2", s"${p}codes")}"""
  }

  private val dPqCtes: String = {
    val m = graft.operators.Quantize.M
    val sd = graft.operators.Quantize.SubDim
    s"""pqemb AS (
           SELECT * FROM (
             SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                      CAST(embedding AS DOUBLE[]))) AS nrm
             FROM embeddings)
           WHERE nrm > 0),
         pqsubs AS (
           SELECT vec_id, sub, v[sub * $sd + 1 : sub * $sd + $sd] AS sv
           FROM pqemb, range(0, $m) s(sub)),
         ${dPqTrainCtes("pq")}"""
  }

  /** [[dPqCtes]] extended with the per-query ADC lookup tables: `pqq`
    * (query subvectors) and `pqlut` (rounded subspace inner products per
    * codebook entry). Shared by the full-scan ADC chain and the IVF+PQ
    * probed chain. */
  private val dPqLutCtes: String =
    s"""$dPqCtes,
         pqq AS (SELECT vec_id AS q_id, sub, sv AS qsv
                 FROM pqsubs WHERE vec_id < 8),
         pqlut AS (
           SELECT q.q_id, c.sub, c.c_id AS code,
                  round(list_dot_product(q.qsv, c.cv), 10) AS ip
           FROM pqq q JOIN pqcb2 c USING (sub))"""

  /** [[dPqLutCtes]] extended with the ADC scan: decimal-exact M-addend
    * sums, approximate-cosine ranking. Ends at `pqranked` (q_id, vec_id,
    * cos, rk — unfiltered). `corpusPred` models index churn: the churned
    * serve must equal an ADC whose scan never saw the deleted vectors. */
  private def dPqAdcCtesFor(corpusPred: String): String =
    s"""$dPqLutCtes,
         pqadc AS (
           SELECT l.q_id, cd.vec_id,
                  CAST(sum(${dExactDec("l.ip")}) AS DOUBLE) AS ips
           FROM pqcodes cd
           JOIN pqlut l ON cd.sub = l.sub AND cd.code = l.code
           WHERE cd.vec_id <> l.q_id AND $corpusPred
           GROUP BY 1, 2),
         pqranked AS (
           SELECT a.q_id, a.vec_id, a.ips / (qn.nrm * n.nrm) AS cos,
                  CAST(row_number() OVER (PARTITION BY a.q_id
                    ORDER BY a.ips / (qn.nrm * n.nrm) DESC, a.vec_id)
                    AS BIGINT) AS rk
           FROM pqadc a
           JOIN pqemb n ON a.vec_id = n.vec_id
           JOIN pqemb qn ON a.q_id = qn.vec_id)"""

  private val dPqAdcCtes: String = dPqAdcCtesFor("TRUE")

  /** OPQ (structured rotation) ADC chain: the Walsh–Hadamard rotation
    * H/√d replayed from bit_count signs (±1·x products exact, the
    * 64-addend fold sequential through `list_dot_product` exactly like
    * the engine's codegen'd dot, /8 an exact power-of-two scale — the
    * rotated vectors are BIT-identical cross-engine), then the
    * standard PQ train/encode/ADC chain over the rotated frame. Norms
    * recomputed in rotated space, one definition on both engines. */
  private val dOpqAdcCtes: String = {
    val m = graft.operators.Quantize.M
    val sd = graft.operators.Quantize.SubDim
    val d = graft.operators.Quantize.Dim
    s"""opqsrc AS (
           SELECT * FROM (
             SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                      CAST(embedding AS DOUBLE[]))) AS nrm
             FROM embeddings)
           WHERE nrm > 0),
         had AS (
           SELECT j, list(CAST(CASE WHEN bit_count(j & k) % 2 = 0
                    THEN 1.0 ELSE -1.0 END AS DOUBLE) ORDER BY k) AS h
           FROM range(0, $d) t(j), range(0, $d) u(k) GROUP BY j),
         opqemb AS (
           SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM (
             SELECT vec_id, list(rv ORDER BY j) AS v FROM (
               SELECT s.vec_id, h.j,
                      list_dot_product(h.h, s.v) / ${math.sqrt(d.toDouble)} AS rv
               FROM opqsrc s CROSS JOIN had h)
             GROUP BY vec_id)),
         opqsubs AS (
           SELECT vec_id, sub, v[sub * $sd + 1 : sub * $sd + $sd] AS sv
           FROM opqemb, range(0, $m) s(sub)),
         ${dPqTrainCtes("opq")},
         opqq AS (SELECT vec_id AS q_id, sub, sv AS qsv
                  FROM opqsubs WHERE vec_id < 8),
         opqlut AS (
           SELECT q.q_id, c.sub, c.c_id AS code,
                  round(list_dot_product(q.qsv, c.cv), 10) AS ip
           FROM opqq q JOIN opqcb2 c USING (sub)),
         opqadc AS (
           SELECT l.q_id, cd.vec_id,
                  CAST(sum(${dExactDec("l.ip")}) AS DOUBLE) AS ips
           FROM opqcodes cd
           JOIN opqlut l ON cd.sub = l.sub AND cd.code = l.code
           WHERE cd.vec_id <> l.q_id
           GROUP BY 1, 2),
         opqranked AS (
           SELECT a.q_id, a.vec_id, a.ips / (qn.nrm * n.nrm) AS cos,
                  CAST(row_number() OVER (PARTITION BY a.q_id
                    ORDER BY a.ips / (qn.nrm * n.nrm) DESC, a.vec_id)
                    AS BIGINT) AS rk
           FROM opqadc a
           JOIN opqemb n ON a.vec_id = n.vec_id
           JOIN opqemb qn ON a.q_id = qn.vec_id)"""
  }

  /** IVF+PQ (Jégou et al.'s IVFADC): the Lloyd coarse-quantizer chain
    * ([[dIvfAssignCtes]] — emb0/cent2/af) composed with the PQ lookup
    * chain ([[dPqLutCtes]] — no CTE name collisions by construction):
    * each query keeps its nprobe nearest coarse lists (`iprobes`), and
    * the ADC sum runs over ONLY the codes of vectors assigned to a
    * probed list. Ends at `ivfranked` (q_id, vec_id, cos, rk). */
  private val dIvfPqCtes: String =
    s"""${dIvfAssignCtes(iters = 2)},
         iprobes AS (
           SELECT q_id, c_id FROM (
             SELECT q.vec_id AS q_id, c.c_id,
                    row_number() OVER (PARTITION BY q.vec_id
                      ORDER BY list_dot_product(q.v, c.c_v) / (q.nrm * c.c_nrm)
                        DESC, c.c_id) AS crk
             FROM emb0 q CROSS JOIN cent2 c WHERE q.vec_id < 8)
           WHERE crk <= 8),
         $dPqLutCtes,
         ivfadc AS (
           SELECT p.q_id, cd.vec_id,
                  CAST(sum(${dExactDec("l.ip")}) AS DOUBLE) AS ips
           FROM af a
           JOIN iprobes p USING (c_id)
           JOIN pqcodes cd ON cd.vec_id = a.vec_id
           JOIN pqlut l ON l.q_id = p.q_id AND l.sub = cd.sub
             AND l.code = cd.code
           WHERE a.vec_id <> p.q_id
           GROUP BY 1, 2),
         ivfranked AS (
           SELECT a.q_id, a.vec_id, a.ips / (qn.nrm * n.nrm) AS cos,
                  CAST(row_number() OVER (PARTITION BY a.q_id
                    ORDER BY a.ips / (qn.nrm * n.nrm) DESC, a.vec_id)
                    AS BIGINT) AS rk
           FROM ivfadc a
           JOIN pqemb n ON a.vec_id = n.vec_id
           JOIN pqemb qn ON a.q_id = qn.vec_id)"""

  /** Residual IVFADC: codes quantize r = v − centroid(v), codebooks
    * Lloyd-trained on the residual subvectors, and the serve adds the
    * per-(query, probed list) q·c scalar to the residual LUT sum
    * (q·x = q·c + q·r). The decimal LUT sum's double image plus the
    * rounded scalar is one IEEE add — deterministic on both engines.
    * Ends at `pqrranked`. */
  private val dIvfPqResCtes: String = {
    val m = graft.operators.Quantize.M
    val sd = graft.operators.Quantize.SubDim
    s"""${dIvfAssignCtes(iters = 2)},
         rprobes AS (
           SELECT q_id, c_id, qc_ip FROM (
             SELECT q.vec_id AS q_id, c.c_id,
                    round(list_dot_product(q.v, c.c_v), 10) AS qc_ip,
                    row_number() OVER (PARTITION BY q.vec_id
                      ORDER BY list_dot_product(q.v, c.c_v) / (q.nrm * c.c_nrm)
                        DESC, c.c_id) AS crk
             FROM emb0 q CROSS JOIN cent2 c WHERE q.vec_id < 8)
           WHERE crk <= 8),
         rres AS (
           SELECT a.vec_id, t.i AS pos,
                  CAST(CAST(a.v[t.i] -
                    CAST(CAST(c.c_v[t.i] AS FLOAT) AS DOUBLE)
                    AS FLOAT) AS DOUBLE) AS x
           FROM af a JOIN cent2 c USING (c_id), range(1, ${m * sd + 1}) t(i)),
         rvec AS (SELECT vec_id, list(x ORDER BY pos) AS v
                  FROM rres GROUP BY vec_id),
         pqrsubs AS (
           SELECT vec_id, sub, v[sub * $sd + 1 : sub * $sd + $sd] AS sv
           FROM rvec, range(0, $m) s(sub)),
         ${dPqTrainCtes("pqr")},
         pqrq AS (
           SELECT vec_id AS q_id, sub, v[sub * $sd + 1 : sub * $sd + $sd]
                    AS qsv
           FROM emb0, range(0, $m) s(sub) WHERE vec_id < 8),
         pqrlut AS (
           SELECT q.q_id, c.sub, c.c_id AS code,
                  round(list_dot_product(q.qsv, c.cv), 10) AS ip
           FROM pqrq q JOIN pqrcb2 c USING (sub)),
         pqradc AS (
           SELECT p.q_id, cd.vec_id,
                  CAST(sum(${dExactDec("l.ip")}) AS DOUBLE)
                    + p.qc_ip AS ips
           FROM af a
           JOIN rprobes p USING (c_id)
           JOIN pqrcodes cd ON cd.vec_id = a.vec_id
           JOIN pqrlut l ON l.q_id = p.q_id AND l.sub = cd.sub
             AND l.code = cd.code
           WHERE a.vec_id <> p.q_id
           GROUP BY p.q_id, cd.vec_id, p.qc_ip),
         pqrranked AS (
           SELECT a.q_id, a.vec_id, a.ips / (qn.nrm * n.nrm) AS cos,
                  CAST(row_number() OVER (PARTITION BY a.q_id
                    ORDER BY a.ips / (qn.nrm * n.nrm) DESC, a.vec_id)
                    AS BIGINT) AS rk
           FROM pqradc a
           JOIN emb0 n ON a.vec_id = n.vec_id
           JOIN emb0 qn ON a.q_id = qn.vec_id)"""
  }

  /** Argmax language CASE with the Spark fold's tie order (de,en,es,fr,zh). */
  private val dLangIdSql: String = {
    val langs = graft.functions.TextFunctions.stopwords.keys.toSeq.sorted
    val scores = langs.map { l =>
      val sw = graft.functions.TextFunctions.stopwords(l)
        .map(w => s"'$w'").mkString(", ")
      s"""CASE WHEN len(ts) = 0 THEN 0.0
              ELSE CAST(len(list_filter(ts, t -> list_contains([$sw], t))) AS DOUBLE)
                   / len(ts) END AS s_$l"""
    }.mkString(",\n           ")
    val all = (langs :+ "zh").map(l => s"s_$l").mkString(", ")
    val cases = (langs :+ "zh")
      .map(l => s"WHEN s_$l = greatest($all) THEN '$l'").mkString("\n              ")
    s"""WITH toks AS (SELECT doc_id, lang AS labeled_lang, text, $dToks AS ts
                      FROM documents),
         sc AS (SELECT doc_id, labeled_lang,
           $scores,
           CASE WHEN len(text) = 0 THEN 0.0
                ELSE CAST(len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) AS DOUBLE)
                     / len(text) END AS s_zh
         FROM toks)
       SELECT doc_id, labeled_lang,
              CASE WHEN greatest($all) < 0.05 THEN 'und'
              $cases
              ELSE 'und' END AS pred_lang
       FROM sc ORDER BY doc_id"""
  }

  /** The consolidated backfill feed (no date filter) as a CTE — shared
    * by the checksum and compaction oracles. */
  private val dFeedCte: String =
    """feed AS (
           SELECT 'orders' AS entity, CAST(o_orderkey AS VARCHAR) AS key,
                  'public' AS tenant,
                  '{"o_orderkey":' || o_orderkey ||
                  ',"o_custkey":' || CASE WHEN o_custkey IS NULL THEN 'null'
                    ELSE CAST(o_custkey AS VARCHAR) END ||
                  ',"o_orderstatus":' || CASE WHEN o_orderstatus IS NULL
                    THEN 'null' ELSE '"' || o_orderstatus || '"' END ||
                  ',"o_totalprice":' || CASE WHEN o_totalprice IS NULL
                    THEN 'null'
                    ELSE '"' || printf('%.2f', o_totalprice) || '"' END ||
                  ',"o_orderdate":' || CASE WHEN o_orderdate IS NULL
                    THEN 'null' ELSE '"' ||
                      strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') || '"' END ||
                  ',"o_orderpriority":' || CASE WHEN o_orderpriority IS NULL
                    THEN 'null' ELSE '"' || o_orderpriority || '"' END ||
                  '}' AS value
           FROM orders
           UNION ALL
           SELECT 'lineitem', CAST(l_orderkey AS VARCHAR), 'public',
                  '{"l_orderkey":' || l_orderkey ||
                  ',"l_linenumber":' || l_linenumber ||
                  ',"l_quantity":"' || printf('%.2f', l_quantity) ||
                  '","l_returnflag":"' || l_returnflag ||
                  '","l_linestatus":"' || l_linestatus ||
                  '","l_shipdate":"' || strftime(l_shipdate, '%Y-%m-%d %H:%M:%S') || '"}'
           FROM lineitem)"""

  /** The consolidated feed + per-entity checksum. */
  private val dChecksumSql: String = {
    // per-component null marker mirrors Backfill.feedChecksum's canon
    def comp(c: String) =
      s"CASE WHEN $c IS NULL THEN 'n|' ELSE len($c)||':'||$c||'|' END"
    val canon = s"${comp("key")}||${comp("tenant")}||${comp("value")}"
    s"""WITH $dFeedCte
       SELECT entity, count(*) AS n_rows,
              bit_xor(${dH60(s"($canon)")}) AS checksum
       FROM feed GROUP BY entity ORDER BY entity"""
  }

  /** Shared by bm25_search (full-scan), bm25_from_index /
    * bm25_index_maintained (served from the materialized indexes), and
    * — with a doc filter — bm25_index_churn (served after a doc-batch
    * delete must equal a fresh build that never saw those docs): same
    * ranking by construction. */
  private def dBm25SqlFor(where: String = "TRUE"): String =
    s"""WITH docs AS (SELECT * FROM documents WHERE $where),
       toks AS (SELECT doc_id, $dToks AS ts FROM docs),
       tok AS (SELECT doc_id, unnest(ts) AS token FROM toks),
       dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
       stats AS (SELECT (SELECT count(*) FROM docs) AS n_docs,
                        (SELECT avg(dl) FROM dl) AS avgdl),
       tf AS (SELECT doc_id, token, count(*) AS tf FROM tok
              WHERE token IN ('hash', 'join', 'scan') GROUP BY 1, 2),
       dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
       per AS (SELECT tf.doc_id, count(*) AS n_terms,
                      sum(CAST(round(
                        ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) *
                        (tf * (1.2 + 1.0)) /
                        (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)),
                        8) AS DECIMAL(38,8))) AS s
               FROM tf JOIN dfreq USING (token) JOIN dl USING (doc_id)
               CROSS JOIN stats
               GROUP BY 1)
       SELECT doc_id, n_terms, CAST(round(s, 6) AS DOUBLE) AS score
       FROM per ORDER BY score DESC, doc_id LIMIT 20"""

  private val dBm25Sql: String = dBm25SqlFor()

  /** Hybrid RRF fusion: the batched-BM25 chain and the IVF probe chain
    * (both verbatim from their own oracles — CTE names are disjoint),
    * candidate pools unioned, 1/(60+rank) summed per (query, doc). The
    * query id doubles as the query vector's vec_id, mirroring the Spark
    * side's encoder stand-in. */
  private val dHybridSql: String = {
    val batch = graft.operators.Retrieval.QueryBatch
    val values = batch
      .flatMap { case (q, ts) => ts.map(t => s"($q::BIGINT, '$t')") }
      .mkString(", ")
    val terms = batch.flatMap(_._2).distinct.map(t => s"'$t'").mkString(", ")
    val qids = batch.map(_._1).mkString(", ")
    s"""WITH toks AS (SELECT doc_id, $dToks AS ts FROM documents),
       tok AS (SELECT doc_id, unnest(ts) AS token FROM toks),
       dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
       stats AS (SELECT (SELECT count(*) FROM documents) AS n_docs,
                        (SELECT avg(dl) FROM dl) AS avgdl),
       q(query_id, token) AS (VALUES $values),
       tf AS (SELECT doc_id, token, count(*) AS tf FROM tok
              WHERE token IN ($terms) GROUP BY 1, 2),
       dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
       per AS (SELECT q.query_id, tf.doc_id, count(*) AS n_terms,
                      sum(CAST(round(
                        ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) *
                        (tf * (1.2 + 1.0)) /
                        (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)),
                        8) AS DECIMAL(38,8))) AS s
               FROM tf JOIN q USING (token) JOIN dfreq USING (token)
               JOIN dl USING (doc_id) CROSS JOIN stats
               GROUP BY 1, 2),
       lexr AS (SELECT query_id, doc_id,
                       CAST(row_number() OVER (PARTITION BY query_id
                         ORDER BY round(s, 6) DESC, doc_id) AS BIGINT) AS rk
                FROM per),
       ${dIvfAssignCtes(iters = 2)},
       probes AS (
         SELECT q_id, q_v, q_nrm, c_id FROM (
           SELECT qe.vec_id AS q_id, qe.v AS q_v, qe.nrm AS q_nrm, c.c_id,
                  row_number() OVER (PARTITION BY qe.vec_id
                    ORDER BY list_dot_product(qe.v, c.c_v) / (qe.nrm * c.c_nrm)
                      DESC, c.c_id) AS crk
           FROM emb0 qe CROSS JOIN cent2 c WHERE qe.vec_id IN ($qids))
         WHERE crk <= 8),
       semscan AS (
         SELECT p.q_id, a.vec_id,
                list_dot_product(p.q_v, a.v) / (p.q_nrm * a.nrm) AS cos
         FROM af a JOIN probes p USING (c_id)
         WHERE a.vec_id <> p.q_id),
       semr AS (
         SELECT q_id, vec_id,
                CAST(row_number() OVER (PARTITION BY q_id
                  ORDER BY cos DESC, vec_id) AS BIGINT) AS rk
         FROM semscan),
       fused AS (
         SELECT query_id, doc_id, sum(1.0 / (60 + rk)) AS rrf FROM (
           SELECT query_id, doc_id, rk FROM lexr WHERE rk <= 20
           UNION ALL
           SELECT q_id AS query_id, vec_id AS doc_id, rk FROM semr
           WHERE rk <= 20) u
         GROUP BY 1, 2),
       fr AS (SELECT query_id, doc_id, rrf,
                     CAST(row_number() OVER (PARTITION BY query_id
                       ORDER BY rrf DESC, doc_id) AS BIGINT) AS rk
              FROM fused)
     SELECT query_id, rk, doc_id, round(rrf, 6) AS rrf
     FROM fr WHERE rk <= 10 ORDER BY query_id, rk"""
  }

  /** Batched BM25: the query batch is generated from the SAME
    * [[graft.operators.Retrieval.QueryBatch]] the Spark side uses, so
    * the two can't drift. */
  private val dBm25BatchSql: String = {
    val batch = graft.operators.Retrieval.QueryBatch
    val values = batch
      .flatMap { case (q, ts) => ts.map(t => s"($q::BIGINT, '$t')") }
      .mkString(", ")
    val terms = batch.flatMap(_._2).distinct.map(t => s"'$t'").mkString(", ")
    s"""WITH toks AS (SELECT doc_id, $dToks AS ts FROM documents),
       tok AS (SELECT doc_id, unnest(ts) AS token FROM toks),
       dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
       stats AS (SELECT (SELECT count(*) FROM documents) AS n_docs,
                        (SELECT avg(dl) FROM dl) AS avgdl),
       q(query_id, token) AS (VALUES $values),
       tf AS (SELECT doc_id, token, count(*) AS tf FROM tok
              WHERE token IN ($terms) GROUP BY 1, 2),
       dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
       per AS (SELECT q.query_id, tf.doc_id, count(*) AS n_terms,
                      sum(CAST(round(
                        ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) *
                        (tf * (1.2 + 1.0)) /
                        (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)),
                        8) AS DECIMAL(38,8))) AS s
               FROM tf JOIN q USING (token) JOIN dfreq USING (token)
               JOIN dl USING (doc_id) CROSS JOIN stats
               GROUP BY 1, 2),
       ranked AS (SELECT query_id, doc_id, n_terms, CAST(round(s, 6) AS DOUBLE) AS score,
                         CAST(row_number() OVER (PARTITION BY query_id
                           ORDER BY round(s, 6) DESC, doc_id) AS BIGINT)
                           AS rk
                  FROM per)
     SELECT query_id, rk, doc_id, n_terms, score
     FROM ranked WHERE rk <= 20 ORDER BY query_id, rk"""
  }

  /** Shared by phrase_search (full-scan), phrase_from_index /
    * phrase_index_maintained (served from the positional indexes), and
    * — with a doc filter — phrase_index_churn. */
  private def dPhraseSqlFor(where: String = "TRUE"): String =
    s"""WITH docs AS (SELECT * FROM documents WHERE $where),
       toks AS (SELECT doc_id, $dToks AS ts FROM docs),
       pos AS (SELECT doc_id,
                 [i for i in range(1, len(ts) + 1) if ts[i] = 'hash']
                   AS p1,
                 [i for i in range(1, len(ts) + 1) if ts[i] = 'join']
                   AS p2
               FROM toks),
       hits AS (SELECT doc_id,
                  CAST(len(list_intersect(
                    list_transform(p1, x -> x + 1), p2)) AS BIGINT)
                    AS n_occurrences
                FROM pos)
       SELECT doc_id, n_occurrences FROM hits
       WHERE n_occurrences > 0
       ORDER BY n_occurrences DESC, doc_id LIMIT 20"""

  private val dPhraseSql: String = dPhraseSqlFor()

  /** The churn lifecycle's surviving corpus: the `doc_id % 10 == 0`
    * batch was deleted and compacted away, so the served index must
    * equal a fresh build over the rest. */
  private val dChurnWhere = "doc_id % 10 <> 0"

  def oracleSql: Map[String, String] = Map(
    "backfill_scan" ->
      """SELECT * FROM orders
         WHERE o_custkey = 42
           AND o_orderdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1999-12-31'
         ORDER BY o_orderkey""",
    "backfill_scan_inlist" ->
      """SELECT * FROM orders
         WHERE o_custkey IN (7, 42, 99, 1234)
           AND o_orderdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1999-12-31'
         ORDER BY o_orderkey""",
    "count_keystores" ->
      "SELECT count(*) AS cnt FROM customer",
    "count_per_merchant" ->
      """SELECT o_custkey, count(*) AS order_cnt FROM orders
         WHERE o_orderdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1999-12-31'
         GROUP BY o_custkey ORDER BY o_custkey""",
    "keystore_in_list" ->
      """SELECT c_custkey, c_name, c_nationkey, c_mktsegment FROM customer
         WHERE c_custkey IN (1, 7, 42, 99, 101) ORDER BY c_custkey""",
    "backfill_join" ->
      """SELECT o_orderkey, o_custkey, c_name, c_nationkey, o_totalprice, o_orderdate
         FROM orders JOIN customer ON o_custkey = c_custkey
         ORDER BY o_orderkey""",
    "semi_join" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE c_custkey IN (SELECT o_custkey FROM orders) ORDER BY c_custkey""",
    "anti_join" ->
      // NOT EXISTS, never NOT IN: one NULL o_custkey in the subquery
      // makes NOT IN three-valued-NULL for EVERY row (empty result),
      // where the engine's left_anti keeps all unmatched customers
      """SELECT c_custkey, c_name FROM customer c
         WHERE NOT EXISTS
           (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
              AND year(o.o_orderdate) = 1996)
         ORDER BY c_custkey""",
    "full_outer_join" ->
      """SELECT coalesce(l.merchant_id, r.merchant_id) AS merchant_id,
                l.c_name, r.order_cnt
         FROM (SELECT c_custkey AS merchant_id, c_name FROM customer
               WHERE c_custkey % 7 = 0) l
         FULL OUTER JOIN
              (SELECT o_custkey AS merchant_id, count(*) AS order_cnt
               FROM orders WHERE o_custkey % 5 = 0 GROUP BY 1) r
           ON l.merchant_id = r.merchant_id
         ORDER BY merchant_id""",
    "embedding_project" ->
      s"""WITH planes AS (SELECT p,
             [(${dH60(s"'plane:'||(${Similarity.ProjSeedOffset}+p)||':'||d")} % ${Dedup.PlaneMod}) /
                ${Dedup.PlaneMod}.0 * 2.0 - 1.0 for d in range(0, 64)] AS pv
           FROM range(0, 16) t(p)),
         emb0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                  FROM embeddings)
         SELECT emb0.vec_id, CAST(planes.p AS BIGINT) AS out_dim,
                round(list_dot_product(emb0.v, planes.pv) / 4.0, 6)
                  AS component
         FROM emb0 CROSS JOIN planes
         ORDER BY vec_id, out_dim""",
    "pagination_window" ->
      """SELECT rn, o_orderkey, o_custkey, o_orderstatus FROM (
           SELECT row_number() OVER (ORDER BY o_orderkey) AS rn,
                  o_orderkey, o_custkey, o_orderstatus FROM orders)
         WHERE rn BETWEEN 201 AND 300 ORDER BY rn""",
    "topk_per_group" ->
      """SELECT o_custkey, rk, o_orderkey, o_totalprice FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
                  row_number() OVER (PARTITION BY o_custkey
                    ORDER BY o_totalprice DESC, o_orderkey) AS rk
           FROM orders)
         WHERE rk <= 3 ORDER BY o_custkey, rk""",
    "asof_event_order" ->
      """WITH o AS (
           SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey
           FROM orders GROUP BY 1, 2)
         SELECT e.event_id, e.user_id, o.o_orderkey, o.o_orderdate
         FROM (SELECT * FROM events WHERE ts IS NOT NULL) e ASOF LEFT JOIN o
           ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
         ORDER BY e.event_id""",
    "asof_next_event" ->
      """WITH e AS (
           SELECT user_id, ts, min(event_id) AS event_id
           FROM events GROUP BY 1, 2)
         SELECT o.o_orderkey, o.o_custkey, e.event_id,
                e.ts AS next_event_ts
         FROM (SELECT * FROM orders WHERE o_orderdate IS NOT NULL) o
           ASOF LEFT JOIN e
           ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
         ORDER BY o_orderkey""",
    "tenant_tag" ->
      """SELECT event_id, 'public' AS tenant, 'payment_intent' AS entity,
                event_type, user_id
         FROM events ORDER BY event_id""",
    "multi_format_ts" ->
      """SELECT event_id,
         CASE WHEN event_id % 3 = 0 THEN strftime(ts, '%Y-%m-%d %H:%M:%S.%f')
              WHEN event_id % 3 = 1 THEN strftime(date_trunc('second', ts), '%Y-%m-%d %H:%M:%S')
              ELSE strftime(ts, '%Y-%m-%d') END AS raw,
         coalesce(
           try_strptime(CASE WHEN event_id % 3 = 0 THEN strftime(ts, '%Y-%m-%d %H:%M:%S.%f')
                WHEN event_id % 3 = 1 THEN strftime(date_trunc('second', ts), '%Y-%m-%d %H:%M:%S')
                ELSE strftime(ts, '%Y-%m-%d') END, '%Y-%m-%d %H:%M:%S.%f'),
           try_strptime(CASE WHEN event_id % 3 = 0 THEN strftime(ts, '%Y-%m-%d %H:%M:%S.%f')
                WHEN event_id % 3 = 1 THEN strftime(date_trunc('second', ts), '%Y-%m-%d %H:%M:%S')
                ELSE strftime(ts, '%Y-%m-%d') END, '%Y-%m-%d %H:%M:%S'),
           try_strptime(CASE WHEN event_id % 3 = 0 THEN strftime(ts, '%Y-%m-%d %H:%M:%S.%f')
                WHEN event_id % 3 = 1 THEN strftime(date_trunc('second', ts), '%Y-%m-%d %H:%M:%S')
                ELSE strftime(ts, '%Y-%m-%d') END, '%Y-%m-%d')) AS parsed_ts
         FROM events ORDER BY event_id""",
    "event_envelope" ->
      """SELECT 'orders' AS entity, CAST(o_orderkey AS VARCHAR) AS key,
                'public' AS tenant,
                '{"order_id":' || o_orderkey ||
                ',"merchant_id":' || CASE WHEN o_custkey IS NULL THEN 'null'
                  ELSE CAST(o_custkey AS VARCHAR) END ||
                ',"status":' || CASE WHEN o_orderstatus IS NULL THEN 'null'
                  ELSE '"' || o_orderstatus || '"' END ||
                ',"amount":' || CASE WHEN o_totalprice IS NULL THEN 'null'
                  ELSE '"' || printf('%.2f', o_totalprice) || '"' END ||
                ',"created_at":' || CASE WHEN o_orderdate IS NULL THEN 'null'
                  ELSE '"' || strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') || '"' END ||
                '}' AS value
         FROM orders ORDER BY o_orderkey""",
    "union_feed" ->
      """SELECT * FROM (
           SELECT 'orders' AS entity, CAST(o_orderkey AS VARCHAR) AS key,
                  'public' AS tenant,
                  '{"order_id":' || o_orderkey ||
                  ',"merchant_id":' || CASE WHEN o_custkey IS NULL THEN 'null'
                    ELSE CAST(o_custkey AS VARCHAR) END ||
                  ',"status":' || CASE WHEN o_orderstatus IS NULL THEN 'null'
                    ELSE '"' || o_orderstatus || '"' END ||
                  ',"amount":' || CASE WHEN o_totalprice IS NULL THEN 'null'
                    ELSE '"' || printf('%.2f', o_totalprice) || '"' END ||
                  ',"created_at":' || CASE WHEN o_orderdate IS NULL THEN 'null'
                    ELSE '"' || strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') || '"' END ||
                  '}' AS value
           FROM orders
           UNION ALL
           SELECT 'lineitem', l_orderkey || '_' || l_linenumber, 'public',
                  '{"order_id":' || l_orderkey ||
                  ',"line_no":' || l_linenumber ||
                  ',"return_flag":"' || l_returnflag ||
                  '","line_status":"' || l_linestatus ||
                  '","quantity":"' || printf('%.2f', l_quantity) || '"}'
           FROM lineitem)
         ORDER BY entity, key""",
    // the key join is INNER: a NULL merchant id derives no key and
    // matches no key-store row, so the row is not decryptable and does
    // not appear (the quarantine path is where it surfaces in prod)
    "decrypt_two_level" ->
      """SELECT o_orderkey, o_custkey AS merchant_id, o_orderpriority AS priority
         FROM orders WHERE o_custkey IS NOT NULL ORDER BY o_orderkey""",
    "decrypt_shredded" ->
      """SELECT o_orderkey, o_custkey AS merchant_id,
                CASE WHEN o_custkey IS NULL OR o_custkey % 5 = 0 THEN NULL
                     ELSE o_orderpriority END AS priority,
                CASE WHEN o_custkey IS NULL OR o_custkey % 5 = 0
                     THEN 'shredded'
                     ELSE 'ok' END AS key_status
         FROM orders ORDER BY o_orderkey""",
    "pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
                CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                         (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                         (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) *
                         (CAST(1 AS DECIMAL(18,2)) + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
                CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
                count(*) AS count_order
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",
    "distinct_counts" ->
      """SELECT count(DISTINCT o_custkey) AS n_merchants,
                count(DISTINCT o_orderstatus) AS n_statuses,
                count(*) AS n_rows
         FROM orders""",
    "window_running" ->
      """SELECT user_id, event_id, ts, value,
                CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
                  PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                  AS running_value
         FROM events WHERE ts IS NOT NULL ORDER BY user_id, event_id""",
    "window_range_frame" ->
      """SELECT user_id, event_id, epoch_us(ts) AS ts_us, value,
                CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
                  PARTITION BY user_id ORDER BY epoch_us(ts)
                  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
                  AS DOUBLE) AS hour_sum
         FROM events ORDER BY user_id, event_id""",
    "source_mix_weights" ->
      """WITH c AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1),
         t AS (SELECT sum(n_docs) AS n_total FROM c),
         s AS (SELECT source, n_docs,
                 CAST(n_docs AS DOUBLE) / n_total AS raw_frac,
                 sqrt(CAST(n_docs AS DOUBLE) / n_total) AS scaled
               FROM c, t),
         z AS (SELECT sum(scaled) AS z FROM s)
         SELECT source, n_docs, round(raw_frac, 6) AS raw_frac,
                round(scaled / z, 6) AS mix_weight
         FROM s, z ORDER BY source""",
    "epoch_plan" ->
      s"""WITH tk AS (SELECT source, CAST(len($dToks) AS BIGINT) AS n_tokens
                      FROM documents),
         c AS (SELECT source, count(*) AS n_docs,
                 CAST(sum(n_tokens) AS BIGINT) AS tokens_available
               FROM tk GROUP BY 1),
         t AS (SELECT CAST(sum(tokens_available) AS BIGINT) AS tok_total FROM c),
         s AS (SELECT c.*,
                 sqrt(CAST(tokens_available AS DOUBLE) / tok_total) AS scaled
               FROM c, t),
         z AS (SELECT sum(scaled) AS z FROM s)
         SELECT source, n_docs, tokens_available,
                round(scaled / z, 6) AS mix_weight,
                round(200000 * scaled / z, 2) AS target_tokens,
                round(200000 * scaled / z / tokens_available, 6) AS epochs
         FROM s, z ORDER BY source""",
    // deterministic upsampling: floor(epochs) copies per doc + one extra
    // for a hash-selected fraction (expected copies = fractional epochs)
    "mix_expand" ->
      s"""WITH tk AS (SELECT source, CAST(len($dToks) AS BIGINT) AS n_tokens
                      FROM documents),
         c AS (SELECT source, count(*) AS n_docs,
                 CAST(sum(n_tokens) AS BIGINT) AS tokens_available
               FROM tk GROUP BY 1),
         t AS (SELECT CAST(sum(tokens_available) AS BIGINT) AS tok_total FROM c),
         s AS (SELECT c.*,
                 sqrt(CAST(tokens_available AS DOUBLE) / tok_total) AS scaled
               FROM c, t),
         z AS (SELECT sum(scaled) AS z FROM s),
         ep AS (SELECT source,
                  round(200000 * scaled / z / tokens_available, 6) AS epochs
                FROM s, z),
         d AS (SELECT doc_id, d0.source, epochs,
                 CAST(floor(epochs) AS BIGINT) AS base,
                 epochs - floor(epochs) AS frac
               FROM documents d0 JOIN ep USING (source)),
         n AS (SELECT doc_id, source, base +
                 CASE WHEN CAST(${dH60("'rep:'||doc_id")} % 1000000 AS DOUBLE)
                      < frac * 1000000 THEN 1 ELSE 0 END AS n_copies
               FROM d)
         SELECT doc_id, source, CAST(ci AS BIGINT) AS copy_idx,
                CAST(n_copies AS BIGINT) AS n_copies
         FROM n, LATERAL unnest(range(1, n_copies + 1)) AS u(ci)
         WHERE n_copies > 0
         ORDER BY doc_id, copy_idx""",
    "rollup_docs" ->
      """SELECT lang, source, count(*) AS n_docs,
                CAST(SUM(CAST(n_chars AS DECIMAL(18,2))) AS DOUBLE) AS sum_chars
         FROM documents
         GROUP BY ROLLUP (lang, source)
         ORDER BY lang ASC NULLS FIRST, source ASC NULLS FIRST""",
    "events_window_agg" ->
      """SELECT time_bucket(INTERVAL '1 hour', ts) AS ws, event_type,
                count(*) AS n,
                CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM events WHERE ts IS NOT NULL
         GROUP BY 1, 2 ORDER BY ws, event_type""",
    "events_hopping" ->
      """SELECT ws, event_type, count(*) AS n,
                CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM (SELECT unnest([time_bucket(INTERVAL '30 minutes', ts),
                              time_bucket(INTERVAL '30 minutes', ts)
                                - INTERVAL '30 minutes']) AS ws,
                      event_type, value
               FROM events WHERE ts IS NOT NULL)
         GROUP BY 1, 2 ORDER BY ws, event_type""",
    "anomaly_hours" ->
      """WITH hourly AS (
           SELECT time_bucket(INTERVAL '1 hour', ts) AS ws, event_type,
                  SUM(CAST(value AS DECIMAL(18,2))) AS hv
           FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
         stats AS (
           SELECT event_type, count(*) AS n_hours,
                  SUM(hv) AS s1,
                  SUM(CAST(hv AS DECIMAL(18,2)) * CAST(hv AS DECIMAL(18,2)))
                    AS s2
           FROM hourly GROUP BY 1),
         st AS (SELECT event_type,
                       CAST(s1 AS DOUBLE) / n_hours AS mean,
                       sqrt(GREATEST((CAST(s2 AS DOUBLE) -
                             CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n_hours)
                            / (n_hours - 1), 0.0)) AS std
                FROM stats)
         SELECT ws, event_type, CAST(hv AS DOUBLE) AS hv,
                round((CAST(hv AS DOUBLE) - mean) / std, 4) AS z,
                abs(round((CAST(hv AS DOUBLE) - mean) / std, 4)) > 2.0
                  AS is_anomaly
         FROM hourly JOIN st USING (event_type)
         ORDER BY ws, event_type""",
    "events_sessionize" ->
      """WITH flagged AS (
           SELECT user_id, event_id, ts, value,
                  CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w > INTERVAL '30 minutes'
                       THEN 1 ELSE 0 END AS is_new
           FROM events WHERE ts IS NOT NULL
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         sessions AS (
           SELECT user_id, ts, value,
                  CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                    AS session_id
           FROM flagged)
         SELECT user_id, session_id, count(*) AS n_events,
                min(ts) AS session_start, max(ts) AS session_end,
                CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
         FROM sessions GROUP BY user_id, session_id
         ORDER BY user_id, session_id""",
    "dedup_exact_key" ->
      """SELECT user_id, event_type, event_id, ts FROM (
           SELECT user_id, event_type, event_id, ts,
                  row_number() OVER (PARTITION BY user_id, event_type
                    ORDER BY ts, event_id) AS rn
           FROM events WHERE ts IS NOT NULL)
         WHERE rn = 1 ORDER BY user_id, event_type""",
    // the snapshot⊕changelog merge folds to the same result as a
    // latest-wins over the whole stream (associativity — spec-pinned
    // in CdcSpec), so the oracle states the semantic directly
    "cdc_apply" ->
      """WITH log AS (
           SELECT user_id, ts, event_id,
                  CASE WHEN event_type = 'signup' THEN 'I'
                       WHEN event_type = 'error' THEN 'D'
                       ELSE 'U' END AS op,
                  event_type AS last_type, value AS last_value
           FROM events),
         latest AS (
           SELECT * FROM (
             SELECT *, row_number() OVER (PARTITION BY user_id
                      ORDER BY ts DESC, event_id DESC) AS rk
             FROM log)
           WHERE rk = 1)
         SELECT user_id, op, last_type, last_value, ts, event_id
         FROM latest WHERE op <> 'D' ORDER BY user_id""",
    "funnel_conversion" ->
      """WITH s1 AS (SELECT user_id, min(ts) AS t_signup FROM events
                     WHERE event_type = 'signup' GROUP BY 1),
         s2 AS (SELECT e.user_id, min(e.ts) AS t_view
                FROM events e JOIN s1 USING (user_id)
                WHERE e.event_type = 'view' AND e.ts > s1.t_signup
                GROUP BY 1),
         s3 AS (SELECT e.user_id, min(e.ts) AS t_purchase
                FROM events e JOIN s2 USING (user_id)
                WHERE e.event_type = 'purchase' AND e.ts > s2.t_view
                GROUP BY 1)
         SELECT n_users, n_signup, n_view_after, n_purchase_after,
                round(n_signup / CAST(n_users AS DOUBLE), 6) AS signup_rate,
                round(n_view_after / CAST(n_signup AS DOUBLE), 6) AS view_rate,
                round(n_purchase_after / CAST(n_view_after AS DOUBLE), 6)
                  AS purchase_rate
         FROM (SELECT
                 (SELECT count(DISTINCT user_id) FROM events) AS n_users,
                 (SELECT count(*) FROM s1) AS n_signup,
                 (SELECT count(*) FROM s2) AS n_view_after,
                 (SELECT count(*) FROM s3) AS n_purchase_after)""",
    "cohort_retention" ->
      """WITH cohort AS (
           SELECT user_id,
                  CAST(date_trunc('week', min(ts)) AS TIMESTAMP) AS cohort_week
           FROM events WHERE event_type = 'signup' GROUP BY 1),
         act AS (SELECT DISTINCT user_id,
                        CAST(date_trunc('week', ts) AS TIMESTAMP) AS week
                 FROM events)
         SELECT cohort_week,
                (epoch_us(week) - epoch_us(cohort_week)) // 604800000000
                  AS week_offset,
                count(DISTINCT user_id) AS n_active
         FROM cohort JOIN act USING (user_id)
         WHERE (epoch_us(week) - epoch_us(cohort_week)) // 604800000000 >= 0
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "event_paths" ->
      """WITH paths AS (
           SELECT user_id, CAST(ts AS DATE) AS day,
                  string_agg(event_type, '>' ORDER BY ts, event_id) AS path
           FROM events GROUP BY 1, 2)
         SELECT path, count(*) AS n_user_days
         FROM paths GROUP BY 1
         ORDER BY n_user_days DESC, path LIMIT 20""",
    "fuzzy_match" ->
      s"""WITH parts AS (
           SELECT p_partkey, p_name FROM part WHERE len(p_name) >= 4),
         probes AS (
           SELECT p_partkey AS probe_key,
                  substr(p_name, 1, p - 1) || 'q' || substr(p_name, p + 1)
                    AS probe_name
           FROM (SELECT *,
                   CAST(${dH60("p_name")} % len(p_name) + 1 AS INT) AS p
                 FROM parts)
           WHERE p_partkey % 40 = 0),
         cand AS (
           SELECT probe_key, probe_name, p.p_partkey, p.p_name
           FROM probes JOIN parts p
             ON substr(probe_name, 1, 2) = substr(p.p_name, 1, 2)
            AND len(probe_name) = len(p.p_name)
           UNION
           SELECT probe_key, probe_name, p.p_partkey, p.p_name
           FROM probes JOIN parts p
             ON substr(probe_name, len(probe_name) - 1, 2) =
                substr(p.p_name, len(p.p_name) - 1, 2)
            AND len(probe_name) = len(p.p_name))
         SELECT probe_key, probe_name, p_partkey, p_name,
                CAST(levenshtein(probe_name, p_name) AS BIGINT) AS dist
         FROM cand
         WHERE levenshtein(probe_name, p_name) <= 1
         ORDER BY probe_key, p_partkey""",
    "zorder_key" -> {
      val terms = (0 until 16).map(i =>
        s"((user_id >> $i) & 1) * ${1L << (2 * i + 1)} + " +
          s"((stream_hour >> $i) & 1) * ${1L << (2 * i)}").mkString(" + ")
      s"""WITH hours AS (
           SELECT event_id, user_id,
                  (epoch_us(ts) // 1000000 -
                   epoch_us(TIMESTAMP '2024-01-01 00:00:00') // 1000000)
                    // 3600 AS stream_hour
           FROM events)
         SELECT event_id, user_id, stream_hour,
                $terms AS zkey
         FROM hours ORDER BY event_id"""
    },
    "cdc_history" ->
      """WITH log AS (
           SELECT user_id, ts, event_id,
                  CASE WHEN event_type = 'signup' THEN 'I'
                       WHEN event_type = 'error' THEN 'D'
                       ELSE 'U' END AS op
           FROM events WHERE ts IS NOT NULL)
         SELECT user_id, event_id, op, ts AS valid_from,
                lead(ts) OVER w AS valid_to,
                (lead(ts) OVER w IS NULL) AS is_current
         FROM log
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
         ORDER BY user_id, valid_from, event_id""",
    "span_dedup" ->
      s"""WITH ${dSpanCtes(8)},
         freq AS (SELECT span_h, count(*) AS n_docs FROM spanx GROUP BY 1),
         per AS (SELECT spanx.doc_id, count(*) AS n_spans,
                        CAST(sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_dup_spans
                 FROM spanx JOIN freq USING (span_h) GROUP BY 1)
         SELECT d.doc_id,
                coalesce(n_spans, 0) AS n_spans,
                coalesce(n_dup_spans, 0) AS n_dup_spans,
                CASE WHEN coalesce(n_spans, 0) = 0 THEN 0.0
                     ELSE round(n_dup_spans / CAST(n_spans AS DOUBLE), 6)
                END AS dup_span_frac
         FROM documents d LEFT JOIN per USING (doc_id)
         ORDER BY doc_id""",
    "dedup_content_hash" ->
      """SELECT sha256(
                  CASE WHEN text IS NULL THEN 'n|'
                       ELSE len(text) || ':' || text || '|' END ||
                  CASE WHEN lang IS NULL THEN 'n|'
                       ELSE len(lang) || ':' || lang || '|' END ||
                  CASE WHEN source IS NULL THEN 'n|'
                       ELSE len(source) || ':' || source || '|' END)
                  AS content_sha,
                min(doc_id) AS keep_doc_id, count(*) AS dup_count
         FROM documents GROUP BY 1 ORDER BY keep_doc_id""",
    "ngram_jaccard" ->
      """WITH grams AS (
           SELECT doc_id,
                  list_distinct([substr(lower(text), i, 4)
                    for i in range(1, greatest(len(lower(text)) - 2, 1))]) AS g
           FROM documents WHERE doc_id < 60)
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                round(CAST(len(list_intersect(a.g, b.g)) AS DOUBLE) /
                      len(list_distinct(list_concat(a.g, b.g))), 6) AS jaccard
         FROM grams a, grams b
         WHERE a.doc_id < b.doc_id
           AND round(CAST(len(list_intersect(a.g, b.g)) AS DOUBLE) /
                     len(list_distinct(list_concat(a.g, b.g))), 6) >= 0.2
         ORDER BY doc_a, doc_b""",
    "sim_topk_brute" ->
      """WITH emb AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
           WHERE list_dot_product(CAST(embedding AS DOUBLE[]),
                 CAST(embedding AS DOUBLE[])) > 0),
         scored AS (
           SELECT q.vec_id AS q_id, e.vec_id,
                  list_dot_product(q.v, e.v) /
                    (sqrt(list_dot_product(q.v, q.v)) *
                     sqrt(list_dot_product(e.v, e.v))) AS cos
           FROM emb q, emb e
           WHERE q.vec_id < 8 AND e.vec_id <> q.vec_id),
         ranked AS (
           SELECT q_id, vec_id, cos,
                  row_number() OVER (PARTITION BY q_id
                    ORDER BY cos DESC, vec_id) AS rk
           FROM scored)
         SELECT q_id, rk, vec_id, round(cos, 6) AS cos
         FROM ranked WHERE rk <= 10 ORDER BY q_id, rk""",
    // MMR greedy re-rank: k unrolled argmax rounds over the brute
    // shortlist — selection ranks the raw IEEE mmr expression (same op
    // tree as the engine's fold), output rounds to 6
    "mmr_rerank" -> dMmrSql(poolK = 20, k = 8),
    // the same greedy over the index-served shortlist: probe chain =
    // the sim_topk_ivf_kmeans oracle's, vectors carried from `af`
    "mmr_rerank_ivf" -> dMmrIvfSql(poolK = 20, k = 8),
    // SQ8 replay: quantize (scale = 127/max|x|, codes kept as
    // integral DOUBLES — products ≤ 127² and 64-dim sums ≤ 2²⁰ are
    // exact integers in double arithmetic in any order, so
    // list_dot_product replays Spark's long fold bit-exactly with no
    // decimal machinery), rescale by the two scales then the two true
    // norms (the engine's pinned IEEE division order)
    "sim_topk_int8" ->
      s"""WITH $dInt8Ctes,
         ranked AS (
           SELECT q_id, vec_id, cos,
                  row_number() OVER (PARTITION BY q_id
                    ORDER BY cos DESC, vec_id) AS rk
           FROM i8scored)
         SELECT q_id, rk, vec_id, round(cos, 6) AS cos
         FROM ranked WHERE rk <= 10 ORDER BY q_id, rk""",
    "sim_topk_int8_rerank" ->
      s"""WITH $dInt8Ctes,
         pool AS (
           SELECT q_id, vec_id FROM (
             SELECT q_id, vec_id,
                    row_number() OVER (PARTITION BY q_id
                      ORDER BY cos DESC, vec_id) AS rk
             FROM i8scored)
           WHERE rk <= 50),
         ex AS (
           SELECT p.q_id, p.vec_id,
                  list_dot_product(q.v, c.v) / (q.nrm * c.nrm) AS cos
           FROM pool p JOIN e8 q ON q.vec_id = p.q_id
                       JOIN e8 c ON c.vec_id = p.vec_id),
         ranked AS (
           SELECT q_id, vec_id, cos,
                  row_number() OVER (PARTITION BY q_id
                    ORDER BY cos DESC, vec_id) AS rk
           FROM ex)
         SELECT q_id, rk, vec_id, round(cos, 6) AS cos
         FROM ranked WHERE rk <= 10 ORDER BY q_id, rk""",
    // IVF,SQ8 replay: coarse Lloyd + probing from the shared IVF chain,
    // SQ8 quantization over the SAME emb0 frame, integer-valued-double
    // dot (exact), rescale, in-list rank — coarse training, probing,
    // quantization and fold all bit-exact
    "sim_topk_int8_ivf" ->
      s"""WITH ${dIvfAssignCtes(iters = 2)},
         probes AS (
           SELECT q_id, c_id FROM (
             SELECT q.vec_id AS q_id, c.c_id,
                    row_number() OVER (PARTITION BY q.vec_id
                      ORDER BY list_dot_product(q.v, c.c_v) / (q.nrm * c.c_nrm)
                        DESC, c.c_id) AS crk
             FROM emb0 q CROSS JOIN cent2 c WHERE q.vec_id < 8)
           WHERE crk <= 8),
         q8 AS (
           SELECT vec_id, nrm, scale,
                  [round(x * scale) for x in v] AS codes
           FROM (SELECT vec_id, nrm, v,
                        127.0 / list_max([abs(x) for x in v]) AS scale
                 FROM emb0)),
         scan AS (
           SELECT p.q_id, a.vec_id,
                  list_dot_product(qq.codes, cc.codes)
                    / (qq.scale * cc.scale) / (qq.nrm * cc.nrm) AS cos
           FROM af a JOIN probes p USING (c_id)
                JOIN q8 cc ON cc.vec_id = a.vec_id
                JOIN q8 qq ON qq.vec_id = p.q_id
           WHERE a.vec_id <> p.q_id),
         ranked AS (
           SELECT q_id, vec_id, cos,
                  row_number() OVER (PARTITION BY q_id
                    ORDER BY cos DESC, vec_id) AS rk
           FROM scan)
         SELECT q_id, rk, vec_id, round(cos, 6) AS cos
         FROM ranked WHERE rk <= 10 ORDER BY q_id, rk""",
    "embedding_bucket_saturation" ->
      s"""WITH $dEmbBucketCtes,
         ebs AS (SELECT bucket, count(*) AS bs FROM bkt GROUP BY 1)
         SELECT CAST(sum(bs) AS BIGINT) AS n_vecs,
                CAST(count(*) AS BIGINT) AS n_buckets,
                CAST(sum(CASE WHEN bs > 200 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_capped,
                CAST(sum(CASE WHEN bs > 200 THEN bs ELSE 0 END) AS BIGINT)
                  AS n_dropped,
                round(CAST(sum(CASE WHEN bs > 200 THEN bs ELSE 0 END)
                  AS DOUBLE) / sum(bs), 6) AS drop_frac
         FROM ebs""",
    "text_quality" ->
      """WITH toks AS (
           SELECT doc_id, text,
                  list_filter(string_split_regex(lower(text), '\s+'),
                    t -> len(t) > 0) AS ts
           FROM documents)
         SELECT doc_id, CAST(len(text) AS BIGINT) AS n_chars,
                CAST(len(ts) AS BIGINT) AS n_tokens,
                round(CASE WHEN len(ts) = 0 THEN 0.0
                  ELSE CAST(list_sum(list_transform(ts, t -> len(t))) AS DOUBLE) / len(ts)
                  END, 6) AS avg_token_len,
                round(CASE WHEN len(text) = 0 THEN 0.0
                  ELSE CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE) / len(text)
                  END, 6) AS punct_ratio,
                round(CASE WHEN len(text) = 0 THEN 0.0
                  ELSE CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE) / len(text)
                  END, 6) AS digit_ratio,
                round(CASE WHEN len(ts) = 0 THEN 0.0
                  ELSE CAST(len(list_filter(ts, t -> list_contains(
                    ['the','a','and','of','to','in','is','that','it','for'], t)))
                    AS DOUBLE) / len(ts) END, 6) AS stopword_ratio
         FROM toks ORDER BY doc_id""",
    // the oracle states the SEMANTICS as the naive full window; the
    // Spark plan reaches the same kept set via the aggregated-threshold
    // + tie-quota shape (no per-language whole-corpus window)
    "quality_quantile_filter" ->
      """WITH toks AS (
           SELECT doc_id, lang, text,
                  list_filter(string_split_regex(lower(text), '\s+'),
                    t -> len(t) > 0) AS ts
           FROM documents),
         q AS (
           SELECT doc_id, lang,
                  round(
                    round(CASE WHEN len(ts) = 0 THEN 0.0
                      ELSE CAST(len(list_filter(ts, t -> list_contains(
                        ['the','a','and','of','to','in','is','that','it','for'], t)))
                        AS DOUBLE) / len(ts) END, 6) -
                    round(CASE WHEN len(text) = 0 THEN 0.0
                      ELSE CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE) / len(text)
                      END, 6) -
                    round(CASE WHEN len(text) = 0 THEN 0.0
                      ELSE CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE) / len(text)
                      END, 6), 6) AS score
           FROM toks),
         r AS (
           SELECT lang, doc_id, score,
                  row_number() OVER (PARTITION BY lang
                    ORDER BY score DESC, doc_id) AS rk,
                  count(*) OVER (PARTITION BY lang) AS n
           FROM q)
         SELECT lang, doc_id, score FROM r
         WHERE rk <= floor(1 + 0.5 * (n - 1))
         ORDER BY lang, doc_id""",
    "text_token_counts" ->
      """WITH toks AS (
           SELECT doc_id, text,
                  list_filter(string_split_regex(lower(text), '\s+'),
                    t -> len(t) > 0) AS ts
           FROM documents)
         SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens,
                CAST(len(list_distinct(ts)) AS BIGINT) AS n_distinct,
                CAST(len(regexp_extract_all(text,
                  '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpeish
         FROM toks ORDER BY doc_id""",
    "text_term_freq" ->
      """SELECT token, count(*) AS freq FROM (
           SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
             t -> len(t) > 0)) AS token
           FROM documents)
         GROUP BY token ORDER BY freq DESC, token LIMIT 50""",
    "approx_top_terms" ->
      """SELECT token, count(*) AS freq FROM (
           SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
             t -> len(t) > 0)) AS token
           FROM documents)
         GROUP BY token
         ORDER BY freq DESC, token LIMIT 50""",
    // count-min replayed exactly: same md5-derived buckets, same
    // (d x w) counter aggregate, min over depth per probe token
    "count_min_freq" ->
      s"""WITH cmt AS (SELECT unnest($dToks) AS token FROM documents),
         cm AS (SELECT d, ${dH60("'cm'||d||':'||token")} % 256 AS b,
                       count(*) AS c
                FROM cmt CROSS JOIN range(0, 4) t(d) GROUP BY 1, 2),
         pr AS (SELECT token, count(*) AS freq FROM cmt GROUP BY 1
                ORDER BY freq DESC, token LIMIT 30),
         est AS (SELECT pr.token, pr.freq, min(cm.c) AS est
                 FROM pr CROSS JOIN range(0, 4) t(d)
                 JOIN cm ON cm.d = t.d
                   AND cm.b = ${dH60("'cm'||t.d||':'||pr.token")} % 256
                 GROUP BY 1, 2)
         SELECT token, freq, CAST(est AS BIGINT) AS est,
                CAST(est - freq AS BIGINT) AS overestimate
         FROM est ORDER BY freq DESC, token""",
    "text_fingerprint" ->
      s"""WITH toks AS (SELECT doc_id,
                        coalesce($dToks, CAST([] AS VARCHAR[])) AS ts
                 FROM documents)
         SELECT doc_id,
                md5(coalesce(array_to_string(list_sort(list_distinct(ts)), ' '), '')) AS fp,
                list_reduce(
                  list_prepend(0::BIGINT,
                    list_transform(ts, t -> ${dH60("t")} % 1000000007)),
                  (acc, h) -> (acc * 31 + h) % 1000000007) AS rhash
         FROM toks ORDER BY doc_id""",
    "int8_quantize" ->
      """WITH e AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                  CASE WHEN list_max([abs(x) for x in CAST(embedding AS DOUBLE[])]) > 0
                       THEN 127.0 / list_max([abs(x) for x in CAST(embedding AS DOUBLE[])])
                       ELSE 0.0 END AS scale
           FROM embeddings)
         SELECT vec_id, round(scale, 6) AS scale,
                CAST(round(v[1] * scale) AS INT) AS q0,
                CAST(round(v[2] * scale) AS INT) AS q1,
                CAST(round(v[3] * scale) AS INT) AS q2,
                CASE WHEN scale > 0
                     THEN round(list_max([abs(x - round(x * scale) / scale) for x in v]), 6)
                     ELSE 0.0 END AS max_abs_err
         FROM e ORDER BY vec_id""",
    "tfidf_top_terms" ->
      """WITH toks AS (
           SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\s+'),
             t -> len(t) > 0)) AS term
           FROM documents),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
         dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         n AS (SELECT count(*) AS n FROM documents),
         scored AS (
           SELECT doc_id, term,
                  round(tf * ln((n + 1.0) / (df + 1.0)), 6) AS tfidf
           FROM tf JOIN dfreq USING (term), n),
         ranked AS (
           SELECT doc_id, term, tfidf,
                  row_number() OVER (PARTITION BY doc_id
                    ORDER BY tfidf DESC, term) AS rk
           FROM scored)
         SELECT doc_id, rk, term, tfidf FROM ranked
         WHERE rk <= 3 ORDER BY doc_id, rk""",
    "sample_per_lang" ->
      """SELECT lang, sort_key, doc_id FROM (
           SELECT lang, coalesce(md5(text), '') AS sort_key, doc_id,
                  row_number() OVER (PARTITION BY lang
                    ORDER BY coalesce(md5(text), ''), doc_id) AS rk
           FROM documents)
         WHERE rk <= 5 ORDER BY lang, sort_key, doc_id""",
    "text_normalize" ->
      """SELECT doc_id,
                coalesce(array_to_string(list_filter(
                  string_split(trim(regexp_replace(regexp_replace(lower(coalesce(text, '')),
                    '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')), ' '),
                  t -> len(t) > 0 AND NOT list_contains(
                    ['the','a','and','of','to','in','is','that','it','for'], t)),
                  ' '), '') AS normalized
         FROM documents ORDER BY doc_id""",
    "text_repetition" ->
      """WITH t AS (
           SELECT doc_id,
                  list_filter(string_split_regex(lower(text), '\s+'),
                    x -> len(x) > 0) AS ts,
                  list_filter(string_split(text, chr(10)),
                    l -> len(trim(l)) > 0) AS ls
           FROM documents),
         g AS (
           SELECT doc_id,
                  CASE WHEN len(ts) < 2 THEN []
                       ELSE [ts[i] || ' ' || ts[i+1] for i in range(1, len(ts))]
                  END AS grams, ls
           FROM t)
         SELECT doc_id,
                CASE WHEN len(grams) = 0 THEN 0.0
                     ELSE round(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE)
                       / len(grams), 6) END AS dup_2gram_frac,
                CASE WHEN len(ls) = 0 THEN 0.0
                     ELSE round(1.0 - CAST(len(list_distinct(ls)) AS DOUBLE)
                       / len(ls), 6) END AS dup_line_frac
         FROM g ORDER BY doc_id""",
    "text_redact_pii" ->
      """SELECT doc_id,
                CAST(len(regexp_extract_all(text,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
                  AS n_emails,
                CAST(len(regexp_extract_all(text,
                  '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
                CAST(len(regexp_extract_all(text,
                  '\+?\d[\d ()-]{7,}\d')) AS BIGINT) AS n_phones,
                md5(regexp_replace(regexp_replace(regexp_replace(text,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                  '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
                  '\+?\d[\d ()-]{7,}\d', '<PHONE>', 'g')) AS redacted_sha
         FROM documents ORDER BY doc_id""",
    "histogram_totals" ->
      """SELECT CAST(CASE WHEN o_totalprice < 0 THEN 0
                          WHEN o_totalprice >= 600000 THEN 21
                          ELSE floor(o_totalprice / 30000.0) + 1 END AS BIGINT)
                  AS bucket,
                count(*) AS n
         FROM orders GROUP BY 1 ORDER BY bucket""",
    "table_profile" -> {
      def prof(c: String, minEx: String, maxEx: String) =
        s"""SELECT '$c' AS col_name,
              CAST(count(*) FILTER ($c IS NULL) AS BIGINT) AS n_nulls,
              count(DISTINCT $c) AS n_distinct,
              $minEx AS min_value, $maxEx AS max_value
            FROM orders"""
      Seq(
        prof("o_orderkey", "CAST(min(o_orderkey) AS VARCHAR)",
          "CAST(max(o_orderkey) AS VARCHAR)"),
        prof("o_custkey", "CAST(min(o_custkey) AS VARCHAR)",
          "CAST(max(o_custkey) AS VARCHAR)"),
        prof("o_orderstatus", "min(o_orderstatus)", "max(o_orderstatus)"),
        prof("o_totalprice", "printf('%.2f', min(o_totalprice))",
          "printf('%.2f', max(o_totalprice))"),
        prof("o_orderdate", "strftime(min(o_orderdate), '%Y-%m-%d %H:%M:%S')",
          "strftime(max(o_orderdate), '%Y-%m-%d %H:%M:%S')"),
        prof("o_orderpriority", "min(o_orderpriority)", "max(o_orderpriority)"))
        .mkString("SELECT * FROM (\n", "\nUNION ALL\n",
          "\n) ORDER BY col_name")
    },
    "events_spine_fill" ->
      """WITH b AS (
           SELECT date_trunc('hour', min(ts)) AS lo,
                  date_trunc('hour', max(ts)) AS hi
           FROM events),
         spine AS (
           SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour
           FROM b),
         h AS (
           SELECT date_trunc('hour', ts) AS hour, count(*) AS n
           FROM events GROUP BY 1)
         SELECT spine.hour, coalesce(h.n, 0) AS n
         FROM spine LEFT JOIN h USING (hour) ORDER BY hour""",
    "media_features" ->
      """SELECT doc_id, 'txt' AS format,
                CAST(octet_length(encode(coalesce(text, ''))) AS BIGINT) AS n_bytes,
                sha256(coalesce(text, '')) AS sha256,
                greatest(1, octet_length(encode(coalesce(text, ''))) % 640) AS width,
                greatest(1, (octet_length(encode(coalesce(text, ''))) * 7) % 480) AS height,
                octet_length(encode(coalesce(text, ''))) % 16 AS n_frames
         FROM documents ORDER BY doc_id""",
    "audio_features" ->
      """SELECT doc_id,
                CAST(octet_length(encode(coalesce(text, ''))) // 2 AS BIGINT) AS n_samples,
                CAST((octet_length(encode(coalesce(text, ''))) // 2) * 1000 // 16000 AS BIGINT)
                  AS duration_ms,
                CAST(CASE WHEN (octet_length(encode(coalesce(text, ''))) // 2) * 1000 // 16000 < 25
                          THEN 0
                          ELSE ((octet_length(encode(coalesce(text, ''))) // 2) * 1000 // 16000 - 25)
                               // 10 + 1 END AS BIGINT) AS n_audio_frames
         FROM documents ORDER BY doc_id""",
    "image_resize" ->
      """WITH m AS (
           SELECT doc_id, hex(encode(coalesce(text, ''))) AS hx,
                  octet_length(encode(coalesce(text, ''))) AS n
           FROM documents),
         d AS (
           SELECT doc_id, n, hx,
                  greatest(n % 640, 1) AS w,
                  greatest((n * 7) % 480, 1) AS h
           FROM m)
         SELECT doc_id, CAST(w AS BIGINT) AS src_w, CAST(h AS BIGINT) AS src_h,
                8::BIGINT AS out_w, 8::BIGINT AS out_h,
                CAST(CASE WHEN n = 0 THEN 0 ELSE list_sum(flatten(
                  [[('0x'||substr(hx,
                      2*((((y*h)//8)*w + (x*w)//8) % n) + 1, 2))::BIGINT
                    for x in range(0, 8)] for y in range(0, 8)])) END
                  AS BIGINT) AS pixel_sum
         FROM d ORDER BY doc_id""",
    // oracle recomputes the CLOSED FORM of the deterministic raster the
    // Spark side round-trips through a real PNG encode/decode — PNG is
    // lossless, so a correct codec path reproduces these sums exactly.
    // range(48) is the max raster size (w<=8, h<=6); correlated filter
    // because DuckDB range() rejects lateral column arguments
    "image_decode" ->
      """WITH g AS (
           SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h
           FROM documents)
         SELECT doc_id,
                CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
                CAST((SELECT sum((g.doc_id * 31 + i) % 256)
                      FROM range(48) t(i) WHERE i < w * h) AS BIGINT)
                  AS pixel_sum,
                CAST((SELECT sum((g.doc_id * 31 +
                        ((yy * h // 8) * w + (xx * w // 8))) % 256)
                      FROM range(8) a(yy), range(8) b(xx)) AS BIGINT)
                  AS resized_sum
         FROM g ORDER BY doc_id""",
    // closed form of the perceptual-hash raster (grouped variants:
    // gid = doc_id/4 shares dims + base pattern, v = doc_id%4 perturbs
    // every (7+v)-th pixel) — the Spark side round-trips it through a
    // real PNG codec and hashes the DECODED pixels, so these bit
    // patterns only match if the codec path is lossless and the
    // resample/mean/compare arithmetic is engine-identical. px is built
    // over the constant max raster size (24×18 = 432; range() rejects
    // lateral bounds) — samples only ever index below w*h
    "image_phash" -> (s"WITH $dPhashCtes" +
      """ SELECT doc_id, width, height, ahash, dhash
         FROM phash ORDER BY doc_id"""),
    // image near-dup: the aHash banded through the SAME 4×15-bit chunk
    // join as simhash_pairs (skew cap included), exact Hamming verify,
    // dHash Hamming carried as the second signal
    "image_neardup" -> (s"WITH $dPhashCtes," +
      """ ichunks AS (SELECT doc_id, ahash, dhash,
             unnest([0, 1, 2, 3]) AS chunk_id,
             unnest([(ahash >> 0) & 32767, (ahash >> 15) & 32767,
                     (ahash >> 30) & 32767, (ahash >> 45) & 32767])
               AS chunk_val
           FROM phash),
         ibig AS (SELECT chunk_id, chunk_val FROM ichunks
                  GROUP BY 1, 2 HAVING count(*) > 200),
         icf AS (SELECT ichunks.* FROM ichunks
                 ANTI JOIN ibig USING (chunk_id, chunk_val)),
         ipairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(bit_count(xor(a.ahash, b.ahash)) AS BIGINT) AS hamming_a,
             CAST(bit_count(xor(a.dhash, b.dhash)) AS BIGINT) AS hamming_d
           FROM icf a JOIN icf b USING (chunk_id, chunk_val)
           WHERE a.doc_id < b.doc_id)
         SELECT doc_a, doc_b, hamming_a, hamming_d FROM ipairs
         WHERE hamming_a <= 3 ORDER BY doc_a, doc_b"""),
    // banding saturation guard over the image aHash: per 15-bit chunk,
    // distinct values and the id mass the skew cap drops — same kernel
    // (and same alarm contract) as the audio/minhash guards
    "image_band_saturation" -> (s"WITH $dPhashCtes," +
      """ ischunks AS (SELECT doc_id,
             unnest([0, 1, 2, 3]) AS chunk_id,
             unnest([(ahash >> 0) & 32767, (ahash >> 15) & 32767,
                     (ahash >> 30) & 32767, (ahash >> 45) & 32767])
               AS chunk_val
           FROM phash),
         isbsz AS (SELECT chunk_id, chunk_val, count(*) AS bs
                   FROM ischunks GROUP BY 1, 2)
         SELECT CAST(chunk_id AS BIGINT) AS chunk_id,
                CAST(sum(bs) AS BIGINT) AS n_ids,
                CAST(count(*) AS BIGINT) AS n_vals,
                CAST(sum(CASE WHEN bs > 200 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_capped,
                CAST(sum(CASE WHEN bs > 200 THEN bs ELSE 0 END) AS BIGINT)
                  AS n_dropped,
                round(sum(CASE WHEN bs > 200 THEN bs ELSE 0 END) /
                  CAST(sum(bs) AS DOUBLE), 6) AS drop_frac
         FROM isbsz GROUP BY chunk_id ORDER BY chunk_id"""),
    // banding saturation guard over the video majority hash — the same
    // kernel over the vph signature table
    "video_band_saturation" -> (s"WITH $dVphashCtes," +
      """ vschunks AS (SELECT doc_id,
             unnest([0, 1, 2, 3]) AS chunk_id,
             unnest([(vhash >> 0) & 32767, (vhash >> 15) & 32767,
                     (vhash >> 30) & 32767, (vhash >> 45) & 32767])
               AS chunk_val
           FROM vph),
         vsbsz AS (SELECT chunk_id, chunk_val, count(*) AS bs
                   FROM vschunks GROUP BY 1, 2)
         SELECT CAST(chunk_id AS BIGINT) AS chunk_id,
                CAST(sum(bs) AS BIGINT) AS n_ids,
                CAST(count(*) AS BIGINT) AS n_vals,
                CAST(sum(CASE WHEN bs > 200 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_capped,
                CAST(sum(CASE WHEN bs > 200 THEN bs ELSE 0 END) AS BIGINT)
                  AS n_dropped,
                round(sum(CASE WHEN bs > 200 THEN bs ELSE 0 END) /
                  CAST(sum(bs) AS DOUBLE), 6) AS drop_frac
         FROM vsbsz GROUP BY chunk_id ORDER BY chunk_id"""),
    // closed form of the WAV round-trip: n = 400 + id % 1600 samples at
    // 16 kHz mono s16le, sample i = (id*31 + i*7) % 2003 - 1001; WAV is
    // lossless so the DECODED stats must equal these exactly
    "audio_decode" ->
      """WITH g AS (SELECT doc_id, 400 + doc_id % 1600 AS n FROM documents)
         SELECT doc_id,
                CAST(n AS BIGINT) AS n_samples,
                CAST(16000 AS BIGINT) AS sample_rate,
                CAST(n * 1000 // 16000 AS BIGINT) AS duration_ms,
                CAST((n * 1000 // 16000 - 25) // 10 + 1 AS BIGINT)
                  AS n_audio_frames,
                CAST((SELECT sum((g.doc_id * 31 + i * 7) % 2003 - 1001)
                      FROM range(2000) t(i) WHERE i < n) AS BIGINT)
                  AS sample_sum
         FROM g ORDER BY doc_id""",
    // video phash: closed form of the grouped clip's GIF round-trip
    // (lossless) → per-frame aHash → majority vhash + keyframe hash
    "video_phash" -> (s"WITH $dVphashCtes" +
      """ SELECT doc_id, n_frames, vhash, f0hash
         FROM vph ORDER BY doc_id"""),
    // video near-dup: the majority hash banded through the SAME 4×15-bit
    // chunk join as the other modalities (skew cap included), exact
    // Hamming verify, keyframe-hash Hamming as the second signal
    "video_neardup" -> (s"WITH $dVphashCtes," +
      """ vchunks AS (SELECT doc_id, vhash, f0hash,
             unnest([0, 1, 2, 3]) AS chunk_id,
             unnest([(vhash >> 0) & 32767, (vhash >> 15) & 32767,
                     (vhash >> 30) & 32767, (vhash >> 45) & 32767])
               AS chunk_val
           FROM vph),
         vbig AS (SELECT chunk_id, chunk_val FROM vchunks
                  GROUP BY 1, 2 HAVING count(*) > 200),
         vcf AS (SELECT vchunks.* FROM vchunks
                 ANTI JOIN vbig USING (chunk_id, chunk_val)),
         vpairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(bit_count(xor(a.vhash, b.vhash)) AS BIGINT) AS hamming_v,
             CAST(bit_count(xor(a.f0hash, b.f0hash)) AS BIGINT)
               AS hamming_kf
           FROM vcf a JOIN vcf b USING (chunk_id, chunk_val)
           WHERE a.doc_id < b.doc_id)
         SELECT doc_a, doc_b, hamming_v, hamming_kf FROM vpairs
         WHERE hamming_v <= 3 ORDER BY doc_a, doc_b"""),
    // audio fingerprint: closed form of the grouped waveform's WAV
    // round-trip (lossless) → window energies → envelope + delta hashes
    "audio_fingerprint" -> (s"WITH $dAfpCtes" +
      """ SELECT doc_id, n_samples, energy_total, ehash, thash
         FROM afp ORDER BY doc_id"""),
    // audio near-dup: the envelope hash banded through the SAME 4×15-bit
    // chunk join as simhash_pairs/image_neardup (skew cap included),
    // exact Hamming verify, temporal-delta Hamming as the second signal
    "audio_neardup" -> (s"WITH $dAfpCtes," +
      """ achunks AS (SELECT doc_id, ehash, thash,
             unnest([0, 1, 2, 3]) AS chunk_id,
             unnest([(ehash >> 0) & 32767, (ehash >> 15) & 32767,
                     (ehash >> 30) & 32767, (ehash >> 45) & 32767])
               AS chunk_val
           FROM afp),
         abig AS (SELECT chunk_id, chunk_val FROM achunks
                  GROUP BY 1, 2 HAVING count(*) > 200),
         acf AS (SELECT achunks.* FROM achunks
                 ANTI JOIN abig USING (chunk_id, chunk_val)),
         apairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(bit_count(xor(a.ehash, b.ehash)) AS BIGINT) AS hamming_e,
             CAST(bit_count(xor(a.thash, b.thash)) AS BIGINT) AS hamming_t
           FROM acf a JOIN acf b USING (chunk_id, chunk_val)
           WHERE a.doc_id < b.doc_id)
         SELECT doc_a, doc_b, hamming_e, hamming_t FROM apairs
         WHERE hamming_e <= 3 ORDER BY doc_a, doc_b"""),
    // banding saturation guard over the audio envelope hash: per
    // 15-bit chunk, distinct values and the id mass the skew cap drops
    "audio_band_saturation" -> (s"WITH $dAfpCtes," +
      """ gchunks AS (SELECT doc_id,
             unnest([0, 1, 2, 3]) AS chunk_id,
             unnest([(ehash >> 0) & 32767, (ehash >> 15) & 32767,
                     (ehash >> 30) & 32767, (ehash >> 45) & 32767])
               AS chunk_val
           FROM afp),
         gbsz AS (SELECT chunk_id, chunk_val, count(*) AS bs
                  FROM gchunks GROUP BY 1, 2)
         SELECT CAST(chunk_id AS BIGINT) AS chunk_id,
                CAST(sum(bs) AS BIGINT) AS n_ids,
                CAST(count(*) AS BIGINT) AS n_vals,
                CAST(sum(CASE WHEN bs > 200 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_capped,
                CAST(sum(CASE WHEN bs > 200 THEN bs ELSE 0 END) AS BIGINT)
                  AS n_dropped,
                round(sum(CASE WHEN bs > 200 THEN bs ELSE 0 END) /
                  CAST(sum(bs) AS DOUBLE), 6) AS drop_frac
         FROM gbsz GROUP BY chunk_id ORDER BY chunk_id"""),
    // closed form of the animated-GIF round trip: nf = 2 + id % 4
    // frames of w×h gray pixels, pixel(f, i) = (id*31 + f*17 + i) % 256;
    // the indexed non-interlaced GIF is lossless so the DECODED frame
    // count, dims and pixel sums must equal these exactly
    "video_decode" ->
      """WITH g AS (SELECT doc_id, 2 + doc_id % 4 AS nf,
                           4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h
                    FROM documents)
         SELECT doc_id,
                CAST(nf AS BIGINT) AS n_frames,
                CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
                CAST((SELECT sum((g.doc_id * 31 + f * 17 + i) % 256)
                      FROM range(5) a(f), range(48) b(i)
                      WHERE f < nf AND i < w * h) AS BIGINT) AS pixel_sum,
                CAST((SELECT sum((g.doc_id * 31 + i) % 256)
                      FROM range(48) t(i) WHERE i < w * h) AS BIGINT)
                  AS frame0_sum,
                CAST((SELECT sum((g.doc_id * 31 + f * 17 + i) % 256)
                      FROM range(5) a(f), range(48) b(i)
                      WHERE f < nf AND f % 2 = 0 AND i < w * h) AS BIGINT)
                  AS sampled_sum
         FROM g ORDER BY doc_id""",
    "media_frame_sample" ->
      """SELECT doc_id, CAST(f AS BIGINT) AS frame_idx,
                CAST(octet_length(encode(coalesce(text, ''))) % 16 AS BIGINT) AS n_frames
         FROM documents,
              LATERAL unnest(range(0, octet_length(encode(coalesce(text, ''))) % 16, 4)) AS t(f)
         ORDER BY doc_id, frame_idx""",
    "sql_backfill_scan" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate
         FROM orders
         WHERE o_custkey IN (7, 42, 99)
           AND o_orderdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1999-12-31'
         ORDER BY o_custkey, o_orderkey""",
    "sql_merchant_revenue" ->
      """SELECT c.c_mktsegment AS segment,
                count(*) AS n_orders,
                CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                  AS revenue
         FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
         GROUP BY c.c_mktsegment
         HAVING count(*) > 10
         ORDER BY segment""",
    "sql_custom_funcs" ->
      s"""SELECT CAST(count(*) AS BIGINT) AS n_docs,
                CAST(bit_xor(${dH60("text")}) AS BIGINT) AS corpus_hash,
                round(list_dot_product([1.0, 2.0, 3.0], [4.0, 5.0, 6.0]), 4)
                  AS dp,
                CAST(57 AS BIGINT) AS z65,
                true AS td_p50_ok
         FROM documents""",
    "sql_grouping_sets" ->
      """SELECT lang, source, count(*) AS n_docs,
                CAST(grouping_id(lang, source) AS BIGINT) AS gid
         FROM documents
         GROUP BY GROUPING SETS ((lang), (source), ())
         ORDER BY gid, lang, source""",
    "json_extract" ->
      """SELECT event_id,
                CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_typed,
                CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_path
         FROM events ORDER BY event_id""",
    "quarantine_split" ->
      """WITH p AS (
           SELECT event_id,
                  CASE WHEN event_id % 37 = 0 THEN 'x' || props
                       ELSE props END AS payload
           FROM events)
         -- NULL payload is ABSENT, not malformed: from_json(NULL) has
         -- no corrupt record, so the engine routes it 'ok' with null k;
         -- json_valid(NULL) is NULL and a bare CASE would quarantine it
         SELECT event_id,
                CASE WHEN payload IS NULL OR json_valid(payload) THEN 'ok'
                     ELSE 'quarantined' END AS status,
                CASE WHEN json_valid(payload)
                     THEN CAST(json_extract_string(payload, '$.k') AS BIGINT)
                END AS k_value,
                CASE WHEN payload IS NOT NULL AND NOT json_valid(payload)
                     THEN payload END
                  AS dead_letter
         FROM p ORDER BY event_id""",
    "pivot_lang_source" ->
      """SELECT lang,
                count(*) FILTER (source = 'src0') AS src0,
                count(*) FILTER (source = 'src1') AS src1,
                count(*) FILTER (source = 'src2') AS src2,
                count(*) FILTER (source = 'src3') AS src3,
                count(*) FILTER (source = 'src4') AS src4,
                count(*) FILTER (source = 'src5') AS src5,
                count(*) FILTER (source = 'src6') AS src6,
                count(*) FILTER (source = 'src7') AS src7,
                count(*) FILTER (source = 'src8') AS src8,
                count(*) FILTER (source = 'src9') AS src9,
                count(*) FILTER (source IS NULL OR source NOT IN ('src0','src1',
                  'src2','src3','src4','src5','src6','src7','src8','src9'))
                  AS other
         FROM documents GROUP BY lang ORDER BY lang""",
    "quantiles" ->
      """SELECT o_orderstatus,
                round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
                round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
                round(min(o_totalprice), 4) AS p_min,
                round(max(o_totalprice), 4) AS p_max
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "set_ops" ->
      """SELECT * FROM (
           SELECT o_custkey, 'both' AS set_op FROM (
             SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
             INTERSECT
             SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997)
           UNION ALL
           SELECT o_custkey, 'only_1996' FROM (
             SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
             EXCEPT
             SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997))
         ORDER BY set_op, o_custkey""",
    "cube_agg" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         FROM orders
         GROUP BY CUBE (o_orderstatus, o_orderpriority)
         ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""",
    "window_funcs" ->
      """SELECT user_id, event_id, value,
                lag(event_type, 1) OVER w AS prev_type,
                lead(event_type, 1) OVER w AS next_type,
                rank() OVER wv AS value_rank,
                dense_rank() OVER wv AS value_dense_rank,
                ntile(4) OVER wv AS value_quartile
         FROM events WHERE ts IS NOT NULL
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
                wv AS (PARTITION BY user_id ORDER BY value DESC, event_id)
         ORDER BY user_id, event_id""",
    "window_distribution" ->
      """SELECT user_id, event_id, value,
                percent_rank() OVER wv AS value_pct_rank,
                cume_dist() OVER wv AS value_cume_dist
         FROM events
         WINDOW wv AS (PARTITION BY user_id ORDER BY value DESC, event_id)
         ORDER BY user_id, event_id""",
    "id_validation" ->
      """SELECT c_custkey, c_name,
                CASE WHEN c_custkey < 0 THEN 'negative_id'
                     WHEN NOT regexp_matches(c_name, '^[A-Za-z0-9#_ -]+$')
                       THEN 'bad_name_charset'
                     ELSE 'ok' END AS validity
         FROM customer ORDER BY c_custkey""",
    "backfill_pipeline" ->
      """SELECT * FROM (
           SELECT 'orders' AS entity, CAST(o_orderkey AS VARCHAR) AS key,
                  'public' AS tenant,
                  '{"o_orderkey":' || o_orderkey ||
                  ',"o_custkey":' || CASE WHEN o_custkey IS NULL THEN 'null'
                    ELSE CAST(o_custkey AS VARCHAR) END ||
                  ',"o_orderstatus":' || CASE WHEN o_orderstatus IS NULL
                    THEN 'null' ELSE '"' || o_orderstatus || '"' END ||
                  ',"o_totalprice":' || CASE WHEN o_totalprice IS NULL
                    THEN 'null'
                    ELSE '"' || printf('%.2f', o_totalprice) || '"' END ||
                  ',"o_orderdate":' || CASE WHEN o_orderdate IS NULL
                    THEN 'null' ELSE '"' ||
                      strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') || '"' END ||
                  ',"o_orderpriority":' || CASE WHEN o_orderpriority IS NULL
                    THEN 'null' ELSE '"' || o_orderpriority || '"' END ||
                  '}' AS value
           FROM orders
           WHERE o_orderdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
           UNION ALL
           SELECT 'lineitem', CAST(l_orderkey AS VARCHAR), 'public',
                  '{"l_orderkey":' || l_orderkey ||
                  ',"l_linenumber":' || l_linenumber ||
                  ',"l_quantity":"' || printf('%.2f', l_quantity) ||
                  '","l_returnflag":"' || l_returnflag ||
                  '","l_linestatus":"' || l_linestatus ||
                  '","l_shipdate":"' || strftime(l_shipdate, '%Y-%m-%d %H:%M:%S') || '"}'
           FROM lineitem
           WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31')
         ORDER BY entity, key, value""",
    "backfill_checksum" -> dChecksumSql,
    "feed_compact" ->
      s"""WITH $dFeedCte,
         dup AS (SELECT * FROM feed
                 WHERE ${dH60("entity||':'||key")} % 10 = 0),
         delivered AS (SELECT * FROM feed UNION ALL SELECT * FROM dup)
       SELECT entity, key, tenant, value, count(*) AS n_deliveries
       FROM delivered GROUP BY 1, 2, 3, 4 ORDER BY entity, key, value""",
    "corpus_manifest" -> {
      def splitCase(x: String) =
        s"""CASE WHEN ${dH60(s"'split:'||$x")} % 100 < 90 THEN 'train'
                 WHEN ${dH60(s"'split:'||$x")} % 100 < 95 THEN 'val'
                 ELSE 'test' END"""
      s"""WITH RECURSIVE $dMinhashPairsCtes,
         edges AS (SELECT doc_a AS s, doc_b AS d FROM mh_pairs
                   UNION SELECT doc_b, doc_a FROM mh_pairs),
         reach AS (SELECT s, d FROM edges
                   UNION SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
         comp AS (SELECT s AS doc_id, least(s, min(d)) AS cluster_id
                  FROM reach GROUP BY s),
         jj AS (SELECT c.doc_id, c.cluster_id, dd.n_chars
                FROM comp c JOIN documents dd USING (doc_id)),
         keepers AS (SELECT doc_id,
                       row_number() OVER (PARTITION BY cluster_id
                         ORDER BY n_chars DESC, doc_id) = 1 AS is_keeper
                     FROM jj),
         q AS (SELECT doc_id,
                 row_number() OVER (PARTITION BY source
                   ORDER BY coalesce(md5(text), ''), doc_id) <= 30
                   AS quota_kept
               FROM documents)
         SELECT d.doc_id, ${splitCase("d.doc_id")} AS split,
                coalesce(k.is_keeper, true) AS dedup_keeper,
                q.quota_kept,
                (coalesce(k.is_keeper, true) AND q.quota_kept) AS selected
         FROM documents d
         JOIN q USING (doc_id)
         LEFT JOIN keepers k USING (doc_id)
         ORDER BY doc_id"""
    },
    "doc_pack" ->
      s"""WITH t AS (SELECT doc_id, source,
             CAST(len($dToks) AS BIGINT) AS n_tokens FROM documents),
         c AS (SELECT doc_id, source, n_tokens,
             CAST(coalesce(sum(n_tokens) OVER (PARTITION BY source
               ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
               AND 1 PRECEDING), 0) AS BIGINT) AS tokens_before
           FROM t)
       SELECT doc_id, source, n_tokens,
              CAST(tokens_before // 512 AS BIGINT) AS pack_id
       FROM c ORDER BY source, doc_id""",
    "backfill_multitenant" ->
      """SELECT * FROM (
           SELECT 'orders' AS entity, CAST(o_orderkey AS VARCHAR) AS key,
                  CASE WHEN o_custkey % 2 = 0 THEN 'public'
                       ELSE 'analytics' END AS tenant,
                  (CASE WHEN o_custkey % 2 = 0 THEN 'events'
                        ELSE 'events-analytics' END) || '-orders' AS topic,
                  '{"o_orderkey":' || o_orderkey ||
                  ',"o_custkey":' || CASE WHEN o_custkey IS NULL THEN 'null'
                    ELSE CAST(o_custkey AS VARCHAR) END ||
                  ',"o_orderstatus":' || CASE WHEN o_orderstatus IS NULL
                    THEN 'null' ELSE '"' || o_orderstatus || '"' END ||
                  ',"o_totalprice":' || CASE WHEN o_totalprice IS NULL
                    THEN 'null'
                    ELSE '"' || printf('%.2f', o_totalprice) || '"' END ||
                  ',"o_orderdate":' || CASE WHEN o_orderdate IS NULL
                    THEN 'null' ELSE '"' ||
                      strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') || '"' END ||
                  ',"o_orderpriority":' || CASE WHEN o_orderpriority IS NULL
                    THEN 'null' ELSE '"' || o_orderpriority || '"' END ||
                  '}' AS value
           FROM orders
           UNION ALL
           SELECT 'lineitem', CAST(l_orderkey AS VARCHAR),
                  CASE WHEN l_orderkey % 2 = 0 THEN 'public'
                       ELSE 'analytics' END,
                  (CASE WHEN l_orderkey % 2 = 0 THEN 'events'
                        ELSE 'events-analytics' END) || '-lineitem',
                  '{"l_orderkey":' || l_orderkey ||
                  ',"l_linenumber":' || l_linenumber ||
                  ',"l_quantity":"' || printf('%.2f', l_quantity) ||
                  '","l_returnflag":"' || l_returnflag ||
                  '","l_linestatus":"' || l_linestatus ||
                  '","l_shipdate":"' || strftime(l_shipdate, '%Y-%m-%d %H:%M:%S') || '"}'
           FROM lineitem)
         ORDER BY entity, key, value""",
    // explicit `"field":null` (not absent keys) across 8 independent
    // null patterns, enum status, doubly-nested metadata object and a
    // string array — matching envelope's ignoreNullFields=false over
    // the 32-column synthesized payment_intent-width payload
    "backfill_wide_entity" ->
      """SELECT 'documents' AS entity, CAST(doc_id AS VARCHAR) AS key,
                'public' AS tenant,
                '{"doc_id":' || doc_id ||
                ',"lang":' ||
                CASE WHEN lang IS NULL THEN 'null'
                     ELSE '"' || lang || '"' END ||
                ',"source":' ||
                CASE WHEN source IS NULL THEN 'null'
                     ELSE '"' || source || '"' END ||
                ',"n_chars":' || coalesce(CAST(n_chars AS VARCHAR), 'null') ||
                ',"status":"' ||
                CASE doc_id % 5 WHEN 0 THEN 'created' WHEN 1 THEN 'processing'
                     WHEN 2 THEN 'succeeded' WHEN 3 THEN 'failed'
                     ELSE 'cancelled' END ||
                '","status_reason":' ||
                CASE WHEN doc_id % 5 = 3 THEN '"code_' || (doc_id % 13) || '"'
                     ELSE 'null' END ||
                ',"customer_email":' ||
                CASE WHEN doc_id % 7 = 0 THEN 'null'
                     ELSE '"user' || doc_id || '@example.com"' END ||
                ',"customer_phone":' ||
                CASE WHEN doc_id % 11 = 0 THEN 'null'
                     ELSE '"+1555' ||
                          lpad(CAST(doc_id % 1000000 AS VARCHAR), 6, '0') || '"' END ||
                ',"billing_name":' ||
                CASE WHEN doc_id % 13 = 0 THEN 'null'
                     ELSE '"name_' || (doc_id % 997) || '"' END ||
                ',"billing_city":"city_' || (doc_id % 50) ||
                '","billing_country":"' ||
                CASE doc_id % 4 WHEN 0 THEN 'US' WHEN 1 THEN 'DE'
                     WHEN 2 THEN 'IN' ELSE 'BR' END ||
                '","shipping_city":' ||
                CASE WHEN doc_id % 17 = 0 THEN 'null'
                     ELSE '"city_' || (doc_id % 60) || '"' END ||
                ',"amount":' ||
                coalesce(CAST(n_chars * 100 AS VARCHAR), 'null') ||
                ',"currency":"' ||
                CASE doc_id % 3 WHEN 0 THEN 'USD' WHEN 1 THEN 'EUR'
                     ELSE 'INR' END ||
                '","fee_amount":' ||
                coalesce(CAST(n_chars % 97 AS VARCHAR), 'null') ||
                ',"net_amount":' ||
                coalesce(CAST(n_chars * 100 - n_chars % 97 AS VARCHAR), 'null') ||
                ',"tax_amount":' ||
                coalesce(CAST(n_chars % 23 AS VARCHAR), 'null') ||
                ',"surcharge_amount":' ||
                CASE WHEN doc_id % 19 = 0 THEN 'null'
                     ELSE coalesce(CAST(n_chars % 11 AS VARCHAR), 'null') END ||
                ',"attempt_count":' || (doc_id % 4 + 1) ||
                ',"is_active":' ||
                CASE WHEN doc_id % 2 = 0 THEN 'true' ELSE 'false' END ||
                ',"is_test":' ||
                CASE WHEN doc_id % 10 = 0 THEN 'true' ELSE 'false' END ||
                ',"off_session":' ||
                CASE WHEN doc_id % 23 = 0 THEN 'null'
                     WHEN doc_id % 3 = 0 THEN 'true' ELSE 'false' END ||
                ',"capture_method":"' ||
                CASE WHEN doc_id % 2 = 0 THEN 'automatic' ELSE 'manual' END ||
                '","auth_type":"' ||
                CASE doc_id % 3 WHEN 0 THEN 'three_ds' WHEN 1 THEN 'no_three_ds'
                     ELSE 'exempted' END ||
                '","client_secret":"pi_' || doc_id || '_secret' ||
                '","return_url":"https://merchant-' || (doc_id % 20) ||
                '.example.com/return' ||
                '","description":' ||
                CASE WHEN doc_id % 29 = 0 THEN 'null'
                     ELSE '"order ' || doc_id || '"' END ||
                ',"statement_name":' ||
                CASE WHEN lang IS NULL THEN 'null'
                     ELSE '"STMT-' || upper(lang) || '"' END ||
                ',"created_by":"svc_backfill"' ||
                ',"version":' || (doc_id % 3) ||
                ',"metadata":{"src":' ||
                CASE WHEN source IS NULL THEN 'null'
                     ELSE '"' || source || '"' END ||
                ',"bucket":' ||
                coalesce(CAST(n_chars % 10 AS VARCHAR), 'null') ||
                ',"flags":{"priority":' ||
                CASE WHEN doc_id % 2 = 1 THEN 'true' ELSE 'false' END ||
                ',"region":"r' || (doc_id % 4) || '"}}' ||
                ',"tags":["t' || (doc_id % 3) || '",' ||
                CASE WHEN lang IS NULL THEN 'null'
                     ELSE '"' || lang || '"' END || ']}' AS value
         FROM documents ORDER BY key""",
    "approx_distinct" ->
      """SELECT count(DISTINCT l_orderkey) AS exact_orders,
                true AS approx_ok
         FROM lineitem""",
    "approx_quantiles" ->
      """SELECT round(quantile_cont(l_extendedprice, 0.5), 4) AS exact_p50,
                round(quantile_cont(l_extendedprice, 0.99), 4) AS exact_p99,
                true AS approx_p50_ok, true AS approx_p99_ok
         FROM lineitem""",
    "text_langid" -> dLangIdSql,
    "train_split" ->
      s"""WITH b AS (
           SELECT doc_id,
                  ${dH60("'split:'||doc_id")} % 100 AS bucket
           FROM documents)
         SELECT doc_id, bucket,
                CASE WHEN bucket < 90 THEN 'train'
                     WHEN bucket < 95 THEN 'val'
                     ELSE 'test' END AS split
         FROM b ORDER BY doc_id""",
    // DSIR: both engines fit the same two hashed-bucket LMs; the per-
    // feature log ratio is ln of a quotient of two exact integer-valued
    // doubles, rounded to 8 before the decimal(38,18) sum — the
    // unigram_logprob discipline verbatim
    "dsir_weights" ->
      s"""WITH $dDsirCtes
         SELECT doc_id, n_feats, logratio, avg_logratio
         FROM dw ORDER BY doc_id""",
    "dsir_select" ->
      s"""WITH $dDsirCtes,
         $dDsirKeyCtes
         SELECT doc_id, logratio, gumbel, sel_key
         FROM dkey
         ORDER BY sel_key DESC, doc_id LIMIT 64""",
    // proportional DSIR selection: the oracle replays the engine's
    // two-level histogram threshold as ONE rank window — same total
    // (sel_key DESC, doc_id) order, identical kept set
    "dsir_select_frac" ->
      s"""WITH $dDsirCtes,
         $dDsirKeyCtes,
         dn AS (SELECT count(*) AS n FROM dkey),
         drank AS (SELECT doc_id, logratio, gumbel, sel_key,
                          row_number() OVER
                            (ORDER BY sel_key DESC, doc_id) AS rk
                   FROM dkey)
         SELECT doc_id, logratio, gumbel, sel_key,
                rk <= floor(1 + 0.25 * (n - 1)) AS kept
         FROM drank CROSS JOIN dn ORDER BY doc_id""",
    // the proportional select's observability row: replay the 2dp
    // bin histogram + desc running-sum boundary search (the engine
    // runs it distributed; the oracle as plain windows)
    "dsir_select_stats" ->
      s"""WITH $dDsirCtes,
         $dDsirKeyCtes,
         dbin AS (SELECT CAST(floor(sel_key * 100.0) AS BIGINT) AS bin
                  FROM dkey),
         dhist AS (SELECT bin, CAST(count(*) AS BIGINT) AS cnt
                   FROM dbin GROUP BY bin),
         dcum AS (SELECT bin, cnt,
                    CAST(sum(cnt) OVER (ORDER BY bin DESC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS BIGINT) AS cum,
                    CAST(sum(cnt) OVER () AS BIGINT) AS n,
                    CAST(count(*) OVER () AS BIGINT) AS n_bins
                  FROM dhist),
         dk AS (SELECT *, CAST(floor(1.0 + 0.25 * (n - 1)) AS BIGINT)
                    AS k FROM dcum)
         SELECT n_bins, bin AS boundary_bin, cnt AS boundary_cnt,
                CAST(k - (cum - cnt) AS BIGINT) AS quota,
                n AS n_pool, k
         FROM dk WHERE cum >= k AND cum - cnt < k""",
    // learned quality probe: 4 unrolled GD rounds, exact-hop decimal
    // sums, rational sigmoid (no exp — JVM/libm exp bit patterns fork
    // on a measured 0.25% of doubles and GD amplifies any fork)
    "quality_classifier" -> dQcSql,
    // kept-fraction calibration: same trained scores, quantile cut
    "quality_classifier_frac" -> dQcFracSql,
    // HTML main-content extraction: both engines synthesize the same
    // deterministic page frame, then segment/strip/classify with pure
    // string+integer rules — link density is the integer compare
    // 3·ll < len, no floating point anywhere in the per-doc path
    "html_extract" -> dHtmlExtractSql(dHtmlCtes),
    // hostile-markup twin: same metrics, same extraction tail, over
    // the hostile page frame
    "html_extract_hostile" -> dHtmlExtractSql(dHtmlHostileCtes),
    "html_boilerplate_stats" ->
      s"""WITH $dHtmlCtes,
         hm AS (SELECT source,
                  CAST(coalesce(list_sum(list_transform(
                    list_filter(blocks, b -> $dHtmlContent),
                    b -> len(b.txt))), 0) AS BIGINT) AS cc,
                  CAST(coalesce(list_sum(list_transform(
                    list_filter(blocks,
                      b -> len(b.txt) > 0 AND NOT ($dHtmlContent)),
                    b -> len(b.txt))), 0) AS BIGINT) AS bc
                FROM hblk)
         SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(cc) AS BIGINT) AS content_chars,
                CAST(sum(bc) AS BIGINT) AS boiler_chars,
                CASE WHEN sum(cc) + sum(bc) = 0 THEN 0.0
                     ELSE round(CAST(sum(bc) AS DOUBLE) /
                       CAST(sum(cc) + sum(bc) AS DOUBLE), 6)
                END AS boiler_frac
         FROM hm GROUP BY source ORDER BY source""",
    // the end-to-end curation composition: extract → langid → quality
    // cut → extracted-content dedup keeper → manifest, every stage
    // replayed naively over the same synthesized pages
    "curation_pipeline" -> dCurationSql,
    // crawl-norm dedup stage: minhash near-dup clusters over the
    // EXTRACTED text + quality-aware keeper selection
    "curation_pipeline_neardup" -> dCurationNearDupSql,
    // unigram-LM tokenizer: full Viterbi DP replay per distinct word
    // (sliding-window recursive CTE + backtrace), one EM round
    "ulm_vocab" -> DUlm.vocabSql,
    "ulm_encode" -> DUlm.encodeSql,
    // exact-substring scrub: hot spans (≥2 docs) explode to covered
    // positions, kept stream rebuilt with length-prefixed fingerprint
    "span_scrub" ->
      s"""WITH ${dSpanCtes(8)},
         hot AS (SELECT span_h FROM spanx
                 GROUP BY span_h HAVING count(*) >= 2),
         spost AS (SELECT doc_id, s['sp'] AS sp, s['h'] AS h FROM (
           SELECT doc_id, unnest(CASE WHEN len(ts) < 8
             THEN CAST([] AS STRUCT(sp BIGINT, h BIGINT)[])
             ELSE [{'sp': CAST(i - 1 AS BIGINT),
                    'h': ${dH60("ts[i]||' '||ts[i+1]||' '||ts[i+2]" +
                      "||' '||ts[i+3]||' '||ts[i+4]||' '||ts[i+5]" +
                      "||' '||ts[i+6]||' '||ts[i+7]")}}
                   for i in range(1, len(ts) - 6)] END) AS s
           FROM toks)),
         cov AS (SELECT DISTINCT doc_id, pos FROM (
                 SELECT doc_id, unnest(range(sp, sp + 8)) AS pos
                 FROM spost JOIN hot ON spost.h = hot.span_h)),
         ptoks AS (SELECT doc_id, i - 1 AS pos, ts[i] AS token
                   FROM toks, LATERAL unnest(range(1, len(ts) + 1)) t(i)),
         keptt AS (SELECT p.doc_id, p.pos,
                          len(p.token)||':'||p.token AS enc
                   FROM ptoks p WHERE NOT EXISTS (
                     SELECT 1 FROM cov c
                     WHERE c.doc_id = p.doc_id AND c.pos = p.pos)),
         sagg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
                         string_agg(enc, '' ORDER BY pos, enc) AS ks
                  FROM keptt GROUP BY 1)
         SELECT d.doc_id,
                CAST(coalesce(len($dToks), 0) AS BIGINT) AS n_tokens,
                coalesce(n_kept, 0) AS n_kept,
                CAST(coalesce(len($dToks), 0) AS BIGINT)
                  - coalesce(n_kept, 0) AS n_removed,
                ${dH60("coalesce(ks, '')")} AS kept_h
         FROM documents d LEFT JOIN sagg USING (doc_id)
         ORDER BY doc_id""",
    "contamination_ngram" -> dContamNgramSql,
    // bloom pre-screen + exact verify ≡ exact operator: SAME oracle —
    // hash-equality proves the screen admits no false positive into the
    // counts and drops no true hit
    "contamination_bloom" -> dContamNgramSql,
    "inverted_index" ->
      s"""WITH toks AS (SELECT doc_id, $dToks AS ts FROM documents),
         tok AS (SELECT doc_id, unnest(list_distinct(ts)) AS token FROM toks),
         idx AS (SELECT token, count(*) AS df,
                        array_to_string((list_sort(list(doc_id)))[1:20], ',')
                          AS postings
                 FROM tok GROUP BY 1)
         SELECT token, df, postings FROM idx
         ORDER BY df DESC, token LIMIT 50""",
    // bm25_from_index / phrase_from_index are the index-served twins of
    // bm25_search / phrase_search: same results by construction, so the
    // oracle SQL is shared (the index is a Spark-side materialization
    // detail DuckDB doesn't need to model).
    "bm25_from_index" -> dBm25Sql,
    // …_index_maintained: corpus-slice index + increment append must
    // reproduce the FULL-corpus ranking — the append-correctness claim
    "bm25_index_maintained" -> dBm25Sql,
    "bm25_index_churn" -> dBm25SqlFor(dChurnWhere),
    "bm25_salted" -> dBm25Sql,
    "bm25_salted_churn" -> dBm25SqlFor(dChurnWhere),
    "phrase_salted" -> dPhraseSql,
    "sim_topk_retrained" -> dIvfSql(iters = 3),
    "bm25_batch" -> dBm25BatchSql,
    "hybrid_search" -> dHybridSql,
    "phrase_from_index" -> dPhraseSql,
    "phrase_index_maintained" -> dPhraseSql,
    "phrase_index_churn" -> dPhraseSqlFor(dChurnWhere),
    "phrase3_from_index" ->
      s"""WITH toks AS (SELECT doc_id, $dToks AS ts FROM documents),
         pos AS (SELECT doc_id,
                   [i for i in range(1, len(ts) + 1) if ts[i] = 'part']
                     AS p1,
                   [i for i in range(1, len(ts) + 1) if ts[i] = 'filter']
                     AS p2,
                   [i for i in range(1, len(ts) + 1) if ts[i] = 'scan']
                     AS p3
                 FROM toks),
         hits AS (SELECT doc_id,
                    CAST(len(list_intersect(list_intersect(
                      list_transform(p1, x -> x + 2),
                      list_transform(p2, x -> x + 1)), p3)) AS BIGINT)
                      AS n_occurrences
                  FROM pos)
         SELECT doc_id, n_occurrences FROM hits
         WHERE n_occurrences > 0
         ORDER BY n_occurrences DESC, doc_id LIMIT 20""",
    "bm25_search" -> dBm25Sql,
    "phrase_search" -> dPhraseSql,
    "unigram_logprob" ->
      s"""WITH toks AS (SELECT doc_id, $dToks AS ts FROM documents),
         tok AS (SELECT doc_id, unnest(ts) AS token FROM toks),
         tf AS (SELECT token, count(*) AS freq FROM tok GROUP BY 1),
         tot AS (SELECT CAST(sum(freq) AS BIGINT) AS total FROM tf),
         per AS (SELECT doc_id, count(*) AS n_tokens,
                        CAST(CAST(sum(${dExactDec("round(ln(freq / CAST(total AS DOUBLE)), 8)")}) AS VARCHAR) AS DOUBLE) AS s
                 FROM tok JOIN tf USING (token) CROSS JOIN tot
                 GROUP BY 1)
         SELECT d.doc_id,
                coalesce(n_tokens, 0) AS n_tokens,
                CASE WHEN coalesce(n_tokens, 0) = 0 THEN 0.0
                     ELSE s / n_tokens END AS avg_logprob
         FROM documents d LEFT JOIN per USING (doc_id)
         ORDER BY doc_id""",
    "bigram_logprob" ->
      s"""WITH toks AS (SELECT doc_id, $dToks AS ts FROM documents),
         tok AS (SELECT doc_id, unnest(ts) AS token FROM toks),
         tf AS (SELECT token, count(*) AS freq FROM tok GROUP BY 1),
         v AS (SELECT count(*) AS v FROM tf),
         big AS (SELECT doc_id, unnest(${dShinglesN(2)}) AS bigram
                 FROM toks),
         bf AS (SELECT bigram, count(*) AS bfreq FROM big GROUP BY 1),
         per AS (SELECT doc_id, count(*) AS n_bigrams,
                        CAST(CAST(sum(${dExactDec("round(ln((bfreq + 1) / CAST(freq + v AS DOUBLE)), 8)")}) AS VARCHAR) AS DOUBLE) AS s
                 FROM big JOIN bf USING (bigram)
                 JOIN tf ON split_part(bigram, ' ', 1) = tf.token
                 CROSS JOIN v
                 GROUP BY 1)
         SELECT d.doc_id,
                coalesce(n_bigrams, 0) AS n_bigrams,
                CASE WHEN coalesce(n_bigrams, 0) = 0 THEN 0.0
                     ELSE s / n_bigrams END AS avg_logprob
         FROM documents d LEFT JOIN per USING (doc_id)
         ORDER BY doc_id""",
    // BPE merge learning: full m-round replay (greedy recursive merge
    // walk per doc, argmax per round)
    "bpe_merges" -> dBpeSql(6),
    // word-table BPE training: freq-weighted word-internal pair
    // counts, every round vocab-bounded on both engines
    "bpe_merges_vocab" -> dBpeVocabSql(8),
    // word-table BPE encode: each distinct word encodes once, the
    // positional token stream joins its encoding back; fingerprint =
    // h60 of all subword symbols in document order, chr(1)-joined
    "bpe_encode_vocab" ->
      (s"""WITH RECURSIVE ${dBpeVocabCtes(8)},
         etoks AS (SELECT doc_id, $dToks AS dts FROM documents),
         epos AS (SELECT doc_id, i AS pos, dts[i] AS word
                  FROM etoks, LATERAL unnest(range(1, len(dts)+1)) AS t(i)),
         eenc AS (SELECT doc_id, pos, len(epos.word) AS nch,
                         len(vt8.ts) AS nsub,
                         array_to_string(list_transform(vt8.ts,
                           t -> len(t)||':'||t), '') AS encw
                  FROM epos JOIN vt8 USING (word)),
         eagg AS (SELECT doc_id,
                         CAST(sum(nch) AS BIGINT) AS n_raw,
                         CAST(sum(nsub) AS BIGINT) AS n_tokens,
                         string_agg(encw, '' ORDER BY pos) AS encstr
                  FROM eenc GROUP BY 1)
         SELECT d.doc_id,
                coalesce(n_raw, 0) AS n_raw,
                coalesce(n_tokens, 0) AS n_tokens,
                ${dH60("coalesce(encstr, '')")} AS enc_h
         FROM documents d LEFT JOIN eagg USING (doc_id)
         ORDER BY doc_id"""),
    // BPE encode: the learned merges applied in rank order; fingerprint
    // of the chr(1)-joined encoding pins the exact segmentation
    "bpe_encode" ->
      s"""WITH RECURSIVE ${dBpeCtes(6)}
         SELECT t0.doc_id, CAST(len(t0.ts) AS BIGINT) AS n_raw,
                CAST(len(t6.ts) AS BIGINT) AS n_tokens,
                ${dH60("coalesce(array_to_string(list_transform(t6.ts, t -> len(t)||':'||t), ''), '')")} AS enc_h
         FROM t0 JOIN t6 USING (doc_id) ORDER BY doc_id""",
    // PMI collocations: the same double-cast division association as
    // the Spark side, one ln rounded at 6 (bigram-LM precedent)
    "phrase_pmi" ->
      s"""WITH ptoks AS (SELECT doc_id, $dToks AS ts FROM documents),
         pbig AS (SELECT unnest(${dShinglesN(2)}) AS bigram FROM ptoks),
         pbf AS (SELECT bigram, count(*) AS pair_cnt FROM pbig GROUP BY 1),
         puni AS (SELECT unnest(ts) AS token FROM ptoks),
         puf AS (SELECT token, count(*) AS cnt FROM puni GROUP BY 1),
         ptot AS (SELECT (SELECT sum(pair_cnt) FROM pbf) AS np,
                         (SELECT sum(cnt) FROM puf) AS nu)
         SELECT bigram, pair_cnt, c1, c2,
                round(ln((CAST(pair_cnt AS DOUBLE) / CAST(np AS DOUBLE)) /
                  ((CAST(c1 AS DOUBLE) / CAST(nu AS DOUBLE)) *
                   (CAST(c2 AS DOUBLE) / CAST(nu AS DOUBLE)))), 6) AS pmi
         FROM (SELECT b.bigram, b.pair_cnt, u1.cnt AS c1, u2.cnt AS c2
               FROM pbf b
               JOIN puf u1 ON split_part(b.bigram, ' ', 1) = u1.token
               JOIN puf u2 ON split_part(b.bigram, ' ', 2) = u2.token
               WHERE b.pair_cnt >= 5) CROSS JOIN ptot
         ORDER BY pair_cnt DESC, pmi DESC, bigram LIMIT 50""",
    // moments/corr from decimal-exact sums, scalars in one identically-
    // associated double expression (the anomaly_hours discipline)
    "numeric_moments" ->
      s"""WITH mo AS (
           SELECT l_returnflag,
                  CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(${dExactDec("l_quantity")}) AS DOUBLE) AS sq,
                  CAST(sum(${dExactDec("l_extendedprice")}) AS DOUBLE) AS sp,
                  CAST(sum(${dExactDec("l_quantity * l_quantity")}) AS DOUBLE) AS sqq,
                  CAST(sum(${dExactDec("l_extendedprice * l_extendedprice")}) AS DOUBLE) AS spp,
                  CAST(sum(${dExactDec("l_quantity * l_extendedprice")}) AS DOUBLE) AS sqp
           FROM lineitem GROUP BY 1)
         SELECT l_returnflag, n,
                round(sq / n, 6) AS mean_qty,
                round(sqrt((n * sqq - sq * sq) /
                  (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))), 6)
                  AS stddev_qty,
                round(sp / n, 6) AS mean_price,
                round(sqrt((n * spp - sp * sp) /
                  (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))), 6)
                  AS stddev_price,
                round((n * sqp - sq * sp) /
                  sqrt((n * sqq - sq * sq) * (n * spp - sp * sp)), 6)
                  AS corr_qty_price
         FROM mo ORDER BY l_returnflag""",
    // stratified split: exact per-language cuts on the total
    // (hash, doc_id) order, integer division on both engines
    "stratified_split" ->
      s"""WITH sd AS (SELECT doc_id, lang,
                  ${dH60("'split:'||doc_id")} AS h FROM documents),
         sr AS (SELECT doc_id, lang,
                  CAST(row_number() OVER (PARTITION BY lang
                    ORDER BY h, doc_id) AS BIGINT) AS r,
                  CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS n
                FROM sd)
         SELECT doc_id, lang,
                CASE WHEN r <= (n * 90) // 100 THEN 'train'
                     WHEN r <= (n * 95) // 100 THEN 'val'
                     ELSE 'test' END AS split
         FROM sr ORDER BY doc_id""",
    "source_quota" ->
      """SELECT doc_id, source, pick_key, rn <= 30 AS kept FROM (
           SELECT doc_id, source, md5(text) AS pick_key,
                  CAST(row_number() OVER (PARTITION BY source
                    ORDER BY coalesce(md5(text), ''), doc_id) AS BIGINT)
                    AS rn
           FROM documents)
         ORDER BY source, pick_key, doc_id""",
    "bloom_join_prune" ->
      """SELECT o_orderkey, o_custkey, c_name, o_totalprice
         FROM orders JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING' AND c_custkey % 3 = 0
         ORDER BY o_orderkey""",
    "skew_salted_join" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, o_orderpriority
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE o_orderstatus = 'F'
         ORDER BY l_orderkey, l_linenumber""",
    "range_join_pairs" ->
      """SELECT a.user_id, a.event_id AS event_a, b.event_id AS event_b,
                abs(epoch_us(a.ts) - epoch_us(b.ts)) AS gap_us
         FROM events a JOIN events b
           ON a.user_id = b.user_id AND a.event_id < b.event_id
          AND abs(epoch_us(a.ts) - epoch_us(b.ts)) <= 1800000000
         ORDER BY a.user_id, event_a, event_b""",
    "tdigest_quantiles" ->
      """SELECT o_orderstatus,
                round(quantile_cont(o_totalprice, 0.5), 4) AS exact_p50,
                round(quantile_cont(o_totalprice, 0.99), 4) AS exact_p99,
                true AS td_p50_ok, true AS td_p99_ok
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "minhash_signatures" ->
      s"""WITH ${minhashCtes(Seq(0, 1, 62, 63))}
         SELECT doc_id, m0 AS sig0, m1 AS sig1, m62 AS sig62, m63 AS sig63
         FROM sig ORDER BY doc_id""",
    "minhash_buckets" ->
      s"""WITH ${minhashCtes(0 until 64)},
         $dBandsCte
         SELECT band_id, band_key, count(*) AS bucket_size
         FROM bands GROUP BY 1, 2 HAVING count(*) > 1
         ORDER BY band_id, band_key""",
    "minhash_pairs" ->
      s"""WITH $dMinhashPairsCtes
         SELECT doc_a, doc_b, jaccard FROM mh_pairs ORDER BY doc_a, doc_b""",
    // band-level saturation guard over the UNCAPPED band table: per
    // band, distinct keys + the doc mass the skew cap would drop
    "minhash_band_saturation" ->
      s"""WITH ${minhashCtes(0 until 64)},
         $dBandsCte,
         mbsz AS (SELECT band_id, band_key, count(*) AS bs
                  FROM bands GROUP BY 1, 2)
         SELECT CAST(band_id AS BIGINT) AS band_id,
                CAST(sum(bs) AS BIGINT) AS n_docs,
                CAST(count(*) AS BIGINT) AS n_keys,
                CAST(sum(CASE WHEN bs > 200 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_capped,
                CAST(sum(CASE WHEN bs > 200 THEN bs ELSE 0 END) AS BIGINT)
                  AS n_dropped,
                round(sum(CASE WHEN bs > 200 THEN bs ELSE 0 END) /
                  CAST(sum(bs) AS DOUBLE), 6) AS drop_frac
         FROM mbsz GROUP BY band_id ORDER BY band_id""",
    // one-sided band probe: the "new crawl" (doc_id % 10 = 0) against
    // the corpus — same skew-capped buckets (bf) and exact verify as
    // minhash_pairs, but candidates orient new→corpus, either order
    "dedup_incremental" ->
      s"""WITH $dMinhashPairsCtes,
         candi AS (SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS corpus_id
                   FROM bf a JOIN bf b USING (band_id, band_key)
                   WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0),
         jaci AS (SELECT new_id, corpus_id,
                    CAST(len(list_intersect(gn.g, gc.g)) AS DOUBLE) /
                      len(list_distinct(list_concat(gn.g, gc.g))) AS jaccard
                  FROM candi JOIN grams gn ON gn.doc_id = candi.new_id
                             JOIN grams gc ON gc.doc_id = candi.corpus_id)
         SELECT new_id, corpus_id, jaccard FROM jaci
         WHERE jaccard >= 0.5 ORDER BY new_id, corpus_id""",
    // same semantics as dedup_incremental — the Spark side routes the
    // candidate probe through the bucketed catalog index instead of the
    // memo parquet; the verified pair set must be identical
    "dedup_incremental_bucketed" ->
      s"""WITH $dMinhashPairsCtes,
         candi AS (SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS corpus_id
                   FROM bf a JOIN bf b USING (band_id, band_key)
                   WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0),
         jaci AS (SELECT new_id, corpus_id,
                    CAST(len(list_intersect(gn.g, gc.g)) AS DOUBLE) /
                      len(list_distinct(list_concat(gn.g, gc.g))) AS jaccard
                  FROM candi JOIN grams gn ON gn.doc_id = candi.new_id
                             JOIN grams gc ON gc.doc_id = candi.corpus_id)
         SELECT new_id, corpus_id, jaccard FROM jaci
         WHERE jaccard >= 0.5 ORDER BY new_id, corpus_id""",
    // churned band index: full build minus the tombstoned % 10 == 0
    // batch == the corpus slice, so the served probe must equal the
    // append-built corpus index's — the same SQL as
    // dedup_incremental_bucketed IS the delete-through proof
    "dedup_index_churn" ->
      s"""WITH $dMinhashPairsCtes,
         candi AS (SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS corpus_id
                   FROM bf a JOIN bf b USING (band_id, band_key)
                   WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0),
         jaci AS (SELECT new_id, corpus_id,
                    CAST(len(list_intersect(gn.g, gc.g)) AS DOUBLE) /
                      len(list_distinct(list_concat(gn.g, gc.g))) AS jaccard
                  FROM candi JOIN grams gn ON gn.doc_id = candi.new_id
                             JOIN grams gc ON gc.doc_id = candi.corpus_id)
         SELECT new_id, corpus_id, jaccard FROM jaci
         WHERE jaccard >= 0.5 ORDER BY new_id, corpus_id""",
    "contamination" -> {
      def splitCase(x: String) =
        s"""CASE WHEN ${dH60(s"'split:'||$x")} % 100 < 90 THEN 'train'
                 WHEN ${dH60(s"'split:'||$x")} % 100 < 95 THEN 'val'
                 ELSE 'test' END"""
      s"""WITH $dMinhashPairsCtes
         SELECT doc_a, split_a, doc_b, split_b, jaccard FROM (
           SELECT doc_a, doc_b, jaccard,
                  ${splitCase("doc_a")} AS split_a,
                  ${splitCase("doc_b")} AS split_b
           FROM mh_pairs)
         WHERE split_a <> split_b ORDER BY doc_a, doc_b"""
    },
    "dedup_clusters" ->
      s"""WITH RECURSIVE $dMinhashPairsCtes,
         edges AS (SELECT doc_a AS s, doc_b AS d FROM mh_pairs
                   UNION SELECT doc_b, doc_a FROM mh_pairs),
         reach AS (SELECT s, d FROM edges
                   UNION SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s)
         SELECT s AS doc_id, least(s, min(d)) AS cluster_id,
                s = least(s, min(d)) AS is_keeper
         FROM reach GROUP BY s ORDER BY cluster_id, doc_id""",
    // group-aware split: the cluster representative is the split key,
    // singletons key on themselves — same hash kernel as train_split
    "leakage_safe_split" ->
      s"""WITH RECURSIVE $dMinhashPairsCtes,
         edges AS (SELECT doc_a AS s, doc_b AS d FROM mh_pairs
                   UNION SELECT doc_b, doc_a FROM mh_pairs),
         reach AS (SELECT s, d FROM edges
                   UNION SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
         clus AS (SELECT s AS doc_id, least(s, min(d)) AS cluster_id
                  FROM reach GROUP BY s),
         keyed AS (
           SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS split_key
           FROM documents d LEFT JOIN clus c ON d.doc_id = c.doc_id),
         b AS (SELECT doc_id, split_key,
                      ${dH60("'split:'||split_key")} % 100 AS bucket
               FROM keyed)
         SELECT doc_id, split_key, bucket,
                CASE WHEN bucket < 90 THEN 'train'
                     WHEN bucket < 95 THEN 'val'
                     ELSE 'test' END AS split
         FROM b ORDER BY doc_id""",
    "doc_chunks" -> {
      val rng = "range(1, greatest(len(ts), 1)+1, 48)"
      s"""WITH toks AS (SELECT doc_id,
                        coalesce($dToks, CAST([] AS VARCHAR[])) AS ts
                 FROM documents),
         ch AS (SELECT doc_id,
             unnest([(i-1)//48 for i in $rng]) AS chunk_idx,
             unnest([len(ts[i:i+63]) for i in $rng]) AS n_chunk_tokens,
             unnest([md5(coalesce(array_to_string(ts[i:i+63], ' '), '')) for i in $rng])
               AS chunk_sha
           FROM toks)
         SELECT doc_id, chunk_idx,
                CAST(n_chunk_tokens AS BIGINT) AS n_chunk_tokens, chunk_sha
         FROM ch ORDER BY doc_id, chunk_idx"""
    },
    "vocab_coverage" ->
      s"""WITH tf AS (SELECT t AS token, count(*) AS freq
                      FROM (SELECT unnest($dToks) AS t FROM documents)
                      GROUP BY 1),
         tot AS (SELECT sum(freq) AS total FROM tf),
         r AS (SELECT token, freq,
                 CAST(row_number() OVER w AS BIGINT) AS rank,
                 round(CAST(sum(freq) OVER (ORDER BY freq DESC, token
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS DOUBLE) / total, 6) AS cum_frac
               FROM tf, tot WINDOW w AS (ORDER BY freq DESC, token))
         SELECT rank, token, freq, cum_frac FROM r
         WHERE rank <= 30 ORDER BY rank""",
    "dedup_keep_best" ->
      s"""WITH RECURSIVE $dMinhashPairsCtes,
         edges AS (SELECT doc_a AS s, doc_b AS d FROM mh_pairs
                   UNION SELECT doc_b, doc_a FROM mh_pairs),
         reach AS (SELECT s, d FROM edges
                   UNION SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
         comp AS (SELECT s AS doc_id, least(s, min(d)) AS cluster_id
                  FROM reach GROUP BY s),
         j AS (SELECT c.doc_id, c.cluster_id, d.n_chars
               FROM comp c JOIN documents d USING (doc_id)),
         rr AS (SELECT doc_id, cluster_id, n_chars,
                  row_number() OVER wq AS rk,
                  first_value(doc_id) OVER (PARTITION BY cluster_id
                    ORDER BY n_chars DESC, doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
                    AS keep_doc_id
                FROM j
                WINDOW wq AS (PARTITION BY cluster_id
                              ORDER BY n_chars DESC, doc_id))
         SELECT doc_id, cluster_id, n_chars, keep_doc_id,
                rk = 1 AS is_keeper
         FROM rr ORDER BY cluster_id, doc_id""",
    "simhash" ->
      s"""WITH $dSimhashCtes
         SELECT doc_id, simhash FROM simsig ORDER BY doc_id""",
    "simhash_pairs" ->
      s"""WITH $dSimhashCtes,
         chunks AS (SELECT doc_id, simhash,
             unnest([0, 1, 2, 3]) AS chunk_id,
             unnest([(simhash >> 0) & 32767, (simhash >> 15) & 32767,
                     (simhash >> 30) & 32767, (simhash >> 45) & 32767])
               AS chunk_val
           FROM simsig),
         sbig AS (SELECT chunk_id, chunk_val FROM chunks
                  GROUP BY 1, 2 HAVING count(*) > 200),
         cf AS (SELECT chunks.* FROM chunks
                ANTI JOIN sbig USING (chunk_id, chunk_val)),
         spairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
           FROM cf a JOIN cf b USING (chunk_id, chunk_val)
           WHERE a.doc_id < b.doc_id)
         SELECT doc_a, doc_b, hamming FROM spairs
         WHERE hamming <= 3 ORDER BY doc_a, doc_b""",
    "sim_topk_ivf" -> dIvfSql(iters = 0),
    "sim_topk_ivf_kmeans" -> dIvfSql(iters = 2),
    // incremental: the % 10 slice plays the new batch, the rest is the
    // persisted corpus — the af assignment CTE models the Spark side's
    // materialized assignment memo
    "sim_topk_incremental" -> dIvfSql(iters = 2,
      queryPred = "q.vec_id % 10 = 0", corpusPred = "a.vec_id % 10 <> 0"),
    // maintained: corpus-slice build + frozen-centroid batch append must
    // reproduce the full-corpus assignment — same oracle as the full
    // build, hash-equality IS the append-correctness proof
    "sim_topk_maintained" -> dIvfSql(iters = 2),
    // knn graph: every vector is a query (queryPred TRUE) — the same
    // trained-assignment CTE chain, k/nprobe at graph-build settings
    "knn_graph" -> dIvfSql(iters = 2, nprobe = 4, k = 3,
      queryPred = "TRUE"),
    // maintained graph: old-slice build + bounded batch fold-in must
    // reproduce the full-corpus graph — SAME oracle as knn_graph;
    // hash-equality IS the append-correctness proof (the merge law
    // top_k(top_k(old) ∪ new) = top_k(old ∪ new) under the k-th-score
    // prune)
    "knn_graph_maintained" -> dIvfSql(iters = 2, nprobe = 4, k = 3,
      queryPred = "TRUE"),
    // churned graph: tombstoned vectors vanish both as queries and as
    // neighbors, affected survivors re-rank over the remaining
    // candidates — the oracle is a fresh build over survivors only
    "knn_graph_churn" -> dIvfSql(iters = 2, nprobe = 4, k = 3,
      queryPred = "q.vec_id % 10 <> 0", corpusPred = "a.vec_id % 10 <> 0"),
    // mutual knn: both directions present in the ranked top-3 — a
    // self-join of the knn CTE, cosine from the a<b direction
    "mutual_knn" ->
      s"""WITH ${dIvfProbeCtes(iters = 2, nprobe = 4, queryPred = "TRUE")},
         knn AS (SELECT q_id, vec_id, round(cos, 6) AS cos FROM ranked
                 WHERE rk <= 3)
         SELECT a.q_id AS vec_a, a.vec_id AS vec_b, a.cos
         FROM knn a JOIN knn b ON a.q_id = b.vec_id AND a.vec_id = b.q_id
         WHERE a.q_id < a.vec_id ORDER BY vec_a, vec_b""",
    // cluster labels: the tfidf_top_terms scoring folded per k-means
    // cluster (decimal-exact sum of the per-(doc,term) rounded scores)
    "cluster_labels" ->
      s"""WITH ${dIvfAssignCtes(iters = 2)},
         cltoks AS (
           SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\\s+'),
             t -> len(t) > 0)) AS term
           FROM documents),
         cltf AS (SELECT doc_id, term, count(*) AS tf FROM cltoks GROUP BY 1, 2),
         cldf AS (SELECT term, count(*) AS df FROM cltf GROUP BY 1),
         cln AS (SELECT count(*) AS n FROM documents),
         clsc AS (
           SELECT doc_id, term,
                  round(tf * ln((n + 1.0) / (df + 1.0)), 6) AS tfidf
           FROM cltf JOIN cldf USING (term), cln),
         clsum AS (SELECT af.c_id, s.term,
                  CAST(sum(${dExactDec("s.tfidf")}) AS DOUBLE) AS wsum
                FROM clsc s JOIN af ON af.vec_id = s.doc_id GROUP BY 1, 2),
         clw AS (SELECT c_id, term, round(wsum, 6) AS weight FROM clsum),
         clr AS (SELECT c_id, term, weight,
                  CAST(row_number() OVER (PARTITION BY c_id
                    ORDER BY weight DESC, term) AS BIGINT) AS rk
                FROM clw)
         SELECT c_id, rk, term, weight FROM clr
         WHERE rk <= 3 ORDER BY c_id, rk""",
    // knn classifier: majority neighbor label, (votes DESC, label) argmax
    "knn_classify" ->
      s"""WITH ${dIvfProbeCtes(iters = 2, nprobe = 4, queryPred = "TRUE")},
         knn AS (SELECT q_id, vec_id FROM ranked WHERE rk <= 3),
         lbl AS (SELECT vec_id, CAST(label AS BIGINT) AS label
                 FROM embeddings),
         votes AS (SELECT k.q_id, l.label AS nb_label, count(*) AS votes
                   FROM knn k JOIN lbl l ON l.vec_id = k.vec_id
                   GROUP BY 1, 2),
         pred AS (SELECT q_id AS vec_id, nb_label AS pred_label,
                         CAST(votes AS BIGINT) AS votes
                  FROM (SELECT q_id, nb_label, votes,
                               row_number() OVER (PARTITION BY q_id
                                 ORDER BY votes DESC, nb_label) AS vr
                        FROM votes) WHERE vr = 1)
         SELECT p.vec_id, l.label, p.pred_label, p.votes,
                l.label = p.pred_label AS correct
         FROM pred p JOIN lbl l USING (vec_id) ORDER BY vec_id""",
    // knn centrality: 3 unrolled damped power iterations; per-edge IEEE
    // division, decimal-exact per-vertex sum, explicit DOUBLE literals
    // (DuckDB decimal literals would change the arithmetic)
    "knn_centrality" -> {
      val iters3 = (1 to 3).map { i =>
        s"""c$i AS (SELECT e.vec_id,
                 CAST(sum(${dExactDec("p.p / od.outdeg")})
                   AS DOUBLE) AS c
             FROM e JOIN p${i - 1} p ON p.vec_id = e.q_id
                    JOIN od ON od.q_id = e.q_id
             GROUP BY 1),
         p$i AS (SELECT v.vec_id,
                 CAST(0.15 AS DOUBLE) / nn.n + CAST(0.85 AS DOUBLE) *
                   coalesce(c$i.c, CAST(0.0 AS DOUBLE)) AS p
             FROM vtx v LEFT JOIN c$i ON c$i.vec_id = v.vec_id
             CROSS JOIN nn)"""
      }.mkString(",\n         ")
      s"""WITH ${dIvfProbeCtes(iters = 2, nprobe = 4, queryPred = "TRUE")},
         e AS (SELECT q_id, vec_id FROM ranked WHERE rk <= 3),
         od AS (SELECT q_id, count(*) AS outdeg FROM e GROUP BY 1),
         vtx AS (SELECT q_id AS vec_id FROM od),
         nn AS (SELECT count(*) AS n FROM vtx),
         p0 AS (SELECT vec_id, CAST(1.0 AS DOUBLE) / nn.n AS p
                FROM vtx CROSS JOIN nn),
         $iters3
         SELECT p3.vec_id, round(p3.p, 9) AS centrality,
                round(abs(p3.p - p2.p), 9) AS residual
         FROM p3 JOIN p2 USING (vec_id)
         ORDER BY vec_id"""
    },
    // knn density: mean rounded cosine to the k graph neighbors
    // (decimal-exact sum, one IEEE division) + the coarse cluster id
    "knn_density" ->
      s"""WITH ${dIvfProbeCtes(iters = 2, nprobe = 4, queryPred = "TRUE")},
         knn AS (SELECT q_id, vec_id, round(cos, 6) AS cos FROM ranked
                 WHERE rk <= 3),
         dens AS (SELECT q_id AS vec_id,
             CAST(CAST(sum(${dExactDec("cos")}) AS VARCHAR)
               AS DOUBLE) / count(*) AS density,
             CAST(count(*) AS BIGINT) AS deg
           FROM knn GROUP BY q_id)
         -- density emitted RAW: round-6 of (scale-6 sum / deg) is an
         -- exact half-boundary value for deg=2 odd sums (round fork)
         SELECT d.vec_id, a.c_id, d.density AS density, d.deg
         FROM dens d JOIN af a USING (vec_id) ORDER BY vec_id""",
    // density prune: within each coarse cluster drop the densest 25%
    // (rank by density DESC, vec_id; cut at ceil(0.25·|cluster|))
    "density_prune" ->
      s"""WITH ${dIvfProbeCtes(iters = 2, nprobe = 4, queryPred = "TRUE")},
         knn AS (SELECT q_id, vec_id, round(cos, 6) AS cos FROM ranked
                 WHERE rk <= 3),
         dens AS (SELECT q_id AS vec_id,
             CAST(CAST(sum(${dExactDec("cos")}) AS VARCHAR)
               AS DOUBLE) / count(*) AS density
           FROM knn GROUP BY q_id),
         da AS (SELECT d.vec_id, a.c_id, d.density AS density
                FROM dens d JOIN af a USING (vec_id)),
         dr AS (SELECT vec_id, c_id, density,
             row_number() OVER (PARTITION BY c_id
               ORDER BY density DESC, vec_id) AS drk,
             count(*) OVER (PARTITION BY c_id) AS csz
           FROM da)
         SELECT vec_id, c_id, density FROM dr
         WHERE drk > ceil(csz * 0.25) ORDER BY vec_id""",
    // semantic clusters: the knn graph's above-threshold edges (rounded
    // cosine, exactly the graph's output filter) closed under reach —
    // the same recursion as dedup_clusters on a different edge set
    "semantic_clusters" ->
      s"""WITH RECURSIVE ${dIvfProbeCtes(iters = 2, nprobe = 4,
            queryPred = "TRUE")},
         knn AS (SELECT q_id, vec_id FROM ranked
                 WHERE rk <= 3 AND round(cos, 6) >= 0.4),
         edges AS (SELECT q_id AS s, vec_id AS d FROM knn
                   UNION SELECT vec_id, q_id FROM knn),
         reach AS (SELECT s, d FROM edges
                   UNION SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s)
         SELECT s AS vec_id, least(s, min(d)) AS cluster_id,
                s = least(s, min(d)) AS is_keeper
         FROM reach GROUP BY s ORDER BY cluster_id, vec_id""",
    // cluster quota: per-k-means-cluster deterministic cap over the
    // shared IVF assignment (af), hash60 pick key as in source_quota
    "cluster_quota" ->
      s"""WITH ${dIvfAssignCtes(iters = 2)},
         keyed AS (
           SELECT vec_id, c_id, ${dH60("'cq:'||vec_id")} AS pick_key
           FROM af),
         rankedq AS (
           SELECT vec_id, c_id, pick_key,
                  CAST(row_number() OVER (PARTITION BY c_id
                    ORDER BY pick_key, vec_id) AS BIGINT) AS rn
           FROM keyed)
         SELECT vec_id, c_id, pick_key, rn <= 12 AS kept
         FROM rankedq ORDER BY c_id, pick_key, vec_id""",
    // churned: the full assignment minus the tombstoned % 10 == 0 batch
    // serves the standard queries — deleted vectors must never surface
    // in a top-k, so the oracle's scan simply excludes them
    "sim_topk_churn" -> dIvfSql(iters = 2,
      corpusPred = "a.vec_id % 10 <> 0"),
    // the PQ encoding: per-subspace Lloyd + nearest-entry codes must be
    // engine-identical before any ranking sits on top
    "pq_codes" ->
      s"""WITH $dPqCtes
         SELECT vec_id, sub, code FROM pqcodes ORDER BY vec_id, sub""",
    // ADC: per-query lookup tables (rounded), M-addend sums through
    // DECIMAL(38,18) so the fold is exact and order-independent on both
    // engines, divided by the true norms
    "sim_topk_pq" ->
      s"""WITH $dPqAdcCtes
       SELECT q_id, rk, vec_id, round(cos, 6) AS cos
       FROM pqranked WHERE rk <= 10 ORDER BY q_id, rk""",
    // packed layout: the ordered decimal fold over per-row code lookups
    // equals the long format's unordered decimal sum (decimal addition
    // is exact), so the SAME oracle gates it — hash-equality proves the
    // production scan layout serves identically
    "sim_topk_pq_packed" ->
      s"""WITH $dPqAdcCtes
       SELECT q_id, rk, vec_id, round(cos, 6) AS cos
       FROM pqranked WHERE rk <= 10 ORDER BY q_id, rk""",
    // churned: the full encode minus the tombstoned % 10 == 0 batch —
    // deleted vectors' codes must never reach the fold, so the oracle
    // scan simply excludes them
    "sim_topk_pq_churn" ->
      s"""WITH ${dPqAdcCtesFor("cd.vec_id % 10 <> 0")}
       SELECT q_id, rk, vec_id, round(cos, 6) AS cos
       FROM pqranked WHERE rk <= 10 ORDER BY q_id, rk""",
    // maintained: corpus-slice encode + frozen-codebook batch append
    // must reproduce the full encode — same oracle as sim_topk_pq, the
    // hash-equality IS the append-correctness proof
    "sim_topk_pq_maintained" ->
      s"""WITH $dPqAdcCtes
       SELECT q_id, rk, vec_id, round(cos, 6) AS cos
       FROM pqranked WHERE rk <= 10 ORDER BY q_id, rk""",
    // the production recipe: the ADC shortlist (rk <= 50) re-ranked by
    // EXACT cosine over the fetched true vectors
    "sim_topk_pq_rerank" ->
      s"""WITH $dPqAdcCtes,
         pqrr AS (
           SELECT p.q_id, p.vec_id,
                  list_dot_product(qe.v, e.v) / (qe.nrm * e.nrm) AS cos
           FROM pqranked p
           JOIN pqemb e ON p.vec_id = e.vec_id
           JOIN pqemb qe ON p.q_id = qe.vec_id
           WHERE p.rk <= 50),
         pqrr2 AS (
           SELECT q_id, vec_id, cos,
                  CAST(row_number() OVER (PARTITION BY q_id
                    ORDER BY cos DESC, vec_id) AS BIGINT) AS rk
           FROM pqrr)
       SELECT q_id, rk, vec_id, round(cos, 6) AS cos
       FROM pqrr2 WHERE rk <= 10 ORDER BY q_id, rk""",
    // OPQ: the Hadamard-rotated PQ serve — rotation replayed from
    // bit_count signs (bit-identical rotated vectors on both engines),
    // then the standard train/encode/ADC chain in the rotated space
    "sim_topk_opq" ->
      s"""WITH $dOpqAdcCtes
       SELECT q_id, rk, vec_id, round(cos, 6) AS cos
       FROM opqranked WHERE rk <= 10 ORDER BY q_id, rk""",
    // the OPQ production recipe: rotated-ADC shortlist (rk <= 50),
    // exact-cosine re-rank over the ORIGINAL vectors — cosine is
    // rotation-invariant, so the re-rank reads the unrotated frame
    "sim_topk_opq_rerank" ->
      s"""WITH $dOpqAdcCtes,
         opqrr AS (
           SELECT p.q_id, p.vec_id,
                  list_dot_product(qe.v, e.v) / (qe.nrm * e.nrm) AS cos
           FROM opqranked p
           JOIN opqsrc e ON p.vec_id = e.vec_id
           JOIN opqsrc qe ON p.q_id = qe.vec_id
           WHERE p.rk <= 50),
         opqrr2 AS (
           SELECT q_id, vec_id, cos,
                  CAST(row_number() OVER (PARTITION BY q_id
                    ORDER BY cos DESC, vec_id) AS BIGINT) AS rk
           FROM opqrr)
       SELECT q_id, rk, vec_id, round(cos, 6) AS cos
       FROM opqrr2 WHERE rk <= 10 ORDER BY q_id, rk""",
    // IVF+PQ (IVFADC): coarse-quantizer probe prunes the scan to nprobe
    // inverted lists, ADC sums run over only those lists' codes
    "sim_topk_ivfpq" ->
      s"""WITH $dIvfPqCtes
       SELECT q_id, rk, vec_id, round(cos, 6) AS cos
       FROM ivfranked WHERE rk <= 10 ORDER BY q_id, rk""",
    // the full production recipe: IVF probe -> ADC shortlist (rk <= 50)
    // -> exact-cosine re-rank of the fetched true vectors
    "sim_topk_ivfpq_rerank" ->
      s"""WITH $dIvfPqCtes,
         ivfrr AS (
           SELECT p.q_id, p.vec_id,
                  list_dot_product(qe.v, e.v) / (qe.nrm * e.nrm) AS cos
           FROM ivfranked p
           JOIN pqemb e ON p.vec_id = e.vec_id
           JOIN pqemb qe ON p.q_id = qe.vec_id
           WHERE p.rk <= 50),
         ivfrr2 AS (
           SELECT q_id, vec_id, cos,
                  CAST(row_number() OVER (PARTITION BY q_id
                    ORDER BY cos DESC, vec_id) AS BIGINT) AS rk
           FROM ivfrr)
       SELECT q_id, rk, vec_id, round(cos, 6) AS cos
       FROM ivfrr2 WHERE rk <= 10 ORDER BY q_id, rk""",
    // residual IVFADC: codes quantize v - centroid(v); the serve adds
    // the per-(query, list) q·c scalar to the residual LUT sum
    "sim_topk_ivfpq_res" ->
      s"""WITH $dIvfPqResCtes
       SELECT q_id, rk, vec_id, round(cos, 6) AS cos
       FROM pqrranked WHERE rk <= 10 ORDER BY q_id, rk""",
    // SemDeDup over the IVF clustering: same Lloyd chain as the ANN
    // oracles, then per-cluster pairwise cosine above the threshold
    "semantic_neardup" -> dSemanticPairsSql,
    // the maintained bucketed index is hash-equal to the full build
    // (append-correctness proof), so the SAME pairwise oracle gates it
    "semantic_neardup_maintained" -> dSemanticPairsSql,
    "semantic_dedup_keep" ->
      s"""WITH ${dIvfAssignCtes(iters = 2)},
         pairs AS (
           SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                  list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cos
           FROM af a JOIN af b USING (c_id)
           WHERE a.vec_id < b.vec_id),
         dropped AS (SELECT DISTINCT vec_b FROM pairs WHERE cos >= 0.40)
         SELECT e.vec_id, e.label FROM embeddings e
         LEFT JOIN dropped d ON e.vec_id = d.vec_b
         WHERE d.vec_b IS NULL ORDER BY e.vec_id""",
    // at-ingest screening: the % 10 batch probes its nprobe centroid
    // lists in the persisted assignment; rejected iff an EXISTING
    // corpus vector sits above the threshold (intra-batch pairs are
    // out of scope by design — admission is arrival-order-free)
    "semantic_dedup_incremental" ->
      s"""WITH ${dIvfAssignCtes(iters = 2)},
         probes AS (
           SELECT q_id, q_v, q_nrm, c_id FROM (
             SELECT q.vec_id AS q_id, q.v AS q_v, q.nrm AS q_nrm, c.c_id,
                    row_number() OVER (PARTITION BY q.vec_id
                      ORDER BY list_dot_product(q.v, c.c_v) / (q.nrm * c.c_nrm)
                        DESC, c.c_id) AS crk
             FROM emb0 q CROSS JOIN cent2 c WHERE q.vec_id % 10 = 0)
           WHERE crk <= 8),
         rej AS (
           SELECT DISTINCT p.q_id AS vec_id
           FROM af a JOIN probes p USING (c_id)
           WHERE a.vec_id % 10 <> 0
             AND list_dot_product(p.q_v, a.v) / (p.q_nrm * a.nrm) >= 0.40)
         -- batch membership rides emb0, not the raw table: an all-zero
         -- arrival never enters the pipeline (the engine's zero-norm
         -- source exclusion), so it gets no admission verdict at all
         SELECT e.vec_id, e.label, r.vec_id IS NULL AS admitted
         FROM embeddings e JOIN emb0 USING (vec_id)
         LEFT JOIN rej r ON e.vec_id = r.vec_id
         WHERE e.vec_id % 10 = 0 ORDER BY e.vec_id""",
    "embedding_buckets" ->
      s"""WITH $dEmbBucketCtes
         SELECT vec_id, bucket FROM bkt ORDER BY vec_id""",
    "embedding_neardup" ->
      s"""WITH $dEmbBucketCtes,
         nrm AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm
                 FROM emb0),
         ebig AS (SELECT bucket FROM bkt GROUP BY 1 HAVING count(*) > 200),
         ecf AS (SELECT bkt.* FROM bkt ANTI JOIN ebig USING (bucket)),
         nd AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             round(list_dot_product(na.v, nb.v) / (na.nrm * nb.nrm), 6) AS cos
           FROM ecf a JOIN ecf b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
           JOIN nrm na ON na.vec_id = a.vec_id
           JOIN nrm nb ON nb.vec_id = b.vec_id)
         SELECT vec_a, vec_b, cos FROM nd
         WHERE cos >= 0.95 ORDER BY vec_a, vec_b""",
  )
}
