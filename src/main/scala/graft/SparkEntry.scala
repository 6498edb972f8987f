package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{Bpe, Classifier, Curation, Dedup, Graph, Insights, Multimodal, Relational, RelationalExtras, RelationalTpch, Search, Similarity, SkewJoin, Sketches, TextAnalysis, Warehouse}
import graft.streaming.StreamingJobs
import graft.hmm.{HmmQueries, Sequencer}

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory.
  *
  * Every implemented operator is a `queries` entry; SQL-expressible
  * ones also carry a DuckDB oracle in `oracleSql` (column names are
  * aliased identically on both sides — the driver compare hashes
  * values under name-sorted columns).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks
    * rows>0. The flagship is the reference's own capability end to
    * end: events → vocab → per-user sequences → supervised model →
    * Viterbi decode → per-user path summary.
    */
  def entry(spark: SparkSession): DataFrame =
    HmmQueries.decodeEvents(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2.3 relational analytics
    "q1_agg"        -> Relational.q1Agg _,
    "q3_join_agg"   -> Relational.q3JoinAgg _,
    "q5_multi_join" -> Relational.q5MultiJoin _,
    "topn_per_group" -> Relational.topnPerGroup _,
    "sessionize"    -> Relational.sessionize _,
    "window_session_native" -> Relational.sessionWindowNative _,
    "q13_order_dist"  -> RelationalExtras.q13OrderDist _,
    "q15_top_supplier" -> RelationalExtras.q15TopSupplier _,
    "q17_small_qty"   -> RelationalExtras.q17SmallQty _,
    "q2_min_cost"     -> ((s: SparkSession, d: String) => RelationalExtras.q2MinCost(s, d)),
    "q22_lapsed"      -> RelationalExtras.q22Lapsed _,
    // round 13: the remaining TPC-H shapes, schema-adapted (RelationalTpch)
    "q7_volume"       -> RelationalTpch.q7Volume _,
    "q8_market_share" -> RelationalTpch.q8MarketShare _,
    "q9_product_profit" -> RelationalTpch.q9ProductProfit _,
    "q11_important_stock" -> RelationalTpch.q11ImportantStock _,
    "q12_ship_delay"  -> RelationalTpch.q12ShipDelay _,
    "q16_supplier_cnt" -> RelationalTpch.q16SupplierCnt _,
    "q20_part_share"  -> RelationalTpch.q20PartShare _,
    "q21_waiting"     -> RelationalTpch.q21Waiting _,
    "asof_join"     -> Relational.asofJoin _,
    "asof_forward"  -> Relational.asofForward _,
    "event_funnel"  -> Relational.eventFunnel _,
    // §2.2 sequence construction
    "seq_vocab"     -> Sequencer.vocab _,
    "seq_build"     -> Sequencer.build _,
    "seq_stats"     -> Sequencer.stats _,
    // §2.1 HMM core
    "hmm_supervised" -> HmmQueries.supervised _,
    "hmm_model_io"  -> HmmQueries.modelIo _,
    "hmm_random_model" -> HmmQueries.randomModel _,
    "hmm_model_from_distributions" -> HmmQueries.fromDistributions _,
    "hmm_forward"   -> HmmQueries.forward _,
    "hmm_backward"  -> HmmQueries.backward _,
    "hmm_likelihood" -> HmmQueries.likelihood _,
    "hmm_viterbi"   -> HmmQueries.viterbi _,
    "hmm_nbest"     -> ((s: SparkSession, d: String) => HmmQueries.nbest(s, d)),
    "hmm_posterior" -> HmmQueries.posterior _,
    // digest companions: extend the driver's exact-hash signal to the
    // decode outputs whose full row sets are too large to pin (10k-30k
    // rows/tier) — one order-independent content-digest row per tier,
    // pinned via the same PinGen/tsv mechanism as the other literals
    "hmm_viterbi_digest"   -> ((s: SparkSession, d: String) => operators.RelationDigest.digest(HmmQueries.viterbi(s, d))),
    "hmm_posterior_digest" -> ((s: SparkSession, d: String) => operators.RelationDigest.digest(HmmQueries.posterior(s, d))),
    "hmm_nbest_digest"     -> ((s: SparkSession, d: String) => operators.RelationDigest.digest(HmmQueries.nbest(s, d))),
    // round-12 second digest wave: these outputs ARE row-pinned at the
    // driver tiers, but their ×10 (tier-4, ScaleUp sfx1) row sets blow
    // the pin size guard — the 1-row digests carry the exact-content
    // signal to the scaled tier at O(1) artifact cost
    "hmm_forward_digest"    -> ((s: SparkSession, d: String) => operators.RelationDigest.digest(HmmQueries.forward(s, d))),
    "hmm_backward_digest"   -> ((s: SparkSession, d: String) => operators.RelationDigest.digest(HmmQueries.backward(s, d))),
    "hmm_likelihood_digest" -> ((s: SparkSession, d: String) => operators.RelationDigest.digest(HmmQueries.likelihood(s, d))),
    "hmm_predict_digest"    -> ((s: SparkSession, d: String) => operators.RelationDigest.digest(HmmQueries.predict(s, d))),
    "hmm_decode_events_digest" -> ((s: SparkSession, d: String) => operators.RelationDigest.digest(HmmQueries.decodeEvents(s, d))),
    "hmm_baumwelch" -> HmmQueries.baumWelch _,
    "hmm_viterbi_train" -> HmmQueries.viterbiTrain _,
    "hmm_predict"   -> HmmQueries.predict _,
    "hmm_decode_events" -> HmmQueries.decodeEvents _,
    "hmm_train_cli" -> HmmQueries.trainCli _,
    "hmm_stationary" -> HmmQueries.stationary _,
    "hmm_checkpoint_resume" -> HmmQueries.checkpointResume _,
    // §2.6 text analysis
    "text_tokens"      -> TextAnalysis.tokens _,
    "text_quality"     -> TextAnalysis.quality _,
    "text_langid"      -> TextAnalysis.langid _,
    "text_fingerprint" -> TextAnalysis.fingerprint _,
    "lm_perplexity"    -> TextAnalysis.lmPerplexity _,
    "token_len_hist"   -> TextAnalysis.tokenLenHist _,
    "text_zipf"        -> ((s: SparkSession, d: String) => TextAnalysis.textZipf(s, d)),
    "events_retention" -> RelationalExtras.eventsRetention _,
    "rfm_segment"      -> RelationalExtras.rfmSegment _,
    // §2.4+ curation: reproducible sampling + corpus n-gram stats
    "sample_hash" -> ((s: SparkSession, d: String) => Curation.sampleHash(s, d)),
    "ngram_top"   -> ((s: SparkSession, d: String) => Curation.ngramTop(s, d)),
    "stratified_sample" -> Curation.stratifiedSample _,
    "text_repetition"   -> Curation.textRepetition _,
    "pack_chunks"  -> ((s: SparkSession, d: String) => Curation.packChunks(s, d)),
    "contam_ngram" -> ((s: SparkSession, d: String) => Curation.contamNgram(s, d)),
    "contam_bloom" -> ((s: SparkSession, d: String) => Curation.contamBloom(s, d)),
    "dedup_span"   -> ((s: SparkSession, d: String) => Curation.dedupSpan(s, d)),
    "domain_mix"   -> Curation.domainMix _,
    "corpus_filter" -> Curation.corpusFilter _,
    "curate_corpus" -> Curation.curateCorpus _,
    "corpus_emit"   -> ((s: SparkSession, d: String) => Curation.corpusEmit(s, d)),
    "bpe_train"     -> ((s: SparkSession, d: String) => Bpe.bpeTrain(s, d)),
    "bpe_apply"     -> ((s: SparkSession, d: String) => Bpe.bpeApply(s, d)),
    // tier-4 digest companions (see the hmm_*_digest block above)
    "bpe_apply_digest" -> ((s: SparkSession, d: String) => operators.RelationDigest.digest(Bpe.bpeApply(s, d))),
    "pii_scrub"    -> TextAnalysis.piiScrub _,
    "quality_lr"   -> Classifier.qualityLr _,
    "quality_lr_digest" -> ((s: SparkSession, d: String) => operators.RelationDigest.digest(Classifier.qualityLr(s, d))),
    "bm25_topk"    -> ((s: SparkSession, d: String) => Search.bm25TopK(s, d)),
    // §2.4 deduplication
    "dedup_exact"         -> Dedup.exact _,
    "dedup_ngram_jaccard" -> ((s: SparkSession, d: String) => Dedup.ngramJaccard(s, d)),
    "dedup_groups"        -> ((s: SparkSession, d: String) => Dedup.dedupGroups(s, d)),
    "dedup_minhash_lsh"   -> ((s: SparkSession, d: String) => Dedup.minhashLsh(s, d)),
    "dedup_simhash"       -> ((s: SparkSession, d: String) => Dedup.simhash(s, d, oracleHash = true)),
    "dedup_embedding"     -> ((s: SparkSession, d: String) => Dedup.embeddingDedup(s, d)),
    "semantic_dedup"      -> ((s: SparkSession, d: String) => Dedup.semanticDedup(s, d)),
    "semantic_dedup_digest" -> ((s: SparkSession, d: String) => operators.RelationDigest.digest(Dedup.semanticDedup(s, d))),
    "contam_minhash"      -> ((s: SparkSession, d: String) => Dedup.contamMinhash(s, d)),
    // round 15: exact variable-length substring dedup (Lee et al.) —
    // the character-granular span finder dedup_span's fixed token
    // 10-grams approximate
    "dedup_substring"     -> ((s: SparkSession, d: String) => Dedup.dedupSubstring(s, d)),
    // round 16: the span relation's CONSUMER — re-emit the corpus with
    // duplicated spans cut, one canonical occurrence kept per window
    "dedup_substring_apply" -> ((s: SparkSession, d: String) => Dedup.dedupSubstringApply(s, d)),
    // r17: digest companion so the span-cut corpus re-emission can pin
    // at the scaled tiers where its row set blows the size guard
    "dedup_substring_apply_digest" -> ((s: SparkSession, d: String) =>
      operators.RelationDigest.digest(Dedup.dedupSubstringApply(s, d))),
    // §2.5 similarity search
    "knn_brute" -> ((s: SparkSession, d: String) => Similarity.knnBrute(s, d)),
    "knn_ivf"   -> ((s: SparkSession, d: String) => Similarity.knnIvf(s, d)),
    "knn_pq"    -> ((s: SparkSession, d: String) => Similarity.knnPq(s, d)),
    "knn_ivf_pq" -> ((s: SparkSession, d: String) => Similarity.knnIvfPq(s, d)),
    // round 14: the index as a persisted artifact — build, write the
    // coarse/codebook/codes relations to parquet, read BACK, probe
    "ann_index_persist" -> ((s: SparkSession, d: String) => Similarity.annIndexPersist(s, d)),
    "vec_norms" -> Similarity.vecNorms _,
    "vec_quantize" -> Similarity.vecQuantize _,
    "pq_quantize"  -> ((s: SparkSession, d: String) => Similarity.pqQuantize(s, d)),
    "pq_quantize_digest" -> ((s: SparkSession, d: String) => operators.RelationDigest.digest(Similarity.pqQuantize(s, d))),
    "label_centroids" -> Similarity.labelCentroids _,
    // §2.7 multimodal plumbing (decode layer is a documented stub)
    "media_meta"        -> Multimodal.mediaMeta _,
    "media_framesample" -> ((s: SparkSession, d: String) => Multimodal.frameSample(s, d)),
    "media_parse"       -> Multimodal.mediaParse _,
    "media_audio_stats" -> Multimodal.mediaAudioStats _,
    // round 15: perceptual-hash (block-mean) image near-dup over the
    // decoded BMP payloads, contracted to distinct hashes
    "media_dedup"       -> ((s: SparkSession, d: String) => Multimodal.mediaDedup(s, d)),
    // round 16: banded-energy fingerprint near-dup over the decoded
    // PCM payloads — the audio sibling of media_dedup, emitted as the
    // canonical-assignment (keep/drop) relation over distinct prints
    "media_audio_dedup" -> ((s: SparkSession, d: String) => Multimodal.mediaAudioDedup(s, d)),
    // §2.8 streaming
    "stream_session_agg" -> StreamingJobs.sessionAggStream _,
    "stream_dedup"       -> StreamingJobs.streamDedup _,
    "stream_doc_dedup"   -> ((s: SparkSession, d: String) => StreamingJobs.streamDocDedup(s, d)),
    "stream_enrich"      -> StreamingJobs.enrichStream _,
    // engine breadth beyond §2 (grouping sets, windows, pivot,
    // sketches, skew handling)
    "agg_rollup"     -> RelationalExtras.aggRollup _,
    "agg_cube"       -> RelationalExtras.aggCube _,
    "q4_priority"    -> RelationalExtras.q4Priority _,
    "window_range_frame" -> RelationalExtras.windowRangeFrame _,
    "window_running" -> RelationalExtras.windowRunning _,
    "pivot_events"   -> RelationalExtras.pivotEvents _,
    "approx_stats"   -> RelationalExtras.approxStats _,
    // round 13: mergeable-sketch artifacts (persisted HLL cube rollup,
    // count-min frequency probe) — pinned-literal oracles; accuracy and
    // merge/layout contracts in SketchesSpec
    "sketch_hll_cube"  -> Sketches.hllCube _,
    "sketch_cms_words" -> ((s: SparkSession, d: String) => Sketches.cmsWords(s, d)),
    "sketch_kmv_overlap" -> Sketches.kmvOverlap _,
    "skew_join_salted" -> SkewJoin.skewJoinDemo _,
    "q18_large_orders" -> RelationalExtras.q18LargeOrders _,
    "cust_no_orders"   -> RelationalExtras.custNoOrders _,
    "q6_forecast"    -> RelationalExtras.q6Forecast _,
    "q14_promo"      -> RelationalExtras.q14Promo _,
    "q19_disjunct"   -> RelationalExtras.q19Disjunct _,
    "merge_upsert"   -> RelationalExtras.mergeUpsert _,
    "events_json"       -> RelationalExtras.eventsJson _,
    "range_join"        -> RelationalExtras.rangeJoin _,
    "group_percentiles" -> RelationalExtras.groupPercentiles _,
    "scd2_dim"          -> RelationalExtras.scd2Dim _,
    "q10_returned"      -> RelationalExtras.q10ReturnedItems _,
    "attribution"       -> RelationalExtras.attribution _,
    "key_skew_audit"    -> RelationalExtras.keySkewAudit _,
    "dq_profile"        -> RelationalExtras.dqProfile _,
    "stream_join"       -> StreamingJobs.streamJoin _,
    // sources/sinks + stateful streaming
    "format_roundtrip"  -> graft.sources.Formats.formatRoundtrip _,
    "sink_partitioned"  -> graft.sources.Formats.sinkPartitioned _,
    "bucketed_join"     -> graft.sources.Formats.bucketedJoin _,
    "compact_files"     -> graft.sources.Formats.compactFiles _,
    "stream_sessionize" -> StreamingJobs.sessionizeStream _,
    "stream_upsert"     -> StreamingJobs.streamUpsert _,
    "stream_topk"       -> ((s: SparkSession, d: String) => StreamingJobs.streamTopk(s, d)),
    // round 13: incremental distinct counting — streaming HLL aggregate,
    // state O(event types), estimate ≡ the batch sketch (StreamingSpec)
    "stream_hll_distinct" -> ((s: SparkSession, d: String) => StreamingJobs.streamHllDistinct(s, d)),
    "orc_roundtrip"     -> graft.sources.Formats.orcRoundtrip _,
    // insight/graph/fuzzy breadth (round 6)
    "cooccur_lift"    -> Insights.cooccurLift _,
    "tfidf_keywords"  -> ((s: SparkSession, d: String) => Insights.tfidfKeywords(s, d)),
    "equi_depth_hist" -> Insights.equiDepthHist _,
    "ewma_user"       -> Insights.ewmaUser _,
    "pagerank"        -> ((s: SparkSession, d: String) => Graph.pagerank(s, d)),
    "triangle_count"  -> ((s: SparkSession, d: String) => Graph.triangleCount(s, d)),
    "fuzzy_join"      -> ((s: SparkSession, d: String) => Dedup.editDistanceJoin(s, d)),
    "incr_agg_merge"  -> Warehouse.incrAggMerge _,
    "ts_gapfill"      -> Warehouse.timeseriesGapfill _,
    "mad_outliers"    -> Warehouse.madOutliers _,
    "zorder_layout"   -> Warehouse.zorderLayout _,
    "csv_badrecords"  -> graft.sources.Formats.csvBadRecords _,
    "schema_evolution" -> graft.sources.Formats.schemaEvolution _,
    // the reference's own on-disk input format (SequenceFiles of
    // <LongWritable, Mahout IntArrayWritable>), write + read back
    "seqfile_roundtrip" -> graft.sources.SequenceFiles.roundtrip _,
    "dedup_incremental" -> ((s: SparkSession, d: String) => Dedup.dedupIncremental(s, d)),
    "holdout_splits"  -> Curation.holdoutSplits _,
    "kmeans_clusters" -> ((s: SparkSession, d: String) => Similarity.kmeansClusters(s, d)),
    // rows-only: append mode withholds the watermark-open tail by
    // design; StreamingSpec proves emitted == batch ∩ closed exactly
    "stream_session_window" -> ((s: SparkSession, d: String) => StreamingJobs.sessionWindowStream(s, d)),
    // digest companion (see the hmm_*_digest entries above): the
    // watermark-closed session set is deterministic for a finite
    // corpus, so its content digest pins exactly
    "stream_session_window_digest" -> ((s: SparkSession, d: String) =>
      operators.RelationDigest.digest(StreamingJobs.sessionWindowStream(s, d))),
  )

  /** Pre-cut BUILD plans of the work a query's plan shows only as a
    * LogicalRDD — a Lineage.cut, or a graft.Memo entry (which keeps
    * rows, not plans): without these, PlanAuditSpec and its sfx1/sfx10
    * tiers, which catch size-dependent strategy regressions
    * (broadcast→cartesian, r13), would be blind to the build shape.
    * Names carry a `#part` suffix, so they never collide with a
    * declared query. Construction may replay bounded eager prep (loop
    * cuts, centroid seeds, sub-relation memos) but the returned plan
    * is the scale-relevant body; memo builds that hold no join or
    * shuffle (shingles, rep shingles, CC labels: a loop cut) and the
    * session-window stream (runs a stream) are not listed.
    */
  def auditPlans: Map[String, (SparkSession, String) => DataFrame] = Map(
    "lm_perplexity#cab"  -> TextAnalysis.lmPerplexityCabBuild _,
    "dedup_simhash#docs" -> ((s: SparkSession, d: String) => Dedup.simhashDocs(s, d, oracleHash = true)),
    "bpe_apply#build"    -> ((s: SparkSession, d: String) => Bpe.bpeApplyBuild(s, d)),
    "pq_quantize#build"  -> ((s: SparkSession, d: String) => Similarity.pqQuantizeBuild(s, d, 4, 16, 3)),
    "pagerank#step"      -> ((s: SparkSession, d: String) => Graph.pagerankIterationBuild(s, d)),
    "dedup_ngram_jaccard#groups" -> Dedup.textGroupsBuild _,
    "dedup_ngram_jaccard#pairs"  -> ((s: SparkSession, d: String) => Dedup.repPairsBuild(s, d, Dedup.NearDupThreshold)),
    "dedup_ngram_jaccard#build"  -> ((s: SparkSession, d: String) => Dedup.ngramJaccardCompute(s, d, Dedup.NearDupThreshold)),
    "dedup_minhash_lsh#build"    -> ((s: SparkSession, d: String) => Dedup.minhashLshCompute(s, d, Dedup.NearDupThreshold)),
    "dedup_substring_apply#build" -> ((s: SparkSession, d: String) => Dedup.dedupSubstringApplyBuild(s, d, 40)),
    "dedup_embedding#groups"     -> Dedup.vecGroupsBuild _,
    "dedup_embedding#pairs"      -> ((s: SparkSession, d: String) => Dedup.embeddingRepPairsBuild(s, d, 0.45)),
    "semantic_dedup#build"       -> ((s: SparkSession, d: String) => Dedup.semanticDedupBuild(s, d, 0.45)),
    "curate_corpus#dispositions" -> Curation.dispositionsBuild _,
    "media_dedup#groups"         -> Multimodal.mediaHashGroupsBuild _,
    "media_audio_dedup#groups"   -> Multimodal.audioHashGroupsBuild _,
  )

  /** DuckDB oracle SQL per query (same parquet tables, same aliases). */
  /** Handwritten (corpus-generic) DuckDB oracles. A query may ALSO
    * carry a pinned capture (media_audio_dedup: the pin adds the
    * two-parallelism capture diff + the PinnedOraclesSpec drift
    * tripwire) — the handwritten SQL wins in [[oracleSql]] because it
    * verifies on ANY corpus (fuzz, skew, future tiers), while pin
    * VALUES only exist for the captured driver tiers.
    */
  private def handwrittenSql: Map[String, String] = Map(
    "q1_agg"        -> Relational.q1AggSql,
    "q3_join_agg"   -> Relational.q3JoinAggSql,
    "q5_multi_join" -> Relational.q5MultiJoinSql,
    "topn_per_group" -> Relational.topnPerGroupSql,
    "sessionize"    -> Relational.sessionizeSql,
    "asof_join"     -> Relational.asofJoinSql,
    "asof_forward"  -> Relational.asofForwardSql,
    "event_funnel"  -> Relational.eventFunnelSql,
    "seq_vocab"     -> Sequencer.vocabSql,
    "seq_build"     -> Sequencer.buildSql,
    "seq_stats"     -> Sequencer.statsSql,
    "hmm_supervised" -> HmmQueries.supervisedSql,
    "hmm_model_io"  -> HmmQueries.modelIoSql, // round trip (with names) = identity
    "text_tokens"      -> TextAnalysis.tokensSql,
    "text_quality"     -> TextAnalysis.qualitySql,
    "text_langid"      -> TextAnalysis.langidSql,
    "text_fingerprint" -> TextAnalysis.fingerprintSql,
    "lm_perplexity"    -> TextAnalysis.lmPerplexitySql,
    "token_len_hist"   -> TextAnalysis.tokenLenHistSql,
    "text_zipf"        -> TextAnalysis.textZipfSql,
    "events_retention" -> RelationalExtras.eventsRetentionSql,
    "rfm_segment"      -> RelationalExtras.rfmSegmentSql,
    "media_parse" -> Multimodal.mediaParseSql,
    "media_audio_stats" -> Multimodal.mediaAudioStatsSql,
    "media_meta"  -> Multimodal.mediaMetaSql, // real BMP/WAV header decode + corrupt-payload branch, closed-form
    "media_framesample" -> Multimodal.frameSampleSql, // real BMP row sampling, closed-form pixel sums
    "sample_hash" -> Curation.sampleHashSql,
    "ngram_top"   -> Curation.ngramTopSql,
    "stratified_sample" -> Curation.stratifiedSampleSql,
    "text_repetition"   -> Curation.textRepetitionSql,
    "pack_chunks"  -> Curation.packChunksSql,
    "contam_ngram" -> Curation.contamNgramSql,
    "contam_bloom" -> Curation.contamNgramSql, // bloom FPs die in the exact join → identical audit
    "dedup_span"   -> Curation.dedupSpanSql,
    "domain_mix"   -> Curation.domainMixSql,
    "corpus_filter" -> Curation.corpusFilterSql,
    "curate_corpus" -> Curation.curateCorpusSql,
    "corpus_emit"   -> Curation.corpusEmitSql, // disposition CTEs reduced to kept + span-cut rebuild + chunk layout

    "pii_scrub"    -> TextAnalysis.piiScrubSql, // zero audit on this corpus; planted-PII positive path in CurationSpec
    "bm25_topk"    -> Search.bm25TopKSql,
    "vec_quantize" -> Similarity.vecQuantizeSql,
    "label_centroids" -> Similarity.labelCentroidsSql,
    "dedup_exact"         -> Dedup.exactSql,
    "dedup_ngram_jaccard" -> Dedup.ngramJaccardSql,
    "dedup_groups"        -> Dedup.dedupGroupsSql,
    "dedup_embedding"     -> Dedup.embeddingDedupSql,
    "contam_minhash"      -> Dedup.contamMinhashSql,
    "dedup_minhash_lsh"   -> Dedup.minhashLshSql, // exact all-pairs Jaccard; deterministic LSH family ⇒ FN-free is a fixed corpus property (≤5e-8/pair)
    "dedup_substring"     -> Dedup.dedupSubstringSql, // contracted window-group → islands recompute, code-point exact
    "dedup_substring_apply" -> Dedup.dedupSubstringApplySql, // canonical-kept span cut; cleaned text rebuilt per char row
    "media_dedup"         -> Multimodal.mediaDedupSql, // full block-mean-hash recompute from the closed-form gradient
    "media_audio_dedup"   -> Multimodal.mediaAudioDedupSql, // full banded-energy-fingerprint recompute from the closed-form PCM
    "dedup_simhash"       -> Dedup.simhashSql,    // full bit-for-bit md5-60 recomputation in DuckDB
    "knn_brute" -> Similarity.knnBruteSql,
    "vec_norms" -> Similarity.vecNormsSql,
    // kmeans_clusters: pinned per-SF literals via PinnedOracleData (below)
    "agg_rollup"     -> RelationalExtras.aggRollupSql,
    "agg_cube"       -> RelationalExtras.aggCubeSql,
    "q4_priority"    -> RelationalExtras.q4PrioritySql,
    "window_range_frame" -> RelationalExtras.windowRangeFrameSql,
    "window_running" -> RelationalExtras.windowRunningSql,
    "pivot_events"   -> RelationalExtras.pivotEventsSql,
    "skew_join_salted" -> SkewJoin.skewJoinDemoSql,
    "q18_large_orders" -> RelationalExtras.q18LargeOrdersSql,
    "cust_no_orders"   -> RelationalExtras.custNoOrdersSql,
    "q6_forecast"    -> RelationalExtras.q6ForecastSql,
    "q14_promo"      -> RelationalExtras.q14PromoSql,
    "q19_disjunct"   -> RelationalExtras.q19DisjunctSql,
    "merge_upsert"   -> RelationalExtras.mergeUpsertSql,
    "events_json"       -> RelationalExtras.eventsJsonSql,
    "range_join"        -> RelationalExtras.rangeJoinSql,
    "group_percentiles" -> RelationalExtras.groupPercentilesSql,
    "scd2_dim"          -> RelationalExtras.scd2DimSql,
    "q10_returned"      -> RelationalExtras.q10ReturnedItemsSql,
    "attribution"       -> RelationalExtras.attributionSql,
    "key_skew_audit"    -> RelationalExtras.keySkewAuditSql,
    "dq_profile"        -> RelationalExtras.dqProfileSql,
    "stream_join"       -> StreamingJobs.streamJoinSql,
    "format_roundtrip"  -> graft.sources.Formats.formatRoundtripSql,
    "sink_partitioned"  -> graft.sources.Formats.sinkPartitionedSql,
    "bucketed_join"     -> graft.sources.Formats.bucketedJoinSql,
    "compact_files"     -> graft.sources.Formats.compactFilesSql,
    // the stateful streaming sessionizer must reproduce the batch
    // sessionization exactly
    "stream_sessionize" -> Relational.sessionizeSql,
    "stream_dedup"       -> StreamingJobs.streamDedupSql,
    "stream_doc_dedup"   -> StreamingJobs.streamDocDedupSql, // contracted exact-Jaccard kernel + arrival-order arithmetic; LSH FN-freeness fixed per corpus
    "stream_session_agg" -> StreamingJobs.sessionAggSql,
    "stream_enrich"      -> StreamingJobs.enrichStreamSql,
    "stream_upsert"      -> StreamingJobs.streamUpsertSql,
    "stream_topk"        -> StreamingJobs.streamTopkSql,
    "orc_roundtrip"      -> graft.sources.Formats.orcRoundtripSql,
    // insight/graph/fuzzy breadth (round 6)
    "cooccur_lift"    -> Insights.cooccurLiftSql,
    "tfidf_keywords"  -> Insights.tfidfKeywordsSql, // linear idf: rank stat is a rational of ints (bit-identical cross-engine)
    "equi_depth_hist" -> Insights.equiDepthHistSql,
    "ewma_user"       -> Insights.ewmaUserSql,      // both engines fold left-to-right: identical arithmetic sequence
    "pagerank"        -> Graph.pagerankSql,          // same 10 iterations unrolled as CTEs
    "triangle_count"  -> Graph.triangleCountSql,
    "fuzzy_join"      -> Dedup.editDistanceJoinSql,  // symmetric-delete neighborhood is exact for dist<=1
    "window_session_native" -> Relational.sessionWindowNativeSql, // native session_window vs the lag/sum construction
    "q13_order_dist"   -> RelationalExtras.q13OrderDistSql,
    "q15_top_supplier" -> RelationalExtras.q15TopSupplierSql,
    "q17_small_qty"    -> RelationalExtras.q17SmallQtySql,
    "q2_min_cost"      -> RelationalExtras.q2MinCostSql,  // unit costs rounded 4dp BEFORE the argmin on both engines
    "q22_lapsed"       -> RelationalExtras.q22LapsedSql,
    "q7_volume"        -> RelationalTpch.q7VolumeSql,
    "q8_market_share"  -> RelationalTpch.q8MarketShareSql,  // share = floor6 quotient of exact decimal sums
    "q9_product_profit" -> RelationalTpch.q9ProductProfitSql,
    "q11_important_stock" -> RelationalTpch.q11ImportantStockSql, // value*200 > total: exact decimals on BOTH engines
    "q12_ship_delay"   -> RelationalTpch.q12ShipDelaySql,   // integer DATE-diff days, no FP
    "q16_supplier_cnt" -> RelationalTpch.q16SupplierCntSql,
    "q20_part_share"   -> RelationalTpch.q20PartShareSql,
    "q21_waiting"      -> RelationalTpch.q21WaitingSql,
    "incr_agg_merge"  -> Warehouse.incrAggMergeSql,  // oracle is the FULL recompute the merge must equal
    "ts_gapfill"      -> Warehouse.timeseriesGapfillSql,
    "mad_outliers"    -> Warehouse.madOutliersSql,   // percentile == quantile_cont (group_percentiles precedent)
    "zorder_layout"   -> Warehouse.zorderLayoutSql,
    "csv_badrecords"   -> graft.sources.Formats.csvBadRecordsSql,  // planted type-corruption every 11th row, closed-form
    "schema_evolution" -> graft.sources.Formats.schemaEvolutionSql,
    "dedup_incremental" -> Dedup.dedupIncrementalSql, // delta-vs-history; LSH leg oracle-able per the minhashLsh argument
    "holdout_splits"   -> Curation.holdoutSplitsSql,  // content-hash split: reproducible across runs/engines/layouts
    "seqfile_roundtrip" -> graft.sources.SequenceFiles.roundtripSql, // order-sensitive checksum straight off events
  )

  // Pinned-literal oracles (round 10): deterministic-by-construction
  // outputs (seeded RNG models, hash-seeded Lloyd/PQ, exact integer
  // BPE merge ranks, HLL/GK sketches verified fold-order-stable)
  // captured per SF tier by graft.tools.PinGen. Coupling and the
  // local drift tripwire are documented in PinnedOracles. Handwritten
  // oracles override a pin of the same name (corpus-generic beats
  // tier-captured; the pin still sweeps via PinnedOraclesSpec).
  def oracleSql: Map[String, String] =
    PinnedOracleData.byName.map { case (name, pin) => name -> pin.sql } ++ handwrittenSql

  /** Queries whose ONLY oracle is a pinned literal — the set Verify's
    * pin-exclusion flags drop. A pinned query WITH a handwritten
    * fallback (media_audio_dedup) stays in every gate: on a non-pin
    * corpus the handwritten SQL verifies it.
    */
  def pinnedOnly: Set[String] = PinnedOracleData.byName.keySet -- handwrittenSql.keySet

  /** Pinned-only queries lacking a capture for corpus tier `t`. */
  def pinnedOnlyWithoutTier(t: Int): Set[String] =
    PinnedOracleData.byName.collect {
      case (n, p) if !p.hasTier(t) && !handwrittenSql.contains(n) => n
    }.toSet
}
