package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.{Curation, Dedup, Linkage, Multimodal, Payload, Replication, Similarity, Skew, Tables, Temporal, TextAnalysis}
import graft.entries.OracleCtes._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each `queries` entry is one operator from SURVEY.md §2 (or §2b), and
  * each `oracleSql` entry is the ANSI SQL DuckDB runs over the same parquet
  * tables to hash-check it. Column names/aliases match pairwise — the
  * driver sorts columns by name before hashing.
  *
  * Oracle-exactness ground rules used throughout:
  *  - hashes are md5/sha256 hex strings (identical in both engines);
  *  - floating-point results come only from single IEEE divisions or
  *    identically-ordered left folds (never engine-ordered double sums);
  *  - ties are always broken by an explicit deterministic key.
  */
object SparkEntry
    extends graft.entries.ParityOracles
    with graft.entries.DedupOracles
    with graft.entries.SimilarityOracles
    with graft.entries.TextOracles
    with graft.entries.CurationOracles
    with graft.entries.TemporalOracles
    with graft.entries.MiscOracles {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Replication.identity(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- §2.4 parity queries (reference dataflow + control plane) ---
    "d1_regex_subscribe" -> ((s, dir) => Replication.regexSubscribe(s, dir)),
    "d2_envelope_projection" -> ((s, dir) => Replication.envelopeProjection(s, dir)),
    "d3_offset_earliest" -> ((s, dir) => Replication.offsetResetEarliest(s, dir)),
    "d3_offset_latest" -> ((s, dir) => Replication.offsetResetLatest(s, dir)),
    "d4_identity" -> ((s, dir) => Replication.identity(s, dir)),
    "d5_partition_routing" -> ((s, dir) => Replication.partitionRouting(s, dir)),
    "c2_config_diff" -> ((s, _) => {
      val (src, dst) = Replication.configFixtures(s)
      Replication.configDiff(src, dst)
    }),
    // --- §2b extended surface: dedup family ---
    "x1_exact_dedup" -> ((s, dir) => Dedup.exact(s, dir)),
    "x2_minhash_lsh" -> ((s, dir) => Dedup.minhashLsh(s, dir)),
    "x3_ngram_jaccard" -> ((s, dir) => Dedup.ngramJaccard(s, dir)),
    "x4_simhash" -> ((s, dir) => Dedup.simhash(s, dir)),
    "x16_simhash_near_dup" -> ((s, dir) => Dedup.simhashNearDup(s, dir)),
    "x36_incremental_minhash" -> ((s, dir) => Dedup.incrementalMinhash(s, dir)),
    // --- similarity search ---
    "x5_topk_cosine" -> ((s, dir) => Similarity.bruteForceTopK(s, dir)),
    "x6_ann_bucketed" -> ((s, dir) => Similarity.bucketedTopK(s, dir)),
    "x14_cosine_near_dup" -> ((s, dir) => Similarity.cosineNearDup(s, dir)),
    "x15_ann_ivf" -> ((s, dir) => Similarity.ivfTopK(s, dir)),
    "x35_kmeans_centroids" -> ((s, dir) => Similarity.kmeansCentroids(s, dir, exactMeans = true)),
    // hybrid retrieval: lexical-overlap and cosine legs fused by RRF
    "x79_rank_fusion" -> ((s, dir) => Similarity.rankFusion(s, dir)),
    // retriever agreement: lexical∩dense overlap@k — the fusion evidence
    "x103_retriever_agreement" -> ((s, dir) =>
      Similarity.retrieverAgreement(s, dir, k = agreementK, queryMod = agreementQueryMod)),
    // binary-sketch first pass: sign-bit Hamming scan, exact re-rank
    "x80_hamming_ann" -> ((s, dir) => Similarity.hammingTopK(s, dir)),
    // product quantization: 8-byte codes + exact reconstruction error
    "x104_pq_codes" -> ((s, dir) => Similarity.pqCodes(s, dir, m = pqM, ksub = pqKsub, iters = pqIters)),
    // PQ ADC recall vs float truth: the 32×-compression go/no-go
    "x105_pq_recall" -> ((s, dir) =>
      Similarity.pqRecall(s, dir, k = pqK, queryMod = pqQueryMod, m = pqM, ksub = pqKsub,
        iters = pqIters)),
    // MOSS winnowing: window-min fingerprint sample, shared-count pairs
    "x81_winnow_matches" -> ((s, dir) => Dedup.winnowMatches(s, dir)),
    // bigram-LM fluency: exact conditional-probability scoring
    "x82_bigram_lm" -> ((s, dir) => TextAnalysis.bigramLm(s, dir)),
    // collocation mining: log-free PMI over adjacent token pairs
    "x83_collocations" -> ((s, dir) => TextAnalysis.collocations(s, dir)),
    // segment-level dedup repair: RefinedWeb line-dedup, docs rebuilt
    "x84_segment_repair" -> ((s, dir) => Dedup.segmentRepair(s, dir)),
    // CCNet perplexity buckets: per-lang head/middle/tail off sampled cutoffs
    "x85_ppl_buckets" -> ((s, dir) => TextAnalysis.perplexityBuckets(s, dir)),
    // user-journey Markov transitions: first-order event-type matrix
    "x86_event_transitions" -> ((s, dir) => Temporal.transitions(s, dir)),
    // DSIR hashed importance weights: target-vs-raw bucket-mass ratio
    "x87_importance_weights" -> ((s, dir) => Curation.importanceWeights(s, dir)),
    // per-user journey anomaly scores vs the corpus Markov baseline
    "x88_journey_scores" -> ((s, dir) => Temporal.journeyScores(s, dir)),
    // --- text analysis ---
    "x7_text_stats" -> ((s, dir) => TextAnalysis.stats(s, dir)),
    "x8_lang_id" -> ((s, dir) => TextAnalysis.languageId(s, dir)),
    "x17_lang_id_ngram" -> ((s, dir) => TextAnalysis.languageIdNgram(s, dir)),
    "x9_fingerprint" -> ((s, dir) => TextAnalysis.fingerprint(s, dir)),
    "x10_token_topn" -> ((s, dir) => TextAnalysis.topTokens(s, dir)),
    // --- payload decode + event-time windows ---
    "x11_json_decode" -> ((s, dir) => Payload.jsonDecode(s, dir)),
    "x12_event_windows" -> ((s, dir) => Payload.eventWindows(s, dir)),
    // --- multimodal plumbing ---
    "x13_media_features" -> ((s, dir) => Multimodal.mediaFeatures(s, dir)),
    // --- corpus curation ---
    "x18_decontaminate" -> ((s, dir) => Curation.decontaminate(s, dir)),
    "x19_quality_gate" -> ((s, dir) => Curation.qualityGate(s, dir)),
    "x20_repetition" -> ((s, dir) => Curation.repetition(s, dir)),
    // Gopher positional repetition: tokens inside duplicated trigrams
    "x92_dup_gram_coverage" -> ((s, dir) => Curation.dupGramCoverage(s, dir)),
    // corpus snapshot diff: digest-compare under a full-outer doc_id join
    "x93_corpus_diff" -> ((s, dir) => Curation.corpusDiff(s, dir)),
    // embedding dimension-health audit: per-dim counts + exact min/max
    "x94_dim_audit" -> ((s, dir) => Similarity.dimAudit(s, dir)),
    // quality-gate attrition funnel + sole-blocker counts
    "x95_gate_attrition" -> ((s, dir) => Curation.gateAttrition(s, dir)),
    // corpus diversity: distinct-n ratios per source, n in {1,2,3}
    "x96_distinct_ngrams" -> ((s, dir) => TextAnalysis.distinctNgrams(s, dir)),
    // sublinear per-source caps: thresholded sqrt-law domain balancing
    "x97_domain_caps" -> ((s, dir) => Curation.domainCaps(s, dir)),
    // dedup survivor-bias audit: kept-vs-removed quality profile
    "x98_survivor_bias" -> ((s, dir) => Curation.survivorBias(s, dir)),
    // Bloom FPR audit: measured false-positive rate + zero-FN law
    "x99_bloom_fpr_audit" -> ((s, dir) => Curation.bloomFprAudit(s, dir)),
    // semantic packing: per-cell concat-cut bins, topic-pure windows
    "x100_semantic_packing" -> ((s, dir) =>
      graft.operators.Packing.semanticPacking(s, dir, exactMeans = true)),
    // disorder audit: per-type lateness histogram — watermark sizing
    "x101_disorder_audit" -> ((s, dir) => Temporal.disorderAudit(s, dir)),
    // payload schema drift: key census between snapshot halves — driven
    // with deterministically-DRIFTED props (the fixture payload has one
    // uniform key, which would make the audit vacuous; x34/x37 pattern)
    "x102_schema_drift" -> ((s, dir) => Payload.schemaDrift(
      Replication.events(s, dir).selectExpr("event_id",
        """CASE WHEN event_id % 2 = 0 AND event_id % 7 = 0
          |       THEN '{"k": 1, "legacy": true}'
          |     WHEN event_id % 2 = 1 AND event_id % 3 = 0
          |       THEN '{"v": 1}'
          |     ELSE props END AS props""".stripMargin))),
    // two-tier blocklist gate: severe zero-tolerance + rate-thresholded
    // mild category (corpus-vocabulary stand-in lists, x18's pattern)
    "x107_blocklist_filter" -> ((s, dir) => Curation.blocklistFilter(s, dir)),
    // UniMax: epoch-capped equal-share budget waterfilling (BIGINT)
    "x106_unimax_budget" -> ((s, dir) => Curation.unimaxBudget(s, dir)),
    // longest consecutive benchmark-gram run per doc — verbatim quotes
    "x108_contamination_spans" -> ((s, dir) => Curation.contaminationSpans(s, dir)),
    // exact int8 Gram-matrix audit: top correlated dimension pairs
    "x109_dim_correlation" -> ((s, dir) => Similarity.dimCorrelation(s, dir)),
    // inter-arrival burstiness: exact CV² per event type — peak-load
    // sizing next to x101's watermark sizing
    "x110_burstiness" -> ((s, dir) => Temporal.burstiness(s, dir)),
    "x21_hash_split" -> ((s, dir) => Curation.hashSplit(s, dir)),
    "x22_dedup_clusters" -> ((s, dir) => Curation.dedupClusters(s, dir)),
    "x23_corpus_stats" -> ((s, dir) => Curation.corpusStats(s, dir)),
    "x24_incremental_dedup" -> ((s, dir) => Curation.incrementalDedup(s, dir)),
    "x25_stratified_sample" -> ((s, dir) => Curation.stratifiedSample(s, dir)),
    "x29_curated_corpus" -> ((s, dir) => Curation.curatedCorpus(s, dir)),
    "x30_length_histogram" -> ((s, dir) => Curation.lengthHistogram(s, dir)),
    "x32_quantize_embeddings" -> ((s, dir) => Similarity.quantize(s, dir)),
    "x33_median_chars" -> ((s, dir) => Curation.medianChars(s, dir)),
    // driven with a deterministically-MESSIED input (upper-case + doubled
    // spaces + padding): the harness corpus is already normalized, so
    // normalizing it directly would oracle-check an identity transform
    "x34_normalize_text" -> ((s, dir) => TextAnalysis.normalizeProjection(
      graft.operators.Tables.documents(s, dir).selectExpr(
        "doc_id", "concat(' ', upper(replace(text, ' ', '  ')), '  ') AS text"))
      .orderBy("doc_id")),
    "x31_top_docs_per_lang" -> ((s, dir) => Curation.topDocsPerLang(s, dir)),
    // driven with deterministically-INJECTED PII (the harness corpus has
    // none, which would make the redaction check vacuous)
    "x37_redact_pii" -> ((s, dir) => TextAnalysis.redactPii(
      graft.operators.Tables.documents(s, dir).selectExpr(
        "doc_id",
        "concat(text, ' contact user', doc_id, '@example.com or +1-555-', doc_id) AS text"))
      .orderBy("doc_id")),
    "x38_chunk_documents" -> ((s, dir) => graft.operators.Packing.chunkDocuments(s, dir)),
    "x39_pack_sequences" -> ((s, dir) => graft.operators.Packing.packSequences(s, dir)),
    // context-budget sweep: pad/truncate vs concat-cut cost per length
    "x89_budget_sweep" -> ((s, dir) => graft.operators.Packing.budgetSweep(s, dir)),
    // BPE merge-pair stats: vocab-collapsed adjacent char-pair counts
    "x90_bpe_pairs" -> ((s, dir) => graft.operators.TextAnalysis.bpePairStats(s, dir)),
    "x40_boilerplate_ngrams" -> ((s, dir) => Curation.boilerplateNgrams(s, dir)),
    "x41_tfidf_terms" -> ((s, dir) => TextAnalysis.tfidfTerms(s, dir)),
    "x42_bloom_prefilter" -> ((s, dir) => Curation.bloomPrefilter(s, dir)),
    "x43_source_similarity" -> ((s, dir) => Dedup.sourceSimilarity(s, dir)),
    "x44_hard_negatives" -> ((s, dir) => Similarity.hardNegatives(s, dir)),
    "x45_weighted_sample" -> ((s, dir) => Curation.weightedSample(s, dir)),
    "x46_fixed_sample" -> ((s, dir) => Curation.fixedSample(s, dir)),
    "x47_cluster_reps" -> ((s, dir) => Curation.clusterRepresentatives(s, dir)),
    "x48_mixture_plan" -> ((s, dir) => Curation.mixturePlan(s, dir)),
    "x49_contamination_score" -> ((s, dir) => Curation.contaminationScore(s, dir)),
    "x50_dup_degree" -> ((s, dir) => Dedup.dupDegree(s, dir)),
    "x51_ann_recall" -> ((s, dir) => Similarity.annRecall(s, dir)),
    // int8-search recall: exact-integer quantized ranking vs float truth
    "x91_quantized_recall" -> ((s, dir) => Similarity.quantizedRecall(s, dir)),
    "x52_lsh_calibration" -> ((s, dir) => Dedup.lshCalibration(s, dir)),
    "x53_dup_spans" -> ((s, dir) => Dedup.dupSpans(s, dir)),
    // --- semantic (embedding-space) curation ---
    "x54_semantic_dedup" -> ((s, dir) => Similarity.semanticDedup(s, dir, exactMeans = true)),
    "x57_centroid_sim" -> ((s, dir) => Similarity.centroidSim(s, dir, exactMeans = true)),
    "x58_ann_multiprobe" -> ((s, dir) => Similarity.ivfTopK(s, dir, nprobe = 2)),
    // the audit view: the sketch VALUE is implementation-defined (spec-
    // pinned on cardinalitySketch), but the deterministic columns and the
    // 4·rsd error-law verdict are oracle-checked against DuckDB's
    // independently-computed exact distinct
    "x59_cardinality_sketch" -> ((s, dir) => Curation.cardinalityAudit(s, dir)),
    "x60_token_drift" -> ((s, dir) => Curation.tokenDrift(s, dir)),
    "x61_top_movers" -> ((s, dir) => Curation.topMovers(s, dir)),
    // the audit view: exact deflate bytes are not SQL-expressible (spec-
    // pinned against an in-test reference deflate), but raw_bytes and the
    // zlib envelope verdict are oracle-checked
    "x62_compression_ratio" -> ((s, dir) => TextAnalysis.compressionAudit(
      graft.operators.Tables.documents(s, dir)).orderBy("doc_id")),
    // codec round trip over real events rows: decoded columns must equal
    // the source, avro_len must equal the wire-format arithmetic
    "x63_avro_roundtrip" -> ((s, dir) => Payload.avroRoundTrip(s, dir)),
    "x64_embedding_drift" -> ((s, dir) => Similarity.embeddingDrift(s, dir)),
    // the measurement that sizes saltedJoin: top-N hot keys, each with
    // its share of all events and its multiple of the mean per-key load
    "x65_hot_keys" -> ((s, dir) => Skew.hotKeys(s, dir)),
    // near-dup pairs that straddle the train/val/test hash split — the
    // leakage audit a split must pass before it ships
    "x66_split_leakage" -> ((s, dir) => Curation.splitLeakage(s, dir)),
    // the audit view: the sketch VALUE is implementation-defined, but
    // the exact discrete quantiles and the rank-error-law verdicts are
    // oracle-checked (same contract as x59)
    "x67_quantile_audit" -> ((s, dir) => Curation.quantileAudit(s, dir)),
    // executes x48's plan: content-stable per-source downsampling gate
    "x68_mixture_sample" -> ((s, dir) => Curation.mixtureSample(s, dir)),
    // lexical retrieval: top-k docs per probe term under log-free BM25
    "x69_bm25_topk" -> ((s, dir) => TextAnalysis.bm25TopK(s, dir)),
    // integer idf-mass quality gate: Σ tf·(N−df) per document
    "x70_rarity_score" -> ((s, dir) => TextAnalysis.rarityScore(s, dir)),
    // x66's fix-up: drop the lower-priority member of every leaking
    // pair (train > val > test) — the shippable repaired assignment
    "x71_leakage_repair" -> ((s, dir) => Curation.leakageRepair(s, dir)),
    // largest-remainder apportionment: per-source doc quotas, Σ = budget
    "x72_budget_allocation" -> ((s, dir) => Curation.budgetAllocation(s, dir)),
    // the sketch-audit trilogy's frequency leg: CMS laws vs exact counts
    "x73_freq_sketch_audit" -> ((s, dir) => Skew.freqSketchAudit(s, dir)),
    // SpaceSaving heavy hitters audited against the exact hot keys - the
    // top-k-structure sketch completing the audit quartet (x59/x67/x73)
    "x78_heavy_hitter_audit" -> ((s, dir) => Skew.heavyHitterAudit(s, dir)),
    // trainer pack order: content-stable shard, best-first within shard
    "x74_curriculum_shards" -> ((s, dir) => Curation.curriculumShards(s, dir)),
    // set newness per source between snapshots — the dedup-rate forecast
    "x77_gram_novelty" -> ((s, dir) => Curation.gramNovelty(s, dir)),
    // text quality AND embedding prototypicality — the joint keep verdict
    "x75_crossmodal_curation" -> ((s, dir) => Curation.crossmodalCuration(s, dir, exactMeans = true)),
    // --- temporal: sessionization, as-of join, range join, event analytics ---
    "x26_sessionize" -> ((s, dir) => Temporal.sessionize(s, dir)),
    "x27_asof_join" -> ((s, dir) => Temporal.asofJoin(s, dir)),
    "x28_range_join" -> ((s, dir) => Temporal.rangeJoin(s, dir)),
    "x55_event_funnel" -> ((s, dir) => Temporal.funnel(s, dir)),
    "x56_retention_cohorts" -> ((s, dir) => Temporal.retentionCohorts(s, dir)),
    // windowed heavy hitters: x65's hot keys per tumbling window — skew
    // is often a burst the global report averages away
    "x76_trending_keys" -> ((s, dir) => Temporal.trendingKeys(s, dir)),
    // edit-distance near-dup: LSH candidates re-scored by exact Levenshtein
    "x111_edit_dedup" -> ((s, dir) => Dedup.editNearDup(s, dir, minSim = editMinSim)),
    // semantic decontamination: max cosine vs the benchmark slice
    "x112_semantic_contamination" -> ((s, dir) =>
      Similarity.semanticContamination(s, dir, tau = contamTau, benchMod = contamBenchMod)),
    // tokenizer-coverage audit: per-source OOV rate vs the top-N vocab
    "x113_oov_rate" -> ((s, dir) => TextAnalysis.oovRate(s, dir, vocabSize = oovVocabSize)),
    // within-cell prototypicality outliers: exact-integer bottom-5% cut
    "x114_cell_outliers" -> ((s, dir) =>
      Similarity.cellOutliers(s, dir, pctDen = outlierPctDen)),
    // per-source Spearman agreement between two quality signals
    "x115_signal_agreement" -> ((s, dir) => Curation.signalAgreement(s, dir)),
    // asymmetric set-containment join: the truncated-copy detector
    "x116_containment" -> ((s, dir) =>
      Dedup.containmentJoin(s, dir, threshold = containTau)),
    // packing attention-bleed audit swept over candidate windows
    "x117_pack_bleed" -> ((s, dir) => graft.operators.Packing.packBleed(
      s, dir, budgetTokens = bleedBudget, windows = bleedWindows)),
    // blocked best-match record linkage over the part catalog
    "x118_entity_resolution" -> ((s, dir) => Linkage.entityResolution(s, dir)),
    // tokenizer-sizing audit: minimal vocab rank per coverage target
    "x119_vocab_coverage" -> ((s, dir) =>
      TextAnalysis.vocabCoverage(s, dir, pcts = coveragePcts)),
    // per-lang Zipf product profile at doubling probe ranks
    "x120_zipf_profile" -> ((s, dir) =>
      TextAnalysis.zipfProfile(s, dir, maxRankLog2 = zipfMaxRankLog2)),
    // near-dup cluster size histogram, singletons included
    "x121_cluster_sizes" -> ((s, dir) => Curation.clusterSizes(s, dir)),
    // CUSUM change-point detection on per-type hourly event rates
    "x122_cusum_drift" -> ((s, dir) => Temporal.cusumDrift(s, dir)),
    // per-source language-mix purity (majority share + Gini impurity)
    "x123_lang_purity" -> ((s, dir) => Curation.langPurity(s, dir)),
    // k-anonymity-style rare-combination suppression over (lang, source)
    "x124_rare_cell_suppression" -> ((s, dir) =>
      Curation.rareCellSuppression(s, dir, k = kanonK)),
    // minhash-derived containment estimator vs the exact metric
    "x125_containment_estimate" -> ((s, dir) =>
      Dedup.containmentEstimate(s, dir, numHashes = mh125Hashes, bands = mh125Bands)),
    // content-defined chunk dedup census (edit-stable boundaries)
    "x126_cdc_chunk_dedup" -> ((s, dir) =>
      Dedup.cdcChunkDedup(s, dir, k = cdcK, divisor = cdcDivisor)),
    // length-distribution drift between snapshots at exact quantiles
    "x127_quantile_drift" -> ((s, dir) => Curation.quantileDrift(s, dir)),
    // directed source-overlap matrix at chunk granularity
    "x128_source_overlap" -> ((s, dir) =>
      Dedup.sourceOverlap(s, dir, k = cdcK, divisor = cdcDivisor)),
    // near-dup cluster composition: sources/langs per component
    "x129_cluster_purity" -> ((s, dir) => Curation.clusterPurity(s, dir)),
    // per-new-doc chunk novelty vs the corpus side
    "x130_chunk_novelty" -> ((s, dir) =>
      Dedup.chunkNovelty(s, dir, k = cdcK, divisor = cdcDivisor)),
    // dedup threshold sensitivity: one pair pass, |pcts| verdicts
    "x131_threshold_sweep" -> ((s, dir) =>
      Dedup.thresholdSweep(s, dir, pcts = sweepPcts)),
    // span-level decontamination repair: excise quoted runs, keep docs
    "x132_decontamination_repair" -> ((s, dir) =>
      Curation.decontaminationRepair(s, dir,
        k = repairK, benchMod = repairBenchMod, minRun = repairMinRun)),
    // blocked linkage pairs resolved to entity clusters + purity audit
    "x133_entity_clusters" -> ((s, dir) =>
      Linkage.entityClusters(s, dir, minSim4 = entityClusterSim)),
    // exact-integer PageRank over the near-dup graph: template centers
    "x134_dup_pagerank" -> ((s, dir) => Curation.dupPageRank(s, dir, iters = prIters)),
    // lag-autocorrelation of hourly rates: daily/weekly seasonality
    "x135_periodicity" -> ((s, dir) => Temporal.periodicity(s, dir, lags = periodicityLags)),
    // k-occurrence hubness census incl. the anti-hub (0-hit) class
    "x136_hubness" -> ((s, dir) => Similarity.hubness(s, dir)),
    // per-window gap moments + CV²: the oracle face of the 6ae law
    "x137_windowed_burstiness" -> ((s, dir) => Temporal.windowedBurstinessAudit(s, dir)),
    // nearest-positive vs hardest-negative margin: label-noise flags
    "x138_negative_margin" -> ((s, dir) => Similarity.negativeMargin(s, dir)),
    // right-to-be-forgotten blast radius across derived artifacts
    "x139_deletion_blast" -> ((s, dir) =>
      Curation.deletionBlastRadius(s, dir, delMod = blastDelMod, k = cdcK, divisor = cdcDivisor)),
    // top-k label composition: exact Simpson concentration per query
    "x140_topk_diversity" -> ((s, dir) => Similarity.topkDiversity(s, dir)),
    // snapshot clustering stability: exact Rand cells, merge detection
    "x141_cluster_stability" -> ((s, dir) => Curation.clusterStability(s, dir)),
    // dedup-detector agreement: MinHash-LSH vs SimHash pair-set algebra
    "x142_detector_agreement" -> ((s, dir) => Dedup.detectorAgreement(s, dir)),
    // LSH banding sweep: per band count, candidates / verified /
    // precision / true recall vs the exact PPJoin pair set
    "x143_band_sweep" -> ((s, dir) => Dedup.bandSweep(s, dir)),
    // per-cell embedding mixture drift between snapshot halves
    "x144_cell_drift" -> ((s, dir) => Similarity.cellDrift(s, dir, exactMeans = true)),
    // exact triangle census / clustering coefficient on the near-dup graph
    "x145_triangle_census" -> ((s, dir) => Curation.dupTriangles(s, dir)),
    // per-edge triangle support: the k-truss trust audit on near-dup pairs
    "x146_edge_support" -> ((s, dir) => Curation.dupEdgeSupport(s, dir)),
    // dedup economics: exact tokens reclaimed per layer, one denominator
    "x147_dedup_savings" -> ((s, dir) => Curation.dedupSavings(s, dir)),
    // per-day peak session concurrency: exact distributed sweep-line
    "x148_peak_concurrency" -> ((s, dir) => Temporal.peakConcurrency(s, dir)),
    // per-lang Gini of token frequencies: count-of-counts contraction
    "x149_token_gini" -> ((s, dir) => TextAnalysis.tokenGini(s, dir)),
    // exact tie-aware AUC: does the quality score predict the dup label
    "x150_quality_auc" -> ((s, dir) => Curation.qualityAuc(s, dir)),
    // media payload dedup census by MIME type: binary-digest economics
    "x151_media_dedup" -> ((s, dir) => Multimodal.mediaDedupCensus(s, dir)),
    // representative-policy A/B: lowest-id canonical vs quality pick
    "x152_rep_divergence" -> ((s, dir) => Curation.repPolicyDivergence(s, dir)),
    // JSON text envelope roundtrip with the exact wire-length law
    "x153_json_envelope" -> ((s, dir) => Payload.jsonEnvelope(s, dir)),
    // k-truss peel over the near-dup graph: the clique-like trust core
    "x154_k_truss" -> ((s, dir) =>
      Curation.dupTruss(s, dir, k = trussK, maxRounds = trussRounds)),
    // incremental cluster merge: tight labels + delta == one-shot batch
    "x155_incremental_clusters" -> ((s, dir) =>
      Curation.incrementalClusters(s, dir, tightHamming = incTight)),
    // k-core peel: the dense interior of the near-dup graph, per node
    "x156_k_core" -> ((s, dir) =>
      Curation.dupKCore(s, dir, k = coreK, maxRounds = coreRounds)),
    // BFS hops from each near-dup cluster's canonical: chain-stitch depth
    "x157_canonical_distance" -> ((s, dir) =>
      Curation.canonicalDistance(s, dir, maxHops = bfsHops)),
    // MMR diversified re-ranking over the brute top-m candidates
    "x158_mmr_rerank" -> ((s, dir) =>
      Similarity.mmrRerank(s, dir, queryMod = mmrQueryMod, m = mmrM, k = mmrK,
        lambdaPct = mmrLambdaPct)),
    // personalized PageRank seeded at quality keepers: trust propagation
    "x159_trust_rank" -> ((s, dir) => Curation.trustRank(s, dir, iters = prIters)),
    // cluster-keyed split vs per-doc split: leakage prevention audit
    "x160_cluster_split" -> ((s, dir) => Curation.clusterSplit(s, dir)),
    // synchronous label propagation seeded by source: provenance by graph vote
    "x161_source_communities" -> ((s, dir) =>
      Curation.sourceCommunities(s, dir, iters = lpIters)),
    // connected components over the embedding-cosine graph: label census
    "x162_semantic_clusters" -> ((s, dir) => Curation.semanticClusters(s, dir)),
    // doc/token mass surviving each cumulative curation stage
    "x163_curation_funnel" -> ((s, dir) => Curation.curationFunnel(s, dir)),
    // per-source sampling weights under share^alpha temperature flattening
    "x164_mixture_temperature" -> ((s, dir) => Curation.mixtureTemperature(s, dir)),
    // near-dup pair evidence folded to unordered source-pair cells
    "x165_source_pair_matrix" -> ((s, dir) => Curation.sourcePairMatrix(s, dir)),
    // one cosine pairing pass re-thresholded per tau: label coherence curve
    "x166_semantic_threshold_sweep" -> ((s, dir) =>
      Curation.semanticThresholdSweep(s, dir)),
    // repetition epochs under a fixed token budget (data-constrained scaling)
    "x167_epoch_allocation" -> ((s, dir) => Curation.epochAllocation(s, dir)),
    // decontamination gram-length sensitivity: the k tuning table
    "x168_contamination_k_sweep" -> ((s, dir) => Curation.contaminationKSweep(s, dir)),
    // quality-score reliability bins vs the dup label (x150's threshold table)
    "x169_quality_calibration" -> ((s, dir) => Curation.qualityCalibration(s, dir)),
    // IVF recall/cost sweep over the multi-probe knob (the ANN tuning table)
    "x170_ann_nprobe_sweep" -> ((s, dir) => Similarity.annNprobeSweep(s, dir)),
    // paraphrased train/eval leakage: cosine pairs crossing the split boundary
    "x171_semantic_split_leakage" -> ((s, dir) => Curation.semanticSplitLeakage(s, dir)),
    // IVF index health: per-cell population census (dead/hot cells)
    "x172_ivf_cell_balance" -> ((s, dir) => Similarity.ivfCellBalance(s, dir)),
    // mixed-batch detector: squared-norm census over the int8 lattice
    "x173_embedding_norm_audit" -> ((s, dir) => Similarity.embeddingNormAudit(s, dir)),
    // persisted-index probe paths AS oracle keys: build (once per JVM)
    // → stamp-validate → probe, hash-checked against the in-memory
    // twin's oracle — so a regression anywhere in the write→stamp→probe
    // path surfaces in the per-round DuckDB check, not only in a spec
    "x174_cluster_sizes_indexed" -> ((s, dir) =>
      Curation.clusterSizesFromIndex(s, ensureClusterIndex(s, dir), dir)),
    "x175_ivf_topk_indexed" -> ((s, dir) =>
      Similarity.ivfTopKFromIndex(s, ensureIvfIndex(s, dir), Tables.embeddings(s, dir))),
    // IVF-PQ composite serving (FAISS IVFADC): coarse cells bound the
    // rows scanned, PQ codes bound the bytes per row; ADC distances are
    // exact BIGINTs and hash-checked themselves
    "x176_ivfpq_topk" -> ((s, dir) =>
      Similarity.ivfPqTopK(s, dir, k = pqK, nCentroids = ivfPqNCent,
        queryMod = pqQueryMod, nprobe = ivfPqNprobe, m = pqM, ksub = pqKsub,
        iters = pqIters)),
    // multimodal frame-sampling plumbing, frames hash-checked as bytes
    "x177_frame_sample" -> ((s, dir) =>
      Multimodal.frameSample(s, dir, frameSize = frameSize,
        stride = frameStride, maxFrames = frameMax)),
    // stub-downscale byte economics per MIME type (EXT-M2's oracle face)
    "x178_resize_census" -> ((s, dir) =>
      Multimodal.resizeCensus(s, dir, targetW = resizeTargetW, targetH = resizeTargetH)),
    // between-cell separation audit over the trained k-means cells:
    // exact int8 own-vs-best-other margins, per-cell misfit shares —
    // the "are these clusters real" gate before any cell-scoped consumer
    "x180_cluster_separation" -> ((s, dir) =>
      Similarity.clusterSeparation(s, dir, exactMeans = true)),
    // x176 served from the PERSISTED IVF-PQ index (x174/x175's
    // write→stamp→probe discipline for the composite): build once per
    // JVM, probe the sampled query batch, hash-check against x176's oracle
    "x179_ivfpq_topk_indexed" -> ((s, dir) =>
      Similarity.ivfPqTopKFromIndex(s, ensureIvfPqIndex(s, dir),
        Tables.embeddings(s, dir).filter(
          org.apache.spark.sql.functions.pmod(
            org.apache.spark.sql.functions.col("vec_id"),
            org.apache.spark.sql.functions.lit(pqQueryMod)) === 0),
        k = pqK, nprobe = ivfPqNprobe)),
    // composite recall vs float truth: the x105 tail over x176's ranking —
    // the delta vs x105 isolates the coarse-cell loss from the coding loss
    "x181_ivfpq_recall" -> ((s, dir) =>
      Similarity.ivfPqRecall(s, dir, k = pqK, nCentroids = ivfPqNCent,
        queryMod = pqQueryMod, nprobe = ivfPqNprobe, m = pqM, ksub = pqKsub,
        iters = pqIters)),
    // IVF-PQ geometry tuning table: the sweep that CHOOSES the composite's
    // knobs — per ((nCentroids, m, ksub) cell × nprobe) the query census,
    // scanned-candidate cost, exact hit mass, and recall@k vs float truth
    "x182_ivfpq_tuning_sweep" -> ((s, dir) =>
      Similarity.ivfPqTuningSweep(s, dir, geometries = sweepGeoms,
        nprobes = sweepNprobes, k = pqK, queryMod = pqQueryMod, iters = pqIters)),
    // x80 served from the PERSISTED sign index (write→stamp→probe as an
    // oracle key — completes the discipline for the Hamming family)
    "x183_hamming_topk_indexed" -> ((s, dir) =>
      Similarity.hammingTopKFromIndex(s, ensureSignIndex(s, dir), dir,
        Tables.embeddings(s, dir).filter(
          org.apache.spark.sql.functions.pmod(
            org.apache.spark.sql.functions.col("vec_id"),
            org.apache.spark.sql.functions.lit(10)) === 0))),
    // x69 served from the PERSISTED BM25 index, probe terms derived from
    // the index's own lexicon by x69's rule — the last of the 6 indexes
    // to get the oracle-keyed probe
    "x184_bm25_topk_indexed" -> ((s, dir) =>
      graft.operators.TextAnalysis.bm25TopKFromIndexAuto(s, ensureBm25Index(s, dir))),
    // the composite with the exact-refine tail (FAISS IndexRefine): ADC
    // shortlist -> float re-rank over the bounded candidate-id joins —
    // the stage that takes recall past the coding ceiling (see the
    // BASELINE r16 geometry note)
    "x186_ivfpq_refined" -> ((s, dir) =>
      Similarity.ivfPqTopKRefined(s, dir, k = pqK, nCentroids = ivfPqNCent,
        queryMod = pqQueryMod, nprobe = ivfPqNprobe, m = pqM, ksub = pqKsub,
        iters = pqIters, shortlist = refineShortlist)),
    // perceptual (dHash) media near-dup pairs over x16's Hamming banding
    // — the re-encoded-copy class byte-level x151 structurally misses;
    // driven with deterministic re-encode variants (the x34/x37 pattern)
    "x185_phash_near_dup" -> ((s, dir) =>
      Multimodal.phashNearDup(Multimodal.mediaWithReencodedVariants(s, dir))),
    // x186 served from the PERSISTED IVF-PQ index — the FULL production
    // serving recipe (statically-pruned code scan -> bounded float fetch
    // by candidate id) as an oracle key, completing the write→stamp→probe
    // discipline for the refined composite the way x183/x184 completed
    // the other five indexes; spec-pinned bit-equal to x186, so it
    // reuses x186's oracle verbatim
    "x188_ivfpq_refined_indexed" -> ((s, dir) =>
      Similarity.ivfPqTopKRefinedFromIndex(s, ensureIvfPqIndex(s, dir), dir,
        Tables.embeddings(s, dir).filter(
          org.apache.spark.sql.functions.pmod(
            org.apache.spark.sql.functions.col("vec_id"),
            org.apache.spark.sql.functions.lit(pqQueryMod)) === 0),
        k = pqK, nprobe = ivfPqNprobe, shortlist = refineShortlist)),
    // the refined composite's OPERATING-POINT tuning table: per
    // (nprobe × shortlist) the recall@k vs float truth, the scanned
    // ADC-candidate cost, and the float-fetch cost — the table that
    // CHOOSES the serving point x186's BASELINE note hand-picked
    "x187_refined_tuning_sweep" -> ((s, dir) =>
      Similarity.refinedTuningSweep(s, dir, nCentroids = ivfPqNCent,
        m = pqM, ksub = pqKsub, iters = pqIters, nprobes = refinedSweepNprobes,
        shortlists = refinedSweepShortlists, k = pqK, queryMod = pqQueryMod)),
    // the OPQ-lite decorrelating layout: PQ encode over the exact-Gram
    // round-robin permutation — the operator the x105/x181 coding-loss
    // decomposition calls for when x109 flags correlated dimensions
    "x189_pq_codes_opq" -> ((s, dir) =>
      Similarity.pqCodes(s, dir, m = pqM, ksub = pqKsub, iters = pqIters, opq = true)),
    // the CHOSEN refined-composite operating point, read back from the
    // sidecar the tuner STAMPED into the persisted index: the sweep
    // measured (x187's discipline at the wider opp grid), the selection
    // rule chose (cheapest clearing the budget, max-recall fallback),
    // and the hash check here proves the persisted choice equals the
    // oracle's independent sweep+selection
    "x190_operating_point" -> ((s, dir) =>
      Similarity.loadOperatingPoint(s, ensureTunedIvfPqIndex(s, dir))
        .drop("geom_stamp")),
    // the refined composite served AT the stamped point — no
    // hand-carried knobs anywhere in the call chain: x182 picked the
    // geometry, x187/x190 picked the serving point, the index carries
    // both, and this probe consumes them with the stamp-refusal laws
    "x191_ivfpq_refined_auto" -> ((s, dir) =>
      Similarity.ivfPqTopKRefinedFromIndexAuto(s, ensureTunedIvfPqIndex(s, dir),
        dir,
        Tables.embeddings(s, dir).filter(
          org.apache.spark.sql.functions.pmod(
            org.apache.spark.sql.functions.col("vec_id"),
            org.apache.spark.sql.functions.lit(pqQueryMod)) === 0),
        k = pqK)),
  )

  /** Build-once-per-JVM persisted-index roots for the `*_indexed` keys.
    * The FIRST touch in a JVM REBUILDS the index from the corpus into a
    * fresh temp directory — every correctness/bench session therefore
    * exercises the full write→stamp→probe path (and can never read a
    * stale on-disk index from an earlier corpus) — and later touches in
    * the same JVM go straight to the probe: the train-once
    * serve-forever split the index exists for, and what the bench then
    * measures per pass.
    */
  private val builtIndexes =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def ensureIndex(kind: String, dir: String)(build: String => Unit): String =
    builtIndexes.computeIfAbsent(s"$kind|$dir", { _ =>
      val path = java.nio.file.Files.createTempDirectory(s"graft-$kind-idx-").toString
      build(path)
      path
    })

  private def ensureClusterIndex(s: SparkSession, dir: String): String =
    ensureIndex("cluster", dir)(p => Curation.writeClusterIndex(s, dir, p))

  private def ensureIvfIndex(s: SparkSession, dir: String): String =
    ensureIndex("ivf", dir)(p => Similarity.writeIvfIndex(s, dir, p))

  private def ensureIvfPqIndex(s: SparkSession, dir: String): String =
    ensureIndex("ivfpq", dir)(p => Similarity.writeIvfPqIndex(s, dir, p))

  private def ensureSignIndex(s: SparkSession, dir: String): String =
    ensureIndex("sign", dir)(p => Similarity.writeSignIndex(s, dir, p))

  private def ensureBm25Index(s: SparkSession, dir: String): String =
    ensureIndex("bm25", dir)(p => graft.operators.TextAnalysis.writeBm25Index(s, dir, p))

  /** The PRODUCTION-geometry IVF-PQ index (oppM × oppKsub — NOT the
    * x179/x188 gate-geometry index: the 0.9 budget is structurally
    * unattainable there, see [[graft.entries.OracleCtes]]) with the
    * operating point TUNED AND STAMPED once per (JVM, corpus): build,
    * then run the sweep + selection + stamp (`tuneIvfPqIndex`) —
    * x190 reads the stamped row back, x191 serves at it. The tune is
    * the expensive half (one sweep at the opp grid) and happens once:
    * memoizing it here is exactly the train-once economics the index
    * family already applies to builds, and what the bench then
    * measures per pass is the serving path alone.
    */
  private def ensureTunedIvfPqIndex(s: SparkSession, dir: String): String =
    ensureIndex("ivfpqprod", dir) { p =>
      Similarity.writeIvfPqIndex(s, dir, p, nCentroids = ivfPqNCent,
        m = oppM, ksub = oppKsub, iters = pqIters)
      Similarity.tuneIvfPqIndex(s, p, dir, budget = oppBudget,
        iters = pqIters, nprobes = oppNprobes, shortlists = oppShortlists,
        k = pqK, queryMod = pqQueryMod)
    }

  /** The per-family oracle maps live in `graft.entries` (split at r15:
    * 182 bindings + oracles in one file hit the maintainability wall);
    * this aggregation is still ONE map with the same keys as
    * [[queries]] — `VerifySpec`-style key-set equality is unchanged.
    */
  private def oracleBase: Map[String, String] =
    parityOracles ++ dedupOracles ++ similarityOracles ++ textOracles ++
      curationOracles ++ temporalOracles ++ miscOracles

  /** The `*_indexed` keys are spec-pinned bit-equal to their in-memory
    * twins, so each reuses its twin's oracle VERBATIM — one SQL
    * spelling per result shape, and the persisted path is held to the
    * exact same hash.
    */
  def oracleSql: Map[String, String] = oracleBase ++ Map(
    "x174_cluster_sizes_indexed" -> oracleBase("x121_cluster_sizes"),
    "x175_ivf_topk_indexed" -> oracleBase("x15_ann_ivf"),
    "x179_ivfpq_topk_indexed" -> oracleBase("x176_ivfpq_topk"),
    "x183_hamming_topk_indexed" -> oracleBase("x80_hamming_ann"),
    "x184_bm25_topk_indexed" -> oracleBase("x69_bm25_topk"),
    "x188_ivfpq_refined_indexed" -> oracleBase("x186_ivfpq_refined"))
}
