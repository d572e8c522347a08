package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 surfaces here as a named
  * query over the TESTDATA.md fixtures, paired (where SQL-expressible) with
  * DuckDB oracle SQL in [[oracleSql]]. Column names are aliased identically
  * on both sides — the driver's compare sorts columns by name before hashing.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.revenueByNation(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_pricing_summary" -> ((s, d) => Relational.pricingSummary(s, d)),
    "q02_select_filter" -> ((s, d) => Relational.selectFilter(s, d)),
    "q03_join_revenue" -> ((s, d) => Relational.revenueByNation(s, d)),
    "q04_topk_customers" -> ((s, d) => Relational.topCustomers(s, d)),
    "q05_global_sort" -> ((s, d) => Relational.globalSort(s, d)),
    "q06_wordcount" -> ((s, d) => Relational.wordCount(s, d)),
    "q07_grep" -> ((s, d) => Relational.grep(s, d)),
    "q08_distinct" -> ((s, d) => Relational.distinctByPriority(s, d)),
    "q09_join_left" -> ((s, d) => Relational.customerOrdersLeft(s, d)),
    "q10_join_override" -> ((s, d) => Relational.overrideJoinNation(s, d)),
    "q11_union" -> ((s, d) => Relational.unionParties(s, d)),
    "q12_histogram" -> ((s, d) => Relational.valueHistogram(s, d)),
    "q13_fieldselect" -> ((s, d) => Relational.fieldSelection(s, d)),
    "q14_json_extract" -> ((s, d) => Relational.jsonExtract(s, d)),
    "q15_bucket_sample" -> ((s, d) => Relational.bucketSample(s, d)),
    "q16_secondary_sort" -> ((s, d) => Relational.secondarySort(s, d)),
    "q17_chain_join" -> ((s, d) => Relational.chainJoin(s, d)),
    "q18_minmax_string" -> ((s, d) => Relational.minMaxByNation(s, d)),
    "q19_events_by_day" -> ((s, d) => Relational.eventsByDay(s, d)),
    "q20_dedup_exact" -> ((s, d) => Dedup.exact(s, d)),
    "q21_dedup_ngram" -> ((s, d) => Dedup.ngramJaccard(s, d)),
    "q22_dedup_minhash" -> ((s, d) => Dedup.minhashLsh(s, d)),
    "q23_simhash" -> ((s, d) => Dedup.simhash(s, d)),
    "q24_simhash_pairs" -> ((s, d) => Dedup.simhashPairs(s, d)),
    "q25_embed_neardup" -> ((s, d) => Similarity.cosineNearDup(s, d)),
    "q26_ann_topk" -> ((s, d) => Similarity.bruteForceTopK(s, d)),
    "q27_ann_lsh" -> ((s, d) => Similarity.lshTopK(s, d)),
    "q28_lang_id" -> ((s, d) => TextAnalysis.langId(s, d)),
    "q29_quality" -> ((s, d) => TextAnalysis.qualityScore(s, d)),
    "q30_token_count" -> ((s, d) => TextAnalysis.tokenCounts(s, d)),
    "q31_fingerprint" -> ((s, d) => TextAnalysis.fingerprints(s, d)),
    "q32_media_stats" -> ((s, d) => Multimodal.mediaStats(s, d)),
    "q33_media_summary" -> ((s, d) => Multimodal.mediaSummary(s, d)),
    // KMV (k-min md5 values) sketch — engine-independent, so unlike HLL it
    // is oracle-exact; the HLL surface (Relational.approxDistinct) keeps its
    // error-bound assertion in RelationalSpec.
    "q34_approx_distinct" -> ((s, d) => Relational.kmvDistinct(s, d)),
    "q35_dedup_decisions" -> ((s, d) => Dedup.deduplicate(s, d)),
    "q36_sessionize" -> ((s, d) => Relational.sessionize(s, d)),
    "q37_sliding_windows" -> ((s, d) => Relational.slidingWindows(s, d)),
    "q38_ann_ivf" -> ((s, d) => Similarity.ivfTopK(s, d)),
    "q39_composite_join" -> ((s, d) => CompositeJoin.ordersComposite(s, d)),
    "q40_md5_sample" -> ((s, d) => Relational.md5Sample(s, d)),
    "q41_asof_join" -> ((s, d) => TemporalJoins.eventsAsofClicks(s, d)),
    "q42_range_join" -> ((s, d) => TemporalJoins.eventsInPurchaseHour(s, d)),
    "q43_chunking" -> ((s, d) => TextAnalysis.chunks(s, d)),
    "q44_stratified_sample" -> ((s, d) => Relational.stratifiedSample(s, d)),
    "q45_frame_sample" -> ((s, d) => Multimodal.frameSamples(s, d)),
    "q46_decontaminate" -> ((s, d) => Curation.decontaminate(s, d)),
    "q47_repetition" -> ((s, d) => Curation.repetitionSignals(s, d)),
    "q48_source_cap" -> ((s, d) => Curation.sourceCap(s, d)),
    "q49_bloom_dedup" -> ((s, d) => Curation.bloomDedup(s, d)),
    "q50_dedup_clusters" -> ((s, d) => Curation.dedupClusters(s, d)),
    // Continuous tier (SURVEY §2.9) surfaced as driver-checked rows: all
    // four run REAL Structured Streaming queries (file source,
    // maxFilesPerTrigger micro-batches, AvailableNow) whose deterministic
    // final frames the batch-SQL oracles below reproduce. q54 streams the
    // per-(window,key) aggregate and applies the cross-key mean+2σ flags to
    // the emitted window frame, where the reference's CQ reducer computes
    // them; Continuous.cqMonitor is the batch twin the spec checks parity
    // against.
    "q51_stream_windows" ->
      ((s, d) => graft.streaming.Continuous.streamedWindowedCounts(s, d)),
    "q52_stream_online" ->
      ((s, d) => graft.streaming.Continuous.streamedOnlineSummary(s, d)),
    "q53_stream_pipeline" ->
      ((s, d) => graft.streaming.Continuous.streamedPipeline(s, d)),
    "q54_cq_monitor" ->
      ((s, d) => graft.streaming.Continuous.streamedCqMonitor(s, d)),
    // Per-source length quantiles — quality-filter threshold setting.
    // Exact sort-based percentiles (≡ DuckDB quantile_cont bit-for-bit on
    // integer inputs); the 100 TB path swaps in approx_percentile.
    "q55_length_quantiles" -> ((s, d) => TextAnalysis.lengthQuantiles(s, d)),
    // LSH-bucketed near-dup pairs — the production-scale path q25's budget
    // gate names. Bucket-collision candidates + exact cosine verify; the
    // oracle rebuilds the full deterministic pipeline (same md5 planes).
    "q56_neardup_lsh" -> ((s, d) => Similarity.cosineNearDupLsh(s, d)),
    // Per-document top TF-IDF terms (keyword extraction / term weighting).
    "q57_tfidf" -> ((s, d) => TextAnalysis.tfidfTopTerms(s, d)),
    // Embedding-quality diagnostics: per-label centroid coordinates
    // (decimal-summed, order-independent) and farthest-from-centroid
    // outliers (native-dot distance identity).
    "q58_centroids" -> ((s, d) => Similarity.labelCentroids(s, d)),
    "q59_outliers" -> ((s, d) => Similarity.centroidOutliers(s, d)),
    // Training-layout + privacy + recipe tier: sequence packing
    // (concat-and-chop into fixed context windows), PII scan/redaction,
    // fractional-epoch source mixing, and passage-level exact dedup.
    "q60_seq_packing" -> ((s, d) => TextAnalysis.packSequences(s, d)),
    "q61_pii_scan" -> ((s, d) => Curation.piiScan(s, d)),
    "q62_epoch_mix" -> ((s, d) => Curation.epochMix(s, d)),
    "q63_passage_dedup" -> ((s, d) => Dedup.passageDedup(s, d)),
    // Corpus-audit tier: deterministic train/val/test split, cross-source
    // duplication matrix, vocabulary growth curve, int8 quantization audit.
    "q64_hash_split" -> ((s, d) => Curation.assignSplits(s, d)),
    "q65_source_overlap" -> ((s, d) => Dedup.sourceOverlap(s, d)),
    "q66_vocab_growth" -> ((s, d) => TextAnalysis.vocabGrowth(s, d)),
    "q67_quantize_int8" -> ((s, d) => Similarity.quantizeInt8(s, d)),
    // Cluster-composition tier: the q56 near-dup graph contracted to
    // components (the embedding twin of q50), and q50's clusters upgraded
    // from keep-smallest-id to keep-best-quality.
    "q68_embed_clusters" -> ((s, d) => Similarity.embeddingDedupClusters(s, d)),
    "q69_canonical_docs" -> ((s, d) => Curation.canonicalDocs(s, d)),
    // Unigram-LM perplexity (the classic LM quality filter), self-trained
    // on the corpus; per-doc log-prob sums run over decimals so shuffle
    // order cannot perturb the accumulation.
    "q70_perplexity" -> ((s, d) => TextAnalysis.perplexity(s, d)),
    // Count-min heavy-hitter audit: bounded d×w sketch state read back at
    // the exact top-k so the one-sided error is visible next to truth.
    "q71_countmin_topk" -> ((s, d) => TextAnalysis.countMinTopTokens(s, d)),
    // Eval-hygiene audit: near-dup pairs straddling train/val/test splits
    // (within-corpus contamination q46's external decontamination misses).
    "q72_split_leakage" -> ((s, d) => Curation.splitLeakage(s, d)),
    // Semantic-curation tier: distributed Lloyd's k-means (broadcast-
    // literal centers, decimal-exact means) and SemDeDup within-cluster
    // cosine pruning over the shared assignment frame.
    "q73_kmeans" -> ((s, d) => Similarity.kmeansAssign(s, d)),
    "q74_semdedup" -> ((s, d) => Similarity.semDedup(s, d)),
    // Okapi BM25 retrieval against the corpus's own highest-df terms —
    // the keyword scorer behind benchmark-adjacency / classifier-seed
    // pulls; ln() follows the q70 decimal-quantize carve-out protocol.
    "q75_bm25" -> ((s, d) => TextAnalysis.bm25TopDocs(s, d)),
    // Temperature-based source resampling at the sqrt-expressible α = 0.5:
    // per-source √token weights, budget-proportional keep-rates, and the
    // deterministic md5-acceptance sample — one audit row per source.
    "q76_temperature_mix" -> ((s, d) => Curation.temperatureMix(s, d)),
    // Sliding-window exact-substring duplication audit (ExactSubstr, Lee
    // et al. 2021): per-doc interval-union coverage by 8-token windows
    // shared across documents — all-integer, catches what q63's fixed
    // chunk grid misses.
    "q77_dup_spans" -> ((s, d) => Dedup.duplicatedSpans(s, d)),
    // Asymmetric shingle containment |A∩B|/|A| — quote-inclusion dups that
    // symmetric Jaccard (q21) structurally dilutes; shares q21's memoized
    // shingle stage and df-gated candidate machinery.
    "q78_containment" -> ((s, d) => Dedup.containment(s, d)),
    // Contrastive hard-negative mining: q26's broadcast ANN with a
    // label-mismatch predicate — top-k most-confusing other-label vectors
    // per query.
    "q79_hard_negatives" -> ((s, d) => Similarity.hardNegatives(s, d)),
    // Reciprocal-rank-fusion hybrid retrieval: BM25 top-20 + cosine top-20
    // fused at c=60 in scaled-integer arithmetic (1e12 div (c+rank)).
    "q80_rrf_fusion" -> ((s, d) => Similarity.rrfFusion(s, d)),
    // Curation funnel: per-source CUMULATIVE survival through exact dedup
    // → near-dup dedup → quality ≥ 0.5 → language — the audit read before
    // shipping a data recipe.
    "q81_curation_funnel" -> ((s, d) => Curation.curationFunnel(s, d)),
    // Cluster labeling: top terms per k-means embedding cluster — what
    // each cluster IS, before up/down-weighting it.
    "q82_cluster_terms" -> ((s, d) => TextAnalysis.clusterTerms(s, d)),
    // Perceptual media fingerprint: blockhash (60 positional block sums
    // vs the integer-scaled record mean) over the decoded payload signal
    // — locality-preserving where a checksum is not.
    "q83_media_phash" -> ((s, d) => Multimodal.blockhash(s, d)),
    // Media near-dup pairs: the simhash pigeonhole machinery (4x15 bands,
    // exact at Hamming <= 3) applied to the perceptual fingerprint.
    "q84_media_neardup" -> ((s, d) => Multimodal.blockhashPairs(s, d)),
    // Media dedup clusters: q84's pair graph contracted to components
    // (q50's star machinery), keep = smallest doc_id per cluster.
    "q85_media_clusters" -> ((s, d) => Multimodal.blockhashClusters(s, d)),
    // Cross-modal dedup decision: q50's text pair graph UNION q85's media
    // pair graph, one star contraction — "duplicate in ANY modality", the
    // doc-level keep/drop a multimodal pipeline actually ships.
    "q86_crossmodal_dedup" -> ((s, d) => Curation.crossModalClusters(s, d)),
    // Incremental dedup: a ~10% increment (doc_id ≡ 0 mod 10) deduped
    // against the shipped 90% + itself — candidate generation touches
    // only increment-vs-index postings, never re-pairing the shipped
    // corpus. The daily-batch pattern a 100 TB corpus actually runs.
    "q87_incremental_dedup" -> ((s, d) => Dedup.incrementalDedup(s, d)),
    // Continuous curation: the q81 funnel as a REAL incremental streaming
    // job — foreachBatch maintains append-only digest/shingle/loser state
    // and re-emits the cumulative funnel per commit; the final frame is
    // gated by the SAME oracle as the batch funnel.
    "q88_stream_funnel" ->
      ((s, d) => streaming.Continuous.streamedCurationFunnel(s, d)),
    // Tokenizer induction: the selection step of one BPE/WordPiece merge
    // iteration at word granularity — top adjacent token pairs with
    // unigram frequencies and conditional collocation probabilities.
    "q89_token_merges" -> ((s, d) => TextAnalysis.tokenPairMerges(s, d)),
    // Scene-cut detection: per-frame perceptual blockhash, consecutive
    // frames compared by Hamming distance — the summary a per-SCENE
    // frame-sampling strategy reads.
    "q90_scene_cuts" -> ((s, d) => Multimodal.sceneCuts(s, d)),
    // Shingle novelty: per doc, the fraction of its 3-shingles first seen
    // IN it (global min-id rule) — the boilerplate/data-valuation signal
    // pair-based dedup structurally misses.
    "q91_shingle_novelty" -> ((s, d) => Dedup.shingleNovelty(s, d)),
    // Token-weighted dedup yield per source: tokens (not docs) surviving
    // the q35 keep/drop decisions — what a training recipe budgets.
    "q92_token_yield" -> ((s, d) => Curation.tokenYield(s, d)),
    // Per-source dataset card: volume, language makeup, decimal-exact
    // mean quality and near-dup rate — the release summary table.
    "q93_dataset_card" -> ((s, d) => Curation.datasetCard(s, d)),
    // q87 via a PERSISTED index: the shipped corpus's shingle postings +
    // digests written once, the increment deduped against the files —
    // the durable-state form of the daily-batch pattern. Identical
    // verdicts to q87, gated by the same oracle.
    "q94_index_dedup" -> ((s, d) => Dedup.indexDedup(s, d)),
    // Quality-ranked token-budget selection: per source, keep the best
    // documents while the running whitespace-token total fits the budget
    // — the step that turns a scored corpus into a fixed-size recipe.
    "q95_token_budget" -> ((s, d) => Curation.tokenBudget(s, d)),
    // Deterministic training order: md5 shard + in-shard position every
    // run recomputes identically — the reproducible "global shuffle".
    "q96_train_order" -> ((s, d) => Curation.trainOrder(s, d)),
    // Per-dimension embedding calibration audit: the per-CHANNEL stats
    // (max_abs/mean/rms) a quantizer or whitener reads, vs q67's
    // per-vector audit.
    "q97_dim_stats" -> ((s, d) => Similarity.dimStats(s, d)),
    // Per-doc boilerplate ratio: fraction of a doc's 3-shingles that are
    // corpus-common (df >= 3) — the CCNet/RefinedWeb line-dedup signal at
    // shingle granularity, riding the memoized shingle stage.
    "q98_boilerplate" -> ((s, d) => Dedup.boilerplate(s, d)),
    // Streaming near-dup ingestion against a durable LSH index: the q87
    // daily batch made continuous — per-doc band/digest state only, so
    // verdicts are batch-boundary-free and one SQL oracle checks the
    // replayed stream's final frame.
    "q99_stream_index_dedup" ->
      ((s, d) => graft.streaming.Continuous.streamedIndexDedup(s, d)),
    // Crawl-to-crawl snapshot diff: added/removed/changed rows by content
    // digest — the delta that drives incremental re-embed/re-index.
    "q100_snapshot_diff" -> ((s, d) => Curation.snapshotDiff(s, d)),
    // Per-source token-distribution drift: KL(source || corpus) with the
    // q70 decimal-quantized ln carve-out — the content-shift monitor a
    // corpus refresh runs before a drifted source trains.
    "q101_term_drift" -> ((s, d) => TextAnalysis.termDrift(s, d)),
    // Per-column expectations audit: nulls/distincts/min/max per column —
    // the schema-level quality gate on every new corpus drop.
    "q102_column_audit" -> ((s, d) => Curation.columnAudit(s, d)),
    // Windowed co-occurrence PMI: the collocation/association statistic
    // behind phrase mining and word2vec-style pre-training, reported for
    // the top-k pairs so output stays recipe-sized at any scale.
    "q103_pmi_cooc" -> ((s, d) => TextAnalysis.pmiCooc(s, d)),
    // Johnson-Lindenstrauss sign projection: deterministic md5-derived
    // +/-1 matrix compresses embeddings 64 -> 16 dims before ANN/cluster
    // stages — no stored model, any executor regenerates any entry.
    "q104_jl_projection" -> ((s, d) => Similarity.jlProjection(s, d)),
    // Dedup threshold calibration: pair/doc/loser counts at a ladder of
    // Jaccard thresholds from ONE pass over the memoized intersection
    // stage — the curve read before committing a dedup policy.
    "q105_threshold_sweep" -> ((s, d) => Dedup.thresholdSweep(s, d)),
    // Near-dup cluster-size histogram, singletons included: the one-line
    // duplication profile of the corpus next to the q105 sweep.
    "q106_cluster_sizes" -> ((s, d) => Curation.clusterSizes(s, d)),
    // Language-ID confusion matrix: (labeled, predicted) cells with
    // row-normalized recall — the accuracy audit over the q28 classifier.
    "q107_lid_confusion" -> ((s, d) => TextAnalysis.langIdConfusion(s, d)),
    // MinHash sketch-accuracy audit: every banded candidate with both the
    // 8-perm estimate and the true shingle Jaccard plus absolute error —
    // the evidence for trusting q22's estimates at the chosen threshold.
    "q108_minhash_accuracy" -> ((s, d) => Dedup.minhashAccuracy(s, d)),
    // ANN recall audit: per-query recall@5 of both scale paths (q27 LSH,
    // q38 IVF) against the q26 exact top-k — the acceptance evidence for
    // replacing the brute-force scan; the embedding twin of q108.
    "q109_ann_recall" -> ((s, d) => Similarity.annRecall(s, d)),
    // fuzzy-exact dedup: q20's hash-groupBy over canonicalized text; the
    // n_variants column is the dup tier raw exact dedup ships twice
    "q110_normalized_dedup" -> ((s, d) => Dedup.normalizedDedup(s, d)),
    // LSH banding planner: expected candidates vs recall for every
    // (bands, rows) split of the 8-permutation signature — the sketch-
    // config twin of q105's threshold sweep; q22's 4x2 is one output row
    "q111_lsh_planner" -> ((s, d) => Dedup.lshPlanner(s, d)),
    // training manifest: the per-document disposition (q81 gates + q61
    // PII total + q64 split + kept-only q96 read order) a trainer ships
    "q112_training_manifest" -> ((s, d) => Curation.trainingManifest(s, d)),
    // quality-gate calibration: doc AND token survival per quality rung —
    // the curve behind q81/q95/q112's fixed 0.5; q105's twin for quality
    "q113_quality_sweep" -> ((s, d) => TextAnalysis.qualitySweep(s, d)),
    // split-balance audit: volume/source/language/quality parity across
    // train-val-test — the distribution half of eval hygiene (q72 is the
    // duplication half)
    "q114_split_balance" -> ((s, d) => Curation.splitBalance(s, d)),
    // prefix-truncation recall audit: serve from the first 16 dims vs the
    // full-width exact top-k — the storage-tier acceptance table (q109's
    // twin for width instead of bucketing)
    "q115_truncation_recall" -> ((s, d) => Similarity.truncationRecall(s, d)),
    // int8-quantization recall audit: the precision knob's acceptance
    // table, completing the q109/q115 trio (bucketing / width / precision)
    "q116_quantization_recall" ->
      ((s, d) => Similarity.quantizationRecall(s, d)),
    // Streamed cross-modal dedup: q86's any-modality decision as a REAL
    // incremental streaming job — per-commit contracted star-forest state
    // over both modality indexes (minhash bands + digests, blockhash
    // fingerprints); the final cumulative frame is batch-boundary-free
    // and bit-equal to the stream-tier batch twin the oracle computes.
    "q117_stream_crossmodal" ->
      ((s, d) => streaming.Continuous.streamedCrossModalDedup(s, d)),
    // Forest-state incremental clusters: the q94 persisted index upgraded
    // with a durable cluster star forest (q117's forest identity on the
    // daily-batch tier) — the mod-10 increment's near-dup pairs contract
    // against the shipped 90%'s persisted forest, yielding q50's cluster
    // frame over every doc seen, without re-deriving membership from the
    // accumulated pair list.
    "q118_index_clusters" -> ((s, d) => Dedup.indexClusters(s, d)),
    // Prefix-filtered near-dup pairs: q21's EXACT output (same oracle SQL)
    // via PPJoin-style candidate pruning — posting lists over per-doc
    // rarest-first prefixes only, then exact verification of survivors.
    // The fixed-threshold fast path next to the shared multi-consumer
    // intersection stage; the r12 probe prices WHY (1.02B candidates at
    // the 30x gate, 0.23% surviving the threshold).
    "q119_dedup_prefix" -> ((s, d) => Dedup.ngramJaccardPrefix(s, d)),
    // The prefix path's NO-BROADCAST verify (the shape it runs past the
    // broadcast byte budget): candidates co-partitioned with the per-doc
    // sorted-array table on d1 then d2, native merge-count kernel, zero
    // broadcast relations — oracle-pinned against q21's SQL so the
    // at-scale verify is correctness-proven, not just plan-proven.
    "q120_dedup_prefix_merge" ->
      ((s, d) => Dedup.ngramJaccardPrefixMerge(s, d)),
    // Prefix-filtered CONTAINMENT: q78's EXACT output (same oracle SQL)
    // via the ONE-SIDED PPJoin bound — only the contained side gets a
    // prefix (the container's size never lower-bounds the overlap), and
    // candidates are prefix(contained) x full-gated(container). q78 was
    // the last fixed-threshold pair operator riding the classic
    // co-occurrence stage that the r13 100x smoke measured ENOSPC-dead.
    "q121_containment_prefix" -> ((s, d) => Dedup.containmentPrefix(s, d)),
    // Containment's no-broadcast merge verify, oracle-pinned like q120.
    "q122_containment_prefix_merge" ->
      ((s, d) => Dedup.containmentPrefixMerge(s, d)),
    // Sampled calibration sweep: q105's curve from a deterministic
    // md5-bucket DOC sample (pairs survive at f², unbiased per rung) —
    // the 100-TB contract for the full-candidate-frame calibration
    // family, with the estimate and its stated error bar as columns.
    "q123_sweep_sampled" -> ((s, d) => Dedup.thresholdSweepSampled(s, d)),
    // Sampled MinHash accuracy audit: q108 over the md5-bucket doc
    // sample — every surviving row bit-identical to the full audit's
    // (per-doc signatures/bands/shingles), candidate volume down f².
    "q124_minhash_accuracy_sampled" ->
      ((s, d) => Dedup.minhashAccuracySampled(s, d)),
    // Sampled LSH banding planner: q111's S-curve trade table from the
    // doc sample, with 1/f² estimates and the stated error bar.
    "q125_lsh_planner_sampled" -> ((s, d) => Dedup.lshPlannerSampled(s, d)),
    // Sketch-gated containment: the contained side's bottom-k-by-hash
    // gated shingles start candidates (miss prob ≤ (1-t')^k per
    // qualifying pair, verify exact) — the low-threshold scale path.
    // Deterministic md5 sample, so the oracle replays it bit-for-bit.
    "q126_containment_sketch" -> ((s, d) => Dedup.containmentSketch(s, d)),
    // Sketch containment over a STRING-KEYED corpus (q127, r16): the same
    // operator through the doc-id fingerprint dictionary — outputs in
    // ORIGINAL id currency, and the bottom-k sample is shingle-hash-
    // ranked (doc-id-independent), so the oracle recomputes the math
    // over the string-keyed view directly with no fingerprint anywhere.
    // k rides AutoK: the recall-sized default resolves 8 at the default
    // t′ = 0.5 × target 0.995 — the oracle's r <= 8 — so the sizing rule
    // itself is oracle-gated.
    "q127_containment_sketch_fp" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, concat, lit, lpad}
      // framesKey: this fixture view is deterministic per dir, so the
      // checkpointed sketch frames cache for the session like q126's.
      // The gate params ride the key, built from the values the call
      // passes, so a param change can never serve stale frames.
      val thresholdPpm = 500000L
      val maxDf = 100
      Dedup.containmentSketchOf(
        Tables.documents(s, d).select(
          concat(lit("doc-"), lpad(col("doc_id").cast("string"), 9, "0"))
            .as("doc_id"), col("text")),
        thresholdPpm = thresholdPpm, maxDf = maxDf,
        framesKey = Some(StageMemo.Stages.sketchfp(d, thresholdPpm, maxDf)))
    }),
    // Sketch-width calibration (q128, r17): the MeasuredK sizing rule as
    // an oracle-checkable frame — the sampled recall ladder (true pairs
    // of the md5-bucket contained-doc sample, each pair's minimal
    // catching rank, per-k recall with its z=2 Wilson lower bound, the
    // chosen minimal width clearing the 0.995 target). Deterministic end
    // to end, so DuckDB recomputes every rung including the Wilson
    // arithmetic.
    "q128_sketch_calibration" ->
      ((s, d) => Dedup.containmentSketchCalibration(s, d))
  )

  /** q21's oracle, shared verbatim by q119 (the prefix-filtered engine
    * path must reproduce the classic df-gated pair stage bit for bit). */
  private lazy val ngramPairsSql: String =
    s"""WITH $shinglesCte,
      |docLen AS (SELECT doc_id, COUNT(*) AS c FROM sh GROUP BY doc_id),
      |rare AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= 100),
      |idx AS (SELECT sh.doc_id, sh.s FROM sh JOIN rare USING (s)),
      |inter AS (
      |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i
      |  FROM idx a JOIN idx b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT d1, d2, ROUND(i * 1.0 / (ca.c + cb.c - i), 6) AS jaccard
      |FROM inter
      |JOIN docLen ca ON d1 = ca.doc_id
      |JOIN docLen cb ON d2 = cb.doc_id
      |WHERE ROUND(i * 1.0 / (ca.c + cb.c - i), 6) >= 0.8
      |ORDER BY d1, d2""".stripMargin

  /** q78's oracle, shared verbatim by q121/q122 (the one-sided
    * prefix-filtered containment path must reproduce the classic
    * df-gated stage bit for bit): q21's candidate chain scored
    * asymmetrically in BOTH orientations, containment ppm =
    * |A∩B|·1e6 div |A| (integer). */
  private lazy val containmentSql: String =
    s"""WITH $shinglesCte,
      |docLen AS (SELECT doc_id, COUNT(*) AS c FROM sh GROUP BY doc_id),
      |rare AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= 100),
      |idx AS (SELECT sh.doc_id, sh.s FROM sh JOIN rare USING (s)),
      |inter AS (
      |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i
      |  FROM idx a JOIN idx b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |sel AS (
      |  SELECT d1 AS contained, d2 AS container, i AS n_shared,
      |    ca.c AS n_shingles
      |  FROM inter JOIN docLen ca ON d1 = ca.doc_id
      |  UNION ALL
      |  SELECT d2, d1, i, cb.c
      |  FROM inter JOIN docLen cb ON d2 = cb.doc_id)
      |SELECT contained, container, n_shared, n_shingles,
      |  n_shared * 1000000 // n_shingles AS cont_ppm
      |FROM sel
      |WHERE n_shared * 1000000 // n_shingles >= 500000
      |ORDER BY contained, container""".stripMargin

  /** Shared oracle CTEs: tokenized documents + distinct 3-shingles. */
  private val shinglesCte =
    """toks AS (
      |  SELECT doc_id, lang, source,
      |    list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '') AS t
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, s FROM (
      |    SELECT doc_id,
      |      unnest(list_transform(range(len(t) - 2),
      |        i -> substr(md5(t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]), 1, 16))) AS s
      |    FROM toks))""".stripMargin

  private val minhashSigCte =
    shinglesCte +
      """,
        |sig AS (
        |  SELECT doc_id,
        |    MIN(md5('0:' || s)) AS s0, MIN(md5('1:' || s)) AS s1,
        |    MIN(md5('2:' || s)) AS s2, MIN(md5('3:' || s)) AS s3,
        |    MIN(md5('4:' || s)) AS s4, MIN(md5('5:' || s)) AS s5,
        |    MIN(md5('6:' || s)) AS s6, MIN(md5('7:' || s)) AS s7
        |  FROM sh GROUP BY doc_id)""".stripMargin

  private val simhashCte =
    """h AS (
      |  SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM (
      |    SELECT doc_id,
      |      unnest(list_distinct(list_filter(
      |        regexp_split_to_array(text, '\s+'), t -> t <> ''))) AS tok
      |    FROM documents)),
      |votes AS (
      |  SELECT doc_id, j,
      |    SUM(2 * ((h // CAST(POWER(2, j) AS BIGINT)) % 2) - 1) AS vote
      |  FROM h, (SELECT unnest(range(60)) AS j) GROUP BY doc_id, j),
      |fp AS (
      |  SELECT doc_id,
      |    CAST(SUM(CASE WHEN vote > 0 THEN CAST(POWER(2, j) AS BIGINT)
      |             ELSE 0 END) AS BIGINT) AS simhash
      |  FROM votes GROUP BY doc_id)""".stripMargin

  /** q83/q84's blockhash chain: per-char codepoint signal → 60 positional
    * block sums → integer-scaled mean test → POWER-of-2 assembly (the
    * same fp construction as [[simhashCte]]). */
  private val blockhashCte =
    """pc AS (
      |  SELECT doc_id, text, n, unnest(range(1, n + 1)) AS pos
      |  FROM (SELECT doc_id, text, length(text) AS n FROM documents
      |        WHERE text IS NOT NULL AND length(text) > 0)),
      |bs AS (
      |  SELECT doc_id, ((pos - 1) * 60) // n AS blk,
      |    SUM(ord(substr(text, CAST(pos AS INTEGER), 1))) AS s
      |  FROM pc GROUP BY doc_id, blk),
      |tot AS (SELECT doc_id, SUM(s) AS total FROM bs GROUP BY doc_id),
      |ph AS (
      |  SELECT bs.doc_id,
      |    CAST(SUM(CASE WHEN 60 * s > total THEN CAST(POWER(2, blk) AS BIGINT)
      |             ELSE 0 END) AS BIGINT) AS phash
      |  FROM bs JOIN tot ON bs.doc_id = tot.doc_id GROUP BY bs.doc_id)""".stripMargin

  private val vecsCte =
    """n AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
      |    sqrt(list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
      |                          list_transform(embedding, x -> CAST(x AS DOUBLE)))) AS norm
      |  FROM embeddings)""".stripMargin

  /** q73/q74's Lloyd iterations, unrolled to CTEs: `vl` = unit-normalized
    * valid vectors (the Similarity.unitVecs exclusion rule), `c0` = seed
    * centers (the k lowest vec_ids), then per iteration t: an argmin
    * assignment CTE (a1..aN) of c·c − 2·u·c with the lower-cluster
    * tie-break, DECIMAL(28,14) per-dim means (exact, order-free), and next
    * centers (c1..cN)
    * with empty clusters keeping their previous center — the exact IEEE
    * sequence the Spark loop executes, so a3 matches bit for bit. */
  private def kmeansCte(k: Int, iters: Int): String = {
    def assignCte(name: String, centers: String): String =
      s"""$name AS (
         |  SELECT vec_id, u, cluster, score FROM (
         |    SELECT vl.vec_id, vl.u, c.cluster,
         |      list_dot_product(c.c, c.c)
         |        - 2.0 * list_dot_product(vl.u, c.c) AS score
         |    FROM vl, $centers c)
         |  QUALIFY ROW_NUMBER()
         |    OVER (PARTITION BY vec_id ORDER BY score, cluster) = 1)"""
        .stripMargin
    val head =
      s"""$vecsCte,
         |vl AS (
         |  SELECT vec_id, list_transform(v, x -> x / norm) AS u
         |  FROM n WHERE v IS NOT NULL
         |    AND len(list_filter(v, x -> x IS NULL)) = 0 AND norm > 0),
         |c0 AS (
         |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER)
         |      AS cluster, u AS c
         |  FROM vl QUALIFY ROW_NUMBER() OVER (ORDER BY vec_id) <= $k)"""
        .stripMargin
    val steps = (1 to iters).map { t =>
      s"""${assignCte(s"a$t", s"c${t - 1}")},
         |m$t AS (
         |  SELECT cluster, d.d AS d,
         |    CAST(SUM(CAST(u[d.d + 1] AS DECIMAL(28,14))) AS DOUBLE)
         |      / COUNT(*) AS c
         |  FROM a$t, (SELECT unnest(range(64)) AS d) d
         |  GROUP BY cluster, d.d),
         |w$t AS (
         |  SELECT cluster, list(c ORDER BY d) AS c FROM m$t GROUP BY cluster),
         |c$t AS (
         |  SELECT p.cluster, COALESCE(w.c, p.c) AS c
         |  FROM c${t - 1} p LEFT JOIN w$t w USING (cluster))"""
        .stripMargin
    }
    // af = the FINAL re-assignment against the post-iteration centers —
    // the frame the Spark loop returns (assignToCenters after the last
    // center update), which q73/q74 read.
    ((head +: steps) :+ assignCte("af", s"c$iters")).mkString(",\n")
  }

  /** q21/q50/q69's df-gated 3-shingle Jaccard pair chain: yields
    * `pairs(d1, d2)` (requires [[shinglesCte]]'s `sh`). */
  private val ngramPairsCte =
    s"""$shinglesCte,
       |docLen AS (SELECT doc_id, COUNT(*) AS c FROM sh GROUP BY doc_id),
       |rare AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= 100),
       |idx AS (SELECT sh.doc_id, sh.s FROM sh JOIN rare USING (s)),
       |inter AS (
       |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i
       |  FROM idx a JOIN idx b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |pairs AS (
       |  SELECT d1, d2 FROM inter
       |  JOIN docLen ca ON d1 = ca.doc_id
       |  JOIN docLen cb ON d2 = cb.doc_id
       |  WHERE ROUND(i * 1.0 / (ca.c + cb.c - i), 6) >= 0.8)""".stripMargin

  /** The q81 funnel oracle — cumulative survival flags: exact keeper
    * (min-id per md5 group), near-dup survivor (not a q21-pair loser —
    * the shared pairs chain), quality ≥ 0.5 (the q29 value, itself
    * oracle-bit-equal, recomputed from the toks list with identical
    * arithmetic), language. Shared verbatim by q88: the streamed funnel's
    * final cumulative frame must equal the batch funnel (the fixture's
    * max shingle df is 9, so the df cap never bifurcates them). */
  private lazy val curationFunnelSql =
    s"""WITH $ngramPairsCte,
      |ex AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
      |losers AS (SELECT DISTINCT d2 AS doc_id FROM pairs),
      |q AS (
      |  SELECT d.doc_id,
      |    LEAST(1.0, GREATEST(0.0,
      |      0.2
      |      + len(list_filter(t.t,
      |          x -> x IN ('the','a','of','and','to','is')))
      |        * 1.0 / len(t.t) * 2.0
      |      + len(list_distinct(t.t)) * 1.0 / len(t.t) * 0.5
      |      - length(regexp_replace(d.text, '[a-z0-9\\s]', '', 'g'))
      |        * 1.0 / length(d.text) * 3.0)) AS quality
      |  FROM documents d JOIN toks t USING (doc_id)),
      |flags AS (
      |  SELECT d.source,
      |    CASE WHEN e.doc_id IS NOT NULL THEN 1 ELSE 0 END AS f_ex,
      |    CASE WHEN l.doc_id IS NULL THEN 1 ELSE 0 END AS f_near,
      |    CASE WHEN q.quality >= 0.5 THEN 1 ELSE 0 END AS f_q,
      |    CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS f_lang
      |  FROM documents d
      |  LEFT JOIN ex e ON d.doc_id = e.doc_id
      |  LEFT JOIN losers l ON d.doc_id = l.doc_id
      |  JOIN q ON d.doc_id = q.doc_id)
      |SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(f_ex) AS BIGINT) AS n_exact,
      |  CAST(SUM(f_ex * f_near) AS BIGINT) AS n_neardup,
      |  CAST(SUM(f_ex * f_near * f_q) AS BIGINT) AS n_quality,
      |  CAST(SUM(f_ex * f_near * f_q * f_lang) AS BIGINT) AS n_final
      |FROM flags GROUP BY source ORDER BY source""".stripMargin

  /** The q87 incremental-dedup oracle. Increment = doc_id ≡ 0 mod 10.
    * Near-dup pairs restricted to those involving an incoming doc (the
    * only ones the incremental operator generates); df gate and Jaccard
    * arithmetic identical to q21's. Loser: the incoming side — d2 when
    * incoming (both-incoming min-id and existing-d1-wins collapse to
    * this), else d1 (shipped d2 wins regardless of id). Exact: digest
    * match vs any existing doc or a smaller-id incoming doc. Shared
    * verbatim by q94 — the persisted-index path must produce identical
    * verdicts. */
  private lazy val incrementalDedupSql =
    s"""WITH $shinglesCte,
      |docLen AS (SELECT doc_id, COUNT(*) AS c FROM sh GROUP BY doc_id),
      |rare AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= 100),
      |idx AS (SELECT sh.doc_id, sh.s FROM sh JOIN rare USING (s)),
      |inter AS (
      |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i
      |  FROM idx a JOIN idx b ON a.s = b.s AND a.doc_id < b.doc_id
      |  WHERE a.doc_id % 10 = 0 OR b.doc_id % 10 = 0
      |  GROUP BY 1, 2),
      |pairs AS (
      |  SELECT d1, d2 FROM inter
      |  JOIN docLen ca ON d1 = ca.doc_id
      |  JOIN docLen cb ON d2 = cb.doc_id
      |  WHERE ROUND(i * 1.0 / (ca.c + cb.c - i), 6) >= 0.8),
      |nd AS (SELECT DISTINCT
      |    CASE WHEN d2 % 10 = 0 THEN d2 ELSE d1 END AS doc_id
      |  FROM pairs),
      |ex AS (SELECT DISTINCT n.doc_id
      |  FROM documents n JOIN documents o
      |    ON md5(n.text) = md5(o.text) AND n.doc_id % 10 = 0
      |   AND (o.doc_id % 10 <> 0 OR o.doc_id < n.doc_id))
      |SELECT d.doc_id,
      |  CASE WHEN e.doc_id IS NOT NULL THEN 1 ELSE 0 END AS exact_dup,
      |  CASE WHEN nd.doc_id IS NOT NULL THEN 1 ELSE 0 END AS near_dup,
      |  CASE WHEN e.doc_id IS NOT NULL OR nd.doc_id IS NOT NULL
      |       THEN 0 ELSE 1 END AS keep
      |FROM documents d
      |LEFT JOIN ex e ON d.doc_id = e.doc_id
      |LEFT JOIN nd ON d.doc_id = nd.doc_id
      |WHERE d.doc_id % 10 = 0
      |ORDER BY d.doc_id""".stripMargin

  /** q75/q80's BM25 rank chain — yields `r(rank, doc_id, n_terms, score)`.
    * Constants interpolated from the SAME Scala doubles the Spark
    * expression uses (k1+1 etc. round-trip through shortest-repr
    * printing, so DuckDB parses back the identical double); per-term
    * ln quantized to DECIMAL(28,14) like q70, per-doc sum in decimal,
    * rank on the 6-decimal rounding with a doc_id tie-break. */
  private lazy val bm25RanksCte =
    s"""bmtoks AS (
      |  SELECT doc_id,
      |    unnest(list_filter(regexp_split_to_array(text, '\\s+'),
      |      t -> t <> '')) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM bmtoks GROUP BY 1, 2),
      |dl AS (SELECT doc_id, COUNT(*) AS dl FROM bmtoks GROUP BY 1),
      |tot AS (
      |  SELECT (SELECT COUNT(*) FROM documents) AS n,
      |    COUNT(*) AS toklen
      |  FROM bmtoks),
      |qt AS (
      |  SELECT term, df,
      |    CAST(ln((n - df + 0.5) / (df + 0.5) + 1.0) AS DECIMAL(28,14))
      |      AS idf
      |  FROM (SELECT term, COUNT(*) AS df FROM tf GROUP BY term), tot
      |  ORDER BY df DESC, term LIMIT 5),
      |sc AS (
      |  SELECT tf.doc_id,
      |    CAST(CAST(qt.idf AS DOUBLE) *
      |      ((tf.tf * ${TextAnalysis.Bm25K1 + 1.0}) /
      |        (tf.tf + ${TextAnalysis.Bm25K1} *
      |          (${1.0 - TextAnalysis.Bm25B} + ${TextAnalysis.Bm25B} *
      |            (dl.dl / (CAST(toklen AS DOUBLE) / n)))))
      |      AS DECIMAL(28,14)) AS w
      |  FROM tf JOIN qt USING (term) JOIN dl USING (doc_id), tot),
      |agg AS (
      |  SELECT doc_id, CAST(COUNT(*) AS INTEGER) AS n_terms,
      |    ROUND(CAST(SUM(w) AS DOUBLE), 6) AS score
      |  FROM sc GROUP BY doc_id),
      |r AS (
      |  SELECT doc_id, n_terms, score,
      |    CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS INTEGER)
      |      AS rank
      |  FROM agg)""".stripMargin

  /** Connected components over `pairs(d1, d2)` — symmetric edge closure,
    * recursive reach, min-reachable label. `key` names the id column of
    * the resulting `comp`. The enclosing query must open WITH RECURSIVE. */
  private def ccCte(key: String, pairsRel: String = "pairs"): String =
    s"""edges AS (
       |  SELECT d1 AS u, d2 AS v FROM $pairsRel
       |  UNION ALL SELECT d2, d1 FROM $pairsRel),
       |reach AS (
       |  SELECT u, v FROM edges
       |  UNION
       |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
       |comp AS (
       |  SELECT u AS $key, LEAST(u, MIN(v)) AS cluster
       |  FROM reach GROUP BY u)""".stripMargin

  /** q27/q56/q68's sign-LSH candidate chain (planes → signatures →
    * bucket gate → same-bucket pairs): yields `n` (vectors) and
    * `cand(v1, v2)` at the default bits=10 / tables=8 / maxBucket=2048. */
  private lazy val lshCandCte =
    s"""$vecsCte,
       |planes AS (
       |  SELECT p, list_transform(range(64), d ->
       |    CASE WHEN ('0x' || substr(md5(CAST(p AS VARCHAR) || ':' ||
       |                CAST(d AS VARCHAR)), 1, 2))::INT % 2 = 1
       |         THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END) AS pl
       |  FROM (SELECT unnest(range(80)) AS p)),
       |bits AS (
       |  SELECT n.vec_id, p // 10 AS tbl, p % 10 AS b,
       |    CASE WHEN list_dot_product(n.v, pl) > 0 THEN 1 ELSE 0 END AS bit
       |  FROM n, planes WHERE n.v IS NOT NULL
       |    AND len(list_filter(n.v, x -> x IS NULL)) = 0),
       |sigs AS (
       |  SELECT vec_id, tbl,
       |    CAST(SUM(bit * CAST(POWER(2, b) AS BIGINT)) AS BIGINT) AS sig
       |  FROM bits GROUP BY vec_id, tbl),
       |small AS (
       |  SELECT tbl, sig FROM sigs GROUP BY tbl, sig HAVING COUNT(*) <= 2048),
       |idx AS (
       |  SELECT s.vec_id, s.tbl, s.sig FROM sigs s JOIN small USING (tbl, sig)),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS v1, b.vec_id AS v2
       |  FROM idx a JOIN idx b USING (tbl, sig)
       |  WHERE a.vec_id < b.vec_id)""".stripMargin

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q02_select_filter" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders
        |WHERE o_orderstatus = 'O' AND o_totalprice > 200000.0
        |ORDER BY o_orderkey""".stripMargin,
    "q03_join_revenue" ->
      """SELECT r_name, n_name,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name
        |ORDER BY r_name, n_name""".stripMargin,
    "q04_topk_customers" ->
      """SELECT c_custkey, c_name, total_spent, n_orders
        |FROM (
        |  SELECT o_custkey,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spent,
        |    COUNT(*) AS n_orders
        |  FROM orders GROUP BY o_custkey
        |) t JOIN customer ON o_custkey = c_custkey
        |ORDER BY total_spent DESC, c_custkey
        |LIMIT 10""".stripMargin,
    "q05_global_sort" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice, l_quantity
        |FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber""".stripMargin,
    "q06_wordcount" ->
      """SELECT word, COUNT(*) AS cnt
        |FROM (SELECT unnest(regexp_split_to_array(text, '\s+')) AS word FROM documents)
        |WHERE word <> ''
        |GROUP BY word
        |ORDER BY cnt DESC, word""".stripMargin,
    "q07_grep" ->
      """SELECT m, COUNT(*) AS cnt
        |FROM (SELECT unnest(regexp_extract_all(text, '[a-z]+a[a-z]+')) AS m FROM documents)
        |GROUP BY m
        |ORDER BY cnt DESC, m""".stripMargin,
    "q08_distinct" ->
      """SELECT o_orderpriority,
        |  COUNT(DISTINCT o_custkey) AS n_customers,
        |  COUNT(*) AS n_orders
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "q09_join_left" ->
      """SELECT c_custkey, c_name,
        |  COUNT(o_orderkey) AS n_orders,
        |  CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 0) AS DOUBLE) AS total_spent
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey, c_name
        |ORDER BY c_custkey""".stripMargin,
    "q10_join_override" ->
      """SELECT COALESCE(s.nationkey, c.nationkey) AS nationkey,
        |  COALESCE(s.n_supp, c.n_cust) AS pop,
        |  c.n_cust AS n_cust, s.n_supp AS n_supp
        |FROM (SELECT c_nationkey AS nationkey, COUNT(*) AS n_cust FROM customer GROUP BY 1) c
        |FULL OUTER JOIN (SELECT s_nationkey AS nationkey, COUNT(*) AS n_supp FROM supplier GROUP BY 1) s
        |  ON c.nationkey = s.nationkey
        |ORDER BY nationkey""".stripMargin,
    "q11_union" ->
      """SELECT name, acctbal, nationkey, kind FROM (
        |  SELECT c_name AS name, c_acctbal AS acctbal, CAST(c_nationkey AS INTEGER) AS nationkey, 'customer' AS kind FROM customer
        |  UNION ALL
        |  SELECT s_name, s_acctbal, CAST(s_nationkey AS INTEGER), 'supplier' FROM supplier
        |) ORDER BY kind, name""".stripMargin,
    "q12_histogram" ->
      """SELECT event_type, COUNT(*) AS n,
        |  MIN(value) AS min_v, MAX(value) AS max_v,
        |  CAST(SUM(CAST(value AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS avg_v,
        |  ROUND(SQRT((CAST(SUM(CAST(value*value AS DECIMAL(38,12))) AS DOUBLE)
        |        - CAST(SUM(CAST(value AS DECIMAL(28,12))) AS DOUBLE) * CAST(SUM(CAST(value AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*))
        |       / (COUNT(*) - 1)), 6) AS stddev_v,
        |  ROUND(QUANTILE_CONT(value, 0.5), 4) AS median_v
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q13_fieldselect" ->
      """SELECT p_partkey,
        |  string_split(p_name, ' ')[2] AS f1,
        |  string_split(p_name, ' ')[1] AS f0
        |FROM part
        |ORDER BY p_partkey""".stripMargin,
    "q14_json_extract" ->
      """SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
        |  COUNT(*) AS cnt
        |FROM events
        |GROUP BY k
        |ORDER BY k""".stripMargin,
    "q15_bucket_sample" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_orderkey % 7 = 0
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "q16_secondary_sort" ->
      """SELECT o_custkey, CAST(rn AS INTEGER) AS rn, o_orderkey, o_orderdate, o_totalprice FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
        |  FROM orders
        |) WHERE rn <= 3
        |ORDER BY o_custkey, rn""".stripMargin,
    "q17_chain_join" ->
      """SELECT p_brand, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  COUNT(DISTINCT s_suppkey) AS n_supp
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey AND p_size < 20
        |JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY p_brand
        |ORDER BY p_brand""".stripMargin,
    "q18_minmax_string" ->
      """SELECT c_nationkey,
        |  MIN(c_name) AS min_name, MAX(c_name) AS max_name,
        |  MIN(c_acctbal) AS min_bal, MAX(c_acctbal) AS max_bal
        |FROM customer
        |GROUP BY c_nationkey
        |ORDER BY c_nationkey""".stripMargin,
    "q19_events_by_day" ->
      """SELECT event_type, CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS day,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS avg_v
        |FROM events
        |GROUP BY event_type, day
        |ORDER BY event_type, day""".stripMargin,
    "q20_dedup_exact" ->
      """SELECT keeper, n_copies, h FROM (
        |  SELECT md5(text) AS h, MIN(doc_id) AS keeper, COUNT(*) AS n_copies
        |  FROM documents GROUP BY md5(text))
        |ORDER BY keeper""".stripMargin,
    "q21_dedup_ngram" -> ngramPairsSql,
    // q119/q120 are q21's EXACT output via prefix-filtered candidate
    // generation — one oracle text, three engine paths (q119 = broadcast
    // verify, q120 = no-broadcast co-partitioned merge verify; the
    // differential is the point)
    "q119_dedup_prefix" -> ngramPairsSql,
    "q120_dedup_prefix_merge" -> ngramPairsSql,
    "q22_dedup_minhash" ->
      (s"""WITH $minhashSigCte,
        |bands AS (
        |  SELECT doc_id, 0 AS band, md5(s0 || s1) AS bh FROM sig
        |  UNION ALL SELECT doc_id, 1, md5(s2 || s3) FROM sig
        |  UNION ALL SELECT doc_id, 2, md5(s4 || s5) FROM sig
        |  UNION ALL SELECT doc_id, 3, md5(s6 || s7) FROM sig),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id)
        |SELECT d1, d2,
        |  ((sa.s0 = sb.s0)::INT + (sa.s1 = sb.s1)::INT + (sa.s2 = sb.s2)::INT
        |   + (sa.s3 = sb.s3)::INT + (sa.s4 = sb.s4)::INT + (sa.s5 = sb.s5)::INT
        |   + (sa.s6 = sb.s6)::INT + (sa.s7 = sb.s7)::INT) / 8.0 AS est_jaccard
        |FROM cand
        |JOIN sig sa ON d1 = sa.doc_id
        |JOIN sig sb ON d2 = sb.doc_id
        |WHERE ((sa.s0 = sb.s0)::INT + (sa.s1 = sb.s1)::INT + (sa.s2 = sb.s2)::INT
        |   + (sa.s3 = sb.s3)::INT + (sa.s4 = sb.s4)::INT + (sa.s5 = sb.s5)::INT
        |   + (sa.s6 = sb.s6)::INT + (sa.s7 = sb.s7)::INT) / 8.0 >= 0.5
        |ORDER BY d1, d2""".stripMargin),
    "q23_simhash" ->
      (s"""WITH $simhashCte
        |SELECT doc_id, simhash FROM fp ORDER BY doc_id""".stripMargin),
    "q24_simhash_pairs" ->
      (s"""WITH $simhashCte
        |SELECT a.doc_id AS d1, b.doc_id AS d2,
        |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS dist
        |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
        |ORDER BY d1, d2""".stripMargin),
    "q25_embed_neardup" ->
      (s"""WITH $vecsCte
        |SELECT a.vec_id AS v1, b.vec_id AS v2,
        |  ROUND(list_dot_product(a.v, b.v) / a.norm / b.norm, 6) AS cos
        |FROM n a JOIN n b ON a.vec_id < b.vec_id
        |WHERE ROUND(list_dot_product(a.v, b.v) / a.norm / b.norm, 6) >= 0.4
        |ORDER BY v1, v2""".stripMargin),
    "q26_ann_topk" ->
      (s"""WITH $vecsCte,
        |q AS (SELECT * FROM n WHERE vec_id % 100 = 0),
        |sc AS (
        |  SELECT q.vec_id AS q_id, b.vec_id AS neighbor,
        |    ROUND(list_dot_product(q.v, b.v) / q.norm / b.norm, 6) AS cos
        |  FROM q JOIN n b ON q.vec_id <> b.vec_id),
        |r AS (SELECT q_id, neighbor, cos,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor)
        |       AS INTEGER) AS rank FROM sc)
        |SELECT q_id, rank, neighbor, cos FROM r WHERE rank <= 5
        |ORDER BY q_id, rank""".stripMargin),
    "q27_ann_lsh" ->
      // Multi-table sign-LSH (Similarity.lshTopKOf, defaults bits=10,
      // tables=8, maxBucket=2048, k=5). The ±1 hyperplanes are the parity
      // of the first md5 byte of "p:d" (graft.functions.LshKernel
      // .planeComponent), so the signatures — and therefore the candidate
      // sets — are reproducible in any engine; dot products sum in index
      // order on both sides. NULL vectors AND vectors carrying a null
      // element are excluded from the index entirely (Similarity.sigFrame
      // filters them; the WHERE mirrors that drop) — a null element would
      // score as 0 in the native kernel but propagate NULL through
      // list_dot_product, silently diverging the bucket assignment.
      (s"""WITH $vecsCte,
        |planes AS (
        |  SELECT p, list_transform(range(64), d ->
        |    CASE WHEN ('0x' || substr(md5(CAST(p AS VARCHAR) || ':'
        |                || CAST(d AS VARCHAR)), 1, 2))::INT % 2 = 1
        |         THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END) AS pl
        |  FROM (SELECT unnest(range(80)) AS p)),
        |bits AS (
        |  SELECT n.vec_id, p // 10 AS tbl, p % 10 AS b,
        |    CASE WHEN list_dot_product(n.v, pl) > 0 THEN 1 ELSE 0 END AS bit
        |  FROM n, planes WHERE n.v IS NOT NULL
        |    AND len(list_filter(n.v, x -> x IS NULL)) = 0),
        |sigs AS (
        |  SELECT vec_id, tbl,
        |    CAST(SUM(bit * CAST(POWER(2, b) AS BIGINT)) AS BIGINT) AS sig
        |  FROM bits GROUP BY vec_id, tbl),
        |small AS (
        |  SELECT tbl, sig FROM sigs GROUP BY tbl, sig HAVING COUNT(*) <= 2048),
        |idx AS (
        |  SELECT s.vec_id, s.tbl, s.sig FROM sigs s JOIN small USING (tbl, sig)),
        |flips AS (
        |  SELECT CAST(0 AS BIGINT) AS flip
        |  UNION ALL
        |  SELECT CAST(POWER(2, b) AS BIGINT) FROM (SELECT unnest(range(10)) AS b)),
        |probes AS (
        |  SELECT s.vec_id AS q_id, s.tbl, xor(s.sig, f.flip) AS sig
        |  FROM sigs s, flips f WHERE s.vec_id % 100 = 0),
        |cand AS (
        |  SELECT DISTINCT p.q_id, i.vec_id AS neighbor
        |  FROM probes p JOIN idx i USING (tbl, sig)
        |  WHERE p.q_id <> i.vec_id),
        |sc AS (
        |  SELECT q_id, neighbor,
        |    ROUND(list_dot_product(a.v, b.v) / a.norm / b.norm, 6) AS cos
        |  FROM cand JOIN n a ON q_id = a.vec_id JOIN n b ON neighbor = b.vec_id),
        |r AS (SELECT q_id, neighbor, cos,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor)
        |       AS INTEGER) AS rank FROM sc)
        |SELECT q_id, rank, neighbor, cos FROM r WHERE rank <= 5
        |ORDER BY q_id, rank""".stripMargin),
    "q38_ann_ivf" ->
      (s"""WITH $vecsCte,
        |piv AS (SELECT vec_id AS pid, v AS pv, norm AS pnorm FROM n
        |        WHERE vec_id % 16 = 1),
        |assign AS (
        |  SELECT vec_id, pid FROM (
        |    SELECT b.vec_id, p.pid, ROW_NUMBER() OVER (PARTITION BY b.vec_id
        |      ORDER BY list_dot_product(b.v, p.pv) / b.norm / p.pnorm DESC,
        |               p.pid) AS rk
        |    FROM n b, piv p) WHERE rk = 1),
        |cells AS (SELECT pid FROM assign GROUP BY pid HAVING COUNT(*) <= 65536),
        |gated AS (SELECT assign.* FROM assign JOIN cells USING (pid)),
        |probes AS (
        |  SELECT q_id, pid FROM (
        |    SELECT q.vec_id AS q_id, p.pid, ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_dot_product(q.v, p.pv) / q.norm / p.pnorm DESC,
        |               p.pid) AS rk
        |    FROM (SELECT * FROM n WHERE vec_id % 100 = 0) q, piv p)
        |  WHERE rk <= 20),
        |cand AS (
        |  SELECT probes.q_id, gated.vec_id AS neighbor
        |  FROM probes JOIN gated USING (pid)
        |  WHERE probes.q_id <> gated.vec_id),
        |sc AS (
        |  SELECT q_id, neighbor,
        |    ROUND(list_dot_product(a.v, b.v) / a.norm / b.norm, 6) AS cos
        |  FROM cand JOIN n a ON q_id = a.vec_id JOIN n b ON neighbor = b.vec_id),
        |r AS (SELECT q_id, neighbor, cos,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor)
        |       AS INTEGER) AS rank FROM sc)
        |SELECT q_id, rank, neighbor, cos FROM r WHERE rank <= 5
        |ORDER BY q_id, rank""".stripMargin),
    "q39_composite_join" ->
      """WITH a AS (SELECT o_custkey AS k, o_orderkey AS o_open
        |          FROM orders WHERE o_orderstatus = 'O'),
        |b AS (SELECT o_custkey AS k, o_orderkey AS o_done
        |      FROM orders WHERE o_orderstatus = 'F'),
        |ab AS (SELECT COALESCE(a.k, b.k) AS k, o_open, o_done
        |       FROM a FULL OUTER JOIN b ON a.k = b.k)
        |SELECT ab.k AS custkey, o_open, o_done, c_name
        |FROM ab JOIN customer ON ab.k = c_custkey
        |ORDER BY custkey, o_open, o_done""".stripMargin,
    "q40_md5_sample" ->
      """WITH t AS (
        |  SELECT l_returnflag, l_quantity,
        |    ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 16))::UBIGINT AS u
        |  FROM lineitem),
        |s AS (
        |  SELECT *, CASE WHEN u >= 9223372036854775808
        |    THEN CAST(u AS HUGEINT) - 18446744073709551616
        |    ELSE CAST(u AS HUGEINT) END AS h
        |  FROM t)
        |SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM s WHERE h % 7 = 0
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "q41_asof_join" ->
      """WITH clicks AS (
        |  SELECT user_id, ts AS click_ts,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS click_v
        |  FROM events WHERE event_type = 'click' GROUP BY user_id, ts)
        |SELECT e.event_id, e.user_id, e.ts, c.click_ts, c.click_v
        |FROM events e ASOF LEFT JOIN clicks c
        |  ON e.user_id = c.user_id AND e.ts > c.click_ts
        |ORDER BY e.event_id""".stripMargin,
    "q42_range_join" ->
      """WITH w AS (
        |  SELECT user_id, ts AS w_start, ts + INTERVAL 1 HOUR AS w_end
        |  FROM events WHERE event_type = 'purchase')
        |SELECT e.user_id, COUNT(*) AS n_in_window,
        |  COUNT(DISTINCT e.event_id) AS n_events
        |FROM events e JOIN w ON e.user_id = w.user_id
        |  AND e.ts >= w.w_start AND e.ts < w.w_end
        |GROUP BY e.user_id
        |ORDER BY e.user_id""".stripMargin,
    "q43_chunking" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS t,
        |    len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS n
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, t, n,
        |    CASE WHEN n = 0 THEN 0
        |         WHEN n <= 30 THEN 1
        |         ELSE (n - 30 + 19) // 20 + 1 END AS n_chunks
        |  FROM t),
        |e AS (
        |  SELECT doc_id, t, n,
        |    unnest(range(n_chunks)) AS chunk_id
        |  FROM c)
        |SELECT doc_id, CAST(chunk_id AS INTEGER) AS chunk_id,
        |  CAST(LEAST(n - chunk_id * 20, 30) AS INTEGER) AS chunk_tokens,
        |  array_to_string(t[chunk_id * 20 + 1 : chunk_id * 20 + 30], ' ') AS chunk_text
        |FROM e
        |ORDER BY doc_id, chunk_id""".stripMargin,
    "q44_stratified_sample" ->
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source,
        |    ('0x' || substr(md5(source || ':' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000 AS bucket,
        |    (CAST(substr(source, 4) AS INTEGER) % 10 + 1) * 50 AS rate
        |  FROM documents)
        |WHERE bucket < rate
        |ORDER BY doc_id""".stripMargin,
    "q45_frame_sample" ->
      """WITH d AS (
        |  SELECT doc_id, text, length(text) AS n
        |  FROM documents WHERE length(text) > 0),
        |e AS (
        |  SELECT doc_id, text, n,
        |    unnest(range((n + 255) // 256)) AS frame_idx
        |  FROM d)
        |SELECT doc_id, CAST(frame_idx AS INTEGER) AS frame_idx,
        |  CAST(LEAST(n - frame_idx * 256, 256) AS INTEGER) AS frame_chars,
        |  md5(substring(text, CAST(frame_idx * 256 + 1 AS BIGINT), 256)) AS frame_md5
        |FROM e WHERE frame_idx % 2 = 0
        |ORDER BY doc_id, frame_idx""".stripMargin,
    "q28_lang_id" ->
      """WITH toks AS (
        |  SELECT doc_id, lang,
        |    unnest(list_filter(regexp_split_to_array(text, '\s+'),
        |      t -> t <> '')) AS tok
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, lang,
        |    SUM(CASE WHEN tok IN ('the','a','of','and','to','is') THEN 1 ELSE 0 END) AS s_en,
        |    SUM(CASE WHEN tok IN ('der','die','das','und','ist','ein') THEN 1 ELSE 0 END) AS s_de,
        |    SUM(CASE WHEN tok IN ('le','la','et','les','des','un') THEN 1 ELSE 0 END) AS s_fr,
        |    SUM(CASE WHEN tok IN ('el','los','las','y','es','una') THEN 1 ELSE 0 END) AS s_es,
        |    SUM(CASE WHEN tok IN ('的','是','在','了','我','和') THEN 1 ELSE 0 END) AS s_zh
        |  FROM toks GROUP BY doc_id, lang),
        |p AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN s_en = m AND m > 0 THEN 'en'
        |         WHEN s_de = m AND m > 0 THEN 'de'
        |         WHEN s_fr = m AND m > 0 THEN 'fr'
        |         WHEN s_es = m AND m > 0 THEN 'es'
        |         WHEN s_zh = m AND m > 0 THEN 'zh'
        |         ELSE 'und' END AS pred_lang
        |  FROM (SELECT *, GREATEST(s_en, s_de, s_fr, s_es, s_zh) AS m FROM s))
        |SELECT doc_id, lang, pred_lang,
        |  CAST(pred_lang = lang AS INTEGER) AS is_match
        |FROM p ORDER BY doc_id""".stripMargin,
    "q29_quality" ->
      """WITH t AS (
        |  SELECT doc_id, COUNT(*) AS n_tokens, COUNT(DISTINCT tok) AS n_types,
        |    CAST(SUM(CASE WHEN tok IN ('the','a','of','and','to','is') THEN 1 ELSE 0 END) AS BIGINT) AS n_stop
        |  FROM (
        |    SELECT doc_id,
        |      unnest(list_filter(regexp_split_to_array(text, '\s+'),
        |        t -> t <> '')) AS tok
        |    FROM documents)
        |  GROUP BY doc_id)
        |SELECT doc_id, n_chars, n_tokens, n_types, n_stop,
        |  length(regexp_replace(text, '[a-z0-9\s]', '', 'g')) * 1.0 / length(text) AS punct_ratio,
        |  n_stop * 1.0 / n_tokens AS stop_ratio,
        |  n_types * 1.0 / n_tokens AS type_token_ratio,
        |  LEAST(1.0, GREATEST(0.0,
        |    0.2 + n_stop * 1.0 / n_tokens * 2.0 + n_types * 1.0 / n_tokens * 0.5
        |    - length(regexp_replace(text, '[a-z0-9\s]', '', 'g')) * 1.0 / length(text) * 3.0)) AS quality
        |FROM documents JOIN t USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "q30_token_count" ->
      """SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(ws) AS BIGINT) AS total_ws_tokens,
        |  CAST(SUM(bpe) AS BIGINT) AS total_bpe_tokens,
        |  CAST(MAX(ws) AS INTEGER) AS max_ws_tokens
        |FROM (
        |  SELECT source,
        |    len(list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '')) AS ws,
        |    len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS bpe
        |  FROM documents)
        |GROUP BY source ORDER BY source""".stripMargin,
    "q31_fingerprint" ->
      """SELECT doc_id,
        |  md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp,
        |  CAST(length(text) AS INTEGER) AS len
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q32_media_stats" ->
      """SELECT doc_id,
        |  CAST(strlen(text) AS BIGINT) AS n_bytes,
        |  CAST(strlen(text) % 640 AS INTEGER) AS width,
        |  CAST(strlen(text) * 7 % 480 AS INTEGER) AS height,
        |  md5(text) AS checksum
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q33_media_summary" ->
      """SELECT 'text/plain' AS media_type, COUNT(*) AS n,
        |  CAST(SUM(strlen(text)) AS BIGINT) AS total_bytes,
        |  CAST(MAX(strlen(text)) AS BIGINT) AS max_bytes
        |FROM documents""".stripMargin,
    "q34_approx_distinct" ->
      // KMV estimator: (k−1) / (h_k / 2^60) over the k=64 smallest 60-bit
      // md5 prefixes of the distinct group members; < k members → exact.
      """WITH hv AS (
        |  SELECT DISTINCT o_orderpriority,
        |    ('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15))::BIGINT AS h
        |  FROM orders),
        |r AS (
        |  SELECT o_orderpriority, h,
        |    ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY h) AS rn
        |  FROM hv),
        |kth AS (SELECT o_orderpriority, h AS hk FROM r WHERE rn = 64),
        |d AS (
        |  SELECT o_orderpriority, COUNT(*) AS exact_distinct
        |  FROM hv GROUP BY o_orderpriority)
        |SELECT d.o_orderpriority,
        |  CAST(d.exact_distinct AS BIGINT) AS exact_distinct,
        |  ROUND(CASE WHEN kth.hk IS NULL THEN CAST(d.exact_distinct AS DOUBLE)
        |        ELSE 63.0 * 1152921504606846976.0 / CAST(kth.hk AS DOUBLE)
        |        END, 6) AS kmv_distinct
        |FROM d LEFT JOIN kth USING (o_orderpriority)
        |ORDER BY d.o_orderpriority""".stripMargin,
    "q35_dedup_decisions" ->
      (s"""WITH $shinglesCte,
        |docLen AS (SELECT doc_id, COUNT(*) AS c FROM sh GROUP BY doc_id),
        |rare AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= 100),
        |idx AS (SELECT sh.doc_id, sh.s FROM sh JOIN rare USING (s)),
        |inter AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i
        |  FROM idx a JOIN idx b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |losers AS (
        |  SELECT DISTINCT d2 AS doc_id FROM inter
        |  JOIN docLen ca ON d1 = ca.doc_id
        |  JOIN docLen cb ON d2 = cb.doc_id
        |  WHERE ROUND(i * 1.0 / (ca.c + cb.c - i), 6) >= 0.8)
        |SELECT d.doc_id,
        |  CASE WHEN l.doc_id IS NOT NULL THEN 0 ELSE 1 END AS keep
        |FROM documents d LEFT JOIN losers l ON d.doc_id = l.doc_id
        |ORDER BY d.doc_id""".stripMargin),
    "q36_sessionize" ->
      """WITH marked AS (
        |  SELECT user_id, ts, value, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w > INTERVAL 5 MINUTE
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM marked)
        |SELECT user_id, CAST(MIN(ts) AS TIMESTAMP) AS s_start, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
        |FROM sess GROUP BY user_id, sid
        |ORDER BY user_id, s_start""".stripMargin,
    "q46_decontaminate" ->
      (s"""WITH $shinglesCte,
        |bsh AS (SELECT DISTINCT s FROM sh WHERE doc_id % 10 = 7),
        |ov AS (
        |  SELECT doc_id, COUNT(*) AS n_overlap
        |  FROM sh JOIN bsh USING (s)
        |  WHERE doc_id % 10 <> 7
        |  GROUP BY doc_id)
        |SELECT d.doc_id,
        |  COALESCE(ov.n_overlap, 0) AS n_overlap,
        |  CASE WHEN ov.n_overlap IS NOT NULL THEN 1 ELSE 0 END AS contaminated
        |FROM documents d LEFT JOIN ov USING (doc_id)
        |WHERE d.doc_id % 10 <> 7
        |ORDER BY d.doc_id""".stripMargin),
    "q47_repetition" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '') AS t
        |  FROM documents),
        |tc AS (
        |  SELECT doc_id, tok, COUNT(*) AS c
        |  FROM (SELECT doc_id, unnest(t) AS tok FROM toks)
        |  GROUP BY doc_id, tok),
        |ts AS (
        |  SELECT doc_id, SUM(c) AS n_tokens,
        |    SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS n_dup,
        |    MAX(c) AS max_tok
        |  FROM tc GROUP BY doc_id),
        |bc AS (
        |  SELECT doc_id, bg, COUNT(*) AS c
        |  FROM (SELECT doc_id, unnest(list_transform(range(len(t) - 1),
        |         i -> t[i+1] || ' ' || t[i+2])) AS bg FROM toks)
        |  GROUP BY doc_id, bg),
        |bs AS (
        |  SELECT doc_id, SUM(c) AS n_bigrams, MAX(c) AS max_bigram
        |  FROM bc GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(COALESCE(n_tokens, 0) AS BIGINT) AS n_tokens,
        |  ROUND(COALESCE(n_dup * 1.0 / n_tokens, 0.0), 6) AS dup_token_frac,
        |  ROUND(COALESCE(max_tok * 1.0 / n_tokens, 0.0), 6) AS top_token_frac,
        |  ROUND(COALESCE(max_bigram * 1.0 / n_bigrams, 0.0), 6) AS top_bigram_frac
        |FROM documents d
        |LEFT JOIN ts USING (doc_id)
        |LEFT JOIN bs USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    "q48_source_cap" ->
      """SELECT doc_id, source, n_chars, CAST(rn AS INTEGER) AS rn FROM (
        |  SELECT doc_id, source, n_chars,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 10
        |ORDER BY source, rn""".stripMargin,
    "q49_bloom_dedup" ->
      (s"""WITH $minhashSigCte,
        |bands AS (
        |  SELECT doc_id, 0 AS band, md5(s0 || s1) AS bh FROM sig
        |  UNION ALL SELECT doc_id, 1, md5(s2 || s3) FROM sig
        |  UNION ALL SELECT doc_id, 2, md5(s4 || s5) FROM sig
        |  UNION ALL SELECT doc_id, 3, md5(s6 || s7) FROM sig),
        |bk AS (SELECT doc_id, CAST(band AS VARCHAR) || ':' || bh AS bkey FROM bands),
        |prior AS (SELECT DISTINCT bkey FROM bk WHERE doc_id % 3 = 0),
        |hit AS (
        |  SELECT DISTINCT doc_id FROM bk JOIN prior USING (bkey)
        |  WHERE doc_id % 3 <> 0)
        |SELECT d.doc_id,
        |  CASE WHEN h.doc_id IS NOT NULL THEN 1 ELSE 0 END AS is_dup
        |FROM documents d LEFT JOIN hit h USING (doc_id)
        |WHERE d.doc_id % 3 <> 0
        |ORDER BY d.doc_id""".stripMargin),
    "q50_dedup_clusters" ->
      (s"""WITH RECURSIVE $ngramPairsCte,
        |${ccCte("doc_id")}
        |SELECT d.doc_id,
        |  COALESCE(c.cluster, d.doc_id) AS cluster,
        |  CASE WHEN COALESCE(c.cluster, d.doc_id) = d.doc_id
        |       THEN 1 ELSE 0 END AS keep
        |FROM documents d LEFT JOIN comp c USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin),
    "q37_sliding_windows" ->
      // window k covers [k*slide, k*slide + size); event t falls in
      // k ∈ (floor((t-size)/slide), floor(t/slide)] — exact integer µs math
      """SELECT make_timestamp(k * 300000000) AS w_start, event_type,
        |  COUNT(*) AS n
        |FROM (
        |  SELECT event_type,
        |    unnest(range((epoch_us(ts) - 600000000) // 300000000 + 1,
        |                 epoch_us(ts) // 300000000 + 1)) AS k
        |  FROM events)
        |GROUP BY k, event_type
        |ORDER BY w_start, event_type""".stripMargin,
    "q51_stream_windows" ->
      // batch twin of the streamed tumbling-window reduce: event-time
      // windows are chunking-independent, so the streaming final frame
      // equals this plain GROUP BY
      """SELECT make_timestamp((epoch_us(ts) // 300000000) * 300000000) AS w_start,
        |  event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY w_start, event_type""".stripMargin,
    "q52_stream_online" ->
      // online aggregation's final snapshot is exact — the q01 batch SQL
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q53_stream_pipeline" ->
      // composed batch twin of the two chained streaming jobs: stage 1's
      // filter/project then stage 2's per-type aggregate
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
        |FROM events
        |WHERE event_type <> 'view'
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q54_cq_monitor" ->
      // cross-key mean/σ as LEFT FOLDS over the SORTED per-key averages —
      // the identical IEEE op sequence Spark runs (sort_array + aggregate)
      """WITH pk AS (
        |  SELECT make_timestamp((epoch_us(ts) // 300000000) * 300000000) AS w_start,
        |    event_type AS key,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_v
        |  FROM events GROUP BY 1, 2),
        |g AS (
        |  SELECT w_start, COUNT(*) AS n, list_sort(list(avg_v)) AS xs
        |  FROM pk GROUP BY w_start),
        |g2 AS (
        |  SELECT w_start, n, xs,
        |    list_reduce(list_prepend(0.0, xs), (a, b) -> a + b) / n AS mu
        |  FROM g),
        |g3 AS (
        |  SELECT w_start, mu,
        |    CASE WHEN n > 1 THEN
        |      sqrt(list_reduce(list_prepend(0.0,
        |        list_transform(xs, x -> (x - mu) * (x - mu))), (a, b) -> a + b)
        |        / (n - 1))
        |    ELSE 0.0 END AS sigma
        |  FROM g2)
        |SELECT pk.w_start, pk.key, pk.avg_v,
        |  CASE WHEN pk.avg_v > g3.mu + 2.0 * g3.sigma THEN 1 ELSE 0 END AS alert
        |FROM pk JOIN g3 USING (w_start)
        |ORDER BY pk.w_start, pk.key""".stripMargin,
    "q55_length_quantiles" ->
      """SELECT source,
        |  quantile_cont(n_chars, 0.25) AS p25,
        |  quantile_cont(n_chars, 0.5) AS p50,
        |  quantile_cont(n_chars, 0.75) AS p75,
        |  quantile_cont(n_chars, 0.95) AS p95,
        |  count(*) AS n, min(n_chars) AS min_c, max(n_chars) AS max_c
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "q56_neardup_lsh" ->
      // Same planes/signatures/bucket-gate CTEs as q27 (the operators share
      // the sign-LSH index build, including the NULL-vector and
      // null-element drop);
      // candidates = same-bucket pairs in any table, then the exact rounded
      // cosine verifies each candidate.
      (s"""WITH $lshCandCte
        |SELECT v1, v2,
        |  ROUND(list_dot_product(a.v, b.v) / a.norm / b.norm, 6) AS cos
        |FROM cand JOIN n a ON v1 = a.vec_id JOIN n b ON v2 = b.vec_id
        |WHERE ROUND(list_dot_product(a.v, b.v) / a.norm / b.norm, 6) >= 0.4
        |ORDER BY v1, v2""".stripMargin),
    "q68_embed_clusters" ->
      // q56's verified near-dup pairs contracted to components — the
      // embedding twin of q50's cluster form; vectors the index excludes
      // (null / null-element) surface as singletons via the left join.
      (s"""WITH RECURSIVE $lshCandCte,
        |pairs AS (
        |  SELECT v1 AS d1, v2 AS d2
        |  FROM cand JOIN n a ON v1 = a.vec_id JOIN n b ON v2 = b.vec_id
        |  WHERE ROUND(list_dot_product(a.v, b.v) / a.norm / b.norm, 6) >= 0.4),
        |${ccCte("vec_id")}
        |SELECT e.vec_id,
        |  COALESCE(c.cluster, e.vec_id) AS cluster,
        |  CASE WHEN COALESCE(c.cluster, e.vec_id) = e.vec_id
        |       THEN 1 ELSE 0 END AS keep
        |FROM embeddings e LEFT JOIN comp c USING (vec_id)
        |ORDER BY e.vec_id""".stripMargin),
    "q69_canonical_docs" ->
      // q50's clusters re-keyed from smallest-id to best-quality: the same
      // recursive component CTE joined to q29's quality score, one
      // row_number window per cluster (quality DESC, doc_id tie-break).
      (raw"""WITH RECURSIVE $ngramPairsCte,
        |${ccCte("doc_id")},
        |qstat AS (
        |  SELECT doc_id, COUNT(*) AS n_tokens, COUNT(DISTINCT tok) AS n_types,
        |    CAST(SUM(CASE WHEN tok IN ('the','a','of','and','to','is')
        |             THEN 1 ELSE 0 END) AS BIGINT) AS n_stop
        |  FROM (
        |    SELECT doc_id,
        |      unnest(list_filter(regexp_split_to_array(text, '\s+'),
        |        t -> t <> '')) AS tok
        |    FROM documents)
        |  GROUP BY doc_id),
        |q AS (
        |  SELECT d.doc_id,
        |    LEAST(1.0, GREATEST(0.0,
        |      0.2 + n_stop * 1.0 / n_tokens * 2.0 + n_types * 1.0 / n_tokens * 0.5
        |      - length(regexp_replace(text, '[a-z0-9\s]', '', 'g')) * 1.0 / length(text) * 3.0))
        |      AS quality
        |  FROM documents d JOIN qstat USING (doc_id)),
        |j AS (
        |  SELECT d.doc_id, COALESCE(c.cluster, d.doc_id) AS cluster, q.quality
        |  FROM documents d LEFT JOIN comp c USING (doc_id) JOIN q USING (doc_id)),
        |r AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster
        |    ORDER BY quality DESC, doc_id) AS rk FROM j)
        |SELECT doc_id, cluster, quality,
        |  CASE WHEN rk = 1 THEN 1 ELSE 0 END AS keep
        |FROM r ORDER BY doc_id""".stripMargin),
    "q57_tfidf" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(regexp_split_to_array(text, '\s+'),
        |                       t -> t <> '')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks
        |       GROUP BY doc_id, term),
        |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
        |nn AS (SELECT COUNT(*) AS n FROM documents),
        |sc AS (
        |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |    ROUND(tf.tf * ln(CAST(nn.n AS DOUBLE) / df.df), 6) AS tfidf
        |  FROM tf JOIN df USING (term), nn),
        |r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
        |        ORDER BY tfidf DESC, term) AS INTEGER) AS rank FROM sc)
        |SELECT doc_id, rank, term, tf, df, tfidf FROM r
        |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    // q58/q59 share the per-(label, dim) decimal-summed centroid CTE; the
    // outlier distance expands |x-c|^2 into three list_dot_products so both
    // engines run the identical index-order IEEE sequence.
    "q58_centroids" ->
      // the WHERE mirrors posexplode on the fixture's dim-64 contract:
      // a NULL array yields no rows and indexes never run past the array
      // length (an over-64-dim array would still diverge — the range(64)
      // cap is the oracle's fixture assumption, not a general guarantee)
      """WITH e AS (
        |  SELECT label, d.d,
        |    CAST(CAST(embedding[d.d + 1] AS DOUBLE) AS DECIMAL(28,14)) AS xd
        |  FROM embeddings, (SELECT unnest(range(64)) AS d) d
        |  WHERE embedding IS NOT NULL AND d.d < len(embedding)),
        |s AS (
        |  SELECT label, d, CAST(SUM(xd) AS DOUBLE) / COUNT(*) AS c,
        |    COUNT(*) AS n
        |  FROM e GROUP BY label, d)
        |SELECT label, CAST(d AS INTEGER) AS dim, ROUND(c, 6) AS c, n
        |FROM s ORDER BY label, dim""".stripMargin,
    "q59_outliers" ->
      // same posexplode-mirroring WHERE as q58 (fixture dim-64 contract);
      // the v CTE drops NULL vectors like the Spark side's isNotNull
      // filter; greatest(0, ...) clamps the FP-negative |x-c|^2 a vector
      // AT its centroid can compute (DuckDB's sqrt throws on negatives;
      // Spark clamps identically)
      """WITH e AS (
        |  SELECT label, d.d,
        |    CAST(CAST(embedding[d.d + 1] AS DOUBLE) AS DECIMAL(28,14)) AS xd
        |  FROM embeddings, (SELECT unnest(range(64)) AS d) d
        |  WHERE embedding IS NOT NULL AND d.d < len(embedding)),
        |s AS (
        |  SELECT label, d, CAST(SUM(xd) AS DOUBLE) / COUNT(*) AS c
        |  FROM e GROUP BY label, d),
        |cent AS (SELECT label, list(c ORDER BY d) AS cv FROM s GROUP BY label),
        |v AS (
        |  SELECT vec_id, label,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS x
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |dist AS (
        |  SELECT v.vec_id, v.label,
        |    ROUND(sqrt(greatest(0.0,
        |          list_dot_product(x, x) - 2.0 * list_dot_product(x, cv)
        |          + list_dot_product(cv, cv))), 6) AS dist
        |  FROM v JOIN cent USING (label)),
        |r AS (
        |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY label
        |            ORDER BY dist DESC, vec_id) AS INTEGER) AS rank
        |  FROM dist)
        |SELECT label, rank, vec_id, dist FROM r
        |WHERE rank <= 3 ORDER BY label, rank""".stripMargin,

    // Concat-and-chop sequence packing: integer window arithmetic over a
    // running token sum, partitioned per source (ctx = 128 tokens).
    "q60_seq_packing" ->
      """WITH t AS (
        |  SELECT source, doc_id,
        |    len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> ''))
        |      AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT source, doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |    CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum
        |  FROM t WHERE n_tokens > 0)
        |SELECT source, doc_id, n_tokens,
        |  (cum - n_tokens) // 128 AS bin_id,
        |  (cum - n_tokens) % 128 AS bin_pos,
        |  CASE WHEN (cum - 1) // 128 > (cum - n_tokens) // 128
        |       THEN 1 ELSE 0 END AS spans_boundary
        |FROM c ORDER BY source, doc_id""".stripMargin,

    // PII scan + redaction: pattern hit counts and the digest of the text
    // after each pattern is replaced by its [TYPE] placeholder, in the
    // same declaration order as Curation.piiPatterns. DuckDB regexp_replace
    // needs the 'g' flag to match Spark's replace-all default.
    "q61_pii_scan" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text,
        |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS INTEGER) AS email_hits,
        |  CAST(len(regexp_extract_all(text,
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS INTEGER) AS ip_hits,
        |  CAST(len(regexp_extract_all(text,
        |    '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b')) AS INTEGER) AS phone_hits,
        |  CAST(len(regexp_extract_all(text, '\bcustomer [a-z]+')) AS INTEGER) AS entity_hits,
        |  md5(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |    text,
        |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '[EMAIL]', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g'),
        |    '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b', '[PHONE]', 'g'),
        |    '\bcustomer [a-z]+', '[ENTITY]', 'g')) AS redacted_fp,
        |  CASE WHEN regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |    text,
        |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '[EMAIL]', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g'),
        |    '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b', '[PHONE]', 'g'),
        |    '\bcustomer [a-z]+', '[ENTITY]', 'g') <> text
        |    THEN 1 ELSE 0 END AS changed
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Fractional-epoch mixing: weight class = numeric source suffix mod 4,
    // copies = floor(w) + md5-bucket slice for the fractional part (q44's
    // bucket), one output row per (source, epoch).
    "q62_epoch_mix" ->
      """WITH pol AS (
        |  SELECT wk, CAST(weight AS DOUBLE) AS weight
        |  FROM (VALUES (0, 2.5), (1, 1.0), (2, 0.5), (3, 1.25))
        |    AS p(wk, weight)),
        |d AS (
        |  SELECT doc_id, source,
        |    CAST(substr(source, 4) AS INTEGER) % 4 AS wk,
        |    ('0x' || substr(md5(source || ':' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000 AS bucket
        |  FROM documents),
        |j AS (
        |  SELECT d.source, pol.weight,
        |    CAST(floor(weight) AS INTEGER) +
        |      CASE WHEN bucket < (weight - floor(weight)) * 1000
        |           THEN 1 ELSE 0 END AS copies
        |  FROM d JOIN pol USING (wk)),
        |e AS (
        |  SELECT source, weight, unnest(range(copies)) AS epoch
        |  FROM j WHERE copies > 0)
        |SELECT source, epoch, MAX(weight) AS weight, COUNT(*) AS n_docs
        |FROM e GROUP BY source, epoch ORDER BY source, epoch""".stripMargin,

    // Passage-level exact dedup: non-overlapping 30-token chunks (q43's
    // chunker with stride = chunk), md5 digest, HAVING count > 1.
    "q63_passage_dedup" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS t,
        |    len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS n
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, t, n,
        |    CASE WHEN n = 0 THEN 0 ELSE (n + 29) // 30 END AS n_chunks
        |  FROM t),
        |e AS (
        |  SELECT doc_id,
        |    md5(array_to_string(t[chunk_id * 30 + 1 : chunk_id * 30 + 30], ' '))
        |      AS fp
        |  FROM (SELECT doc_id, t, unnest(range(n_chunks)) AS chunk_id FROM c))
        |SELECT fp, COUNT(*) AS n_occurrences,
        |  COUNT(DISTINCT doc_id) AS n_docs,
        |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
        |FROM e GROUP BY fp HAVING COUNT(*) > 1
        |ORDER BY fp""".stripMargin,

    // Deterministic 80/10/10 split on q62's md5 bucket: cumulative
    // thresholds 800/900 carve the bucket space, last split takes the rest.
    "q64_hash_split" ->
      """SELECT doc_id, source,
        |  ('0x' || substr(md5(source || ':' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000 AS bucket,
        |  CASE WHEN ('0x' || substr(md5(source || ':' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000 < 800 THEN 'train'
        |       WHEN ('0x' || substr(md5(source || ':' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000 < 900 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Cross-source duplication matrix over q63's 30-token passages: count
    // of distinct digests shared by each source pair (s1 < s2). The oracle
    // takes the digest self-join form; the engine takes the bounded
    // collect_set form — same matrix.
    "q65_source_overlap" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS t,
        |    len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS n
        |  FROM documents),
        |e AS (
        |  SELECT DISTINCT source,
        |    md5(array_to_string(t[chunk_id * 30 + 1 : chunk_id * 30 + 30], ' '))
        |      AS fp
        |  FROM (SELECT doc_id, source, t,
        |          unnest(range(CASE WHEN n = 0 THEN 0 ELSE (n + 29) // 30 END))
        |            AS chunk_id
        |        FROM t))
        |SELECT a.source AS s1, b.source AS s2, COUNT(*) AS shared_passages
        |FROM e a JOIN e b ON a.fp = b.fp AND a.source < b.source
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // Vocabulary growth over 3-grams: distinct-terms-per-doc explode, each
    // term's first doc, binned by 50-doc prefix, cumulative window.
    "q66_vocab_growth" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS t
        |  FROM documents),
        |toks AS (
        |  SELECT doc_id,
        |    unnest(list_distinct(list_transform(range(len(t) - 2),
        |      i -> array_to_string(t[i+1:i+3], ' ')))) AS term
        |  FROM t WHERE len(t) >= 3),
        |f AS (SELECT term, MIN(doc_id) AS first_doc FROM toks GROUP BY 1),
        |b AS (SELECT first_doc // 50 AS bin, COUNT(*) AS new_terms
        |      FROM f GROUP BY 1)
        |SELECT bin, new_terms,
        |  CAST(SUM(new_terms) OVER (ORDER BY bin
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_vocab
        |FROM b ORDER BY bin""".stripMargin,

    // Split leakage: q21's pair chain joined twice against q64's split
    // CASE, folded to an unordered (split, split) matrix.
    "q72_split_leakage" ->
      (s"""WITH $ngramPairsCte,
        |splits AS (
        |  SELECT doc_id,
        |    CASE WHEN ('0x' || substr(md5(source || ':' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000 < 800 THEN 'train'
        |         WHEN ('0x' || substr(md5(source || ':' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000 < 900 THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM documents),
        |tagged AS (
        |  SELECT LEAST(a.split, b.split) AS split_lo,
        |         GREATEST(a.split, b.split) AS split_hi
        |  FROM pairs
        |  JOIN splits a ON pairs.d1 = a.doc_id
        |  JOIN splits b ON pairs.d2 = b.doc_id)
        |SELECT split_lo, split_hi, COUNT(*) AS n_pairs
        |FROM tagged GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // Unigram perplexity: ln of corpus-relative frequency per token,
    // decimal-summed per doc (order-independent), one exp at the end.
    "q70_perplexity" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(regexp_split_to_array(text, '\s+'),
        |      t -> t <> '')) AS tok
        |  FROM documents),
        |freq AS (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok),
        |tot AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS total FROM freq),
        |lp AS (
        |  SELECT doc_id, CAST(ln(cnt / total) AS DECIMAL(28,14)) AS lp
        |  FROM toks JOIN freq USING (tok), tot),
        |agg AS (
        |  SELECT doc_id, COUNT(*) AS n_tokens, SUM(lp) AS sl
        |  FROM lp GROUP BY doc_id)
        |SELECT doc_id, n_tokens,
        |  ROUND(exp(-CAST(sl AS DOUBLE) / n_tokens), 6) AS ppl
        |FROM agg ORDER BY doc_id""".stripMargin,

    // Count-min sketch: d=4 rows x w=256 buckets; ONE md5 per occurrence,
    // row j reads its disjoint 8-hex slice; estimate = min over rows of
    // the token's cell — always >= exact.
    "q71_countmin_topk" ->
      """WITH toks AS (
        |  SELECT unnest(list_filter(regexp_split_to_array(text, '\s+'),
        |    t -> t <> '')) AS tok
        |  FROM documents),
        |tj AS (
        |  SELECT md5(tok) AS h, unnest(range(4)) AS j FROM toks),
        |cells AS (
        |  SELECT j,
        |    ('0x' || substr(h, j * 8 + 1, 8))::BIGINT % 256 AS bucket,
        |    COUNT(*) AS cell
        |  FROM tj GROUP BY 1, 2),
        |exact AS (
        |  SELECT tok, COUNT(*) AS exact_cnt FROM toks GROUP BY tok),
        |topk AS (
        |  SELECT tok, exact_cnt,
        |    CAST(ROW_NUMBER() OVER (ORDER BY exact_cnt DESC, tok) AS INTEGER)
        |      AS rank
        |  FROM exact QUALIFY rank <= 20),
        |probe AS (
        |  SELECT rank, tok, exact_cnt, j,
        |    ('0x' || substr(md5(tok), j * 8 + 1, 8))::BIGINT % 256 AS bucket
        |  FROM (SELECT rank, tok, exact_cnt, unnest(range(4)) AS j FROM topk))
        |SELECT rank, tok, exact_cnt, MIN(cell) AS cms_est
        |FROM probe JOIN cells USING (j, bucket)
        |GROUP BY 1, 2, 3 ORDER BY rank""".stripMargin,

    // int8 quantization audit: every output except max_abs is an integer
    // derived from round(x*127/max_abs) per element — no cross-element
    // float accumulation, so the engines agree bit-exactly. Null vectors /
    // null elements / all-zero vectors excluded on both sides.
    "q67_quantize_int8" ->
      """WITH v AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings
        |  WHERE embedding IS NOT NULL
        |    AND len(list_filter(embedding, x -> x IS NULL)) = 0),
        |m AS (
        |  SELECT vec_id, v,
        |    list_max(list_transform(v, x -> abs(x))) AS max_abs
        |  FROM v),
        |q AS (
        |  SELECT vec_id, max_abs,
        |    list_transform(v, x -> CAST(round(x * 127.0 / max_abs) AS INTEGER))
        |      AS q
        |  FROM m WHERE max_abs > 0)
        |SELECT vec_id, max_abs,
        |  CAST(len(list_filter(q, x -> abs(x) = 127)) AS INTEGER) AS n_sat,
        |  CAST(list_sum(q) AS BIGINT) AS sum_q,
        |  CAST(list_sum(list_transform(q, x -> CAST(x AS BIGINT) * x)) AS BIGINT)
        |    AS sum_q2
        |FROM q ORDER BY vec_id""".stripMargin,

    "q73_kmeans" ->
      // Lloyd's iterations unrolled (kmeansCte); d2 = |u − c|² = 1 + score
      // since |u| = 1, clamped like q59's FP-negative guard.
      (s"""WITH ${kmeansCte(8, 3)}
        |SELECT vec_id, cluster,
        |  ROUND(GREATEST(CAST(0.0 AS DOUBLE), 1.0 + score), 6) AS d2
        |FROM af ORDER BY vec_id""".stripMargin),
    "q74_semdedup" ->
      // within-cluster lower-id near-dup (unit vectors: dot = cosine),
      // rounded-cosine threshold like q56 so the boundary is engine-stable
      (s"""WITH ${kmeansCte(8, 3)},
        |dup AS (
        |  SELECT b.vec_id AS vec_id, MIN(a.vec_id) AS dup_of
        |  FROM af a JOIN af b ON a.cluster = b.cluster
        |    AND a.vec_id < b.vec_id
        |    AND ROUND(list_dot_product(a.u, b.u), 6) >= 0.4
        |  GROUP BY b.vec_id)
        |SELECT v.vec_id, v.cluster,
        |  CASE WHEN d.dup_of IS NOT NULL THEN 1 ELSE 0 END AS dropped,
        |  COALESCE(d.dup_of, CAST(-1 AS BIGINT)) AS dup_of
        |FROM af v LEFT JOIN dup d ON v.vec_id = d.vec_id
        |ORDER BY v.vec_id""".stripMargin),

    "q75_bm25" ->
      (s"""WITH $bm25RanksCte
        |SELECT rank, doc_id, n_terms, score FROM r WHERE rank <= 20
        |ORDER BY rank""".stripMargin),

    "q76_temperature_mix" ->
      // α = 0.5 temperature mix: per-source √token weights quantized to
      // DECIMAL(28,14) (sqrt is IEEE-exact; the cross-source normalizer
      // sums decimals, order-free), keep-rate = min(1, share·budget/tok),
      // acceptance = md5 bucket vs an INTEGER threshold (q40/q44 family).
      """WITH td AS (
        |  SELECT source, doc_id,
        |    len(list_filter(regexp_split_to_array(text, '\s+'), t -> t <> ''))
        |      AS tok
        |  FROM documents),
        |per AS (
        |  SELECT source, COUNT(*) AS n_docs,
        |    CAST(SUM(tok) AS BIGINT) AS n_tokens
        |  FROM td GROUP BY source),
        |w AS (
        |  SELECT source, n_docs, n_tokens,
        |    CAST(sqrt(CAST(n_tokens AS DOUBLE)) AS DECIMAL(28,14)) AS wd
        |  FROM per),
        |tot AS (
        |  SELECT CAST(SUM(wd) AS DOUBLE) AS sumw,
        |    CAST(SUM(n_tokens) AS DOUBLE) AS tottok
        |  FROM w),
        |s1 AS (
        |  SELECT source, n_docs, n_tokens, tottok,
        |    CAST(wd AS DOUBLE) / sumw AS share
        |  FROM w, tot),
        |r AS (
        |  SELECT source, n_docs, n_tokens, share,
        |    LEAST(1.0, (share * (tottok * 0.5)) / CAST(n_tokens AS DOUBLE))
        |      AS rate
        |  FROM s1),
        |k AS (
        |  SELECT td.source, td.tok,
        |    CASE WHEN ('0x' || substr(md5(CAST(td.doc_id AS VARCHAR)), 1, 8))
        |          ::BIGINT % 1000000
        |        < CAST(ROUND(r.rate * 1000000.0) AS BIGINT)
        |      THEN 1 ELSE 0 END AS k
        |  FROM td JOIN r USING (source))
        |SELECT r.source, r.n_docs, r.n_tokens,
        |  ROUND(r.share, 6) AS share, ROUND(r.rate, 6) AS rate,
        |  CAST(SUM(k.k) AS BIGINT) AS kept_docs,
        |  CAST(SUM(k.k * k.tok) AS BIGINT) AS kept_tokens
        |FROM r JOIN k USING (source)
        |GROUP BY 1, 2, 3, 4, 5
        |ORDER BY r.source""".stripMargin,

    "q77_dup_spans" ->
      // sliding 8-token windows, md5-prefix fingerprints; dup = window in
      // ≥2 distinct docs; coverage = sorted-interval sweep (lead window,
      // min(gap, 8)); ppm in integer division — all arithmetic exact.
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '') AS t
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id,
        |    unnest(generate_series(1, greatest(len(t) - 7, 0))) AS pos,
        |    unnest(list_transform(generate_series(1, greatest(len(t) - 7, 0)),
        |      i -> substr(md5(array_to_string(t[i:i+7], ' ')), 1, 16))) AS g
        |  FROM toks),
        |dup AS (
        |  SELECT g FROM grams GROUP BY g
        |  HAVING COUNT(DISTINCT doc_id) >= 2),
        |cover AS (
        |  SELECT doc_id,
        |    LEAST(COALESCE(
        |      LEAD(pos) OVER (PARTITION BY doc_id ORDER BY pos) - pos, 8), 8)
        |      AS c
        |  FROM grams JOIN dup USING (g)),
        |agg AS (
        |  SELECT doc_id, COUNT(*) AS dup_spans,
        |    CAST(SUM(c) AS BIGINT) AS dup_tokens
        |  FROM cover GROUP BY doc_id)
        |SELECT t.doc_id, CAST(len(t.t) AS BIGINT) AS n_tokens,
        |  COALESCE(a.dup_spans, 0) AS dup_spans,
        |  COALESCE(a.dup_tokens, 0) AS dup_tokens,
        |  CASE WHEN len(t.t) > 0
        |       THEN COALESCE(a.dup_tokens, 0) * 1000000 // len(t.t)
        |       ELSE 0 END AS dup_ppm
        |FROM toks t LEFT JOIN agg a USING (doc_id)
        |ORDER BY t.doc_id""".stripMargin,

    "q78_containment" -> containmentSql,
    // q121/q122 are q78's EXACT output via the one-sided prefix bound —
    // one oracle text, three engine paths (classic shared stage, auto
    // verify, forced no-broadcast merge verify)
    "q121_containment_prefix" -> containmentSql,
    "q122_containment_prefix_merge" -> containmentSql,

    "q79_hard_negatives" ->
      // q26's chain with the label-mismatch predicate; label read straight
      // off the embeddings table (n carries vec_id 1:1).
      (s"""WITH $vecsCte,
        |lab AS (SELECT vec_id, label FROM embeddings),
        |q AS (
        |  SELECT n.vec_id, n.v, n.norm, lab.label
        |  FROM n JOIN lab USING (vec_id) WHERE n.vec_id % 100 = 0),
        |b AS (
        |  SELECT n.vec_id, n.v, n.norm, lab.label
        |  FROM n JOIN lab USING (vec_id)),
        |sc AS (
        |  SELECT q.vec_id AS q_id, q.label AS q_label,
        |    b.vec_id AS neighbor, b.label AS neg_label,
        |    ROUND(list_dot_product(q.v, b.v) / q.norm / b.norm, 6) AS cos
        |  FROM q JOIN b ON q.vec_id <> b.vec_id AND q.label <> b.label),
        |r2 AS (
        |  SELECT q_id, q_label, neighbor, neg_label, cos,
        |    CAST(ROW_NUMBER()
        |      OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor)
        |      AS INTEGER) AS rank
        |  FROM sc)
        |SELECT q_id, q_label, rank, neighbor, neg_label, cos
        |FROM r2 WHERE rank <= 5
        |ORDER BY q_id, rank""".stripMargin),

    "q80_rrf_fusion" ->
      // BM25 ranks from the shared q75 chain; cosine ranks of query vec 0;
      // fusion in scaled-integer arithmetic (1e12 // (60+rank), absent
      // list contributes 0) so score and order are engine-exact.
      (s"""WITH $bm25RanksCte,
        |$vecsCte,
        |cq AS (SELECT vec_id, v, norm FROM n WHERE vec_id = 0),
        |ct AS (
        |  SELECT b.vec_id AS doc_id,
        |    ROUND(list_dot_product(cq.v, b.v) / cq.norm / b.norm, 6) AS cos
        |  FROM cq JOIN n b ON cq.vec_id <> b.vec_id
        |  ORDER BY cos DESC, doc_id LIMIT 20),
        |cr AS (
        |  SELECT doc_id,
        |    CAST(ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id) AS INTEGER)
        |      AS cos_rank
        |  FROM ct),
        |br AS (SELECT doc_id, rank AS bm25_rank FROM r WHERE rank <= 20),
        |fused AS (
        |  SELECT COALESCE(br.doc_id, cr.doc_id) AS doc_id,
        |    br.bm25_rank, cr.cos_rank,
        |    COALESCE(1000000000000 // (60 + br.bm25_rank), 0) +
        |    COALESCE(1000000000000 // (60 + cr.cos_rank), 0) AS rrf_score
        |  FROM br FULL OUTER JOIN cr ON br.doc_id = cr.doc_id),
        |top AS (
        |  SELECT * FROM fused ORDER BY rrf_score DESC, doc_id LIMIT 10)
        |SELECT
        |  CAST(ROW_NUMBER() OVER (ORDER BY rrf_score DESC, doc_id)
        |    AS INTEGER) AS rank,
        |  doc_id, bm25_rank, cos_rank, rrf_score
        |FROM top ORDER BY rank""".stripMargin),

    "q81_curation_funnel" -> curationFunnelSql,

    "q82_cluster_terms" ->
      // q73's unrolled Lloyd chain (af = final assignment over the valid
      // vectors), joined to the token explode; top-3 per cluster by count
      // with the term-string tie-break.
      (s"""WITH ${kmeansCte(8, 3)},
        |terms AS (
        |  SELECT doc_id,
        |    unnest(list_filter(regexp_split_to_array(text, '\\s+'),
        |      t -> t <> '')) AS term
        |  FROM documents),
        |ct AS (
        |  SELECT af.cluster, t.term, COUNT(*) AS term_count
        |  FROM af JOIN terms t ON af.vec_id = t.doc_id
        |  GROUP BY 1, 2),
        |sz AS (SELECT cluster, COUNT(*) AS n_vecs FROM af GROUP BY cluster),
        |rk AS (
        |  SELECT cluster, term, term_count,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY cluster
        |      ORDER BY term_count DESC, term) AS INTEGER) AS rank
        |  FROM ct)
        |SELECT rk.cluster, rk.rank, rk.term, rk.term_count, sz.n_vecs
        |FROM rk JOIN sz USING (cluster)
        |WHERE rank <= 3
        |ORDER BY cluster, rank""".stripMargin),

    "q83_media_phash" ->
      // Blockhash fingerprint (Multimodal.blockhashOf, 60 blocks): per-char
      // codepoint signal (ord == Spark's ascii on the ASCII payloads), block
      // of position p (1-based) = (p-1)*60 div n, bit b set iff
      // 60*block_sum > record_total (integer-scaled mean test — engine-
      // stable), assembled exactly like the simhash fp (POWER-of-2 sum).
      (s"""WITH $blockhashCte
        |SELECT doc_id, phash FROM ph ORDER BY doc_id""".stripMargin),

    "q84_media_neardup" ->
      // The oracle scores ALL pairs; the engine's 4x15-band blocking is
      // exact for dist <= 3 by pigeonhole, so the results coincide.
      (s"""WITH $blockhashCte
        |SELECT a.doc_id AS d1, b.doc_id AS d2,
        |  CAST(bit_count(xor(a.phash, b.phash)) AS INTEGER) AS dist
        |FROM ph a JOIN ph b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.phash, b.phash)) <= 3
        |ORDER BY d1, d2""".stripMargin),

    "q85_media_clusters" ->
      // q84's pair set fed to the recursive-reachability components CTE
      // (the q50/q68 oracle pattern); unpaired and unfingerprinted docs
      // surface as singletons via the LEFT JOIN.
      (s"""WITH RECURSIVE $blockhashCte,
        |pairs AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2
        |  FROM ph a JOIN ph b ON a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.phash, b.phash)) <= 3),
        |${ccCte("doc_id")}
        |SELECT d.doc_id,
        |  COALESCE(c.cluster, d.doc_id) AS cluster,
        |  CASE WHEN COALESCE(c.cluster, d.doc_id) = d.doc_id
        |       THEN 1 ELSE 0 END AS keep
        |FROM documents d LEFT JOIN comp c USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin),

    "q86_crossmodal_dedup" ->
      // q50's text pair CTE (`pairs`) UNION q85's media pair set, one
      // reachability contraction over the joint edge set; per-modality
      // participant sets yield n_modalities (0 = never paired anywhere).
      (s"""WITH RECURSIVE $ngramPairsCte,
        |$blockhashCte,
        |mpairs AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2
        |  FROM ph a JOIN ph b ON a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.phash, b.phash)) <= 3),
        |allpairs AS (
        |  SELECT d1, d2 FROM pairs UNION SELECT d1, d2 FROM mpairs),
        |${ccCte("doc_id", "allpairs")},
        |tdoc AS (SELECT DISTINCT doc_id FROM (
        |  SELECT d1 AS doc_id FROM pairs UNION ALL SELECT d2 FROM pairs)),
        |mdoc AS (SELECT DISTINCT doc_id FROM (
        |  SELECT d1 AS doc_id FROM mpairs UNION ALL SELECT d2 FROM mpairs))
        |SELECT d.doc_id,
        |  COALESCE(c.cluster, d.doc_id) AS cluster,
        |  CASE WHEN COALESCE(c.cluster, d.doc_id) = d.doc_id
        |       THEN 1 ELSE 0 END AS keep,
        |  (CASE WHEN t.doc_id IS NOT NULL THEN 1 ELSE 0 END
        |   + CASE WHEN m.doc_id IS NOT NULL THEN 1 ELSE 0 END)
        |    AS n_modalities
        |FROM documents d
        |LEFT JOIN comp c USING (doc_id)
        |LEFT JOIN tdoc t USING (doc_id)
        |LEFT JOIN mdoc m USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin),

    "q87_incremental_dedup" -> incrementalDedupSql,
    // The streamed funnel's final cumulative frame must equal the batch
    // funnel — same oracle, verbatim (see curationFunnelSql).
    "q88_stream_funnel" -> curationFunnelSql,

    "q89_token_merges" ->
      // Adjacent pairs as 't1 t2' strings (tokens are whitespace-split so
      // the space is a safe separator); conditional probabilities are one
      // bigint division rounded to 6 decimals — the repo's cross-engine
      // float contract.
      """WITH toks AS (
        |  SELECT list_filter(regexp_split_to_array(text, '\s+'),
        |    t -> t <> '') AS t
        |  FROM documents),
        |bp AS (
        |  SELECT split_part(pr, ' ', 1) AS t1, split_part(pr, ' ', 2) AS t2
        |  FROM (SELECT unnest(list_transform(range(len(t) - 1),
        |          i -> t[i+1] || ' ' || t[i+2])) AS pr FROM toks)),
        |pc AS (SELECT t1, t2, COUNT(*) AS pair_count FROM bp GROUP BY 1, 2),
        |uc AS (SELECT term, COUNT(*) AS c FROM
        |  (SELECT unnest(t) AS term FROM toks) GROUP BY term),
        |r AS (
        |  SELECT t1, t2, pair_count,
        |    CAST(ROW_NUMBER() OVER (ORDER BY pair_count DESC, t1, t2)
        |         AS INTEGER) AS rank
        |  FROM pc)
        |SELECT rank, t1, t2, pair_count, u1.c AS c1, u2.c AS c2,
        |  ROUND(pair_count * 1.0 / u1.c, 6) AS p_next,
        |  ROUND(pair_count * 1.0 / u2.c, 6) AS p_prev
        |FROM r
        |JOIN uc u1 ON t1 = u1.term
        |JOIN uc u2 ON t2 = u2.term
        |WHERE rank <= 20
        |ORDER BY rank""".stripMargin,

    "q90_scene_cuts" ->
      // q83's blockhash formula at FRAME granularity (128-char frames;
      // frame index / in-frame position / frame length all derived from
      // the global 1-based position), lag + bit_count for consecutive
      // distances, cut threshold 25. A NULL lag (frame 0) falls to the
      // ELSE arm exactly like Spark's `when`.
      """WITH pc AS (
        |  SELECT doc_id, text, n, unnest(range(1, n + 1)) AS pos
        |  FROM (SELECT doc_id, text, length(text) AS n FROM documents
        |        WHERE text IS NOT NULL AND length(text) > 0)),
        |fr AS (
        |  SELECT doc_id, pos, text,
        |    (pos - 1) // 128 AS f,
        |    ((pos - 1) % 128) * 60 //
        |      LEAST(n - ((pos - 1) // 128) * 128, 128) AS blk
        |  FROM pc),
        |bs AS (
        |  SELECT doc_id, f, blk,
        |    SUM(ord(substr(text, CAST(pos AS INTEGER), 1))) AS s
        |  FROM fr GROUP BY doc_id, f, blk),
        |tot AS (SELECT doc_id, f, SUM(s) AS total FROM bs GROUP BY doc_id, f),
        |fh AS (
        |  SELECT bs.doc_id, bs.f,
        |    CAST(SUM(CASE WHEN 60 * s > total THEN CAST(POWER(2, blk) AS BIGINT)
        |             ELSE 0 END) AS BIGINT) AS fh
        |  FROM bs JOIN tot ON bs.doc_id = tot.doc_id AND bs.f = tot.f
        |  GROUP BY bs.doc_id, bs.f),
        |d AS (
        |  SELECT doc_id, f, fh,
        |    lag(fh) OVER (PARTITION BY doc_id ORDER BY f) AS ph
        |  FROM fh)
        |SELECT doc_id,
        |  COUNT(*) AS n_frames,
        |  CAST(SUM(CASE WHEN bit_count(xor(fh, ph)) > 25 THEN 1 ELSE 0 END)
        |       AS BIGINT) AS n_cuts,
        |  CAST(SUM(CASE WHEN bit_count(xor(fh, ph)) > 25 THEN 1 ELSE 0 END)
        |       + 1 AS BIGINT) AS n_scenes,
        |  CAST(MAX(COALESCE(bit_count(xor(fh, ph)), 0)) AS INTEGER)
        |    AS max_dist
        |FROM d GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q91_shingle_novelty" ->
      // first-seen = global MIN(doc_id) per shingle; novelty = the novel
      // fraction rounded to 6 decimals (NULL where a doc has no shingles,
      // matching Spark's otherwise-less `when`).
      (s"""WITH $shinglesCte,
        |fs AS (SELECT s, MIN(doc_id) AS first_doc FROM sh GROUP BY s),
        |per AS (
        |  SELECT sh.doc_id, COUNT(*) AS n_sh,
        |    CAST(SUM(CASE WHEN fs.first_doc = sh.doc_id THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_nov
        |  FROM sh JOIN fs USING (s) GROUP BY sh.doc_id)
        |SELECT d.doc_id,
        |  CAST(COALESCE(per.n_sh, 0) AS BIGINT) AS n_shingles,
        |  CAST(COALESCE(per.n_nov, 0) AS BIGINT) AS n_novel,
        |  CASE WHEN COALESCE(per.n_sh, 0) > 0
        |       THEN ROUND(per.n_nov * 1.0 / per.n_sh, 6) END AS novelty
        |FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
        |ORDER BY d.doc_id""".stripMargin),

    "q92_token_yield" ->
      // q35's loser set (the shared pairs chain), token counts as a
      // per-row list length, one per-source rollup.
      (s"""WITH $ngramPairsCte,
        |losers AS (SELECT DISTINCT d2 AS doc_id FROM pairs),
        |tk AS (
        |  SELECT doc_id, source,
        |    len(list_filter(regexp_split_to_array(text, '\\s+'),
        |        t -> t <> '')) AS n_tokens
        |  FROM documents)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN l.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_kept,
        |  CAST(SUM(n_tokens) AS BIGINT) AS tokens_total,
        |  CAST(SUM(CASE WHEN l.doc_id IS NULL THEN n_tokens ELSE 0 END)
        |       AS BIGINT) AS tokens_kept,
        |  CASE WHEN SUM(n_tokens) > 0 THEN
        |    ROUND(SUM(CASE WHEN l.doc_id IS NULL THEN n_tokens ELSE 0 END)
        |          * 1.0 / SUM(n_tokens), 6) END AS token_yield
        |FROM tk LEFT JOIN losers l ON tk.doc_id = l.doc_id
        |GROUP BY source ORDER BY source""".stripMargin),

    "q93_dataset_card" ->
      // Composition of oracle-exact per-doc frames: q29's quality
      // arithmetic (decimal-sum of the 6-dp rounding, ONE double
      // division — the q19 avg pattern), q35's loser set, whitespace
      // token counts; one per-source rollup.
      (s"""WITH $ngramPairsCte,
        |losers AS (SELECT DISTINCT d2 AS doc_id FROM pairs),
        |q AS (
        |  SELECT d.doc_id,
        |    LEAST(1.0, GREATEST(0.0,
        |      0.2
        |      + len(list_filter(t.t,
        |          x -> x IN ('the','a','of','and','to','is')))
        |        * 1.0 / len(t.t) * 2.0
        |      + len(list_distinct(t.t)) * 1.0 / len(t.t) * 0.5
        |      - length(regexp_replace(d.text, '[a-z0-9\\s]', '', 'g'))
        |        * 1.0 / length(d.text) * 3.0)) AS quality
        |  FROM documents d JOIN toks t USING (doc_id)),
        |tk AS (
        |  SELECT doc_id, source, lang, n_chars,
        |    len(list_filter(regexp_split_to_array(text, '\\s+'),
        |        t -> t <> '')) AS n_tokens
        |  FROM documents)
        |SELECT tk.source,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
        |  CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
        |  ROUND(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) * 1.0
        |        / COUNT(*), 6) AS pct_en,
        |  CAST(SUM(CAST(ROUND(q.quality, 6) AS DECIMAL(18,6))) AS DOUBLE)
        |    / COUNT(*) AS avg_quality,
        |  ROUND(SUM(CASE WHEN l.doc_id IS NOT NULL THEN 1 ELSE 0 END) * 1.0
        |        / COUNT(*), 6) AS dup_rate,
        |  CAST(MIN(n_chars) AS BIGINT) AS min_chars,
        |  CAST(MAX(n_chars) AS BIGINT) AS max_chars
        |FROM tk
        |JOIN q ON tk.doc_id = q.doc_id
        |LEFT JOIN losers l ON tk.doc_id = l.doc_id
        |GROUP BY tk.source ORDER BY tk.source""".stripMargin),

    // The persisted-index path must produce identical verdicts to q87 —
    // same oracle, verbatim (see incrementalDedupSql).
    "q94_index_dedup" -> incrementalDedupSql,

    "q95_token_budget" ->
      // q29's quality arithmetic verbatim (oracle-bit-equal, so the rank
      // order and the integer budget boundary cannot diverge); one
      // running-sum window per source.
      """WITH tq AS (
        |  SELECT doc_id, source,
        |    len(list_filter(regexp_split_to_array(text, '\s+'),
        |        t -> t <> '')) AS n_tokens,
        |    LEAST(1.0, GREATEST(0.0,
        |      0.2
        |      + len(list_filter(list_filter(regexp_split_to_array(text, '\s+'),
        |            t -> t <> ''),
        |          x -> x IN ('the','a','of','and','to','is')))
        |        * 1.0 / len(list_filter(regexp_split_to_array(text, '\s+'),
        |            t -> t <> '')) * 2.0
        |      + len(list_distinct(list_filter(regexp_split_to_array(text, '\s+'),
        |            t -> t <> '')))
        |        * 1.0 / len(list_filter(regexp_split_to_array(text, '\s+'),
        |            t -> t <> '')) * 0.5
        |      - length(regexp_replace(text, '[a-z0-9\s]', '', 'g'))
        |        * 1.0 / length(text) * 3.0)) AS quality
        |  FROM documents),
        |w AS (
        |  SELECT source, doc_id, n_tokens, quality,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY quality DESC, doc_id) AS rn,
        |    SUM(n_tokens) OVER (PARTITION BY source
        |      ORDER BY quality DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM tq WHERE n_tokens > 0)
        |SELECT source, CAST(rn AS INTEGER) AS rn, doc_id,
        |  CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(cum AS BIGINT) AS cum_tokens,
        |  ROUND(quality, 6) AS quality
        |FROM w WHERE cum <= 500
        |ORDER BY source, rn""".stripMargin,

    "q96_train_order" ->
      // the q64 md5-bucket idiom with an 'ord:' salt; per-shard rank.
      """WITH k AS (
        |  SELECT doc_id, source,
        |    md5('ord:' || CAST(doc_id AS VARCHAR)) AS ord_key
        |  FROM documents)
        |SELECT
        |  CAST(('0x' || substr(ord_key, 1, 15))::BIGINT % 16 AS INTEGER)
        |    AS shard,
        |  CAST(ROW_NUMBER() OVER (
        |    PARTITION BY ('0x' || substr(ord_key, 1, 15))::BIGINT % 16
        |    ORDER BY ord_key, doc_id) AS BIGINT) AS pos,
        |  doc_id, source
        |FROM k
        |ORDER BY shard, pos""".stripMargin,

    "q97_dim_stats" ->
      // per-dim rollup of exact float->double casts; mean/RMS via the
      // engine's decimal-sum rule (x2 is exact in a double: 24-bit float
      // mantissas square into 48 <= 53 bits), ONE double division/sqrt.
      (s"""WITH $vecsCte,
        |x AS (
        |  SELECT vec_id, d AS dim, v[d + 1] AS x
        |  FROM (
        |    SELECT vec_id, v, unnest(range(len(v))) AS d
        |    FROM n
        |    WHERE v IS NOT NULL
        |      AND len(list_filter(v, e -> e IS NULL)) = 0))
        |SELECT CAST(dim AS INTEGER) AS dim,
        |  COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN x = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
        |  MIN(x) AS vmin, MAX(x) AS vmax, MAX(abs(x)) AS max_abs,
        |  ROUND(CAST(SUM(CAST(x AS DECIMAL(28,14))) AS DOUBLE)
        |        / COUNT(*), 6) AS mean,
        |  ROUND(sqrt(CAST(SUM(CAST(x * x AS DECIMAL(38,18))) AS DOUBLE)
        |        / COUNT(*)), 6) AS rms
        |FROM x GROUP BY dim ORDER BY dim""".stripMargin),

    "q98_boilerplate" ->
      // shingle df rollup joined back per doc — the sh CTE is the shared
      // shingle grammar, so the ratio's numerator is exactly the text the
      // q21 maxDf gate would classify as common.
      (s"""WITH $shinglesCte,
        |df AS (SELECT s, COUNT(*) AS df FROM sh GROUP BY s)
        |SELECT sh.doc_id, COUNT(*) AS n_grams,
        |  CAST(SUM(CASE WHEN df.df >= 3 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_common,
        |  ROUND(SUM(CASE WHEN df.df >= 3 THEN 1 ELSE 0 END) * 1.0
        |        / COUNT(*), 6) AS boilerplate_ratio
        |FROM sh JOIN df USING (s)
        |GROUP BY sh.doc_id ORDER BY sh.doc_id""".stripMargin),

    "q99_stream_index_dedup" ->
      // the streamed replay's verdicts are per-doc-state only (bands +
      // digests, no corpus-relative gate), so the batch twin is direct:
      // an incoming doc (mod 10) is a dup iff it shares a digest or an
      // LSH band bucket with a shipped doc (any id) or a smaller-id
      // incoming doc — the q22 band grammar, the q87 precedence rules.
      (s"""WITH $minhashSigCte,
        |bands AS (
        |  SELECT doc_id, 0 AS band, md5(s0 || s1) AS bh FROM sig
        |  UNION ALL SELECT doc_id, 1, md5(s2 || s3) FROM sig
        |  UNION ALL SELECT doc_id, 2, md5(s4 || s5) FROM sig
        |  UNION ALL SELECT doc_id, 3, md5(s6 || s7) FROM sig),
        |hx AS (SELECT doc_id, md5(text) AS h FROM documents),
        |ex AS (
        |  SELECT DISTINCT n.doc_id FROM hx n JOIN hx o ON n.h = o.h
        |    AND n.doc_id <> o.doc_id
        |    AND (o.doc_id % 10 <> 0 OR o.doc_id < n.doc_id)
        |  WHERE n.doc_id % 10 = 0),
        |bd AS (
        |  SELECT DISTINCT n.doc_id FROM bands n JOIN bands o
        |    ON n.band = o.band AND n.bh = o.bh AND n.doc_id <> o.doc_id
        |    AND (o.doc_id % 10 <> 0 OR o.doc_id < n.doc_id)
        |  WHERE n.doc_id % 10 = 0)
        |SELECT d.doc_id,
        |  CASE WHEN ex.doc_id IS NOT NULL THEN 1 ELSE 0 END AS exact_dup,
        |  CASE WHEN bd.doc_id IS NOT NULL THEN 1 ELSE 0 END AS band_dup,
        |  CASE WHEN ex.doc_id IS NOT NULL OR bd.doc_id IS NOT NULL
        |       THEN 0 ELSE 1 END AS keep
        |FROM documents d
        |LEFT JOIN ex ON d.doc_id = ex.doc_id
        |LEFT JOIN bd ON d.doc_id = bd.doc_id
        |WHERE d.doc_id % 10 = 0
        |ORDER BY d.doc_id""".stripMargin),

    "q100_snapshot_diff" ->
      // the derived "next crawl" (drop mod-11, revise mod-7, add mod-13
      // at +1e6) diffed against base by content digest.
      """WITH nxt AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 2 THEN text || ' rev2' ELSE text END
        |      AS text
        |  FROM documents WHERE doc_id % 11 <> 3
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text || ' new' AS text
        |  FROM documents WHERE doc_id % 13 = 5),
        |b AS (SELECT doc_id, md5(text) AS base_fp FROM documents),
        |n AS (SELECT doc_id, md5(text) AS next_fp FROM nxt)
        |SELECT COALESCE(b.doc_id, n.doc_id) AS doc_id,
        |  CASE WHEN b.doc_id IS NULL THEN 'added'
        |       WHEN n.doc_id IS NULL THEN 'removed'
        |       ELSE 'changed' END AS status,
        |  COALESCE(base_fp, '') AS base_fp,
        |  COALESCE(next_fp, '') AS next_fp
        |FROM b FULL OUTER JOIN n ON b.doc_id = n.doc_id
        |WHERE b.doc_id IS NULL OR n.doc_id IS NULL OR base_fp <> next_fp
        |ORDER BY doc_id""".stripMargin,

    "q101_term_drift" ->
      // the q70 ln protocol: per-term contribution quantized to
      // DECIMAL(28,14) before the order-free per-source sum, one double
      // conversion, 6-dp round; double op order mirrors the Spark chain.
      """WITH st AS (
        |  SELECT source, tok, COUNT(*) AS cs FROM (
        |    SELECT source,
        |      unnest(list_filter(regexp_split_to_array(text, '\s+'),
        |        t -> t <> '')) AS tok
        |    FROM documents)
        |  GROUP BY source, tok),
        |ct AS (SELECT tok, CAST(SUM(cs) AS BIGINT) AS cc FROM st GROUP BY tok),
        |stot AS (
        |  SELECT source, CAST(SUM(cs) AS BIGINT) AS ts,
        |    COUNT(*) AS n_terms
        |  FROM st GROUP BY source),
        |ctot AS (SELECT CAST(SUM(cc) AS DOUBLE) AS tc FROM ct)
        |SELECT st.source, stot.ts AS n_tokens, stot.n_terms AS n_terms,
        |  ROUND(CAST(SUM(CAST(
        |    (CAST(cs AS DOUBLE) / CAST(ts AS DOUBLE)) *
        |    ln((CAST(cs AS DOUBLE) * tc) /
        |       (CAST(cc AS DOUBLE) * CAST(ts AS DOUBLE)))
        |    AS DECIMAL(28,14))) AS DOUBLE), 6) AS kl_divergence
        |FROM st JOIN ct USING (tok) JOIN stot USING (source), ctot
        |GROUP BY st.source, stot.ts, stot.n_terms
        |ORDER BY source""".stripMargin,

    "q102_column_audit" ->
      // one per-column aggregate each, unioned — min/max taken on the
      // native type THEN rendered as VARCHAR (lexicographic min of a
      // numeric column would be wrong).
      """SELECT * FROM (
        |  SELECT 'doc_id' AS col_name, COUNT(*) AS n_rows,
        |    CAST(COALESCE(SUM(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_null,
        |    COUNT(DISTINCT doc_id) AS n_distinct,
        |    CAST(MIN(doc_id) AS VARCHAR) AS vmin,
        |    CAST(MAX(doc_id) AS VARCHAR) AS vmax
        |  FROM documents
        |  UNION ALL
        |  SELECT 'text', COUNT(*),
        |    CAST(COALESCE(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT),
        |    COUNT(DISTINCT text), MIN(text), MAX(text)
        |  FROM documents
        |  UNION ALL
        |  SELECT 'lang', COUNT(*),
        |    CAST(COALESCE(SUM(CASE WHEN lang IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT),
        |    COUNT(DISTINCT lang), MIN(lang), MAX(lang)
        |  FROM documents
        |  UNION ALL
        |  SELECT 'source', COUNT(*),
        |    CAST(COALESCE(SUM(CASE WHEN source IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT),
        |    COUNT(DISTINCT source), MIN(source), MAX(source)
        |  FROM documents
        |  UNION ALL
        |  SELECT 'n_chars', COUNT(*),
        |    CAST(COALESCE(SUM(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT),
        |    COUNT(DISTINCT n_chars),
        |    CAST(MIN(n_chars) AS VARCHAR), CAST(MAX(n_chars) AS VARCHAR)
        |  FROM documents)
        |ORDER BY col_name""".stripMargin,

    "q103_pmi_cooc" ->
      // pairs within a +/-2 positional window, unordered-normalized;
      // PMI is one ln() per OUTPUT row (q70 carve-out) over integer
      // counts and one-row double totals — no shuffled double sums.
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '') AS t
        |  FROM documents),
        |pr AS (
        |  SELECT LEAST(t[i], t[j]) AS w1, GREATEST(t[i], t[j]) AS w2
        |  FROM (
        |    SELECT t, i, unnest(range(i + 1, LEAST(i + 2, len(t)) + 1)) AS j
        |    FROM (
        |      SELECT t, unnest(range(1, len(t))) AS i
        |      FROM toks WHERE len(t) >= 2))),
        |pc AS (SELECT w1, w2, COUNT(*) AS pair_count FROM pr GROUP BY w1, w2),
        |tp AS (SELECT CAST(SUM(pair_count) AS DOUBLE) AS tp FROM pc),
        |uni AS (
        |  SELECT w, COUNT(*) AS c
        |  FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w),
        |tt AS (SELECT CAST(SUM(c) AS DOUBLE) AS tt FROM uni),
        |top AS (
        |  SELECT w1, w2, pair_count,
        |    ROW_NUMBER() OVER (ORDER BY pair_count DESC, w1, w2) AS rank
        |  FROM pc QUALIFY rank <= 20)
        |SELECT CAST(rank AS INTEGER) AS rank, w1, w2, pair_count,
        |  u1.c AS c1, u2.c AS c2,
        |  ROUND(ln((CAST(pair_count AS DOUBLE) / tp) /
        |    ((CAST(u1.c AS DOUBLE) / tt) * (CAST(u2.c AS DOUBLE) / tt))), 6)
        |    AS pmi
        |FROM top
        |JOIN uni u1 ON top.w1 = u1.w
        |JOIN uni u2 ON top.w2 = u2.w, tp, tt
        |ORDER BY rank""".stripMargin,

    "q104_jl_projection" ->
      // the q97 decimal protocol: each x*s(j,d) product quantized to
      // DECIMAL(28,14) before the order-free (vec, j) sum; sign from the
      // top bit of md5(j:d)'s first hex digit; one double division by
      // sqrt(16) = 4.0.
      """WITH val AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings
        |  WHERE embedding IS NOT NULL
        |    AND len(list_filter(embedding, e -> e IS NULL)) = 0),
        |x AS (
        |  SELECT vec_id, d, v[d + 1] AS x, j
        |  FROM (SELECT vec_id, v, unnest(range(len(v))) AS d FROM val),
        |       (SELECT unnest(range(16)) AS j)),
        |p AS (
        |  SELECT vec_id, j,
        |    SUM(CAST(x * (CASE WHEN substr(md5(concat(j, ':', d)), 1, 1)
        |        IN ('0','1','2','3','4','5','6','7')
        |        THEN 1.0 ELSE -1.0 END) AS DECIMAL(28,14))) AS acc
        |  FROM x GROUP BY vec_id, j)
        |SELECT vec_id, CAST(j AS INTEGER) AS j,
        |  ROUND(CAST(acc AS DOUBLE) / 4.0, 6) AS y
        |FROM p ORDER BY vec_id, j""".stripMargin,

    "q105_threshold_sweep" ->
      // the q21 candidate chain WITHOUT its fixed threshold; each pair
      // tags every ladder rung its rounded Jaccard clears.
      (s"""WITH $shinglesCte,
        |docLen AS (SELECT doc_id, COUNT(*) AS c FROM sh GROUP BY doc_id),
        |rare AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= 100),
        |idx AS (SELECT sh.doc_id, sh.s FROM sh JOIN rare USING (s)),
        |inter AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i
        |  FROM idx a JOIN idx b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |jd AS (
        |  SELECT d1, d2, ROUND(i * 1.0 / (ca.c + cb.c - i), 6) AS jaccard
        |  FROM inter
        |  JOIN docLen ca ON d1 = ca.doc_id
        |  JOIN docLen cb ON d2 = cb.doc_id),
        |th AS (
        |  SELECT CAST(unnest([0.5, 0.6, 0.7, 0.8, 0.9]) AS DOUBLE)
        |    AS threshold),
        |tagged AS (
        |  SELECT threshold, d1, d2 FROM jd, th WHERE jaccard >= threshold),
        |pa AS (
        |  SELECT threshold, COUNT(*) AS n_pairs,
        |    COUNT(DISTINCT d2) AS n_losers
        |  FROM tagged GROUP BY threshold),
        |da AS (
        |  SELECT threshold, COUNT(DISTINCT doc) AS n_docs FROM (
        |    SELECT threshold, d1 AS doc FROM tagged
        |    UNION ALL SELECT threshold, d2 FROM tagged)
        |  GROUP BY threshold)
        |SELECT pa.threshold, n_pairs, n_docs, n_losers
        |FROM pa JOIN da USING (threshold)
        |ORDER BY threshold""".stripMargin),

    "q123_sweep_sampled" ->
      // q105's chain over the md5-bucket doc sample (f = 0.5: bucket <
      // 500000 of 1e6, the q112 hex-cast idiom), df cap scaled to
      // round(f*100) = 50, plus the 1/f^2 pair estimate and its 1/sqrt(n)
      // relative standard error.
      (s"""WITH $shinglesCte,
        |shS AS (
        |  SELECT doc_id, s FROM sh
        |  WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
        |    ::BIGINT % 1000000 < 500000),
        |docLen AS (SELECT doc_id, COUNT(*) AS c FROM shS GROUP BY doc_id),
        |rare AS (SELECT s FROM shS GROUP BY s HAVING COUNT(*) <= 50),
        |idx AS (SELECT shS.doc_id, shS.s FROM shS JOIN rare USING (s)),
        |inter AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i
        |  FROM idx a JOIN idx b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |jd AS (
        |  SELECT d1, d2, ROUND(i * 1.0 / (ca.c + cb.c - i), 6) AS jaccard
        |  FROM inter
        |  JOIN docLen ca ON d1 = ca.doc_id
        |  JOIN docLen cb ON d2 = cb.doc_id),
        |th AS (
        |  SELECT CAST(unnest([0.5, 0.6, 0.7, 0.8, 0.9]) AS DOUBLE)
        |    AS threshold),
        |tagged AS (
        |  SELECT threshold, d1, d2 FROM jd, th WHERE jaccard >= threshold),
        |pa AS (
        |  SELECT threshold, COUNT(*) AS n_pairs,
        |    COUNT(DISTINCT d2) AS n_losers
        |  FROM tagged GROUP BY threshold),
        |da AS (
        |  SELECT threshold, COUNT(DISTINCT doc) AS n_docs FROM (
        |    SELECT threshold, d1 AS doc FROM tagged
        |    UNION ALL SELECT threshold, d2 FROM tagged)
        |  GROUP BY threshold)
        |SELECT pa.threshold, n_pairs, n_docs, n_losers,
        |  CAST(ROUND(n_pairs * 1e12 / (500000e0 * 500000e0)) AS BIGINT)
        |    AS n_pairs_est,
        |  CASE WHEN n_pairs > 0
        |       THEN ROUND(1.0 / SQRT(n_pairs), 6) END AS rel_err
        |FROM pa JOIN da USING (threshold)
        |ORDER BY threshold""".stripMargin),

    "q124_minhash_accuracy_sampled" ->
      // q108's chain over the md5-bucket doc sample (f = 0.5, the q123
      // idiom): signatures/bands/shingles are all per-doc, so the
      // sample filter composes with each identically to Spark's.
      (s"""WITH $shinglesCte,
        |shS AS (
        |  SELECT doc_id, s FROM sh
        |  WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
        |    ::BIGINT % 1000000 < 500000),
        |sig AS (
        |  SELECT doc_id,
        |    MIN(md5('0:' || s)) AS s0, MIN(md5('1:' || s)) AS s1,
        |    MIN(md5('2:' || s)) AS s2, MIN(md5('3:' || s)) AS s3,
        |    MIN(md5('4:' || s)) AS s4, MIN(md5('5:' || s)) AS s5,
        |    MIN(md5('6:' || s)) AS s6, MIN(md5('7:' || s)) AS s7
        |  FROM shS GROUP BY doc_id),
        |bands AS (
        |  SELECT doc_id, 0 AS band, md5(s0 || s1) AS bh FROM sig
        |  UNION ALL SELECT doc_id, 1, md5(s2 || s3) FROM sig
        |  UNION ALL SELECT doc_id, 2, md5(s4 || s5) FROM sig
        |  UNION ALL SELECT doc_id, 3, md5(s6 || s7) FROM sig),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
        |docLen AS (SELECT doc_id, COUNT(*) AS c FROM shS GROUP BY doc_id),
        |inter AS (
        |  SELECT cand.d1, cand.d2, COUNT(*) AS i
        |  FROM cand
        |  JOIN shS x ON cand.d1 = x.doc_id
        |  JOIN shS y ON cand.d2 = y.doc_id AND x.s = y.s
        |  GROUP BY cand.d1, cand.d2),
        |est AS (
        |  SELECT cand.d1, cand.d2,
        |    ((sa.s0 = sb.s0)::INT + (sa.s1 = sb.s1)::INT
        |     + (sa.s2 = sb.s2)::INT + (sa.s3 = sb.s3)::INT
        |     + (sa.s4 = sb.s4)::INT + (sa.s5 = sb.s5)::INT
        |     + (sa.s6 = sb.s6)::INT + (sa.s7 = sb.s7)::INT) / 8.0
        |      AS est_jaccard
        |  FROM cand
        |  JOIN sig sa ON cand.d1 = sa.doc_id
        |  JOIN sig sb ON cand.d2 = sb.doc_id)
        |SELECT est.d1, est.d2, est_jaccard,
        |  ROUND(COALESCE(i, 0) * 1.0
        |        / (ca.c + cb.c - COALESCE(i, 0)), 6) AS jaccard,
        |  ROUND(abs(est_jaccard
        |    - ROUND(COALESCE(i, 0) * 1.0
        |            / (ca.c + cb.c - COALESCE(i, 0)), 6)), 6) AS abs_err
        |FROM est
        |LEFT JOIN inter ON est.d1 = inter.d1 AND est.d2 = inter.d2
        |JOIN docLen ca ON est.d1 = ca.doc_id
        |JOIN docLen cb ON est.d2 = cb.doc_id
        |ORDER BY est.d1, est.d2""".stripMargin),

    "q125_lsh_planner_sampled" ->
      // q111's S-curve chain over the sampled sub-corpus (df gate scaled
      // to round(f*100) = 50), plus the 1/f² estimates applied to the
      // already-rounded planner columns with the same double ops.
      (s"""WITH $shinglesCte,
        |shS AS (
        |  SELECT doc_id, s FROM sh
        |  WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
        |    ::BIGINT % 1000000 < 500000),
        |docLen AS (SELECT doc_id, COUNT(*) AS c FROM shS GROUP BY doc_id),
        |rare AS (SELECT s FROM shS GROUP BY s HAVING COUNT(*) <= 50),
        |idx AS (SELECT shS.doc_id, shS.s FROM shS JOIN rare USING (s)),
        |inter AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i
        |  FROM idx a JOIN idx b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |jd AS (
        |  SELECT ROUND(i * 1.0 / (ca.c + cb.c - i), 6) AS j
        |  FROM inter
        |  JOIN docLen ca ON d1 = ca.doc_id
        |  JOIN docLen cb ON d2 = cb.doc_id),
        |jf AS (SELECT j FROM jd WHERE j >= 0.1),
        |probs AS (
        |  SELECT 1 AS bands, 8 AS rows_per_band, j,
        |    1.0 - (1.0 - j*j*j*j*j*j*j*j) AS p FROM jf
        |  UNION ALL SELECT 2, 4, j,
        |    1.0 - (1.0 - j*j*j*j) * (1.0 - j*j*j*j) FROM jf
        |  UNION ALL SELECT 4, 2, j,
        |    1.0 - (1.0 - j*j) * (1.0 - j*j) * (1.0 - j*j) * (1.0 - j*j)
        |    FROM jf
        |  UNION ALL SELECT 8, 1, j,
        |    1.0 - (1.0 - j) * (1.0 - j) * (1.0 - j) * (1.0 - j) * (1.0 - j)
        |      * (1.0 - j) * (1.0 - j) * (1.0 - j) FROM jf),
        |pd AS (
        |  SELECT bands, rows_per_band, j,
        |    CAST(ROUND(p, 9) AS DECIMAL(28,9)) AS p FROM probs),
        |base AS (
        |SELECT bands, rows_per_band,
        |  COUNT(*) AS n_pairs,
        |  CAST(SUM(CASE WHEN j >= 0.8 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_target,
        |  ROUND(CAST(SUM(p) AS DOUBLE), 6) AS exp_candidates,
        |  ROUND(CAST(SUM(CASE WHEN j >= 0.8 THEN p
        |                 ELSE CAST(0 AS DECIMAL(28,9)) END) AS DOUBLE), 6)
        |    AS exp_caught,
        |  CASE WHEN SUM(CASE WHEN j >= 0.8 THEN 1 ELSE 0 END) > 0 THEN
        |  ROUND(CAST(SUM(CASE WHEN j >= 0.8 THEN p
        |                 ELSE CAST(0 AS DECIMAL(28,9)) END) AS DOUBLE)
        |        / CAST(SUM(CASE WHEN j >= 0.8 THEN 1 ELSE 0 END) AS BIGINT),
        |        6) END AS recall
        |FROM pd GROUP BY bands, rows_per_band)
        |SELECT bands, rows_per_band, n_pairs, n_target, exp_candidates,
        |  exp_caught, recall,
        |  CAST(ROUND(n_pairs * 1e12 / (500000e0 * 500000e0)) AS BIGINT)
        |    AS n_pairs_est,
        |  ROUND(exp_candidates * 1e12 / (500000e0 * 500000e0), 6)
        |    AS exp_candidates_est,
        |  ROUND(exp_caught * 1e12 / (500000e0 * 500000e0), 6)
        |    AS exp_caught_est,
        |  CASE WHEN n_pairs > 0
        |       THEN ROUND(1.0 / SQRT(n_pairs), 6) END AS rel_err
        |FROM base ORDER BY bands""".stripMargin),

    "q126_containment_sketch" ->
      // the q78 verify chain gated by the bottom-8-by-md5 sample of each
      // contained doc's df-gated shingles: rank over md5(s) (s IS the
      // 16-hex shingle string here, = Spark's md5(lower-hex(s)) exactly),
      // candidates = bottom-k probing the full gated index, exact
      // integer score. The length filter is omitted — it never drops a
      // qualifying pair, and the exact score subsumes it.
      (s"""WITH $shinglesCte,
        |docLen AS (SELECT doc_id, COUNT(*) AS c FROM sh GROUP BY doc_id),
        |rare AS (SELECT s FROM sh GROUP BY s
        |         HAVING COUNT(*) BETWEEN 2 AND 100),
        |idx AS (SELECT sh.doc_id, sh.s FROM sh JOIN rare USING (s)),
        |rk AS (
        |  SELECT doc_id, s,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY md5(s), s)
        |      AS r
        |  FROM idx),
        |bk AS (SELECT doc_id, s FROM rk WHERE r <= 8),
        |cand AS (
        |  SELECT DISTINCT bk.doc_id AS contained, idx.doc_id AS container
        |  FROM bk JOIN idx ON bk.s = idx.s AND bk.doc_id <> idx.doc_id),
        |inter AS (
        |  SELECT cand.contained, cand.container, COUNT(*) AS i
        |  FROM cand
        |  JOIN idx a ON cand.contained = a.doc_id
        |  JOIN idx b ON cand.container = b.doc_id AND a.s = b.s
        |  GROUP BY 1, 2)
        |SELECT contained, container, i AS n_shared, ca.c AS n_shingles,
        |  i * 1000000 // ca.c AS cont_ppm
        |FROM inter JOIN docLen ca ON contained = ca.doc_id
        |WHERE i * 1000000 // ca.c >= 500000
        |ORDER BY contained, container""".stripMargin),

    "q127_containment_sketch_fp" ->
      // q126's math verbatim over the STRING-KEYED view of the corpus:
      // the engine runs it through the fingerprint dictionary, but its
      // output is in original-id currency and the bottom-k sample ranks
      // shingle hashes (doc-id-independent), so the oracle needs no
      // fingerprint anywhere — the strongest possible check that the
      // dictionary route changes nothing observable.
      ("""WITH docs2 AS (
        |  SELECT 'doc-' || lpad(CAST(doc_id AS VARCHAR), 9, '0')
        |    AS doc_id, text FROM documents),
        |toks2 AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '')
        |      AS t
        |  FROM docs2),
        |sh AS (
        |  SELECT DISTINCT doc_id, s FROM (
        |    SELECT doc_id,
        |      unnest(list_transform(range(len(t) - 2),
        |        i -> substr(md5(t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]), 1, 16))) AS s
        |    FROM toks2)),
        |docLen AS (SELECT doc_id, COUNT(*) AS c FROM sh GROUP BY doc_id),
        |rare AS (SELECT s FROM sh GROUP BY s
        |         HAVING COUNT(*) BETWEEN 2 AND 100),
        |idx AS (SELECT sh.doc_id, sh.s FROM sh JOIN rare USING (s)),
        |rk AS (
        |  SELECT doc_id, s,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY md5(s), s)
        |      AS r
        |  FROM idx),
        |bk AS (SELECT doc_id, s FROM rk WHERE r <= 8),
        |cand AS (
        |  SELECT DISTINCT bk.doc_id AS contained, idx.doc_id AS container
        |  FROM bk JOIN idx ON bk.s = idx.s AND bk.doc_id <> idx.doc_id),
        |inter AS (
        |  SELECT cand.contained, cand.container, COUNT(*) AS i
        |  FROM cand
        |  JOIN idx a ON cand.contained = a.doc_id
        |  JOIN idx b ON cand.container = b.doc_id AND a.s = b.s
        |  GROUP BY 1, 2)
        |SELECT contained, container, i AS n_shared, ca.c AS n_shingles,
        |  i * 1000000 // ca.c AS cont_ppm
        |FROM inter JOIN docLen ca ON contained = ca.doc_id
        |WHERE i * 1000000 // ca.c >= 500000
        |ORDER BY contained, container""".stripMargin),

    "q128_sketch_calibration" ->
      // the MeasuredK recall ladder recomputed from scratch: true pairs
      // of the md5-bucket contained-doc sample (f = 0.5, the q123
      // idiom) through the exact containment math, each pair's minimal
      // catching rank under q126's md5 rank order, per-k recall and its
      // z=2 Wilson lower bound, the chosen minimal width clearing the
      // 0.995 target (k ladder 1..8 — the analytic AutoK width at the
      // defaults, the cap the measurement refines).
      (s"""WITH $shinglesCte,
        |docLen AS (SELECT doc_id, COUNT(*) AS c FROM sh GROUP BY doc_id),
        |rare AS (SELECT s FROM sh GROUP BY s
        |         HAVING COUNT(*) BETWEEN 2 AND 100),
        |idx AS (SELECT sh.doc_id, sh.s FROM sh JOIN rare USING (s)),
        |rk AS (
        |  SELECT doc_id, s,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY md5(s), s)
        |      AS r
        |  FROM idx),
        |samp AS (
        |  SELECT DISTINCT doc_id FROM idx
        |  WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
        |    ::BIGINT % 1000000 < 500000),
        |candS AS (
        |  SELECT DISTINCT a.doc_id AS contained, b.doc_id AS container
        |  FROM idx a JOIN samp ON a.doc_id = samp.doc_id
        |  JOIN idx b ON a.s = b.s AND a.doc_id <> b.doc_id),
        |interS AS (
        |  SELECT candS.contained, candS.container, COUNT(*) AS i
        |  FROM candS
        |  JOIN idx a ON candS.contained = a.doc_id
        |  JOIN idx b ON candS.container = b.doc_id AND a.s = b.s
        |  GROUP BY 1, 2),
        |tp AS (
        |  SELECT interS.contained, interS.container
        |  FROM interS JOIN docLen ca ON contained = ca.doc_id
        |  WHERE i * 1000000 // ca.c >= 500000),
        |rmins AS (
        |  SELECT tp.contained, tp.container, MIN(rk.r) AS rmin
        |  FROM tp
        |  JOIN rk ON tp.contained = rk.doc_id
        |  JOIN idx b ON tp.container = b.doc_id AND rk.s = b.s
        |  GROUP BY 1, 2),
        |ks AS (SELECT CAST(unnest(range(1, 9)) AS INTEGER) AS k),
        |stats AS (
        |  SELECT k, COUNT(*) AS n_pairs,
        |    COUNT(CASE WHEN rmin <= k THEN 1 END) AS caught
        |  FROM rmins, ks GROUP BY k),
        |lad AS (
        |  SELECT ks.k, COALESCE(n_pairs, 0) AS n_pairs,
        |    COALESCE(caught, 0) AS caught
        |  FROM ks LEFT JOIN stats USING (k)),
        |lad2 AS (
        |  SELECT k, n_pairs, caught,
        |    CASE WHEN n_pairs > 0
        |         THEN ROUND(caught * 1.0 / n_pairs, 6) END AS recall,
        |    CASE WHEN n_pairs > 0 THEN ROUND(
        |      (caught + 2.0 - 2.0 * SQRT(
        |        caught * (n_pairs - caught) / n_pairs + 1.0))
        |      / (n_pairs + 4.0), 6) END AS recall_lcb
        |  FROM lad)
        |SELECT k, n_pairs, caught, recall, recall_lcb,
        |  COALESCE(k = (SELECT MIN(k) FROM lad2 WHERE recall_lcb >= 0.995),
        |    FALSE) AS chosen
        |FROM lad2 ORDER BY k""".stripMargin),

    "q106_cluster_sizes" ->
      // the q50 component chain rolled up twice: cluster -> size,
      // size -> (n_clusters, n_docs); singletons ride the COALESCE.
      (s"""WITH RECURSIVE $ngramPairsCte,
        |${ccCte("doc_id")},
        |assigned AS (
        |  SELECT d.doc_id, COALESCE(c.cluster, d.doc_id) AS cluster
        |  FROM documents d LEFT JOIN comp c USING (doc_id)),
        |sizes AS (
        |  SELECT cluster, COUNT(*) AS size FROM assigned GROUP BY cluster)
        |SELECT size, COUNT(*) AS n_clusters,
        |  CAST(SUM(size) AS BIGINT) AS n_docs
        |FROM sizes GROUP BY size ORDER BY size""".stripMargin),

    "q107_lid_confusion" ->
      // the q28 classifier core verbatim, rolled up to (lang, pred_lang)
      // cells with a row-normalized share.
      """WITH toks AS (
        |  SELECT doc_id, lang,
        |    unnest(list_filter(regexp_split_to_array(text, '\s+'),
        |      t -> t <> '')) AS tok
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, lang,
        |    SUM(CASE WHEN tok IN ('the','a','of','and','to','is') THEN 1 ELSE 0 END) AS s_en,
        |    SUM(CASE WHEN tok IN ('der','die','das','und','ist','ein') THEN 1 ELSE 0 END) AS s_de,
        |    SUM(CASE WHEN tok IN ('le','la','et','les','des','un') THEN 1 ELSE 0 END) AS s_fr,
        |    SUM(CASE WHEN tok IN ('el','los','las','y','es','una') THEN 1 ELSE 0 END) AS s_es,
        |    SUM(CASE WHEN tok IN ('的','是','在','了','我','和') THEN 1 ELSE 0 END) AS s_zh
        |  FROM toks GROUP BY doc_id, lang),
        |p AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN s_en = m AND m > 0 THEN 'en'
        |         WHEN s_de = m AND m > 0 THEN 'de'
        |         WHEN s_fr = m AND m > 0 THEN 'fr'
        |         WHEN s_es = m AND m > 0 THEN 'es'
        |         WHEN s_zh = m AND m > 0 THEN 'zh'
        |         ELSE 'und' END AS pred_lang
        |  FROM (SELECT *, GREATEST(s_en, s_de, s_fr, s_es, s_zh) AS m FROM s)),
        |c AS (
        |  SELECT lang, pred_lang, COUNT(*) AS n FROM p
        |  GROUP BY lang, pred_lang),
        |t AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS t FROM c GROUP BY lang)
        |SELECT c.lang, c.pred_lang, c.n AS n,
        |  ROUND(c.n * 1.0 / t.t, 6) AS share
        |FROM c JOIN t USING (lang)
        |ORDER BY lang, pred_lang""".stripMargin,

    "q108_minhash_accuracy" ->
      // q22's band/estimate grammar without its 0.5 floor, joined to the
      // true shingle Jaccard (intersection restricted to candidate docs);
      // est - jaccard arithmetic mirrors the Spark double chain.
      (s"""WITH $minhashSigCte,
        |bands AS (
        |  SELECT doc_id, 0 AS band, md5(s0 || s1) AS bh FROM sig
        |  UNION ALL SELECT doc_id, 1, md5(s2 || s3) FROM sig
        |  UNION ALL SELECT doc_id, 2, md5(s4 || s5) FROM sig
        |  UNION ALL SELECT doc_id, 3, md5(s6 || s7) FROM sig),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
        |docLen AS (SELECT doc_id, COUNT(*) AS c FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT cand.d1, cand.d2, COUNT(*) AS i
        |  FROM cand
        |  JOIN sh x ON cand.d1 = x.doc_id
        |  JOIN sh y ON cand.d2 = y.doc_id AND x.s = y.s
        |  GROUP BY cand.d1, cand.d2),
        |est AS (
        |  SELECT cand.d1, cand.d2,
        |    ((sa.s0 = sb.s0)::INT + (sa.s1 = sb.s1)::INT
        |     + (sa.s2 = sb.s2)::INT + (sa.s3 = sb.s3)::INT
        |     + (sa.s4 = sb.s4)::INT + (sa.s5 = sb.s5)::INT
        |     + (sa.s6 = sb.s6)::INT + (sa.s7 = sb.s7)::INT) / 8.0
        |      AS est_jaccard
        |  FROM cand
        |  JOIN sig sa ON cand.d1 = sa.doc_id
        |  JOIN sig sb ON cand.d2 = sb.doc_id)
        |SELECT est.d1, est.d2, est_jaccard,
        |  ROUND(COALESCE(i, 0) * 1.0
        |        / (ca.c + cb.c - COALESCE(i, 0)), 6) AS jaccard,
        |  ROUND(abs(est_jaccard
        |    - ROUND(COALESCE(i, 0) * 1.0
        |            / (ca.c + cb.c - COALESCE(i, 0)), 6)), 6) AS abs_err
        |FROM est
        |LEFT JOIN inter ON est.d1 = inter.d1 AND est.d2 = inter.d2
        |JOIN docLen ca ON est.d1 = ca.doc_id
        |JOIN docLen cb ON est.d2 = cb.doc_id
        |ORDER BY est.d1, est.d2""".stripMargin),

    "q109_ann_recall" ->
      // the q26 (brute), q27 (LSH) and q38 (IVF) oracle chains verbatim
      // (CTEs renamed where the two approximate chains collide), plus the
      // SAME LSH index re-probed at Hamming-2 radius (flips2 = flips ∪
      // all two-bit masks — the multi-probe knob), rolled up to per-query
      // hit counts against the exact top-5.
      (s"""WITH $vecsCte,
        |q AS (SELECT * FROM n WHERE vec_id % 100 = 0),
        |bsc AS (
        |  SELECT q.vec_id AS q_id, b.vec_id AS neighbor,
        |    ROUND(list_dot_product(q.v, b.v) / q.norm / b.norm, 6) AS cos
        |  FROM q JOIN n b ON q.vec_id <> b.vec_id),
        |br AS (SELECT q_id, neighbor, cos,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor)
        |       AS INTEGER) AS rank FROM bsc),
        |truth AS (SELECT q_id, neighbor FROM br WHERE rank <= 5),
        |planes AS (
        |  SELECT p, list_transform(range(64), d ->
        |    CASE WHEN ('0x' || substr(md5(CAST(p AS VARCHAR) || ':'
        |                || CAST(d AS VARCHAR)), 1, 2))::INT % 2 = 1
        |         THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END) AS pl
        |  FROM (SELECT unnest(range(80)) AS p)),
        |bits AS (
        |  SELECT n.vec_id, p // 10 AS tbl, p % 10 AS b,
        |    CASE WHEN list_dot_product(n.v, pl) > 0 THEN 1 ELSE 0 END AS bit
        |  FROM n, planes WHERE n.v IS NOT NULL
        |    AND len(list_filter(n.v, x -> x IS NULL)) = 0),
        |sigs AS (
        |  SELECT vec_id, tbl,
        |    CAST(SUM(bit * CAST(POWER(2, b) AS BIGINT)) AS BIGINT) AS sig
        |  FROM bits GROUP BY vec_id, tbl),
        |small AS (
        |  SELECT tbl, sig FROM sigs GROUP BY tbl, sig HAVING COUNT(*) <= 2048),
        |idx AS (
        |  SELECT s.vec_id, s.tbl, s.sig FROM sigs s JOIN small USING (tbl, sig)),
        |flips AS (
        |  SELECT CAST(0 AS BIGINT) AS flip
        |  UNION ALL
        |  SELECT CAST(POWER(2, b) AS BIGINT) FROM (SELECT unnest(range(10)) AS b)),
        |lprobes AS (
        |  SELECT s.vec_id AS q_id, s.tbl, xor(s.sig, f.flip) AS sig
        |  FROM sigs s, flips f WHERE s.vec_id % 100 = 0),
        |lcand AS (
        |  SELECT DISTINCT p.q_id, i.vec_id AS neighbor
        |  FROM lprobes p JOIN idx i USING (tbl, sig)
        |  WHERE p.q_id <> i.vec_id),
        |lsc AS (
        |  SELECT q_id, neighbor,
        |    ROUND(list_dot_product(a.v, b.v) / a.norm / b.norm, 6) AS cos
        |  FROM lcand JOIN n a ON q_id = a.vec_id JOIN n b ON neighbor = b.vec_id),
        |lr AS (SELECT q_id, neighbor, cos,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor)
        |       AS INTEGER) AS rank FROM lsc),
        |lsh AS (SELECT q_id, neighbor FROM lr WHERE rank <= 5),
        |flips2 AS (
        |  SELECT flip FROM flips
        |  UNION ALL
        |  SELECT CAST(POWER(2, a.b) AS BIGINT) + CAST(POWER(2, b.b) AS BIGINT)
        |  FROM (SELECT unnest(range(10)) AS b) a
        |  JOIN (SELECT unnest(range(10)) AS b) b ON a.b < b.b),
        |mprobes AS (
        |  SELECT s.vec_id AS q_id, s.tbl, xor(s.sig, f.flip) AS sig
        |  FROM sigs s, flips2 f WHERE s.vec_id % 100 = 0),
        |mcand AS (
        |  SELECT DISTINCT p.q_id, i.vec_id AS neighbor
        |  FROM mprobes p JOIN idx i USING (tbl, sig)
        |  WHERE p.q_id <> i.vec_id),
        |msc AS (
        |  SELECT q_id, neighbor,
        |    ROUND(list_dot_product(a.v, b.v) / a.norm / b.norm, 6) AS cos
        |  FROM mcand JOIN n a ON q_id = a.vec_id JOIN n b ON neighbor = b.vec_id),
        |mr AS (SELECT q_id, neighbor, cos,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor)
        |       AS INTEGER) AS rank FROM msc),
        |mpr AS (SELECT q_id, neighbor FROM mr WHERE rank <= 5),
        |piv AS (SELECT vec_id AS pid, v AS pv, norm AS pnorm FROM n
        |        WHERE vec_id % 16 = 1),
        |assign AS (
        |  SELECT vec_id, pid FROM (
        |    SELECT b.vec_id, p.pid, ROW_NUMBER() OVER (PARTITION BY b.vec_id
        |      ORDER BY list_dot_product(b.v, p.pv) / b.norm / p.pnorm DESC,
        |               p.pid) AS rk
        |    FROM n b, piv p) WHERE rk = 1),
        |cells AS (SELECT pid FROM assign GROUP BY pid HAVING COUNT(*) <= 65536),
        |gated AS (SELECT assign.* FROM assign JOIN cells USING (pid)),
        |iprobes AS (
        |  SELECT q_id, pid FROM (
        |    SELECT q.vec_id AS q_id, p.pid, ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_dot_product(q.v, p.pv) / q.norm / p.pnorm DESC,
        |               p.pid) AS rk
        |    FROM (SELECT * FROM n WHERE vec_id % 100 = 0) q, piv p)
        |  WHERE rk <= 20),
        |icand AS (
        |  SELECT iprobes.q_id, gated.vec_id AS neighbor
        |  FROM iprobes JOIN gated USING (pid)
        |  WHERE iprobes.q_id <> gated.vec_id),
        |isc AS (
        |  SELECT q_id, neighbor,
        |    ROUND(list_dot_product(a.v, b.v) / a.norm / b.norm, 6) AS cos
        |  FROM icand JOIN n a ON q_id = a.vec_id JOIN n b ON neighbor = b.vec_id),
        |ir AS (SELECT q_id, neighbor, cos,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor)
        |       AS INTEGER) AS rank FROM isc),
        |ivf AS (SELECT q_id, neighbor FROM ir WHERE rank <= 5),
        |tn AS (SELECT q_id, COUNT(*) AS n_true FROM truth GROUP BY q_id),
        |hl AS (SELECT t.q_id, COUNT(*) AS n_hit_lsh
        |       FROM truth t JOIN lsh USING (q_id, neighbor) GROUP BY t.q_id),
        |hi AS (SELECT t.q_id, COUNT(*) AS n_hit_ivf
        |       FROM truth t JOIN ivf USING (q_id, neighbor) GROUP BY t.q_id),
        |hm AS (SELECT t.q_id, COUNT(*) AS n_hit_mp
        |       FROM truth t JOIN mpr USING (q_id, neighbor) GROUP BY t.q_id)
        |SELECT tn.q_id, tn.n_true,
        |  CAST(COALESCE(n_hit_lsh, 0) AS BIGINT) AS n_hit_lsh,
        |  CAST(COALESCE(n_hit_ivf, 0) AS BIGINT) AS n_hit_ivf,
        |  CAST(COALESCE(n_hit_mp, 0) AS BIGINT) AS n_hit_mp,
        |  ROUND(COALESCE(n_hit_lsh, 0) * 1.0 / tn.n_true, 6) AS recall_lsh,
        |  ROUND(COALESCE(n_hit_ivf, 0) * 1.0 / tn.n_true, 6) AS recall_ivf,
        |  ROUND(COALESCE(n_hit_mp, 0) * 1.0 / tn.n_true, 6) AS recall_mp
        |FROM tn
        |LEFT JOIN hl ON tn.q_id = hl.q_id
        |LEFT JOIN hi ON tn.q_id = hi.q_id
        |LEFT JOIN hm ON tn.q_id = hm.q_id
        |ORDER BY tn.q_id""".stripMargin),

    "q110_normalized_dedup" ->
      // q20's hash-groupBy over the canonical form; n_variants counts the
      // distinct raw digests each normalized group collapses
      ("""WITH nrm AS (
        |  SELECT doc_id, md5(text) AS raw_h,
        |    md5(trim(regexp_replace(regexp_replace(lower(text),
        |      '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g'))) AS h
        |  FROM documents)
        |SELECT MIN(doc_id) AS keeper, COUNT(*) AS n_copies,
        |  COUNT(DISTINCT raw_h) AS n_variants, h
        |FROM nrm GROUP BY h ORDER BY keeper""".stripMargin),

    "q111_lsh_planner" ->
      // the q105 jd chain feeding the analytic S-curve 1-(1-j^r)^b per
      // banding of K=8. Powers are LEFT-ASSOCIATED multiply chains (like
      // the Spark side — never POWER(): libm and java.lang.Math disagree
      // in the last ulp); per-pair probabilities sum as decimals.
      (s"""WITH $shinglesCte,
        |docLen AS (SELECT doc_id, COUNT(*) AS c FROM sh GROUP BY doc_id),
        |rare AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= 100),
        |idx AS (SELECT sh.doc_id, sh.s FROM sh JOIN rare USING (s)),
        |inter AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i
        |  FROM idx a JOIN idx b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |jd AS (
        |  SELECT ROUND(i * 1.0 / (ca.c + cb.c - i), 6) AS j
        |  FROM inter
        |  JOIN docLen ca ON d1 = ca.doc_id
        |  JOIN docLen cb ON d2 = cb.doc_id),
        |jf AS (SELECT j FROM jd WHERE j >= 0.1),
        |probs AS (
        |  SELECT 1 AS bands, 8 AS rows_per_band, j,
        |    1.0 - (1.0 - j*j*j*j*j*j*j*j) AS p FROM jf
        |  UNION ALL SELECT 2, 4, j,
        |    1.0 - (1.0 - j*j*j*j) * (1.0 - j*j*j*j) FROM jf
        |  UNION ALL SELECT 4, 2, j,
        |    1.0 - (1.0 - j*j) * (1.0 - j*j) * (1.0 - j*j) * (1.0 - j*j)
        |    FROM jf
        |  UNION ALL SELECT 8, 1, j,
        |    1.0 - (1.0 - j) * (1.0 - j) * (1.0 - j) * (1.0 - j) * (1.0 - j)
        |      * (1.0 - j) * (1.0 - j) * (1.0 - j) FROM jf),
        |pd AS (
        |  SELECT bands, rows_per_band, j,
        |    CAST(ROUND(p, 9) AS DECIMAL(28,9)) AS p FROM probs)
        |SELECT bands, rows_per_band,
        |  COUNT(*) AS n_pairs,
        |  CAST(SUM(CASE WHEN j >= 0.8 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_target,
        |  ROUND(CAST(SUM(p) AS DOUBLE), 6) AS exp_candidates,
        |  ROUND(CAST(SUM(CASE WHEN j >= 0.8 THEN p
        |                 ELSE CAST(0 AS DECIMAL(28,9)) END) AS DOUBLE), 6)
        |    AS exp_caught,
        |  CASE WHEN SUM(CASE WHEN j >= 0.8 THEN 1 ELSE 0 END) > 0 THEN
        |  ROUND(CAST(SUM(CASE WHEN j >= 0.8 THEN p
        |                 ELSE CAST(0 AS DECIMAL(28,9)) END) AS DOUBLE)
        |        / CAST(SUM(CASE WHEN j >= 0.8 THEN 1 ELSE 0 END) AS BIGINT),
        |        6) END AS recall
        |FROM pd GROUP BY bands, rows_per_band ORDER BY bands""".stripMargin),

    "q112_training_manifest" ->
      // the q81 flag chain per document (not rolled up), plus the q61 PII
      // hit total, the q64 split bucket, and the q96 ord key/shard; the
      // kept-only position is a running SUM(keep) times keep.
      (s"""WITH $ngramPairsCte,
        |ex AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
        |losers AS (SELECT DISTINCT d2 AS doc_id FROM pairs),
        |q AS (
        |  SELECT d.doc_id,
        |    LEAST(1.0, GREATEST(0.0,
        |      0.2
        |      + len(list_filter(t.t,
        |          x -> x IN ('the','a','of','and','to','is')))
        |        * 1.0 / len(t.t) * 2.0
        |      + len(list_distinct(t.t)) * 1.0 / len(t.t) * 0.5
        |      - length(regexp_replace(d.text, '[a-z0-9\\s]', '', 'g'))
        |        * 1.0 / length(d.text) * 3.0)) AS quality
        |  FROM documents d JOIN toks t USING (doc_id)),
        |flags AS (
        |  SELECT d.doc_id, d.source,
        |    ('0x' || substr(md5(d.source || ':' || CAST(d.doc_id AS VARCHAR)),
        |      1, 15))::BIGINT % 1000 AS bucket,
        |    md5('ord:' || CAST(d.doc_id AS VARCHAR)) AS ord_key,
        |    CASE WHEN e.doc_id IS NOT NULL THEN 1 ELSE 0 END AS f_ex,
        |    CASE WHEN l.doc_id IS NULL THEN 1 ELSE 0 END AS f_near,
        |    CASE WHEN q.quality >= 0.5 THEN 1 ELSE 0 END AS f_q,
        |    CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS f_lang,
        |    ROUND(q.quality, 6) AS quality,
        |    CAST(len(regexp_extract_all(d.text,
        |        '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}'))
        |      + len(regexp_extract_all(d.text,
        |        '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b'))
        |      + len(regexp_extract_all(d.text,
        |        '\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b'))
        |      + len(regexp_extract_all(d.text, '\\bcustomer [a-z]+'))
        |      AS INTEGER) AS pii_hits
        |  FROM documents d
        |  LEFT JOIN ex e ON d.doc_id = e.doc_id
        |  LEFT JOIN losers l ON d.doc_id = l.doc_id
        |  JOIN q ON d.doc_id = q.doc_id),
        |m AS (
        |  SELECT doc_id, source,
        |    CASE WHEN bucket < 800 THEN 'train' WHEN bucket < 900 THEN 'val'
        |         ELSE 'test' END AS split,
        |    f_ex * f_near * f_q * f_lang AS keep,
        |    CASE WHEN f_ex = 0 THEN 'exact_dup'
        |         WHEN f_near = 0 THEN 'near_dup'
        |         WHEN f_q = 0 THEN 'low_quality'
        |         WHEN f_lang = 0 THEN 'lang' ELSE '' END AS drop_reason,
        |    quality, pii_hits, ord_key,
        |    CAST(('0x' || substr(ord_key, 1, 15))::BIGINT % 16 AS INTEGER)
        |      AS shard
        |  FROM flags)
        |SELECT doc_id, source, split, keep, drop_reason, quality, pii_hits,
        |  shard,
        |  CAST(SUM(keep) OVER (PARTITION BY split, shard
        |    ORDER BY ord_key, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * keep
        |    AS BIGINT) AS pos
        |FROM m ORDER BY doc_id""".stripMargin),

    "q113_quality_sweep" ->
      // the q29/q81 quality chain scored once; each doc tags every ladder
      // rung its quality clears; corpus totals ride a one-row frame.
      // shinglesCte is imported for its `toks` member only.
      (s"""WITH $shinglesCte,
        |scored AS (
        |  SELECT
        |    LEAST(1.0, GREATEST(0.0,
        |      0.2
        |      + len(list_filter(t.t,
        |          x -> x IN ('the','a','of','and','to','is')))
        |        * 1.0 / len(t.t) * 2.0
        |      + len(list_distinct(t.t)) * 1.0 / len(t.t) * 0.5
        |      - length(regexp_replace(d.text, '[a-z0-9\\s]', '', 'g'))
        |        * 1.0 / length(d.text) * 3.0)) AS quality,
        |    CAST(len(t.t) AS BIGINT) AS n_tokens
        |  FROM documents d JOIN toks t USING (doc_id)),
        |th AS (SELECT CAST(unnest([-1.0, 0.3, 0.4, 0.5, 0.6, 0.7])
        |  AS DOUBLE) AS threshold),
        |tagged AS (
        |  SELECT threshold, n_tokens FROM scored, th
        |  WHERE quality >= threshold),
        |agg AS (
        |  SELECT threshold, COUNT(*) AS n_docs,
        |    CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
        |  FROM tagged GROUP BY threshold),
        |sp AS (
        |  SELECT *,
        |    MAX(CASE WHEN threshold = -1.0 THEN n_docs END) OVER ()
        |      AS n_total,
        |    MAX(CASE WHEN threshold = -1.0 THEN n_tokens END) OVER ()
        |      AS tokens_total
        |  FROM agg)
        |SELECT threshold, n_docs, n_tokens,
        |  ROUND(n_docs * 1.0 / n_total, 6) AS pct_docs,
        |  ROUND(n_tokens * 1.0 / tokens_total, 6) AS pct_tokens
        |FROM sp WHERE threshold <> -1.0
        |ORDER BY threshold""".stripMargin),

    "q114_split_balance" ->
      // the q93 rollup keyed by the q64 split instead of source: quality
      // via the shared decimal-sum pattern, split via the shared bucket.
      (s"""WITH $shinglesCte,
        |q AS (
        |  SELECT d.doc_id,
        |    LEAST(1.0, GREATEST(0.0,
        |      0.2
        |      + len(list_filter(t.t,
        |          x -> x IN ('the','a','of','and','to','is')))
        |        * 1.0 / len(t.t) * 2.0
        |      + len(list_distinct(t.t)) * 1.0 / len(t.t) * 0.5
        |      - length(regexp_replace(d.text, '[a-z0-9\\s]', '', 'g'))
        |        * 1.0 / length(d.text) * 3.0)) AS quality
        |  FROM documents d JOIN toks t USING (doc_id)),
        |tk AS (
        |  SELECT doc_id, source, lang,
        |    len(list_filter(regexp_split_to_array(text, '\\s+'),
        |        t -> t <> '')) AS n_tokens,
        |    CASE WHEN ('0x' || substr(md5(source || ':'
        |             || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |             % 1000 < 800 THEN 'train'
        |         WHEN ('0x' || substr(md5(source || ':'
        |             || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |             % 1000 < 900 THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM documents)
        |SELECT split, COUNT(*) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
        |  CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
        |  ROUND(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) * 1.0
        |        / COUNT(*), 6) AS pct_en,
        |  CAST(SUM(CAST(ROUND(q.quality, 6) AS DECIMAL(18,6))) AS DOUBLE)
        |    / COUNT(*) AS avg_quality
        |FROM tk JOIN q USING (doc_id)
        |GROUP BY split ORDER BY split""".stripMargin),

    "q115_truncation_recall" ->
      // the q26 exact chain at BOTH widths (full = q109's truth CTE;
      // truncated = the same chain over list_slice(v, 1, 16) with norms
      // recomputed on the prefix; all-zero prefixes excluded — unservable
      // from this tier, mirroring q116's max_abs > 0), rolled to per-query
      // hit counts.
      (s"""WITH $vecsCte,
        |q AS (SELECT * FROM n WHERE vec_id % 100 = 0),
        |bsc AS (
        |  SELECT q.vec_id AS q_id, b.vec_id AS neighbor,
        |    ROUND(list_dot_product(q.v, b.v) / q.norm / b.norm, 6) AS cos
        |  FROM q JOIN n b ON q.vec_id <> b.vec_id),
        |br AS (SELECT q_id, neighbor, cos,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor)
        |       AS INTEGER) AS rank FROM bsc),
        |truth AS (SELECT q_id, neighbor FROM br WHERE rank <= 5),
        |tn AS (
        |  SELECT vec_id, tv AS v, sqrt(list_dot_product(tv, tv)) AS norm
        |  FROM (SELECT vec_id, list_slice(v, 1, 16) AS tv FROM n)
        |  WHERE sqrt(list_dot_product(tv, tv)) > 0),
        |tsc AS (
        |  SELECT q.vec_id AS q_id, b.vec_id AS neighbor,
        |    ROUND(list_dot_product(q.v, b.v) / q.norm / b.norm, 6) AS cos
        |  FROM (SELECT * FROM tn WHERE vec_id % 100 = 0) q
        |  JOIN tn b ON q.vec_id <> b.vec_id),
        |tr AS (SELECT q_id, neighbor, cos,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor)
        |       AS INTEGER) AS rank FROM tsc),
        |ta AS (SELECT q_id, neighbor FROM tr WHERE rank <= 5),
        |cnt AS (SELECT q_id, COUNT(*) AS n_true FROM truth GROUP BY q_id),
        |h AS (SELECT truth.q_id, COUNT(*) AS n_hit
        |      FROM truth JOIN ta USING (q_id, neighbor)
        |      GROUP BY truth.q_id)
        |SELECT cnt.q_id, cnt.n_true,
        |  CAST(COALESCE(n_hit, 0) AS BIGINT) AS n_hit,
        |  ROUND(COALESCE(n_hit, 0) * 1.0 / cnt.n_true, 6) AS recall
        |FROM cnt LEFT JOIN h ON cnt.q_id = h.q_id
        |ORDER BY cnt.q_id""".stripMargin),

    "q116_quantization_recall" ->
      // q115's chain with q67's quantize-dequantize in place of the
      // truncation; unquantizable vectors drop from the served index.
      (s"""WITH $vecsCte,
        |q AS (SELECT * FROM n WHERE vec_id % 100 = 0),
        |bsc AS (
        |  SELECT q.vec_id AS q_id, b.vec_id AS neighbor,
        |    ROUND(list_dot_product(q.v, b.v) / q.norm / b.norm, 6) AS cos
        |  FROM q JOIN n b ON q.vec_id <> b.vec_id),
        |br AS (SELECT q_id, neighbor, cos,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor)
        |       AS INTEGER) AS rank FROM bsc),
        |truth AS (SELECT q_id, neighbor FROM br WHERE rank <= 5),
        |dv AS (
        |  SELECT vec_id,
        |    list_transform(v, x ->
        |      CAST(round(x * 127.0 / max_abs) AS INTEGER) * max_abs / 127.0)
        |      AS v
        |  FROM (
        |    SELECT vec_id, v,
        |      list_max(list_transform(v, x -> abs(x))) AS max_abs
        |    FROM n
        |    WHERE v IS NOT NULL
        |      AND len(list_filter(v, x -> x IS NULL)) = 0)
        |  WHERE max_abs > 0),
        |dn AS (
        |  SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS norm FROM dv),
        |qsc AS (
        |  SELECT q.vec_id AS q_id, b.vec_id AS neighbor,
        |    ROUND(list_dot_product(q.v, b.v) / q.norm / b.norm, 6) AS cos
        |  FROM (SELECT * FROM dn WHERE vec_id % 100 = 0) q
        |  JOIN dn b ON q.vec_id <> b.vec_id),
        |qr AS (SELECT q_id, neighbor, cos,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor)
        |       AS INTEGER) AS rank FROM qsc),
        |qa AS (SELECT q_id, neighbor FROM qr WHERE rank <= 5),
        |cnt AS (SELECT q_id, COUNT(*) AS n_true FROM truth GROUP BY q_id),
        |h AS (SELECT truth.q_id, COUNT(*) AS n_hit
        |      FROM truth JOIN qa USING (q_id, neighbor)
        |      GROUP BY truth.q_id)
        |SELECT cnt.q_id, cnt.n_true,
        |  CAST(COALESCE(n_hit, 0) AS BIGINT) AS n_hit,
        |  ROUND(COALESCE(n_hit, 0) * 1.0 / cnt.n_true, 6) AS recall
        |FROM cnt LEFT JOIN h ON cnt.q_id = h.q_id
        |ORDER BY cnt.q_id""".stripMargin),

    "q117_stream_crossmodal" ->
      // the stream-tier batch twin: q22's band-collision pairs ∪ exact
      // digest pairs (text) ∪ q84's blockhash Hamming pairs (media), one
      // reachability contraction over the joint edge set — q86's decision
      // shape with per-document-state pair tiers, so the streamed job's
      // final frame is batch-boundary-free and equals this exactly.
      (s"""WITH RECURSIVE $minhashSigCte,
        |bands AS (
        |  SELECT doc_id, 0 AS band, md5(s0 || s1) AS bh FROM sig
        |  UNION ALL SELECT doc_id, 1, md5(s2 || s3) FROM sig
        |  UNION ALL SELECT doc_id, 2, md5(s4 || s5) FROM sig
        |  UNION ALL SELECT doc_id, 3, md5(s6 || s7) FROM sig),
        |tband AS (
        |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
        |dh AS (SELECT doc_id, md5(text) AS h FROM documents),
        |tdig AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2
        |  FROM dh a JOIN dh b ON a.h = b.h AND a.doc_id < b.doc_id),
        |tpairs AS (SELECT d1, d2 FROM tband UNION SELECT d1, d2 FROM tdig),
        |$blockhashCte,
        |mpairs AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2
        |  FROM ph a JOIN ph b ON a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.phash, b.phash)) <= 3),
        |allpairs AS (
        |  SELECT d1, d2 FROM tpairs UNION SELECT d1, d2 FROM mpairs),
        |${ccCte("doc_id", "allpairs")},
        |tdoc AS (SELECT DISTINCT doc_id FROM (
        |  SELECT d1 AS doc_id FROM tpairs UNION ALL SELECT d2 FROM tpairs)),
        |mdoc AS (SELECT DISTINCT doc_id FROM (
        |  SELECT d1 AS doc_id FROM mpairs UNION ALL SELECT d2 FROM mpairs))
        |SELECT d.doc_id,
        |  COALESCE(c.cluster, d.doc_id) AS cluster,
        |  CASE WHEN COALESCE(c.cluster, d.doc_id) = d.doc_id
        |       THEN 1 ELSE 0 END AS keep,
        |  (CASE WHEN t.doc_id IS NOT NULL THEN 1 ELSE 0 END
        |   + CASE WHEN m.doc_id IS NOT NULL THEN 1 ELSE 0 END)
        |    AS n_modalities
        |FROM documents d
        |LEFT JOIN comp c USING (doc_id)
        |LEFT JOIN tdoc t USING (doc_id)
        |LEFT JOIN mdoc m USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin),

    "q118_index_clusters" ->
      // forest-state incremental clusters: components over the UNION of
      // the exact edge generations the state path performs — shipped-
      // internal pairs df-gated on the shipped corpus alone (the persisted
      // forest v0's world: the increment didn't exist when it was built)
      // plus increment-involving pairs df-gated on index ∪ increment = the
      // full corpus (q87's gate). The forest identity (a star forest
      // preserves its graph's connectivity) makes contracting
      // (forest v0 ∪ new pairs) equal to contracting this union directly.
      // docLen is per-doc (same values under either gate world).
      (s"""WITH RECURSIVE $shinglesCte,
        |docLen AS (SELECT doc_id, COUNT(*) AS c FROM sh GROUP BY doc_id),
        |rare0 AS (SELECT s FROM sh WHERE doc_id % 10 <> 0
        |  GROUP BY s HAVING COUNT(*) <= 100),
        |idx0 AS (SELECT sh.doc_id, sh.s FROM sh JOIN rare0 USING (s)
        |  WHERE sh.doc_id % 10 <> 0),
        |inter0 AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i
        |  FROM idx0 a JOIN idx0 b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |rare AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= 100),
        |idx AS (SELECT sh.doc_id, sh.s FROM sh JOIN rare USING (s)),
        |inter1 AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i
        |  FROM idx a JOIN idx b ON a.s = b.s AND a.doc_id < b.doc_id
        |  WHERE a.doc_id % 10 = 0 OR b.doc_id % 10 = 0
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT d1, d2
        |  FROM (SELECT * FROM inter0 UNION ALL SELECT * FROM inter1) u
        |  JOIN docLen ca ON d1 = ca.doc_id
        |  JOIN docLen cb ON d2 = cb.doc_id
        |  WHERE ROUND(i * 1.0 / (ca.c + cb.c - i), 6) >= 0.8),
        |${ccCte("doc_id")}
        |SELECT d.doc_id,
        |  COALESCE(c.cluster, d.doc_id) AS cluster,
        |  CASE WHEN COALESCE(c.cluster, d.doc_id) = d.doc_id
        |       THEN 1 ELSE 0 END AS keep
        |FROM documents d LEFT JOIN comp c USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin)
  )
}
