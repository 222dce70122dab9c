package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._
import graft.optimizer.JoinGraph
import graft.pipeline.Preprocess
import graft.multimodal.Multimodal
import graft.streaming.EventWindows

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY §2 has a `queries` entry; every
  * SQL-expressible one has a DuckDB oracle in `oracleSql` (column names
  * aliased identically on both sides — the driver sorts columns by name
  * before hashing). RNG-dependent operators (sampleBy/randomSplit) expose
  * constant-oracle invariants (SURVEY §7.4 item 1); engine-specific ones
  * (simhash/ANN: xxhash64-based, not reproducible in DuckDB) are declared
  * without oracle and verified by ScalaTest specs instead.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's duplicate gate (SURVEY §7.2 item 1): scan → hash-agg
    * → filter — most orderkeys have several lineitems, so rows > 0.
    */
  def entry(spark: SparkSession): DataFrame =
    Relational.dupGate(spark, "/root/testdata/sf0.001")

  /** One per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // core relational (SURVEY §2.2-2.4, §2.8)
    "q01_dup_gate" -> Relational.dupGate _,
    "q02_agg_pricing" -> Relational.aggPricing _,
    "q03_join_revenue" -> Relational.joinRevenueByNation _,
    "q04_semi_join" -> Relational.semiJoinCustomersWithOrders _,
    "q05_anti_join" -> Relational.antiJoinCustomersNoOrders _,
    "q06_union_shards" -> Relational.unionShards _,
    "q07_intersect" -> Relational.intersectCustkeys _,
    "q08_except" -> Relational.exceptCustkeys _,
    "q09_distinct_pairs" -> Relational.distinctFlagStatus _,
    "q10_distinct_stats" -> Relational.distinctStats _,
    "q11_topk_window" -> Relational.topOrdersPerPriority _,
    "q12_orderby_limit" -> Relational.topOrdersGlobal _,
    "q13_project_scalar" -> Relational.projectScalar _,
    "q14_project_strings" -> Relational.projectStrings _,
    // dedup family (SURVEY §2.5)
    "q15_dropdup" -> Dedup.dropDuplicatesProjected _,
    "q16_exact_dedup" -> Dedup.exactContentDedup _,
    "q17_ngram_jaccard" -> ((s: SparkSession, d: String) => Dedup.ngramJaccardPairs(s, d)),
    "q18_minhash_lsh" -> ((s: SparkSession, d: String) => Dedup.minhashLshPairs(s, d)),
    "q19_simhash" -> ((s: SparkSession, d: String) => Dedup.simhashPairs(s, d)),
    "q20_embed_neardup" -> ((s: SparkSession, d: String) => Dedup.embeddingNearDupPairs(s, d)),
    // similarity search (SURVEY §2.3 J3 / §2.8 [EXT])
    "q21_cosine_topk" -> ((s: SparkSession, d: String) => Similarity.cosineTopK(s, d)),
    "q22_ann_topk" -> ((s: SparkSession, d: String) => Similarity.annCosineTopK(s, d)),
    // FedAvg aggregator (SURVEY §2.4 A5)
    "q23_fedavg_client_means" -> FedAvg.clientMeansExploded _,
    "q24_fedavg_global" -> FedAvg.globalRound _,
    // text analysis (SURVEY §2.2 P10 [EXT])
    "q25_doc_metrics" -> TextAnalysis.docMetrics _,
    "q26_langid" -> TextAnalysis.langId _,
    "q27_fingerprints" -> TextAnalysis.fingerprints _,
    "q28_token_freq" -> ((s: SparkSession, d: String) => TextAnalysis.tokenFrequency(s, d)),
    "q29_lang_rollup" -> TextAnalysis.langRollup _,
    // event-time windows (SURVEY §2.10 [EXT], batch twins)
    "q30_tumbling" -> EventWindows.tumblingCounts _,
    "q31_sliding" -> EventWindows.slidingCounts _,
    "q32_session" -> ((s: SparkSession, d: String) => EventWindows.sessionCounts(s, d)),
    "q33_event_dedup" -> EventWindows.dedupByEventId _,
    // sampling / partitioning invariants (SURVEY §2.5 D2-D5)
    "q34_sampleby_invariant" -> Sampling.sampleByInvariant _,
    "q35_randomsplit_invariant" -> Sampling.randomSplitInvariant _,
    "q36_repartition_introspect" -> Sampling.repartitionIntrospect _,
    // multimodal + reference-pipeline plan (SURVEY §2.6-2.7)
    "q37_media_bytes" -> Multimodal.byteStats _,
    "q38_augment_plan" -> Preprocess.augmentPlan _,
    // sources exercised end-to-end (SURVEY §2.1 S1-S3, §2.9 W1)
    "q39_csv_roundtrip" -> graft.sources.Sources.csvRoundTrip _,
    "q40_binary_source" -> graft.sources.Sources.binarySourceStats _,
    // the pixel pipeline itself (SURVEY §2.6-2.7 U1/U2/G2)
    "q41_preprocess_pipeline" -> Preprocess.pipelineInvariant _,
    // multimodal frame sampling (SURVEY §2.7 U4 [EXT])
    "q42_frame_sample" -> Multimodal.frameSampleStats _,
    // IVF approximate NN (SURVEY §2.3 J3 [EXT]; spec-verified like q22)
    "q43_ivf_topk" -> ((s: SparkSession, d: String) => Similarity.ivfCosineTopK(s, d)),
    // composed curation pipeline + label-vector assembly (SURVEY §2.2 P10, §2.3 J2)
    "q44_corpus_curation" -> ((s: SparkSession, d: String) => TextAnalysis.corpusCuration(s, d)),
    "q45_label_vectors" -> TextAnalysis.labelVectors _,
    // bucketed co-located join (SURVEY §4.3; shuffle-free fact join)
    "q46_bucketed_join" -> ((s: SparkSession, d: String) => Relational.bucketedJoinRevenue(s, d)),
    // salted skew join (SURVEY §4.3; hot-key spreading, semantics-preserving)
    "q47_salted_join" -> ((s: SparkSession, d: String) => Relational.saltedSkewJoin(s, d)),
    // JSONL corpus round-trip (SURVEY §2.1 S1/S2 [EXT]; LLM interchange format)
    "q48_jsonl_roundtrip" -> graft.sources.Sources.jsonlRoundTrip _,
    // non-IID skewed client partitioning (SURVEY §2.5 D2 skew variant)
    "q49_skewed_split_invariant" -> Sampling.skewedSplitInvariant _,
    // ORC round-trip (SURVEY §2.1 S5 family; third columnar format)
    "q50_orc_roundtrip" -> graft.sources.Sources.orcRoundTrip _,
    // per-partition-reduced exact top-k (same oracle as q21 by construction)
    "q51_cosine_topk_partitioned" ->
      ((s: SparkSession, d: String) => Similarity.cosineTopKPartitioned(s, d)),
    // near-dup cluster resolution: pairs → connected components → keep rule
    // (the dedup verb a pipeline actually runs; SURVEY §2.5 D6 closure)
    "q52_neardup_clusters" -> ((s: SparkSession, d: String) => Dedup.nearDupClusters(s, d)),
    // struct-of-tensors parquet ingest (SURVEY §2.1 S4's engine form)
    "q53_struct_roundtrip" -> graft.sources.Sources.structParquetRoundTrip _,
    // the reference's CheXpert label-CSV schema read as CSV + J2 vector assembly
    "q54_label_csv" -> graft.sources.Sources.labelCsvRoundTrip _,
    // composed end-to-end curation: quality gate → near-dup cluster dedup → rollup
    "q55_curation_neardup" -> ((s: SparkSession, d: String) => TextAnalysis.corpusCurationNearDup(s, d)),
    // interval/range join as a bucketed equi-join (the as-of/attribution form)
    "q56_interval_join" -> ((s: SparkSession, d: String) => Relational.intervalJoinCounts(s, d)),
    // rank-exact quantiles + percentile_approx sketch over the quality score
    "q57_quality_quantiles" -> ((s: SparkSession, d: String) => TextAnalysis.qualityQuantiles(s, d)),
    // semantic near-dup clusters: cosine pair edges → connected components
    "q58_embed_clusters" -> ((s: SparkSession, d: String) => Dedup.embeddingNearDupClusters(s, d)),
    // benchmark decontamination: train docs overlapping the eval split
    // (cross-split fuzzy Jaccard + exact-hash hits; J1 promoted to fuzzy)
    "q59_decontamination" -> ((s: SparkSession, d: String) => Dedup.decontaminationReport(s, d)),
    // iterated FedAvg: R=3 global rounds, round-t state deterministic from
    // round t-1 (the reference's 3-round federated loop in closed form)
    "q60_fedavg_rounds" -> ((s: SparkSession, d: String) => FedAvg.iteratedGlobalRounds(s, d)),
    // the grid-blocked exact near-dup path FORCED (the loose-threshold
    // 100 TB route), value-checked against the same oracle as q20 — the
    // fixture corpus never exceeds maxExactRows, so without this entry the
    // harness would never execute the blocked path
    "q61_embed_neardup_blocked" -> ((s: SparkSession, d: String) =>
      Dedup.embeddingNearDupPairsBlockedFor(
        graft.Tables.embeddings(s, d).select(
          org.apache.spark.sql.functions.col("vec_id"),
          org.apache.spark.sql.functions.col("embedding")),
        threshold = 0.4, nBlocks = 4)),
    // embedding-space decontamination (SemDeDup-style): train vectors too
    // close to ANY eval vector — the paraphrase contamination text
    // shingles can't see
    "q62_embed_decontamination" -> ((s: SparkSession, d: String) =>
      Dedup.embeddingDecontamination(s, d)),
    // winnowed (rolling-hash) fingerprint overlap — the MOSS-style scan;
    // engine-specific hashes → spec-gated like q19/q22/q43, no oracle
    "q63_winnowing_pairs" -> ((s: SparkSession, d: String) =>
      Dedup.winnowingPairs(s, d)),
    // persisted shingle index + incremental shard dedup: the settled
    // corpus (doc_id % 7 != 0) is shingled ONCE into a parquet sink; the
    // arriving shard dedups against the SINK, never the corpus text — the
    // verb a continuously-ingesting pipeline runs per shard
    "q64_incremental_dedup" -> ((s: SparkSession, d: String) =>
      graft.operators.IncrementalDedup.incrementalDedupReport(s, d)),
    // the winnowed-candidate cluster route FORCED (what the router picks
    // past 1M docs, where the full shingle index gets expensive): same
    // exact-Jaccard scoring + CC tail as q52 and checked against the SAME
    // transitive-closure oracle — candidate recall of the ~4.5×-smaller
    // fingerprint index is re-proven on every harness run, not assumed
    "q65_neardup_clusters_winnowed" -> ((s: SparkSession, d: String) =>
      Dedup.nearDupClustersWinnowedFor(graft.Tables.documents(s, d),
        shOpt = Some(Dedup.ensureDocShingles(s, d)),
        fpOpt = Some(Dedup.ensureWinnowFps(s, d)))),
    // q64 forced through the BUCKETED index (bucketBy shingle + sizes
    // sidecar): per-ingest shuffle is O(shard) — the index streams
    // bucket-aligned with no Exchange — same report, same oracle
    "q66_incremental_dedup_bucketed" -> ((s: SparkSession, d: String) =>
      graft.operators.IncrementalDedup.incrementalDedupReportBucketed(s, d)),
    // q64 forced through the WINNOWED fingerprint index (the D9×D10
    // composition — the persisted sink the incremental loop keeps past 1M
    // docs): candidates from the ~4.5×-smaller fp index, scoring exact
    // full-shingle Jaccard over ONLY the candidate slice of the corpus
    // store — same report, same oracle
    "q67_incremental_dedup_winnowed" -> ((s: SparkSession, d: String) =>
      graft.operators.IncrementalDedup.incrementalDedupReportWinnowed(s, d)),
    // analytic window functions (§2.8): per-user lag/lead event gaps +
    // rank/dense_rank by value — one user_id exchange, two in-partition
    // sorts
    "q68_analytic_windows" -> Relational.analyticEventWindows _,
    // THREE cumulative ingest ticks under the oracle: each tick's
    // admissions extend the index the next tick dedups against — the
    // oracle replays the same loop in SQL, proving the append feeds t+1
    "q69_incremental_dedup_multitick" -> ((s: SparkSession, d: String) =>
      graft.operators.IncrementalDedup.incrementalDedupMultiTick(s, d)),
    // the bucketed EXACTLY-ONCE tick replayed (attempt + replay, same
    // batch id) with the admitted sink as the result: the oracle's exact
    // row-set compare proves idempotent replay — a duplicated or flipped
    // admission fails the harness itself
    "q70_incremental_dedup_xo_replay" -> ((s: SparkSession, d: String) =>
      graft.operators.IncrementalDedup.incrementalDedupXOReplay(s, d)),
    // frame-based window aggregates (§2.8): ROWS BETWEEN moving average +
    // running sum/count — both frames share one partitioning and order,
    // so they fold into ONE Window operator (one exchange, one sort)
    "q71_frame_windows" -> Relational.frameEventWindows _,
    // hierarchical aggregation (§2.4): ROLLUP subtotal levels in ONE
    // Expand + one hash agg — one pass over the fact table
    "q72_rollup_pricing" -> Relational.rollupPricing _,
    // long-to-wide pivot with DECLARED values (no distinct-values job —
    // the 100 TB-safe form); missing combos are 0 per the SQL semantics
    "q73_pivot_events" -> Relational.pivotEventCounts _,
    // AS-OF join (§2.3 J5): purchase→latest-prior-view attribution as a
    // union-tag + one-exchange window scan — no inequality nested loop
    "q74_asof_join" -> Relational.asOfPurchaseViews _,
    // XO-index COMPACTION inside the ingest loop: tick 0 folded into the
    // settled partition (watermark 0), the folded tick replayed (no-op by
    // the watermark guard), tick 1 against the compacted index — the
    // cumulative oracle proves fold + no-op replay change nothing
    "q75_incremental_dedup_xo_compacted" -> ((s: SparkSession, d: String) =>
      graft.operators.IncrementalDedup.incrementalDedupXOCompacted(s, d)),
    // CUBE: all four grouping levels from ONE Expand + one hash agg —
    // same single-pass machinery as q72's rollup
    "q76_cube_orders" -> Relational.cubeOrderStats _,
    // GROUPING SETS: the general form — exactly the declared set list,
    // fanning out 2 copies per row where the cube would fan 4
    "q77_grouping_sets" -> Relational.groupingSetsOrderStats _,
    // the BUCKETED fingerprint index (D9×D10, both scale paths composed:
    // >1M-doc fp keyspace + Exchange-free index side) under q64's oracle
    "q78_incremental_dedup_winnowed_bucketed" -> ((s: SparkSession, d: String) =>
      graft.operators.IncrementalDedup.incrementalDedupReportWinnowedBucketed(s, d)),
    // the SQL front door: q21 re-expressed as spark.sql text over the
    // GraftExtensions-registered cosine_f32 — one implementation, both
    // surfaces, same oracle
    "q79_sql_cosine_topk" -> ((s: SparkSession, d: String) =>
      Similarity.cosineTopKViaSql(s, d)),
    // q44 with observe(): pipeline metrics (rows scanned/kept, langs,
    // mean survivor quality) ride the ONE pass the query already makes —
    // no second scan per counter at 100 TB; rows unchanged, same oracle
    "q80_observed_curation" -> ((s: SparkSession, d: String) =>
      TextAnalysis.corpusCurationObserved(s, d)._1),
    // schema evolution across shard generations: later shards added a
    // column, the read declares the explicit superset (nulls where a file
    // predates it, no footer-merge pass) — the steady state of a
    // long-lived ingest dir
    "q81_schema_evolution" -> graft.sources.Sources.schemaEvolutionRead _,
    // corrupt-record JSONL ingest: malformed lines quarantined into a
    // counted _corrupt_ bucket (PERMISSIVE + columnNameOfCorruptRecord),
    // good rows flow — a 100 TB ingest can't abort on damaged lines
    "q82_corrupt_jsonl" -> graft.sources.Sources.corruptJsonlIngest _,
    // heavy hitters: Misra-Gries sketch prefilter (fixed memory, no
    // false negatives) + exact verification of the bounded candidate
    // set — exact rows without the full-vocabulary aggregation state
    "q83_heavy_hitter_tokens" -> ((s: SparkSession, d: String) =>
      TextAnalysis.heavyHitterTokens(s, d)),
    // sequence packing (concat-and-chunk): per-doc chunk spans from a
    // DISTRIBUTED two-level prefix sum — the only unpartitioned window
    // runs over the tiny per-block table, never the corpus
    "q84_sequence_packing" -> ((s: SparkSession, d: String) =>
      TextAnalysis.sequencePacking(s, d)),
    // PII redaction: a pattern TABLE (email/card/ssn/ip/phone) drives
    // per-class counts + the placeholder replacement chain (plants derived
    // from doc_id, the q82 fixture discipline); emits the redacted hash
    "q85_pii_redaction" -> TextAnalysis.piiRedaction _,
    // Gopher-style repetition metrics: duplicate-shingle fraction +
    // top-token dominance + the keep verdict a curation gate applies
    "q89_repetition_metrics" -> ((s: SparkSession, d: String) =>
      TextAnalysis.repetitionMetrics(s, d)),
    // temperature-scaled source mixture weights (n^alpha / sum) — the
    // data-mixing step that decides per-source sampling rates
    "q92_mixture_weights" -> ((s: SparkSession, d: String) =>
      TextAnalysis.mixtureWeights(s, d)),
    // deterministic global training shuffle: md5(doc_id:seed) order with
    // the global position computed as a DISTRIBUTED rank (bucket counts +
    // tiny prefix + in-bucket row_number), never a one-partition sort
    "q86_global_shuffle" -> ((s: SparkSession, d: String) =>
      Sampling.globalShuffleRank(s, d)),
    // bloom-prefiltered semi-join: probe rows gate through a bounded
    // sketch BEFORE the shuffle, the exact semi-join removes the ≤1%
    // false positives — result ≡ the plain semi-join (the oracle)
    "q87_bloom_semi_join" -> ((s: SparkSession, d: String) =>
      Relational.bloomSemiJoin(s, d)),
    // tf-idf cosine pairs: the sparse-vector near-dup twin — inverted-
    // index candidates, max_df pruning as both semantic knob and skew
    // guard, norms over the pruned space
    "q88_tfidf_similarity" -> ((s: SparkSession, d: String) =>
      TextAnalysis.tfidfSimilarityPairs(s, d)),
    // hive-partitioned corpus layout: partitionBy(lang) write, read-back
    // filter prunes at the FILE INDEX (PartitionFilters, spec-pinned)
    "q90_partition_pruned" -> ((s: SparkSession, d: String) =>
      graft.sources.Sources.partitionedPrunedRead(s, d)),
    // MERGE INTO on plain parquet: full-outer on the key, update/insert/
    // carry-over all exercised, next immutable snapshot written
    "q91_merge_upsert" -> graft.sources.Sources.mergeUpsertSnapshot _,
    // STREAMING sequence packing: three doc_id-range ingest ticks (tick 1
    // replayed — idempotence under the oracle), chunk offsets carried
    // across batches by one running-total scalar; arrival order = doc_id
    // order, so the manifest must equal q84's single-pass manifest
    "q93_streaming_packing" -> ((s: SparkSession, d: String) =>
      graft.streaming.SequencePackingStream.sequencePackingMultiTick(s, d)),
    // persisted IVF index + incremental assignment: settled corpus trains
    // and persists codebook + list_id-partitioned assignments, the new
    // tick assigns against the PERSISTED codebook, probes read only the
    // probed list partitions; invariant row (incremental == single-pass
    // assignment, index probe == in-memory probe, both exact)
    "q94_ivf_incremental" -> ((s: SparkSession, d: String) =>
      Similarity.ivfIncrementalInvariant(s, d)),
    // order-0 LM quality filter: corpus-trained unigram log-probs,
    // tf-weighted per-doc mean, 6dp-rounded gate
    "q95_unigram_lm_score" -> ((s: SparkSession, d: String) =>
      TextAnalysis.unigramLmScore(s, d)),
    // Okapi BM25 retrieval: inverted-index candidates (q88 skeleton),
    // max_df skew guard, saturating tf, per-query top-k
    "q96_bm25_topk" -> ((s: SparkSession, d: String) =>
      TextAnalysis.bm25TopK(s, d)),
    // seeded per-stratum cap-N downsample; per-lang rank via the q86
    // two-level shape within each stratum (no per-stratum corpus sort)
    "q97_stratum_cap" -> ((s: SparkSession, d: String) =>
      Sampling.stratumCapSample(s, d)),
    // near-dup pairs rolled up by unordered source pair — the
    // cross-source contamination matrix a multi-source corpus reports
    "q98_cross_source_dups" -> ((s: SparkSession, d: String) =>
      Dedup.crossSourceDupMatrix(s, d)),
    // one-row data card: doc/token/vocab counts + Shannon entropies of
    // the token and language marginals (aggregates over tiny relations)
    "q99_corpus_diversity" -> ((s: SparkSession, d: String) =>
      TextAnalysis.corpusDiversityStats(s, d)),
    // snapshot-versioning diff: v1 vs v2 classified added/removed/
    // changed/unchanged via one full-outer key join + hash compare
    "q100_snapshot_diff" -> graft.sources.Sources.snapshotDiff _,
    // per-user ordered action sequences with an order-sensitive md5
    // fingerprint — in-row sort over the collected array, one shuffle
    "q101_event_sequences" -> graft.streaming.EventWindows.eventSequences _,
    // curriculum bucketing: per-lang exact quantile thresholds (q57
    // machinery) broadcast against the corpus, docs tiered in-row
    "q102_difficulty_binning" -> ((s: SparkSession, d: String) =>
      TextAnalysis.difficultyBinning(s, d)),
    // attrition funnel: one scan computes every doc's first-failing gate,
    // a tiny count relation fans out into the per-stage report
    "q103_filter_cascade" -> ((s: SparkSession, d: String) =>
      TextAnalysis.filterCascade(s, d)),
    // q92's mixture weights materialized as a per-doc copy manifest via
    // the per-stratum hash rank (q97 machinery)
    "q104_mixture_resample" -> ((s: SparkSession, d: String) =>
      Sampling.mixtureResample(s, d)),
    // view -> click -> purchase with strictly-increasing first-hit times;
    // a fold of per-user conditional aggregations, all keyed on user_id
    "q105_conversion_funnel" -> ((s: SparkSession, d: String) =>
      graft.streaming.EventWindows.conversionFunnel(s, d)),
    // adjacent-pair counts (BPE merge step) + PMI collocation score;
    // top-k via TakeOrdered over the pair-vocab relation
    "q106_bpe_merges" -> ((s: SparkSession, d: String) =>
      TextAnalysis.bpeMergeCandidates(s, d)),
    // overlapping token windows; sequence+posexplode, shuffle-free
    "q107_doc_chunking" -> ((s: SparkSession, d: String) =>
      TextAnalysis.docChunking(s, d)),
    // top-V vocab via TakeOrdered, broadcast back; per-lang OOV report
    "q108_oov_rate" -> ((s: SparkSession, d: String) =>
      TextAnalysis.oovRate(s, d)),
    // greedy best-docs-first cut under a token budget; value-blocked
    // two-level prefix sum (no single-task global window)
    "q109_token_budget" -> ((s: SparkSession, d: String) =>
      TextAnalysis.tokenBudgetSelection(s, d)),
    // add-k bigram LM; pair-vocab log-prob relation joined to per-doc
    // pair counts
    "q110_bigram_lm_score" -> ((s: SparkSession, d: String) =>
      TextAnalysis.bigramLmScore(s, d)),
    // leakage-safe split: split is a pure function of md5(source:seed)
    // vs hex thresholds — per-row, shuffle-free
    "q111_group_split" -> ((s: SparkSession, d: String) =>
      Sampling.groupAwareSplit(s, d)),
    // per-doc novelty vs the reference half via a distinct-shingle
    // equi-join (reference set never broadcast)
    "q112_ngram_novelty" -> ((s: SparkSession, d: String) =>
      TextAnalysis.ngramNovelty(s, d)),
    // declared-schema from_json over the props payload, per-type rollup
    "q113_event_props" -> ((s: SparkSession, d: String) =>
      graft.streaming.EventWindows.eventPropsRollup(s, d)),
    // within-source hot shingles; the rank window sees only qualifying
    // shingles, doc counts ride a broadcast
    "q114_boilerplate" -> ((s: SparkSession, d: String) =>
      TextAnalysis.boilerplateShingles(s, d)),
    // per-label vector counts, dim agreement, L2-norm envelope; norms
    // fold in double over the array in order
    "q115_embedding_audit" -> ((s: SparkSession, d: String) =>
      Similarity.embeddingAudit(s, d)),
    // PQ-ADC approximate top-k: codes-only scoring via per-query lookup
    // tables, bounded exact re-rank; spec-gated recall (no oracle —
    // Lloyd's in SQL is impractical, the q43 precedent)
    "q116_pq_topk" -> ((s: SparkSession, d: String) =>
      Similarity.pqCosineTopK(s, d)),
    // q112's novelty with the reference behind the persisted shingle
    // index; the settled corpus is never re-shingled
    "q117_incremental_novelty" -> ((s: SparkSession, d: String) =>
      IncrementalDedup.incrementalNoveltyReport(s, d)),
    // persisted PQ index lifecycle: bootstrap + tick, then codes and
    // probes checked against from-scratch (invariant row; q94 discipline)
    "q118_pq_incremental" -> ((s: SparkSession, d: String) =>
      Similarity.pqIncrementalInvariant(s, d)),
    // curriculum manifest: q102 tiers x q86 two-level rank — tier-major,
    // seeded shuffle within tier
    "q119_curriculum_order" -> ((s: SparkSession, d: String) =>
      TextAnalysis.curriculumOrder(s, d)),
    // unicode NFC via the native expression; DuckDB's nfc_normalize
    // replays it byte for byte over the planted decomposed forms
    "q120_text_normalize" -> ((s: SparkSession, d: String) =>
      TextAnalysis.textNormalize(s, d)),
    // passage-granularity dedup (q121) and its pair-finding companion (q126)
    "q121_passage_dedup" -> ((s: SparkSession, d: String) =>
      Dedup.passageDedup(s, d)),
    "q126_containment_pairs" -> ((s: SparkSession, d: String) =>
      Dedup.containmentPairs(s, d)),
    // collocation mining and target-resemblance data selection
    "q122_pmi_collocations" -> ((s: SparkSession, d: String) =>
      TextAnalysis.pmiCollocations(s, d)),
    "q123_dsir_weights" -> ((s: SparkSession, d: String) =>
      TextAnalysis.dsirWeights(s, d)),
    // semantic (embedding-space) dedup and weighted subsampling
    "q124_semantic_dedup" -> ((s: SparkSession, d: String) =>
      Dedup.semanticDedupSurvivors(s, d)),
    "q125_weighted_sample" -> ((s: SparkSession, d: String) =>
      Sampling.weightedSample(s, d)),
    // the D10-style ANN router: one entry point choosing LSH/IVF/PQ from
    // corpus size + store budget; spec-gated like its three routes
    // (SimilaritySpec pins routing and the shared output contract)
    "q127_ann_router" -> ((s: SparkSession, d: String) =>
      Similarity.annTopK(s, d)),
    // lexical+dense reciprocal-rank-fusion retrieval: both input rankings
    // are already hash-pinned (q96, q21), so the fused ranking is a
    // deterministic function of agreed integers and fully oracle-able
    "q128_hybrid_rrf" -> ((s: SparkSession, d: String) =>
      Similarity.hybridRrfTopK(s, d)),
    // cluster-balanced diversity sample (invariant row: cluster ids are
    // engine-float Lloyd's output DuckDB cannot replay; the oracle pins
    // the total and the two violation counters at zero)
    "q129_cluster_balanced_sample" -> ((s: SparkSession, d: String) =>
      Sampling.clusterBalancedSample(s, d)),
    // hard-negative mining: q96's pinned BM25 ranks anti-joined against
    // the near-dup/exact false-negative gate (q17 + q59 arithmetic), so
    // the whole manifest is a deterministic function of agreed values
    "q130_hard_negatives" -> ((s: SparkSession, d: String) =>
      TextAnalysis.hardNegatives(s, d)),
    // SQ8 quantization audit: trainless per-dim affine grid, so every
    // step (f32→double widening, IEEE arithmetic, floor) is bit-identical
    // in DuckDB — fully oracle-able unlike the trained PQ/IVF routes
    "q131_sq8_audit" -> ((s: SparkSession, d: String) =>
      Similarity.sq8QuantizationAudit(s, d)),
    // BPE apply (invariant row, q34 discipline): the greedy merge order is
    // not SQL-expressible, but piece/token conservation is structural and
    // the doc/token totals are DuckDB-recomputable exactly
    "q132_bpe_apply" -> ((s: SparkSession, d: String) =>
      TextAnalysis.bpeApplyInvariant(s, d)),
    // streaming deterministic reservoir: three ticks + a replayed tick,
    // then the semilattice merge; shares q97's batch oracle verbatim —
    // the one oracle proves stream == batch and replay idempotence
    "q133_streaming_reservoir" -> ((s: SparkSession, d: String) =>
      graft.streaming.ReservoirSampleStream.reservoirMultiTick(s, d)),
    // content-defined chunking: the cut set is a pure function of token
    // md5 prefixes (no RNG, no integer conversion), so the entire
    // per-chunk relation — ids, sizes, content hashes — is oracle-exact
    "q134_cdc_chunks" -> ((s: SparkSession, d: String) =>
      TextAnalysis.contentDefinedChunks(s, d)),
    // distribution-level snapshot drift: JS divergence over the two token
    // marginals + top-k delta contributors — deterministic double math,
    // 6dp-rounded total order, fully oracle-able
    "q135_token_drift" -> ((s: SparkSession, d: String) =>
      TextAnalysis.tokenDriftReport(s, d)),
    // q121's ownership over q134's shift-robust chunks + the DECIMAL-
    // rounded duplicated-token-fraction removal gate
    "q136_cdc_dedup" -> ((s: SparkSession, d: String) =>
      Dedup.cdcPassageDedup(s, d)),
    // truncation fidelity over the q21 audited pair set: prefix-m cosine
    // vs full cosine, deterministic double math per q131's precedent
    "q137_matryoshka_audit" -> ((s: SparkSession, d: String) =>
      Similarity.matryoshkaAudit(s, d)),
    // per-source volume / corpus-wide dup exposure / lang-entropy table
    "q138_source_scorecard" -> ((s: SparkSession, d: String) =>
      TextAnalysis.sourceScorecard(s, d)),
    // IVF index compaction (invariant row): batches fold 4 -> 1 with the
    // (vec_id, list_id) relation and probe results bit-identical
    "q139_ivf_compaction" -> ((s: SparkSession, d: String) =>
      Similarity.ivfCompactionInvariant(s, d)),
    // q135 kept live: per-tick JS vs the frozen reference marginal, with
    // a replayed tick; every tick's divergence is DuckDB-recomputable
    "q140_streaming_drift" -> ((s: SparkSession, d: String) =>
      graft.streaming.DriftMonitorStream.driftMultiTick(s, d)),
    // the q139 compaction invariant for the compressed (PQ codes) store
    "q141_pq_compaction" -> ((s: SparkSession, d: String) =>
      Similarity.pqCompactionInvariant(s, d)),
    // the D9 persisted-index tick at CDC-chunk grain: settled corpus
    // chunks once into a one-column hash sink, the shard probes it
    "q142_chunk_incremental_dedup" -> ((s: SparkSession, d: String) =>
      graft.operators.IncrementalDedup.chunkIncrementalDedupReport(s, d)),
    // the vector-modality drift twin: per-dim mean shift + spread ratio
    // between the q135 modulo snapshots, deterministic double arithmetic
    "q143_embedding_drift" -> ((s: SparkSession, d: String) =>
      Similarity.embeddingDriftReport(s, d)),
    // truncate vs pack vs chunk waste table at one context length —
    // integer arithmetic until the final 6dp division, fully oracled
    "q144_packing_efficiency" -> ((s: SparkSession, d: String) =>
      TextAnalysis.packingEfficiencyAudit(s, d)),
    // the router DECISION oracled even though two routes are engine-RNG:
    // per scenario the corpus count, the CASE-recomputable route, and a
    // dispatch check (routed ≡ direct route) pinned at 0 violations
    "q145_ann_route" -> ((s: SparkSession, d: String) =>
      Similarity.annRouteInvariant(s, d)),
    // the reference loop's per-round binary_accuracy as the A5 weighted
    // mean over a deterministic predictions fixture
    "q146_fed_eval_metric" -> ((s: SparkSession, d: String) =>
      graft.operators.FedAvg.perRoundBinaryAccuracy(s, d)),
    // corpus-health tripwire: ln-ln least squares over the unigram
    // rank-frequency curve, ranked WITHOUT a global single-partition sort
    "q147_zipf_audit" -> ((s: SparkSession, d: String) =>
      TextAnalysis.zipfAudit(s, d)),
    // Cohen's κ between two oracle-provable quality gates, 2×2 table
    // shipped alongside; gates compared on the 6dp DECIMAL ratio
    "q148_scorer_agreement" -> ((s: SparkSession, d: String) =>
      TextAnalysis.scorerAgreement(s, d)),
    // reliability-diagram reduction: ECE + max decile gap of a
    // deterministic confidence vs the q103 pass gate
    "q149_calibration_ece" -> ((s: SparkSession, d: String) =>
      TextAnalysis.calibrationAudit(s, d)),
    // Lee et al. 2022 substring-grain dedup as a bounded gram-diagonal
    // join: longest verbatim shared run per doc pair
    "q150_substring_runs" -> ((s: SparkSession, d: String) =>
      Dedup.substringRunPairs(s, d)),
    // C4 repeated-span scrub: drop every occurrence of any df>1 span,
    // rebuild the doc, prove the rewrite with the rebuilt-text md5
    "q151_repeated_span_scrub" -> ((s: SparkSession, d: String) =>
      Dedup.repeatedSpanScrub(s, d)),
    // exact self-kNN graph reduced to per-label purity + reciprocity —
    // the audit run before trusting the space for semantic curation
    "q152_knn_label_audit" -> ((s: SparkSession, d: String) =>
      Similarity.knnLabelAudit(s, d)),
    // per-language subwords/word + chars/subword — the token-budget sizer
    "q153_tokenizer_fertility" -> ((s: SparkSession, d: String) =>
      TextAnalysis.tokenizerFertilityAudit(s, d)),
    // sketch-vs-exact Jaccard on the exact pair set, violations pinned 0
    // (q145 invariant discipline: every emitted column DuckDB-recomputable)
    "q154_minhash_estimator_audit" -> ((s: SparkSession, d: String) =>
      Dedup.minhashEstimatorAudit(s, d)),
    // size-targeted JSONL shard export; manifest computed from the files
    // read BACK, so the green row proves the lossless round-trip
    "q155_jsonl_shard_export" -> ((s: SparkSession, d: String) =>
      graft.sources.Sources.jsonlShardExport(s, d)),
    // D25's exact runs across the q59 train/eval boundary: per eval doc,
    // the longest verbatim train-side run — contamination forensics
    "q156_substring_contamination" -> ((s: SparkSession, d: String) =>
      Dedup.substringContamination(s, d)),
    // per-vector neighbor-majority disagreement — the relabel queue
    "q157_knn_mislabel_candidates" -> ((s: SparkSession, d: String) =>
      Similarity.knnMislabelCandidates(s, d)),
    // data-constrained scaling planner: effective tokens under 0.5^epoch
    // decay per source (exact IEEE powers of 1/2 — no tolerance escape)
    "q158_effective_token_budget" -> ((s: SparkSession, d: String) =>
      TextAnalysis.effectiveTokenBudget(s, d)),
    // q128's two legs compared BEFORE fusing: overlap, footrule, and the
    // dense reciprocal rank of the lexical top-1 — the hybrid justifier
    "q159_ranking_agreement" -> ((s: SparkSession, d: String) =>
      Similarity.rankingAgreementAudit(s, d)),
    // deflate bytes per input byte per source; sanity-band violations
    // pinned 0 (ratio is zlib-defined → q34 invariant discipline)
    "q160_compression_signal" -> ((s: SparkSession, d: String) =>
      TextAnalysis.compressionSignal(s, d)),
    // q155's streaming twin: three doc_id-contiguous ticks, byte base as
    // the one cross-batch scalar, exactly-once partitions — the manifest
    // equals the batch export's, so the oracle is q155's SQL verbatim
    "q161_streaming_shard_export" -> ((s: SparkSession, d: String) =>
      graft.streaming.ShardExportStream.shardExportTicks(s, d)),
    // q85 rolled to the governance grain: per source, matches per class,
    // docs with any hit, DECIMAL-rounded hit rate
    "q162_pii_scorecard" -> ((s: SparkSession, d: String) =>
      TextAnalysis.piiSourceScorecard(s, d)),
    // q154's discipline on the simhash sketch: exact pairs recomputed by
    // the oracle, signature disagreement ≤ 16 bits (4σ below the 32-bit
    // noise mean) pinned TRUE
    "q163_simhash_estimator_audit" -> ((s: SparkSession, d: String) =>
      Dedup.simhashEstimatorAudit(s, d)),
    // q154's discipline on the winnowed candidate generator: exact pairs
    // must share ≥ 2 non-hot fingerprints (q65 production params), pinned
    "q164_winnowing_candidate_audit" -> ((s: SparkSession, d: String) =>
      Dedup.winnowingCandidateAudit(s, d)),
    // k-anonymity sweep over the (nation, segment, balance-bucket) QI —
    // every number exact and DuckDB-recomputable
    "q165_k_anonymity_audit" -> ((s: SparkSession, d: String) =>
      Relational.kAnonymityAudit(s, d)),
    // exact p50/p95 per source + the GK rank-guarantee flags for
    // percentile_approx, pinned TRUE (holds under any merge order)
    "q166_quantile_sketch_audit" -> ((s: SparkSession, d: String) =>
      Relational.quantileSketchAudit(s, d)),
    // PSI per feature between the q135 modulo snapshots, with the
    // industry decision bands — every count and probability re-derivable
    "q167_psi_drift_audit" -> ((s: SparkSession, d: String) =>
      TextAnalysis.psiDriftAudit(s, d)),
    // coverage of the current corpus by a freshly bootstrapped persisted
    // index (q64 split), with the indexed side READ BACK from the sink
    "q168_index_staleness" -> ((s: SparkSession, d: String) =>
      IncrementalDedup.indexStalenessAudit(s, d)),
    // within-cluster pairwise cosine stats over D7's clusters — the
    // chaining detector a keep-one dedup runs before shipping
    "q169_cluster_cohesion" -> ((s: SparkSession, d: String) =>
      Dedup.clusterCohesionAudit(s, d)),
    // q165 kept live over ingest ticks: class counts are sum-mergeable,
    // so the cumulative audit equals batch under ANY split — oracle is
    // q165's SQL verbatim
    "q170_streaming_k_anonymity" -> ((s: SparkSession, d: String) =>
      graft.streaming.KAnonymityGateStream.gateTicks(s, d)),
    // real PNG decode → dHash → banded hamming join over id-derived
    // synthetic images; the oracle re-derives the planted pair set from
    // id arithmetic alone (no codec on the DuckDB side)
    "q171_image_neardup" -> ((s: SparkSession, d: String) =>
      graft.multimodal.Multimodal.imageNearDupPlanted(s)),
    // vocabulary growth V(n) = K·n^β across doc_id-decile prefixes —
    // cumulative distinct via per-token first occurrence, one corpus pass
    "q172_heaps_audit" -> ((s: SparkSession, d: String) =>
      TextAnalysis.heapsAudit(s, d)),
    // per shuffle key: heaviest-key share and max/mean ratio — the
    // salt-or-not decision table, exact (a sample misses the key that
    // matters)
    "q173_shuffle_skew_audit" -> ((s: SparkSession, d: String) =>
      Relational.shuffleSkewAudit(s, d)),
    // the DoReMi multiplicative-weights loop, every step 6dp-DECIMAL
    // pinned so the whole trajectory replays bit-for-bit in the oracle
    "q174_doremi_weights" -> ((s: SparkSession, d: String) =>
      TextAnalysis.doremiMixtureWeights(s, d)),
    // week-over-week retention matrix anchored at the corpus' first
    // event date; per-(user, week) distinct activity
    "q175_retention_cohorts" -> ((s: SparkSession, d: String) =>
      graft.streaming.EventWindows.retentionCohorts(s, d)),
    // 2-itemset support/confidence/lift over order baskets, mega-basket
    // guard excluded before the pair join
    "q176_basket_lift" -> ((s: SparkSession, d: String) =>
      Relational.basketLift(s, d)),
    // GDPR Art. 17: anti-join rewrite + tombstone sidecar, audited from
    // the files read back (purged pinned TRUE)
    "q177_right_to_erasure" -> ((s: SparkSession, d: String) =>
      graft.sources.Sources.rightToErasure(s, d)),
    // q165's l-diversity companion over the SAME QI classes: distinct and
    // entropy l-diversity violations per l, one (QI, sensitive) scan
    "q178_l_diversity_audit" -> ((s: SparkSession, d: String) =>
      Relational.lDiversityAudit(s, d)),
    // THE CAPSTONE: gates -> exact dedup -> near-dup -> decontamination ->
    // mixture -> packing -> sharded JSONL export as ONE program (the
    // reference's preprocessing_pipeline.py:244-330 shape); result = the
    // release manifest from the exported files READ BACK, oracle = the
    // whole chain replayed as chained CTEs over one shared pair relation
    "q179_corpus_release" -> ((s: SparkSession, d: String) =>
      graft.pipeline.CorpusRelease.corpusRelease(s, d)),
    // the third governance notch (k-anon -> l-div -> t-closeness): per-QI
    // class total-variation distance to the global sensitive distribution
    "q180_t_closeness_audit" -> ((s: SparkSession, d: String) =>
      Relational.tClosenessAudit(s, d)),
    // the dedup knob-tuning curve: ONE candidate pass at the loosest
    // threshold, then per-threshold pair/cluster/dropped-doc accounting
    "q181_dedup_threshold_curve" -> ((s: SparkSession, d: String) =>
      Dedup.dedupThresholdCurve(s, d)),
    // q177 kept live over erasure-request ticks: bucket-pruned partition
    // rewrites + exactly-once tombstones; cumulative audit = batch
    // erasure of the union request set, so the oracle is q177's shape
    "q182_streaming_erasure" -> ((s: SparkSession, d: String) =>
      graft.streaming.ErasureStream.erasureTicks(s, d)),
    // the q179 capstone kept live over ingest ticks: gates -> hash-index
    // exact dedup -> static-eval decon -> settled-corpus-first near-dup
    // -> exactly-once shard export; oracle replays the admission loop
    // tick by tick (q69 discipline)
    "q183_streaming_release" -> ((s: SparkSession, d: String) =>
      graft.streaming.ReleaseStream.releaseTicks(s, d)),
    // UniMax waterfilling: equal budget shares with per-language capacity
    // caps; the capped prefix is selected by ALL-INTEGER comparisons
    "q184_unimax_allocation" -> ((s: SparkSession, d: String) =>
      TextAnalysis.unimaxAllocation(s, d)),
    // lakehouse VACUUM: manifest-vs-physical audit after deleting all but
    // the newest 2 of 4 deterministic snapshot versions
    "q185_snapshot_vacuum" -> ((s: SparkSession, d: String) =>
      graft.sources.Sources.snapshotVacuum(s, d)),
    // per candidate join: side/key/match counts, build side, broadcast-
    // vs-shuffle call, probe-side skew — the planner's pre-flight table
    "q186_join_advisor" -> ((s: SparkSession, d: String) =>
      Relational.joinStrategyAdvisor(s, d)),
    // near-dup pairs per split cell under group-aware vs per-doc splits:
    // the leakage number that justifies D16, pairs computed once
    "q187_split_leakage" -> ((s: SparkSession, d: String) =>
      Sampling.splitLeakageAudit(s, d)),
    // q144's capacity/waste table swept over candidate context lengths,
    // one spilled token-count pass serving every (context, strategy) cell
    "q188_context_sweep" -> ((s: SparkSession, d: String) =>
      TextAnalysis.packingContextSweep(s, d)),
    // ANALYZE: per (table, column) row/null/exact-NDV/min/max/width stats
    // over the engine's own join and rollup keys — the CBO's food, now
    // persisted once per session (ensureTableStats) and READ here, the
    // same store q224's planner consumes
    "q189_table_stats" -> ((s: SparkSession, d: String) =>
      Relational.ensureTableStats(s, d)),
    // ANALYZE's histograms: rank-selected quartile boundaries + min/max
    // per audited numeric column (never interpolated — engine-identical)
    "q190_column_histograms" -> ((s: SparkSession, d: String) =>
      Relational.columnHistograms(s, d)),
    // the release datasheet as ONE query: size/breadth/entropy/quality/
    // dup/contamination metrics, the pair relation computed once
    "q191_corpus_data_card" -> ((s: SparkSession, d: String) =>
      TextAnalysis.corpusDataCard(s, d)),
    // duplication severity by cluster size: pairs vs mega-cluster corpora
    // dedup identically by rate but need different routers
    "q192_dup_cluster_histogram" -> ((s: SparkSession, d: String) =>
      Dedup.dupClusterHistogram(s, d)),
    // GDPR Art. 15: per requested subject, what the store holds — rows,
    // activity span, event-type breadth, purchase count
    "q193_subject_access" -> ((s: SparkSession, d: String) =>
      graft.sources.Sources.subjectAccessReport(s, d)),
    // q100 on bucketed+sorted version tables: zero-Exchange SMJ diff,
    // same rows (oracle verbatim), plan spec-pinned
    "q194_snapshot_diff_bucketed" -> ((s: SparkSession, d: String) =>
      graft.sources.Sources.snapshotDiffBucketed(s, d)),
    // order-free gate attribution: per gate, docs failing it at all and
    // docs failing ONLY it — q103's funnel is first-fail-charged
    "q195_gate_ablation" -> ((s: SparkSession, d: String) =>
      TextAnalysis.gateAblation(s, d)),
    // batch twin of the q32 session window: gap-rule sessions via
    // lag/cumsum windows, rolled up to the session-size distribution
    "q196_sessionization" -> ((s: SparkSession, d: String) =>
      graft.streaming.EventWindows.sessionizationAudit(s, d)),
    // quartile-threshold RFM scoring: broadcast cuts, no global sort
    "q197_rfm_segments" -> ((s: SparkSession, d: String) =>
      Relational.rfmSegments(s, d)),
    // q154's estimator-audit discipline on the trained-float retrieval
    // routes: exact top-k re-derived by the oracle, the routed engine's
    // per-query recall floor pinned TRUE (floors from the measured
    // minima in BENCH_NOTES.md, one-neighbor margin)
    "q198_ivf_recall_audit" -> ((s: SparkSession, d: String) =>
      Similarity.ivfRecallAudit(s, d)),
    "q199_pq_recall_audit" -> ((s: SparkSession, d: String) =>
      Similarity.pqRecallAudit(s, d)),
    "q200_lsh_recall_audit" -> ((s: SparkSession, d: String) =>
      Similarity.annRecallAudit(s, d)),
    // persisted-lifecycle recall: the frozen-codebook operating mode
    // (bootstrap on the settled quarter -> 3 ticks -> compact, all
    // inside the query) probed through the on-disk index and floored
    // against the oracle-re-derived exact top-k
    "q201_ivf_lifecycle_recall" -> ((s: SparkSession, d: String) =>
      Similarity.ivfLifecycleRecallAudit(s, d)),
    "q202_pq_lifecycle_recall" -> ((s: SparkSession, d: String) =>
      Similarity.pqLifecycleRecallAudit(s, d)),
    // capacity-migration rebuild: the aged store retrained at doubled
    // capacity over its member vectors (blue/green paths), probed through
    // the REBUILT persisted index at a HIGHER floor than the lifecycle rows
    "q203_ivf_rebuild_recall" -> ((s: SparkSession, d: String) =>
      Similarity.ivfRebuildRecallAudit(s, d)),
    "q204_pq_rebuild_recall" -> ((s: SparkSession, d: String) =>
      Similarity.pqRebuildRecallAudit(s, d)),
    // multi-dimension clustering: Z-order layout written + read back,
    // zone-map skip counts for a deterministic probe set on BOTH keys
    // vs the single-key linear incumbent — exact integer bucketing so
    // the oracle re-derives file assignment and zone maps from raw rows
    "q205_zorder_skipping" -> ((s: SparkSession, d: String) =>
      graft.sources.Sources.zorderSkippingAudit(s, d)),
    // the zone map's blind spot: point lookups on a key uncorrelated
    // with file order — per-file Bloom index (multiplicative k-hash,
    // exact integer math), probe cost and false-positive gap measured
    // against oracle-re-derived exact file membership
    "q206_bloom_skipping" -> ((s: SparkSession, d: String) =>
      graft.sources.Sources.bloomSkippingAudit(s, d)),
    // the consumer side of the A45/A46 statistics loop: histogram-based
    // range-selectivity estimates and the textbook join-cardinality
    // formula, each audited in exact fixed-point against ground truth
    "q207_selectivity_estimation" -> ((s: SparkSession, d: String) =>
      Relational.selectivityEstimationAudit(s, d)),
    "q208_join_cardinality" -> ((s: SparkSession, d: String) =>
      Relational.joinCardinalityAudit(s, d)),
    // the skipping indexes' production lifecycle: per-commit stats
    // append (Delta/Iceberg shape) over four ingest ticks, the store
    // read back from disk — O(tick) per commit, XO replay spec-pinned
    "q209_incremental_zonemap" -> ((s: SparkSession, d: String) =>
      graft.sources.Sources.incrementalZoneMapStats(s, d)),
    // the store's CONSUMER: a range aggregate planned through the stats
    // store (partition filters from the overlapping zones; inputFiles
    // strictly below full scan, spec-pinned), result = the naive filter
    "q210_zonemap_pruned_scan" -> ((s: SparkSession, d: String) =>
      graft.sources.Sources.zoneMapPrunedScan(s, d)),
    // the maintenance verb: tick-scattered zones folded to one partition
    // each (blue/green), the stats store folded ARITHMETICALLY from the
    // old stats (zone maps are a monoid) — never a data rescan
    "q211_zone_compaction" -> ((s: SparkSession, d: String) =>
      graft.sources.Sources.zoneCompaction(s, d)),
    // the re-ANALYZE canary: estimates from a histogram that saw only
    // the settled 80% vs fresh stats vs truth, over a sweep that crosses
    // into the appended range — the D30 staleness discipline on A52
    "q212_stale_stats" -> ((s: SparkSession, d: String) =>
      Relational.staleStatsAudit(s, d)),
    // the Bloom index's lifecycle (the W16/W17 pair for W15): per-commit
    // set-position appends, then a point lookup planned through the
    // maintained store — answer exact whatever the index's FP rate
    "q213_incremental_bloom" -> ((s: SparkSession, d: String) =>
      graft.sources.Sources.incrementalBloomStats(s, d)),
    "q214_bloom_pruned_lookup" -> ((s: SparkSession, d: String) =>
      graft.sources.Sources.bloomPrunedLookup(s, d)),
    // A52's honest negative, measured: equi-depth alone vs the
    // heavy-hitter hybrid on a planted 90%-hot column — the spec pins
    // plain's worst error >= 10x hybrid's worst
    "q215_selectivity_skew" -> ((s: SparkSession, d: String) =>
      Relational.selectivitySkewAudit(s, d)),
    // the CBO loop's third leg: the HLL++ ndv route q208's formula would
    // consume at 100 TB, audited against exact ndv (3-sigma flag pinned)
    "q216_ndv_sketch" -> ((s: SparkSession, d: String) =>
      Relational.ndvSketchAudit(s, d)),
    // runtime partition pruning: the fact's surviving months come from
    // the dim side's broadcast at execution time (DynamicPruningExpression
    // spec-pinned in the scan's PartitionFilters)
    "q217_dpp_join" -> ((s: SparkSession, d: String) =>
      Relational.dppPrunedJoin(s, d)),
    // the non-partition-column sibling: InjectRuntimeFilter plants a
    // might_contain predicate above the fact scan (flag pinned; the
    // spec proves it computed by planning with the rule disabled)
    "q218_runtime_bloom_join" -> ((s: SparkSession, d: String) =>
      Relational.runtimeBloomJoin(s, d)),
    // the third runtime re-plan verb: AQE splits the 90%-hot shuffle
    // partition at execution (skew=true pinned in the final plan)
    "q219_aqe_skew_join" -> ((s: SparkSession, d: String) =>
      Relational.aqeSkewJoin(s, d)),
    // clustering decays under ingest: the unclustered tail forces every
    // multi-dim probe wide open until OPTIMIZE re-clusters it into a
    // fresh generation (blue/green pointer flip) — opened-file counts
    // and the invariant answer both oracle-re-derived
    "q220_zorder_optimize" -> ((s: SparkSession, d: String) =>
      graft.sources.Sources.zorderOptimizeLifecycle(s, d)),
    // the CBO loop's consumer: A44's advice executed BOTH ways per
    // audited join — observed plan shape per arm (oracle re-derives the
    // expected shape from the same row counts), results arm-identical
    "q221_cbo_plan_flip" -> ((s: SparkSession, d: String) =>
      Relational.cboPlanFlipAudit(s, d)),
    // the versionedSwap family's GC, exercised end-to-end: both declared
    // leak shapes planted on a published store, vacuumed (exactly 2
    // paths, idempotent), the live generation's data intact (read-back
    // aggregates oracle-re-derived)
    "q222_vacuum_generations" -> ((s: SparkSession, d: String) =>
      graft.sources.Sources.vacuumGenerationsAudit(s, d)),
    // the production CBO shape: side counts read from the PERSISTED
    // ANALYZE store (no recount), advice at the row threshold, the join
    // executed per that advice — observed operator + aggregate
    // oracle-re-derived (q221 owns the inverted-arm flip proof)
    "q224_cbo_from_analyze" -> ((s: SparkSession, d: String) =>
      Relational.cboFromAnalyzeAudit(s, d)),
    // REAL PCM WAV decode (the declared stub now covers MP4 only):
    // planted RIFF containers — every third with a skipped LIST chunk and
    // its pad byte — parsed back in executors; every emitted format field
    // and integer audio feature re-derived by the oracle from id math
    "q223_wav_decode" -> ((s: SparkSession, d: String) =>
      graft.multimodal.Multimodal.wavDecodeAudit(s)),
    // ANALYZE's per-commit leg: each tick appends ONE mergeable HLL
    // sketch row; table NDV = a metadata-sized union fold, no rescan —
    // 3-sigma accuracy + deterministic re-fold pinned (union estimate is
    // NOT whole-scan-identical: merging drops the HIP estimator — the
    // measured honest negative in the scaladoc)
    "q225_incremental_ndv" -> ((s: SparkSession, d: String) =>
      Relational.incrementalNdvMaintenance(s, d)),
    // the join-ORDER half of CBO: intermediate cardinalities of
    // lineitem⋈orders⋈customer estimated BOTH ways from the persisted
    // ANALYZE store (rows + ndv, q208's formula), the cheaper order
    // chosen, BOTH orders executed (q221 discipline) — estimates,
    // exact intermediates, observed join operators, choice, and the
    // order-invariant aggregate all oracle-re-derived
    "q226_cbo_join_order" -> ((s: SparkSession, d: String) =>
      Relational.cboJoinOrderAudit(s, d)),
    // the q225 NDV store finally CONSUMED: q226's join-order estimates
    // recomputed with ndv from the incremental sketch fold — 3σ pinned
    // through the consumer (per-column and propagated-band flags), the
    // sketch-fed choice hash-proven equal to the exact-stat choice, and
    // margin_robust telling a production enumerator when that is safe
    "q227_cbo_ndv_sketch" -> ((s: SparkSession, d: String) =>
      Relational.cboNdvSketchEstimates(s, d)),
    // the persisted ANN lifecycle's missing streaming twin: IVF assign /
    // PQ encode ticks arriving as real micro-batches (file source, one
    // file per trigger), batchId-keyed dynamic-overwrite commits —
    // store ≡ from-scratch derivation, probe identity, and restream
    // convergence pinned per family; counts oracle-re-derived
    "q228_ann_streaming" -> ((s: SparkSession, d: String) =>
      Similarity.annStreamingMaintenanceAudit(s, d)),
    // the last codec stub closed: REAL ISO-BMFF/MP4 container decode —
    // planted boxes (every third file a skipped free box, every fifth a
    // 64-bit largesize moov, every seventh an mvhd v1) walked back in
    // executors; every movie-metadata column and walk-honesty counter
    // re-derived by the oracle from id math (the q223 RIFF discipline)
    "q229_mp4_decode" -> ((s: SparkSession, d: String) =>
      graft.multimodal.Multimodal.mp4DecodeAudit(s)),
    // the real CBO enumeration: Selinger DP over the 4-table chain, every
    // input from the persisted ANALYZE store — the full DP table (est /
    // C_out cost / winning tree per connected subset) plus the executed
    // proof (chosen tree ≡ left-deep aggregate), all oracle-re-derived
    "q230_cbo_join_enumeration" -> ((s: SparkSession, d: String) =>
      Relational.cboJoinEnumerationAudit(s, d)),
    // the fourth runtime re-plan verb (J14 prunes partitions, J15 rows,
    // J16 splits skew — this one MERGES too-small shuffle partitions):
    // disabled-twin arms, marker from each arm's own final adaptive
    // plan, aggregate arm-identical and oracle-re-derived
    "q231_aqe_coalesce" -> ((s: SparkSession, d: String) =>
      Relational.aqeCoalesceAudit(s, d)),
    // the classic CBO behavior: a selective filter FLIPS the join order
    // — filtered-fact cardinality from the A52 histogram re-prices
    // est(li'⋈orders) against the unfiltered est(orders⋈customer); the
    // narrow predicate chooses lineitem-first, the wide one
    // customer-first, both orders executed, everything oracle-re-derived
    "q232_cbo_filtered_join_order" -> ((s: SparkSession, d: String) =>
      Relational.cboFilteredJoinOrderAudit(s, d)),
    // the aggregate the lakehouse PERSISTS: the MV stored as per-tick
    // partial aggregates (count + exact decimal sums — a mergeable
    // monoid), each commit O(tick) under its own ingest_batch partition
    // (the W16 XO discipline); every stored partial oracle-re-derived
    "q233_matview_maintenance" -> ((s: SparkSession, d: String) =>
      graft.sources.Sources.incrementalMatViewMaintenance(s, d)),
    // the MV made a feature: staleness detected from METADATA (MV fold
    // vs the persisted ANALYZE count), the missing tick replayed from
    // the store's own partition list, and the coarser rollup answered
    // from the refreshed fold ≡ the base table — rewrite hash-proven
    "q234_matview_rewrite" -> ((s: SparkSession, d: String) =>
      graft.sources.Sources.matViewRewriteAudit(s, d)),
    // the scale form of the both-arms discipline: the inverted arm runs
    // on a deterministic 1/8 JOIN-KEY partition (closed under the join,
    // so the sampled join is the true join restricted to those keys and
    // every number stays oracle-exact); the flip proof is plan shape +
    // a scaled cardinality check, the answer proof stays full-size
    "q235_cbo_sampled_arm" -> ((s: SparkSession, d: String) =>
      Relational.cboSampledArmAudit(s, d)),
    // the independence-assumption fix: a 64-row 2-D bucket histogram
    // over the fixture's genuinely correlated pair (event_id is assigned
    // in arrival order — corr ≈ 0.99998 vs ts); per aligned rectangle,
    // independence is ~4× low on the correlated corner and phantoms
    // rows onto the empty anti-diagonal while the group stat is EXACT;
    // near-diagonal occupancy (9 of 64 cells) is the detection signal
    "q236_column_group_stats" -> ((s: SparkSession, d: String) =>
      Relational.columnGroupStatsAudit(s, d)),
    // the group stat made a consumer: the corner conjunction priced
    // both ways from the persisted store straddles the broadcast
    // threshold — the engine executes the group-advised plan full-size
    // and the independence-advised (wrong) plan in q235's sampled form;
    // both correctness flags DERIVED from actual-vs-threshold, so green
    // proves carrying the 64-row stat flipped a real plan the right way
    "q237_cbo_group_stat_join" -> ((s: SparkSession, d: String) =>
      Relational.cboGroupStatJoinAudit(s, d)),
    // A58's lifecycle leg: per-tick group-stat partials (the grid's
    // cell counts are a monoid) appended under ingest_batch partitions
    // with frozen ANALYZE bounds — every stored partial oracle-checked;
    // fold ≡ the build-once store and the streaming twin spec-pinned
    "q238_incremental_group_stats" -> ((s: SparkSession, d: String) =>
      Relational.incrementalGroupStatMaintenance(s, d)),
    // the W18 verb for the MV store: T tick partitions folded into ONE
    // generation by pure aggregation (monoid — no fact rescan),
    // published by the atomic pointer flip; fold + audit counters
    // oracle-re-derived from raw orders
    "q239_matview_compaction" -> ((s: SparkSession, d: String) =>
      graft.sources.Sources.matViewCompaction(s, d)),
    // the consumer that REMOVES an operator: PK uniqueness (from the
    // persisted ANALYZE store) + FK integrity (the maintained orphan
    // counter) prove the unused orders join multiplicity-neutral, so
    // the engine answers from lineitem alone — both plans' scan counts
    // and answers emitted, the eliminated flag derived, never hard-coded
    "q240_fk_join_elimination" -> ((s: SparkSession, d: String) =>
      Relational.fkJoinEliminationAudit(s, d)),
    // the counter q240 reads, given the family lifecycle: each fact
    // tick checks ITS OWN rows against the PK snapshot at ingest
    // (O(tick) left-join fold) and appends one partition row; table
    // integrity = a 4-row fold, never a full-table anti-join; the
    // clean zero is DERIVED by the oracle per tick, not assumed
    "q241_fk_integrity_stats" -> ((s: SparkSession, d: String) =>
      Relational.incrementalFkIntegrityMaintenance(s, d)),
    // the third ANALYZE route (exact / sketch / SAMPLED): ndv from the
    // deterministic 1/8 key partition — naive scale-up overestimates
    // the dense FK columns ~7×, the Chao estimator d + f1²/(2·f2)
    // lands within a few percent; sufficient stats, both estimates,
    // and both errors all integer math, exact leg from the ANALYZE store
    "q242_sampled_analyze" -> ((s: SparkSession, d: String) =>
      Relational.sampledAnalyzeAudit(s, d)),
    // the learning-optimizer loop (LEO): the observed cardinality of
    // rectangle A becomes a persisted correction for its predicate
    // class, and a DIFFERENT query (rectangle B, same diagonal class)
    // re-prices through the store — raw independence ~75% off, the
    // transferred correction within ~0.2%; nothing circular (learned on
    // A, scored on B), `improved` derived from the two errors
    "q243_cbo_feedback_loop" -> ((s: SparkSession, d: String) =>
      Relational.cboFeedbackLoopAudit(s, d)),
    // the LEO loop closed on the ENUMERATOR: a derived-expression
    // predicate prices at the default guess (~0.1%), the training
    // member's observed cardinality persists a correction, and the
    // same-class target query re-prices through the store — the
    // correction ALONE flips the join order (raw: lineitem-first;
    // corrected: customer-first); production plan full-size, both
    // orders on the 1/8 key partition, identity emitted as a column
    "q244_cbo_feedback_order" -> ((s: SparkSession, d: String) =>
      Relational.cboFeedbackOrderAudit(s, d)),
    // the chain DP generalized to the warehouse's actual shape: csg-cmp
    // Selinger enumeration over the 5-table STAR (lineitem⋈orders⋈
    // customer + part + supplier), all stats from the persisted ANALYZE
    // store — the full 17-row connected-subset DP table plus the
    // executed chosen-tree-vs-left-deep proof; the natural fixture's
    // winner is BUSHY, the shape no chain or left-deep enumerator finds
    "q245_cbo_graph_enumeration" -> ((s: SparkSession, d: String) =>
      Relational.cboGraphEnumerationAudit(s, d)),
    // the third statistic gains its sampled route: equi-depth histogram
    // from the 1/8 key partition (counts ×8), measured vs the exact
    // build per predicate (err_ppm), and CONSUMED by q232's join-order
    // decision with the sample band propagated — margin_robust says
    // when the ±3/√c band clears the margin; when it doesn't, the
    // route falls back to the exact histogram; the routed choice's
    // order executes full-size, predicate bounds from the ANALYZE store
    "q246_sampled_histogram_route" -> ((s: SparkSession, d: String) =>
      Relational.sampledHistogramRouteAudit(s, d)),
    // the statistics stack as ONE workload (the q179 capstone shape):
    // sampled-histogram route -> routed join order -> FK elimination ->
    // group-stat advice -> persisted feedback correction, every
    // decision consuming a persisted statistic and landing in a uniform
    // decision-trace row alongside the answer it produced
    "q247_optimizer_capstone" -> ((s: SparkSession, d: String) =>
      Relational.optimizerCapstoneAudit(s, d)),
    // the LEO loop closed on the GRAPH enumerator: the q244 class's
    // persisted correction re-prices every connected subset of the
    // filtered 5-table star, and the correction alone flips the chosen
    // TREE (raw default guess -> deep; corrected -> bushy); fb-chosen
    // tree full-size, both trees on the 1/8 key partition
    "q248_cbo_feedback_graph" -> ((s: SparkSession, d: String) =>
      Relational.cboFeedbackGraphAudit(s, d)),
    // the general csg-cmp enumeration on the classic CYCLIC instance
    // (TPC-H Q5's 5-cycle): arcs enumerated without any interval/edge-
    // cut shortcut, the cycle-closing predicate multiplying into the
    // full set's estimate, multi-cross-edge splits executing ALL their
    // predicates, and the 21-row DP table oracle-re-derived via a
    // generated per-cell CASE chain
    "q249_cbo_cyclic_enumeration" -> ((s: SparkSession, d: String) =>
      Relational.cboCyclicEnumerationAudit(s, d)),
    // the LEO store's lifecycle leg: per-tick (est, actual) observation
    // rows under batchId partitions, fold = pooled-ratio correction per
    // class (a monoid — one outlier query cannot own the class), XO
    // replay of the middle tick before reading, and the held-out
    // rectangle's transfer re-derived from the maintained fold
    "q250_incremental_feedback" -> ((s: SparkSession, d: String) =>
      Relational.incrementalFeedbackMaintenance(s, d)),
    // physical operators priced INSIDE the enumerator (the System-R
    // access-path coupling): the q245 star DP run twice — pure C_out
    // vs C_out + beta*exchanged under the broadcast-threshold operator
    // model — per-cell operator annotations and exchanged rows
    // emitted, plans_differ derived; the operator-aware tree executes
    // full-size with each join HINTED to its cell's operator, both
    // winners on the 1/8 key partition
    "q251_cbo_physical_enumeration" -> ((s: SparkSession, d: String) =>
      Relational.cboPhysicalEnumerationAudit(s, d)),
    // the LEO store gains the q212 staleness discipline: newest-tick
    // ratio vs pooled prior, drift beyond the band marks the class
    // stale and the consumer read (q244/q247/q248's gate) REFUSES the
    // correction — fresh leg from the maintained store, drifted leg
    // from a planted regime change (b_ts rotated half the domain),
    // decision_right derived from the three measured errors
    "q252_feedback_staleness" -> ((s: SparkSession, d: String) =>
      Relational.feedbackStalenessAudit(s, d)),
    // the exchange-awareness probe: both enumeration arms (star +
    // cyclic, chosen vs left-deep) executed with broadcast scoped off,
    // the final adaptive plan's Exchange nodes COUNTED next to each
    // arm's C_out — the measurement that quantifies what C_out misses
    // (partitioning reuse) and sizes the interesting-orders payoff.
    // Plan facts: declared ORACLE-EXEMPT (rows-only), spec-pinned —
    // the cyclic chosen arm saves a shuffle vs left-deep because its
    // dim chain reuses the nationkey partitioning
    "q253_cbo_exchange_probe" -> ((s: SparkSession, d: String) =>
      Relational.cboExchangeProbeAudit(s, d)),
    // interesting partitionings IN the enumerator (the full Selinger
    // coupling): DP states keyed by (connected subset, output
    // partitioning), re-exchanges charged gamma*rows under exactly
    // the model q253 proved equal to Spark's EnsureRequirements, a
    // same-class later join consumes a partitioned side for free; the
    // whole (subset x partitioning) state table emitted, gamma=0
    // instantiation = pure C_out pricing, winner executed full-size
    "q254_cbo_exchange_enumeration" -> ((s: SparkSession, d: String) =>
      Relational.cboExchangeEnumerationAudit(s, d)),
    // the UNIFIED physical enumerator: operators AND partitionings in
    // one DP - a broadcast join both skips the shuffle and PRESERVES
    // its stream side's partitioning for a later same-class join, the
    // term neither q251 nor q254 could express; full state table,
    // broadcast-disabled instantiation reduces to q254's DP, winner
    // executed full-size with operator-true hints
    "q255_cbo_unified_enumeration" -> ((s: SparkSession, d: String) =>
      Relational.cboUnifiedEnumerationAudit(s, d)),
    // the PLANNED QUERY: one optimizer entry point, estimate ->
    // enumerate -> execute - the histogram prices the range predicate,
    // the freshness-gated LEO correction repairs the derived
    // predicate's default guess, the corrected fact cardinality feeds
    // the unified operator+partitioning DP (run raw AND corrected;
    // the wide predicate's correction flips the operator family past
    // the broadcast threshold), and the corrected winner executes
    // full-size with operator-true hints
    "q256_planned_query" -> ((s: SparkSession, d: String) =>
      Relational.plannedStarQuery(s, d)),
    // the BYTE-form broadcast gate: the DP's eligibility priced as
    // est_rows x the ANALYZE store's avg_width (a subset's gate width
    // is the MAX of its members - the dominant-column model: one wide
    // dim poisons every superset, uniform widths reduce to the row
    // form; the sum is emitted next to the max);
    // four instantiations - row gate, the uniform-width reduction
    // (cell-for-cell equal), the store's real widths, and a planted
    // 2500-byte customer that flips broadcast->shuffle at constant
    // rows (the q237 OOM hazard, priced at plan time)
    "q257_cbo_byte_broadcast" -> ((s: SparkSession, d: String) =>
      Relational.cboByteBroadcastAudit(s, d)),
    // the MODEL half of the exchange probe, oracle-backed: per
    // (graph, arm) the C_out cost, plan, and joinExch-predicted
    // shuffle/sort counts - pure integer arithmetic over ANALYZE
    // statistics, so q253's oracle exemption now covers ONLY the
    // genuinely engine-side plan facts (the measured node counts)
    "q258_cbo_model_predictions" -> ((s: SparkSession, d: String) =>
      Relational.cboModelPredictionsAudit(s, d)),
    // the planned query COMPOSED with the byte gate: the corrected
    // fact cardinality decides how much moves, the store's widths
    // decide whether it fits - per predicate the unified DP runs
    // byte-gated on store widths (executed, full-size) and on the
    // planted 2500-byte customer (the q237 hazard injected into the
    // planned path; the winner flips its ship side)
    "q259_planned_query_bytes" -> ((s: SparkSession, d: String) =>
      Relational.plannedStarQueryBytes(s, d))
  )

  /** The session-shared `ensure*` leaves at the registry consumers'
    * default parameters, exposed so the bench can build each one as its
    * own timed artifact entry (`leaf_builds`) BEFORE any query runs —
    * per-query numbers are then steady-state reads instead of whichever
    * consumer happened to pay the one-time build (r16: the kNN-leaf
    * build landed on q152 and read as a 7.7 s regression). Leaves built
    * lazily by less-common parameterizations still get timed via
    * [[graft.sources.Sources.storeBuildSeconds]]. */
  def leafWarmers: Seq[(String, (SparkSession, String) => Unit)] = Seq(
    // the shingle leaf warms FIRST: jacpairs (and every other shingle
    // consumer) reads it, so its one-time tokenization cost is its own
    // artifact line instead of riding the jacpairs build
    "shingles" -> ((s: SparkSession, d: String) =>
      { Dedup.ensureDocShingles(s, d); () }),
    "jacpairs" -> ((s: SparkSession, d: String) =>
      { Dedup.ensureJaccardPairs(s, d); () }),
    "winfps" -> ((s: SparkSession, d: String) =>
      { Dedup.ensureWinnowFps(s, d); () }),
    "embpairs" -> ((s: SparkSession, d: String) =>
      { Dedup.ensureEmbedPairs(s, d); () }),
    "embclusters" -> ((s: SparkSession, d: String) =>
      { Dedup.ensureEmbedClusters(s, d); () }),
    "knnedges" -> ((s: SparkSession, d: String) =>
      { Similarity.ensureKnnEdges(s, d, 5, 10000L); () }),
    "exacttopk" -> ((s: SparkSession, d: String) =>
      { Similarity.ensureExactTopK(s, d, 10, 5); () }),
    "anlz" -> ((s: SparkSession, d: String) =>
      { Relational.ensureTableStats(s, d); () }),
    "mv" -> ((s: SparkSession, d: String) =>
      { graft.sources.Sources.ensureMatViewStore(s, d, 4); () }),
    "cgrp" -> ((s: SparkSession, d: String) =>
      { Relational.ensureColumnGroupStats(s, d); () }),
    "cgrpinc" -> ((s: SparkSession, d: String) =>
      { Relational.ensureIncrementalGroupStats(s, d, 4); () }),
    "fkint" -> ((s: SparkSession, d: String) =>
      { Relational.ensureFkIntegrityStats(s, d, 4); () }),
    "leofbinc" -> ((s: SparkSession, d: String) =>
      { Relational.ensureFeedbackStats(s, d); () }))

  /** Shared CTE chain ending in `pairs` = the exact-Jaccard near-dup pairs
    * at threshold 0.5 over relation `src` (q17 + q18 + the q52/q55 edge
    * sets: the LSH output is verification-exact, so all build on the
    * brute-force SQL). */
  private def jaccardPairCtesFrom(src: String): String =
    s"""toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM $src),
      |sh AS (SELECT DISTINCT doc_id,
      |         unnest([array_to_string(t[i:i+2], ' ') for i in generate_series(1, len(t)-2)]) AS shingle
      |       FROM toks WHERE len(t) >= 3),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      |          FROM sh a JOIN sh b USING (shingle) WHERE a.doc_id < b.doc_id
      |          GROUP BY 1, 2),
      |pairs AS (SELECT doc_a, doc_b,
      |            round(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter), 4) AS jaccard
      |          FROM inter JOIN sizes sa ON sa.doc_id = doc_a
      |                     JOIN sizes sb ON sb.doc_id = doc_b
      |          WHERE round(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter), 4) >= 0.5)""".stripMargin

  private val jaccardPairCtes: String = jaccardPairCtesFrom("documents")

  /** The q103 gate-predicate CTE chain ending in `cm` = (doc_id, p0..p4),
    * one boolean per [[operators.TextAnalysis.cascadeStages]] stage —
    * shared by the attrition funnel (q103) and the corpus-release capstone
    * (q179), the SQL twin of `TextAnalysis.cascadePreds`. CTE names are
    * c-prefixed so the chain composes with [[jaccardPairCtesFrom]] (which
    * owns `toks`) in one WITH block. */
  private lazy val cascadePredCtes: String =
    s"""ctoks AS (SELECT doc_id, lang, text, string_split(text, ' ') AS t
       |              FROM documents),
       |csc AS (SELECT doc_id,
       |  len(list_filter(t, x -> x IN ('the','a','of','and','is'))) AS s_en,
       |  len(list_filter(t, x -> x IN ('el','la','de','que','y'))) AS s_es,
       |  len(list_filter(t, x -> x IN ('der','die','und','das','ist'))) AS s_de,
       |  len(list_filter(t, x -> x IN ('le','la','de','et','est'))) AS s_fr,
       |  len(list_filter(t, x -> x IN ('de5','shi4','le5'))) AS s_zh
       | FROM ctoks),
       |cpl AS (SELECT doc_id,
       |  CASE WHEN greatest(s_en, s_es, s_de, s_fr, s_zh) = 0 THEN 'und'
       |       WHEN s_en = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'en'
       |       WHEN s_es = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'es'
       |       WHEN s_de = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'de'
       |       WHEN s_fr = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'fr'
       |       ELSE 'zh' END AS plang
       | FROM csc),
       |cdup AS (SELECT doc_id,
       |  CASE WHEN len(t) >= 3 THEN round(
       |    (CAST(len(t) - 2 AS DOUBLE)
       |      - len(list_distinct([array_to_string(t[i:i+2], ' ')
       |                           for i in generate_series(1, len(t)-2)])))
       |    / (len(t) - 2), 6) ELSE 0.0 END AS dup_frac
       | FROM ctoks),
       |cm AS (SELECT ctoks.doc_id,
       |  len(t) >= 5 AS p0,
       |  round(CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
       |    / length(text), 6) >= 0.5 AS p1,
       |  $qualitySql >= 0.5 AS p2,
       |  plang = lang AS p3,
       |  dup_frac <= 0.2 AS p4
       | FROM ctoks JOIN cpl USING (doc_id) JOIN cdup USING (doc_id))""".stripMargin

  /** Per-stratum seeded-hash bottom-k (q97's batch semantics) as ONE rank
    * window — shared verbatim by q97 (batch) and q133 (streaming
    * reservoir): the same oracle proving both forms equal is what pins
    * stream ≡ batch. */
  private lazy val stratumBottomKSql: String =
    """WITH keyed AS (SELECT doc_id, lang,
      |         md5(CAST(doc_id AS VARCHAR) || ':42') AS skey
      |       FROM documents),
      | ranked AS (SELECT doc_id, lang,
      |              CAST(row_number() OVER (PARTITION BY lang
      |                ORDER BY skey, doc_id) AS BIGINT) AS pos
      |            FROM keyed)
      |SELECT doc_id, lang, pos FROM ranked WHERE pos <= 50""".stripMargin

  /** The packing manifest as DuckDB sees it: ONE global prefix-sum window
    * in doc_id order (the plan the engine's two-level form avoids). Shared
    * by q84 (batch) and q93 (streaming multi-tick) — the same oracle is
    * what proves the two forms equivalent. */
  private lazy val packingManifestSql: String =
    """WITH toks AS (SELECT doc_id,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n FROM documents),
      | off AS (SELECT doc_id, n,
      |          CAST(coalesce(sum(n) OVER (ORDER BY doc_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS o
      |         FROM toks)
      |SELECT doc_id, n AS n_tokens,
      | o // 256 AS first_chunk,
      | (o + n - 1) // 256 AS last_chunk,
      | (o + n - 1) // 256 - o // 256 + 1 AS n_chunks
      |FROM off""".stripMargin

  /** Cross-split incremental-dedup report under the ingest split (shared
    * by q64 — plain parquet index — and q66, the bucketed index: the
    * layout changes the shuffle, not the rows). */
  private lazy val incrementalDedupSql: String =
    s"""WITH $jaccardPairCtes,
       |cross_pairs AS (
       |  SELECT CASE WHEN doc_a % 7 = 0 THEN doc_a ELSE doc_b END AS doc_id, jaccard
       |  FROM pairs WHERE (doc_a % 7 = 0) <> (doc_b % 7 = 0))
       |SELECT doc_id, max(jaccard) AS max_jaccard, count(*) AS n_matches
       |FROM cross_pairs GROUP BY doc_id""".stripMargin

  /** DuckDB replay of q69's cumulative ingest loop: tick t reports shard
    * doc_id % 7 = t against idx_t (settled ∪ admissions of ticks < t),
    * and idx_{t+1} adds the tick-t docs that matched nothing — the exact
    * SQL restatement of report-then-append. Built on the same `pairs` CTE
    * as every Jaccard oracle. */
  private lazy val incrementalMultiTickSql: String = {
    def rep(t: Int) =
      s"""rep$t AS (SELECT a AS doc_id, max(jaccard) AS max_jaccard, count(*) AS n_matches
         |  FROM sym JOIN idx$t ON b = idx$t.doc_id WHERE a % 7 = $t GROUP BY a)""".stripMargin
    def idx(t: Int) =
      s"""idx$t AS (SELECT doc_id FROM idx${t - 1}
         |  UNION ALL SELECT doc_id FROM documents WHERE doc_id % 7 = ${t - 1}
         |    AND doc_id NOT IN (SELECT doc_id FROM rep${t - 1}))""".stripMargin
    s"""WITH $jaccardPairCtes,
       |sym AS (SELECT doc_a AS a, doc_b AS b, jaccard FROM pairs
       |        UNION ALL SELECT doc_b, doc_a, jaccard FROM pairs),
       |idx0 AS (SELECT doc_id FROM documents WHERE doc_id % 7 >= 3),
       |${rep(0)}, ${idx(1)}, ${rep(1)}, ${idx(2)}, ${rep(2)}
       |SELECT doc_id, max_jaccard, n_matches, CAST(0 AS INTEGER) AS tick FROM rep0
       |UNION ALL SELECT doc_id, max_jaccard, n_matches, 1 FROM rep1
       |UNION ALL SELECT doc_id, max_jaccard, n_matches, 2 FROM rep2""".stripMargin
  }

  /** Transitive closure over the exact-Jaccard pair set (shared by q52 —
    * the LSH candidate route — and q65, the forced winnowed-candidate
    * route: both score exact full-shingle Jaccard, so the cluster
    * contract is identical). */
  private lazy val neardupClustersSql: String =
    s"""WITH RECURSIVE $jaccardPairCtes,
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
       |          UNION SELECT doc_b, doc_a FROM pairs),
       |reach(id, lbl) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id)
       |SELECT id AS doc_id, min(lbl) AS cluster_id, (min(lbl) = id) AS keep
       |FROM reach GROUP BY id""".stripMargin

  private val jaccardSql: String =
    s"WITH $jaccardPairCtes\nSELECT doc_a, doc_b, jaccard FROM pairs"

  /** q195: the cascade predicates once, then marginal / unique / any-fail
    * attribution per gate. */
  private lazy val gateAblationSql: String = {
    val stages = Seq("min_tokens", "alpha_ratio", "quality",
      "lang_agree", "repetition")
    val fs = stages.indices
      .map(i => s"(CASE WHEN NOT p$i THEN 1 ELSE 0 END) AS f$i")
      .mkString(", ")
    val nf = stages.indices.map(i => s"f$i").mkString(" + ")
    val aggs = stages.indices.map(i =>
      s"sum(f$i) AS m$i, sum(CASE WHEN f$i = 1 AND nf = 1 THEN 1 ELSE 0 END) AS u$i")
      .mkString(",\n        ")
    val rows = stages.zipWithIndex.map { case (s, i) =>
      s"""SELECT CAST($i AS BIGINT) AS stage_idx, '$s' AS stage,
         |  CAST(n_docs AS BIGINT) AS n_docs,
         |  CAST(any_fail AS BIGINT) AS n_fail_any,
         |  CAST(m$i AS BIGINT) AS n_fail_marginal,
         |  CAST(u$i AS BIGINT) AS n_fail_only FROM c""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $cascadePredCtes,
       |fl AS (SELECT $fs FROM cm),
       |fn AS (SELECT *, $nf AS nf FROM fl),
       |c AS (SELECT count(*) AS n_docs,
       |        sum(CASE WHEN nf > 0 THEN 1 ELSE 0 END) AS any_fail,
       |        $aggs
       |      FROM fn)
       |$rows""".stripMargin
  }

  /** The q100 diff oracle, shared VERBATIM by the bucketed form q194
    * (bucketing changes the shuffle, never the rows). */
  private lazy val snapshotDiffSql: String =
    """WITH v1 AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0),
      | upd AS (SELECT doc_id, text || ' [rev2]' AS text FROM documents
      |         WHERE doc_id % 2 = 0),
      | v2 AS (SELECT coalesce(u.doc_id, b.doc_id) AS doc_id,
      |          coalesce(u.text, b.text) AS text
      |        FROM v1 b FULL OUTER JOIN upd u ON b.doc_id = u.doc_id),
      | d AS (SELECT CASE WHEN a.doc_id IS NULL THEN 'added'
      |                   WHEN c.doc_id IS NULL THEN 'removed'
      |                   WHEN a.text <> c.text THEN 'changed'
      |                   ELSE 'unchanged' END AS status
      |       FROM v1 a FULL OUTER JOIN v2 c ON a.doc_id = c.doc_id)
      |SELECT status, count(*) AS n_docs FROM d GROUP BY status""".stripMargin

  /** q192: the q52 transitive closure re-aggregated to the size grain. */
  private lazy val dupHistogramSql: String =
    s"""WITH RECURSIVE $jaccardPairCtes,
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
       |          UNION SELECT doc_b, doc_a FROM pairs),
       |reach(id, lbl) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id),
       |cl AS (SELECT id, min(lbl) AS lbl FROM reach GROUP BY id),
       |sz AS (SELECT CAST(count(*) AS BIGINT) AS size FROM cl GROUP BY lbl)
       |SELECT size, CAST(count(*) AS BIGINT) AS n_clusters,
       |  CAST(size * count(*) AS BIGINT) AS n_docs,
       |  CAST((size - 1) * count(*) AS BIGINT) AS n_docs_dropped
       |FROM sz GROUP BY size""".stripMargin

  /** Embedding unnest CTE: (vec_id, 0-based dim, double value). */
  private val embedExplode: String =
    "SELECT vec_id, label, generate_subscripts(embedding, 1) - 1 AS dim, " +
      "CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings"

  /** Exact all-pairs cosine near-dup oracle at threshold 0.4 (shared by q20
    * — the router's fixture-scale exact route — and q61, the grid-blocked
    * distributed exact path forced at the same threshold: both implement
    * the identical exact contract). */
  private lazy val embedNearDupSql: String =
    s"""WITH ex AS ($embedExplode),
       |dots AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, sum(a.x * b.x) AS dot
       |         FROM ex a JOIN ex b ON a.dim = b.dim AND a.vec_id < b.vec_id
       |         GROUP BY 1, 2),
       |norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM ex GROUP BY vec_id)
       |SELECT id_a, id_b, round(dot / (na.nrm * nb.nrm), 6) AS cos
       |FROM dots JOIN norms na ON na.vec_id = id_a JOIN norms nb ON nb.vec_id = id_b
       |WHERE round(dot / (na.nrm * nb.nrm), 6) >= 0.4""".stripMargin

  /** Exact cosine top-k oracle (shared by q21 and its per-partition-reduced
    * twin q51 — same result by construction). */
  private lazy val cosineTopKSql: String =
    s"""WITH ex AS ($embedExplode),
       |dots AS (SELECT q.vec_id AS query_id, c.vec_id AS cand_id, sum(q.x * c.x) AS dot
       |         FROM ex q JOIN ex c ON q.dim = c.dim AND q.vec_id < 10 AND q.vec_id <> c.vec_id
       |         GROUP BY 1, 2),
       |norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM ex GROUP BY vec_id),
       |scored AS (SELECT query_id, cand_id, round(dot / (nq.nrm * nc.nrm), 6) AS score
       |           FROM dots JOIN norms nq ON nq.vec_id = query_id
       |                     JOIN norms nc ON nc.vec_id = cand_id),
       |ranked AS (SELECT query_id, cand_id, score,
       |            row_number() OVER (PARTITION BY query_id ORDER BY score DESC, cand_id) AS rank
       |           FROM scored)
       |SELECT query_id, rank, cand_id, score FROM ranked WHERE rank <= 5""".stripMargin

  /** Routed-recall audit oracle (shared by q198/q199/q200 — same exact
    * chain as q21; the routed side stays engine-internal and only its
    * per-query floor decision is pinned). */
  private lazy val recallAuditSql: String = {
    val exactBody = cosineTopKSql.substring(0, cosineTopKSql.lastIndexOf("SELECT query_id"))
    s"""${exactBody}SELECT query_id, CAST(count(*) AS BIGINT) AS n_exact,
       |  TRUE AS recall_ok
       |FROM ranked WHERE rank <= 5 GROUP BY query_id""".stripMargin
  }

  /** The curation rollup oracle (shared by q44 and its observed twin
    * q80 — observe() never changes the rows). */
  private lazy val curationSql: String =
    s"""WITH q AS (SELECT doc_id, lang, sha256(text) AS h FROM documents
       |           WHERE $qualitySql >= 0.5)
       |SELECT lang, count(*) AS n_kept
       |FROM (SELECT min_by(lang, doc_id) AS lang FROM q GROUP BY h) t
       |GROUP BY lang""".stripMargin

  /** DuckDB twin of TextFunctions.qualityScore (shared by q25/q44/q45). */
  private val qualitySql: String =
    """round(least(len(string_split(text, ' ')) / 50.0, 1.0) * 0.4
      |   + (CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / length(text)) * 0.4
      |   + (1.0 - least(CAST(len(list_filter(string_split(text, ' '),
      |       t -> t IN ('the','a','of','and','in','to','is'))) AS DOUBLE)
      |       / len(string_split(text, ' ')) * 2.0, 1.0)) * 0.2, 6)""".stripMargin

  /** Shared CTE chain producing the q128/q159 retrieval legs — BM25 `lex`
    * and dense-cosine `vec`, both (query_id, cand_id, *_rank) at
    * nQueries = 5, depth = 20. One text, two consumers: the fusion and
    * the agreement audit can never drift on what a "leg" means. */
  private lazy val retrievalLegsCtes: String =
    s"""n AS (SELECT count(*) AS n_docs FROM documents),
       | tf AS (SELECT doc_id, token, count(*) AS tf
       |        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
       |              FROM documents)
       |        GROUP BY doc_id, token),
       | lens AS (SELECT doc_id, sum(tf) AS len FROM tf GROUP BY doc_id),
       | al AS (SELECT avg(len) AS avg_len FROM lens),
       | idf AS (SELECT token,
       |           ln(1.0 + (CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5)) AS idf
       |         FROM (SELECT token, count(*) AS df FROM tf GROUP BY token
       |               HAVING count(*) <= 1000000), n),
       | bw AS (SELECT tf.doc_id AS cand_id, tf.token,
       |          idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * len / avg_len)) AS w
       |        FROM tf JOIN idf USING (token) JOIN lens USING (doc_id), al),
       | lscored AS (SELECT q.doc_id AS query_id, cand_id,
       |               round(sum(w), 4) AS score
       |             FROM bw JOIN (SELECT DISTINCT doc_id, token FROM tf
       |                           WHERE doc_id < 5) q USING (token)
       |             WHERE q.doc_id <> cand_id
       |             GROUP BY 1, 2),
       | lr AS (SELECT query_id, cand_id,
       |          CAST(row_number() OVER (PARTITION BY query_id
       |            ORDER BY score DESC, cand_id) AS BIGINT) AS lex_rank
       |        FROM lscored),
       | lex AS (SELECT * FROM lr WHERE lex_rank <= 20),
       | ex AS ($embedExplode),
       | dots AS (SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
       |            sum(q.x * c.x) AS dot
       |          FROM ex q JOIN ex c ON q.dim = c.dim AND q.vec_id < 5
       |            AND q.vec_id <> c.vec_id
       |          GROUP BY 1, 2),
       | norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM ex GROUP BY vec_id),
       | vscored AS (SELECT query_id, cand_id,
       |               round(dot / (nq.nrm * nc.nrm), 6) AS score
       |             FROM dots JOIN norms nq ON nq.vec_id = query_id
       |                       JOIN norms nc ON nc.vec_id = cand_id),
       | vr AS (SELECT query_id, cand_id,
       |          CAST(row_number() OVER (PARTITION BY query_id
       |            ORDER BY score DESC, cand_id) AS BIGINT) AS vec_rank
       |        FROM vscored),
       | vec AS (SELECT * FROM vr WHERE vec_rank <= 20)""".stripMargin

  /** The q85 planted-PII CTE (damage derived from doc_id so the oracle
    * re-derives it), shared by the per-doc redaction and the q162
    * per-source scorecard. Carries `source` for the rollup grain. */
  private lazy val piiPlantedCte: String =
    """planted AS (SELECT doc_id, source,
      |  text ||
      |  CASE WHEN doc_id % 5 = 0
      |       THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1'
      |       ELSE '' END ||
      |  CASE WHEN doc_id % 7 = 0
      |       THEN ' reach me at user' || CAST(doc_id AS VARCHAR) || '@example.com'
      |       ELSE '' END ||
      |  CASE WHEN doc_id % 11 = 0
      |       THEN ' or call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
      |       ELSE '' END ||
      |  CASE WHEN doc_id % 13 = 0
      |       THEN ' ssn ' || CAST(doc_id % 400 + 100 AS VARCHAR) || '-' ||
      |            CAST(doc_id % 89 + 10 AS VARCHAR) || '-' ||
      |            lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
      |       ELSE '' END ||
      |  CASE WHEN doc_id % 17 = 0
      |       THEN ' card 4111-1111-1111-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
      |       ELSE '' END AS t
      | FROM documents)""".stripMargin

  /** The q155 release-manifest oracle, shared VERBATIM by the streaming
    * twin q161 (stream ≡ batch whenever ticks are doc_id-contiguous —
    * the q133 one-oracle discipline). */
  private lazy val shardManifestSql: String =
    """WITH d AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS b
      |           FROM documents),
      |pre AS (SELECT doc_id, b,
      |          coalesce(sum(b) OVER (ORDER BY doc_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |            AS cum
      |        FROM d),
      |a AS (SELECT doc_id, b, cum // 16384 AS shard FROM pre)
      |SELECT CAST(shard AS BIGINT) AS shard,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(b) AS BIGINT) AS shard_bytes,
      |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
      |FROM a GROUP BY shard""".stripMargin

  /** The q179 capstone oracle: the full corpus-release chain as chained
    * CTEs (the q69 cumulative discipline) — gate predicates
    * ([[cascadePredCtes]]), exact-dedup keep-min, near-dup transitive
    * closure + decontamination both off ONE shared exact-Jaccard pair
    * relation ([[jaccardPairCtesFrom]] over the exact-dedup survivors:
    * Jaccard between two docs is relation-independent, so the same
    * `pairs` CTE serves the CC edges and, keeper-restricted, the
    * cross-split contamination filter), q104's mixture arithmetic over
    * the released set, and the q84/q155 prefix sums over the
    * (doc_id, copy) epoch order. */
  private lazy val corpusReleaseSql: String =
    s"""WITH RECURSIVE $cascadePredCtes,
       |gated AS (SELECT doc_id FROM cm WHERE p0 AND p1 AND p2 AND p3 AND p4),
       |g AS (SELECT d.* FROM documents d JOIN gated USING (doc_id)),
       |exk AS (SELECT min(doc_id) AS doc_id FROM g GROUP BY sha256(text)),
       |rel AS (SELECT d.doc_id, d.lang, d.text
       |        FROM documents d JOIN exk USING (doc_id)),
       |${jaccardPairCtesFrom("rel")},
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
       |          UNION SELECT doc_b, doc_a FROM pairs),
       |reach(id, lbl) AS (
       |  SELECT doc_id, doc_id FROM rel
       |  UNION
       |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id),
       |keepers AS (SELECT id AS doc_id FROM reach GROUP BY id
       |            HAVING min(lbl) = id),
       |nd AS (SELECT rel.* FROM rel JOIN keepers USING (doc_id)),
       |contam AS (
       |  SELECT CASE WHEN doc_a % 10 = 0 THEN doc_b ELSE doc_a END AS doc_id
       |  FROM pairs
       |  JOIN keepers ka ON ka.doc_id = pairs.doc_a
       |  JOIN keepers kb ON kb.doc_id = pairs.doc_b
       |  WHERE (doc_a % 10 = 0) <> (doc_b % 10 = 0)
       |  UNION
       |  SELECT t.doc_id FROM nd t
       |  WHERE t.doc_id % 10 <> 0
       |    AND sha256(t.text) IN (SELECT sha256(text) FROM nd
       |                           WHERE doc_id % 10 = 0)),
       |released AS (SELECT nd.* FROM nd WHERE doc_id % 10 <> 0
       |             AND doc_id NOT IN (SELECT doc_id FROM contam)),
       |cnts AS (SELECT lang, count(*) AS n_docs FROM released GROUP BY lang),
       |tw AS (SELECT sum(pow(CAST(n_docs AS DOUBLE), 0.7)) AS total_w
       |       FROM cnts),
       |tg AS (SELECT lang, n_docs,
       |         CAST(floor(round(CAST(pow(CAST(n_docs AS DOUBLE), 0.7)
       |                 / total_w AS DECIMAL(38,18)), 6) * 1000) AS BIGINT)
       |           AS target
       |       FROM cnts CROSS JOIN tw),
       |rk AS (SELECT doc_id, lang,
       |         CAST(row_number() OVER (PARTITION BY lang
       |           ORDER BY md5(CAST(doc_id AS VARCHAR) || ':42'), doc_id)
       |           AS BIGINT) AS pos
       |       FROM released),
       |cp AS (SELECT rk.doc_id,
       |         target // n_docs
       |           + CASE WHEN pos <= target % n_docs THEN 1 ELSE 0 END
       |           AS n_copies
       |       FROM rk JOIN tg USING (lang)),
       |epoch AS (SELECT r.doc_id, r.text,
       |            unnest(generate_series(1, n_copies)) AS cpy
       |          FROM cp JOIN released r ON r.doc_id = cp.doc_id
       |          WHERE n_copies > 0),
       |et AS (SELECT doc_id, cpy,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |         CAST(length(text) AS BIGINT) AS b
       |       FROM epoch),
       |off AS (SELECT doc_id, cpy, n_tokens, b,
       |         CAST(coalesce(sum(n_tokens) OVER w, 0) AS BIGINT) AS tok_off,
       |         CAST(coalesce(sum(b) OVER w, 0) AS BIGINT) AS byte_off
       |        FROM et
       |        WINDOW w AS (ORDER BY doc_id, cpy
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
       |asg AS (SELECT doc_id, n_tokens, b,
       |          byte_off // 16384 AS shard,
       |          tok_off // 256 AS fc,
       |          (tok_off + n_tokens - 1) // 256 AS lc
       |        FROM off)
       |SELECT CAST(shard AS BIGINT) AS shard,
       |  CAST(count(*) AS BIGINT) AS n_rows,
       |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |  CAST(sum(b) AS BIGINT) AS shard_bytes,
       |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       |  CAST(min(fc) AS BIGINT) AS first_chunk,
       |  CAST(max(lc) AS BIGINT) AS last_chunk,
       |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
       |FROM asg GROUP BY shard""".stripMargin

  /** The q181 threshold-curve oracle: the shared 0.5-threshold pair CTE
    * once, then per-threshold transitive closure + summary rows (pairs at
    * tighter thresholds are a subset by monotonicity, so one pair
    * relation serves every gate — the engine's shape replayed). */
  private lazy val dedupCurveSql: String = {
    val ts = Seq(0.5, 0.6, 0.7, 0.8, 0.9)
    val perT = ts.map { t =>
      val s = (t * 100).round.toInt
      s"""ed$s AS (SELECT doc_a AS src, doc_b AS dst FROM pairs WHERE jaccard >= $t
         |  UNION SELECT doc_b, doc_a FROM pairs WHERE jaccard >= $t),
         |re$s(id, lbl) AS (
         |  SELECT src, src FROM ed$s
         |  UNION
         |  SELECT e.dst, r.lbl FROM re$s r JOIN ed$s e ON e.src = r.id),
         |cl$s AS (SELECT id, min(lbl) AS lbl FROM re$s GROUP BY id)""".stripMargin
    }.mkString(",\n")
    val rows = ts.map { t =>
      val s = (t * 100).round.toInt
      s"""SELECT CAST($t AS DOUBLE) AS threshold,
         |  CAST((SELECT count(*) FROM pairs WHERE jaccard >= $t) AS BIGINT) AS n_pairs,
         |  CAST((SELECT count(*) FROM cl$s) AS BIGINT) AS n_docs_in_pairs,
         |  CAST((SELECT count(DISTINCT lbl) FROM cl$s) AS BIGINT) AS n_clusters,
         |  CAST((SELECT count(*) FROM cl$s)
         |    - (SELECT count(DISTINCT lbl) FROM cl$s) AS BIGINT) AS n_docs_dropped,
         |  (SELECT CAST(round(CAST(avg(jaccard) AS DECIMAL(38,18)), 6) AS DOUBLE)
         |   FROM pairs WHERE jaccard >= $t) AS mean_jaccard""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"WITH RECURSIVE $jaccardPairCtes,\n$perT\n$rows"
  }

  /** The q183 streaming-release oracle: gates + first-occurrence hash
    * dedup + static-eval decontamination as global CTEs (each is
    * tick-order-independent under doc_id-contiguous ticks), then the
    * near-dup admission replayed TICK BY TICK against the accumulated
    * admitted set (the q69 rep/idx discipline — streaming near-dup is
    * settled-corpus-first by design, not batch CC), then the q155 prefix
    * sum over the released stream. One `pairs` relation over
    * candidates ∪ eval serves both the decon filter and the admission
    * replay. */
  private lazy val releaseStreamSql: String =
    s"""WITH $cascadePredCtes,
       |gated AS (SELECT cm.doc_id FROM cm
       |          WHERE p0 AND p1 AND p2 AND p3 AND p4 AND cm.doc_id % 10 <> 0),
       |g AS (SELECT d.* FROM documents d JOIN gated USING (doc_id)),
       |exk AS (SELECT min(doc_id) AS doc_id FROM g GROUP BY sha256(text)),
       |cand0 AS (SELECT d.doc_id, d.lang, d.text
       |          FROM documents d JOIN exk USING (doc_id)),
       |relu AS (SELECT doc_id, text FROM cand0
       |         UNION ALL
       |         SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
       |${jaccardPairCtesFrom("relu")},
       |contamf AS (SELECT CASE WHEN doc_a % 10 = 0 THEN doc_b ELSE doc_a END
       |              AS doc_id
       |            FROM pairs WHERE (doc_a % 10 = 0) <> (doc_b % 10 = 0)),
       |contamx AS (SELECT c.doc_id FROM cand0 c
       |            WHERE sha256(c.text) IN (SELECT sha256(text) FROM documents
       |                                     WHERE doc_id % 10 = 0)),
       |cand AS (SELECT * FROM cand0 WHERE doc_id NOT IN
       |           (SELECT doc_id FROM contamf
       |            UNION SELECT doc_id FROM contamx)),
       |cuts AS (SELECT max(doc_id) // 3 AS t1, (2 * max(doc_id)) // 3 AS t2
       |         FROM documents WHERE doc_id % 10 <> 0),
       |candp AS (SELECT doc_a, doc_b FROM pairs
       |          WHERE doc_a IN (SELECT doc_id FROM cand)
       |            AND doc_b IN (SELECT doc_id FROM cand)),
       |sym AS (SELECT doc_a AS a, doc_b AS b FROM candp
       |        UNION ALL SELECT doc_b, doc_a FROM candp),
       |adm0 AS (SELECT c.* FROM cand c, cuts WHERE doc_id <= t1),
       |rep1 AS (SELECT DISTINCT s.a AS doc_id FROM sym s, cuts
       |         WHERE s.a > t1 AND s.a <= t2
       |           AND s.b IN (SELECT doc_id FROM adm0)),
       |adm1 AS (SELECT c.* FROM cand c, cuts
       |         WHERE doc_id > t1 AND doc_id <= t2
       |           AND doc_id NOT IN (SELECT doc_id FROM rep1)),
       |rep2 AS (SELECT DISTINCT s.a AS doc_id FROM sym s, cuts
       |         WHERE s.a > t2
       |           AND s.b IN (SELECT doc_id FROM adm0
       |                       UNION ALL SELECT doc_id FROM adm1)),
       |adm2 AS (SELECT c.* FROM cand c, cuts WHERE doc_id > t2
       |         AND doc_id NOT IN (SELECT doc_id FROM rep2)),
       |released AS (SELECT * FROM adm0
       |             UNION ALL SELECT * FROM adm1
       |             UNION ALL SELECT * FROM adm2),
       |d2 AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS b FROM released),
       |pre2 AS (SELECT doc_id, b,
       |          coalesce(sum(b) OVER (ORDER BY doc_id
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
       |         FROM d2),
       |asg AS (SELECT doc_id, b, cum // 16384 AS shard FROM pre2)
       |SELECT CAST(shard AS BIGINT) AS shard,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(b) AS BIGINT) AS shard_bytes,
       |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
       |FROM asg GROUP BY shard""".stripMargin

  /** The q186 advisor oracle: per audited join, the same per-side
    * key-count aggregates, keys-only match stats, and the identical
    * build/strategy/skew CASE arithmetic. */
  private lazy val joinAdvisorSql: String = {
    val joins = Seq(
      ("lineitem*orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
      ("orders*customer", "orders", "o_custkey", "customer", "c_custkey"),
      ("lineitem*part", "lineitem", "l_partkey", "part", "p_partkey"),
      ("customer*nation", "customer", "c_nationkey", "nation", "n_nationkey"))
    joins.map { case (label, lt, lk, rt, rk) =>
      s"""SELECT '$label' AS join_label,
         |  CAST(n_left AS BIGINT) AS n_left, CAST(n_right AS BIGINT) AS n_right,
         |  CAST(n_left_keys AS BIGINT) AS n_left_keys,
         |  CAST(n_right_keys AS BIGINT) AS n_right_keys,
         |  CAST(n_matched_keys AS BIGINT) AS n_matched_keys,
         |  CAST(n_matched_left AS BIGINT) AS n_matched_left,
         |  CASE WHEN n_right <= n_left THEN 'right' ELSE 'left' END AS build_side,
         |  CASE WHEN least(n_left, n_right) <= 10000 THEN 'broadcast'
         |       ELSE 'shuffle' END AS strategy,
         |  CAST(round(CAST(
         |    CASE WHEN n_right <= n_left
         |         THEN CAST(l_max AS DOUBLE) * n_left_keys / n_left
         |         ELSE CAST(r_max AS DOUBLE) * n_right_keys / n_right END
         |    AS DECIMAL(38,18)), 6) AS DOUBLE) AS skew_ratio
         |FROM (SELECT sum(cnt) AS n_left, count(*) AS n_left_keys,
         |             max(cnt) AS l_max
         |      FROM (SELECT $lk AS k, count(*) AS cnt FROM $lt GROUP BY 1)) ls
         |CROSS JOIN
         |     (SELECT sum(cnt) AS n_right, count(*) AS n_right_keys,
         |             max(cnt) AS r_max
         |      FROM (SELECT $rk AS k, count(*) AS cnt FROM $rt GROUP BY 1)) rs
         |CROSS JOIN
         |     (SELECT count(*) AS n_matched_keys,
         |             coalesce(sum(lc.cnt), 0) AS n_matched_left
         |      FROM (SELECT $lk AS k, count(*) AS cnt FROM $lt GROUP BY 1) lc
         |      JOIN (SELECT DISTINCT $rk AS k FROM $rt) rc USING (k)) m""".stripMargin
    }.mkString("\nUNION ALL\n")
  }

  /** The q165 k-anonymity sweep, shared VERBATIM by the streaming gate
    * q170 (class counts are sum-mergeable, so the cumulative streamed
    * audit equals the batch sweep under ANY micro-batch split — the q133
    * one-oracle discipline). */
  private lazy val kAnonymitySql: String =
    """WITH cls AS (SELECT c_nationkey, c_mktsegment,
        |               floor(c_acctbal / 1000.0) AS b, count(*) AS cnt
        |             FROM customer GROUP BY 1, 2, 3),
        |ks AS (SELECT unnest([2, 5, 10, 20]) AS k)
        |SELECT k, CAST(sum(cnt) AS BIGINT) AS n_rows,
        |  CAST(count(*) AS BIGINT) AS n_classes,
        |  CAST(min(cnt) AS BIGINT) AS min_class_size,
        |  CAST(sum(CASE WHEN cnt < k THEN 1 ELSE 0 END) AS BIGINT) AS n_small_classes,
        |  CAST(sum(CASE WHEN cnt < k THEN cnt ELSE 0 END) AS BIGINT) AS n_risk_rows,
        |  CAST(round(CAST(CAST(sum(CASE WHEN cnt < k THEN cnt ELSE 0 END) AS DOUBLE)
        |    / sum(cnt) AS DECIMAL(38,18)), 6) AS DOUBLE) AS risk_frac
        |FROM cls CROSS JOIN ks GROUP BY k""".stripMargin

  /** The q174 exponentiated-gradient trajectory, unrolled: every round's
    * weights are 6dp-rounded before the next round reads them, so the
    * CTE chain replays the engine's iteration exactly (no compounding
    * float drift across rounds). */
  private lazy val doremiSql: String = {
    val iters = 5
    def r6(e: String): String = s"CAST(round(CAST(($e) AS DECIMAL(38,18)), 6) AS DOUBLE)"
    val head =
      s"""WITH base AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |    ${r6(s"CAST(sum(CAST($qualitySql AS DECIMAL(38,18))) AS DOUBLE) / count(*)")} AS mean_q
         |  FROM documents GROUP BY source),
         |b2 AS (SELECT source, n_docs, mean_q,
         |    ${r6("greatest(0.0, 0.6 - mean_q)")} AS excess FROM base),
         |b3 AS (SELECT *, ${r6("exp(1.0 * excess)")} AS boost FROM b2),
         |w0 AS (SELECT source, n_docs, mean_q, excess, boost,
         |    ${r6("1.0 / (SELECT count(*) FROM b3)")} AS weight FROM b3)""".stripMargin
    val steps = (1 to iters).map { t =>
      s"""u$t AS (SELECT source, n_docs, mean_q, excess, boost,
         |    ${r6("weight * boost")} AS u FROM w${t - 1}),
         |w$t AS (SELECT source, n_docs, mean_q, excess, boost,
         |    ${r6(s"u / CAST((SELECT sum(CAST(u AS DECIMAL(38,18))) FROM u$t) AS DOUBLE)")} AS weight
         |  FROM u$t)""".stripMargin
    }.mkString(",\n", ",\n", "")
    val tail = (0 to iters).map { t =>
      s"SELECT $t AS iteration, source, n_docs, mean_q, excess, weight FROM w$t"
    }.mkString("\n", "\nUNION ALL\n", "")
    head + steps + tail
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted (→ driver rows-only check):
    * q19_simhash and q22_ann_topk are keyed on Spark's xxhash64,
    * q43_ivf_topk / q116_pq_topk / q118_pq_incremental are approximate by
    * construction (Lloyd's-trained codebooks) — none reproducible in
    * DuckDB; each is covered by a ScalaTest spec instead (DedupSpec
    * planted near-dup recall; SimilaritySpec recall-vs-exact-topk for
    * the ANN variants, IVF partition-exactness, PQ recall + exact
    * re-rank scores, and the persisted-index invariant rows of
    * q94/q118). The q19 sketch additionally carries an ORACLE-CHECKED
    * companion audit (q163, the q154 discipline): the sketch's decision
    * on every exact near-dup pair is pinned against the
    * DuckDB-recomputed pair set, so only the hash VALUES stay
    * oracle-free, not the contracts. q63_winnowing_pairs gained a REAL
    * oracle r18: its rolling hash is deterministic wrapping-Long
    * arithmetic, which [[winnowingPairsSql]] replays in HUGEINT mod
    * 2⁶⁴ — the last non-RNG spec-gated row closed.
    */
  def oracleSql: Map[String, String] = oracleSqlFor("/root/testdata/sf0.01")

  /** The q245 star-DP cost/plan CASE chain, parameterized by suffix so
    * q248 can instantiate it once per pricing (raw vs feedback). Expects
    * a CTE `st$sfx` providing nli, nord, ncust, npart, nsupp, d0..d3;
    * emits CTEs `e$sfx`/`c3$sfx`/`c4$sfx`/`c5$sfx` with the final
    * chosen plan/cost as `p_all`/`c_all`. Splits enumerate by cut-edge
    * index with first-minimal ties — the engine's C_out tree DP
    * (`selingerPhysicalDp` at betaE2 = 0) order verbatim. */
  private def starDpChainSql(sfx: String): String =
    s"""e$sfx AS (
       |  SELECT *,
       |    CAST(CAST(nli AS HUGEINT) * nord // d0 AS BIGINT) AS e_lo,
       |    CAST(CAST(nord AS HUGEINT) * ncust // d1 AS BIGINT) AS e_oc,
       |    CAST(CAST(nli AS HUGEINT) * npart // d2 AS BIGINT) AS e_lp,
       |    CAST(CAST(nli AS HUGEINT) * nsupp // d3 AS BIGINT) AS e_ls,
       |    CAST(CAST(nli AS HUGEINT) * nord * ncust // (CAST(d0 AS HUGEINT) * d1) AS BIGINT) AS e_loc,
       |    CAST(CAST(nli AS HUGEINT) * nord * npart // (CAST(d0 AS HUGEINT) * d2) AS BIGINT) AS e_lop,
       |    CAST(CAST(nli AS HUGEINT) * nord * nsupp // (CAST(d0 AS HUGEINT) * d3) AS BIGINT) AS e_los,
       |    CAST(CAST(nli AS HUGEINT) * npart * nsupp // (CAST(d2 AS HUGEINT) * d3) AS BIGINT) AS e_lps,
       |    CAST(CAST(nli AS HUGEINT) * nord * ncust * npart // (CAST(d0 AS HUGEINT) * d1 * d2) AS BIGINT)
       |      AS e_locp,
       |    CAST(CAST(nli AS HUGEINT) * nord * ncust * nsupp // (CAST(d0 AS HUGEINT) * d1 * d3) AS BIGINT)
       |      AS e_locs,
       |    CAST(CAST(nli AS HUGEINT) * nord * npart * nsupp // (CAST(d0 AS HUGEINT) * d2 * d3) AS BIGINT)
       |      AS e_lops,
       |    CAST(CAST(nli AS HUGEINT) * nord * ncust * npart * nsupp
       |      // (CAST(d0 AS HUGEINT) * d1 * d2 * d3) AS BIGINT) AS e_all
       |  FROM st$sfx),
       |c3$sfx AS (
       |  SELECT *,
       |    CAST(e_loc + least(e_oc, e_lo) AS BIGINT) AS c_loc,
       |    CASE WHEN e_oc <= e_lo THEN '(lineitem*(orders*customer))'
       |      ELSE '((lineitem*orders)*customer)' END AS p_loc,
       |    CAST(e_lop + least(e_lp, e_lo) AS BIGINT) AS c_lop,
       |    CASE WHEN e_lp <= e_lo THEN '((lineitem*part)*orders)'
       |      ELSE '((lineitem*orders)*part)' END AS p_lop,
       |    CAST(e_los + least(e_ls, e_lo) AS BIGINT) AS c_los,
       |    CASE WHEN e_ls <= e_lo THEN '((lineitem*supplier)*orders)'
       |      ELSE '((lineitem*orders)*supplier)' END AS p_los,
       |    CAST(e_lps + least(e_ls, e_lp) AS BIGINT) AS c_lps,
       |    CASE WHEN e_ls <= e_lp THEN '((lineitem*supplier)*part)'
       |      ELSE '((lineitem*part)*supplier)' END AS p_lps
       |  FROM e$sfx),
       |c4$sfx AS (
       |  SELECT *,
       |    CAST(e_locp + least(e_lp + e_oc, c_lop, c_loc) AS BIGINT)
       |      AS c_locp,
       |    CASE
       |      WHEN e_lp + e_oc <= c_lop AND e_lp + e_oc <= c_loc
       |        THEN '((lineitem*part)*(orders*customer))'
       |      WHEN c_lop <= c_loc THEN '(' || p_lop || '*customer)'
       |      ELSE '(' || p_loc || '*part)' END AS p_locp,
       |    CAST(e_locs + least(e_ls + e_oc, c_los, c_loc) AS BIGINT)
       |      AS c_locs,
       |    CASE
       |      WHEN e_ls + e_oc <= c_los AND e_ls + e_oc <= c_loc
       |        THEN '((lineitem*supplier)*(orders*customer))'
       |      WHEN c_los <= c_loc THEN '(' || p_los || '*customer)'
       |      ELSE '(' || p_loc || '*supplier)' END AS p_locs,
       |    CAST(e_lops + least(c_lps, c_los, c_lop) AS BIGINT) AS c_lops,
       |    CASE
       |      WHEN c_lps <= c_los AND c_lps <= c_lop
       |        THEN '(' || p_lps || '*orders)'
       |      WHEN c_los <= c_lop THEN '(' || p_los || '*part)'
       |      ELSE '(' || p_lop || '*supplier)' END AS p_lops
       |  FROM c3$sfx),
       |c5$sfx AS (
       |  SELECT *,
       |    CAST(e_all + least(c_lps + e_oc, c_lops, c_locs, c_locp)
       |      AS BIGINT) AS c_all,
       |    CASE
       |      WHEN c_lps + e_oc <= c_lops AND c_lps + e_oc <= c_locs
       |        AND c_lps + e_oc <= c_locp
       |        THEN '(' || p_lps || '*(orders*customer))'
       |      WHEN c_lops <= c_locs AND c_lops <= c_locp
       |        THEN '(' || p_lops || '*customer)'
       |      WHEN c_locs <= c_locp THEN '(' || p_locs || '*part)'
       |      ELSE '(' || p_locp || '*supplier)' END AS p_all
       |  FROM c4$sfx)""".stripMargin

  /** q249's oracle, GENERATED by replaying the engine's `dpCcp`
    * enumeration symbolically over the Q5 5-cycle: for every connected
    * subset (the cycle's arcs) the generator emits the single-division
    * estimate over ALL induced-edge divisors, the `least()` over the
    * cell's candidate splits (ascending S1 bitmask, both sides
    * connected — the engine's order verbatim), and the first-minimal
    * CASE chain assembling the plan string. The enumeration logic here
    * is a 20-line pure model of the cycle; the SQL it emits is what a
    * hand-written oracle would be, with zero transcription risk. */
  private val cyclicDpSql: String = {
    val n = 5
    val edges = Seq((0, 1), (1, 2), (2, 3), (3, 4), (4, 0))
    val rowCols = Seq("nli", "nord", "ncust", "nnat", "nsupp")
    val names = Seq("lineitem", "orders", "customer", "nation", "supplier")
    // the graph topology only: divisors are emitted as SQL columns
    val topo = JoinGraph(Seq.fill(n)(("", 1L)),
      edges.map { case (a, b) => (a, b, 1L) })
    import topo.{connected, induced, inMask => inM}
    def estExpr(m: Int): String = {
      // first factor promoted to HUGEINT: five warehouse-scale row
      // counts (and four divisors) overflow a BIGINT product — the
      // engine's BigInt discipline, oracle-side
      def prod(cols: Seq[String]): String =
        (s"CAST(${cols.head} AS HUGEINT)" +: cols.tail).mkString(" * ")
      val num = prod((0 until n).filter(inM(_, m)).map(rowCols))
      val den = induced(m).map(e => s"d$e")
      if (den.isEmpty) s"CAST($num AS BIGINT)"
      else s"CAST($num // (${prod(den)}) AS BIGINT)"
    }
    def costRef(m: Int): String =
      if (java.lang.Integer.bitCount(m) == 1) "0" else s"c_$m"
    def planRef(m: Int): String =
      if (java.lang.Integer.bitCount(m) == 1)
        s"'${names(java.lang.Integer.numberOfTrailingZeros(m))}'"
      else s"p_$m"
    val compositeMasks = (3 to (1 << n) - 1)
      .filter(m => java.lang.Integer.bitCount(m) >= 2 && connected(m))
    val ee = compositeMasks.map(m => s"    ${estExpr(m)} AS e_$m")
      .mkString(",\n")
    val levels = compositeMasks.groupBy(java.lang.Integer.bitCount)
      .toSeq.sortBy(_._1)
    val levelCtes = levels.map { case (pc, masks) =>
      val cols = masks.flatMap { m =>
        val low = 1 << java.lang.Integer.numberOfTrailingZeros(m)
        val cands = (1 until m).flatMap { s1 =>
          val s2 = m & ~s1
          if ((s1 & m) == s1 && (s1 & low) != 0 && s2 != 0 &&
              connected(s1) && connected(s2))
            Some((s"(${costRef(s1)} + ${costRef(s2)})",
              s"'(' || ${planRef(s1)} || '*' || ${planRef(s2)} || ')'"))
          else None
        }
        val costCol = s"    CAST(e_$m + least(${cands.map(_._1).mkString(", ")}) AS BIGINT) AS c_$m"
        val planCol =
          if (cands.length == 1) s"    ${cands.head._2} AS p_$m"
          else {
            val whens = cands.init.zipWithIndex.map { case ((cost, plan), i) =>
              val laterLe = cands.drop(i + 1)
                .map(l => s"$cost <= ${l._1}").mkString(" AND ")
              s"      WHEN $laterLe THEN $plan"
            }
            s"    CASE\n${whens.mkString("\n")}\n      ELSE ${cands.last._2} END AS p_$m"
          }
        Seq(costCol, planCol)
      }
      val mat = if (pc == levels.last._1) " MATERIALIZED" else ""
      s"lv$pc AS$mat (\n  SELECT *,\n${cols.mkString(",\n")}\n  FROM ${if (pc == 2) "ee" else s"lv${pc - 1}"})"
    }
    val outRows = ((0 until n).map { i =>
      s"""  SELECT '${names(i)}' AS subset, CAST(1 AS BIGINT) AS n_tables,
         |    ${rowCols(i)} AS est_rows, CAST(0 AS BIGINT) AS best_cost,
         |    '${names(i)}' AS best_plan FROM lv${levels.last._1}""".stripMargin
    } ++ compositeMasks.map { m =>
      val nm = (0 until n).filter(inM(_, m)).map(names).mkString(",")
      s"""  SELECT '$nm', ${java.lang.Integer.bitCount(m)}, e_$m, c_$m,
         |    p_$m FROM lv${levels.last._1}""".stripMargin
    }).mkString("\n  UNION ALL\n")
    s"""WITH st AS (
       |  SELECT (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS nli,
       |    (SELECT CAST(count(*) AS BIGINT) FROM orders) AS nord,
       |    (SELECT CAST(count(*) AS BIGINT) FROM customer) AS ncust,
       |    (SELECT CAST(count(*) AS BIGINT) FROM nation) AS nnat,
       |    (SELECT CAST(count(*) AS BIGINT) FROM supplier) AS nsupp,
       |    greatest(
       |      (SELECT count(DISTINCT l_orderkey) FROM lineitem),
       |      (SELECT count(DISTINCT o_orderkey) FROM orders)) AS d0,
       |    greatest(
       |      (SELECT count(DISTINCT o_custkey) FROM orders),
       |      (SELECT count(DISTINCT c_custkey) FROM customer)) AS d1,
       |    greatest(
       |      (SELECT count(DISTINCT c_nationkey) FROM customer),
       |      (SELECT count(DISTINCT n_nationkey) FROM nation)) AS d2,
       |    greatest(
       |      (SELECT count(DISTINCT n_nationkey) FROM nation),
       |      (SELECT count(DISTINCT s_nationkey) FROM supplier)) AS d3,
       |    greatest(
       |      (SELECT count(DISTINCT s_suppkey) FROM supplier),
       |      (SELECT count(DISTINCT l_suppkey) FROM lineitem)) AS d4),
       |ee AS (
       |  SELECT *,
       |$ee
       |  FROM st),
       |${levelCtes.mkString(",\n")},
       |fin AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
       |    CAST(coalesce(sum(CAST(l_quantity AS BIGINT)), 0) AS BIGINT)
       |      AS sum_qty,
       |    CAST(coalesce(sum(CAST(s_suppkey AS BIGINT)), 0) AS BIGINT)
       |      AS sum_supp
       |  FROM lineitem l
       |  JOIN orders o ON l.l_orderkey = o.o_orderkey
       |  JOIN customer c ON o.o_custkey = c.c_custkey
       |  JOIN nation nn ON c.c_nationkey = nn.n_nationkey
       |  JOIN supplier s ON nn.n_nationkey = s.s_nationkey
       |    AND s.s_suppkey = l.l_suppkey)
       |SELECT t.subset, t.n_tables, t.est_rows, t.best_cost, t.best_plan,
       |  fin.n_rows, fin.sum_qty, fin.sum_supp, TRUE AS trees_identical
       |FROM (
       |$outRows) t, fin""".stripMargin
  }

  /** q254's oracle, GENERATED by replaying the engine's exchange-aware
    * DP (`dpCcpUnified` with broadcast off, minus its sentinel states)
    * symbolically over the Q5 cycle — the state DP with interesting
    * partitionings. For every (connected subset,
    * output partitioning) state the generator emits: per candidate
    * split (ascending S1, the dpCcp order) the reuse-vs-fresh side
    * CASE (reuse the child's same-partitioning state when its cost ≤
    * the child's min state + γ·est re-exchange — ties prefer reuse,
    * the engine's rule), the first-minimal candidate chain, and
    * per-mask min-state helpers with label-ordered ties. Instantiated
    * TWICE — γ = 1 (suffix _x) and γ = 0 (_z, pure C_out pricing) —
    * so the winner columns and `winners_differ` re-derive with zero
    * transcription risk. */
  private val exchDpSql: String = {
    val n = 5
    val edges = Seq((0, 1), (1, 2), (2, 3), (3, 4), (4, 0))
    val classes = Seq(0, 1, 2, 2, 3)
    val classNames = Seq("orderkey", "custkey", "nationkey", "suppkey")
    val rowCols = Seq("nli", "nord", "ncust", "nnat", "nsupp")
    val names = Seq("lineitem", "orders", "customer", "nation", "supplier")
    // the graph topology only: divisors are emitted as SQL columns
    val topo = JoinGraph(Seq.fill(n)(("", 1L)),
      edges.map { case (a, b) => (a, b, 1L) })
    import topo.{connected, induced, inMask => inM}
    def single(m: Int): Boolean = java.lang.Integer.bitCount(m) == 1
    def tz(m: Int): Int = java.lang.Integer.numberOfTrailingZeros(m)
    def estExpr(m: Int): String = {
      def prod(cols: Seq[String]): String =
        (s"CAST(${cols.head} AS HUGEINT)" +: cols.tail).mkString(" * ")
      val num = prod((0 until n).filter(inM(_, m)).map(rowCols))
      val den = induced(m).map(e => s"d$e")
      s"CAST($num // (${prod(den)}) AS BIGINT)"
    }
    def estRef(m: Int): String = if (single(m)) rowCols(tz(m)) else s"e_$m"
    def pid(p: Seq[Int]): String =
      if (p.isEmpty) "none" else p.mkString("_")
    def pLabel(p: Seq[Int]): String =
      if (p.isEmpty) "none" else p.map(classNames).mkString("+")
    // structural replay: per composite mask, its candidate splits in
    // order, each with its cross edges and requirement K; states =
    // the distinct Ks (collected in split order, then label-sorted
    // for the min-helper chains)
    val compositeMasks = (3 to (1 << n) - 1)
      .filter(m => java.lang.Integer.bitCount(m) >= 2 && connected(m))
    case class Cand(s1: Int, s2: Int, cross: Seq[Int], k: Seq[Int])
    val candsOf: Map[Int, Seq[Cand]] = compositeMasks.map { m =>
      val low = 1 << tz(m)
      val subs = scala.collection.mutable.ArrayBuffer.empty[Int]
      var sub = (m - 1) & m
      while (sub != 0) { subs += sub; sub = (sub - 1) & m }
      val cs = subs.reverseIterator.flatMap { s1 =>
        val s2 = m & ~s1
        val ok = (s1 & low) != 0 &&
          (single(s1) || connected(s1)) && (single(s2) || connected(s2))
        if (ok) {
          val cross = edges.indices.filter { e =>
            val (a, b) = edges(e)
            (inM(a, s1) && inM(b, s2)) || (inM(a, s2) && inM(b, s1))
          }
          if (cross.nonEmpty)
            Some(Cand(s1, s2, cross,
              cross.map(classes).distinct.sorted))
          else None
        } else None
      }.toSeq
      m -> cs
    }.toMap
    val statesOf: Map[Int, Seq[Seq[Int]]] = compositeMasks.map { m =>
      m -> candsOf(m).map(_.k).distinct
        .sortBy(_.mkString(","))
    }.toMap ++ (0 until n).map(i => (1 << i) -> Seq(Seq.empty[Int]))
    def gammaExpr(e: String, g: Long): String =
      s"CAST(CAST($e AS HUGEINT) * $g // 100 AS BIGINT)"
    // refs into a γ instance's chain (sfx = _x / _z)
    def cRef(m: Int, p: Seq[Int], sfx: String): String =
      if (single(m)) "0" else s"c_${m}_${pid(p)}$sfx"
    def pRef(m: Int, p: Seq[Int], sfx: String): String =
      if (single(m)) s"'${names(tz(m))}'" else s"p_${m}_${pid(p)}$sfx"
    def xRef(m: Int, p: Seq[Int], sfx: String): String =
      if (single(m)) "0" else s"x_${m}_${pid(p)}$sfx"
    def cmRef(m: Int, sfx: String): String =
      if (single(m)) "0" else s"cm_$m$sfx"
    def pmRef(m: Int, sfx: String): String =
      if (single(m)) s"'${names(tz(m))}'" else s"pm_$m$sfx"
    def xmRef(m: Int, sfx: String): String =
      if (single(m)) "0" else s"xm_$m$sfx"
    // one side of one candidate: (costExpr, planExpr, exchExpr)
    def side(s: Int, k: Seq[Int], sfx: String,
             g: Long): (String, String, String) = {
      val fresh = s"(${cmRef(s, sfx)} + ${gammaExpr(estRef(s), g)})"
      if (statesOf(s).contains(k)) {
        val (c, p, x) = (cRef(s, k, sfx), pRef(s, k, sfx), xRef(s, k, sfx))
        (s"least($c, $fresh)",
          s"CASE WHEN $c <= $fresh THEN $p ELSE ${pmRef(s, sfx)} END",
          s"CASE WHEN $c <= $fresh THEN $x ELSE ${xmRef(s, sfx)} + 1 END")
      } else
        (fresh, pmRef(s, sfx), s"${xmRef(s, sfx)} + 1")
    }
    def chain(sfx: String, g: Long): String = {
      val levels = compositeMasks.groupBy(java.lang.Integer.bitCount)
        .toSeq.sortBy(_._1)
      levels.map { case (pc, masks) =>
        // a-CTE: per (mask, state, candidate) side columns
        val aCols = masks.flatMap { m =>
          statesOf(m).flatMap { k =>
            candsOf(m).filter(_.k == k).zipWithIndex.flatMap {
              case (cd, i) =>
                val (lc, lp, lx) = side(cd.s1, k, sfx, g)
                val (rc, rp, rx) = side(cd.s2, k, sfx, g)
                val t = s"${m}_${pid(k)}_$i$sfx"
                Seq(s"    $lc AS scl_$t", s"    $lp AS spl_$t",
                  s"    $lx AS sxl_$t", s"    $rc AS scr_$t",
                  s"    $rp AS spr_$t", s"    $rx AS sxr_$t")
            }
          }
        }
        // b-CTE: per (mask, state) cost/plan/exch via first-minimal
        // candidate chains
        val bCols = masks.flatMap { m =>
          statesOf(m).flatMap { k =>
            val cs = candsOf(m).filter(_.k == k)
            val ids = cs.indices.map(i => s"${m}_${pid(k)}_$i$sfx")
            val ks = ids.map(t => s"(scl_$t + scr_$t)")
            def choose(pick: Int => String, name: String): String =
              if (cs.length == 1) s"    ${pick(0)} AS $name"
              else {
                val whens = cs.indices.init.map { i =>
                  val laterLe = (i + 1 until cs.length)
                    .map(j => s"${ks(i)} <= ${ks(j)}").mkString(" AND ")
                  s"      WHEN $laterLe THEN ${pick(i)}"
                }
                s"    CASE\n${whens.mkString("\n")}\n      ELSE " +
                  s"${pick(cs.length - 1)} END AS $name"
              }
            Seq(
              s"    CAST(e_$m + least(${ks.mkString(", ")}) AS BIGINT)" +
                s" AS c_${m}_${pid(k)}$sfx",
              choose(i =>
                s"'(' || spl_${ids(i)} || '*' || spr_${ids(i)} || ')'",
                s"p_${m}_${pid(k)}$sfx"),
              choose(i =>
                s"CAST(sxl_${ids(i)} + sxr_${ids(i)} AS BIGINT)",
                s"x_${m}_${pid(k)}$sfx"))
          }
        }
        // c-CTE: per mask min-state helpers (states label-ordered, so
        // first-minimal-by-cost ties go to the smallest label)
        val cCols = masks.flatMap { m =>
          val sts = statesOf(m)
          val cvs = sts.map(p => s"c_${m}_${pid(p)}$sfx")
          def choose(pick: Seq[Int] => String, name: String): String =
            if (sts.length == 1) s"    ${pick(sts.head)} AS $name"
            else {
              val whens = sts.indices.init.map { i =>
                val laterLe = (i + 1 until sts.length)
                  .map(j => s"${cvs(i)} <= ${cvs(j)}").mkString(" AND ")
                s"      WHEN $laterLe THEN ${pick(sts(i))}"
              }
              s"    CASE\n${whens.mkString("\n")}\n      ELSE " +
                s"${pick(sts.last)} END AS $name"
            }
          Seq(
            s"    least(${cvs.mkString(", ")}) AS cm_$m$sfx",
            choose(p => s"p_${m}_${pid(p)}$sfx", s"pm_$m$sfx"),
            choose(p => s"x_${m}_${pid(p)}$sfx", s"xm_$m$sfx"))
        }
        val prev =
          if (pc == 2) (if (sfx == "_x") "ee" else s"lv${levels.last._1}c_x")
          else s"lv${pc - 1}c$sfx"
        Seq(
          s"lv${pc}a$sfx AS (\n  SELECT *,\n${aCols.mkString(",\n")}\n  FROM $prev)",
          s"lv${pc}b$sfx AS (\n  SELECT *,\n${bCols.mkString(",\n")}\n  FROM lv${pc}a$sfx)",
          s"lv${pc}c$sfx AS (\n  SELECT *,\n${cCols.mkString(",\n")}\n  FROM lv${pc}b$sfx)")
          .mkString(",\n")
      }.mkString(",\n")
    }
    // winner helpers per instance: across full-mask states
    // (label-ordered), first-minimal by cost
    val fullM = (1 << n) - 1
    def winnerCols(sfx: String): String = {
      val sts = statesOf(fullM)
      val cvs = sts.map(p => s"c_${fullM}_${pid(p)}$sfx")
      def choose(pick: Seq[Int] => String, name: String): String = {
        val whens = sts.indices.init.map { i =>
          val laterLe = (i + 1 until sts.length)
            .map(j => s"${cvs(i)} <= ${cvs(j)}").mkString(" AND ")
          s"      WHEN $laterLe THEN ${pick(sts(i))}"
        }
        s"    CASE\n${whens.mkString("\n")}\n      ELSE " +
          s"${pick(sts.last)} END AS $name"
      }
      Seq(
        choose(p => s"'${pLabel(p)}'", s"wpart$sfx"),
        s"    least(${cvs.mkString(", ")}) AS wcost$sfx",
        choose(p => s"x_${fullM}_${pid(p)}$sfx", s"wx$sfx"),
        choose(p => s"p_${fullM}_${pid(p)}$sfx", s"wplan$sfx"))
        .mkString(",\n")
    }
    val ee = compositeMasks.map(m => s"    ${estExpr(m)} AS e_$m")
      .mkString(",\n")
    val lastLv = compositeMasks.map(java.lang.Integer.bitCount).max
    val outRows = ((0 until n).map { i =>
      s"""  SELECT '${names(i)}' AS subset, 'none' AS part,
         |    CAST(1 AS BIGINT) AS n_tables,
         |    ${rowCols(i)} AS est_rows, CAST(0 AS BIGINT) AS cost,
         |    CAST(0 AS BIGINT) AS n_exchanges, '${names(i)}' AS plan
         |  FROM w""".stripMargin
    } ++ compositeMasks.flatMap { m =>
      val nm = (0 until n).filter(inM(_, m)).map(names).mkString(",")
      statesOf(m).map { k =>
        s"""  SELECT '$nm' AS subset, '${pLabel(k)}' AS part,
           |    CAST(${java.lang.Integer.bitCount(m)} AS BIGINT)
           |      AS n_tables,
           |    e_$m AS est_rows, c_${m}_${pid(k)}_x AS cost,
           |    CAST(x_${m}_${pid(k)}_x AS BIGINT) AS n_exchanges,
           |    p_${m}_${pid(k)}_x AS plan
           |  FROM w""".stripMargin
      }
    }).mkString("\n  UNION ALL\n")
    s"""WITH st AS (
       |  SELECT (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS nli,
       |    (SELECT CAST(count(*) AS BIGINT) FROM orders) AS nord,
       |    (SELECT CAST(count(*) AS BIGINT) FROM customer) AS ncust,
       |    (SELECT CAST(count(*) AS BIGINT) FROM nation) AS nnat,
       |    (SELECT CAST(count(*) AS BIGINT) FROM supplier) AS nsupp,
       |    greatest(
       |      (SELECT count(DISTINCT l_orderkey) FROM lineitem),
       |      (SELECT count(DISTINCT o_orderkey) FROM orders)) AS d0,
       |    greatest(
       |      (SELECT count(DISTINCT o_custkey) FROM orders),
       |      (SELECT count(DISTINCT c_custkey) FROM customer)) AS d1,
       |    greatest(
       |      (SELECT count(DISTINCT c_nationkey) FROM customer),
       |      (SELECT count(DISTINCT n_nationkey) FROM nation)) AS d2,
       |    greatest(
       |      (SELECT count(DISTINCT n_nationkey) FROM nation),
       |      (SELECT count(DISTINCT s_nationkey) FROM supplier)) AS d3,
       |    greatest(
       |      (SELECT count(DISTINCT s_suppkey) FROM supplier),
       |      (SELECT count(DISTINCT l_suppkey) FROM lineitem)) AS d4),
       |ee AS (
       |  SELECT *,
       |$ee
       |  FROM st),
       |${chain("_x", 100L)},
       |${chain("_z", 0L)},
       |w AS MATERIALIZED (
       |  SELECT *,
       |${winnerCols("_x")},
       |${winnerCols("_z")}
       |  FROM lv${lastLv}c_z),
       |fin AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
       |    CAST(coalesce(sum(CAST(l_quantity AS BIGINT)), 0) AS BIGINT)
       |      AS sum_qty,
       |    CAST(coalesce(sum(CAST(s_suppkey AS BIGINT)), 0) AS BIGINT)
       |      AS sum_supp
       |  FROM lineitem l
       |  JOIN orders o ON l.l_orderkey = o.o_orderkey
       |  JOIN customer c ON o.o_custkey = c.c_custkey
       |  JOIN nation nn ON c.c_nationkey = nn.n_nationkey
       |  JOIN supplier s ON nn.n_nationkey = s.s_nationkey
       |    AND s.s_suppkey = l.l_suppkey)
       |SELECT t.subset, t.part, t.n_tables, t.est_rows, t.cost,
       |  t.n_exchanges, t.plan,
       |  w.wpart_x AS winner_part, w.wcost_x AS winner_cost,
       |  CAST(w.wx_x AS BIGINT) AS winner_n_exch,
       |  w.wplan_x AS winner_plan,
       |  w.wcost_z AS cout_winner_cost, w.wplan_z AS cout_winner_plan,
       |  w.wplan_x <> w.wplan_z AS winners_differ,
       |  fin.n_rows, fin.sum_qty, fin.sum_supp,
       |  TRUE AS trees_identical
       |FROM (
       |$outRows) t, w, fin""".stripMargin
  }

  /** q255's oracle, GENERATED by replaying the engine's
    * `dpCcpUnified` symbolically over the Q5 cycle — the unified
    * operator+partitioning state DP. Per (connected subset, output
    * partitioning) state the generator enumerates the engine's exact
    * candidate sequence (per split ascending: the shuffle candidate
    * when its requirement equals the state, then one broadcast-right
    * candidate per matching stream state of S1, then broadcast-left
    * over S2 — label order within each), emitting per candidate its
    * FULL cost (broadcast eligibility as a CASE to the declared
    * sentinel), plan, and both Exchange counts, then first-minimal
    * chains per state and label-ordered min helpers per mask.
    * Instantiated TWICE — `_u` (threshold 10 000, δ = 1) and `_v`
    * (threshold −1: broadcast disabled, the J32 reduction) — so both
    * winners and `winners_differ` re-derive with zero transcription
    * risk. */
  /** q258's oracle, GENERATED by replaying BOTH of the probe's
    * enumerations symbolically — the star's cut-edge DP
    * (`selingerPhysicalDp` order: candidates by ascending cut edge,
    * component with the smallest table index left) and the cycle's
    * csg-cmp DP (`dpCcp` order: ascending-S1 proper submasks) — with
    * TWO extra columns threaded through the same first-minimal CASE
    * chains as the costs and plans: the chosen split's output
    * partitioning (its cross-class set, the `joinExch` state) and the
    * predicted exchange count (child counts + one per side whose
    * partitioning misses the requirement). The left-deep arms' plans
    * and counts are graph constants (a fixed tree's joinExch count
    * does not depend on cardinalities — the generator derives them
    * from the same declared class lists the engine uses); their C_out
    * re-derives from prefix-subset estimates. Sort predictions equal
    * shuffle predictions by the q253 coincidence measurement. */
  private val modelPredDpSql: String = {
    // one graph's DP chain with (cost, plan, partitioning, exchanges)
    // per connected composite mask; returns (CTE text, level count)
    def predChain(pfx: String, n: Int, names: Seq[String],
                  rowCols: Seq[String], edges: Seq[(Int, Int)],
                  divCols: Seq[String], classes: Seq[Int],
                  cutEdgeOrder: Boolean, prev0: String): String = {
      // the graph topology only: divisors are emitted as SQL columns
      val topo = JoinGraph(Seq.fill(n)(("", 1L)),
        edges.map { case (a, b) => (a, b, 1L) })
      import topo.{connected, induced, inMask => inM}
      def single(m: Int): Boolean = java.lang.Integer.bitCount(m) == 1
      def tz(m: Int): Int = java.lang.Integer.numberOfTrailingZeros(m)
      import topo.component
      val masks = (3 to (1 << n) - 1)
        .filter(m => java.lang.Integer.bitCount(m) >= 2 && connected(m))
      // candidate splits per mask, in the ENGINE's enumeration order
      def splits(m: Int): Seq[(Int, Int, Seq[Int])] =
        if (cutEdgeOrder)
          induced(m).map { e =>
            val ca = component(edges(e)._1, m, e)
            val cb = m & ~ca
            val (l, r) = if ((ca & -ca) < (cb & -cb)) (ca, cb)
              else (cb, ca)
            (l, r, Seq(e))
          }
        else {
          val low = 1 << tz(m)
          val subs = scala.collection.mutable.ArrayBuffer.empty[Int]
          var sub = (m - 1) & m
          while (sub != 0) { subs += sub; sub = (sub - 1) & m }
          subs.reverseIterator.flatMap { s1 =>
            val s2 = m & ~s1
            val ok = (s1 & low) != 0 &&
              (single(s1) || connected(s1)) &&
              (single(s2) || connected(s2))
            if (ok) {
              val cross = edges.indices.filter { e =>
                val (a, b) = edges(e)
                (inM(a, s1) && inM(b, s2)) || (inM(a, s2) && inM(b, s1))
              }
              if (cross.nonEmpty) Some((s1, s2, cross)) else None
            } else None
          }.toSeq
        }
      def estExpr(m: Int): String = {
        def prod(cols: Seq[String]): String =
          (s"CAST(${cols.head} AS HUGEINT)" +: cols.tail).mkString(" * ")
        val num = prod((0 until n).filter(inM(_, m)).map(rowCols))
        val den = induced(m).map(divCols)
        s"CAST($num // (${prod(den)}) AS BIGINT)"
      }
      def eRef(m: Int): String =
        if (single(m)) rowCols(tz(m)) else s"e$pfx$m"
      def cRef(m: Int): String = if (single(m)) "0" else s"c$pfx$m"
      def pRef(m: Int): String =
        if (single(m)) s"'${names(tz(m))}'" else s"p$pfx$m"
      def tRef(m: Int): String = if (single(m)) "''" else s"t$pfx$m"
      def xRef(m: Int): String = if (single(m)) "0" else s"x$pfx$m"
      val eCols = masks.map(m => s"    ${estExpr(m)} AS e$pfx$m")
      val levels = masks.groupBy(java.lang.Integer.bitCount)
        .toSeq.sortBy(_._1)
      val lvCtes = levels.map { case (pc, ms) =>
        val cols = ms.flatMap { m =>
          val cs = splits(m)
          val costs = cs.map { case (l, r, _) =>
            s"(${cRef(l)} + ${cRef(r)} + ${eRef(m)})"
          }
          def kStr(cross: Seq[Int]): String =
            cross.map(classes).distinct.sorted.mkString("_")
          def exch(l: Int, r: Int, cross: Seq[Int]): String = {
            val k = kStr(cross)
            s"(${xRef(l)} + ${xRef(r)} + " +
              s"CASE WHEN ${tRef(l)} = '$k' THEN 0 ELSE 1 END + " +
              s"CASE WHEN ${tRef(r)} = '$k' THEN 0 ELSE 1 END)"
          }
          def choose(pick: Int => String, name: String): String =
            if (cs.length == 1) s"    ${pick(0)} AS $name"
            else {
              val whens = cs.indices.init.map { i =>
                val laterLe = (i + 1 until cs.length)
                  .map(j => s"${costs(i)} <= ${costs(j)}")
                  .mkString(" AND ")
                s"      WHEN $laterLe THEN ${pick(i)}"
              }
              s"    CASE\n${whens.mkString("\n")}\n      ELSE " +
                s"${pick(cs.length - 1)} END AS $name"
            }
          Seq(
            s"    CAST(least(${costs.mkString(", ")}) AS BIGINT)" +
              s" AS c$pfx$m",
            choose(i => s"'(' || ${pRef(cs(i)._1)} || '*' || " +
              s"${pRef(cs(i)._2)} || ')'", s"p$pfx$m"),
            choose(i => s"'${kStr(cs(i)._3)}'", s"t$pfx$m"),
            choose(i => s"CAST(${exch(cs(i)._1, cs(i)._2, cs(i)._3)}" +
              s" AS BIGINT)", s"x$pfx$m"))
        }
        val prev = if (pc == 2) s"${pfx}e0" else s"${pfx}v${pc - 1}"
        s"${pfx}v$pc AS (\n  SELECT *,\n${cols.mkString(",\n")}\n  FROM $prev)"
      }
      (s"${pfx}e0 AS (\n  SELECT *,\n${eCols.mkString(",\n")}\n  FROM $prev0),\n" +
        lvCtes.mkString(",\n"))
    }
    // left-deep constants: joinExch over the FIXED tree — pure graph
    // arithmetic, replayed here from the same declared class lists
    def ldPred(edges: Seq[(Int, Int)], classes: Seq[Int]): Long =
      (1 until 5).foldLeft((Seq.empty[Int], 0L)) { case ((part, x), k) =>
        val priorMask = (1 << k) - 1
        val cs = edges.indices.filter { e =>
          val (a, b) = edges(e)
          (a == k && (priorMask & (1 << b)) != 0) ||
            (b == k && (priorMask & (1 << a)) != 0)
        }
        val kk = cs.map(classes).distinct.sorted
        (kk, x + 2L + (if (part == kk) -1L else 0L))
      }._2
    val starEdges = Seq((0, 1), (1, 2), (0, 3), (0, 4))
    val cycEdges = Seq((0, 1), (1, 2), (2, 3), (3, 4), (4, 0))
    val starLdPred = ldPred(starEdges, Seq(0, 1, 2, 3))
    val cycLdPred = ldPred(cycEdges, Seq(0, 1, 2, 2, 3))
    val starChain = predChain("s", 5,
      Seq("lineitem", "orders", "customer", "part", "supplier"),
      Seq("nli", "nord", "ncust", "npart", "nsupp"),
      starEdges, Seq("sd0", "sd1", "sd2", "sd3"), Seq(0, 1, 2, 3),
      cutEdgeOrder = true, prev0 = "st")
    val cycChain = predChain("c", 5,
      Seq("lineitem", "orders", "customer", "nation", "supplier"),
      Seq("nli", "nord", "ncust", "nnat", "nsupp"),
      cycEdges, Seq("cd0", "cd1", "cd2", "cd3", "cd4"),
      Seq(0, 1, 2, 2, 3), cutEdgeOrder = false, prev0 = "sv5")
    def ldCost(pfx: String): String =
      (1 to 4).map(k => s"e$pfx${(1 << (k + 1)) - 1}").mkString(" + ")
    s"""WITH st AS (
       |  SELECT (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS nli,
       |    (SELECT CAST(count(*) AS BIGINT) FROM orders) AS nord,
       |    (SELECT CAST(count(*) AS BIGINT) FROM customer) AS ncust,
       |    (SELECT CAST(count(*) AS BIGINT) FROM part) AS npart,
       |    (SELECT CAST(count(*) AS BIGINT) FROM nation) AS nnat,
       |    (SELECT CAST(count(*) AS BIGINT) FROM supplier) AS nsupp,
       |    greatest(
       |      (SELECT count(DISTINCT l_orderkey) FROM lineitem),
       |      (SELECT count(DISTINCT o_orderkey) FROM orders)) AS sd0,
       |    greatest(
       |      (SELECT count(DISTINCT o_custkey) FROM orders),
       |      (SELECT count(DISTINCT c_custkey) FROM customer)) AS sd1,
       |    greatest(
       |      (SELECT count(DISTINCT l_partkey) FROM lineitem),
       |      (SELECT count(DISTINCT p_partkey) FROM part)) AS sd2,
       |    greatest(
       |      (SELECT count(DISTINCT l_suppkey) FROM lineitem),
       |      (SELECT count(DISTINCT s_suppkey) FROM supplier)) AS sd3,
       |    greatest(
       |      (SELECT count(DISTINCT l_orderkey) FROM lineitem),
       |      (SELECT count(DISTINCT o_orderkey) FROM orders)) AS cd0,
       |    greatest(
       |      (SELECT count(DISTINCT o_custkey) FROM orders),
       |      (SELECT count(DISTINCT c_custkey) FROM customer)) AS cd1,
       |    greatest(
       |      (SELECT count(DISTINCT c_nationkey) FROM customer),
       |      (SELECT count(DISTINCT n_nationkey) FROM nation)) AS cd2,
       |    greatest(
       |      (SELECT count(DISTINCT n_nationkey) FROM nation),
       |      (SELECT count(DISTINCT s_nationkey) FROM supplier)) AS cd3,
       |    greatest(
       |      (SELECT count(DISTINCT s_suppkey) FROM supplier),
       |      (SELECT count(DISTINCT l_suppkey) FROM lineitem)) AS cd4),
       |$starChain,
       |$cycChain
       |SELECT 'star' AS graph, 'chosen' AS arm, cs31 AS cout_cost,
       |  ps31 AS plan, CAST(xs31 AS BIGINT) AS n_shuffle_predicted,
       |  CAST(xs31 AS BIGINT) AS n_sort_predicted FROM cv5
       |UNION ALL
       |SELECT 'star', 'left_deep', ${ldCost("s")},
       |  '((((lineitem*orders)*customer)*part)*supplier)',
       |  CAST($starLdPred AS BIGINT), CAST($starLdPred AS BIGINT)
       |FROM cv5
       |UNION ALL
       |SELECT 'cycle', 'chosen', cc31, pc31, CAST(xc31 AS BIGINT),
       |  CAST(xc31 AS BIGINT) FROM cv5
       |UNION ALL
       |SELECT 'cycle', 'left_deep', ${ldCost("c")},
       |  '((((lineitem*orders)*customer)*nation)*supplier)',
       |  CAST($cycLdPred AS BIGINT), CAST($cycLdPred AS BIGINT)
       |FROM cv5""".stripMargin
  }

  /** q259's oracle — the COMPOSITION replayed: q256's estimator and
    * correction CTEs produce the per-predicate corrected fact
    * cardinality, q257's width CTEs produce the byte gate, and FOUR
    * byte-gated `dpCcpUnified` chains run (2 predicates × store /
    * planted-wide widths; suffixes _ns/_nw/_ws/_ww). Per predicate
    * the STORE-width arm's full state table is emitted with both
    * arms' winners, the flip flag, and the executed aggregate. */
  private val plannedBytesDpSql: String = {
    val n = 5
    val edges = Seq((0, 1), (1, 2), (2, 3), (3, 4), (4, 0))
    val classes = Seq(0, 1, 2, 2, 3)
    val classNames = Seq("orderkey", "custkey", "nationkey", "suppkey")
    val names = Seq("lineitem", "orders", "customer", "nation", "supplier")
    val restCols = Seq("nord", "ncust", "nnat", "nsupp")
    val statCols: Seq[(String, Seq[String])] = Seq(
      "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
      "orders" -> Seq("o_custkey", "o_orderstatus", "o_orderkey"),
      "customer" -> Seq("c_mktsegment", "c_custkey", "c_nationkey"),
      "nation" -> Seq("n_nationkey"),
      "supplier" -> Seq("s_suppkey", "s_nationkey"))
    val Sent = "1000000000000000"
    val Planted = "2500000000"
    // the graph topology only: divisors are emitted as SQL columns
    val topo = JoinGraph(Seq.fill(n)(("", 1L)),
      edges.map { case (a, b) => (a, b, 1L) })
    import topo.{connected, induced, inMask => inM}
    def single(m: Int): Boolean = java.lang.Integer.bitCount(m) == 1
    def tz(m: Int): Int = java.lang.Integer.numberOfTrailingZeros(m)
    // per-suffix pred variant (narrow/wide fact) and width arm
    def predOf(sfx: String): String = if (sfx.charAt(1) == 'n') "n" else "w"
    val armW: Map[Char, Int => String] = Map(
      's' -> ((i: Int) => s"w$i"),
      'w' -> ((i: Int) => if (i == 2) Planted else s"w$i"))
    def wOf(sfx: String): Int => String = armW(sfx.charAt(2))
    def rowCol(i: Int, sfx: String): String =
      if (i == 0) s"nfact_${predOf(sfx)}" else restCols(i - 1)
    def estExpr(m: Int, sfx: String): String = {
      def prod(cols: Seq[String]): String =
        (s"CAST(${cols.head} AS HUGEINT)" +: cols.tail).mkString(" * ")
      val num = prod((0 until n).filter(inM(_, m)).map(rowCol(_, sfx)))
      val den = induced(m).map(e => s"d$e")
      s"CAST($num // (${prod(den)}) AS BIGINT)"
    }
    def estRef(m: Int, sfx: String): String =
      if (single(m)) rowCol(tz(m), sfx)
      else if (inM(0, m)) s"e_${m}_${predOf(sfx)}"
      else s"e_$m"
    def wMaxOf(m: Int, w: Int => String): String = {
      val ms = (0 until n).filter(inM(_, m)).map(w)
      if (ms.length == 1) ms.head else s"greatest(${ms.mkString(", ")})"
    }
    def elig(sfx: String, ship: Int): String =
      s"CAST(${estRef(ship, sfx)} AS HUGEINT) * " +
        s"${wMaxOf(ship, wOf(sfx))} <= CAST(limsw AS HUGEINT)"
    def pid(p: Seq[Int]): String =
      if (p.isEmpty) "none" else p.mkString("_")
    def pLabel(p: Seq[Int]): String =
      if (p.isEmpty) "none" else p.map(classNames).mkString("+")
    val compositeMasks = (3 to (1 << n) - 1)
      .filter(m => java.lang.Integer.bitCount(m) >= 2 && connected(m))
    case class Split(s1: Int, s2: Int, cross: Seq[Int], k: Seq[Int])
    val splitsOf: Map[Int, Seq[Split]] = compositeMasks.map { m =>
      val low = 1 << tz(m)
      val subs = scala.collection.mutable.ArrayBuffer.empty[Int]
      var sub = (m - 1) & m
      while (sub != 0) { subs += sub; sub = (sub - 1) & m }
      m -> subs.reverseIterator.flatMap { s1 =>
        val s2 = m & ~s1
        val ok = (s1 & low) != 0 &&
          (single(s1) || connected(s1)) && (single(s2) || connected(s2))
        if (ok) {
          val cross = edges.indices.filter { e =>
            val (a, b) = edges(e)
            (inM(a, s1) && inM(b, s2)) || (inM(a, s2) && inM(b, s1))
          }
          if (cross.nonEmpty)
            Some(Split(s1, s2, cross, cross.map(classes).distinct.sorted))
          else None
        } else None
      }.toSeq
    }.toMap
    val statesOf = scala.collection.mutable.Map[Int, Seq[Seq[Int]]](
      (0 until n).map(i => (1 << i) -> Seq(Seq.empty[Int])): _*)
    compositeMasks.foreach { m =>
      val ss = splitsOf(m).flatMap { sp =>
        sp.k +: (statesOf(sp.s1) ++ statesOf(sp.s2))
      }.distinct.sortBy(_.mkString(","))
      statesOf(m) = ss
    }
    case class UCand(kind: Int, sp: Split, stream: Seq[Int])
    def candsFor(m: Int, p: Seq[Int]): Seq[UCand] =
      splitsOf(m).flatMap { sp =>
        val sh = if (sp.k == p) Seq(UCand(0, sp, Nil)) else Nil
        val br = statesOf(sp.s1).filter(_ == p).map(UCand(1, sp, _))
        val bl = statesOf(sp.s2).filter(_ == p).map(UCand(2, sp, _))
        sh ++ br ++ bl
      }
    def cRef(m: Int, p: Seq[Int], sfx: String): String =
      if (single(m)) "0" else s"c_${m}_${pid(p)}$sfx"
    def pRef(m: Int, p: Seq[Int], sfx: String): String =
      if (single(m)) s"'${names(tz(m))}'" else s"p_${m}_${pid(p)}$sfx"
    def xsRef(m: Int, p: Seq[Int], sfx: String): String =
      if (single(m)) "0" else s"xs_${m}_${pid(p)}$sfx"
    def xbRef(m: Int, p: Seq[Int], sfx: String): String =
      if (single(m)) "0" else s"xb_${m}_${pid(p)}$sfx"
    def cmRef(m: Int, sfx: String): String =
      if (single(m)) "0" else s"cm_$m$sfx"
    def pmRef(m: Int, sfx: String): String =
      if (single(m)) s"'${names(tz(m))}'" else s"pm_$m$sfx"
    def xsmRef(m: Int, sfx: String): String =
      if (single(m)) "0" else s"xsm_$m$sfx"
    def xbmRef(m: Int, sfx: String): String =
      if (single(m)) "0" else s"xbm_$m$sfx"
    def dE(e: String): String =
      s"CAST(CAST($e AS HUGEINT) * 100 // 100 AS BIGINT)"
    def shSide(s: Int, k: Seq[Int], sfx: String)
        : (String, String, String, String) = {
      val fresh = s"(${cmRef(s, sfx)} + ${dE(estRef(s, sfx))})"
      if (statesOf(s).contains(k)) {
        val (c, p) = (cRef(s, k, sfx), pRef(s, k, sfx))
        (s"least($c, $fresh)",
          s"CASE WHEN $c <= $fresh THEN $p ELSE ${pmRef(s, sfx)} END",
          s"CASE WHEN $c <= $fresh THEN ${xsRef(s, k, sfx)}" +
            s" ELSE ${xsmRef(s, sfx)} + 1 END",
          s"CASE WHEN $c <= $fresh THEN ${xbRef(s, k, sfx)}" +
            s" ELSE ${xbmRef(s, sfx)} END")
      } else
        (fresh, pmRef(s, sfx), s"${xsmRef(s, sfx)} + 1", xbmRef(s, sfx))
    }
    def candExprs(m: Int, cd: UCand, sfx: String)
        : (String, String, String, String, String) = cd.kind match {
      case 0 =>
        val (lc, lp, lsh, lbc) = shSide(cd.sp.s1, cd.sp.k, sfx)
        val (rc, rp, rsh, rbc) = shSide(cd.sp.s2, cd.sp.k, sfx)
        (s"($lc + $rc + ${estRef(m, sfx)})",
          s"'(' || $lp || '*' || $rp || ')'",
          s"($lsh + $rsh)", s"($lbc + $rbc)", "'shuffle'")
      case 1 =>
        val (s1, s2, p1) = (cd.sp.s1, cd.sp.s2, cd.stream)
        (s"CASE WHEN ${elig(sfx, s2)} THEN " +
          s"${cRef(s1, p1, sfx)} + ${cmRef(s2, sfx)} + " +
          s"${estRef(m, sfx)} + ${dE(estRef(s2, sfx))} ELSE $Sent END",
          s"'(' || ${pRef(s1, p1, sfx)} || '*' || ${pmRef(s2, sfx)} || ')'",
          s"(${xsRef(s1, p1, sfx)} + ${xsmRef(s2, sfx)})",
          s"(${xbRef(s1, p1, sfx)} + ${xbmRef(s2, sfx)} + 1)",
          "'broadcast_right'")
      case _ =>
        val (s1, s2, p2) = (cd.sp.s1, cd.sp.s2, cd.stream)
        (s"CASE WHEN ${elig(sfx, s1)} THEN " +
          s"${cmRef(s1, sfx)} + ${cRef(s2, p2, sfx)} + " +
          s"${estRef(m, sfx)} + ${dE(estRef(s1, sfx))} ELSE $Sent END",
          s"'(' || ${pmRef(s1, sfx)} || '*' || ${pRef(s2, p2, sfx)} || ')'",
          s"(${xsmRef(s1, sfx)} + ${xsRef(s2, p2, sfx)})",
          s"(${xbmRef(s1, sfx)} + ${xbRef(s2, p2, sfx)} + 1)",
          "'broadcast_left'")
    }
    def chain(sfx: String, prev0: String): String = {
      val levels = compositeMasks.groupBy(java.lang.Integer.bitCount)
        .toSeq.sortBy(_._1)
      levels.map { case (pc, masks) =>
        val candIds = masks.flatMap { m =>
          statesOf(m).flatMap { p =>
            candsFor(m, p).indices.map(i => s"${m}_${pid(p)}_$i$sfx")
          }
        }
        val aCols = masks.flatMap { m =>
          statesOf(m).flatMap { p =>
            candsFor(m, p).zipWithIndex.flatMap { case (cd, i) =>
              val (kc, kp, ks, kb, _) = candExprs(m, cd, sfx)
              val t = s"${m}_${pid(p)}_$i$sfx"
              Seq(s"    $kc AS kc_$t", s"    $kp AS kp_$t",
                s"    $ks AS ks_$t", s"    $kb AS kb_$t")
            }
          }
        }
        val bCols = masks.flatMap { m =>
          statesOf(m).flatMap { p =>
            val cs = candsFor(m, p)
            val ids = cs.indices.map(i => s"${m}_${pid(p)}_$i$sfx")
            val kcs = ids.map(t => s"kc_$t")
            def choose(pick: Int => String, name: String): String =
              if (cs.length == 1) s"    ${pick(0)} AS $name"
              else {
                val whens = cs.indices.init.map { i =>
                  val laterLe = (i + 1 until cs.length)
                    .map(j => s"${kcs(i)} <= ${kcs(j)}").mkString(" AND ")
                  s"      WHEN $laterLe THEN ${pick(i)}"
                }
                s"    CASE\n${whens.mkString("\n")}\n      ELSE " +
                  s"${pick(cs.length - 1)} END AS $name"
              }
            Seq(
              s"    CAST(least(${kcs.mkString(", ")}) AS BIGINT)" +
                s" AS c_${m}_${pid(p)}$sfx",
              choose(i => s"kp_${ids(i)}", s"p_${m}_${pid(p)}$sfx"),
              choose(i => s"CAST(ks_${ids(i)} AS BIGINT)",
                s"xs_${m}_${pid(p)}$sfx"),
              choose(i => s"CAST(kb_${ids(i)} AS BIGINT)",
                s"xb_${m}_${pid(p)}$sfx"),
              choose(i => candExprs(m, cs(i), sfx)._5,
                s"op_${m}_${pid(p)}$sfx"))
          }
        }
        val cCols = masks.flatMap { m =>
          val sts = statesOf(m)
          val cvs = sts.map(p => s"c_${m}_${pid(p)}$sfx")
          def choose(pick: Seq[Int] => String, name: String): String =
            if (sts.length == 1) s"    ${pick(sts.head)} AS $name"
            else {
              val whens = sts.indices.init.map { i =>
                val laterLe = (i + 1 until sts.length)
                  .map(j => s"${cvs(i)} <= ${cvs(j)}").mkString(" AND ")
                s"      WHEN $laterLe THEN ${pick(sts(i))}"
              }
              s"    CASE\n${whens.mkString("\n")}\n      ELSE " +
                s"${pick(sts.last)} END AS $name"
            }
          Seq(
            s"    least(${cvs.mkString(", ")}) AS cm_$m$sfx",
            choose(p => s"p_${m}_${pid(p)}$sfx", s"pm_$m$sfx"),
            choose(p => s"xs_${m}_${pid(p)}$sfx", s"xsm_$m$sfx"),
            choose(p => s"xb_${m}_${pid(p)}$sfx", s"xbm_$m$sfx"))
        }
        val drop = candIds.flatMap(t =>
          Seq(s"kc_$t", s"kp_$t", s"ks_$t", s"kb_$t"))
        val prev = if (pc == 2) prev0 else s"qv${pc - 1}c$sfx"
        Seq(
          s"qv${pc}a$sfx AS (\n  SELECT *,\n${aCols.mkString(",\n")}\n  FROM $prev)",
          s"qv${pc}b$sfx AS (\n  SELECT *,\n${bCols.mkString(",\n")}\n  FROM qv${pc}a$sfx)",
          s"qv${pc}c$sfx AS (\n  SELECT * EXCLUDE (${drop.mkString(", ")}),\n${cCols.mkString(",\n")}\n  FROM qv${pc}b$sfx)")
          .mkString(",\n")
      }.mkString(",\n")
    }
    val fullM = (1 << n) - 1
    def winnerCols(sfx: String): String = {
      val sts = statesOf(fullM)
      val cvs = sts.map(p => s"c_${fullM}_${pid(p)}$sfx")
      def choose(pick: Seq[Int] => String, name: String): String = {
        val whens = sts.indices.init.map { i =>
          val laterLe = (i + 1 until sts.length)
            .map(j => s"${cvs(i)} <= ${cvs(j)}").mkString(" AND ")
          s"      WHEN $laterLe THEN ${pick(sts(i))}"
        }
        s"    CASE\n${whens.mkString("\n")}\n      ELSE " +
          s"${pick(sts.last)} END AS $name"
      }
      Seq(
        choose(p => s"'${pLabel(p)}'", s"qwpart$sfx"),
        s"    least(${cvs.mkString(", ")}) AS qwcost$sfx",
        choose(p => s"op_${fullM}_${pid(p)}$sfx", s"qwop$sfx"),
        choose(p => s"xs_${fullM}_${pid(p)}$sfx", s"qwxs$sfx"),
        choose(p => s"xb_${fullM}_${pid(p)}$sfx", s"qwxb$sfx"),
        choose(p => s"p_${fullM}_${pid(p)}$sfx", s"qwplan$sfx"))
        .mkString(",\n")
    }
    val suffixes = Seq("_ns", "_nw", "_ws", "_ww")
    val ee = (compositeMasks.filterNot(inM(0, _))
      .map(m => s"    ${estExpr(m, "_ns")} AS e_$m") ++
      compositeMasks.filter(inM(0, _)).flatMap(m => Seq(
        s"    ${estExpr(m, "_ns")} AS e_${m}_n",
        s"    ${estExpr(m, "_ws")} AS e_${m}_w")))
      .mkString(",\n")
    val eeKeep: Seq[String] = restCols ++
      Seq("nfact_n", "nfact_w", "hist_nf", "hist_wf", "corr_e6",
        "limsw") ++ (0 until n).map(i => s"w$i") ++
      compositeMasks.filterNot(inM(0, _)).map(m => s"e_$m") ++
      compositeMasks.filter(inM(0, _)).flatMap(m =>
        Seq(s"e_${m}_n", s"e_${m}_w"))
    val lastLv = compositeMasks.map(java.lang.Integer.bitCount).max
    val stateCols: String => Seq[String] = sfx =>
      compositeMasks.flatMap { m =>
        statesOf(m).flatMap { p =>
          val t = s"${m}_${pid(p)}$sfx"
          Seq(s"c_$t", s"p_$t", s"xs_$t", s"xb_$t", s"op_$t")
        }
      }
    def outRows(label: String, s: String, w: String): String = {
      val pv = predOf(s)
      val traceCols =
        s"""    CAST(hist_${pv}f AS BIGINT) AS hist_est_e6,
           |    CAST(hist_${pv}f // 1000 AS BIGINT) AS est_default_e6,
           |    corr_e6 AS corr_used_e6, nfact_$pv AS est_fact_fb,
           |    CAST(limsw AS BIGINT) AS lim_bytes_e6""".stripMargin
      val winCols =
        s"""    qwpart$s AS store_winner_part,
           |    qwcost$s AS store_winner_cost, qwop$s AS store_winner_op,
           |    CAST(qwxs$s AS BIGINT) AS store_winner_n_shuffle,
           |    CAST(qwxb$s AS BIGINT) AS store_winner_n_bcast,
           |    qwplan$s AS store_winner_plan,
           |    qwpart$w AS wide_winner_part,
           |    qwcost$w AS wide_winner_cost, qwop$w AS wide_winner_op,
           |    CAST(qwxs$w AS BIGINT) AS wide_winner_n_shuffle,
           |    CAST(qwxb$w AS BIGINT) AS wide_winner_n_bcast,
           |    qwplan$w AS wide_winner_plan,
           |    (qwplan$s <> qwplan$w OR qwpart$s <> qwpart$w
           |      OR qwop$s <> qwop$w OR qwxs$s <> qwxs$w
           |      OR qwxb$s <> qwxb$w) AS winners_differ""".stripMargin
      def wM(m: Int): String =
        s"CAST(${wMaxOf(m, armW('s'))} AS BIGINT)"
      ((0 until n).map { i =>
        val est = if (i == 0) s"nfact_$pv" else restCols(i - 1)
        s"""  SELECT '$label' AS pred_label,
           |$traceCols,
           |    '${names(i)}' AS subset, 'none' AS part,
           |    CAST(1 AS BIGINT) AS n_tables,
           |    $est AS est_rows, ${wM(1 << i)} AS width_e6,
           |    CAST(0 AS BIGINT) AS cost, 'leaf' AS op,
           |    CAST(0 AS BIGINT) AS n_shuffle_exch,
           |    CAST(0 AS BIGINT) AS n_bcast_exch, '${names(i)}' AS plan,
           |$winCols
           |  FROM qw""".stripMargin
      } ++ compositeMasks.flatMap { m =>
        val nm = (0 until n).filter(inM(_, m)).map(names).mkString(",")
        statesOf(m).map { p =>
          s"""  SELECT '$label',
             |$traceCols,
             |    '$nm', '${pLabel(p)}',
             |    CAST(${java.lang.Integer.bitCount(m)} AS BIGINT),
             |    ${estRef(m, s)}, ${wM(m)},
             |    c_${m}_${pid(p)}$s, op_${m}_${pid(p)}$s,
             |    CAST(xs_${m}_${pid(p)}$s AS BIGINT),
             |    CAST(xb_${m}_${pid(p)}$s AS BIGINT), p_${m}_${pid(p)}$s,
             |$winCols
             |  FROM qw""".stripMargin
        }
      }).mkString("\n  UNION ALL\n")
    }
    val widthDefs = statCols.zipWithIndex.map { case ((t, cols), i) =>
      val parts = cols.map(c =>
        s"CAST(round(CAST(round(CAST((SELECT avg(length(CAST($c AS " +
          s"VARCHAR))) FROM $t) AS DECIMAL(38,18)), 6) AS DOUBLE) " +
          s"* 1000000) AS BIGINT)")
      s"    (${parts.mkString(" + ")}) AS w$i"
    }.mkString(",\n")
    s"""WITH vals AS (
       |  SELECT CAST(l_orderkey AS BIGINT) AS v, count(*) AS cnt
       |  FROM lineitem GROUP BY 1),
       |cum AS (
       |  SELECT v, cnt, sum(cnt) OVER () AS n,
       |         sum(cnt) OVER (ORDER BY v) AS cum
       |  FROM vals),
       |buckets AS (
       |  SELECT ((cum - cnt) * 16) // n AS bucket,
       |         min(v) AS b_lo, max(v) AS b_hi, sum(cnt) AS b_cnt
       |  FROM cum GROUP BY 1),
       |bounds AS (
       |  SELECT CAST(min(l_orderkey) AS BIGINT) AS lo,
       |         CAST(max(l_orderkey) AS BIGINT) AS hi
       |  FROM lineitem),
       |preds AS (
       |  SELECT 'narrow' AS pred_label, lo AS p_lo,
       |         lo + (hi - lo + 1) // 50 - 1 AS p_hi FROM bounds
       |  UNION ALL
       |  SELECT 'wide', lo, lo + (4 * (hi - lo + 1)) // 5 - 1 FROM bounds),
       |hest AS (
       |  SELECT pred_label, p_lo, p_hi,
       |         sum(b_cnt * (((least(p_hi, b_hi) - greatest(p_lo, b_lo)
       |           + 1) * 1000000) // (b_hi - b_lo + 1))) AS est_f6
       |  FROM preds JOIN buckets ON b_hi >= p_lo AND b_lo <= p_hi
       |  GROUP BY 1, 2, 3),
       |st AS (
       |  SELECT (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS nli,
       |    (SELECT CAST(count(*) AS BIGINT) FROM orders) AS nord,
       |    (SELECT CAST(count(*) AS BIGINT) FROM customer) AS ncust,
       |    (SELECT CAST(count(*) AS BIGINT) FROM nation) AS nnat,
       |    (SELECT CAST(count(*) AS BIGINT) FROM supplier) AS nsupp,
       |    greatest(
       |      (SELECT count(DISTINCT l_orderkey) FROM lineitem),
       |      (SELECT count(DISTINCT o_orderkey) FROM orders)) AS d0,
       |    greatest(
       |      (SELECT count(DISTINCT o_custkey) FROM orders),
       |      (SELECT count(DISTINCT c_custkey) FROM customer)) AS d1,
       |    greatest(
       |      (SELECT count(DISTINCT c_nationkey) FROM customer),
       |      (SELECT count(DISTINCT n_nationkey) FROM nation)) AS d2,
       |    greatest(
       |      (SELECT count(DISTINCT n_nationkey) FROM nation),
       |      (SELECT count(DISTINCT s_nationkey) FROM supplier)) AS d3,
       |    greatest(
       |      (SELECT count(DISTINCT s_suppkey) FROM supplier),
       |      (SELECT count(DISTINCT l_suppkey) FROM lineitem)) AS d4,
       |    (SELECT CAST(count(*) AS BIGINT) FROM lineitem
       |       WHERE l_orderkey % 2 = 0) AS actual_train,
       |$widthDefs),
       |co AS (
       |  SELECT *,
       |    actual_train * 1000000 // greatest(nli // 1000, 1) AS corr_e6,
       |    10000 * w0 AS limsw,
       |    (SELECT CAST(est_f6 AS BIGINT) FROM hest
       |       WHERE pred_label = 'narrow') AS hist_nf,
       |    (SELECT CAST(est_f6 AS BIGINT) FROM hest
       |       WHERE pred_label = 'wide') AS hist_wf
       |  FROM st),
       |fb AS (
       |  SELECT *,
       |    greatest(1, CAST(CAST(hist_nf // 1000 AS HUGEINT) * corr_e6
       |      // 1000000 // 1000000 AS BIGINT)) AS nfact_n,
       |    greatest(1, CAST(CAST(hist_wf // 1000 AS HUGEINT) * corr_e6
       |      // 1000000 // 1000000 AS BIGINT)) AS nfact_w
       |  FROM co),
       |ee AS (
       |  SELECT *,
       |$ee
       |  FROM fb),
       |${chain("_ns", "ee")},
       |qz_ns AS (
       |  SELECT ${(eeKeep ++ stateCols("_ns")).mkString(", ")}
       |  FROM qv${lastLv}c_ns),
       |${chain("_nw", "qz_ns")},
       |qz_nw AS (
       |  SELECT ${(eeKeep ++ stateCols("_ns") ++
                    stateCols("_nw").filter(_.contains(s"_${fullM}_")))
                    .mkString(", ")}
       |  FROM qv${lastLv}c_nw),
       |${chain("_ws", "qz_nw")},
       |qz_ws AS (
       |  SELECT ${(eeKeep ++ stateCols("_ns") ++
                    stateCols("_nw").filter(_.contains(s"_${fullM}_")) ++
                    stateCols("_ws")).mkString(", ")}
       |  FROM qv${lastLv}c_ws),
       |${chain("_ww", "qz_ws")},
       |qw AS MATERIALIZED (
       |  SELECT *,
       |${suffixes.map(winnerCols).mkString(",\n")}
       |  FROM qv${lastLv}c_ww),
       |fins AS (
       |  SELECT p.pred_label, CAST(count(*) AS BIGINT) AS n_rows,
       |    CAST(coalesce(sum(CAST(l.l_quantity AS BIGINT)), 0) AS BIGINT)
       |      AS sum_qty,
       |    CAST(coalesce(sum(CAST(s.s_suppkey AS BIGINT)), 0) AS BIGINT)
       |      AS sum_supp
       |  FROM preds p
       |  JOIN lineitem l
       |    ON CAST(l.l_orderkey AS BIGINT) BETWEEN p.p_lo AND p.p_hi
       |    AND l.l_orderkey % 2 = 1
       |  JOIN orders o ON l.l_orderkey = o.o_orderkey
       |  JOIN customer c ON o.o_custkey = c.c_custkey
       |  JOIN nation nn ON c.c_nationkey = nn.n_nationkey
       |  JOIN supplier s ON nn.n_nationkey = s.s_nationkey
       |    AND s.s_suppkey = l.l_suppkey
       |  GROUP BY 1)
       |SELECT t.pred_label, pr.p_lo, pr.p_hi, t.hist_est_e6,
       |  t.est_default_e6, t.corr_used_e6, t.est_fact_fb,
       |  t.lim_bytes_e6, t.subset, t.part, t.n_tables, t.est_rows,
       |  t.width_e6, t.cost, t.op, t.n_shuffle_exch, t.n_bcast_exch,
       |  t.plan, t.store_winner_part, t.store_winner_cost,
       |  t.store_winner_op, t.store_winner_n_shuffle,
       |  t.store_winner_n_bcast, t.store_winner_plan,
       |  t.wide_winner_part, t.wide_winner_cost, t.wide_winner_op,
       |  t.wide_winner_n_shuffle, t.wide_winner_n_bcast,
       |  t.wide_winner_plan, t.winners_differ, f.n_rows, f.sum_qty,
       |  f.sum_supp, TRUE AS trees_identical
       |FROM (
       |${outRows("narrow", "_ns", "_nw")}
       |  UNION ALL
       |${outRows("wide", "_ws", "_ww")}) t
       |JOIN preds pr USING (pred_label)
       |JOIN fins f USING (pred_label)""".stripMargin
  }

  /** q257's oracle, GENERATED by replaying the engine's byte-gated
    * `dpCcpUnified` symbolically FOUR times over one shared
    * cardinality base (the arms differ only in broadcast eligibility):
    * `_r` row gate at 10 000; `_u` uniform 1-byte widths at 10 000
    * bytes (the reduction case); `_s` the store's real widths (each
    * table's width re-derived from raw data through the exact q189
    * avg-width expression, per-column rounding before the integer
    * sum) at 10 000 fact-rows' worth of bytes; `_w` the same with
    * customer planted at the declared 2 500-byte constant. A subset's
    * gate width is the MAX of its members (dominant-column model);
    * the Σ is emitted next to it. Winners, the reduction-equality and
    * per-arm flip flags, and the executed aggregate all re-derive. */
  private val byteDpSql: String = {
    val n = 5
    val edges = Seq((0, 1), (1, 2), (2, 3), (3, 4), (4, 0))
    val classes = Seq(0, 1, 2, 2, 3)
    val classNames = Seq("orderkey", "custkey", "nationkey", "suppkey")
    val rowCols = Seq("nli", "nord", "ncust", "nnat", "nsupp")
    val names = Seq("lineitem", "orders", "customer", "nation", "supplier")
    val statCols: Seq[(String, Seq[String])] = Seq(
      "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
      "orders" -> Seq("o_custkey", "o_orderstatus", "o_orderkey"),
      "customer" -> Seq("c_mktsegment", "c_custkey", "c_nationkey"),
      "nation" -> Seq("n_nationkey"),
      "supplier" -> Seq("s_suppkey", "s_nationkey"))
    val Sent = "1000000000000000"
    val Planted = "2500000000"
    // the graph topology only: divisors are emitted as SQL columns
    val topo = JoinGraph(Seq.fill(n)(("", 1L)),
      edges.map { case (a, b) => (a, b, 1L) })
    import topo.{connected, induced, inMask => inM}
    def single(m: Int): Boolean = java.lang.Integer.bitCount(m) == 1
    def tz(m: Int): Int = java.lang.Integer.numberOfTrailingZeros(m)
    def estExpr(m: Int): String = {
      def prod(cols: Seq[String]): String =
        (s"CAST(${cols.head} AS HUGEINT)" +: cols.tail).mkString(" * ")
      val num = prod((0 until n).filter(inM(_, m)).map(rowCols))
      val den = induced(m).map(e => s"d$e")
      s"CAST($num // (${prod(den)}) AS BIGINT)"
    }
    def estRef(m: Int): String = if (single(m)) rowCols(tz(m)) else s"e_$m"
    def pid(p: Seq[Int]): String =
      if (p.isEmpty) "none" else p.mkString("_")
    def pLabel(p: Seq[Int]): String =
      if (p.isEmpty) "none" else p.map(classNames).mkString("+")
    val compositeMasks = (3 to (1 << n) - 1)
      .filter(m => java.lang.Integer.bitCount(m) >= 2 && connected(m))
    case class Split(s1: Int, s2: Int, cross: Seq[Int], k: Seq[Int])
    val splitsOf: Map[Int, Seq[Split]] = compositeMasks.map { m =>
      val low = 1 << tz(m)
      val subs = scala.collection.mutable.ArrayBuffer.empty[Int]
      var sub = (m - 1) & m
      while (sub != 0) { subs += sub; sub = (sub - 1) & m }
      m -> subs.reverseIterator.flatMap { s1 =>
        val s2 = m & ~s1
        val ok = (s1 & low) != 0 &&
          (single(s1) || connected(s1)) && (single(s2) || connected(s2))
        if (ok) {
          val cross = edges.indices.filter { e =>
            val (a, b) = edges(e)
            (inM(a, s1) && inM(b, s2)) || (inM(a, s2) && inM(b, s1))
          }
          if (cross.nonEmpty)
            Some(Split(s1, s2, cross, cross.map(classes).distinct.sorted))
          else None
        } else None
      }.toSeq
    }.toMap
    val statesOf = scala.collection.mutable.Map[Int, Seq[Seq[Int]]](
      (0 until n).map(i => (1 << i) -> Seq(Seq.empty[Int])): _*)
    compositeMasks.foreach { m =>
      val ss = splitsOf(m).flatMap { sp =>
        sp.k +: (statesOf(sp.s1) ++ statesOf(sp.s2))
      }.distinct.sortBy(_.mkString(","))
      statesOf(m) = ss
    }
    case class UCand(kind: Int, sp: Split, stream: Seq[Int])
    def candsFor(m: Int, p: Seq[Int]): Seq[UCand] =
      splitsOf(m).flatMap { sp =>
        val sh = if (sp.k == p) Seq(UCand(0, sp, Nil)) else Nil
        val br = statesOf(sp.s1).filter(_ == p).map(UCand(1, sp, _))
        val bl = statesOf(sp.s2).filter(_ == p).map(UCand(2, sp, _))
        sh ++ br ++ bl
      }
    def cRef(m: Int, p: Seq[Int], sfx: String): String =
      if (single(m)) "0" else s"c_${m}_${pid(p)}$sfx"
    def pRef(m: Int, p: Seq[Int], sfx: String): String =
      if (single(m)) s"'${names(tz(m))}'" else s"p_${m}_${pid(p)}$sfx"
    def xsRef(m: Int, p: Seq[Int], sfx: String): String =
      if (single(m)) "0" else s"xs_${m}_${pid(p)}$sfx"
    def xbRef(m: Int, p: Seq[Int], sfx: String): String =
      if (single(m)) "0" else s"xb_${m}_${pid(p)}$sfx"
    def cmRef(m: Int, sfx: String): String =
      if (single(m)) "0" else s"cm_$m$sfx"
    def pmRef(m: Int, sfx: String): String =
      if (single(m)) s"'${names(tz(m))}'" else s"pm_$m$sfx"
    def xsmRef(m: Int, sfx: String): String =
      if (single(m)) "0" else s"xsm_$m$sfx"
    def xbmRef(m: Int, sfx: String): String =
      if (single(m)) "0" else s"xbm_$m$sfx"
    def dE(e: String): String =
      s"CAST(CAST($e AS HUGEINT) * 100 // 100 AS BIGINT)"
    // per-arm gate-width (MAX over members) and Σ-width expressions
    def wMaxOf(m: Int, w: Int => String): String = {
      val ms = (0 until n).filter(inM(_, m)).map(w)
      if (ms.length == 1) ms.head else s"greatest(${ms.mkString(", ")})"
    }
    def wSumOf(m: Int, w: Int => String): String =
      (0 until n).filter(inM(_, m)).map(w).mkString(" + ")
    val armW: Map[String, Int => String] = Map(
      "_u" -> ((_: Int) => "1000000"),
      "_s" -> ((i: Int) => s"w$i"),
      "_w" -> ((i: Int) => if (i == 2) Planted else s"w$i"))
    val armLim: Map[String, String] = Map(
      "_u" -> "10000000000", "_s" -> "limsw", "_w" -> "limsw")
    def elig(sfx: String, ship: Int): String =
      if (sfx == "_r") s"${estRef(ship)} <= 10000"
      else s"CAST(${estRef(ship)} AS HUGEINT) * " +
        s"${wMaxOf(ship, armW(sfx))} <= CAST(${armLim(sfx)} AS HUGEINT)"
    def shSide(s: Int, k: Seq[Int], sfx: String)
        : (String, String, String, String) = {
      val fresh = s"(${cmRef(s, sfx)} + ${dE(estRef(s))})"
      if (statesOf(s).contains(k)) {
        val (c, p) = (cRef(s, k, sfx), pRef(s, k, sfx))
        (s"least($c, $fresh)",
          s"CASE WHEN $c <= $fresh THEN $p ELSE ${pmRef(s, sfx)} END",
          s"CASE WHEN $c <= $fresh THEN ${xsRef(s, k, sfx)}" +
            s" ELSE ${xsmRef(s, sfx)} + 1 END",
          s"CASE WHEN $c <= $fresh THEN ${xbRef(s, k, sfx)}" +
            s" ELSE ${xbmRef(s, sfx)} END")
      } else
        (fresh, pmRef(s, sfx), s"${xsmRef(s, sfx)} + 1", xbmRef(s, sfx))
    }
    def candExprs(m: Int, cd: UCand, sfx: String)
        : (String, String, String, String, String) = cd.kind match {
      case 0 =>
        val (lc, lp, lsh, lbc) = shSide(cd.sp.s1, cd.sp.k, sfx)
        val (rc, rp, rsh, rbc) = shSide(cd.sp.s2, cd.sp.k, sfx)
        (s"($lc + $rc + ${estRef(m)})",
          s"'(' || $lp || '*' || $rp || ')'",
          s"($lsh + $rsh)", s"($lbc + $rbc)", "'shuffle'")
      case 1 =>
        val (s1, s2, p1) = (cd.sp.s1, cd.sp.s2, cd.stream)
        (s"CASE WHEN ${elig(sfx, s2)} THEN " +
          s"${cRef(s1, p1, sfx)} + ${cmRef(s2, sfx)} + " +
          s"${estRef(m)} + ${dE(estRef(s2))} ELSE $Sent END",
          s"'(' || ${pRef(s1, p1, sfx)} || '*' || ${pmRef(s2, sfx)} || ')'",
          s"(${xsRef(s1, p1, sfx)} + ${xsmRef(s2, sfx)})",
          s"(${xbRef(s1, p1, sfx)} + ${xbmRef(s2, sfx)} + 1)",
          "'broadcast_right'")
      case _ =>
        val (s1, s2, p2) = (cd.sp.s1, cd.sp.s2, cd.stream)
        (s"CASE WHEN ${elig(sfx, s1)} THEN " +
          s"${cmRef(s1, sfx)} + ${cRef(s2, p2, sfx)} + " +
          s"${estRef(m)} + ${dE(estRef(s1))} ELSE $Sent END",
          s"'(' || ${pmRef(s1, sfx)} || '*' || ${pRef(s2, p2, sfx)} || ')'",
          s"(${xsmRef(s1, sfx)} + ${xsRef(s2, p2, sfx)})",
          s"(${xbmRef(s1, sfx)} + ${xbRef(s2, p2, sfx)} + 1)",
          "'broadcast_left'")
    }
    def chain(sfx: String, prev0: String): String = {
      val levels = compositeMasks.groupBy(java.lang.Integer.bitCount)
        .toSeq.sortBy(_._1)
      levels.map { case (pc, masks) =>
        val candIds = masks.flatMap { m =>
          statesOf(m).flatMap { p =>
            candsFor(m, p).indices.map(i => s"${m}_${pid(p)}_$i$sfx")
          }
        }
        val aCols = masks.flatMap { m =>
          statesOf(m).flatMap { p =>
            candsFor(m, p).zipWithIndex.flatMap { case (cd, i) =>
              val (kc, kp, ks, kb, _) = candExprs(m, cd, sfx)
              val t = s"${m}_${pid(p)}_$i$sfx"
              Seq(s"    $kc AS kc_$t", s"    $kp AS kp_$t",
                s"    $ks AS ks_$t", s"    $kb AS kb_$t")
            }
          }
        }
        val bCols = masks.flatMap { m =>
          statesOf(m).flatMap { p =>
            val cs = candsFor(m, p)
            val ids = cs.indices.map(i => s"${m}_${pid(p)}_$i$sfx")
            val kcs = ids.map(t => s"kc_$t")
            def choose(pick: Int => String, name: String): String =
              if (cs.length == 1) s"    ${pick(0)} AS $name"
              else {
                val whens = cs.indices.init.map { i =>
                  val laterLe = (i + 1 until cs.length)
                    .map(j => s"${kcs(i)} <= ${kcs(j)}").mkString(" AND ")
                  s"      WHEN $laterLe THEN ${pick(i)}"
                }
                s"    CASE\n${whens.mkString("\n")}\n      ELSE " +
                  s"${pick(cs.length - 1)} END AS $name"
              }
            Seq(
              s"    CAST(least(${kcs.mkString(", ")}) AS BIGINT)" +
                s" AS c_${m}_${pid(p)}$sfx",
              choose(i => s"kp_${ids(i)}", s"p_${m}_${pid(p)}$sfx"),
              choose(i => s"CAST(ks_${ids(i)} AS BIGINT)",
                s"xs_${m}_${pid(p)}$sfx"),
              choose(i => s"CAST(kb_${ids(i)} AS BIGINT)",
                s"xb_${m}_${pid(p)}$sfx"),
              choose(i => candExprs(m, cs(i), sfx)._5,
                s"op_${m}_${pid(p)}$sfx"))
          }
        }
        val cCols = masks.flatMap { m =>
          val sts = statesOf(m)
          val cvs = sts.map(p => s"c_${m}_${pid(p)}$sfx")
          def choose(pick: Seq[Int] => String, name: String): String =
            if (sts.length == 1) s"    ${pick(sts.head)} AS $name"
            else {
              val whens = sts.indices.init.map { i =>
                val laterLe = (i + 1 until sts.length)
                  .map(j => s"${cvs(i)} <= ${cvs(j)}").mkString(" AND ")
                s"      WHEN $laterLe THEN ${pick(sts(i))}"
              }
              s"    CASE\n${whens.mkString("\n")}\n      ELSE " +
                s"${pick(sts.last)} END AS $name"
            }
          Seq(
            s"    least(${cvs.mkString(", ")}) AS cm_$m$sfx",
            choose(p => s"p_${m}_${pid(p)}$sfx", s"pm_$m$sfx"),
            choose(p => s"xs_${m}_${pid(p)}$sfx", s"xsm_$m$sfx"),
            choose(p => s"xb_${m}_${pid(p)}$sfx", s"xbm_$m$sfx"))
        }
        val drop = candIds.flatMap(t =>
          Seq(s"kc_$t", s"kp_$t", s"ks_$t", s"kb_$t"))
        val prev = if (pc == 2) prev0 else s"bv${pc - 1}c$sfx"
        Seq(
          s"bv${pc}a$sfx AS (\n  SELECT *,\n${aCols.mkString(",\n")}\n  FROM $prev)",
          s"bv${pc}b$sfx AS (\n  SELECT *,\n${bCols.mkString(",\n")}\n  FROM bv${pc}a$sfx)",
          s"bv${pc}c$sfx AS (\n  SELECT * EXCLUDE (${drop.mkString(", ")}),\n${cCols.mkString(",\n")}\n  FROM bv${pc}b$sfx)")
          .mkString(",\n")
      }.mkString(",\n")
    }
    val fullM = (1 << n) - 1
    def winnerCols(sfx: String): String = {
      val sts = statesOf(fullM)
      val cvs = sts.map(p => s"c_${fullM}_${pid(p)}$sfx")
      def choose(pick: Seq[Int] => String, name: String): String = {
        val whens = sts.indices.init.map { i =>
          val laterLe = (i + 1 until sts.length)
            .map(j => s"${cvs(i)} <= ${cvs(j)}").mkString(" AND ")
          s"      WHEN $laterLe THEN ${pick(sts(i))}"
        }
        s"    CASE\n${whens.mkString("\n")}\n      ELSE " +
          s"${pick(sts.last)} END AS $name"
      }
      Seq(
        choose(p => s"'${pLabel(p)}'", s"bwpart$sfx"),
        s"    least(${cvs.mkString(", ")}) AS bwcost$sfx",
        choose(p => s"op_${fullM}_${pid(p)}$sfx", s"bwop$sfx"),
        choose(p => s"xs_${fullM}_${pid(p)}$sfx", s"bwxs$sfx"),
        choose(p => s"xb_${fullM}_${pid(p)}$sfx", s"bwxb$sfx"),
        choose(p => s"p_${fullM}_${pid(p)}$sfx", s"bwplan$sfx"))
        .mkString(",\n")
    }
    val suffixes = Seq("_r", "_u", "_s", "_w")
    val ee = compositeMasks.map(m => s"    ${estExpr(m)} AS e_$m")
      .mkString(",\n")
    val lastLv = compositeMasks.map(java.lang.Integer.bitCount).max
    val stateCols: String => Seq[String] = sfx =>
      compositeMasks.flatMap { m =>
        statesOf(m).flatMap { p =>
          val t = s"${m}_${pid(p)}$sfx"
          Seq(s"c_$t", s"p_$t", s"xs_$t", s"xb_$t", s"op_$t")
        }
      }
    val eeKeep: Seq[String] = rowCols ++ (0 until n).map(i => s"w$i") ++
      Seq("limsw") ++ compositeMasks.map(m => s"e_$m")
    // per-arm output rows; widths are generation-time expressions
    def outRows(arm: String, sfx: String): String = {
      def wM(m: Int): String =
        if (sfx == "_r") "CAST(0 AS BIGINT)"
        else s"CAST(${wMaxOf(m, armW(sfx))} AS BIGINT)"
      def wS(m: Int): String =
        if (sfx == "_r") "CAST(0 AS BIGINT)"
        else s"CAST(${wSumOf(m, armW(sfx))} AS BIGINT)"
      def by(m: Int): String =
        if (sfx == "_r") "CAST(0 AS BIGINT)"
        else s"CAST(CAST(${estRef(m)} AS HUGEINT) * " +
          s"${wMaxOf(m, armW(sfx))} AS BIGINT)"
      val winCols =
        s"""    bwpart$sfx AS winner_part, bwcost$sfx AS winner_cost,
           |    bwop$sfx AS winner_op,
           |    CAST(bwxs$sfx AS BIGINT) AS winner_n_shuffle,
           |    CAST(bwxb$sfx AS BIGINT) AS winner_n_bcast,
           |    bwplan$sfx AS winner_plan,
           |    bwcost_r AS rows_winner_cost, bwplan_r AS rows_winner_plan,
           |    bwop_r AS rows_winner_op,
           |    (bwplan_u = bwplan_r AND bwpart_u = bwpart_r
           |      AND bwop_u = bwop_r AND bwxs_u = bwxs_r
           |      AND bwxb_u = bwxb_r) AS reduction_equal,
           |    NOT (bwplan$sfx = bwplan_r AND bwpart$sfx = bwpart_r
           |      AND bwop$sfx = bwop_r AND bwxs$sfx = bwxs_r
           |      AND bwxb$sfx = bwxb_r) AS differs_vs_rows""".stripMargin
      ((0 until n).map { i =>
        val m = 1 << i
        s"""  SELECT '$arm' AS arm, '${names(i)}' AS subset,
           |    'none' AS part, CAST(1 AS BIGINT) AS n_tables,
           |    ${rowCols(i)} AS est_rows, ${wM(m)} AS width_e6,
           |    ${wS(m)} AS width_sum_e6, ${by(m)} AS bytes_e6,
           |    CAST(0 AS BIGINT) AS cost, 'leaf' AS op,
           |    CAST(0 AS BIGINT) AS n_shuffle_exch,
           |    CAST(0 AS BIGINT) AS n_bcast_exch, '${names(i)}' AS plan,
           |$winCols
           |  FROM bw""".stripMargin
      } ++ compositeMasks.flatMap { m =>
        val nm = (0 until n).filter(inM(_, m)).map(names).mkString(",")
        statesOf(m).map { p =>
          s"""  SELECT '$arm', '$nm', '${pLabel(p)}',
             |    CAST(${java.lang.Integer.bitCount(m)} AS BIGINT),
             |    e_$m, ${wM(m)}, ${wS(m)}, ${by(m)},
             |    c_${m}_${pid(p)}$sfx, op_${m}_${pid(p)}$sfx,
             |    CAST(xs_${m}_${pid(p)}$sfx AS BIGINT),
             |    CAST(xb_${m}_${pid(p)}$sfx AS BIGINT),
             |    p_${m}_${pid(p)}$sfx,
             |$winCols
             |  FROM bw""".stripMargin
        }
      }).mkString("\n  UNION ALL\n")
    }
    val widthDefs = statCols.zipWithIndex.map { case ((t, cols), i) =>
      val parts = cols.map(c =>
        s"CAST(round(CAST(round(CAST((SELECT avg(length(CAST($c AS " +
          s"VARCHAR))) FROM $t) AS DECIMAL(38,18)), 6) AS DOUBLE) " +
          s"* 1000000) AS BIGINT)")
      s"    (${parts.mkString(" + ")}) AS w$i"
    }.mkString(",\n")
    s"""WITH st AS (
       |  SELECT (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS nli,
       |    (SELECT CAST(count(*) AS BIGINT) FROM orders) AS nord,
       |    (SELECT CAST(count(*) AS BIGINT) FROM customer) AS ncust,
       |    (SELECT CAST(count(*) AS BIGINT) FROM nation) AS nnat,
       |    (SELECT CAST(count(*) AS BIGINT) FROM supplier) AS nsupp,
       |    greatest(
       |      (SELECT count(DISTINCT l_orderkey) FROM lineitem),
       |      (SELECT count(DISTINCT o_orderkey) FROM orders)) AS d0,
       |    greatest(
       |      (SELECT count(DISTINCT o_custkey) FROM orders),
       |      (SELECT count(DISTINCT c_custkey) FROM customer)) AS d1,
       |    greatest(
       |      (SELECT count(DISTINCT c_nationkey) FROM customer),
       |      (SELECT count(DISTINCT n_nationkey) FROM nation)) AS d2,
       |    greatest(
       |      (SELECT count(DISTINCT n_nationkey) FROM nation),
       |      (SELECT count(DISTINCT s_nationkey) FROM supplier)) AS d3,
       |    greatest(
       |      (SELECT count(DISTINCT s_suppkey) FROM supplier),
       |      (SELECT count(DISTINCT l_suppkey) FROM lineitem)) AS d4,
       |$widthDefs),
       |lm AS (SELECT *, 10000 * w0 AS limsw FROM st),
       |ee AS (
       |  SELECT *,
       |$ee
       |  FROM lm),
       |${chain("_r", "ee")},
       |bz_r AS (
       |  SELECT ${(eeKeep ++ stateCols("_r"))
                    .mkString(", ")}
       |  FROM bv${lastLv}c_r),
       |${chain("_u", "bz_r")},
       |bz_u AS (
       |  SELECT ${(eeKeep ++ stateCols("_r") ++
                    stateCols("_u")).mkString(", ")}
       |  FROM bv${lastLv}c_u),
       |${chain("_s", "bz_u")},
       |bz_s AS (
       |  SELECT ${(eeKeep ++ stateCols("_r") ++
                    stateCols("_u") ++
                    stateCols("_s")).mkString(", ")}
       |  FROM bv${lastLv}c_s),
       |${chain("_w", "bz_s")},
       |bw AS MATERIALIZED (
       |  SELECT *,
       |${suffixes.map(winnerCols).mkString(",\n")}
       |  FROM bv${lastLv}c_w),
       |fin AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
       |    CAST(coalesce(sum(CAST(l_quantity AS BIGINT)), 0) AS BIGINT)
       |      AS sum_qty,
       |    CAST(coalesce(sum(CAST(s_suppkey AS BIGINT)), 0) AS BIGINT)
       |      AS sum_supp
       |  FROM lineitem l
       |  JOIN orders o ON l.l_orderkey = o.o_orderkey
       |  JOIN customer c ON o.o_custkey = c.c_custkey
       |  JOIN nation nn ON c.c_nationkey = nn.n_nationkey
       |  JOIN supplier s ON nn.n_nationkey = s.s_nationkey
       |    AND s.s_suppkey = l.l_suppkey)
       |SELECT t.*, fin.n_rows, fin.sum_qty, fin.sum_supp,
       |  TRUE AS trees_identical
       |FROM (
       |${outRows("rows", "_r")}
       |  UNION ALL
       |${outRows("bytes_uniform", "_u")}
       |  UNION ALL
       |${outRows("bytes_store", "_s")}
       |  UNION ALL
       |${outRows("bytes_wide", "_w")}) t, fin""".stripMargin
  }

  /** q256's oracle, GENERATED by replaying the engine's WHOLE planned-
    * query path symbolically: the q232 equi-depth histogram CTEs price
    * the range predicates, the q244 correction CTEs re-derive the
    * store's pooled ratio for the `l_orderkey_mod2_eq` class (one tick
    * by store construction, so the freshness verdict is n_ticks=1 /
    * drift 0 / fresh), the four fact-cardinality estimates (narrow/wide
    * × raw/corrected) feed FOUR `dpCcpUnified` chain instantiations
    * (suffixes _nr/_nf/_wr/_wf — the uniDpSql machinery with the
    * lineitem leaf parameterized per suffix), and the final projection
    * emits the corrected-arm state tables with both winners, the flip
    * flag, the executed aggregate (both predicates applied in raw SQL),
    * and the would-be feedback observation. */
  private val plannedDpSql: String = {
    val n = 5
    val edges = Seq((0, 1), (1, 2), (2, 3), (3, 4), (4, 0))
    val classes = Seq(0, 1, 2, 2, 3)
    val classNames = Seq("orderkey", "custkey", "nationkey", "suppkey")
    val names = Seq("lineitem", "orders", "customer", "nation", "supplier")
    val restCols = Seq("nord", "ncust", "nnat", "nsupp")
    val Sent = "1000000000000000"
    // the graph topology only: divisors are emitted as SQL columns
    val topo = JoinGraph(Seq.fill(n)(("", 1L)),
      edges.map { case (a, b) => (a, b, 1L) })
    import topo.{connected, induced, inMask => inM}
    def single(m: Int): Boolean = java.lang.Integer.bitCount(m) == 1
    def tz(m: Int): Int = java.lang.Integer.numberOfTrailingZeros(m)
    def rowCol(i: Int, sfx: String): String =
      if (i == 0) s"nfact$sfx" else restCols(i - 1)
    def estExpr(m: Int, sfx: String): String = {
      def prod(cols: Seq[String]): String =
        (s"CAST(${cols.head} AS HUGEINT)" +: cols.tail).mkString(" * ")
      val num = prod((0 until n).filter(inM(_, m)).map(rowCol(_, sfx)))
      val den = induced(m).map(e => s"d$e")
      s"CAST($num // (${prod(den)}) AS BIGINT)"
    }
    // masks WITHOUT the fact table share one estimate column; masks
    // with it get one per suffix (the fact cardinality is the only
    // per-instantiation stat)
    def estRef(m: Int, sfx: String): String =
      if (single(m)) rowCol(tz(m), sfx)
      else if (inM(0, m)) s"e_$m$sfx"
      else s"e_$m"
    def pid(p: Seq[Int]): String =
      if (p.isEmpty) "none" else p.mkString("_")
    def pLabel(p: Seq[Int]): String =
      if (p.isEmpty) "none" else p.map(classNames).mkString("+")
    val compositeMasks = (3 to (1 << n) - 1)
      .filter(m => java.lang.Integer.bitCount(m) >= 2 && connected(m))
    case class Split(s1: Int, s2: Int, cross: Seq[Int], k: Seq[Int])
    val splitsOf: Map[Int, Seq[Split]] = compositeMasks.map { m =>
      val low = 1 << tz(m)
      val subs = scala.collection.mutable.ArrayBuffer.empty[Int]
      var sub = (m - 1) & m
      while (sub != 0) { subs += sub; sub = (sub - 1) & m }
      m -> subs.reverseIterator.flatMap { s1 =>
        val s2 = m & ~s1
        val ok = (s1 & low) != 0 &&
          (single(s1) || connected(s1)) && (single(s2) || connected(s2))
        if (ok) {
          val cross = edges.indices.filter { e =>
            val (a, b) = edges(e)
            (inM(a, s1) && inM(b, s2)) || (inM(a, s2) && inM(b, s1))
          }
          if (cross.nonEmpty)
            Some(Split(s1, s2, cross, cross.map(classes).distinct.sorted))
          else None
        } else None
      }.toSeq
    }.toMap
    val statesOf = scala.collection.mutable.Map[Int, Seq[Seq[Int]]](
      (0 until n).map(i => (1 << i) -> Seq(Seq.empty[Int])): _*)
    compositeMasks.foreach { m =>
      val ss = splitsOf(m).flatMap { sp =>
        sp.k +: (statesOf(sp.s1) ++ statesOf(sp.s2))
      }.distinct.sortBy(_.mkString(","))
      statesOf(m) = ss
    }
    case class UCand(kind: Int, sp: Split, stream: Seq[Int])
    def candsFor(m: Int, p: Seq[Int]): Seq[UCand] =
      splitsOf(m).flatMap { sp =>
        val sh = if (sp.k == p) Seq(UCand(0, sp, Nil)) else Nil
        val br = statesOf(sp.s1).filter(_ == p).map(UCand(1, sp, _))
        val bl = statesOf(sp.s2).filter(_ == p).map(UCand(2, sp, _))
        sh ++ br ++ bl
      }
    def cRef(m: Int, p: Seq[Int], sfx: String): String =
      if (single(m)) "0" else s"c_${m}_${pid(p)}$sfx"
    def pRef(m: Int, p: Seq[Int], sfx: String): String =
      if (single(m)) s"'${names(tz(m))}'" else s"p_${m}_${pid(p)}$sfx"
    def xsRef(m: Int, p: Seq[Int], sfx: String): String =
      if (single(m)) "0" else s"xs_${m}_${pid(p)}$sfx"
    def xbRef(m: Int, p: Seq[Int], sfx: String): String =
      if (single(m)) "0" else s"xb_${m}_${pid(p)}$sfx"
    def cmRef(m: Int, sfx: String): String =
      if (single(m)) "0" else s"cm_$m$sfx"
    def pmRef(m: Int, sfx: String): String =
      if (single(m)) s"'${names(tz(m))}'" else s"pm_$m$sfx"
    def xsmRef(m: Int, sfx: String): String =
      if (single(m)) "0" else s"xsm_$m$sfx"
    def xbmRef(m: Int, sfx: String): String =
      if (single(m)) "0" else s"xbm_$m$sfx"
    def dE(e: String): String =
      s"CAST(CAST($e AS HUGEINT) * 100 // 100 AS BIGINT)"
    def shSide(s: Int, k: Seq[Int], sfx: String)
        : (String, String, String, String) = {
      val fresh = s"(${cmRef(s, sfx)} + ${dE(estRef(s, sfx))})"
      if (statesOf(s).contains(k)) {
        val (c, p) = (cRef(s, k, sfx), pRef(s, k, sfx))
        (s"least($c, $fresh)",
          s"CASE WHEN $c <= $fresh THEN $p ELSE ${pmRef(s, sfx)} END",
          s"CASE WHEN $c <= $fresh THEN ${xsRef(s, k, sfx)}" +
            s" ELSE ${xsmRef(s, sfx)} + 1 END",
          s"CASE WHEN $c <= $fresh THEN ${xbRef(s, k, sfx)}" +
            s" ELSE ${xbmRef(s, sfx)} END")
      } else
        (fresh, pmRef(s, sfx), s"${xsmRef(s, sfx)} + 1", xbmRef(s, sfx))
    }
    def candExprs(m: Int, cd: UCand, sfx: String, lim: String)
        : (String, String, String, String, String) = cd.kind match {
      case 0 =>
        val (lc, lp, lsh, lbc) = shSide(cd.sp.s1, cd.sp.k, sfx)
        val (rc, rp, rsh, rbc) = shSide(cd.sp.s2, cd.sp.k, sfx)
        (s"($lc + $rc + ${estRef(m, sfx)})",
          s"'(' || $lp || '*' || $rp || ')'",
          s"($lsh + $rsh)", s"($lbc + $rbc)", "'shuffle'")
      case 1 =>
        val (s1, s2, p1) = (cd.sp.s1, cd.sp.s2, cd.stream)
        (s"CASE WHEN ${estRef(s2, sfx)} <= $lim THEN " +
          s"${cRef(s1, p1, sfx)} + ${cmRef(s2, sfx)} + " +
          s"${estRef(m, sfx)} + ${dE(estRef(s2, sfx))} ELSE $Sent END",
          s"'(' || ${pRef(s1, p1, sfx)} || '*' || ${pmRef(s2, sfx)} || ')'",
          s"(${xsRef(s1, p1, sfx)} + ${xsmRef(s2, sfx)})",
          s"(${xbRef(s1, p1, sfx)} + ${xbmRef(s2, sfx)} + 1)",
          "'broadcast_right'")
      case _ =>
        val (s1, s2, p2) = (cd.sp.s1, cd.sp.s2, cd.stream)
        (s"CASE WHEN ${estRef(s1, sfx)} <= $lim THEN " +
          s"${cmRef(s1, sfx)} + ${cRef(s2, p2, sfx)} + " +
          s"${estRef(m, sfx)} + ${dE(estRef(s1, sfx))} ELSE $Sent END",
          s"'(' || ${pmRef(s1, sfx)} || '*' || ${pRef(s2, p2, sfx)} || ')'",
          s"(${xsmRef(s1, sfx)} + ${xsRef(s2, p2, sfx)})",
          s"(${xbmRef(s1, sfx)} + ${xbRef(s2, p2, sfx)} + 1)",
          "'broadcast_left'")
    }
    // column hygiene: unlike uniDpSql's two chains, FOUR chains of
    // accumulated SELECT * blow DuckDB's binder up (the unpruned form
    // measured >10 min at sf0.01 vs q255's 32 s) — so each level's c-
    // step EXCLUDEs that level's candidate columns (used only by its
    // own b-step), and each finished chain is projected down to the
    // columns later chains and the final SELECT actually read
    def chain(sfx: String, lim: String, prev0: String): String = {
      val levels = compositeMasks.groupBy(java.lang.Integer.bitCount)
        .toSeq.sortBy(_._1)
      levels.map { case (pc, masks) =>
        val candIds = masks.flatMap { m =>
          statesOf(m).flatMap { p =>
            candsFor(m, p).indices.map(i => s"${m}_${pid(p)}_$i$sfx")
          }
        }
        val aCols = masks.flatMap { m =>
          statesOf(m).flatMap { p =>
            candsFor(m, p).zipWithIndex.flatMap { case (cd, i) =>
              val (kc, kp, ks, kb, _) = candExprs(m, cd, sfx, lim)
              val t = s"${m}_${pid(p)}_$i$sfx"
              Seq(s"    $kc AS kc_$t", s"    $kp AS kp_$t",
                s"    $ks AS ks_$t", s"    $kb AS kb_$t")
            }
          }
        }
        val bCols = masks.flatMap { m =>
          statesOf(m).flatMap { p =>
            val cs = candsFor(m, p)
            val ids = cs.indices.map(i => s"${m}_${pid(p)}_$i$sfx")
            val kcs = ids.map(t => s"kc_$t")
            def choose(pick: Int => String, name: String): String =
              if (cs.length == 1) s"    ${pick(0)} AS $name"
              else {
                val whens = cs.indices.init.map { i =>
                  val laterLe = (i + 1 until cs.length)
                    .map(j => s"${kcs(i)} <= ${kcs(j)}").mkString(" AND ")
                  s"      WHEN $laterLe THEN ${pick(i)}"
                }
                s"    CASE\n${whens.mkString("\n")}\n      ELSE " +
                  s"${pick(cs.length - 1)} END AS $name"
              }
            Seq(
              s"    CAST(least(${kcs.mkString(", ")}) AS BIGINT)" +
                s" AS c_${m}_${pid(p)}$sfx",
              choose(i => s"kp_${ids(i)}", s"p_${m}_${pid(p)}$sfx"),
              choose(i => s"CAST(ks_${ids(i)} AS BIGINT)",
                s"xs_${m}_${pid(p)}$sfx"),
              choose(i => s"CAST(kb_${ids(i)} AS BIGINT)",
                s"xb_${m}_${pid(p)}$sfx"),
              choose(i => candExprs(m, cs(i), sfx, lim)._5,
                s"op_${m}_${pid(p)}$sfx"))
          }
        }
        val cCols = masks.flatMap { m =>
          val sts = statesOf(m)
          val cvs = sts.map(p => s"c_${m}_${pid(p)}$sfx")
          def choose(pick: Seq[Int] => String, name: String): String =
            if (sts.length == 1) s"    ${pick(sts.head)} AS $name"
            else {
              val whens = sts.indices.init.map { i =>
                val laterLe = (i + 1 until sts.length)
                  .map(j => s"${cvs(i)} <= ${cvs(j)}").mkString(" AND ")
                s"      WHEN $laterLe THEN ${pick(sts(i))}"
              }
              s"    CASE\n${whens.mkString("\n")}\n      ELSE " +
                s"${pick(sts.last)} END AS $name"
            }
          Seq(
            s"    least(${cvs.mkString(", ")}) AS cm_$m$sfx",
            choose(p => s"p_${m}_${pid(p)}$sfx", s"pm_$m$sfx"),
            choose(p => s"xs_${m}_${pid(p)}$sfx", s"xsm_$m$sfx"),
            choose(p => s"xb_${m}_${pid(p)}$sfx", s"xbm_$m$sfx"))
        }
        val drop = candIds.flatMap(t =>
          Seq(s"kc_$t", s"kp_$t", s"ks_$t", s"kb_$t"))
        val prev = if (pc == 2) prev0 else s"pv${pc - 1}c$sfx"
        Seq(
          s"pv${pc}a$sfx AS (\n  SELECT *,\n${aCols.mkString(",\n")}\n  FROM $prev)",
          s"pv${pc}b$sfx AS (\n  SELECT *,\n${bCols.mkString(",\n")}\n  FROM pv${pc}a$sfx)",
          s"pv${pc}c$sfx AS (\n  SELECT * EXCLUDE (${drop.mkString(", ")}),\n${cCols.mkString(",\n")}\n  FROM pv${pc}b$sfx)")
          .mkString(",\n")
      }.mkString(",\n")
    }
    // the state columns a chain contributes for a set of masks
    def stateColsOf(sfx: String, masks: Seq[Int]): Seq[String] =
      masks.flatMap { m =>
        statesOf(m).flatMap { p =>
          val t = s"${m}_${pid(p)}$sfx"
          Seq(s"c_$t", s"p_$t", s"xs_$t", s"xb_$t", s"op_$t")
        }
      }
    val fullM = (1 << n) - 1
    def winnerCols(sfx: String): String = {
      val sts = statesOf(fullM)
      val cvs = sts.map(p => s"c_${fullM}_${pid(p)}$sfx")
      def choose(pick: Seq[Int] => String, name: String): String = {
        val whens = sts.indices.init.map { i =>
          val laterLe = (i + 1 until sts.length)
            .map(j => s"${cvs(i)} <= ${cvs(j)}").mkString(" AND ")
          s"      WHEN $laterLe THEN ${pick(sts(i))}"
        }
        s"    CASE\n${whens.mkString("\n")}\n      ELSE " +
          s"${pick(sts.last)} END AS $name"
      }
      Seq(
        choose(p => s"'${pLabel(p)}'", s"pwpart$sfx"),
        s"    least(${cvs.mkString(", ")}) AS pwcost$sfx",
        choose(p => s"op_${fullM}_${pid(p)}$sfx", s"pwop$sfx"),
        choose(p => s"xs_${fullM}_${pid(p)}$sfx", s"pwxs$sfx"),
        choose(p => s"xb_${fullM}_${pid(p)}$sfx", s"pwxb$sfx"),
        choose(p => s"p_${fullM}_${pid(p)}$sfx", s"pwplan$sfx"))
        .mkString(",\n")
    }
    val suffixes = Seq("_nr", "_nf", "_wr", "_wf")
    val ee = (compositeMasks.filterNot(inM(0, _))
      .map(m => s"    ${estExpr(m, "")} AS e_$m") ++
      compositeMasks.filter(inM(0, _)).flatMap(m =>
        suffixes.map(sfx => s"    ${estExpr(m, sfx)} AS e_$m$sfx")))
      .mkString(",\n")
    // the base columns every later chain / the final SELECT reads
    val eeKeep: Seq[String] = restCols ++
      suffixes.map(sfx => s"nfact$sfx") ++
      Seq("hist_nf", "hist_wf", "corr_e6") ++
      compositeMasks.filterNot(inM(0, _)).map(m => s"e_$m") ++
      compositeMasks.filter(inM(0, _)).flatMap(m =>
        suffixes.map(sfx => s"e_$m$sfx"))
    val lastLv = compositeMasks.map(java.lang.Integer.bitCount).max
    // per-pred output: leaves + the CORRECTED arm's full state table,
    // with both arms' winners and the trace columns on every row
    def outRows(label: String, f: String, r: String): String = {
      val traceCols =
        s"""    CAST(hist$f AS BIGINT) AS hist_est_e6,
           |    CAST(hist$f // 1000 AS BIGINT) AS est_default_e6,
           |    corr_e6 AS correction_e6, corr_e6 AS corr_used_e6,
           |    CAST(1 AS BIGINT) AS n_ticks,
           |    CAST(0 AS BIGINT) AS drift_ppm, FALSE AS stale,
           |    nfact$r AS est_fact_raw, nfact$f AS est_fact_fb""".stripMargin
      val winCols =
        s"""    pwpart$r AS raw_winner_part, pwcost$r AS raw_winner_cost,
           |    pwop$r AS raw_winner_op,
           |    CAST(pwxs$r AS BIGINT) AS raw_winner_n_shuffle,
           |    CAST(pwxb$r AS BIGINT) AS raw_winner_n_bcast,
           |    pwplan$r AS raw_winner_plan,
           |    pwpart$f AS fb_winner_part, pwcost$f AS fb_winner_cost,
           |    pwop$f AS fb_winner_op,
           |    CAST(pwxs$f AS BIGINT) AS fb_winner_n_shuffle,
           |    CAST(pwxb$f AS BIGINT) AS fb_winner_n_bcast,
           |    pwplan$f AS fb_winner_plan,
           |    (pwplan$r <> pwplan$f OR pwpart$r <> pwpart$f
           |      OR pwop$r <> pwop$f OR pwxs$r <> pwxs$f
           |      OR pwxb$r <> pwxb$f) AS winners_differ""".stripMargin
      ((0 until n).map { i =>
        val est = if (i == 0) s"nfact$f" else restCols(i - 1)
        s"""  SELECT '$label' AS pred_label,
           |$traceCols,
           |    '${names(i)}' AS subset, 'none' AS part,
           |    CAST(1 AS BIGINT) AS n_tables,
           |    $est AS est_rows, CAST(0 AS BIGINT) AS cost,
           |    'leaf' AS op, CAST(0 AS BIGINT) AS n_shuffle_exch,
           |    CAST(0 AS BIGINT) AS n_bcast_exch, '${names(i)}' AS plan,
           |$winCols
           |  FROM pw""".stripMargin
      } ++ compositeMasks.flatMap { m =>
        val nm = (0 until n).filter(inM(_, m)).map(names).mkString(",")
        statesOf(m).map { p =>
          s"""  SELECT '$label',
             |$traceCols,
             |    '$nm', '${pLabel(p)}',
             |    CAST(${java.lang.Integer.bitCount(m)} AS BIGINT),
             |    ${estRef(m, f)}, c_${m}_${pid(p)}$f, op_${m}_${pid(p)}$f,
             |    CAST(xs_${m}_${pid(p)}$f AS BIGINT),
             |    CAST(xb_${m}_${pid(p)}$f AS BIGINT), p_${m}_${pid(p)}$f,
             |$winCols
             |  FROM pw""".stripMargin
        }
      }).mkString("\n  UNION ALL\n")
    }
    s"""WITH vals AS (
       |  SELECT CAST(l_orderkey AS BIGINT) AS v, count(*) AS cnt
       |  FROM lineitem GROUP BY 1),
       |cum AS (
       |  SELECT v, cnt, sum(cnt) OVER () AS n,
       |         sum(cnt) OVER (ORDER BY v) AS cum
       |  FROM vals),
       |buckets AS (
       |  SELECT ((cum - cnt) * 16) // n AS bucket,
       |         min(v) AS b_lo, max(v) AS b_hi, sum(cnt) AS b_cnt
       |  FROM cum GROUP BY 1),
       |bounds AS (
       |  SELECT CAST(min(l_orderkey) AS BIGINT) AS lo,
       |         CAST(max(l_orderkey) AS BIGINT) AS hi
       |  FROM lineitem),
       |preds AS (
       |  SELECT 'narrow' AS pred_label, lo AS p_lo,
       |         lo + (hi - lo + 1) // 50 - 1 AS p_hi FROM bounds
       |  UNION ALL
       |  SELECT 'wide', lo, lo + (4 * (hi - lo + 1)) // 5 - 1 FROM bounds),
       |hest AS (
       |  SELECT pred_label, p_lo, p_hi,
       |         sum(b_cnt * (((least(p_hi, b_hi) - greatest(p_lo, b_lo)
       |           + 1) * 1000000) // (b_hi - b_lo + 1))) AS est_f6
       |  FROM preds JOIN buckets ON b_hi >= p_lo AND b_lo <= p_hi
       |  GROUP BY 1, 2, 3),
       |st AS (
       |  SELECT (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS nli,
       |    (SELECT CAST(count(*) AS BIGINT) FROM orders) AS nord,
       |    (SELECT CAST(count(*) AS BIGINT) FROM customer) AS ncust,
       |    (SELECT CAST(count(*) AS BIGINT) FROM nation) AS nnat,
       |    (SELECT CAST(count(*) AS BIGINT) FROM supplier) AS nsupp,
       |    greatest(
       |      (SELECT count(DISTINCT l_orderkey) FROM lineitem),
       |      (SELECT count(DISTINCT o_orderkey) FROM orders)) AS d0,
       |    greatest(
       |      (SELECT count(DISTINCT o_custkey) FROM orders),
       |      (SELECT count(DISTINCT c_custkey) FROM customer)) AS d1,
       |    greatest(
       |      (SELECT count(DISTINCT c_nationkey) FROM customer),
       |      (SELECT count(DISTINCT n_nationkey) FROM nation)) AS d2,
       |    greatest(
       |      (SELECT count(DISTINCT n_nationkey) FROM nation),
       |      (SELECT count(DISTINCT s_nationkey) FROM supplier)) AS d3,
       |    greatest(
       |      (SELECT count(DISTINCT s_suppkey) FROM supplier),
       |      (SELECT count(DISTINCT l_suppkey) FROM lineitem)) AS d4,
       |    (SELECT CAST(count(*) AS BIGINT) FROM lineitem
       |       WHERE l_orderkey % 2 = 0) AS actual_train),
       |co AS (
       |  SELECT *,
       |    actual_train * 1000000 // greatest(nli // 1000, 1) AS corr_e6,
       |    (SELECT CAST(est_f6 AS BIGINT) FROM hest
       |       WHERE pred_label = 'narrow') AS hist_nf,
       |    (SELECT CAST(est_f6 AS BIGINT) FROM hest
       |       WHERE pred_label = 'wide') AS hist_wf
       |  FROM st),
       |fb AS (
       |  SELECT *, hist_nf AS hist_nr, hist_wf AS hist_wr,
       |    greatest(1, (hist_nf // 1000) // 1000000) AS nfact_nr,
       |    greatest(1, CAST(CAST(hist_nf // 1000 AS HUGEINT) * corr_e6
       |      // 1000000 // 1000000 AS BIGINT)) AS nfact_nf,
       |    greatest(1, (hist_wf // 1000) // 1000000) AS nfact_wr,
       |    greatest(1, CAST(CAST(hist_wf // 1000 AS HUGEINT) * corr_e6
       |      // 1000000 // 1000000 AS BIGINT)) AS nfact_wf
       |  FROM co),
       |ee AS (
       |  SELECT *,
       |$ee
       |  FROM fb),
       |${chain("_nr", "10000", "ee")},
       |pz_nr AS (
       |  SELECT ${(eeKeep ++ stateColsOf("_nr", Seq(fullM)))
                    .mkString(", ")}
       |  FROM pv${lastLv}c_nr),
       |${chain("_nf", "10000", "pz_nr")},
       |pz_nf AS (
       |  SELECT ${(eeKeep ++ stateColsOf("_nr", Seq(fullM)) ++
                    stateColsOf("_nf", compositeMasks)).mkString(", ")}
       |  FROM pv${lastLv}c_nf),
       |${chain("_wr", "10000", "pz_nf")},
       |pz_wr AS (
       |  SELECT ${(eeKeep ++ stateColsOf("_nr", Seq(fullM)) ++
                    stateColsOf("_nf", compositeMasks) ++
                    stateColsOf("_wr", Seq(fullM))).mkString(", ")}
       |  FROM pv${lastLv}c_wr),
       |${chain("_wf", "10000", "pz_wr")},
       |pw AS MATERIALIZED (
       |  SELECT *,
       |${suffixes.map(winnerCols).mkString(",\n")}
       |  FROM pv${lastLv}c_wf),
       |fins AS (
       |  SELECT p.pred_label, CAST(count(*) AS BIGINT) AS n_rows,
       |    CAST(coalesce(sum(CAST(l.l_quantity AS BIGINT)), 0) AS BIGINT)
       |      AS sum_qty,
       |    CAST(coalesce(sum(CAST(s.s_suppkey AS BIGINT)), 0) AS BIGINT)
       |      AS sum_supp
       |  FROM preds p
       |  JOIN lineitem l
       |    ON CAST(l.l_orderkey AS BIGINT) BETWEEN p.p_lo AND p.p_hi
       |    AND l.l_orderkey % 2 = 1
       |  JOIN orders o ON l.l_orderkey = o.o_orderkey
       |  JOIN customer c ON o.o_custkey = c.c_custkey
       |  JOIN nation nn ON c.c_nationkey = nn.n_nationkey
       |  JOIN supplier s ON nn.n_nationkey = s.s_nationkey
       |    AND s.s_suppkey = l.l_suppkey
       |  GROUP BY 1),
       |afact AS (
       |  SELECT p.pred_label, CAST(count(*) AS BIGINT) AS actual_fact
       |  FROM preds p
       |  JOIN lineitem l
       |    ON CAST(l.l_orderkey AS BIGINT) BETWEEN p.p_lo AND p.p_hi
       |    AND l.l_orderkey % 2 = 1
       |  GROUP BY 1)
       |SELECT t.pred_label, pr.p_lo, pr.p_hi, t.hist_est_e6,
       |  t.est_default_e6, t.correction_e6, t.corr_used_e6, t.n_ticks,
       |  t.drift_ppm, t.stale, t.est_fact_raw, t.est_fact_fb, t.subset,
       |  t.part, t.n_tables, t.est_rows, t.cost, t.op, t.n_shuffle_exch,
       |  t.n_bcast_exch, t.plan, t.raw_winner_part, t.raw_winner_cost,
       |  t.raw_winner_op, t.raw_winner_n_shuffle, t.raw_winner_n_bcast,
       |  t.raw_winner_plan, t.fb_winner_part, t.fb_winner_cost,
       |  t.fb_winner_op, t.fb_winner_n_shuffle, t.fb_winner_n_bcast,
       |  t.fb_winner_plan, t.winners_differ, a.actual_fact, f.n_rows,
       |  f.sum_qty, f.sum_supp, TRUE AS trees_identical
       |FROM (
       |${outRows("narrow", "_nf", "_nr")}
       |  UNION ALL
       |${outRows("wide", "_wf", "_wr")}) t
       |JOIN preds pr USING (pred_label)
       |JOIN fins f USING (pred_label)
       |JOIN afact a USING (pred_label)""".stripMargin
  }

  private val uniDpSql: String = {
    val n = 5
    val edges = Seq((0, 1), (1, 2), (2, 3), (3, 4), (4, 0))
    val classes = Seq(0, 1, 2, 2, 3)
    val classNames = Seq("orderkey", "custkey", "nationkey", "suppkey")
    val rowCols = Seq("nli", "nord", "ncust", "nnat", "nsupp")
    val names = Seq("lineitem", "orders", "customer", "nation", "supplier")
    val Sent = "1000000000000000"
    // the graph topology only: divisors are emitted as SQL columns
    val topo = JoinGraph(Seq.fill(n)(("", 1L)),
      edges.map { case (a, b) => (a, b, 1L) })
    import topo.{connected, induced, inMask => inM}
    def single(m: Int): Boolean = java.lang.Integer.bitCount(m) == 1
    def tz(m: Int): Int = java.lang.Integer.numberOfTrailingZeros(m)
    def estExpr(m: Int): String = {
      def prod(cols: Seq[String]): String =
        (s"CAST(${cols.head} AS HUGEINT)" +: cols.tail).mkString(" * ")
      val num = prod((0 until n).filter(inM(_, m)).map(rowCols))
      val den = induced(m).map(e => s"d$e")
      s"CAST($num // (${prod(den)}) AS BIGINT)"
    }
    def estRef(m: Int): String = if (single(m)) rowCols(tz(m)) else s"e_$m"
    def pid(p: Seq[Int]): String =
      if (p.isEmpty) "none" else p.mkString("_")
    def pLabel(p: Seq[Int]): String =
      if (p.isEmpty) "none" else p.map(classNames).mkString("+")
    val compositeMasks = (3 to (1 << n) - 1)
      .filter(m => java.lang.Integer.bitCount(m) >= 2 && connected(m))
    case class Split(s1: Int, s2: Int, cross: Seq[Int], k: Seq[Int])
    val splitsOf: Map[Int, Seq[Split]] = compositeMasks.map { m =>
      val low = 1 << tz(m)
      val subs = scala.collection.mutable.ArrayBuffer.empty[Int]
      var sub = (m - 1) & m
      while (sub != 0) { subs += sub; sub = (sub - 1) & m }
      m -> subs.reverseIterator.flatMap { s1 =>
        val s2 = m & ~s1
        val ok = (s1 & low) != 0 &&
          (single(s1) || connected(s1)) && (single(s2) || connected(s2))
        if (ok) {
          val cross = edges.indices.filter { e =>
            val (a, b) = edges(e)
            (inM(a, s1) && inM(b, s2)) || (inM(a, s2) && inM(b, s1))
          }
          if (cross.nonEmpty)
            Some(Split(s1, s2, cross, cross.map(classes).distinct.sorted))
          else None
        } else None
      }.toSeq
    }.toMap
    // state sets bottom-up: shuffle Ks plus inherited child states
    val statesOf = scala.collection.mutable.Map[Int, Seq[Seq[Int]]](
      (0 until n).map(i => (1 << i) -> Seq(Seq.empty[Int])): _*)
    compositeMasks.foreach { m =>
      val ss = splitsOf(m).flatMap { sp =>
        sp.k +: (statesOf(sp.s1) ++ statesOf(sp.s2))
      }.distinct.sortBy(_.mkString(","))
      statesOf(m) = ss
    }
    // candidate model mirroring the engine's per-split enumeration:
    // (kind, split, streamState) — kind 0 shuffle, 1 bcast-right
    // (ship s2), 2 bcast-left (ship s1)
    case class UCand(kind: Int, sp: Split, stream: Seq[Int])
    def candsFor(m: Int, p: Seq[Int]): Seq[UCand] =
      splitsOf(m).flatMap { sp =>
        val sh = if (sp.k == p) Seq(UCand(0, sp, Nil)) else Nil
        val br = statesOf(sp.s1).filter(_ == p)
          .map(UCand(1, sp, _))
        val bl = statesOf(sp.s2).filter(_ == p)
          .map(UCand(2, sp, _))
        sh ++ br ++ bl
      }
    def cRef(m: Int, p: Seq[Int], sfx: String): String =
      if (single(m)) "0" else s"c_${m}_${pid(p)}$sfx"
    def pRef(m: Int, p: Seq[Int], sfx: String): String =
      if (single(m)) s"'${names(tz(m))}'" else s"p_${m}_${pid(p)}$sfx"
    def xsRef(m: Int, p: Seq[Int], sfx: String): String =
      if (single(m)) "0" else s"xs_${m}_${pid(p)}$sfx"
    def xbRef(m: Int, p: Seq[Int], sfx: String): String =
      if (single(m)) "0" else s"xb_${m}_${pid(p)}$sfx"
    def cmRef(m: Int, sfx: String): String =
      if (single(m)) "0" else s"cm_$m$sfx"
    def pmRef(m: Int, sfx: String): String =
      if (single(m)) s"'${names(tz(m))}'" else s"pm_$m$sfx"
    def xsmRef(m: Int, sfx: String): String =
      if (single(m)) "0" else s"xsm_$m$sfx"
    def xbmRef(m: Int, sfx: String): String =
      if (single(m)) "0" else s"xbm_$m$sfx"
    def dE(e: String): String =
      s"CAST(CAST($e AS HUGEINT) * 100 // 100 AS BIGINT)"
    // a shuffled side: (cost, plan, sh, bc)
    def shSide(s: Int, k: Seq[Int], sfx: String)
        : (String, String, String, String) = {
      val fresh = s"(${cmRef(s, sfx)} + ${dE(estRef(s))})"
      if (statesOf(s).contains(k)) {
        val (c, p) = (cRef(s, k, sfx), pRef(s, k, sfx))
        (s"least($c, $fresh)",
          s"CASE WHEN $c <= $fresh THEN $p ELSE ${pmRef(s, sfx)} END",
          s"CASE WHEN $c <= $fresh THEN ${xsRef(s, k, sfx)}" +
            s" ELSE ${xsmRef(s, sfx)} + 1 END",
          s"CASE WHEN $c <= $fresh THEN ${xbRef(s, k, sfx)}" +
            s" ELSE ${xbmRef(s, sfx)} END")
      } else
        (fresh, pmRef(s, sfx), s"${xsmRef(s, sfx)} + 1", xbmRef(s, sfx))
    }
    // one candidate: full (cost incl. e_m or sentinel, plan, sh, bc, op)
    def candExprs(m: Int, cd: UCand, sfx: String, lim: String)
        : (String, String, String, String, String) = cd.kind match {
      case 0 =>
        val (lc, lp, lsh, lbc) = shSide(cd.sp.s1, cd.sp.k, sfx)
        val (rc, rp, rsh, rbc) = shSide(cd.sp.s2, cd.sp.k, sfx)
        (s"($lc + $rc + e_$m)", s"'(' || $lp || '*' || $rp || ')'",
          s"($lsh + $rsh)", s"($lbc + $rbc)", "'shuffle'")
      case 1 => // ship s2, stream s1 in state `stream`
        val (s1, s2, p1) = (cd.sp.s1, cd.sp.s2, cd.stream)
        (s"CASE WHEN ${estRef(s2)} <= $lim THEN " +
          s"${cRef(s1, p1, sfx)} + ${cmRef(s2, sfx)} + e_$m + " +
          s"${dE(estRef(s2))} ELSE $Sent END",
          s"'(' || ${pRef(s1, p1, sfx)} || '*' || ${pmRef(s2, sfx)} || ')'",
          s"(${xsRef(s1, p1, sfx)} + ${xsmRef(s2, sfx)})",
          s"(${xbRef(s1, p1, sfx)} + ${xbmRef(s2, sfx)} + 1)",
          "'broadcast_right'")
      case _ => // ship s1, stream s2 in state `stream`
        val (s1, s2, p2) = (cd.sp.s1, cd.sp.s2, cd.stream)
        (s"CASE WHEN ${estRef(s1)} <= $lim THEN " +
          s"${cmRef(s1, sfx)} + ${cRef(s2, p2, sfx)} + e_$m + " +
          s"${dE(estRef(s1))} ELSE $Sent END",
          s"'(' || ${pmRef(s1, sfx)} || '*' || ${pRef(s2, p2, sfx)} || ')'",
          s"(${xsmRef(s1, sfx)} + ${xsRef(s2, p2, sfx)})",
          s"(${xbmRef(s1, sfx)} + ${xbRef(s2, p2, sfx)} + 1)",
          "'broadcast_left'")
    }
    def chain(sfx: String, lim: String, prev0: String): String = {
      val levels = compositeMasks.groupBy(java.lang.Integer.bitCount)
        .toSeq.sortBy(_._1)
      levels.map { case (pc, masks) =>
        val aCols = masks.flatMap { m =>
          statesOf(m).flatMap { p =>
            candsFor(m, p).zipWithIndex.flatMap { case (cd, i) =>
              val (kc, kp, ks, kb, _) = candExprs(m, cd, sfx, lim)
              val t = s"${m}_${pid(p)}_$i$sfx"
              Seq(s"    $kc AS kc_$t", s"    $kp AS kp_$t",
                s"    $ks AS ks_$t", s"    $kb AS kb_$t")
            }
          }
        }
        val bCols = masks.flatMap { m =>
          statesOf(m).flatMap { p =>
            val cs = candsFor(m, p)
            val ids = cs.indices.map(i => s"${m}_${pid(p)}_$i$sfx")
            val kcs = ids.map(t => s"kc_$t")
            def choose(pick: Int => String, name: String): String =
              if (cs.length == 1) s"    ${pick(0)} AS $name"
              else {
                val whens = cs.indices.init.map { i =>
                  val laterLe = (i + 1 until cs.length)
                    .map(j => s"${kcs(i)} <= ${kcs(j)}").mkString(" AND ")
                  s"      WHEN $laterLe THEN ${pick(i)}"
                }
                s"    CASE\n${whens.mkString("\n")}\n      ELSE " +
                  s"${pick(cs.length - 1)} END AS $name"
              }
            Seq(
              s"    CAST(least(${kcs.mkString(", ")}) AS BIGINT)" +
                s" AS c_${m}_${pid(p)}$sfx",
              choose(i => s"kp_${ids(i)}", s"p_${m}_${pid(p)}$sfx"),
              choose(i => s"CAST(ks_${ids(i)} AS BIGINT)",
                s"xs_${m}_${pid(p)}$sfx"),
              choose(i => s"CAST(kb_${ids(i)} AS BIGINT)",
                s"xb_${m}_${pid(p)}$sfx"),
              choose(i => candExprs(m, cs(i), sfx, lim)._5,
                s"op_${m}_${pid(p)}$sfx"))
          }
        }
        val cCols = masks.flatMap { m =>
          val sts = statesOf(m)
          val cvs = sts.map(p => s"c_${m}_${pid(p)}$sfx")
          def choose(pick: Seq[Int] => String, name: String): String =
            if (sts.length == 1) s"    ${pick(sts.head)} AS $name"
            else {
              val whens = sts.indices.init.map { i =>
                val laterLe = (i + 1 until sts.length)
                  .map(j => s"${cvs(i)} <= ${cvs(j)}").mkString(" AND ")
                s"      WHEN $laterLe THEN ${pick(sts(i))}"
              }
              s"    CASE\n${whens.mkString("\n")}\n      ELSE " +
                s"${pick(sts.last)} END AS $name"
            }
          Seq(
            s"    least(${cvs.mkString(", ")}) AS cm_$m$sfx",
            choose(p => s"p_${m}_${pid(p)}$sfx", s"pm_$m$sfx"),
            choose(p => s"xs_${m}_${pid(p)}$sfx", s"xsm_$m$sfx"),
            choose(p => s"xb_${m}_${pid(p)}$sfx", s"xbm_$m$sfx"))
        }
        val prev = if (pc == 2) prev0 else s"uv${pc - 1}c$sfx"
        Seq(
          s"uv${pc}a$sfx AS (\n  SELECT *,\n${aCols.mkString(",\n")}\n  FROM $prev)",
          s"uv${pc}b$sfx AS (\n  SELECT *,\n${bCols.mkString(",\n")}\n  FROM uv${pc}a$sfx)",
          s"uv${pc}c$sfx AS (\n  SELECT *,\n${cCols.mkString(",\n")}\n  FROM uv${pc}b$sfx)")
          .mkString(",\n")
      }.mkString(",\n")
    }
    val fullM = (1 << n) - 1
    def winnerCols(sfx: String): String = {
      val sts = statesOf(fullM)
      val cvs = sts.map(p => s"c_${fullM}_${pid(p)}$sfx")
      def choose(pick: Seq[Int] => String, name: String): String = {
        val whens = sts.indices.init.map { i =>
          val laterLe = (i + 1 until sts.length)
            .map(j => s"${cvs(i)} <= ${cvs(j)}").mkString(" AND ")
          s"      WHEN $laterLe THEN ${pick(sts(i))}"
        }
        s"    CASE\n${whens.mkString("\n")}\n      ELSE " +
          s"${pick(sts.last)} END AS $name"
      }
      Seq(
        choose(p => s"'${pLabel(p)}'", s"uwpart$sfx"),
        s"    least(${cvs.mkString(", ")}) AS uwcost$sfx",
        choose(p => s"op_${fullM}_${pid(p)}$sfx", s"uwop$sfx"),
        choose(p => s"xs_${fullM}_${pid(p)}$sfx", s"uwxs$sfx"),
        choose(p => s"xb_${fullM}_${pid(p)}$sfx", s"uwxb$sfx"),
        choose(p => s"p_${fullM}_${pid(p)}$sfx", s"uwplan$sfx"))
        .mkString(",\n")
    }
    val ee = compositeMasks.map(m => s"    ${estExpr(m)} AS e_$m")
      .mkString(",\n")
    val lastLv = compositeMasks.map(java.lang.Integer.bitCount).max
    val outRows = ((0 until n).map { i =>
      s"""  SELECT '${names(i)}' AS subset, 'none' AS part,
         |    CAST(1 AS BIGINT) AS n_tables,
         |    ${rowCols(i)} AS est_rows, CAST(0 AS BIGINT) AS cost,
         |    'leaf' AS op, CAST(0 AS BIGINT) AS n_shuffle_exch,
         |    CAST(0 AS BIGINT) AS n_bcast_exch, '${names(i)}' AS plan
         |  FROM uw""".stripMargin
    } ++ compositeMasks.flatMap { m =>
      val nm = (0 until n).filter(inM(_, m)).map(names).mkString(",")
      statesOf(m).map { p =>
        s"""  SELECT '$nm', '${pLabel(p)}',
           |    CAST(${java.lang.Integer.bitCount(m)} AS BIGINT),
           |    e_$m, c_${m}_${pid(p)}_u, op_${m}_${pid(p)}_u,
           |    CAST(xs_${m}_${pid(p)}_u AS BIGINT),
           |    CAST(xb_${m}_${pid(p)}_u AS BIGINT), p_${m}_${pid(p)}_u
           |  FROM uw""".stripMargin
      }
    }).mkString("\n  UNION ALL\n")
    s"""WITH st AS (
       |  SELECT (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS nli,
       |    (SELECT CAST(count(*) AS BIGINT) FROM orders) AS nord,
       |    (SELECT CAST(count(*) AS BIGINT) FROM customer) AS ncust,
       |    (SELECT CAST(count(*) AS BIGINT) FROM nation) AS nnat,
       |    (SELECT CAST(count(*) AS BIGINT) FROM supplier) AS nsupp,
       |    greatest(
       |      (SELECT count(DISTINCT l_orderkey) FROM lineitem),
       |      (SELECT count(DISTINCT o_orderkey) FROM orders)) AS d0,
       |    greatest(
       |      (SELECT count(DISTINCT o_custkey) FROM orders),
       |      (SELECT count(DISTINCT c_custkey) FROM customer)) AS d1,
       |    greatest(
       |      (SELECT count(DISTINCT c_nationkey) FROM customer),
       |      (SELECT count(DISTINCT n_nationkey) FROM nation)) AS d2,
       |    greatest(
       |      (SELECT count(DISTINCT n_nationkey) FROM nation),
       |      (SELECT count(DISTINCT s_nationkey) FROM supplier)) AS d3,
       |    greatest(
       |      (SELECT count(DISTINCT s_suppkey) FROM supplier),
       |      (SELECT count(DISTINCT l_suppkey) FROM lineitem)) AS d4),
       |ee AS (
       |  SELECT *,
       |$ee
       |  FROM st),
       |${chain("_u", "10000", "ee")},
       |${chain("_v", "-1", s"uv${lastLv}c_u")},
       |uw AS MATERIALIZED (
       |  SELECT *,
       |${winnerCols("_u")},
       |${winnerCols("_v")}
       |  FROM uv${lastLv}c_v),
       |fin AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
       |    CAST(coalesce(sum(CAST(l_quantity AS BIGINT)), 0) AS BIGINT)
       |      AS sum_qty,
       |    CAST(coalesce(sum(CAST(s_suppkey AS BIGINT)), 0) AS BIGINT)
       |      AS sum_supp
       |  FROM lineitem l
       |  JOIN orders o ON l.l_orderkey = o.o_orderkey
       |  JOIN customer c ON o.o_custkey = c.c_custkey
       |  JOIN nation nn ON c.c_nationkey = nn.n_nationkey
       |  JOIN supplier s ON nn.n_nationkey = s.s_nationkey
       |    AND s.s_suppkey = l.l_suppkey)
       |SELECT t.subset, t.part, t.n_tables, t.est_rows, t.cost, t.op,
       |  t.n_shuffle_exch, t.n_bcast_exch, t.plan,
       |  uw.uwpart_u AS winner_part, uw.uwcost_u AS winner_cost,
       |  uw.uwop_u AS winner_op,
       |  CAST(uw.uwxs_u AS BIGINT) AS winner_n_shuffle,
       |  CAST(uw.uwxb_u AS BIGINT) AS winner_n_bcast,
       |  uw.uwplan_u AS winner_plan,
       |  uw.uwcost_v AS exch_winner_cost,
       |  uw.uwplan_v AS exch_winner_plan,
       |  uw.uwplan_u <> uw.uwplan_v AS winners_differ,
       |  fin.n_rows, fin.sum_qty, fin.sum_supp,
       |  TRUE AS trees_identical
       |FROM (
       |$outRows) t, uw, fin""".stripMargin
  }

  /** q251's oracle, GENERATED by replaying the engine's
    * `selingerPhysicalDp` symbolically over the q245 star — the
    * cyclicDpSql discipline applied to the operator-aware enumeration.
    * For every connected subset the generator emits the
    * single-division estimate; per candidate cut edge, the exchange
    * CASE (least side ≤ lim → broadcast ships the small side, else
    * shuffle ships both — the engine's threshold rule verbatim) and
    * the candidate total cost c_left + c_right + x·β//100 in HUGEINT;
    * then the first-minimal CASE chains choosing cost/plan/operator/
    * exchanged in ascending-cut-edge order. The chain instantiates
    * TWICE — β = 0 (pure C_out, the q245 DP cell for cell) and the
    * engine's default β = 100 (PhysBetaE2) with lim = 10000
    * (PhysBroadcastLimitRows) — and the output joins both, so
    * `plans_differ` and every per-cell annotation re-derive with zero
    * transcription risk. */
  private val physStarDpSql: String = {
    val n = 5
    val edges = Seq((0, 1), (1, 2), (0, 3), (0, 4))
    val rowCols = Seq("nli", "nord", "ncust", "npart", "nsupp")
    val names = Seq("lineitem", "orders", "customer", "part", "supplier")
    // the graph topology only: divisors are emitted as SQL columns
    val topo = JoinGraph(Seq.fill(n)(("", 1L)),
      edges.map { case (a, b) => (a, b, 1L) })
    import topo.{component, induced, inMask => inM}
    // composite connected subsets only
    def connected(m: Int): Boolean =
      java.lang.Integer.bitCount(m) >= 2 && topo.connected(m)
    def tz(m: Int): Int = java.lang.Integer.numberOfTrailingZeros(m)
    def single(m: Int): Boolean = java.lang.Integer.bitCount(m) == 1
    def estRef(m: Int): String = if (single(m)) rowCols(tz(m)) else s"e_$m"
    def costRef(m: Int, sfx: String): String =
      if (single(m)) "0" else s"c_$m$sfx"
    def planRef(m: Int, sfx: String): String =
      if (single(m)) s"'${names(tz(m))}'" else s"p_$m$sfx"
    def estExpr(m: Int): String = {
      def prod(cols: Seq[String]): String =
        (s"CAST(${cols.head} AS HUGEINT)" +: cols.tail).mkString(" * ")
      val num = prod((0 until n).filter(inM(_, m)).map(rowCols))
      val den = induced(m).map(e => s"d$e")
      s"CAST($num // (${prod(den)}) AS BIGINT)"
    }
    val compositeMasks = (3 to (1 << n) - 1).filter(connected)
    // per-mask candidates in ascending cut-edge order, each with the
    // engine's (left, right) component ordering
    def cands(m: Int): Seq[(Int, Int, Int)] = induced(m).map { e =>
      val compA = component(edges(e)._1, m, e)
      val compB = m & ~compA
      if (tz(compA) < tz(compB)) (e, compA, compB) else (e, compB, compA)
    }
    val ee = compositeMasks.map(m => s"    ${estExpr(m)} AS e_$m")
      .mkString(",\n")
    // β-independent candidate columns: exchanged rows + operator
    val xo = compositeMasks.flatMap { m =>
      cands(m).zipWithIndex.flatMap { case ((_, l, r), i) =>
        val (el, er) = (estRef(l), estRef(r))
        Seq(
          s"    CASE WHEN least($el, $er) <= lim THEN least($el, $er)" +
            s" ELSE $el + $er END AS x_${m}_$i",
          s"    CASE WHEN least($el, $er) <= lim THEN 'broadcast'" +
            s" ELSE 'shuffle' END AS o_${m}_$i")
      }
    }.mkString(",\n")
    // one DP chain per β instance: level CTEs by subset size
    def chain(sfx: String, beta: Long): String = {
      val levels = compositeMasks.groupBy(java.lang.Integer.bitCount)
        .toSeq.sortBy(_._1)
      levels.map { case (pc, masks) =>
        val cols = masks.flatMap { m =>
          val cs = cands(m)
          def kExpr(i: Int): String = {
            val (_, l, r) = cs(i)
            s"(${costRef(l, sfx)} + ${costRef(r, sfx)} + " +
              s"CAST(CAST(x_${m}_$i AS HUGEINT) * $beta // 100 AS BIGINT))"
          }
          val ks = cs.indices.map(kExpr)
          val costCol =
            s"    CAST(e_$m + least(${ks.mkString(", ")}) AS BIGINT)" +
              s" AS c_$m$sfx"
          def chooseCol(pick: Int => String, name: String): String =
            if (cs.length == 1) s"    ${pick(0)} AS $name"
            else {
              val whens = cs.indices.init.map { i =>
                val laterLe = (i + 1 until cs.length)
                  .map(j => s"${ks(i)} <= ${ks(j)}").mkString(" AND ")
                s"      WHEN $laterLe THEN ${pick(i)}"
              }
              s"    CASE\n${whens.mkString("\n")}\n      ELSE " +
                s"${pick(cs.length - 1)} END AS $name"
            }
          Seq(
            costCol,
            chooseCol(i => {
              val (_, l, r) = cs(i)
              s"'(' || ${planRef(l, sfx)} || '*' || ${planRef(r, sfx)} || ')'"
            }, s"p_$m$sfx"),
            chooseCol(i => s"o_${m}_$i", s"op_$m$sfx"),
            chooseCol(i => s"x_${m}_$i", s"xc_$m$sfx"))
        }
        val prev = if (pc == 2) "px" else s"lv${pc - 1}$sfx"
        s"lv$pc$sfx AS (\n  SELECT *,\n${cols.mkString(",\n")}\n  FROM $prev)"
      }.mkString(",\n")
    }
    val fullM = (1 << n) - 1
    val outRows = ((0 until n).map { i =>
      s"""  SELECT '${names(i)}' AS subset, CAST(1 AS BIGINT) AS n_tables,
         |    a.${rowCols(i)} AS est_rows, CAST(0 AS BIGINT) AS cout_cost,
         |    '${names(i)}' AS cout_plan, CAST(0 AS BIGINT) AS phys_cost,
         |    '${names(i)}' AS phys_plan, 'leaf' AS phys_op,
         |    CAST(0 AS BIGINT) AS phys_exchanged,
         |    a.p_${fullM}_c <> b.p_${fullM}_p AS plans_differ
         |  FROM lvc a, lvp b""".stripMargin
    } ++ compositeMasks.map { m =>
      val nm = (0 until n).filter(inM(_, m)).map(names).mkString(",")
      s"""  SELECT '$nm', ${java.lang.Integer.bitCount(m)}, a.e_$m,
         |    a.c_${m}_c, a.p_${m}_c, b.c_${m}_p, b.p_${m}_p, b.op_${m}_p,
         |    b.xc_${m}_p, a.p_${fullM}_c <> b.p_${fullM}_p
         |  FROM lvc a, lvp b""".stripMargin
    }).mkString("\n  UNION ALL\n")
    s"""WITH stP AS (
       |  SELECT (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS nli,
       |    (SELECT CAST(count(*) AS BIGINT) FROM orders) AS nord,
       |    (SELECT CAST(count(*) AS BIGINT) FROM customer) AS ncust,
       |    (SELECT CAST(count(*) AS BIGINT) FROM part) AS npart,
       |    (SELECT CAST(count(*) AS BIGINT) FROM supplier) AS nsupp,
       |    greatest(
       |      (SELECT count(DISTINCT l_orderkey) FROM lineitem),
       |      (SELECT count(DISTINCT o_orderkey) FROM orders)) AS d0,
       |    greatest(
       |      (SELECT count(DISTINCT o_custkey) FROM orders),
       |      (SELECT count(DISTINCT c_custkey) FROM customer)) AS d1,
       |    greatest(
       |      (SELECT count(DISTINCT l_partkey) FROM lineitem),
       |      (SELECT count(DISTINCT p_partkey) FROM part)) AS d2,
       |    greatest(
       |      (SELECT count(DISTINCT l_suppkey) FROM lineitem),
       |      (SELECT count(DISTINCT s_suppkey) FROM supplier)) AS d3,
       |    CAST(10000 AS BIGINT) AS lim),
       |pe AS (
       |  SELECT *,
       |$ee
       |  FROM stP),
       |px AS (
       |  SELECT *,
       |$xo
       |  FROM pe),
       |${chain("_c", 0L)},
       |lvc AS MATERIALIZED (SELECT * FROM lv5_c),
       |${chain("_p", 100L)},
       |lvp AS MATERIALIZED (SELECT * FROM lv5_p),
       |fin AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
       |    CAST(coalesce(sum(CAST(l_quantity AS BIGINT)), 0) AS BIGINT)
       |      AS sum_qty,
       |    CAST(coalesce(sum(CAST(s_suppkey AS BIGINT)), 0) AS BIGINT)
       |      AS sum_supp
       |  FROM lineitem l
       |  JOIN orders o ON l.l_orderkey = o.o_orderkey
       |  JOIN customer c ON o.o_custkey = c.c_custkey
       |  JOIN part p ON l.l_partkey = p.p_partkey
       |  JOIN supplier s ON l.l_suppkey = s.s_suppkey)
       |SELECT t.subset, t.n_tables, t.est_rows, t.cout_cost, t.cout_plan,
       |  t.phys_cost, t.phys_plan, t.phys_op, t.phys_exchanged,
       |  t.plans_differ, fin.n_rows, fin.sum_qty, fin.sum_supp,
       |  TRUE AS trees_identical
       |FROM (
       |$outRows) t, fin""".stripMargin
  }

  /** q63's oracle: the ENGINE's winnowing replayed end-to-end in DuckDB
    * integer SQL — the k=16 polynomial rolling hash (base 1000003,
    * wrapping 64-bit) computed positionally as Σ ord(cᵢ₊ₜ)·B^(15−t) in
    * HUGEINT mod 2⁶⁴ then reinterpreted SIGNED (Scala Long order is
    * signed order), the w=8 sliding window selecting the minimum with
    * RIGHTMOST ties (the scan's `<=` keeps the later index → ORDER BY s
    * ASC, i DESC), the n ≤ w global-min degenerate case, per-doc
    * DISTINCT fingerprints, and the exact pair machinery verbatim
    * (df-capped candidates, hot correction, threshold pushdown on both
    * sizes, round-4 Jaccard). Matches the engine row-for-row at
    * sf0.001 and sf0.01.
    *
    * BMP/single-code-unit assumption (declared): the engine's
    * `winnow()` hashes UTF-16 CODE UNITS via `charAt`, while this
    * oracle's `ord(substr(...))` hashes CODE POINTS with code-point
    * indexing — the two agree exactly on BMP text (every character one
    * code unit = one code point) and diverge on supplementary-plane
    * characters, where a surrogate pair is two engine positions but one
    * oracle position. The driver's `documents` fixture is ASCII, where
    * the encodings coincide; a non-BMP corpus would need the oracle's
    * hash re-expressed over code units before this row's replay claim
    * transfers. */
  private val winnowingPairsSql: String = {
    val B = 1000003L
    // B^0..B^15 in wrapping Long arithmetic ≡ mod 2⁶⁴; emitted as
    // UNSIGNED decimal literals for the HUGEINT domain
    val pows = Iterator.iterate(1L)(_ * B).take(16).toArray.reverse
    val powVals = pows.zipWithIndex.map { case (p, t) =>
      s"($t, CAST(${java.lang.Long.toUnsignedString(p)} AS HUGEINT))"
    }.mkString(", ")
    s"""WITH docs AS (
       |  SELECT doc_id, text, length(text) AS len FROM documents),
       |powers(t, p) AS (VALUES $powVals),
       |pos AS (
       |  SELECT doc_id, text, len - 15 AS n,
       |    unnest(generate_series(1, len - 15)) AS i
       |  FROM docs WHERE len >= 16),
       |h AS (
       |  SELECT doc_id, n, i,
       |    CAST(sum(CAST(ord(substr(text, CAST(i + pw.t AS INTEGER), 1))
       |        AS HUGEINT) * pw.p)
       |      % CAST(18446744073709551616 AS HUGEINT) AS HUGEINT) AS hu
       |  FROM pos, powers pw
       |  GROUP BY doc_id, n, i),
       |signed AS (
       |  SELECT doc_id, n, i,
       |    CAST(CASE WHEN hu >= CAST(9223372036854775808 AS HUGEINT)
       |      THEN hu - CAST(18446744073709551616 AS HUGEINT) ELSE hu END
       |      AS BIGINT) AS s
       |  FROM h),
       |selw AS (
       |  SELECT doc_id, s FROM (
       |    SELECT sg.doc_id, sg.s,
       |      row_number() OVER (PARTITION BY sg.doc_id, d.j
       |        ORDER BY sg.s ASC, sg.i DESC) AS rn
       |    FROM (SELECT doc_id, unnest(generate_series(1, n - 7)) AS j
       |          FROM (SELECT DISTINCT doc_id, n FROM signed
       |                WHERE n > 8)) d
       |      JOIN signed sg ON sg.doc_id = d.doc_id
       |        AND sg.i BETWEEN d.j AND d.j + 7)
       |  WHERE rn = 1),
       |selg AS (
       |  SELECT doc_id, min(s) AS s FROM signed WHERE n <= 8
       |  GROUP BY doc_id),
       |fps AS (
       |  SELECT DISTINCT doc_id, s AS fp FROM selw
       |  UNION
       |  SELECT DISTINCT doc_id, s FROM selg),
       |dfq AS (SELECT fp, count(*) AS df FROM fps GROUP BY 1),
       |rare AS (
       |  SELECT f.doc_id, f.fp FROM fps f JOIN dfq USING (fp)
       |  WHERE df <= 1000),
       |sizes AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS nsz FROM fps
       |  GROUP BY 1),
       |cand AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST(count(*) AS BIGINT) AS inter_rare
       |  FROM rare a JOIN rare b USING (fp)
       |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
       |hotf AS (
       |  SELECT f.doc_id, f.fp FROM fps f JOIN dfq USING (fp)
       |  WHERE df > 1000),
       |interhot AS (
       |  SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS inter_hot
       |  FROM cand c
       |  JOIN hotf x ON x.doc_id = c.doc_a
       |  JOIN hotf y ON y.doc_id = c.doc_b AND y.fp = x.fp
       |  GROUP BY 1, 2),
       |fullj AS (
       |  SELECT c.doc_a, c.doc_b,
       |    c.inter_rare + coalesce(ih.inter_hot, 0) AS inter,
       |    sa.nsz AS na, sb.nsz AS nb
       |  FROM cand c
       |  LEFT JOIN interhot ih USING (doc_a, doc_b)
       |  JOIN sizes sa ON sa.doc_id = c.doc_a
       |  JOIN sizes sb ON sb.doc_id = c.doc_b)
       |SELECT doc_a, doc_b,
       |  round(CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE), 4)
       |    AS fp_jaccard
       |FROM fullj
       |WHERE CAST(inter AS DOUBLE) >= na * 0.5
       |  AND CAST(inter AS DOUBLE) >= nb * 0.5
       |  AND round(CAST(inter AS DOUBLE)
       |    / CAST(na + nb - inter AS DOUBLE), 4) >= 0.5""".stripMargin
  }

  /** q207's oracle, per audited lineitem column: equi-depth histogram by
    * row-mass rank over the value grain, uniform-within-bucket ppm
    * interpolation, exact predicate counts — all `//` integer math, the
    * engine's arithmetic verbatim (nBuckets=16, nPreds=6). */
  private def selEstSqlFor(c: String): String =
    s"""SELECT * FROM (
      |WITH vals AS (
      |  SELECT CAST(floor($c) AS BIGINT) AS v, count(*) AS cnt
      |  FROM lineitem GROUP BY 1),
      |cum AS (
      |  SELECT v, cnt, sum(cnt) OVER () AS n,
      |         sum(cnt) OVER (ORDER BY v) AS cum
      |  FROM vals),
      |buckets AS (
      |  SELECT ((cum - cnt) * 16) // n AS bucket,
      |         min(v) AS b_lo, max(v) AS b_hi, sum(cnt) AS b_cnt
      |  FROM cum GROUP BY 1),
      |bounds AS (
      |  SELECT CAST(min(floor($c)) AS BIGINT) AS lo,
      |         CAST(max(floor($c)) AS BIGINT) AS hi
      |  FROM lineitem),
      |preds AS (
      |  SELECT j AS pred_id,
      |         lo + (j * (hi - lo + 1)) // 8 AS p_lo,
      |         lo + (j * (hi - lo + 1)) // 8 + (hi - lo + 1) // 4 AS p_hi
      |  FROM range(6) t(j), bounds),
      |est AS (
      |  SELECT pred_id, p_lo, p_hi,
      |         sum(b_cnt * (((least(p_hi, b_hi) - greatest(p_lo, b_lo) + 1)
      |                        * 1000000) // (b_hi - b_lo + 1))) AS est_rows_e6
      |  FROM preds JOIN buckets ON b_hi >= p_lo AND b_lo <= p_hi
      |  GROUP BY 1, 2, 3),
      |actual AS (
      |  SELECT p.pred_id, count(l.v) AS actual_rows
      |  FROM preds p LEFT JOIN (SELECT CAST(floor($c) AS BIGINT) AS v FROM lineitem) l
      |    ON l.v BETWEEN p.p_lo AND p.p_hi
      |  GROUP BY 1)
      |SELECT '$c' AS column_name, e.pred_id, e.p_lo, e.p_hi,
      |  CAST(a.actual_rows AS BIGINT) AS actual_rows,
      |  CAST(e.est_rows_e6 AS BIGINT) AS est_rows_e6,
      |  CAST(CASE WHEN a.actual_rows > 0
      |    THEN abs(e.est_rows_e6 - a.actual_rows * 1000000) // a.actual_rows
      |    ELSE e.est_rows_e6 END AS BIGINT) AS err_ppm
      |FROM est e JOIN actual a USING (pred_id))""".stripMargin

  /** q208's oracle, per audited join: |A|·|B| // max(ndv) vs the exact
    * cardinality Σ_k cntA(k)·cntB(k) — key-grain, never the join. */
  private def joinCardSqlFor(jn: String, ta: String, ka: String,
                             tb: String, kb: String): String =
    s"""SELECT * FROM (
      |WITH ca AS (SELECT CAST($ka AS BIGINT) AS k, count(*) AS cnt_a
      |            FROM $ta GROUP BY 1),
      |cb AS (SELECT CAST($kb AS BIGINT) AS k, count(*) AS cnt_b
      |       FROM $tb GROUP BY 1),
      |stats AS (
      |  SELECT (SELECT CAST(sum(cnt_a) AS BIGINT) FROM ca) AS n_left,
      |         (SELECT CAST(count(*) AS BIGINT) FROM ca) AS ndv_left,
      |         (SELECT CAST(sum(cnt_b) AS BIGINT) FROM cb) AS n_right,
      |         (SELECT CAST(count(*) AS BIGINT) FROM cb) AS ndv_right),
      |ex AS (SELECT CAST(coalesce(sum(cnt_a * cnt_b), 0) AS BIGINT)
      |         AS actual_rows
      |       FROM ca JOIN cb USING (k))
      |SELECT '$jn' AS join_name, n_left, n_right, ndv_left, ndv_right,
      |  CAST((n_left * n_right) // greatest(ndv_left, ndv_right) AS BIGINT)
      |    AS est_rows,
      |  actual_rows,
      |  CAST(CASE WHEN actual_rows > 0
      |    THEN (abs((n_left * n_right) // greatest(ndv_left, ndv_right)
      |              - actual_rows) * 1000000) // actual_rows
      |    ELSE ((n_left * n_right) // greatest(ndv_left, ndv_right))
      |         * 1000000 END AS BIGINT) AS err_ppm
      |FROM stats, ex)""".stripMargin

  /** Oracle SQL templated on the fixture dir the Spark side reads: the one
    * path-dependent oracle (q40's read_blob) then always points at the same
    * file as the Spark query, whatever sf the driver verifies at. Verify
    * emits oracleSqlFor(its sfDir); the no-arg `oracleSql` keeps the driver
    * contract with the documented sf0.01 default.
    */
  def oracleSqlFor(sfDir: String): Map[String, String] = Map(
    "q01_dup_gate" ->
      "SELECT l_orderkey, count(*) AS cnt FROM lineitem GROUP BY l_orderkey HAVING count(*) > 1",
    "q02_agg_pricing" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
        | round(sum(l_extendedprice), 2) AS sum_base_price,
        | round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        | round(avg(l_quantity), 6) AS avg_qty, round(avg(l_discount), 6) AS avg_disc,
        | count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q03_join_revenue" ->
      """SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        | count(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name <> 'EUROPE' AND o_orderstatus <> 'P'
        |GROUP BY n_name""".stripMargin,
    "q04_semi_join" ->
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'F')""".stripMargin,
    "q05_anti_join" ->
      """SELECT c_custkey, c_acctbal FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin,
    "q06_union_shards" ->
      """SELECT o_orderstatus, count(*) AS cnt, round(sum(o_totalprice), 2) AS total
        |FROM (SELECT * FROM orders WHERE o_orderstatus = 'O'
        |      UNION ALL SELECT * FROM orders WHERE o_orderstatus <> 'O') u
        |GROUP BY o_orderstatus""".stripMargin,
    "q07_intersect" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'""".stripMargin,
    "q08_except" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'""".stripMargin,
    "q09_distinct_pairs" ->
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
    "q10_distinct_stats" ->
      """SELECT l_returnflag, count(DISTINCT l_orderkey) AS exact_orders,
        | count(DISTINCT l_partkey) AS exact_parts, count(*) AS cnt,
        | true AS approx_within_tol
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q11_topk_window" ->
      """SELECT o_orderpriority, rn, o_orderkey, o_totalprice FROM (
        | SELECT o_orderpriority, o_orderkey, o_totalprice,
        |  row_number() OVER (PARTITION BY o_orderpriority
        |                     ORDER BY o_totalprice DESC, o_orderkey) AS rn
        | FROM orders) t
        |WHERE rn <= 3""".stripMargin,
    "q12_orderby_limit" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,
    "q13_project_scalar" ->
      """SELECT l_orderkey, l_linenumber, CAST(l_quantity AS INTEGER) AS qty_int,
        | CAST(round(CAST(l_extendedprice AS DECIMAL(12,2))
        |   * (1 - CAST(l_discount AS DECIMAL(12,2)))
        |   * (1 + CAST(l_tax AS DECIMAL(12,2))), 2) AS DOUBLE) AS charged,
        | (l_discount > 0.05) AS high_discount
        |FROM lineitem WHERE l_quantity >= 30.0 AND l_returnflag = 'R'""".stripMargin,
    "q14_project_strings" ->
      """SELECT doc_id,
        | 'corpus/' || source || '/' || CAST(doc_id AS VARCHAR) || '.txt' AS path,
        | replace('corpus/' || source || '/' || CAST(doc_id AS VARCHAR) || '.txt', '/', '_') AS flat_name,
        | CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        | CAST(length(text) AS BIGINT) AS n_chars_computed,
        | upper(lang) AS lang_uc
        |FROM documents""".stripMargin,
    "q15_dropdup" ->
      "SELECT DISTINCT o_custkey, o_orderstatus FROM orders",
    "q16_exact_dedup" ->
      """SELECT content_hash, count(*) AS cnt, min(doc_id) AS keep_doc_id
        |FROM (SELECT sha256(text) AS content_hash, doc_id
        |      FROM (SELECT * FROM documents UNION ALL SELECT * FROM documents) u) t
        |GROUP BY content_hash HAVING count(*) > 1""".stripMargin,
    "q17_ngram_jaccard" -> jaccardSql,
    "q18_minhash_lsh" -> jaccardSql,
    "q20_embed_neardup" -> embedNearDupSql,
    "q21_cosine_topk" -> cosineTopKSql,
    // the q154 discipline on the trained-float routes: exact neighbor
    // sets re-derived from the q21 chain, the routed engine's per-query
    // recall floor pinned TRUE (floors = measured fixture minima − 1
    // neighbor; BENCH_NOTES.md, all three sf scales)
    "q198_ivf_recall_audit" -> recallAuditSql,
    "q199_pq_recall_audit" -> recallAuditSql,
    "q200_lsh_recall_audit" -> recallAuditSql,
    "q201_ivf_lifecycle_recall" -> recallAuditSql,
    "q202_pq_lifecycle_recall" -> recallAuditSql,
    "q203_ivf_rebuild_recall" -> recallAuditSql,
    "q204_pq_rebuild_recall" -> recallAuditSql,
    // Z-order clustering is exact integer arithmetic end-to-end, so the
    // oracle re-derives bucket ids, the Morton code, file assignment,
    // zone maps, and the probe skip counts from the raw table (bits=4,
    // fileBits=4, nProbes=8 — the engine defaults)
    "q205_zorder_skipping" ->
      """WITH bounds AS (
        |  SELECT CAST(min(l_partkey) AS BIGINT) AS pmin,
        |         CAST(max(l_partkey) AS BIGINT) AS pmax,
        |         CAST(min(l_suppkey) AS BIGINT) AS smin,
        |         CAST(max(l_suppkey) AS BIGINT) AS smax
        |  FROM lineitem),
        |coded AS (
        |  SELECT l_partkey AS pk, l_suppkey AS sk,
        |         ((l_partkey - pmin) * 16) // (pmax - pmin + 1) AS bp,
        |         ((l_suppkey - smin) * 16) // (smax - smin + 1) AS bs
        |  FROM lineitem, bounds),
        |z AS (
        |  SELECT pk, sk, bp AS file_lin,
        |         ( (((bp >> 0) & 1) << 1) | (((bs >> 0) & 1) << 0)
        |         | (((bp >> 1) & 1) << 3) | (((bs >> 1) & 1) << 2)
        |         | (((bp >> 2) & 1) << 5) | (((bs >> 2) & 1) << 4)
        |         | (((bp >> 3) & 1) << 7) | (((bs >> 3) & 1) << 6) ) >> 4 AS file_z
        |  FROM coded),
        |assigned AS (
        |  SELECT 'linear' AS layout, file_lin AS file_id, pk, sk FROM z
        |  UNION ALL
        |  SELECT 'zorder' AS layout, file_z AS file_id, pk, sk FROM z),
        |zones AS (
        |  SELECT layout, file_id, min(pk) AS p_lo, max(pk) AS p_hi,
        |         min(sk) AS s_lo, max(sk) AS s_hi
        |  FROM assigned GROUP BY 1, 2),
        |zone_dims AS (
        |  SELECT layout, 'partkey' AS dim, p_lo AS f_lo, p_hi AS f_hi FROM zones
        |  UNION ALL
        |  SELECT layout, 'suppkey' AS dim, s_lo AS f_lo, s_hi AS f_hi FROM zones),
        |probes AS (
        |  SELECT 'partkey' AS dim,
        |         pmin + ((j * 2 + 1) * (pmax - pmin + 1)) // 16 AS probe_v
        |  FROM range(8) t(j), bounds
        |  UNION ALL
        |  SELECT 'suppkey' AS dim,
        |         smin + ((j * 2 + 1) * (smax - smin + 1)) // 16 AS probe_v
        |  FROM range(8) t(j), bounds)
        |SELECT layout, dim,
        |  CAST(count(*) / 8 AS BIGINT) AS n_files,
        |  CAST(count(*) AS BIGINT) AS probe_total,
        |  CAST(sum(CASE WHEN probe_v BETWEEN f_lo AND f_hi THEN 1 ELSE 0 END)
        |    AS BIGINT) AS probe_hits,
        |  CAST(count(*) - sum(CASE WHEN probe_v BETWEEN f_lo AND f_hi
        |    THEN 1 ELSE 0 END) AS BIGINT) AS files_skipped,
        |  CAST(sum(f_hi - f_lo + 1) // 8 AS BIGINT) AS span_sum
        |FROM zone_dims JOIN probes USING (dim)
        |GROUP BY 1, 2""".stripMargin,
    // the Bloom index is exact integer hash math (multiplicative
    // constants, high-bit shifts — Knuth's scheme), so the oracle re-derives the
    // per-file position sets, the probe decisions, and the
    // false-positive gap from the raw table (nFiles=64, mBits=65536,
    // kHashes=3, nProbes=8 — the engine defaults)
    "q206_bloom_skipping" ->
      """WITH b AS (
        |  SELECT CAST(min(l_orderkey) AS BIGINT) AS omin,
        |         CAST(max(l_orderkey) AS BIGINT) AS omax,
        |         CAST(max(l_partkey) AS BIGINT) AS pmax
        |  FROM lineitem),
        |rows_f AS (
        |  SELECT ((l_orderkey - omin) * 64) // (omax - omin + 1) AS file_id,
        |         l_partkey AS pk
        |  FROM lineitem, b),
        |idx AS (
        |  SELECT DISTINCT file_id, pos FROM (
        |    SELECT file_id,
        |           unnest([((pk * 2654435761) & 2147483647) >> 15,
        |                   ((pk * 2246822519) & 2147483647) >> 15,
        |                   ((pk * 3266489917) & 2147483647) >> 15]) AS pos
        |    FROM rows_f) t),
        |dk AS (SELECT DISTINCT pk FROM rows_f),
        |nk AS (SELECT CAST(count(*) AS BIGINT) AS n FROM dk),
        |present AS (
        |  SELECT pk AS probe_key, TRUE AS is_present FROM (
        |    SELECT pk, row_number() OVER (ORDER BY pk) AS rn FROM dk) r
        |  WHERE rn IN (SELECT ((2 * j + 1) * n) // 16 + 1
        |               FROM range(8) t(j), nk)),
        |absent AS (
        |  SELECT pmax + j + 1 AS probe_key, FALSE AS is_present
        |  FROM range(8) t(j), b),
        |probes AS (SELECT * FROM present UNION ALL SELECT * FROM absent),
        |ppos AS (
        |  SELECT DISTINCT probe_key, pos FROM (
        |    SELECT probe_key,
        |           unnest([((probe_key * 2654435761) & 2147483647) >> 15,
        |                   ((probe_key * 2246822519) & 2147483647) >> 15,
        |                   ((probe_key * 3266489917) & 2147483647) >> 15]) AS pos
        |    FROM probes) t),
        |npos AS (SELECT probe_key, count(*) AS n_pos FROM ppos GROUP BY 1),
        |bh AS (
        |  SELECT probe_key, CAST(count(*) AS BIGINT) AS n_files_bloom FROM (
        |    SELECT i.file_id, p.probe_key, count(*) AS hit_pos
        |    FROM ppos p JOIN idx i USING (pos) GROUP BY 1, 2) h
        |  JOIN npos USING (probe_key) WHERE hit_pos = n_pos GROUP BY 1),
        |eh AS (
        |  SELECT probe_key,
        |         CAST(count(DISTINCT file_id) AS BIGINT) AS n_files_exact
        |  FROM rows_f JOIN probes ON pk = probe_key GROUP BY 1),
        |nf AS (SELECT CAST(count(DISTINCT file_id) AS BIGINT) AS n_files
        |       FROM rows_f)
        |SELECT probe_key, is_present,
        |  CAST(coalesce(n_files_exact, 0) AS BIGINT) AS n_files_exact,
        |  CAST(coalesce(n_files_bloom, 0) AS BIGINT) AS n_files_bloom,
        |  CAST(coalesce(n_files_bloom, 0) - coalesce(n_files_exact, 0)
        |    AS BIGINT) AS false_pos,
        |  n_files
        |FROM probes LEFT JOIN eh USING (probe_key)
        |  LEFT JOIN bh USING (probe_key), nf""".stripMargin,
    // the estimator and the ground truth are both exact integer
    // arithmetic (scaled ppm via //), so the oracle replays the
    // histogram build, the interpolation, and the error — per column
    // (nBuckets=16, nPreds=6, the engine defaults)
    "q207_selectivity_estimation" ->
      Seq("l_quantity", "l_partkey").map(selEstSqlFor).mkString(
        "", "\nUNION ALL\n", ""),
    // the layout is pure integer math (Morton buckets, orderkey-bucket
    // tail, ok%5 split), so the oracle re-derives both phases' zone
    // sets, the opened counts, and the invariant answer
    "q220_zorder_optimize" ->
      """WITH b AS (
        |  SELECT CAST(min(l_partkey) AS BIGINT) AS pmin,
        |         CAST(max(l_partkey) AS BIGINT) AS pmax,
        |         CAST(min(l_suppkey) AS BIGINT) AS smin,
        |         CAST(max(l_suppkey) AS BIGINT) AS smax,
        |         CAST(min(l_orderkey) AS BIGINT) AS omin,
        |         CAST(max(l_orderkey) AS BIGINT) AS omax
        |  FROM lineitem),
        |r AS (
        |  SELECT CAST(l_orderkey AS BIGINT) AS ok,
        |         CAST(l_partkey AS BIGINT) AS pk,
        |         CAST(l_suppkey AS BIGINT) AS sk,
        |         ((l_partkey - pmin) * 16) // (pmax - pmin + 1) AS bp,
        |         ((l_suppkey - smin) * 16) // (smax - smin + 1) AS bs
        |  FROM lineitem, b),
        |zf AS (
        |  SELECT ok, pk, sk,
        |    (( (((bp >> 0) & 1) << 1) | (((bs >> 0) & 1) << 0)
        |     | (((bp >> 1) & 1) << 3) | (((bs >> 1) & 1) << 2)
        |     | (((bp >> 2) & 1) << 5) | (((bs >> 2) & 1) << 4)
        |     | (((bp >> 3) & 1) << 7) | (((bs >> 3) & 1) << 6) ) >> 4)
        |      AS zfile
        |  FROM r),
        |pre_zones AS (
        |  SELECT 'z' || zfile AS zone, min(pk) AS pk_lo, max(pk) AS pk_hi,
        |         min(sk) AS sk_lo, max(sk) AS sk_hi
        |  FROM zf WHERE ok % 5 < 3 GROUP BY 1
        |  UNION ALL
        |  SELECT 't' || (ok % 3) || '_'
        |           || (((ok - omin) * 4) // (omax - omin + 1)),
        |         min(pk), max(pk), min(sk), max(sk)
        |  FROM zf, b WHERE ok % 5 >= 3 GROUP BY 1),
        |post_zones AS (
        |  SELECT 'z' || zfile AS zone, min(pk) AS pk_lo, max(pk) AS pk_hi,
        |         min(sk) AS sk_lo, max(sk) AS sk_hi
        |  FROM zf GROUP BY 1),
        |pr AS (
        |  SELECT pmin + (pmax - pmin + 1) // 4 AS plo,
        |         pmin + (pmax - pmin + 1) // 2 AS phi,
        |         smin + (smax - smin + 1) // 4 AS slo,
        |         smin + (smax - smin + 1) // 2 AS shi
        |  FROM b),
        |ans AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |         CAST(coalesce(sum(pk), 0) AS BIGINT) AS sum_pk,
        |         CAST(coalesce(sum(sk), 0) AS BIGINT) AS sum_sk
        |  FROM zf, pr
        |  WHERE pk BETWEEN plo AND phi AND sk BETWEEN slo AND shi)
        |SELECT 'pre' AS phase,
        |  (SELECT CAST(count(*) AS BIGINT) FROM pre_zones) AS n_files_total,
        |  (SELECT CAST(count(*) AS BIGINT) FROM pre_zones, pr
        |   WHERE pk_hi >= plo AND pk_lo <= phi
        |     AND sk_hi >= slo AND sk_lo <= shi) AS n_files_opened,
        |  n_rows, sum_pk, sum_sk FROM ans
        |UNION ALL
        |SELECT 'post',
        |  (SELECT CAST(count(*) AS BIGINT) FROM post_zones),
        |  (SELECT CAST(count(*) AS BIGINT) FROM post_zones, pr
        |   WHERE pk_hi >= plo AND pk_lo <= phi
        |     AND sk_hi >= slo AND sk_lo <= shi),
        |  n_rows, sum_pk, sum_sk FROM ans""".stripMargin,
    // the planted hot key is q215's fixture shape, so the oracle replays
    // the join exactly; the runtime-split flag pinned TRUE (q154 style)
    // exact sides re-derived; the sketch estimates are engine-internal
    // (Datasketches registers), so the hashed output carries the 3-sigma
    // bound flag and the merge-losslessness flag, both pinned TRUE (the
    // q216 estimator-audit discipline)
    "q225_incremental_ndv" ->
      """SELECT 'l_partkey' AS column_name, CAST(4 AS BIGINT) AS n_ticks,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS ndv_exact,
        |  TRUE AS within_3sigma, TRUE AS refold_deterministic
        |FROM lineitem
        |UNION ALL
        |SELECT 'l_suppkey', CAST(4 AS BIGINT),
        |  CAST(count(*) AS BIGINT),
        |  CAST(count(DISTINCT l_suppkey) AS BIGINT), TRUE, TRUE
        |FROM lineitem""".stripMargin,
    // the full join-ORDER decision re-derived from the raw tables: row
    // counts and ndv (the store ANALYZEd the same snapshot), both
    // intermediate estimates via n*n//max(ndv), exact intermediates via
    // the key-grain sum(ca*cb), the choice (ties to the right-deep
    // order), the per-join operator at the row threshold (intermediates
    // priced at their ESTIMATE), and the order-invariant aggregate — a
    // hash match proves the engine ordered the join the way its own
    // persisted statistics price it
    "q226_cbo_join_order" ->
      """WITH st AS (
        |  SELECT (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS nli,
        |    (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT)
        |       FROM lineitem) AS ndv_lo,
        |    (SELECT CAST(count(*) AS BIGINT) FROM orders) AS nord,
        |    (SELECT CAST(count(DISTINCT o_orderkey) AS BIGINT)
        |       FROM orders) AS ndv_oo,
        |    (SELECT CAST(count(DISTINCT o_custkey) AS BIGINT)
        |       FROM orders) AS ndv_oc,
        |    (SELECT CAST(count(*) AS BIGINT) FROM customer) AS ncust,
        |    (SELECT CAST(count(DISTINCT c_custkey) AS BIGINT)
        |       FROM customer) AS ndv_cc),
        |est AS (
        |  SELECT *,
        |    CAST(nli * nord // greatest(ndv_lo, ndv_oo) AS BIGINT) AS est_a,
        |    CAST(nord * ncust // greatest(ndv_oc, ndv_cc) AS BIGINT) AS est_b
        |  FROM st),
        |act AS (
        |  SELECT
        |    (SELECT CAST(coalesce(sum(ca * cb), 0) AS BIGINT) FROM
        |      (SELECT l_orderkey AS k, count(*) AS ca
        |         FROM lineitem GROUP BY 1) a
        |      JOIN (SELECT o_orderkey AS k, count(*) AS cb
        |         FROM orders GROUP BY 1) b USING (k)) AS act_a,
        |    (SELECT CAST(coalesce(sum(ca * cb), 0) AS BIGINT) FROM
        |      (SELECT o_custkey AS k, count(*) AS ca
        |         FROM orders GROUP BY 1) a
        |      JOIN (SELECT c_custkey AS k, count(*) AS cb
        |         FROM customer GROUP BY 1) b USING (k)) AS act_b),
        |fin AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |    CAST(sum(CAST(c_custkey AS BIGINT)) AS BIGINT) AS sum_cust
        |  FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey)
        |SELECT 'lineitem_orders_first' AS order_label,
        |  est_a < est_b AS chosen,
        |  est_a AS est_intermediate, act_a AS actual_intermediate,
        |  CASE WHEN least(nli, nord) <= 10000 THEN 'BroadcastHashJoin'
        |    ELSE 'SortMergeJoin' END AS inner_join,
        |  CASE WHEN least(est_a, ncust) <= 10000 THEN 'BroadcastHashJoin'
        |    ELSE 'SortMergeJoin' END AS outer_join,
        |  n_rows, sum_qty, sum_cust
        |FROM est, act, fin
        |UNION ALL
        |SELECT 'orders_customer_first', est_b <= est_a, est_b, act_b,
        |  CASE WHEN least(nord, ncust) <= 10000 THEN 'BroadcastHashJoin'
        |    ELSE 'SortMergeJoin' END,
        |  CASE WHEN least(nli, est_b) <= 10000 THEN 'BroadcastHashJoin'
        |    ELSE 'SortMergeJoin' END,
        |  n_rows, sum_qty, sum_cust
        |FROM est, act, fin""".stripMargin,
    // the histogram (q207's SQL machinery on l_orderkey), the filtered
    // estimate, the re-priced join estimates (post-filter ndv resolves
    // the divisor to the PK side's ndv), the choice per predicate, exact
    // intermediates (key-grain, filter applied), and the per-predicate
    // filtered aggregates — all re-derived; the within-query flip
    // (narrow -> lineitem-first, wide -> customer-first) is in the
    // hashed chosen column
    "q232_cbo_filtered_join_order" ->
      """WITH vals AS (
        |  SELECT CAST(l_orderkey AS BIGINT) AS v, count(*) AS cnt
        |  FROM lineitem GROUP BY 1),
        |cum AS (
        |  SELECT v, cnt, sum(cnt) OVER () AS n,
        |         sum(cnt) OVER (ORDER BY v) AS cum
        |  FROM vals),
        |buckets AS (
        |  SELECT ((cum - cnt) * 16) // n AS bucket,
        |         min(v) AS b_lo, max(v) AS b_hi, sum(cnt) AS b_cnt
        |  FROM cum GROUP BY 1),
        |bounds AS (
        |  SELECT CAST(min(l_orderkey) AS BIGINT) AS lo,
        |         CAST(max(l_orderkey) AS BIGINT) AS hi
        |  FROM lineitem),
        |preds AS (
        |  SELECT 'narrow' AS pred_label, lo AS p_lo,
        |         lo + (hi - lo + 1) // 50 - 1 AS p_hi FROM bounds
        |  UNION ALL
        |  SELECT 'wide', lo, lo + (4 * (hi - lo + 1)) // 5 - 1 FROM bounds),
        |est AS (
        |  SELECT pred_label, p_lo, p_hi,
        |         sum(b_cnt * (((least(p_hi, b_hi) - greatest(p_lo, b_lo)
        |           + 1) * 1000000) // (b_hi - b_lo + 1))) AS est_f6
        |  FROM preds JOIN buckets ON b_hi >= p_lo AND b_lo <= p_hi
        |  GROUP BY 1, 2, 3),
        |st AS (
        |  SELECT (SELECT CAST(count(*) AS BIGINT) FROM orders) AS nord,
        |    (SELECT CAST(count(DISTINCT o_orderkey) AS BIGINT)
        |       FROM orders) AS ndv_oo,
        |    (SELECT CAST(count(DISTINCT o_custkey) AS BIGINT)
        |       FROM orders) AS ndv_oc,
        |    (SELECT CAST(count(*) AS BIGINT) FROM customer) AS ncust,
        |    (SELECT CAST(count(DISTINCT c_custkey) AS BIGINT)
        |       FROM customer) AS ndv_cc),
        |calc AS (
        |  SELECT e.*,
        |    ((e.est_f6 // 1000000) * st.nord) // st.ndv_oo AS est_li,
        |    (st.nord * st.ncust) // greatest(st.ndv_oc, st.ndv_cc) AS est_oc
        |  FROM est e, st),
        |liord AS (
        |  SELECT p.pred_label,
        |    CAST(coalesce(sum(a.ca * b.cb), 0) AS BIGINT) AS act_li
        |  FROM preds p
        |  LEFT JOIN (SELECT CAST(l_orderkey AS BIGINT) AS k, count(*) AS ca
        |             FROM lineitem GROUP BY 1) a
        |    ON a.k BETWEEN p.p_lo AND p.p_hi
        |  LEFT JOIN (SELECT CAST(o_orderkey AS BIGINT) AS k, count(*) AS cb
        |             FROM orders GROUP BY 1) b ON b.k = a.k
        |  GROUP BY 1),
        |actoc AS (
        |  SELECT CAST(coalesce(sum(a.ca * b.cb), 0) AS BIGINT) AS act_oc
        |  FROM (SELECT o_custkey AS k, count(*) AS ca
        |        FROM orders GROUP BY 1) a
        |  JOIN (SELECT c_custkey AS k, count(*) AS cb
        |        FROM customer GROUP BY 1) b USING (k)),
        |fins AS (
        |  SELECT p.pred_label, CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |    CAST(sum(CAST(c.c_custkey AS BIGINT)) AS BIGINT) AS sum_cust
        |  FROM preds p
        |  JOIN lineitem l
        |    ON CAST(l.l_orderkey AS BIGINT) BETWEEN p.p_lo AND p.p_hi
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  GROUP BY 1)
        |SELECT c.pred_label, c.p_lo, c.p_hi,
        |  CAST(c.est_f6 AS BIGINT) AS est_filtered_e6,
        |  'lineitem_orders_first' AS order_label,
        |  c.est_li < c.est_oc AS chosen,
        |  CAST(c.est_li AS BIGINT) AS est_intermediate,
        |  li.act_li AS actual_intermediate,
        |  f.n_rows, f.sum_qty, f.sum_cust,
        |  TRUE AS orders_identical
        |FROM calc c
        |JOIN liord li USING (pred_label) JOIN fins f USING (pred_label)
        |UNION ALL
        |SELECT c.pred_label, c.p_lo, c.p_hi, CAST(c.est_f6 AS BIGINT),
        |  'orders_customer_first', c.est_oc <= c.est_li,
        |  CAST(c.est_oc AS BIGINT), (SELECT act_oc FROM actoc),
        |  f.n_rows, f.sum_qty, f.sum_cust, TRUE
        |FROM calc c
        |JOIN fins f USING (pred_label)""".stripMargin,
    // every stored MV partial re-derived in one GROUP BY over raw orders
    // (tick = o_orderkey % 4) — the store is hash-checked row by row,
    // not just its fold; decimal partials keep the sums exact
    "q233_matview_maintenance" ->
      """SELECT CAST(o_orderkey % 4 AS BIGINT) AS ingest_batch,
        |  o_orderstatus, o_orderpriority,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
        |    AS sum_price
        |FROM orders GROUP BY 1, 2, 3""".stripMargin,
    // pre-refresh coverage = the ticks-0..2 count, base rows = the raw
    // count (the engine read it from the persisted ANALYZE store), both
    // rollup answers the same GROUP BY — a hash match proves the stale
    // store was detected, refreshed tick-targeted, and the rewrite
    // answered from the view
    "q234_matview_rewrite" ->
      """WITH pre AS (
        |  SELECT CAST(count(*) AS BIGINT) AS pre_rows
        |  FROM orders WHERE o_orderkey % 4 <> 3),
        |base AS (SELECT CAST(count(*) AS BIGINT) AS base_rows FROM orders)
        |SELECT o_orderstatus,
        |  CAST(count(*) AS BIGINT) AS mv_n,
        |  CAST(count(*) AS BIGINT) AS base_n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
        |    AS mv_sum,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
        |    AS base_sum,
        |  TRUE AS rewrite_match,
        |  pre_rows AS pre_refresh_rows, base_rows,
        |  pre_rows < base_rows AS was_stale,
        |  CAST(1 AS BIGINT) AS n_refreshed_ticks
        |FROM orders, pre, base
        |GROUP BY 1, pre_rows, base_rows""".stripMargin,
    // marker per arm from the conf (the flip is the proof), aggregate
    // re-derived once — re-planning changes cost, never answers
    "q231_aqe_coalesce" ->
      """WITH a AS (
        |  SELECT CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS n_groups,
        |    CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(sum(CAST(o_custkey AS BIGINT)) AS BIGINT) AS sum_cust
        |  FROM orders)
        |SELECT 'enabled' AS arm, TRUE AS coalesced, n_groups, n_rows,
        |  sum_cust FROM a
        |UNION ALL
        |SELECT 'disabled', FALSE, n_groups, n_rows, sum_cust FROM a""".stripMargin,
    // the whole DP table re-derived: estimates as single-division integer
    // products of counts/ndvs, costs and plan strings through the same
    // first-minimal-split CASE chain the engine's minBy implements, the
    // aggregate from the raw 4-table join — a hash match proves the
    // engine enumerated, costed, chose, and ran the cheapest tree
    "q230_cbo_join_enumeration" ->
      """WITH st AS (
        |  SELECT (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS nli,
        |    (SELECT CAST(count(*) AS BIGINT) FROM orders) AS nord,
        |    (SELECT CAST(count(*) AS BIGINT) FROM customer) AS ncust,
        |    (SELECT CAST(count(*) AS BIGINT) FROM nation) AS nnat,
        |    greatest(
        |      (SELECT count(DISTINCT l_orderkey) FROM lineitem),
        |      (SELECT count(DISTINCT o_orderkey) FROM orders)) AS d1,
        |    greatest(
        |      (SELECT count(DISTINCT o_custkey) FROM orders),
        |      (SELECT count(DISTINCT c_custkey) FROM customer)) AS d2,
        |    greatest(
        |      (SELECT count(DISTINCT c_nationkey) FROM customer),
        |      (SELECT count(DISTINCT n_nationkey) FROM nation)) AS d3),
        |e AS (
        |  SELECT *,
        |    CAST(CAST(nli AS HUGEINT) * nord // d1 AS BIGINT) AS e01,
        |    CAST(CAST(nord AS HUGEINT) * ncust // d2 AS BIGINT) AS e12,
        |    CAST(CAST(ncust AS HUGEINT) * nnat // d3 AS BIGINT) AS e23,
        |    CAST(CAST(nli AS HUGEINT) * nord * ncust // (CAST(d1 AS HUGEINT) * d2) AS BIGINT) AS e02,
        |    CAST(CAST(nord AS HUGEINT) * ncust * nnat // (CAST(d2 AS HUGEINT) * d3) AS BIGINT) AS e13,
        |    CAST(CAST(nli AS HUGEINT) * nord * ncust * nnat
        |      // (CAST(d1 AS HUGEINT) * d2 * d3) AS BIGINT)
        |      AS e03
        |  FROM st),
        |c AS (
        |  SELECT *,
        |    CAST(e02 + least(e12, e01) AS BIGINT) AS c02,
        |    CAST(e13 + least(e23, e12) AS BIGINT) AS c13,
        |    CASE WHEN e12 <= e01 THEN '(lineitem*(orders*customer))'
        |      ELSE '((lineitem*orders)*customer)' END AS p02,
        |    CASE WHEN e23 <= e12 THEN '(orders*(customer*nation))'
        |      ELSE '((orders*customer)*nation)' END AS p13
        |  FROM e),
        |f AS (
        |  SELECT *,
        |    CAST(e03 + least(c13, e01 + e23, c02) AS BIGINT) AS c03,
        |    CASE WHEN c13 <= e01 + e23 AND c13 <= c02
        |        THEN '(lineitem*' || p13 || ')'
        |      WHEN e01 + e23 <= c02
        |        THEN '((lineitem*orders)*(customer*nation))'
        |      ELSE '(' || p02 || '*nation)' END AS p03
        |  FROM c),
        |fin AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |    CAST(sum(CAST(n_nationkey AS BIGINT)) AS BIGINT) AS sum_nat
        |  FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey)
        |SELECT s.subset, s.n_tables, s.est_rows, s.best_cost, s.best_plan,
        |  fin.n_rows, fin.sum_qty, fin.sum_nat
        |FROM (
        |  SELECT 'lineitem' AS subset, CAST(1 AS BIGINT) AS n_tables,
        |    nli AS est_rows, CAST(0 AS BIGINT) AS best_cost,
        |    'lineitem' AS best_plan FROM f
        |  UNION ALL SELECT 'orders', 1, nord, 0, 'orders' FROM f
        |  UNION ALL SELECT 'customer', 1, ncust, 0, 'customer' FROM f
        |  UNION ALL SELECT 'nation', 1, nnat, 0, 'nation' FROM f
        |  UNION ALL SELECT 'lineitem,orders', 2, e01, e01,
        |    '(lineitem*orders)' FROM f
        |  UNION ALL SELECT 'orders,customer', 2, e12, e12,
        |    '(orders*customer)' FROM f
        |  UNION ALL SELECT 'customer,nation', 2, e23, e23,
        |    '(customer*nation)' FROM f
        |  UNION ALL SELECT 'lineitem,orders,customer', 3, e02, c02, p02
        |    FROM f
        |  UNION ALL SELECT 'orders,customer,nation', 3, e13, c13, p13
        |    FROM f
        |  UNION ALL SELECT 'lineitem,orders,customer,nation', 4, e03, c03,
        |    p03 FROM f) s, fin""".stripMargin,
    // the full box walk re-derived from the id formulas: fixed brand and
    // timescale, duration via (id*37) % 100000 + 600, integer-div
    // milliseconds, tracks via 1 + id%3, and the three planted edge
    // paths (free-box skip, largesize moov, mvhd v1) on exactly their
    // id classes — a hash match proves the walker handled them all
    "q229_mp4_decode" ->
      """SELECT CAST(g AS BIGINT) AS media_id, 'isom' AS brand,
        |  CAST(600 AS BIGINT) AS timescale,
        |  CAST((g * 37) % 100000 + 600 AS BIGINT) AS duration,
        |  CAST(((g * 37) % 100000 + 600) * 1000 // 600 AS BIGINT)
        |    AS duration_ms,
        |  CAST(1 + g % 3 AS BIGINT) AS n_tracks,
        |  CAST(CASE WHEN g % 7 = 0 THEN 1 ELSE 0 END AS BIGINT)
        |    AS mvhd_version,
        |  CAST(CASE WHEN g % 3 = 0 THEN 1 ELSE 0 END AS BIGINT)
        |    AS n_boxes_skipped,
        |  CAST(CASE WHEN g % 5 = 0 THEN 1 ELSE 0 END AS BIGINT)
        |    AS n_largesize
        |FROM generate_series(0, 49) t(g)""".stripMargin,
    // settled/new counts re-derived; the batch count is the declared
    // feed shape (one file per trigger, three files) and the two
    // mismatch counters are the invariant — zero or the row goes red
    "q228_ann_streaming" ->
      """SELECT 'ivf' AS family,
        |  (SELECT CAST(count(*) AS BIGINT) FROM embeddings
        |     WHERE vec_id % 5 <> 0) AS n_settled,
        |  (SELECT CAST(count(*) AS BIGINT) FROM embeddings
        |     WHERE vec_id % 5 = 0) AS n_new,
        |  CAST(3 AS BIGINT) AS n_stream_batches,
        |  CAST(0 AS BIGINT) AS store_mismatches,
        |  CAST(0 AS BIGINT) AS replay_mismatches
        |UNION ALL
        |SELECT 'pq',
        |  (SELECT CAST(count(*) AS BIGINT) FROM embeddings
        |     WHERE vec_id % 5 <> 0),
        |  (SELECT CAST(count(*) AS BIGINT) FROM embeddings
        |     WHERE vec_id % 5 = 0),
        |  CAST(3 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)""".stripMargin,
    // exact counts/ndv/estimates re-derived from the raw tables; the
    // sketch-route columns are pinned flags (3σ per column, the
    // propagated estimate band) plus the choice VALUES — the oracle
    // derives the choice from exact stats, so a hash match proves the
    // sketch-fed decision landed on the same order (margin_robust, also
    // re-derived, is the condition making that a contract rather than
    // luck); eps = 3·1.04/√2¹² = 0.04875 at the Datasketches default
    "q227_cbo_ndv_sketch" ->
      """WITH st AS (
        |  SELECT (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS nli,
        |    (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT)
        |       FROM lineitem) AS ndv_lo,
        |    (SELECT CAST(count(*) AS BIGINT) FROM orders) AS nord,
        |    (SELECT CAST(count(DISTINCT o_orderkey) AS BIGINT)
        |       FROM orders) AS ndv_oo,
        |    (SELECT CAST(count(DISTINCT o_custkey) AS BIGINT)
        |       FROM orders) AS ndv_oc,
        |    (SELECT CAST(count(*) AS BIGINT) FROM customer) AS ncust,
        |    (SELECT CAST(count(DISTINCT c_custkey) AS BIGINT)
        |       FROM customer) AS ndv_cc),
        |est AS (
        |  SELECT *,
        |    CAST(nli * nord // greatest(ndv_lo, ndv_oo) AS BIGINT) AS est_a,
        |    CAST(nord * ncust // greatest(ndv_oc, ndv_cc) AS BIGINT) AS est_b
        |  FROM st),
        |dec AS (
        |  SELECT *,
        |    CASE WHEN est_b <= est_a THEN 'orders_customer_first'
        |      ELSE 'lineitem_orders_first' END AS chosen,
        |    greatest(est_a, est_b) * (1.0 - 0.04875)
        |      > least(est_a, est_b) * (1.0 + 0.04875) AS robust
        |  FROM est)
        |SELECT 'lineitem_orders_first' AS order_label,
        |  nli AS n_left, nord AS n_right,
        |  ndv_lo AS ndv_left_exact, ndv_oo AS ndv_right_exact,
        |  est_a AS est_rows_exact,
        |  TRUE AS ndv_within_3sigma, TRUE AS est_within_bounds,
        |  robust AS margin_robust,
        |  chosen AS chosen_sketch, chosen AS chosen_exact,
        |  TRUE AS choice_agrees
        |FROM dec
        |UNION ALL
        |SELECT 'orders_customer_first', nord, ncust, ndv_oc, ndv_cc,
        |  est_b, TRUE, TRUE, robust, chosen, chosen, TRUE
        |FROM dec""".stripMargin,
    // the stats store was ANALYZEd from the same snapshot, so the oracle
    // re-derives its row counts from the raw tables; advice, expected
    // shape, and the joined aggregate all follow from those counts
    "q224_cbo_from_analyze" ->
      """WITH s AS (
        |  SELECT 'orders*customer' AS join_label,
        |    (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_left,
        |    (SELECT CAST(count(*) AS BIGINT) FROM customer) AS n_right,
        |    (SELECT CAST(count(*) AS BIGINT) FROM orders o
        |       JOIN customer c ON o.o_custkey = c.c_custkey) AS n_rows,
        |    (SELECT CAST(sum(CAST(o_custkey AS BIGINT)) AS BIGINT)
        |       FROM orders o
        |       JOIN customer c ON o.o_custkey = c.c_custkey) AS sum_val
        |  UNION ALL
        |  SELECT 'lineitem*orders',
        |    (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
        |    (SELECT CAST(count(*) AS BIGINT) FROM orders),
        |    (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
        |       JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |    (SELECT CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT)
        |       FROM lineitem l
        |       JOIN orders o ON l.l_orderkey = o.o_orderkey))
        |SELECT join_label, 'analyze_store' AS stats_source,
        |  n_left, n_right, CAST(10000 AS BIGINT) AS broadcast_limit,
        |  CASE WHEN least(n_left, n_right) <= 10000
        |    THEN 'broadcast' ELSE 'shuffle' END AS advice,
        |  CASE WHEN least(n_left, n_right) <= 10000
        |    THEN 'BroadcastHashJoin' ELSE 'SortMergeJoin' END
        |    AS executed_join,
        |  n_rows, sum_val
        |FROM s""".stripMargin,
    // the full decode round trip re-derived from the id formula: sample
    // values via ((id*31 + i*17) % 2048) - 1024, features via window/agg,
    // the skipped-chunk count via the id%3 plant rule — a hash match
    // proves the engine's RIFF walk returned exactly the planted samples
    "q223_wav_decode" ->
      """WITH s AS (
        |  SELECT id.g AS id, i.g AS i,
        |    ((id.g * 31 + i.g * 17) % 2048) - 1024 AS v
        |  FROM generate_series(0, 49) AS id(g),
        |       generate_series(0, 255) AS i(g))
        |SELECT CAST(s.id AS BIGINT) AS media_id,
        |  CAST(256 AS BIGINT) AS n_samples,
        |  CAST(8000 AS BIGINT) AS sample_rate,
        |  CAST(1 AS BIGINT) AS n_channels,
        |  CAST(16 AS BIGINT) AS bits,
        |  CAST(max(abs(s.v)) AS BIGINT) AS peak,
        |  CAST(sum(s.v * s.v) AS BIGINT) AS sum_sq,
        |  CAST(sum(CASE WHEN s.v * s.lv < 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS zero_crossings,
        |  CAST(CASE WHEN s.id % 3 = 0 THEN 1 ELSE 0 END AS BIGINT)
        |    AS n_chunks_skipped
        |FROM (SELECT id, i, v,
        |        lag(v) OVER (PARTITION BY id ORDER BY i) AS lv FROM s) s
        |GROUP BY s.id""".stripMargin,
    // the planted-leak counts are the audit's fixed contract (2 leaks in,
    // 2 paths out, second vacuum 0, one swap -> generation 1); the live
    // store's read-back aggregates re-derived from the documents table —
    // green proves the vacuum deleted the garbage and ONLY the garbage
    "q222_vacuum_generations" ->
      """SELECT CAST(2 AS BIGINT) AS n_removed,
        |  CAST(0 AS BIGINT) AS n_removed_again,
        |  CAST(1 AS BIGINT) AS live_gen,
        |  CAST(count(DISTINCT lang) AS BIGINT) AS live_rows,
        |  CAST(count(*) AS BIGINT) AS total_docs
        |FROM documents""".stripMargin,
    // the full decision re-derived: side counts -> advice at the row
    // threshold -> EXPECTED plan shape per arm (advice for followed,
    // flipped for inverted) -> the joined aggregate once per join — a
    // hash match proves the engine EXECUTED the shape its stats chose
    // and that both shapes return identical answers
    // estimates, correction, both errors, and the derived flag — all
    // integer SQL over the same grid arithmetic
    "q243_cbo_feedback_loop" ->
      """WITH bnd AS (
        |  SELECT min(event_id) AS id_min, max(event_id) AS id_max,
        |    min(epoch_us(CAST(ts AS TIMESTAMP))) AS ts_min,
        |    max(epoch_us(CAST(ts AS TIMESTAMP))) AS ts_max,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events),
        |e AS (
        |  SELECT (event_id - id_min) * 8 // (id_max - id_min + 1) AS b_id,
        |    (epoch_us(CAST(ts AS TIMESTAMP)) - ts_min) * 8
        |      // (ts_max - ts_min + 1) AS b_ts
        |  FROM events, bnd),
        |m AS (
        |  SELECT (SELECT n FROM bnd) AS n_rows,
        |    (SELECT count(*) FROM e WHERE b_id BETWEEN 0 AND 1) AS na_a,
        |    (SELECT count(*) FROM e WHERE b_ts BETWEEN 0 AND 1) AS nb_a,
        |    (SELECT count(*) FROM e WHERE b_id BETWEEN 0 AND 1
        |       AND b_ts BETWEEN 0 AND 1) AS actual_a,
        |    (SELECT count(*) FROM e WHERE b_id BETWEEN 2 AND 3) AS na_b,
        |    (SELECT count(*) FROM e WHERE b_ts BETWEEN 2 AND 3) AS nb_b,
        |    (SELECT count(*) FROM e WHERE b_id BETWEEN 2 AND 3
        |       AND b_ts BETWEEN 2 AND 3) AS actual_b),
        |est AS (
        |  SELECT n_rows, na_a * nb_a // n_rows AS est_a, actual_a,
        |    na_b * nb_b // n_rows AS est_b, actual_b FROM m),
        |fb AS (
        |  SELECT *, actual_a * 1000000 // greatest(est_a, 1) AS correction_e6
        |  FROM est),
        |ap AS (
        |  SELECT *, est_b * correction_e6 // 1000000 AS est_b_corrected
        |  FROM fb),
        |err AS (
        |  SELECT *,
        |    CASE WHEN actual_b > 0 THEN abs(est_b - actual_b) * 1000000
        |      // actual_b ELSE est_b * 1000000 END AS raw_err_ppm,
        |    CASE WHEN actual_b > 0
        |      THEN abs(est_b_corrected - actual_b) * 1000000 // actual_b
        |      ELSE est_b_corrected * 1000000 END AS corrected_err_ppm
        |  FROM ap)
        |SELECT 'id_ts_diag' AS pred_class, n_rows, est_a, actual_a,
        |  correction_e6, est_b AS est_b_raw, est_b_corrected, actual_b,
        |  raw_err_ppm, corrected_err_ppm,
        |  corrected_err_ppm < raw_err_ppm AS improved
        |FROM err""".stripMargin,
    // the whole loop re-derived: default guess, training actual,
    // correction, both priced intermediates per order, both choices, the
    // flip flag, exact intermediates, and the filtered aggregate — the
    // hashed chosen_raw/chosen_fb pair IS the proof that consulting the
    // store flipped the order
    "q244_cbo_feedback_order" ->
      """WITH st AS (
        |  SELECT (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS nli,
        |    (SELECT CAST(count(DISTINCT o_orderkey) AS BIGINT)
        |       FROM orders) AS ndv_oo,
        |    (SELECT CAST(count(*) AS BIGINT) FROM orders) AS nord,
        |    (SELECT CAST(count(DISTINCT o_custkey) AS BIGINT)
        |       FROM orders) AS ndv_oc,
        |    (SELECT CAST(count(*) AS BIGINT) FROM customer) AS ncust,
        |    (SELECT CAST(count(DISTINCT c_custkey) AS BIGINT)
        |       FROM customer) AS ndv_cc),
        |d AS (SELECT *, greatest(nli // 1000, 1) AS est_default FROM st),
        |tr AS (
        |  SELECT CAST(count(*) AS BIGINT) AS actual_train
        |  FROM lineitem WHERE l_orderkey % 2 = 0),
        |fb AS (
        |  SELECT *, actual_train * 1000000 // greatest(est_default, 1)
        |    AS correction_e6
        |  FROM d, tr),
        |pr AS (
        |  SELECT *,
        |    est_default * nord // ndv_oo AS est_li_raw,
        |    (est_default * correction_e6 // 1000000) * nord // ndv_oo
        |      AS est_li_fb,
        |    nord * ncust // greatest(ndv_oc, ndv_cc) AS est_oc
        |  FROM fb),
        |ch AS (
        |  SELECT *,
        |    CASE WHEN est_oc <= est_li_raw THEN 'orders_customer_first'
        |      ELSE 'lineitem_orders_first' END AS co_raw,
        |    CASE WHEN est_oc <= est_li_fb THEN 'orders_customer_first'
        |      ELSE 'lineitem_orders_first' END AS co_fb
        |  FROM pr),
        |acts AS (
        |  SELECT
        |    (SELECT CAST(coalesce(sum(ca * cb), 0) AS BIGINT) FROM
        |      (SELECT l_orderkey AS k, count(*) AS ca FROM lineitem
        |       WHERE l_orderkey % 2 = 1 GROUP BY 1) a
        |      JOIN (SELECT o_orderkey AS k, count(*) AS cb
        |         FROM orders GROUP BY 1) b USING (k)) AS act_li,
        |    (SELECT CAST(coalesce(sum(ca * cb), 0) AS BIGINT) FROM
        |      (SELECT o_custkey AS k, count(*) AS ca
        |         FROM orders GROUP BY 1) a
        |      JOIN (SELECT c_custkey AS k, count(*) AS cb
        |         FROM customer GROUP BY 1) b USING (k)) AS act_oc),
        |fin AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |    CAST(sum(CAST(c_custkey AS BIGINT)) AS BIGINT) AS sum_cust
        |  FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  WHERE l.l_orderkey % 2 = 1)
        |SELECT 'l_orderkey_mod2_eq' AS pred_class,
        |  'lineitem_orders_first' AS order_label,
        |  co_raw = 'lineitem_orders_first' AS chosen_raw,
        |  co_fb = 'lineitem_orders_first' AS chosen_fb,
        |  co_raw <> co_fb AS flipped,
        |  est_default, actual_train, correction_e6,
        |  CAST(est_li_raw AS BIGINT) AS est_intermediate_raw,
        |  CAST(est_li_fb AS BIGINT) AS est_intermediate_fb,
        |  act_li AS actual_intermediate,
        |  n_rows, sum_qty, sum_cust, TRUE AS orders_identical
        |FROM ch, acts, fin
        |UNION ALL
        |SELECT 'l_orderkey_mod2_eq', 'orders_customer_first',
        |  co_raw = 'orders_customer_first',
        |  co_fb = 'orders_customer_first',
        |  co_raw <> co_fb, est_default, actual_train, correction_e6,
        |  CAST(est_oc AS BIGINT), CAST(est_oc AS BIGINT), act_oc,
        |  n_rows, sum_qty, sum_cust, TRUE
        |FROM ch, acts, fin""".stripMargin,
    // the whole connected-subset DP re-derived: estimates as single-
    // division integer products over induced edges, costs and plan
    // strings through the same first-minimal-CUT-EDGE CASE chain the
    // engine's minBy implements, the aggregate from the raw 5-way join
    "q245_cbo_graph_enumeration" ->
      """WITH st AS (
        |  SELECT (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS nli,
        |    (SELECT CAST(count(*) AS BIGINT) FROM orders) AS nord,
        |    (SELECT CAST(count(*) AS BIGINT) FROM customer) AS ncust,
        |    (SELECT CAST(count(*) AS BIGINT) FROM part) AS npart,
        |    (SELECT CAST(count(*) AS BIGINT) FROM supplier) AS nsupp,
        |    greatest(
        |      (SELECT count(DISTINCT l_orderkey) FROM lineitem),
        |      (SELECT count(DISTINCT o_orderkey) FROM orders)) AS d0,
        |    greatest(
        |      (SELECT count(DISTINCT o_custkey) FROM orders),
        |      (SELECT count(DISTINCT c_custkey) FROM customer)) AS d1,
        |    greatest(
        |      (SELECT count(DISTINCT l_partkey) FROM lineitem),
        |      (SELECT count(DISTINCT p_partkey) FROM part)) AS d2,
        |    greatest(
        |      (SELECT count(DISTINCT l_suppkey) FROM lineitem),
        |      (SELECT count(DISTINCT s_suppkey) FROM supplier)) AS d3),
        |e AS (
        |  SELECT *,
        |    CAST(CAST(nli AS HUGEINT) * nord // d0 AS BIGINT) AS e_lo,
        |    CAST(CAST(nord AS HUGEINT) * ncust // d1 AS BIGINT) AS e_oc,
        |    CAST(CAST(nli AS HUGEINT) * npart // d2 AS BIGINT) AS e_lp,
        |    CAST(CAST(nli AS HUGEINT) * nsupp // d3 AS BIGINT) AS e_ls,
        |    CAST(CAST(nli AS HUGEINT) * nord * ncust // (CAST(d0 AS HUGEINT) * d1) AS BIGINT) AS e_loc,
        |    CAST(CAST(nli AS HUGEINT) * nord * npart // (CAST(d0 AS HUGEINT) * d2) AS BIGINT) AS e_lop,
        |    CAST(CAST(nli AS HUGEINT) * nord * nsupp // (CAST(d0 AS HUGEINT) * d3) AS BIGINT) AS e_los,
        |    CAST(CAST(nli AS HUGEINT) * npart * nsupp // (CAST(d2 AS HUGEINT) * d3) AS BIGINT) AS e_lps,
        |    CAST(CAST(nli AS HUGEINT) * nord * ncust * npart // (CAST(d0 AS HUGEINT) * d1 * d2) AS BIGINT)
        |      AS e_locp,
        |    CAST(CAST(nli AS HUGEINT) * nord * ncust * nsupp // (CAST(d0 AS HUGEINT) * d1 * d3) AS BIGINT)
        |      AS e_locs,
        |    CAST(CAST(nli AS HUGEINT) * nord * npart * nsupp // (CAST(d0 AS HUGEINT) * d2 * d3) AS BIGINT)
        |      AS e_lops,
        |    CAST(CAST(nli AS HUGEINT) * nord * ncust * npart * nsupp
        |      // (CAST(d0 AS HUGEINT) * d1 * d2 * d3) AS BIGINT) AS e_all
        |  FROM st),
        |c3 AS (
        |  SELECT *,
        |    CAST(e_loc + least(e_oc, e_lo) AS BIGINT) AS c_loc,
        |    CASE WHEN e_oc <= e_lo THEN '(lineitem*(orders*customer))'
        |      ELSE '((lineitem*orders)*customer)' END AS p_loc,
        |    CAST(e_lop + least(e_lp, e_lo) AS BIGINT) AS c_lop,
        |    CASE WHEN e_lp <= e_lo THEN '((lineitem*part)*orders)'
        |      ELSE '((lineitem*orders)*part)' END AS p_lop,
        |    CAST(e_los + least(e_ls, e_lo) AS BIGINT) AS c_los,
        |    CASE WHEN e_ls <= e_lo THEN '((lineitem*supplier)*orders)'
        |      ELSE '((lineitem*orders)*supplier)' END AS p_los,
        |    CAST(e_lps + least(e_ls, e_lp) AS BIGINT) AS c_lps,
        |    CASE WHEN e_ls <= e_lp THEN '((lineitem*supplier)*part)'
        |      ELSE '((lineitem*part)*supplier)' END AS p_lps
        |  FROM e),
        |c4 AS (
        |  SELECT *,
        |    CAST(e_locp + least(e_lp + e_oc, c_lop, c_loc) AS BIGINT)
        |      AS c_locp,
        |    CASE
        |      WHEN e_lp + e_oc <= c_lop AND e_lp + e_oc <= c_loc
        |        THEN '((lineitem*part)*(orders*customer))'
        |      WHEN c_lop <= c_loc THEN '(' || p_lop || '*customer)'
        |      ELSE '(' || p_loc || '*part)' END AS p_locp,
        |    CAST(e_locs + least(e_ls + e_oc, c_los, c_loc) AS BIGINT)
        |      AS c_locs,
        |    CASE
        |      WHEN e_ls + e_oc <= c_los AND e_ls + e_oc <= c_loc
        |        THEN '((lineitem*supplier)*(orders*customer))'
        |      WHEN c_los <= c_loc THEN '(' || p_los || '*customer)'
        |      ELSE '(' || p_loc || '*supplier)' END AS p_locs,
        |    CAST(e_lops + least(c_lps, c_los, c_lop) AS BIGINT) AS c_lops,
        |    CASE
        |      WHEN c_lps <= c_los AND c_lps <= c_lop
        |        THEN '(' || p_lps || '*orders)'
        |      WHEN c_los <= c_lop THEN '(' || p_los || '*part)'
        |      ELSE '(' || p_lop || '*supplier)' END AS p_lops
        |  FROM c3),
        |c5 AS (
        |  SELECT *,
        |    CAST(e_all + least(c_lps + e_oc, c_lops, c_locs, c_locp)
        |      AS BIGINT) AS c_all,
        |    CASE
        |      WHEN c_lps + e_oc <= c_lops AND c_lps + e_oc <= c_locs
        |        AND c_lps + e_oc <= c_locp
        |        THEN '(' || p_lps || '*(orders*customer))'
        |      WHEN c_lops <= c_locs AND c_lops <= c_locp
        |        THEN '(' || p_lops || '*customer)'
        |      WHEN c_locs <= c_locp THEN '(' || p_locs || '*part)'
        |      ELSE '(' || p_locp || '*supplier)' END AS p_all
        |  FROM c4),
        |fin AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |    CAST(sum(CAST(s_suppkey AS BIGINT)) AS BIGINT) AS sum_supp
        |  FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN part p ON l.l_partkey = p.p_partkey
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey)
        |SELECT t.subset, t.n_tables, t.est_rows, t.best_cost, t.best_plan,
        |  fin.n_rows, fin.sum_qty, fin.sum_supp, TRUE AS trees_identical
        |FROM (
        |  SELECT 'lineitem' AS subset, CAST(1 AS BIGINT) AS n_tables,
        |    nli AS est_rows, CAST(0 AS BIGINT) AS best_cost,
        |    'lineitem' AS best_plan FROM c5
        |  UNION ALL SELECT 'orders', 1, nord, 0, 'orders' FROM c5
        |  UNION ALL SELECT 'customer', 1, ncust, 0, 'customer' FROM c5
        |  UNION ALL SELECT 'part', 1, npart, 0, 'part' FROM c5
        |  UNION ALL SELECT 'supplier', 1, nsupp, 0, 'supplier' FROM c5
        |  UNION ALL SELECT 'lineitem,orders', 2, e_lo, e_lo,
        |    '(lineitem*orders)' FROM c5
        |  UNION ALL SELECT 'orders,customer', 2, e_oc, e_oc,
        |    '(orders*customer)' FROM c5
        |  UNION ALL SELECT 'lineitem,part', 2, e_lp, e_lp,
        |    '(lineitem*part)' FROM c5
        |  UNION ALL SELECT 'lineitem,supplier', 2, e_ls, e_ls,
        |    '(lineitem*supplier)' FROM c5
        |  UNION ALL SELECT 'lineitem,orders,customer', 3, e_loc, c_loc,
        |    p_loc FROM c5
        |  UNION ALL SELECT 'lineitem,orders,part', 3, e_lop, c_lop,
        |    p_lop FROM c5
        |  UNION ALL SELECT 'lineitem,orders,supplier', 3, e_los, c_los,
        |    p_los FROM c5
        |  UNION ALL SELECT 'lineitem,part,supplier', 3, e_lps, c_lps,
        |    p_lps FROM c5
        |  UNION ALL SELECT 'lineitem,orders,customer,part', 4, e_locp,
        |    c_locp, p_locp FROM c5
        |  UNION ALL SELECT 'lineitem,orders,customer,supplier', 4, e_locs,
        |    c_locs, p_locs FROM c5
        |  UNION ALL SELECT 'lineitem,orders,part,supplier', 4, e_lops,
        |    c_lops, p_lops FROM c5
        |  UNION ALL SELECT 'lineitem,orders,customer,part,supplier', 5,
        |    e_all, c_all, p_all FROM c5) t, fin""".stripMargin,
    // both histograms (exact and 1/8-key-partition sampled ×8), both
    // estimates and their err_ppm, the join-order choice per route, the
    // squared-margin band check, the fallback route, and the routed
    // order's filtered aggregate — all re-derived in integer SQL
    "q246_sampled_histogram_route" ->
      """WITH vals AS (
        |  SELECT CAST(l_orderkey AS BIGINT) AS v, count(*) AS cnt
        |  FROM lineitem GROUP BY 1),
        |cum AS (
        |  SELECT v, cnt, sum(cnt) OVER () AS n,
        |         sum(cnt) OVER (ORDER BY v) AS cum
        |  FROM vals),
        |buckets AS (
        |  SELECT ((cum - cnt) * 16) // n AS bucket,
        |         min(v) AS b_lo, max(v) AS b_hi, sum(cnt) AS b_cnt
        |  FROM cum GROUP BY 1),
        |svals AS (
        |  SELECT CAST(l_orderkey AS BIGINT) AS v, count(*) * 8 AS cnt
        |  FROM lineitem WHERE l_orderkey % 8 = 0 GROUP BY 1),
        |scum AS (
        |  SELECT v, cnt, sum(cnt) OVER () AS n,
        |         sum(cnt) OVER (ORDER BY v) AS cum
        |  FROM svals),
        |sbuckets AS (
        |  SELECT ((cum - cnt) * 16) // n AS bucket,
        |         min(v) AS b_lo, max(v) AS b_hi, sum(cnt) AS b_cnt
        |  FROM scum GROUP BY 1),
        |bounds AS (
        |  SELECT CAST(min(l_orderkey) AS BIGINT) AS lo,
        |         CAST(max(l_orderkey) AS BIGINT) AS hi
        |  FROM lineitem),
        |preds AS (
        |  SELECT 'narrow' AS pred_label, lo AS p_lo,
        |         lo + (hi - lo + 1) // 50 - 1 AS p_hi FROM bounds
        |  UNION ALL
        |  SELECT 'wide', lo, lo + (4 * (hi - lo + 1)) // 5 - 1 FROM bounds),
        |este AS (
        |  SELECT pred_label,
        |         CAST(sum(b_cnt * (((least(p_hi, b_hi)
        |           - greatest(p_lo, b_lo) + 1) * 1000000)
        |           // (b_hi - b_lo + 1))) AS BIGINT) AS est_e6
        |  FROM preds JOIN buckets ON b_hi >= p_lo AND b_lo <= p_hi
        |  GROUP BY 1),
        |ests AS (
        |  SELECT pred_label,
        |         CAST(sum(b_cnt * (((least(p_hi, b_hi)
        |           - greatest(p_lo, b_lo) + 1) * 1000000)
        |           // (b_hi - b_lo + 1))) AS BIGINT) AS est_s6
        |  FROM preds JOIN sbuckets ON b_hi >= p_lo AND b_lo <= p_hi
        |  GROUP BY 1),
        |acts AS (
        |  SELECT p.pred_label, CAST(count(*) AS BIGINT) AS act
        |  FROM preds p JOIN lineitem l
        |    ON CAST(l.l_orderkey AS BIGINT) BETWEEN p.p_lo AND p.p_hi
        |  GROUP BY 1),
        |st AS (
        |  SELECT (SELECT CAST(count(*) AS BIGINT) FROM orders) AS nord,
        |    (SELECT CAST(count(DISTINCT o_orderkey) AS BIGINT)
        |       FROM orders) AS ndv_oo,
        |    (SELECT CAST(count(DISTINCT o_custkey) AS BIGINT)
        |       FROM orders) AS ndv_oc,
        |    (SELECT CAST(count(*) AS BIGINT) FROM customer) AS ncust,
        |    (SELECT CAST(count(DISTINCT c_custkey) AS BIGINT)
        |       FROM customer) AS ndv_cc),
        |calc AS (
        |  SELECT p.pred_label, p.p_lo, p.p_hi, e.est_e6, s.est_s6, a.act,
        |    CAST((e.est_e6 // 1000000) * st.nord // st.ndv_oo AS BIGINT)
        |      AS est_li_e,
        |    CAST((s.est_s6 // 1000000) * st.nord // st.ndv_oo AS BIGINT)
        |      AS est_li_s,
        |    CAST((st.nord * st.ncust) // greatest(st.ndv_oc, st.ndv_cc)
        |      AS BIGINT) AS est_oc,
        |    greatest(s.est_s6 // 8000000, 1) AS cs
        |  FROM preds p
        |  JOIN este e USING (pred_label) JOIN ests s USING (pred_label)
        |  JOIN acts a USING (pred_label), st),
        |flags AS (
        |  SELECT *,
        |    CAST(est_li_s - est_oc AS HUGEINT)
        |      * CAST(est_li_s - est_oc AS HUGEINT) * cs
        |      > 9 * CAST(est_li_s AS HUGEINT) * CAST(est_li_s AS HUGEINT)
        |      AS robust,
        |    CASE WHEN est_oc <= est_li_e THEN 'orders_customer_first'
        |      ELSE 'lineitem_orders_first' END AS chosen_e,
        |    CASE WHEN est_oc <= est_li_s THEN 'orders_customer_first'
        |      ELSE 'lineitem_orders_first' END AS chosen_s
        |  FROM calc),
        |rt AS (
        |  SELECT *,
        |    CASE WHEN robust THEN 'sampled' ELSE 'exact_fallback' END
        |      AS route_used,
        |    chosen_s = chosen_e AS agrees
        |  FROM flags),
        |fins AS (
        |  SELECT p.pred_label, CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |    CAST(sum(CAST(c.c_custkey AS BIGINT)) AS BIGINT) AS sum_cust
        |  FROM preds p
        |  JOIN lineitem l
        |    ON CAST(l.l_orderkey AS BIGINT) BETWEEN p.p_lo AND p.p_hi
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  GROUP BY 1)
        |SELECT r.pred_label, r.p_lo, r.p_hi, 'exact' AS route,
        |  r.est_e6 AS est_filtered_e6,
        |  CAST(CASE WHEN r.act > 0
        |    THEN abs(r.est_e6 - r.act * 1000000) // r.act
        |    ELSE r.est_e6 END AS BIGINT) AS err_ppm,
        |  r.est_li_e AS est_intermediate, r.chosen_e AS chosen_order,
        |  r.robust AS margin_robust, r.route_used,
        |  r.agrees AS choice_agrees, f.n_rows, f.sum_qty, f.sum_cust
        |FROM rt r JOIN fins f USING (pred_label)
        |UNION ALL
        |SELECT r.pred_label, r.p_lo, r.p_hi, 'sampled', r.est_s6,
        |  CAST(CASE WHEN r.act > 0
        |    THEN abs(r.est_s6 - r.act * 1000000) // r.act
        |    ELSE r.est_s6 END AS BIGINT),
        |  r.est_li_s, r.chosen_s, r.robust, r.route_used, r.agrees,
        |  f.n_rows, f.sum_qty, f.sum_cust
        |FROM rt r JOIN fins f USING (pred_label)""".stripMargin,
    // the whole decision trace re-derived: both histograms and the band
    // check (row 1), the routed join-order choice and exact intermediate
    // (row 2), PK/orphan conditions and the scan count (row 3), grid
    // marginals vs the group fold against n/8 (row 4), and the learned
    // correction applied to rectangle B (row 5) — plus each part's
    // executed aggregate
    "q247_optimizer_capstone" ->
      """WITH st AS (
        |  SELECT (SELECT CAST(count(*) AS BIGINT) FROM orders) AS nord,
        |    (SELECT CAST(count(DISTINCT o_orderkey) AS BIGINT)
        |       FROM orders) AS ndv_oo,
        |    (SELECT CAST(count(DISTINCT o_custkey) AS BIGINT)
        |       FROM orders) AS ndv_oc,
        |    (SELECT CAST(count(*) AS BIGINT) FROM customer) AS ncust,
        |    (SELECT CAST(count(DISTINCT c_custkey) AS BIGINT)
        |       FROM customer) AS ndv_cc,
        |    (SELECT CAST(min(l_orderkey) AS BIGINT) FROM lineitem) AS lo,
        |    (SELECT CAST(max(l_orderkey) AS BIGINT) FROM lineitem) AS hi),
        |pred AS (
        |  SELECT lo AS p_lo, lo + (hi - lo + 1) // 5 - 1 AS p_hi FROM st),
        |vals AS (
        |  SELECT CAST(l_orderkey AS BIGINT) AS v, count(*) AS cnt
        |  FROM lineitem GROUP BY 1),
        |cum AS (
        |  SELECT v, cnt, sum(cnt) OVER () AS n,
        |         sum(cnt) OVER (ORDER BY v) AS cum
        |  FROM vals),
        |buckets AS (
        |  SELECT ((cum - cnt) * 16) // n AS bucket,
        |         min(v) AS b_lo, max(v) AS b_hi, sum(cnt) AS b_cnt
        |  FROM cum GROUP BY 1),
        |svals AS (
        |  SELECT CAST(l_orderkey AS BIGINT) AS v, count(*) * 8 AS cnt
        |  FROM lineitem WHERE l_orderkey % 8 = 0 GROUP BY 1),
        |scum AS (
        |  SELECT v, cnt, sum(cnt) OVER () AS n,
        |         sum(cnt) OVER (ORDER BY v) AS cum
        |  FROM svals),
        |sbuckets AS (
        |  SELECT ((cum - cnt) * 16) // n AS bucket,
        |         min(v) AS b_lo, max(v) AS b_hi, sum(cnt) AS b_cnt
        |  FROM scum GROUP BY 1),
        |este AS (
        |  SELECT CAST(sum(b_cnt * (((least(p_hi, b_hi)
        |    - greatest(p_lo, b_lo) + 1) * 1000000)
        |    // (b_hi - b_lo + 1))) AS BIGINT) AS est_e6
        |  FROM pred JOIN buckets ON b_hi >= p_lo AND b_lo <= p_hi),
        |ests AS (
        |  SELECT CAST(sum(b_cnt * (((least(p_hi, b_hi)
        |    - greatest(p_lo, b_lo) + 1) * 1000000)
        |    // (b_hi - b_lo + 1))) AS BIGINT) AS est_s6
        |  FROM pred JOIN sbuckets ON b_hi >= p_lo AND b_lo <= p_hi),
        |calc AS (
        |  SELECT st.*, p.p_lo, p.p_hi, e.est_e6, s.est_s6,
        |    (s.est_s6 // 1000000) * st.nord // st.ndv_oo AS est_li_s,
        |    (st.nord * st.ncust) // greatest(st.ndv_oc, st.ndv_cc)
        |      AS est_oc,
        |    greatest(s.est_s6 // 8000000, 1) AS cs
        |  FROM st, pred p, este e, ests s),
        |rt AS (
        |  SELECT *,
        |    CAST(est_li_s - est_oc AS HUGEINT)
        |      * CAST(est_li_s - est_oc AS HUGEINT) * cs
        |      > 9 * CAST(est_li_s AS HUGEINT) * CAST(est_li_s AS HUGEINT)
        |      AS robust
        |  FROM calc),
        |rt2 AS (
        |  SELECT *,
        |    CASE WHEN robust THEN 'sampled' ELSE 'exact_fallback' END
        |      AS route,
        |    (CASE WHEN robust THEN est_s6 ELSE est_e6 END // 1000000)
        |      * nord // ndv_oo AS est_li_used
        |  FROM rt),
        |ch AS (
        |  SELECT *,
        |    CASE WHEN est_oc <= est_li_used THEN 'orders_customer_first'
        |      ELSE 'lineitem_orders_first' END AS chosen
        |  FROM rt2),
        |actli AS (
        |  SELECT CAST(coalesce(sum(a.ca * b.cb), 0) AS BIGINT) AS act_li
        |  FROM (SELECT CAST(l_orderkey AS BIGINT) AS k, count(*) AS ca
        |        FROM lineitem, pred
        |        WHERE CAST(l_orderkey AS BIGINT) BETWEEN p_lo AND p_hi
        |        GROUP BY 1) a
        |  JOIN (SELECT CAST(o_orderkey AS BIGINT) AS k, count(*) AS cb
        |        FROM orders GROUP BY 1) b ON b.k = a.k),
        |rep AS (
        |  SELECT CAST(count(*) AS BIGINT) AS rep_n,
        |    CAST(coalesce(sum(CAST(l.l_quantity AS BIGINT)), 0) AS BIGINT)
        |      AS rep_sq,
        |    CAST(coalesce(sum(CAST(c.c_custkey AS BIGINT)), 0) AS BIGINT)
        |      AS rep_sc
        |  FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey, pred p
        |  WHERE CAST(l.l_orderkey AS BIGINT) BETWEEN p.p_lo AND p.p_hi),
        |fkd AS (
        |  SELECT CAST(count(DISTINCT o_orderkey) AS BIGINT) AS pk_ndv,
        |    (SELECT CAST(count(*) AS BIGINT) FROM lineitem
        |     WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders))
        |      AS orphans,
        |    count(DISTINCT o_orderkey) = count(*)
        |      AND (SELECT count(*) FROM lineitem
        |           WHERE l_orderkey NOT IN
        |             (SELECT o_orderkey FROM orders)) = 0 AS eliminated
        |  FROM orders),
        |cnt AS (
        |  SELECT CAST(count(*) AS BIGINT) AS lone_n,
        |    CAST(coalesce(sum(CAST(l_quantity AS BIGINT)), 0) AS BIGINT)
        |      AS lone_sq
        |  FROM lineitem, pred
        |  WHERE CAST(l_orderkey AS BIGINT) BETWEEN p_lo AND p_hi),
        |cntj AS (
        |  SELECT CAST(count(*) AS BIGINT) AS j_n,
        |    CAST(coalesce(sum(CAST(l.l_quantity AS BIGINT)), 0) AS BIGINT)
        |      AS j_sq
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey,
        |    pred p
        |  WHERE CAST(l.l_orderkey AS BIGINT) BETWEEN p.p_lo AND p.p_hi),
        |bnd AS (
        |  SELECT min(event_id) AS id_min, max(event_id) AS id_max,
        |    min(epoch_us(CAST(ts AS TIMESTAMP))) AS ts_min,
        |    max(epoch_us(CAST(ts AS TIMESTAMP))) AS ts_max,
        |    CAST(count(*) AS BIGINT) AS n_ev
        |  FROM events),
        |ev AS (
        |  SELECT (event_id - id_min) * 8 // (id_max - id_min + 1) AS b_id,
        |    (epoch_us(CAST(ts AS TIMESTAMP)) - ts_min) * 8
        |      // (ts_max - ts_min + 1) AS b_ts,
        |    user_id
        |  FROM events, bnd),
        |g AS (
        |  SELECT (SELECT n_ev FROM bnd) AS n_ev,
        |    (SELECT count(*) FROM ev WHERE b_id BETWEEN 0 AND 1) AS na_a,
        |    (SELECT count(*) FROM ev WHERE b_ts BETWEEN 0 AND 1) AS nb_a,
        |    (SELECT count(*) FROM ev WHERE b_id BETWEEN 0 AND 1
        |       AND b_ts BETWEEN 0 AND 1) AS actual_a,
        |    (SELECT CAST(coalesce(sum(user_id), 0) AS BIGINT) FROM ev
        |     WHERE b_id BETWEEN 0 AND 1 AND b_ts BETWEEN 0 AND 1)
        |      AS sum_uid_a,
        |    (SELECT count(*) FROM ev WHERE b_id BETWEEN 4 AND 5) AS na_c,
        |    (SELECT count(*) FROM ev WHERE b_ts BETWEEN 4 AND 5) AS nb_c,
        |    (SELECT count(*) FROM ev WHERE b_id BETWEEN 4 AND 5
        |       AND b_ts BETWEEN 4 AND 5) AS actual_c,
        |    (SELECT count(*) FROM ev WHERE b_id BETWEEN 6 AND 7) AS na_d,
        |    (SELECT count(*) FROM ev WHERE b_ts BETWEEN 6 AND 7) AS nb_d,
        |    (SELECT count(*) FROM ev WHERE b_id BETWEEN 6 AND 7
        |       AND b_ts BETWEEN 6 AND 7) AS actual_d,
        |    (SELECT count(*) FROM ev WHERE b_id BETWEEN 2 AND 3) AS na_b,
        |    (SELECT count(*) FROM ev WHERE b_ts BETWEEN 2 AND 3) AS nb_b,
        |    (SELECT count(*) FROM ev WHERE b_id BETWEEN 2 AND 3
        |       AND b_ts BETWEEN 2 AND 3) AS actual_b,
        |    (SELECT CAST(coalesce(sum(user_id), 0) AS BIGINT) FROM ev
        |     WHERE b_id BETWEEN 2 AND 3 AND b_ts BETWEEN 2 AND 3)
        |      AS sum_uid_b),
        |gs AS (
        |  SELECT *, na_a * nb_a // n_ev AS est_indep_a,
        |    actual_a AS est_group_a, n_ev // 8 AS threshold,
        |    na_b * nb_b // n_ev AS est_b_raw
        |  FROM g),
        |fb AS (
        |  SELECT *,
        |    (actual_a + actual_c + actual_d) * 1000000
        |      // greatest(est_indep_a + na_c * nb_c // n_ev
        |                  + na_d * nb_d // n_ev, 1) AS corr_e6
        |  FROM gs),
        |ap AS (
        |  SELECT *, est_b_raw * corr_e6 // 1000000 AS est_b_corr FROM fb),
        |fbf AS (
        |  SELECT *,
        |    CASE WHEN actual_b > 0 THEN abs(est_b_raw - actual_b)
        |      * 1000000 // actual_b ELSE est_b_raw * 1000000 END
        |      AS err_raw,
        |    CASE WHEN actual_b > 0 THEN abs(est_b_corr - actual_b)
        |      * 1000000 // actual_b ELSE est_b_corr * 1000000 END
        |      AS err_corr
        |  FROM ap)
        |SELECT 'hist_route' AS step, 'report' AS part, route AS decision,
        |  est_s6 AS input_a, est_e6 AS input_b,
        |  CAST(est_li_used AS BIGINT) AS output, robust AS flag,
        |  rep_n AS n_rows, rep_sq AS sum_a, rep_sc AS sum_b
        |FROM ch, rep
        |UNION ALL
        |SELECT 'join_order', 'report', chosen,
        |  CAST(est_li_used AS BIGINT), CAST(est_oc AS BIGINT), act_li,
        |  chosen = 'lineitem_orders_first', rep_n, rep_sq, rep_sc
        |FROM ch, actli, rep
        |UNION ALL
        |SELECT 'fk_elim', 'count_leg',
        |  CASE WHEN eliminated THEN 'eliminated' ELSE 'kept' END,
        |  pk_ndv, orphans,
        |  CAST(CASE WHEN eliminated THEN 1 ELSE 2 END AS BIGINT),
        |  eliminated,
        |  CASE WHEN eliminated THEN lone_n ELSE j_n END,
        |  CASE WHEN eliminated THEN lone_sq ELSE j_sq END,
        |  CAST(0 AS BIGINT)
        |FROM fkd, cnt, cntj
        |UNION ALL
        |SELECT 'group_stat', 'corner_a',
        |  CASE WHEN est_group_a <= threshold THEN 'broadcast'
        |    ELSE 'shuffle' END,
        |  CAST(est_indep_a AS BIGINT), CAST(est_group_a AS BIGINT),
        |  CAST(threshold AS BIGINT),
        |  (actual_a <= threshold) = (est_group_a <= threshold),
        |  CAST(actual_a AS BIGINT), sum_uid_a, CAST(0 AS BIGINT)
        |FROM fbf
        |UNION ALL
        |SELECT 'feedback', 'corner_b', 'applied',
        |  CAST(est_b_raw AS BIGINT), CAST(est_b_corr AS BIGINT), corr_e6,
        |  err_corr < err_raw, CAST(actual_b AS BIGINT), sum_uid_b,
        |  CAST(0 AS BIGINT)
        |FROM fbf""".stripMargin,
    // sufficient statistics, both estimators, and both errors re-derived
    // in integer SQL from the same deterministic key-partition sample
    "q242_sampled_analyze" ->
      """WITH cols(column_name) AS (VALUES ('l_partkey'), ('l_suppkey')),
        |s AS (
        |  SELECT 'l_partkey' AS column_name, l_partkey AS v
        |  FROM lineitem WHERE l_orderkey % 8 = 0
        |  UNION ALL
        |  SELECT 'l_suppkey', l_suppkey
        |  FROM lineitem WHERE l_orderkey % 8 = 0),
        |g AS (SELECT column_name, v, count(*) AS c FROM s GROUP BY 1, 2),
        |m AS (
        |  SELECT column_name,
        |    CAST(count(*) AS BIGINT) AS d_sample,
        |    CAST(count(*) FILTER (WHERE c = 1) AS BIGINT) AS f1,
        |    CAST(count(*) FILTER (WHERE c = 2) AS BIGINT) AS f2,
        |    CAST(sum(c) AS BIGINT) AS n_sample
        |  FROM g GROUP BY 1),
        |ex AS (
        |  SELECT 'l_partkey' AS column_name,
        |    CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(count(DISTINCT l_partkey) AS BIGINT) AS ndv_exact
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'l_suppkey', CAST(count(*) AS BIGINT),
        |    CAST(count(DISTINCT l_suppkey) AS BIGINT) FROM lineitem),
        |est AS (
        |  SELECT m.column_name, ex.n_rows, m.n_sample, m.d_sample,
        |    m.f1, m.f2, m.d_sample * 8 AS est_naive,
        |    CASE WHEN m.f2 > 0 THEN m.d_sample + (m.f1 * m.f1)
        |      // (2 * m.f2)
        |      ELSE m.d_sample + (m.f1 * (m.f1 - 1)) // 2 END AS est_chao,
        |    ex.ndv_exact
        |  FROM m JOIN ex USING (column_name))
        |SELECT column_name, n_rows, n_sample, d_sample, f1, f2,
        |  est_naive, est_chao, ndv_exact,
        |  CASE WHEN ndv_exact > 0 THEN abs(est_naive - ndv_exact)
        |    * 1000000 // ndv_exact ELSE est_naive * 1000000 END
        |    AS naive_err_ppm,
        |  CASE WHEN ndv_exact > 0 THEN abs(est_chao - ndv_exact)
        |    * 1000000 // ndv_exact ELSE est_chao * 1000000 END
        |    AS chao_err_ppm
        |FROM est""".stripMargin,
    // per tick: the tick's row count and its orphan count against the
    // PK snapshot — the clean fixture's zeros DERIVED, never assumed
    "q241_fk_integrity_stats" ->
      """SELECT CAST(l_orderkey % 4 AS BIGINT) AS ingest_batch,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(*) FILTER (WHERE l_orderkey NOT IN
        |    (SELECT o_orderkey FROM orders)) AS BIGINT) AS n_orphans
        |FROM lineitem GROUP BY 1""".stripMargin,
    // decision inputs (PK counts, orphan count), the derived flag, both
    // answers (equal under FK), and the plan-fact scan counts (1 vs 2 —
    // the q217/q218 planner-fact discipline) all re-derived
    "q240_fk_join_elimination" ->
      """WITH pk AS (
        |  SELECT CAST(count(*) AS BIGINT) AS pk_rows,
        |    CAST(count(DISTINCT o_orderkey) AS BIGINT) AS pk_ndv
        |  FROM orders),
        |orph AS (
        |  SELECT CAST(count(*) AS BIGINT) AS orphans FROM lineitem
        |  WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)),
        |a AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |  FROM lineitem),
        |d AS (SELECT pk_rows, pk_ndv, orphans,
        |    (pk_ndv = pk_rows AND orphans = 0) AS eliminated
        |  FROM pk, orph)
        |SELECT d.pk_rows, d.pk_ndv, d.orphans, d.eliminated,
        |  a.n_rows, a.sum_qty,
        |  CASE WHEN d.eliminated THEN CAST(1 AS BIGINT)
        |    ELSE CAST(2 AS BIGINT) END AS n_scans,
        |  a.n_rows AS n_rows_joined, a.sum_qty AS sum_qty_joined,
        |  CAST(2 AS BIGINT) AS n_scans_joined,
        |  TRUE AS answers_match
        |FROM d, a""".stripMargin,
    // every stored partial re-derived in one GROUP BY over raw events
    // (tick = event_id % 4, buckets under the full-table ANALYZE
    // bounds) — the store is hash-checked at the (tick, cell) grain
    "q238_incremental_group_stats" ->
      """WITH bnd AS (
        |  SELECT min(event_id) AS id_min, max(event_id) AS id_max,
        |    min(epoch_us(CAST(ts AS TIMESTAMP))) AS ts_min,
        |    max(epoch_us(CAST(ts AS TIMESTAMP))) AS ts_max
        |  FROM events)
        |SELECT CAST(event_id % 4 AS BIGINT) AS ingest_batch,
        |  (event_id - id_min) * 8 // (id_max - id_min + 1) AS b_id,
        |  (epoch_us(CAST(ts AS TIMESTAMP)) - ts_min) * 8
        |    // (ts_max - ts_min + 1) AS b_ts,
        |  CAST(count(*) AS BIGINT) AS n_rows
        |FROM events, bnd
        |GROUP BY 1, 2, 3""".stripMargin,
    // the compacted generation IS the direct base aggregate (the monoid
    // property); partial rows before = the distinct (tick, group) count
    "q239_matview_compaction" ->
      """WITH g AS (
        |  SELECT o_orderstatus, o_orderpriority,
        |    CAST(count(*) AS BIGINT) AS n_orders,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
        |      AS sum_price
        |  FROM orders GROUP BY 1, 2),
        |pre AS (
        |  SELECT CAST(count(*) AS BIGINT) AS nb FROM (
        |    SELECT DISTINCT o_orderkey % 4, o_orderstatus,
        |      o_orderpriority FROM orders))
        |SELECT g.o_orderstatus, g.o_orderpriority, g.n_orders,
        |  g.sum_price, pre.nb AS n_partials_before,
        |  (SELECT CAST(count(*) AS BIGINT) FROM g) AS n_rows_after,
        |  CAST(1 AS BIGINT) AS generation
        |FROM g, pre""".stripMargin,
    // estimates, threshold, advices, DERIVED correctness flags, both
    // arms' shapes and exact counts/sums — all re-derived in integer SQL
    "q237_cbo_group_stat_join" ->
      """WITH bnd AS (
        |  SELECT min(event_id) AS id_min, max(event_id) AS id_max,
        |    min(epoch_us(CAST(ts AS TIMESTAMP))) AS ts_min,
        |    max(epoch_us(CAST(ts AS TIMESTAMP))) AS ts_max,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events),
        |e AS (
        |  SELECT user_id,
        |    (event_id - id_min) * 8 // (id_max - id_min + 1) AS b_id,
        |    (epoch_us(CAST(ts AS TIMESTAMP)) - ts_min) * 8
        |      // (ts_max - ts_min + 1) AS b_ts
        |  FROM events, bnd),
        |f AS (SELECT user_id FROM e
        |  WHERE b_id BETWEEN 0 AND 1 AND b_ts BETWEEN 0 AND 1),
        |m AS (
        |  SELECT (SELECT n FROM bnd) AS n_rows,
        |    (SELECT CAST(count(*) AS BIGINT) FROM e
        |       WHERE b_id BETWEEN 0 AND 1) AS n_a,
        |    (SELECT CAST(count(*) AS BIGINT) FROM e
        |       WHERE b_ts BETWEEN 0 AND 1) AS n_b,
        |    (SELECT CAST(count(*) AS BIGINT) FROM f) AS actual_rows),
        |est AS (
        |  SELECT *, n_a * n_b // n_rows AS est_indep,
        |    actual_rows AS est_group, n_rows // 8 AS threshold FROM m),
        |adv AS (
        |  SELECT *,
        |    CASE WHEN est_indep <= threshold THEN 'broadcast'
        |      ELSE 'shuffle' END AS advice_indep,
        |    CASE WHEN est_group <= threshold THEN 'broadcast'
        |      ELSE 'shuffle' END AS advice_group,
        |    CASE WHEN actual_rows <= threshold THEN 'broadcast'
        |      ELSE 'shuffle' END AS advice_actual FROM est),
        |j AS (SELECT CAST(count(*) AS BIGINT) AS nj,
        |    CAST(coalesce(sum(CAST(user_id AS BIGINT)), 0) AS BIGINT) AS sj
        |  FROM f JOIN customer ON user_id = c_custkey),
        |js AS (SELECT CAST(count(*) AS BIGINT) AS njs,
        |    CAST(coalesce(sum(CAST(user_id AS BIGINT)), 0) AS BIGINT) AS sjs
        |  FROM f JOIN customer ON user_id = c_custkey
        |  WHERE user_id % 8 = 0)
        |SELECT 'corr_corner' AS rect, n_rows, n_a, n_b, est_indep,
        |  est_group, threshold, advice_indep, advice_group, actual_rows,
        |  advice_group = advice_actual AS group_advice_correct,
        |  advice_indep = advice_actual AS indep_advice_correct,
        |  CASE WHEN advice_group = 'broadcast' THEN 'BroadcastHashJoin'
        |    ELSE 'SortMergeJoin' END AS executed_join,
        |  j.nj AS n_join_rows, j.sj AS sum_uid,
        |  CASE WHEN advice_indep = 'broadcast' THEN 'BroadcastHashJoin'
        |    ELSE 'SortMergeJoin' END AS executed_join_sampled,
        |  js.njs AS sampled_rows, js.njs * 8 AS scaled_rows,
        |  js.sjs AS sampled_sum
        |FROM adv, j, js""".stripMargin,
    // buckets, marginals, both estimators, and the exact counts all
    // re-derived in integer SQL ('//' keeps the div integer; epoch_us
    // matches unix_micros under the UTC session — the q30 parity)
    "q236_column_group_stats" ->
      """WITH bnd AS (
        |  SELECT min(event_id) AS id_min, max(event_id) AS id_max,
        |    min(epoch_us(CAST(ts AS TIMESTAMP))) AS ts_min,
        |    max(epoch_us(CAST(ts AS TIMESTAMP))) AS ts_max,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events),
        |e AS (
        |  SELECT (event_id - id_min) * 8 // (id_max - id_min + 1) AS b_id,
        |    (epoch_us(CAST(ts AS TIMESTAMP)) - ts_min) * 8
        |      // (ts_max - ts_min + 1) AS b_ts
        |  FROM events, bnd),
        |occ AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_pair,
        |    CAST(count(DISTINCT b_id) AS BIGINT) AS n_id_b,
        |    CAST(count(DISTINCT b_ts) AS BIGINT) AS n_ts_b
        |  FROM (SELECT DISTINCT b_id, b_ts FROM e)),
        |rects(rect, il, ih, tl, th) AS (VALUES
        |  ('corr_corner', 0, 1, 0, 1), ('corr_half', 0, 3, 0, 3),
        |  ('anti_diag', 0, 1, 6, 7), ('full', 0, 7, 0, 7)),
        |agg AS (
        |  SELECT r.rect, CAST(r.il AS BIGINT) AS b_id_lo,
        |    CAST(r.ih AS BIGINT) AS b_id_hi,
        |    CAST(r.tl AS BIGINT) AS b_ts_lo,
        |    CAST(r.th AS BIGINT) AS b_ts_hi,
        |    CAST(count(*) FILTER (WHERE e.b_id BETWEEN r.il AND r.ih)
        |      AS BIGINT) AS n_a,
        |    CAST(count(*) FILTER (WHERE e.b_ts BETWEEN r.tl AND r.th)
        |      AS BIGINT) AS n_b,
        |    CAST(count(*) FILTER (WHERE e.b_id BETWEEN r.il AND r.ih
        |      AND e.b_ts BETWEEN r.tl AND r.th) AS BIGINT) AS actual_rows
        |  FROM rects r CROSS JOIN e
        |  GROUP BY 1, 2, 3, 4, 5)
        |SELECT rect, b_id_lo, b_id_hi, b_ts_lo, b_ts_hi,
        |  bnd.n AS n_rows, n_a, n_b, actual_rows,
        |  n_a * n_b // bnd.n AS est_indep,
        |  actual_rows AS est_group, TRUE AS group_exact,
        |  CASE WHEN actual_rows > 0
        |    THEN abs(n_a * n_b // bnd.n - actual_rows) * 1000000
        |      // actual_rows
        |    ELSE (n_a * n_b // bnd.n) * 1000000 END AS err_indep_ppm,
        |  occ.n_pair AS n_pair_buckets, occ.n_id_b AS n_id_buckets,
        |  occ.n_ts_b AS n_ts_buckets
        |FROM agg, bnd, occ""".stripMargin,
    // the sampled inverted arm stays oracle-EXACT because the sample is
    // a key partition (key % 8 = 0 on both sides), not engine RNG; the
    // followed arm's numbers are the full join, the inverted arm's the
    // restricted join, advice + shapes re-derived from the counts
    "q235_cbo_sampled_arm" ->
      """WITH s AS (
        |  SELECT 'customer*nation' AS join_label,
        |    (SELECT CAST(count(*) AS BIGINT) FROM customer) AS n_left,
        |    (SELECT CAST(count(*) AS BIGINT) FROM nation) AS n_right,
        |    (SELECT CAST(count(*) AS BIGINT) FROM customer c
        |       JOIN nation n ON c.c_nationkey = n.n_nationkey) AS full_rows,
        |    (SELECT CAST(coalesce(sum(CAST(c_custkey AS BIGINT)), 0)
        |       AS BIGINT) FROM customer c
        |       JOIN nation n ON c.c_nationkey = n.n_nationkey) AS full_sum,
        |    (SELECT CAST(count(*) AS BIGINT) FROM customer c
        |       JOIN nation n ON c.c_nationkey = n.n_nationkey
        |       WHERE c.c_nationkey % 8 = 0) AS samp_rows,
        |    (SELECT CAST(coalesce(sum(CAST(c_custkey AS BIGINT)), 0)
        |       AS BIGINT) FROM customer c
        |       JOIN nation n ON c.c_nationkey = n.n_nationkey
        |       WHERE c.c_nationkey % 8 = 0) AS samp_sum
        |  UNION ALL
        |  SELECT 'lineitem*orders',
        |    (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
        |    (SELECT CAST(count(*) AS BIGINT) FROM orders),
        |    (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
        |       JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |    (SELECT CAST(coalesce(sum(CAST(l_quantity AS BIGINT)), 0)
        |       AS BIGINT) FROM lineitem l
        |       JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |    (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
        |       JOIN orders o ON l.l_orderkey = o.o_orderkey
        |       WHERE l.l_orderkey % 8 = 0) AS samp_rows,
        |    (SELECT CAST(coalesce(sum(CAST(l_quantity AS BIGINT)), 0)
        |       AS BIGINT) FROM lineitem l
        |       JOIN orders o ON l.l_orderkey = o.o_orderkey
        |       WHERE l.l_orderkey % 8 = 0) AS samp_sum),
        |adv AS (
        |  SELECT *, CASE WHEN least(n_left, n_right) <= 10000
        |    THEN 'broadcast' ELSE 'shuffle' END AS advice FROM s),
        |arms AS (
        |  SELECT join_label, advice, n_left, n_right,
        |    'followed' AS arm, TRUE AS followed, advice AS executed,
        |    CAST(1 AS BIGINT) AS sample_mod, full_rows AS n_rows,
        |    full_rows AS scaled_rows, full_sum AS sum_val FROM adv
        |  UNION ALL
        |  SELECT join_label, advice, n_left, n_right, 'inverted', FALSE,
        |    CASE WHEN advice = 'broadcast' THEN 'shuffle'
        |      ELSE 'broadcast' END,
        |    CAST(8 AS BIGINT), samp_rows, samp_rows * 8, samp_sum
        |  FROM adv)
        |SELECT join_label, arm, advice,
        |  CASE WHEN executed = 'broadcast' THEN 'BroadcastHashJoin'
        |    ELSE 'SortMergeJoin' END AS executed_join,
        |  followed, sample_mod, n_left, n_right, n_rows, scaled_rows,
        |  sum_val
        |FROM arms""".stripMargin,
    "q221_cbo_plan_flip" ->
      """WITH s AS (
        |  SELECT 'customer*nation' AS join_label,
        |    (SELECT CAST(count(*) AS BIGINT) FROM customer) AS n_left,
        |    (SELECT CAST(count(*) AS BIGINT) FROM nation) AS n_right,
        |    (SELECT CAST(count(*) AS BIGINT) FROM customer c
        |       JOIN nation n ON c.c_nationkey = n.n_nationkey) AS n_rows,
        |    (SELECT CAST(sum(CAST(c_custkey AS BIGINT)) AS BIGINT)
        |       FROM customer c
        |       JOIN nation n ON c.c_nationkey = n.n_nationkey) AS sum_val
        |  UNION ALL
        |  SELECT 'lineitem*orders',
        |    (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
        |    (SELECT CAST(count(*) AS BIGINT) FROM orders),
        |    (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
        |       JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |    (SELECT CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT)
        |       FROM lineitem l
        |       JOIN orders o ON l.l_orderkey = o.o_orderkey)),
        |adv AS (
        |  SELECT *, CASE WHEN least(n_left, n_right) <= 10000
        |    THEN 'broadcast' ELSE 'shuffle' END AS advice FROM s),
        |arms AS (
        |  SELECT *, 'followed' AS arm, TRUE AS followed,
        |    advice AS executed FROM adv
        |  UNION ALL
        |  SELECT *, 'inverted', FALSE,
        |    CASE WHEN advice = 'broadcast' THEN 'shuffle'
        |      ELSE 'broadcast' END FROM adv)
        |SELECT join_label, arm, advice,
        |  CASE WHEN executed = 'broadcast' THEN 'BroadcastHashJoin'
        |    ELSE 'SortMergeJoin' END AS executed_join,
        |  followed, n_left, n_right,
        |  CAST(10000 AS BIGINT) AS broadcast_limit, n_rows, sum_val
        |FROM arms""".stripMargin,
    "q219_aqe_skew_join" ->
      """WITH fact AS (
        |  SELECT CASE WHEN l_orderkey % 10 <> 0 THEN 1
        |    ELSE CAST(l_partkey AS BIGINT) END AS k,
        |    l_quantity
        |  FROM lineitem),
        |dim AS (SELECT CAST(p_partkey AS BIGINT) AS k,
        |               CAST(p_partkey % 7 AS BIGINT) AS grp FROM part)
        |SELECT grp, CAST(count(*) AS BIGINT) AS n_rows,
        |  sum(l_quantity) AS sum_qty, TRUE AS skew_split_planned
        |FROM fact JOIN dim USING (k) GROUP BY 1""".stripMargin,
    // the aggregate re-derived exactly; the planner flag pinned TRUE
    // (engine-plan-specific — the q154 estimator-audit discipline)
    "q218_runtime_bloom_join" ->
      """SELECT TRUE AS runtime_filter_planned,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  sum(l_quantity) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand = 'Brand#13' AND p_size <= 25""".stripMargin,
    // every side re-derived: the month dim from the fact's dates, the
    // pruning decision (surviving months), and the joined aggregate
    "q217_dpp_join" ->
      """WITH m AS (
        |  SELECT DISTINCT strftime(l_shipdate, '%Y-%m') AS ship_month
        |  FROM lineitem),
        |md AS (
        |  SELECT ship_month FROM m
        |  WHERE CAST(substr(ship_month, 1, 4) AS INT) = 1998
        |    AND (CAST(substr(ship_month, 6, 2) AS INT) - 1) // 3 + 1 = 2),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_months_total FROM m),
        |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_months_dim FROM md),
        |j AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |         sum(l_quantity) AS sum_qty,
        |         round(sum(l_extendedprice), 2) AS revenue
        |  FROM lineitem
        |  WHERE strftime(l_shipdate, '%Y-%m') IN (SELECT ship_month FROM md))
        |SELECT n_months_total, n_months_dim, n_rows, sum_qty, revenue
        |FROM tot, nd, j""".stripMargin,
    // exact sides re-derived per (table, column); the HLL++ value is
    // engine-hash-specific so the hashed output carries the 3-sigma
    // bound FLAG, pinned TRUE (the q154/q166 estimator discipline)
    "q216_ndv_sketch" ->
      Seq(("lineitem", "l_orderkey", Seq(50000L)),
          ("lineitem", "l_partkey", Seq(50000L)),
          ("lineitem", "l_suppkey", Seq(50000L)),
          ("events", "user_id", Seq(50000L, 10000L)),
          ("documents", "source", Seq(50000L, 10000L)))
        .flatMap { case (t, c, rs) => rs.map(r =>
          s"""SELECT '$t' AS table_name, '$c' AS column_name,
             |  CAST($r AS BIGINT) AS rsd_ppm,
             |  (SELECT CAST(count(*) AS BIGINT) FROM $t) AS n_rows,
             |  (SELECT CAST(count(DISTINCT $c) AS BIGINT) FROM $t)
             |    AS ndv_exact,
             |  TRUE AS within_bound""".stripMargin) }
        .mkString("", "\nUNION ALL\n", ""),
    // A52's honest negative: same exact integer machinery over the
    // planted 90%-hot column, plain equi-depth vs the heavy-hitter
    // hybrid (singletons where cnt*16 >= n, equi-depth over the tail)
    "q215_selectivity_skew" ->
      """WITH b AS (
        |  SELECT CAST(min(l_partkey) AS BIGINT) AS lo,
        |         CAST(max(l_partkey) AS BIGINT) AS hi
        |  FROM lineitem),
        |rel AS (
        |  SELECT CASE WHEN l_orderkey % 10 <> 0
        |    THEN lo + (hi - lo + 1) // 2
        |    ELSE CAST(l_partkey AS BIGINT) END AS v
        |  FROM lineitem, b),
        |cnts AS (SELECT v, CAST(count(*) AS BIGINT) AS cnt
        |         FROM rel GROUP BY 1),
        |nn AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM cnts),
        |plainb AS (
        |  SELECT bucket, min(v) AS b_lo, max(v) AS b_hi,
        |         sum(cnt) AS b_cnt FROM (
        |    SELECT v, cnt,
        |           ((sum(cnt) OVER (ORDER BY v) - cnt) * 16) // n AS bucket
        |    FROM cnts, nn) t GROUP BY 1),
        |heavy AS (SELECT v, cnt FROM cnts, nn WHERE cnt * 16 >= n),
        |rest AS (SELECT v, cnt FROM cnts
        |         WHERE v NOT IN (SELECT v FROM heavy)),
        |nrest AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM rest),
        |restb AS (
        |  SELECT bucket, min(v) AS b_lo, max(v) AS b_hi,
        |         sum(cnt) AS b_cnt FROM (
        |    SELECT v, cnt,
        |           ((sum(cnt) OVER (ORDER BY v) - cnt) * 16) // n AS bucket
        |    FROM rest, nrest) t GROUP BY 1),
        |preds AS (
        |  SELECT j AS pred_id,
        |         lo + (j * (hi - lo + 1)) // 8 AS p_lo,
        |         lo + (j * (hi - lo + 1)) // 8 + (hi - lo + 1) // 4 AS p_hi
        |  FROM range(6) t(j), b),
        |est_plain AS (
        |  SELECT pred_id, p_lo, p_hi,
        |    CAST(coalesce(sum(b_cnt *
        |      (((least(p_hi, b_hi) - greatest(p_lo, b_lo) + 1) * 1000000)
        |        // (b_hi - b_lo + 1))), 0) AS BIGINT) AS est_plain_e6
        |  FROM preds LEFT JOIN plainb ON b_hi >= p_lo AND b_lo <= p_hi
        |  GROUP BY 1, 2, 3),
        |est_rest AS (
        |  SELECT pred_id, p_lo, p_hi,
        |    CAST(coalesce(sum(b_cnt *
        |      (((least(p_hi, b_hi) - greatest(p_lo, b_lo) + 1) * 1000000)
        |        // (b_hi - b_lo + 1))), 0) AS BIGINT) AS est_rest_e6
        |  FROM preds LEFT JOIN restb ON b_hi >= p_lo AND b_lo <= p_hi
        |  GROUP BY 1, 2, 3),
        |est_hh AS (
        |  SELECT pred_id, p_lo, p_hi,
        |    CAST(coalesce(sum(cnt * 1000000), 0) AS BIGINT) AS est_hh_e6
        |  FROM preds LEFT JOIN heavy ON v BETWEEN p_lo AND p_hi
        |  GROUP BY 1, 2, 3),
        |actual AS (
        |  SELECT pred_id, CAST(count(v) AS BIGINT) AS actual_rows
        |  FROM preds LEFT JOIN rel ON v BETWEEN p_lo AND p_hi
        |  GROUP BY 1),
        |nh AS (SELECT CAST(count(*) AS BIGINT) AS n_heavy FROM heavy)
        |SELECT 'planted_hot' AS column_name, pred_id, p_lo, p_hi,
        |  actual_rows, est_plain_e6,
        |  est_rest_e6 + est_hh_e6 AS est_hybrid_e6,
        |  CAST(CASE WHEN actual_rows > 0 THEN
        |    abs(est_plain_e6 - actual_rows * 1000000) // actual_rows
        |    ELSE est_plain_e6 END AS BIGINT) AS err_plain_ppm,
        |  CAST(CASE WHEN actual_rows > 0 THEN
        |    abs(est_rest_e6 + est_hh_e6 - actual_rows * 1000000)
        |      // actual_rows
        |    ELSE est_rest_e6 + est_hh_e6 END AS BIGINT) AS err_hybrid_ppm,
        |  n_heavy
        |FROM preds JOIN est_plain USING (pred_id, p_lo, p_hi)
        |  JOIN est_rest USING (pred_id, p_lo, p_hi)
        |  JOIN est_hh USING (pred_id, p_lo, p_hi)
        |  JOIN actual USING (pred_id) CROSS JOIN nh""".stripMargin,
    "q208_join_cardinality" ->
      Seq(("lineitem*orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
          ("orders*customer", "orders", "o_custkey", "customer", "c_custkey"),
          ("lineitem*part", "lineitem", "l_partkey", "part", "p_partkey"),
          ("events*events", "events", "user_id", "events", "user_id"))
        .map((joinCardSqlFor _).tupled).mkString("", "\nUNION ALL\n", ""),
    // the incrementally-maintained store is a deterministic function of
    // the raw table (tick = ok % 4, file = the q205 bucket), so the
    // oracle re-derives every stats row in one GROUP BY — the q64/q66
    // one-oracle discipline for persisted indexes
    "q209_incremental_zonemap" ->
      """WITH b AS (
        |  SELECT CAST(min(l_orderkey) AS BIGINT) AS omin,
        |         CAST(max(l_orderkey) AS BIGINT) AS omax
        |  FROM lineitem)
        |SELECT CAST(l_orderkey % 4 AS BIGINT) AS ingest_batch,
        |  ((l_orderkey - omin) * 16) // (omax - omin + 1) AS file_id,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(min(l_partkey) AS BIGINT) AS p_lo,
        |  CAST(max(l_partkey) AS BIGINT) AS p_hi,
        |  CAST(min(l_orderkey) AS BIGINT) AS o_lo,
        |  CAST(max(l_orderkey) AS BIGINT) AS o_hi
        |FROM lineitem, b GROUP BY 1, 2""".stripMargin,
    // result ≡ the naive filter by zone-map soundness; the zone counts
    // re-derive from the q209 GROUP BY, so the pruning decision itself
    // is oracle-checked, not just the answer
    "q210_zonemap_pruned_scan" ->
      """WITH b AS (
        |  SELECT CAST(min(l_orderkey) AS BIGINT) AS omin,
        |         CAST(max(l_orderkey) AS BIGINT) AS omax
        |  FROM lineitem),
        |pr AS (
        |  SELECT omin + (omax - omin + 1) // 3 AS lo,
        |         omin + (omax - omin + 1) // 3 + (omax - omin + 1) // 8 AS hi
        |  FROM b),
        |zones AS (
        |  SELECT l_orderkey % 4 AS tick,
        |         ((l_orderkey - omin) * 16) // (omax - omin + 1) AS f,
        |         min(l_orderkey) AS o_lo, max(l_orderkey) AS o_hi
        |  FROM lineitem, b GROUP BY 1, 2)
        |SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM zones) AS n_zones_total,
        |  (SELECT CAST(count(*) AS BIGINT) FROM zones, pr
        |   WHERE o_hi >= lo AND o_lo <= hi) AS n_zones_scanned,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(l_partkey) AS BIGINT) AS sum_partkey,
        |  CAST(min(l_orderkey) AS BIGINT) AS min_ok,
        |  CAST(max(l_orderkey) AS BIGINT) AS max_ok
        |FROM lineitem, pr WHERE l_orderkey BETWEEN lo AND hi""".stripMargin,
    // the compacted store is the q209 store folded over ticks, which by
    // the monoid property equals one GROUP BY over the raw table
    "q211_zone_compaction" ->
      """WITH b AS (
        |  SELECT CAST(min(l_orderkey) AS BIGINT) AS omin,
        |         CAST(max(l_orderkey) AS BIGINT) AS omax
        |  FROM lineitem)
        |SELECT
        |  ((l_orderkey - omin) * 16) // (omax - omin + 1) AS file_id,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(min(l_partkey) AS BIGINT) AS p_lo,
        |  CAST(max(l_partkey) AS BIGINT) AS p_hi,
        |  CAST(min(l_orderkey) AS BIGINT) AS o_lo,
        |  CAST(max(l_orderkey) AS BIGINT) AS o_hi
        |FROM lineitem, b GROUP BY 1""".stripMargin,
    // both histograms, both estimators, and the truth replay in exact
    // // arithmetic (cutoff = lo + 4·D//5; nBuckets=16, nPreds=8)
    "q212_stale_stats" ->
      """WITH b AS (
        |  SELECT CAST(min(l_orderkey) AS BIGINT) AS lo,
        |         CAST(max(l_orderkey) AS BIGINT) AS hi
        |  FROM lineitem),
        |stale_vals AS (
        |  SELECT CAST(l_orderkey AS BIGINT) AS v, count(*) AS cnt
        |  FROM lineitem, b
        |  WHERE l_orderkey <= lo + (4 * (hi - lo + 1)) // 5 GROUP BY 1),
        |stale_cum AS (
        |  SELECT v, cnt, sum(cnt) OVER () AS n,
        |         sum(cnt) OVER (ORDER BY v) AS cum FROM stale_vals),
        |stale_b AS (
        |  SELECT ((cum - cnt) * 16) // n AS bucket, min(v) AS b_lo,
        |         max(v) AS b_hi, sum(cnt) AS b_cnt
        |  FROM stale_cum GROUP BY 1),
        |fresh_vals AS (
        |  SELECT CAST(l_orderkey AS BIGINT) AS v, count(*) AS cnt
        |  FROM lineitem GROUP BY 1),
        |fresh_cum AS (
        |  SELECT v, cnt, sum(cnt) OVER () AS n,
        |         sum(cnt) OVER (ORDER BY v) AS cum FROM fresh_vals),
        |fresh_b AS (
        |  SELECT ((cum - cnt) * 16) // n AS bucket, min(v) AS b_lo,
        |         max(v) AS b_hi, sum(cnt) AS b_cnt
        |  FROM fresh_cum GROUP BY 1),
        |preds AS (
        |  SELECT j AS pred_id, lo + (j * (hi - lo + 1)) // 8 AS p_lo,
        |         least(hi, lo + (j * (hi - lo + 1)) // 8
        |                   + (hi - lo + 1) // 4) AS p_hi
        |  FROM range(8) t(j), b),
        |est_stale AS (
        |  SELECT pred_id, p_lo, p_hi,
        |         sum(CASE WHEN b_cnt IS NULL THEN 0 ELSE b_cnt *
        |           (((least(p_hi, b_hi) - greatest(p_lo, b_lo) + 1)
        |             * 1000000) // (b_hi - b_lo + 1)) END) AS est_stale_e6
        |  FROM preds LEFT JOIN stale_b ON b_hi >= p_lo AND b_lo <= p_hi
        |  GROUP BY 1, 2, 3),
        |est_fresh AS (
        |  SELECT pred_id, p_lo, p_hi,
        |         sum(CASE WHEN b_cnt IS NULL THEN 0 ELSE b_cnt *
        |           (((least(p_hi, b_hi) - greatest(p_lo, b_lo) + 1)
        |             * 1000000) // (b_hi - b_lo + 1)) END) AS est_fresh_e6
        |  FROM preds LEFT JOIN fresh_b ON b_hi >= p_lo AND b_lo <= p_hi
        |  GROUP BY 1, 2, 3),
        |actual AS (
        |  SELECT p.pred_id, count(l.v) AS actual_rows
        |  FROM preds p LEFT JOIN (
        |    SELECT CAST(l_orderkey AS BIGINT) AS v FROM lineitem) l
        |    ON l.v BETWEEN p.p_lo AND p.p_hi GROUP BY 1)
        |SELECT pred_id, p_lo, p_hi,
        |  CAST(actual_rows AS BIGINT) AS actual_rows,
        |  CAST(est_stale_e6 AS BIGINT) AS est_stale_e6,
        |  CAST(est_fresh_e6 AS BIGINT) AS est_fresh_e6,
        |  CAST(CASE WHEN actual_rows > 0 THEN
        |    abs(est_stale_e6 - actual_rows * 1000000) // actual_rows
        |    ELSE est_stale_e6 END AS BIGINT) AS err_stale_ppm,
        |  CAST(CASE WHEN actual_rows > 0 THEN
        |    abs(est_fresh_e6 - actual_rows * 1000000) // actual_rows
        |    ELSE est_fresh_e6 END AS BIGINT) AS err_fresh_ppm
        |FROM est_stale JOIN est_fresh USING (pred_id, p_lo, p_hi)
        |  JOIN actual USING (pred_id)""".stripMargin,
    // the maintained bloom store is deterministic hash math over a
    // deterministic commit split — one hash-and-distinct re-derives it
    "q213_incremental_bloom" ->
      """WITH b AS (
        |  SELECT CAST(min(l_orderkey) AS BIGINT) AS omin,
        |         CAST(max(l_orderkey) AS BIGINT) AS omax
        |  FROM lineitem)
        |SELECT DISTINCT ingest_batch, file_id, pos FROM (
        |  SELECT CAST(l_orderkey % 4 AS BIGINT) AS ingest_batch,
        |         ((l_orderkey - omin) * 16) // (omax - omin + 1) AS file_id,
        |         unnest([((l_partkey * 2654435761) & 2147483647) >> 15,
        |                 ((l_partkey * 2246822519) & 2147483647) >> 15,
        |                 ((l_partkey * 3266489917) & 2147483647) >> 15])
        |           AS pos
        |  FROM lineitem, b) t""".stripMargin,
    // both the pruning decision (which cells open) and the answer are
    // re-derived: cells from the q213 store math, truth from the table
    "q214_bloom_pruned_lookup" ->
      """WITH b AS (
        |  SELECT CAST(min(l_orderkey) AS BIGINT) AS omin,
        |         CAST(max(l_orderkey) AS BIGINT) AS omax,
        |         CAST(min(l_partkey) AS BIGINT) AS pmin,
        |         CAST(max(l_partkey) AS BIGINT) AS pmax
        |  FROM lineitem),
        |probes AS (
        |  SELECT (SELECT CAST(max(l_partkey) AS BIGINT) FROM lineitem, b
        |          WHERE l_partkey <= pmin + (pmax - pmin + 1) // 2)
        |    AS probe_key, TRUE AS is_present
        |  UNION ALL
        |  SELECT pmax + 7, FALSE FROM b),
        |cells AS (
        |  SELECT DISTINCT ingest_batch, file_id, pos FROM (
        |    SELECT CAST(l_orderkey % 4 AS BIGINT) AS ingest_batch,
        |           ((l_orderkey - omin) * 16) // (omax - omin + 1) AS file_id,
        |           unnest([((l_partkey * 2654435761) & 2147483647) >> 15,
        |                   ((l_partkey * 2246822519) & 2147483647) >> 15,
        |                   ((l_partkey * 3266489917) & 2147483647) >> 15])
        |             AS pos
        |    FROM lineitem, b) t),
        |ppos AS (
        |  SELECT DISTINCT probe_key, pos FROM (
        |    SELECT probe_key,
        |           unnest([((probe_key * 2654435761) & 2147483647) >> 15,
        |                   ((probe_key * 2246822519) & 2147483647) >> 15,
        |                   ((probe_key * 3266489917) & 2147483647) >> 15])
        |             AS pos
        |    FROM probes) t),
        |npos AS (SELECT probe_key, count(*) AS n_pos FROM ppos GROUP BY 1),
        |opened AS (
        |  SELECT probe_key, CAST(count(*) AS BIGINT) AS n_opened FROM (
        |    SELECT c.ingest_batch, c.file_id, p.probe_key,
        |           count(DISTINCT c.pos) AS hit
        |    FROM cells c JOIN ppos p USING (pos) GROUP BY 1, 2, 3) h
        |  JOIN npos USING (probe_key) WHERE hit = n_pos GROUP BY 1),
        |nz AS (SELECT CAST(count(*) AS BIGINT) AS n_zones_total FROM (
        |  SELECT DISTINCT ingest_batch, file_id FROM cells) z),
        |agg AS (
        |  SELECT p.probe_key, CAST(count(l.l_partkey) AS BIGINT) AS n_rows,
        |         CAST(coalesce(sum(l.l_orderkey), 0) AS BIGINT) AS sum_ok
        |  FROM probes p LEFT JOIN lineitem l ON l.l_partkey = p.probe_key
        |  GROUP BY 1)
        |SELECT p.probe_key, p.is_present, nz.n_zones_total,
        |  CAST(coalesce(o.n_opened, 0) AS BIGINT) AS n_zones_opened,
        |  a.n_rows, a.sum_ok
        |FROM probes p CROSS JOIN nz
        |  LEFT JOIN opened o ON o.probe_key = p.probe_key
        |  LEFT JOIN agg a ON a.probe_key = p.probe_key""".stripMargin,
    // identical by construction: per-partition reduction changes the plan,
    // not the result
    "q51_cosine_topk_partitioned" -> cosineTopKSql,
    // same result contract as q21 by construction (one implementation,
    // two front doors)
    "q79_sql_cosine_topk" -> cosineTopKSql,
    "q23_fedavg_client_means" ->
      s"""WITH ex AS ($embedExplode)
         |SELECT label AS client_id, dim,
         | round(sum((vec_id % 10 + 1) * x) / sum(vec_id % 10 + 1), 6) AS wmean
         |FROM ex GROUP BY label, dim""".stripMargin,
    "q24_fedavg_global" ->
      s"""WITH ex AS ($embedExplode)
         |SELECT dim, round(sum((vec_id % 10 + 1) * x) / sum(vec_id % 10 + 1), 6) AS global_wmean
         |FROM ex GROUP BY dim""".stripMargin,
    "q25_doc_metrics" ->
      s"""SELECT doc_id,
        | CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        | CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS BIGINT) AS n_subwords,
        | CAST(length(text) AS BIGINT) AS n_chars_c,
        | round(CAST(len(list_filter(string_split(text, ' '),
        |   t -> t IN ('the','a','of','and','in','to','is'))) AS DOUBLE)
        |   / len(string_split(text, ' ')), 6) AS stopword_ratio,
        | round(CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
        |   / length(text), 6) AS alpha_ratio,
        | $qualitySql AS quality
        |FROM documents""".stripMargin,
    "q26_langid" ->
      """WITH s AS (SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents),
        |sc AS (SELECT doc_id, lang,
        |  len(list_filter(t, x -> x IN ('the','a','of','and','is'))) AS s_en,
        |  len(list_filter(t, x -> x IN ('el','la','de','que','y'))) AS s_es,
        |  len(list_filter(t, x -> x IN ('der','die','und','das','ist'))) AS s_de,
        |  len(list_filter(t, x -> x IN ('le','la','de','et','est'))) AS s_fr,
        |  len(list_filter(t, x -> x IN ('de5','shi4','le5'))) AS s_zh
        | FROM s)
        |SELECT doc_id, lang AS labeled_lang,
        | CASE WHEN greatest(s_en, s_es, s_de, s_fr, s_zh) = 0 THEN 'und'
        |      WHEN s_en = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'en'
        |      WHEN s_es = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'es'
        |      WHEN s_de = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'de'
        |      WHEN s_fr = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'fr'
        |      ELSE 'zh' END AS predicted_lang
        |FROM sc""".stripMargin,
    "q27_fingerprints" ->
      """SELECT doc_id, sha256(text) AS content_sha256,
        | md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS canonical_md5
        |FROM documents""".stripMargin,
    "q28_token_freq" ->
      """SELECT token, count(*) AS cnt
        |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents) t
        |GROUP BY token HAVING count(*) >= 100""".stripMargin,
    "q29_lang_rollup" ->
      """SELECT lang, count(*) AS n_docs,
        | CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
        | round(avg(length(text)), 6) AS avg_chars
        |FROM documents GROUP BY lang""".stripMargin,
    "q30_tumbling" ->
      """SELECT CAST(epoch_ms(time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP))) AS BIGINT) AS window_start_ms,
        | event_type, count(*) AS cnt, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q31_sliding" ->
      """SELECT CAST(epoch_ms(ws) AS BIGINT) AS window_start_ms, event_type, count(*) AS cnt
        |FROM (SELECT event_type,
        |        CASE WHEN k = 0 THEN time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP))
        |             ELSE time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP)) - INTERVAL '30 minutes'
        |        END AS ws
        |      FROM events, (VALUES (0), (1)) t(k)) x
        |GROUP BY 1, 2""".stripMargin,
    "q32_session" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
        |o AS (SELECT user_id, ts, value,
        |       CASE WHEN lag(ts) OVER w IS NULL
        |              OR ts - lag(ts) OVER w >= INTERVAL '1 hour' THEN 1 ELSE 0 END AS new_s
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |        ROWS UNBOUNDED PRECEDING) AS sid FROM o)
        |SELECT user_id, CAST(epoch_ms(min(ts)) AS BIGINT) AS session_start_ms,
        | count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM s GROUP BY user_id, sid""".stripMargin,
    "q33_event_dedup" ->
      """SELECT event_type, count(*) AS n_unique
        |FROM (SELECT DISTINCT event_id, event_type
        |      FROM (SELECT event_id, event_type FROM events
        |            UNION ALL SELECT event_id, event_type FROM events) u) t
        |GROUP BY event_type""".stripMargin,
    "q34_sampleby_invariant" -> "SELECT CAST(0 AS BIGINT) AS violations",
    "q35_randomsplit_invariant" ->
      "SELECT CAST(0 AS BIGINT) AS overlap_rows, CAST(0 AS BIGINT) AS count_diff",
    "q36_repartition_introspect" ->
      "SELECT CAST(16 AS BIGINT) AS n_partitions, true AS all_nonempty",
    "q37_media_bytes" ->
      """SELECT doc_id AS media_id,
        | CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |      ELSE 'video' END AS media_type,
        | CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        | CAST((octet_length(encode(text)) + 255) // 256 AS BIGINT) AS n_frames
        |FROM documents""".stripMargin,
    "q38_augment_plan" ->
      """SELECT doc_id, CAST(i AS BIGINT) AS variant,
        | CASE WHEN i < 3 THEN 'rotate' WHEN i < 6 THEN 'affine' ELSE 'noise' END AS kind,
        | (doc_id * 2654435761 + i * 40503) % 1000 AS param,
        | 'aug' || CAST(i AS VARCHAR) || '_' ||
        |   replace('corpus/' || source || '/' || CAST(doc_id AS VARCHAR) || '.img', '/', '_') AS aug_name
        |FROM documents, (SELECT unnest(generate_series(0, 8)) AS i) t""".stripMargin,
    "q39_csv_roundtrip" ->
      """SELECT o_orderstatus, count(*) AS cnt, round(sum(o_totalprice), 2) AS total
        |FROM orders GROUP BY o_orderstatus""".stripMargin,
    // read_blob points at the same fixture file the Spark side reads (the
    // map is templated on sfDir); the check covers the exact file bytes
    "q40_binary_source" ->
      s"""SELECT 'documents.parquet' AS file_name, CAST(size AS BIGINT) AS n_bytes
         |FROM read_blob('$sfDir/documents.parquet')""".stripMargin,
    "q41_preprocess_pipeline" ->
      """SELECT CAST(count(*) * 9 AS BIGINT) AS n_rows,
        | CAST(count(*) * 9 AS BIGINT) AS n_distinct_aug_paths,
        | CAST(9 AS BIGINT) AS n_variants, true AS px_ok
        |FROM documents""".stripMargin,
    // every 4th 256-byte frame: counts/bytes from pure length arithmetic.
    // L > 0 matches the Spark side, which emits no row for an empty payload
    // (grouped(256) over zero bytes yields zero frames)
    "q42_frame_sample" ->
      """SELECT doc_id AS media_id,
        | CAST((F - 1) // 4 + 1 AS BIGINT) AS n_sampled,
        | CAST(CASE WHEN (F - 1) % 4 = 0
        |       THEN 256 * ((F - 1) // 4) + (L - 256 * (F - 1))
        |       ELSE 256 * ((F - 1) // 4 + 1) END AS BIGINT) AS sampled_bytes
        |FROM (SELECT doc_id, octet_length(encode(text)) AS L,
        |        (octet_length(encode(text)) + 255) // 256 AS F
        |      FROM documents WHERE doc_id % 3 = 2) t
        |WHERE L > 0""".stripMargin,
    "q44_corpus_curation" -> curationSql,
    // identical row contract to q44: observe() attaches metrics to the
    // flowing rows without changing them
    "q80_observed_curation" -> curationSql,
    "q45_label_vectors" ->
      s"""SELECT doc_id, CAST(generate_subscripts(l, 1) - 1 AS BIGINT) AS dim,
         | unnest(l) AS label
         |FROM (SELECT doc_id, [CAST(lang = 'en' AS DOUBLE), CAST(source = 'web' AS DOUBLE),
         |        CAST(len(string_split(text, ' ')) > 100 AS DOUBLE),
         |        CAST($qualitySql >= 0.5 AS DOUBLE),
         |        CAST(doc_id % 2 = 0 AS DOUBLE)] AS l
         |      FROM documents) t""".stripMargin,
    "q46_bucketed_join" ->
      """SELECT o_orderpriority, count(*) AS n_items,
        | round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderstatus <> 'P'
        |GROUP BY o_orderpriority""".stripMargin,
    // salting is semantics-preserving: the oracle is the UNSALTED join
    "q47_salted_join" ->
      """SELECT CAST(user_id % 3 AS BIGINT) AS tier, count(*) AS n_events,
        | round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1""".stripMargin,
    // JSONL round-trip is lossless: the oracle aggregates the source table
    "q48_jsonl_roundtrip" ->
      """SELECT lang, count(*) AS n_docs,
        | CAST(sum(length(text)) AS BIGINT) AS n_chars, min(doc_id) AS min_doc_id
        |FROM documents GROUP BY lang""".stripMargin,
    "q49_skewed_split_invariant" -> "SELECT CAST(0 AS BIGINT) AS violations",
    "q50_orc_roundtrip" ->
      """SELECT l_returnflag, count(*) AS cnt, round(sum(l_quantity), 2) AS sum_qty,
        | count(DISTINCT l_orderkey) AS n_orders
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    // transitive closure over the exact-Jaccard pair set: reach computes
    // every label reachable from each doc; min(reachable) = component
    // minimum = the engine's cluster_id, and keep ⟺ the doc IS that min
    "q52_neardup_clusters" -> neardupClustersSql,
    // tensors are whole 0..99 floats by construction → sums are exact
    "q53_struct_roundtrip" ->
      """SELECT doc_id,
        | CAST(list_sum([(doc_id * 13 + i * 7) % 100 for i in generate_series(0, 7)]) AS BIGINT) AS saliency_sum,
        | CAST(list_sum([(doc_id * 29 + i * 11) % 100 for i in generate_series(0, 7)]) AS BIGINT) AS attention_sum
        |FROM documents""".stripMargin,
    "q54_label_csv" ->
      """SELECT 'corpus/' || source || '/' || CAST(doc_id AS VARCHAR) || '.jpg' AS path,
        | CAST(generate_subscripts(l, 1) - 1 AS BIGINT) AS dim, unnest(l) AS label
        |FROM (SELECT doc_id, source,
        |        [CAST(doc_id % 2 AS DOUBLE), CAST(doc_id % 3 = 0 AS DOUBLE),
        |         CAST(doc_id % 5 = 0 AS DOUBLE), CAST(doc_id % 7 = 0 AS DOUBLE),
        |         0.0] AS l
        |      FROM documents) t""".stripMargin,
    // q52's transitive closure, restricted to the quality-gated corpus
    "q55_curation_neardup" ->
      s"""WITH RECURSIVE qdocs AS (SELECT doc_id, lang, text FROM documents
         |                         WHERE $qualitySql >= 0.5),
         |${jaccardPairCtesFrom("qdocs")},
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
         |          UNION SELECT doc_b, doc_a FROM pairs),
         |reach(id, lbl) AS (
         |  SELECT doc_id, doc_id FROM qdocs
         |  UNION
         |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id),
         |keep AS (SELECT id FROM reach GROUP BY id HAVING min(lbl) = id)
         |SELECT lang, count(*) AS n_kept
         |FROM qdocs JOIN keep ON keep.id = qdocs.doc_id
         |GROUP BY lang""".stripMargin,
    // the bucketing is a pure plan transform: the oracle is the plain
    // inequality range join
    "q56_interval_join" ->
      """SELECT c.user_id, count(*) AS n_pairs
        |FROM (SELECT user_id, CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) AS ms
        |      FROM events WHERE event_type = 'click') c
        |JOIN (SELECT user_id, CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) AS ms
        |      FROM events WHERE event_type = 'view') v
        |  ON c.user_id = v.user_id
        | AND v.ms >= c.ms - 1800000 AND v.ms < c.ms
        |GROUP BY c.user_id""".stripMargin,
    // rank-defined quantiles are engine-exact (no interpolation arithmetic);
    // the approx column's contract is the tolerance boolean, as in q10
    "q57_quality_quantiles" ->
      s"""WITH q AS (SELECT lang, doc_id, $qualitySql AS quality FROM documents),
         |r AS (SELECT lang, quality,
         |        row_number() OVER (PARTITION BY lang ORDER BY quality, doc_id) AS rn,
         |        count(*) OVER (PARTITION BY lang) AS n
         |      FROM q)
         |SELECT lang, p, value, true AS approx_within_tol FROM (
         |  SELECT lang, 0.5 AS p, quality AS value FROM r WHERE rn = ceil(n * 0.5)
         |  UNION ALL
         |  SELECT lang, 0.9 AS p, quality AS value FROM r WHERE rn = ceil(n * 0.9)) t""".stripMargin,
    // q20's exact cosine pairs closed transitively (the q52 closure shape
    // on the embeddings table)
    "q58_embed_clusters" ->
      s"""WITH RECURSIVE ex AS ($embedExplode),
         |dots AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, sum(a.x * b.x) AS dot
         |         FROM ex a JOIN ex b ON a.dim = b.dim AND a.vec_id < b.vec_id
         |         GROUP BY 1, 2),
         |norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM ex GROUP BY vec_id),
         |cpairs AS (SELECT id_a, id_b FROM dots
         |           JOIN norms na ON na.vec_id = id_a JOIN norms nb ON nb.vec_id = id_b
         |           WHERE round(dot / (na.nrm * nb.nrm), 6) >= 0.4),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM cpairs
         |          UNION SELECT id_b, id_a FROM cpairs),
         |reach(id, lbl) AS (
         |  SELECT vec_id, vec_id FROM embeddings
         |  UNION
         |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id)
         |SELECT id AS vec_id, min(lbl) AS cluster_id, (min(lbl) = id) AS keep
         |FROM reach GROUP BY id""".stripMargin,
    // the q17 pair CTE chain restricted to CROSS-SPLIT pairs (train =
    // doc_id % 10 <> 0, eval = doc_id % 10 = 0), plus exact-hash hits —
    // identical text has Jaccard 1 by definition, so hash-only hits
    // (sub-shingle-width docs) report max_jaccard 1.0
    "q59_decontamination" ->
      s"""WITH $jaccardPairCtes,
         |cross_pairs AS (
         |  SELECT CASE WHEN doc_a % 10 = 0 THEN doc_b ELSE doc_a END AS doc_id, jaccard
         |  FROM pairs WHERE (doc_a % 10 = 0) <> (doc_b % 10 = 0)),
         |fuzzy AS (SELECT doc_id, max(jaccard) AS mj FROM cross_pairs GROUP BY doc_id),
         |exact AS (SELECT DISTINCT t.doc_id FROM documents t JOIN documents e
         |            ON sha256(t.text) = sha256(e.text)
         |          WHERE t.doc_id % 10 <> 0 AND e.doc_id % 10 = 0)
         |SELECT COALESCE(f.doc_id, x.doc_id) AS doc_id,
         |       COALESCE(f.mj, 1.0) AS max_jaccard,
         |       (x.doc_id IS NOT NULL) AS exact_hit
         |FROM fuzzy f FULL OUTER JOIN exact x ON f.doc_id = x.doc_id""".stripMargin,
    // the 3-round FedAvg chain replayed as stacked CTEs. gbar's 6dp
    // rounding pins the order-dependent parallel sum; the recurrence
    // itself is identical IEEE double arithmetic in both engines and is
    // deliberately NOT re-rounded (0.5*gb lands on 7th-decimal
    // half-boundaries where Spark and DuckDB rounding disagree)
    "q60_fedavg_rounds" ->
      s"""WITH ex AS ($embedExplode),
         |gbar AS (SELECT dim, round(sum((vec_id % 10 + 1) * x) / sum(vec_id % 10 + 1), 6) AS gb
         |         FROM ex GROUP BY dim),
         |r1 AS (SELECT dim, 0.5 * gb + 0.5 * 0.0 AS g FROM gbar),
         |r2 AS (SELECT r1.dim AS dim, 0.5 * gb + 0.5 * g AS g
         |       FROM r1 JOIN gbar ON gbar.dim = r1.dim),
         |r3 AS (SELECT r2.dim AS dim, 0.5 * gb + 0.5 * g AS g
         |       FROM r2 JOIN gbar ON gbar.dim = r2.dim)
         |SELECT CAST(1 AS BIGINT) AS fed_round, dim, g AS global_wmean FROM r1
         |UNION ALL SELECT CAST(2 AS BIGINT), dim, g FROM r2
         |UNION ALL SELECT CAST(3 AS BIGINT), dim, g FROM r3""".stripMargin,
    // identical contract to q20: the blocked path is exact by construction
    "q61_embed_neardup_blocked" -> embedNearDupSql,
    // cross-split cosine contamination: max cos per train vector over the
    // eval split, at q20's loose threshold
    "q62_embed_decontamination" ->
      s"""WITH ex AS ($embedExplode),
         |dots AS (SELECT t.vec_id AS train_id, e.vec_id AS eval_id, sum(t.x * e.x) AS dot
         |         FROM ex t JOIN ex e ON t.dim = e.dim
         |          AND t.vec_id % 10 <> 0 AND e.vec_id % 10 = 0
         |         GROUP BY 1, 2),
         |norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM ex GROUP BY vec_id),
         |scored AS (SELECT train_id, round(dot / (nt.nrm * ne.nrm), 6) AS cos
         |           FROM dots JOIN norms nt ON nt.vec_id = train_id
         |                     JOIN norms ne ON ne.vec_id = eval_id)
         |SELECT train_id AS vec_id, max(cos) AS max_cos
         |FROM scored WHERE cos >= 0.4 GROUP BY train_id""".stripMargin,
    // the q17 pair CTE chain restricted to CROSS-SPLIT pairs under the
    // ingest split (shard = doc_id % 7 = 0, settled corpus = the rest),
    // aggregated per shard doc — the batch equivalent of deduping the
    // shard against the persisted shingle index
    "q64_incremental_dedup" -> incrementalDedupSql,
    // identical contract to q52: the winnowed route only changes candidate
    // generation; scoring and clustering are the same exact computation
    "q65_neardup_clusters_winnowed" -> neardupClustersSql,
    // identical contract to q64: bucketing changes the shuffle, not the rows
    "q66_incremental_dedup_bucketed" -> incrementalDedupSql,
    // identical contract to q64: the fingerprint index only changes
    // candidate generation; scoring is the same exact full-shingle Jaccard
    "q67_incremental_dedup_winnowed" -> incrementalDedupSql,
    // identical contract again: the bucketed fp table changes candidate-
    // generation PHYSICS (shuffle + file layout), never the row contract
    "q78_incremental_dedup_winnowed_bucketed" -> incrementalDedupSql,
    "q68_analytic_windows" ->
      """SELECT user_id, event_id,
        | CAST(epoch_ms(ts) - epoch_ms(lag(ts) OVER w) AS BIGINT) AS gap_ms,
        | CAST(epoch_ms(lead(ts) OVER w) - epoch_ms(ts) AS BIGINT) AS next_gap_ms,
        | rank() OVER v AS value_rank,
        | dense_rank() OVER v AS value_dense_rank
        |FROM (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events) e
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
        |       v AS (PARTITION BY user_id ORDER BY value DESC)""".stripMargin,
    "q69_incremental_dedup_multitick" -> incrementalMultiTickSql,
    // the admitted complement of q64's report: shard docs flagged by NO
    // settled doc — replayed ingestion must reproduce exactly this set
    "q70_incremental_dedup_xo_replay" ->
      s"""WITH $jaccardPairCtes,
         |flagged AS (
         |  SELECT DISTINCT CASE WHEN doc_a % 7 = 0 THEN doc_a ELSE doc_b END AS doc_id
         |  FROM pairs WHERE (doc_a % 7 = 0) <> (doc_b % 7 = 0))
         |SELECT doc_id FROM documents
         |WHERE doc_id % 7 = 0 AND doc_id NOT IN (SELECT doc_id FROM flagged)""".stripMargin,
    "q71_frame_windows" ->
      """SELECT user_id, event_id,
        | round(avg(value) OVER wa, 4) AS moving_avg3,
        | round(sum(value) OVER wc, 2) AS running_sum,
        | count(*) OVER wc AS running_n
        |FROM (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events) e
        |WINDOW wa AS (PARTITION BY user_id ORDER BY ts, event_id
        |              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
        |       wc AS (PARTITION BY user_id ORDER BY ts, event_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin,
    "q72_rollup_pricing" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        | round(sum(l_quantity), 2) AS sum_qty,
        | CAST(grouping(l_returnflag) AS INTEGER) AS g_flag,
        | CAST(grouping(l_linestatus) AS INTEGER) AS g_status
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,
    "q73_pivot_events" ->
      """SELECT user_id,
        | count(*) FILTER (WHERE event_type = 'click') AS click,
        | count(*) FILTER (WHERE event_type = 'error') AS error,
        | count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        | count(*) FILTER (WHERE event_type = 'signup') AS signup,
        | count(*) FILTER (WHERE event_type = 'view') AS view
        |FROM events GROUP BY user_id""".stripMargin,
    // independent formulation on purpose: the oracle states the match as
    // a correlated top-1 lookup (LATERAL ... ORDER BY ... LIMIT 1), not a
    // replay of the engine's union+window algorithm
    "q74_asof_join" ->
      """WITH ev AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM events),
        | l AS (SELECT * FROM ev WHERE event_type = 'purchase'),
        | r AS (SELECT * FROM ev WHERE event_type = 'view')
        |SELECT l.event_id AS purchase_id, l.user_id, l.value AS purchase_value,
        | m.view_id, m.view_value, m.gap_ms
        |FROM l LEFT JOIN LATERAL (
        |  SELECT r.event_id AS view_id, r.value AS view_value,
        |    CAST(epoch_ms(l.ts) - epoch_ms(r.ts) AS BIGINT) AS gap_ms
        |  FROM r
        |  WHERE r.user_id = l.user_id
        |    AND (r.ts < l.ts OR (r.ts = l.ts AND r.event_id < l.event_id))
        |  ORDER BY r.ts DESC, r.event_id DESC LIMIT 1) m ON TRUE""".stripMargin,
    // the cumulative 2-tick admitted set: tick 0 vs the settled corpus,
    // tick 1 vs settled + tick-0 admissions — compaction and the folded-
    // batch replay in the Spark loop must leave exactly this row set
    "q75_incremental_dedup_xo_compacted" ->
      s"""WITH $jaccardPairCtes,
         |sym AS (SELECT doc_a AS a, doc_b AS b FROM pairs
         |        UNION ALL SELECT doc_b, doc_a FROM pairs),
         |idx0 AS (SELECT doc_id FROM documents WHERE doc_id % 7 >= 2),
         |rep0 AS (SELECT DISTINCT a AS doc_id FROM sym
         |         JOIN idx0 ON b = idx0.doc_id WHERE a % 7 = 0),
         |adm0 AS (SELECT doc_id FROM documents WHERE doc_id % 7 = 0
         |         AND doc_id NOT IN (SELECT doc_id FROM rep0)),
         |idx1 AS (SELECT doc_id FROM idx0 UNION ALL SELECT doc_id FROM adm0),
         |rep1 AS (SELECT DISTINCT a AS doc_id FROM sym
         |         JOIN idx1 ON b = idx1.doc_id WHERE a % 7 = 1)
         |SELECT doc_id FROM adm0
         |UNION ALL
         |SELECT doc_id FROM documents WHERE doc_id % 7 = 1
         |  AND doc_id NOT IN (SELECT doc_id FROM rep1)""".stripMargin,
    // the evolved sink re-derived from the source table: gen-0 shards
    // (doc_id % 3 = 0) predate `source`, so their rows coalesce into the
    // pre-evolution bucket
    "q81_schema_evolution" ->
      """SELECT coalesce(CASE WHEN doc_id % 3 = 0 THEN NULL ELSE source END,
        |                'pre-evolution') AS src,
        | count(*) AS n_docs, min(doc_id) AS min_doc_id,
        | CAST(sum(length(text)) AS BIGINT) AS n_chars
        |FROM documents GROUP BY 1""".stripMargin,
    // the sketch+verify composition is exact, so the oracle is the plain
    // HAVING form; the floor of support*N matches the engine's toLong
    // truncation (both compute the same IEEE double product)
    "q83_heavy_hitter_tokens" ->
      """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
        | n AS (SELECT count(*) AS total FROM toks)
        |SELECT token, count(*) AS cnt FROM toks GROUP BY token
        |HAVING count(*) > (SELECT CAST(floor(0.001 * total) AS BIGINT) FROM n)""".stripMargin,
    // the planted damage re-derived from the source table: doc_id % 13 = 0
    // lines were truncated, so they roll up as the quarantine bucket
    "q82_corrupt_jsonl" ->
      """SELECT CASE WHEN doc_id % 13 = 0 THEN '_corrupt_' ELSE lang END AS bucket,
        | count(*) AS n
        |FROM documents GROUP BY 1""".stripMargin,
    "q76_cube_orders" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price,
        | CAST(grouping(o_orderstatus) AS INTEGER) AS g_status,
        | CAST(grouping(o_orderpriority) AS INTEGER) AS g_priority
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin,
    "q77_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price,
        | CAST(grouping(o_orderstatus) AS INTEGER) AS g_status,
        | CAST(grouping(o_orderpriority) AS INTEGER) AS g_priority
        |FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))""".stripMargin,
    // the oracle is the SINGLE global window the engine deliberately
    // avoids — token offsets in doc_id order, chunked by integer division
    "q84_sequence_packing" -> packingManifestSql,
    // q93 ingests the same corpus in doc_id-ordered ticks (tick 1
    // replayed), so its cross-batch manifest must equal q84's single-pass
    // manifest — one oracle proves batch/stream equivalence AND replay
    // idempotence (a duplicated or offset-shifted partition breaks it)
    "q93_streaming_packing" -> packingManifestSql,
    // the q34 invariant discipline: DuckDB recounts the split sizes; the
    // two mismatch counters (incremental vs single-pass assignment, index
    // probe vs in-memory probe — both exact row-set compares computed
    // distributed on the Spark side) must be zero
    "q94_ivf_incremental" ->
      """SELECT
        | CAST((SELECT count(*) FROM embeddings WHERE vec_id % 5 <> 0) AS BIGINT) AS n_settled,
        | CAST((SELECT count(*) FROM embeddings WHERE vec_id % 5 = 0) AS BIGINT) AS n_new,
        | CAST(0 AS BIGINT) AS assign_mismatches,
        | CAST(0 AS BIGINT) AS probe_mismatches""".stripMargin,
    // identical unigram model (corpus-trained), tf-weighted mean, 6dp gate
    "q95_unigram_lm_score" ->
      """WITH tf AS (SELECT doc_id, token, count(*) AS tf
        |            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |                  FROM documents)
        |            GROUP BY doc_id, token),
        | vocab AS (SELECT token, CAST(sum(tf) AS BIGINT) AS cnt FROM tf GROUP BY token),
        | tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM vocab),
        | logp AS (SELECT token, ln(CAST(cnt AS DOUBLE) / total) AS lp FROM vocab, tot)
        |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
        | round(sum(tf * lp) / sum(tf), 6) AS mean_logp,
        | (round(sum(tf * lp) / sum(tf), 6) >= -3.402) AS keep
        |FROM tf JOIN logp USING (token) GROUP BY doc_id""".stripMargin,
    // same max_df pruning, idf form, tf saturation, 4dp-rounded rank order
    "q96_bm25_topk" ->
      """WITH n AS (SELECT count(*) AS n_docs FROM documents),
        | tf AS (SELECT doc_id, token, count(*) AS tf
        |        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |              FROM documents)
        |        GROUP BY doc_id, token),
        | lens AS (SELECT doc_id, sum(tf) AS len FROM tf GROUP BY doc_id),
        | al AS (SELECT avg(len) AS avg_len FROM lens),
        | idf AS (SELECT token,
        |           ln(1.0 + (CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5)) AS idf
        |         FROM (SELECT token, count(*) AS df FROM tf GROUP BY token
        |               HAVING count(*) <= 1000000), n),
        | cand AS (SELECT tf.doc_id AS cand_id, tf.token,
        |            idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * len / avg_len)) AS w
        |          FROM tf JOIN idf USING (token) JOIN lens USING (doc_id), al),
        | scored AS (SELECT q.doc_id AS query_id, cand_id,
        |              round(sum(w), 4) AS score
        |            FROM cand JOIN (SELECT DISTINCT doc_id, token FROM tf
        |                            WHERE doc_id < 5) q USING (token)
        |            WHERE q.doc_id <> cand_id
        |            GROUP BY 1, 2),
        | ranked AS (SELECT query_id, cand_id, score,
        |              CAST(row_number() OVER (PARTITION BY query_id
        |                ORDER BY score DESC, cand_id) AS BIGINT) AS rank
        |            FROM scored)
        |SELECT query_id, rank, cand_id, score FROM ranked WHERE rank <= 10""".stripMargin,
    // the same exact-Jaccard pair CTE as q17, rolled up by unordered
    // source pair
    "q98_cross_source_dups" ->
      s"""WITH $jaccardPairCtes,
         |cells AS (
         |  SELECT least(da.source, db.source) AS source_a,
         |         greatest(da.source, db.source) AS source_b, jaccard
         |  FROM pairs JOIN documents da ON da.doc_id = doc_a
         |             JOIN documents db ON db.doc_id = doc_b)
         |SELECT source_a, source_b, count(*) AS n_pairs,
         | floor(sum(CAST(round(jaccard * 10000) AS BIGINT))
         |   / count(*) + 0.5) / 10000.0 AS avg_jaccard
         |FROM cells GROUP BY 1, 2""".stripMargin,
    // same marginals, same one-pass entropy identity
    // ln T - (sum c*ln c)/T at 6dp
    "q99_corpus_diversity" ->
      """WITH vocab AS (SELECT token, count(*) AS cnt
        |               FROM (SELECT unnest(string_split(text, ' ')) AS token
        |                     FROM documents)
        |               GROUP BY token),
        | vs AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_tokens,
        |          count(*) AS vocab_size, sum(cnt * ln(cnt)) AS s FROM vocab),
        | ls AS (SELECT CAST(sum(n) AS BIGINT) AS n_docs, sum(n * ln(n)) AS s2
        |        FROM (SELECT count(*) AS n FROM documents GROUP BY lang))
        |SELECT n_docs, n_tokens, vocab_size,
        | round(ln(CAST(n_tokens AS DOUBLE)) - s / n_tokens, 6) AS token_entropy,
        | round(ln(CAST(n_docs AS DOUBLE)) - s2 / n_docs, 6) AS lang_entropy
        |FROM ls, vs""".stripMargin,
    // v1/v2 re-derived identically; the diff classifies by content hash
    "q100_snapshot_diff" -> snapshotDiffSql,
    // bucketing changes the shuffle, never the rows — q100's SQL verbatim
    // (the q64/q66 one-oracle discipline); the plan is spec-pinned
    "q194_snapshot_diff_bucketed" -> snapshotDiffSql,
    // same (ts, event_id) total order; first/last/fingerprint all derive
    // from the one ordered string_agg, so order errors fail three ways
    "q101_event_sequences" ->
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
        |             event_type FROM events),
        | s AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |         string_agg(event_type, ',' ORDER BY ts, event_id) AS seq
        |       FROM e GROUP BY user_id)
        |SELECT user_id, n_events,
        | split_part(seq, ',', 1) AS first_type,
        | list_extract(string_split(seq, ','), CAST(n_events AS INTEGER)) AS last_type,
        | md5(seq) AS seq_md5
        |FROM s""".stripMargin,
    // thresholds re-derived by the q57 rank rule, tiers by the same
    // strict compare on the 6dp-rounded quality
    "q102_difficulty_binning" ->
      s"""WITH q AS (SELECT lang, doc_id, $qualitySql AS quality FROM documents),
         |r AS (SELECT lang, quality,
         |        row_number() OVER (PARTITION BY lang ORDER BY quality, doc_id) AS rn,
         |        count(*) OVER (PARTITION BY lang) AS n
         |      FROM q),
         |thr AS (
         |  SELECT lang, quality AS value FROM r WHERE rn = ceil(n * 0.25)
         |  UNION ALL
         |  SELECT lang, quality FROM r WHERE rn = ceil(n * 0.5)
         |  UNION ALL
         |  SELECT lang, quality FROM r WHERE rn = ceil(n * 0.75)),
         |tiers AS (SELECT q.lang, q.doc_id,
         |            CAST(sum(CASE WHEN q.quality > t.value THEN 1 ELSE 0 END) AS BIGINT) AS tier
         |          FROM q JOIN thr t ON q.lang = t.lang GROUP BY 1, 2)
         |SELECT lang, tier, count(*) AS n_docs FROM tiers GROUP BY 1, 2""".stripMargin,
    // same gate chain, same rounded compares; first-failing stage index
    // per doc, then FILTER counts against the declared stage table
    "q103_filter_cascade" ->
      s"""WITH $cascadePredCtes,
         |ff AS (SELECT CASE WHEN NOT p0 THEN 0 WHEN NOT p1 THEN 1
         |                   WHEN NOT p2 THEN 2 WHEN NOT p3 THEN 3
         |                   WHEN NOT p4 THEN 4 ELSE 5 END AS ff FROM cm),
         |stages(stage_idx, stage) AS (
         |  VALUES (0, 'min_tokens'), (1, 'alpha_ratio'), (2, 'quality'),
         |         (3, 'lang_agree'), (4, 'repetition'))
         |SELECT CAST(stage_idx AS BIGINT) AS stage_idx, stage,
         |  count(*) FILTER (WHERE ff >= stage_idx) AS n_in,
         |  count(*) FILTER (WHERE ff > stage_idx) AS n_kept,
         |  count(*) FILTER (WHERE ff >= stage_idx)
         |    - count(*) FILTER (WHERE ff > stage_idx) AS n_dropped
         |FROM stages CROSS JOIN ff GROUP BY 1, 2""".stripMargin,
    // q92's target arithmetic (6dp-rounded probability, floored), q97's
    // seeded per-stratum order; copies = base + 1 for the first (target
    // mod n) docs in hash order
    "q104_mixture_resample" ->
      """WITH c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
        | t AS (SELECT sum(pow(CAST(n_docs AS DOUBLE), 0.7)) AS total_w FROM c),
        | tg AS (SELECT lang, n_docs,
        |          CAST(floor(round(CAST(pow(CAST(n_docs AS DOUBLE), 0.7) / total_w
        |                                 AS DECIMAL(38,18)), 6)
        |            * 1000) AS BIGINT) AS target
        |        FROM c CROSS JOIN t),
        | r AS (SELECT doc_id, lang,
        |         CAST(row_number() OVER (PARTITION BY lang
        |           ORDER BY md5(CAST(doc_id AS VARCHAR) || ':42'), doc_id) AS BIGINT) AS pos
        |       FROM documents),
        | m AS (SELECT r.doc_id, r.lang,
        |         target // n_docs
        |           + CASE WHEN pos <= target % n_docs THEN 1 ELSE 0 END AS n_copies
        |       FROM r JOIN tg USING (lang))
        |SELECT doc_id, lang, CAST(n_copies AS BIGINT) AS n_copies
        |FROM m WHERE n_copies > 0""".stripMargin,
    // each stage's min ts strictly after the previous stage's first hit
    "q105_conversion_funnel" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type
        |           FROM events),
        | s0 AS (SELECT user_id, min(ts) AS t0 FROM e
        |        WHERE event_type = 'view' GROUP BY 1),
        | s1 AS (SELECT e.user_id, min(ts) AS t1 FROM e JOIN s0 USING (user_id)
        |        WHERE event_type = 'click' AND ts > t0 GROUP BY 1),
        | s2 AS (SELECT e.user_id, min(ts) AS t2 FROM e JOIN s1 USING (user_id)
        |        WHERE event_type = 'purchase' AND ts > t1 GROUP BY 1)
        |SELECT CAST(0 AS BIGINT) AS stage_idx, 'view' AS stage,
        |       count(*) AS n_users FROM s0
        |UNION ALL SELECT 1, 'click', count(*) FROM s1
        |UNION ALL SELECT 2, 'purchase', count(*) FROM s2""".stripMargin,
    // same pair/unigram marginals; rank pins the (cnt desc, pair) cut
    "q106_bpe_merges" ->
      """WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
        | ucnt AS (SELECT token, count(*) AS c
        |          FROM (SELECT unnest(t) AS token FROM toks) GROUP BY 1),
        | pr AS (SELECT unnest([t[i] || ' ' || t[i+1]
        |                      for i in generate_series(1, len(t)-1)]) AS pair
        |        FROM toks WHERE len(t) >= 2),
        | pcnt AS (SELECT pair, count(*) AS cnt FROM pr GROUP BY 1),
        | tot AS (SELECT (SELECT sum(c) FROM ucnt) AS n_tok,
        |                (SELECT sum(cnt) FROM pcnt) AS n_pairs),
        | top AS (SELECT pair, cnt,
        |           row_number() OVER (ORDER BY cnt DESC, pair) AS rank
        |         FROM pcnt)
        |SELECT CAST(rank AS BIGINT) AS rank, pair, cnt,
        | round(ln((CAST(cnt AS DOUBLE) / n_pairs)
        |   / ((CAST(ca.c AS DOUBLE) / n_tok)
        |     * (CAST(cb.c AS DOUBLE) / n_tok))), 6) AS pmi
        |FROM top CROSS JOIN tot
        |JOIN ucnt ca ON ca.token = split_part(pair, ' ', 1)
        |JOIN ucnt cb ON cb.token = split_part(pair, ' ', 2)
        |WHERE rank <= 20""".stripMargin,
    // inclusive-slice chunk windows; chunk_idx re-derived from the start
    "q107_doc_chunking" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        | s AS (SELECT doc_id, t, unnest(generate_series(1, len(t), 24)) AS start
        |        FROM toks WHERE len(t) >= 1)
        |SELECT doc_id, CAST((start - 1) // 24 AS BIGINT) AS chunk_idx,
        |       array_to_string(t[start:start+31], ' ') AS chunk_text,
        |       CAST(least(32, len(t) - start + 1) AS BIGINT) AS n_chunk_tokens
        |FROM s""".stripMargin,
    // same top-10 (count desc, token) vocabulary cut, per-lang rollup
    "q108_oov_rate" ->
      """WITH toks AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token
        |              FROM documents),
        | cnt AS (SELECT token, count(*) AS c FROM toks GROUP BY 1),
        | voc AS (SELECT token FROM (SELECT token,
        |             row_number() OVER (ORDER BY c DESC, token) AS r FROM cnt)
        |         WHERE r <= 10),
        | d AS (SELECT doc_id, lang, count(*) AS n,
        |         count(*) FILTER (WHERE token NOT IN (SELECT token FROM voc)) AS oov
        |       FROM toks GROUP BY 1, 2)
        |SELECT lang, count(*) AS n_docs,
        |  round(avg(CAST(oov AS DOUBLE) / n), 6) AS avg_doc_oov,
        |  round(CAST(sum(oov) AS DOUBLE) / sum(n), 6) AS token_oov_rate
        |FROM d GROUP BY 1""".stripMargin,
    // the single global cumsum window the engine's value-blocked form avoids
    "q109_token_budget" ->
      s"""WITH q AS (SELECT doc_id, $qualitySql AS quality,
         |             len(string_split(text, ' ')) AS n FROM documents),
         | c AS (SELECT doc_id, quality, n,
         |         sum(n) OVER (ORDER BY quality DESC, doc_id) AS cum FROM q)
         |SELECT doc_id, quality, CAST(n AS BIGINT) AS n_tokens,
         |       CAST(cum AS BIGINT) AS cum_tokens
         |FROM c WHERE cum <= 8000""".stripMargin,
    // same add-k bigram model; unigram context counts join on the first
    // token of the pair
    "q110_bigram_lm_score" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        | uni AS (SELECT token, count(*) AS ca
        |         FROM (SELECT unnest(t) AS token FROM toks) GROUP BY 1),
        | v AS (SELECT count(*) AS vs FROM uni),
        | pr AS (SELECT doc_id, unnest([t[i] || ' ' || t[i+1]
        |                               for i in generate_series(1, len(t)-1)]) AS pair
        |        FROM toks WHERE len(t) >= 2),
        | dpc AS (SELECT doc_id, pair, count(*) AS n FROM pr GROUP BY 1, 2),
        | pc AS (SELECT pair, sum(n) AS cab FROM dpc GROUP BY 1),
        | lp AS (SELECT pair, ln((cab + 0.5) / (ca + 0.5 * vs)) AS lp
        |        FROM pc JOIN uni ON uni.token = split_part(pair, ' ', 1)
        |        CROSS JOIN v)
        |SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_pairs,
        |       round(sum(n * lp) / sum(n), 6) AS mean_logp
        |FROM dpc JOIN lp USING (pair) GROUP BY 1""".stripMargin,
    // same hex-threshold compare on the same lowercase md5 text
    "q111_group_split" ->
      """SELECT doc_id, source,
        |  CASE WHEN md5(source || ':42') < 'cccccccc' THEN 'train'
        |       WHEN md5(source || ':42') < 'e6666666' THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents""".stripMargin,
    // same even/odd reference cut, distinct-shingle left join
    "q112_ngram_novelty" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        | sh AS (SELECT doc_id, unnest(list_distinct(
        |          [array_to_string(t[i:i+2], ' ')
        |           for i in generate_series(1, len(t)-2)])) AS sh
        |        FROM toks WHERE len(t) >= 3),
        | ref AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 2 = 0),
        | cand AS (SELECT s.doc_id, s.sh,
        |            CASE WHEN r.sh IS NULL THEN 0 ELSE 1 END AS seen
        |          FROM sh s LEFT JOIN ref r USING (sh) WHERE s.doc_id % 2 = 1)
        |SELECT doc_id, count(*) AS n_shingles,
        |  CAST(sum(seen) AS BIGINT) AS n_seen,
        |  round(1.0 - CAST(sum(seen) AS DOUBLE) / count(*), 6) AS novelty
        |FROM cand GROUP BY 1""".stripMargin,
    // json_extract under the same declared key; nulls fall out of the aggs
    "q113_event_props" ->
      """WITH e AS (SELECT event_type,
        |             CAST(json_extract(props, '$.k') AS BIGINT) AS k
        |           FROM events)
        |SELECT event_type, count(*) AS n_events, count(k) AS n_with_k,
        |  CAST(sum(k) AS BIGINT) AS sum_k, round(avg(k), 6) AS avg_k, max(k) AS max_k
        |FROM e GROUP BY 1""".stripMargin,
    // same distinct (source, doc, shingle) relation, same qualify-then-rank
    "q114_boilerplate" ->
      """WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS t
        |              FROM documents),
        | sh AS (SELECT DISTINCT doc_id, source,
        |          unnest([array_to_string(t[i:i+2], ' ')
        |                  for i in generate_series(1, len(t)-2)]) AS sh
        |        FROM toks WHERE len(t) >= 3),
        | nd AS (SELECT source, count(DISTINCT doc_id) AS n_docs FROM sh GROUP BY 1),
        | df AS (SELECT source, sh, count(*) AS df FROM sh GROUP BY 1, 2),
        | f AS (SELECT source, sh, df,
        |         round(CAST(df AS DOUBLE) / n_docs, 6) AS df_frac
        |       FROM df JOIN nd USING (source)
        |       WHERE round(CAST(df AS DOUBLE) / n_docs, 6) >= 0.08 AND df >= 2),
        | r AS (SELECT source, sh, df, df_frac,
        |         row_number() OVER (PARTITION BY source ORDER BY df DESC, sh) AS rank
        |       FROM f)
        |SELECT source, CAST(rank AS BIGINT) AS rank, sh, df, df_frac
        |FROM r WHERE rank <= 5""".stripMargin,
    // same in-order double fold for the norm, same 4dp envelope
    "q115_embedding_audit" ->
      """WITH e AS (SELECT CAST(label AS BIGINT) AS label,
        |             CAST(len(embedding) AS BIGINT) AS n_dims,
        |             sqrt(list_sum(list_transform(embedding,
        |               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS norm
        |           FROM embeddings)
        |SELECT label, count(*) AS n_vecs,
        |  count(DISTINCT n_dims) AS n_distinct_dims,
        |  min(n_dims) AS min_dims,
        |  round(min(norm), 4) AS min_norm,
        |  round(avg(norm), 4) AS avg_norm,
        |  round(max(norm), 4) AS max_norm
        |FROM e GROUP BY 1""".stripMargin,
    // q112's chain with the persisted index replayed as the reference CTE
    "q117_incremental_novelty" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        | sh AS (SELECT doc_id, unnest(list_distinct(
        |          [array_to_string(t[i:i+2], ' ')
        |           for i in generate_series(1, len(t)-2)])) AS sh
        |        FROM toks WHERE len(t) >= 3),
        | ref AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 7 <> 0),
        | cand AS (SELECT s.doc_id, s.sh,
        |            CASE WHEN r.sh IS NULL THEN 0 ELSE 1 END AS seen
        |          FROM sh s LEFT JOIN ref r USING (sh) WHERE s.doc_id % 7 = 0)
        |SELECT doc_id, count(*) AS n_shingles,
        |  CAST(sum(seen) AS BIGINT) AS n_seen,
        |  round(1.0 - CAST(sum(seen) AS DOUBLE) / count(*), 6) AS novelty
        |FROM cand GROUP BY 1""".stripMargin,
    // chr(769)/chr(778) = the same combining marks the engine plants;
    // nfc_normalize is DuckDB's own NFC
    "q120_text_normalize" ->
      """WITH raw AS (SELECT doc_id,
        |  text || CASE WHEN doc_id % 3 = 0 THEN ' cafe' || chr(769) ELSE '' END
        |       || CASE WHEN doc_id % 5 = 0 THEN ' A' || chr(778) ELSE '' END AS raw
        |  FROM documents)
        |SELECT doc_id, CAST(length(raw) AS BIGINT) AS n_chars_raw,
        |  nfc_normalize(raw) AS text_nfc,
        |  CAST(length(nfc_normalize(raw)) AS BIGINT) AS n_chars_nfc,
        |  (nfc_normalize(raw) <> raw) AS changed
        |FROM raw""".stripMargin,
    // q102's tier chain + the single global window the two-level form avoids
    "q119_curriculum_order" ->
      s"""WITH q AS (SELECT lang, doc_id, $qualitySql AS quality FROM documents),
         |r AS (SELECT lang, quality,
         |        row_number() OVER (PARTITION BY lang ORDER BY quality, doc_id) AS rn,
         |        count(*) OVER (PARTITION BY lang) AS n
         |      FROM q),
         |thr AS (
         |  SELECT lang, quality AS value FROM r WHERE rn = ceil(n * 0.25)
         |  UNION ALL
         |  SELECT lang, quality FROM r WHERE rn = ceil(n * 0.5)
         |  UNION ALL
         |  SELECT lang, quality FROM r WHERE rn = ceil(n * 0.75)),
         |tiers AS (SELECT q.doc_id,
         |            CAST(sum(CASE WHEN q.quality > t.value THEN 1 ELSE 0 END) AS BIGINT) AS tier
         |          FROM q JOIN thr t ON q.lang = t.lang GROUP BY 1)
         |SELECT doc_id, tier,
         |  CAST(row_number() OVER (ORDER BY tier DESC,
         |    md5(CAST(doc_id AS VARCHAR) || ':42'), doc_id) - 1 AS BIGINT) AS pos
         |FROM tiers""".stripMargin,
    // the single per-stratum rank window the engine's two-level form avoids
    "q97_stratum_cap" -> stratumBottomKSql,
    // the SAME batch SQL is the streaming reservoir's oracle: the streamed
    // multi-tick merge (with a replayed tick) must equal the batch
    // per-stratum bottom-k row for row — stream ≡ batch ∧ replay-idempotent
    "q133_streaming_reservoir" -> stratumBottomKSql,
    // same planted PII (one snippet per class, derived from doc_id), same
    // RE2-safe pattern table in the same chain order; DuckDB regexp_replace
    // needs the 'g' flag to match Spark's replace-all semantics
    "q85_pii_redaction" ->
      s"""WITH $piiPlantedCte
        |SELECT doc_id,
        | CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        | CAST(len(regexp_extract_all(t, '[0-9]{4}-[0-9]{4}-[0-9]{4}-[0-9]{4}')) AS BIGINT) AS n_cards,
        | CAST(len(regexp_extract_all(t, '[0-9]{3}-[0-9]{2}-[0-9]{4}')) AS BIGINT) AS n_ssns,
        | CAST(len(regexp_extract_all(t, '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}')) AS BIGINT) AS n_ips,
        | CAST(len(regexp_extract_all(t, '555-[0-9]{4}')) AS BIGINT) AS n_phones,
        | sha256(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
        |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |   '[0-9]{4}-[0-9]{4}-[0-9]{4}-[0-9]{4}', '<CARD>', 'g'),
        |   '[0-9]{3}-[0-9]{2}-[0-9]{4}', '<SSN>', 'g'),
        |   '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}', '<IP>', 'g'),
        |   '555-[0-9]{4}', '<PHONE>', 'g')) AS redacted_sha256
        |FROM planted""".stripMargin,
    // dup-shingle fraction from list arithmetic (total 3-grams = len-2),
    // top-token fraction from the exact per-(doc, token) counts
    "q89_repetition_metrics" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        | dup AS (SELECT doc_id,
        |   CASE WHEN len(t) >= 3 THEN round(
        |     (CAST(len(t) - 2 AS DOUBLE)
        |       - len(list_distinct([array_to_string(t[i:i+2], ' ')
        |                            for i in generate_series(1, len(t)-2)])))
        |     / (len(t) - 2), 6) ELSE 0.0 END AS dup_shingle_frac
        |  FROM toks),
        | tok AS (SELECT doc_id, unnest(t) AS token, len(t) AS n FROM toks),
        | top AS (SELECT doc_id, max(cnt) AS top_cnt, any_value(n) AS n
        |         FROM (SELECT doc_id, token, any_value(n) AS n, count(*) AS cnt
        |               FROM tok GROUP BY doc_id, token)
        |         GROUP BY doc_id)
        |SELECT doc_id, dup_shingle_frac,
        | round(CAST(top_cnt AS DOUBLE) / n, 6) AS top_token_frac,
        | (dup_shingle_frac <= 0.1
        |   AND round(CAST(top_cnt AS DOUBLE) / n, 6) <= 0.1) AS keep
        |FROM dup JOIN top USING (doc_id)""".stripMargin,
    // expected_docs floors the ROUNDED 6dp probability — both engines
    // truncate the same decimal, not a last-ulp binary value
    "q92_mixture_weights" ->
      """WITH c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
        | t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total_docs,
        |         sum(pow(CAST(n_docs AS DOUBLE), 0.7)) AS total_w FROM c)
        |SELECT lang, n_docs,
        | CAST(round(CAST(CAST(n_docs AS DOUBLE) / total_docs AS DECIMAL(38,18)), 6)
        |      AS DOUBLE) AS p_raw,
        | CAST(round(CAST(pow(CAST(n_docs AS DOUBLE), 0.7) / total_w AS DECIMAL(38,18)), 6)
        |      AS DOUBLE) AS p_temp,
        | CAST(floor(round(CAST(pow(CAST(n_docs AS DOUBLE), 0.7) / total_w
        |                        AS DECIMAL(38,18)), 6) * 100000)
        |      AS BIGINT) AS expected_docs
        |FROM c, t""".stripMargin,
    // the single global window the engine's two-level rank avoids; both
    // engines emit md5 as lowercase hex so the order and key agree
    "q86_global_shuffle" ->
      """WITH keyed AS (SELECT doc_id,
        |         md5(CAST(doc_id AS VARCHAR) || ':42') AS shuffle_key
        |       FROM documents)
        |SELECT CAST(row_number() OVER (ORDER BY shuffle_key, doc_id) - 1 AS BIGINT)
        |         AS pos,
        | doc_id, shuffle_key
        |FROM keyed""".stripMargin,
    // the bloom prefilter is semantics-free (false positives removed by
    // the exact join), so the oracle is the plain semi-join
    "q87_bloom_semi_join" ->
      """SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey
        |                AND o_orderpriority = '1-URGENT')""".stripMargin,
    // identical max_df pruning, idf formula, and 4dp rounded threshold
    "q88_tfidf_similarity" ->
      """WITH n AS (SELECT count(*) AS n_docs FROM documents),
        | tf AS (SELECT doc_id, token, count(*) AS tf
        |        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |              FROM documents)
        |        GROUP BY doc_id, token),
        | df AS (SELECT token, count(*) AS df FROM tf GROUP BY token
        |        HAVING count(*) <= 100),
        | w AS (SELECT doc_id, token,
        |         tf * ln(CAST(n_docs AS DOUBLE) / df) AS w
        |       FROM tf JOIN df USING (token), n),
        | nrm AS (SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM w GROUP BY doc_id),
        | dot AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, sum(a.w * b.w) AS dot
        |         FROM w a JOIN w b USING (token) WHERE a.doc_id < b.doc_id
        |         GROUP BY 1, 2)
        |SELECT doc_a, doc_b,
        | CAST(round(CAST(dot / (na.nrm * nb.nrm) AS DECIMAL(38,18)), 4) AS DOUBLE)
        |   AS cosine
        |FROM dot JOIN nrm na ON na.doc_id = doc_a
        |         JOIN nrm nb ON nb.doc_id = doc_b
        |WHERE CAST(round(CAST(dot / (na.nrm * nb.nrm) AS DECIMAL(38,18)), 4) AS DOUBLE)
        |      >= 0.3""".stripMargin,
    // partition pruning is layout, not semantics: the oracle is the same
    // aggregate over the source restricted to the partition value
    "q90_partition_pruned" ->
      """SELECT source, count(*) AS n_docs,
        | CAST(sum(length(text)) AS BIGINT) AS n_chars,
        | min(doc_id) AS min_doc_id
        |FROM documents WHERE lang = 'en' GROUP BY source""".stripMargin,
    // the merge's three row fates replayed as a FULL OUTER + coalesce
    "q91_merge_upsert" ->
      """WITH base AS (SELECT doc_id, text, 1 AS version FROM documents
        |              WHERE doc_id % 3 <> 0),
        | upd AS (SELECT doc_id, text || ' [rev2]' AS text, 2 AS version
        |         FROM documents WHERE doc_id % 2 = 0)
        |SELECT coalesce(u.doc_id, b.doc_id) AS doc_id,
        | CAST(coalesce(u.version, b.version) AS BIGINT) AS version,
        | CAST(length(coalesce(u.text, b.text)) AS BIGINT) AS n_chars
        |FROM base b FULL OUTER JOIN upd u ON b.doc_id = u.doc_id""".stripMargin,
    // first-occurrence passage ownership as the window the engine's
    // map-side-combinable min(struct) agg avoids
    "q121_passage_dedup" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        | p AS (SELECT doc_id, CAST((start - 1) // 16 AS BIGINT) AS passage_idx,
        |         array_to_string(t[start:start+15], ' ') AS passage_text,
        |         CAST(least(16, len(t) - start + 1) AS BIGINT) AS n_tokens
        |       FROM (SELECT doc_id, t, unnest(generate_series(1, len(t), 16)) AS start
        |             FROM toks WHERE len(t) >= 1)),
        | mk AS (SELECT *, row_number() OVER (PARTITION BY passage_text
        |          ORDER BY doc_id, passage_idx) AS rn FROM p)
        |SELECT doc_id, count(*) AS n_passages,
        |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(sum(CASE WHEN rn = 1 THEN n_tokens ELSE 0 END) AS BIGINT) AS kept_tokens,
        |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens
        |FROM mk GROUP BY 1""".stripMargin,
    // PMI over the bigram relation's own marginals; double numerator before
    // the divide (the engine's long-overflow guard), ln ulp caveat as q92
    "q122_pmi_collocations" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        | pr AS (SELECT unnest([t[i] || ' ' || t[i+1]
        |                      for i in generate_series(1, len(t)-1)]) AS pair
        |        FROM toks WHERE len(t) >= 2),
        | pc AS (SELECT pair, count(*) AS cab FROM pr GROUP BY 1),
        | lm AS (SELECT split_part(pair, ' ', 1) AS a, sum(cab) AS ca FROM pc GROUP BY 1),
        | rm AS (SELECT split_part(pair, ' ', 2) AS b, sum(cab) AS cb FROM pc GROUP BY 1),
        | nn AS (SELECT sum(cab) AS n FROM pc)
        |SELECT split_part(pair, ' ', 1) AS a, split_part(pair, ' ', 2) AS b,
        |  cab AS n_ab,
        |  round(ln((CAST(cab AS DOUBLE) * n) / (CAST(ca AS DOUBLE) * cb)), 6) AS pmi
        |FROM pc JOIN lm ON lm.a = split_part(pair, ' ', 1)
        |        JOIN rm ON rm.b = split_part(pair, ' ', 2)
        |        CROSS JOIN nn
        |WHERE cab >= 5
        |ORDER BY pmi DESC, a, b LIMIT 50""".stripMargin,
    // same 256 md5-prefix buckets, same add-one smoothing, same quotient
    // shape; ln ulp caveat as q92
    "q123_dsir_weights" ->
      """WITH toks AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token
        |              FROM documents),
        | db AS (SELECT doc_id, lang, substr(md5(token), 1, 2) AS bucket,
        |          count(*) AS n
        |        FROM toks GROUP BY 1, 2, 3),
        | raw AS (SELECT bucket, sum(n) AS cr FROM db GROUP BY 1),
        | tgt AS (SELECT bucket, sum(n) AS ct FROM db WHERE lang = 'en' GROUP BY 1),
        | nrt AS (SELECT sum(cr) AS nr FROM raw),
        | ntt AS (SELECT sum(ct) AS nt FROM tgt),
        | ratio AS (SELECT raw.bucket,
        |             ln((CAST(coalesce(ct, 0) + 1 AS DOUBLE) / (nt + 256)) /
        |                (CAST(cr + 1 AS DOUBLE) / (nr + 256))) AS lr
        |           FROM raw LEFT JOIN tgt USING (bucket)
        |           CROSS JOIN nrt CROSS JOIN ntt)
        |SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_tokens,
        |  round(sum(n * lr), 6) AS weight
        |FROM db JOIN ratio USING (bucket)
        |GROUP BY 1 ORDER BY weight DESC, doc_id LIMIT 100""".stripMargin,
    // 4-sign-bit hyperplane code, in-bucket dominance by any lower id at
    // the q20 cosine gate
    "q124_semantic_dedup" ->
      """WITH ex AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
        |              CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
        | code AS (SELECT vec_id,
        |            CAST(sum(CASE WHEN x > 0 THEN 1 << dim ELSE 0 END) AS BIGINT)
        |              AS bucket
        |          FROM ex WHERE dim < 4 GROUP BY 1),
        | dots AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, sum(a.x * b.x) AS dot
        |          FROM ex a JOIN ex b ON a.dim = b.dim AND a.vec_id < b.vec_id
        |          JOIN code ca ON ca.vec_id = a.vec_id
        |          JOIN code cb ON cb.vec_id = b.vec_id AND ca.bucket = cb.bucket
        |          GROUP BY 1, 2),
        | norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM ex GROUP BY 1),
        | dom AS (SELECT id_a, id_b FROM dots
        |         JOIN norms na ON na.vec_id = id_a
        |         JOIN norms nb ON nb.vec_id = id_b
        |         WHERE round(dot / (na.nrm * nb.nrm), 6) >= 0.4),
        | drops AS (SELECT DISTINCT id_b AS vec_id FROM dom),
        | domc AS (SELECT id_a AS vec_id, count(*) AS n_dominated FROM dom
        |          WHERE id_a NOT IN (SELECT vec_id FROM drops) GROUP BY 1)
        |SELECT c.vec_id, c.bucket,
        |  CAST(coalesce(n_dominated, 0) AS BIGINT) AS n_dominated
        |FROM code c LEFT JOIN domc USING (vec_id)
        |WHERE c.vec_id NOT IN (SELECT vec_id FROM drops)""".stripMargin,
    // mid-rank quantile u under the q86 md5 permutation, A-ES key, top-k
    "q125_weighted_sample" ->
      """WITH keyed AS (SELECT doc_id, n_chars,
        |         md5(CAST(doc_id AS VARCHAR) || ':42') AS skey
        |       FROM documents),
        | ranked AS (SELECT doc_id, n_chars,
        |              CAST(row_number() OVER (ORDER BY skey, doc_id) AS BIGINT) - 1
        |                AS pos,
        |              count(*) OVER () AS n_docs
        |            FROM keyed)
        |SELECT doc_id, n_chars,
        |  round(-ln((CAST(pos AS DOUBLE) + 0.5) / n_docs) / n_chars, 6) AS es_key
        |FROM ranked ORDER BY es_key, doc_id LIMIT 100""".stripMargin,
    // the q17 candidate CTEs with a min-denominator gate (no one-sided
    // pushdown exists for it — see the engine scaladoc)
    "q126_containment_pairs" ->
      s"""WITH $jaccardPairCtes
         |SELECT doc_a, doc_b,
         |  CAST(round(CAST(CAST(inter AS DOUBLE) / sa.n AS DECIMAL(38,18)), 4)
         |       AS DOUBLE) AS containment_a,
         |  CAST(round(CAST(CAST(inter AS DOUBLE) / sb.n AS DECIMAL(38,18)), 4)
         |       AS DOUBLE) AS containment_b,
         |  CAST(round(CAST(CAST(inter AS DOUBLE) / least(sa.n, sb.n) AS DECIMAL(38,18)), 4)
         |       AS DOUBLE) AS containment
         |FROM inter JOIN sizes sa ON sa.doc_id = doc_a
         |           JOIN sizes sb ON sb.doc_id = doc_b
         |WHERE CAST(round(CAST(CAST(inter AS DOUBLE) / least(sa.n, sb.n) AS DECIMAL(38,18)), 4)
         |      AS DOUBLE) >= 0.8""".stripMargin,
    // q96's BM25 CTEs at depth 20 + q21's cosine CTEs at depth 20, fused
    // by RRF (1/(60+rank) per side, union semantics via FULL OUTER JOIN);
    // both input rank sets are the already-hash-pinned q96/q21 orders, so
    // the fusion is integer arithmetic both engines agree on exactly
    "q128_hybrid_rrf" ->
      s"""WITH $retrievalLegsCtes,
         | fused AS (SELECT coalesce(l.query_id, v.query_id) AS query_id,
         |             coalesce(l.cand_id, v.cand_id) AS cand_id,
         |             l.lex_rank, v.vec_rank,
         |             round(coalesce(1.0 / (60 + l.lex_rank), 0)
         |                 + coalesce(1.0 / (60 + v.vec_rank), 0), 6) AS rrf
         |           FROM lex l FULL OUTER JOIN vec v
         |             ON l.query_id = v.query_id AND l.cand_id = v.cand_id),
         | fr AS (SELECT query_id,
         |          CAST(row_number() OVER (PARTITION BY query_id
         |            ORDER BY rrf DESC, cand_id) AS BIGINT) AS rank,
         |          cand_id, rrf, lex_rank, vec_rank
         |        FROM fused)
         |SELECT query_id, rank, cand_id, rrf, lex_rank, vec_rank
         |FROM fr WHERE rank <= 10""".stripMargin,
    // invariant row (q34 discipline): the oracle recounts the embedding
    // table and pins both violation counters at zero — over_cap = the
    // two-level rank produced duplicate positions, underfill = the rank
    // is not a complete within-cluster permutation
    "q129_cluster_balanced_sample" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_vecs,
        | CAST(0 AS BIGINT) AS over_cap,
        | CAST(0 AS BIGINT) AS underfill
        |FROM embeddings""".stripMargin,
    // q96's BM25 chain at depth 20, anti-joined against the uncapped
    // near-dup gate (q17 shingle CTEs at tau 0.8, both directions via the
    // query-side join) plus the exact-text arm, re-ranked by BM25 rank;
    // jaccardPairCtes contributes toks/sh/sizes (inter/pairs prune unused)
    "q130_hard_negatives" ->
      s"""WITH $jaccardPairCtes,
         | n AS (SELECT count(*) AS n_docs FROM documents),
         | tf AS (SELECT doc_id, token, count(*) AS tf
         |        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
         |              FROM documents)
         |        GROUP BY doc_id, token),
         | lens AS (SELECT doc_id, sum(tf) AS len FROM tf GROUP BY doc_id),
         | al AS (SELECT avg(len) AS avg_len FROM lens),
         | idf AS (SELECT token,
         |           ln(1.0 + (CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5)) AS idf
         |         FROM (SELECT token, count(*) AS df FROM tf GROUP BY token
         |               HAVING count(*) <= 1000000), n),
         | bw AS (SELECT tf.doc_id AS cand_id, tf.token,
         |          idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * len / avg_len)) AS w
         |        FROM tf JOIN idf USING (token) JOIN lens USING (doc_id), al),
         | scored AS (SELECT q.doc_id AS query_id, cand_id,
         |              round(sum(w), 4) AS score
         |            FROM bw JOIN (SELECT DISTINCT doc_id, token FROM tf
         |                          WHERE doc_id < 5) q USING (token)
         |            WHERE q.doc_id <> cand_id
         |            GROUP BY 1, 2),
         | branked AS (SELECT query_id, cand_id, score,
         |               CAST(row_number() OVER (PARTITION BY query_id
         |                 ORDER BY score DESC, cand_id) AS BIGINT) AS rank
         |             FROM scored),
         | bcand AS (SELECT * FROM branked WHERE rank <= 20),
         | qinter AS (SELECT a.doc_id AS qid, b.doc_id AS cid, count(*) AS inter
         |            FROM sh a JOIN sh b USING (shingle)
         |            WHERE a.doc_id < 5 AND a.doc_id <> b.doc_id
         |            GROUP BY 1, 2),
         | fuzzy AS (SELECT qid, cid
         |           FROM qinter JOIN sizes sa ON sa.doc_id = qid
         |                       JOIN sizes sb ON sb.doc_id = cid
         |           WHERE round(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter), 4)
         |                 >= 0.8),
         | exact AS (SELECT q.doc_id AS qid, c.doc_id AS cid
         |           FROM documents q JOIN documents c ON q.text = c.text
         |           WHERE q.doc_id < 5 AND q.doc_id <> c.doc_id),
         | fneg AS (SELECT qid, cid FROM fuzzy UNION SELECT qid, cid FROM exact),
         | kept AS (SELECT query_id, cand_id, score, rank
         |          FROM bcand WHERE NOT EXISTS (SELECT 1 FROM fneg
         |            WHERE qid = query_id AND cid = cand_id)),
         | final AS (SELECT query_id,
         |             CAST(row_number() OVER (PARTITION BY query_id
         |               ORDER BY rank) AS BIGINT) AS neg_rank,
         |             cand_id, rank AS bm25_rank, score
         |           FROM kept)
         |SELECT query_id, neg_rank, cand_id, bm25_rank, score
         |FROM final WHERE neg_rank <= 10""".stripMargin,
    // the identical affine-grid arithmetic: f32 widened to double, IEEE
    // subtract/multiply/divide, floor, midpoint dequant — bit-for-bit
    "q131_sq8_audit" ->
      s"""WITH ex AS ($embedExplode),
         | st AS (SELECT dim, min(x) AS lo, max(x) AS hi FROM ex GROUP BY dim),
         | e2 AS (SELECT ex.dim, x, lo, hi,
         |          CASE WHEN hi = lo THEN 0.0
         |               ELSE least(255.0,
         |                 floor((x - lo) * 255.0 / (hi - lo) + 0.5))
         |          END AS code
         |        FROM ex JOIN st USING (dim)),
         | errs AS (SELECT dim, lo, hi,
         |            abs(x - (lo + code * (hi - lo) / 255.0)) AS err
         |          FROM e2)
         |SELECT CAST(dim AS BIGINT) AS dim, round(lo, 6) AS lo,
         | round(hi, 6) AS hi, round(avg(err), 6) AS mean_abs_err,
         | round(max(err), 6) AS max_abs_err
         |FROM errs GROUP BY dim, lo, hi""".stripMargin,
    // invariant row: doc/token totals recomputed from the raw table; the
    // conservation counter (pieces + merges = tokens) pinned at zero
    "q132_bpe_apply" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
        | CAST(0 AS BIGINT) AS conservation_violations
        |FROM documents""".stripMargin,
    // the identical cut set from the token md5 hex band, chunk index via
    // a per-doc prefix sum of cut flags, chunk hash over the space-joined
    // token slice — every column compared exactly
    "q134_cdc_chunks" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
        |              FROM documents WHERE len(string_split(text, ' ')) >= 1),
        | tok AS (SELECT doc_id, generate_subscripts(t, 1) AS pos,
        |           unnest(t) AS token FROM toks),
        | flagged AS (SELECT doc_id, pos, token,
        |               CASE WHEN substr(md5(token || ':42'), 1, 1) = '0'
        |                    THEN 1 ELSE 0 END AS cut
        |             FROM tok),
        | idx AS (SELECT doc_id, pos, token,
        |           coalesce(sum(cut) OVER (PARTITION BY doc_id ORDER BY pos
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |             AS chunk_idx
        |         FROM flagged)
        |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
        | CAST(count(*) AS BIGINT) AS n_tokens,
        | md5(string_agg(token, ' ' ORDER BY pos)) AS chunk_hash
        |FROM idx GROUP BY doc_id, chunk_idx""".stripMargin,
    // the identical JS arithmetic over the same modulo snapshots: full
    // outer marginal join with 0-mass convention, 6dp-rounded delta order
    "q135_token_drift" ->
      """WITH tf1 AS (SELECT token, count(*) AS c1
        |        FROM (SELECT unnest(string_split(text, ' ')) AS token
        |              FROM documents WHERE doc_id % 5 <> 0)
        |        GROUP BY token),
        | tf2 AS (SELECT token, count(*) AS c2
        |        FROM (SELECT unnest(string_split(text, ' ')) AS token
        |              FROM documents WHERE doc_id % 3 <> 0)
        |        GROUP BY token),
        | t1 AS (SELECT sum(c1) AS n1 FROM tf1),
        | t2 AS (SELECT sum(c2) AS n2 FROM tf2),
        | j AS (SELECT token,
        |         CAST(coalesce(c1, 0) AS DOUBLE) / n1 AS p1,
        |         CAST(coalesce(c2, 0) AS DOUBLE) / n2 AS p2
        |       FROM tf1 FULL OUTER JOIN tf2 USING (token), t1, t2),
        | wm AS (SELECT token, p1, p2, (p1 + p2) / 2.0 AS m FROM j),
        | js AS (SELECT round((sum(CASE WHEN p1 > 0 THEN p1 * ln(p1 / m)
        |                               ELSE 0 END)
        |                    + sum(CASE WHEN p2 > 0 THEN p2 * ln(p2 / m)
        |                               ELSE 0 END)) / 2.0, 6) AS js_divergence
        |        FROM wm),
        | ranked AS (SELECT CAST(row_number() OVER (
        |                ORDER BY round(abs(p1 - p2), 6) DESC, token)
        |              AS BIGINT) AS rank,
        |              token, round(p1, 6) AS p1, round(p2, 6) AS p2,
        |              round(abs(p1 - p2), 6) AS abs_delta
        |            FROM wm)
        |SELECT rank, token, p1, p2, abs_delta, js_divergence
        |FROM ranked, js WHERE rank <= 10""".stripMargin,
    // the q134 chunk CTEs, first-occurrence ownership (the q121 rn
    // pattern), per-doc rollup, and the q126-style DECIMAL-rounded gate
    "q136_cdc_dedup" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
        |              FROM documents WHERE len(string_split(text, ' ')) >= 1),
        | tok AS (SELECT doc_id, generate_subscripts(t, 1) AS pos,
        |           unnest(t) AS token FROM toks),
        | flagged AS (SELECT doc_id, pos, token,
        |               CASE WHEN substr(md5(token || ':42'), 1, 1) = '0'
        |                    THEN 1 ELSE 0 END AS cut
        |             FROM tok),
        | idx AS (SELECT doc_id, pos, token,
        |           coalesce(sum(cut) OVER (PARTITION BY doc_id ORDER BY pos
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |             AS chunk_idx
        |         FROM flagged),
        | chunks AS (SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
        |              CAST(count(*) AS BIGINT) AS n_tokens,
        |              md5(string_agg(token, ' ' ORDER BY pos)) AS chunk_hash
        |            FROM idx GROUP BY doc_id, chunk_idx),
        | mk AS (SELECT *, row_number() OVER (PARTITION BY chunk_hash
        |          ORDER BY doc_id, chunk_idx) AS rn FROM chunks),
        | prof AS (SELECT doc_id, count(*) AS n_chunks,
        |            CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |              AS n_kept,
        |            CAST(sum(CASE WHEN rn = 1 THEN n_tokens ELSE 0 END)
        |              AS BIGINT) AS kept_tokens,
        |            CAST(sum(n_tokens) AS BIGINT) AS total_tokens
        |          FROM mk GROUP BY 1)
        |SELECT doc_id, n_chunks, n_kept, kept_tokens, total_tokens,
        | CAST(round(CAST(CAST(total_tokens - kept_tokens AS DOUBLE)
        |        / total_tokens AS DECIMAL(38,18)), 6) AS DOUBLE) >= 0.5
        |   AS dropped
        |FROM prof""".stripMargin,
    // q21's pair CTEs at depth 20, then per prefix width the dim-gated
    // partial dot/norms rebuild the truncated cosine; zero-norm guard on
    // both engines
    "q137_matryoshka_audit" ->
      s"""WITH ex AS ($embedExplode),
         | dots AS (SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         |            sum(q.x * c.x) AS dot
         |          FROM ex q JOIN ex c ON q.dim = c.dim AND q.vec_id < 5
         |            AND q.vec_id <> c.vec_id
         |          GROUP BY 1, 2),
         | norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM ex GROUP BY vec_id),
         | vscored AS (SELECT query_id, cand_id,
         |               dot / (nq.nrm * nc.nrm) AS cos_full,
         |               round(dot / (nq.nrm * nc.nrm), 6) AS score
         |             FROM dots JOIN norms nq ON nq.vec_id = query_id
         |                       JOIN norms nc ON nc.vec_id = cand_id),
         | pairs AS (SELECT query_id, cand_id, cos_full
         |           FROM (SELECT query_id, cand_id, cos_full,
         |                   row_number() OVER (PARTITION BY query_id
         |                     ORDER BY score DESC, cand_id) AS rank
         |                 FROM vscored)
         |           WHERE rank <= 20),
         | pm AS (SELECT query_id, cand_id, cos_full, m
         |        FROM pairs, (VALUES (8), (16), (32)) v(m)),
         | pre AS (SELECT pm.query_id, pm.cand_id, pm.m, pm.cos_full,
         |           sum(CASE WHEN q.dim < pm.m THEN q.x * c.x ELSE 0 END) AS dp,
         |           sqrt(sum(CASE WHEN q.dim < pm.m THEN q.x * q.x ELSE 0 END)) AS nqp,
         |           sqrt(sum(CASE WHEN q.dim < pm.m THEN c.x * c.x ELSE 0 END)) AS ncp
         |         FROM pm JOIN ex q ON q.vec_id = pm.query_id
         |                 JOIN ex c ON c.vec_id = pm.cand_id AND c.dim = q.dim
         |         GROUP BY 1, 2, 3, 4),
         | deltas AS (SELECT m,
         |              abs(cos_full - CASE WHEN nqp = 0 OR ncp = 0 THEN 0.0
         |                                  ELSE dp / (nqp * ncp) END) AS d
         |            FROM pre)
         |SELECT CAST(m AS BIGINT) AS m, count(*) AS n_pairs,
         | round(avg(d), 6) AS mean_abs_delta, round(max(d), 6) AS max_abs_delta
         |FROM deltas GROUP BY m""".stripMargin,
    // corpus-wide hash counts joined back (the q16 shape), per-source
    // rollup, q99's one-pass entropy identity per source
    "q138_source_scorecard" ->
      """WITH d AS (SELECT doc_id, source, lang, sha256(text) AS h,
        |             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |           FROM documents),
        | hc AS (SELECT h, count(*) AS hc FROM d GROUP BY h),
        | f AS (SELECT d.*, CASE WHEN hc > 1 THEN 1 ELSE 0 END AS dup
        |       FROM d JOIN hc USING (h)),
        | vol AS (SELECT source, count(*) AS n_docs,
        |           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |           round(avg(n_tokens), 6) AS avg_tokens,
        |           round(avg(CAST(dup AS DOUBLE)), 6) AS dup_frac
        |         FROM f GROUP BY source),
        | le AS (SELECT source,
        |          round(ln(CAST(sum(c) AS DOUBLE))
        |            - sum(c * ln(c)) / sum(c), 6) AS lang_entropy
        |        FROM (SELECT source, lang, count(*) AS c FROM d
        |              GROUP BY source, lang)
        |        GROUP BY source)
        |SELECT source, n_docs, total_tokens, avg_tokens, dup_frac, lang_entropy
        |FROM vol JOIN le USING (source)""".stripMargin,
    // invariant row: DuckDB recounts the vector table; the layout fold
    // (4 batches -> 1) and both zero-mismatch counters are pinned
    "q139_ivf_compaction" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_vecs,
        | CAST(4 AS BIGINT) AS batches_before,
        | CAST(1 AS BIGINT) AS batches_after,
        | CAST(0 AS BIGINT) AS assign_mismatches,
        | CAST(0 AS BIGINT) AS probe_mismatches
        |FROM embeddings""".stripMargin,
    // the same thirds (integer-division cuts), the same frozen reference
    // marginal, the same q135 JS arithmetic — per tick; the replayed
    // tick must leave exactly one row per batch or the row set diverges
    "q140_streaming_drift" ->
      """WITH mx AS (SELECT max(doc_id) AS m FROM documents),
        | shards AS (SELECT doc_id, text,
        |              CASE WHEN doc_id <= m // 3 THEN 0
        |                   WHEN doc_id <= 2 * m // 3 THEN 1 ELSE 2 END AS b
        |            FROM documents, mx),
        | ref AS (SELECT token, count(*) AS cr
        |         FROM (SELECT unnest(string_split(text, ' ')) AS token
        |               FROM documents WHERE doc_id % 5 <> 0)
        |         GROUP BY token),
        | rt AS (SELECT sum(cr) AS nr FROM ref),
        | bt AS (SELECT b, token, count(*) AS cb
        |        FROM (SELECT b, unnest(string_split(text, ' ')) AS token
        |              FROM shards)
        |        GROUP BY b, token),
        | btot AS (SELECT b, sum(cb) AS nb FROM bt GROUP BY b),
        | rb AS (SELECT bs.b, ref.token, ref.cr
        |        FROM ref, (SELECT DISTINCT b FROM shards) bs),
        | j AS (SELECT coalesce(bt.b, rb.b) AS b,
        |         CAST(coalesce(cb, 0) AS DOUBLE) / nb AS p1,
        |         CAST(coalesce(cr, 0) AS DOUBLE) / nr AS p2
        |       FROM bt FULL OUTER JOIN rb
        |         ON bt.b = rb.b AND bt.token = rb.token,
        |         btot, rt
        |       WHERE btot.b = coalesce(bt.b, rb.b)),
        | wm AS (SELECT b, p1, p2, (p1 + p2) / 2.0 AS m FROM j),
        | fin AS (SELECT b,
        |           round((sum(CASE WHEN p1 > 0 THEN p1 * ln(p1 / m) ELSE 0 END)
        |                + sum(CASE WHEN p2 > 0 THEN p2 * ln(p2 / m) ELSE 0 END))
        |             / 2.0, 6) AS js_divergence
        |         FROM wm GROUP BY b)
        |SELECT CAST(b AS BIGINT) AS ingest_batch,
        | CAST(nb AS BIGINT) AS n_tokens, js_divergence
        |FROM fin JOIN btot USING (b)""".stripMargin,
    // invariant row: vector count recounted; layout fold and both
    // zero-mismatch counters pinned (the q139 contract, PQ store)
    "q141_pq_compaction" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_vecs,
        | CAST(4 AS BIGINT) AS batches_before,
        | CAST(1 AS BIGINT) AS batches_after,
        | CAST(0 AS BIGINT) AS code_mismatches,
        | CAST(0 AS BIGINT) AS probe_mismatches
        |FROM embeddings""".stripMargin,
    // the q134 chunk CTEs over both splits: settled distinct hashes vs
    // the shard's chunks, per-doc rollup, the DECIMAL-rounded gate
    "q142_chunk_incremental_dedup" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
        |              FROM documents WHERE len(string_split(text, ' ')) >= 1),
        | tok AS (SELECT doc_id, generate_subscripts(t, 1) AS pos,
        |           unnest(t) AS token FROM toks),
        | flagged AS (SELECT doc_id, pos, token,
        |               CASE WHEN substr(md5(token || ':42'), 1, 1) = '0'
        |                    THEN 1 ELSE 0 END AS cut
        |             FROM tok),
        | idx AS (SELECT doc_id, pos, token,
        |           coalesce(sum(cut) OVER (PARTITION BY doc_id ORDER BY pos
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |             AS chunk_idx
        |         FROM flagged),
        | chunks AS (SELECT doc_id, chunk_idx,
        |              CAST(count(*) AS BIGINT) AS n_tokens,
        |              md5(string_agg(token, ' ' ORDER BY pos)) AS chunk_hash
        |            FROM idx GROUP BY doc_id, chunk_idx),
        | settled AS (SELECT DISTINCT chunk_hash FROM chunks
        |             WHERE doc_id % 7 <> 0),
        | shard AS (SELECT c.doc_id, c.n_tokens,
        |             (s.chunk_hash IS NOT NULL) AS is_settled
        |           FROM chunks c LEFT JOIN settled s USING (chunk_hash)
        |           WHERE c.doc_id % 7 = 0),
        | prof AS (SELECT doc_id, count(*) AS n_chunks,
        |            CAST(sum(CASE WHEN is_settled THEN 1 ELSE 0 END)
        |              AS BIGINT) AS n_settled_chunks,
        |            CAST(sum(CASE WHEN is_settled THEN n_tokens ELSE 0 END)
        |              AS BIGINT) AS settled_tokens,
        |            CAST(sum(n_tokens) AS BIGINT) AS total_tokens
        |          FROM shard GROUP BY 1)
        |SELECT doc_id, n_chunks, n_settled_chunks, settled_tokens,
        | total_tokens,
        | CAST(round(CAST(CAST(settled_tokens AS DOUBLE) / total_tokens
        |        AS DECIMAL(38,18)), 6) AS DOUBLE) >= 0.5 AS dropped
        |FROM prof""".stripMargin,
    // identical per-dim SUM/COUNT means and population-variance form over
    // the same modulo snapshots; 6dp absorbs hash-agg order
    "q143_embedding_drift" ->
      s"""WITH ex AS ($embedExplode),
         | v1 AS (SELECT dim, sum(x) / count(*) AS mean1,
         |          sum(x * x) / count(*) AS m21
         |        FROM ex WHERE vec_id % 5 <> 0 GROUP BY dim),
         | v2 AS (SELECT dim, sum(x) / count(*) AS mean2,
         |          sum(x * x) / count(*) AS m22
         |        FROM ex WHERE vec_id % 3 <> 0 GROUP BY dim)
         |SELECT CAST(dim AS BIGINT) AS dim,
         | round(mean1, 6) AS mean1, round(mean2, 6) AS mean2,
         | round(abs(mean1 - mean2), 6) AS abs_mean_delta,
         | round(sqrt(m22 - mean2 * mean2) / sqrt(m21 - mean1 * mean1), 6)
         |   AS spread_ratio
         |FROM v1 JOIN v2 USING (dim)""".stripMargin,
    // same integer capacity/used arithmetic per strategy, same 6dp cut
    "q144_packing_efficiency" ->
      """WITH n AS (SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        |           FROM documents)
        |SELECT 'truncate' AS strategy,
        |  CAST(count(*) AS BIGINT) AS n_sequences,
        |  CAST(count(*) * 256 AS BIGINT) AS capacity_tokens,
        |  CAST(sum(least(n, 256)) AS BIGINT) AS used_tokens,
        |  round(1.0 - CAST(sum(least(n, 256)) AS DOUBLE)
        |    / (count(*) * 256), 6) AS waste_frac
        |FROM n
        |UNION ALL
        |SELECT 'pack',
        |  CAST((sum(n) + 255) // 256 AS BIGINT),
        |  CAST(((sum(n) + 255) // 256) * 256 AS BIGINT),
        |  CAST(sum(n) AS BIGINT),
        |  round(1.0 - CAST(sum(n) AS DOUBLE)
        |    / (((sum(n) + 255) // 256) * 256), 6)
        |FROM n
        |UNION ALL
        |SELECT 'chunk',
        |  CAST(sum((n + 255) // 256) AS BIGINT),
        |  CAST(sum((n + 255) // 256) * 256 AS BIGINT),
        |  CAST(sum(n) AS BIGINT),
        |  round(1.0 - CAST(sum(n) AS DOUBLE)
        |    / (sum((n + 255) // 256) * 256), 6)
        |FROM n""".stripMargin,
    // q144's arithmetic per context length, same integer ceil-divs
    "q188_context_sweep" -> Seq(128L, 256L, 512L, 1024L).map { c =>
      s"""SELECT CAST($c AS BIGINT) AS context_len, 'truncate' AS strategy,
         |  CAST(count(*) AS BIGINT) AS n_sequences,
         |  CAST(count(*) * $c AS BIGINT) AS capacity_tokens,
         |  CAST(sum(least(n, $c)) AS BIGINT) AS used_tokens,
         |  round(1.0 - CAST(sum(least(n, $c)) AS DOUBLE)
         |    / (count(*) * $c), 6) AS waste_frac
         |FROM (SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n
         |      FROM documents)
         |UNION ALL
         |SELECT $c, 'pack',
         |  CAST((sum(n) + ${c - 1}) // $c AS BIGINT),
         |  CAST(((sum(n) + ${c - 1}) // $c) * $c AS BIGINT),
         |  CAST(sum(n) AS BIGINT),
         |  round(1.0 - CAST(sum(n) AS DOUBLE)
         |    / (((sum(n) + ${c - 1}) // $c) * $c), 6)
         |FROM (SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n
         |      FROM documents)
         |UNION ALL
         |SELECT $c, 'chunk',
         |  CAST(sum((n + ${c - 1}) // $c) AS BIGINT),
         |  CAST(sum((n + ${c - 1}) // $c) * $c AS BIGINT),
         |  CAST(sum(n) AS BIGINT),
         |  round(1.0 - CAST(sum(n) AS DOUBLE)
         |    / (sum((n + ${c - 1}) // $c) * $c), 6)
         |FROM (SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n
         |      FROM documents)""".stripMargin
    }.mkString("\nUNION ALL\n"),
    // identical aggregates per audited column; min/max typed-then-cast
    "q189_table_stats" -> Seq(
      ("orders", "o_custkey"), ("orders", "o_orderstatus"),
      ("orders", "o_orderkey"),
      ("lineitem", "l_orderkey"), ("lineitem", "l_partkey"),
      ("lineitem", "l_suppkey"),
      ("documents", "lang"), ("documents", "source"),
      ("customer", "c_mktsegment"), ("customer", "c_custkey"),
      ("customer", "c_nationkey"), ("nation", "n_nationkey"),
      ("events", "event_type"),
      ("part", "p_partkey"), ("supplier", "s_suppkey"),
      ("supplier", "s_nationkey")).map {
      case (t, c) =>
        s"""SELECT '$t' AS table_name, '$c' AS column_name,
           |  CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_nulls,
           |  CAST(count(DISTINCT $c) AS BIGINT) AS ndv,
           |  CAST(min($c) AS VARCHAR) AS min_val,
           |  CAST(max($c) AS VARCHAR) AS max_val,
           |  CAST(round(CAST(avg(length(CAST($c AS VARCHAR)))
           |    AS DECIMAL(38,18)), 6) AS DOUBLE) AS avg_width
           |FROM $t""".stripMargin
    }.mkString("\nUNION ALL\n"),
    // rank selection at ceil(p*n) over the distinct-value histogram,
    // min/max as the 0/1 endpoints
    "q190_column_histograms" -> Seq(
      ("orders", "o_totalprice"), ("lineitem", "l_quantity"),
      ("customer", "c_acctbal")).map { case (t, c) =>
      s"""SELECT '$t' AS table_name, '$c' AS column_name,
         |  CAST(0.0 AS DOUBLE) AS p, min(CAST($c AS DOUBLE)) AS value FROM $t
         |UNION ALL
         |SELECT '$t', '$c', 1.0, max(CAST($c AS DOUBLE)) FROM $t
         |UNION ALL
         |SELECT '$t', '$c', p, min(v) FROM (
         |  SELECT v, sum(cnt) OVER (ORDER BY v) AS cum,
         |         sum(cnt) OVER () AS n
         |  FROM (SELECT CAST($c AS DOUBLE) AS v, count(*) AS cnt
         |        FROM $t GROUP BY 1)) h
         |CROSS JOIN (SELECT CAST(unnest([0.25, 0.5, 0.75]) AS DOUBLE) AS p) ps
         |WHERE cum >= ceil(n * p) GROUP BY 1, 2, 3""".stripMargin
    }.mkString("\nUNION ALL\n"),
    // the engine's rolling hash + sliding-min + pair machinery replayed
    // end-to-end in HUGEINT integer SQL — see [[winnowingPairsSql]]
    "q63_winnowing_pairs" -> winnowingPairsSql,
    // the engine's dpCcp replayed symbolically — see [[cyclicDpSql]]
    "q249_cbo_cyclic_enumeration" -> cyclicDpSql,
    // the engine's operator-aware DP replayed symbolically, both β
    // instantiations — see [[physStarDpSql]]
    "q251_cbo_physical_enumeration" -> physStarDpSql,
    // the engine's interesting-partitionings state DP replayed
    // symbolically, both γ instantiations — see [[exchDpSql]]
    "q254_cbo_exchange_enumeration" -> exchDpSql,
    // the engine's unified operator+partitioning DP replayed
    // symbolically, both threshold instantiations — see [[uniDpSql]]
    "q255_cbo_unified_enumeration" -> uniDpSql,
    // the whole planned-query path replayed symbolically: histogram
    // estimate × gated LEO correction → four DP instantiations →
    // executed aggregate — see [[plannedDpSql]]
    "q256_planned_query" -> plannedDpSql,
    // the byte-gated unified DP replayed symbolically, four arms over
    // one cardinality base, widths via the q189 avg-width expression —
    // see [[byteDpSql]]
    "q257_cbo_byte_broadcast" -> byteDpSql,
    // both probe enumerations replayed with partitioning-state and
    // exchange-count columns threaded through the cost CASE chains —
    // see [[modelPredDpSql]]
    "q258_cbo_model_predictions" -> modelPredDpSql,
    // the composition replayed: correction CTEs × width CTEs feeding
    // four byte-gated DP chains — see [[plannedBytesDpSql]]
    "q259_planned_query_bytes" -> plannedBytesDpSql,
    // per-tick observations for both stores (the drifted store adds
    // the planted shift tick: pre-shift grid estimate, rotated-regime
    // actual = the original OFF-diagonal rectangle), the freshness
    // verdict per store (prior vs latest tick ratio, drift, the stale
    // flag), the gated correction, and rectangle B's transfer under
    // each leg's regime — the refusal path included, decision_right
    // derived from the three errors
    "q252_feedback_staleness" ->
      """WITH bnd AS (
        |  SELECT min(event_id) AS id_min, max(event_id) AS id_max,
        |    min(epoch_us(CAST(ts AS TIMESTAMP))) AS ts_min,
        |    max(epoch_us(CAST(ts AS TIMESTAMP))) AS ts_max,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events),
        |e AS (
        |  SELECT (event_id - id_min) * 8 // (id_max - id_min + 1) AS b_id,
        |    (epoch_us(CAST(ts AS TIMESTAMP)) - ts_min) * 8
        |      // (ts_max - ts_min + 1) AS b_ts
        |  FROM events, bnd),
        |r(tick, rlo, rhi) AS (VALUES (0, 0, 1), (1, 4, 5), (2, 6, 7)),
        |diag AS (
        |  SELECT CAST(r.tick AS BIGINT) AS tick,
        |    CAST((SELECT count(*) FROM e
        |            WHERE b_id BETWEEN r.rlo AND r.rhi)
        |      * (SELECT count(*) FROM e
        |           WHERE b_ts BETWEEN r.rlo AND r.rhi)
        |      // (SELECT n FROM bnd) AS BIGINT) AS est,
        |    (SELECT CAST(count(*) AS BIGINT) FROM e
        |     WHERE b_id BETWEEN r.rlo AND r.rhi
        |       AND b_ts BETWEEN r.rlo AND r.rhi) AS actual
        |  FROM r),
        |shiftt AS (
        |  SELECT CAST(3 AS BIGINT) AS tick,
        |    CAST((SELECT count(*) FROM e WHERE b_id BETWEEN 0 AND 1)
        |      * (SELECT count(*) FROM e WHERE b_ts BETWEEN 0 AND 1)
        |      // (SELECT n FROM bnd) AS BIGINT) AS est,
        |    (SELECT CAST(count(*) AS BIGINT) FROM e
        |     WHERE b_id BETWEEN 0 AND 1 AND b_ts BETWEEN 4 AND 5)
        |      AS actual),
        |allt AS (
        |  SELECT 'fresh' AS store_label, tick, est, actual FROM diag
        |  UNION ALL
        |  SELECT 'drifted', tick, est, actual FROM diag
        |  UNION ALL
        |  SELECT 'drifted', tick, est, actual FROM shiftt),
        |mxx AS (
        |  SELECT store_label, max(tick) AS mx FROM allt GROUP BY 1),
        |summ AS (
        |  SELECT a.store_label,
        |    CAST(count(*) AS BIGINT) AS n_ticks,
        |    CAST(sum(a.actual) * 1000000
        |      // greatest(sum(a.est), 1) AS BIGINT) AS pooled_e6,
        |    CAST(sum(CASE WHEN a.tick < m.mx THEN a.actual ELSE 0 END)
        |      * 1000000
        |      // greatest(sum(CASE WHEN a.tick < m.mx THEN a.est
        |                     ELSE 0 END), 1) AS BIGINT) AS prior_e6,
        |    CAST(sum(CASE WHEN a.tick = m.mx THEN a.actual ELSE 0 END)
        |      * 1000000
        |      // greatest(sum(CASE WHEN a.tick = m.mx THEN a.est
        |                     ELSE 0 END), 1) AS BIGINT) AS latest_e6
        |  FROM allt a JOIN mxx m USING (store_label) GROUP BY 1),
        |fr AS (
        |  SELECT *,
        |    CAST(abs(latest_e6 - prior_e6) * 1000000
        |      // greatest(prior_e6, 1) AS BIGINT) AS drift_ppm
        |  FROM summ),
        |fr2 AS (
        |  SELECT *, drift_ppm > 500000 AS stale,
        |    CAST(CASE WHEN drift_ppm > 500000 THEN 1000000
        |      ELSE pooled_e6 END AS BIGINT) AS correction_used_e6
        |  FROM fr),
        |b AS (
        |  SELECT
        |    CAST((SELECT count(*) FROM e WHERE b_id BETWEEN 2 AND 3)
        |      * (SELECT count(*) FROM e WHERE b_ts BETWEEN 2 AND 3)
        |      // (SELECT n FROM bnd) AS BIGINT) AS est_b_raw,
        |    (SELECT CAST(count(*) AS BIGINT) FROM e
        |     WHERE b_id BETWEEN 2 AND 3 AND b_ts BETWEEN 2 AND 3)
        |      AS actual_b_fresh,
        |    (SELECT CAST(count(*) AS BIGINT) FROM e
        |     WHERE b_id BETWEEN 2 AND 3 AND b_ts BETWEEN 6 AND 7)
        |      AS actual_b_drift),
        |legs AS (
        |  SELECT f.*, b.est_b_raw,
        |    CAST(b.est_b_raw * f.pooled_e6 // 1000000 AS BIGINT)
        |      AS est_b_corrected,
        |    CAST(b.est_b_raw * f.correction_used_e6 // 1000000 AS BIGINT)
        |      AS est_b_used,
        |    CASE WHEN f.store_label = 'fresh' THEN b.actual_b_fresh
        |      ELSE b.actual_b_drift END AS actual_b
        |  FROM fr2 f, b),
        |er AS (
        |  SELECT *,
        |    CAST(CASE WHEN actual_b > 0
        |      THEN abs(est_b_raw - actual_b) * 1000000 // actual_b
        |      ELSE est_b_raw * 1000000 END AS BIGINT) AS raw_err_ppm,
        |    CAST(CASE WHEN actual_b > 0
        |      THEN abs(est_b_corrected - actual_b) * 1000000 // actual_b
        |      ELSE est_b_corrected * 1000000 END AS BIGINT)
        |      AS corrected_err_ppm,
        |    CAST(CASE WHEN actual_b > 0
        |      THEN abs(est_b_used - actual_b) * 1000000 // actual_b
        |      ELSE est_b_used * 1000000 END AS BIGINT) AS used_err_ppm
        |  FROM legs)
        |SELECT a.store_label, a.tick AS ingest_batch, a.est, a.actual,
        |  er.n_ticks, er.pooled_e6, er.prior_e6, er.latest_e6,
        |  er.drift_ppm, er.stale, er.correction_used_e6, er.est_b_raw,
        |  er.est_b_corrected, er.est_b_used, er.actual_b,
        |  er.raw_err_ppm, er.corrected_err_ppm, er.used_err_ppm,
        |  er.used_err_ppm <= er.raw_err_ppm
        |    AND er.used_err_ppm <= er.corrected_err_ppm AS decision_right
        |FROM allt a JOIN er USING (store_label)""".stripMargin,
    // every stored observation row (tick = rectangle index), the pooled
    // fold, the ratio correction, and the held-out transfer — all the
    // same grid integer arithmetic as q243's oracle
    "q250_incremental_feedback" ->
      """WITH bnd AS (
        |  SELECT min(event_id) AS id_min, max(event_id) AS id_max,
        |    min(epoch_us(CAST(ts AS TIMESTAMP))) AS ts_min,
        |    max(epoch_us(CAST(ts AS TIMESTAMP))) AS ts_max,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events),
        |e AS (
        |  SELECT (event_id - id_min) * 8 // (id_max - id_min + 1) AS b_id,
        |    (epoch_us(CAST(ts AS TIMESTAMP)) - ts_min) * 8
        |      // (ts_max - ts_min + 1) AS b_ts
        |  FROM events, bnd),
        |r(tick, rlo, rhi) AS (VALUES (0, 0, 1), (1, 4, 5), (2, 6, 7)),
        |t AS (
        |  SELECT CAST(r.tick AS BIGINT) AS ingest_batch,
        |    'id_ts_diag' AS pred_class,
        |    CAST((SELECT count(*) FROM e
        |            WHERE b_id BETWEEN r.rlo AND r.rhi)
        |      * (SELECT count(*) FROM e
        |           WHERE b_ts BETWEEN r.rlo AND r.rhi)
        |      // (SELECT n FROM bnd) AS BIGINT) AS est,
        |    (SELECT CAST(count(*) AS BIGINT) FROM e
        |     WHERE b_id BETWEEN r.rlo AND r.rhi
        |       AND b_ts BETWEEN r.rlo AND r.rhi) AS actual
        |  FROM r
        |  UNION ALL
        |  SELECT CAST(3 AS BIGINT), 'l_orderkey_mod2_eq',
        |    greatest((SELECT CAST(count(*) AS BIGINT) FROM lineitem)
        |      // 1000, 1),
        |    (SELECT CAST(count(*) AS BIGINT) FROM lineitem
        |     WHERE l_orderkey % 2 = 0)),
        |fold AS (
        |  SELECT CAST(sum(est) AS BIGINT) AS est_sum,
        |    CAST(sum(actual) AS BIGINT) AS actual_sum
        |  FROM t WHERE pred_class = 'id_ts_diag'),
        |co AS (
        |  SELECT *, actual_sum * 1000000 // greatest(est_sum, 1)
        |    AS correction_e6
        |  FROM fold),
        |b AS (
        |  SELECT
        |    CAST((SELECT count(*) FROM e WHERE b_id BETWEEN 2 AND 3)
        |      * (SELECT count(*) FROM e WHERE b_ts BETWEEN 2 AND 3)
        |      // (SELECT n FROM bnd) AS BIGINT) AS est_b_raw,
        |    (SELECT CAST(count(*) AS BIGINT) FROM e
        |     WHERE b_id BETWEEN 2 AND 3 AND b_ts BETWEEN 2 AND 3)
        |      AS actual_b),
        |ap AS (
        |  SELECT co.*, b.est_b_raw,
        |    CAST(b.est_b_raw * co.correction_e6 // 1000000 AS BIGINT)
        |      AS est_b_corrected,
        |    b.actual_b
        |  FROM co, b),
        |er AS (
        |  SELECT *,
        |    CAST(CASE WHEN actual_b > 0
        |      THEN abs(est_b_raw - actual_b) * 1000000 // actual_b
        |      ELSE est_b_raw * 1000000 END AS BIGINT) AS raw_err_ppm,
        |    CAST(CASE WHEN actual_b > 0
        |      THEN abs(est_b_corrected - actual_b) * 1000000 // actual_b
        |      ELSE est_b_corrected * 1000000 END AS BIGINT)
        |      AS corrected_err_ppm
        |  FROM ap)
        |SELECT t.ingest_batch, t.pred_class, t.est, t.actual,
        |  er.est_sum, er.actual_sum, er.correction_e6, er.est_b_raw,
        |  er.est_b_corrected, er.actual_b, er.raw_err_ppm,
        |  er.corrected_err_ppm,
        |  er.corrected_err_ppm < er.raw_err_ppm AS improved
        |FROM t, er""".stripMargin,
    // both complete DP chains (the q245 CASE machinery instantiated per
    // pricing via starDpChainSql), the training leg, the correction,
    // both chosen plans/costs, the flip flag, and the filtered star's
    // aggregate — all re-derived
    "q248_cbo_feedback_graph" ->
      s"""WITH base AS (
         |  SELECT (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS nli0,
         |    (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT)
         |       FROM lineitem) AS ndv_lo,
         |    (SELECT CAST(count(DISTINCT l_partkey) AS BIGINT)
         |       FROM lineitem) AS ndv_lp,
         |    (SELECT CAST(count(DISTINCT l_suppkey) AS BIGINT)
         |       FROM lineitem) AS ndv_ls,
         |    (SELECT CAST(count(*) AS BIGINT) FROM orders) AS nord0,
         |    (SELECT CAST(count(DISTINCT o_orderkey) AS BIGINT)
         |       FROM orders) AS ndv_oo,
         |    (SELECT CAST(count(DISTINCT o_custkey) AS BIGINT)
         |       FROM orders) AS ndv_oc,
         |    (SELECT CAST(count(*) AS BIGINT) FROM customer) AS ncust0,
         |    (SELECT CAST(count(DISTINCT c_custkey) AS BIGINT)
         |       FROM customer) AS ndv_cc,
         |    (SELECT CAST(count(*) AS BIGINT) FROM part) AS npart0,
         |    (SELECT CAST(count(DISTINCT p_partkey) AS BIGINT)
         |       FROM part) AS ndv_pp,
         |    (SELECT CAST(count(*) AS BIGINT) FROM supplier) AS nsupp0,
         |    (SELECT CAST(count(DISTINCT s_suppkey) AS BIGINT)
         |       FROM supplier) AS ndv_ss),
         |tr AS (
         |  SELECT CAST(count(*) AS BIGINT) AS actual_train
         |  FROM lineitem WHERE l_orderkey % 2 = 0),
         |ap AS (
         |  SELECT *,
         |    greatest(nli0 // 1000, 1) AS est_default,
         |    actual_train * 1000000
         |      // greatest(greatest(nli0 // 1000, 1), 1) AS correction_e6,
         |    (greatest(nli0 // 1000, 1)
         |      * (actual_train * 1000000
         |         // greatest(greatest(nli0 // 1000, 1), 1))) // 1000000
         |      AS est_fb
         |  FROM base, tr),
         |st_r AS (
         |  SELECT est_default AS nli, nord0 AS nord, ncust0 AS ncust,
         |    npart0 AS npart, nsupp0 AS nsupp,
         |    greatest(least(est_default, ndv_lo), ndv_oo) AS d0,
         |    greatest(ndv_oc, ndv_cc) AS d1,
         |    greatest(least(est_default, ndv_lp), ndv_pp) AS d2,
         |    greatest(least(est_default, ndv_ls), ndv_ss) AS d3
         |  FROM ap),
         |${starDpChainSql("_r")},
         |st_f AS (
         |  SELECT est_fb AS nli, nord0 AS nord, ncust0 AS ncust,
         |    npart0 AS npart, nsupp0 AS nsupp,
         |    greatest(least(est_fb, ndv_lo), ndv_oo) AS d0,
         |    greatest(ndv_oc, ndv_cc) AS d1,
         |    greatest(least(est_fb, ndv_lp), ndv_pp) AS d2,
         |    greatest(least(est_fb, ndv_ls), ndv_ss) AS d3
         |  FROM ap),
         |${starDpChainSql("_f")},
         |fin AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         |    CAST(coalesce(sum(CAST(l_quantity AS BIGINT)), 0) AS BIGINT)
         |      AS sum_qty,
         |    CAST(coalesce(sum(CAST(s_suppkey AS BIGINT)), 0) AS BIGINT)
         |      AS sum_supp
         |  FROM lineitem l
         |  JOIN orders o ON l.l_orderkey = o.o_orderkey
         |  JOIN customer c ON o.o_custkey = c.c_custkey
         |  JOIN part p ON l.l_partkey = p.p_partkey
         |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
         |  WHERE l.l_orderkey % 2 = 1)
         |SELECT 'l_orderkey_mod2_eq' AS pred_class,
         |  ap.est_default, ap.actual_train, ap.correction_e6, ap.est_fb,
         |  r.p_all AS plan_raw, r.c_all AS cost_raw,
         |  f.p_all AS plan_fb, f.c_all AS cost_fb,
         |  r.p_all <> f.p_all AS flipped,
         |  fin.n_rows, fin.sum_qty, fin.sum_supp,
         |  TRUE AS trees_identical
         |FROM ap, c5_r r, c5_f f, fin""".stripMargin,
    // the q52 closure re-aggregated to the size grain
    "q192_dup_cluster_histogram" -> dupHistogramSql,
    // the cascade predicate CTEs once, three attribution columns per gate
    "q195_gate_ablation" -> gateAblationSql,
    // the same per-subject aggregates; ts via epoch millis (integers)
    "q193_subject_access" ->
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(epoch_ms(min(CAST(ts AS TIMESTAMP))) AS BIGINT) AS first_ms,
        |  CAST(epoch_ms(max(CAST(ts AS TIMESTAMP))) AS BIGINT) AS last_ms,
        |  CAST(count(DISTINCT event_type) AS BIGINT) AS n_event_types,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_purchases
        |FROM events WHERE user_id % 13 = 3 GROUP BY user_id""".stripMargin,
    // same lag/cumsum session rule; micros are integers on both engines
    "q196_sessionization" ->
      """WITH e AS (SELECT user_id,
        |             epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |f AS (SELECT user_id, us,
        |        CASE WHEN lag(us) OVER w IS NULL
        |               OR us - lag(us) OVER w > 1800000000
        |             THEN 1 ELSE 0 END AS new_sess
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)),
        |s AS (SELECT user_id, us,
        |        sum(new_sess) OVER (PARTITION BY user_id ORDER BY us
        |          ROWS UNBOUNDED PRECEDING) AS sess_no
        |      FROM f),
        |p AS (SELECT user_id, sess_no, CAST(count(*) AS BIGINT) AS ev,
        |        max(us) - min(us) AS dur_us
        |      FROM s GROUP BY 1, 2)
        |SELECT ev AS events_in_session, CAST(count(*) AS BIGINT) AS n_sessions,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |  CAST(round(CAST(avg(dur_us) AS DECIMAL(38,18)), 6) AS DOUBLE)
        |    AS avg_duration_us,
        |  CAST(max(dur_us) AS BIGINT) AS max_duration_us
        |FROM p GROUP BY 1""".stripMargin,
    // same data-derived anchor, cents-grain monetary, quartile cuts via
    // quantile_cont (same dyadic-exact interpolation as Spark percentile)
    "q197_rfm_segments" ->
      """WITH o AS (SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
        |             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |           FROM orders),
        |a AS (SELECT max(d) AS anchor FROM o),
        |c AS (SELECT o_custkey,
        |        CAST(date_diff('day', max(d), anchor) AS BIGINT)
        |          AS recency_days,
        |        CAST(count(*) AS BIGINT) AS frequency,
        |        CAST(sum(cents) AS BIGINT) AS monetary_cents
        |      FROM o, a GROUP BY o_custkey, anchor),
        |q AS (SELECT quantile_cont(recency_days, 0.25) AS r1,
        |        quantile_cont(recency_days, 0.5) AS r2,
        |        quantile_cont(recency_days, 0.75) AS r3,
        |        quantile_cont(frequency, 0.25) AS f1,
        |        quantile_cont(frequency, 0.5) AS f2,
        |        quantile_cont(frequency, 0.75) AS f3,
        |        quantile_cont(monetary_cents, 0.25) AS m1,
        |        quantile_cont(monetary_cents, 0.5) AS m2,
        |        quantile_cont(monetary_cents, 0.75) AS m3 FROM c),
        |s AS (SELECT c.*,
        |        CAST(1 + (CASE WHEN recency_days < r1 THEN 1 ELSE 0 END)
        |               + (CASE WHEN recency_days < r2 THEN 1 ELSE 0 END)
        |               + (CASE WHEN recency_days < r3 THEN 1 ELSE 0 END)
        |          AS BIGINT) AS r_score,
        |        CAST(1 + (CASE WHEN frequency > f1 THEN 1 ELSE 0 END)
        |               + (CASE WHEN frequency > f2 THEN 1 ELSE 0 END)
        |               + (CASE WHEN frequency > f3 THEN 1 ELSE 0 END)
        |          AS BIGINT) AS f_score,
        |        CAST(1 + (CASE WHEN monetary_cents > m1 THEN 1 ELSE 0 END)
        |               + (CASE WHEN monetary_cents > m2 THEN 1 ELSE 0 END)
        |               + (CASE WHEN monetary_cents > m3 THEN 1 ELSE 0 END)
        |          AS BIGINT) AS m_score
        |      FROM c, q)
        |SELECT r_score, f_score, m_score,
        |  CAST(count(*) AS BIGINT) AS n_customers,
        |  CAST(round(CAST(avg(recency_days) AS DECIMAL(38,18)), 6) AS DOUBLE)
        |    AS avg_recency_days,
        |  CAST(round(CAST(avg(frequency) AS DECIMAL(38,18)), 6) AS DOUBLE)
        |    AS avg_frequency,
        |  CAST(sum(monetary_cents) AS BIGINT) AS monetary_cents
        |FROM s GROUP BY 1, 2, 3""".stripMargin,
    // every metric re-derived from the fragments its owning oracle uses
    "q191_corpus_data_card" ->
      s"""WITH $jaccardPairCtes,
         |base AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
         |  CAST(sum(len(string_split(text, ' '))) AS DOUBLE) AS n_tokens,
         |  CAST(sum(length(text)) AS DOUBLE) AS n_chars,
         |  CAST(count(DISTINCT lang) AS DOUBLE) AS n_langs,
         |  CAST(count(DISTINCT source) AS DOUBLE) AS n_sources,
         |  CAST(round(CAST(avg($qualitySql) AS DECIMAL(38,18)), 6) AS DOUBLE)
         |    AS mean_quality
         | FROM documents),
         |dg AS (SELECT CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS DOUBLE)
         |         AS exact_dup_groups
         |       FROM (SELECT count(*) AS c FROM documents GROUP BY sha256(text))),
         |le AS (SELECT CAST(round(CAST(ln(sum(n)) - sum(n * ln(n)) / sum(n)
         |         AS DECIMAL(38,18)), 6) AS DOUBLE) AS lang_entropy
         |       FROM (SELECT count(*) AS n FROM documents GROUP BY lang)),
         |ps AS (SELECT CAST(count(*) AS DOUBLE) AS neardup_pairs FROM pairs),
         |pd AS (SELECT CAST(count(DISTINCT id) AS DOUBLE) AS neardup_docs
         |       FROM (SELECT doc_a AS id FROM pairs
         |             UNION ALL SELECT doc_b FROM pairs)),
         |ct AS (SELECT CAST(count(DISTINCT id) AS DOUBLE) AS eval_contaminated
         |       FROM (SELECT CASE WHEN doc_a % 10 = 0 THEN doc_b ELSE doc_a END
         |               AS id
         |             FROM pairs WHERE (doc_a % 10 = 0) <> (doc_b % 10 = 0)
         |             UNION ALL
         |             SELECT t.doc_id FROM documents t
         |             WHERE t.doc_id % 10 <> 0
         |               AND sha256(t.text) IN (SELECT sha256(text)
         |                 FROM documents WHERE doc_id % 10 = 0)))
         |SELECT m.metric,
         |  CASE m.metric
         |    WHEN 'n_docs' THEN n_docs WHEN 'n_tokens' THEN n_tokens
         |    WHEN 'n_chars' THEN n_chars WHEN 'n_langs' THEN n_langs
         |    WHEN 'n_sources' THEN n_sources
         |    WHEN 'mean_quality' THEN mean_quality
         |    WHEN 'lang_entropy' THEN lang_entropy
         |    WHEN 'exact_dup_groups' THEN exact_dup_groups
         |    WHEN 'neardup_pairs' THEN neardup_pairs
         |    WHEN 'neardup_docs' THEN neardup_docs
         |    ELSE eval_contaminated END AS value
         |FROM (SELECT unnest(['n_docs', 'n_tokens', 'n_chars', 'n_langs',
         |        'n_sources', 'mean_quality', 'lang_entropy',
         |        'exact_dup_groups', 'neardup_pairs', 'neardup_docs',
         |        'eval_contaminated']) AS metric) m
         |CROSS JOIN base CROSS JOIN dg CROSS JOIN le
         |CROSS JOIN ps CROSS JOIN pd CROSS JOIN ct""".stripMargin,
    // the route is a pure CASE over the recounted corpus; violations are
    // the engine-side dispatch check, pinned 0
    "q145_ann_route" ->
      """WITH c AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings)
        |SELECT s.scenario, s.lsh_max_rows, s.compressed, c.n AS n_vectors,
        |  CASE WHEN s.compressed THEN 'pq'
        |       WHEN c.n <= s.lsh_max_rows THEN 'lsh'
        |       ELSE 'ivf' END AS route,
        |  CAST(0 AS BIGINT) AS violations
        |FROM (VALUES ('default', CAST(1000000 AS BIGINT), false),
        |             ('small_cap', CAST(10 AS BIGINT), false),
        |             ('compressed', CAST(1000000 AS BIGINT), true))
        |  s(scenario, lsh_max_rows, compressed)
        |CROSS JOIN c""".stripMargin,
    // same integer prediction rule, example-weighted accuracy, DECIMAL-
    // routed 6dp division
    "q146_fed_eval_metric" ->
      """WITH preds AS (
        |  SELECT r.fed_round, CAST(e.label AS BIGINT) AS client_id,
        |    CAST(e.vec_id % 10 + 1 AS DOUBLE) AS w,
        |    CASE WHEN (e.vec_id * 31 + r.fed_round * 17) % 100
        |              < 40 + 15 * r.fed_round
        |         THEN 1.0 ELSE 0.0 END AS correct
        |  FROM embeddings e
        |  CROSS JOIN (SELECT CAST(unnest(generate_series(1, 3)) AS BIGINT)
        |                AS fed_round) r)
        |SELECT fed_round,
        |  CAST(count(DISTINCT client_id) AS BIGINT) AS n_clients,
        |  CAST(count(*) AS BIGINT) AS n_examples,
        |  CAST(sum(w) AS BIGINT) AS total_weight,
        |  CAST(round(CAST(sum(w * correct) / sum(w) AS DECIMAL(38,18)), 6)
        |    AS DOUBLE) AS binary_accuracy
        |FROM preds GROUP BY 1""".stripMargin,
    // same total rank order (count desc, token asc); the engine's
    // histogram+tie rank equals this single row_number by construction
    "q147_zipf_audit" ->
      """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS token
        |              FROM documents),
        |counts AS (SELECT token, CAST(count(*) AS BIGINT) AS c
        |           FROM toks GROUP BY token),
        |ranked AS (SELECT
        |    ln(CAST(row_number() OVER (ORDER BY c DESC, token) AS DOUBLE)) AS x,
        |    ln(CAST(c AS DOUBLE)) AS y
        |  FROM counts),
        |s AS (SELECT CAST(count(*) AS DOUBLE) AS n, sum(x) AS sx, sum(y) AS sy,
        |        sum(x*y) AS sxy, sum(x*x) AS sxx, sum(y*y) AS syy FROM ranked)
        |SELECT CAST(n AS BIGINT) AS vocab_size,
        |  round((n*sxy - sx*sy) / (n*sxx - sx*sx), 6) AS zipf_slope,
        |  round((sy - sx * ((n*sxy - sx*sy) / (n*sxx - sx*sx))) / n, 6)
        |    AS zipf_intercept,
        |  round(pow(n*sxy - sx*sy, 2) /
        |        ((n*sxx - sx*sx) * (n*syy - sy*sy)), 6) AS r_squared
        |FROM s""".stripMargin,
    // identical gate arithmetic: ttr through DECIMAL(38,18) → 6dp → gate
    "q148_scorer_agreement" ->
      """WITH g AS (SELECT
        |    (len(string_split(text, ' ')) >= 20) AS ga,
        |    (CAST(round(CAST(CAST(len(list_distinct(string_split(text, ' ')))
        |                            AS DOUBLE)
        |                     / len(string_split(text, ' ')) AS DECIMAL(38,18)), 6)
        |          AS DOUBLE) >= 0.5) AS gb
        |  FROM documents),
        |c AS (SELECT
        |    CAST(sum(CASE WHEN NOT ga AND NOT gb THEN 1 ELSE 0 END) AS BIGINT) AS n00,
        |    CAST(sum(CASE WHEN NOT ga AND gb THEN 1 ELSE 0 END) AS BIGINT) AS n01,
        |    CAST(sum(CASE WHEN ga AND NOT gb THEN 1 ELSE 0 END) AS BIGINT) AS n10,
        |    CAST(sum(CASE WHEN ga AND gb THEN 1 ELSE 0 END) AS BIGINT) AS n11
        |  FROM g),
        |k AS (SELECT *, CAST(n00 + n01 + n10 + n11 AS DOUBLE) AS n,
        |        CAST(n00 + n11 AS DOUBLE) / (n00 + n01 + n10 + n11) AS po,
        |        ((n10 + n11) * (n01 + n11) + (n00 + n01) * (n00 + n10))
        |          / (CAST(n00 + n01 + n10 + n11 AS DOUBLE)
        |             * (n00 + n01 + n10 + n11)) AS pe
        |      FROM c)
        |SELECT n00, n01, n10, n11,
        |  round(po, 6) AS observed_agreement,
        |  round(pe, 6) AS chance_agreement,
        |  round((po - pe) / (1.0 - pe), 6) AS kappa
        |FROM k""".stripMargin,
    // conf = exact integer division (IEEE-identical), so decile binning
    // needs no rounding escape; gaps rounded 6dp at the end only
    "q149_calibration_ece" ->
      """WITH b AS (SELECT
        |    CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |      / len(string_split(text, ' ')) AS conf,
        |    (len(string_split(text, ' ')) >= 20) AS pass
        |  FROM documents),
        |bb AS (SELECT least(CAST(floor(conf * 10) AS BIGINT), 9) AS bin,
        |         conf, pass FROM b),
        |pb AS (SELECT bin, CAST(count(*) AS BIGINT) AS nb, avg(conf) AS cb,
        |         avg(CASE WHEN pass THEN 1.0 ELSE 0.0 END) AS ab
        |       FROM bb GROUP BY bin)
        |SELECT CAST(sum(nb) AS BIGINT) AS n_docs,
        |  CAST(count(*) AS BIGINT) AS bins_occupied,
        |  round(sum(nb * abs(ab - cb)) / sum(nb), 6) AS ece,
        |  round(max(abs(ab - cb)), 6) AS max_gap
        |FROM pb""".stripMargin,
    // same gram/diagonal/island arithmetic: md5 8-token grams, df<=50,
    // island = pos_a - row_number per (pair, diagonal), run >= 20 tokens
    "q150_substring_runs" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
        |              generate_subscripts(string_split(text, ' '), 1) - 1 AS p
        |              FROM documents),
        |gr AS (SELECT doc_id, p,
        |         md5(string_agg(tok, ' ') OVER (PARTITION BY doc_id ORDER BY p
        |             ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING)) AS g,
        |         count(*) OVER (PARTITION BY doc_id) AS nt
        |       FROM toks),
        |grams AS (SELECT doc_id, CAST(p AS BIGINT) AS pos, g
        |          FROM gr WHERE p <= nt - 8),
        |hot AS (SELECT g FROM grams GROUP BY g HAVING count(*) > 50),
        |rare AS (SELECT * FROM grams WHERE g NOT IN (SELECT g FROM hot)),
        |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |            a.pos AS pos_a, a.pos - b.pos AS diag
        |          FROM rare a JOIN rare b ON a.g = b.g AND a.doc_id < b.doc_id),
        |isl AS (SELECT doc_a, doc_b, diag,
        |          pos_a - row_number() OVER (PARTITION BY doc_a, doc_b, diag
        |            ORDER BY pos_a) AS island
        |        FROM pairs),
        |runs AS (SELECT doc_a, doc_b,
        |           CAST(count(*) + 7 AS BIGINT) AS run_tokens
        |         FROM isl GROUP BY doc_a, doc_b, diag, island)
        |SELECT doc_a, doc_b, max(run_tokens) AS max_run_tokens,
        |  CAST(count(*) AS BIGINT) AS n_runs,
        |  CAST(sum(run_tokens) AS BIGINT) AS sum_run_tokens
        |FROM runs WHERE run_tokens >= 20 GROUP BY doc_a, doc_b""".stripMargin,
    // same span geometry (5-token stride-5 windows incl. the short tail),
    // df>1 spans scrubbed everywhere, text rebuilt in idx order
    "q151_repeated_span_scrub" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
        |              generate_subscripts(string_split(text, ' '), 1) - 1 AS p
        |              FROM documents),
        |spans AS (SELECT doc_id, p // 5 AS idx,
        |            string_agg(tok, ' ' ORDER BY p) AS span
        |          FROM toks GROUP BY doc_id, p // 5),
        |rep AS (SELECT md5(span) AS h FROM spans
        |        GROUP BY md5(span) HAVING count(*) > 1),
        |kept AS (SELECT doc_id, idx, span FROM spans
        |         WHERE md5(span) NOT IN (SELECT h FROM rep)),
        |base AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans
        |         FROM spans GROUP BY doc_id),
        |reb AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |          string_agg(span, ' ' ORDER BY idx) AS clean_text
        |        FROM kept GROUP BY doc_id)
        |SELECT b.doc_id, b.n_spans,
        |  b.n_spans - coalesce(r.n_kept, 0) AS n_dropped,
        |  md5(coalesce(r.clean_text, '')) AS clean_hash
        |FROM base b LEFT JOIN reb r USING (doc_id)""".stripMargin,
    // q21's rank order (6dp-rounded score desc, cand_id) over ALL queries,
    // then the same two edge joins; ratios through DECIMAL
    "q152_knn_label_audit" ->
      s"""WITH ex AS ($embedExplode),
         |dots AS (SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         |           sum(q.x * c.x) AS dot
         |         FROM ex q JOIN ex c ON q.dim = c.dim AND q.vec_id <> c.vec_id
         |         GROUP BY 1, 2),
         |norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM ex GROUP BY vec_id),
         |ranked AS (SELECT query_id, cand_id,
         |            row_number() OVER (PARTITION BY query_id
         |              ORDER BY round(dot / (nq.nrm * nc.nrm), 6) DESC, cand_id)
         |              AS rank
         |           FROM dots JOIN norms nq ON nq.vec_id = query_id
         |                     JOIN norms nc ON nc.vec_id = cand_id),
         |edges AS (SELECT query_id, cand_id FROM ranked WHERE rank <= 5),
         |rc AS (SELECT e.query_id, e.cand_id,
         |         CASE WHEN r.query_id IS NULL THEN 0 ELSE 1 END AS rec
         |       FROM edges e LEFT JOIN edges r
         |         ON r.query_id = e.cand_id AND r.cand_id = e.query_id),
         |lab AS (SELECT vec_id, label FROM embeddings),
         |agg AS (SELECT ql.label AS label, CAST(count(*) AS BIGINT) AS n_edges,
         |          CAST(sum(rec) AS BIGINT) AS n_reciprocal,
         |          CAST(sum(CASE WHEN ql.label = cl.label THEN 1 ELSE 0 END)
         |            AS BIGINT) AS n_same_label
         |        FROM rc JOIN lab ql ON ql.vec_id = rc.query_id
         |                JOIN lab cl ON cl.vec_id = rc.cand_id
         |        GROUP BY 1),
         |nv AS (SELECT label, CAST(count(*) AS BIGINT) AS n_vecs
         |       FROM lab GROUP BY label)
         |SELECT a.label, nv.n_vecs, a.n_edges, a.n_reciprocal, a.n_same_label,
         |  CAST(round(CAST(CAST(a.n_reciprocal AS DOUBLE) / a.n_edges
         |    AS DECIMAL(38,18)), 6) AS DOUBLE) AS reciprocity,
         |  CAST(round(CAST(CAST(a.n_same_label AS DOUBLE) / a.n_edges
         |    AS DECIMAL(38,18)), 6) AS DOUBLE) AS purity
         |FROM agg a JOIN nv USING (label)""".stripMargin,
    // same pre-tokenizer regex as q25; ratios through DECIMAL
    "q153_tokenizer_fertility" ->
      """WITH m AS (SELECT lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS w,
        |    CAST(len(regexp_extract_all(text,
        |      '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS BIGINT) AS s,
        |    CAST(length(text) AS BIGINT) AS c
        |  FROM documents)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(w) AS BIGINT) AS n_words,
        |  CAST(sum(s) AS BIGINT) AS n_subwords,
        |  CAST(sum(c) AS BIGINT) AS n_chars,
        |  CAST(round(CAST(CAST(sum(s) AS DOUBLE) / sum(w)
        |    AS DECIMAL(38,18)), 6) AS DOUBLE) AS fertility,
        |  CAST(round(CAST(CAST(sum(c) AS DOUBLE) / sum(s)
        |    AS DECIMAL(38,18)), 6) AS DOUBLE) AS chars_per_subword
        |FROM m GROUP BY lang""".stripMargin,
    // exact pairs recomputed; the estimator flag is the engine's own
    // xxhash64 sketch vs this exact value — pinned TRUE (≥4σ band)
    "q154_minhash_estimator_audit" ->
      s"WITH $jaccardPairCtes\nSELECT doc_a, doc_b, jaccard, TRUE AS est_ok FROM pairs",
    // same exact-pair CTE chain; the engine recomputes est_ok from its
    // own 64-bit simhash signatures (disagreement ≤ 16 bits, 4σ below
    // the unrelated-doc mean of 32) — pinned TRUE
    "q163_simhash_estimator_audit" ->
      s"WITH $jaccardPairCtes\nSELECT doc_a, doc_b, jaccard, TRUE AS est_ok FROM pairs",
    // same chain; est_ok = the q65 winnowed candidate generator surfaces
    // the pair (≥ 2 shared non-hot fingerprints; measured fixture min 5)
    "q164_winnowing_candidate_audit" ->
      s"WITH $jaccardPairCtes\nSELECT doc_a, doc_b, jaccard, TRUE AS est_ok FROM pairs",
    // every number exact: class sizes from one GROUP BY, the k sweep a
    // cross join against the literal k list
    "q165_k_anonymity_audit" -> kAnonymitySql,
    // the streaming gate's cumulative audit equals the batch sweep under
    // ANY micro-batch split (class counts sum) — one oracle pins
    // stream ≡ batch ∧ replay idempotence (the q133 discipline)
    "q170_streaming_k_anonymity" -> kAnonymitySql,
    // the planted pair set from id arithmetic: dHash keys on gradient
    // SIGNS, so the brightness-shifted re-encoded copies (i+1000) land
    // within the radius and the id-seeded random blocks never do
    "q171_image_neardup" ->
      """SELECT CAST(i AS BIGINT) AS id_a, CAST(i + 1000 AS BIGINT) AS id_b,
        |  TRUE AS found
        |FROM (SELECT unnest(generate_series(0, 19)) AS i)""".stripMargin,
    // same checkpoint/first-occurrence arithmetic; OLS under the q147
    // discipline (ln of identical integers, 6dp on the ratio of sums)
    "q172_heaps_audit" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |              FROM documents),
        |cks AS (SELECT k, (m * k) // 10 AS thr
        |        FROM (SELECT max(doc_id) AS m FROM documents),
        |             (SELECT unnest(generate_series(1, 10)) AS k)),
        |firsts AS (SELECT token, min(doc_id) AS fd FROM toks GROUP BY token),
        |dt AS (SELECT doc_id, count(*) AS nt FROM toks GROUP BY doc_id),
        |nk AS (SELECT k, thr, CAST(sum(nt) AS BIGINT) AS n_tokens
        |       FROM dt JOIN cks ON doc_id <= thr GROUP BY 1, 2),
        |vk AS (SELECT k, CAST(count(*) AS BIGINT) AS vocab
        |       FROM firsts JOIN cks ON fd <= thr GROUP BY 1),
        |pts AS (SELECT k, thr, n_tokens, vocab,
        |          ln(CAST(n_tokens AS DOUBLE)) AS x,
        |          ln(CAST(vocab AS DOUBLE)) AS y
        |        FROM nk JOIN vk USING (k) WHERE n_tokens > 0),
        |s AS (SELECT CAST(count(*) AS DOUBLE) AS n, sum(x) AS sx, sum(y) AS sy,
        |        sum(x*y) AS sxy, sum(x*x) AS sxx, sum(y*y) AS syy FROM pts)
        |SELECT CAST(k AS INT) AS k, CAST(thr AS BIGINT) AS thr, n_tokens, vocab,
        |  round((n*sxy - sx*sy) / (n*sxx - sx*sx), 6) + 0.0 AS heaps_beta,
        |  round((sy - sx * ((n*sxy - sx*sy) / (n*sxx - sx*sx))) / n, 6) + 0.0
        |    AS heaps_logk,
        |  round(pow(n*sxy - sx*sy, 2) /
        |        ((n*sxx - sx*sx) * (n*syy - sy*sy)), 6) + 0.0 AS r_squared
        |FROM pts, s""".stripMargin,
    // the same count-per-key aggregate, key by key; ratios through
    // DECIMAL (the q92 tie discipline)
    "q173_shuffle_skew_audit" ->
      """WITH ks AS (
        |  SELECT 'lineitem.l_orderkey' AS shuffle_key,
        |         CAST(l_orderkey AS VARCHAR) AS key FROM lineitem
        |  UNION ALL
        |  SELECT 'orders.o_custkey', CAST(o_custkey AS VARCHAR) FROM orders
        |  UNION ALL
        |  SELECT 'events.user_id', CAST(user_id AS VARCHAR) FROM events
        |  UNION ALL
        |  SELECT 'documents.source', source FROM documents),
        |c AS (SELECT shuffle_key, key, count(*) AS cnt FROM ks GROUP BY 1, 2),
        |a AS (SELECT shuffle_key, CAST(sum(cnt) AS BIGINT) AS n_rows,
        |        CAST(count(*) AS BIGINT) AS n_keys,
        |        CAST(max(cnt) AS BIGINT) AS max_key_rows
        |      FROM c GROUP BY 1)
        |SELECT shuffle_key, n_rows, n_keys, max_key_rows,
        |  CAST(round(CAST(CAST(max_key_rows AS DOUBLE) / n_rows
        |    AS DECIMAL(38,18)), 6) AS DOUBLE) AS top_share,
        |  CAST(round(CAST(CAST(max_key_rows AS DOUBLE) * n_keys / n_rows
        |    AS DECIMAL(38,18)), 6) AS DOUBLE) AS skew_ratio,
        |  (CAST(round(CAST(CAST(max_key_rows AS DOUBLE) * n_keys / n_rows
        |    AS DECIMAL(38,18)), 6) AS DOUBLE) >= 10.0) AS salt_recommended
        |FROM a""".stripMargin,
    "q174_doremi_weights" -> doremiSql,
    // the same anchor/week/first-week arithmetic; ts reads naive (both
    // engines UTC)
    "q175_retention_cohorts" ->
      """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events),
        |a AS (SELECT min(d) AS anchor FROM e),
        |uw AS (SELECT DISTINCT user_id,
        |         CAST(floor(date_diff('day', anchor, d) / 7.0) AS BIGINT) AS week
        |       FROM e, a),
        |c AS (SELECT user_id, min(week) AS cohort_week FROM uw GROUP BY 1),
        |sz AS (SELECT cohort_week, CAST(count(*) AS BIGINT) AS cohort_users
        |       FROM c GROUP BY 1),
        |m AS (SELECT cohort_week, week - cohort_week AS weeks_since,
        |        CAST(count(*) AS BIGINT) AS active_users
        |      FROM uw JOIN c USING (user_id) GROUP BY 1, 2)
        |SELECT m.cohort_week, weeks_since, cohort_users, active_users,
        |  CAST(round(CAST(CAST(active_users AS DOUBLE) / cohort_users
        |    AS DECIMAL(38,18)), 6) AS DOUBLE) AS retention
        |FROM m JOIN sz USING (cohort_week)""".stripMargin,
    // per-(order, part) dedup first; same guard, same DECIMAL ratios
    "q176_basket_lift" ->
      """WITH op AS (SELECT DISTINCT l_orderkey AS okey, l_partkey AS part
        |            FROM lineitem),
        |sized AS (SELECT okey FROM op GROUP BY okey HAVING count(*) <= 100),
        |kept AS (SELECT op.* FROM op JOIN sized USING (okey)),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_orders FROM sized),
        |marg AS (SELECT part, CAST(count(*) AS BIGINT) AS cnt
        |         FROM kept GROUP BY part),
        |co AS (SELECT x.part AS part_a, y.part AS part_b,
        |         CAST(count(*) AS BIGINT) AS n_co
        |       FROM kept x JOIN kept y USING (okey) WHERE x.part < y.part
        |       GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT part_a, part_b, n_co, ma.cnt AS n_a, mb.cnt AS n_b,
        |  CAST((n_co * 2000000 + ma.cnt) // (ma.cnt * 2) AS DOUBLE)
        |    / 1000000.0 AS confidence_ab,
        |  CAST((n_co * n_orders * 2000000 + ma.cnt * mb.cnt)
        |    // (ma.cnt * mb.cnt * 2) AS DOUBLE) / 1000000.0 AS lift
        |FROM co JOIN marg ma ON ma.part = part_a
        |        JOIN marg mb ON mb.part = part_b, n""".stripMargin,
    // counts re-derived from the modulo erasure set; zero-remaining and
    // the purged flag are the engine's read-back proof
    "q177_right_to_erasure" ->
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n_rows_erased,
        |  CAST(0 AS BIGINT) AS n_remaining, TRUE AS purged
        |FROM events WHERE user_id % 13 = 0 GROUP BY user_id""".stripMargin,
    // same QI classes as q165; sensitive value = last custkey digit;
    // entropy and ln(l) both rounded through DECIMAL(38,18) at 6dp on
    // both engines
    "q178_l_diversity_audit" ->
      """WITH svc AS (SELECT c_nationkey, c_mktsegment,
        |               floor(c_acctbal / 1000.0) AS b,
        |               right(CAST(c_custkey AS VARCHAR), 1) AS sv,
        |               count(*) AS cnt
        |             FROM customer GROUP BY 1, 2, 3, 4),
        |cls AS (SELECT c_nationkey, c_mktsegment, b,
        |          sum(cnt) AS n_rows, count(*) AS n_sv,
        |          CAST(round(CAST(ln(sum(cnt)) - sum(cnt * ln(cnt)) / sum(cnt)
        |            AS DECIMAL(38,18)), 6) AS DOUBLE) AS h
        |        FROM svc GROUP BY 1, 2, 3),
        |ls AS (SELECT unnest([2, 3, 5]) AS l)
        |SELECT l, CAST(sum(n_rows) AS BIGINT) AS n_rows,
        |  CAST(count(*) AS BIGINT) AS n_classes,
        |  CAST(min(n_sv) AS BIGINT) AS min_distinct_sv,
        |  CAST(sum(CASE WHEN n_sv < l THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_distinct_violations,
        |  CAST(sum(CASE WHEN n_sv < l THEN n_rows ELSE 0 END) AS BIGINT)
        |    AS n_risk_rows,
        |  min(h) AS min_entropy,
        |  CAST(sum(CASE WHEN h < CAST(round(CAST(ln(l) AS DECIMAL(38,18)), 6)
        |    AS DOUBLE) THEN 1 ELSE 0 END) AS BIGINT) AS n_entropy_violations
        |FROM cls CROSS JOIN ls GROUP BY l""".stripMargin,
    // the capstone chain replayed end to end in chained CTEs
    "q179_corpus_release" -> corpusReleaseSql,
    // same QI classes and sensitive value as q178; TVD with the absent
    // global mass folded in; double ratios, 6dp DECIMAL round at the end
    "q180_t_closeness_audit" ->
      """WITH svc AS (SELECT c_nationkey, c_mktsegment,
        |               floor(c_acctbal / 1000.0) AS b,
        |               right(CAST(c_custkey AS VARCHAR), 1) AS sv,
        |               count(*) AS cnt
        |             FROM customer GROUP BY 1, 2, 3, 4),
        |gl AS (SELECT sv, sum(cnt) AS g FROM svc GROUP BY sv),
        |tot AS (SELECT sum(g) AS n_total FROM gl),
        |wc AS (SELECT svc.*, g,
        |         sum(cnt) OVER (PARTITION BY c_nationkey, c_mktsegment, b)
        |           AS n_class
        |       FROM svc JOIN gl USING (sv)),
        |cls AS (SELECT c_nationkey, c_mktsegment, b,
        |          max(n_class) AS n_rows,
        |          sum(abs(CAST(cnt AS DOUBLE) / n_class
        |            - CAST(g AS DOUBLE) / n_total)) AS present_diff,
        |          1.0 - sum(CAST(g AS DOUBLE) / n_total) AS absent_mass
        |        FROM wc CROSS JOIN tot GROUP BY 1, 2, 3),
        |cl2 AS (SELECT n_rows,
        |          CAST(round(CAST((present_diff + absent_mass) / 2.0
        |            AS DECIMAL(38,18)), 6) AS DOUBLE) AS tvd
        |        FROM cls),
        |ts AS (SELECT CAST(unnest([0.2, 0.3, 0.5]) AS DOUBLE) AS t)
        |SELECT t, CAST(sum(n_rows) AS BIGINT) AS n_rows,
        |  CAST(count(*) AS BIGINT) AS n_classes,
        |  max(tvd) AS max_tvd,
        |  CAST(sum(CASE WHEN tvd > t THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_violations,
        |  CAST(sum(CASE WHEN tvd > t THEN n_rows ELSE 0 END) AS BIGINT)
        |    AS n_risk_rows
        |FROM cl2 CROSS JOIN ts GROUP BY t""".stripMargin,
    // one pair relation, five gates; per-threshold CC replayed recursively
    "q181_dedup_threshold_curve" -> dedupCurveSql,
    // counts re-derived from the union of the three modulo request sets
    "q182_streaming_erasure" ->
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n_rows_erased,
        |  CAST(0 AS BIGINT) AS n_remaining, TRUE AS purged
        |FROM events WHERE user_id % 13 IN (0, 1, 2) GROUP BY user_id""".stripMargin,
    // the full streaming-release chain replayed tick by tick
    "q183_streaming_release" -> releaseStreamSql,
    // same ascending-capacity waterfill; the capped-prefix selection is
    // integer-exact, only the waterline division is floating point
    "q184_unimax_allocation" ->
      """WITH c AS (SELECT lang, count(*) AS n_docs,
        |             count(*) * 1 AS capacity
        |           FROM documents GROUP BY lang),
        |f AS (SELECT lang, n_docs, capacity,
        |        CAST(row_number() OVER (ORDER BY capacity, lang) AS BIGINT)
        |          AS idx,
        |        count(*) OVER () AS l_total,
        |        coalesce(sum(capacity) OVER (ORDER BY capacity, lang
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pb
        |      FROM c),
        |g AS (SELECT *, capacity * (l_total - idx + 1) <= 400 - pb AS capped
        |      FROM f),
        |w2 AS (SELECT sum(CASE WHEN capped THEN capacity ELSE 0 END)
        |          AS capped_cap,
        |         sum(CASE WHEN capped THEN 1 ELSE 0 END) AS k FROM g)
        |SELECT lang, CAST(n_docs AS BIGINT) AS n_docs,
        |  CAST(capacity AS BIGINT) AS capacity, capped,
        |  CAST(round(CAST(CASE WHEN capped THEN CAST(capacity AS DOUBLE)
        |    ELSE CAST(400 - capped_cap AS DOUBLE) / (l_total - k) END
        |    AS DECIMAL(38,18)), 6) AS DOUBLE) AS allocation,
        |  CAST(round(CAST((CASE WHEN capped THEN CAST(capacity AS DOUBLE)
        |    ELSE CAST(400 - capped_cap AS DOUBLE) / (l_total - k) END)
        |    / n_docs AS DECIMAL(38,18)), 6) AS DOUBLE) AS epochs
        |FROM g CROSS JOIN w2""".stripMargin,
    // identical per-side aggregates and CASE arithmetic, one block per
    // audited join
    "q186_join_advisor" -> joinAdvisorSql,
    // the shared pair CTE once; both split assignments replayed from the
    // same md5 hex thresholds as q111
    "q187_split_leakage" ->
      s"""WITH $jaccardPairCtes,
         |sp AS (SELECT doc_id,
         |  CASE WHEN md5(source || ':42') < 'cccccccc' THEN 'train'
         |       WHEN md5(source || ':42') < 'e6666666' THEN 'val'
         |       ELSE 'test' END AS gsplit,
         |  CASE WHEN md5(CAST(doc_id AS VARCHAR) || ':42') < 'cccccccc'
         |         THEN 'train'
         |       WHEN md5(CAST(doc_id AS VARCHAR) || ':42') < 'e6666666'
         |         THEN 'val'
         |       ELSE 'test' END AS dsplit
         | FROM documents),
         |j AS (SELECT a.gsplit AS ga, a.dsplit AS da,
         |             b.gsplit AS gb, b.dsplit AS db
         |      FROM pairs p JOIN sp a ON a.doc_id = p.doc_a
         |                   JOIN sp b ON b.doc_id = p.doc_b)
         |SELECT 'group_aware' AS strategy, least(ga, gb) AS split_a,
         |  greatest(ga, gb) AS split_b, CAST(count(*) AS BIGINT) AS n_pairs,
         |  least(ga, gb) <> greatest(ga, gb) AS leaky
         |FROM j GROUP BY 2, 3
         |UNION ALL
         |SELECT 'per_doc', least(da, db), greatest(da, db),
         |  CAST(count(*) AS BIGINT), least(da, db) <> greatest(da, db)
         |FROM j GROUP BY 2, 3""".stripMargin,
    // the four-version lineage re-derived; vacuumed versions report
    // (false, 0, 0), kept versions their exact row/char counts
    "q185_snapshot_vacuum" ->
      """WITH v2 AS (SELECT doc_id,
        |              CASE WHEN doc_id % 2 = 0 THEN text || ' [rev2]'
        |                   ELSE text END AS text
        |            FROM documents WHERE doc_id % 3 <> 0),
        |v3 AS (SELECT * FROM v2 WHERE doc_id % 5 <> 0),
        |v4 AS (SELECT doc_id,
        |         CASE WHEN doc_id % 7 = 0 THEN text || ' [rev4]'
        |              ELSE text END AS text
        |       FROM v3)
        |SELECT CAST(1 AS INTEGER) AS version, FALSE AS kept,
        |       CAST(0 AS BIGINT) AS n_docs, CAST(0 AS BIGINT) AS n_chars
        |UNION ALL SELECT 2, FALSE, 0, 0
        |UNION ALL SELECT 3, TRUE, CAST(count(*) AS BIGINT),
        |  CAST(sum(length(text)) AS BIGINT) FROM v3
        |UNION ALL SELECT 4, TRUE, CAST(count(*) AS BIGINT),
        |  CAST(sum(length(text)) AS BIGINT) FROM v4""".stripMargin,
    // exact quantiles re-derived (quantile_cont shares the (n-1)·q
    // interpolation); the sketch flags are the engine's own GK rank
    // guarantee — pinned TRUE under any merge order
    "q166_quantile_sketch_audit" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(round(CAST(quantile_cont(length(text), 0.5) AS DECIMAL(38,18)), 6)
        |    AS DOUBLE) AS p50_exact,
        |  CAST(round(CAST(quantile_cont(length(text), 0.95) AS DECIMAL(38,18)), 6)
        |    AS DOUBLE) AS p95_exact,
        |  TRUE AS p50_ok, TRUE AS p95_ok
        |FROM documents GROUP BY source""".stripMargin,
    // PSI replayed term by term: same overlapping modulo snapshots, same
    // +1-per-bucket smoothing, ln under the q92 6dp discipline
    "q167_psi_drift_audit" ->
      """WITH d AS (SELECT doc_id, lang,
        |             CAST(least(length(text) // 100, 10) AS VARCHAR) AS lb
        |           FROM documents),
        |f AS (SELECT 'lang' AS feature, lang AS bucket, doc_id FROM d
        |      UNION ALL
        |      SELECT 'len_bucket', lb, doc_id FROM d),
        |c AS (SELECT feature, bucket,
        |        sum(CASE WHEN doc_id % 5 <> 0 THEN 1 ELSE 0 END) AS ca,
        |        sum(CASE WHEN doc_id % 3 <> 0 THEN 1 ELSE 0 END) AS cb
        |      FROM f GROUP BY 1, 2),
        |t AS (SELECT feature, sum(ca) AS na, sum(cb) AS nb,
        |        count(*) AS n_buckets
        |      FROM c GROUP BY 1),
        |p AS (SELECT c.feature,
        |        (ca + 1.0) / (na + n_buckets) AS pa,
        |        (cb + 1.0) / (nb + n_buckets) AS pb
        |      FROM c JOIN t USING (feature))
        |SELECT t.feature, CAST(n_buckets AS BIGINT) AS n_buckets,
        |  CAST(na AS BIGINT) AS n_ref, CAST(nb AS BIGINT) AS n_cur,
        |  round((SELECT sum((pa - pb) * ln(pa / pb)) FROM p
        |         WHERE p.feature = t.feature), 6) AS psi,
        |  CASE WHEN round((SELECT sum((pa - pb) * ln(pa / pb)) FROM p
        |                   WHERE p.feature = t.feature), 6) < 0.1 THEN 'stable'
        |       WHEN round((SELECT sum((pa - pb) * ln(pa / pb)) FROM p
        |                   WHERE p.feature = t.feature), 6) < 0.25 THEN 'moderate'
        |       ELSE 'major' END AS band
        |FROM t""".stripMargin,
    // indexed = the q64 settled split that actually shingles (≥ 3
    // tokens); the engine reads its doc set back from the parquet sink
    "q168_index_staleness" ->
      """WITH d AS (SELECT source,
        |             CASE WHEN doc_id % 7 <> 0
        |                   AND len(string_split(text, ' ')) >= 3
        |                  THEN 1 ELSE 0 END AS idx
        |           FROM documents)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_corpus,
        |  CAST(sum(idx) AS BIGINT) AS n_indexed,
        |  CAST(sum(1 - idx) AS BIGINT) AS n_uncovered,
        |  CAST(round(CAST(CAST(sum(idx) AS DOUBLE) / count(*)
        |    AS DECIMAL(38,18)), 6) AS DOUBLE) AS coverage
        |FROM d GROUP BY source""".stripMargin,
    // q58's closure extended with within-cluster pairwise cosine stats;
    // per-pair cos rounds 6dp before aggregating (the q20 discipline)
    "q169_cluster_cohesion" ->
      s"""WITH RECURSIVE ex AS ($embedExplode),
         |dots AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, sum(a.x * b.x) AS dot
         |         FROM ex a JOIN ex b ON a.dim = b.dim AND a.vec_id < b.vec_id
         |         GROUP BY 1, 2),
         |norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM ex GROUP BY vec_id),
         |cs AS (SELECT id_a, id_b, round(dot / (na.nrm * nb.nrm), 6) AS cos
         |       FROM dots JOIN norms na ON na.vec_id = id_a
         |                 JOIN norms nb ON nb.vec_id = id_b),
         |cpairs AS (SELECT id_a, id_b FROM cs WHERE cos >= 0.4),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM cpairs
         |          UNION SELECT id_b, id_a FROM cpairs),
         |reach(id, lbl) AS (
         |  SELECT vec_id, vec_id FROM embeddings
         |  UNION
         |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id),
         |lab AS (SELECT id AS vec_id, min(lbl) AS cluster_id FROM reach GROUP BY id),
         |sz AS (SELECT cluster_id, count(*) AS size FROM lab GROUP BY 1
         |       HAVING count(*) >= 2),
         |wp AS (SELECT l1.cluster_id, c.cos
         |       FROM cs c JOIN lab l1 ON l1.vec_id = c.id_a
         |                 JOIN lab l2 ON l2.vec_id = c.id_b
         |                  AND l2.cluster_id = l1.cluster_id),
         |st AS (SELECT cluster_id, count(*) AS n_pairs, min(cos) AS min_cos,
         |         round(CAST(sum(CAST(cos AS DECIMAL(38,18))) AS DOUBLE)
         |           / count(*), 6) AS mean_cos
         |       FROM wp GROUP BY 1)
         |SELECT s.cluster_id, CAST(size AS BIGINT) AS size, TRUE AS audited,
         |  CAST(coalesce(n_pairs, 0) AS BIGINT) AS n_pairs, min_cos, mean_cos,
         |  (min_cos < 0.4) AS chained
         |FROM sz s LEFT JOIN st USING (cluster_id)""".stripMargin,
    // one cumulative window replays the two-level prefix sum exactly
    // (doc never splits; shard = exclusive running total div target)
    "q155_jsonl_shard_export" -> shardManifestSql,
    // the streaming twin lands the SAME manifest whenever ticks arrive in
    // doc_id-contiguous order — one oracle pins stream ≡ batch (the q133
    // discipline); replay idempotence is spec-pinned
    "q161_streaming_shard_export" -> shardManifestSql,
    // the q150 gram/diagonal/island CTEs split across the q59 boundary;
    // hotness stays corpus-wide df
    "q156_substring_contamination" ->
      """WITH toks AS (SELECT doc_id, (doc_id % 10 = 0) AS is_eval,
        |              unnest(string_split(text, ' ')) AS tok,
        |              generate_subscripts(string_split(text, ' '), 1) - 1 AS p
        |              FROM documents),
        |gr AS (SELECT doc_id, is_eval, p,
        |         md5(string_agg(tok, ' ') OVER (PARTITION BY doc_id ORDER BY p
        |             ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING)) AS g,
        |         count(*) OVER (PARTITION BY doc_id) AS nt
        |       FROM toks),
        |grams AS (SELECT doc_id, is_eval, CAST(p AS BIGINT) AS pos, g
        |          FROM gr WHERE p <= nt - 8),
        |hot AS (SELECT g FROM grams GROUP BY g HAVING count(*) > 50),
        |rare AS (SELECT * FROM grams WHERE g NOT IN (SELECT g FROM hot)),
        |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |            a.pos AS pos_a, a.pos - b.pos AS diag
        |          FROM rare a JOIN rare b ON a.g = b.g
        |          WHERE NOT a.is_eval AND b.is_eval),
        |isl AS (SELECT doc_a, doc_b, diag,
        |          pos_a - row_number() OVER (PARTITION BY doc_a, doc_b, diag
        |            ORDER BY pos_a) AS island
        |        FROM pairs),
        |runs AS (SELECT doc_a, doc_b,
        |           CAST(count(*) + 7 AS BIGINT) AS run_tokens
        |         FROM isl GROUP BY doc_a, doc_b, diag, island),
        |q AS (SELECT doc_b AS doc_id, doc_a, run_tokens FROM runs
        |      WHERE run_tokens >= 20)
        |SELECT doc_id, max(run_tokens) AS max_run_tokens,
        |  CAST(count(DISTINCT doc_a) AS BIGINT) AS n_train_docs,
        |  CAST(count(*) AS BIGINT) AS n_runs
        |FROM q GROUP BY doc_id""".stripMargin,
    // q152's ranked edges; majority = row_number over (count desc, label)
    "q157_knn_mislabel_candidates" ->
      s"""WITH ex AS ($embedExplode),
         |dots AS (SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         |           sum(q.x * c.x) AS dot
         |         FROM ex q JOIN ex c ON q.dim = c.dim AND q.vec_id <> c.vec_id
         |         GROUP BY 1, 2),
         |norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM ex GROUP BY vec_id),
         |ranked AS (SELECT query_id, cand_id,
         |            row_number() OVER (PARTITION BY query_id
         |              ORDER BY round(dot / (nq.nrm * nc.nrm), 6) DESC, cand_id)
         |              AS rank
         |           FROM dots JOIN norms nq ON nq.vec_id = query_id
         |                     JOIN norms nc ON nc.vec_id = cand_id),
         |edges AS (SELECT query_id, cand_id FROM ranked WHERE rank <= 5),
         |lab AS (SELECT vec_id, label FROM embeddings),
         |hist AS (SELECT e.query_id, cl.label AS nb_label,
         |           CAST(count(*) AS BIGINT) AS n
         |         FROM edges e JOIN lab cl ON cl.vec_id = e.cand_id
         |         GROUP BY 1, 2),
         |maj AS (SELECT query_id, nb_label, n,
         |          row_number() OVER (PARTITION BY query_id
         |            ORDER BY n DESC, nb_label) AS r
         |        FROM hist)
         |SELECT m.query_id AS vec_id, ql.label,
         |  m.nb_label AS majority_label, m.n AS n_majority,
         |  (m.n * 2 > 5 AND m.nb_label <> ql.label) AS flagged
         |FROM maj m JOIN lab ql ON ql.vec_id = m.query_id
         |WHERE m.r = 1""".stripMargin,
    // identical closed-form arithmetic; powers of 1/2 exact in IEEE
    "q158_effective_token_budget" ->
      """WITH s AS (SELECT source,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source),
        |t AS (SELECT source, n_tokens,
        |        1000000 // (SELECT count(*) FROM s) AS target_tokens FROM s),
        |e AS (SELECT source, n_tokens, target_tokens,
        |        target_tokens // n_tokens AS full_epochs,
        |        target_tokens - (target_tokens // n_tokens) * n_tokens AS rem
        |      FROM t),
        |f AS (SELECT *, pow(0.5, full_epochs) AS p FROM e),
        |g AS (SELECT source, n_tokens, target_tokens, full_epochs,
        |        n_tokens * 2.0 * (1 - p) + rem * p AS eff FROM f)
        |SELECT source, n_tokens,
        |  CAST(target_tokens AS BIGINT) AS target_tokens,
        |  CAST(full_epochs AS BIGINT) AS full_epochs,
        |  CAST(floor(eff * 1000000.0 + 0.5) / 1000000.0 AS DOUBLE)
        |    AS effective_tokens,
        |  CAST(floor(eff / target_tokens * 1000000.0 + 0.5) / 1000000.0
        |    AS DOUBLE) AS utilization
        |FROM g""".stripMargin,
    // the shared q128 legs, compared instead of fused
    "q159_ranking_agreement" ->
      s"""WITH $retrievalLegsCtes,
         | ov AS (SELECT l.query_id, l.lex_rank, v.vec_rank
         |        FROM lex l JOIN vec v
         |          ON l.query_id = v.query_id AND l.cand_id = v.cand_id),
         | o AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_overlap,
         |         CAST(sum(abs(lex_rank - vec_rank)) AS BIGINT) AS footrule
         |       FROM ov GROUP BY query_id),
         | t1 AS (SELECT query_id, cand_id FROM lex WHERE lex_rank = 1),
         | rr AS (SELECT t1.query_id,
         |          coalesce(1.0 / v.vec_rank, 0.0) AS rr
         |        FROM t1 LEFT JOIN vec v
         |          ON v.query_id = t1.query_id AND v.cand_id = t1.cand_id),
         | qs AS (SELECT DISTINCT query_id FROM lex)
         |SELECT qs.query_id,
         |  coalesce(o.n_overlap, 0) AS n_overlap,
         |  CAST(round(CAST(CAST(coalesce(o.n_overlap, 0) AS DOUBLE) / 20
         |    AS DECIMAL(38,18)), 6) AS DOUBLE) AS overlap_frac,
         |  coalesce(o.footrule, 0) AS footrule,
         |  CAST(round(CAST(coalesce(rr.rr, 0.0) AS DECIMAL(38,18)), 6)
         |    AS DOUBLE) AS rr_lex_top1
         |FROM qs LEFT JOIN o ON o.query_id = qs.query_id
         |        LEFT JOIN rr ON rr.query_id = qs.query_id""".stripMargin,
    // invariant row (q34 discipline): counts recomputable, the zlib-
    // defined ratio enters only through the pinned-zero violation band
    "q160_compression_signal" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(length(text)) AS BIGINT) AS total_chars,
        |  CAST(0 AS BIGINT) AS n_ratio_violations
        |FROM documents GROUP BY source""".stripMargin,
    // the q85 plant re-derived, summed to the governance grain
    "q162_pii_scorecard" ->
      s"""WITH $piiPlantedCte,
         |c AS (SELECT source,
         |  CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(t, '[0-9]{4}-[0-9]{4}-[0-9]{4}-[0-9]{4}')) AS BIGINT) AS n_cards,
         |  CAST(len(regexp_extract_all(t, '[0-9]{3}-[0-9]{2}-[0-9]{4}')) AS BIGINT) AS n_ssns,
         |  CAST(len(regexp_extract_all(t, '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}')) AS BIGINT) AS n_ips,
         |  CAST(len(regexp_extract_all(t, '555-[0-9]{4}')) AS BIGINT) AS n_phones
         |  FROM planted),
         |g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_emails) AS BIGINT) AS n_emails,
         |  CAST(sum(n_cards) AS BIGINT) AS n_cards,
         |  CAST(sum(n_ssns) AS BIGINT) AS n_ssns,
         |  CAST(sum(n_ips) AS BIGINT) AS n_ips,
         |  CAST(sum(n_phones) AS BIGINT) AS n_phones,
         |  CAST(sum(CASE WHEN n_emails + n_cards + n_ssns + n_ips + n_phones > 0
         |           THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_pii
         |  FROM c GROUP BY source)
         |SELECT source, n_docs, n_emails, n_cards, n_ssns, n_ips, n_phones,
         |  docs_with_pii,
         |  CAST(round(CAST(CAST(docs_with_pii AS DOUBLE) / n_docs
         |    AS DECIMAL(38,18)), 6) AS DOUBLE) AS pii_rate
         |FROM g""".stripMargin
  )
}
