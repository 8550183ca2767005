package graft

/** Benchmark main: runs the headline queries on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line {"metric":...,"queries":{name:sec,...}}.
  * Numbers are recorded per-round in BASELINE.md.
  */
object Bench {
  /** Headline subset: the heaviest/most representative query per family. */
  val headline: Seq[String] = Seq(
    "q01_pricing_summary",   // wide agg over the fact table
    "q02_daily_sales",       // join + two-level agg
    "q05_customer_ltv",      // per-customer multi-agg
    "q06_product_performance", // dim ⟕ fact-agg join
    "q11_basket_pairs",      // within-order self-join (pair mining)
    "q14_customer_behavior", // biggest join (events ⋈ orders) + distinct agg
    "q19_txn_size_bins",     // global quantile binning
    "q42_dedup_ngram_jaccard", // inverted-index near-dup join
    "q43_dedup_minhash_lsh", // minhash + banded LSH
    "q44_dedup_simhash",     // SWAR simhash + pigeonhole bands
    "q46_ann_brute_topk",    // embedding scan + top-k
    "q47_ann_ivf_topk",      // IVF probe (label cells) — r10: ANN family fully benched
    "q48_text_stats",        // full-corpus text featurization
    "q52_embedding_near_dups", // blocked vector near-dup join
    "q55_profile_part",      // one-pass all-column profile
    "q59_ann_ivf_kmeans",    // k-means coarse quantizer + IVF probe
    "q62_dedup_clusters",    // iterative connected components (multi-job)
    "q64_rollup_sales",      // hierarchical rollup (partial-agg reuse)
    "q67_winnowing_pairs",   // rolling-hash fingerprint inverted index
    "q69_cube_sales",        // full cube over two dims
    "q91_ann_pq",            // product-quantization ADC + rerank
    "q92_repetition_stats",  // distributed per-doc mode + HOF ratios
    "q95_line_dedup",        // corpus line dedup (explode + groupBy-min + join)
    "q113_doc_chunking",     // context-window flatMap (scan-bound)
    "q114_zorder_layout",    // Morton-clustered write + box read-back
    "q115_cms_heavy_hitters", // weighted count-min sketch over the vocab
    "q120_bigram_logprob",   // bigram-LM scoring (joins + sorted fold)
    "q121_semantic_dedup",   // embedding dedup end-to-end (pairs + CC)
    "q123_hashed_classifier", // frozen hashed linear scorer (pure projection)
    "q124_dsir_importance",  // DSIR log-ratio (broadcast bucket models)
    "q125_dedup_pagerank",   // fixed-point integer PageRank (iterative)
    "q126_canonical_by_pagerank", // CC + PR composition over one pinned pair set
    "q127_curation_pipeline", // COMPOSED dedup→CC→score→select→pack, one job
    "q128_dup_span_removal", // exact-substring span removal (anti-join rebuild)
    "q129_shard_shuffle",    // deterministic global shard shuffle (write layout)
    "q130_ccnet_quality_tiers", // langID × LM × grouped NTILE (skew-safe)
    "q131_orc_roundtrip",    // ORC write→read roundtrip + agg (columnar interchange)
    "q132_gopher_rules",     // published rule-based pre-filter (projection + 2 aggs)
    "q133_decontaminated_corpus", // cross-corpus decontamination anti-join artifact
    "q134_curation_pipeline_full", // q127 chain + decon + PII stages ON
    "q135_source_reputation", // per-source provenance verdict (domain curation)
    "q136_source_capped_corpus", // per-source cap via skew-safe grouped rank
    "q137_ann_sq8",          // SQ8 scalar-quantization ADC + rerank
    "q138_salted_skew_join", // salted join under a 90%-hot key (r10)
    "q139_incremental_near_ingest", // frozen-LSH-index near-dup ingest (r10)
    "q140_cluster_split",    // leakage-free cluster-level split (CC + bucket)
    "q141a_corpus_drift_summary", // PSI + vocab-overlap drift report
    "q142_shard_manifest",   // order-independent shard signatures (one agg)
    "q143_semantic_contamination", // broadcast-eval semantic decon report
    "q144_stored_vector_index", // persisted IVF+SQ8 index, pruned-read search
    "q145_vector_index_ingest", // frozen-centroid incremental vector ingest
    "q146_schema_evolution",    // mergeSchema read over v1+v2 parquet batches
    "q147_compaction_roundtrip", // 64-file fragmentation -> 4-file compaction
    "q148_incremental_rollup",  // mergeable-state rollup refresh (IVM)
    "q149_c4_line_filters",     // C4 line/page rules inside one array HOF
    "q150_rollup_rewrite",      // materialized-rollup Catalyst rewrite rule
    "q151_ann_batch_search",    // batched multi-query ANN via TopK aggregate
    "q152_distinct_rollup",     // HLL sketch state in the incremental rollup
    "q153_partition_retention", // metadata-only partition aging
    "q154_forget_user",         // right-to-be-forgotten partition rewrite
    "q155_cdc_apply",           // CDC feed -> state via one argmax-by-struct agg
    "q156_snapshot_diff",       // row-level snapshot delta (one full-outer join)
    "q157_dq_constraints",      // Deequ-style constraint suite (one agg pass)
    "q158_quantile_rollup",     // histogram-sketch quantiles riding the IVM state
    "q159_data_skipping",       // file-level min/max stats prune (clustered write)
    "q160_target_mix",          // exact target-mixture resample (grouped rank)
    "q161_scd2_pit_lookup",     // point-in-time SCD2 version join
    "q162_stratified_kfold",    // exact-balance stratified fold assignment
    "q163_soft_deletes",        // tx-log deletion vectors + compaction
    "q164_bucketed_join",       // co-located bucketed join round trip
    "q165_time_travel",         // tx-log overwrite commits + readTableAt
    "q166_dq_quarantine",       // row-level expectation routing (one projection)
    "q167_cdc_to_scd2",         // CDC feed compiled to full SCD2 history
    "q168_clustered_compaction", // cluster-preserving compaction + stats prune
    "q169_rolling_distinct",    // sliding 7-day distinct via HLL sketch merges
    "q170_vocab_encode",        // frozen frequency-ranked vocab build + encode
    "q171_revenue_trend",       // per-group OLS/corr from exact decimal sums
    "q172_ks_drift",            // two-sample KS via integer-exact sup argmax
    "q173_chi_square_drift",    // chi-square categorical drift + decimal total
    "q174_group_median",        // exact per-group median (grouped rank)
    "q175_revenue_proration",   // straight-line allocation in integer cents
    "q176_bucket_sync_diff",    // merkle bucket fingerprints + restricted diff
    "q177_canonical_by_length", // keep-longest cluster representative rule
    "q178_funnel_3step",        // strict-order view->click->purchase funnel
    "q179_revenue_anomalies",   // IQR outlier days via exact order stats
    "q180_percent_rank",        // distributed percent-rank transform
    "q181_corr_matrix",         // one-pass pairwise Pearson (exact sums)
    "q182_containment_pairs",   // asymmetric excerpt/quote near-dup detector
    "q183_grouped_percent_rank", // per-language length percentile transform
    "q184_domain_similarity",   // pairwise class-centroid cosine matrix
    "q185_dedup_summary",       // one-row dedup QA dashboard over the q94 chain
    "q186_burst_users",         // per-minute rate-limit screen (argmax-by-struct)
    "q187_score_calibration",   // classifier-score deciles (distributed NTILE)
    "q188_scd2_integrity",      // SCD2 chain/current invariant audit
    "q189_conversion_latency",  // funnel duration p50/p90 via Hist sketch
    "q190_collocations",        // PMI phrase mining (exact counts, one ln)
    "q191_bloom_artifact",      // persisted cross-job bloom runtime filter
    "q192_stats_artifact",      // maintained skipping index through the warehouse
    "q193_idempotent_ingest",   // retry-safe batch ingest (tx-log batch-id ledger)
    "q194_late_dimension",      // inferred-member placeholder + repair pass
    "q195_quarantine_examples", // md5-order example rows per failed rule
    "q196_corpus_interleave",   // integer virtual-time weighted interleave
    "q197_pseudonymize",        // salted-token pseudonymization (projection)
    "q198_new_vs_returning",    // daily acquisition split (first-seen join)
    "q199_cross_corpus_canonical", // multi-source priority dedup rule
    "q200_nightly_batch",       // COMPOSED nightly (tx-log ingest->DQ->IVM)
    "q201_train_quality_classifier", // fixed-point distributed logistic GD
    "q202_stream_exactly_once", // staged-commit JDBC sink + epoch replay
    "q203_stream_dedup",        // watermarked exact dedup, dup deliveries
    "q204_stream_attribution",  // stream-stream interval join to parquet
    "q205_image_pixel_transform", // real PNG decode->NN resize->re-encode
    "q206_classifier_eval",     // trained-model confusion matrix (train+serve)
    "q207_trained_curation_pipeline", // pipeline gated by the TRAINED model
    // r12 rows
    "q62b_dedup_clusters_durable", // q62 under reliable checkpoints (I/O priced in)
    "q139b_incremental_near_ingest_fixed", // fixed-size batch vs frozen index
    "q143b_semantic_contamination_fixed",  // fixed-size eval broadcast side
    "q206b_classifier_eval_weighted", // 40-round class-weighted decayed GD
    "q208_tx_concurrent_writers",  // TxLog two-writer conflict + retry
    "q209_stream_jdbc_upsert",     // streaming JDBC key-dedup sink (Derby)
    "q210_avro_roundtrip",         // Avro OCF mini-connector round trip
    "q211_stream_static_enrichment", // broadcast-dim stream enrichment
    "q212_stream_dupspan_scrub",   // frozen dup-span model over a 3-batch ingest
    "q213_stream_gopher_parity",   // per-doc rule filter streamed == batch
    "q214_nfc_encoding_dedup",     // NFC-normalized cross-encoding near-dups
    "q215_stream_cdc_maintenance", // CDC state maintenance via foreachBatch
    "q216_confusable_fold_dedup",  // NFKC + UTS#39 homoglyph fold key
    "q210b_avro_nested_roundtrip", // array-of-struct baskets through Avro OCF
    "q210c_avro_fixed_slice",      // fixed-size Avro twin — O(batch) at any scale
    "q217_tx_stream_compaction_race", // stream sink vs compactor on 240-part tx table
    "q146b_tx_add_column",         // ADD-COLUMN evolution via the tx log
    "q218_tx_data_skipping",       // per-file min/max skipping via log stats
    "q219_tx_clustered_skipping",  // range-clustered compaction + skip
    "q220_tx_metadata_count",      // COUNT answered from the log, zero scan
    "q221_tx_incremental_read",    // change-feed window read, O(new data)
    "q222_tx_pipeline_exactly_once", // bronze→silver tx→tx with crash replay
    // r15 rows
    "q223_tx_string_skipping",     // truncated-UTF-8 string bounds skipping
    "q224_tx_merge",               // keyed MERGE (rewrite op) + skip-bounded
    "q225_tx_delete_where",        // keyed DELETE WHERE, file-granular
    "q226_tx_parquet_checkpoint",  // parquet-payload checkpoint read path
    "q227_tx_zorder",              // 2-key bit-interleaved z-order compaction
    "q228_tx_change_feed",         // row-level CDF through MERGE/DELETE
    "q229_tx_streaming_source",    // readStream over the commit log (DSv2)
    // r16 rows
    "q230_tx_multicol_partitions", // (year, priority) composite partitioning
    "q231_tx_rename_column",       // column-mapping rename, zero rewrites
    "q232_tx_cdf_stream",          // readChangeFeed streaming mode
    // r16 second-wave rows
    "q233_tx_cdf_mapped",          // change feed re-mapped through renames
    "q234_tx_restore",             // RESTORE TO VERSION, zero data copied
    "q235_tx_deletion_vectors",    // merge-on-read DELETE (position deletes)
    "q236_tx_binpack",             // OPTIMIZE bin-packing, smalls only
    "q237_tx_history",             // DESCRIBE HISTORY audit surface
    "q238_tx_stream_sink",         // transactional streaming sink (ledger)
    // r16 third-wave rows
    "q239_tx_update_sink",         // update-mode sink: ledgered upserts
    "q240_tx_time_travel_ts",      // TIMESTAMP AS OF reads
    "q241_tx_check_constraints",   // CHECK constraints, write-time enforced
    "q242_tx_dv_parquet_checkpoint", // deletion vectors at payload scale
    "q243_tx_merge_clauses",       // conditional MERGE (update/delete/insert)
    "q244_tx_update_where",        // UPDATE SET WHERE, skip-bounded rewrite
    // r17 rows
    "q245_tx_batch_format_read",   // batch DSv2 front door (format string)
    "q246_tx_sql_dml",             // SQL DML statement surface
    "q247_tx_payload_restore",     // payload restore + O(1) chk header
    "q248_tx_convert",             // CONVERT TO TXLOG in-place adoption
    // r18 rows
    "q249_tx_batch_write",         // batch DataFrameWriter front door
    "q250_tx_catalog",             // named-table catalog (TableCatalog)
    "q251_tx_table_changes",       // CDF SQL surface (table_changes TVF)
    // r19 rows
    "q252_tx_add_column",          // ALTER TABLE ADD COLUMN(S) evolution
    "q253_tx_table_properties",    // recorded TBLPROPERTIES + policy-
                                   // driven maintenance
    "q254_tx_replace_table"        // atomic REPLACE TABLE / CoR-TAS
  )

  /** Per-query clean-window baselines at sf0.1 (the BASELINE.md r10 row;
    * min-of-3 in an isolated window). Drives [[BenchGuard.needsRetry]]:
    * a query measuring > 2x its row here gets one isolated re-measure
    * before the JSON line is emitted, so transient co-tenant spikes on
    * individual queries can't ship as phantom regressions. Queries
    * without a row (newly added this round) can't retry — add their
    * measured rows next round. */
  val baselineSec: Map[String, Double] = Map(
    "q01_pricing_summary" -> 0.38, "q02_daily_sales" -> 0.40,
    "q05_customer_ltv" -> 0.27, "q06_product_performance" -> 0.28,
    "q11_basket_pairs" -> 1.32, "q14_customer_behavior" -> 0.42,
    "q19_txn_size_bins" -> 1.09, "q42_dedup_ngram_jaccard" -> 1.32,
    "q43_dedup_minhash_lsh" -> 0.74, "q44_dedup_simhash" -> 0.70,
    "q46_ann_brute_topk" -> 0.42, "q48_text_stats" -> 0.14,
    "q52_embedding_near_dups" -> 0.74, "q55_profile_part" -> 0.14,
    "q62_dedup_clusters" -> 2.02, "q64_rollup_sales" -> 0.21,
    "q67_winnowing_pairs" -> 1.12, "q69_cube_sales" -> 0.21,
    "q92_repetition_stats" -> 0.32, "q95_line_dedup" -> 0.86,
    "q113_doc_chunking" -> 0.17, "q114_zorder_layout" -> 0.58,
    "q115_cms_heavy_hitters" -> 0.39, "q120_bigram_logprob" -> 0.22,
    "q121_semantic_dedup" -> 1.67, "q123_hashed_classifier" -> 0.11,
    "q124_dsir_importance" -> 0.48, "q125_dedup_pagerank" -> 2.03,
    "q126_canonical_by_pagerank" -> 2.49, "q127_curation_pipeline" -> 4.62,
    "q128_dup_span_removal" -> 0.62, "q129_shard_shuffle" -> 0.10,
    "q130_ccnet_quality_tiers" -> 1.48, "q131_orc_roundtrip" -> 0.41,
    "q132_gopher_rules" -> 0.30, "q133_decontaminated_corpus" -> 0.70,
    "q134_curation_pipeline_full" -> 5.63, "q135_source_reputation" -> 0.29,
    "q136_source_capped_corpus" -> 0.66,
    // ANN family rows measured r10 (first round in the headline;
    // min-of-3, clean window: canaries 0.478/0.288/0.203/0.187)
    "q47_ann_ivf_topk" -> 0.79, "q59_ann_ivf_kmeans" -> 1.61,
    "q91_ann_pq" -> 1.15, "q137_ann_sq8" -> 2.66,
    // r10 family rows (min-of-3, clean window: canaries
    // 0.435/0.247/0.232/0.228; q143 re-measured 0.86 after its exact-
    // confirm moved out of the BNLJ condition into the aggregate)
    "q138_salted_skew_join" -> 0.70, "q139_incremental_near_ingest" -> 1.13,
    "q140_cluster_split" -> 1.89, "q141a_corpus_drift_summary" -> 0.44,
    "q142_shard_manifest" -> 0.16, "q143_semantic_contamination" -> 0.86,
    // persisted-index rows measured r10 (min-of-3, clean window: canaries
    // 0.342/0.234/0.201/0.206); cost is the write+read round trip itself
    // — ~8 small jobs over the warehouse tables, not data volume
    "q144_stored_vector_index" -> 1.99, "q145_vector_index_ingest" -> 2.45,
    // warehouse-lifecycle rows measured r10 (min-of-3, clean window:
    // canaries 0.426/0.325/0.253/0.216)
    "q146_schema_evolution" -> 0.73, "q147_compaction_roundtrip" -> 0.94,
    "q148_incremental_rollup" -> 0.25, "q149_c4_line_filters" -> 0.26,
    "q150_rollup_rewrite" -> 0.89,
    // post norm-hoist (5.31 -> 2.00 clean min-of-3)
    "q151_ann_batch_search" -> 2.00, "q152_distinct_rollup" -> 0.56,
    "q153_partition_retention" -> 1.64, "q154_forget_user" -> 1.35,
    // lifecycle-audit rows measured r10 (min-of-3, clean window)
    "q155_cdc_apply" -> 0.64, "q156_snapshot_diff" -> 0.54,
    "q157_dq_constraints" -> 0.96, "q158_quantile_rollup" -> 0.42,
    "q159_data_skipping" -> 0.86, "q160_target_mix" -> 0.80,
    "q161_scd2_pit_lookup" -> 0.58, "q162_stratified_kfold" -> 0.82,
    // write-heavy round trips (the bucketed/MoR table writes ARE the cost)
    "q163_soft_deletes" -> 1.49, "q164_bucketed_join" -> 2.86,
    "q165_time_travel" -> 0.82, "q166_dq_quarantine" -> 0.29,
    "q167_cdc_to_scd2" -> 0.33, "q168_clustered_compaction" -> 1.04,
    "q169_rolling_distinct" -> 0.57, "q170_vocab_encode" -> 0.61,
    "q171_revenue_trend" -> 0.31, "q172_ks_drift" -> 1.25,
    "q173_chi_square_drift" -> 0.30, "q174_group_median" -> 0.87,
    "q175_revenue_proration" -> 0.43, "q176_bucket_sync_diff" -> 1.30,
    // q177 re-recorded r16 (was 1.36, an r10-era window): min-of-7 in ONE
    // JVM with in-band anchors (q01 1.12x, q11 1.06x, q48 1.05x) read
    // 1.93 — code untouched since r12; the drift is the tree's larger
    // JIT/codegen footprint, adjudicated per the r15 interleave rule
    "q177_canonical_by_length" -> 1.93, "q178_funnel_3step" -> 0.49,
    "q179_revenue_anomalies" -> 0.75, "q180_percent_rank" -> 0.54,
    "q181_corr_matrix" -> 0.30, "q182_containment_pairs" -> 1.10,
    "q183_grouped_percent_rank" -> 0.76, "q184_domain_similarity" -> 0.42,
    "q185_dedup_summary" -> 1.57, "q186_burst_users" -> 0.33,
    "q187_score_calibration" -> 1.02, "q188_scd2_integrity" -> 0.50,
    "q189_conversion_latency" -> 0.55, "q190_collocations" -> 0.68,
    "q191_bloom_artifact" -> 0.80, "q192_stats_artifact" -> 1.54,
    "q193_idempotent_ingest" -> 1.31, "q194_late_dimension" -> 0.57,
    "q195_quarantine_examples" -> 0.32, "q196_corpus_interleave" -> 0.80,
    "q197_pseudonymize" -> 0.35, "q198_new_vs_returning" -> 0.36,
    "q199_cross_corpus_canonical" -> 1.68, "q200_nightly_batch" -> 1.34,
    // r11 rows (min-of-3, clean window: canaries 0.27/0.23/0.19/0.19).
    // The three streaming gates are FIXED micro-batch machinery cost —
    // measured flat from sf0.01 to sf0.1 (q204 5.7 -> 5.6 s) — not data
    // volume; q204 additionally pays the stream-stream state store.
    // q202: 2.18 pre-r15; the engine-restart replay (cold query resumed
    // after a deleted commit marker) adds a fixed second stream startup
    "q201_train_quality_classifier" -> 0.79, "q202_stream_exactly_once" -> 4.22,
    "q203_stream_dedup" -> 2.93, "q204_stream_attribution" -> 5.64,
    "q205_image_pixel_transform" -> 0.35, "q206_classifier_eval" -> 1.11,
    // 10 training rounds (20 jobs) + the full pipeline chain — job-count
    // bound at fixture SF, not data volume
    "q207_trained_curation_pipeline" -> 5.31,
    // r12 rows (min-of-2, clean window: canaries 0.47/0.19/0.18/0.17,
    // 113-query r11-comparable subset dead flat 101.4 -> 100.1 s).
    // q206b = 40 GD rounds (80+ jobs); q208 = three transactional
    // write->commit cycles + the deliberate conflict; the q209-q215
    // streaming gates are fixed micro-batch machinery like q202-q204.
    "q62b_dedup_clusters_durable" -> 1.78,
    "q139b_incremental_near_ingest_fixed" -> 0.84,
    "q143b_semantic_contamination_fixed" -> 0.41,
    "q206b_classifier_eval_weighted" -> 5.66,
    "q208_tx_concurrent_writers" -> 2.26,
    "q209_stream_jdbc_upsert" -> 3.92, // r12 staged-merge shape (see BASELINE r12 notes)
    "q210_avro_roundtrip" -> 0.95,
    "q211_stream_static_enrichment" -> 1.09,
    // q212 re-recorded r16 (was 1.85, r12 window): same one-JVM min-of-7
    // adjudication as q177 — 2.89 with anchors in-band, code untouched
    "q212_stream_dupspan_scrub" -> 2.89,
    "q213_stream_gopher_parity" -> 1.77,
    "q214_nfc_encoding_dedup" -> 0.26,
    "q215_stream_cdc_maintenance" -> 1.97,
    "q216_confusable_fold_dedup" -> 0.49,
    // r14 rows (min-of-3, clean window, sf0.1): q217 is the heaviest
    // fixed-machinery gate by construction — seed + 3 stream batches +
    // 4 transactional compactions, each rewriting a 240-partition table.
    // q217/q146b re-recorded after per-file stats collection landed in
    // stage() (footer reads per staged file + occasional extra conflict
    // round in the compaction race — the priced-in cost of data
    // skipping on every subsequent read)
    "q210b_avro_nested_roundtrip" -> 1.37,
    "q210c_avro_fixed_slice" -> 1.24,
    "q217_tx_stream_compaction_race" -> 11.30,
    "q146b_tx_add_column" -> 1.10,
    "q218_tx_data_skipping" -> 2.05,
    "q219_tx_clustered_skipping" -> 1.88,
    "q220_tx_metadata_count" -> 1.70,
    "q221_tx_incremental_read" -> 1.55,
    "q222_tx_pipeline_exactly_once" -> 3.20,
    // r15 rows (isolated min-of-2, canary 0.59/0.40/0.30)
    "q223_tx_string_skipping" -> 2.87,
    "q224_tx_merge" -> 3.38,
    "q225_tx_delete_where" -> 2.55,
    "q226_tx_parquet_checkpoint" -> 2.85,
    // re-recorded r16 (isolated min-of-3, canary 0.27/0.25/0.24/0.22):
    // the de-vacuumed gate rewrites to 64 z-files (was 24) — more write
    // tasks, less per-task skew, and the first-key gate now REAL
    "q227_tx_zorder" -> 2.31,
    "q228_tx_change_feed" -> 5.00,
    "q229_tx_streaming_source" -> 2.92,
    // r16 rows (isolated min-of-3, canary 0.27/0.25/0.24/0.22)
    "q230_tx_multicol_partitions" -> 7.32,
    "q231_tx_rename_column" -> 1.70,
    "q232_tx_cdf_stream" -> 4.95,
    // r16 second wave (isolated min-of-3, canary 0.37/0.22/0.23/0.21,
    // q01 anchor 0.31 — in band)
    "q233_tx_cdf_mapped" -> 4.76,
    "q234_tx_restore" -> 2.69,
    "q235_tx_deletion_vectors" -> 4.71,
    "q236_tx_binpack" -> 2.59,
    "q237_tx_history" -> 1.53,
    "q238_tx_stream_sink" -> 2.50,
    // r16 third wave (isolated min-of-3, canary 0.45/0.30/0.25/0.23,
    // q01 anchor 0.35 — in band)
    "q239_tx_update_sink" -> 7.91,
    "q240_tx_time_travel_ts" -> 1.20,
    "q241_tx_check_constraints" -> 1.50,
    "q242_tx_dv_parquet_checkpoint" -> 9.28,
    // r16 fourth wave (isolated min-of-3, canary 0.48/0.35/0.34/0.24,
    // q01 anchor 0.36 — in band)
    "q243_tx_merge_clauses" -> 2.93,
    "q244_tx_update_where" -> 2.65,
    // r17 rows (isolated min-of-3, canary 0.41/0.36/0.24/0.25, anchors
    // q01 0.99x / q11 1.13x — in band)
    "q245_tx_batch_format_read" -> 1.92,
    "q246_tx_sql_dml" -> 2.49,
    "q247_tx_payload_restore" -> 3.65,
    // r17 second wave (isolated min-of-3, anchors q01 0.84x / q11 0.94x)
    "q248_tx_convert" -> 1.40,
    // r18 rows (isolated min-of-3, canary 0.49/0.36/0.32/0.29, anchors
    // q01 0.92x / q11 1.15x — in band)
    "q249_tx_batch_write" -> 2.89,
    "q250_tx_catalog" -> 4.85,
    "q251_tx_table_changes" -> 6.96,
    // r19 gates (BASELINE.md r19-new: isolated min-of-3 with anchors)
    "q252_tx_add_column" -> 1.69,
    "q253_tx_table_properties" -> 1.44,
    "q254_tx_replace_table" -> 1.84)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", Sessions.defaultCpus)
    // profiling knobs: run a subset, and/or time each query N times
    // reporting the minimum. Default 2: first executions carry codegen/JIT
    // compilation noise (measured 2-6x on this box); min-of-2 reports the
    // query's actual cost. Methodology recorded in BASELINE.md.
    val repeat = sys.env.getOrElse("SPARK_GRAFT_REPEAT", "2").toInt
    val qs = SparkEntry.queries
    // subset may name ANY SparkEntry query (not just headline ones);
    // unknown names fail fast instead of being silently dropped
    val queries = sys.env.get("SPARK_GRAFT_QUERIES") match {
      case None => headline
      case Some(csv) =>
        val names = csv.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        val unknown = names.filterNot(qs.contains)
        if (unknown.nonEmpty || names.isEmpty) {
          System.err.println(
            s"[bench] unknown or empty SPARK_GRAFT_QUERIES: ${unknown.mkString(", ")}")
          sys.exit(2)
        }
        names
    }
    val spark = Sessions.local(cpus)
    // Warm-up: run the canary query to STEADY STATE before anything is
    // timed. One pass used to suffice; at the r15 code size the JVM
    // takes ~6 executions to finish JIT/codegen warm-up (measured decay
    // 5.6 → 0.71 → 0.58 → 0.51 → 0.46 → 0.40 s), so a min-of-2 start
    // canary right after one pass reads ~2× its steady-state baseline
    // and flags EVERY window as noise — warm-up masquerading as
    // co-tenant load. Warm until two consecutive runs are within 15% of
    // each other (bounded at 8 passes), so the start canary measures
    // the same steady state the mid/end canaries see.
    locally {
      var prev = Double.MaxValue
      var i = 0
      var stable = false
      while (i < 8 && !stable) {
        val t0 = System.nanoTime()
        qs(queries.head)(spark, sfDir).count()
        val t = (System.nanoTime() - t0) / 1e9
        stable = t >= prev * 0.85 && t <= prev * 1.15
        prev = t
        i += 1
      }
    }
    // locale-pinned formatting: under a comma-decimal default locale the
    // f-interpolator would emit "value":19,470 — invalid JSON
    def sec(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    // Noise canary: time a fixed cheap query (post-warm-up, min-of-2) and
    // compare against its recorded BASELINE.md cost. The r5 driver bench
    // recorded phantom 10-100x regressions (q64 0.24->25.1 s) that
    // reproduced at 0.37 s in a clean window — host co-tenant load, not
    // code. canary_sec makes such a polluted run mechanically detectable:
    // q01 is scan+agg-bound with a stable measured history at sf0.1
    // (~0.40 s min-of-2 on the regenerated single-row-group fixtures).
    // Trip wire and history: BenchGuard (r10: ANY canary > 1.5x flags the
    // window — the old 2x wire let a 1.68x-canary window ship 1.4x-off
    // numbers as noise_suspect:false two rounds running).
    val canaryName = "q01_pricing_summary"
    val canaryBaselineSec: Map[String, Double] = Map("sf0.1" -> 0.40, "sf0.01" -> 0.20)
    def runCanary(): Double = (1 to math.max(repeat, 2)).map { _ =>
      val t0 = System.nanoTime()
      qs(canaryName)(spark, sfDir).count()
      (System.nanoTime() - t0) / 1e9
    }.min
    val canarySec = runCanary()
    val sfLabel = sfDir.split('/').filter(_.nonEmpty).lastOption.getOrElse(sfDir)
    def measure(name: String): (Double, Boolean) = {
      val times = (1 to repeat).map { _ =>
        val t0 = System.nanoTime()
        val ok =
          try { qs(name)(spark, sfDir).count(); true } catch {
            case e: Throwable =>
              System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
              false
          }
        ((System.nanoTime() - t0) / 1e9, ok)
      }
      (times.map(_._1).min, times.forall(_._2))
    }
    // mid-run canaries: the r9 session caught a window where both
    // BRACKET canaries were clean but co-tenant load arrived mid-suite
    // (q127 read 2x its min-of-3 in the same JSON line) — so the canary
    // also fires at each third of the suite, and noise_suspect keys off
    // the WORST of all four samples
    val midAt = Set(queries.size / 3, 2 * queries.size / 3).filter(_ > 0)
    val midCanaries = collection.mutable.ArrayBuffer.empty[Double]
    val firstPass = queries.zipWithIndex.map { case (name, qi) =>
      if (midAt.contains(qi)) midCanaries += runCanary()
      val (t, ok) = measure(name)
      (name, t, ok)
    }
    // auto-retry pass (r10): any query measuring > 2x its recorded
    // BASELINE.md row (sf0.1 only — other SFs carry no per-query rows)
    // gets ONE isolated re-measure after the suite, and the minimum of
    // both passes ships. A transient co-tenant spike on one query thus
    // self-corrects instead of shipping as a phantom regression needing
    // judge-side adjudication; a REAL regression reproduces in the retry
    // and still ships red.
    val retryEligible = sfLabel == "sf0.1"
    val results = firstPass.map { case (name, t, ok) =>
      if (ok && retryEligible && BenchGuard.needsRetry(t, baselineSec.get(name))) {
        val (t2, ok2) = measure(name)
        (name, if (ok2) math.min(t, t2) else t, ok, true)
      } else (name, t, ok, false)
    }
    val retried = results.collect { case (n, _, _, true) => "\"" + n + "\"" }
    // a failed query is reported as -1 (never as its tiny wall time) and
    // listed in "errors", so a broken headline query can't read as a fast one
    val qj = results.map { case (k, v, ok, _) => "\"" + k + "\":" + (if (ok) sec(v) else "-1") }
      .mkString("{", ",", "}")
    val errors = results.collect { case (k, _, false, _) => "\"" + k + "\"" }
    val total = results.collect { case (_, v, true, _) => v }.sum
    // second canary pass AFTER the suite: a clean start + polluted end
    // (co-tenant load arriving mid-run) is the failure mode the r5 bench
    // actually exhibited, so the suspect flag keys off the WORST of every
    // sample (brackets + mid-suite)
    val canaryEndSec = runCanary()
    val allCanaries = canarySec +: midCanaries.toSeq :+ canaryEndSec
    // no recorded canary baseline for this SF label → "null", NOT false:
    // absence of the check must not read as a clean window
    val noiseSuspect = BenchGuard.noiseSuspect(allCanaries, canaryBaselineSec.get(sfLabel))
      .map(_.toString).getOrElse("null")
    val midJson = midCanaries.map(sec).mkString("[", ",", "]")
    val jsonLine =
      s"""{"metric":"total","value":${sec(total)},"unit":"sec","queries":$qj,""" +
      s""""errors":${errors.mkString("[", ",", "]")},"sf":"$sfDir",""" +
      s""""canary_sec":${sec(canarySec)},"canary_mid_sec":$midJson,""" +
      s""""canary_end_sec":${sec(canaryEndSec)},""" +
      s""""retried":${retried.mkString("[", ",", "]")},""" +
      s""""repeat":$repeat,"noise_suspect":$noiseSuspect}"""
    println(jsonLine)
    // the stdout line outgrew the driver's capture window at ~100
    // queries (BENCH_r10 shipped parsed:null) — also persist it whole to
    // a file the driver (or a human) can read without scraping stdout
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (jsonLine + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
