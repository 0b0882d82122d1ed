package graft

import graft.functions.MinHashSig
import graft.operators.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions.col

/**
 * Plan-hygiene audit as a spec (the round-7 verdict's recompute-audit
 * recipe, institutionalized): every BATCH query's executed plan may
 * not reference MORE parquet scans than its pinned ceiling. A count
 * above the pin means a shared subplan lost its single-scan shape —
 * the df-JOIN-aggregate(df) recompute class (CLAUDE.md) that costs a
 * full corpus re-read per extra scan at 100 TB.
 *
 * Notes on the metric: [[parquetScans]] walks the executed plan tree
 * and counts a cached (InMemoryRelation) subplan's scans once per
 * REFERENCE, so for persisting operators the count is an upper bound
 * on executed scans, not an exact count — which is exactly what a
 * regression ceiling needs. A cached subplan that has already run
 * (the eager pin) also keeps its AQE `== Initial Plan ==`; the walk
 * follows only the current plan, so one reference counts its scans
 * once whether or not the cache has been populated.
 * Streaming queries (q_d*) are excluded: their builders execute
 * streams to completion. New queries MUST add a pin row — the audit
 * fails on unpinned names so plan hygiene is decided at review time,
 * not discovered at the x10 tier.
 */
class PlanAuditSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  /** Ceilings measured 2026-08-13 (round 8) at sf0.001, local cores.
   * Raising one requires a reason in the commit message. */
  private val maxScans: Map[String, Int] = Map(
    "q_b10_anti_join" -> 2, "q_b11_sessionize" -> 1, "q_b11b_session_window" -> 1,
    "q_b12_rollup" -> 1, "q_b13_asof" -> 2, "q_b14_interval" -> 2,
    "q_b15_pivot" -> 1, "q_b16_range_window" -> 1, "q_b1_filter_project" -> 1,
    "q_b2_status_counts" -> 1, "q_b3_top_paths" -> 1, "q_b4_hourly_traffic" -> 1,
    "q_b5_join_broadcast" -> 3, "q_b5_join_multi" -> 3, "q_b6_error_context" -> 1,
    "q_b6_window_running" -> 1, "q_b7_distinct_users" -> 1, "q_b8_percentiles" -> 0,
    "q_b9_tpch_q1" -> 1, "q_c10_quality" -> 1, "q_c11_tokens" -> 1,
    "q_c11b_bpe_learned" -> 1, "q_c12_fingerprint" -> 1, "q_c13_pii" -> 1,
    "q_c14_split" -> 1, "q_c15_sentence_dedup" -> 1, "q_c16_contamination" -> 5,
    "q_c17_sample" -> 1, "q_c18_bloom" -> 1, "q_c19_mixture" -> 1,
    "q_c1_dedup_exact" -> 2, "q_c20_gopher" -> 2, "q_c21_url_domains" -> 1,
    "q_c22_dupgrams" -> 2, "q_c24_pack" -> 0, "q_c25_overlap" -> 2,
    "q_c26_components" -> 0, "q_c26b_components_star" -> 4, "q_c27_top_terms" -> 2,
    "q_c28_shuffle" -> 0, "q_c29_semdedup" -> 6, "q_c2_minhash_lsh" -> 6,
    "q_c30_chunks" -> 1, "q_c31_linededup" -> 1, "q_c32_semdedup_2level" -> 18,
    "q_c33_pack_spans" -> 0, "q_c34_collocations" -> 3, "q_c35_lm_rarity" -> 3,
    "q_c36_bm25" -> 3, "q_c37_corpus_linededup" -> 2, "q_c38_domain_cap" -> 1,
    "q_c39_quality_clf" -> 2, "q_c3_simhash" -> 6, "q_c40_inverted_index" -> 3,
    "q_c41_source_divergence" -> 4, "q_c42_bigram_lm" -> 3, "q_c43_dup_spans" -> 2,
    // q_c79 = 2: the per-(doc,n) profile branch + the source join
    // branch each scan documents once (the map-only RepetitionStats
    // expression adds no exchange, and all n tiers share ONE scan).
    // q_c80 = 1: single scan, codegen Luhn count/redact, one aggregate.
    "q_c79_repetition" -> 2, "q_c80_luhn" -> 1,
    // q_c88 = 1: one scan, codegen AC automaton pass, one map-combining
    // aggregate; the pattern array is a literal.
    "q_c88_blocklist" -> 1,
    // q_c89 = 0: both legs are ≤ kEach-row bounded frames collected and
    // fused on the driver (q_c51/q_c81 local-relation class) — the
    // returned plan is a LocalRelation.
    "q_c89_hybrid_rrf" -> 0,
    // q_c90 = 2: the bucket-stats and first-bucket branches each scan
    // documents once (explode is cheaper than caching — lmSurprisal
    // rationale); everything after is ≤ 16 rows.
    "q_c90_vocab_growth" -> 2,
    // q_b17 = 1: one aggregate + two windows on the same event_type
    // key (exchange reuse), no joins.
    "q_b17_burst_detect" -> 1,
    // q_b18 = 1: two same-key windows + same-key per-user aggregate +
    // one-row rollup, single scan.
    "q_b18_funnel" -> 1,
    // q_c91 = 2: no cache — the posting frame over base ∪ excerpt (2
    // scans) feeds one posting-group pass; each posting carries its
    // doc's size, so no sizes aggregate is joined back.
    "q_c91_containment" -> 2,
    // q_c83 = 1: single scan, codegen canonicalization, one aggregate.
    "q_c83_url_canon" -> 1,
    // q_log_scan_stats = 0 parquet scans: the final plan reads only the
    // synthesized TEXT files (the events scan happens once at
    // construction to WRITE them, outside the returned plan).
    "q_log_scan_stats" -> 0,
    // q_log_hive_partitions = 0: same class — the returned plan reads
    // the hive-partitioned text tree (shard pruned via PartitionFilters,
    // HivePartitionSpec) written at construction.
    "q_log_hive_partitions" -> 0,
    // q_c82 = 3: three direct documents scans and no cached frame
    // (q_c16 class, plus the broadcast bench-gram build).
    "q_c82_contam_attribution" -> 3,
    "q_c44_gram_novelty" -> 2, "q_c45_group_quantiles" -> 1, "q_c46_doc_keywords" -> 2,
    "q_c47_kmeans" -> 1, "q_c48_pack_ids" -> 0, "q_c49_cluster_labels" -> 2,
    "q_c4_ngram_jaccard" -> 2, "q_c5_embed_neardup" -> 4, "q_c6_ann_brute" -> 2,
    // q_c50 = 1: ONE cached slim projection (source, tokens, bucket),
    // persisted+pinned at build (stats/rates were collected then); the
    // only reference is the admission pass — executed parquet reads
    // stay 1.
    // q_c51 = 0: exactAuc reduces to three driver longs at build; the
    // result is a local one-row relation. q_c52 = 2: the union's two
    // branches (originals + planted variants) each scan documents once.
    "q_c50_temp_mixture" -> 1, "q_c51_auc" -> 0, "q_c52_norm_dedup" -> 2,
    // q_c53 = 4: the union's two branches × the chunk stream's two
    // consumers (corpus counts + join back — the pinned q_c44 shape).
    // q_c54 = 1: components are localCheckpoint-truncated (q_c26 = 0);
    // the one scan is the n_chars quality join. q_c55 = 1: map-only.
    "q_c53_cdc_dedup" -> 4, "q_c54_keep_best" -> 1, "q_c55_int8_quant" -> 1,
    // q_c56 = 3: the old side once + the new side's modified/added
    // union branches (fingerprints projected before the join — only
    // (id, md5) shuffles).
    "q_c56_snapshot_diff" -> 3,
    // q_c11c = 1: the histogram aggregate runs (and collects) at build;
    // the returned plan is one codegen token-count pass (q_c11b shape)
    "q_c11c_bpe_distributed" -> 1,
    // q_c57 = 2 (r19, was 0): intermediate PageRank rounds stay
    // localCheckpoint-truncated but the LAST round returns lazy (the
    // eager final checkpoint was a whole redundant materialization —
    // warm sf0.1 medians 5.19 → 4.04 s), so the returned plan is one
    // join over the prev-round LogicalRDD and the PERSISTED eDeg,
    // whose cached edge subplan (2 scans) is referenced once (upper
    // bound, q_c59 class); executed documents
    // reads stay 1 (eDeg populated by the nodes checkpoint job).
    // q_c58 = 1: the sketch collects at build; the returned plan is
    // the exact top-20 pass. q_c59 = 5: upper bound — feats is
    // persisted+pinned and its cached union subplan (2 scans) counts
    // per reference (weight build + scoring join: 2 × 2) plus the lang
    // join's own scan; executed documents reads stay 2.
    // q_c60 = 1: planned ALONE the query is one scan; in this suite's
    // shared session the q_c41 sourceDivergence builder has already
    // registered its persisted per-(source, xxhash64 term) count
    // frame, and q_c60's first aggregate is plan-identical, so the
    // cache manager substitutes the InMemoryRelation — the counted scan
    // sits INSIDE its cached subplan; at runtime the query reads the
    // cache, zero extra parquet scans (and in Bench
    // every query's caches release before the next, so q_c60 solo
    // keeps its own single-scan plan). q_c61 = 1: one gram pipeline
    // into the single-row bitmask aggregate.
    "q_c57_pagerank" -> 2, "q_c58_cms_topk" -> 1, "q_c59_importance" -> 5,
    "q_c60_diversity" -> 1, "q_c61_source_overlap" -> 1,
    // q_c62 = 8: upper bound — the persisted new-batch projection (a
    // 2-scan union) counts per reference (sign + verify + final join:
    // 3 × 2) plus the old side's sign/verify scans; executed reads are
    // old×2 + new-union×1 (cached, eager-pinned). q_c63 = 2 / q_c64 =
    // 3: the persisted base/join (2 / 3 scans) is referenced once;
    // the range/total fetch executes the cached plan exactly once.
    "q_c62_incremental_neardup" -> 8, "q_c63_calibration" -> 2,
    "q_c64_corpus_drift" -> 3,
    // q_c65 = 0: the curve materializes through RDD prefix-sum jobs
    // (exactAuc shape); the returned plan is a LogicalRDD
    "q_c65_pr_curve" -> 0,
    // q_c66 = 1: upper bound — the compact feature-vector frame is
    // persisted (training rounds eager-pinned it via head()) and
    // referenced once (q_c50 class). Executed documents reads: 1.
    // q_c67 = 0: the component is driver state after the fixed rounds;
    // the returned plan is a local relation. q_c68 = 2: same class as
    // q_c66 — each cross-join side references its persisted+pinned
    // signature table (1 scan each); executed reads: 1.
    "q_c66_perceptron" -> 1, "q_c67_top_component" -> 0,
    "q_c68_source_minhash" -> 2,
    // q_c69 = 1: no cache — the fingerprint window (1 scan) feeds one
    // posting-pair pass, which carries each doc's fingerprint count.
    // q_c70 = 2: no cache — one block window over the 2-branch union
    // (2 scans) feeds the one capped-pair aggregate.
    // q_c71 = 1: the ablation aggregate runs over the fit's cached
    // centered frame.
    "q_c69_winnow" -> 1, "q_c70_edit_neardup" -> 2,
    "q_c71_ablation" -> 1,
    // q_c72 = 2: broadcast probe scan + one candidate scan (the q_c6
    // brute shape with the label filter riding the join). q_c73 = 6:
    // upper bound — the persisted+pinned ranked-pair table (2 scans:
    // broadcast side + candidate side) counts per reference (both NN
    // pivots + the margin join: 3 × 2); executed reads: 2.
    // q_c72b = 2: candidates + broadcast queries, one embeddings scan
    // each (the driver-side seed collect is its own bounded action,
    // not part of this plan).
    "q_c72_hard_negatives" -> 2, "q_c72b_hard_negatives_ivf" -> 2,
    "q_c73_margin_pairs" -> 6,
    // q_c74 = 1: the persisted compact feature frame's one reference
    // (q_c66 class). q_c75 =
    // 4: projected and full spaces each broadcast probes + scan
    // candidates (two bounded passes; the q_c6 class twice).
    "q_c74_uncertainty" -> 1, "q_c75_jl_recall" -> 4,
    // q_c76 = 2: the union's two branches (corpus + planted leaks);
    // the benchmark collect is a build-time job, the filter itself is
    // join-free codegen dots.
    "q_c76_semantic_decontam" -> 2,
    // q_c77 = 0: both global orders materialize through zipWithIndex
    // LogicalRDDs at build (the shuffleOrder shape); the returned plan
    // is the final aggregate over the second RDD. q_c78 = 1: one scan,
    // one aggregate.
    "q_c77_curriculum" -> 0, "q_c78_packing_audit" -> 1,
    // q_c7c = 4: query set scanned twice (both tiny probes), corpus
    // twice — the cells+codes pass and the raw rerank-payload pass
    // (slim-rank-then-rejoin keeps the ADC tables and vectors out of
    // the 12.5M-row ranking exchange; measured 3x wall at 1000 queries)
    "q_c7_ann_lsh" -> 2, "q_c7b_ann_ivf" -> 2, "q_c7c_ann_ivfpq" -> 4,
    // q_c84 = 8: upper bound — the persisted+pinned dtf table (1
    // scan) is referenced 8 times (the LM-marginal branches, their
    // join-backs and the scoring pass); executed documents reads: 1
    // (cache populated by the eager pin count).
    // q_c85 = 9: upper bound — the persisted+pinned per-QI-tuple count
    // frame counts its cached events scan per reference (the
    // three-level groupBy+join cascade references it 8x) plus the
    // row-frame probe; executed events reads: 2 (pin count +
    // probe). r16: the former count-over-Window ladder (1 scan but the
    // FULL table through single-digit coarse-key window tasks at
    // 100x) replaced by bounded aggregates — plan pinned window-free
    // in PrivacySpec.
    // q_c86 = 4: upper bound — the persisted+pinned slim (id, dhash)
    // table (1 scan) is referenced four times (rep aggregate +
    // join-back, each on both sides of the id repartition that
    // parallelizes the codec chain); executed documents reads: 1
    // (cache populated by the eager pin count).
    "q_c84_stupid_backoff" -> 8, "q_c85_k_anon" -> 9,
    // q_c120 = 2: the two BUCKETED tables' scans (the source datasets
    // were consumed at materialize time); the join itself is the
    // exchange-free co-located read pinned in BucketedJoinSpec.
    "q_c120_bucketed_join" -> 2,
    // q_c121 = 36: the map-only Md5MinhashSig column on base removed
    // the separate signature table — ONE persisted frame (a 4-branch
    // union, 4 scans) is referenced 9 times across the three rung
    // branches: 9 × 4 (q_c93 class); executed reads: one keyed
    // pass under the base pin (the old second shingle pass is gone).
    "q_c121_split_leakage" -> 36,
    // q_c123 = 0: publishes (and digest-verifies) at build; the
    // returned plan parses the _MANIFEST JSON string through
    // range(1) + from_json — no parquet in the printed plan.
    "q_c123_snapshot_manifest" -> 0,
    // q_c124 = 0: the round trip reads the emitted WET/WAT members
    // back through binaryFile (q_c111b/q_c111c class) — no parquet.
    "q_c124_wet_wat" -> 0,
    // q_c125 = 0: the diff is METADATA-ONLY by contract — two parsed
    // manifest strings full-outer joined; zero scans is the point.
    "q_c125_manifest_diff" -> 0,
    // q_c126 = 1: the returned plan reads the post-vacuum survivor
    // snapshot's parquet (the q_c122 class).
    "q_c126_snapshot_vacuum" -> 1,
    // q_c127 = 1: the returned plan reads the compacted full version
    // (one parquet read — the chain was folded at build).
    "q_c127_delta_publish" -> 1,
    // q_c128 = 1: the archive re-read is binaryFile (no parquet); the
    // one parquet scan is the doc_id -> source join-back.
    "q_c128_archive_dedup" -> 1,
    // q_c129 = 1: hydrate's revisit⋈owner join is binaryFile⋈binaryFile;
    // the one parquet scan is the same doc_id -> source join-back.
    "q_c129_archive_hydrate" -> 1,
    // q_c131 = 1: GC's live∪pinned-semi-join reads binaryFile twice
    // (no parquet); the one parquet scan is the source join-back.
    "q_c131_archive_gc" -> 1,
    // q_c132 = 1: publish + GC-publish + vacuum all run at build; the
    // returned plan is the hydrated binaryFile read of the GC'd
    // version joined to the one parquet source scan (q_c129 class).
    "q_c132_archive_gc_publish" -> 1,
    // q_c7d = 2: the published index parquet (probe side) + embeddings
    // (query side); the seed collect happens at build.
    "q_c7d_ann_published" -> 2,
    // q_c7e = 4: q_c7c's slim-rank-then-rejoin shape against the
    // published artifact — index parquet twice (cells+codes pass, raw
    // rerank payload) + embeddings twice (probe + rerank query side).
    "q_c7e_ann_pq_published" -> 4,
    // q_sql_snapshot = 3: pinned v1 + the logical chain's v1+v2 —
    // three published-version parquet reads by construction.
    "q_sql_snapshot" -> 3,
    // q_sql_warc = 0: warc_read is binaryFile; the WET emission writes
    // at build, outside the returned plan.
    "q_sql_warc" -> 0,
    // q_sql_hydrate = 0: same class — the dedup archive writes at
    // build; warc_read(hydrate => true) is binaryFile + the revisit
    // join, no parquet.
    "q_sql_hydrate" -> 0,
    // q_c122 = 1: the returned plan reads the PUBLISHED snapshot's
    // parquet (one scan); the publish writes + decoy happen at build.
    "q_c122_snapshot_publish" -> 1,
    // q_c119/q_c119b = 0: the C33-class prefix-sum path materializes
    // the offset frame through a LogicalRDD at build (the q_c77
    // shuffleOrder shape); the returned plan is the coverage explode +
    // one combining seq_no aggregate over that RDD.
    "q_c119_pack_examples" -> 0, "q_c119b_pack_shards" -> 0,
    // q_c100 = 1: the trainer's histogram/EM scans run at build; the
    // returned plan is one scan + codegen token count + one aggregate.
    // q_c101 = 5: q_c84 class — kneserNeyNgramSurprisal at order 2:
    // the persisted+pinned dtf (1 scan) is referenced once directly and
    // the persisted bigram-type table tt, built from dtf, four times,
    // each counting through to dtf's scan: 1 + 4; executed documents
    // reads: 1 (both caches eager-pinned by count()).
    "q_c100_unigram_tokenizer" -> 1, "q_c101_kneser_ney" -> 5,
    // q_c110 = 7: q_c101 class one order up — kneserNeyNgramSurprisal
    // at order 3: THREE nested persisted+pinned frames (dtf, trigram-
    // type tt built from dtf, continuation link t2 built from tt) each
    // count dtf's one scan per reference across the scoring joins:
    // dtf 1 + tt 2 + t2 4; executed scans stay 1.
    "q_c110_kneser_ney_tri" -> 7,
    // q_c114 = 3: upper bound — the persisted token frame (1 scan) is
    // referenced three times (gram-stats aggregate + join-back side +
    // the final scrub join's left side); executed documents reads: 1
    // (eager pin count).
    "q_c114_exact_substr" -> 3,
    // q_c116/q_c117 = 1: map-only example builders (SpanCorrupt codegen
    // static call; FIM slices+joins are builtins) — one documents scan,
    // the only exchanges are the harness repartition + final orderBy.
    "q_c116_span_corrupt" -> 1, "q_c117_fim" -> 1,
    // q_c118 = 3: upper bound — the persisted (tokens, coin) frame (1
    // scan) is referenced once per arm branch of the union; executed
    // documents reads: 1 (eager pin count).
    "q_c118_ul2_mix" -> 3,
    // q_c115 = 11: the q_c110 class two orders up — FIVE nested
    // persisted+pinned frames (dtf, type table tt, chain links t4/t3/t2,
    // each built from the one before) count dtf's one scan per
    // reference across the scoring joins: dtf 1 + tt 2 + t4 2 + t3 2 +
    // t2 4; executed scans stay 1.
    "q_c115_kneser_ney_5" -> 11,
    // q_c102 = 0: bins collect at build (bounded ≤ bins rows); the
    // returned plan is a LocalRelation (q_c51/q_c89 class).
    // q_c103 = 1: single scan, codegen fix/markers, one aggregate.
    "q_c102_isotonic" -> 0, "q_c103_encoding_qa" -> 1,
    // q_c104 = 1: upper bound — the persisted presence frame (1 scan)
    // is referenced once, by the confusion aggregate; executed
    // documents reads: 1 (cache populated by the build-time class-sum
    // job).
    "q_c104_langid_centroid" -> 1,
    // q_c105 = 0: the greedy rounds + coverage aggregate run at build
    // over the persisted corpus; the returned k-row frame is a
    // LocalRelation.
    "q_c105_kcenter" -> 0,
    // q_c106 = 0: the ranked frame is the GroupedScan LogicalRDD
    // (q_c97/q_c98 class); the KN scoring scans run inside it.
    // q_c107 = 0: the L-row mixture table is a LocalRelation (the
    // stats aggregate collects at build — temperatureMixture pattern).
    "q_c106_ccnet_filter" -> 0, "q_c107_unimax" -> 0,
    // q_c108 = 18: upper bound (q_c70/q_c91 class) — the persisted
    // (id, hash) set is a 3-branch planted union (3 scans); the
    // persisted prefix frame built from two references to it (6: the
    // set and its df aggregate; the size is a count in the rank
    // window) is referenced twice, and the two verify sides reference
    // the set once each: 2 × 6 + 2 × 3; executed documents reads: 3 at
    // pin time, cached after.
    "q_c108_jaccard_join" -> 18,
    // q_c109 = 1: one documents scan; synthesis + extraction are one
    // map-only codegen pass (HtmlExtract static call), no exchange.
    "q_c109_html_extract" -> 1,
    // q_c109b = 1: one documents scan; both gate variants (lang-keyed
    // + English default) are codegen calls in the same projection.
    "q_c109b_html_lang_gate" -> 1,
    // q_c111 = 1: q_c109 class — synthesize WARC, frame records,
    // extract the response payload, all in one map-only pass.
    "q_c111_warc_extract" -> 1,
    // q_c111b = 0: the fixture synthesis collects at build; the
    // returned plan reads the .warc.gz members via binaryFile (not a
    // parquet scan) + one broadcast per-member count join.
    "q_c111b_warc_files" -> 0,
    // q_c111c = 0: same class — binaryFile members, no parquet; the
    // dup-count join's both sides re-read the small fixture.
    "q_c111c_cdx_index" -> 0,
    // q_c113 = 3: upper bound — the persisted (id, links) frame (1
    // scan) is referenced three times (n_links + out/in aggregates).
    "q_c113_link_graph" -> 3,
    // q_c112 = 1: one documents scan; path synthesis + two robots
    // evaluations are one map-only codegen pass.
    "q_c112_robots" -> 1,
    "q_c86_image_neardup" -> 4,
    // q_c87 = 1: the codec learn collects its 500-doc sample at build;
    // the returned plan is ONE map-only scan + combining aggregate.
    "q_c87_tokenizer_fertility" -> 1,
    // q_c93 = 56: upper bound — r16 replaced the three rung
    // min-over-Window(content key) ops with family-grain rollups, so
    // THREE nested persisted frames (slim keyed base over a 4-branch
    // union = 4 scans, winner table fam2 built from it = 4, survivor
    // signature table = 4 own scans + 4 fam2 references = 20) are
    // each referenced twice: 2 × 4 + 2 × 4 + 2 × 20. EXECUTED parquet
    // reads are unchanged from the window version: one keyed pass +
    // one column-pruned (id, text) signature pass (map-only
    // Md5MinhashSig behind a SingletonArray Generate barrier since
    // r20; was a shingle explode+agg), both materialized by the
    // single sigK pin at build; the returned plan reads caches.
    "q_c93_attrition_funnel" -> 56,
    // q_c95 = 8: no cache — the (id, h) postings over a 4-branch union
    // (4 scans) feed one posting-pair pass, which carries both sides'
    // sizes, plus the map-only signature pass's own 4-scan union read,
    // joined ONCE by both pair endpoints: 4 + 4.
    "q_c95_lsh_recall" -> 8,
    // q_c96 = 16: four prefix-length branches each scan the embeddings
    // twice (probe broadcast + corpus candidates) and reference the
    // persisted full-dim ground truth (2 scans per reference) — the
    // brute-force audit tier runs on nProbes=5, so every scan is the
    // bounded C6 class.
    "q_c96_matryoshka_recall" -> 16,
    // q_c99 = 0: the docs+embeddings cell join feeds the GroupedScan
    // distributed prefix scan; the returned plan is the explode+agg
    // over its LogicalRDD (the q_c33/q_c77 class — parquet reads
    // happen inside the scan's two RDD jobs, not the printed plan).
    "q_c99_semantic_pack" -> 0,
    // q_c99b = 0: q_c99 class — the sub-split adds one broadcast
    // ≤ nSeeds-row count join ahead of the GroupedScan LogicalRDD.
    "q_c99b_semantic_pack_split" -> 0,
    // q_c97/q_c98 = 0: slim frame into the GroupedScan prefix scan →
    // LogicalRDD + one aggregate (same class as q_c99).
    "q_c97_stratified_split" -> 0, "q_c98_budget_fill" -> 0,
    // q_c92 = 0: ONE corpus aggregate collects the metadata-scale
    // (source × lang) cell table at build; the IPF rounds run on the
    // driver and the result is a local relation (q_c51/q_c81 class).
    "q_c92_ipf_mixture" -> 0,
    // q_c94 = 1: the persisted (source, token) count frame (1 scan) is
    // the plan's one reference — the rank path now runs through the GroupedScan LogicalRDD; one
    // executed scan (cache populated by the eager pin count).
    "q_c94_zipf_slope" -> 1,
    // q_c81 = 0: the audit reduces to ≤ nSeeds driver rows (counts,
    // anchors, argmax each collected off the persisted assignment);
    // the result is a local relation — the q_c51 class.
    "q_c81_ivf_audit" -> 0,
    "q_c8_multimodal" -> 1,
    "q_c8b_video_demux" -> 1, "q_c8c_resize" -> 1, "q_c8d_mp4_demux" -> 1,
    "q_c9_lang_id" -> 1, "q_conf_formats" -> 0,
    "q_log_autodetect_glob" -> 0, "q_log_bytes_dash" -> 1, "q_log_collisions" -> 1,
    "q_log_conf_integration" -> 0, "q_log_connstatus" -> 1, "q_log_duration" -> 1,
    "q_log_epoch" -> 1, "q_log_epoch_usec" -> 1, "q_log_error_format" -> 1,
    "q_log_hourly" -> 1,
    "q_log_parse_common" -> 1, "q_log_parse_errors" -> 1, "q_log_query_string" -> 1,
    "q_log_strftime" -> 1, "q_sink_partitioned" -> 1, "q_sql_funcs" -> 1,
    "q_sql_tvf" -> 0, "q_sql_tvf_error" -> 0)

  /** Sum of `own` over the nodes of an executed plan tree. An AQE
   * plan counts only its current plan, never the `== Initial Plan ==`
   * it prints beside a final one; a reused exchange counts nothing
   * (its source is counted where it runs); a cached relation counts
   * its cached plan at every reference, through nested caches. */
  private def planSum(plan: SparkPlan)(own: SparkPlan => Int): Int = plan match {
    case a: AdaptiveSparkPlanExec => planSum(a.executedPlan)(own)
    case s: QueryStageExec => planSum(s.plan)(own)
    case m: InMemoryTableScanExec => planSum(m.relation.cachedPlan)(own)
    case _ => own(plan) + (plan.children ++ plan.subqueries).map(planSum(_)(own)).sum
  }

  private def parquetScans(plan: SparkPlan): Int = planSum(plan) {
    case f: FileSourceScanExec if f.relation.fileFormat.isInstanceOf[ParquetFileFormat] => 1
    case _ => 0
  }

  /** `MinHashSig` evaluations: the expressions of every node that runs. */
  private def minhashSigEvals(plan: SparkPlan): Int = planSum(plan) { p =>
    p.expressions.map(_.collect { case m: MinHashSig => m }.size).sum
  }

  /** `WindowExec` nodes: each one sorts and windows its input again. */
  private def windows(plan: SparkPlan): Int = planSum(plan) {
    case _: WindowExec => 1
    case _ => 0
  }

  test("capped pair operators read their bucket exchange through one Window") {
    // one window over the bucket key tags size and min owner; the
    // small-bucket pairs and the star pairs come out of one aggregate
    // on the same partitioning, so no second Sort + Window over a
    // reused exchange
    def executedWindows(df: DataFrame): Int = {
      df.collect()
      windows(df.queryExecution.executedPlan)
    }
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "text")
    assert(executedWindows(
      Dedup.minhashCandidates(docs, "doc_id", "text", maxBucketSize = 3)) == 1)
    assert(executedWindows(SparkEntry.queries("q_c70_edit_neardup")(spark, sfDir)) == 1)
  }

  test("capped MinHash-LSH operators evaluate MinHashSig once") {
    // the final (AQE) plan exists only after the action runs, and only
    // then are repeated exchanges replaced by reused ones
    def evals(df: DataFrame): Int = {
      df.collect()
      minhashSigEvals(df.queryExecution.executedPlan)
    }
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "text")
    val older = docs.filter(col("doc_id") % 2 === 0)
    val newer = docs.filter(col("doc_id") % 2 === 1)
    // candidates: one signature select feeds one exchange on (band,
    // band_hash), read by one window = 1
    try {
      assert(evals(Dedup.minhashCandidates(docs, "doc_id", "text", maxBucketSize = 3)) == 1)
      // drop = candidates 1 + verify (tokens only) 0 + anti join 0 = 1;
      // it reads the corpus 3 times: signatures, one verify word-set
      // pass for both pair sides, and the anti join
      val drop = Dedup.dropNearDuplicates(docs, "doc_id", "text")
      assert(evals(drop) == 1)
      assert(parquetScans(drop.queryExecution.executedPlan) == 3)
      // incremental = old corpus 1 (window gate, no groupBy joined
      // back) + new batch 1 = 2: each corpus is signed once
      assert(evals(Dedup.incrementalNearDup(older, newer, "doc_id", "text",
        maxBucketSize = 3)) == 2)
    } finally spark.catalog.clearCache() // incrementalNearDup persists its batch
  }

  test("every batch query plans within its parquet-scan ceiling") {
    val batch = (queries.BQueries.queries ++ queries.LogQueries.queries ++
      queries.CQueries.queries ++ queries.PipeQueries.queries).keys.toSeq.sorted
    // clearCache in finally: an assert failure must not leave the
    // persisting builders' caches live for later suites in the shared
    // session (they'd mask recompute bugs and skew timings)
    try {
      val unpinned = batch.filterNot(maxScans.contains)
      assert(unpinned.isEmpty,
        s"new queries need a scan pin here: ${unpinned.mkString(", ")}")
      val over = batch.flatMap { name =>
        val df = SparkEntry.queries(name)(spark, sfDir)
        val scans = parquetScans(df.queryExecution.executedPlan)
        if (scans > maxScans(name)) Some(s"$name: $scans > ${maxScans(name)}") else None
      }
      assert(over.isEmpty, s"scan-count regressions:\n  ${over.mkString("\n  ")}")
    } finally spark.catalog.clearCache() // builders persist (semDedup etc.)
  }
}
