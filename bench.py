"""Benchmark harness: runs the engine's headline queries at
``$SPARK_GRAFT_SF_DIR`` (default sf0.1) on ``local[$SPARK_GRAFT_CPUS]``
and prints ONE JSON line with per-query wall times.

Each query is materialized through the ``noop`` sink so timing covers the
full distributed plan (scan → shuffle → agg) without collect/driver
serialization noise. Each query runs once untimed (JIT + whole-stage
codegen compilation + parquet footer caches) and the second, steady-state
execution is reported — the standard warm measurement for query engines;
cold-start costs are amortized across a real workload anyway.

Output discipline (r7): the driver's stdout capture truncated the r5/r6
lines once the headline grew past ~80 queries (``BENCH_r0{5,6}.json``
record ``parsed: null``), so the printed line is now COMPACT — totals,
the cross-round-comparable r4 subset, and the top-10 exec walls — and
the full per-query exec/construct maps go to ``BENCH_DETAIL.json``
next to this script.

Timing scheme (r11): queries execute in the FIXED append-only HEADLINE
order (never registry order), and any query whose first warm execution
exceeds ``MEDIAN3_THRESHOLD_SEC`` is executed twice more with the
MEDIAN of the three walls reported. Rationale: r10 burned half a round
chasing a 0.89s→1.85s "regression" in ``simhash_near_pairs`` that a
worktree bisect proved was single-execution cache-warmth luck in the
r9 cell, not code. Sub-threshold queries keep single-execution cells
(their absolute noise is bounded by the threshold); the >1s tier —
where a 2× swing reads as a real regression — is now a median, so a
lucky or unlucky single draw can't publish. ``BENCH_DETAIL.json``
carries the individual trials in ``trials`` for any query that was
re-run.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from precios_nexo_sperant_etl_spark.registry import queries  # noqa: E402
from precios_nexo_sperant_etl_spark.session import get_spark, local_cpus  # noqa: E402
from precios_nexo_sperant_etl_spark.sources.tables import load_tables  # noqa: E402

#: Headline set: one representative per engine subsystem.
HEADLINE = [
    "core_update_audit",        # dedup → broadcast join → coalesce → audit agg
    "tpch_q1_pricing_summary",  # scan-heavy grouped aggregation
    "tpch_q3_shipping_priority",  # 3-way join + top-k
    "tpch_q5_nation_revenue",   # join chain through dims
    "tpch_q6_forecast_revenue", # pushdown-selective scan
    "w1_dedup_latest",          # window dedup over the fact table
    "a8_pivot_counts",          # pivot cube
    "a9_pct_within_group",      # agg + analytic window
    "o2_o4_sort_page",          # total-order sort + pagination
    "events_tumbling_agg",      # event-time windows
    "events_sessionize",        # session windows
    "dedup_exact",              # hash dedup over documents
    "minhash_dedup_pairs",      # shingle → MinHash → LSH → verify
    "minhash_dedup_pairs_prod", # same plan at 128 perms / 16 bands
    "simhash_near_pairs",       # simhash + pair generation
    "ann_cosine_topk",          # embedding similarity
    "text_stats",               # token analytics
    "curation_pipeline",        # end-to-end curation flow
    "skew_salted_join",         # skewed fact join through the salted SMJ path
    "neardup_clusters",         # LSH pairs → iterative connected components
    "prep_pipeline",            # composed dedup→gate→split→pack prep run
    # appended r4 (additions only, never replacements — keeps the
    # cross-round comparable subset intact):
    "cross_corpus_neardup",     # banded join between two corpora
    "doc_chunks",               # narrow-map context-window chunking
    "semdedup_survivors",       # k-means-bounded semantic dedup
    "zorder_layout",            # Morton-key layout manifest
    "bpe_merges",               # iterative vocab learning on word table
    "dsir_weights",             # target-vs-raw importance scoring
    "referential_integrity",    # FK audit joins across the star schema
    "multimodal_frame_schedule",  # narrow-map media sampling schedule
    # ^^^ end of the r4-comparable subset (the 29 queries benched every
    # round since r4 — the cross-round regression yardstick)
    # appended r5:
    "semdedup_diverse",         # diversity keep policy, two-gear arrow
    "dup_ngram_rate",           # shingle document-frequency join
    "gopher_quality_flags",     # rule-table quality filter, narrow scan
    "stratified_sample_audit",  # hash-threshold mix thinning + audit
    "release_manifest",         # composed gate→dedup→mix→split chain
    "exact_substring_coverage",  # positional window-hash dup spans
    "ccnet_lm_buckets",         # bigram-LM + per-lang order-stat lerp
    "filter_funnel",            # composed curation ablation datasheet
    "fuzzy_part_match",         # blocked levenshtein record linkage
    "source_temperature_mix",   # α-smoothed mix, order-pinned fold
    "incremental_rollup_merge",  # mergeable partial aggregates
    "ewma_user_activity",       # per-key sequential smoothing fold
    "neardup_triangles",        # ordered two-join triangle census
    "benford_digit_audit",      # leading-digit distribution screen
    "pagerank_neardup",         # fixed-point iterative message passing
    "events_gapfill_locf",      # grid cross join + bounded LOCF window
    "cms_term_counts",          # Count-Min counter build + broadcast probe
    "hll_distinct_terms",       # HLL register build, m-row shuffle key space
    "bloom_join_prefilter",     # bloom bit build + broadcast fact probe
    "expectations_report",      # constraint suite in one fact scan
    "systematic_weighted_sample",  # blocked two-pass weighted cumsum
    "price_trend_by_priority",  # OLS from exact sufficient statistics
    "hll_set_algebra",          # register union/intersection algebra
    "bpe_roundtrip_audit",      # vocab-sized tokenizer integrity gate
    "histogram_quantile_sketch",  # 64-bin mergeable quantile sketch
    "event_cooccurrence_rules",  # per-user basket self-join, |types|² agg
    "discount_price_corr",      # exact-sufficient-stats correlation
    "winsorized_mean_by_status",  # percentile clip + decimal re-sum
    "pareto_frontier_docs",     # skyline via integer-axis running max
    "order_value_drift",        # chi-square drift, order-pinned fold
    "cramers_v_lang_source",    # contingency-table association
    "event_transition_matrix",  # per-user lead window + margins
    "survival_time_to_purchase",  # KM product over day-grained factors
    "item_item_copurchase",     # basket self-join recommender
    "event_volume_cusum",       # closed-form CUSUM, bounded windows
    "ann_mrr_eval",             # index-quality MRR, composed chains
    "quantile_normalized_quality",  # per-source rank calibration
    # appended r6:
    "streaming_cms_counters",   # streaming CMS landing + merge-at-read
    "token_budget_waterfill",   # closed-form mixture budget allocation
    "pmi_collocations",         # rational-PMI phrase mining, top-50
    "embedding_health_by_label",  # pre-ANN embedding QA table
    "epoch_repetition_schedule",  # epoch waterfill over repetition caps
    "wav_decode_roundtrip",     # real WAV decode via the Arrow seam
    "bmp_decode_roundtrip",     # real BMP decode via the Arrow seam
    "vocab_coverage_curve",     # Zipf top-k coverage datasheet
    "kmv_distinct_terms",       # two-level k-min distinct sketch
    "streaming_bloom_bits",     # streaming Bloom landing + OR-merge
    "heaps_vocab_growth",       # first-occurrence-rank decile curve
    "rrf_hybrid_retrieval",     # sparse+dense reciprocal-rank fusion
    "snm_part_pairs",           # sorted-neighborhood sliding window
    "contrastive_negative_samples",  # broadcast bucket-rep negatives
    # appended r7:
    "png_decode_roundtrip",     # zlib inflate + de-filter via Arrow seam
    "url_host_extract",         # parse_url + registrable-domain labels
    "domain_dedup_datasheet",   # hash-spread join + per-domain rollup
    "streaming_late_drop",      # 3-batch watermark lateness drain
    "cc_largestar_equivalence",  # star-contraction components
    "jpeg_header_probe",        # marker-segment walk via Arrow seam
    "streaming_kmv_minima",     # streaming min-selection merge algebra
    "gzip_text_roundtrip",      # DEFLATE wrap/unwrap via Arrow seam
    "training_order_manifest",  # seeded global shuffle, dense positions
    "bmp_resize_features",      # integer box-downsample via Arrow seam
    "jpeg_decode_roundtrip",    # real T.81 entropy decode via Arrow seam
    "mp4_box_probe",            # ISO-BMFF box walk via Arrow seam
    "mp3_frame_probe",          # MPEG-1 L3 frame walk via Arrow seam
    "exif_orientation_probe",   # TIFF/EXIF IFD walk via Arrow seam
    "wav_frame_energy",         # frame-level PCM features
    "webdataset_roundtrip",     # tar shard write + walk roundtrip
    "quality_linear_probe",     # exact normal-equation model training
    "curriculum_order_manifest",  # model-bucketed seeded global order
    "poisson_bootstrap_means",  # one-scan 64-replicate bootstrap
    "skipgram_pairs",           # windowed pair generation self-join
    "html_extract_text",        # codegen boilerplate stripping
    "web_curation_pipeline",    # WARC→extract→gate→dedup→datasheet
    # appended r8:
    "jpeg420_decode_roundtrip",  # subsampled-MCU T.81 decode via Arrow
    "psl_registrable_domain",   # full-PSL label logic, pure codegen
    "mp3_sideinfo_audit",       # side-info bit walk + reservoir model
    "loo_source_influence",     # per-source moments + LOO re-solves
    "priority_sample_docs",     # TakeOrderedAndProject weighted top-k
    "streaming_lww_snapshot",   # streaming keyed-argmax merge algebra
    "domain_cap_manifest",      # per-domain seeded quota windows
    "eval_panel_quota",         # Hamilton apportionment + panel pick
    "maxmatch_tokenize",        # greedy longest-match segmentation
    "jpeg_progressive_roundtrip",  # SOF2 multi-scan decode via Arrow
    "png_adam7_roundtrip",      # interlaced pass scatter via Arrow
    "gif_decode_roundtrip",     # real LZW decode via Arrow seam
    "g711_wav_roundtrip",       # G.711 expansion via Arrow seam
    "streaming_stateful_sessions",  # applyInPandasWithState drain
    "quality_stump_probe",      # depth-1 tree, exact prefix sums
    "avi_mjpeg_frame_sample",   # RIFF walk + sampled MJPEG decode
    "adpcm_wav_roundtrip",      # IMA step automaton via Arrow seam
    "tiff_decode_roundtrip",    # strip LZW + predictor via Arrow
    "robots_txt_gate",          # broadcast rules + max_by argmax
    "image_dhash_neardup",      # banded perceptual-hash pair join
    "blocklist_screen",         # Aho-Corasick narrow scan
    "dp_randomized_response",   # codegen coin + one agg
    "unicode_script_mix",       # codegen regex range counts
    "pq_quantization_codes",    # 4 subspace fits + argmin encode
    "pq_adc_topk",              # LUT-literal ADC scan + per-query topk
    "tfrecord_roundtrip",       # proto wire codec + CRC32C framing
    "avro_container_roundtrip", # zigzag OCF codec, schema-driven
    "avro_snappy_roundtrip",    # snappy blocks + CRC32 verification
    "longest_repeated_substring",  # suffix array + Kasai per doc
    "mp4_sample_table_probe",   # stbl expansion + offset readback
    "manifest_prune_audit",     # zone-map skip/scan accounting
    "confusable_skeleton",      # UTS39 homoglyph translate audit
    "streaming_static_enrich",  # stream-static broadcast join
    "arrow_ipc_roundtrip",      # Feather v2 shard interchange seam
    "png_palette_roundtrip",    # PLTE lookup after bpp=1 defilter
    "tiff_multipage_roundtrip", # chained-IFD page walk
    "webm_block_probe",         # EBML vint walk + block timestamps
    "h264_sps_probe",           # Annex-B walk + exp-Golomb SPS
    "crawl_token_bucket",       # per-domain rate-limit state machine
    "preference_cycle_audit",   # exact cyclic-triad tournament audit
    "annotator_kappa",          # integer-exact Cohen's kappa
    "media_curation_pipeline",  # AVI->decode->visual dedup datasheet
    "idn_label_roundtrip",      # RFC 3492 adaptive-bias codec
    "schema_evolution_audit",   # catalog diff + upcast classification
    "streaming_session_builtin",  # native session_window append drain
    "streaming_dedup_redelivery",  # dropDuplicatesWithinWatermark
    "streaming_attribution_join",  # stream-stream interval join
    "compaction_plan",          # next-fit manifest bin packing
    "gini_domain_concentration",  # exact integer rank-formula Gini
    "neardup_consensus",        # >=2-of-3 detector vote ensemble
    # appended late-r8:
    "kneser_ney_perplexity",    # KN continuation-backoff LM scoring
    "levenshtein_decontam",     # anchor+length-banded fuzzy decontam
    "length_matched_sample",    # histogram-matching hash thinning
    "sitemap_url_extract",      # urlset build + typed parse
    "phonetic_blocking",        # shared-Soundex ER blocking keys
    "jl_projection_audit",      # sign-projection distortion panel
    "bradley_terry_strengths",  # items^2 stats + MM fixed point
    "holt_winters_forecast",    # struct-state trend smoothing fold
    "flac_subframe_decode",     # Rice/fixed-predictor bit walk
    "zstd_frame_probe",         # RFC 8878 frame grammar roundtrip
    "elo_ratings",              # pooled online-Elo state machine
    "probe_auc_rank",           # exact Mann-Whitney AUC in integers
    "winnowing_fingerprints",   # MOSS rightmost-min window selection
    # appended r9:
    "zstd_compressed_roundtrip",  # FSE+Huffman Compressed_Block decode
    "h264_slice_header_walk",   # baseline PPS + slice-header exp-Golomb
    "warc_zst_extract",         # WARC-over-zstd composed carriage
    "av1_obu_probe",            # leb128 OBU walk + sequence header
    # appended r10:
    "zstd_dict_roundtrip",      # RFC 8878 §5 dictionary frames
    "h264_ipcm_roundtrip",      # lossless I_PCM slice-data decode
    "warc_datasource_roundtrip",  # data-source formats end-to-end
    # appended r11:
    "bm25_topk",                # Okapi BM25 posting join, ordered fold
    "streaming_warc_census",    # two-wave checkpointed warc stream
    "bitext_mining_pairs",      # LSH-bucketed margin bitext mining
    "clustering_agreement",     # exact-integer ARI + quantized NMI
    "interval_union_coverage",  # sweep-line prefix-max window
    "isotonic_calibration",     # PAVA minimax over bounded buckets
    "golden_record_merge",      # MDM survivorship windows
    "fellegi_sunter_weights",   # blocked linkage m/u estimation
    "series_ohlc_downsample",   # one-agg chart decimation
    "bz2_multistream_extract",  # bz2 multistream census
    "xz_dump_extract",          # liblzma decode + index census
    "wikipedia_dump_pipeline",  # XML-in-bz2 ingest, JVM-side parse
    "mojibake_repair_audit",    # JVM charset-chain repair
    "ip_range_lookup_join",     # bucket-decomposed banded-dim BHJ
    "deflate_dynamic_roundtrip",  # stdlib gzip member roundtrip
    "lake_time_travel",         # commit-log snapshot replay
    "event_pattern_match",      # regex funnel over event strings
    "streaming_scd2_upsert",    # foreachBatch merge into state
    "lz4_frame_roundtrip",      # from-scratch LZ4 frame + xxHash32
    "zip_archive_extract",      # ZIP container, stdlib both ways
    "parquet_footer_stats",     # thrift footer parse vs data rescan
    "rowgroup_pruning_scan",    # footer-stat pruning end-to-end
    "sqlite_table_scan",        # SQLite b-tree file decode
    "string_distance_suite",    # 4 edit distances vs DuckDB's four
    "geo_nearest_city",         # haversine + bbox prefilter census
    "funnel_attribution",       # RANGE-frame first/last touch
    "kaplan_meier_conversion",  # survival curve, ordered float fold
    "gini_concentration",       # exact-cents Lorenz/Gini
    "git_packfile_scan",        # git-written packs, our delta decode
    "scratch_hash_audit",       # from-scratch MD5/SHA-1/SHA-256
    "zipf_heaps_fit",           # corpus-law OLS, micro-int moments
    "misra_gries_heavy_hitters",  # deterministic mergeable sketch
    "aes_gcm_envelope_roundtrip",  # from-scratch AES-GCM seal/open
    "soundex_blocking_census",  # phonetic blocking, pure codegen
    "streaming_zip_census",     # checkpointed zip landing stream
    "arrow_ipc_scratch_read",   # raw-flatbuffers Arrow IPC decode
    "spearman_rank_corr",       # tie-safe integer-exact rank corr
]

#: Size of the r4-comparable prefix of HEADLINE (everything up to and
#: including multimodal_frame_schedule) — the subset printed inline for
#: cross-round comparison.
N_R4_COMPARABLE = HEADLINE.index("multimodal_frame_schedule") + 1

#: Queries whose first warm wall exceeds this run two extra trials and
#: publish the median (see module docstring, "Timing scheme (r11)").
MEDIAN3_THRESHOLD_SEC = 1.0


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)
    spark = get_spark(app_name="bench")
    qs = queries()

    # Warm-up: force session init, parquet footer reads, codegen of one job.
    load_tables(spark, sf_dir)["nation"].count()

    times: dict[str, float] = {}
    construct: dict[str, float] = {}
    trials: dict[str, list[float]] = {}
    for name in HEADLINE:
        # Construction is timed separately: iterative operators
        # (connected components) run their convergence loop EAGERLY while
        # the DataFrame is being built and checkpoint the result, so for
        # their consumers the `queries` number below measures the
        # downstream plan only — `construct` carries the loop. Purely
        # lazy queries construct in ~0s. (Additive field; the per-round
        # `queries` map keeps its longstanding warm-execution meaning.)
        t0 = time.perf_counter()
        df = qs[name](spark, sf_dir)
        construct[name] = round(time.perf_counter() - t0, 3)
        df.write.format("noop").mode("overwrite").save()  # warm-up (untimed)
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        first = time.perf_counter() - t0
        if first > MEDIAN3_THRESHOLD_SEC:
            runs = [first]
            for _ in range(2):
                t0 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                runs.append(time.perf_counter() - t0)
            times[name] = round(statistics.median(runs), 3)
            trials[name] = [round(r, 3) for r in runs]
        else:
            times[name] = round(first, 3)
        # Release per-query persists (e.g. the LSH shingle cache) so one
        # query's cache never occupies executor storage for the next.
        spark.catalog.clearCache()

    total = round(sum(times.values()), 3)
    construct_total = round(sum(construct.values()), 3)

    # Full per-query maps → file (too big for the driver's stdout capture).
    # r12: ALSO written per core-count (BENCH_DETAIL_c{N}.json) so the
    # 8-core scaling run can never silently overwrite the 32-core
    # close-out detail in the working tree (VERDICT r11 item 9).
    detail = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": times,
        "construct": construct,
        "construct_total": construct_total,
        "trials": trials,
        "timing_scheme": "fixed HEADLINE order; median-of-3 for "
                         f"queries >{MEDIAN3_THRESHOLD_SEC}s",
        "sf": sf,
        "cpus": local_cpus(),
    }
    here = os.path.dirname(os.path.abspath(__file__))
    for name in ("BENCH_DETAIL.json",
                 f"BENCH_DETAIL_c{detail['cpus']}.json"):
        with open(os.path.join(here, name), "w") as fh:
            json.dump(detail, fh, indent=1)

    # Optional sf1 probe tier (VERDICT r11 item 5): the sf0.1 wall of
    # the >1 s queries is exchange-floor-bound (8 cores beats 32 on the
    # full suite), so core-scaling there is uninterpretable. When
    # $SPARK_GRAFT_SF1_DIR points at a generated sf1 fixture dir, the
    # top-15 exec walls of THIS run are re-timed there (same noop-sink
    # methodology, single timed execution after one warm-up) into
    # BENCH_SF1.json. The headline contract above is unchanged.
    sf1_dir = os.environ.get("SPARK_GRAFT_SF1_DIR", "")
    if sf1_dir and os.path.isdir(sf1_dir):
        top15 = [q for q, _ in
                 sorted(times.items(), key=lambda kv: -kv[1])[:15]]
        sf1_times: dict[str, float] = {}
        for name in top15:
            try:
                df = qs[name](spark, sf1_dir)
                df.write.format("noop").mode("overwrite").save()
                t0 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                sf1_times[name] = round(time.perf_counter() - t0, 3)
            except Exception as e:          # a probe failure never
                sf1_times[name] = -1.0      # breaks the headline bench
                print(f"sf1 probe {name} failed: {e}", file=sys.stderr)
            spark.catalog.clearCache()
        with open(os.path.join(here, "BENCH_SF1.json"), "w") as fh:
            json.dump({"sf1_dir": sf1_dir, "queries": sf1_times,
                       "cpus": detail["cpus"],
                       "note": "top-15 exec walls of the headline run, "
                               "re-timed at sf1; -1 = probe failed"},
                      fh, indent=1)

    # ONE compact line for the driver: totals, the r4-comparable subset
    # (cross-round yardstick), and the 10 heaviest exec walls.
    comparable = HEADLINE[:N_R4_COMPARABLE]
    top10 = dict(sorted(times.items(), key=lambda kv: -kv[1])[:10])
    print(json.dumps({
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "n_queries": len(HEADLINE),
        "construct_total": construct_total,
        "r4_subset_total": round(sum(times[q] for q in comparable), 3),
        "queries": {q: times[q] for q in comparable},
        "top10_exec": top10,
        "timing": f"median3>{MEDIAN3_THRESHOLD_SEC}s",
        "detail": "BENCH_DETAIL.json",
    }, separators=(",", ":")))


if __name__ == "__main__":
    main()
