"""Headline benchmark: one JSON line on stdout.

Usage: SPARK_GRAFT_SF_DIR=<testdata>/sf0.1 python bench.py

Times the HEADLINE entries at $SPARK_GRAFT_SF_DIR (default: the sf0.1
test data) on local[$SPARK_GRAFT_CPUS]. Each entry is forced
end to end with a noop write: every row is computed and none is
collected.

One untimed warm pass over the sibling sf0.001 directory absorbs JIT and
codegen for every plan shape. Then whole rounds run over every HEADLINE
entry, each round in an order shuffled from a fixed seed, until the next
round would end past BUDGET_S from process start. One round always runs.

`value` is the sum of the per-entry minimums and `value_core` the same sum
over the frozen CORE_32 set; HEADLINE grows, CORE_32 never does, so only
`value_core` compares across rounds. Stdout carries only
CONTRACT_LINE_FIELDS. The full result goes to BENCH_LATEST.json: per-entry
minimum (`queries`), `median` and `pass_counts`, `errors` for entries that
raised or timed out (left out of `queries`), the round `seeds`, and the
host's steal share over the timed window. Stolen time inflates wall time,
so read a slow `value` next to `steal_share`.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)

from numalogic_prometheus_spark import plans  # noqa: E402
from numalogic_prometheus_spark.session import get_session  # noqa: E402
from perfbench.run import host_cpu_ticks, steal_share  # noqa: E402

# Wall budget from process start. The caller's timeout (600 s) prints
# nothing if it fires, so rounds stop well short of it.
BUDGET_S = 420.0
# Wall ceiling of one entry run; on expiry its jobs are cancelled.
ENTRY_CEIL_S = 120.0
# Seed of round i is ROUND_SEED + i.
ROUND_SEED = 0

# Headline set: one per operator family (SURVEY.md §2C).
HEADLINE = [
    "counter_hourly",             # discipline agg scan
    "gauge_latest_per_user",      # max_by agg
    "summary_by_type",            # exact percentiles
    "histogram_cumulative",       # conditional bucket agg
    "info_latest_per_user",       # window rank
    "agg_pricing_summary",        # TPC-H Q1 analog
    "join_fact_fact_revenue",     # shuffle fact-fact join
    "join_broadcast_enrich",      # broadcast dim join
    "join_asof_last_error",       # as-of (union+window)
    "win_topk_per_group",         # per-group top-k
    "agg_window_vectors",         # B2 window assembly
    "promql_histogram_quantile_p90",  # bucket interpolation
    "ml_ensemble_unified",        # scaler+ensemble+unified expressions
    "dedup_shingle_minhash_pairs",    # MinHash LSH near-dup
    "vec_ann_signbucket_topk",    # LSH-bucketed ANN (fixture config)
    "vec_ann_multiband_topk",     # OR-of-bands ANN (scale config)
    "text_stats",                 # map-only text analysis
    "pipeline_anomaly_scores",    # composed B2-B10 anomaly pipeline
    "tpch_q5_region_volume",      # six-table join under AQE
    "tpch_q18_large_volume_customers",  # HAVING-driven semi join
    "vec_ivf_topk",               # IVF coarse-quantizer ANN
    "ts_step_resample",           # join-free grid alignment
    "text_ngram_jaccard_pairs",   # exact n-gram Jaccard (blocked)
    "tpch_q8_market_share",       # widest star join (7 tables)
    "tpch_q21_sole_late_supplier",    # semi+anti join on one key
    "promql_vector_share_group_left", # PromQL vector matching
    "promql_avg_over_time",       # sliding range frame per series
    "rollup_daily_from_hourly",   # two-level re-aggregation
    "vec_ann_tuned_topk",         # recall-tuned LSH config
    "vec_int8_quantized_topk",    # compressed-scan candidates + re-rank
    "dedup_substring_spans",      # span-run dedup (single-explode)
    "text_contamination_eval_overlap",  # broadcast eval-leak check
    "ts_ewma_irregular",          # segmented-scan linear recurrence
    "ts_holt_winters_level_trend",    # segmented 2-D recurrence
    "promql_rate_extrapolated",   # Prometheus-exact rate extrapolation
    "promql_alert_firing",        # for-duration alert rule evaluation
    "dedup_incremental_batch",    # new-batch dedup vs broadcast index
    "promql_mad_over_time",       # nested median over per-bucket arrays
    "profile_column_stats",       # one-scan multi-distinct column profile
    "sample_split_by_cluster",    # leakage-safe split over BSP components
    "promql_quantile_over_time_sliding",  # grouped-bucket order statistics
    "vec_ann_filtered_topk",      # metadata-filtered similarity search
    "vec_ivf_filtered_topk",      # filter×IVF composed retrieval (r9)
    "sample_split_snapshot_fed",  # snapshot-write + marker-gated read (r9)
    "layout_zorder_files",        # Morton clustering census (r9)
    "layout_compaction_bins",     # running-sum compaction plan (r9)
    "profile_key_skew",           # pre-shuffle heavy-hitter top-k (r9)
    "promql_histogram_fraction",  # bucket-CDF interpolation (r9)
    "promql_mad_sliding_dense",   # Arrow window-matrix kernel (r9)
    "vec_ann_incremental_batch",  # new-batch ANN vs IVF corpus index (r9)
    "promql_at_modifier",         # @-pinned instant vector, one scan (r9)
    "ts_level_shift_detect",      # prefix-sum changepoint rewrite (r9)
    "promql_double_exponential_smoothing",  # JVM aggregate-fold recurrence (r9)
    "promql_native_histogram_buckets",      # codegen array-filter buckets (r9)
    "promql_native_histogram_stddev",       # exact-integer moment stats (r9)
    "text_chunk_overlap",                   # map-side chunk explode (r9)
    "promql_native_histogram_rate",         # bucket-wise reset-corrected rate (r10)
    "promql_native_histogram_rate_quantile",  # quantile-of-rate composition (r10)
    "vec_ivf_int8_topk",                    # IVF-PQ-lite composed retrieval (r10)
    "text_chunk_contamination",             # chunk-hash eval-leak join (r10)
    # every entry whose spark-side steady state exceeds ~2 s at sf0.1;
    # sweep-log outliers below that are in HEADLINE_EXCLUDED
    "dedup_cluster_components",   # BSP pointer-doubling fixpoint (most expensive entry)
    "join_interval_overlap",      # raw interval-overlap theta join
    "promql_quantile_sliding_dense",  # dense sliding order statistics
    "dedup_semantic_survivors",   # embedding components + survivor join
    "pipeline_curation_verdicts", # composed curation funnel
    "dedup_simhash_pairs",        # simhash hamming-ball pairing
    "dedup_minhash_lsh_pairs",    # banded minhash pair generation
    "agg_approx_distinct",        # KMV-oracle approx distinct
    "text_semantic_contamination",  # IVF-probed train-vs-eval paraphrase flag (r11)
    "promql_native_histogram_fraction_rate",  # SLO burn fraction-of-rate (r11, queued r12)
    "promql_burn_rate_multiwindow",  # SRE multiwindow burn-rate alert (r11, queued r12)
    "vec_pq_subvector_topk",         # PQ m=4 candidates + exact re-rank (r11, queued r12)
    "vec_matryoshka_prefix_topk",    # MRL prefix-scan candidates (r11, queued r12)
    "promql_native_histogram_rate_quantile_agg",  # fleet sum-then-quantile (r11, queued r12)
    "multimodal_audio_wav_features",  # real WAV codec round-trip (r11, queued r12)
    "multimodal_audio_frame_energy",  # frame-grain decode expansion (r11, queued r12)
    "multimodal_image_png_features",  # real PNG codec round-trip (r12)
    "multimodal_image_row_stats",     # scanline-grain decode expansion (r12)
    "multimodal_video_apng_frames",   # real APNG frame demux (r12)
    "multimodal_image_gif_features",  # real GIF/LZW palette decode (r13)
    "multimodal_image_jpeg_coefficients",  # real JFIF entropy decode (r13)
    "multimodal_video_avi_mjpeg_frames",  # real RIFF/MJPEG demux (late r13)
    "dedup_cdc_chunk_pairs",          # CDC chunk pairing (oracle-backed r12)
    "multimodal_decode_features",     # unified real-codec dispatch (r14)
    "multimodal_frame_sample",        # sampled real-container demux (r14)
    "multimodal_image_resize_features",  # real NN resize over decode (late r14)
    "quality_repetition_stats",       # windowed n-gram repetition (2.2 s spark-side, r14)
]

# Entries whose committed sf0.1 sweep line exceeds 2 s but which are not
# timed here, each with its reason. tests/test_bench_contract.py checks
# that HEADLINE plus this dict covers every such line, so a new expensive
# registration cannot skip the bench.
_SWEEP_DOMINATED = (
    "spark-side steady-state <2 s at sf0.1 (measured r11); the sweep "
    "line also times the DuckDB oracle + full-result hash compare"
)
_STREAM_HARNESS = (
    "streaming entry: sweep/bench wall time is micro-batch trigger and "
    "driver overhead, not plan cost; the micro-batch plans reuse batch "
    "operators that ARE benched, and streaming correctness has native "
    "tests"
)
HEADLINE_EXCLUDED = {
    "stream_counter_rate": _STREAM_HARNESS,
    "stream_stream_join": _STREAM_HARNESS,
    "stream_static_join": _STREAM_HARNESS,
    "stream_sliding_counts": _STREAM_HARNESS,
    "stream_session_windows": _STREAM_HARNESS,
    "stream_tumbling_counts": _STREAM_HARNESS,
    "stream_topk_event_types": _STREAM_HARNESS,
    "stream_native_histogram_rate": _STREAM_HARNESS,
    "stream_burn_rate_alert": _STREAM_HARNESS,
    "stream_semantic_contamination": _STREAM_HARNESS,
    "scalar_datetime_funcs": _SWEEP_DOMINATED,
    "join_interval_bucketed": _SWEEP_DOMINATED,
    # spark-side min-of-3 1.10 s; the 4-table correlated-min oracle
    # dominates the sweep line
    "tpch_q2_min_cost_supplier": _SWEEP_DOMINATED,
    "filter_predicates": _SWEEP_DOMINATED,
    "ts_sessionize_gap": _SWEEP_DOMINATED,
    "ml_static_threshold": _SWEEP_DOMINATED,
    "promql_stdvar_over_time": _SWEEP_DOMINATED,
    "ml_quantile_threshold": _SWEEP_DOMINATED,
    "promql_last_over_time": _SWEEP_DOMINATED,
    "scd2_state_history": _SWEEP_DOMINATED,
    "join_full_outer_keys": _SWEEP_DOMINATED,
    "ml_minmax_scaled": _SWEEP_DOMINATED,
    "promql_max_over_time": _SWEEP_DOMINATED,
    "scd2_event_type_intervals": _SWEEP_DOMINATED,
    "ml_tanh_scaled": _SWEEP_DOMINATED,
    "ml_zscore_scaled": _SWEEP_DOMINATED,
    "promql_stddev_over_time": _SWEEP_DOMINATED,
    "win_lag_rate_reset": _SWEEP_DOMINATED,
    "promql_min_over_time": _SWEEP_DOMINATED,
    "win_sliding_range_1h": _SWEEP_DOMINATED,
    "promql_count_over_time": _SWEEP_DOMINATED,
    "ml_seasonal_zscore": _SWEEP_DOMINATED,
    "promql_sum_over_time": _SWEEP_DOMINATED,
    "scalar_nan_inf_clean": _SWEEP_DOMINATED,
    "udf_scalar_pandas_tanh": _SWEEP_DOMINATED,
    "dedup_minhash_signatures": _SWEEP_DOMINATED,
    "join_band_value_tiers": _SWEEP_DOMINATED,
    "promql_subquery_max_rate": _SWEEP_DOMINATED,
    "text_tfidf_topterms": _SWEEP_DOMINATED,
    "project_computed": _SWEEP_DOMINATED,
    "promql_math_functions": _SWEEP_DOMINATED,
    "join_salted_skew": _SWEEP_DOMINATED,
    "promql_info_enrich": _SWEEP_DOMINATED,
    "agg_hll_mergeable_daily": _SWEEP_DOMINATED,
    "scalar_string_funcs": _SWEEP_DOMINATED,
    # spark-side min-of-3 1.75 s; the oracle's token self-join dominates
    "text_bigram_lm_score": _SWEEP_DOMINATED,
    # spark-side min-of-3 0.30-1.30 s
    "agg_unpivot_part_attrs": _SWEEP_DOMINATED,
    "exposition_all_families": _SWEEP_DOMINATED,
    "promql_ts_of_over_time": _SWEEP_DOMINATED,
    "ts_linear_interpolate": _SWEEP_DOMINATED,
    "win_first_last_nth": _SWEEP_DOMINATED,
    "win_rank_variants": _SWEEP_DOMINATED,
    # spark-side min-of-3 1.90 s; the 16.7 s sweep line is the DuckDB
    # minmax twin and the hash compare
    "mllib_minmax_scaler": _SWEEP_DOMINATED,
    # spark-side min-of-3 0.36-1.97 s on a contended window, an upper
    # bound (EXCLUDED_AUDIT_r17.json)
    "profile_drift_halves": _SWEEP_DOMINATED,
    "promql_comparison_bool": _SWEEP_DOMINATED,
    "promql_increase_total": _SWEEP_DOMINATED,
    "promql_resets_changes": _SWEEP_DOMINATED,
    "promql_scalar_binop": _SWEEP_DOMINATED,
    "promql_sort_by_label": _SWEEP_DOMINATED,
    "subquery_scalar_above_avg": _SWEEP_DOMINATED,
    "text_bm25_topk": _SWEEP_DOMINATED,
    "text_boilerplate_segments": _SWEEP_DOMINATED,
    "text_quality_by_source": _SWEEP_DOMINATED,
    "text_simhash_signatures": _SWEEP_DOMINATED,
    "tpch_q9_product_profit": _SWEEP_DOMINATED,
    # spark-side min-of-3 0.34-1.18 s on a contended window, an upper
    # bound (EXCLUDED_AUDIT_r17b.json)
    "dedup_exact_survivors": _SWEEP_DOMINATED,
    "pipeline_text_cleaning": _SWEEP_DOMINATED,
    "promql_native_histogram_quantile": _SWEEP_DOMINATED,
    "quality_gopher_verdict": _SWEEP_DOMINATED,
    "registry_latest_artifact": _SWEEP_DOMINATED,
    "rollup_quantile_sketch_daily": _SWEEP_DOMINATED,
    "subquery_correlated_max_per_cust": _SWEEP_DOMINATED,
    "tpch_q12_late_shipment_priority": _SWEEP_DOMINATED,
    "vec_cosine_topk": _SWEEP_DOMINATED,
}

# Frozen cross-round core set: exactly the 32 entries of BENCH_r04.json.
# Membership never changes, so `value_core` compares across rounds while
# HEADLINE grows; new entries go to HEADLINE only.
CORE_32 = (
    "agg_pricing_summary", "agg_window_vectors", "counter_hourly",
    "dedup_shingle_minhash_pairs", "dedup_substring_spans",
    "gauge_latest_per_user", "histogram_cumulative", "info_latest_per_user",
    "join_asof_last_error", "join_broadcast_enrich", "join_fact_fact_revenue",
    "ml_ensemble_unified", "pipeline_anomaly_scores", "promql_avg_over_time",
    "promql_histogram_quantile_p90", "promql_vector_share_group_left",
    "rollup_daily_from_hourly", "summary_by_type",
    "text_contamination_eval_overlap", "text_ngram_jaccard_pairs",
    "text_stats", "tpch_q18_large_volume_customers",
    "tpch_q21_sole_late_supplier", "tpch_q5_region_volume",
    "tpch_q8_market_share", "ts_step_resample", "vec_ann_multiband_topk",
    "vec_ann_signbucket_topk", "vec_ann_tuned_topk",
    "vec_int8_quantized_topk", "vec_ivf_topk", "win_topk_per_group",
)

# The printed stdout line: only these fields. The full result lives in
# BENCH_LATEST.json; a reader of a bounded stdout tail must never get a
# truncated line (tests/test_bench_contract.py pins the set and a size
# ceiling).
CONTRACT_LINE_FIELDS = (
    "metric", "value", "unit", "queries", "sf", "value_core", "artifact",
)


def contract_line(out: dict) -> str:
    """The one printed stdout line: the CONTRACT_LINE_FIELDS of `out`."""
    printed = {k: out[k] for k in CONTRACT_LINE_FIELDS if k in out}
    return json.dumps(printed, separators=(",", ":"))


def _timed_save(spark, df_fn, limit_s: float) -> tuple[float | None, str]:
    """Run ``df_fn().write.format("noop").save()`` in a thread with a wall
    ceiling. Returns (seconds, "") on success and (None, reason) on an
    error or timeout. On timeout the Spark jobs are cancelled so the
    session stays usable for the next entry."""
    result: dict = {}

    def _run():
        try:
            df_fn().write.mode("overwrite").format("noop").save()
        except Exception as exc:  # noqa: BLE001
            result["err"] = f"{type(exc).__name__}: {exc}"[:500]

    t0 = time.perf_counter()
    th = threading.Thread(target=_run, daemon=True)
    th.start()
    th.join(limit_s)
    if th.is_alive():
        spark.sparkContext.cancelAllJobs()
        th.join(30)
        return None, f"exceeded {limit_s:.0f}s (jobs cancelled)"
    if "err" in result:
        return None, result["err"]
    return time.perf_counter() - t0, ""


def run_rounds(spark, queries: dict, sf_dir: str, deadline: float) -> dict:
    """Time every entry of `queries` ({name: fn(spark, sf_dir)}) in whole
    shuffled rounds until the next round would end after `deadline` (a
    ``time.perf_counter()`` value); one round always runs. An entry that
    raises or times out once goes to `errors`, is not run again and is
    left out of `queries`. Cached tables are cleared before each entry,
    so self-pinning entries pay their pins every time, and py4j
    references are collected after it (session.py)."""
    samples: dict[str, list[float]] = {n: [] for n in queries}
    errors: dict[str, str] = {}
    seeds: list[int] = []
    t_start, ticks0 = time.perf_counter(), host_cpu_ticks()
    while True:
        t_round = time.perf_counter()
        seeds.append(ROUND_SEED + len(seeds))
        order = sorted(queries)
        random.Random(seeds[-1]).shuffle(order)
        for name in order:
            if name in errors:
                continue
            spark.catalog.clearCache()
            took, err = _timed_save(
                spark, lambda: queries[name](spark, sf_dir), ENTRY_CEIL_S
            )
            gc.collect()
            if took is None:
                errors[name] = err
            else:
                samples[name].append(took)
        now = time.perf_counter()
        if now + (now - t_round) > deadline:
            break
    steal = steal_share(ticks0, host_cpu_ticks())
    timed = {n: s for n, s in samples.items() if n not in errors}
    mins = {n: round(min(s), 4) for n, s in timed.items()}
    core = [n for n in CORE_32 if n in mins]
    return {
        "value": round(sum(mins.values()), 4),
        "value_core": round(sum(mins[n] for n in core), 4),
        "core_set": f"{len(core)}/{len(CORE_32)}",
        "queries": mins,
        "median": {n: round(statistics.median(s), 4) for n, s in timed.items()},
        "pass_counts": {n: len(s) for n, s in samples.items()},
        "errors": errors,
        "seeds": seeds,
        "timed_s": round(time.perf_counter() - t_start, 2),
        "steal_share": round(steal, 4),
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf_dir = sf_dir.rstrip("/")
    sf = sf_dir.rsplit("sf", 1)[-1]
    # 12g, not more: a 64g heap on a small VM stalled whole runs in GC.
    os.environ.setdefault("SPARK_DRIVER_MEM", "12g")
    spark = get_session(app_name="bench")
    registry = plans.all_queries()
    queries = {n: registry[n] for n in HEADLINE}

    t_warm = time.perf_counter()
    warm_dir = os.path.join(os.path.dirname(sf_dir), "sf0.001")
    if os.path.isdir(warm_dir) and warm_dir != sf_dir:
        for fn in queries.values():
            # errors and timeouts surface in the timed rounds
            _timed_save(spark, lambda: fn(spark, warm_dir), ENTRY_CEIL_S)
            gc.collect()
    warmup_s = round(time.perf_counter() - t_warm, 2)

    out = {
        "metric": "headline_queries_total",
        "unit": "sec",
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "budget_s": BUDGET_S,
        "warmup_s": warmup_s,
        **run_rounds(spark, queries, sf_dir, T0 + BUDGET_S),
        "artifact": "BENCH_LATEST.json",
    }
    try:
        with open(os.path.join(ROOT, "BENCH_LATEST.json"), "w") as fh:
            json.dump(out, fh, indent=1, sort_keys=True)
            fh.write("\n")
    except OSError:
        pass  # read-only checkout: the printed line is still complete
    print(contract_line(out))


if __name__ == "__main__":
    main()
