"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS]; prints one JSON line PER QUERY
followed by the ONE headline JSON line (the headline line is last, so
tail-window consumers keep parsing exactly what they always did).

    python bench.py               # the HEADLINE queries
    python bench.py QUERY ...     # only the named queries (scripts/ab.py)

Each query is built from the same registry the driver's correctness gate
uses, timed end-to-end (plan + execute + collect). The metric is total
wall seconds across the headline set; per-query medians/mins/raw runs
are printed as individual ``{"query": ...}`` lines (round 10, VERDICT
r9 #1 — so the driver can compute per-query round-over-round deltas
itself) and also land in BENCH_DETAIL.json. A fixed-work calibration
unit runs INTERLEAVED between every ~15-query group (not just at the
endpoints), and each query's record carries the median of its
bracketing samples — a mid-run host stall is now visible in the very
records it distorts instead of being missed by endpoint-only sampling.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

# Queries that exercise the distinct physical shapes: broadcast join + agg,
# scan-heavy 8-agg group-by, two-level window, JSON conform + validate,
# top-k window, plus (as the registry grows) dedup/similarity/text passes.
# New entries go at the end: the first 20 are round 1's set, which
# r01_comparable_total sums.
HEADLINE = [
    "q_flagship_hotspot",
    "q_pricing_summary",
    "q_conform_validate",
    "q_breadcrumb_conform",
    "q_sessionize",
    "q_window_hourly",
    "q_asof_prev_purchase",
    "q_top3_orders_per_customer",
    "q_enrich_merge",
    "q_dedup_exact",
    "q_dedup_minhash_lsh",
    "q_ann_topk",
    "q_ann_ivf_topk",
    "q_text_quality",
    "q_corpus_prep",
    "q_skew_salted_join",
    "q_dedup_clusters",
    "q_corpus_prep_neardup",
    "q_vocab_topk",
    "q_pack_sequences",
    "q_ann_neardup_lsh",
    "q_decontaminate",
    "q_chunk_documents",
    "q_label_centroids",
    "q_boilerplate_scrub",
    "q_ann_topk_int8",
    "q_shipping_priority",
    "q_lm_score",
    "q_ann_pq_search",
    "q_incremental_agg",
    "q_hotspot_grid",
    "q_quantize_embeddings",
    "q_kernel_smooth",
    "q_ann_mrl_topk",
    "q_waiting_orders",
    "q_knn_label",
    "q_rolling_actives",
    "q_incremental_neardup",
    "q_ann_ivfpq_search",
    "q_scd2_history",
    "q_moving_average_24h",
    "q_temperature_sample",
    "q_volume_shipping",
    "q_retrieval_metrics",
    "q_ann_ivf_search",
    "q_bm25_rank",
    "q_table_diff",
    "q_bm25_rank_pruned",
    "q_bloom_prefilter_join",
    "q_phrase_search",
    "q_pagerank",
    "q_triangle_count",
    "q_cms_heavy_hitters",
    "q_hits",
    "q_label_prop",
    "q_skyline_orders",
    "q_mmr_rerank",
    "q_kcore",
    "q_event_transitions",
    "q_sorted_neighborhood",
    "q_region_trend",
    "q_dedup_prefix_filter",
    "q_benford_audit",
    "q_seasonal_index",
    "q_sssp_weighted",
    "q_corr_matrix",
    "q_degree_assortativity",
    "q_assoc_rules",
    "q_cusum_changepoint",
    "q_image_ahash_neardup",
    "q_trimmed_mean",
    "q_attribution",
    "q_pca_project",
    "q_zipf_fit",
    "q_autocorr_daily",
    "q_theilsen_trend",
    "q_user_entropy",
    "q_session_ngrams",
    "q_chi2_independence",
    "q_rfm_segments",
    "q_ks_test",
    "q_large_orders",
    "q_top_supplier_share",
    "q_clustering_coeff",
    "q_repeated_ngrams",
    "q_dup_span_fraction",
    "q_dedup_span_cut",
    "q_yoy_growth",
    "q_modal_priority",
    "q_interarrival_stats",
    "q_mann_whitney",
    "q_cramers_v",
    "q_conversion_latency",
    "q_cdc_chunks",
    "q_linkage_score",
    "q_quantile_norm",
    "q_lorenz_curve",
    "q_bpe_token_counts",
    "q_forecast_revenue",
    "q_market_share",
    "q_product_profit",
    "q_returned_revenue",
    "q_variant_props",
    "q_quality_deciles",
    "q_global_shuffle_shards",
    "q_lm_mix_weights",
    "q_feature_hashing",
    "q_lm_heldout",
    "q_source_jsd",
    "q_semantic_dedup",
    "q_incremental_semantic_dedup",
    "q_survival_curve",
    "q_incremental_cdc",
    "q_dataset_card",
    "q_lm_score_kn",
    "q_lsh_quality",
    "q_dsir_weights",
    "q_dsir_resample",
    "q_length_bucket_padding",
    "q_audio_dsp",
    "q_late_shipment_priority",
    "q_dominant_supplier",
    "q_ccnet_buckets",
    "q_quality_classifier",
    "q_classifier_filter",
    "q_dp_counts",
    "q_dedup_lines",
    "q_image_phash_neardup",
    "q_tokenizer_fertility",
    "q_audio_mfcc",
    "q_kanon_audit",
    "q_hll_vocab_union",
    "q_ltv_recursive",
    "q_hard_negatives",
    "q_hard_negatives_lsh",
    "q_source_overlap",
    "q_ltv_fold",
    "q_video_mjpeg_features",
    "q_frame_sample_mjpeg",
    "q_audio_features_adpcm",
    "q_pair_curation_crossmodal",
    "q_incremental_image_neardup",
    "q_crossmodal_clusters",
    "q_corpus_prep_crossmodal",
    "q_ann_ivfpq_append",
]

# Timed runs per query, calibration runs before the first query, and
# queries per interleaved calibration group (see main).
REPS = 3
CAL_REPS = 3
CAL_GROUP = 15


def _warm_page_cache(sf_dir: str) -> None:
    """Read every fixture parquet byte-for-byte BEFORE rep 1 so OS
    page-cache state stops dominating cross-boot comparisons (VERDICT r7
    #1c). A Spark ``count()`` would NOT do this — parquet count-star is
    answered from row-group metadata without touching data pages. The
    whole sf0.1 fixture is ~17 MB, so this costs tens of milliseconds."""
    for p in sorted(Path(sf_dir).glob("*.parquet")):
        with open(p, "rb") as fh:
            while fh.read(1 << 20):
                pass


def _calibration_run(spark) -> float:
    """One FIXED-WORK, data-independent unit: md5 + modular-hash key over
    3M generated rows → shuffle → hash aggregate → scalar. Exercises the
    same machinery the queries pay for (codegen, exchange, agg) with
    ZERO file I/O, so its time tracks the host's momentary speed
    (thermal state, co-tenants, JVM luck) and nothing else. Per-query
    times divided by the run's calibration median become comparable
    across boots — the mechanical noise-adjudication VERDICT r7 asked
    for (scripts/bench_compare.py consumes it)."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    (
        spark.range(0, 3_000_000, 1, 32)
        .select(
            (F.col("id") * F.lit(2654435761) % F.lit(1000003)).alias("k"),
            F.md5(F.col("id").cast("string")).alias("h"),
        )
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.max("h").alias("mh"))
        .agg(F.sum("n").alias("rows"), F.max("mh").alias("fingerprint"))
        .collect()
    )
    return time.perf_counter() - t0


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("queries", nargs="*", help="registered query names (default: HEADLINE)")
    args = ap.parse_args(argv)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf") or "0.1")

    from c_tran_data_pipeline_spark.plans import all_queries
    from c_tran_data_pipeline_spark.session import get_spark

    registry = all_queries()
    names = args.queries or HEADLINE
    unknown = [n for n in names if n not in registry]
    if unknown:
        ap.error(f"unknown queries: {' '.join(unknown)}")
    spark = get_spark("bench")

    # Warm the JVM/catalog once so per-query numbers measure the queries,
    # not session bring-up; then fault in every fixture page so rep 1 of
    # query 1 isn't the only one paying cold-file cost.
    registry["q_summaries"].builder(spark, sf_dir).collect()
    _warm_page_cache(sf_dir)

    # Calibration: one untimed JIT warm-up, then CAL_REPS timed runs.
    _calibration_run(spark)
    calibration_runs = [round(_calibration_run(spark), 3) for _ in range(CAL_REPS)]
    calibration = round(statistics.median(calibration_runs), 3)

    # Median-of-REPS per query: measured cross-boot noise on this host is
    # up to 2× on unchanged code (VERIFICATION.md r02 33.5→70→44 s), so a
    # single-shot number cannot be compared round over round. The median
    # absorbs one bad run; the min is kept as the "machine-best" figure.
    # One UNTIMED warm-up run per query pays any build-once cost (e.g. the
    # persisted IVF-PQ index) so the timed reps measure the amortized
    # production path.
    # Interleaved calibration (round 10, VERDICT r9 #1b): one fixed-work
    # unit between every CAL_GROUP queries. Endpoint-only sampling missed
    # a mid-run host stall entirely in round 9 (26 untouched queries
    # flagged while both endpoint samples read fast); bracketing samples
    # make such stalls self-adjudicating per query group.
    cal_marks: list[float] = [calibration]  # sample before query group 0
    timings: dict[str, float] = {}
    timings_min: dict[str, float] = {}
    raw_runs: dict[str, list[float]] = {}
    query_cal: dict[str, float] = {}  # median of each query's bracketing samples
    group_index: dict[str, int] = {}
    failed: list[str] = []
    n_run = 0
    for name in names:
        spec = registry[name]
        if "baseline" in spec.tags or "surface-pin" in spec.tags:
            # O(n²) oracle baselines are correctness fixtures, and
            # surface-pins (q_ltv_recursive's native WITH RECURSIVE
            # path, bit-equal to the q_ltv_fold headline entry) are API
            # correctness anchors — neither is a throughput claim, so
            # neither is part of the headline metric (VERDICT r8 #3).
            continue
        if n_run and n_run % CAL_GROUP == 0:
            cal_marks.append(round(_calibration_run(spark), 3))
        group_index[name] = n_run // CAL_GROUP
        n_run += 1
        runs: list[float] = []
        try:
            spec.builder(spark, sf_dir).collect()  # warm-up, untimed
            for _ in range(REPS):
                t0 = time.perf_counter()
                spec.builder(spark, sf_dir).collect()
                runs.append(time.perf_counter() - t0)
        except Exception as exc:  # one broken query must not lose the whole run
            failed.append(name)
            print(f"bench: {name} FAILED: {exc}", file=sys.stderr)
            continue
        timings[name] = round(statistics.median(runs), 3)
        timings_min[name] = round(min(runs), 3)
        raw_runs[name] = [round(r, 3) for r in runs]

    # Post-run calibration: closes the final group's bracket (and the
    # pre-vs-post pair stays the coarse drift diagnostic it always was).
    calibration_post = round(_calibration_run(spark), 3)
    cal_marks.append(calibration_post)
    for name, g in group_index.items():
        if name in failed:
            continue
        lo = cal_marks[min(g, len(cal_marks) - 1)]
        hi = cal_marks[min(g + 1, len(cal_marks) - 1)]
        query_cal[name] = round(statistics.median([lo, hi]), 3)

    total = round(sum(timings.values()), 3)
    # The headline set grew past round 1's 20 queries by appending, so
    # its first 20 entries are round 1's set; r01_comparable_total sums
    # only those so round-over-round totals compare like-for-like.
    r01_set = HEADLINE[:20]
    summary = {
        "metric": "headline_total",
        "value": total,
        "unit": "sec",
        "n_queries": len(timings),
        "reps": REPS,
        "r01_comparable_total": round(sum(timings.get(n, 0.0) for n in r01_set), 3),
        "calibration_sec": calibration,
        "sf": sf,
    }
    # Full per-query breakdown goes to a sidecar file: the driver's record
    # keeps only a ~2000-char tail window of stdout. Round 3's line
    # (queries + queries_min, ~4 KB) overflowed it and recorded
    # `parsed: null`; by 76 headline queries even a medians-only dict
    # is 2.2 KB, so the printed line carries NO per-query dict at all —
    # per-query medians/mins/raw runs live in BENCH_DETAIL.json.
    detail = dict(summary)
    detail.update(
        {
            "queries": timings,
            "queries_min": timings_min,
            "runs": raw_runs,
            "failed": failed,
            "calibration_runs": calibration_runs,
            "calibration_post": calibration_post,
            # Interleaved fixed-work samples (one before each CAL_GROUP
            # query group, plus the post sample) and each query's local
            # unit = median of its bracketing samples (VERDICT r9 #1b).
            "calibration_marks": cal_marks,
            "query_cal": query_cal,
            # Calibrated per-query figures: seconds of FIXED-WORK units,
            # i.e. min/calibration — the number scripts/bench_compare.py
            # compares across rounds (regressed iff new calibrated min
            # > 1.5× committed calibrated min). Uses each query's LOCAL
            # bracketing unit where available (round 10); the session
            # median remains the fallback.
            "queries_min_calibrated": {
                n: round(v / query_cal.get(n, calibration), 3)
                for n, v in timings_min.items()
            },
        }
    )
    with open(os.path.join(_REPO, "BENCH_DETAIL.json"), "w") as fh:
        json.dump(detail, fh, indent=1, sort_keys=True)
    # Per-query one-line JSONs BEFORE the headline line (VERDICT r9 #1a):
    # additive — the headline line keeps its exact shape and stays LAST,
    # so a tail-window consumer parses what it always parsed, while a
    # full-stdout consumer now gets per-query medians/mins/raw runs and
    # the local calibration unit without reading BENCH_DETAIL.json.
    for name in timings:
        print(
            json.dumps(
                {
                    "query": name,
                    "median": timings[name],
                    "min": timings_min[name],
                    "runs": raw_runs[name],
                    "cal": query_cal.get(name, calibration),
                }
            )
        )
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
