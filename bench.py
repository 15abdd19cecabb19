"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS]; prints one JSON line PER QUERY
followed by the ONE headline JSON line (the headline line is last, so
tail-window consumers keep parsing exactly what they always did).

    python bench.py               # the HEADLINE queries
    python bench.py QUERY ...     # only the named queries (scripts/ab.py)

Each query is built from the same registry the driver's correctness gate
uses and timed end-to-end (plan + execute + collect). The metric is total
wall seconds across the headline set. Per-query medians, mins and raw
runs are printed as ``{"query": ...}`` lines and land in
BENCH_DETAIL.json, each with the local unit of a fixed-work calibration
run interleaved between ~15-query groups, so a mid-run host stall shows
in the records it distorts. After its timed reps each query runs once
more, untimed, for its ``profile`` block in BENCH_DETAIL.json: jobs,
stages and tasks, build seconds and build jobs, residual cache pins and
the executed plan's operator counts. The record also carries its core
count (``cores``), which scripts/bench_compare.py checks.
"""

from __future__ import annotations

import argparse
import json
import os
import re
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
    """Read every fixture parquet byte-for-byte before rep 1 so OS
    page-cache state does not dominate cross-boot comparisons. A Spark
    ``count()`` would not: parquet count-star reads only row-group
    metadata. The sf0.1 fixture is ~17 MB, tens of milliseconds."""
    for p in sorted(Path(sf_dir).glob("*.parquet")):
        with open(p, "rb") as fh:
            while fh.read(1 << 20):
                pass


def _calibration_run(spark) -> float:
    """One fixed-work, data-independent unit: md5 + modular-hash key over
    3M generated rows → shuffle → hash aggregate → scalar. It exercises
    codegen, exchange and aggregation with no file I/O, so its time
    tracks the host's momentary speed; per-query times divided by it
    compare across boots (scripts/bench_compare.py)."""
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


def executed_nodes(plan) -> list[str]:
    """One line per operator that ran, walking a JVM SparkPlan through
    AQE's final plan, query stages and subqueries; an InMemoryTableScan
    is a leaf. The plan string also prints AQE's Initial Plan and every
    cached frame's plan, the latter at indents that do not nest."""
    lines, todo = [], [plan]
    while todo:
        node = todo.pop()
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            todo.append(node.executedPlan())
        elif name.endswith("QueryStage"):
            todo.append(node.plan())
        else:
            lines.append(node.simpleString(1000))
            for seq in (node.children(), node.subqueries()):
                todo.extend(seq.apply(i) for i in range(seq.size()))
    return lines


def audit_plan(nodes: list[str]) -> dict:
    """Operator counts over one-line node strings. A ``ReusedExchange``
    (whose line names the exchange it reuses) is no new shuffle."""

    def count(pattern: str) -> int:
        return sum(1 for n in nodes if re.match(pattern, n))

    return {
        "exchanges": count(r"Exchange (hash|range|Single|RoundRobin)"),
        "broadcasts": count("BroadcastExchange"),
        "codegen_spans": count("WholeStageCodegen"),
        "pushed_filters": count(r"FileScan .*PushedFilters: \[(?!\])"),
        "scans": count("FileScan parquet"),
        "sorts": count(r"Sort \["),
        "python_udfs": count("BatchEvalPython|ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas"),
    }


def _census(sc, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) Spark ran under job group ``group``."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = tasks = 0
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds if info is not None else ():
            stage = tracker.getStageInfo(sid)
            if stage is not None:
                stages += 1
                tasks += stage.numTasks
    return len(jobs), stages, tasks


def pinned_rdds(sc) -> set[int]:
    """Ids of the RDDs the session holds persisted."""
    return set(sc._jsc.getPersistentRDDs().keys())


def profile(spark, name: str, build, pins_before: set[int]) -> dict:
    """One untimed build + collect of query ``name``. Job group
    ``<name>-build`` covers ``build()`` and ``<name>-exec`` the collect,
    as in perfbench/reads.py. ``residual_pins`` counts persisted RDDs not
    in ``pins_before``; a count difference would net out the checkpoints
    of earlier queries that the context cleaner drops meanwhile."""
    sc = spark.sparkContext
    try:
        sc.setJobGroup(f"{name}-build", name)
        t0 = time.perf_counter()
        df = build()
        build_s = time.perf_counter() - t0
        sc.setJobGroup(f"{name}-exec", name)
        df.collect()
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(prop, None)
    build_jobs, build_stages, build_tasks = _census(sc, f"{name}-build")
    jobs, stages, tasks = _census(sc, f"{name}-exec")
    plan = df._jdf.queryExecution().executedPlan()
    return {
        "jobs": build_jobs + jobs,
        "stages": build_stages + stages,
        "tasks": build_tasks + tasks,
        "build_s": round(build_s, 3),
        "build_jobs": build_jobs,
        "residual_pins": len(pinned_rdds(sc) - pins_before),
        **audit_plan(executed_nodes(plan)),
    }


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

    # Median-of-REPS per query (cross-boot noise on unchanged code reaches
    # 2×); the min is the machine-best figure. One untimed warm-up per
    # query pays build-once costs (e.g. the persisted IVF-PQ index), and
    # one fixed-work calibration unit runs between every CAL_GROUP
    # queries so each query is normalised by the samples bracketing it.
    cal_marks: list[float] = [calibration]  # sample before query group 0
    timings: dict[str, float] = {}
    timings_min: dict[str, float] = {}
    raw_runs: dict[str, list[float]] = {}
    query_cal: dict[str, float] = {}  # median of each query's bracketing samples
    profiles: dict[str, dict] = {}
    group_index: dict[str, int] = {}
    failed: list[str] = []
    n_run = 0
    for name in names:
        spec = registry[name]
        if "baseline" in spec.tags or "surface-pin" in spec.tags:
            # O(n²) oracle baselines and API surface-pins (e.g.
            # q_ltv_recursive, bit-equal to q_ltv_fold) are correctness
            # anchors, not throughput claims.
            continue
        if n_run and n_run % CAL_GROUP == 0:
            cal_marks.append(round(_calibration_run(spark), 3))
        group_index[name] = n_run // CAL_GROUP
        n_run += 1
        runs: list[float] = []
        pins = pinned_rdds(spark.sparkContext)
        try:
            spec.builder(spark, sf_dir).collect()  # warm-up, untimed
            for _ in range(REPS):
                t0 = time.perf_counter()
                spec.builder(spark, sf_dir).collect()
                runs.append(time.perf_counter() - t0)
            profiles[name] = profile(spark, name, lambda: spec.builder(spark, sf_dir), pins)
        except Exception as exc:  # one broken query must not lose the whole run
            failed.append(name)
            print(f"bench: {name} FAILED: {exc}", file=sys.stderr)
            continue
        timings[name] = round(statistics.median(runs), 3)
        timings_min[name] = round(min(runs), 3)
        raw_runs[name] = [round(r, 3) for r in runs]

    # Post-run calibration closes the final group's bracket.
    calibration_post = round(_calibration_run(spark), 3)
    cal_marks.append(calibration_post)
    for name, g in group_index.items():
        if name in failed:
            continue
        lo = cal_marks[min(g, len(cal_marks) - 1)]
        hi = cal_marks[min(g + 1, len(cal_marks) - 1)]
        query_cal[name] = round(statistics.median([lo, hi]), 3)

    total = round(sum(timings.values()), 3)
    # The headline set only grows at the end: its first 20 are round 1's.
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
    # The headline line carries no per-query dict: consumers that keep a
    # ~2,000-character tail of stdout must still parse it.
    detail = dict(summary)
    detail.update(
        {
            "cores": spark.sparkContext.defaultParallelism,
            "queries": timings,
            "queries_min": timings_min,
            "runs": raw_runs,
            "failed": failed,
            "calibration_runs": calibration_runs,
            "calibration_post": calibration_post,
            # One sample before each query group plus the post sample;
            # a query's local unit is the median of its bracketing pair.
            "calibration_marks": cal_marks,
            "query_cal": query_cal,
            "profile": profiles,
            # min / local unit: what scripts/bench_compare.py compares.
            "queries_min_calibrated": {
                n: round(v / query_cal.get(n, calibration), 3)
                for n, v in timings_min.items()
            },
        }
    )
    with open(os.path.join(_REPO, "BENCH_DETAIL.json"), "w") as fh:
        json.dump(detail, fh, indent=1, sort_keys=True)
    # Per-query lines come before the headline line, which stays last.
    for name in timings:
        rec = {"query": name, "median": timings[name], "min": timings_min[name],
               "runs": raw_runs[name], "cal": query_cal.get(name, calibration)}
        print(json.dumps(rec))
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
