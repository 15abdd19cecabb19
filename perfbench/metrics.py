"""The benchmark's metric catalogue: one entry per metric, with the
end-to-end metric and workload each per-layer metric should move.

``BENCHMARK.json`` lists the same names and units (the self-test checks
that the two agree); the ``moves`` column lives here because the
``BENCHMARK.json`` entries have a fixed set of keys.
"""

from __future__ import annotations

import statistics

# name, unit, better
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("ops_per_s", "1/s", "higher"),
    ("latency_s.p50", "s", "lower"),
    ("latency_s.tail", "s", "lower"),
    ("peak_rss_mb", "MB", "lower"),
]

# name, unit, better, the end-to-end metric (and workload) it should move
PER_LAYER = [
    ("session.start_s", "s", "lower", "setup_s on every workload"),
    ("session.residual_pins", "count", "lower", "peak_rss_mb and latency_s.tail on reads"),
    ("sources.list_s", "s", "lower", "latency_s.p50 on ingest"),
    ("sources.input_rows", "rows", "higher", "ops_per_s on ingest"),
    ("functions.reject_ratio", "ratio", "lower", "nothing: equals the generator's reject share"),
    ("streaming.plan_s", "s", "lower", "latency_s.p50 on ingest"),
    ("streaming.commit_s", "s", "lower", "latency_s.p50 on ingest"),
    ("streaming.batch_body_s", "s", "lower", "latency_s.p50 on ingest"),
    ("streaming.merge_drain_s", "s", "lower", "the stop-event merge drain on ingest"),
    ("operators.upsert_s", "s", "lower", "latency_s.tail on ingest"),
    ("operators.merge_s", "s", "lower", "streaming.merge_drain_s on ingest"),
    ("operators.new_key_ratio", "ratio", "lower", "latency_s.tail on ingest"),
    ("operators.state_rows", "rows", "lower", "latency_s.tail on ingest"),
    ("operators.exec_s", "s", "lower", "latency_s.p50 on reads"),
    ("operators.executor_run_s", "s", "lower", "latency_s.p50 on reads"),
    ("operators.gc_s", "s", "lower", "latency_s.tail on reads and ingest"),
    ("operators.shuffle_bytes", "B", "lower", "latency_s.p50 on reads"),
    ("operators.spill_bytes", "B", "lower", "latency_s.tail on reads"),
    ("operators.python_seam_s", "s", "lower", "latency_s.p50 on reads"),
    ("operators.python_bytes", "B", "lower", "latency_s.p50 on reads"),
    ("sinks.append_s", "s", "lower", "ops_per_s on ingest"),
    ("sinks.bytes_written", "B", "lower", "ops_per_s on ingest"),
    ("sinks.files_written", "count", "lower", "ops_per_s on ingest"),
    ("plans.build_s", "s", "lower", "latency_s.p50 on reads"),
    ("plans.build_jobs", "count", "lower", "latency_s.p50 on reads"),
    ("plans.jobs", "count", "lower", "latency_s.p50 on reads and ingest"),
    ("plans.stages", "count", "lower", "latency_s.p50 on reads and ingest"),
    ("plans.tasks", "count", "lower", "latency_s.p50 on reads and ingest"),
    ("trace.overhead_s", "s", "lower", "nothing: traced minus untraced time per operation"),
]

# Per-layer figures are per operation (a micro-batch or a query), except
# session.start_s, streaming.merge_drain_s and operators.state_rows, which are
# per run. A layer a workload does not exercise reads 0.
UNITS = {name: unit for name, unit, *_ in END_TO_END + PER_LAYER}


def tail_index(n: int) -> int:
    """Index, in ascending order, of the highest-ranked sample with at
    least ten samples beyond it; the upper median when fewer than 21
    samples support no percentile above the median."""
    return max(n - 11, n // 2)


def latency_summary(samples: list[float]) -> dict:
    s = sorted(samples)
    i = tail_index(len(s))
    return {
        "p50": statistics.median(s),
        "tail": s[i],
        "tail_pct": round(100.0 * (i + 1) / len(s), 1),
    }


def result_metrics(values: dict[str, float], names: list[str]) -> dict:
    missing = [n for n in names if n not in values]
    if missing:
        raise KeyError(f"metrics not measured: {missing}")
    return {n: {"value": values[n], "unit": UNITS[n]} for n in names}
