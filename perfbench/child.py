"""One workload run in a fresh process with a fresh ``get_spark()`` session.

``run.py`` starts it with the run directory as working directory and the
run's settings in ``config.json`` there; it writes ``result.json`` beside
it. Set-up time counts from this module's first line.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

from spans import OpTotals, Tracer, read_event_log  # noqa: E402


def peak_rss_mb(pids: list[int]) -> float:
    """Largest peak resident set (VmHWM) among ``pids``, in MB."""
    peak = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    peak = max(peak, int(line.split()[1]))
    return peak / 1024.0


def event_log_values(totals: dict[str, OpTotals], n_ops: int) -> dict[str, float]:
    """Event-log totals as per-operation means."""
    agg = OpTotals()
    for t in totals.values():
        agg.add(t)
    n = max(1, n_ops)
    return {
        "plans.jobs": agg.jobs / n,
        "plans.stages": agg.stages / n,
        "plans.tasks": agg.tasks / n,
        "operators.executor_run_s": agg.executor_run_s / n,
        "operators.gc_s": agg.gc_s / n,
        "operators.shuffle_bytes": agg.shuffle_bytes / n,
        "operators.spill_bytes": agg.spill_bytes / n,
        "operators.python_seam_s": agg.python_seam_s / n,
        "operators.python_bytes": agg.python_bytes / n,
    }


def main() -> int:
    with open("config.json") as fh:
        cfg = json.load(fh)
    tracer = Tracer(f"{cfg['workload']}-seed{cfg['seed']}", enabled=bool(cfg["trace"]))
    with tracer.span("session.get_spark"):
        import pyspark

        from c_tran_data_pipeline_spark.session import get_spark

        spark = get_spark(f"perfbench-{cfg['workload']}")
    jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())

    if cfg["workload"] == "ingest":
        from ingest import Ingest as Workload
    else:
        from reads import Reads as Workload
    wl = Workload(spark, cfg, tracer)
    out = {"traced": tracer.enabled, "attempted": 0, "failed": 0, "checks": {}, "values": {}, "info": {}}
    try:
        wl.setup(out)
        out["values"]["setup_s"] = time.perf_counter() - T0
        wl.measure(out)
    except Exception:
        # A run that dies part-way still reports; what it did not finish
        # counts as failed.
        traceback.print_exc()
        out["checks"]["completed"] = False
        out["attempted"] = max(out["attempted"], 1)
        out["failed"] = out["attempted"]
    out["values"]["peak_rss_mb"] = peak_rss_mb([jvm_pid, os.getpid()])
    out["spark_version"] = pyspark.__version__
    spark.stop()
    if tracer.enabled:
        out["values"]["session.start_s"] = tracer.durations("session.get_spark")[0]
        totals = read_event_log(cfg["event_log_dir"], wl.event_key)
        for name, value in event_log_values(totals, out["info"].get("ops", 0)).items():
            # A workload that counted jobs live, per job group, keeps its count.
            out["values"].setdefault(name, value)
        tracer.write("spans.json")
    with open("result.json", "w") as fh:
        json.dump(out, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
