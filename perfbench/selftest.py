"""Self-test: every workload once at a tiny size (sf0.001-sized fixture, a
few ingest files), untraced and traced, launched from this directory rather
than the repo root.

    python3 perfbench/selftest.py

Asserts that each result line names every metric with its unit, that no
operation failed and every output check passed, and that ``BENCHMARK.json``
lists the metrics this benchmark prints. Takes three to five minutes on
four cores.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import metrics

HERE = Path(__file__).resolve().parent
WORKLOADS = ("ingest", "reads")


def check_benchmark_json() -> None:
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS), spec["workloads"]
    for key, catalogue in (("end_to_end", metrics.END_TO_END), ("per_layer", metrics.PER_LAYER)):
        listed = [(m["name"], m["unit"], m["better"]) for m in spec[key]]
        assert listed == [tuple(m[:3]) for m in catalogue], f"{key} differs from metrics.py"


def run_once(workload: str, trace: int) -> None:
    cmd = [sys.executable, "run.py", "--workload", workload, "--seed", "7", "--seconds", "5"]
    proc = subprocess.run(
        cmd + ["--trace", str(trace), "--size", "tiny"], cwd=HERE, capture_output=True, text=True, timeout=300
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
    expected = metrics.PER_LAYER if trace else metrics.END_TO_END
    for name, unit, *_ in expected:
        assert result["metrics"][name]["unit"] == unit, (name, result["metrics"].get(name))
    assert set(result["metrics"]) == {m[0] for m in expected}
    for line in lines[:-1]:
        rec = json.loads(line)
        assert rec["failed_ratio"] == 0, rec
        assert all(rec["checks"].values()), rec["checks"]
    assert result["failed"] == 0 and result["attempted"] >= 1 and result["correct"], result
    print(f"ok  {workload:7s} trace={trace}  attempted={result['attempted']}", flush=True)


def main() -> int:
    check_benchmark_json()
    for workload in WORKLOADS:
        for trace in (0, 1):
            run_once(workload, trace)
    return 0


if __name__ == "__main__":
    sys.exit(main())
