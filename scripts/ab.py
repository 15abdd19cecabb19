"""Interleaved parent/change A/B over two git revisions.

    python3 scripts/ab.py PARENT CHANGE              # BENCHMARK.json workloads
    python3 scripts/ab.py PARENT CHANGE QUERY ...    # named bench.py queries

Each revision is extracted with ``git archive`` into a temporary directory.
Both must carry the same ``BENCHMARK.json``, whose workloads, run length and
end-to-end metric bounds define the comparison. Pair i uses seed i; the
parent runs first in odd pairs, so host-speed drift hits both sides alike.
Query mode compares each query's min / local calibration unit from
``bench.py`` against bench_compare's regression threshold.

Prints one JSON line per run, then one summary line per workload or query
(see ``summarize``). Exits 1 iff a verdict is "worse".
"""

from __future__ import annotations

import json
import os
import signal
import statistics
import subprocess
import sys
import tempfile
from pathlib import Path

from bench_compare import REGRESSION_THRESHOLD

REPO = Path(__file__).resolve().parent.parent
PAIRS = 10
GAIN_WINS = 0.9


def _median_iqr(values: list[float]) -> tuple[float, float]:
    q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q2, q3 - q1


def summarize(
    parent_values: list[float], change_values: list[float], better: str, bound: float
) -> dict:
    """Judge one metric over paired runs (``parent_values[i]`` and
    ``change_values[i]`` form pair i). The verdict is the first that holds:

    - ``gain``: the change wins at least ``GAIN_WINS`` of the pairs and its
      median is better than the parent's by more than the parent's IQR;
    - ``worse``: the change's median is worse by more than
      ``bound`` × the parent's median;
    - ``unresolved``: either side's IQR exceeds ``bound`` × its median,
      unless every change run is better than every parent run;
    - ``same``.
    """
    if better not in ("higher", "lower"):
        raise ValueError(f"better must be 'higher' or 'lower', not {better!r}")
    sign = 1.0 if better == "higher" else -1.0
    p_med, p_iqr = _median_iqr(parent_values)
    c_med, c_iqr = _median_iqr(change_values)
    wins = sum(sign * (c - p) > 0 for p, c in zip(parent_values, change_values))
    gap = sign * (c_med - p_med)  # > 0: the change's median is better
    dominates = all(sign * (c - p) > 0 for c in change_values for p in parent_values)
    if wins >= GAIN_WINS * len(parent_values) and gap > p_iqr:
        verdict = "gain"
    elif -gap > bound * abs(p_med):
        verdict = "worse"
    elif (p_iqr > bound * abs(p_med) or c_iqr > bound * abs(c_med)) and not dominates:
        verdict = "unresolved"
    else:
        verdict = "same"
    return {
        "parent": {"median": round(p_med, 4), "iqr": round(p_iqr, 4)},
        "change": {"median": round(c_med, 4), "iqr": round(c_iqr, 4)},
        "wins": f"{wins}/{len(parent_values)}",
        "verdict": verdict,
    }


def stage(rev: str, dest: Path) -> None:
    """Extract the tree of git revision ``rev`` into the directory ``dest``."""
    dest.mkdir(parents=True)
    archive = subprocess.run(
        ["git", "-C", str(REPO), "archive", "--format=tar", rev],
        check=True,
        capture_output=True,
    ).stdout
    subprocess.run(["tar", "-x", "-C", str(dest)], input=archive, check=True)


def _run(cmd: list[str], cwd: Path) -> str:
    """Run ``cmd`` in its own process group and return its stdout; the group
    is terminated if this process is interrupted while it runs."""
    proc = subprocess.Popen(
        cmd,
        cwd=cwd,
        stdout=subprocess.PIPE,
        stderr=subprocess.PIPE,
        text=True,
        start_new_session=True,
    )
    try:
        out, err = proc.communicate()
    finally:
        if proc.poll() is None:
            # SIGTERM, not SIGKILL: perfbench/run.py then stops its own
            # child process group before it exits.
            os.killpg(proc.pid, signal.SIGTERM)
            proc.wait()
    if proc.returncode != 0:
        raise RuntimeError(f"{' '.join(cmd)} in {cwd} exited {proc.returncode}:\n{err[-4000:]}")
    return out


def _pairs():
    """(pair, side) in run order; pair i also names the seed."""
    for i in range(1, PAIRS + 1):
        for side in ("parent", "change") if i % 2 else ("change", "parent"):
            yield i, side


def run_workloads(trees: dict[str, Path], bench: dict) -> list[dict]:
    metrics = bench["end_to_end"]
    summaries = []
    for workload in (w["name"] for w in bench["workloads"]):
        sides = {"parent": [], "change": []}
        for pair, side in _pairs():
            cmd = bench["command"] + [
                "--workload", workload, "--seed", str(pair),
                "--seconds", str(bench["run_seconds"]), "--trace", "0",
            ]
            result = json.loads(_run(cmd, trees[side]).strip().splitlines()[-1])
            line = {
                "workload": workload, "pair": pair, "side": side,
                "correct": result["correct"],
                "failed": result["failed"],
                "attempted": result["attempted"],
                "metrics": {m["name"]: result["metrics"][m["name"]]["value"] for m in metrics},
            }
            sides[side].append(line)
            print(json.dumps(line), flush=True)
        summary = {"workload": workload}
        for side, lines in sides.items():
            summary[side] = {
                "correct": all(r["correct"] for r in lines),
                "failed": f"{sum(r['failed'] for r in lines)}/{sum(r['attempted'] for r in lines)}",
            }
        summary["metrics"] = {
            m["name"]: summarize(
                *[[r["metrics"][m["name"]] for r in sides[s]] for s in ("parent", "change")],
                m["better"],
                m["bound"],
            )
            for m in metrics
        }
        summaries.append(summary)
    return summaries


def run_queries(trees: dict[str, Path], queries: list[str]) -> list[dict]:
    values = {"parent": [], "change": []}
    for pair, side in _pairs():
        out = _run([sys.executable, "bench.py", *queries], trees[side])
        lines = [json.loads(s) for s in out.splitlines() if s.startswith("{")]
        per_query = {r["query"]: r["min"] / r["cal"] for r in lines if "query" in r}
        missing = [q for q in queries if q not in per_query]
        if missing:
            raise RuntimeError(f"bench.py in {trees[side]} timed no {missing}")
        values[side].append(per_query)
        min_cal = {q: round(per_query[q], 4) for q in queries}
        print(json.dumps({"pair": pair, "side": side, "min_cal": min_cal}), flush=True)
    return [
        {
            "query": q,
            "metrics": {
                "min_cal": summarize(
                    *[[v[q] for v in values[s]] for s in ("parent", "change")],
                    "lower",
                    REGRESSION_THRESHOLD - 1.0,
                )
            },
        }
        for q in queries
    ]


def main(argv: list[str]) -> int:
    if len(argv) < 2 or argv[0].startswith("-"):
        print(__doc__.split("\n\n")[1], file=sys.stderr)
        return 2
    parent_rev, change_rev, *queries = argv
    # SIGTERM unwinds like an error, so the running child group is stopped.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    with tempfile.TemporaryDirectory(prefix="ab-") as tmp:
        trees = {"parent": Path(tmp, "parent"), "change": Path(tmp, "change")}
        for rev, tree in zip((parent_rev, change_rev), trees.values()):
            stage(rev, tree)
        bench_json = [(t / "BENCHMARK.json").read_bytes() for t in trees.values()]
        if bench_json[0] != bench_json[1]:
            print("ab: the two revisions' BENCHMARK.json differ", file=sys.stderr)
            return 2
        if queries:
            summaries = run_queries(trees, queries)
        else:
            summaries = run_workloads(trees, json.loads(bench_json[0]))
    for summary in summaries:
        print(json.dumps(summary), flush=True)
    verdicts = [m["verdict"] for s in summaries for m in s["metrics"].values()]
    return 1 if "worse" in verdicts else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
