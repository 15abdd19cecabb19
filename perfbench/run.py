"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload {ingest,reads} --seed N --seconds S --trace {0,1}

Generates the workload's inputs from the seed into a private run directory
under ``.perfbench_run/`` in the checkout, runs the workload in a fresh
child process (fresh JVM, fresh ``get_spark()`` session,
``SPARK_GRAFT_CPUS`` = usable cores), checks its outputs and prints one
JSON record line per child followed by the result line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs the same
seed twice, untraced and then traced (spans plus the Spark event log), and
reports the per-layer metrics with ``trace.overhead_s``, the traced minus
the untraced time per operation. ``--size tiny`` shrinks the inputs for the
self-test.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

import gen
import metrics

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
RUNS = ROOT / ".perfbench_run"
TOTAL_BUDGET_S = 170.0

# Work per run. A reads round runs every query once (about 9 s on a
# 4-core host); ingest drains ``batches_per_s * seconds`` micro-batches.
SIZES = {
    "normal": {
        "scale": 0.01,
        "round_s": 9.0,
        "batches_per_s": 1.1,
        "batch_rows": 2000,
        "pool": 3000,
        "stop_batches": 3,
        "stop_rows": 1000,
    },
    # One round and the minimum three batches, for the self-test.
    "tiny": {
        "scale": 0.001,
        "round_s": float("inf"),
        "batches_per_s": 0.0,
        "batch_rows": 200,
        "pool": 100,
        "stop_batches": 1,
        "stop_rows": 50,
    },
}
WARM_BATCHES = 1
DRIVER_MEM = "2g"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def stage_inputs(run_dir: Path, workload: str, seed: int, seconds: float, size: dict) -> dict:
    """Write the run's inputs; return the workload's share of config.json."""
    inputs = run_dir / "inputs"
    if workload == "reads":
        gen.write_fixture(str(inputs / "fixture"), seed, size["scale"])
        return {"rounds": max(1, round(seconds / size["round_s"])), "max_seconds": 2.0 * seconds}

    n_batches = max(3, round(seconds * size["batches_per_s"]))
    timed = gen.ingest_inputs(
        seed, n_batches, size["batch_rows"], size["pool"], size["stop_batches"], size["stop_rows"]
    )
    warm = gen.ingest_inputs(seed + 1_000_003, WARM_BATCHES, size["batch_rows"], size["pool"], 1, size["stop_rows"])
    base = time.time() - 3600
    for sub, batches in (
        ("crumbs", timed.crumb_batches),
        ("stops", timed.stop_batches),
        ("warm_crumbs", warm.crumb_batches),
        ("warm_stops", warm.stop_batches),
    ):
        (inputs / sub).mkdir(parents=True)
        for i, records in enumerate(batches):
            gen.write_jsonl(str(inputs / sub / f"part-{i:05d}.json"), records, base + i)
    expected = {
        "n_batches": n_batches,
        "batch_rows": size["batch_rows"],
        "valid_rows": timed.valid_rows,
        "n_trips": len(timed.trips),
        "merged": {str(k): list(v) for k, v in timed.merged.items()},
        "n_stop_batches": size["stop_batches"],
    }
    (run_dir / "expected.json").write_text(json.dumps(expected))
    return {}


def child_env(run_dir: Path, traced: bool) -> dict:
    env = dict(os.environ)
    tmp = run_dir / "tmp"
    tmp.mkdir()
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_<user>.
    submit = ["--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"]
    if traced:
        (run_dir / "eventlog").mkdir()
        for k, v in (
            ("spark.eventLog.enabled", "true"),
            ("spark.eventLog.dir", f"file://{run_dir / 'eventlog'}"),
            ("spark.eventLog.compress", "false"),
            ("spark.eventLog.rolling.enabled", "false"),
        ):
            submit += ["--conf", f"{k}={v}"]
    env.update(
        {
            # Python workers import the engine from here whatever the cwd.
            "PYTHONPATH": os.pathsep.join([str(ROOT), str(HERE)]),
            "SPARK_GRAFT_CPUS": str(nproc()),
            # A 2 GB driver heap bounds the JVM's footprint on a shared host
            # and keeps its peak resident size from following GC timing.
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "SPARK_LOCAL_DIRS": str(run_dir / "spark-local"),
            "SPARK_GRAFT_INDEX_DIR": str(run_dir / "index"),
            "TMPDIR": str(tmp),
            "PYSPARK_SUBMIT_ARGS": shlex.join(submit + ["pyspark-shell"]),
        }
    )
    return env


def _live_members(pgid: int) -> list[int]:
    """Processes of group ``pgid`` that have not exited (zombies excluded)."""
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if fields[0] != "Z" and int(fields[2]) == pgid:
            pids.append(int(entry))
    return pids


def _stop_group(pgid: int) -> None:
    """Let the child's process group (the JVM outlives its Python parent by
    a moment) exit, then terminate what is left and wait until it is gone."""
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            try:
                os.killpg(pgid, sig)
            except ProcessLookupError:
                return
        end = time.monotonic() + 5.0
        while _live_members(pgid):
            if time.monotonic() > end:
                break
            time.sleep(0.1)
        else:
            return
    raise RuntimeError(f"processes {_live_members(pgid)} did not exit")


def run_child(args, traced: bool, seconds: float, deadline: float) -> dict:
    size = SIZES[args.size]
    run_dir = RUNS / f"{args.workload}-seed{args.seed}-{'traced' if traced else 'plain'}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    try:
        cfg = {"workload": args.workload, "seed": args.seed, "trace": traced}
        cfg.update(stage_inputs(run_dir, args.workload, args.seed, seconds, size))
        if traced:
            cfg["event_log_dir"] = str(run_dir / "eventlog")
        (run_dir / "config.json").write_text(json.dumps(cfg))
        with open(run_dir / "child.log", "w") as log:
            proc = subprocess.Popen(
                [sys.executable, str(HERE / "child.py")],
                cwd=run_dir,
                env=child_env(run_dir, traced),
                stdout=log,
                stderr=subprocess.STDOUT,
                start_new_session=True,
            )
            try:
                proc.wait(timeout=max(1.0, deadline - time.monotonic()))
            except subprocess.TimeoutExpired:
                pass
            finally:
                # Also reached when this process is terminated (see main).
                if proc.poll() is None:
                    os.killpg(proc.pid, signal.SIGKILL)
                    proc.wait()
                _stop_group(proc.pid)
        result_path = run_dir / "result.json"
        if proc.returncode != 0 or not result_path.exists():
            tail = (run_dir / "child.log").read_text()[-4000:]
            raise RuntimeError(f"{args.workload} child exited {proc.returncode}:\n{tail}")
        result = json.loads(result_path.read_text())
        if traced:
            traces = RUNS / "traces"
            traces.mkdir(exist_ok=True)
            shutil.copy(run_dir / "spans.json", traces / f"{args.workload}-seed{args.seed}.json")
        return result
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def record(args, result: dict) -> dict:
    """The run's stamp: what was measured, where and how."""
    return {
        "workload": args.workload,
        "seed": args.seed,
        "traced": result["traced"],
        "nproc": nproc(),
        "SPARK_GRAFT_CPUS": nproc(),
        "spark_version": result["spark_version"],
        "page_cache": "warm: inputs are written by this run just before it reads them",
        "failed_ratio": result["failed"] / max(1, result["attempted"]),
        "checks": result["checks"],
        "info": result["info"],
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["ingest", "reads"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="normal")
    args = ap.parse_args(argv)

    # SIGTERM unwinds like an error, so the child's process group is stopped.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    if not (ROOT / "c_tran_data_pipeline_spark" / "__init__.py").is_file():
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    deadline = time.monotonic() + TOTAL_BUDGET_S
    try:
        if args.trace:
            # Two children share the time budget, each doing half the work;
            # per-layer figures are per operation, so they do not depend on it.
            plain = run_child(args, False, args.seconds / 2, deadline)
            traced = run_child(args, True, args.seconds / 2, deadline)
            runs = [plain, traced]
            values = dict(traced["values"])
            values["trace.overhead_s"] = 1.0 / traced["values"]["ops_per_s"] - 1.0 / plain["values"]["ops_per_s"]
            names = [m[0] for m in metrics.PER_LAYER]
        else:
            runs = [run_child(args, False, args.seconds, deadline)]
            values = runs[0]["values"]
            names = [m[0] for m in metrics.END_TO_END]
        result = metrics.result_metrics(values, names)
    except (RuntimeError, KeyError) as exc:
        print(f"benchmark run failed: {exc}", file=sys.stderr)
        return 1
    for res in runs:
        print(json.dumps(record(args, res)), flush=True)
    failed = sum(r["failed"] for r in runs)
    line = {
        "correct": failed == 0 and all(all(r["checks"].values()) for r in runs),
        "attempted": sum(r["attempted"] for r in runs),
        "failed": failed,
        "metrics": result,
    }
    print(json.dumps(line), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
