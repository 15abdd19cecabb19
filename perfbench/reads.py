"""``reads``: a closed loop of reference-parity and OLAP queries over the
seeded fixture, in a seeded order.

An operation is one query build plus collect (for the flagship hotspot,
the GeoJSON FeatureCollection write the reference's ``tsvscript.py`` does).
Each round runs every query once, in a fresh seeded order, so every run
does the same mix of work whatever its seed.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import statistics
import time

from metrics import latency_summary
from spans import job_counts

from c_tran_data_pipeline_spark import oracle
from c_tran_data_pipeline_spark.plans import all_queries
from c_tran_data_pipeline_spark.sinks.geojson import feature_collection

QUERIES = [
    "q_flagship_hotspot",
    "q_flagship_hotspot_pm",
    "q_conform_validate",
    "q_breadcrumb_conform",
    "q_enrich_merge",
    "q_sessionize",
    "q_window_hourly",
    "q_asof_prev_purchase",
    "q_top3_orders_per_customer",
    "q_pricing_summary",
    "q_rfm_segments",
    "q_quality_deciles",
    "q_ltv_fold",
    "q_corr_matrix",
]
GEOJSON_QUERY = "q_flagship_hotspot"

# Layers this workload does not exercise: no stream, no stores.
NOT_EXERCISED = (
    "sources.list_s",
    "sources.input_rows",
    "functions.reject_ratio",
    "streaming.plan_s",
    "streaming.commit_s",
    "streaming.batch_body_s",
    "streaming.merge_drain_s",
    "operators.upsert_s",
    "operators.merge_s",
    "operators.new_key_ratio",
    "operators.state_rows",
    "sinks.append_s",
    "sinks.bytes_written",
    "sinks.files_written",
)


def _canon(v) -> str:
    """Order-insensitive digests need a stable cell text; floats keep 9
    significant digits, as the oracle comparison does, so a reordered
    floating-point sum still digests the same."""
    if isinstance(v, float):
        return "nan" if v != v else f"{v:.9g}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{_canon(k)}:{_canon(x)}" for k, x in sorted(v.items(), key=repr)) + "}"
    return repr(v)


def digest(rows) -> str:
    lines = sorted(_canon(tuple(r)) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


class Reads:
    def __init__(self, spark, cfg, tracer):
        self.spark = spark
        self.cfg = cfg
        self.tracer = tracer
        self.fixture = os.path.abspath("inputs/fixture")
        self.registry = all_queries()
        self.expected: dict[str, str] = {}

    def _op(self, name: str, group: str | None) -> str:
        """One operation; returns the digest of its output."""
        sc = self.spark.sparkContext
        spec = self.registry[name]
        if group:
            sc.setJobGroup(f"{group}-build", name)
        with self.tracer.span("plans.build", query=name):
            df = spec.builder(self.spark, self.fixture)
        if group:
            sc.setJobGroup(f"{group}-exec", name)
        with self.tracer.span("operators.collect", query=name):
            if name == GEOJSON_QUERY:
                doc = feature_collection(df, "nationkey", "user_id", ["avg_value", "n_readings"])
                with open("out/hotspot.geojson", "w") as fh:
                    fh.write(doc)
                rows = [(f,) for f in map(json.dumps, json.loads(doc)["features"])]
            else:
                rows = df.collect()
        return digest(rows)

    def _matches_oracle(self, con, name: str, cols: list[str], rows) -> bool:
        """The comparison ``oracle.compare_query`` makes, on rows already
        collected: same columns, same rows in oracle.py's canonical form."""
        sql = self.registry[name].oracle
        if sql is None:  # rows-only query
            return True
        cur = con.execute(sql)
        o_cols = [d[0] for d in cur.description]
        if sorted(o_cols) != sorted(cols):
            return False
        return oracle._canon_rows(cols, [tuple(r) for r in rows]) == oracle._canon_rows(o_cols, cur.fetchall())

    def setup(self, out) -> None:
        """Untimed warm-up pass: each query once, checked against its DuckDB
        oracle; its digest is what every timed run of it must reproduce."""
        os.makedirs("out", exist_ok=True)
        con = oracle.duckdb_connect(self.fixture)
        for name in QUERIES:
            with self.tracer.span("setup.query", query=name):
                df = self.registry[name].builder(self.spark, self.fixture)
                rows = df.collect()
            ok = self._matches_oracle(con, name, df.columns, rows)
            out["checks"][f"oracle.{name}"] = ok
            if not ok:
                print(f"oracle mismatch on {name}", flush=True)
            self.expected[name] = self._op(name, None) if name == GEOJSON_QUERY else digest(rows)

    def measure(self, out) -> None:
        rng = random.Random(self.cfg["seed"])
        sc = self.spark.sparkContext
        traced = self.tracer.enabled
        lat: list[float] = []
        build_jobs: list[int] = []
        jobs: list[int] = []
        stages: list[int] = []
        pins: list[int] = []
        failed = 0
        mark = len(self.tracer.spans)
        deadline = time.perf_counter() + self.cfg["max_seconds"]
        t0 = time.perf_counter()
        for rnd in range(self.cfg["rounds"]):
            if rnd and time.perf_counter() > deadline:
                break
            for name in rng.sample(QUERIES, len(QUERIES)):
                group = f"pb-{len(lat)}" if traced else None
                t = time.perf_counter()
                try:
                    got = self._op(name, group)
                    lat.append(time.perf_counter() - t)
                    ok = got == self.expected[name] and out["checks"][f"oracle.{name}"]
                except Exception as exc:  # a failed query is a failed operation
                    lat.append(time.perf_counter() - t)
                    print(f"{name} failed: {exc!r}", flush=True)
                    ok = False
                failed += not ok
                if traced:
                    b = job_counts(sc, f"{group}-build")
                    e = job_counts(sc, f"{group}-exec")
                    build_jobs.append(b[0])
                    jobs.append(b[0] + e[0])
                    stages.append(b[1] + e[1])
                    pins.append(sc._jsc.getPersistentRDDs().size())
        wall = time.perf_counter() - t0
        out["attempted"] += len(lat)
        out["failed"] += failed
        s = latency_summary(lat)
        v = out["values"]
        v["ops_per_s"] = len(lat) / wall
        v["latency_s.p50"] = s["p50"]
        v["latency_s.tail"] = s["tail"]
        out["info"].update(ops=len(lat), tail_pct=s["tail_pct"], rounds=len(lat) // len(QUERIES))
        if not traced:
            return
        v.update(
            {
                "plans.build_s": statistics.median(self.tracer.durations("plans.build", mark)),
                "operators.exec_s": statistics.median(self.tracer.durations("operators.collect", mark)),
                "plans.build_jobs": statistics.mean(build_jobs),
                "plans.jobs": statistics.mean(jobs),
                "plans.stages": statistics.mean(stages),
                "session.residual_pins": statistics.mean(pins),
                **{k: 0.0 for k in NOT_EXERCISED},
            }
        )

    def event_key(self, props: dict) -> str | None:
        """Jobs of the timed loop, keyed by operation."""
        group = props.get("spark.jobGroup.id") or ""
        return group.rsplit("-", 1)[0] if group.startswith("pb-") else None
