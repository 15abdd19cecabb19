"""``ingest``: drain a pre-staged backlog of raw breadcrumb files through
the streaming pipeline, then the stop-event merge into the same Trip store.

An operation is one breadcrumb micro-batch (one file of a fixed record
count, ``maxFilesPerTrigger=1``, ``availableNow``); its latency is the
batch's ``triggerExecution``. The loop is closed: the engine takes the next
file when the previous batch has committed.
"""

from __future__ import annotations

import json
import os
import statistics
import time

from metrics import latency_summary

from c_tran_data_pipeline_spark import schemas
from c_tran_data_pipeline_spark.functions.validation import referential_check
from c_tran_data_pipeline_spark.streaming.pipeline import (
    _TableStore,
    run_breadcrumb_pipeline,
    run_stop_event_pipeline,
)

DRAIN_TIMEOUT_S = 150
# Local property marking the traced store's own count jobs, so the event
# log leaves them out of the engine's per-batch job and task counts.
PROBE = "perfbench.probe"

# Layers this workload does not exercise: no query builders, no collect.
NOT_EXERCISED = ("plans.build_s", "plans.build_jobs", "operators.exec_s")


class TracedStore(_TableStore):
    """The engine's Trip/BreadCrumb store with spans around each write and,
    for the Trip store, the state size and new-key share after each upsert."""

    def __init__(self, spark, path, schema, tracer):
        super().__init__(spark, path, schema)
        self.tracer = tracer
        self.rows = 0
        self.new_key_ratios: list[float] = []

    def _probe_count(self, df) -> int:
        sc = self.spark.sparkContext
        sc.setLocalProperty(PROBE, "1")
        try:
            return df.count()
        finally:
            sc.setLocalProperty(PROBE, None)

    def upsert(self, incoming, keys):
        incoming_keys = self._probe_count(incoming.select(*keys).distinct())
        with self.tracer.span("operators.upsert"):
            super().upsert(incoming, keys)
        before, self.rows = self.rows, self._probe_count(self.read())
        self.new_key_ratios.append((self.rows - before) / max(1, incoming_keys))

    def merge(self, updates, keys, set_cols):
        with self.tracer.span("operators.merge"):
            super().merge(updates, keys, set_cols)

    def append(self, df):
        with self.tracer.span("sinks.append"):
            super().append(df)


def _dir_files(path: str) -> tuple[int, int]:
    """(parquet part files, bytes) under ``path``."""
    n = size = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


class Ingest:
    def __init__(self, spark, cfg, tracer):
        self.spark = spark
        self.tracer = tracer
        self.query_id: str | None = None
        with open("expected.json") as fh:
            self.expected = json.load(fh)

    def _store(self, path, schema):
        if self.tracer.enabled:
            return TracedStore(self.spark, path, schema, self.tracer)
        return _TableStore(self.spark, path, schema)

    def _await(self, q) -> None:
        if not q.awaitTermination(DRAIN_TIMEOUT_S):
            q.stop()
            raise TimeoutError(f"stream drain did not finish in {DRAIN_TIMEOUT_S} s")

    def _drain_crumbs(self, src: str, tag: str):
        trip = self._store(f"state/{tag}/trip", schemas.TRIP)
        crumb = self._store(f"state/{tag}/crumb", schemas.BREADCRUMB)
        raw = self.spark.readStream.schema(schemas.RAW_BREADCRUMB).option("maxFilesPerTrigger", 1).json(src)
        with self.tracer.span("streaming.drain", tag=tag):
            q = run_breadcrumb_pipeline(raw, trip, crumb, f"state/{tag}/ckpt_crumbs")
            self._await(q)
        return q, trip, crumb

    def _drain_stops(self, src: str, tag: str, trip):
        raw = self.spark.readStream.schema(schemas.RAW_STOP_EVENT).option("maxFilesPerTrigger", 1).json(src)
        with self.tracer.span("streaming.merge_drain", tag=tag):
            q = run_stop_event_pipeline(raw, trip, f"state/{tag}/ckpt_stops")
            self._await(q)
        return q

    def setup(self, out) -> None:
        # Untimed warm-up: the same pipeline over a small separate backlog.
        with self.tracer.span("setup.warmup"):
            _q, trip, _crumb = self._drain_crumbs("inputs/warm_crumbs", "warm")
            self._drain_stops("inputs/warm_stops", "warm", trip)

    def measure(self, out) -> None:
        exp = self.expected
        n_batches, batch_rows = exp["n_batches"], exp["batch_rows"]
        self.spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", str(n_batches + 10))
        mark = len(self.tracer.spans)
        t = time.perf_counter()
        q, trip, crumb = self._drain_crumbs("inputs/crumbs", "timed")
        drain_s = time.perf_counter() - t
        self.query_id = str(q.id)
        progress = [p for p in q.recentProgress if p.numInputRows > 0]
        out["attempted"] += n_batches
        bad_batches = n_batches - len(progress)

        crumbs = self.spark.read.parquet(crumb.path)
        trips = self.spark.read.parquet(trip.path)
        stored = crumbs.count()
        checks = out["checks"]
        checks["crumbs_equal_valid_rows"] = stored == exp["valid_rows"]
        checks["trips_equal_distinct_valid_trips"] = trips.count() == exp["n_trips"]
        checks["no_orphan_crumbs"] = referential_check(crumbs, trips, ["trip_id"]).isEmpty()
        if not all(checks.values()):
            bad_batches = n_batches
        out["failed"] += bad_batches

        t = time.perf_counter()
        self._drain_stops("inputs/stops", "timed", trip)
        merge_s = time.perf_counter() - t
        got = {
            str(r.trip_id): [r.route_id, r.direction]
            for r in self.spark.read.parquet(trip.path).select("trip_id", "route_id", "direction").collect()
        }
        checks["trip_route_direction_first_wins"] = got == exp["merged"]
        out["attempted"] += exp["n_stop_batches"]
        if not checks["trip_route_direction_first_wins"]:
            out["failed"] += exp["n_stop_batches"]

        lat = latency_summary([p.durationMs["triggerExecution"] / 1000.0 for p in progress])
        v = out["values"]
        v["ops_per_s"] = len(progress) / drain_s
        v["latency_s.p50"] = lat["p50"]
        v["latency_s.tail"] = lat["tail"]
        info = out["info"]
        info.update(
            ops=len(progress),
            tail_pct=lat["tail_pct"],
            records_per_s=len(progress) * batch_rows / drain_s,
            merge_s=merge_s,
            stored_crumbs=stored,
        )
        if not self.tracer.enabled:
            return

        def med(key: str | tuple[str, ...]) -> float:
            keys = (key,) if isinstance(key, str) else key
            return statistics.median(sum(p.durationMs.get(k, 0) for k in keys) / 1000.0 for p in progress)

        n = max(1, len(progress))
        files, size = _dir_files(crumb.path)
        v.update(
            {
                "sources.list_s": med(("latestOffset", "getBatch")),
                # The source's own count: rows decoded per batch, once per
                # action the batch body runs over the micro-batch.
                "sources.input_rows": statistics.mean(p.numInputRows for p in progress),
                "functions.reject_ratio": 1.0 - stored / (n_batches * batch_rows),
                "streaming.plan_s": med("queryPlanning"),
                "streaming.commit_s": med(("walCommit", "commitOffsets")),
                "streaming.batch_body_s": med("addBatch"),
                "streaming.merge_drain_s": merge_s,
                "operators.upsert_s": statistics.median(self.tracer.durations("operators.upsert", mark)),
                "operators.merge_s": statistics.median(self.tracer.durations("operators.merge", mark)),
                "operators.new_key_ratio": statistics.mean(trip.new_key_ratios),
                "operators.state_rows": trip.rows,
                "sinks.append_s": statistics.median(self.tracer.durations("sinks.append", mark)),
                "sinks.bytes_written": size / n,
                "sinks.files_written": files / n,
                "session.residual_pins": self.spark.sparkContext._jsc.getPersistentRDDs().size(),
                **{k: 0.0 for k in NOT_EXERCISED},
            }
        )

    def event_key(self, props: dict) -> str | None:
        """Jobs of the timed breadcrumb drain, keyed by micro-batch."""
        if props.get(PROBE) or props.get("sql.streaming.queryId") != self.query_id:
            return None
        return f"batch{props.get('streaming.sql.batchId')}"
