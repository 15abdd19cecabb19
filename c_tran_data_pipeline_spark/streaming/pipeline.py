"""Structured Streaming re-creation of the reference's two pipelines
(SURVEY.md §3 E1/E2, §2.9 T1-T7).

The reference runs hand-rolled poll loops (``topic_consumer.py:215-247``)
with count-based flush (T1), idle-timeout drain (T2), and at-least-once +
idempotent-sink semantics (T4). Here each is the built-in Structured
Streaming equivalent:

- micro-batching: engine triggers (processingTime / availableNow)
- drain-then-stop: ``trigger(availableNow=True)``
- late-data bound: ``withWatermark`` + the V5 filter (T5)
- idempotent upsert: ``foreachBatch`` applying operators.upsert (K3-K5)

Transform/validate are THE SAME Column functions as batch
(functions.transforms / functions.validation) — the reference duplicated
them across four scripts; here one definition serves both planes.

Sources: Kafka in production (``readStream.format("kafka")`` — broker
configs in sources/kafka.py); tests drive the identical plan with a
file-stream over the fixture parquet, which exercises every operator
downstream of the source boundary.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from c_tran_data_pipeline_spark import schemas
from c_tran_data_pipeline_spark.functions.transforms import (
    conform_breadcrumbs,
    conform_stop_events,
    split_star,
)
from c_tran_data_pipeline_spark.functions.validation import validate
from c_tran_data_pipeline_spark.operators.fence import eval_once
from c_tran_data_pipeline_spark.operators.upsert import absent_rows, first_wins, merge_update
from c_tran_data_pipeline_spark.session import swap_dir
from c_tran_data_pipeline_spark.sources.kafka import kafka_stream


def read_breadcrumb_stream_kafka(spark: SparkSession, brokers: str, topic: str) -> DataFrame:
    """E1 source: Kafka crumb_topic (reference producer key 'reading',
    JSON value — producer.py:81-84). startingOffsets=earliest mirrors the
    reference's auto.offset.reset (topic_consumer.py:222)."""
    return decode_breadcrumb_messages(kafka_stream(spark, brokers, topic))


def decode_breadcrumb_messages(kafka_df: DataFrame) -> DataFrame:
    """Kafka (key,value) bytes → raw breadcrumb columns. V8: drop null
    values (stop_consumer.py:140-142)."""
    return (
        kafka_df.filter(F.col("value").isNotNull())
        .select(F.from_json(F.col("value").cast("string"), schemas.RAW_BREADCRUMB).alias("r"))
        .select("r.*")
    )


def decode_stop_event_messages(kafka_df: DataFrame) -> DataFrame:
    """Kafka (key,value) bytes → raw stop-event columns — the stop-topic
    twin of decode_breadcrumb_messages (reference stop_consumer.py
    value parse; V8 null-value skip applies identically). Together with
    to_kafka_sink('stop_event', ...) this closes the encode→decode
    round trip for the second message schema, so the only untestable
    piece in this broker-less image is the broker itself."""
    return (
        kafka_df.filter(F.col("value").isNotNull())
        .select(F.from_json(F.col("value").cast("string"), schemas.RAW_STOP_EVENT).alias("r"))
        .select("r.*")
    )


def conform_validate_stream(raw: DataFrame, watermark: str = "48 hours") -> DataFrame:
    """Shared conform+validate plan: P1-P5 transforms, V1-V5 reject-row
    validation, watermark = the reference's 48h bound made a real
    event-time watermark (T5)."""
    # eval_once: stateless Generate fence — the V1-V5 filter otherwise
    # re-evaluates the conform derivations per predicate reference (see
    # operators/fence.py). Safe pre-watermark: it neither reorders nor
    # drops rows.
    conformed = eval_once(conform_breadcrumbs(raw))
    return validate(conformed).withWatermark("tstamp", watermark)


def hourly_hotspot_stream(conformed: DataFrame) -> DataFrame:
    """Event-time windowed aggregation (T7 extension): per-hour, per-trip
    mean speed over the conformed breadcrumb stream — the streaming twin
    of q_window_hourly. Tumbling 1h windows on tstamp; the UPSTREAM
    watermark (conform_validate_stream's T5 bound — redefining it here is
    disallowed) bounds state: windows older than the watermark finalize
    and evict, so state is O(active windows × trips-per-hour), not
    O(stream). Pass a tighter watermark upstream for fresher emission.

    Use append output mode: rows emit exactly once, when their window
    closes — the semantics a downstream warehouse append sink needs."""
    return (
        conformed.groupBy(F.window("tstamp", "1 hour").alias("w"), "trip_id")
        .agg(
            F.avg("speed").alias("avg_speed"),
            F.max("speed").alias("max_speed"),
            F.count(F.lit(1)).alias("n_readings"),
        )
        .select(
            F.col("w.start").alias("hour_start"),
            "trip_id",
            "avg_speed",
            "max_speed",
            "n_readings",
        )
    )


def dedup_stream(conformed: DataFrame, keys: list[str] | None = None) -> DataFrame:
    """Streaming exact dedup: drop replayed records keyed by the natural
    id within the watermark horizon (``dropDuplicatesWithinWatermark``).
    This is T4 done in-stream: the reference got exactly-once table state
    from at-least-once delivery only because Postgres enforced the PK
    (``ON CONFLICT DO NOTHING``, topic_consumer.py:203); here the replay
    is removed before it ever reaches a sink, so even a plain append sink
    (parquet files, Kafka) sees each record once.

    State is keyed by ``keys`` and evicted once the watermark passes the
    record's event time — bounded by (arrival rate × watermark horizon),
    not by stream length. Requires a watermark upstream
    (conform_validate_stream sets the T5 48h bound)."""
    return conformed.dropDuplicatesWithinWatermark(
        keys or ["trip_id", "tstamp", "vehicle_id"]
    )


def session_stream(conformed: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Streaming sessionization via ``F.session_window``: per-trip
    sessions that close after ``gap`` of event-time silence — the
    streaming twin of q_sessionize (batch computes the same boundaries
    with a lag-window cumulative sum). Session state merges adjacent
    windows as events arrive and finalizes when the watermark passes
    session end + gap; append mode emits each closed session exactly
    once. State is O(open sessions), watermark-bounded."""
    return (
        conformed.groupBy(F.session_window("tstamp", gap).alias("w"), "trip_id")
        .agg(
            F.count(F.lit(1)).alias("n_readings"),
            F.avg("speed").alias("avg_speed"),
        )
        .select(
            "trip_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_readings",
            "avg_speed",
        )
    )


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    lookback: str = "1 hour",
    left_watermark: str | None = "2 hours",
    right_watermark: str | None = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream equi-join with an event-time interval bound:
    each left row pairs with right rows of the same ``key`` whose event
    time falls in ``[left_ts - lookback, left_ts]`` — the streaming twin
    of the batch as-of/range joins (operators/asof.py, q_range_join_
    follows). E.g. enrich a breadcrumb with the stop events its trip
    emitted in the preceding hour, as both streams flow.

    Spark buffers BOTH sides in state; the interval condition plus the
    two watermarks are what make that state bounded — a row can be
    evicted once the other side's watermark guarantees no future match
    (left kept ~``right_watermark``, right kept ~``left_watermark +
    lookback``; without the time bound the join would be rejected in
    append mode because state could never be released). Inner join =
    append-mode emit exactly when both sides have arrived.
    ``how="left_outer"`` additionally emits each unmatched left row
    with NULL right columns — but only once the GLOBAL watermark (the
    min across both inputs) passes the row's join bound, i.e. when
    Spark can PROVE no future right row matches; until a later batch
    advances the watermark, unmatched rows sit in state (the documented
    outer-join finalization semantics, pinned in
    tests/test_streaming.py::test_stream_stream_left_outer_finalizes).

    Right columns (other than the join key) keep their names; callers
    project/alias as needed. ``key`` appears once in the output. Pass
    ``None`` for a watermark an upstream stage already set (a stream's
    watermark column is defined once)."""
    lw = (left if left_watermark is None else left.withWatermark(left_ts, left_watermark)).alias("l")
    rw = (right if right_watermark is None else right.withWatermark(right_ts, right_watermark)).alias("r")
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (F.col(f"r.{right_ts}") >= F.expr(f"l.{left_ts} - INTERVAL {lookback}"))
        & (F.col(f"r.{right_ts}") <= F.col(f"l.{left_ts}"))
    )
    if how not in ("inner", "left_outer"):
        raise ValueError(f"interval_join_streams supports inner/left_outer, got {how!r}")
    right_keep = [c for c in right.columns if c != key]
    return lw.join(rw, cond, how).select(
        "l.*", *[F.col(f"r.{c}").alias(c) for c in right_keep]
    )


def enrich_crumbs_with_stop_stream(
    conformed_crumbs: DataFrame,
    stop_events: DataFrame,
    lookback: str = "1 hour",
) -> DataFrame:
    """Applied form: conformed breadcrumbs ⋈ a timestamped stop-event
    stream on trip_id, stops looking back ``lookback`` from each crumb.
    (The reference's stop file carries no event time — its batch merge
    is K5/q_enrich_merge; this is the streaming upgrade for a feed that
    does, e.g. arrival messages.) Watermarks: crumbs keep the T5 48h
    bound upstream; the stop side gets the same horizon."""
    return interval_join_streams(
        conformed_crumbs,
        stop_events,
        key="trip_id",
        left_ts="tstamp",
        right_ts="stop_ts",
        lookback=lookback,
        left_watermark=None,  # T5 watermark already set by conform_validate_stream
        right_watermark="48 hours",
    )


def breadcrumb_upsert_batch(trip_store: _TableStore, crumb_store: _TableStore):
    """foreachBatch body for E1: split the conformed micro-batch into the
    star pair, then Trip insert-if-absent (K4: first-writer-wins, the
    reference's ON CONFLICT DO NOTHING) before BreadCrumb append (K3) —
    preserving the reference's FK-safe insert order
    (topic_consumer.py:204-205). Idempotent per key ⇒ at-least-once
    delivery still yields exactly-once table state (T4)."""

    def apply(batch: DataFrame, epoch_id: int) -> None:
        trip, crumbs = split_star(batch)
        trip_store.upsert(trip, keys=["trip_id"])
        crumb_store.append(crumbs)

    return apply


def run_breadcrumb_pipeline(
    raw_stream: DataFrame,
    trip_store: _TableStore,
    crumb_store: _TableStore,
    checkpoint_dir: str,
    available_now: bool = True,
) -> StreamingQuery:
    """E1 end-to-end. ``availableNow`` = the reference's drain-on-idle
    shutdown (T2); a production deployment would use processingTime."""
    conformed = conform_validate_stream(raw_stream)
    writer = (
        conformed.writeStream.outputMode("append")
        .foreachBatch(breadcrumb_upsert_batch(trip_store, crumb_store))
        .option("checkpointLocation", checkpoint_dir)
    )
    trigger = {"availableNow": True} if available_now else {"processingTime": "10 seconds"}
    return writer.trigger(**trigger).start()


def stop_event_merge_batch(trip_store: _TableStore):
    """foreachBatch body for E2 (stop_consumer.py:68-80): decode codes,
    first-wins dedup per trip_id, then the set-based UPDATE merge (K5)."""

    def apply(batch: DataFrame, epoch_id: int) -> None:
        decoded = conform_stop_events(batch)
        deduped = first_wins(decoded, keys=["trip_id"], order_by=decoded.columns)
        trip_store.merge(deduped, keys=["trip_id"], set_cols=["route_id", "direction"])

    return apply


def run_stop_event_pipeline(
    raw_stream: DataFrame,
    trip_store: _TableStore,
    checkpoint_dir: str,
) -> StreamingQuery:
    return (
        raw_stream.writeStream.outputMode("append")
        .foreachBatch(stop_event_merge_batch(trip_store))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


class _TableStore:
    """Minimal upsert-able table backed by a directory of parquet files.

    With Delta/Iceberg on the classpath this would be MERGE INTO on a
    transactional table; those jars aren't in this image (guide §Sources).
    Inserts only ever append: ``upsert`` (K4) writes just the rows whose
    key is absent, and ``append`` (K3) writes the batch, so neither
    touches existing files and per-batch cost does not grow with the
    table. Each insert adds a file per written partition — at most one
    per micro-batch once AQE coalesces the small batch — until the next
    ``merge``. Only ``merge`` (K5) rewrites the snapshot, because it
    updates rows; that rewrite also compacts the files appends added
    (the scan packs small files into about one split per core). It reads
    and rewrites the whole table, which is fine for a dim-sized table
    (Trip ≈ 44.6k rows in the reference)."""

    def __init__(self, spark: SparkSession, path: str, schema):
        self.spark = spark
        self.path = path
        self.schema = schema

    def read(self) -> DataFrame:
        # The store's schema, not footer inference: no job per read, and
        # a corrupt or unreadable file raises when the read executes.
        if not os.path.exists(self.path):
            return self.spark.createDataFrame([], self.schema)
        return self.spark.read.schema(self.schema).parquet(self.path)

    def _overwrite(self, df: DataFrame) -> None:
        # The new snapshot is derived FROM the current one, so it must be
        # fully written before the dir it was read from is replaced.
        # Write executor-side to a temp dir and swap directories — the data
        # never funnels through the driver, so this holds at any table
        # size (vs. a collect()/createDataFrame round-trip, which caps the
        # table at driver memory).
        tmp = f"{self.path}.__tmp__"
        df.write.mode("overwrite").parquet(tmp)
        swap_dir(tmp, self.path)

    def upsert(self, incoming: DataFrame, keys: list[str]) -> None:
        # Written here, not through self.append, so a subclass can tell
        # dim inserts from fact appends.
        absent_rows(self.read(), incoming, keys).write.mode("append").parquet(self.path)

    def merge(self, updates: DataFrame, keys: list[str], set_cols: list[str]) -> None:
        self._overwrite(merge_update(self.read(), updates, keys, set_cols))

    def append(self, df: DataFrame) -> None:
        df.write.mode("append").parquet(self.path)
