"""Upsert / merge operators (SURVEY.md §2.2 K4-K5, §2.5 J2-J3).

The reference gets idempotency from Postgres ``ON CONFLICT DO NOTHING``
(``topic_consumer.py:203``) and enrichment from serial per-row ``UPDATE``
statements (``stop_consumer.py:76-79``). On Spark both become set-based
joins — strictly better at scale (one shuffle or broadcast instead of N
round-trips), and safe from the reference's f-string SQL injection.

Scale notes: the dim table (Trip ≈ 44.6k rows in the reference) is small
relative to facts, so the enrichment join broadcasts; insert-if-absent is a
left-anti join where the *existing-keys* side can be reduced to just the key
column before the join (column pruning keeps the shuffle narrow). With a
transactional table format (Delta/Iceberg — jars not in this image) both
would be a single MERGE INTO; the DataFrame forms below are
format-agnostic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def absent_rows(existing: DataFrame, incoming: DataFrame, keys: list[str]) -> DataFrame:
    """K4/J3: the rows a first-writer-wins keyed insert (ON CONFLICT DO
    NOTHING, topic_consumer.py:203) adds — incoming ∖ existing-by-key,
    one row per key. ``first_wins`` over every column picks that row, so
    identical incoming tuples (the reference's set-based A2 dedup)
    collapse here too. The anti-join's build side is existing[keys] only."""
    incoming_first = first_wins(incoming, keys, order_by=incoming.columns)
    return incoming_first.join(existing.select(*keys), on=keys, how="left_anti")


def insert_if_absent(existing: DataFrame, incoming: DataFrame, keys: list[str]) -> DataFrame:
    """existing ∪ absent_rows(existing, incoming, keys): the table after
    the insert, for stores that commit whole snapshots."""
    return existing.unionByName(absent_rows(existing, incoming, keys))


def first_wins(df: DataFrame, keys: list[str], order_by: list[str]) -> DataFrame:
    """A3 deterministic form: the reference keeps the first row per key in
    arrival order (stop_consumer.py:71-79 — order-dependent). Distributed
    arrival order is nondeterministic, so we pin an explicit ordering:
    row_number over (keys, order_by) == 1."""
    w = Window.partitionBy(*keys).orderBy(*[F.col(c).asc_nulls_last() for c in order_by])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def merge_update(
    target: DataFrame,
    updates: DataFrame,
    keys: list[str],
    set_cols: list[str],
    broadcast_updates: bool = True,
) -> DataFrame:
    """K5/J2: keyed enrichment merge — the stop-event UPDATE
    (stop_consumer.py:76-79) as one left join + coalesce. Rows in target
    with a match take the update's values for ``set_cols``; unmatched rows
    are unchanged. ``updates`` must be unique per key (apply first_wins
    upstream — the reference dedups trip_ids per batch for the same reason).

    ``broadcast_updates`` (default True) encodes the API contract that the
    updates side is a dim-delta / micro-batch — bounded, so broadcasting it
    avoids shuffling the (much larger) target. Pass False when merging an
    unbounded update set (e.g. a full-history backfill): the join then
    shuffles both sides on ``keys`` and scales with the bigger one."""
    upd = updates.select(*keys, *[F.col(c).alias(f"__new_{c}") for c in set_cols])
    out = target.join(F.broadcast(upd) if broadcast_updates else upd, on=keys, how="left")
    for c in set_cols:
        out = out.withColumn(c, F.coalesce(F.col(f"__new_{c}"), F.col(c)))
    return out.drop(*[f"__new_{c}" for c in set_cols])
