"""Scalar transforms P1-P11 (SURVEY.md §2.3) as pure Column expressions.

The reference implements these as row-at-a-time Python dict mutation
(``topic_consumer.py:106-133``, ``stop_consumer.py:47-65``); here every one
compiles to native Catalyst expressions — whole-stage-codegen'd JVM code,
no Python in the hot path. The same functions serve batch and streaming
(the reference duplicated them across four files; we define them once).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# P1 — null normalization. Reference nulls every *falsy* field ('' , 0, None;
# topic_consumer.py:110-112), which also nulls a legitimate integer 0. We
# reproduce the empty-string→NULL coercion (the intended behavior) and
# document the divergence (SURVEY.md §2.3 P1).
# ---------------------------------------------------------------------------
def null_if_empty(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.when(F.trim(c) == "", F.lit(None)).otherwise(c)


# P2 — OPD_DATE '%d-%b-%y' (e.g. '25-SEP-20') → date (topic_consumer.py:115).
# Spark's 'MMM' month parse is case-sensitive; upstream is uppercase, so
# normalize to title case (SEP → Sep) before to_date.
def parse_opd_date(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.to_date(F.initcap(F.lower(c)), "dd-MMM-yy")


# P3 — TIMESTAMP = opd_date + ACT_TIME seconds past midnight
# (topic_consumer.py:116). ACT_TIME may legitimately exceed 86,400 (service
# past midnight), bounded by V5's 48h assertion.
def derive_timestamp(opd_date: Column, act_time_secs: Column) -> Column:
    return F.timestamp_add("SECOND", act_time_secs.cast("long"), opd_date.cast("timestamp"))


# P4 — day-of-week → service_key (topic_consumer.py:122-123). Python
# weekday(): 0-4 Weekday, 5 Saturday, 6 Sunday. Spark dayofweek(): 1=Sunday,
# 7=Saturday.
def service_key_for(opd_date: Column | str) -> Column:
    c = F.col(opd_date) if isinstance(opd_date, str) else opd_date
    dow = F.dayofweek(c)
    return (
        F.when(dow == 1, F.lit("Sunday"))
        .when(dow == 7, F.lit("Saturday"))
        .otherwise(F.lit("Weekday"))
    )


# P6 — direction code decode (stop_consumer.py:50-56 + the ''→'Out' force at
# :75-76): '0'→Out, '1'→Back, anything else→Out.
def decode_direction(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.when(c == "1", F.lit("Back")).otherwise(F.lit("Out"))


# P7 — service_key code decode (stop_consumer.py:57-63): 'W'→Weekday,
# 'S'→Saturday, else→Sunday (the reference's 'U' falls through to Sunday).
def decode_service_key(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.when(c == "W", F.lit("Weekday"))
        .when(c == "S", F.lit("Saturday"))
        .otherwise(F.lit("Sunday"))
    )


# ---------------------------------------------------------------------------
# transform(): the full conform step for raw breadcrumbs
# (topic_consumer.py:106-133 / load_inserts.py:63-90). One declarative
# select; Catalyst prunes the unused raw columns out of the scan.
# ---------------------------------------------------------------------------
def conform_breadcrumbs(raw: DataFrame) -> DataFrame:
    """Raw all-string breadcrumbs → typed rows with derived columns.

    Produces the union of Trip-dimension and BreadCrumb-fact columns; callers
    split it (see :func:`split_star`). P5's placeholder enrichment
    (route_id=0, direction='Out'; topic_consumer.py:125-131) is applied here
    and later corrected by the stop-event merge (operators.upsert).
    """
    opd = parse_opd_date(null_if_empty("OPD_DATE"))
    return raw.select(
        null_if_empty("EVENT_NO_TRIP").cast("int").alias("trip_id"),
        derive_timestamp(opd, null_if_empty("ACT_TIME").cast("long")).alias("tstamp"),
        opd.alias("opd_date"),
        null_if_empty("GPS_LATITUDE").cast("double").alias("latitude"),
        null_if_empty("GPS_LONGITUDE").cast("double").alias("longitude"),
        null_if_empty("DIRECTION").cast("int").alias("direction"),
        null_if_empty("VELOCITY").cast("double").alias("speed"),
        null_if_empty("VEHICLE_ID").cast("int").alias("vehicle_id"),
        service_key_for(opd).alias("service_key"),
        F.lit("Out").alias("trip_direction"),  # P5 placeholder
        F.lit(0).alias("route_id"),  # P5 placeholder
    )


def conform_stop_events(raw: DataFrame) -> DataFrame:
    """row2vals (stop_consumer.py:47-65): decode codes, cast keys."""
    return raw.select(
        null_if_empty("trip_id").cast("int").alias("trip_id"),
        null_if_empty("vehicle_number").cast("int").alias("vehicle_id"),
        null_if_empty("route_number").cast("int").alias("route_id"),
        decode_direction("direction").alias("direction"),
        decode_service_key("service_key").alias("service_key"),
    )


def split_star(conformed: DataFrame) -> tuple[DataFrame, DataFrame]:
    """store() (topic_consumer.py:174-193): one conformed stream → the
    (Trip dim, BreadCrumb fact) pair. Trip rows are one per crumb: the
    reference's whole-tuple set() dedup (A2) is subsumed by the key-level
    first-wins of the Trip insert (operators.upsert.absent_rows), which
    keeps one row per trip_id and so one of any identical tuples.
    """
    trip = conformed.select(
        "trip_id",
        "route_id",
        "vehicle_id",
        "service_key",
        F.col("trip_direction").alias("direction"),
    )
    breadcrumb = conformed.select(
        "tstamp", "latitude", "longitude", "direction", "speed", "trip_id"
    )
    return trip, breadcrumb
