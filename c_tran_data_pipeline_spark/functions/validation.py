"""Validation predicates V1-V8 (SURVEY.md §2.4) with reject-row semantics.

The reference's ``validate_row`` (``topic_consumer.py:136-165``) drops any
row failing an assertion and counts it (``skipped_rows``,
``topic_consumer.py:268-271``). Here each assertion is a named Column
predicate; :func:`validate` applies them as one conjunctive filter (a single
codegen'd stage — and, over parquet, range predicates push into the scan)
while :func:`validate_with_audit` also returns the per-rule reject counts
via ``observe`` so the conservation identity rows_in == kept + skipped is
checkable without a second pass over the data.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Observation


def v1_trip_exists(c: Column = None) -> Column:
    """V1: EVENT_NO_TRIP / trip_id NOT NULL (topic_consumer.py:141-142)."""
    return (c if c is not None else F.col("trip_id")).isNotNull()


def v2_timestamp_exists(c: Column = None) -> Column:
    """V2: derived TIMESTAMP NOT NULL (topic_consumer.py:144-145)."""
    return (c if c is not None else F.col("tstamp")).isNotNull()


def v3_direction_range(c: Column = None) -> Column:
    """V3: direction NULL or 0-359 (topic_consumer.py:148-152)."""
    c = c if c is not None else F.col("direction")
    return c.isNull() | c.between(0, 359)


def v4_speed_range(c: Column = None) -> Column:
    """V4: speed NULL or 0-200 (topic_consumer.py:154-157)."""
    c = c if c is not None else F.col("speed")
    return c.isNull() | c.between(0, 200)


def v5_within_48h(ts: Column = None, opd_date: Column = None) -> Column:
    """V5: TIMESTAMP - OPD_DATE <= 48h (topic_consumer.py:160-163) — the
    reference's crude late/future-data bound (streaming maps it to a
    watermark, SURVEY.md §2.9 T5)."""
    ts = ts if ts is not None else F.col("tstamp")
    opd = opd_date if opd_date is not None else F.col("opd_date")
    # Vacuously true on missing inputs — V1/V2 own existence; this rule is
    # strictly the intra-record bound, so reject counts don't double-book.
    return ts.isNull() | opd.isNull() | (ts <= F.timestamp_add("HOUR", F.lit(48), opd.cast("timestamp")))


def breadcrumb_rules() -> dict[str, Column]:
    return {
        "v1_trip_exists": v1_trip_exists(),
        "v2_timestamp_exists": v2_timestamp_exists(),
        "v3_direction_range": v3_direction_range(),
        "v4_speed_range": v4_speed_range(),
        "v5_within_48h": v5_within_48h(),
    }


def validate(df: DataFrame, rules: dict[str, Column] | None = None) -> DataFrame:
    """Keep rows passing ALL rules (reject-row semantics). One conjunctive
    filter → one codegen stage; Catalyst pushes eligible conjuncts to the
    source scan."""
    rules = rules if rules is not None else breadcrumb_rules()
    pred = None
    for c in rules.values():
        pred = c if pred is None else (pred & c)
    return df if pred is None else df.filter(pred)


def validate_with_audit(
    df: DataFrame, rules: dict[str, Column] | None = None
) -> tuple[DataFrame, Observation]:
    """Validate + audit counters (A4/K7: the reference's skipped_rows /
    inserted counters, topic_consumer.py:268-276) in the SAME pass via
    ``observe`` — no second job, works identically under streaming."""
    rules = rules if rules is not None else breadcrumb_rules()
    metrics = [F.count(F.lit(1)).alias("rows_in")]
    for name, c in rules.items():
        metrics.append(F.sum(F.when(~F.coalesce(c, F.lit(False)), 1).otherwise(0)).alias(f"failed_{name}"))
    obs = Observation("validation")
    return validate(df.observe(obs, *metrics), rules), obs


def referential_check(fact: DataFrame, dim: DataFrame, keys: list[str]) -> DataFrame:
    """J4: FK-integrity check — the fact rows whose key has NO match in
    the dimension (orphans). The reference guarantees this relationally:
    ``topic_consumer.py:101`` declares ``FOREIGN KEY (trip_id)`` and the
    consumer writes Trip before BreadCrumb (``:204-205``) so inserts
    can't orphan; here the same invariant is a queryable anti-join —
    assert ``.isEmpty()`` after a pipeline, or feed the orphan rows to a
    quarantine sink. One shuffle on the key (or none when the dim
    broadcasts); at 100 TB prefer the summary form below, which never
    materializes orphan payloads."""
    return fact.join(dim.select(*keys).distinct(), keys, "left_anti")


def referential_summary(
    fact: DataFrame, dim: DataFrame, fk: str, pk: str, label: str
) -> DataFrame:
    """One-row FK audit: (fk, n_fact, n_orphans) for fact.fk → dim.pk.
    Single pass: left join the fact's key column against the distinct
    dim keys, count rows and null-matches in ONE aggregate — no second
    scan, no anti-join materialization; the join carries only the two
    key columns, so at scale the shuffle is key-width regardless of
    fact row size.

    NULL-key semantics are deliberately STRICT: a NULL fk can never
    match a dim key, so it counts as an orphan here (and surfaces as a
    row in referential_check). SQL FOREIGN KEY semantics would excuse
    NULLs — if that's wanted, pre-filter ``fact.filter(col(fk).
    isNotNull())``; an audit that silently excuses NULL keys hides the
    most common ingestion bug."""
    j = fact.select(F.col(fk).alias("__fk")).join(
        dim.select(F.col(pk).alias("__pk")).distinct(),
        F.col("__fk") == F.col("__pk"),
        "left",
    )
    return j.agg(
        F.count(F.lit(1)).alias("n_fact"),
        F.count(F.when(F.col("__pk").isNull(), 1)).alias("n_orphans"),
    ).select(F.lit(label).alias("fk"), "n_fact", "n_orphans")
