"""Query registry: every operator from SURVEY.md §2 (+ north-star
extensions) registered as a named (Spark builder, DuckDB oracle SQL) pair.

The driver runs each builder at sf=0.01 and compares against the oracle SQL
(row-count + schema + order-insensitive value hash), so:

- every computed column is aliased identically on both sides;
- float aggregates are made bit-stable across engines by summing in exact
  DECIMAL and casting the result to DOUBLE (associativity-proof), or by
  rounding where the quantity is a per-row IEEE op (deterministic);
- timestamps compare exactly because the Spark session is pinned to UTC.

Oracles marked ``None`` are genuinely non-SQL-expressible (streaming,
probabilistic LSH banding) — the driver records a weaker rows-only check
and the pytest suite carries the real assertion.
"""

from __future__ import annotations

import json
import re
from collections.abc import Callable
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession


@dataclass
class QuerySpec:
    name: str
    builder: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # ANSI SQL for DuckDB over the same parquet views
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


_REGISTRY: dict[str, QuerySpec] = {}


def register(spec: QuerySpec) -> QuerySpec:
    if spec.name in _REGISTRY:
        raise ValueError(f"duplicate query name: {spec.name}")
    _REGISTRY[spec.name] = spec
    return spec


def query(name: str, oracle: str | None, doc: str = "", tags: tuple[str, ...] = ()):
    """Decorator form: @query("q_x", "SELECT ...")."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        register(QuerySpec(name=name, builder=fn, oracle=oracle, doc=doc or fn.__doc__ or "", tags=tags))
        return fn

    return deco


_RECORDS = Path(__file__).resolve().parents[2]  # repo root: CORRECTNESS_r{N}.json


def _gate_evidence() -> tuple[dict[str, int], dict[str, int]]:
    """→ (latest passing round, latest recorded round) per query name,
    from the committed ``CORRECTNESS_r{N}.json`` records. A rows-only
    query's row (``err: no_oracle``, rows_match false) counts as recorded
    but not as passed."""
    passed: dict[str, int] = {}
    recorded: dict[str, int] = {}
    for f in _RECORDS.glob("CORRECTNESS_r*.json"):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", f.name)
        if not m:
            continue
        rnd = int(m.group(1))
        for name, row in json.loads(f.read_text()).items():
            recorded[name] = max(recorded.get(name, 0), rnd)
            if row.get("rows_match"):
                passed[name] = max(passed.get(name, 0), rnd)
    return passed, recorded


def all_queries() -> dict[str, QuerySpec]:
    """Every registered query, stalest gate evidence first.

    The external correctness gate records rows for the first 50 names
    of this order each round. The order is a stable sort of the
    registry by the committed records: names with no recorded row, then
    exact-oracle queries by latest passing round (never passed = round
    0), then rows-only queries; with no records (an installed copy) it
    is registration order. tests/test_evidence_freshness.py checks the
    window. Not derived yet: leading with queries whose plan changed
    since their last recorded row, which needs committed plan fingerprints."""
    # Import side-effect modules that register their specs.
    from c_tran_data_pipeline_spark.plans import (  # noqa: F401
        analytics,
        curation_queries,
        decision_queries,
        dedup_queries,
        graph_queries,
        multimodal_queries,
        olap_queries,
        packing_queries,
        parity,
        scale_queries,
        similarity_queries,
        text_queries,
        warehouse_queries,
    )

    passed, recorded = _gate_evidence()

    def staleness(name: str) -> tuple[int, int]:
        if name not in recorded:
            return (0, 0)
        if _REGISTRY[name].oracle is not None:
            return (1, passed.get(name, 0))
        return (2, 0)

    return {n: _REGISTRY[n] for n in sorted(_REGISTRY, key=staleness)}
