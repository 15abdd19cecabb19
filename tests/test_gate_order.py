"""The gate order ``all_queries()`` derives from the committed correctness
records. No Spark session needed."""

from __future__ import annotations

import json

from c_tran_data_pipeline_spark.plans import registry


def test_gate_order_is_staleness_then_registration(tmp_path, monkeypatch):
    registry.all_queries()  # registers every spec
    names = list(registry._REGISTRY)
    monkeypatch.setattr(registry, "_RECORDS", tmp_path)
    assert list(registry.all_queries()) == names  # no records: registration order

    exact = [n for n in names if registry._REGISTRY[n].oracle is not None]
    rows_only = next(n for n in names if registry._REGISTRY[n].oracle is None)
    old, new, failed = exact[:3]
    records = {1: {old: True, new: True, rows_only: False}, 2: {new: True, failed: False}}
    for rnd, rows in records.items():
        (tmp_path / f"CORRECTNESS_r{rnd:02d}.json").write_text(
            json.dumps({n: {"rows_match": ok} for n, ok in rows.items()})
        )
    tail = [failed, old, new, rows_only]
    assert list(registry.all_queries()) == [n for n in names if n not in tail] + tail
