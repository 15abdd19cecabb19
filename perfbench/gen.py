"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of ``(seed, size)``: the same seed gives
byte-identical inputs, and the engine only ever sees the files written
here. Nothing imports pyspark, so the inputs and the expected answers are
computed independently of the engine under test.

- ``write_fixture``: the TPC-H-ish star schema plus ``events``, ``documents``
  and ``embeddings``, in the column names and value domains of the engine's
  parquet fixtures (FIXTURES.md §4), at ``scale`` (0.01 = 60k lineitems).
- ``breadcrumb_batches`` / ``stop_event_batches``: raw all-string JSON
  records in the ``schemas.RAW_BREADCRUMB`` / ``RAW_STOP_EVENT`` shape, with
  every FIXTURES.md §1 dirty class at a fixed share, plus the expected
  stored-row counts and the first-wins Trip values.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["big", "blue", "green", "red", "round", "small", "steel", "tiny"]
PART_NOUN = ["bolt", "bracket", "gear", "nut", "ring", "spring", "valve", "widget"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()


def _ts_us(days: np.ndarray, base: str) -> pa.Array:
    """Whole days after ``base`` as a microsecond timestamp column."""
    micros = (np.datetime64(base, "us") + days.astype("timedelta64[D]")).astype("int64")
    return pa.array(micros, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def fixture_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """The ten fixture tables at ``scale`` (row counts follow the engine's
    fixtures: 6M lineitems, 1.5M orders, 150k customers per unit scale)."""
    rng = np.random.default_rng([seed, 1])
    n_cust = max(50, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(100, int(200_000 * scale))
    n_ord = max(500, int(1_500_000 * scale))
    n_line = 4 * n_ord
    n_evt = max(1000, int(1_000_000 * scale))
    n_user = max(20, n_cust // 10)
    n_doc = 500

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": 900.0 + rng.integers(0, 1000, n_part) / 10.0,
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": [["F", "O", "P"][i] for i in rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _ts_us(rng.integers(0, 2400, n_ord), "1995-01-01"),
            "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": [["A", "N", "R"][i] for i in rng.integers(0, 3, n_line)],
            "l_linestatus": [["F", "O"][i] for i in rng.integers(0, 2, n_line)],
            "l_shipdate": _ts_us(rng.integers(1, 2500, n_line), "1995-01-01"),
        }
    )
    # events: time-ordered over January 2024 at microsecond resolution
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n_evt)) + np.datetime64("2024-01-01", "us").astype("int64")
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_evt), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_user, n_evt), pa.int64()),
            "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_evt)],
            "value": np.maximum(np.round(rng.exponential(50.0, n_evt), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
        }
    )
    texts = [
        " ".join(WORDS[w] for w in rng.integers(0, len(WORDS), int(k)))
        for k in rng.integers(10, 100, n_doc)
    ]
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_doc), pa.int64()),
            "text": texts,
            "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n_doc)],
            "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        }
    )
    vecs = rng.standard_normal((n_doc, 64)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_doc), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_doc), pa.int32()),
        }
    )
    return t


def write_fixture(out_dir: str, seed: int, scale: float) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in fixture_tables(seed, scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# Ingest inputs
# ---------------------------------------------------------------------------

# Fixed shares of each FIXTURES.md §1 dirty class, per batch. ``empty`` rows
# carry empty-string fields that conform to NULL and are kept; the other four
# classes are rejected by validate (V1, V3, V4, V5).
DIRTY_SHARES = {"empty": 0.04, "direction": 0.02, "speed": 0.02, "no_trip": 0.02, "late": 0.02}
REJECTED = ("direction", "speed", "no_trip", "late")
OPD_DATES = [dt.date(2020, 9, 20) + dt.timedelta(days=i) for i in range(7)]


@dataclass
class IngestInputs:
    crumb_batches: list[list[dict]]
    stop_batches: list[list[dict]]
    valid_rows: int  # crumbs that survive validate, over all batches
    trips: set[int] = field(default_factory=set)  # trip ids with a valid crumb
    # trip_id -> (route_id, direction) after the stop-event merge
    merged: dict[int, tuple[int, str]] = field(default_factory=dict)


def _trip_pool(rng: np.random.Generator, n: int) -> list[tuple[int, int, dt.date]]:
    """(trip_id, vehicle_id, service date) per trip: a trip's dimension
    attributes are the same in every crumb, as in the reference feed."""
    ids = 100_000_000 + rng.choice(100_000_000, size=n, replace=False)
    return [
        (int(t), int(v), OPD_DATES[int(d)])
        for t, v, d in zip(ids, rng.integers(1000, 5000, n), rng.integers(0, len(OPD_DATES), n))
    ]


def _crumb(trip, rng: np.random.Generator) -> dict:
    trip_id, vehicle, day = trip
    return {
        "EVENT_NO_TRIP": str(trip_id),
        "EVENT_NO_STOP": str(int(rng.integers(1, 10**8))),
        "OPD_DATE": day.strftime("%d-%b-%y").upper(),
        "VEHICLE_ID": str(vehicle),
        "METERS": str(int(rng.integers(0, 100_000))),
        "ACT_TIME": str(int(rng.integers(14_400, 90_000))),
        "GPS_LONGITUDE": f"{-122.9 + 0.5 * rng.random():.6f}",
        "GPS_LATITUDE": f"{45.3 + 0.5 * rng.random():.6f}",
        "GPS_SATELLITES": str(int(rng.integers(4, 13))),
        "GPS_HDOP": f"{0.5 + 2 * rng.random():.1f}",
        "DIRECTION": str(int(rng.integers(0, 360))),
        "VELOCITY": str(int(rng.integers(0, 60))),
    }


def _dirty(rec: dict, kind: str, rng: np.random.Generator) -> None:
    if kind == "empty":
        for f in ("GPS_LATITUDE", "GPS_LONGITUDE", "DIRECTION", "VELOCITY", "METERS"):
            rec[f] = ""
    elif kind == "direction":
        rec["DIRECTION"] = str(int(rng.integers(360, 1000)))
    elif kind == "speed":
        rec["VELOCITY"] = str(int(rng.integers(201, 500)))
    elif kind == "no_trip":
        del rec["EVENT_NO_TRIP"]
    elif kind == "late":
        rec["ACT_TIME"] = str(int(rng.integers(172_801, 250_000)))


def _stop_key(rec: dict) -> tuple:
    """The ordering first_wins applies to a conformed stop event:
    (vehicle_id, route_id, direction, service_key), ascending."""
    direction = "Back" if rec["direction"] == "1" else "Out"
    service = {"W": "Weekday", "S": "Saturday"}.get(rec["service_key"], "Sunday")
    return (int(rec["vehicle_number"]), int(rec["route_number"]), direction, service)


def ingest_inputs(
    seed: int,
    n_batches: int,
    batch_rows: int,
    pool: int,
    n_stop_batches: int,
    stop_rows: int,
) -> IngestInputs:
    """``n_batches`` crumb batches of exactly ``batch_rows`` records with
    trip ids drawn from a ``pool`` of trips, so later batches mostly hit
    trips already stored; then ``n_stop_batches`` stop-event batches whose
    trip ids repeat within a batch (the first-wins path)."""
    rng = np.random.default_rng([seed, 2])
    trips = _trip_pool(rng, pool)
    n_dirty = {k: round(share * batch_rows) for k, share in DIRTY_SHARES.items()}
    kinds = [k for k, n in n_dirty.items() for _ in range(n)]
    kinds += [None] * (batch_rows - len(kinds))

    out = IngestInputs([], [], 0)
    for _ in range(n_batches):
        batch = []
        for kind, t in zip(rng.permutation(np.array(kinds, dtype=object)), rng.integers(0, pool, batch_rows)):
            rec = _crumb(trips[t], rng)
            if kind is not None:
                _dirty(rec, kind, rng)
            if kind not in REJECTED:
                out.valid_rows += 1
                out.trips.add(trips[t][0])
            batch.append(rec)
        out.crumb_batches.append(batch)

    # Stop events name a quarter of the pool, so each batch repeats trip ids.
    named = rng.choice(pool, size=max(1, pool // 4), replace=False)
    for _ in range(n_stop_batches):
        batch = []
        for t in rng.choice(named, size=stop_rows):
            trip_id, vehicle, _day = trips[int(t)]
            batch.append(
                {
                    "trip_id": str(trip_id),
                    "vehicle_number": str(vehicle),
                    "route_number": str(int(rng.integers(1, 100))),
                    "direction": ["0", "1", ""][int(rng.integers(0, 3))],
                    "service_key": ["W", "S", "U"][int(rng.integers(0, 3))],
                }
            )
        out.stop_batches.append(batch)

    # Expected Trip (route_id, direction): every trip starts at the P5
    # placeholder; each stop batch overwrites the trips it names with that
    # batch's first-wins row, batches applied in order.
    merged = {t: (0, "Out") for t in out.trips}
    for batch in out.stop_batches:
        first: dict[int, tuple] = {}
        for rec in batch:
            key = _stop_key(rec)
            tid = int(rec["trip_id"])
            if tid not in first or key < first[tid]:
                first[tid] = key
        for tid, key in first.items():
            if tid in merged:
                merged[tid] = (key[1], key[2])
    out.merged = merged
    return out


def write_jsonl(path: str, records: list[dict], mtime: float) -> None:
    """One JSON object per line. ``mtime`` orders the file stream source,
    which picks files up oldest first."""
    with open(path, "w") as fh:
        fh.write("\n".join(json.dumps(r) for r in records))
        fh.write("\n")
    os.utime(path, (mtime, mtime))
