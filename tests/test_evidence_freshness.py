"""Driver-evidence freshness gate (VERDICT r8 #1): rotation debt must be
a RED TEST, not a judge recomputation.

The external driver gates the first 50 names of ``all_queries()`` per
round and commits the rows as ``CORRECTNESS_r{N}.json``. This test
parses the committed union and fails if any exact-oracle query's latest
green row is more than ``MAX_AGE`` rounds old AND is not scheduled in
the current round's gate window — the order ``all_queries()`` derives
from those records must lead with the stalest cohort. No Spark
session needed (``all_queries()`` only registers specs)."""

from __future__ import annotations

import glob
import json
import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

# A query's evidence may age at most this many rounds before it must
# rotate back into the gate. With a 50-row budget over ~250 exact
# queries, a full sweep takes 5 rounds — so 5 is the tightest bound the
# budget can honor.
MAX_AGE = 5

# The driver records rows for this many names per round (hard cap).
GATE_BUDGET = 50


def _latest_evidence() -> tuple[dict[str, int], dict[str, int], int]:
    """→ (latest PASS round per query, latest RECORDED round per query,
    newest committed round). A rows-only query's driver row carries
    ``err: no_oracle`` with rows_match false — that still counts as
    'recorded' (the driver saw it) but not as an exact pass."""
    passed: dict[str, int] = {}
    recorded: dict[str, int] = {}
    rounds = [0]
    for f in sorted(glob.glob(str(REPO / "CORRECTNESS_r*.json"))):
        m = re.search(r"_r(\d+)\.json$", f)
        if not m:
            continue
        rnd = int(m.group(1))
        rounds.append(rnd)
        for q, row in json.load(open(f)).items():
            recorded[q] = max(recorded.get(q, 0), rnd)
            if row.get("rows_match"):
                passed[q] = max(passed.get(q, 0), rnd)
    return passed, recorded, max(rounds)


def test_no_exact_query_evidence_older_than_max_age():
    from c_tran_data_pipeline_spark.plans.registry import all_queries

    reg = all_queries()
    passed, _recorded, last_round = _latest_evidence()
    current_round = last_round + 1  # the round being built right now
    gate_window = set(list(reg)[:GATE_BUDGET])

    overdue = []
    for name, spec in reg.items():
        if spec.oracle is None:
            continue  # rows-only: the pytest suite carries the assertion
        age = current_round - passed.get(name, 0)
        if age > MAX_AGE and name not in gate_window:
            overdue.append((name, passed.get(name), age))
    assert not overdue, (
        f"{len(overdue)} exact queries have driver evidence >{MAX_AGE} "
        f"rounds old and are NOT in this round's 50-name gate window — "
        f"all_queries()'s derived order must lead with them: {sorted(overdue)[:20]}"
    )


def test_new_registrations_lead_the_gate():
    """A query with NO committed driver evidence at all must sit inside
    the gate window — otherwise it ships evidence-free."""
    from c_tran_data_pipeline_spark.plans.registry import all_queries

    reg = all_queries()
    _passed, recorded, _ = _latest_evidence()
    gate_window = set(list(reg)[:GATE_BUDGET])
    unevidenced = [n for n in reg if n not in recorded and n not in gate_window]
    assert not unevidenced, (
        f"registered queries with no driver evidence outside the gate "
        f"window: {unevidenced}"
    )
