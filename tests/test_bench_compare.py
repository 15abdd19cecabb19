"""scripts/bench_compare.py: the mechanical round-over-round bench
adjudicator (VERDICT r7 #1). Pure-Python classification semantics —
no Spark session needed."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))

from bench_compare import compare  # noqa: E402


def test_calibrated_ratio_classification():
    """Both sides calibrated: a query 2× slower in raw seconds on a 2×
    slower host is STABLE (the ratio cancels); a genuinely regressed
    query is flagged even when the host got faster."""
    old = {"calibration_sec": 0.5, "queries_min": {"a": 1.0, "b": 1.0, "c": 1.0}}
    new = {
        "calibration_sec": 1.0,  # host 2× slower
        "queries_min": {"a": 2.0, "b": 4.0, "c": 0.4, "d": 9.9},
    }
    r = compare(old, new, 1.5)
    assert r["old_calibrated"] and r["new_calibrated"]
    assert r["n_stable"] == 1 and "a" not in [e["query"] for e in r["regressed"]]
    assert [e["query"] for e in r["regressed"]] == ["b"]  # 4.0/1.0 vs 1.0/0.5 = 2×
    assert [e["query"] for e in r["improved"]] == ["c"]  # 0.4 vs 2.0 calibrated
    assert r["n_new_only"] == 1 and r["n_old_only"] == 0


def test_uncalibrated_old_falls_back_to_raw():
    """An old record without calibration must compare raw-vs-raw (a
    one-sided division would manufacture fake movers) and say so."""
    old = {"queries_min": {"a": 1.0}}
    new = {"calibration_sec": 0.5, "queries_min": {"a": 1.2}}
    r = compare(old, new, 1.5)
    assert not r["old_calibrated"] and r["new_calibrated"]
    assert r["n_regressed"] == 0 and r["n_stable"] == 1  # 1.2/1.0 < 1.5 raw


def test_median_fallback_and_zero_guard():
    old = {"queries": {"a": 2.0, "z": 0.0}}  # pre-min records used 'queries'
    new = {"queries_min": {"a": 2.9, "z": 1.0}}
    r = compare(old, new, 1.5)
    assert r["n_stable"] == 1  # 'a' at 1.45×; 'z' skipped (old <= 0)
    assert r["n_regressed"] == 0


def test_entries_carry_calibrated_values():
    """ADVICE r8: regressed/improved entries must be self-consistent —
    when calibrations differ, raw old/new can't reproduce the calibrated
    ratio, so each entry carries old_cal/new_cal with ratio == new_cal /
    old_cal."""
    old = {"calibration_sec": 0.5, "queries_min": {"a": 1.0, "c": 2.0}}
    new = {"calibration_sec": 1.0, "queries_min": {"a": 4.0, "c": 0.4}}
    r = compare(old, new, 1.5)
    for e in r["regressed"] + r["improved"]:
        assert "old_cal" in e and "new_cal" in e
        assert abs(e["ratio"] - e["new_cal"] / e["old_cal"]) < 1e-2
    assert [e["query"] for e in r["regressed"]] == ["a"]
    assert r["regressed"][0]["old_cal"] == 2.0  # 1.0 / 0.5
    assert r["regressed"][0]["new_cal"] == 4.0  # 4.0 / 1.0


def test_moved_entries_name_the_profile_fields_that_differ():
    """With a profile block on both sides, a moved query's entry lists
    each differing field as [old, new]; without one it stays as is."""
    old = {
        "queries_min": {"a": 1.0, "b": 1.0},
        "profile": {"a": {"jobs": 2, "build_jobs": 0, "exchanges": 1}, "b": {"jobs": 2}},
    }
    new = {
        "queries_min": {"a": 3.0, "b": 1.0},
        "profile": {"a": {"jobs": 6, "build_jobs": 4, "exchanges": 1}, "b": {"jobs": 9}},
    }
    r = compare(old, new, 1.5)
    assert r["regressed"][0]["profile"] == {"build_jobs": [0, 4], "jobs": [2, 6]}
    assert r["n_stable"] == 1  # 'b' moved layers but not time: no entry
    bare = compare({"queries_min": old["queries_min"]}, new, 1.5)
    assert "profile" not in bare["regressed"][0]


def test_r01_subtotal_is_the_first_twenty_headline_queries():
    """r01_comparable_total sums HEADLINE[:20]. The headline list only
    grows at the end, so queries added after round 1 stay out of it,
    the two newest included."""
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    from bench import HEADLINE

    r01 = HEADLINE[:20]
    assert len(set(r01)) == 20
    assert "q_corpus_prep_crossmodal" not in r01
    assert "q_ann_ivfpq_append" not in r01


def test_different_core_counts_refuse_with_exit_2(tmp_path, monkeypatch, capsys):
    """A calibrated comparison across core counts compares cores, not
    code: the CLI refuses with exit 2 and names both counts."""
    import json

    import bench_compare
    import pytest

    for name, cores in (("old", 32), ("new", 4)):
        rec = {"cores": cores, "calibration_sec": 1.0, "queries_min": {"a": 1.0}}
        (tmp_path / f"{name}.json").write_text(json.dumps(rec))
    monkeypatch.setattr(sys, "argv", ["x", str(tmp_path / "old.json"), str(tmp_path / "new.json")])
    with pytest.raises(SystemExit) as exc:
        bench_compare.main()
    err = capsys.readouterr().err
    assert exc.value.code == 2 and "old 32" in err and "new 4" in err


def test_core_counts_checked_only_when_both_records_carry_them():
    """A record without ``cores`` compares as before and says so."""
    old = {"cores": 4, "calibration_sec": 1.0, "queries_min": {"a": 1.0}}
    new = {"cores": 4, "calibration_sec": 1.0, "queries_min": {"a": 2.0}}
    assert compare(old, new, 1.5)["cores_checked"] is True
    r = compare({k: v for k, v in old.items() if k != "cores"}, new, 1.5)
    assert r["cores_checked"] is False and r["n_regressed"] == 1
