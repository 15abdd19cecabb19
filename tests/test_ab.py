"""scripts/ab.py: the parent/change acceptance rule, tree staging and the
bench.py query-name check. Pure Python and git — no Spark session."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO / "scripts"))

from ab import stage, summarize  # noqa: E402

PARENT = [10.0, 10.2, 9.8, 10.1, 9.9, 10.0, 10.3, 9.7, 10.0, 10.1]


def test_nine_wins_and_a_tie_is_a_gain():
    change = [p - 1.0 for p in PARENT[:9]] + [PARENT[9]]
    s = summarize(PARENT, change, "lower", 0.25)
    assert s["wins"] == "9/10"
    assert s["verdict"] == "gain"


def test_eight_wins_and_two_ties_is_not_a_gain():
    change = [p - 1.0 for p in PARENT[:8]] + PARENT[8:]
    s = summarize(PARENT, change, "lower", 0.25)
    assert s["wins"] == "8/10"
    assert s["verdict"] == "same"


def test_median_gap_within_parent_iqr_is_not_a_gain():
    """Every pair won, but by less than the parent's own spread."""
    change = [p - 0.01 for p in PARENT]
    s = summarize(PARENT, change, "lower", 0.25)
    assert s["wins"] == "10/10"
    assert s["parent"]["median"] - s["change"]["median"] <= s["parent"]["iqr"]
    assert s["verdict"] == "same"


def test_thirty_percent_worse_median_is_worse():
    change = [p * 1.3 for p in PARENT]
    assert summarize(PARENT, change, "lower", 0.25)["verdict"] == "worse"
    assert summarize(PARENT, [p * 1.2 for p in PARENT], "lower", 0.25)["verdict"] == "same"


def test_wide_spread_is_unresolved():
    change = [5.0, 15.0, 6.0, 14.0, 10.0, 4.0, 16.0, 10.0, 9.0, 11.0]
    s = summarize(PARENT, change, "lower", 0.25)
    assert s["change"]["iqr"] > 0.25 * s["change"]["median"]
    assert s["verdict"] == "unresolved"


def test_full_dominance_with_wide_spread_is_not_unresolved():
    """The parent's spread is wider than the bound, but every change run
    beats every parent run, so the comparison is not left open. One change
    run inside the parent's range leaves it open again."""
    parent = [10.0, 30.0] * 5
    dominant = [9.9] * 10
    s = summarize(parent, dominant, "lower", 0.25)
    assert s["parent"]["iqr"] > 0.25 * s["parent"]["median"]
    assert s["parent"]["median"] - s["change"]["median"] <= s["parent"]["iqr"]
    assert s["verdict"] == "same"
    overlapping = [9.9] * 9 + [10.5]
    assert summarize(parent, overlapping, "lower", 0.25)["verdict"] == "unresolved"


def test_better_direction():
    """The same values are a gain when higher is better and worse when
    lower is better."""
    change = [p * 1.5 for p in PARENT]
    up = summarize(PARENT, change, "higher", 0.25)
    down = summarize(PARENT, change, "lower", 0.25)
    assert up["wins"] == "10/10" and up["verdict"] == "gain"
    assert down["wins"] == "0/10" and down["verdict"] == "worse"
    assert summarize(PARENT, [p * 0.7 for p in PARENT], "higher", 0.25)["verdict"] == "worse"


def test_summarize_rejects_an_unknown_direction():
    with pytest.raises(ValueError):
        summarize(PARENT, PARENT, "faster", 0.25)


@pytest.mark.skipif(not (REPO / ".git").exists(), reason="staging needs a git checkout")
def test_stage_head_is_a_plain_tree(tmp_path):
    tree = tmp_path / "head"
    stage("HEAD", tree)
    assert (tree / "perfbench" / "run.py").is_file()
    assert (tree / "BENCHMARK.json").is_file()
    assert not (tree / ".git").exists()


def test_bench_rejects_unknown_query_name(capsys):
    sys.path.insert(0, str(REPO))
    import bench

    with pytest.raises(SystemExit) as exc:
        bench.main(["q_flagship_hotspot", "q_no_such_query"])
    assert exc.value.code != 0
    err = capsys.readouterr().err
    assert "q_no_such_query" in err
    assert "q_flagship_hotspot" not in err.split("unknown queries:")[1]
