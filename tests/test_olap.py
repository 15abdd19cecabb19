"""OLAP pack behavior not covered by the SQL oracle: the HLL++
approximate-distinct estimate must sit within its error bound of the
exact count (the oracle can't compare engine-specific sketches)."""

from __future__ import annotations

import pytest
from c_tran_data_pipeline_spark.plans.olap_queries import q_approx_distinct
from tests.conftest import SF_ORACLE, SF_SMOKE, run_counting_jobs


def test_approx_distinct_error_bound(spark):
    rows = q_approx_distinct(spark, SF_SMOKE).collect()
    assert rows, "no event_type groups"
    for r in rows:
        # HLL++ with rsd=0.01; allow 3 standard deviations plus integer slack.
        tol = max(3, int(r.exact_users * 0.03))
        assert abs(r.approx_users - r.exact_users) <= tol, (
            f"{r.event_type}: approx {r.approx_users} vs exact {r.exact_users}"
        )


def test_approx_percentiles_within_rank_error(spark):
    """percentile_approx(accuracy=10000) vs exact percentiles: the GK
    sketch guarantees rank error ≤ n/accuracy; with n≈2k per group the
    returned value must sit within a few neighboring order statistics —
    assert the coarse value bound |approx-exact| small relative to the
    group's value spread."""
    from c_tran_data_pipeline_spark.plans.registry import all_queries

    q = all_queries()
    exact = {r["event_type"]: r for r in q["q_percentiles"].builder(spark, SF_ORACLE).collect()}
    approx = {r["event_type"]: r for r in q["q_approx_percentiles"].builder(spark, SF_ORACLE).collect()}
    assert set(exact) == set(approx)
    for et, e in exact.items():
        a = approx[et]
        spread = max(e["p75"] - e["p25"], 1e-9)
        for p in ("p25", "p50", "p75"):
            assert abs(a[p] - e[p]) <= 0.1 * spread + 1e-6, (et, p, a[p], e[p])


def test_group_moments_match_numpy_and_partitioning(spark):
    import numpy as np
    from pyspark.sql import Row

    from c_tran_data_pipeline_spark.operators.stats import group_moments

    rows = [
        Row(g="a", x=float(v), y=i % 7)
        for i, v in enumerate([1.25, 2.5, 3.75, 10.0, 2.25, 8.5, 4.0, 6.25])
    ]
    df = spark.createDataFrame(rows)
    out = group_moments(df, group="g", x="x", y="y").collect()[0]
    xs = np.array([r.x for r in rows])
    ys = np.array([r.y for r in rows], dtype=float)
    assert out.n == len(rows)
    assert abs(out.mean_x - xs.mean()) < 1e-6
    assert abs(out.stddev_x - xs.std(ddof=1)) < 1e-6
    assert abs(out.corr_x_y - np.corrcoef(xs, ys)[0, 1]) < 1e-6
    # bit-identical under a different partitioning (the design goal)
    out2 = group_moments(df.repartition(7), group="g", x="x", y="y").collect()[0]
    assert tuple(out) == tuple(out2)


def test_resample_ffill_grid_fill_and_bucket_tiebreak(spark):
    from datetime import datetime, timedelta

    from pyspark.sql import Row

    from c_tran_data_pipeline_spark.operators.asof import resample_ffill

    t0 = datetime(2024, 1, 2, 0, 0, 0)  # exactly on a day boundary

    def at(days, secs=0):
        return t0 + timedelta(days=days, seconds=secs)

    rows = [
        Row(event_id=1, user_id=1, ts=at(0, 10), value=10.0),   # day d+1 bucket
        Row(event_id=2, user_id=1, ts=at(0, 20), value=11.0),   # same bucket, later → wins
        Row(event_id=3, user_id=1, ts=at(3, 5), value=30.0),    # 2-day gap to fill
        Row(event_id=4, user_id=2, ts=at(1, 1), value=7.0),
    ]
    out = resample_ffill(spark.createDataFrame(rows), interval_seconds=86_400)
    got = {(r.user_id, r.bucket_idx): r.value_ffill for r in out.collect()}
    u1 = sorted(k[1] for k in got if k[0] == 1)
    assert len(u1) == 4  # contiguous daily grid across the gap
    assert got[(1, u1[0])] == 11.0  # last-in-bucket wins over event 1
    assert got[(1, u1[1])] == 11.0 and got[(1, u1[2])] == 11.0  # gap forward-filled
    assert got[(1, u1[3])] == 30.0
    assert [v for k, v in got.items() if k[0] == 2] == [7.0]


def test_funnel_null_progression_and_ordering(spark):
    """A later step can never be non-null when an earlier one is null,
    and step timestamps must be strictly increasing where present."""
    from c_tran_data_pipeline_spark.plans.olap_queries import q_funnel_steps
    from tests.conftest import SF_ORACLE

    rows = q_funnel_steps(spark, SF_ORACLE).collect()
    assert rows
    for r in rows:
        if r.t_click is None:
            assert r.t_purchase is None
        if r.t_click is not None:
            assert r.t_click > r.t_view
        if r.t_purchase is not None:
            assert r.t_purchase > r.t_click


def test_cohort_retention_week0_counts_every_user(spark):
    from c_tran_data_pipeline_spark.plans.olap_queries import q_cohort_retention
    from c_tran_data_pipeline_spark.sources.readers import load_table
    from tests.conftest import SF_ORACLE

    rows = q_cohort_retention(spark, SF_ORACLE).collect()
    total_users = load_table(spark, SF_ORACLE, "events").select("user_id").distinct().count()
    week0 = sum(r.n_users for r in rows if r.week_offset == 0)
    assert week0 == total_users  # everyone appears in their own cohort week
    assert all(r.week_offset >= 0 for r in rows)


def test_constraint_audit_statuses(spark):
    """The suite must exercise both statuses on TPC-H-shaped data: the
    deliberately tight quantity bound fails (TPC-H l_quantity spans
    1..50), everything else holds on the clean fixture."""
    from c_tran_data_pipeline_spark.plans.olap_queries import q_constraint_audit

    rows = {r.check_name: r for r in q_constraint_audit(spark, SF_SMOKE).collect()}
    assert len(rows) == 6
    # Genuine failures on this fixture: the tight quantity bound (TPC-H
    # quantities span 1..50) and composite-key uniqueness — the synthetic
    # generator does NOT enforce the TPC-H (l_orderkey, l_linenumber) PK
    # (sf0.001: 4599 distinct pairs over 6000 rows, measured), exactly
    # the kind of fact an audit suite exists to surface.
    failing = {"lineitem.l_quantity.le_49", "lineitem.(l_orderkey,l_linenumber).uniqueness"}
    for name, r in rows.items():
        if name in failing:
            assert r.status == "fail" and 0 < r.metric < 1, (name, r)
        else:
            assert r.status == "pass" and r.metric == 1.0, (name, r)


def test_interpolate_linear_handcrafted_gaps(spark):
    """Interior gaps blend linearly by time distance; leading/trailing
    gaps (no neighbor on one side) stay NULL; non-gap rows pass their
    value through."""
    import datetime as dt

    from c_tran_data_pipeline_spark.plans.olap_queries import q_interpolate_linear
    from c_tran_data_pipeline_spark.sources import readers

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        # user 1: v=10 at t0, gaps at +10s and +20s, v=40 at +30s
        (1, 1, t0, "view", 10.0),
        (2, 1, t0 + dt.timedelta(seconds=10), "error", 99.0),
        (3, 1, t0 + dt.timedelta(seconds=20), "error", 99.0),
        (4, 1, t0 + dt.timedelta(seconds=30), "view", 40.0),
        # user 2: leading + trailing gaps
        (5, 2, t0, "error", 99.0),
        (6, 2, t0 + dt.timedelta(seconds=5), "view", 7.0),
        (7, 2, t0 + dt.timedelta(seconds=9), "error", 99.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string, value double"
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(f"{d}/events.parquet")
        out = {r.event_id: r for r in q_interpolate_linear(spark, d).collect()}
    assert out[2].v_interp == 20.0 and out[2].is_gap
    assert out[3].v_interp == 30.0
    assert out[1].v_interp == 10.0 and not out[1].is_gap
    assert out[5].v_interp is None  # leading edge: no prior neighbor
    assert out[7].v_interp is None  # trailing edge: no next neighbor


def test_region_trend_exact_linear_fit(spark):
    """q_region_trend on a synthetic warehouse where monthly revenue is
    EXACTLY linear per region must recover the generating slope and
    intercept bit-exactly (one order per month; OLS through exact
    points is the points' own line)."""
    import datetime as dt
    import tempfile

    from c_tran_data_pipeline_spark.plans.olap_queries import q_region_trend

    truth = {"ALPHA": (100.0, 500.0), "BETA": (-20.0, 1000.0)}
    orders, custs = [], []
    for ri, (rname, (slope, icept)) in enumerate(sorted(truth.items())):
        custs.append((ri + 1, ri))  # c_custkey, c_nationkey
        for x in range(12):
            orders.append(
                (ri * 100 + x, ri + 1, dt.datetime(1995, x + 1, 15), icept + slope * x)
            )
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            orders, "o_orderkey long, o_custkey long, o_orderdate timestamp, o_totalprice double"
        ).write.parquet(f"{d}/orders.parquet")
        spark.createDataFrame(custs, "c_custkey long, c_nationkey long").write.parquet(
            f"{d}/customer.parquet"
        )
        spark.createDataFrame(
            [(0, 0), (1, 1)], "n_nationkey long, n_regionkey long"
        ).write.parquet(f"{d}/nation.parquet")
        spark.createDataFrame(
            [(0, "ALPHA"), (1, "BETA")], "r_regionkey long, r_name string"
        ).write.parquet(f"{d}/region.parquet")
        out = {r.region: r for r in q_region_trend(spark, d).collect()}
    assert set(out) == set(truth)
    for rname, (slope, icept) in truth.items():
        assert out[rname].n_months == 12
        assert out[rname].slope == slope, rname
        assert out[rname].intercept == icept, rname


def test_event_transitions_counts_and_row_stochastic(spark):
    """q_event_transitions on a handcrafted stream: exact (prev, next)
    counts, and each prev row of the matrix sums to probability 1."""
    import datetime as dt
    import tempfile

    from c_tran_data_pipeline_spark.plans.analytics import q_event_transitions

    t0 = dt.datetime(2024, 1, 1)
    seqs = {1: ["A", "B", "A", "B", "A"], 2: ["A", "A", "C"]}
    rows = [
        (uid * 100 + i, uid, t0 + dt.timedelta(seconds=i), et, 0.0)
        for uid, seq in seqs.items()
        for i, et in enumerate(seq)
    ]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows, "event_id long, user_id long, ts timestamp, event_type string, value double"
        ).write.parquet(f"{d}/events.parquet")
        out = q_event_transitions(spark, d).collect()
    got = {(r.prev_type, r.next_type): (r.n, r.p) for r in out}
    assert got == {
        ("A", "B"): (2, 0.5),
        ("B", "A"): (2, 1.0),
        ("A", "A"): (1, 0.25),
        ("A", "C"): (1, 0.25),
    }
    by_prev = {}
    for (p_, _n), (n, p) in got.items():
        by_prev[p_] = by_prev.get(p_, 0.0) + p
    assert all(abs(s - 1.0) < 1e-12 for s in by_prev.values())


def test_benford_digit_extraction_and_uniform_probs(spark):
    """Digit extraction must be exact on awkward doubles (cents path, no
    float formatting), and a handcrafted one-per-digit table yields
    uniform observed_p with the right Benford expectations."""
    import datetime as dt
    import math
    import tempfile

    from c_tran_data_pipeline_spark.plans.olap_queries import q_benford_audit

    prices = [0.01, 29.99, 3.50, 400.00, 55.5, 6999.99, 7.07, 80.80, 9.99]
    rows = [
        (i, 1, "O", p, dt.datetime(1995, 1, 1), "1-URGENT") for i, p in enumerate(prices)
    ]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows,
            "o_orderkey long, o_custkey long, o_orderstatus string, "
            "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
        ).write.parquet(f"{d}/orders.parquet")
        out = {r.digit: r for r in q_benford_audit(spark, d).collect()}
    assert set(out) == {str(i) for i in range(1, 10)}
    for dg, r in out.items():
        assert r.n == 1
        assert r.observed_p == round(1 / 9, 12)
        assert r.benford_p == round(math.log10(1 + 1 / int(dg)), 12)
        exp = 9 * math.log10(1 + 1 / int(dg))
        assert abs(r.chi2_term - (1 - exp) ** 2 / exp) < 1e-9


def test_seasonal_index_handcrafted(spark):
    import datetime as dt
    import tempfile

    from c_tran_data_pipeline_spark.plans.olap_queries import q_seasonal_index

    # one region, two months: revenue 100 and 300 → mean 200 → 0.5 / 1.5
    orders = [
        (1, 1, dt.datetime(1995, 1, 10), 60.0),
        (2, 1, dt.datetime(1995, 1, 20), 40.0),
        (3, 1, dt.datetime(1995, 2, 5), 300.0),
    ]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            orders, "o_orderkey long, o_custkey long, o_orderdate timestamp, o_totalprice double"
        ).write.parquet(f"{d}/orders.parquet")
        spark.createDataFrame([(1, 0)], "c_custkey long, c_nationkey long").write.parquet(
            f"{d}/customer.parquet"
        )
        spark.createDataFrame([(0, 0)], "n_nationkey long, n_regionkey long").write.parquet(
            f"{d}/nation.parquet"
        )
        spark.createDataFrame([(0, "ALPHA")], "r_regionkey long, r_name string").write.parquet(
            f"{d}/region.parquet"
        )
        out = {r.moy: r for r in q_seasonal_index(spark, d).collect()}
    assert out[1].revenue == 100.0 and out[1].seasonal_index == 0.5
    assert out[2].revenue == 300.0 and out[2].seasonal_index == 1.5


def test_corr_matrix_known_correlations(spark):
    """Synthetic lineitem with engineered relationships: e = 2q (corr
    +1), d = 9 − q (corr −1 with q, −1 with e), t independent-ish —
    replay all six with numpy corrcoef."""
    import tempfile

    import numpy as np

    from c_tran_data_pipeline_spark.plans.olap_queries import q_corr_matrix

    q = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0]
    e = [2 * x for x in q]
    d = [9 - x for x in q]
    t = [0.02, 0.07, 0.01, 0.05, 0.08, 0.03, 0.06, 0.04]
    rows = list(zip(q, e, d, t))
    with tempfile.TemporaryDirectory() as dd:
        spark.createDataFrame(
            rows, "l_quantity double, l_extendedprice double, l_discount double, l_tax double"
        ).write.parquet(f"{dd}/lineitem.parquet")
        out = {(r.var_x, r.var_y): r.corr for r in q_corr_matrix(spark, dd).collect()}
    arrs = {"l_quantity": q, "l_extendedprice": e, "l_discount": d, "l_tax": t}
    assert len(out) == 6
    for (vx, vy), got in out.items():
        want = float(np.corrcoef(np.array(arrs[vx]), np.array(arrs[vy]))[0, 1])
        assert abs(got - round(want, 12)) < 1e-9, (vx, vy)
    assert out[("l_quantity", "l_extendedprice")] == 1.0
    assert out[("l_quantity", "l_discount")] == -1.0


def test_assoc_rules_handcrafted(spark):
    """5 urgent baskets: {A,B}×3, {A,C}, {B,C} → only A↔B survives
    minsup 2; confidence and lift from first principles."""
    import tempfile

    from c_tran_data_pipeline_spark.plans.olap_queries import q_assoc_rules

    A, B, C = 101, 102, 103
    baskets = [[A, B], [A, B], [A, B], [A, C], [B, C]]
    orders, lis = [], []
    for ok, items in enumerate(baskets, start=1):
        orders.append((ok, 1, "O", 1.0, None, "1-URGENT"))
        for it in items:
            lis.append((ok, it))
    orders.append((99, 1, "O", 1.0, None, "3-MEDIUM"))  # non-urgent: ignored
    lis.append((99, A))
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            orders,
            "o_orderkey long, o_custkey long, o_orderstatus string, "
            "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
        ).write.parquet(f"{d}/orders.parquet")
        spark.createDataFrame(lis, "l_orderkey long, l_partkey long").write.parquet(
            f"{d}/lineitem.parquet"
        )
        out = {(r.antecedent, r.consequent): r for r in q_assoc_rules(spark, d).collect()}
    assert set(out) == {(A, B), (B, A)}
    # supp(A)=4, supp(B)=4, pair=3, N=5
    assert out[(A, B)].pair_support == 3
    assert out[(A, B)].confidence == 0.75
    assert out[(A, B)].lift == round(5 * 3 / (4 * 4), 12)
    assert out[(B, A)].confidence == 0.75


def test_cusum_changepoint_level_shift(spark):
    """Revenue 100/month for 6 months then 200/month: peak |CUSUM| at
    the last pre-shift month, scaled peak = −300."""
    import datetime as dt
    import tempfile

    from c_tran_data_pipeline_spark.plans.olap_queries import q_cusum_changepoint

    orders = [
        (m, 1, dt.datetime(1995, m + 1, 10), 100.0 if m < 6 else 200.0)
        for m in range(12)
    ]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            orders, "o_orderkey long, o_custkey long, o_orderdate timestamp, o_totalprice double"
        ).write.parquet(f"{d}/orders.parquet")
        spark.createDataFrame([(1, 0)], "c_custkey long, c_nationkey long").write.parquet(
            f"{d}/customer.parquet"
        )
        spark.createDataFrame([(0, 0)], "n_nationkey long, n_regionkey long").write.parquet(
            f"{d}/nation.parquet"
        )
        spark.createDataFrame([(0, "ALPHA")], "r_regionkey long, r_name string").write.parquet(
            f"{d}/region.parquet"
        )
        row = q_cusum_changepoint(spark, d).collect()[0]
    assert row.region == "ALPHA"
    assert row.changepoint_x == 5
    assert row.n_months == 12
    assert row.cusum_peak == -300.0


def test_trimmed_mean_drops_tails(spark):
    import datetime as dt
    import tempfile

    from c_tran_data_pipeline_spark.plans.analytics import q_trimmed_mean

    t0 = dt.datetime(2024, 1, 1)
    # 20 values: two absurd outliers each side; 10% trim keeps ranks 3..18
    vals = [-1e9, -1e9] + list(range(3, 19)) + [1e9, 1e9]
    rows = [(i, 1, t0, "view", float(v)) for i, v in enumerate(vals)]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows, "event_id long, user_id long, ts timestamp, event_type string, value double"
        ).write.parquet(f"{d}/events.parquet")
        out = {r.event_type: r for r in q_trimmed_mean(spark, d).collect()}
    assert out["view"].n_kept == 16
    assert out["view"].trimmed_mean == 10.5


def test_attribution_first_last_and_window(spark):
    import datetime as dt
    import tempfile

    from c_tran_data_pipeline_spark.plans.analytics import q_attribution

    t0 = dt.datetime(2024, 3, 1)

    def ev(eid, uid, dh, et):
        return (eid, uid, t0 + dt.timedelta(hours=dh), et, 0.0)

    rows = [
        ev(1, 1, 0, "view"),
        ev(2, 1, 1, "click"),
        ev(3, 1, 2, "purchase"),      # first=1(view) last=2(click) n=2
        ev(4, 2, 0, "purchase"),      # no touches → absent
        ev(5, 3, -24 * 8, "view"),    # 8 days before → outside 7-day window
        ev(6, 3, 0, "purchase"),      # → absent
        ev(7, 4, 0, "error"),         # non-touch type never attributes
        ev(8, 4, 1, "purchase"),      # → absent
    ]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows, "event_id long, user_id long, ts timestamp, event_type string, value double"
        ).write.parquet(f"{d}/events.parquet")
        out = {r.purchase_id: r for r in q_attribution(spark, d).collect()}
    assert set(out) == {3}
    r = out[3]
    assert (r.first_touch_id, r.first_touch_type) == (1, "view")
    assert (r.last_touch_id, r.last_touch_type) == (2, "click")
    assert r.n_touches == 2


def test_theilsen_ignores_outlier_month(spark):
    """Linear revenue +100/month with one absurd outlier month: OLS
    would be dragged; the Theil-Sen median slope stays exactly 100."""
    import datetime as dt
    import tempfile

    from c_tran_data_pipeline_spark.plans.olap_queries import q_theilsen_trend

    orders = []
    for m in range(12):
        rev = 1_000_000.0 if m == 6 else 1000.0 + 100.0 * m
        orders.append((m, 1, dt.datetime(1995, m + 1, 10), rev))
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            orders, "o_orderkey long, o_custkey long, o_orderdate timestamp, o_totalprice double"
        ).write.parquet(f"{d}/orders.parquet")
        spark.createDataFrame([(1, 0)], "c_custkey long, c_nationkey long").write.parquet(
            f"{d}/customer.parquet"
        )
        spark.createDataFrame([(0, 0)], "n_nationkey long, n_regionkey long").write.parquet(
            f"{d}/nation.parquet"
        )
        spark.createDataFrame([(0, "ALPHA")], "r_regionkey long, r_name string").write.parquet(
            f"{d}/region.parquet"
        )
        row = q_theilsen_trend(spark, d).collect()[0]
    assert row.n_pairs == 66
    assert row.ts_slope == 100.0


def test_rfm_segments_quintiles(spark):
    """10 customers, one order each, metrics arranged so quintiles are
    unambiguous: recency/frequency/monetary scores come out as planted."""
    import datetime as dt
    import tempfile

    from c_tran_data_pipeline_spark.plans.olap_queries import q_rfm_segments

    rows = []
    okey = 0
    for cust in range(1, 11):
        # customer k: k orders (frequency ladder), each 100*k dollars,
        # last order k days before the horizon (recency ladder)
        for j in range(cust):
            okey += 1
            rows.append(
                (okey, cust, "O", 100.0 * cust,
                 dt.datetime(2001, 9, 1) - dt.timedelta(days=cust + j), "1-URGENT")
            )
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows,
            "o_orderkey long, o_custkey long, o_orderstatus string, "
            "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
        ).write.parquet(f"{d}/orders.parquet")
        out = {r.custkey: r for r in q_rfm_segments(spark, d).collect()}
    # customer 1: most recent, least frequent, least monetary
    assert (out[1].r_score, out[1].f_score, out[1].m_score) == (5, 1, 1)
    # customer 10: oldest, most frequent, most monetary
    assert (out[10].r_score, out[10].f_score, out[10].m_score) == (1, 5, 5)
    assert out[10].monetary_cents == 10 * 100000  # 10 orders x $1000 in cents
    # every quintile has exactly 2 of the 10 customers
    from collections import Counter
    assert Counter(r.f_score for r in out.values()) == {1: 2, 2: 2, 3: 2, 4: 2, 5: 2}


def test_ks_test_hand_computed(spark):
    """Group1 = {1,2,3,4}, group2 = {3,4,5,6} (dollars): the ECDF gap is
    maximized at v=2 (cents 200) with |F1-F2| = 2/4 - 0/4 = 0.5."""
    import datetime as dt
    import tempfile

    from c_tran_data_pipeline_spark.plans.olap_queries import q_ks_test

    orders, custs = [], []
    for i, v in enumerate([1.0, 2.0, 3.0, 4.0]):
        custs.append((100 + i, f"b{i}", 0, 0.0, "BUILDING"))
        orders.append((i, 100 + i, "O", v, dt.datetime(1995, 1, 1), "x"))
    for i, v in enumerate([3.0, 4.0, 5.0, 6.0]):
        custs.append((200 + i, f"m{i}", 0, 0.0, "MACHINERY"))
        orders.append((10 + i, 200 + i, "O", v, dt.datetime(1995, 1, 1), "x"))
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            orders,
            "o_orderkey long, o_custkey long, o_orderstatus string, "
            "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
        ).write.parquet(f"{d}/orders.parquet")
        spark.createDataFrame(
            custs,
            "c_custkey long, c_name string, c_nationkey int, c_acctbal double, "
            "c_mktsegment string",
        ).write.parquet(f"{d}/customer.parquet")
        row = q_ks_test(spark, d).collect()[0]
    assert (row.n1, row.n2) == (4, 4)
    assert row.ks_d == 0.5
    assert row.ks_at_cents == 200


def test_large_orders_threshold_and_cents(spark):
    """Only the order whose lines sum past 180 units survives, with the
    exact cents and customer attached."""
    import datetime as dt
    import tempfile

    from c_tran_data_pipeline_spark.plans.olap_queries import q_large_orders

    li = [(1, 1, 1, 1, 100.0, 0.0, 0.0, 0.0, "N", "O", dt.datetime(1995, 1, 1)),
          (1, 2, 1, 2, 90.0, 0.0, 0.0, 0.0, "N", "O", dt.datetime(1995, 1, 1)),
          (2, 3, 1, 1, 180.0, 0.0, 0.0, 0.0, "N", "O", dt.datetime(1995, 1, 1))]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            li,
            "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
            "l_quantity double, l_extendedprice double, l_discount double, l_tax double, "
            "l_returnflag string, l_linestatus string, l_shipdate timestamp",
        ).write.parquet(f"{d}/lineitem.parquet")
        spark.createDataFrame(
            [(1, 7, "O", 1234.56, dt.datetime(1995, 2, 1), "x"),
             (2, 7, "O", 99.99, dt.datetime(1995, 2, 1), "x")],
            "o_orderkey long, o_custkey long, o_orderstatus string, "
            "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
        ).write.parquet(f"{d}/orders.parquet")
        spark.createDataFrame(
            [(7, "Customer#7", 0, 0.0, "BUILDING")],
            "c_custkey long, c_name string, c_nationkey int, c_acctbal double, "
            "c_mktsegment string",
        ).write.parquet(f"{d}/customer.parquet")
        rows = q_large_orders(spark, d).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.orderkey, r.custkey, r.total_qty, r.price_cents) == (1, 7, 190, 123456)


def test_top_supplier_share_ties_and_window(spark):
    """Two suppliers tie at max quarterly revenue; both surface, each
    with share 0.4 of the quarter (a third supplier takes 0.2); revenue
    outside Q1-1996 is invisible."""
    import datetime as dt
    import tempfile

    from c_tran_data_pipeline_spark.plans.olap_queries import q_top_supplier_share

    def line(ok, supp, price, when):
        return (ok, 1, supp, 1, 1.0, price, 0.0, 0.0, "N", "O", when)

    q1 = dt.datetime(1996, 2, 15)
    li = [line(1, 1, 200.0, q1), line(2, 2, 200.0, q1), line(3, 3, 100.0, q1),
          line(4, 3, 999.0, dt.datetime(1997, 1, 1))]  # out of window
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            li,
            "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
            "l_quantity double, l_extendedprice double, l_discount double, l_tax double, "
            "l_returnflag string, l_linestatus string, l_shipdate timestamp",
        ).write.parquet(f"{d}/lineitem.parquet")
        spark.createDataFrame(
            [(1, "S1", 0, 0.0), (2, "S2", 0, 0.0), (3, "S3", 0, 0.0)],
            "s_suppkey long, s_name string, s_nationkey int, s_acctbal double",
        ).write.parquet(f"{d}/supplier.parquet")
        rows = sorted(q_top_supplier_share(spark, d).collect(), key=lambda r: r.suppkey)
    assert [r.suppkey for r in rows] == [1, 2]
    assert all(r.rev_cents == 20000 for r in rows)
    assert all(r.rev_share == 0.4 for r in rows)


def test_yoy_growth_doubles(spark):
    """Revenue planted to double every year: growth is exactly 1.0 for
    every year after the NULL-growth base year."""
    import datetime as dt
    import tempfile

    from c_tran_data_pipeline_spark.plans.olap_queries import q_yoy_growth

    orders = [
        (y, 1, "O", 1000.0 * (2 ** (y - 1995)), dt.datetime(y, 6, 1), "x")
        for y in range(1995, 1999)
    ]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            orders,
            "o_orderkey long, o_custkey long, o_orderstatus string, "
            "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
        ).write.parquet(f"{d}/orders.parquet")
        spark.createDataFrame([(1, 0)], "c_custkey long, c_nationkey long").write.parquet(
            f"{d}/customer.parquet"
        )
        spark.createDataFrame([(0, 0)], "n_nationkey long, n_regionkey long").write.parquet(
            f"{d}/nation.parquet"
        )
        spark.createDataFrame([(0, "R")], "r_regionkey long, r_name string").write.parquet(
            f"{d}/region.parquet"
        )
        out = {r.yr: r for r in q_yoy_growth(spark, d).collect()}
    assert out[1995].prev_cents is None and out[1995].yoy_growth is None
    assert all(out[y].yoy_growth == 1.0 for y in (1996, 1997, 1998))
    assert out[1998].rev_cents == 800000


def test_modal_priority_tie_breaks_ascending(spark):
    """Two priorities tie at 2 orders in one segment: the
    lexicographically smaller one wins deterministically."""
    import datetime as dt
    import tempfile

    from c_tran_data_pipeline_spark.plans.olap_queries import q_modal_priority

    t = dt.datetime(1995, 1, 1)
    orders = [
        (1, 1, "O", 1.0, t, "2-HIGH"),
        (2, 1, "O", 1.0, t, "2-HIGH"),
        (3, 1, "O", 1.0, t, "1-URGENT"),
        (4, 1, "O", 1.0, t, "1-URGENT"),
        (5, 1, "O", 1.0, t, "5-LOW"),
    ]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            orders,
            "o_orderkey long, o_custkey long, o_orderstatus string, "
            "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
        ).write.parquet(f"{d}/orders.parquet")
        spark.createDataFrame(
            [(1, "C", 0, 0.0, "BUILDING")],
            "c_custkey long, c_name string, c_nationkey int, c_acctbal double, "
            "c_mktsegment string",
        ).write.parquet(f"{d}/customer.parquet")
        rows = q_modal_priority(spark, d).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.segment, r.modal_priority, r.n_orders) == ("BUILDING", "1-URGENT", 2)
    assert r.mode_share == 0.4


def test_mann_whitney_hand_computed_with_ties(spark):
    """Group1={1,2,3}, group2={2,3,4} dollars: tie-averaged ranks give
    R1 = 1 + 2.5 + 4.5 = 8, so U1 = 2, U2 = 7, z = -2.5/sqrt(5.25)."""
    import datetime as dt
    import math
    import tempfile

    from c_tran_data_pipeline_spark.plans.olap_queries import q_mann_whitney

    orders, custs = [], []
    for i, v in enumerate([1.0, 2.0, 3.0]):
        custs.append((100 + i, f"b{i}", 0, 0.0, "BUILDING"))
        orders.append((i, 100 + i, "O", v, dt.datetime(1995, 1, 1), "x"))
    for i, v in enumerate([2.0, 3.0, 4.0]):
        custs.append((200 + i, f"m{i}", 0, 0.0, "MACHINERY"))
        orders.append((10 + i, 200 + i, "O", v, dt.datetime(1995, 1, 1), "x"))
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            orders,
            "o_orderkey long, o_custkey long, o_orderstatus string, "
            "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
        ).write.parquet(f"{d}/orders.parquet")
        spark.createDataFrame(
            custs,
            "c_custkey long, c_name string, c_nationkey int, c_acctbal double, "
            "c_mktsegment string",
        ).write.parquet(f"{d}/customer.parquet")
        r = q_mann_whitney(spark, d).collect()[0]
    assert (r.n1, r.n2) == (3, 3)
    assert r.u1 == 2.0 and r.u2 == 7.0
    assert r.z_score == round((2.0 - 4.5) / math.sqrt(9 * 7 / 12.0), 12)


def test_survival_curve_is_monotone_and_bounded(spark):
    """Kaplan-Meier invariants: S(t) starts ≤ 1, never increases, and
    the at-risk counts telescope (n_risk strictly decreases by at least
    the step's conversions)."""
    from c_tran_data_pipeline_spark.plans import all_queries

    rows = sorted(
        all_queries()["q_survival_curve"]
        .builder(spark, "/root/testdata/sf0.001")
        .collect(),
        key=lambda r: r["dur_days"],
    )
    assert rows, "empty survival curve"
    prev_s, prev_risk = 1.0 + 1e-12, None
    for r in rows:
        assert 0.0 <= r["survival"] <= prev_s, f"S increased at t={r['dur_days']}"
        if prev_risk is not None:
            assert r["n_risk"] < prev_risk
        assert r["n_converted"] >= 1 and r["n_risk"] >= r["n_converted"]
        prev_s, prev_risk = r["survival"], r["n_risk"]


def test_ltv_recursive_per_step_rounding_is_load_bearing(spark):
    """Pin the recursion semantics on a handcrafted chain: the per-step
    round-to-cents result DIFFERS from round-at-the-end compounding
    (so no window/log-sum formula could replace the recursive CTE), and
    the value equals a driver-side replay of the same fold."""
    import tempfile

    import datetime as dt

    from decimal import Decimal, ROUND_HALF_UP

    from c_tran_data_pipeline_spark.plans.olap_queries import q_ltv_recursive

    # prices chosen so x*0.98 lands on a third decimal and rounds
    rows = [
        (1, 10, 100, "1-URGENT", dt.date(1995, 1, 1), 14.30),
        (2, 10, 100, "1-URGENT", dt.date(1995, 2, 1), 84.90),
        (3, 10, 100, "1-URGENT", dt.date(1995, 3, 1), 76.61),
        (4, 20, 100, "1-URGENT", dt.date(1995, 1, 1), 55.55),  # single-order customer
    ]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows,
            "o_orderkey long, o_custkey long, o_shippriority int,"
            " o_orderpriority string, o_orderdate date, o_totalprice double",
        ).write.parquet(f"{d}/orders.parquet")
        got = {r.o_custkey: r for r in q_ltv_recursive(spark, d).collect()}

    def fold(prices):
        v = Decimal(str(prices[0]))
        for p in prices[1:]:
            v = (v * Decimal("0.98") + Decimal(str(p))).quantize(
                Decimal("0.01"), rounding=ROUND_HALF_UP
            )
        return float(v)

    assert got[10].n_orders == 3
    assert got[10].decayed_ltv == fold([14.30, 84.90, 76.61]) == 173.54
    # round-at-the-end differs (173.55): per-step rounding is semantic,
    # not noise — no window/log-sum formula reproduces it
    at_end = (
        Decimal("14.30") * Decimal("0.98") ** 2
        + Decimal("84.90") * Decimal("0.98")
        + Decimal("76.61")
    ).quantize(Decimal("0.01"))
    assert float(at_end) == 173.55 and got[10].decayed_ltv != float(at_end)
    assert (got[20].n_orders, got[20].decayed_ltv) == (1, 55.55)


def test_sql_scripting_while_loop_convergence(spark):
    """Spark 4 SQL scripting (BEGIN/DECLARE/WHILE): find the smallest k
    such that the top-k orders by price cover >= 50% of total revenue,
    by a scripted loop issuing real queries against a temp view — the
    control-flow surface an engine user scripts without leaving SQL.
    Pinned against the direct python computation."""
    import datetime as dt
    import tempfile

    from c_tran_data_pipeline_spark.sources.readers import load_table

    prices = [100.0, 80.0, 60.0, 40.0, 20.0, 10.0, 5.0, 5.0]
    rows = [
        (i, i, 0, "1-URGENT", dt.date(1995, 1, 1 + i), p)
        for i, p in enumerate(prices)
    ]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows,
            "o_orderkey long, o_custkey long, o_shippriority int,"
            " o_orderpriority string, o_orderdate date, o_totalprice double",
        ).write.parquet(f"{d}/orders.parquet")
        load_table(spark, d, "orders").createOrReplaceTempView("orders_script")
        got = spark.sql("""
        BEGIN
          DECLARE k INT DEFAULT 0;
          DECLARE covered DOUBLE DEFAULT 0.0;
          DECLARE total DOUBLE DEFAULT 0.0;
          SET total = (SELECT SUM(o_totalprice) FROM orders_script);
          WHILE covered < 0.5 * total DO
            SET k = k + 1;
            SET covered = (
              SELECT SUM(p) FROM (
                SELECT o_totalprice AS p FROM orders_script
                ORDER BY o_totalprice DESC LIMIT k
              )
            );
          END WHILE;
          SELECT k AS k, covered AS covered, total AS total;
        END
        """).collect()[0]
    total = sum(prices)
    acc, want_k = 0.0, 0
    for p in sorted(prices, reverse=True):
        want_k += 1
        acc += p
        if acc >= 0.5 * total:
            break
    assert (got.k, got.covered, got.total) == (want_k, acc, total)


def test_ltv_lazy_fold_equals_native_recursion(spark):
    """max_depth=0 is the path q_ltv_fold takes: no checkpoint, no depth
    probe, each chain sliced by its in-group count(1). It must stay
    bit-equal to native WITH RECURSIVE (max_depth=64; the fixture's
    chains are 25 deep)."""
    from c_tran_data_pipeline_spark.operators.recursion import decayed_ltv
    from c_tran_data_pipeline_spark.sources.readers import load_table

    orders = load_table(spark, SF_SMOKE, "orders")
    rec = {r.o_custkey: (r.n_orders, r.decayed_ltv)
           for r in decayed_ltv(orders, max_depth=64).collect()}
    fold = {r.o_custkey: (r.n_orders, r.decayed_ltv)
            for r in decayed_ltv(orders, max_depth=0).collect()}
    assert rec and rec == fold
    assert max(n for n, _ in rec.values()) > 1


# The reads-workload builders other than q_rfm_segments and
# q_quality_deciles (whose approxQuantile / offsets collects are eager by
# design): once the fixture's schemas are known, building them runs no
# Spark job.
_LAZY_READS_BUILDERS = (
    "q_flagship_hotspot",
    "q_flagship_hotspot_pm",
    "q_conform_validate",
    "q_breadcrumb_conform",
    "q_enrich_merge",
    "q_sessionize",
    "q_window_hourly",
    "q_asof_prev_purchase",
    "q_top3_orders_per_customer",
    "q_pricing_summary",
    "q_ltv_fold",
    "q_corr_matrix",
)


def test_reads_builders_run_no_jobs_and_leave_no_pins(spark):
    """Job-shape guard: after one warm load of the fixture, building
    each lazy reads query runs 0 Spark jobs, and q_corr_matrix and
    q_ltv_fold leave no persisted RDD behind once collected."""
    from c_tran_data_pipeline_spark.plans.registry import all_queries
    from c_tran_data_pipeline_spark.sources.readers import load_tables

    sc = spark.sparkContext
    reg = all_queries()
    load_tables(spark, SF_SMOKE)
    for name in _LAZY_READS_BUILDERS:
        pins = sc._jsc.getPersistentRDDs().size()
        df, n = run_counting_jobs(
            sc, f"lazy_build_{name}", lambda: reg[name].builder(spark, SF_SMOKE)
        )
        assert n == 0, name
        if name in ("q_corr_matrix", "q_ltv_fold"):
            assert df.collect()
            assert sc._jsc.getPersistentRDDs().size() == pins, name


@pytest.mark.slow
def test_ltv_recursive_equals_one_shuffle_fold(spark):
    """The operator's max_depth switch routes between two physically
    different plans — native WITH RECURSIVE (one job per level) for
    shallow chains, the one-shuffle array fold (the 100 TB shape,
    bounded by orders-per-customer, no per-level jobs) for deep ones —
    pinned BIT-EQUAL at two SFs so the recursion surface and the scale
    shape can never drift apart. An independent hand-written fold (no
    code shared with the operator's fold branch) guards the fold branch
    itself at sf0.01."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from c_tran_data_pipeline_spark.operators.recursion import decayed_ltv
    from c_tran_data_pipeline_spark.sources.readers import load_table

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        orders = load_table(spark, sf, "orders")
        # max_depth=64: fixture chains are 25 deep → native recursion.
        rec = {r.o_custkey: (r.n_orders, r.decayed_ltv)
               for r in decayed_ltv(orders, max_depth=64).collect()}
        # max_depth=1: every chain is 'deep' → the fold branch over the
        # checkpointed seq; max_depth=0: the lazy fold q_ltv_fold runs.
        for depth in (1, 0):
            fold = {r.o_custkey: (r.n_orders, r.decayed_ltv)
                    for r in decayed_ltv(orders, max_depth=depth).collect()}
            assert rec == fold, (sf, depth)

    sf = "/root/testdata/sf0.01"
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    indep = (
        load_table(spark, sf, "orders")
        .select(
            "o_custkey",
            F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
            F.row_number().over(w).alias("rn"),
        )
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.expr(
                "CAST(aggregate(slice(array_sort(collect_list(struct(rn, price))), 2, 100000),"
                " array_sort(collect_list(struct(rn, price)))[0].price,"
                " (acc, x) -> CAST(round(acc * CAST(0.98 AS DECIMAL(4,2)) + x.price, 2)"
                "             AS DECIMAL(18,2))) AS DOUBLE)"
            ).alias("decayed_ltv"),
        )
    )
    want = {r.o_custkey: (r.n_orders, r.decayed_ltv) for r in indep.collect()}
    for depth in (1, 0):
        got = {r.o_custkey: (r.n_orders, r.decayed_ltv)
               for r in decayed_ltv(load_table(spark, sf, "orders"), max_depth=depth).collect()}
        assert got == want, depth
