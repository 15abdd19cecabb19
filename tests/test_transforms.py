"""Unit tests for the breadcrumb conform/validate path on dirty synthetic
rows — the fixture requirements of FIXTURES.md §1 (empty strings,
out-of-range direction/speed, missing trip id, >48h ACT_TIME), plus the
reference's quirky decode semantics (P6 ''→Out, P7 'U'→Sunday)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Row

from c_tran_data_pipeline_spark import schemas
from c_tran_data_pipeline_spark.functions.transforms import (
    conform_breadcrumbs,
    conform_stop_events,
    split_star,
)
from c_tran_data_pipeline_spark.functions.validation import validate, validate_with_audit


def _raw(spark, rows):
    full = [{f.name: r.get(f.name) for f in schemas.RAW_BREADCRUMB.fields} for r in rows]
    return spark.createDataFrame(full, schema=schemas.RAW_BREADCRUMB)


GOOD = {
    "EVENT_NO_TRIP": "169302880",
    "OPD_DATE": "25-SEP-20",
    "VEHICLE_ID": "4008",
    "ACT_TIME": "59350",
    "GPS_LATITUDE": "45.523451",
    "GPS_LONGITUDE": "-122.676207",
    "DIRECTION": "143",
    "VELOCITY": "12",
}


def test_conform_types_and_derivations(spark):
    out = conform_breadcrumbs(_raw(spark, [GOOD])).collect()[0]
    assert out.trip_id == 169302880
    assert out.vehicle_id == 4008
    # P2+P3: 25-SEP-20 (a Friday) + 59350s = 16:29:10
    assert out.tstamp == dt.datetime(2020, 9, 25, 16, 29, 10)
    assert out.opd_date == dt.date(2020, 9, 25)
    assert abs(out.latitude - 45.523451) < 1e-9
    assert out.speed == 12.0
    assert out.service_key == "Weekday"  # P4: Friday
    assert out.trip_direction == "Out" and out.route_id == 0  # P5 placeholders


def test_service_key_weekend(spark):
    sat = dict(GOOD, OPD_DATE="26-SEP-20")
    sun = dict(GOOD, OPD_DATE="27-SEP-20")
    rows = conform_breadcrumbs(_raw(spark, [sat, sun])).orderBy("opd_date").collect()
    assert [r.service_key for r in rows] == ["Saturday", "Sunday"]


def test_null_normalization_empty_strings(spark):
    dirty = dict(GOOD, GPS_LATITUDE="", VELOCITY="", DIRECTION="")
    out = conform_breadcrumbs(_raw(spark, [dirty])).collect()[0]
    assert out.latitude is None and out.speed is None and out.direction is None


def test_validate_rejects_each_rule(spark):
    rows = [
        GOOD,
        dict(GOOD, EVENT_NO_TRIP=None),  # V1
        dict(GOOD, OPD_DATE=""),  # V2 (no date → no timestamp)
        dict(GOOD, DIRECTION="360"),  # V3
        dict(GOOD, VELOCITY="201"),  # V4
        dict(GOOD, ACT_TIME="172801"),  # V5: >48h past midnight
        dict(GOOD, DIRECTION=""),  # null direction allowed
        dict(GOOD, VELOCITY="200"),  # boundary allowed
    ]
    conformed = conform_breadcrumbs(_raw(spark, rows))
    kept, obs = validate_with_audit(conformed)
    assert kept.count() == 3
    m = obs.get
    assert m["rows_in"] == 8
    assert m["failed_v1_trip_exists"] == 1
    assert m["failed_v2_timestamp_exists"] == 1
    assert m["failed_v3_direction_range"] == 1
    assert m["failed_v4_speed_range"] == 1
    assert m["failed_v5_within_48h"] == 1
    # conservation identity: rows_in == kept + skipped (reference's
    # reconciliation check, SURVEY.md §5.2)
    assert m["rows_in"] == 3 + 5


def test_act_time_rolls_into_next_day(spark):
    late = dict(GOOD, ACT_TIME="90000")  # 25h → next day 01:00
    out = validate(conform_breadcrumbs(_raw(spark, [late]))).collect()
    assert len(out) == 1
    assert out[0].tstamp == dt.datetime(2020, 9, 26, 1, 0, 0)


def test_stop_event_decode_quirks(spark):
    rows = [
        Row(trip_id="1", vehicle_number="10", route_number="65", direction="0", service_key="W"),
        Row(trip_id="2", vehicle_number="11", route_number="65", direction="1", service_key="S"),
        Row(trip_id="3", vehicle_number="12", route_number="65", direction="", service_key="U"),
        Row(trip_id="4", vehicle_number="13", route_number="65", direction="7", service_key="X"),
    ]
    df = spark.createDataFrame(rows, schema=schemas.RAW_STOP_EVENT)
    out = {r.trip_id: r for r in conform_stop_events(df).collect()}
    assert out[1].direction == "Out" and out[1].service_key == "Weekday"
    assert out[2].direction == "Back" and out[2].service_key == "Saturday"
    # P6: ''→Out; P7: 'U' falls through to Sunday (reference quirk)
    assert out[3].direction == "Out" and out[3].service_key == "Sunday"
    # P6: any non-'1' → Out; P7: unknown → Sunday
    assert out[4].direction == "Out" and out[4].service_key == "Sunday"


def test_split_star_dedups_trip_tuples(spark):
    """A2 (the reference's whole-tuple set()) holds where Trip rows are
    stored: split_star keeps one Trip row per crumb, and the insert's
    key-level first-wins keeps one row per trip_id, so identical tuples
    collapse and every stored row is one of the distinct tuples."""
    from c_tran_data_pipeline_spark.operators.upsert import absent_rows, insert_if_absent

    rows = [GOOD, dict(GOOD), dict(GOOD, VEHICLE_ID="9999")]
    trip, bc = split_star(conform_breadcrumbs(_raw(spark, rows)))
    assert bc.count() == 3
    assert set(trip.columns) == {"trip_id", "route_id", "vehicle_id", "service_key", "direction"}

    def tuples(df):
        return [tuple(sorted(r.asDict().items())) for r in df.collect()]

    distinct = set(tuples(trip))
    assert len(distinct) == 2  # A2's set
    empty = spark.createDataFrame([], schemas.TRIP)
    for stored in (
        absent_rows(empty, trip, ["trip_id"]),
        insert_if_absent(empty, trip, ["trip_id"]),
    ):
        got = tuples(stored)
        assert len(got) == 1  # one row per key, so no repeated tuple
        assert set(got) <= distinct
        assert dict(got[0])["vehicle_id"] == 4008  # first-wins


def test_pii_scrub_redacts_and_preserves(spark):
    from pyspark.sql import Row

    from c_tran_data_pipeline_spark.functions.text import pii_scrub

    df = spark.createDataFrame(
        [
            Row(id=1, t="mail a.user+tag@sub.example.org or 503-555-0142 now"),
            Row(id=2, t="no pii here, just 1234-5678 and @mentions"),
        ]
    )
    out = {r.id: r.s for r in df.select("id", pii_scrub("t").alias("s")).collect()}
    assert out[1] == "mail [EMAIL] or [PHONE] now"
    assert out[2] == "no pii here, just 1234-5678 and @mentions"


def test_dup_token_fraction_known_values(spark):
    from pyspark.sql import Row

    from c_tran_data_pipeline_spark.functions.text import dup_token_fraction

    df = spark.createDataFrame(
        [Row(id=1, t="a b a b a"), Row(id=2, t="x y z"), Row(id=3, t="w w w w")]
    )
    out = {r.id: r.f for r in df.select("id", dup_token_fraction("t").alias("f")).collect()}
    assert out[1] == 0.6  # 5 tokens, 2 distinct -> 3/5
    assert out[2] == 0.0
    assert out[3] == 0.75


def test_referential_check_and_summary_strict_null_semantics(spark):
    """J4 operators: orphans = fact keys with no dim match, and a NULL
    fk counts as an orphan BY DESIGN (strict audit — SQL FK semantics
    would excuse NULLs, which hides the most common ingestion bug);
    dim-side duplicate keys must not multiply fact rows."""
    from pyspark.sql import functions as F

    from c_tran_data_pipeline_spark.functions.validation import (
        referential_check,
        referential_summary,
    )

    fact = spark.createDataFrame(
        [(1, "a"), (2, "b"), (99, "c"), (None, "d")], "fk int, payload string"
    )
    # dim carries a duplicate key on purpose: distinct() inside must
    # prevent row multiplication in both operators
    dim = spark.createDataFrame([(1,), (1,), (2,), (3,)], "pk int")

    orphans = referential_check(
        fact, dim.select(F.col("pk").alias("fk")), ["fk"]
    ).collect()
    assert sorted(r["payload"] for r in orphans) == ["c", "d"]

    row = referential_summary(fact, dim, "fk", "pk", "fact.fk->dim.pk").collect()[0]
    assert (row["fk"], row["n_fact"], row["n_orphans"]) == ("fact.fk->dim.pk", 4, 2)


def test_autocorr_daily_periodic_vs_noise(spark):
    """A perfectly 24h-periodic hourly profile scores exactly 1.0; a
    pseudo-random profile scores well below."""
    import datetime as dt
    import tempfile

    from c_tran_data_pipeline_spark.plans.analytics import q_autocorr_daily

    t0 = dt.datetime(2024, 1, 1)
    rows, eid = [], 0
    for t in range(96):  # 4 days of hours
        periodic = 5 if (t % 24) < 12 else 1
        noisy = (t * 37) % 7 + 1
        for _ in range(periodic):
            eid += 1
            rows.append((eid, 1, t0 + dt.timedelta(hours=t, minutes=5), "p", 0.0))
        for _ in range(noisy):
            eid += 1
            rows.append((eid, 2, t0 + dt.timedelta(hours=t, minutes=7), "r", 0.0))
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows, "event_id long, user_id long, ts timestamp, event_type string, value double"
        ).write.parquet(f"{d}/events.parquet")
        out = {r.event_type: r for r in q_autocorr_daily(spark, d).collect()}
    assert out["p"].n_hour_pairs == 72
    assert out["p"].autocorr_24h == 1.0
    assert abs(out["r"].autocorr_24h) < 0.9


def test_zipf_fit_recovers_planted_exponent(spark):
    """Documents with token counts planted as round(2000/k) (a Zipf
    s=1 law, ranks 1..30): the fitted s_hat lands near 1 with r²≈1,
    and the output equals a numpy replay of the same integerized fit."""
    import math
    import tempfile

    import numpy as np

    from c_tran_data_pipeline_spark.plans.text_queries import q_zipf_fit

    counts = {f"tok{k:02d}": round(2000 / k) for k in range(1, 31)}
    rows = [(k, " ".join([w] * c)) for k, (w, c) in enumerate(counts.items())]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
            f"{d}/documents.parquet"
        )
        row = q_zipf_fit(spark, d).collect()[0]
    assert row.n_ranks == 30
    ranked = sorted(counts.values(), reverse=True)
    x = np.array([round(math.log(r) * 1e6) for r in range(1, 31)], dtype=float)
    y = np.array([round(math.log(c) * 1e6) for c in ranked], dtype=float)
    n = 30.0
    num = n * (x * y).sum() - x.sum() * y.sum()
    denx = n * (x * x).sum() - x.sum() ** 2
    deny = n * (y * y).sum() - y.sum() ** 2
    assert row.s_hat == round(-(num / denx), 12)
    assert row.r2 == round(num * num / (denx * deny), 12)
    assert 0.9 < row.s_hat < 1.1
    assert row.r2 > 0.99


def test_user_entropy_uniform_vs_concentrated(spark):
    """A user spread uniformly over 4 types scores exactly the
    integerized ln(4); a single-type user scores exactly 0."""
    import datetime as dt
    import math
    import tempfile

    from c_tran_data_pipeline_spark.plans.analytics import q_user_entropy

    t0 = dt.datetime(2024, 1, 1)
    rows, eid = [], 0
    for ty in ["a", "b", "c", "d"]:
        for _ in range(5):
            eid += 1
            rows.append((eid, 1, t0, ty, 0.0))
    for _ in range(8):
        eid += 1
        rows.append((eid, 2, t0, "a", 0.0))
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows, "event_id long, user_id long, ts timestamp, event_type string, value double"
        ).write.parquet(f"{d}/events.parquet")
        out = {r.user_id: r for r in q_user_entropy(spark, d).collect()}
    # replay the integerized formula: H = ln(n) - (sum round(ln c * 1e6)*c / 1e6)/n
    sw = round(math.log(5) * 1e6) * 5 * 4
    expected = round(math.log(20) - (sw / 1e6) / 20, 12)
    assert out[1].n_types == 4 and out[1].n_events == 20
    assert out[1].entropy == expected
    assert abs(out[1].entropy - math.log(4)) < 1e-6
    assert out[2].entropy == round(math.log(8) - (round(math.log(8) * 1e6) * 8 / 1e6) / 8, 12)
    assert abs(out[2].entropy) < 1e-6


def test_session_ngrams_respects_session_boundary(spark):
    """view>click>purchase repeated in one session dominates; a trigram
    spanning a 31-minute gap is never emitted."""
    import datetime as dt
    import tempfile

    from c_tran_data_pipeline_spark.plans.analytics import q_session_ngrams

    t0 = dt.datetime(2024, 1, 1)
    rows, eid = [], 0

    def ev(user, minute, ty):
        nonlocal eid
        eid += 1
        rows.append((eid, user, t0 + dt.timedelta(minutes=minute), ty, 0.0))

    # session 1: v c p v c p  -> trigrams vcp, cpv, pvc, vcp
    for i, ty in enumerate(["view", "click", "purchase", "view", "click", "purchase"]):
        ev(1, i, ty)
    # 31-min gap, then: error error -> too short for any trigram, but
    # spanning the gap WOULD have formed purchase>error>error
    ev(1, 36, "error")
    ev(1, 37, "error")
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows, "event_id long, user_id long, ts timestamp, event_type string, value double"
        ).write.parquet(f"{d}/events.parquet")
        out = q_session_ngrams(spark, d).collect()
    got = {r.trigram: (r.n, r.rank) for r in out}
    assert got["view>click>purchase"] == (2, 1)
    assert "purchase>error>error" not in got
    assert "click>purchase>error" not in got
    assert len(out) == 3  # vcp, cpv, pvc


def test_chi2_independence_uniform_is_zero(spark):
    """A perfectly balanced type x weekday grid has expected == observed
    and every chi2 term exactly 0; doubling one cell makes its term the
    planted (o-e)^2/e."""
    import datetime as dt
    import tempfile

    from c_tran_data_pipeline_spark.plans.analytics import q_chi2_independence

    t0 = dt.datetime(2024, 1, 1)  # a Monday
    rows, eid = [], 0
    for day in range(7):
        for ty in ["a", "b"]:
            for _ in range(3):
                eid += 1
                rows.append((eid, 1, t0 + dt.timedelta(days=day), ty, 0.0))
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows, "event_id long, user_id long, ts timestamp, event_type string, value double"
        ).write.parquet(f"{d}/events.parquet")
        out = q_chi2_independence(spark, d).collect()
    assert len(out) == 14
    assert all(r.chi2_term == 0.0 for r in out)
    assert all(r.expected == 3.0 for r in out)


def test_interarrival_stats_exact_rank_picks(spark):
    """10 planted gaps of 1..10 minutes (shuffled arrival order): the
    lower median is the rank-5 gap (5 min) and p90 is the rank-9 gap
    (9 min), both exact integers — no interpolation."""
    import datetime as dt
    import tempfile

    from c_tran_data_pipeline_spark.plans.analytics import q_interarrival_stats

    t0 = dt.datetime(2024, 1, 1)
    gaps = [7, 2, 9, 1, 5, 10, 3, 8, 4, 6]  # minutes, arbitrary order
    rows, eid, cur = [(1, 1, t0, "a", 0.0)], 1, t0
    for g in gaps:
        eid += 1
        cur = cur + dt.timedelta(minutes=g)
        rows.append((eid, 1, cur, "a", 0.0))
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows, "event_id long, user_id long, ts timestamp, event_type string, value double"
        ).write.parquet(f"{d}/events.parquet")
        r = q_interarrival_stats(spark, d).collect()[0]
    assert r.n_gaps == 10
    assert (r.min_gap_us, r.max_gap_us) == (60_000_000, 600_000_000)
    assert r.median_gap_us == 5 * 60_000_000   # rank (10+1) DIV 2 = 5
    assert r.p90_gap_us == 9 * 60_000_000      # rank (90+9) DIV 10 = 9


def test_cramers_v_perfect_association_and_independence(spark):
    """Type 'a' only on Monday, 'b' only on Tuesday (2x2, perfect
    association): V = 1.0. A balanced grid scores V = 0.0."""
    import datetime as dt
    import tempfile

    from c_tran_data_pipeline_spark.plans.analytics import q_cramers_v

    mon, tue = dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 2)

    def run(rows):
        with tempfile.TemporaryDirectory() as d:
            spark.createDataFrame(
                rows,
                "event_id long, user_id long, ts timestamp, event_type string, value double",
            ).write.parquet(f"{d}/events.parquet")
            return q_cramers_v(spark, d).collect()[0]

    perfect = [(i, 1, mon, "a", 0.0) for i in range(10)] + [
        (100 + i, 1, tue, "b", 0.0) for i in range(10)
    ]
    r = run(perfect)
    assert (r.n_rows_cat, r.n_cols_cat, r.n_total, r.dof) == (2, 2, 20, 1)
    assert r.cramers_v == 1.0 and r.chi2 == 20.0

    balanced = [
        (i * 4 + j, 1, day, ty, 0.0)
        for i, (day, ty) in enumerate(
            [(mon, "a"), (mon, "b"), (tue, "a"), (tue, "b")]
        )
        for j in range(5)
    ]
    r = run(balanced)
    assert r.chi2 == 0.0 and r.cramers_v == 0.0


def test_conversion_latency_rank_picks(spark):
    """10 users converting with latencies 1..10 minutes, one user who
    never converts, one who purchases BEFORE viewing: n=10, median =
    5 min, p90 = 9 min."""
    import datetime as dt
    import tempfile

    from c_tran_data_pipeline_spark.plans.analytics import q_conversion_latency

    t0 = dt.datetime(2024, 1, 1)
    rows, eid = [], 0
    for u in range(1, 11):
        eid += 1
        rows.append((eid, u, t0, "view", 0.0))
        eid += 1
        rows.append((eid, u, t0 + dt.timedelta(minutes=u), "purchase", 0.0))
    eid += 1
    rows.append((eid, 99, t0, "view", 0.0))  # never converts
    eid += 1
    rows.append((eid, 98, t0 - dt.timedelta(minutes=5), "purchase", 0.0))
    eid += 1
    rows.append((eid, 98, t0, "view", 0.0))  # purchase precedes view
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows, "event_id long, user_id long, ts timestamp, event_type string, value double"
        ).write.parquet(f"{d}/events.parquet")
        r = q_conversion_latency(spark, d).collect()[0]
    assert r.n_converted == 10
    assert (r.min_latency_us, r.max_latency_us) == (60_000_000, 600_000_000)
    assert r.median_latency_us == 5 * 60_000_000
    assert r.p90_latency_us == 9 * 60_000_000


def test_kneser_ney_distribution_sums_to_one(spark):
    """Interpolated KN is a PROPER probability distribution: for every
    context w1, summing P(w2|w1) over the whole vocabulary (seen pairs
    get the discounted term, every word gets its continuation share)
    must give exactly 1 — the invariant separating real smoothing from
    an ad-hoc score. Verified in plain Python from the same counts the
    registered query aggregates."""
    from collections import Counter

    from pyspark.sql import functions as F

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rows = docs.select(F.split(F.trim("text"), r"\s+").alias("w")).collect()
    c12: Counter = Counter()
    for r in rows:
        w = r["w"]
        for a, b in zip(w, w[1:]):
            c12[(a, b)] += 1
    c1: Counter = Counter()
    fwd: Counter = Counter()
    bwd: Counter = Counter()
    for (a, b), c in c12.items():
        c1[a] += c
        fwd[a] += 1
        bwd[b] += 1
    n_types = len(c12)
    vocab = set(bwd) | set(c1)
    D = 0.75
    for w1 in list(c1)[:50]:
        total = 0.0
        for w2 in vocab:
            cont = bwd.get(w2, 0) / n_types
            disc = max(c12.get((w1, w2), 0) - D, 0.0) / c1[w1]
            total += disc + (D * fwd[w1] / c1[w1]) * cont
        # Pcont sums to 1 over the vocab by construction (Σ bwd = n_types),
        # and the discount mass returned equals the mass removed
        assert abs(total - 1.0) < 1e-9, f"KN mass for context {w1!r}: {total}"


def test_kneser_ney_single_word_doc_no_crash(spark):
    """Regression: a single-word document must produce ZERO bigrams, not
    an ANSI INVALID_ARRAY_INDEX. Spark's sequence(1, 0) is the
    DESCENDING array [1, 0] — the unguarded transform indexed w[1] and
    w[-1] on a one-word array. The guarded builder emits an empty typed
    array (matching DuckDB's empty generate_series(1, 0)), so the doc
    simply has no row in the output."""
    import tempfile

    from c_tran_data_pipeline_spark.plans.text_queries import q_lm_score_kn

    docs = [
        (1, "solitary", "en", "s", 0),                 # 1 word -> no bigrams
        (2, "", "en", "s", 0),                         # empty -> no bigrams
        (3, "two words two words two words", "en", "s", 0),
    ]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            docs, "doc_id long, text string, lang string, source string, n_chars long"
        ).write.parquet(f"{d}/documents.parquet")
        out = {r.doc_id: r for r in q_lm_score_kn(spark, d).collect()}
    assert set(out) == {3}
    assert out[3].n_bigrams == 5


def test_variant_props_malformed_and_missing(spark):
    """VARIANT robustness the fixture can't exercise: malformed JSON
    becomes a NULL variant (counted unparsed, not a task failure);
    valid JSON without $.k counts missing; typed extraction stays
    exact."""
    import tempfile

    from c_tran_data_pipeline_spark.plans.parity import q_variant_props

    rows = [
        (1, "2001-01-01 00:00:00", 1, "ping", 1.0, '{"k": 7}'),
        (2, "2001-01-01 00:00:01", 1, "ping", 1.0, "{not json"),
        (3, "2001-01-01 00:00:02", 1, "ping", 1.0, '{"other": 1}'),
        (4, "2001-01-01 00:00:03", 1, "ping", 1.0, '{"k": -3}'),
    ]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows,
            "event_id long, ts string, user_id long, event_type string,"
            " value double, props string",
        ).selectExpr(
            "event_id", "CAST(ts AS TIMESTAMP) AS ts", "user_id",
            "event_type", "value", "props",
        ).write.parquet(f"{d}/events.parquet")
        out = {r.event_type: r for r in q_variant_props(spark, d).collect()}
    r = out["ping"]
    assert (r.n_events, r.n_parsed, r.n_missing_k) == (4, 3, 2)
    assert (r.sum_k, r.min_k, r.max_k) == (4, -3, 7)
