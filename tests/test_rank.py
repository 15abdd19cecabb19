"""global_rank / global_ntile: exact equivalence to the single-partition
window forms (the semantics) AND the plan property that is their reason
to exist (no Exchange SinglePartition anywhere — the corpus never
funnels through one task)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from c_tran_data_pipeline_spark.operators.rank import (
    global_cummax,
    global_cumsum,
    global_ntile,
    global_ntile_multi,
    global_rank,
)


@pytest.fixture(scope="module")
def keyed(spark):
    # 10007 rows (prime — exercises uneven NTILE remainders), ~1000
    # distinct k values so ties cross range-partition boundaries unless
    # the partitioner co-locates them, and doc-id tie-breaks matter.
    return spark.range(0, 10_007).select(
        F.col("id"), (F.xxhash64("id") % 1000).alias("k")
    )


def test_global_rank_equals_window_row_number(keyed):
    w = Window.orderBy("k", "id")
    exp = {r["id"]: r["rn"] for r in keyed.select("id", F.row_number().over(w).alias("rn")).collect()}
    got = {r["id"]: r["rank"] for r in global_rank(keyed, ["k", "id"], partitions=13).collect()}
    assert got == exp


def test_global_rank_desc_and_total(keyed):
    w = Window.orderBy(F.col("k").desc(), F.col("id").asc())
    exp = {r["id"]: r["rn"] for r in keyed.select("id", F.row_number().over(w).alias("rn")).collect()}
    rows = global_rank(
        keyed, [F.col("k").desc(), F.col("id").asc()], partitions=13, total_col="N"
    ).collect()
    assert {r["id"]: r["rank"] for r in rows} == exp
    assert {r["N"] for r in rows} == {10_007}


@pytest.mark.parametrize("n", [3, 5, 10, 32, 10_007, 20_000])
def test_global_ntile_matches_ansi_ntile(keyed, n):
    """ANSI NTILE including the remainder rule (first N mod n buckets one
    larger) and the N < n case (bucket == rank)."""
    w = Window.orderBy("k", "id")
    exp = {r["id"]: r["b"] for r in keyed.select("id", F.ntile(n).over(w).alias("b")).collect()}
    got = {
        r["id"]: r["bucket"]
        for r in global_ntile(keyed, n, ["k", "id"], partitions=13).collect()
    }
    assert got == exp


def test_plan_has_no_single_partition_exchange(keyed):
    df = global_rank(keyed, ["k", "id"], partitions=13)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan


def test_empty_input_and_guards(keyed, spark):
    assert global_rank(keyed.filter("id < 0"), ["k", "id"], partitions=4).count() == 0
    with pytest.raises(ValueError, match="reserves column name"):
        global_rank(keyed.withColumn("__gr_pid", F.lit(1)), ["k"])
    with pytest.raises(ValueError, match="positive"):
        global_ntile(keyed, 0, ["k", "id"])
    with pytest.raises(ValueError, match="integral"):  # prefixes are exact only for integers
        global_cumsum(keyed.withColumn("x", F.col("id").cast("double")), ["id"], ["x"])


def test_string_lead_key_variable_length(spark):
    """Variable-length string lead keys: binary collation says
    'aa' < 'b', but the un-padded hex-prefix key inverted them
    (key('aa')=0x6161 > key('b')=0x62) — the range key must right-pad
    to fixed width or bucket assignment silently breaks global order."""
    vals = ["aa", "b", "a", "", "ba", "ab", "z", "aaa", "B", "0", "zz", "y"]
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    w = Window.orderBy("s")
    exp = {r["s"]: r["rn"] for r in df.select("s", F.row_number().over(w).alias("rn")).collect()}
    got = {r["s"]: r["rank"] for r in global_rank(df, ["s"], partitions=5).collect()}
    assert got == exp


def test_null_placement_honors_nulls_token(spark):
    """Non-default NULL orderings (asc_nulls_last / desc_nulls_first)
    must bucket null lead keys at the same global end the in-bucket
    window sorts them to — previously the token was parsed and
    discarded, so nulls landed at the default end's rank."""
    rows = [(i, None if i % 5 == 0 else i % 7) for i in range(50)]
    df = spark.createDataFrame(rows, "id int, v int")
    for order in (
        [F.col("v").asc_nulls_last(), F.col("id").asc()],
        [F.col("v").desc_nulls_first(), F.col("id").asc()],
    ):
        w = Window.orderBy(*order)
        exp = {
            r["id"]: r["rn"]
            for r in df.select("id", F.row_number().over(w).alias("rn")).collect()
        }
        got = {r["id"]: r["rank"] for r in global_rank(df, order, partitions=4).collect()}
        assert got == exp, str(order[0])


def test_input_materialized_once(keyed):
    """The operator persists its input: the executed plan must read the
    input through InMemoryTableScan in every branch, so expensive
    scoring projections aren't re-evaluated per branch."""
    df = global_rank(keyed, ["k", "id"], partitions=13)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan


def test_global_cumsum_matches_range_window(keyed, spark):
    """Inclusive running totals + grand totals over a unique-key grid
    equal the single-partition SUM ... OVER (ORDER BY) form."""
    grid = keyed.groupBy("k").agg(
        F.count(F.lit(1)).alias("a"), F.sum("id").alias("b")
    )
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    exp = {
        r["k"]: (r["ca"], r["cb"], r["ta"], r["tb"])
        for r in grid.select(
            "k",
            F.sum("a").over(w).alias("ca"),
            F.sum("b").over(w).alias("cb"),
            F.sum("a").over(wall).alias("ta"),
            F.sum("b").over(wall).alias("tb"),
        ).collect()
    }
    out = global_cumsum(grid, ["k"], ["a", "b"], partitions=7)
    got = {
        r["k"]: (r["a_cum"], r["b_cum"], r["a_tot"], r["b_tot"]) for r in out.collect()
    }
    assert got == exp
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan


def test_global_cummax_exclusive_matches_window(keyed, spark):
    """Strictly-preceding running max (the dominance-sweep frame) equals
    the single-partition exclusive window, including the NULL first row."""
    grid = keyed.groupBy("k").agg(F.max("id").alias("v"))
    w = Window.orderBy(F.desc("k")).rowsBetween(Window.unboundedPreceding, -1)
    exp = {r["k"]: r["pm"] for r in grid.select("k", F.max("v").over(w).alias("pm")).collect()}
    got = {
        r["k"]: r["pm"]
        for r in global_cummax(
            grid, [F.desc("k")], "v", "pm", inclusive=False, partitions=7
        ).collect()
    }
    assert got == exp
    assert sum(v is None for v in got.values()) == 1  # exactly the first row


def test_global_ntile_multi_matches_window_ntile_per_dimension(spark):
    """Each dimension of the fused multi-dimension NTILE equals Spark's
    own single-partition NTILE window on the same frame — ties, NULL
    lead keys, descending orders and the ANSI remainder rule (5,007
    rows into 5 buckets) all included."""
    df = spark.range(0, 5_007).select(
        F.col("id"),
        (F.col("id") % 37).alias("a"),
        F.when(F.col("id") % 11 == 0, None).otherwise(F.col("id") % 5).alias("b"),
        (-(F.col("id") % 13)).alias("c"),
    )
    orders = [["a", "id"], [F.col("b").desc(), F.col("id").asc()], ["c", "id"]]
    exp = {
        r["id"]: (r["na"], r["nb"], r["nc"])
        for r in df.select(
            "id",
            *[
                F.ntile(5).over(Window.orderBy(*o)).alias(bc)
                for o, bc in zip(orders, ["na", "nb", "nc"])
            ],
        ).collect()
    }
    got = {
        r["id"]: (r["na"], r["nb"], r["nc"])
        for r in global_ntile_multi(df, 5, orders, ["na", "nb", "nc"], partitions=7).collect()
    }
    assert got == exp


def test_driver_prefixes_skip_nulls_and_rank_nan_like_window(spark):
    """The bucket prefixes composed on the driver follow Spark's window
    aggregates: an integer running sum over NULL runs (a bucket that is
    all NULL so far still carries the earlier total; an all-NULL prefix
    stays NULL) and a DOUBLE running max over NULL and NaN (NaN above
    every number), inclusive and strictly-preceding."""
    df = spark.range(0, 300).select(
        "id",
        F.when((F.col("id") < 20) | (F.col("id") % 9 < 4), None).otherwise(F.col("id")).alias("v"),
        F.when(F.col("id") % 7 == 0, None)
        .when(F.col("id") == 150, float("nan"))
        .otherwise((F.col("id") * 37 % 101).cast("double"))
        .alias("d"),
    )
    w = Window.orderBy("id").rowsBetween(Window.unboundedPreceding, 0)
    wx = Window.orderBy("id").rowsBetween(Window.unboundedPreceding, -1)
    exp = df.select(
        "id",
        F.sum("v").over(w).alias("v_cum"),
        F.sum("v").over(Window.partitionBy()).alias("v_tot"),
        F.max("d").over(w).alias("m"),
        F.max("d").over(wx).alias("pm"),
    )
    got = global_cumsum(df, ["id"], ["v"], partitions=7)
    got = global_cummax(got, ["id"], "d", "m", partitions=7)
    got = global_cummax(got, ["id"], "d", "pm", inclusive=False, partitions=7)

    def rows(frame):
        return {repr(r) for r in frame.select(*exp.columns).collect()}  # repr: nan == nan

    assert rows(got) == rows(exp)


def test_global_ntile_multi_guards(keyed):
    with pytest.raises(ValueError, match="align"):
        global_ntile_multi(keyed, 5, [["k", "id"]], ["x", "y"])
    with pytest.raises(ValueError, match="reserves"):
        global_ntile_multi(keyed.withColumn("__gr_pid_0", F.lit(1)), 5, [["k", "id"]], ["x"])
    with pytest.raises(ValueError, match="already exists"):
        global_ntile_multi(keyed, 5, [["k", "id"]], ["k"])
