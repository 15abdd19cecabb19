"""OLAP completeness pack: as-of join, banded range join, rollup, pivot,
set ops, exact percentiles, running totals — the remaining warehouse
shapes (guide §OLAP patterns), each with an exact DuckDB oracle."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from c_tran_data_pipeline_spark.operators.asof import asof_join, range_join_bands
from c_tran_data_pipeline_spark.plans.registry import query
from c_tran_data_pipeline_spark.sources.readers import load_table

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


@query(
    "q_asof_prev_purchase",
    """
    SELECT l.event_id, l.user_id, l.ts, l.event_type,
           r.event_id AS asof_event_id,
           r.value AS asof_value
    FROM events l
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
    ON l.user_id = r.user_id AND l.ts > r.ts
    """,
    doc="As-of join (backward, strict): each event annotated with the "
    "user's most recent prior purchase — union-window method, one "
    "shuffle, no theta join. Oracle: DuckDB native ASOF JOIN.",
    tags=("olap", "join", "asof"),
)
def q_asof_prev_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    left = e.select("event_id", "user_id", "ts", "event_type")
    right = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("r_event_id"), F.col("value").alias("r_value")
    )
    out = asof_join(
        left,
        right.withColumnRenamed("r_event_id", "event_id").withColumnRenamed("r_value", "value"),
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        value_cols=["event_id", "value"],
        strict=True,
    )
    return out.select(
        "event_id", "user_id", "ts", "event_type",
        F.col("asof_event_id"), F.col("asof_value"),
    )


@query(
    "q_asof_tolerance",
    """
    SELECT l.event_id, l.user_id, l.ts,
           CASE WHEN epoch_us(l.ts) - epoch_us(r.ts) <= 86400000000
                THEN r.event_id END AS asof_event_id,
           CASE WHEN epoch_us(l.ts) - epoch_us(r.ts) <= 86400000000
                THEN r.value END AS asof_value
    FROM events l
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
    ON l.user_id = r.user_id AND l.ts > r.ts
    """,
    doc="As-of join with a 24h tolerance bound (merge_asof tolerance): "
    "prior purchases older than the lookback null out. Same single "
    "window pass as q_asof_prev_purchase — the bound is a post-filter "
    "on the carried match timestamp, not a second join. Oracle: native "
    "ASOF JOIN + CASE on match age (the latest prior row is outside "
    "tolerance iff no in-tolerance row exists).",
    tags=("olap", "join", "asof"),
)
def q_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    left = e.select("event_id", "user_id", "ts")
    right = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("r_event_id"), F.col("value").alias("r_value")
    )
    out = asof_join(
        left,
        right.withColumnRenamed("r_event_id", "event_id").withColumnRenamed("r_value", "value"),
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        value_cols=["event_id", "value"],
        strict=True,
        tolerance_seconds=86400,
    )
    return out.select(
        "event_id", "user_id", "ts", F.col("asof_event_id"), F.col("asof_value")
    )


@query(
    "q_range_join_follows",
    """
    SELECT a.event_id AS event_id, a.user_id AS user_id,
           b.event_id AS r_event_id, b.event_type AS r_event_type
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND b.ts > a.ts
     AND epoch_us(b.ts) <= epoch_us(a.ts) + 300000000
    """,
    doc="Banded range join: events followed by another event of the same "
    "user within 5 minutes. Bands of window width turn the theta join "
    "into a 2-band equi-join. Oracle: plain inequality join.",
    tags=("olap", "join", "range"),
)
def q_range_join_follows(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    left = e.select("event_id", "user_id", "ts")
    right = e.select("event_id", "user_id", "ts", "event_type")
    out = range_join_bands(left, right, on="user_id", left_ts="ts", right_ts="ts", window_seconds=300)
    return out.select("event_id", "user_id", "r_event_id", "r_event_type")


@query(
    "q_kernel_smooth",
    """
    WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS t, value FROM events),
    pairs AS (
        SELECT a.event_id AS event_id, b.value AS rv,
               86400000000 - abs(b.t - a.t) AS w
        FROM e a JOIN e b ON a.user_id = b.user_id
        WHERE abs(b.t - a.t) < 86400000000
    )
    SELECT event_id, COUNT(*) AS n_obs,
           ROUND(CAST(SUM(CAST(rv AS DECIMAL(12,2)) * CAST(w AS DECIMAL(12,0))) AS DOUBLE)
                 / CAST(SUM(w) AS DOUBLE), 6) AS smoothed_value
    FROM pairs GROUP BY event_id
    """,
    doc="Triangular-kernel smoothing of each user's irregular value "
    "series (±24 h window) — operators/asof.py kernel_smooth. Neighbor "
    "pairs come from a time-bucketed self-join (probe side explodes to "
    "3 adjacent buckets, build side stays single-bucket) so the shuffle "
    "keys on (user, bucket) and per-bucket cost is density-bounded, "
    "never O(series²). Integer µs weights × exact-DECIMAL sums make the "
    "smoothed value bit-reproducible; the oracle is the plain "
    "inequality self-join.",
    tags=("olap", "join", "range", "window"),
)
def q_kernel_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from c_tran_data_pipeline_spark.operators.asof import kernel_smooth

    e = load_table(spark, sf_dir, "events")
    return kernel_smooth(e, on="user_id", ts="ts", value="value", key="event_id")


@query(
    "q_mad_outliers",
    """
    WITH med AS (SELECT event_type, quantile_cont(value, 0.5) AS m
                 FROM events GROUP BY 1),
    dev AS (SELECT e.event_id, e.event_type, e.value, m, abs(e.value - m) AS d
            FROM events e JOIN med USING (event_type)),
    mad AS (SELECT event_type, quantile_cont(d, 0.5) AS md FROM dev GROUP BY 1)
    SELECT event_id, event_type, value, ROUND(m, 6) AS med, ROUND(md, 6) AS mad,
           ROUND(d / md, 4) AS score
    FROM dev JOIN mad USING (event_type)
    WHERE d > 3 * md
    """,
    doc="Robust per-group outlier fence: |v − median| > 3·MAD "
    "(operators/curation.py mad_outliers). Median/MAD because the "
    "outliers being hunted would inflate a stddev fence and hide "
    "themselves. Two tiny grouped exact percentiles broadcast back onto "
    "one scan; at 100 TB percentile_approx swaps in with the same query "
    "shape (cf. q_approx_percentiles).",
    tags=("olap", "agg", "curation"),
)
def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from c_tran_data_pipeline_spark.operators.curation import mad_outliers

    e = load_table(spark, sf_dir, "events")
    return mad_outliers(e, group="event_type", value="value", keep=("event_id",), k=3.0)


@query(
    "q_rollup_pricing",
    """
    SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
           COALESCE(l_linestatus, 'ALL') AS linestatus,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(28, 8))) AS DOUBLE) AS sum_price,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    doc="ROLLUP hierarchy totals (flag → flag+status → grand total) — "
    "partial aggregation handles all levels in one pass.",
    tags=("olap", "agg"),
)
def q_rollup_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(28,8)")).cast("double").alias("sum_price"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "sum_price",
            "n",
        )
    )


@query(
    "q_cube_order_matrix",
    """
    SELECT COALESCE(o_orderstatus, 'ALL') AS orderstatus,
           COALESCE(o_orderpriority, 'ALL') AS orderpriority,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28, 8))) AS DOUBLE) AS sum_price,
           COUNT(*) AS n
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    doc="CUBE: all 2^2 grouping combinations (status × priority matrix "
    "with row/column/grand totals) in one pass — Catalyst expands the "
    "grouping sets and partial-aggregates each; both dims are non-null "
    "in the fixture so COALESCE('ALL') is unambiguous.",
    tags=("olap", "agg"),
)
def q_cube_order_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(28,8)")).cast("double").alias("sum_price"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("orderstatus"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("orderpriority"),
            "sum_price",
            "n",
        )
    )


_GSETS_SQL = """
    SELECT COALESCE(CAST(ship_month AS STRING), 'ALL') AS ship_month,
           COALESCE(l_returnflag, 'ALL') AS returnflag,
           CAST(SUM(CAST(l_quantity AS DECIMAL(28, 8))) AS DOUBLE) AS sum_qty,
           COUNT(*) AS n
    FROM (SELECT month(l_shipdate) AS ship_month, l_returnflag, l_quantity FROM lineitem)
    GROUP BY GROUPING SETS ((ship_month), (l_returnflag), (ship_month, l_returnflag))
"""


@query(
    "q_grouping_sets_shipping",
    _GSETS_SQL,
    doc="Explicit GROUPING SETS (neither rollup nor cube): per-ship-month, "
    "per-returnflag, and the cross — the warehouse 'multiple reports in "
    "one scan' shape. Spark SQL shares one Expand + HashAggregate; the "
    "identical SQL string runs on both engines.",
    tags=("olap", "agg"),
)
def q_grouping_sets_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_GSETS_SQL)


@query(
    "q_approx_distinct",
    None,  # HLL estimates are engine-specific; error bound pinned in tests
    doc="Approximate distinct counts per event_type via HyperLogLog++ "
    "(rsd=0.01) next to exact COUNT(DISTINCT): the 100 TB cardinality "
    "path — constant memory per group, no distinct-expand shuffle. "
    "Rows-only driver check; tests/test_olap.py asserts the estimate is "
    "within 3×rsd of exact.",
    tags=("olap", "agg", "approx"),
)
def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.01).alias("approx_users"),
        F.countDistinct("user_id").alias("exact_users"),
    )


@query(
    "q_pivot_event_counts",
    f"""
    SELECT user_id,
           {", ".join(f"CAST(SUM(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS BIGINT) AS n_{t}" for t in EVENT_TYPES)}
    FROM events GROUP BY user_id
    """,
    doc="Pivot: per-user event-type count matrix (explicit value list → "
    "stable schema, single aggregation pass; no second job to discover "
    "pivot values).",
    tags=("olap", "agg", "pivot"),
)
def q_pivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    out = (
        e.groupBy("user_id")
        .pivot("event_type", list(EVENT_TYPES))
        .agg(F.count(F.lit(1)))
    )
    # pivot leaves NULL for absent combos; counts should be 0, and names
    # must match the oracle's n_<type>
    return out.select(
        "user_id", *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in EVENT_TYPES]
    )


@query(
    "q_resample_ffill",
    """
    WITH e AS (SELECT user_id, event_id, value, epoch_us(ts) AS t FROM events),
    b AS (SELECT user_id, (t + 86399999999) // 86400000000 AS g, value, t, event_id FROM e),
    lastv AS (
        SELECT user_id, g, value FROM (
            SELECT user_id, g, value,
                   ROW_NUMBER() OVER (PARTITION BY user_id, g
                                      ORDER BY t DESC, event_id DESC) AS rn
            FROM b) WHERE rn = 1
    ),
    grid AS (
        SELECT user_id, unnest(generate_series(lo, hi)) AS g
        FROM (SELECT user_id, MIN(g) AS lo, MAX(g) AS hi FROM b GROUP BY user_id)
    )
    SELECT grid.user_id AS user_id, grid.g AS bucket_idx,
           last_value(lastv.value IGNORE NULLS) OVER (
               PARTITION BY grid.user_id ORDER BY grid.g
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_ffill
    FROM grid LEFT JOIN lastv ON grid.user_id = lastv.user_id AND grid.g = lastv.g
    """,
    doc="Regular-grid resampling with forward fill (operators/asof.py "
    "resample_ffill): one daily grid point per user from first to last "
    "observation, carrying the latest value at-or-before each point — "
    "the gap-filling step before aligning irregular series for joins/"
    "models. Bucket index is exact integer math ((t+W−1) DIV W, no "
    "float ceil); the grid explode is bounded by span/interval, never "
    "row count; every shuffle keys on the series key.",
    tags=("olap", "window", "asof"),
)
def q_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from c_tran_data_pipeline_spark.operators.asof import resample_ffill

    e = load_table(spark, sf_dir, "events")
    return resample_ffill(e, on="user_id", ts="ts", value="value", key="event_id")


@query(
    "q_group_moments",
    """
    WITH s AS (
        SELECT event_type,
               COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(value AS DECIMAL(12,2)) * CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sxx,
               CAST(SUM(CAST(epoch_us(ts) // 86400000000 AS DECIMAL(12,0))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(epoch_us(ts) // 86400000000 AS DECIMAL(12,0))
                        * CAST(epoch_us(ts) // 86400000000 AS DECIMAL(12,0))) AS DOUBLE) AS syy,
               CAST(SUM(CAST(value AS DECIMAL(12,2))
                        * CAST(epoch_us(ts) // 86400000000 AS DECIMAL(12,0))) AS DOUBLE) AS sxy
        FROM (SELECT event_type, value, ts, epoch_us(ts) AS t FROM events)
        GROUP BY event_type
    )
    SELECT event_type, n,
           ROUND(sx / n, 6) AS mean_value,
           ROUND(sqrt((n * sxx - sx * sx) / (n * (n - 1.0))), 6) AS stddev_value,
           ROUND((n * sxy - sx * sy)
                 / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6)
               AS corr_value_day
    FROM s
    """,
    doc="Per-group mean/sample-stddev/Pearson-corr(value, event-day) from "
    "EXACT DECIMAL power sums (operators/stats.py group_moments): "
    "built-in stddev/corr stream fold-order-dependent co-moments, so "
    "this derives every moment from associative exact sums instead — "
    "one partial-aggregated shuffle of |groups| rows, bit-reproducible "
    "under any partitioning, the repo's float policy applied to "
    "second-order statistics.",
    tags=("olap", "agg", "stats"),
)
def q_group_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from c_tran_data_pipeline_spark.operators.stats import group_moments

    e = load_table(spark, sf_dir, "events")
    day = F.floor(F.unix_micros("ts") / F.lit(86_400_000_000)).alias("day")
    return group_moments(
        e.select("event_type", "value", day), group="event_type", x="value", y="day"
    )


@query(
    "q_value_rank_profile",
    """
    SELECT event_id, event_type, value,
           percent_rank() OVER (PARTITION BY event_type ORDER BY value) AS pr,
           cume_dist()    OVER (PARTITION BY event_type ORDER BY value) AS cd
    FROM events
    """,
    doc="Relative-rank window profile: percent_rank + cume_dist of every "
    "value within its event_type — the normalized-score shape used for "
    "cross-group comparable quality scores (a value's quantile position "
    "is comparable across groups whose scales aren't). One hash "
    "exchange on the partition key shared by both window functions; "
    "(rank−1)/(n−1) and rank/n are small-integer divisions, so the "
    "floats are bit-identical across engines with no rounding.",
    tags=("olap", "window"),
)
def q_value_rank_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value")
    return e.select(
        "event_id",
        "event_type",
        "value",
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
    )


@query(
    "q_set_ops_cohorts",
    """
    SELECT user_id FROM events WHERE event_type = 'purchase' AND value > 100
    INTERSECT
    SELECT user_id FROM events WHERE event_type = 'signup'
    EXCEPT
    SELECT user_id FROM events WHERE event_type = 'error' AND value > 150
    """,
    doc="Set operations: high-value purchasers ∩ signups ∖ heavy-error "
    "users (INTERSECT/EXCEPT are distinct-based in both engines).",
    tags=("olap", "setops"),
)
def q_set_ops_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    purchasers = e.filter((F.col("event_type") == "purchase") & (F.col("value") > 100)).select("user_id")
    signups = e.filter(F.col("event_type") == "signup").select("user_id")
    errors = e.filter((F.col("event_type") == "error") & (F.col("value") > 150)).select("user_id")
    return purchasers.intersect(signups).exceptAll(errors.distinct())


@query(
    "q_percentiles",
    """
    SELECT event_type,
           ROUND(quantile_cont(value, 0.25), 6) AS p25,
           ROUND(quantile_cont(value, 0.50), 6) AS p50,
           ROUND(quantile_cont(value, 0.75), 6) AS p75,
           COUNT(value) AS n
    FROM events GROUP BY event_type
    """,
    doc="Exact interpolated percentiles per group (the exact twin of "
    "percentile_approx — at 100 TB the approx sketch replaces this with "
    "the same query shape).",
    tags=("olap", "agg"),
)
def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.25)), 6).alias("p25"),
        F.round(F.percentile("value", F.lit(0.50)), 6).alias("p50"),
        F.round(F.percentile("value", F.lit(0.75)), 6).alias("p75"),
        F.count("value").alias("n"),
    )


@query(
    "q_approx_percentiles",
    None,  # sketch-based by construction; tests bound error vs q_percentiles
    doc="GK-sketch percentiles (percentile_approx, accuracy 10000) per "
    "event_type — the 100 TB path: mergeable fixed-size sketches, "
    "map-side combined, vs the exact sort-based percentile which must "
    "see every value. tests/test_olap.py bounds the rank error against "
    "the exact twin q_percentiles.",
    tags=("olap", "agg", "approx"),
)
def q_approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.percentile_approx("value", F.lit(0.25), F.lit(10000)).alias("p25"),
        F.percentile_approx("value", F.lit(0.50), F.lit(10000)).alias("p50"),
        F.percentile_approx("value", F.lit(0.75), F.lit(10000)).alias("p75"),
        F.count("value").alias("n"),
    )


@query(
    "q_running_total",
    """
    SELECT user_id, event_id, ts,
           CAST(SUM(CAST(value AS DECIMAL(28, 8))) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id
                    ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_value
    FROM events
    """,
    doc="Running total per user (cumulative frame; one shuffle on "
    "user_id shared by sort and window).",
    tags=("olap", "window"),
)
def q_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return e.select(
        "user_id",
        "event_id",
        "ts",
        F.sum(F.col("value").cast("decimal(28,8)")).over(w).cast("double").alias("running_value"),
    )


@query(
    "q_asof_next_purchase",
    """
    SELECT l.event_id, l.user_id, l.ts,
           r.event_id AS asof_event_id,
           r.value AS asof_value
    FROM events l
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
    ON l.user_id = r.user_id AND l.ts < r.ts
    """,
    doc="Forward as-of join: each event annotated with the user's NEXT "
    "purchase (time-to-conversion shape). Same union-window pass as "
    "backward, ordered descending. Oracle: DuckDB ASOF with l.ts < r.ts "
    "(nearest future row).",
    tags=("olap", "join", "asof"),
)
def q_asof_next_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    left = e.select("event_id", "user_id", "ts")
    right = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("r_event_id"), F.col("value").alias("r_value")
    )
    out = asof_join(
        left,
        right.withColumnRenamed("r_event_id", "event_id").withColumnRenamed("r_value", "value"),
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        value_cols=["event_id", "value"],
        strict=True,
        direction="forward",
    )
    return out.select("event_id", "user_id", "ts", F.col("asof_event_id"), F.col("asof_value"))


@query(
    "q_region_revenue",
    """
    SELECT n_name AS nation,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28, 8))) AS DOUBLE)
               AS revenue,
           COUNT(*) AS n_items
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey
      AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey
      AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey
      AND n_regionkey = r_regionkey
      AND r_name = 'ASIA'
    GROUP BY n_name
    """,
    doc="TPC-H Q5-shape six-table join (local-supplier revenue by nation "
    "for one region): the multi-way join chain the engine hadn't "
    "exercised — Catalyst orders the joins, broadcasts every dim "
    "(region→nation→supplier/customer), and the only shuffles are the "
    "two fact-fact legs (orders⋈lineitem) and the final agg. Filter on "
    "r_name prunes to one region BEFORE any fact is touched.",
    tags=("olap", "join", "agg", "multiway"),
)
def q_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    asia = F.broadcast(r.filter(F.col("r_name") == "ASIA"))
    nat = F.broadcast(n.join(asia, n.n_regionkey == r.r_regionkey))
    sup = F.broadcast(s.join(nat, s.s_nationkey == nat.n_nationkey))
    cust = F.broadcast(c)
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(cust, o.o_custkey == cust.c_custkey)
        .join(sup, (li.l_suppkey == sup.s_suppkey) & (cust.c_nationkey == sup.s_nationkey))
    )
    return joined.groupBy(F.col("n_name").alias("nation")).agg(
        F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(28,8)"))
        .cast("double")
        .alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


@query(
    "q_asof_nearest_purchase",
    """
    WITH purch AS (SELECT * FROM events WHERE event_type = 'purchase'),
    b AS (
        SELECT l.event_id, l.user_id, l.ts,
               r.ts AS bts, r.event_id AS bid, r.value AS bv
        FROM events l
        ASOF LEFT JOIN purch r ON l.user_id = r.user_id AND l.ts > r.ts
    ),
    f AS (
        SELECT l.event_id, r.ts AS fts, r.event_id AS fid, r.value AS fv
        FROM events l
        ASOF LEFT JOIN purch r ON l.user_id = r.user_id AND l.ts < r.ts
    )
    SELECT b.event_id, b.user_id, b.ts,
           CASE WHEN fts IS NULL OR (bts IS NOT NULL AND
                     epoch_us(b.ts) - epoch_us(bts) <= epoch_us(fts) - epoch_us(b.ts))
                THEN bid ELSE fid END AS asof_event_id,
           CASE WHEN fts IS NULL OR (bts IS NOT NULL AND
                     epoch_us(b.ts) - epoch_us(bts) <= epoch_us(fts) - epoch_us(b.ts))
                THEN bv ELSE fv END AS asof_value
    FROM b JOIN f USING (event_id)
    """,
    doc="Nearest-direction as-of join: the temporally closer of the "
    "user's prior/next purchase, backward winning ties (merge_asof "
    "'nearest'). One tagged union, two windows sharing one hash "
    "exchange. Oracle: two native ASOF joins + gap comparison.",
    tags=("olap", "join", "asof"),
)
def q_asof_nearest_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    left = e.select("event_id", "user_id", "ts")
    right = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("r_event_id"), F.col("value").alias("r_value")
    )
    out = asof_join(
        left,
        right.withColumnRenamed("r_event_id", "event_id").withColumnRenamed("r_value", "value"),
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        value_cols=["event_id", "value"],
        strict=True,
        direction="nearest",
    )
    return out.select("event_id", "user_id", "ts", F.col("asof_event_id"), F.col("asof_value"))


@query(
    "q_shipping_priority",
    """
    SELECT l_orderkey,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28, 8))) AS DOUBLE)
               AS revenue,
           o_orderdate,
           o_orderpriority
    FROM customer, orders, lineitem
    WHERE c_mktsegment = 'BUILDING'
      AND c_custkey = o_custkey
      AND l_orderkey = o_orderkey
      AND o_orderdate < TIMESTAMP '1998-06-15'
      AND l_shipdate > TIMESTAMP '1998-06-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate ASC, l_orderkey ASC
    LIMIT 10
    """,
    doc="TPC-H Q3 shape (unshipped-order value for one market segment): "
    "segment filter prunes the broadcast customer side BEFORE the join, "
    "both date predicates push into the fact scans, one shuffle "
    "(orders⋈lineitem on orderkey) feeds the partial-aggregated group-by, "
    "and the top-10 is TakeOrderedAndProject — no global sort. DECIMAL "
    "revenue sum for cross-engine bit stability; the ORDER BY is total "
    "(revenue, date, key) so LIMIT is deterministic on both engines.",
    tags=("olap", "join", "agg", "topk", "multiway"),
)
def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cut = "1998-06-15"
    building = F.broadcast(
        c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    )
    joined = (
        li.filter(F.col("l_shipdate") > F.lit(cut).cast("timestamp"))
        .join(
            o.filter(F.col("o_orderdate") < F.lit(cut).cast("timestamp")),
            li.l_orderkey == o.o_orderkey,
        )
        .join(building, o.o_custkey == building.c_custkey)
    )
    return (
        joined.groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(28,8)"))
            .cast("double")
            .alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("o_orderdate").asc(), F.col("l_orderkey").asc())
        .limit(10)
    )


@query(
    "q_funnel_steps",
    """
    WITH v AS (SELECT user_id, MIN(ts) AS t_view FROM events
               WHERE event_type = 'view' GROUP BY 1),
    c AS (SELECT e.user_id, MIN(e.ts) AS t_click
          FROM events e JOIN v USING (user_id)
          WHERE e.event_type = 'click' AND e.ts > v.t_view GROUP BY 1),
    p AS (SELECT e.user_id, MIN(e.ts) AS t_purchase
          FROM events e JOIN c USING (user_id)
          WHERE e.event_type = 'purchase' AND e.ts > c.t_click GROUP BY 1)
    SELECT v.user_id AS user_id, v.t_view AS t_view, c.t_click AS t_click,
           p.t_purchase AS t_purchase
    FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
    """,
    doc="Ordered funnel (view → click-after-view → purchase-after-click): "
    "per user, the earliest timestamp of each step occurring strictly "
    "AFTER the previous step — the product-analytics sequence-matching "
    "shape. Each stage is a partial-aggregated MIN per user; all joins "
    "key on the user, so one partitioning serves the whole cascade and "
    "the step tables shrink monotonically (step N only holds users who "
    "reached it). Drop-off is visible as NULL progression.",
    tags=("olap", "funnel", "join"),
)
def q_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return v.join(c, "user_id", "left").join(p, "user_id", "left")


@query(
    "q_cohort_retention",
    """
    WITH uw AS (
        SELECT DISTINCT user_id, epoch_us(ts) // 604800000000 AS wk FROM events
    ),
    cohort AS (SELECT user_id, MIN(wk) AS c FROM uw GROUP BY 1)
    SELECT c AS cohort_week, wk - c AS week_offset, COUNT(*) AS n_users
    FROM uw JOIN cohort USING (user_id)
    GROUP BY 1, 2
    """,
    doc="Cohort retention matrix: users grouped by first-active week, "
    "counted in each later week they return — the standard retention "
    "triangle. Exact integer week buckets (µs DIV week); two user-keyed "
    "aggregations sharing one partitioning + a final small rollup; the "
    "distinct (user, week) projection bounds state at |users|×|weeks| "
    "regardless of event volume.",
    tags=("olap", "agg", "cohort"),
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    uw = e.select(
        "user_id",
        F.expr("CAST(unix_micros(ts) DIV 604800000000 AS BIGINT)").alias("wk"),
    ).distinct()
    cohort = uw.groupBy("user_id").agg(F.min("wk").alias("c"))
    return (
        uw.join(cohort, "user_id")
        .groupBy(F.col("c").alias("cohort_week"), (F.col("wk") - F.col("c")).alias("week_offset"))
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@query(
    "q_small_qty_revenue",
    """
    WITH pa AS (
        SELECT l_partkey,
               0.2 * (CAST(SUM(CAST(l_quantity AS DECIMAL(28,8))) AS DOUBLE) / COUNT(*))
                   AS qty_bar
        FROM lineitem GROUP BY l_partkey
    )
    SELECT l.l_partkey AS l_partkey,
           COUNT(*) AS n_small,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(28,8))) AS DOUBLE) / 7.0 AS avg_yearly
    FROM lineitem l JOIN pa ON l.l_partkey = pa.l_partkey
    WHERE l.l_quantity < pa.qty_bar
    GROUP BY l.l_partkey
    """,
    doc="TPC-H Q17 shape: the correlated scalar subquery ('quantity below "
    "20% of this part's average') decorrelated by hand into a per-part "
    "aggregate joined back onto the fact — the rewrite Catalyst's "
    "subquery decorrelation performs, stated explicitly so the plan is "
    "two partial-aggregated passes over lineitem sharing the l_partkey "
    "partitioning (exchange reuse), never a per-row subquery. The 20% "
    "threshold comparison uses the exact-DECIMAL mean cast to double — "
    "deterministic, so the selection itself is oracle-exact.",
    tags=("olap", "join", "agg", "subquery"),
)
def q_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    pa = li.groupBy("l_partkey").agg(
        (
            F.lit(0.2)
            * (F.sum(F.col("l_quantity").cast("decimal(28,8)")).cast("double") / F.count(F.lit(1)))
        ).alias("qty_bar")
    )
    return (
        li.join(pa, "l_partkey")
        .filter(F.col("l_quantity") < F.col("qty_bar"))
        .groupBy("l_partkey")
        .agg(
            F.count(F.lit(1)).alias("n_small"),
            (F.sum(F.col("l_extendedprice").cast("decimal(28,8)")).cast("double") / F.lit(7.0)).alias(
                "avg_yearly"
            ),
        )
    )


@query(
    "q_rolling_actives",
    """
    WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
    days AS (SELECT DISTINCT d FROM ud)
    SELECT days.d AS day, COUNT(DISTINCT ud.user_id) AS wau
    FROM days JOIN ud ON ud.d BETWEEN days.d - 6 AND days.d
    GROUP BY 1
    """,
    doc="Trailing-7-day active users per day (WAU curve). Spark avoids "
    "both the range join and a sliding-window COUNT DISTINCT (which "
    "window frames can't do): each (user, day) activity row explodes "
    "to the ≤7 report days it contributes to — a constant 7× fan-out "
    "of the ALREADY-deduped per-day table, turning the range predicate "
    "into an equi-group key; then one count-distinct agg keyed on day. "
    "Report days are clamped to days that actually occur via a "
    "broadcast semi-join. At 100 TB the fan-out rides the same shuffle "
    "the agg needs anyway; no theta join ever forms.",
    tags=("olap", "window", "events"),
)
def q_rolling_actives(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    ud = e.select("user_id", F.to_date("ts").alias("d")).distinct()
    days = ud.select("d").distinct()
    # explode the 0..6 offset inline (sequence is a literal array, no UDF)
    contrib = ud.select(
        "user_id", F.explode(F.sequence(F.lit(0), F.lit(6))).alias("__off"), "d"
    ).select("user_id", F.date_add("d", F.col("__off")).alias("day"))
    real = contrib.join(
        F.broadcast(days.withColumnRenamed("d", "day")), "day", "left_semi"
    )
    return real.groupBy("day").agg(F.count_distinct("user_id").alias("wau"))


@query(
    "q_table_stats",
    """
    SELECT 'o_orderkey' AS col,
           COUNT(*) FILTER (o_orderkey IS NULL) AS n_nulls,
           COUNT(DISTINCT o_orderkey) AS ndv,
           CAST(MIN(o_orderkey) AS VARCHAR) AS min_s,
           CAST(MAX(o_orderkey) AS VARCHAR) AS max_s
    FROM orders
    UNION ALL
    SELECT 'o_custkey', COUNT(*) FILTER (o_custkey IS NULL),
           COUNT(DISTINCT o_custkey),
           CAST(MIN(o_custkey) AS VARCHAR), CAST(MAX(o_custkey) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', COUNT(*) FILTER (o_orderstatus IS NULL),
           COUNT(DISTINCT o_orderstatus),
           CAST(MIN(o_orderstatus) AS VARCHAR), CAST(MAX(o_orderstatus) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', COUNT(*) FILTER (o_totalprice IS NULL),
           COUNT(DISTINCT o_totalprice),
           CAST(CAST(MIN(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR),
           CAST(CAST(MAX(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_orderdate', COUNT(*) FILTER (o_orderdate IS NULL),
           COUNT(DISTINCT o_orderdate),
           CAST(MIN(o_orderdate) AS VARCHAR), CAST(MAX(o_orderdate) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', COUNT(*) FILTER (o_orderpriority IS NULL),
           COUNT(DISTINCT o_orderpriority),
           CAST(MIN(o_orderpriority) AS VARCHAR), CAST(MAX(o_orderpriority) AS VARCHAR)
    FROM orders
    """,
    doc="ANALYZE-style exact column statistics in long form (null count, "
    "exact NDV, min/max stringified; doubles via DECIMAL(18,2) so the "
    "text form is engine-independent): the stats a cost-based "
    "optimizer or data-quality monitor collects per ingest. Spark "
    "computes ALL columns' stats in ONE aggregate over ONE scan — "
    "multiple COUNT DISTINCTs expand to a single multi-group Expand "
    "(one shuffle), the oracle's 6-scan UNION ALL being exactly the "
    "naive plan this avoids — then unpivots the 1-row wide result "
    "with stack(), which is driver-free and column-count-bounded.",
    tags=("olap", "stats", "report"),
)
def q_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    plain = ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate", "o_orderpriority"]

    def _minmax(c: str):
        if c == "o_totalprice":
            return (
                F.min(c).cast("decimal(18,2)").cast("string"),
                F.max(c).cast("decimal(18,2)").cast("string"),
            )
        return F.min(c).cast("string"), F.max(c).cast("string")

    cols = plain[:3] + ["o_totalprice"] + plain[3:]
    aggs = []
    for c in cols:
        lo, hi = _minmax(c)
        aggs += [
            F.count(F.when(F.col(c).isNull(), 1)).alias(f"__n_{c}"),
            F.count_distinct(c).alias(f"__d_{c}"),
            lo.alias(f"__lo_{c}"),
            hi.alias(f"__hi_{c}"),
        ]
    wide = o.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', __n_{c}, __d_{c}, __lo_{c}, __hi_{c}" for c in cols
    )
    return wide.selectExpr(
        f"stack({len(cols)}, {stack_args}) AS (col, n_nulls, ndv, min_s, max_s)"
    )


@query(
    "q_volume_shipping",
    """
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(EXTRACT(year FROM l_shipdate) AS INT) AS l_year,
           COUNT(*) AS n_lines,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28, 8)))
                AS DOUBLE) AS revenue
    FROM lineitem
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation n1 ON n1.n_nationkey = s_nationkey
    JOIN nation n2 ON n2.n_nationkey = c_nationkey
    WHERE n1.n_name IN ('NATION_10', 'NATION_11', 'NATION_19', 'NATION_20')
      AND n2.n_name IN ('NATION_10', 'NATION_11', 'NATION_19', 'NATION_20')
      AND n1.n_name <> n2.n_name
    GROUP BY 1, 2, 3
    """,
    doc="TPC-H Q7-shape international shipping volume: revenue flowing "
    "between distinct nations of a four-nation trade bloc, by supplier "
    "nation x customer nation x ship year. Spark plan: the five-way join keeps "
    "every dim side broadcast (nation twice, supplier, customer — "
    "orders is the only fact-fact shuffle pair with lineitem on "
    "orderkey); the nation-pair disjunction evaluates AFTER the cheap "
    "broadcast joins as a residual filter, and the final agg is "
    "partial-first on a handful of (nation, nation, year) groups. "
    "Revenue is the per-row IEEE product summed as exact DECIMAL — "
    "bit-stable under any partitioning.",
    tags=("olap", "join", "agg"),
)
def q_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    n1 = n.select(F.col("n_nationkey").alias("__sk"), F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("__ck"), F.col("n_name").alias("cust_nation"))
    joined = (
        li.select("l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount")
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("__sk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("__ck"))
    )
    bloc = ("NATION_10", "NATION_11", "NATION_19", "NATION_20")
    pair = (
        F.col("supp_nation").isin(*bloc)
        & F.col("cust_nation").isin(*bloc)
        & (F.col("supp_nation") != F.col("cust_nation"))
    )
    rev = (F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).cast("decimal(28,8)")
    return (
        joined.filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(rev).cast("double").alias("revenue"),
        )
    )


@query(
    "q_promo_revenue",
    """
    SELECT CAST(EXTRACT(year FROM l_shipdate) AS INT) AS l_year,
           CAST(EXTRACT(month FROM l_shipdate) AS INT) AS l_month,
           CAST(100.0 * CAST(SUM(CAST(CASE WHEN p_type LIKE 'PROMO%'
                        THEN l_extendedprice * (1 - l_discount) ELSE 0 END
                    AS DECIMAL(28, 8))) AS DOUBLE)
               / CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                    AS DECIMAL(28, 8))) AS DOUBLE) AS DOUBLE) AS promo_pct
    FROM lineitem JOIN part ON p_partkey = l_partkey
    GROUP BY 1, 2
    """,
    doc="TPC-H Q14-shape promo-revenue share: the conditional-aggregation "
    "idiom (CASE inside SUM) computing promo revenue as a percentage of "
    "total per ship month — one scan, one broadcast part join, both "
    "sums in the same partial-first HashAggregate (no second pass, no "
    "self-join). Both numerator and denominator are exact DECIMAL sums "
    "cast to DOUBLE before one IEEE divide, so the ratio is bit-stable "
    "cross-engine.",
    tags=("olap", "join", "agg"),
)
def q_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = (F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).cast("decimal(28,8)")
    promo = F.when(F.col("p_type").like("PROMO%"), rev).otherwise(F.lit(0).cast("decimal(28,8)"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(
            F.year("l_shipdate").alias("l_year"),
            F.month("l_shipdate").alias("l_month"),
        )
        .agg(
            (
                F.lit(100.0)
                * F.sum(promo).cast("double")
                / F.sum(rev).cast("double")
            ).cast("double").alias("promo_pct")
        )
    )


@query(
    "q_disjunctive_revenue",
    """
    SELECT p_brand,
           COUNT(*) AS n_lines,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28, 8)))
                AS DOUBLE) AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
           AND l_quantity BETWEEN 20 AND 30)
    GROUP BY p_brand
    """,
    doc="TPC-H Q19-shape disjunctive predicate: an OR of three "
    "conjunct groups mixing part attributes (brand, size) with fact "
    "attributes (quantity). The optimizer lesson this pins: Catalyst "
    "factors the disjunction into per-side implied filters — the part "
    "scan keeps only the three brands and the lineitem scan keeps only "
    "the quantity envelope (both visible as PushedFilters) — before "
    "the broadcast join evaluates the exact cross-side residual, so "
    "neither scan reads rows no disjunct could accept. One broadcast "
    "join + one partial-first agg; DECIMAL revenue policy as "
    "everywhere.",
    tags=("olap", "join", "pushdown"),
)
def q_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 30)
        )
    )
    rev = (F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).cast("decimal(28,8)")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(cond)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(rev).cast("double").alias("revenue"),
        )
    )


@query(
    "q_important_stock",
    """
    WITH pv AS (
        SELECT l_partkey, COUNT(*) AS n_lines,
               SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28, 8))) AS v
        FROM lineitem GROUP BY 1
    ), tot AS (SELECT SUM(v) AS t FROM pv)
    SELECT l_partkey, n_lines, CAST(v AS DOUBLE) AS part_value
    FROM pv, tot
    WHERE CAST(v AS DOUBLE) > 0.0005 * CAST(t AS DOUBLE)
    """,
    doc="TPC-H Q11-shape 'important stock': parts whose revenue share "
    "clears a FRACTION of the global total — the two-level scalar "
    "pattern (group agg + whole-table agg) where the threshold itself "
    "derives from the data. Spark plan: one partial-first agg on "
    "l_partkey; the global total is a second agg OVER THE FIRST's "
    "output (|parts| rows, not a rescan) re-entering as a broadcast "
    "1-row crossJoin; the HAVING is a residual filter. Both levels sum "
    "exact DECIMAL, compared in double after identical casts — the "
    "share boundary cannot flip cross-engine.",
    tags=("olap", "agg", "subquery"),
)
def q_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    rev = (F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).cast("decimal(28,8)")
    pv = li.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("n_lines"), F.sum(rev).alias("__v")
    )
    tot = pv.agg(F.sum("__v").alias("__t"))
    return (
        pv.crossJoin(F.broadcast(tot))
        .filter(F.col("__v").cast("double") > F.lit(0.0005) * F.col("__t").cast("double"))
        .select("l_partkey", "n_lines", F.col("__v").cast("double").alias("part_value"))
    )


@query(
    "q_moving_average_24h",
    """
    SELECT event_id, user_id, ts,
           CAST(SUM(CAST(value AS DECIMAL(28, 8))) OVER w AS DOUBLE)
               / (COUNT(*) OVER w) AS ma_24h,
           COUNT(*) OVER w AS n_in_window
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 24 HOURS PRECEDING AND CURRENT ROW)
    """,
    doc="Trailing-24h moving average per user over EVENT TIME with a "
    "RANGE frame — the time-based window (frame bounds in wall-clock "
    "units, including all ties) that ROWS frames can't express on "
    "irregular series. Spark orders by unix_micros with literal "
    "microsecond bounds (Spark RANGE frames need numeric ordering); "
    "DuckDB uses the INTERVAL frame directly — same [t-24h, t] "
    "semantics. One hash exchange on user_id; the frame sum is exact "
    "DECIMAL divided by the frame count, so the mean is bit-stable "
    "regardless of how the frame's rows were folded.",
    tags=("olap", "window", "timeseries"),
)
def q_moving_average_24h(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-86_400_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        (
            F.sum(F.col("value").cast("decimal(28,8)")).over(w).cast("double")
            / F.count(F.lit(1)).over(w)
        ).alias("ma_24h"),
        F.count(F.lit(1)).over(w).alias("n_in_window"),
    )


@query(
    "q_debounce_events",
    """
    WITH s AS (
        SELECT event_id, user_id, ts, event_type, value,
               LAG(ts) OVER w AS prev_ts,
               LAG(floor(value / 50)) OVER w AS prev_bucket,
               floor(value / 50) AS bucket
        FROM events
        WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
    )
    SELECT event_id, user_id, ts, event_type, value
    FROM s
    WHERE prev_ts IS NULL
       OR epoch_us(ts) - epoch_us(prev_ts) > 259200000000
       OR bucket <> prev_bucket
    """,
    doc="Telemetry debounce, adjacent-row form: drop a reading when the "
    "IMMEDIATELY PRECEDING raw reading of the same (user, type) stream "
    "had the same quantized level (floor(value/50)) AND arrived within "
    "72 h. Note the semantics precisely: the 72 h clause compares to "
    "the previous RAW row, not the last EMITTED row — a stream sampled "
    "more often than every 72 h at a constant level emits only the "
    "level's first row (each later row chains off its dense "
    "predecessor), i.e. steady state compresses to level CHANGES with "
    "no periodic heartbeat. That is the right cleaner when storage "
    "should hold transitions only; q_debounce_heartbeat is the "
    "variant that re-emits a keep-alive per 72 h sub-window inside "
    "long constant runs. One LAG window per (user, type) partition — "
    "a single hash exchange; the keep-predicate is pure column "
    "arithmetic, no self-join; (ts, event_id) ordering is total so "
    "the kept set is deterministic under any partitioning and engine.",
    tags=("olap", "window", "timeseries", "parity"),
)
def q_debounce_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    bucket = F.floor(F.col("value") / 50)
    s = ev.select(
        "event_id", "user_id", "ts", "event_type", "value",
        bucket.alias("__b"),
        F.lag("ts").over(w).alias("__pts"),
        F.lag(bucket).over(w).alias("__pb"),
    )
    keep = (
        F.col("__pts").isNull()
        | ((F.unix_micros("ts") - F.unix_micros("__pts")) > 259_200_000_000)
        | (F.col("__b") != F.col("__pb"))
    )
    return s.filter(keep).select("event_id", "user_id", "ts", "event_type", "value")


@query(
    "q_debounce_heartbeat",
    """
    WITH s AS (
        SELECT event_id, user_id, ts, event_type, value,
               CASE WHEN LAG(floor(value / 50)) OVER w IS DISTINCT FROM floor(value / 50)
                    THEN 1 ELSE 0 END AS chg
        FROM events
        WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
    ),
    runs AS (
        SELECT *, SUM(chg) OVER (PARTITION BY user_id, event_type
                                 ORDER BY ts, event_id) AS run_id
        FROM s
    ),
    sub AS (
        SELECT *,
               (epoch_us(ts) - MIN(epoch_us(ts))
                    OVER (PARTITION BY user_id, event_type, run_id))
                   // 259200000000 AS subwin
        FROM runs
    ),
    ranked AS (
        SELECT event_id, user_id, ts, event_type, value,
               ROW_NUMBER() OVER (PARTITION BY user_id, event_type, run_id, subwin
                                  ORDER BY ts, event_id) AS rn
        FROM sub
    )
    SELECT event_id, user_id, ts, event_type, value FROM ranked WHERE rn = 1
    """,
    doc="Telemetry debounce, heartbeat form (the gaps-and-islands pass "
    "q_debounce_events' adjacent-row semantics deliberately is not): "
    "constant-level RUNS are identified per (user, type) stream via "
    "the change-flag cumulative sum, then each run emits its first "
    "row per 72 h sub-window measured from run start — so a dense "
    "steady-state stream still produces a keep-alive every 72 h "
    "(liveness), while noise inside a level still drops. Three "
    "windows, ONE hash exchange: all partition keys extend "
    "(user_id, event_type), so Catalyst plans a single exchange and "
    "consecutive in-partition sorts. Run bucketing is exact integer "
    "µs arithmetic (DIV), (ts, event_id) ordering is total — fully "
    "deterministic, exact SQL oracle.",
    tags=("olap", "window", "timeseries", "parity"),
)
def q_debounce_heartbeat(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    bucket = F.floor(F.col("value") / 50)
    # NULL-safe inequality: the first row of a stream starts run 1
    chg = F.when(F.lag(bucket).over(w).eqNullSafe(bucket), 0).otherwise(1)
    runs = ev.select(
        "event_id", "user_id", "ts", "event_type", "value", chg.alias("__chg")
    ).withColumn("__run", F.sum("__chg").over(w))
    w_run = W.partitionBy("user_id", "event_type", "__run")
    sub = runs.withColumn(
        "__diff", F.unix_micros("ts") - F.min(F.unix_micros("ts")).over(w_run)
    ).withColumn("__subwin", F.expr("__diff DIV 259200000000"))
    w_emit = W.partitionBy("user_id", "event_type", "__run", "__subwin").orderBy(
        "ts", "event_id"
    )
    return (
        sub.withColumn("__rn", F.row_number().over(w_emit))
        .filter(F.col("__rn") == 1)
        .select("event_id", "user_id", "ts", "event_type", "value")
    )


@query(
    "q_session_overlap",
    """
    WITH s AS (
        SELECT user_id, ts,
               CASE WHEN LAG(ts) OVER w IS NULL
                      OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    numbered AS (
        SELECT user_id, ts,
               SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts) AS sid
        FROM s
    ),
    sess AS (
        SELECT user_id, sid, MIN(ts) AS s_start, MAX(ts) AS s_end
        FROM numbered GROUP BY 1, 2
    )
    SELECT a.user_id AS user_a, b.user_id AS user_b,
           a.s_start AS a_start, b.s_start AS b_start,
           epoch_us(least(a.s_end, b.s_end))
               - epoch_us(greatest(a.s_start, b.s_start)) AS overlap_us
    FROM sess a JOIN sess b
      ON a.user_id < b.user_id
     AND a.s_start <= b.s_end AND b.s_start <= a.s_end
    """,
    doc="Interval-interval overlap join: cross-user pairs of 30-min-gap "
    "sessions that overlap in wall-clock time (co-occurrence "
    "detection) — the interval join shape q_range_join_follows' "
    "point-in-window banding doesn't cover. Spark plan: sessions "
    "derive from the q_sessionize window cascade (one user_id "
    "exchange), then each session explodes to its covered 1-hour time "
    "buckets and candidates equi-join ON THE BUCKET — fan-out is "
    "duration/bucket per session and per-bucket cost is density-"
    "bounded, never |sessions|² (the kernel_smooth guard applied to "
    "interval pairs); a distinct collapses multi-bucket double-hits "
    "and the exact overlap predicate re-verifies. The oracle is the "
    "plain inequality join (DuckDB IEJoin). Overlap length is integer "
    "µs arithmetic — exact cross-engine.",
    tags=("olap", "join", "range", "session"),
)
def q_session_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts")
    gap = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    new_s = F.when(F.lag("ts").over(w).isNull() | (gap > 1_800_000_000), 1).otherwise(0)
    numbered = ev.select("user_id", "ts", new_s.alias("__new"))
    numbered = numbered.withColumn(
        "__sid", F.sum("__new").over(W.partitionBy("user_id").orderBy("ts"))
    )
    sess = numbered.groupBy("user_id", "__sid").agg(
        F.min("ts").alias("s_start"), F.max("ts").alias("s_end")
    )
    bucket_us = 3_600_000_000
    banded = sess.withColumn(
        "__bkt",
        F.explode(
            F.sequence(
                F.floor(F.unix_micros("s_start") / bucket_us),
                F.floor(F.unix_micros("s_end") / bucket_us),
            )
        ),
    )
    a = banded.select(
        F.col("user_id").alias("user_a"),
        F.col("s_start").alias("a_start"),
        F.col("s_end").alias("a_end"),
        "__bkt",
    )
    b = banded.select(
        F.col("user_id").alias("user_b"),
        F.col("s_start").alias("b_start"),
        F.col("s_end").alias("b_end"),
        "__bkt",
    )
    pairs = (
        a.join(b, "__bkt")
        .filter(
            (F.col("user_a") < F.col("user_b"))
            & (F.col("a_start") <= F.col("b_end"))
            & (F.col("b_start") <= F.col("a_end"))
        )
        .select("user_a", "user_b", "a_start", "b_start", "a_end", "b_end")
        .distinct()
    )
    return pairs.select(
        "user_a",
        "user_b",
        "a_start",
        "b_start",
        (
            F.unix_micros(F.least("a_end", "b_end"))
            - F.unix_micros(F.greatest("a_start", "b_start"))
        ).alias("overlap_us"),
    )


@query(
    "q_constraint_audit",
    """
    WITH m AS (
        SELECT COUNT(*) AS n,
               COUNT(l_shipdate) AS ship_nn,
               COUNT(DISTINCT (l_orderkey, l_linenumber)) AS pk_d,
               SUM(CASE WHEN l_discount BETWEEN 0 AND 0.11 THEN 1 ELSE 0 END) AS disc_ok,
               SUM(CASE WHEN l_returnflag IN ('A','N','R') THEN 1 ELSE 0 END) AS rf_ok,
               COUNT(o_orderkey) AS fk_ok,
               SUM(CASE WHEN l_quantity <= 49 THEN 1 ELSE 0 END) AS qty_ok
        FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
    ),
    long AS (
        SELECT 'lineitem.l_shipdate.completeness' AS check_name, ship_nn / n AS metric FROM m
        UNION ALL SELECT 'lineitem.(l_orderkey,l_linenumber).uniqueness', pk_d / n FROM m
        UNION ALL SELECT 'lineitem.l_discount.in_range_0_0.11', disc_ok / n FROM m
        UNION ALL SELECT 'lineitem.l_returnflag.domain_ANR', rf_ok / n FROM m
        UNION ALL SELECT 'lineitem.l_orderkey.fk_orders', fk_ok / n FROM m
        UNION ALL SELECT 'lineitem.l_quantity.le_49', qty_ok / n FROM m
    )
    SELECT check_name, ROUND(metric, 6) AS metric,
           CASE WHEN metric >= 1.0 - 1e-9 THEN 'pass' ELSE 'fail' END AS status
    FROM long
    """,
    doc="Deequ-style declarative data-quality suite, one scan: six "
    "constraints (completeness, composite-key uniqueness, numeric "
    "range, categorical domain, referential integrity, an intentionally "
    "tight quantity bound) computed in a single aggregate over lineitem "
    "LEFT JOIN orders — count/count_distinct/conditional sums are all "
    "partial-aggregable, then the 1-row metric vector unpivots via "
    "stack() into (check_name, metric, status). The reference validates "
    "row-at-a-time in Python (breadcrumb_validation.py); this is the "
    "set-based form that audits 100 TB in one pass. The dedicated FK "
    "operator (q_fk_orphans) returns the orphan rows; here the same "
    "check is one metric among the suite. On the synthetic fixture two "
    "checks genuinely fail — the tight quantity bound AND composite-key "
    "uniqueness (the generator does not enforce the TPC-H lineitem PK; "
    "sf0.001: 4599 distinct (l_orderkey,l_linenumber) pairs over 6000 "
    "rows) — exactly what an audit exists to surface (pinned in "
    "tests/test_olap.py).",
    tags=("olap", "validation", "agg"),
)
def q_constraint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_shipdate", "l_discount",
        "l_returnflag", "l_quantity",
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey")
    j = li.join(o, li.l_orderkey == o.o_orderkey, "left")
    agg = j.agg(
        F.count(F.lit(1)).alias("n"),
        F.count("l_shipdate").alias("ship_nn"),
        F.count_distinct("l_orderkey", "l_linenumber").alias("pk_d"),
        F.sum(
            F.when(F.col("l_discount").between(0, 0.11), 1).otherwise(0)
        ).alias("disc_ok"),
        F.sum(
            F.when(F.col("l_returnflag").isin("A", "N", "R"), 1).otherwise(0)
        ).alias("rf_ok"),
        F.count("o_orderkey").alias("fk_ok"),
        F.sum(F.when(F.col("l_quantity") <= 49, 1).otherwise(0)).alias("qty_ok"),
    )
    long = agg.selectExpr(
        """stack(6,
            'lineitem.l_shipdate.completeness',           ship_nn / n,
            'lineitem.(l_orderkey,l_linenumber).uniqueness', pk_d / n,
            'lineitem.l_discount.in_range_0_0.11',        disc_ok / n,
            'lineitem.l_returnflag.domain_ANR',           rf_ok / n,
            'lineitem.l_orderkey.fk_orders',              fk_ok / n,
            'lineitem.l_quantity.le_49',                  qty_ok / n
        ) AS (check_name, metric)"""
    )
    return long.select(
        "check_name",
        F.round("metric", 6).alias("metric"),
        F.when(F.col("metric") >= 1.0 - 1e-9, "pass").otherwise("fail").alias("status"),
    )


@query(
    "q_interpolate_linear",
    """
    WITH g AS (
        SELECT event_id, user_id, ts,
               CASE WHEN event_type <> 'error' THEN value END AS v,
               epoch_us(ts) AS tus
        FROM events
    ),
    w AS (
        SELECT event_id, user_id, ts, v, tus,
               LAST_VALUE(v IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_v,
               LAST_VALUE(CASE WHEN v IS NOT NULL THEN tus END IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_t,
               FIRST_VALUE(v IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_v,
               FIRST_VALUE(CASE WHEN v IS NOT NULL THEN tus END IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_t
        FROM g
    )
    SELECT event_id, user_id, ts, v IS NULL AS is_gap,
           ROUND(CASE
               WHEN v IS NOT NULL THEN v
               WHEN prev_v IS NOT NULL AND next_v IS NOT NULL AND next_t > prev_t
                   THEN prev_v + (next_v - prev_v) * ((tus - prev_t) / (next_t - prev_t))
               WHEN prev_v IS NOT NULL AND next_v IS NOT NULL THEN prev_v
           END, 6) AS v_interp
    FROM w
    """,
    doc="Per-key linear interpolation of gap values (error events null "
    "their reading, the classic sensor-dropout shape): two "
    "IGNORE NULLS window passes carry the nearest non-null neighbor "
    "value+timestamp from each direction, then the gap value is the "
    "time-weighted blend — one shuffle on user_id total, no self-join, "
    "no Python. Tie-guarded (equal neighbor timestamps fall back to "
    "ffill) and edge gaps stay NULL. Extends q_resample_ffill's "
    "step-fill to continuous signals. All arithmetic is per-row IEEE "
    "on already-windowed scalars — deterministic, rounded to 6dp on "
    "both engines.",
    tags=("olap", "window", "timeseries"),
)
def q_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts",
        F.when(F.col("event_type") != "error", F.col("value")).alias("v"),
        F.unix_micros("ts").alias("tus"),
    )
    order = [F.col("ts"), F.col("event_id")]
    wprev = (
        Window.partitionBy("user_id").orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wnext = (
        Window.partitionBy("user_id").orderBy(*order)
        .rowsBetween(1, Window.unboundedFollowing)
    )
    t_nn = F.when(F.col("v").isNotNull(), F.col("tus"))
    w = e.select(
        "event_id", "user_id", "ts", "v", "tus",
        F.last("v", ignorenulls=True).over(wprev).alias("prev_v"),
        F.last(t_nn, ignorenulls=True).over(wprev).alias("prev_t"),
        F.first("v", ignorenulls=True).over(wnext).alias("next_v"),
        F.first(t_nn, ignorenulls=True).over(wnext).alias("next_t"),
    )
    interp = (
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(
            F.col("prev_v").isNotNull()
            & F.col("next_v").isNotNull()
            & (F.col("next_t") > F.col("prev_t")),
            F.col("prev_v")
            + (F.col("next_v") - F.col("prev_v"))
            * ((F.col("tus") - F.col("prev_t")) / (F.col("next_t") - F.col("prev_t"))),
        )
        .when(
            F.col("prev_v").isNotNull() & F.col("next_v").isNotNull(),
            F.col("prev_v"),
        )
    )
    return w.select(
        "event_id", "user_id", "ts",
        F.col("v").isNull().alias("is_gap"),
        F.round(interp, 6).alias("v_interp"),
    )


@query(
    "q_skyline_orders",
    """
    WITH pts AS (
        SELECT DISTINCT o_totalprice AS price, o_orderdate AS order_ts
        FROM orders WHERE o_orderpriority = '1-URGENT'
    )
    SELECT price, order_ts FROM pts b
    WHERE NOT EXISTS (
        SELECT 1 FROM pts a
        WHERE a.price >= b.price AND a.order_ts >= b.order_ts
          AND (a.price > b.price OR a.order_ts > b.order_ts)
    )
    """,
    doc="2-D skyline (Pareto frontier, Börzsönyi et al. ICDE 2001) of "
    "urgent orders on (totalprice, recency): orders no other order beats "
    "on both axes — the multi-criteria 'best offers' OLAP shape, and in "
    "curation the 'Pareto-optimal on quality × freshness' document pick. "
    "The ORACLE is the definition itself — a quadratic NOT EXISTS "
    "dominance anti-join (urgent-only keeps the sf0.1 oracle's pair "
    "count ~25× down); the SPARK plan is the scalable decomposition in "
    "operators/skyline.py: distinct → grid-prune (per-price-bucket "
    "max-date aggregate + running max over strictly higher buckets, "
    "broadcast back as a one-pass dominance filter) → exact (x desc, "
    "y desc) sort-scan over the pruned candidates, where a row survives "
    "iff its y exceeds the running max of all preceding y. Two "
    "different algorithms, one hash — strong cross-engine evidence. No "
    "arithmetic beyond bucketing: the result is a verbatim row subset, "
    "so DOUBLE prices hash-match bit-for-bit.",
    tags=("olap", "skyline", "window"),
)
def q_skyline_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from c_tran_data_pipeline_spark.operators.skyline import skyline_2d

    urgent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    # fixture price range ≈ [900, 600k] → width 1000 ≈ 600 buckets:
    # bucket table stays bytes-sized, prune still collapses the sweep
    sky = skyline_2d(urgent, "o_totalprice", "o_orderdate", bucket_width=1000.0)
    return sky.select(F.col("x").alias("price"), F.col("y").alias("order_ts"))


@query(
    "q_region_trend",
    """
    WITH m AS (
        SELECT r_name AS region,
               (year(o_orderdate) - 1995) * 12 + month(o_orderdate) - 1 AS x,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(28, 8))) AS DECIMAL(28, 8)) AS rev
        FROM orders, customer, nation, region
        WHERE o_custkey = c_custkey
          AND c_nationkey = n_nationkey
          AND n_regionkey = r_regionkey
        GROUP BY 1, 2
    ),
    s AS (
        SELECT region,
               COUNT(*) AS n_months,
               SUM(x) AS sx,
               SUM(x * x) AS sxx,
               CAST(SUM(rev) AS DECIMAL(38, 8)) AS sy,
               CAST(SUM(CAST(x AS DECIMAL(4, 0)) * rev) AS DECIMAL(38, 8)) AS sxy
        FROM m GROUP BY region
    )
    SELECT region, n_months,
           ROUND((CAST(n_months AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n_months AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 12) AS slope,
           ROUND((CAST(sy AS DOUBLE)
                  - (CAST(n_months AS DOUBLE) * CAST(sxy AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                    / (CAST(n_months AS DOUBLE) * CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * CAST(sx AS DOUBLE))
                 / CAST(n_months AS DOUBLE), 12) AS intercept
    FROM s
    """,
    doc="Per-region OLS revenue trend: aggregate orders to exact "
    "DECIMAL monthly revenue (month index x = months since 1995-01), "
    "then fit slope/intercept per region from the classic sufficient "
    "statistics (n, Σx, Σx², Σy, Σxy) — the trend-detection shape "
    "behind drift monitors and forecasting features, computed without "
    "any ML library. Scale shape: one orders⋈customer shuffle (the "
    "nation→region map is a broadcast), one partial-agg shuffle to "
    "monthly grain, and the regression itself runs on ≤ |regions|·80 "
    "rows — sufficient statistics mean NO second pass over the fact "
    "table (the single-pass property that matters at 100 TB). Float "
    "policy: every sum is exact DECIMAL (Σxy via a DECIMAL(4,0)·"
    "DECIMAL(28,8) product — exact, overflow-free), the slope is a "
    "fixed-shape scalar IEEE expression over those exact sums, rounded "
    "to 12 — bit-stable across engines and partitionings.",
    tags=("olap", "agg", "stats"),
)
def q_region_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderdate", "o_totalprice")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    r = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    nr = F.broadcast(n.join(r, n.n_regionkey == r.r_regionkey).select("n_nationkey", "r_name"))
    x = (F.year("o_orderdate") - F.lit(1995)) * 12 + F.month("o_orderdate") - 1
    m = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(nr, c.c_nationkey == nr.n_nationkey)
        .groupBy(F.col("r_name").alias("region"), x.alias("x"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(28,8)"))
            .cast("decimal(28,8)")
            .alias("rev")
        )
    )
    s = m.groupBy("region").agg(
        F.count(F.lit(1)).alias("n_months"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum("rev").cast("decimal(38,8)").alias("sy"),
        F.sum(F.col("x").cast("decimal(4,0)") * F.col("rev"))
        .cast("decimal(38,8)")
        .alias("sxy"),
    )
    nd = F.col("n_months").cast("double")
    sxd = F.col("sx").cast("double")
    sxxd = F.col("sxx").cast("double")
    syd = F.col("sy").cast("double")
    sxyd = F.col("sxy").cast("double")
    slope_raw = (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd)
    return s.select(
        "region",
        "n_months",
        F.round(slope_raw, 12).alias("slope"),
        F.round((syd - slope_raw * sxd) / nd, 12).alias("intercept"),
    )


@query(
    "q_benford_audit",
    """
    WITH d AS (
        SELECT substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR),
                      1, 1) AS digit
        FROM orders WHERE o_totalprice > 0
    ),
    c AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY digit),
    t AS (SELECT SUM(n) AS total FROM c)
    SELECT digit, n,
           ROUND(CAST(n AS DOUBLE) / CAST(total AS DOUBLE), 12) AS observed_p,
           ROUND(log10(1.0 + 1.0 / CAST(digit AS DOUBLE)), 12) AS benford_p,
           ROUND((CAST(n AS DOUBLE)
                  - CAST(total AS DOUBLE) * log10(1.0 + 1.0 / CAST(digit AS DOUBLE)))
                 * (CAST(n AS DOUBLE)
                    - CAST(total AS DOUBLE) * log10(1.0 + 1.0 / CAST(digit AS DOUBLE)))
                 / (CAST(total AS DOUBLE) * log10(1.0 + 1.0 / CAST(digit AS DOUBLE))),
                 12) AS chi2_term
    FROM c, t
    """,
    doc="Benford's-law first-digit audit over order amounts: observed "
    "leading-digit frequencies vs log10(1+1/d), with per-digit "
    "chi-square contributions — the forensic data-quality screen for "
    "fabricated or systematically-rounded monetary data. Digit "
    "extraction avoids float formatting entirely: amounts become exact "
    "integer CENTS (round(x·100) → BIGINT) and the digit is the first "
    "character of the INTEGER's string — integer-to-string is "
    "identical across engines, double-to-string is not. One scan + a "
    "9-row aggregate; the expected-p and chi-square terms are "
    "fixed-shape scalar expressions over the 1-row total (broadcast), "
    "rounded to 12. The chi-square statistic is the sum of chi2_term — "
    "left per-digit so the audit shows WHICH digit deviates.",
    tags=("olap", "quality", "agg"),
)
def q_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    digit = F.substring(
        F.round(F.col("o_totalprice") * 100).cast("bigint").cast("string"), 1, 1
    )
    c = o.select(digit.alias("digit")).groupBy("digit").agg(
        F.count(F.lit(1)).alias("n")
    )
    t = c.agg(F.sum("n").alias("total"))
    nd = F.col("n").cast("double")
    td = F.col("total").cast("double")
    p = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit").cast("double"))
    return c.crossJoin(F.broadcast(t)).select(
        "digit",
        "n",
        F.round(nd / td, 12).alias("observed_p"),
        F.round(p, 12).alias("benford_p"),
        F.round((nd - td * p) * (nd - td * p) / (td * p), 12).alias("chi2_term"),
    )


@query(
    "q_seasonal_index",
    """
    WITH m AS (
        SELECT r_name AS region, month(o_orderdate) AS moy,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(28, 8))) AS DECIMAL(38, 8)) AS rev
        FROM orders, customer, nation, region
        WHERE o_custkey = c_custkey
          AND c_nationkey = n_nationkey
          AND n_regionkey = r_regionkey
        GROUP BY 1, 2
    ),
    a AS (
        SELECT region, CAST(SUM(rev) AS DECIMAL(38, 8)) AS tot, COUNT(*) AS nm
        FROM m GROUP BY region
    )
    SELECT region, moy, CAST(rev AS DOUBLE) AS revenue,
           ROUND(CAST(rev AS DOUBLE) * CAST(nm AS DOUBLE) / CAST(tot AS DOUBLE), 12)
               AS seasonal_index
    FROM m JOIN a USING (region)
    """,
    doc="Month-of-year seasonal index of order revenue per region: "
    "revenue at monthly grain divided by the region's mean month — "
    "index > 1 is a seasonal peak. The multiplicative-decomposition "
    "companion to q_region_trend (trend) and q_dow_profile (weekly "
    "cycle): together they form the classic trend/seasonality split, "
    "all from ONE pass over the fact table into a ≤ |regions|·12-row "
    "relation. Sums are exact DECIMAL; the index is rev·nm/tot as a "
    "fixed-shape double expression rounded to 12 (Spark computes the "
    "region totals as a window over the monthly grain — same exact "
    "decimal sums, one shuffle).",
    tags=("olap", "agg", "stats"),
)
def q_seasonal_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderdate", "o_totalprice")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    r = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    nr = F.broadcast(n.join(r, n.n_regionkey == r.r_regionkey).select("n_nationkey", "r_name"))
    m = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(nr, c.c_nationkey == nr.n_nationkey)
        .groupBy(F.col("r_name").alias("region"), F.month("o_orderdate").alias("moy"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(28,8)"))
            .cast("decimal(38,8)")
            .alias("rev")
        )
    )
    w = Window.partitionBy("region")
    return m.select(
        "region",
        "moy",
        F.col("rev").cast("double").alias("revenue"),
        F.round(
            F.col("rev").cast("double")
            * F.count(F.lit(1)).over(w).cast("double")
            / F.sum("rev").over(w).cast("decimal(38,8)").cast("double"),
            12,
        ).alias("seasonal_index"),
    )




@query(
    "q_corr_matrix",
    """
    WITH v AS (
        SELECT CAST(round(l_quantity * 100) AS BIGINT) AS q,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS e,
               CAST(round(l_discount * 100) AS BIGINT) AS d,
               CAST(round(l_tax * 100) AS BIGINT) AS t
        FROM lineitem
    ),
    s AS (
        SELECT COUNT(*) AS n,
               CAST(SUM(CAST(q AS DECIMAL(38,0))) AS DOUBLE) AS s_q,
               CAST(SUM(CAST(e AS DECIMAL(38,0))) AS DOUBLE) AS s_e,
               CAST(SUM(CAST(d AS DECIMAL(38,0))) AS DOUBLE) AS s_d,
               CAST(SUM(CAST(t AS DECIMAL(38,0))) AS DOUBLE) AS s_t,
               CAST(SUM(CAST(q * q AS DECIMAL(38,0))) AS DOUBLE) AS s_qq,
               CAST(SUM(CAST(q * e AS DECIMAL(38,0))) AS DOUBLE) AS s_qe,
               CAST(SUM(CAST(q * d AS DECIMAL(38,0))) AS DOUBLE) AS s_qd,
               CAST(SUM(CAST(q * t AS DECIMAL(38,0))) AS DOUBLE) AS s_qt,
               CAST(SUM(CAST(e * e AS DECIMAL(38,0))) AS DOUBLE) AS s_ee,
               CAST(SUM(CAST(e * d AS DECIMAL(38,0))) AS DOUBLE) AS s_ed,
               CAST(SUM(CAST(e * t AS DECIMAL(38,0))) AS DOUBLE) AS s_et,
               CAST(SUM(CAST(d * d AS DECIMAL(38,0))) AS DOUBLE) AS s_dd,
               CAST(SUM(CAST(d * t AS DECIMAL(38,0))) AS DOUBLE) AS s_dt,
               CAST(SUM(CAST(t * t AS DECIMAL(38,0))) AS DOUBLE) AS s_tt
        FROM v
    )
    SELECT 'l_quantity' AS var_x, 'l_extendedprice' AS var_y,
           ROUND((CAST(n AS DOUBLE) * s_qe - s_q * s_e)
                 / sqrt((CAST(n AS DOUBLE) * s_qq - s_q * s_q)
                        * (CAST(n AS DOUBLE) * s_ee - s_e * s_e)), 12) AS corr
    FROM s
    UNION ALL
    SELECT 'l_quantity', 'l_discount',
           ROUND((CAST(n AS DOUBLE) * s_qd - s_q * s_d)
                 / sqrt((CAST(n AS DOUBLE) * s_qq - s_q * s_q)
                        * (CAST(n AS DOUBLE) * s_dd - s_d * s_d)), 12)
    FROM s
    UNION ALL
    SELECT 'l_quantity', 'l_tax',
           ROUND((CAST(n AS DOUBLE) * s_qt - s_q * s_t)
                 / sqrt((CAST(n AS DOUBLE) * s_qq - s_q * s_q)
                        * (CAST(n AS DOUBLE) * s_tt - s_t * s_t)), 12)
    FROM s
    UNION ALL
    SELECT 'l_extendedprice', 'l_discount',
           ROUND((CAST(n AS DOUBLE) * s_ed - s_e * s_d)
                 / sqrt((CAST(n AS DOUBLE) * s_ee - s_e * s_e)
                        * (CAST(n AS DOUBLE) * s_dd - s_d * s_d)), 12)
    FROM s
    UNION ALL
    SELECT 'l_extendedprice', 'l_tax',
           ROUND((CAST(n AS DOUBLE) * s_et - s_e * s_t)
                 / sqrt((CAST(n AS DOUBLE) * s_ee - s_e * s_e)
                        * (CAST(n AS DOUBLE) * s_tt - s_t * s_t)), 12)
    FROM s
    UNION ALL
    SELECT 'l_discount', 'l_tax',
           ROUND((CAST(n AS DOUBLE) * s_dt - s_d * s_t)
                 / sqrt((CAST(n AS DOUBLE) * s_dd - s_d * s_d)
                        * (CAST(n AS DOUBLE) * s_tt - s_t * s_t)), 12)
    FROM s
    """,
    doc="Pairwise Pearson correlation matrix over lineitem's four "
    "numeric measures from sufficient statistics in ONE scan — the "
    "feature-redundancy screen run before training-data "
    "featurization. Exactness trick: Pearson is SCALE-INVARIANT, so "
    "each 2-decimal measure is integerized to ×100 BIGINTs first — "
    "per-row products then stay comfortably inside int64 (max ~1e14), "
    "and only the cross-row SUMs go through exact DECIMAL(38,0) "
    "(DuckDB refuses DECIMAL(18)×DECIMAL(18) without a widening cast; "
    "integers sidestep engine decimal-width rules entirely). The six "
    "upper-triangle correlations are fixed-shape scalar IEEE "
    "expressions over ONE aggregate row, inlined into six rows in "
    "the same lazy plan (no per-pair rescan, no job before "
    "collect), rounded to 12 — the q_region_trend "
    "single-pass policy.",
    tags=("olap", "agg", "stats"),
)
def q_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    cols = {
        "q": "l_quantity",
        "e": "l_extendedprice",
        "d": "l_discount",
        "t": "l_tax",
    }
    keys = list(cols)
    # Expressions go in as SQL text: one call per expression, where the
    # Column API costs one driver round-trip per operator (most of this
    # builder's time).
    li = load_table(spark, sf_dir, "lineitem").selectExpr(
        *[f"CAST(round({c} * 100) AS BIGINT) AS {k}" for k, c in cols.items()]
    )
    aggs = ["count(1) AS n"]
    aggs += [f"CAST(sum(CAST({k} AS DECIMAL(38,0))) AS DOUBLE) AS s_{k}" for k in keys]
    aggs += [
        f"CAST(sum(CAST({a} * {b} AS DECIMAL(38,0))) AS DOUBLE) AS s_{a}{b}"
        for i, a in enumerate(keys)
        for b in keys[i:]
    ]
    nd = "CAST(n AS DOUBLE)"
    pairs = []
    for i, a in enumerate(keys):
        for b in keys[i + 1 :]:
            num = f"{nd} * s_{a}{b} - s_{a} * s_{b}"
            den = (
                f"sqrt(({nd} * s_{a}{a} - s_{a} * s_{a})"
                f" * ({nd} * s_{b}{b} - s_{b} * s_{b}))"
            )
            pairs.append(
                f"named_struct('var_x', '{cols[a]}', 'var_y', '{cols[b]}',"
                f" 'corr', round(({num}) / {den}, 12))"
            )
    return li.selectExpr(*aggs).selectExpr(f"inline(array({', '.join(pairs)}))")


@query(
    "q_assoc_rules",
    """
    WITH baskets AS (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS item
        FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        WHERE o_orderpriority = '1-URGENT'
    ),
    nb AS (SELECT COUNT(DISTINCT ok) AS n FROM baskets),
    supp AS (SELECT item, COUNT(*) AS s FROM baskets GROUP BY 1),
    pairs AS (
        SELECT a.item AS x, b.item AS y, COUNT(*) AS sxy
        FROM baskets a JOIN baskets b ON a.ok = b.ok AND a.item < b.item
        GROUP BY 1, 2
        HAVING COUNT(*) >= 2
    ),
    rules AS (
        SELECT x AS antecedent, y AS consequent, sxy FROM pairs
        UNION ALL
        SELECT y, x, sxy FROM pairs
    )
    SELECT antecedent, consequent, sxy AS pair_support,
           ROUND(CAST(sxy AS DOUBLE) / CAST(sa.s AS DOUBLE), 12) AS confidence,
           ROUND(CAST(nb.n AS DOUBLE) * CAST(sxy AS DOUBLE)
                 / (CAST(sa.s AS DOUBLE) * CAST(sb.s AS DOUBLE)), 12) AS lift
    FROM rules
    JOIN supp sa ON sa.item = antecedent
    JOIN supp sb ON sb.item = consequent, nb
    """,
    doc="Association rules over urgent-order baskets (a-priori level 2): "
    "pair support from the within-basket self-join (bounded — TPC-H "
    "baskets have ≤7 items, so pairs-per-basket ≤ 21 and the join is "
    "linear in lineitem), minimum support 2, then confidence = "
    "supp(a,b)/supp(a) and lift = N·supp(a,b)/(supp(a)·supp(b)) for "
    "both rule directions — the market-basket shape behind "
    "recommendation candidates and co-occurrence quality signals. "
    "Item supports join back on the item key (shuffle keyed, no "
    "broadcast of the corpus-sized support table needed: the rules "
    "side is already minsup-pruned); the basket count re-enters as a "
    "1-row broadcast scalar. All ratios are exact-integer divisions "
    "rounded to 12 (q_event_transitions policy). Deeper itemsets "
    "iterate the same join-against-frequent-prefixes shape.",
    tags=("olap", "agg", "join", "assoc"),
)
def q_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    urgent = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey")
    )
    baskets = (
        li.join(urgent, li.l_orderkey == urgent.o_orderkey, "left_semi")
        .select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("item"))
        .distinct()
    )
    nb = baskets.agg(F.countDistinct("ok").alias("n"))
    supp = baskets.groupBy("item").agg(F.count(F.lit(1)).alias("s"))
    a, b = baskets.alias("a"), baskets.alias("b")
    pairs = (
        a.join(b, (F.col("a.ok") == F.col("b.ok")) & (F.col("a.item") < F.col("b.item")))
        .groupBy(F.col("a.item").alias("x"), F.col("b.item").alias("y"))
        .agg(F.count(F.lit(1)).alias("sxy"))
        .filter(F.col("sxy") >= 2)
    )
    rules = pairs.select(
        F.col("x").alias("antecedent"), F.col("y").alias("consequent"), "sxy"
    ).unionByName(
        pairs.select(
            F.col("y").alias("antecedent"), F.col("x").alias("consequent"), "sxy"
        )
    )
    sa = supp.select(F.col("item").alias("antecedent"), F.col("s").alias("s_a"))
    sb = supp.select(F.col("item").alias("consequent"), F.col("s").alias("s_b"))
    return (
        rules.join(sa, "antecedent")
        .join(sb, "consequent")
        .crossJoin(F.broadcast(nb))
        .select(
            "antecedent",
            "consequent",
            F.col("sxy").alias("pair_support"),
            F.round(F.col("sxy").cast("double") / F.col("s_a").cast("double"), 12).alias(
                "confidence"
            ),
            F.round(
                F.col("n").cast("double")
                * F.col("sxy").cast("double")
                / (F.col("s_a").cast("double") * F.col("s_b").cast("double")),
                12,
            ).alias("lift"),
        )
    )


@query(
    "q_cusum_changepoint",
    """
    WITH m AS (
        SELECT r_name AS region,
               (year(o_orderdate) - 1995) * 12 + month(o_orderdate) - 1 AS x,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(28, 8))) AS DECIMAL(28, 8)) AS rev
        FROM orders, customer, nation, region
        WHERE o_custkey = c_custkey
          AND c_nationkey = n_nationkey
          AND n_regionkey = r_regionkey
        GROUP BY 1, 2
    ),
    a AS (
        SELECT region, CAST(SUM(rev) AS DECIMAL(38, 8)) AS tot, COUNT(*) AS nm
        FROM m GROUP BY region
    ),
    dev AS (
        SELECT m.region, m.x, a.nm,
               (CAST(a.nm AS DECIMAL(10, 0)) * m.rev - a.tot) AS d
        FROM m JOIN a USING (region)
    ),
    cs AS (
        SELECT region, x, nm,
               CAST(SUM(d) OVER (PARTITION BY region ORDER BY x
                                 ROWS UNBOUNDED PRECEDING) AS DECIMAL(38, 8)) AS c
        FROM dev
    )
    SELECT region, x AS changepoint_x, nm AS n_months,
           ROUND(CAST(c AS DOUBLE) / CAST(nm AS DOUBLE), 12) AS cusum_peak
    FROM (
        SELECT region, x, nm, c,
               ROW_NUMBER() OVER (PARTITION BY region
                                  ORDER BY abs(c) DESC, x ASC) AS rn
        FROM cs
    ) WHERE rn = 1
    """,
    doc="CUSUM changepoint detection on monthly revenue per region: "
    "cumulative sum of deviations from the regional mean, peak "
    "|CUSUM| month = the most likely single shift point (Page 1954 — "
    "the classic drift detector behind pipeline-health monitors). "
    "Exactness: the mean is never materialized — deviations are "
    "SCALED by the month count (nm·rev − tot, exact DECIMAL products "
    "of an integer and exact sums), so the running window sum stays "
    "rational and the argmax is taken on exact values; the single "
    "division (peak/nm) happens once per region at the very end, "
    "rounded to 12. Scale shape: one fact-table pass to monthly "
    "grain (the q_region_trend plan), then windows over ≤ "
    "|regions|·80 rows — the detector itself is free at any input "
    "size.",
    tags=("olap", "window", "stats"),
)
def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderdate", "o_totalprice")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    r = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    nr = F.broadcast(n.join(r, n.n_regionkey == r.r_regionkey).select("n_nationkey", "r_name"))
    x = (F.year("o_orderdate") - F.lit(1995)) * 12 + F.month("o_orderdate") - 1
    m = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(nr, c.c_nationkey == nr.n_nationkey)
        .groupBy(F.col("r_name").alias("region"), x.alias("x"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(28,8)"))
            .cast("decimal(28,8)")
            .alias("rev")
        )
    )
    wr = Window.partitionBy("region")
    dev = m.select(
        "region",
        "x",
        F.count(F.lit(1)).over(wr).alias("nm"),
        (
            F.count(F.lit(1)).over(wr).cast("decimal(10,0)") * F.col("rev")
            - F.sum("rev").over(wr).cast("decimal(38,8)")
        ).alias("d"),
    )
    wc = Window.partitionBy("region").orderBy("x").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cs = dev.select(
        "region", "x", "nm", F.sum("d").over(wc).cast("decimal(38,8)").alias("c")
    )
    pick = Window.partitionBy("region").orderBy(F.abs(F.col("c")).desc(), F.col("x").asc())
    return (
        cs.withColumn("rn", F.row_number().over(pick))
        .filter(F.col("rn") == 1)
        .select(
            "region",
            F.col("x").alias("changepoint_x"),
            F.col("nm").alias("n_months"),
            F.round(F.col("c").cast("double") / F.col("nm").cast("double"), 12).alias(
                "cusum_peak"
            ),
        )
    )


@query(
    "q_theilsen_trend",
    """
    WITH m AS (
        SELECT r_name AS region,
               (year(o_orderdate) - 1995) * 12 + month(o_orderdate) - 1 AS x,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(28, 8))) AS DECIMAL(28, 8)) AS rev
        FROM orders, customer, nation, region
        WHERE o_custkey = c_custkey
          AND c_nationkey = n_nationkey
          AND n_regionkey = r_regionkey
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT a.region,
               ROUND(CAST(b.rev - a.rev AS DOUBLE) / CAST(b.x - a.x AS DOUBLE), 9)
                   AS slope,
               a.x AS x1, b.x AS x2
        FROM m a JOIN m b ON b.region = a.region AND b.x > a.x
    ),
    r AS (
        SELECT region, slope,
               ROW_NUMBER() OVER (PARTITION BY region
                                  ORDER BY slope, x1, x2) AS rn,
               COUNT(*) OVER (PARTITION BY region) AS np
        FROM pairs
    )
    SELECT region, np AS n_pairs, slope AS ts_slope
    FROM r WHERE rn = (np + 1) // 2
    """,
    doc="Theil-Sen robust trend per region: the (lower) MEDIAN of all "
    "pairwise month-to-month revenue slopes — a 29%-breakdown-point "
    "estimator that one crazy month cannot move, the robust companion "
    "to q_region_trend's OLS (compare the two to spot outlier-driven "
    "trends). The quadratic pair join is taken ONLY on the monthly "
    "grain (≤ 80 months → ≤ 3,160 pairs per region — bounded by the "
    "calendar, not the data), which is what makes an O(k²) estimator "
    "safe at 100 TB: the fact table is touched once (the "
    "q_region_trend aggregate). Each slope is a single fixed-shape "
    "IEEE division rounded to 9 BEFORE ranking (so the median "
    "selection orders identical values identically in both engines); "
    "the lower median is an integer rank pick ((n+1) DIV 2, ties "
    "broken by the generating month pair) — no averaging, stays "
    "exact.",
    tags=("olap", "window", "stats"),
)
def q_theilsen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderdate", "o_totalprice")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    r = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    nr = F.broadcast(n.join(r, n.n_regionkey == r.r_regionkey).select("n_nationkey", "r_name"))
    x = (F.year("o_orderdate") - F.lit(1995)) * 12 + F.month("o_orderdate") - 1
    m = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(nr, c.c_nationkey == nr.n_nationkey)
        .groupBy(F.col("r_name").alias("region"), x.alias("x"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(28,8)"))
            .cast("decimal(28,8)")
            .alias("rev")
        )
    )
    a, b = m.alias("a"), m.alias("b")
    pairs = a.join(
        b, (F.col("b.region") == F.col("a.region")) & (F.col("b.x") > F.col("a.x"))
    ).select(
        F.col("a.region").alias("region"),
        F.round(
            (F.col("b.rev") - F.col("a.rev")).cast("double")
            / (F.col("b.x") - F.col("a.x")).cast("double"),
            9,
        ).alias("slope"),
        F.col("a.x").alias("x1"),
        F.col("b.x").alias("x2"),
    )
    wr = Window.partitionBy("region").orderBy("slope", "x1", "x2")
    wn = Window.partitionBy("region")
    ranked = pairs.select(
        "region",
        "slope",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("np"),
    )
    return ranked.filter(F.col("rn") == F.expr("(np + 1) DIV 2")).select(
        "region", F.col("np").alias("n_pairs"), F.col("slope").alias("ts_slope")
    )


@query(
    "q_rfm_segments",
    """
    WITH agg AS (
        SELECT o_custkey,
               date_diff('day', CAST(MAX(o_orderdate) AS DATE), DATE '2001-09-01')
                   AS recency_days,
               COUNT(*) AS frequency,
               CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS monetary_cents
        FROM orders GROUP BY 1
    )
    SELECT o_custkey AS custkey, recency_days, frequency, monetary_cents,
           6 - NTILE(5) OVER (ORDER BY recency_days, o_custkey) AS r_score,
           NTILE(5) OVER (ORDER BY frequency, o_custkey) AS f_score,
           NTILE(5) OVER (ORDER BY monetary_cents, o_custkey) AS m_score
    FROM agg
    """,
    doc="RFM customer segmentation: recency (days from last order to the "
    "corpus horizon), frequency (order count), monetary (exact lifetime "
    "cents) each quintile-scored 1-5 by NTILE — the classic "
    "value-segmentation grid (r=5,f=5,m=5 is the 'champions' cell) and "
    "the behavioral analog of q_quality_deciles' per-document scoring. "
    "Money is integer cents (round(×100) → BIGINT, the q_benford_audit "
    "recipe) so sums are exact; recency is integer days; NTILE is ANSI "
    "(first n mod k buckets one larger) with a custkey tie-break, so "
    "both engines bucket identically. Plan: one partial-first agg to "
    "the |customers| grain, then ONE global_ntile_multi call over THAT "
    "table (operators/rank.py: one boundary-sampling pass and one "
    "collected bookkeeping pass for all three dimensions, per-bucket "
    "offsets as array literals, three in-bucket rank windows) — exact "
    "quintiles with no single-partition sort at any scale, and never a "
    "global sort of the fact table.",
    tags=("olap", "window", "segment"),
)
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from c_tran_data_pipeline_spark.operators.rank import global_ntile_multi

    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderdate", "o_totalprice")
    agg = o.groupBy("o_custkey").agg(
        F.datediff(F.lit("2001-09-01").cast("date"), F.max("o_orderdate").cast("date")).alias(
            "recency_days"
        ),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("monetary_cents"),
    ).select(
        F.col("o_custkey").alias("custkey"),
        "recency_days",
        "frequency",
        "monetary_cents",
    )
    # Three exact ANSI quintile scores in ONE fused pass
    # (operators/rank.py global_ntile_multi): one sampling pass for all
    # three boundaries, one collected grouping-sets bookkeeping pass
    # counting every dimension's buckets, per-bucket offsets attached as
    # dense array literals and three in-bucket rank windows over the
    # SAME persisted customer-grain frame — the chained form
    # re-persisted and re-joined an ever-wider frame per dimension (plan
    # dumps of both forms: git show
    # 48ae092:plans/r10/q_rfm_segments_{before,after}.txt). Each
    # dimension equals Spark's own NTILE window (tests/test_rank.py).
    scored = global_ntile_multi(
        agg,
        5,
        [
            ["recency_days", "custkey"],
            ["frequency", "custkey"],
            ["monetary_cents", "custkey"],
        ],
        ["__r_nt", "f_score", "m_score"],
    )
    return scored.select(
        "custkey",
        "recency_days",
        "frequency",
        "monetary_cents",
        (F.lit(6) - F.col("__r_nt")).alias("r_score"),
        "f_score",
        "m_score",
    )


@query(
    "q_ks_test",
    """
    WITH s AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
               CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS g1,
               CASE WHEN c_mktsegment = 'MACHINERY' THEN 1 ELSE 0 END AS g2
        FROM orders JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
    ),
    pv AS (SELECT v, CAST(SUM(g1) AS BIGINT) AS c1, CAST(SUM(g2) AS BIGINT) AS c2
           FROM s GROUP BY v),
    cum AS (
        SELECT v,
               CAST(SUM(c1) OVER (ORDER BY v) AS BIGINT) AS f1,
               CAST(SUM(c2) OVER (ORDER BY v) AS BIGINT) AS f2,
               CAST(SUM(c1) OVER () AS BIGINT) AS n1,
               CAST(SUM(c2) OVER () AS BIGINT) AS n2
        FROM pv
    ),
    d AS (
        SELECT v, n1, n2, abs(f1 * n2 - f2 * n1) AS dn,
               MAX(abs(f1 * n2 - f2 * n1)) OVER () AS dmax
        FROM cum
    )
    SELECT MAX(n1) AS n1, MAX(n2) AS n2,
           ROUND(CAST(MAX(dmax) AS DOUBLE)
                 / (CAST(MAX(n1) AS DOUBLE) * CAST(MAX(n2) AS DOUBLE)), 12) AS ks_d,
           MIN(v) AS ks_at_cents
    FROM d WHERE dn = dmax
    """,
    doc="Two-sample Kolmogorov-Smirnov test: D = max |ECDF₁ − ECDF₂| "
    "between BUILDING and MACHINERY customers' order values — the "
    "distribution-shift gate run before mixing corpora or declaring an "
    "A/B cohort comparable (the two-sample sibling of q_psi_drift's "
    "binned divergence: KS needs no bin choice). EXACT throughout: "
    "prices are integer cents, both ECDFs are integer running counts "
    "over the per-VALUE count table, and the sup-gap is maximized in "
    "scaled-integer form |f1·n2 − f2·n1| (cross-multiplied to avoid "
    "any float comparison; ≤ n² ≈ 1e12 — int64-safe) — the single "
    "IEEE division by n1·n2 happens once, after the argmax, rounded "
    "12. ks_at_cents reports WHERE the distributions diverge most "
    "(min such value — deterministic). Plan: ONE fact scan → per-value "
    "partial agg, then EVERYTHING (cumulative ECDFs, group totals, the "
    "max gap) is window functions over the |distinct values| grain — "
    "totals as separate re-aggregations would re-scan the fact table; "
    "as empty-frame windows they reuse the histogram already in hand. "
    "At 100 TB the windowed table is the pre-aggregated value "
    "histogram (bounded by |distinct prices|), never the fact table.",
    tags=("olap", "stats", "window"),
)
def q_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    s = (
        o.join(F.broadcast(c.filter(F.col("c_mktsegment").isin("BUILDING", "MACHINERY"))),
               o.o_custkey == F.col("c_custkey"))
        .select(
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("v"),
            F.when(F.col("c_mktsegment") == "BUILDING", 1).otherwise(0).alias("g1"),
            F.when(F.col("c_mktsegment") == "MACHINERY", 1).otherwise(0).alias("g2"),
        )
    )
    pv = s.groupBy("v").agg(
        F.sum("g1").cast("bigint").alias("c1"), F.sum("g2").cast("bigint").alias("c2")
    )
    # Scale-safe exact ECDFs: global_cumsum (operators/rank.py) range-
    # partitions the distinct-cents grid — v is unique post-groupBy, so
    # the ROWS running sum equals the former RANGE frame. The global
    # max re-enters as a 1-row broadcast scalar, not an unpartitioned
    # window.
    from c_tran_data_pipeline_spark.operators.rank import global_cumsum

    cum = global_cumsum(pv, ["v"], ["c1", "c2"]).select(
        "v",
        F.col("c1_cum").cast("bigint").alias("f1"),
        F.col("c2_cum").cast("bigint").alias("f2"),
        F.col("c1_tot").cast("bigint").alias("n1"),
        F.col("c2_tot").cast("bigint").alias("n2"),
    )
    dn = F.abs(F.col("f1") * F.col("n2") - F.col("f2") * F.col("n1"))
    grid = cum.select("v", "n1", "n2", dn.alias("dn"))
    dmax = grid.agg(F.max("dn").alias("dmax"))
    d = grid.crossJoin(F.broadcast(dmax))
    return d.filter(F.col("dn") == F.col("dmax")).agg(
        F.max("n1").alias("n1"),
        F.max("n2").alias("n2"),
        F.round(
            F.max("dmax").cast("double")
            / (F.max("n1").cast("double") * F.max("n2").cast("double")),
            12,
        ).alias("ks_d"),
        F.min("v").alias("ks_at_cents"),
    )


@query(
    "q_large_orders",
    """
    WITH big AS (
        SELECT l_orderkey,
               CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS total_qty
        FROM lineitem GROUP BY 1
        HAVING CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) > 180
    )
    SELECT c_custkey AS custkey, c_name, o_orderkey AS orderkey, o_orderdate,
           CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents, total_qty
    FROM big
    JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    """,
    doc="TPC-H Q18 shape (large-volume orders): customers whose order "
    "aggregates more than 180 units across its lines — the "
    "HAVING-on-grouped-fact → join-back-to-dims pattern (the IN "
    "(SELECT … GROUP BY … HAVING) subquery decorrelated by hand, as "
    "Catalyst would). Plan: lineitem partial-aggregates to the order "
    "grain FIRST (map-side combine does most of the work — ≤7 lines "
    "per order), the surviving ~1% of orders join orders on the "
    "SAME l_orderkey==o_orderkey key (one shuffle lineage), and the "
    "customer dim attaches by broadcast. Quantities are integral "
    "doubles → round→BIGINT makes the sum and threshold exact; money "
    "reports as exact cents. The selective HAVING is the scale lever: "
    "everything after the first agg is ~1% of orders.",
    tags=("olap", "agg", "join", "subquery"),
)
def q_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.round("l_quantity").cast("bigint")).cast("bigint").alias("total_qty"))
        .filter(F.col("total_qty") > 180)
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            F.col("c_custkey").alias("custkey"),
            "c_name",
            F.col("o_orderkey").alias("orderkey"),
            "o_orderdate",
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("price_cents"),
            "total_qty",
        )
    )


@query(
    "q_top_supplier_share",
    """
    WITH rev AS (
        SELECT l_suppkey,
               CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
                    AS BIGINT) AS rev_cents
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1996-04-01'
        GROUP BY 1
    ),
    t AS (
        SELECT l_suppkey, rev_cents,
               MAX(rev_cents) OVER () AS max_rev,
               CAST(SUM(rev_cents) OVER () AS BIGINT) AS total_rev
        FROM rev
    )
    SELECT s_suppkey AS suppkey, s_name, rev_cents,
           ROUND(CAST(rev_cents AS DOUBLE) / CAST(total_rev AS DOUBLE), 12) AS rev_share
    FROM t JOIN supplier ON s_suppkey = l_suppkey
    WHERE rev_cents = max_rev
    """,
    doc="TPC-H Q15 shape (top supplier): the supplier(s) with maximum "
    "quarterly revenue, plus their share of the quarter's total — the "
    "argmax-against-a-scalar-aggregate pattern (Q15's CREATE VIEW + "
    "max subquery, decorrelated to one grouped pass whose max/total "
    "come from empty-frame WINDOWS over the per-supplier grain — a "
    "separate scalar re-aggregation would scan the fact table twice; "
    "ties all surface, as in the spec). Revenue is exact integer cents "
    "(round(price·(1−disc)·100) → BIGINT per line — identical IEEE "
    "product both engines — then exact integer sums), so the argmax "
    "equality predicate compares integers, never floats; the share is "
    "the single IEEE division, rounded 12. Plan: ship-date predicate "
    "pushes to the parquet scan, ONE partial-first agg on l_suppkey, "
    "windows on the |suppliers| grain, broadcast supplier dim.",
    tags=("olap", "agg", "topk", "subquery"),
)
def q_top_supplier_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount"
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    rev = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast("bigint")
            )
            .cast("bigint")
            .alias("rev_cents")
        )
    )
    # Both corpus-wide quantities are SCALARS — a 1-row aggregate
    # re-entering as a broadcast (the q_important_stock pattern), not an
    # unpartitioned window funnelling the supplier grain into one task.
    tot = rev.agg(
        F.max("rev_cents").alias("max_rev"),
        F.sum("rev_cents").cast("bigint").alias("total_rev"),
    )
    t = rev.crossJoin(F.broadcast(tot))
    return (
        t.join(F.broadcast(s), t.l_suppkey == s.s_suppkey)
        .filter(F.col("rev_cents") == F.col("max_rev"))
        .select(
            F.col("s_suppkey").alias("suppkey"),
            "s_name",
            "rev_cents",
            F.round(
                F.col("rev_cents").cast("double") / F.col("total_rev").cast("double"), 12
            ).alias("rev_share"),
        )
    )


@query(
    "q_yoy_growth",
    """
    WITH y AS (
        SELECT r_name AS region, year(o_orderdate) AS yr,
               CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS rev_cents
        FROM orders, customer, nation, region
        WHERE o_custkey = c_custkey
          AND c_nationkey = n_nationkey
          AND n_regionkey = r_regionkey
        GROUP BY 1, 2
    )
    SELECT region, yr, rev_cents,
           LAG(rev_cents) OVER (PARTITION BY region ORDER BY yr) AS prev_cents,
           ROUND((CAST(rev_cents AS DOUBLE)
                  - CAST(LAG(rev_cents) OVER (PARTITION BY region ORDER BY yr) AS DOUBLE))
                 / CAST(LAG(rev_cents) OVER (PARTITION BY region ORDER BY yr) AS DOUBLE),
                 12) AS yoy_growth
    FROM y
    """,
    doc="Year-over-year revenue growth per region — the standard "
    "period-over-period KPI (the lag-ratio companion to "
    "q_region_trend's OLS slope and q_seasonal_index's within-year "
    "profile). Plan: fact joins dims (nation⋈region pre-joined and "
    "broadcast), ONE partial-first agg to the (region, year) grain — "
    "≤ 5·|years| rows — then the lag window and the growth ratio run "
    "on that tiny table (per-region partitions, no global sort). "
    "Revenue is exact integer cents; first year's growth is NULL by "
    "lag semantics (surfaced, not dropped — a report needs the base "
    "year visible); the ratio is one fixed-shape IEEE expression over "
    "exact integers, rounded 12.",
    tags=("olap", "window", "agg", "report"),
)
def q_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderdate", "o_totalprice")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    r = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    nr = F.broadcast(n.join(r, n.n_regionkey == r.r_regionkey).select("n_nationkey", "r_name"))
    y = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(nr, c.c_nationkey == nr.n_nationkey)
        .groupBy(F.col("r_name").alias("region"), F.year("o_orderdate").alias("yr"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("rev_cents")
        )
    )
    w = Window.partitionBy("region").orderBy("yr")
    prev = F.lag("rev_cents").over(w)
    return y.select(
        "region",
        "yr",
        "rev_cents",
        prev.alias("prev_cents"),
        F.round(
            (F.col("rev_cents").cast("double") - prev.cast("double")) / prev.cast("double"), 12
        ).alias("yoy_growth"),
    )


@query(
    "q_modal_priority",
    """
    WITH cnt AS (
        SELECT c_mktsegment AS segment, o_orderpriority AS priority,
               COUNT(*) AS n
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1, 2
    ),
    r AS (
        SELECT segment, priority, n,
               ROW_NUMBER() OVER (PARTITION BY segment
                                  ORDER BY n DESC, priority) AS rn,
               CAST(SUM(n) OVER (PARTITION BY segment) AS BIGINT) AS seg_total
        FROM cnt
    )
    SELECT segment, priority AS modal_priority, n AS n_orders,
           ROUND(CAST(n AS DOUBLE) / CAST(seg_total AS DOUBLE), 12) AS mode_share
    FROM r WHERE rn = 1
    """,
    doc="Mode per group (argmax-of-count): each customer segment's most "
    "common order priority with its share — the categorical 'typical "
    "value' report (SQL has no MODE() that's deterministic under ties "
    "across engines, so this IS the portable idiom: count-agg → "
    "row_number with an explicit (n DESC, key ASC) tie-break). Plan: "
    "one partial-first agg to the (segment, priority) grain — "
    "|segments|·|priorities| = 25 rows — then the pick window and the "
    "segment-total window share that grain's partitioning (one "
    "exchange). The share is one IEEE division over exact counts, "
    "rounded 12. The same dataflow with a different key pair is every "
    "'dominant category per entity' feature in a curation report.",
    tags=("olap", "window", "agg", "topk"),
)
def q_modal_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    cnt = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.col("o_orderpriority").alias("priority"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wp = Window.partitionBy("segment").orderBy(F.desc("n"), F.asc("priority"))
    ws = Window.partitionBy("segment")
    r = cnt.select(
        "segment",
        "priority",
        "n",
        F.row_number().over(wp).alias("rn"),
        F.sum("n").over(ws).cast("bigint").alias("seg_total"),
    )
    return r.filter(F.col("rn") == 1).select(
        "segment",
        F.col("priority").alias("modal_priority"),
        F.col("n").alias("n_orders"),
        F.round(F.col("n").cast("double") / F.col("seg_total").cast("double"), 12).alias(
            "mode_share"
        ),
    )


@query(
    "q_mann_whitney",
    """
    WITH s AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
               CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS g1,
               CASE WHEN c_mktsegment = 'MACHINERY' THEN 1 ELSE 0 END AS g2
        FROM orders JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
    ),
    pv AS (SELECT v, CAST(SUM(g1) AS BIGINT) AS c1,
                  CAST(SUM(g1 + g2) AS BIGINT) AS c
           FROM s GROUP BY v),
    cum AS (
        SELECT v, c1, c,
               CAST(SUM(c) OVER (ORDER BY v) AS BIGINT) - c AS before_cnt,
               CAST(SUM(c1) OVER () AS BIGINT) AS n1,
               CAST(SUM(c - c1) OVER () AS BIGINT) AS n2
        FROM pv
    ),
    agg AS (
        SELECT MAX(n1) AS n1, MAX(n2) AS n2,
               CAST(SUM(c1 * (2 * before_cnt + c + 1)) AS BIGINT) AS r1x2
        FROM cum
    )
    SELECT n1, n2,
           (CAST(r1x2 AS DOUBLE) - CAST(n1 AS DOUBLE) * CAST(n1 + 1 AS DOUBLE)) / 2.0 AS u1,
           CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
               - (CAST(r1x2 AS DOUBLE) - CAST(n1 AS DOUBLE) * CAST(n1 + 1 AS DOUBLE)) / 2.0
               AS u2,
           ROUND(((CAST(r1x2 AS DOUBLE) - CAST(n1 AS DOUBLE) * CAST(n1 + 1 AS DOUBLE)) / 2.0
                  - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 2.0)
                 / sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                        * CAST(n1 + n2 + 1 AS DOUBLE) / 12.0), 12) AS z_score
    FROM agg
    """,
    doc="Mann-Whitney U rank-sum test between two customer segments' "
    "order values — the nonparametric 'does one distribution "
    "stochastically dominate' companion to q_ks_test's sup-gap (U is "
    "sensitive to location shift, KS to any shape difference; run "
    "both). EXACT despite tied ranks: with per-VALUE counts, the "
    "tie-averaged rank of value v is (2·cum_before + cnt + 1)/2, so "
    "the DOUBLED rank-sum R1×2 = Σ c1·(2·before + cnt + 1) is an "
    "exact integer, and U1 = (R1×2 − n1(n1+1))/2 divides by two "
    "losslessly in binary floating point (halves are exact doubles). "
    "The normal-approximation z-score is the one rounded IEEE "
    "expression. Plan is the q_ks_test shape: one fact scan → "
    "per-value histogram, cumulative + empty-frame windows on the "
    "|distinct values| grain, one final 1-row aggregate.",
    tags=("olap", "stats", "window"),
)
def q_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    s = (
        o.join(
            F.broadcast(c.filter(F.col("c_mktsegment").isin("BUILDING", "MACHINERY"))),
            o.o_custkey == F.col("c_custkey"),
        )
        .select(
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("v"),
            F.when(F.col("c_mktsegment") == "BUILDING", 1).otherwise(0).alias("g1"),
            F.when(F.col("c_mktsegment") == "MACHINERY", 1).otherwise(0).alias("g2"),
        )
    )
    pv = s.groupBy("v").agg(
        F.sum("g1").cast("bigint").alias("c1"),
        (F.sum("g1") + F.sum("g2")).cast("bigint").alias("c"),
    )
    # Scale-safe exact rank sums: global_cumsum (operators/rank.py)
    # over the distinct-cents grid (v unique post-groupBy, so the ROWS
    # running sum equals the former RANGE frame); group totals come
    # from the same bookkeeping aggregate.
    from c_tran_data_pipeline_spark.operators.rank import global_cumsum

    cum = global_cumsum(pv, ["v"], ["c1", "c"]).select(
        "v",
        "c1",
        "c",
        (F.col("c_cum").cast("bigint") - F.col("c")).alias("before_cnt"),
        F.col("c1_tot").cast("bigint").alias("n1"),
        (F.col("c_tot") - F.col("c1_tot")).cast("bigint").alias("n2"),
    )
    agg = cum.agg(
        F.max("n1").alias("n1"),
        F.max("n2").alias("n2"),
        F.sum(F.col("c1") * (2 * F.col("before_cnt") + F.col("c") + 1))
        .cast("bigint")
        .alias("r1x2"),
    )
    n1d, n2d = F.col("n1").cast("double"), F.col("n2").cast("double")
    u1 = (F.col("r1x2").cast("double") - n1d * (F.col("n1") + 1).cast("double")) / F.lit(2.0)
    return agg.select(
        "n1",
        "n2",
        u1.alias("u1"),
        (n1d * n2d - u1).alias("u2"),
        F.round(
            (u1 - n1d * n2d / F.lit(2.0))
            / F.sqrt(n1d * n2d * (F.col("n1") + F.col("n2") + 1).cast("double") / F.lit(12.0)),
            12,
        ).alias("z_score"),
    )


@query(
    "q_forecast_revenue",
    """
    SELECT CAST(SUM(CAST(round(l_extendedprice * l_discount * 100) AS BIGINT))
                AS BIGINT) AS potential_cents,
           COUNT(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    doc="TPC-H Q6-shape revenue forecast: the pure pushdown showcase — "
    "three range predicates and one conditional sum, no join anywhere. "
    "The whole query is a single parquet scan whose PushedFilters carry "
    "all three predicates (shipdate range, discount envelope, quantity "
    "cap), one partial-first scalar agg, and one shuffle of exactly ONE "
    "row — at 100 TB the scan is the query, which is why Q6 is the "
    "canonical scan-throughput benchmark. Money is per-row IEEE "
    "price×discount (identical both engines) integerized to cents and "
    "summed exactly.",
    tags=("olap", "agg", "pushdown"),
)
def q_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * F.col("l_discount") * 100).cast("bigint"))
            .cast("bigint")
            .alias("potential_cents"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "q_market_share",
    """
    WITH sales AS (
        SELECT year(o_orderdate) AS yr,
               CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) AS cents,
               sn.n_name AS supp_nation
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation cn ON c_nationkey = cn.n_nationkey
        JOIN region   ON cn.n_regionkey = r_regionkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
        JOIN part     ON l_partkey = p_partkey
        WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
    )
    SELECT yr,
           CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN cents ELSE 0 END) AS BIGINT)
               AS nation_cents,
           CAST(SUM(cents) AS BIGINT) AS market_cents,
           ROUND(CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN cents ELSE 0 END) AS DOUBLE)
                 / SUM(cents), 12) AS mkt_share
    FROM sales GROUP BY 1
    """,
    doc="TPC-H Q8-shape national market share: NATION_3's share of the "
    "ASIA-market ECONOMY-part revenue by year — the 8-relation join "
    "with a conditional-share aggregate (CASE inside both numerator and "
    "denominator of ONE grouped pass; a second scan for the total would "
    "double the fact work). Spark plan: every dim side broadcasts "
    "(region→nation→customer defines the market, nation→supplier tags "
    "the share side, part filters at its scan), so the only shuffle "
    "pair is orders⋈lineitem on orderkey + the final ~7-group agg. "
    "Integer-cents policy end to end; the share is one IEEE division "
    "rounded 12.",
    tags=("olap", "join", "agg", "multiway"),
)
def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    market_nations = (
        n.join(F.broadcast(r.filter(F.col("r_name") == "ASIA")), n.n_regionkey == r.r_regionkey)
        .select(F.col("n_nationkey").alias("mkt_nationkey"))
    )
    sales = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(market_nations), c.c_nationkey == F.col("mkt_nationkey"))
        .join(F.broadcast(p.filter(F.col("p_type") == "ECONOMY")), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(
            F.broadcast(n.select(F.col("n_nationkey").alias("sk"), F.col("n_name").alias("supp_nation"))),
            s.s_nationkey == F.col("sk"),
        )
        .select(
            F.year("o_orderdate").alias("yr"),
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
            .cast("bigint")
            .alias("cents"),
            "supp_nation",
        )
    )
    is_n3 = F.when(F.col("supp_nation") == "NATION_3", F.col("cents")).otherwise(F.lit(0))
    return sales.groupBy("yr").agg(
        F.sum(is_n3).cast("bigint").alias("nation_cents"),
        F.sum("cents").cast("bigint").alias("market_cents"),
        F.round(F.sum(is_n3).cast("double") / F.sum("cents"), 12).alias("mkt_share"),
    )


@query(
    "q_product_profit",
    """
    SELECT sn.n_name AS supp_nation, year(o_orderdate) AS yr, p_type,
           CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
                    - CAST(round(p_retailprice * 60) AS BIGINT)
                      * CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS profit_cents
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN part     ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    WHERE p_name LIKE '%bolt%'
    GROUP BY 1, 2, 3
    """,
    doc="TPC-H Q9-shape product-type profit (the fixture has no "
    "partsupp, so unit cost is proxied as 60%% of p_retailprice — the "
    "q_min_cost_supplier stand-in convention): profit = revenue − "
    "cost·qty per line, grouped by supplier nation × year × part type, "
    "part filter by name pattern. The plan lesson is the Q9 classic: a "
    "LIKE on a DIM table prunes the fact via its broadcast join "
    "(only '%bolt%' parts survive), revenue and cost fold in the SAME "
    "projection (one fact pass), and the agg is partial-first on a "
    "small (nation, year, type) grid. All money is exact integer "
    "cents: the only IEEE ops are the per-row products, identical on "
    "both engines before integerization.",
    tags=("olap", "join", "agg", "multiway"),
)
def q_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount", "l_quantity"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_name", "p_type", "p_retailprice")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    profit = (
        li.join(F.broadcast(p.filter(F.col("p_name").like("%bolt%"))), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select(
            F.col("n_name").alias("supp_nation"),
            F.year("o_orderdate").alias("yr"),
            "p_type",
            (
                F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast("bigint")
                - F.round(F.col("p_retailprice") * 60).cast("bigint")
                * F.round(F.col("l_quantity")).cast("bigint")
            ).alias("line_profit"),
        )
    )
    return profit.groupBy("supp_nation", "yr", "p_type").agg(
        F.sum("line_profit").cast("bigint").alias("profit_cents")
    )


@query(
    "q_returned_revenue",
    """
    WITH rev AS (
        SELECT o_custkey,
               CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
                    AS BIGINT) AS lost_cents,
               COUNT(*) AS n_lines
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '1997-01-01'
          AND o_orderdate <  TIMESTAMP '1998-01-01'
        GROUP BY 1
    )
    SELECT c_custkey AS custkey, c_name, n_name AS nation, lost_cents, n_lines
    FROM rev
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    ORDER BY lost_cents DESC, custkey ASC
    LIMIT 20
    """,
    doc="TPC-H Q10-shape returned-item reporting: the 20 customers who "
    "returned the most revenue in one order-year — the "
    "aggregate-then-decorate pattern: the fact side collapses to the "
    "customer grain FIRST (returnflag + date filters pushed to both "
    "scans, one orderkey shuffle, partial-first agg), and only the "
    "surviving |customers| rows join the broadcast customer/nation "
    "dims; the top-20 is TakeOrderedAndProject (no global sort). "
    "Integer-cents revenue; the ORDER BY carries a custkey tie-break "
    "so LIMIT is deterministic on both engines.",
    tags=("olap", "join", "agg", "topk"),
)
def q_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount", "l_returnflag"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = (
        li.filter(F.col("l_returnflag") == "R")
        .join(
            o.filter(
                (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
            ),
            li.l_orderkey == o.o_orderkey,
        )
        .groupBy("o_custkey")
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast("bigint")
            )
            .cast("bigint")
            .alias("lost_cents"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )
    return (
        rev.join(F.broadcast(c), rev.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select(
            F.col("c_custkey").alias("custkey"), "c_name", F.col("n_name").alias("nation"),
            "lost_cents", "n_lines",
        )
        .orderBy(F.col("lost_cents").desc(), F.col("custkey").asc())
        .limit(20)
    )


@query(
    "q_late_shipment_priority",
    """
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate > o_orderdate + INTERVAL 30 DAY
      AND l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY 1
    """,
    doc="TPC-H Q12-shape late-shipment priority split (the fixture carries "
    "no l_shipmode/l_commitdate, so 'late' = shipped >30 days after the "
    "order date and the mode axis is l_returnflag; reference analog: the "
    "priority CASE-split of TPCH Q12). Shape under test: a large-large "
    "equi-join whose filter CORRELATES the two sides (l_shipdate > "
    "o_orderdate + 30d can only run post-join), plus Q12's classic "
    "derived-predicate trick — the join-dependent filter implies "
    "o_orderdate < 1997-12-02, which we add explicitly so BOTH parquet "
    "scans prune (l_shipdate window pushes to lineitem natively). Both "
    "conditional counts come out of one partial-first HashAggregate on a "
    "3-value key; the orderkey shuffle is the only wide exchange and AQE "
    "coalesces it. At 100 TB this is a sort-merge/shuffle-hash join on "
    "the natural key with both scans pruned to one ship-year.",
    tags=("olap", "join", "agg"),
)
def q_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_shipdate"
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderdate"
    )
    li = li.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    # Derived predicate: l_shipdate < 1998-01-01 AND l_shipdate > o_orderdate+30d
    # => o_orderdate < 1998-01-01 - 30d. Semantically redundant; exists only so
    # the orders scan prunes instead of reading all years.
    o = o.filter(F.col("o_orderdate") < F.lit("1997-12-02").cast("timestamp"))
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).cast("bigint").alias("low_line_count"),
        )
    )


@query(
    "q_dominant_supplier",
    """
    WITH pair AS (
      SELECT l_partkey, l_suppkey,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS pair_qty
      FROM lineitem
      WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
      GROUP BY 1, 2
    ), tot AS (
      SELECT l_partkey, CAST(SUM(pair_qty) AS BIGINT) AS tot_qty,
             COUNT(*) AS n_suppliers
      FROM pair GROUP BY 1
    )
    SELECT s_suppkey, s_name,
           COUNT(*) AS n_dominant_parts,
           CAST(SUM(pair_qty) AS DOUBLE) AS dominated_qty
    FROM pair JOIN tot USING (l_partkey)
    JOIN supplier ON l_suppkey = s_suppkey
    WHERE pair_qty * n_suppliers > 2 * tot_qty
    GROUP BY 1, 2
    """,
    doc="TPC-H Q20-shape dominant-supplier detection (the fixture has no "
    "partsupp, so Q20's correlated availqty > 0.5*SUM(l_quantity) "
    "threshold becomes: a supplier dominates a part when its shipped "
    "quantity exceeds 2x the part's fair share — pair_qty*n_suppliers > "
    "2*tot_qty, scale-invariant because both sides grow linearly with "
    "data volume). Shape under test: Q20's signature nested-aggregate "
    "correlated filter driving a semi-join chain — the selective part "
    "name filter broadcasts into the lineitem scan as a semi-join "
    "BEFORE any aggregation, the (part,supplier) grain collapses "
    "map-side-first, the per-part total is a second tiny re-aggregation "
    "of the already-collapsed pair table (never a second fact scan), "
    "and only dominant pairs touch the broadcast supplier dim. "
    "l_quantity is integral (1..50) so all sums/threshold comparisons "
    "are exact BIGINT on both engines — no decimal-overflow rounding "
    "risk from decimal(38)*count multiplication.",
    tags=("olap", "join", "agg", "semijoin"),
)
def q_dominant_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey", "l_quantity")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_name")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    small = p.filter(F.col("p_name").like("small%")).select("p_partkey")
    pair = (
        li.join(F.broadcast(small), li.l_partkey == small.p_partkey, "left_semi")
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("pair_qty"))
    )
    tot = pair.groupBy("l_partkey").agg(
        F.sum("pair_qty").cast("bigint").alias("tot_qty"),
        F.count(F.lit(1)).alias("n_suppliers"),
    )
    dominant = pair.join(tot, "l_partkey").filter(
        F.col("pair_qty") * F.col("n_suppliers") > 2 * F.col("tot_qty")
    )
    return (
        dominant.join(F.broadcast(s), dominant.l_suppkey == s.s_suppkey)
        .groupBy("s_suppkey", "s_name")
        .agg(
            F.count(F.lit(1)).alias("n_dominant_parts"),
            F.sum("pair_qty").cast("double").alias("dominated_qty"),
        )
    )


_LTV_RECURSIVE_SQL = """
    WITH RECURSIVE seq AS (
        SELECT o_custkey, CAST(o_totalprice AS DECIMAL(18,2)) AS price,
               ROW_NUMBER() OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ) AS rn
        FROM {orders}
    ),
    chain (custkey, rn, val) AS (
        SELECT o_custkey, rn, price FROM seq WHERE rn = 1
        UNION ALL
        SELECT s.o_custkey, s.rn,
               CAST(round(c.val * CAST(0.98 AS DECIMAL(4,2)) + s.price, 2)
                    AS DECIMAL(18,2))
        FROM chain c JOIN seq s ON s.o_custkey = c.custkey AND s.rn = c.rn + 1
    )
    SELECT custkey AS o_custkey,
           CAST(MAX(rn) AS BIGINT) AS n_orders,
           CAST(max_by(val, rn) AS DOUBLE) AS decayed_ltv
    FROM chain GROUP BY custkey
"""


@query(
    "q_ltv_recursive",
    _LTV_RECURSIVE_SQL.format(orders="orders"),
    doc="RECURSIVE CTE surface (Spark 4's WITH RECURSIVE, run natively "
    "by the engine — not a driver loop): per-customer decayed lifetime "
    "value where each order's contribution compounds on the previous "
    "balance with a 2% decay AND a per-step round-to-cents. The "
    "per-step rounding makes the value ORDER-DEPENDENT — no window "
    "frame or log-sum trick expresses it, recursion is load-bearing — "
    "and all arithmetic is DECIMAL (cast once from the 2-dp double "
    "source; ×0.98 and + are exact, round(…,2) agrees HALF-UP across "
    "engines on positive decimals), so Spark's recursion and DuckDB's "
    "hash bit-identically. Blowup-free by construction: the recursion "
    "walks a FUNCTIONAL chain (each (customer, rn) has exactly one "
    "successor), so iteration i holds ≤ |customers| rows and depth = "
    "max orders per customer (25 at both fixture SFs, under Spark's "
    "100-level default limit). The oracle is the SAME recursive SQL — "
    "both engines run it as written. Runs through operators/recursion.py "
    "decayed_ltv, whose documented max_depth=64 switch measures the true "
    "max chain length (one column-pruned aggregate over the "
    "localCheckpoint'ed seq) and routes DEEPER chains to the one-shuffle "
    "array_sort+aggregate fold — the 100 TB shape, bounded by "
    "orders-per-customer with no per-level engine jobs — while chains "
    "within the threshold (25 levels at both fixture SFs, so THIS query "
    "benches the native recursive path) exercise WITH RECURSIVE. Both "
    "paths are pinned bit-equal at two SFs in tests/test_olap.py::"
    "test_ltv_recursive_equals_one_shuffle_fold, so the recursion "
    "surface and the scale shape can never drift. The seq "
    "materialization (only when max_depth > 0, as here; q_ltv_fold's "
    "max_depth=0 skips it and the depth probe) is a localCheckpoint "
    "(each recursion level joins "
    "against it; without it every level re-evaluated the window "
    "lineage, measured 12.0 s vs ~7 s at sf0.1) — ContextCleaner "
    "releases it after collection, so repeated bench runs in one "
    "session no longer accumulate cache entries, and the backing temp "
    "view is uniquely named and dropped at analysis (ADVICE r6). "
    "Tagged surface-pin (VERDICT r8 #3): still registered, exact-"
    "oracled, and driver-gated, but EXCLUDED from the bench headline — "
    "the one-job-per-recursion-level native path prices scheduler "
    "latency, not the plan you'd run at 100 TB; q_ltv_fold (bit-equal "
    "by pinned test) is the headline entry.",
    tags=("olap", "recursive", "warehouse", "surface-pin"),
)
def q_ltv_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    from c_tran_data_pipeline_spark.operators.recursion import decayed_ltv

    return decayed_ltv(load_table(spark, sf_dir, "orders"), decay="0.98", max_depth=64)


@query(
    "q_ltv_fold",
    _LTV_RECURSIVE_SQL.format(orders="orders"),
    doc="The 100 TB shape of q_ltv_recursive, registered as its own "
    "headline entry (VERDICT r7 #4): same order-dependent decayed-LTV "
    "semantics, but forced onto the ONE-SHUFFLE array fold "
    "(max_depth=0 routes every chain to array_sort + aggregate() with "
    "the identical per-step DECIMAL round) instead of native WITH "
    "RECURSIVE's one-engine-job-per-level. With recursion ruled out "
    "there is no seq checkpoint and no max-depth probe: each chain is "
    "sliced by its in-group count(1), so the builder returns one lazy "
    "plan that runs no job before collect (pinned with native "
    "recursion at sf0.001 by tests/test_olap.py::"
    "test_ltv_lazy_fold_equals_native_recursion). Cost is bounded by "
    "orders-per-customer, not chain depth × scheduler latency — this "
    "is the plan you'd run on a 1000-executor cluster, and the bench "
    "headline should price it, while q_ltv_recursive stays the "
    "correctness pin for the native recursion surface. Both paths are "
    "pinned bit-equal at two SFs (tests/test_olap.py::"
    "test_ltv_recursive_equals_one_shuffle_fold), so they share the "
    "same exact recursive-CTE DuckDB oracle.",
    tags=("olap", "recursive", "warehouse", "scale"),
)
def q_ltv_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    from c_tran_data_pipeline_spark.operators.recursion import decayed_ltv

    return decayed_ltv(load_table(spark, sf_dir, "orders"), decay="0.98", max_depth=0)
