"""Recursive chain-fold operators: the same order-dependent computation
expressed two ways, selected by measured chain depth.

``decayed_ltv`` computes a per-customer decayed lifetime value where each
order compounds on the previous balance with a per-step decay AND a
per-step round-to-cents — order-dependent by construction (the rounding
defeats any window-frame or log-sum rewrite), so it is the minimal
honest use case for recursion. Two physically different plans produce
bit-identical results (pinned in tests/test_olap.py):

- **recursive**: Spark 4 native ``WITH RECURSIVE`` — one engine job per
  recursion level. Cost is LEVEL COUNT, not data volume (~0.14 s/level
  measured at sf0.1, SCALE.md ladder), so it is the right surface for
  genuinely relational recursion of modest depth.
- **fold**: ONE shuffle to (customer, sorted [(rn, price)]) and a native
  ``aggregate()`` array fold with the identical per-step round — bounded
  by orders-per-customer (the document-grain class), no per-level jobs.
  This is the 100 TB shape for functional chains.

``max_depth`` is the documented switch. When it is positive the
operator materializes seq, measures the true maximum chain length with
one column-pruned aggregate over it (an AQE-style runtime plan decision,
O(customers) intermediate) and routes chains deeper than the threshold
to the fold. ``max_depth=0`` asks for the fold outright: no recursion is
possible, so nothing is materialized or measured and the operator
returns one lazy plan that runs no job before it is collected. The
default of 64 keeps headroom under Spark's 100-level recursion limit
while letting shallow relational chains exercise the native recursive
surface.

No reference-parity citation: the reference pipeline
(/root/reference) has no recursive computation; this operator exists
for the OLAP/warehouse surface of the engine.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

#: process-unique temp-view suffix so concurrent/repeated invocations in
#: one session never collide on a fixed view name (ADVICE r6).
_VIEW_SEQ = itertools.count()


def decayed_ltv(orders: DataFrame, decay: str = "0.98", max_depth: int = 64) -> DataFrame:
    """Per-customer decayed LTV over (o_custkey, o_orderdate, o_orderkey,
    o_totalprice). Returns (o_custkey, n_orders, decayed_ltv).

    All arithmetic is DECIMAL (cast once from the 2-dp double source;
    ×decay and + are exact, round(…,2) agrees HALF-UP across engines on
    positive decimals), so both physical paths — and DuckDB's recursive
    oracle — hash bit-identically.

    When ``max_depth > 0`` the windowed seq is localCheckpoint'ed (eager)
    rather than persisted and its max ``rn`` is collected to pick the
    path: each recursion level joins the frontier against seq, and
    without materialization Spark re-evaluates the window-over-orders
    lineage at EVERY level (measured 12.0 s vs ~7 s at sf0.1).
    localCheckpoint's RDD is released by the ContextCleaner once the
    result is collected and dropped — unlike a CacheManager persist,
    repeated bench invocations in one session cannot accumulate cached
    copies (ADVICE r6). The temp view backing the recursive SQL gets a
    process-unique name and is dropped as soon as the plan is analyzed.
    ``max_depth=0`` skips both: the fold reads seq once, so it needs no
    materialization, and it slices each chain by its in-group
    ``count(1)`` instead of the measured depth.
    """
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = orders.select(
        "o_custkey",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
        F.row_number().over(w).alias("rn"),
    )
    if max_depth > 0:
        seq = seq.localCheckpoint(eager=True)
    if max_depth > 0 and (seq.agg(F.max("rn")).collect()[0][0] or 0) <= max_depth:
        spark = orders.sparkSession
        view = f"__decayed_ltv_seq_{next(_VIEW_SEQ)}"
        seq.createOrReplaceTempView(view)
        try:
            out = spark.sql(f"""
                WITH RECURSIVE chain (custkey, rn, val) AS (
                    SELECT o_custkey, rn, price FROM {view} WHERE rn = 1
                    UNION ALL
                    SELECT s.o_custkey, s.rn,
                           CAST(round(c.val * CAST({decay} AS DECIMAL(4,2)) + s.price, 2)
                                AS DECIMAL(18,2))
                    FROM chain c JOIN {view} s
                      ON s.o_custkey = c.custkey AND s.rn = c.rn + 1
                )
                SELECT custkey AS o_custkey,
                       CAST(MAX(rn) AS BIGINT) AS n_orders,
                       CAST(max_by(val, rn) AS DOUBLE) AS decayed_ltv
                FROM chain GROUP BY custkey
            """)
            out.schema  # force analysis so the view reference is resolved
        finally:
            spark.catalog.dropTempView(view)
        return out

    # Deep chains: the one-shuffle array fold (identical per-step round).
    return seq.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.expr(
            "CAST(aggregate(slice(array_sort(collect_list(struct(rn, price))), 2, CAST(count(1) AS INT)),"
            " array_sort(collect_list(struct(rn, price)))[0].price,"
            f" (acc, x) -> CAST(round(acc * CAST({decay} AS DECIMAL(4,2)) + x.price, 2)"
            "             AS DECIMAL(18,2))) AS DOUBLE)"
        ).alias("decayed_ltv"),
    )
