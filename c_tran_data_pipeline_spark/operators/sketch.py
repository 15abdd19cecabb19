"""Count-min sketch over a key column — sublinear-memory frequency
estimation for heavy-hitter mining.

The sketch is a d×w counter grid; item x increments counter
(i, h_i(x)) for each of the d rows, and its frequency estimate is the
MIN over its d counters — an upper bound on the true count (collisions
only ever ADD), within εN with probability 1-δ for w=⌈e/ε⌉, d=⌈ln 1/δ⌉
(Cormode & Muthukrishnan, J. Algorithms 2005).

Spark-first shape: the grid build is ONE partial-first aggregate — each
input row projects its d (row, bucket) cells (a codegen'd array+explode,
no UDF), and the groupBy collapses to d·w counters map-side before a
single exchange of at most d·w rows per partition. The estimate join
broadcasts the finished grid (d·w rows — sketch GEOMETRY, independent of
data volume: the whole point of sketching). All hashing is portable
integer arithmetic — ((x % P)·a_i + b_i) % P % w with P prime and every
intermediate < 2^63 — so a SQL oracle reproduces the grid bit-for-bit
(DuckDB BIGINT overflow is an error, hence the mod-first discipline;
Spark %'s sign follows the dividend, so keys must be non-negative,
which every fixture key domain satisfies).

Reference parity: the C-Tran reference has no sketches — its scale never
needed them (716 MB total; VERDICT r1-r3). This is north-star surface
for the 100 TB case, where exact per-key counts of a hot domain are a
full shuffle of the fact table but the sketch is one map-side pass.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: hash modulus: prime; (x % P)·a + b peaks ≈ 5.3e11 ≪ 2^63 for the
#: multipliers below.
CMS_P = 1000003
#: per-row multipliers/offsets (fixed literals so every engine and every
#: run builds the identical grid; depth = len).
CMS_A = (101, 257, 389, 521)
CMS_B = (17, 29, 47, 71)


def cms_bucket(key: Column, row: int, width: int) -> Column:
    """Bucket of ``key`` in sketch row ``row`` — portable integer hash,
    identical arithmetic to the SQL twin (plans.scale_queries._cms_probe_sql)."""
    return ((key % CMS_P) * CMS_A[row] + CMS_B[row]) % CMS_P % width


def build_cms(df: DataFrame, key: str, width: int = 1024, depth: int = 4) -> DataFrame:
    """(row, bucket, n) counter grid over ``df[key]`` (non-negative
    integral keys). One exchange of ≤ depth·width rows per map
    partition; NULL keys are skipped (they carry no frequency)."""
    if not 1 <= depth <= len(CMS_A):
        raise ValueError(f"depth must be in 1..{len(CMS_A)}")
    k = F.col(key)
    cells = df.filter(k.isNotNull()).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("row"),
                        cms_bucket(k, i, width).alias("bucket"),
                    )
                    for i in range(depth)
                ]
            )
        ).alias("cell")
    )
    return cells.select("cell.row", "cell.bucket").groupBy("row", "bucket").agg(
        F.count(F.lit(1)).alias("n")
    )


def cms_estimate(
    items: DataFrame, grid: DataFrame, key: str, width: int = 1024, depth: int = 4
) -> DataFrame:
    """``items`` + an ``est`` column: the count-min estimate of each
    item's frequency (min over its depth counters; missing counter ⇒ 0,
    only possible for keys absent from the build input). The grid is
    broadcast — it is sketch geometry (d·w rows), not data."""
    k = F.col(key)
    probes = items.select(
        key,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("row"),
                        cms_bucket(k, i, width).alias("bucket"),
                    )
                    for i in range(depth)
                ]
            )
        ).alias("cell"),
    ).select(key, "cell.row", "cell.bucket")
    return (
        probes.join(F.broadcast(grid), ["row", "bucket"], "left")
        .groupBy(key)
        .agg(F.min(F.coalesce("n", F.lit(0))).alias("est"))
    )
