"""Exact global rank / cumsum / cummax / NTILE without a
single-partition exchange.

A plain ``Window.orderBy(...)`` with no partition key forces EVERY row
through ONE task ("WindowExec: No Partition Defined ... Moving all data
to a single partition") — correct at fixture size, fatal at 100 TB. The
operators here produce IDENTICAL numbers with a scale-safe plan, the
classic distributed total-order recipe (TeraSort's partitioner applied
to ranking):

1. **Deterministic range buckets.** Sample ~n quantile boundaries of
   the LEADING order column once (``approxQuantile`` — one
   column-pruned pass, bounded driver state), then assign each row
   ``bucket = #boundaries ≤ key`` against the literal boundaries.
   The bucket is a PURE FUNCTION OF THE ROW — every plan branch
   computes the same assignment by construction. (The tempting
   alternative, ``repartitionByRange`` + ``spark_partition_id()`` with
   the per-partition counts on a second branch, is UNSOUND: Catalyst
   column-prunes the counts branch into a *different* exchange, each
   range exchange samples its own boundaries — RangePartitioner's
   sample seed incorporates the RDD id — and the two branches disagree
   on row→partition placement. It passes exactly when the payload
   happens to equal the sort key and corrupts ranks otherwise; we hit
   this at sf0.1.)
2. Per-bucket bookkeeping (row counts, integral sums or maxima) from
   ONE collected grouping-sets pass over the bucket table — ≤ n rows
   per global order — turned into exclusive prefixes on the driver.
3. The prefixes attached as a dense array literal indexed by bucket id
   (``element_at(array(...), bucket + 1)``: no join, no broadcast, an
   O(1) lookup per row), and a window partitioned by the bucket — ~n
   parallel window groups on a hash exchange, never a single-partition
   sort. Global rank = offset + in-bucket row number.

Equal leading keys always share a bucket (the boundary comparison
can't split a value), so in-bucket tie-break columns see every tied
row. Balance follows the quantile accuracy; degenerate key
distributions (one value dominating) degrade to fewer effective
buckets — exactly as ``repartitionByRange`` would — so lead the order
with a high-cardinality column.

Determinism contract (same as any row_number): ``order_by`` should be
a TOTAL order (include a unique tie-break column) or ranks within ties
are plan-dependent on any engine.

Construction cost: building the plan runs TWO jobs, whatever the
number of global orders over the frame — one boundary-sampling pass
over the leading key columns (column-pruned) and the bookkeeping
collect. The operator persists its input (MEMORY_AND_DISK) so both
and the windowed result evaluate the input lineage once — see
``_materialize``. Driver state is ≤ n boundaries and ≤ n + 1
bookkeeping values per global order.

Reference parity: the C-Tran pipeline has no global-order operator (its
reports sort ≤ day-grain aggregates); these back the training-data
extensions (epoch shuffle order, quantile normalization, decile and
quintile scoring, ECDF statistics, dominance sweeps) where a 100 TB
corpus genuinely needs a global order.
"""

from __future__ import annotations

import operator
import re
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window
from pyspark.storagelevel import StorageLevel

#: Every internal column starts with this prefix; input frames may not.
_PREFIX = "__gr_"

_SORT_SUFFIX = re.compile(
    r"^(?P<child>.+?) (?P<dir>ASC|DESC) NULLS (?P<nulls>FIRST|LAST)$"
)


def _order_info(order_by) -> list[tuple[Column, Column, bool, bool]]:
    """Normalize order_by elements to (window sort Column, child
    Column, is_desc, nulls_first). Accepts "name", a plain Column, or a
    Column built with .asc()/.desc()/F.desc/.asc_nulls_last()/...
    (parsed from its SQL string form). nulls_first tracks the requested NULL placement
    (defaults: ASC→FIRST, DESC→LAST, matching Spark and ANSI) so the
    bucket assignment sends null lead keys to the same end of the
    global order the in-bucket window will."""
    out = []
    for e in order_by:
        if isinstance(e, str):
            out.append((F.col(e), F.col(e), False, True))
            continue
        s = str(e)  # Column<'quality DESC NULLS LAST'> / Column<'id'>
        inner = s[len("Column<'"):-2] if s.startswith("Column<'") else s
        m = _SORT_SUFFIX.match(inner)
        if m:
            child = F.expr(m.group("child"))
            out.append(
                (e, child, m.group("dir") == "DESC", m.group("nulls") == "FIRST")
            )
        else:
            out.append((e, e, False, True))
    return out


def _range_key(df: DataFrame, child: Column) -> Column:
    """A DOUBLE expression monotone in ``child``'s sort order, for
    quantile-boundary sampling. Strings map through their first 7
    bytes (hex→decimal, RIGHT-PADDED to 14 hex digits so short strings
    key below every longer extension — without the pad, 'aa' keys as
    0x6161 > 'b' as 0x62 although 'aa' < 'b' in binary collation) —
    monotone (non-strict) in Spark's binary collation; longer shared
    prefixes just share a bucket. 14 hex digits = 56 bits, exactly
    representable in a double."""
    dt = df.select(child.alias("__p")).schema[0].dataType
    if isinstance(dt, T.NumericType | T.BooleanType):
        return child.cast("double")
    if isinstance(dt, T.DateType):
        return F.unix_date(child).cast("double")
    if isinstance(dt, T.TimestampType | T.TimestampNTZType):
        return F.unix_micros(child.cast("timestamp")).cast("double")
    if isinstance(dt, T.StringType):
        return F.conv(
            F.rpad(F.substring(F.hex(child), 1, 14), 14, "0"), 16, 10
        ).cast("double")
    raise ValueError(
        f"global rank needs a numeric/string/date/timestamp leading order column, got {dt}"
    )


def _range_bounds(df: DataFrame, leads: list[Column], n: int) -> list[list[float]]:
    """Deduped, sorted quantile boundaries for each leading order column
    in ONE sampling pass (``approxQuantile`` takes a column list); no
    pass at all for a single bucket."""
    if n <= 1:
        return [[] for _ in leads]
    probs = [i / n for i in range(1, n)]
    err = max(1.0 / (4 * n), 1e-4)
    proj = df.select(*[_range_key(df, c).alias(f"__gr_rk{i}") for i, c in enumerate(leads)])
    per_col = proj.approxQuantile([f"__gr_rk{i}" for i in range(len(leads))], probs, err)
    return [sorted(set(b)) for b in per_col]


def _materialize(df: DataFrame) -> DataFrame:
    """Persist the operator input so the three plan branches every rank
    operator builds (boundary sampling, bookkeeping collect, final
    windowed frame) evaluate the input lineage ONCE instead of once per
    branch — at 100 TB a 3× corpus re-scan (or a 3× re-evaluation of an
    expensive scoring projection, as in q_quality_deciles) is real
    money. MEMORY_AND_DISK so oversized inputs spill instead of
    recomputing; Spark's CacheManager matches by canonicalized plan, so
    a caller that persists the same frame shares ONE cache entry.
    Chained calls (q_skyline_orders' two cummax sweeps) each persist
    their own level, cutting the otherwise-exponential lineage
    re-execution to one pass per level. Entries are narrow projections
    by call-site convention; cleanup is left to Spark's ContextCleaner
    (an explicit unpersist inside a lazy operator would race the
    caller's collect).

    Skip the persist when the plan is ALREADY cached —
    ``df.storageLevel`` resolves through the CacheManager by
    canonicalized plan, so it also catches a caller that persisted an
    equal plan. Without the check each such call logged a harmless
    'CacheManager: Asked to cache already cached data' warning — ~12
    per bench run — which would mask a REAL double-persist the day one
    appears (session.persist_once is the shared guard)."""
    from c_tran_data_pipeline_spark.session import persist_once

    return persist_once(df, StorageLevel.MEMORY_AND_DISK)


def _bucket_column(
    df: DataFrame,
    info: list[tuple[Column, Column, bool, bool]],
    bounds: list[float],
) -> Column:
    """The deterministic range-bucket id for one global order (a PURE
    FUNCTION of the row — see the module docstring) from already-
    normalized order info and deduped-sorted boundaries."""
    _, lead, lead_desc, lead_nulls_first = info[0]
    if not bounds:  # empty input or all-null lead key
        return F.lit(0)
    rk = _range_key(df, lead)
    # Chained boolean sums, NOT a higher-order F.filter over a literal
    # array: the lambda variable trips an [INTERNAL_ERROR_ATTRIBUTE_NOT_
    # FOUND] when the bucket expression is inlined through an
    # aggregate + self-join (Spark 4.1.2); plain
    # comparisons codegen fine and are one WholeStageCodegen span.
    if lead_desc:
        # bucket grows as the key shrinks
        terms = [(rk <= F.lit(float(b))).cast("int") for b in bounds]
        bucket = sum(terms[1:], terms[0])
    else:
        terms = [(rk >= F.lit(float(b))).cast("int") for b in bounds]
        bucket = sum(terms[1:], terms[0])
    # NULL lead keys: comparisons with NULL are NULL, so place nulls
    # explicitly at the end the in-bucket window will sort them to —
    # bucket 0 for NULLS FIRST, the last bucket for NULLS LAST
    # (defaults: ASC→FIRST, DESC→LAST; approxQuantile already ignores
    # nulls, so the boundaries never see them).
    null_bucket = F.lit(0) if lead_nulls_first else F.lit(len(bounds))
    return F.when(rk.isNull(), null_bucket).otherwise(bucket)


def _bookkeep(
    df: DataFrame, orders: list, partitions: int | None, aggs: list[Column], outputs: list[str]
) -> tuple[DataFrame, list[tuple[str, list[Column], list]]]:
    """Steps 1–4 of the recipe for several global orders over ONE frame:
    persist the input, sample every leading key in one pass, add one
    bucket column per order and collect ONE grouping-sets pass of
    ``aggs`` per (order, bucket). Returns the bucketed frame and, per
    order, (bucket column, window sort columns, per agg the value of
    each bucket id 0..#boundaries — None for an empty bucket)."""
    for c in df.columns:
        if c.startswith(_PREFIX):
            raise ValueError(f"global rank/cumsum reserves column name prefix {_PREFIX}, got {c!r}")
    for c in outputs:
        if c in df.columns:
            raise ValueError(f"global rank output column {c!r} already exists")
    df = _materialize(df)
    infos = [_order_info(o) for o in orders]
    n = partitions or int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    bounds = _range_bounds(df, [info[0][1] for info in infos], n)
    pids = [f"__gr_pid_{i}" for i in range(len(infos))]
    parted = df.withColumns(
        {p: _bucket_column(df, info, b) for p, info, b in zip(pids, infos, bounds)}
    )
    # Bucket ids are never NULL, so the one non-NULL id column of a
    # grouping-sets row names the order it belongs to.
    stats = [[[None] * (len(b) + 1) for _ in aggs] for b in bounds]
    for r in parted.groupingSets([[p] for p in pids], *pids).agg(*aggs).collect():
        i = next(j for j in range(len(pids)) if r[j] is not None)
        for j, v in enumerate(r[len(pids):]):
            stats[i][j][r[i]] = v
    return parted, [
        (p, [w for w, _, _, _ in info], s) for p, info, s in zip(pids, infos, stats)
    ]


def _prefix(values: list, combine: Callable, start=None) -> tuple[list, object]:
    """Exclusive running ``combine`` over per-bucket values, skipping
    NULLs as Spark's aggregates do: (the value before each bucket, the
    value over all buckets), ``start`` while nothing precedes."""
    out, acc = [], start
    for v in values:
        out.append(acc)
        if v is not None:
            acc = v if acc is None else combine(acc, v)
    return out, acc


def _spark_max(a, b):
    """MAX of two non-NULL values in Spark's order: NaN is the greatest."""
    return max(a, b, key=lambda v: (v != v, v))


def _at(pid: str, values: list, dtype: T.DataType) -> Column:
    """``values[bucket id]`` through a dense array literal — an O(1)
    lookup per row, no join."""
    arr = F.array(*[F.lit(v) for v in values]).cast(T.ArrayType(dtype))
    return F.element_at(arr, F.col(pid) + 1)


def _ranked(df: DataFrame, orders: list, partitions: int | None, outputs: list[str]):
    """df + ``__gr_rank_<i>`` (1-based bigint global row number under
    ``orders[i]``) for each order, and the total row count."""
    parted, dims = _bookkeep(df, orders, partitions, [F.count(F.lit(1))], outputs)
    for i, (pid, sort_cols, [counts]) in enumerate(dims):
        # every order counts the same rows, so any order's total is N
        offs, total = _prefix(counts, operator.add, 0)
        row = F.row_number().over(Window.partitionBy(pid).orderBy(*sort_cols))
        parted = parted.withColumn(f"__gr_rank_{i}", _at(pid, offs, T.LongType()) + row)
    return parted, total


def global_rank(
    df: DataFrame,
    order_by: list[Column | str],
    rank_col: str = "rank",
    partitions: int | None = None,
    total_col: str | None = None,
) -> DataFrame:
    """df + ``rank_col`` = exact global ``ROW_NUMBER() OVER (ORDER BY
    order_by)`` (1-based, bigint), computed with deterministic range
    buckets + per-bucket offsets instead of a single-partition window.
    Pass ``total_col`` to also get the total row count (the ``COUNT(*)
    OVER ()`` companion) for free from the same bookkeeping pass."""
    extra = [total_col] if total_col else []
    out, total = _ranked(df, [order_by], partitions, [rank_col, *extra])
    tot = [F.lit(total).cast("bigint").alias(c) for c in extra]
    return out.select(*df.columns, F.col("__gr_rank_0").alias(rank_col), *tot)


def global_cumsum(
    df: DataFrame,
    order_by: list[Column | str],
    cols: list[str],
    partitions: int | None = None,
) -> DataFrame:
    """df + ``<c>_cum`` (inclusive running total of ``c`` in global
    ``order_by`` order) + ``<c>_tot`` (grand total) for each ``c`` in
    ``cols`` — the scale-safe form of ``SUM(c) OVER (ORDER BY ...)`` +
    ``SUM(c) OVER ()``, same recipe as :func:`global_rank`. ``cols``
    must be integral: the bucket prefixes are summed on the driver,
    exactly only for integers.

    Tie semantics: the in-bucket frame is ROWS-based, so ``order_by``
    must be a total order (unique keys). Call sites that need
    RANGE-frame tie handling should pre-aggregate to the key grain
    first — which is also what keeps the shuffled rows small.
    """
    for c in cols:
        if not isinstance(df.schema[c].dataType, T.IntegralType):
            raise ValueError(
                f"global cumsum needs integral columns, got {c!r}: {df.schema[c].dataType}"
            )
    outputs = [f"{c}_{s}" for c in cols for s in ("cum", "tot")]
    sums = [F.sum(c) for c in cols]
    parted, [(pid, sort_cols, stats)] = _bookkeep(df, [order_by], partitions, sums, outputs)
    w = Window.partitionBy(pid).orderBy(*sort_cols).rowsBetween(Window.unboundedPreceding, 0)
    out = []
    for c, bucket_sums in zip(cols, stats):
        offs, tot = _prefix(bucket_sums, operator.add)
        off, run = _at(pid, offs, T.LongType()), F.sum(c).over(w)
        out += [
            F.coalesce(off + run, run, off).alias(f"{c}_cum"),
            F.lit(tot).cast("bigint").alias(f"{c}_tot"),
        ]
    return parted.select(*df.columns, *out)


def global_cummax(
    df: DataFrame,
    order_by: list[Column | str],
    col: str,
    out_col: str,
    inclusive: bool = True,
    partitions: int | None = None,
) -> DataFrame:
    """df + ``out_col`` = running ``MAX(col)`` in global ``order_by``
    order — ``inclusive=False`` gives the strictly-preceding frame
    (``ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING``), the
    dominance-sweep shape. Max composes across buckets via ``greatest``
    (which skips NULLs), so the first global row gets NULL exactly like
    the single-partition exclusive frame would.

    ``order_by`` must be a total order (ROWS frame, see
    :func:`global_cumsum`).
    """
    parted, [(pid, sort_cols, [maxima])] = _bookkeep(
        df, [order_by], partitions, [F.max(col)], [out_col]
    )
    offs, _ = _prefix(maxima, _spark_max)
    end = 0 if inclusive else -1
    w = Window.partitionBy(pid).orderBy(*sort_cols).rowsBetween(Window.unboundedPreceding, end)
    running = F.greatest(_at(pid, offs, df.schema[col].dataType), F.max(col).over(w))
    return parted.select(*df.columns, running.alias(out_col))


def _ntile(n: int, rank_col: str, total: int) -> Column:
    """ANSI NTILE(n) from a 1-based global rank and the total row count
    N. Pure bigint arithmetic (DIV, never float division): exact at any
    N. With q = N div n and r = N mod n, rows 1..r(q+1) fill the first r
    (fat, q+1-row) buckets; the rest land in q-row buckets. When q == 0
    (N < n) every row takes the first branch, so the second branch's
    divisor only has to be non-zero."""
    q, r = divmod(total, n)
    fat = r * (q + 1)
    return F.expr(
        f"CASE WHEN {rank_col} <= {fat} THEN 1 + ({rank_col} - 1) DIV {q + 1}"
        f" ELSE {r + 1} + ({rank_col} - {fat} - 1) DIV {max(q, 1)} END"
    ).cast("int")


def global_ntile(
    df: DataFrame,
    n: int,
    order_by: list[Column | str],
    bucket_col: str = "bucket",
    partitions: int | None = None,
) -> DataFrame:
    """df + ``bucket_col`` = exact ANSI ``NTILE(n) OVER (ORDER BY
    order_by)``: :func:`global_ntile_multi` with one dimension."""
    return global_ntile_multi(df, n, [order_by], [bucket_col], partitions)


def global_ntile_multi(
    df: DataFrame,
    n: int,
    orders: list[list[Column | str]],
    bucket_cols: list[str],
    partitions: int | None = None,
) -> DataFrame:
    """df + one exact ANSI ``NTILE(n) OVER (ORDER BY orders[i])`` (int,
    1..n) per dimension, all over ONE frame: with N rows, q = N div n
    and r = N mod n, the first r buckets hold q+1 rows and the rest q —
    derived arithmetically from the scale-safe global rank, so no
    engine's NTILE implementation (or partitioning) is in the loop.
    Every dimension's bucket id is a pure function of the SAME persisted
    input row, so k dimensions share one sampling pass and one
    bookkeeping collect and add k in-bucket rank windows over the same
    narrow frame. Chaining one call per dimension instead re-persists an
    ever-wider frame per level (q_rfm_segments measured 29 Exchanges and
    8 parquet scans for k = 3), and attaching the offsets through
    broadcast joins instead of literals measured 19 Spark jobs against
    ~4: each broadcast build is its own job, and job latency is serial
    driver wall."""
    if n <= 0:
        raise ValueError(f"ntile bucket count must be positive, got {n}")
    if len(orders) != len(bucket_cols):
        raise ValueError("global_ntile_multi: orders and bucket_cols must align")
    out, total = _ranked(df, orders, partitions, bucket_cols)
    tiles = [_ntile(n, f"__gr_rank_{i}", total).alias(bc) for i, bc in enumerate(bucket_cols)]
    return out.select(*df.columns, *tiles)
