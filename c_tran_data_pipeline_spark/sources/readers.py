"""Batch sources (SURVEY.md §2.1).

S4 (JSON array file → rows, reference ``load_inserts.py:182-183``) maps to
``spark.read.json(multiLine=...)`` with an explicit schema; parquet fixture
tables load with schema verification. Column pruning and predicate pushdown
are Catalyst's job — these readers return the raw scan and let callers
project/filter so the pushdown reaches the file source.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Columns that MAY be written as parquet TIMESTAMP(NANOS), which Spark's
# vectorized reader rejects; we read them as long (legacy conf) and convert
# to microsecond timestamps with exact integer division (a double division
# would lose precision: ns-since-epoch ~1.7e18 > 2^53). DuckDB truncates
# TIMESTAMP_NS→micros the same way, so oracle comparisons stay exact.
# Fixture generations vary (micros in some drops, nanos in others), so the
# conversion is applied only when the column actually scans as a long.
_NANOS_TS_COLS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


# Inferred scan schema per (session, file version): see load_table.
_SCHEMAS: dict[tuple, T.StructType] = {}


def _file_version(path: str) -> tuple | None:
    """What identifies one version of a local parquet table: its real
    path, size and mtime, plus every file's relative name, size and
    mtime when it is a directory (an overwrite writes new part files, a
    replaced part file changes size or mtime). None when the driver
    cannot stat the path (a remote URI) or it changes while listed."""
    try:
        real = os.path.realpath(path)
        st = os.stat(real)
        files = []
        for root, dirs, names in os.walk(real):  # yields nothing for a file
            dirs.sort()
            for n in sorted(names):
                f = os.path.join(root, n)
                fst = os.stat(f)
                files.append((os.path.relpath(f, real), fst.st_size, fst.st_mtime_ns))
    except OSError:
        return None
    return (real, st.st_size, st.st_mtime_ns, tuple(files))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table from ``sf_dir``. Plain parquet scan —
    filters/projections applied by the caller push down into it.

    A bare ``spark.read.parquet`` runs a footer-inference job on every
    call. The schema inferred on the first load of a file version is
    kept per session and passed to later loads of the same version, so
    they build their plan without running any job. A rewritten table
    is a new version and is inferred again; a path the driver cannot
    stat is always inferred."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Date-part semantics (hour/dayofweek) must match the UTC-naive oracle
    # even when the caller's session (e.g. the driver's) isn't ours.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.join(sf_dir, f"{name}.parquet")
    version = _file_version(path)
    key = (spark.sparkContext.applicationId, version)
    if version is not None and key in _SCHEMAS:
        df = spark.read.schema(_SCHEMAS[key]).parquet(path)
    else:
        df = spark.read.parquet(path)
        if version is not None:
            _SCHEMAS[key] = df.schema
    dtypes = dict(df.dtypes)
    for c in _NANOS_TS_COLS.get(name, ()):
        if dtypes.get(c) == "bigint":
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"{c} div 1000")))
        elif dtypes.get(c) == "timestamp_ntz":
            # Micros-typed fixture drops scan as TIMESTAMP_NTZ; downstream
            # plans use instant functions (unix_micros, window) that need
            # TIMESTAMP. The session is pinned UTC above, so the cast
            # reinterprets the same wall-clock value as the same instant —
            # identical to what the nanos path produced.
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def spread(df: DataFrame) -> DataFrame:
    """Fan a narrow scan out to the session's full parallelism before a
    CPU-heavy per-row expansion (shingle explode, media decode, token
    census). Fixture tables often arrive as ONE parquet row group — an
    unsplittable single input partition, so everything up to the first
    shuffle would run on a single thread (measured 5× end-to-end on the
    8-gram span census at sf0.1). Conditional on the scan actually being
    narrower than the session's core count: at 100 TB inputs are
    many-row-group and this is a no-op — the guard makes the extra
    round-robin shuffle exist exactly when it is small."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}


def read_json_records(
    spark: SparkSession, path: str, schema: T.StructType, multi_line: bool = True
) -> DataFrame:
    """S4: JSON file source. The reference json.load()s a whole array file
    (``load_inserts.py:182-183``); ``multiLine=True`` covers that layout,
    ``False`` covers JSON-lines (the scalable layout — splittable, so a
    100 TB dump parallelizes across executors instead of one task/file)."""
    return spark.read.json(path, schema=schema, multiLine=multi_line)


def read_json_with_quarantine(
    spark: SparkSession, path: str, schema: T.StructType
) -> tuple[DataFrame, DataFrame]:
    """JSON-lines ingest that survives malformed records: PERMISSIVE mode
    captures unparseable lines in ``_corrupt_record`` instead of failing
    the job (one poison message must not kill a 100 TB load). Returns
    (good, quarantined) — quarantined rows keep the raw line for replay/
    forensics, the batch twin of the reference's decode-failure skip
    counters (``topic_consumer.py:268-271`` counts, we retain)."""
    crpt = "_corrupt_record"
    full = T.StructType([*schema.fields, T.StructField(crpt, T.StringType())])
    # text scan + from_json (not .json(path)): Spark refuses plans that
    # reference ONLY the corrupt column of a raw JSON scan
    # (QUERY_ONLY_CORRUPT_RECORD_COLUMN); parsing as an expression keeps
    # both halves of the split legal AND stays one splittable pass.
    parsed = spark.read.text(path).select(
        F.from_json(
            "value", full, {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": crpt}
        ).alias("r")
    )
    good = parsed.filter(F.col(f"r.{crpt}").isNull()).select("r.*").drop(crpt)
    quarantined = parsed.filter(F.col(f"r.{crpt}").isNotNull()).select(
        F.col(f"r.{crpt}").alias("raw")
    )
    return good, quarantined


def fetch_json_to_df(
    spark: SparkSession,
    url: str,
    schema: T.StructType,
    transport=None,
) -> DataFrame:
    """S1: HTTP JSON acquisition (reference ``producer.py:76-78``:
    ``requests.get(url)`` → ``json.loads`` → one record per array
    element). The fetch itself is a single driver-side call — acquisition
    from one HTTP endpoint is inherently not distributable — but each
    record is kept as its raw JSON line and parsed executor-side with
    ``from_json``, so schema projection and type coercion scale out and
    malformed elements become NULL-field rows instead of a driver crash.

    ``transport`` is a ``Callable[[str], str]`` returning the response
    body; the default uses stdlib urllib. Tests inject a fake transport —
    the parse path downstream of the fetch is identical either way.
    """
    import json as _json

    if transport is None:

        def transport(u: str) -> str:
            from urllib.request import urlopen

            with urlopen(u, timeout=60) as resp:
                return resp.read().decode("utf-8")

    records = _json.loads(transport(url))
    if not isinstance(records, list):
        records = [records]
    lines = spark.createDataFrame(
        [(_json.dumps(r),) for r in records], T.StructType([T.StructField("value", T.StringType())])
    )
    return lines.select(F.from_json("value", schema).alias("r")).select("r.*")


def read_evolving_parquet(spark: SparkSession, *paths: str) -> DataFrame:
    """Schema-drift-tolerant parquet ingest: a recurring dump's schema
    GROWS over time (new quality/meta columns appear), and a reader
    pinned to the first drop's schema silently drops them while a
    reader pinned to the newest fails on old files. ``mergeSchema``
    takes the union — rows from older dumps null-fill the new columns,
    exactly how the JSON path handles absent fields via explicit
    schema. Merging reads every file's FOOTER at planning time (not its
    data), so at 100 TB prefer a table format (Delta/Iceberg) that
    tracks schema in metadata; this is the raw-parquet fallback with
    the same union semantics."""
    return spark.read.option("mergeSchema", "true").parquet(*paths)
