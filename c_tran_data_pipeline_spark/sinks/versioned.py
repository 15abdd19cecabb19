"""Versioned table store: snapshot isolation + time travel over plain
parquet — the Delta/Iceberg mechanic (immutable snapshots + an atomic
current-version pointer) reduced to its core, for images without the
table-format jars (the same swap point `streaming.pipeline._TableStore`
documents; that store keeps only the latest snapshot, this one keeps
history).

Layout:

    <path>/_versions/v00000001/*.parquet   immutable snapshot dirs
    <path>/_current                        text file: committed version

Invariants the tests pin:

- a COMMIT never mutates an existing snapshot dir — a reader that
  resolved version N keeps reading exactly N's files while N+1 commits
  (snapshot isolation without locks);
- the pointer flips via ``session.atomic_write`` (atomic on POSIX),
  so a crash mid-commit leaves a fully-written orphan snapshot and the
  OLD pointer — never a torn table (the orphan is vacuumed later);
- time travel is just ``read(version=N)`` while N survives ``vacuum``.

Single-writer by design (micro-batch sinks are: foreachBatch runs
epochs serially). At 100 TB the same layout holds — snapshots are
written executor-side, the pointer is bytes — but use a real table
format for concurrent writers and file-level conflict detection.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession

from c_tran_data_pipeline_spark.operators.upsert import insert_if_absent, merge_update
from c_tran_data_pipeline_spark.session import atomic_write


class VersionedTableStore:
    def __init__(self, spark: SparkSession, path: str, schema):
        self.spark = spark
        self.path = path
        self.schema = schema
        os.makedirs(os.path.join(path, "_versions"), exist_ok=True)

    # -- version bookkeeping ------------------------------------------------
    def _pointer(self) -> str:
        return os.path.join(self.path, "_current")

    def current_version(self) -> int:
        """0 = empty table (no commit yet)."""
        try:
            with open(self._pointer()) as fh:
                return int(fh.read().strip())
        except FileNotFoundError:
            return 0

    def versions(self) -> list[int]:
        vdir = os.path.join(self.path, "_versions")
        return sorted(
            int(d[1:]) for d in os.listdir(vdir) if d.startswith("v") and d[1:].isdigit()
        )

    def _vpath(self, version: int) -> str:
        return os.path.join(self.path, "_versions", f"v{version:08d}")

    # -- read ---------------------------------------------------------------
    def read(self, version: int | None = None) -> DataFrame:
        """Current table, or time-travel to an older COMMITTED version.

        Only versions at or below the pointer are readable: a crash
        between the snapshot write and the pointer flip leaves a
        partially-written orphan dir at current+1, and serving it would
        be exactly the torn read the pointer protocol exists to prevent
        — so time travel validates against committed versions, not
        directory existence."""
        v = self.current_version() if version is None else version
        if v == 0:
            return self.spark.createDataFrame([], self.schema)
        if version is not None:
            committed = [x for x in self.versions() if x <= self.current_version()]
            if version not in committed:
                raise ValueError(
                    f"version {version} is not committed (committed: {committed}; "
                    f"pointer: {self.current_version()})"
                )
        return self.spark.read.parquet(self._vpath(v))

    # -- write --------------------------------------------------------------
    def commit(self, df: DataFrame) -> int:
        """Write ``df`` as the next immutable snapshot and atomically flip
        the pointer. Returns the new version number."""
        new_v = self.current_version() + 1
        target = self._vpath(new_v)
        # snapshot dirs are immutable once the pointer names them; a
        # leftover from a crashed attempt is safe to clobber (it was
        # never committed)
        df.write.mode("overwrite").parquet(target)
        atomic_write(self._pointer(), str(new_v))
        return new_v

    def upsert(self, incoming: DataFrame, keys: list[str]) -> int:
        """K4 insert-if-absent as a new version (history preserved)."""
        return self.commit(insert_if_absent(self.read(), incoming, keys))

    def merge(self, updates: DataFrame, keys: list[str], set_cols: list[str]) -> int:
        """K5 keyed update merge as a new version."""
        return self.commit(merge_update(self.read(), updates, keys, set_cols))

    # -- maintenance --------------------------------------------------------
    def vacuum(self, keep_last: int = 1) -> list[int]:
        """Drop all but the newest ``keep_last`` committed versions (never
        the current one, never uncommitted orphans ahead of the pointer).
        Returns the dropped version numbers."""
        cur = self.current_version()
        committed = [v for v in self.versions() if v <= cur]
        drop = committed[: max(0, len(committed) - max(keep_last, 1))]
        for v in drop:
            shutil.rmtree(self._vpath(v), ignore_errors=True)
        return drop
