"""Small-file compaction: rewrite a parquet table's many small files
into few near-target-size files, preserving content exactly.

The 100 TB problem this solves: streaming micro-batches, upsert deltas,
and over-parallel writes leave tables as thousands of KB-scale files.
Every downstream scan then pays per-file open/footer/schema costs that
dwarf the data read (driver-side listing + task-scheduling overhead
scale with FILE COUNT, not bytes), and the NameNode/object-store
metadata bloats. Production table formats run OPTIMIZE/rewrite jobs for
exactly this; here it is as plain Spark over plain parquet.

Strategy — measure, then repartition by the real ratio:
1. File census from the table's own footers (no data read): count and
   total bytes via the parquet file listing.
2. Target file count = ceil(total_bytes / target_bytes), floor 1. The
   parquet bytes already reflect encoding+compression, so sizing from
   them is far more accurate than estimating from row counts.
3. Rewrite with ``repartition(n)`` (round-robin — even output sizes
   regardless of input skew; a ``sort_by`` option instead range-sorts
   so min/max stats stay selective, the q_zorder_cells layout note).
4. Write to a temp sibling directory, then swap directories
   (``session.swap_dir``) — a reader never sees a half-compacted table
   (crash before the swap leaves the original untouched).

Contract: local-filesystem paths (rename swap — the same documented
contract as write_ivfpq_index's sidecar; an object-store deployment
would swap via the table format's transaction log instead).

Compaction is content-preserving by construction (one read, one write,
no row transformation) — tests pin exact row multiset equality and the
file-count drop.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession

from c_tran_data_pipeline_spark.session import swap_dir


def parquet_file_census(path: str) -> tuple[int, int]:
    """(n_data_files, total_bytes) for a parquet directory — listing
    only, no data read. Counts ``*.parquet`` data files (skips _SUCCESS
    and hidden/marker files)."""
    n, total = 0, 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet") and not f.startswith((".", "_")):
                n += 1
                total += os.path.getsize(os.path.join(root, f))
    return n, total


def plan_compaction(path: str, target_bytes: int = 128 * 1024 * 1024) -> dict:
    """Dry-run: the census and the output file count a compaction would
    produce. ``needed`` is False when the table is already at or below
    the target count (rewriting would churn data for nothing)."""
    n_files, total_bytes = parquet_file_census(path)
    n_target = max(1, math.ceil(total_bytes / target_bytes)) if total_bytes else 1
    return {
        "n_files": n_files,
        "total_bytes": total_bytes,
        "n_target": n_target,
        "needed": n_files > n_target,
    }


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_bytes: int = 128 * 1024 * 1024,
    sort_by: list[str] | None = None,
    force: bool = False,
) -> dict:
    """Compact the parquet table at ``path`` in place (directory
    swap). Returns the plan dict plus ``compacted``/``n_files_after``.

    ``sort_by``: range-sort the rewrite on these columns instead of
    round-robin — output files then carry tight min/max stats on the
    sort key, so post-compaction scans with a sort-key predicate prune
    files (the layout half of OPTIMIZE ... ZORDER; single-key here).
    """
    plan = plan_compaction(path, target_bytes)
    if not plan["needed"] and not force:
        return {**plan, "compacted": False, "n_files_after": plan["n_files"]}

    df: DataFrame = spark.read.parquet(path)
    out = (
        df.repartitionByRange(plan["n_target"], *sort_by).sortWithinPartitions(*sort_by)
        if sort_by
        else df.repartition(plan["n_target"])
    )
    tmp = f"{path}.compact-{os.getpid()}"
    out.write.mode("overwrite").parquet(tmp)
    swap_dir(tmp, path)
    n_after, _ = parquet_file_census(path)
    return {**plan, "compacted": True, "n_files_after": n_after}
