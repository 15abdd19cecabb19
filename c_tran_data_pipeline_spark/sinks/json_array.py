"""K2 exact-artifact helper: the reference's single-file JSON *array*
dump (``file_consumer.py:64-96`` opens ``dump<date>.json``, writes
``[``, one ``json.dump`` per consumed message, then ``]``).

The engine's standard JSON sink is JSON-lines (splittable — the right
layout at scale; ``streaming/pipeline.py`` store writes), but users of
the reference have downstream readers that ``json.load()`` the whole
array file (``load_inserts.py:182-183``), so this writer reproduces
that artifact for drop-in compatibility — with two deliberate
divergences: the output is VALID JSON (the reference emits a trailing
comma before ``]``, which ``json.load`` rejects), and it is a
small-result helper BY CONTRACT: a single non-splittable file is a
driver-side artifact, so the row cap raises instead of silently
funnelling a big DataFrame through one process.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from c_tran_data_pipeline_spark.session import atomic_write


def write_json_array(df: DataFrame, path: str, max_rows: int = 100_000) -> int:
    """Write ``df`` as ONE file containing a JSON array of row objects.
    Returns the row count (the reference's ``msg.log`` total).

    Serialization happens executor-side (``toJSON`` maps rows to JSON
    strings in the JVM); only the finished strings cross to the driver,
    which frames them with ``[ ... ]`` and commits via ``atomic_write``
    so readers never observe a half-written artifact.
    ``max_rows`` enforces the small-result contract (raise, don't melt);
    pass a bigger cap explicitly when you mean it."""
    rows = df.limit(max_rows + 1).toJSON().collect()
    if len(rows) > max_rows:
        raise ValueError(
            f"write_json_array: result exceeds max_rows={max_rows}; this is a "
            f"single-file small-result artifact — use the JSON-lines sink for "
            f"big outputs, or raise max_rows explicitly"
        )
    atomic_write(path, "[\n" + ",\n".join(rows) + "\n]")
    return len(rows)
