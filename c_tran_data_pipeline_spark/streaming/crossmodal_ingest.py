"""Streaming cross-modal dedup ingest: paired (image, caption)
micro-batches dedup against BOTH persisted stores — the image
(id, h, band, slice) table and the caption-string table — in one
transaction per batch (VERDICT r8 #8), the LAION-crawl daily-ingest
shape: new pairs arrive, only their payloads decode, and each batch's
joint verdicts land next to a store grown by exactly the new assets.

Composition, not new machinery:

- source: any streaming DataFrame of (asset_id, payload, caption) —
  tests drive a file stream with ``maxFilesPerTrigger=1`` so
  multi-batch sequencing is real; production points the same plan at
  Kafka (sources/kafka.py decodes the message envelope).
- per batch (``foreachBatch``): read the committed combined store, run
  ``crossmodal_incremental_neardup`` (operators/multimodal.py — O(new)
  decode+hash, (band, slice) probe join, caption Jaccard only on the
  LSH candidate set), write the batch's verdicts, then COMMIT the
  batch's store delta as a NEW GENERATION directory with the sidecar
  rewritten LAST (the operators/pq.py index-append recipe): per-batch
  store I/O is O(batch) — the committed corpus is never rewritten,
  unlike a whole-store swap whose write cost grows with the corpus.
  Readers open ONLY sidecar-listed generations, so a torn append
  (crash before the sidecar lands) is invisible and reclaimed by the
  replay's overwrite of the same deterministic ``gen-b<batch_id>``
  directory.
- "one transaction": both modality tables live under ONE store
  directory (``<gen>/slices`` + ``<gen>/captions``) committed by ONE
  sidecar ``atomic_write`` — there is no observable state where the
  image index has absorbed a batch but the caption table hasn't.
- delivery: at-least-once with an idempotent effect. Verdicts write to
  a DETERMINISTIC per-batch directory (``batch=<id>``) with overwrite
  semantics, and the probe base first ANTI-JOINS the committed store
  on the batch's asset_ids — so a REPLAYED batch (crash before the
  checkpoint commit, whether or not the sidecar bump landed)
  recomputes the SAME verdict rows over the SAME effective corpus and
  re-commits a generation identical to the one it already built:
  state never double-grows (pinned in
  tests/test_crossmodal_ingest.py).

Reference parity: the reference's consumers poll, validate, and
append-if-absent into Postgres (``topic_consumer.py:215-285``); this is
the same loop shape with the validation step replaced by joint
image+caption dedup against persisted state.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from c_tran_data_pipeline_spark.session import atomic_write, read_json

_SIDECAR = "_crossmodal_store.json"


def _commit_sidecar(path: str, generations: list[str], meta: dict) -> None:
    """Atomically publish the generation list, so readers see either
    the old list or the new — never a torn sidecar."""
    atomic_write(
        os.path.join(path, _SIDECAR), json.dumps({"generations": generations, "meta": meta})
    )


def _write_generation(
    slices: DataFrame, captions: DataFrame, path: str, gen: str
) -> None:
    slices.select("id", "h", "band", "slice").write.mode("overwrite").parquet(
        os.path.join(path, gen, "slices")
    )
    captions.select("asset_id", "caption").write.mode("overwrite").parquet(
        os.path.join(path, gen, "captions")
    )


def write_crossmodal_store(
    slices: DataFrame, captions: DataFrame, path: str, meta: dict | None = None
) -> None:
    """Commit a store whose whole content is one base generation:
    ``gen-base/slices`` (the ahash_band_slices layout, ~bands 20-byte
    rows per asset) + ``gen-base/captions`` (asset_id, caption —
    strings, never pixels), then the JSON sidecar LAST. A crash
    mid-write leaves parquet without the sidecar and
    read_crossmodal_store refuses it — the torn write is invisible,
    not half-served."""
    os.makedirs(path, exist_ok=True)
    _write_generation(slices, captions, path, "gen-base")
    _commit_sidecar(path, ["gen-base"], meta or {})


def read_crossmodal_store(
    spark: SparkSession, path: str
) -> tuple[DataFrame, DataFrame, dict, list[str]]:
    """Load a committed store → (slices, captions, meta, generations);
    reads ONLY sidecar-listed generations (an unlisted directory is a
    torn append — invisible by design) and raises on a torn/uncommitted
    store (parquet without the sidecar)."""
    rec = read_json(os.path.join(path, _SIDECAR))
    gens = rec["generations"]
    return (
        spark.read.parquet(*[os.path.join(path, g, "slices") for g in gens]),
        spark.read.parquet(*[os.path.join(path, g, "captions") for g in gens]),
        rec.get("meta", {}),
        gens,
    )


def crossmodal_ingest_stream(
    spark: SparkSession,
    new_pairs: DataFrame,
    store_path: str,
    verdicts_path: str,
    checkpoint: str,
    codec: str = "fake",
    max_ham: int = 3,
    bands: int = 4,
    ngram: int = 3,
    joint_num: int = 1,
    joint_den: int = 2,
    max_slice_factor: int | None = 8,
) -> StreamingQuery:
    """Start the availableNow ingest: joint-dedup every micro-batch of
    ``new_pairs`` (streaming (asset_id, payload, caption)) against the
    committed combined store at ``store_path``, write the batch's
    verdicts to ``verdicts_path/batch=<id>``, and commit the batch's
    store delta as generation ``gen-b<id>``."""
    from c_tran_data_pipeline_spark.operators.multimodal import (
        ahash_band_slices,
        crossmodal_incremental_neardup,
        image_ahash,
    )
    from c_tran_data_pipeline_spark.session import persist_once_owned

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return
        slices, captions, meta, gens = read_crossmodal_store(spark, store_path)
        # Replay determinism: subtract the batch's own ids from the base
        # BEFORE probing. First delivery: no-op (the store can't contain
        # them yet). Replay after a committed append: restores exactly
        # the pre-batch corpus, so the verdicts recompute bit-for-bit
        # and the rewritten generation equals the one already committed
        # — the effective state converges whichever side of the sidecar
        # bump the crash fell on. (The batch is the bounded side —
        # broadcast the id list under both anti-joins.)
        batch, owned = persist_once_owned(batch_df)
        try:
            ids = F.broadcast(batch.select(F.col("asset_id").alias("id")).distinct())
            base_slices = slices.join(ids, "id", "left_anti")
            base_caps = captions.join(
                ids.select(F.col("id").alias("asset_id")), "asset_id", "left_anti"
            )
            verdicts, _up_slices, _up_caps = crossmodal_incremental_neardup(
                batch,
                base_slices,
                base_caps,
                codec=codec,
                max_ham=max_ham,
                bands=bands,
                ngram=ngram,
                joint_num=joint_num,
                joint_den=joint_den,
                max_slice_factor=max_slice_factor,
            )
            # Verdicts FIRST, to a deterministic per-batch dir with
            # overwrite semantics: a replay rewrites the same rows in
            # place instead of appending duplicates. (This action also
            # finishes every read of the committed generations before
            # the generation write below can touch gen-b<id> — never
            # overwrite a directory a lazy plan is reading.)
            verdicts.write.mode("overwrite").parquet(
                f"{verdicts_path}/batch={batch_id}"
            )
            # Then the O(batch) store delta: ONLY the batch's slice and
            # caption rows land in gen-b<id> (derived from the persisted
            # batch, not from the store scan), and the sidecar bump is
            # the single commit point for both modality tables.
            gen = f"gen-b{batch_id:06d}"
            # Built EXACTLY like the operator builds its internal slice
            # relation, so the canonical plan matches the one it
            # persist_once'd and the CacheManager serves this write from
            # the already-decoded batch instead of re-running the codec.
            _write_generation(
                ahash_band_slices(
                    image_ahash(batch.select("asset_id", "payload"), codec=codec),
                    bands=bands,
                ),
                batch.select("asset_id", "caption"),
                store_path,
                gen,
            )
            if gen not in gens:
                _commit_sidecar(store_path, gens + [gen], meta)
        finally:
            if owned:
                batch.unpersist()

    return (
        new_pairs.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
