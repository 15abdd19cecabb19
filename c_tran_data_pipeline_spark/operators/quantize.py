"""Embedding quantization (north-star extension): the memory/bandwidth
lever for similarity search at 100 TB. float32→int8 cuts the vector
table 4× — which at scale means 4× more of the corpus fits in executor
memory per scan, and shuffle/broadcast payloads shrink the same 4×.

Two quantizers, matching the standard SQ8 playbook (e.g. FAISS
ScalarQuantizer):

- ``quantize_per_dim``: symmetric per-dimension scales — max |v| per
  dim / 127. The better quantizer (dims with small dynamic range keep
  more resolution); used for storage.
- ``quantize_global`` + ``int8_cosine_topk``: one per-tensor scale. The
  twist that makes the search path *exactly* verifiable: with a single
  scale s, cosine(a,b) = Σq̂aq̂b·s² / (s√Σq̂a²·s√Σq̂b²) — s cancels, so
  the quantized cosine is a pure INTEGER expression (sum of int8
  products), bit-identical on any engine and any evaluation order.
  The approximation error lives entirely in the round-to-int step,
  which is deterministic; recall vs the float path is pinned in tests.

Rounding is ``floor(v/s + 0.5)`` rather than round() — half-even vs
half-away conventions differ across engines, floor(+0.5) does not.

All scales derive from one aggregate over the corpus and re-enter the
plan as a broadcast scalar (crossJoin of a 1-row DF): no driver
round-trip, no recompute per partition.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from c_tran_data_pipeline_spark.operators.similarity import _ranked


def _q8(v: Column, scale: Column) -> Column:
    """Symmetric int8 code for one component: floor(v/scale + 0.5),
    clamped to [-127, 127] (clamp is a no-op when scale = max|v|/127,
    but keeps the codebook valid for any supplied scale)."""
    code = F.floor(v / scale + F.lit(0.5)).cast("int")
    return F.greatest(F.lit(-127), F.least(F.lit(127), code))


def quantize_per_dim(
    df: DataFrame, key: str = "vec_id", vec: str = "embedding"
) -> DataFrame:
    """Per-dimension symmetric int8 quantization, long form:
    (key, dim, q) with dim 1-based. scale_d = max|v_d|/127 over the
    corpus — one partial-aggregated shuffle on the dim key (64 groups),
    broadcast back onto the fan-out. The long form is the exactly
    comparable shape; ``codes`` below re-packs it to arrays."""
    ex = df.select(
        F.col(key),
        F.posexplode(F.col(vec).cast("array<double>")).alias("__d0", "__v"),
    ).select(F.col(key), (F.col("__d0") + 1).alias("dim"), F.col("__v"))
    scales = ex.groupBy("dim").agg((F.max(F.abs("__v")) / 127.0).alias("__scale"))
    return (
        ex.join(F.broadcast(scales), on="dim")
        .select(F.col(key), "dim", _q8(F.col("__v"), F.col("__scale")).alias("q"))
    )


def quantize_global(
    df: DataFrame, key: str = "vec_id", vec: str = "embedding"
) -> DataFrame:
    """Per-tensor int8 quantization: ONE scale = max|v|/127 over the
    whole corpus, re-entering the plan as a broadcast scalar. Returns
    (key, q: array<int>). Coarser than per-dim, but the uniform scale
    cancels out of cosine — the property int8_cosine_topk exploits."""
    dv = df.select(F.col(key), F.col(vec).cast("array<double>").alias("__v"))
    mx = dv.select(
        (
            F.max(
                F.aggregate(
                    F.transform("__v", F.abs),
                    F.lit(0.0),
                    lambda acc, x: F.greatest(acc, x),
                )
            )
            / 127.0
        ).alias("__scale")
    )
    return dv.crossJoin(F.broadcast(mx)).select(
        F.col(key),
        F.transform("__v", lambda x: _q8(x, F.col("__scale"))).alias("q"),
    )


def _int_dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x * y).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def int8_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    key: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """Same contract as similarity.cosine_topk — (query_id, neighbor_id,
    rank, cosine) — computed on per-tensor int8 codes: the quantized
    cosine Σq̂aq̂b / (√Σq̂a² · √Σq̂b²) is integer until the final
    divide. Physical shape matches the float path (broadcast queries ×
    one corpus scan, window top-k), but every vector crosses the wire
    at 1/4 width and the inner loop is int multiply-accumulate.

    The int sums are order-independent, so unlike the float fold this
    ranking is reproducible under ANY partitioning — which is why it
    can carry an exact SQL oracle despite being an approximation of
    the float ranking (recall pinned in tests/test_similarity.py)."""
    qz = quantize_global(corpus, key=key, vec=vec)
    c = qz.select(F.col(key).alias("neighbor_id"), F.col("q").alias("__cq"))
    qkeys = queries.select(F.col(key).alias("query_id"))
    q = qz.join(F.broadcast(qkeys), qz[key] == qkeys["query_id"]).select(
        "query_id", F.col("q").alias("__qq")
    )
    scored = c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id")).select(
        "query_id",
        "neighbor_id",
        (
            _int_dot(F.col("__qq"), F.col("__cq")).cast("double")
            / (
                F.sqrt(_int_dot(F.col("__qq"), F.col("__qq")).cast("double"))
                * F.sqrt(_int_dot(F.col("__cq"), F.col("__cq")).cast("double"))
            )
        ).alias("__cos"),
    )
    return _ranked(scored, k, "__cos", desc=True, out="cosine")
