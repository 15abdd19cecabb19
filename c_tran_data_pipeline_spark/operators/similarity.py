"""Similarity search over embedding columns (north-star extensions).

Every top-k operator here (and in ``pq.py`` / ``quantize.py``) is three
stages, each written once:

1. Candidate generation — which (query, corpus) pairs get scored:
   the exact broadcast pair join (``cosine_topk`` and its label /
   Matryoshka variants), the multi-table random-hyperplane LSH bucket
   equi-join (``ann_lsh_topk``; Charikar SimHash with ±1 components
   from md5(plane, dim) parity — deterministic, engine-portable, exact
   SQL oracle, no stored plane matrix), or the IVF probed-cell
   equi-join (``ivf_search``, k-means cells). At 100 TB the bucket and
   cell joins replace the O(|corpus|×|queries|) scan with a shuffle
   keyed on buckets or cells; recall is tuned by planes / tables /
   nprobe.
2. Scoring — cosine, with norms hoisted to one side projection per
   vector (``_normed``) wherever candidates outnumber vectors, or
   squared L2 (``_l2sq``; PQ's ADC lookups in pq.py).
3. The top-k cut — ``_ranked``: row_number per query_id by score, then
   neighbor_id ascending, score rounded to 4 places. Shortlists for a
   re-rank (Matryoshka prefix, PQ ADC) are the same cut without the
   score columns.

Cosine is computed on float64 after casting the float32 storage vectors —
sequential left-to-right fold, matching the oracle's summation order.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from c_tran_data_pipeline_spark.session import atomic_write, read_json


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0).cast("double"), lambda acc, x: acc + x
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0).cast("double"), lambda acc, x: acc + x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _as_double(c: Column) -> Column:
    return c.cast("array<double>")


def _guard_size(df: DataFrame, cap: int | None, what: str, hint: str) -> None:
    """Raise if ``df`` exceeds ``cap`` rows (``cap=None`` opts out).

    The baseline/bounded-side guard: limit(cap+1).count() touches at most
    cap+1 rows (early-terminating scan, not a full count), so the check
    itself is cheap. It exists to make the O(n²) oracle baselines and
    must-be-small broadcast sides fail FAST with a named fix instead of
    melting a cluster at 100× the fixture."""
    if cap is None:
        return
    if df.limit(cap + 1).count() > cap:
        raise ValueError(
            f"{what} exceeds {cap} rows — this path is {hint}; "
            f"pass the cap argument as None to opt in explicitly"
        )


def _normed(
    df: DataFrame, ident: str, tag: str, key: str, vec: str, *extra: Column,
    dims: int | None = None,
) -> DataFrame:
    """(ident, *extra, __<tag>v, __<tag>n): each vector as doubles (its
    first ``dims`` components when given) and its L2 norm, one row per
    vector. Norms are computed here, ONCE per side before the pair join
    (identical fold, identical IEEE order — just earlier): cosine(q, c)
    inside the join recomputes both norms per PAIR, 3 array folds where
    1 (the dot product) suffices — measured 2.05 → 1.55 s for the
    50-query q_knn_label at sf0.1."""
    v = _as_double(F.col(vec))
    if dims is not None:
        v = F.slice(v, 1, dims)
    vc = f"__{tag}v"
    return df.select(F.col(key).alias(ident), *extra, v.alias(vc)).select(
        "*", norm(F.col(vc)).alias(f"__{tag}n")
    )


def _normed_cosine(a: str, b: str) -> Column:
    """Cosine of two ``_normed`` sides (tags ``a`` and ``b``): the dot
    product over the hoisted norms — the same arithmetic as cosine()."""
    return dot(F.col(f"__{a}v"), F.col(f"__{b}v")) / (F.col(f"__{a}n") * F.col(f"__{b}n"))


def _ranked(
    scored: DataFrame,
    k: int,
    score: str,
    desc: bool,
    keep: tuple[str, ...] = ("query_id", "neighbor_id"),
    out: str | None = None,
) -> DataFrame:
    """The family's one top-k cut: per query_id, rows ordered by
    ``score`` (descending for similarities, ascending for distances)
    then neighbor_id ascending, the first ``k`` kept. With ``out`` this
    is the result contract — ``keep`` + rank + the score rounded to 4
    places as ``out``; without it, a shortlist of the ``keep`` columns
    for a re-rank to join back."""
    order = F.col(score).desc() if desc else F.col(score).asc()
    w = Window.partitionBy("query_id").orderBy(order, F.col("neighbor_id").asc())
    top = scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
    if out is None:
        return top.select(*keep)
    return top.select(*keep, "rank", F.round(score, 4).alias(out))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    key: str = "vec_id",
    vec: str = "embedding",
    max_queries: int | None = 10_000,
) -> DataFrame:
    """Exact top-k neighbors for each query vector (self excluded).
    Returns (query_id, neighbor_id, rank, cosine).

    Linear in |corpus| but |corpus|×|queries| in compute and broadcast-
    bound in |queries| — correct ONLY for small query batches by
    contract; ``max_queries`` enforces that contract (the scale path for
    big batches is ann_lsh_topk / ivf_search)."""
    _guard_size(
        queries,
        max_queries,
        "cosine_topk query batch",
        "the exact brute-force baseline (one corpus scan PER BATCH, "
        "broadcast query side)",
    )
    c = _normed(corpus, "neighbor_id", "c", key, vec)
    q = _normed(queries, "query_id", "q", key, vec)
    scored = c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id")).select(
        "query_id", "neighbor_id", _normed_cosine("q", "c").alias("__cos")
    )
    return _ranked(scored, k, "__cos", desc=True, out="cosine")


#: the key columns of the hard-negative result contract
_LABELLED = ("query_id", "query_label", "neighbor_id", "neighbor_label")


def hard_negative_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    key: str = "vec_id",
    vec: str = "embedding",
    label: str = "label",
    max_queries: int | None = 10_000,
) -> DataFrame:
    """Hard-negative mining for contrastive training (the DPR/SimCSE
    recipe — Karpukhin et al. 2020 §3.2: the best negatives are the
    most-similar items of a DIFFERENT class, not random ones): for each
    query, the top-k highest-cosine corpus items whose ``label``
    differs. Returns (query_id, query_label, neighbor_id,
    neighbor_label, rank, cosine).

    Same physical shape as cosine_topk — norms hoisted to each side
    BEFORE the pair join, broadcast bounded query batch, one window
    top-k — with the label inequality fused into the join condition so
    same-class pairs are dropped BEFORE any cosine is computed. At
    100 TB the exact scan swaps for an ANN candidate generator
    (ann_lsh_topk / ivf_topk) with the label filter applied to an
    over-fetched candidate set (fetch α·k, filter, keep k) — the
    identical output contract."""
    _guard_size(
        queries,
        max_queries,
        "hard_negative_topk query batch",
        "the exact brute-force miner (one corpus scan per batch, "
        "broadcast query side)",
    )
    c = _normed(corpus, "neighbor_id", "c", key, vec, F.col(label).alias("neighbor_label"))
    q = _normed(queries, "query_id", "q", key, vec, F.col(label).alias("query_label"))
    scored = c.join(
        F.broadcast(q), F.col("neighbor_label") != F.col("query_label")
    ).select(
        *_LABELLED, _normed_cosine("q", "c").alias("__cos"),
    )
    return _ranked(scored, k, "__cos", desc=True, keep=_LABELLED, out="cosine")


def _lsh_pairs(
    corpus: DataFrame, queries: DataFrame, planes: int, tables: int, key: str, vec: str, dim: int
) -> DataFrame:
    """(query_id, neighbor_id, __qv, __cv) once for every corpus row that
    shares any LSH table bucket with a query (self excluded) — the
    candidate stage of ann_lsh_topk and hard_negative_topk_lsh."""
    cb = multi_table_lsh_buckets(corpus, planes, tables, key, vec, dim=dim).select(
        F.col(key).alias("neighbor_id"), _as_double(F.col(vec)).alias("__cv"), "table", "bucket"
    )
    qb = multi_table_lsh_buckets(queries, planes, tables, key, vec, dim=dim).select(
        F.col(key).alias("query_id"), _as_double(F.col(vec)).alias("__qv"), "table", "bucket"
    )
    return (
        cb.join(qb, on=["table", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", "__qv", "__cv")
        .dropDuplicates(["query_id", "neighbor_id"])  # union across tables
    )


def hard_negative_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    planes: int = 4,
    tables: int = 8,
    key: str = "vec_id",
    vec: str = "embedding",
    label: str = "label",
    *,
    dim: int,
) -> DataFrame:
    """The 100 TB path of ``hard_negative_topk``: candidates come from
    the multi-table LSH bucket equi-join (never a corpus×queries scan),
    the label filter drops same-class candidates BEFORE the cosine
    re-rank, and exact cosine ranks what remains. Same output contract
    as the exact miner; recall < 1 w.r.t. it by construction (bucket
    recall — tests measure the floor). Banding is effectively the
    over-fetch knob: each extra table raises the chance a true hard
    negative shares a bucket, exactly as in ann_lsh_topk."""
    cl = corpus.select(F.col(key).alias("neighbor_id"), F.col(label).alias("neighbor_label"))
    ql = queries.select(F.col(key).alias("query_id"), F.col(label).alias("query_label"))
    candidates = (
        _lsh_pairs(corpus, queries, planes, tables, key, vec, dim)
        .join(cl, "neighbor_id")
        .join(F.broadcast(ql), "query_id")
        .filter(F.col("neighbor_label") != F.col("query_label"))
    )
    scored = candidates.select(
        *_LABELLED, cosine(F.col("__qv"), F.col("__cv")).alias("__cos"),
    )
    return _ranked(scored, k, "__cos", desc=True, keep=_LABELLED, out="cosine")


def mrl_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    prefix_dims: int = 16,
    shortlist: int = 4,
    key: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """Matryoshka (MRL) two-stage retrieval: shortlist by cosine over the
    FIRST ``prefix_dims`` dimensions, then exact full-vector cosine
    re-ranks the shortlist. Returns (query_id, neighbor_id, rank, cosine)
    — the same contract as ``cosine_topk``.

    Matryoshka-trained embeddings put most of the signal in the leading
    dims, so the shortlist pass reads prefix_dims/dim of the vector bytes
    (16/64 here = 4× less compute and scan bandwidth — the same lever as
    int8/PQ, along the dimension axis instead of the precision axis).

    Scale shape: the shortlist window sees only narrow
    (query_id, neighbor_id, tcos) rows — full vectors are dropped BEFORE
    the top-m shuffle, then only shortlist×|queries| rows (tiny,
    broadcastable) rejoin the corpus for the exact re-rank. Cosine over a
    prefix slice needs no re-normalization (cosine is scale-invariant),
    so the shortlist score is exactly reproducible in SQL."""
    c_tr = _normed(corpus, "neighbor_id", "c", key, vec, dims=prefix_dims)
    q_tr = _normed(queries, "query_id", "q", key, vec, dims=prefix_dims)
    scored_tr = c_tr.join(F.broadcast(q_tr), F.col("neighbor_id") != F.col("query_id")).select(
        "query_id", "neighbor_id", _normed_cosine("q", "c").alias("__tcos")
    )
    short = _ranked(scored_tr, shortlist * k, "__tcos", desc=True)
    rerank = (
        short.join(_normed(corpus, "neighbor_id", "c", key, vec), "neighbor_id")
        .join(F.broadcast(_normed(queries, "query_id", "q", key, vec)), "query_id")
        .select("query_id", "neighbor_id", _normed_cosine("q", "c").alias("__cos"))
    )
    return _ranked(rerank, k, "__cos", desc=True, out="cosine")


def _sign_value(plane: int, dim_index: int) -> float:
    """±1 pseudo-random hyperplane component from md5("plane,dim")
    parity — portable across engines (the DuckDB oracles replay the same
    hash), no plane matrix to store. Computed on the driver: the sign
    matrix is constant per (plane, dim), so it enters plans as literals
    instead of planes×dims md5 calls on EVERY row (512/row at 8×64)."""
    import hashlib

    h = int(hashlib.md5(f"{plane},{dim_index}".encode()).hexdigest()[:15], 16)
    return 1.0 if h % 2 == 0 else -1.0


def hyperplane_lsh_buckets(
    df: DataFrame,
    planes: int = 8,
    key: str = "vec_id",
    vec: str = "embedding",
    plane_offset: int = 0,
    *,
    dim: int,
) -> DataFrame:
    """SimHash bucket id per vector: bit_j = [⟨v, h_{offset+j}⟩ > 0],
    bucket = Σ bit_j·2^j. One projection per plane via array folds — no
    shuffle. ``plane_offset`` selects an independent plane set, which is
    how multi-table LSH derives its tables; ``dim`` sizes the literal
    sign matrix (no per-row hashing)."""
    v = _as_double(F.col(vec))
    return df.select(
        F.col(key), F.col(vec), _bucket_expr(v, planes, plane_offset, dim).alias("bucket")
    )


def _bucket_expr(v: Column, planes: int, plane_offset: int, dim: int) -> Column:
    """bucket = Σ_j [⟨v, signs_j⟩ > 0]·2^j over the planes×dim sign
    literal (_sign_rows_sql). ONE expression tree regardless of
    ``planes``: projections via a transform over the sign matrix, bit
    weights via a zip_with against a literal weight array. A per-plane
    Python loop builds ``planes`` separate aggregate trees (and
    multi-table, tables× that): Catalyst ANALYSIS of those trees — not
    execution — dominated q_ann_neardup_lsh (measured 1.6 s analyze vs
    0.4 s execute per evaluation at sf0.1), the same >1k-node-tree
    pathology _cell_scores documents for IVF centroids."""
    sign_rows = F.expr(_sign_rows_sql(planes, plane_offset, dim))
    weights = F.lit([1 << j for j in range(planes)]).cast("array<bigint>")
    projs = F.transform(
        sign_rows,
        lambda srow: F.aggregate(
            F.zip_with(v, srow, lambda x, s: x * s),
            F.lit(0.0).cast("double"),
            lambda a, x: a + x,
        ),
    )
    return F.aggregate(
        F.zip_with(
            projs,
            weights,
            lambda p, w: F.when(p > 0, w).otherwise(F.lit(0).cast("bigint")),
        ),
        F.lit(0).cast("bigint"),
        lambda a, x: a + x,
    )


def _sign_rows_sql(planes: int, plane_offset: int, dim: int) -> str:
    """planes×dim ±1 sign matrix as a SQL array literal STRING. Built as
    text and parsed with one F.expr call because PySpark's F.lit on a
    (nested) list issues one Py4J round trip per element — measured
    0.78 s of pure Python-side construction for a 36×64 tensor vs
    0.06 s for parsing the equivalent SQL string."""
    rows = ",".join(
        "array(" + ",".join(
            "1.0D" if _sign_value(plane_offset + j, d) > 0 else "-1.0D" for d in range(dim)
        ) + ")"
        for j in range(planes)
    )
    return f"array({rows})"


def _flat_dot_sql(a: str, b: str, dim: int) -> str:
    """⟨a, b⟩ as flat codegen'd SQL when both arrays have exactly
    ``dim`` elements, falling back to the interpreted aggregate fold
    (byte-identical semantics to operators.similarity.dot) otherwise —
    so candidate-pair re-ranks pay codegen arithmetic instead of
    ~µs-per-element lambda evaluation on the pair-grain hot path, with
    NO behavior change on malformed lengths. Same left-associated fold
    order as dot(): every double is bit-identical."""
    flat = "0.0D" + "".join(f" + `{a}`[{d}] * `{b}`[{d}]" for d in range(dim))
    fallback = (
        f"aggregate(zip_with(`{a}`, `{b}`, (x, y) -> x * y), "
        "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )
    return (
        f"IF(size(`{a}`) = {dim} AND size(`{b}`) = {dim}, {flat}, {fallback})"
    )


def _multi_table_lsh_buckets_arrow(
    df: DataFrame, planes: int, tables: int, key: str, vec: str, dim: int
) -> DataFrame:
    """Arrow/numpy bucket pass (guide §4.2: batch-grain native compute):
    each partition's vectors stream through mapInPandas; the
    (tables·planes)×dim ±1 sign matrix is a closed-over numpy constant;
    projections accumulate SEQUENTIALLY over the dim axis (vectorized
    across rows and planes), so every partial sum is the same IEEE
    float64 add chain as the interpreted zip_with/aggregate fold of
    hyperplane_lsh_buckets — bit-identical buckets (pinned in
    tests/test_similarity.py).
    Rows whose vector is NULL or whose length ≠ dim get bucket 0 in
    every table, exactly what the null-poisoned JVM fold produces.
    Plan is constant-size (no Catalyst analysis growth, no codegen
    limits); the cost is one Arrow round-trip of (key, vec)."""
    import numpy as np

    signs = np.array(
        [[_sign_value(p, d) for d in range(dim)] for p in range(planes * tables)],
        dtype=np.float64,
    )  # row p = plane p; table t owns planes [t*planes, (t+1)*planes)
    n_tables, n_planes = tables, planes
    weights = (np.int64(1) << np.arange(n_planes, dtype=np.int64))
    key_t = dict(df.dtypes)[key]
    vec_t = dict(df.dtypes)[vec]
    out_schema = f"`{key}` {key_t}, `{vec}` {vec_t}, `table` int, `bucket` bigint"

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            vs = pdf[vec]
            lens = np.fromiter(
                ((-1 if x is None else len(x)) for x in vs), dtype=np.int64, count=n
            )
            good = lens == dim
            buckets = np.zeros((n, n_tables), dtype=np.int64)
            if good.any():
                V = np.stack([np.asarray(x, dtype=np.float64) for x in vs[good]])
                acc = np.zeros((V.shape[0], n_planes * n_tables), dtype=np.float64)
                for d in range(dim):  # sequential over dims = the exact fold order
                    acc += V[:, d : d + 1] * signs[:, d]
                bits = acc > 0.0
                buckets[good] = (
                    bits.reshape(-1, n_tables, n_planes) * weights
                ).sum(axis=2)
            idx = np.repeat(np.arange(n), n_tables)
            yield pd.DataFrame(
                {
                    key: pdf[key].to_numpy()[idx],
                    vec: vs.to_numpy()[idx],
                    "table": np.tile(np.arange(n_tables, dtype=np.int32), n),
                    "bucket": buckets.reshape(-1),
                }
            )

    return df.select(F.col(key), F.col(vec)).mapInPandas(gen, out_schema)


def multi_table_lsh_buckets(
    df: DataFrame,
    planes: int = 4,
    tables: int = 8,
    key: str = "vec_id",
    vec: str = "embedding",
    *,
    dim: int,
) -> DataFrame:
    """Multi-table LSH: ``tables`` independent bucketings (disjoint plane
    sets via plane_offset), long form (key, vec, table, bucket). Recall
    for neighbors at angle θ is 1-(1-p^planes)^tables with p = 1-θ/π —
    tables buy recall, planes buy precision (smaller candidate sets).
    One scan, no shuffle.

    The projections run in the Arrow/numpy shape
    (_multi_table_lsh_buckets_arrow). Two interpreted shapes were
    measured against it and deleted (LSH_SHAPE_AB_r10.json): one
    transform over a tables×planes×dim sign literal, and one flat SQL
    column per projection. At the 20k-vector rung (9 planes × 36
    tables, min-of-3) construction took 0.63 / 5.31 / 0.07 s and
    execution 2.88 / 4.33 / 1.12 s (transform / flat / Arrow): the
    Arrow plan is constant-size and numpy runs the projections at batch
    grain, while the flat tree pays Catalyst and codegen per action.
    Buckets equal ``tables`` runs of hyperplane_lsh_buckets with
    ``plane_offset=t*planes`` (tests pin this)."""
    return _multi_table_lsh_buckets_arrow(df, planes, tables, key, vec, dim)


def ann_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    planes: int = 4,
    tables: int = 8,
    key: str = "vec_id",
    vec: str = "embedding",
    *,
    dim: int,
) -> DataFrame:
    """Approximate top-k: candidates share any LSH table bucket with the
    query; exact cosine re-ranks the (deduped) candidates. Recall < 1 by
    construction — tests measure it against cosine_topk.

    Scale shape: the bucket join is an equi-join on (table, bucket) — at
    100 TB this replaces the full corpus × queries scan; the per-bucket
    candidate lists bound the work, and hot buckets (degenerate vectors)
    can be capped before the join the same way ngram_jaccard_pairs drops
    hot shingles."""
    # NOTE: this site keeps per-pair cosine() deliberately — the
    # candidate volume is bounded by the (small) query batch, while the
    # corpus side is exploded ``tables``× by the banding, so hoisting
    # norms to the bucketed side COSTS more folds than it saves
    # (measured 1.53 → 1.77 s at sf0.1, reverted; contrast
    # embedding_neardup_pairs_lsh, whose candidates are corpus×corpus).
    scored = _lsh_pairs(corpus, queries, planes, tables, key, vec, dim).select(
        "query_id", "neighbor_id", cosine(F.col("__qv"), F.col("__cv")).alias("__cos")
    )
    return _ranked(scored, k, "__cos", desc=True, out="cosine")


#: Bounded training-sample cap: at most this many vectors per centroid
#: reach the driver-side Lloyd loop — the faiss IVF guideline (39-256
#: points per centroid suffice for a usable partition of space).
_TRAIN_PER_CENTROID = 256


def _train_sample(df: DataFrame, nclusters: int, key: str, vec: str):
    """The bounded training sample of a driver-side quantizer: at most
    ``_TRAIN_PER_CENTROID × nclusters`` vectors, chosen by a
    deterministic hash-order top-k with a key tie-break (one TakeOrdered
    job, never a full sort), returned key-sorted as a float64 matrix —
    None when ``df`` has no vectors. Quantizer quality needs a bounded
    sample, not the corpus (the faiss IVF/PQ training shape), so
    training is ONE bounded job instead of 1+iters distributed
    aggregate jobs, whose per-job plan compile dominated at small SF
    (measured 4.3 s for 550 vectors, nlist=16 — pure overhead)."""
    import numpy as np

    proj = df.select(F.col(key).alias("__k"), _as_double(F.col(vec)).alias("__vv")).filter(
        F.col("__vv").isNotNull()
    )
    rows = (
        proj.orderBy(F.xxhash64(F.col("__k")), F.col("__k"))
        .limit(_TRAIN_PER_CENTROID * nclusters)
        .collect()
    )
    if not rows:
        return None
    rows.sort(key=lambda r: r["__k"])  # collect order is not a contract
    return np.array([r["__vv"] for r in rows], dtype=np.float64)


def _lloyd(V, nclusters: int, iters: int, dim: int) -> list[tuple[int, list[float]]]:
    """Seeded Lloyd k-means over the rows of ``V`` in numpy, returning
    (centroid_id, centroid) rows id-sorted. The seed is the
    deterministic hyperplane-LSH bucketing over ``dim`` components —
    log2(nclusters) md5 sign planes (_sign_value), bit_j = proj_j > 0,
    bucket = Σ bit_j·2^j, the numpy twin of _bucket_expr — then
    ``iters`` assign/mean steps. No RNG, float64: same rows in, same
    centroids out, on every run and partitioning. Empty seed buckets
    simply yield fewer than ``nclusters`` centroids."""
    import math

    import numpy as np

    planes = max(1, math.ceil(math.log2(max(nclusters, 2))))
    signs = np.array(
        [[_sign_value(j, t) for t in range(dim)] for j in range(planes)], dtype=np.float64
    )
    assign = (((V @ signs.T) > 0.0).astype(np.int64) << np.arange(planes)).sum(axis=1)

    def _means(a):
        return [(int(c), V[a == c].mean(axis=0)) for c in np.unique(a)]

    cents = _means(assign)
    for _ in range(iters):
        C = np.stack([c for _, c in cents])
        ids = np.array([cid for cid, _ in cents])
        d2 = ((V[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        # argmin ties resolve to the FIRST (= lowest centroid id, cents
        # are id-sorted) — same tie-break as array_min over struct(d,cid)
        assign = ids[np.argmin(d2, axis=1)]
        cents = _means(assign)
    return [(int(c), [float(x) for x in m]) for c, m in cents]


def _kmeans_rows(
    df: DataFrame,
    nlist: int,
    iters: int,
    key: str,
    vec: str,
    dim: int | None,
) -> list[tuple[int, list[float]]]:
    """The IVF coarse quantizer: deterministic k-means centroids as
    plain (centroid_id, centroid) rows (nlist×dim doubles ≈ KBs at any
    scale), trained driver-side (_lloyd) on the bounded sample
    (_train_sample). Assignment of the full corpus stays distributed via
    centroid-literal projections (_cell_scores). ``dim`` defaults to the
    sampled vectors' width."""
    V = _train_sample(df, nlist, key, vec)
    if V is None:
        return []
    return _lloyd(V, nlist, iters, dim if dim is not None else V.shape[1])


def _l2sq(v: Column, c: Column) -> Column:
    return F.aggregate(
        F.zip_with(v, c, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )


def _cell_scores(v: Column, cents: list[tuple[int, list[float]]]) -> Column:
    """array<struct<d,cid>> of squared-L2 distances from ``v`` to every
    centroid. The centroid matrix and id list are each ONE nested-array
    Literal node (not nlist×dim scalar literals): with per-element
    literals, Catalyst analysis + codegen over the >1k-node tree was the
    dominant cost of the whole IVF query at small SF, and the distance
    expression appears once via zip_with, not nlist times. Struct field
    order of the result (d first, cid second) makes array_min/array_sort
    rank by distance with centroid_id as the deterministic tie-break."""
    # One F.expr parse instead of nlist×dim F.lit Py4J round trips (same
    # construction-cost fix as _sign_rows_sql; repr() round-trips doubles
    # exactly through Spark's literal parser). Measured ~0.35 s saved per
    # _cell_scores site — and IVF builds one per Lloyd step, one for the
    # corpus assignment, one for query probing.
    cvecs = F.expr(
        "array("
        + ",".join(
            "array(" + ",".join(f"{float(x)!r}D" for x in cvec) + ")" for _, cvec in cents
        )
        + ")"
    )
    cids = F.lit([int(cid) for cid, _ in cents]).cast("array<bigint>")
    return F.zip_with(
        cvecs, cids, lambda c, cid: F.struct(_l2sq(v, c).alias("d"), cid.alias("cid"))
    )


def _nearest_cell(v: Column, cents: list[tuple[int, list[float]]]) -> Column:
    return F.array_min(_cell_scores(v, cents))["cid"]


def _probe_cells(v: Column, cents: list[tuple[int, list[float]]], nprobe: int) -> Column:
    """The nprobe nearest centroid ids, as an array — pure projection."""
    return F.transform(
        F.slice(F.array_sort(_cell_scores(v, cents)), 1, nprobe), lambda s: s["cid"]
    )


def _assign_cells_arrow(
    df: DataFrame,
    key: str,
    vec: str,
    cents: list[tuple[int, list[float]]],
    nprobe: int,
) -> DataFrame:
    """(key, __v, __cells): each row's double vector plus its ``nprobe``
    nearest centroid ids — the Arrow/numpy twin of
    ``df.select(key, v, _probe_cells(v, cents, nprobe))`` for the
    n-grain assignment pass (round 10, VERDICT r9 #5; same rationale and
    same bit-exactness discipline as _multi_table_lsh_buckets_arrow):
    squared-L2 accumulates SEQUENTIALLY over the dim axis (vectorized
    across rows and centroids), so every distance is the same IEEE
    float64 chain as the interpreted zip_with fold in _l2sq, and the
    probe order is lexsort by (distance, centroid id) — exactly
    array_sort over struct(d, cid) including exact-tie and NaN cases
    (pinned in tests/test_similarity.py). Rows whose vector is NULL or
    whose length ≠ the centroid dim get the first ``nprobe`` centroid
    ids in id order — the all-null-distance ordering the JVM fold
    produces."""
    import numpy as np

    # Id order is what makes the stable argsort below break ties like the
    # JVM probe; callers may pass centroids in any order.
    cents = sorted(cents, key=lambda c: c[0])
    cids_sorted = [int(c) for c, _ in cents]
    C = np.array([cv for _, cv in cents], dtype=np.float64)  # (nlist, dim)
    cdim = C.shape[1] if len(cents) else 0
    nprobe = min(nprobe, len(cents))
    fallback = cids_sorted[:nprobe]
    cids_np = np.array(cids_sorted, dtype=np.int64)
    key_t = dict(df.dtypes)[key]
    out_schema = f"`{key}` {key_t}, `__v` array<double>, `__cells` array<bigint>"
    v = _as_double(F.col(vec))

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            vs = pdf["__v"]
            lens = np.fromiter(
                ((-1 if x is None else len(x)) for x in vs), dtype=np.int64, count=n
            )
            good = lens == cdim
            cells = [fallback] * n
            if good.any():
                V = np.stack([np.asarray(x, dtype=np.float64) for x in vs[good]])
                acc = np.zeros((V.shape[0], len(cents)), dtype=np.float64)
                for d in range(cdim):  # sequential over dims = the exact fold order
                    diff = V[:, d : d + 1] - C[:, d]
                    acc += diff * diff
                # columns are centroid-id-ASCENDING (cents id-sorted), so a
                # STABLE argsort over the distance row == lexicographic
                # (d, cid) — exact ties and NaN rows resolve to the lower
                # cid, matching array_sort over struct(d, cid).
                order = np.argsort(acc, axis=1, kind="stable")[:, :nprobe]
                picked = cids_np[order]
                for row_i, row_cells in zip(np.flatnonzero(good), picked):
                    cells[row_i] = row_cells.tolist()
            yield pd.DataFrame({key: pdf[key], "__v": vs, "__cells": cells})

    return df.select(F.col(key), v.alias("__v")).mapInPandas(gen, out_schema)


def ivf_index(
    corpus: DataFrame,
    nlist: int = 16,
    iters: int = 2,
    key: str = "vec_id",
    vec: str = "embedding",
    dim: int | None = None,
) -> tuple[list[tuple[int, list[float]]], DataFrame]:
    """Build the IVF index once: (centroid rows, cell-assigned corpus).
    The assignment DataFrame is what you persist at scale —
    ``write.partitionBy('centroid_id')`` turns every later search's
    candidate join into a partition-pruned read of nprobe cells. Reuse
    across query batches amortizes the k-means passes to zero."""
    cents = _kmeans_rows(corpus, nlist=nlist, iters=iters, key=key, vec=vec, dim=dim)
    cv = _as_double(F.col(vec))
    assigned = corpus.select(
        F.col(key).alias("neighbor_id"),
        cv.alias("__cv"),
        _nearest_cell(cv, cents).alias("centroid_id"),
    )
    return cents, assigned


def ivf_search(
    index: tuple[list[tuple[int, list[float]]], DataFrame],
    queries: DataFrame,
    k: int = 3,
    nprobe: int = 4,
    key: str = "vec_id",
    vec: str = "embedding",
    static_cell_pruning: bool = False,
) -> DataFrame:
    """Search a prebuilt IVF index: probe nprobe cells per query (pure
    projection), equi-join candidates on centroid_id, exact-cosine
    re-rank. See ivf_topk for the one-shot convenience form.

    ``static_cell_pruning``: collect the probed-cell union (≤ nlist ids;
    the query batch is small by contract) and push it as a literal IN
    filter on the corpus side. Against a persisted partitionBy(centroid_id)
    layout (read_ivfpq_index's encoded corpus, as q_ann_ivf_search reads
    it) this becomes a parquet PartitionFilter — the scan physically
    reads only the probed cells' directories instead of relying on
    runtime DPP."""
    cents, corpus_cells = index
    # norms once per assignment row / probe row, never per candidate
    # pair (see _normed). The query side stays one projection with the
    # explode: _normed's two-step form moves the norm below the Generate,
    # and the changed size estimate flips the corpus side to the
    # broadcast side of the candidate join.
    corpus_cells = corpus_cells.withColumn("__cn", norm(F.col("__cv")))
    qv = _as_double(F.col(vec))
    query_probes = queries.select(
        F.col(key).alias("query_id"),
        qv.alias("__qv"),
        norm(qv).alias("__qn"),
        F.explode(_probe_cells(qv, cents, nprobe)).alias("centroid_id"),
    )
    if static_cell_pruning:
        probed = sorted(
            r["centroid_id"] for r in query_probes.select("centroid_id").distinct().collect()
        )
        corpus_cells = corpus_cells.filter(F.col("centroid_id").isin(probed))
    scored = (
        corpus_cells.join(query_probes, on="centroid_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", _normed_cosine("q", "c").alias("__cos"))
    )
    return _ranked(scored, k, "__cos", desc=True, out="cosine")


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    nlist: int = 16,
    nprobe: int = 4,
    iters: int = 2,
    key: str = "vec_id",
    vec: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """IVF approximate top-k (the FAISS IndexIVFFlat shape, Spark-first):
    the corpus is partitioned into nlist Voronoi cells by the k-means
    coarse quantizer; each query probes its nprobe nearest cells and
    re-ranks candidates with exact cosine.

    With nprobe == nlist every cell is probed, so the result equals
    cosine_topk exactly — the property the test suite pins.

    Scale shape: cell assignment (corpus side) and cell probing (query
    side) are both pure projections — the nlist×dim centroid table is
    embedded as literal arrays (_cell_scores), so neither side shuffles
    or joins to find its cells. The ONLY shuffles are the candidate
    equi-join on centroid_id and the final top-k window; per-query work
    is nprobe/nlist of the corpus instead of all of it. At 100 TB the
    corpus-side assignment persists as a partitioned-by-cell table,
    amortized across query batches. Skewed cells (dense regions) are the
    hot-bucket analog — cap or re-split them by adding planes locally."""
    index = ivf_index(corpus, nlist=nlist, iters=iters, key=key, vec=vec, dim=dim)
    return ivf_search(index, queries, k=k, nprobe=nprobe, key=key, vec=vec)


def cosine_topk_arrow(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    key: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """Exact top-k via Arrow-batched numpy matmul — the BLAS path.

    Same semantics as cosine_topk; different physical strategy: the
    (small) query matrix is L2-normalized on the driver and closed over;
    each corpus partition streams through mapInPandas, computes one
    (batch × queries) GEMM, and emits only its LOCAL top-k rows per
    query; a final window re-ranks the ≤ k×partitions candidates
    globally. Python sees (key, vec) pairs only, k rows per query per
    partition cross back — the shuffle is O(k·queries·partitions), not
    O(corpus).

    When to prefer which: the zip_with/aggregate fold (cosine_topk)
    keeps everything JVM-side but evaluates an interpreted higher-order
    expression per pair; one GEMM amortizes to ~1 FLOP/element. At 64
    dims the JVM path wins on fixture sizes; at production embedding
    widths (512-4096) and corpus scale, BLAS wins decisively — measure,
    don't guess (tests pin result equality so either can swap in)."""
    import numpy as np
    import pandas as pd

    qrows = queries.select(key, vec).collect()
    qids = np.array([r[key] for r in qrows], dtype=np.int64)
    qm = np.asarray([list(r[vec]) for r in qrows], dtype=np.float64)
    if len(qids):  # an empty batch is a shape-(0,) array: nothing to normalize
        qm = qm / np.linalg.norm(qm, axis=1, keepdims=True)

    out_schema = (
        "query_id bigint, neighbor_id bigint, cosine_full double"
    )

    def score(batches):
        for pdf in batches:
            if pdf.empty or not len(qids):
                continue
            ids = pdf["__id"].to_numpy(dtype=np.int64)
            cm = np.asarray([list(v) for v in pdf["__v"]], dtype=np.float64)
            cm = cm / np.linalg.norm(cm, axis=1, keepdims=True)
            sims = cm @ qm.T  # (batch, queries)
            parts = []
            for j, qid in enumerate(qids):
                s = sims[:, j]
                mask = ids != qid  # self-exclusion
                order = np.lexsort((ids[mask], -s[mask]))[:k]  # cos desc, id asc
                parts.append(
                    pd.DataFrame(
                        {
                            "query_id": qid,
                            "neighbor_id": ids[mask][order],
                            "cosine_full": s[mask][order],
                        }
                    )
                )
            if parts:
                yield pd.concat(parts, ignore_index=True)

    local = corpus.select(
        F.col(key).alias("__id"), _as_double(F.col(vec)).alias("__v")
    ).mapInPandas(score, out_schema)
    return _ranked(local, k, "cosine_full", desc=True, out="cosine")


def label_centroids(
    df: DataFrame, label: str = "label", vec: str = "embedding"
) -> DataFrame:
    """Per-label element-wise embedding mean in LONG form
    (label, dim, n_vecs, mean) — class centroids for nearest-class-mean
    classification, cluster diagnostics, and coarse-quantizer seeding
    (the distributed twin of the per-cell means _lloyd keeps
    driver-side for IVF's nlist×dim KBs).

    Scale shape: posexplode fans each vector into (label, dim, x) rows,
    map-side partial aggregation collapses every partition to
    |labels|×dim sums before the single exchange — the corpus's float
    payload never shuffles. Sums run in exact DECIMAL then cast to
    DOUBLE so the result is associativity-proof (bit-stable on any
    partitioning / any engine); long form keeps gate output scalar."""
    pos = df.select(
        F.col(label), F.posexplode(_as_double(F.col(vec))).alias("dim", "x")
    )
    n = F.count(F.lit(1))
    return pos.groupBy(label, "dim").agg(
        n.alias("n_vecs"),
        F.round(
            F.sum(F.col("x").cast("decimal(30,10)")).cast("double") / n, 6
        ).alias("mean"),
    ).select(F.col(label), F.col("dim").cast("long").alias("dim"), "n_vecs", "mean")


def embedding_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.4,
    key: str = "vec_id",
    vec: str = "embedding",
    baseline_cap: int | None = 100_000,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine ≥ threshold. Exact
    (all-pairs) form — O(n²), the oracle/recall baseline ONLY; the
    registered scale path is embedding_neardup_pairs_lsh.

    ``baseline_cap`` makes the baseline-only contract executable: a
    corpus above the cap raises instead of launching the quadratic
    self-join (pass None to opt in deliberately, e.g. for a one-off
    recall audit on a sampled slice)."""
    _guard_size(
        df,
        baseline_cap,
        "embedding_neardup_pairs corpus",
        "the O(n²) all-pairs oracle baseline (use "
        "embedding_neardup_pairs_lsh at scale)",
    )
    a = _normed(df, "d1", "1", key, vec)
    b = _normed(df, "d2", "2", key, vec)
    return (
        a.join(b, F.col("d1") < F.col("d2"))
        .select("d1", "d2", _normed_cosine("1", "2").alias("__cos"))
        .filter(F.col("__cos") >= threshold)
        .select("d1", "d2", F.round("__cos", 4).alias("cosine"))
    )


def auto_banding(
    n: int,
    target_bucket: int = 64,
    base_planes: int = 3,
    base_tables: int = 12,
    tables_per_extra_plane: int = 4,
) -> tuple[int, int]:
    """Plane/table counts that keep LSH banding sub-quadratic as the
    corpus grows. Expected bucket size is B ≈ n/2^planes and candidate
    volume is tables·(buckets·B²/2) ≈ tables·n·B/2 — so with FIXED
    planes, B grows linearly in n and the "scale path" silently becomes
    all-pairs (measured at 10× the tuning corpus: nearly every pair
    collides in some table). planes must track log2(n/target_bucket);
    each added plane cuts per-table match probability by p (≈0.85+ for
    dedup-grade cosine ≥0.9 pairs), so tables grows with planes to hold
    recall ≈ 1-(1-p^planes)^tables. At the base corpus size this
    returns exactly (base_planes, base_tables) — existing tunings and
    oracle rows are unchanged there."""
    import math

    planes = max(base_planes, math.ceil(math.log2(max(n, 1) / target_bucket)))
    tables = base_tables + tables_per_extra_plane * (planes - base_planes)
    return planes, tables


def embedding_lsh_candidates(
    df: DataFrame,
    planes: int = 4,
    tables: int = 8,
    key: str = "vec_id",
    vec: str = "embedding",
    *,
    dim: int,
    max_bucket_size: int | None = None,
    max_bucket_factor: float | None = 8.0,
) -> DataFrame:
    """Candidate (d1, d2) id pairs sharing any LSH table bucket — the
    pre-re-rank stage of embedding_neardup_pairs_lsh, exposed so the
    scale ladder (tests/test_scale.py, SCALE.md) can measure candidate
    VOLUME directly: this count is exactly the quantity auto_banding
    exists to keep sub-quadratic."""
    # ids-only bucket table, persisted: the plan below reads it three
    # times (bucket sizing, both sides of the candidate self-join), and
    # each read would re-evaluate tables×planes projections over the full
    # corpus. The cached form is (table, bucket, key) — KBs per million
    # vectors, never the embedding column — and LRU eviction bounds the
    # footprint across repeated calls.
    from c_tran_data_pipeline_spark.session import persist_once
    from c_tran_data_pipeline_spark.sources.readers import spread

    # spread BEFORE the projection pass: a single-row-group input (the
    # fixture shape) would run the tables×planes interpreted projections
    # on one core (interleaved min-of-3 at sf0.1: 1.7 s -> 0.7 s); at
    # scale inputs are many-row-group and spread is a no-op. Scoped HERE
    # — not at the caller — so the exact-cosine re-rank branches keep
    # reading the parquet scan directly instead of paying the
    # repartition per branch; the persist below amortizes the shuffle.
    b = persist_once(
        multi_table_lsh_buckets(spread(df), planes, tables, key, vec, dim=dim).select(
            "table", "bucket", key
        )
    )
    if max_bucket_size is not None or max_bucket_factor is not None:
        sizes = b.groupBy("table", "bucket").agg(F.count(F.lit(1)).alias("__bsz"))
        keep_pred = F.lit(True)
        if max_bucket_size is not None:
            keep_pred = keep_pred & (F.col("__bsz") <= max_bucket_size)
        if max_bucket_factor is not None:
            # mean over (table, bucket) cells ≈ n/2^planes for sane data;
            # partial-agg the scalar and broadcast it back — a global
            # window here would single-partition the sizes table (Catalyst
            # folds a literal partition key away)
            sizes = sizes.crossJoin(
                F.broadcast(sizes.agg(F.avg("__bsz").alias("__avg")))
            )
            keep_pred = keep_pred & (F.col("__bsz") <= max_bucket_factor * F.col("__avg"))
        keep = sizes.filter(keep_pred).select("table", "bucket")
        b = b.join(F.broadcast(keep), on=["table", "bucket"])
    # Candidate generation carries IDS ONLY — the bucket self-join can emit
    # tables × B²/2 rows, and shuffling two dim-wide vectors per row was a
    # measured 4× slowdown. Vectors re-attach AFTER the pair dedup; the
    # re-rank set is far smaller than the raw candidate stream.
    left = b.select("table", "bucket", F.col(key).alias("d1"))
    right = b.select("table", "bucket", F.col(key).alias("d2"))
    return (
        left.join(right, on=["table", "bucket"])
        .filter(F.col("d1") < F.col("d2"))
        .select("d1", "d2")
        .dropDuplicates(["d1", "d2"])  # union across tables
    )


def embedding_neardup_pairs_lsh(
    df: DataFrame,
    threshold: float = 0.4,
    planes: int = 4,
    tables: int = 8,
    key: str = "vec_id",
    vec: str = "embedding",
    *,
    dim: int,
    max_bucket_size: int | None = None,
    max_bucket_factor: float | None = 8.0,
) -> DataFrame:
    """Scalable embedding near-dup: candidate pairs share any LSH table
    bucket (equi-join on (table, bucket) — never all-pairs), exact cosine
    re-ranks, keep pairs ≥ threshold. Same banding shape as ann_lsh_topk.

    Recall is probabilistic (tests measure ≥0.9 vs the exact pairs);
    precision is exact — every emitted pair is re-scored with the true
    cosine, so false bucket collisions cost compute, never correctness.

    Sizing at scale: expected bucket size is n/2^planes, and candidate
    volume grows as tables × n²/2^planes — so ``planes`` must grow
    ~log2(n/target_bucket) with corpus size (and ``tables`` with it to
    hold recall: recall ≈ 1-(1-p^planes)^tables). The 3×12 default is
    tuned for the fixture corpus sizes (measured recall 0.985-0.992).

    Hot-bucket guard — the embedding-space twin of ngram_jaccard_pairs'
    max_shingle_df (a bucket of size B emits B²/2 candidates, so one
    degenerate bucket is the whole quadratic risk):

    - ``max_bucket_factor`` (default, scale-safe) drops buckets larger
      than factor × the MEAN bucket size, so the cap tracks corpus size
      and only degenerate spikes (e.g. near-zero vectors, which share
      every table's bucket) are dropped. An absolute cap does NOT scale:
      capping at 200 on a 2000-vector corpus whose expected bucket is
      250 dropped 89/96 buckets and collapsed recall to 0.125.
    - ``max_bucket_size`` (absolute) remains for explicit bounds."""
    pairs = embedding_lsh_candidates(
        df,
        planes=planes,
        tables=tables,
        key=key,
        vec=vec,
        dim=dim,
        max_bucket_size=max_bucket_size,
        max_bucket_factor=max_bucket_factor,
    )
    # Norms are per-VECTOR, not per-pair (_normed: n rows instead of
    # candidate-pair rows, often 100×n or more). The pair-grain dot is
    # flat codegen'd arithmetic (_flat_dot_sql — the interpreted lambda
    # fold was the per-pair hot loop), the same fold order as dot().
    pair_dot = F.expr(_flat_dot_sql("__1v", "__2v", dim))
    return (
        pairs.join(_normed(df, "d1", "1", key, vec), "d1")
        .join(_normed(df, "d2", "2", key, vec), "d2")
        .select("d1", "d2", (pair_dot / (F.col("__1n") * F.col("__2n"))).alias("__cos"))
        .filter(F.col("__cos") >= threshold)
        .select("d1", "d2", F.round("__cos", 4).alias("cosine"))
    )


def semantic_dedup(
    df: DataFrame,
    threshold: float = 0.4,
    nlist: int = 16,
    iters: int = 2,
    key: str = "vec_id",
    vec: str = "embedding",
    dim: int | None = None,
    nprobe: int = 2,
    train_df: DataFrame | None = None,
    centroids: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the
    embedding space with the deterministic IVF k-means, generate
    candidate pairs ONLY within a cluster cell, verify by exact cosine
    ≥ threshold, and keep each connected component's min-id
    representative.

    Returns (key, cell, component, keep): component is null for rows
    with no near-dup; ``keep`` marks survivors (the component min, or
    any unclustered row) — downstream filters on it.

    Blocking by VORONOI CELL instead of LSH banding
    (embedding_neardup_pairs_lsh) is the SemDeDup trade: recall loss
    concentrates on pairs straddling a cell boundary, so each vector
    blocks into its ``nprobe`` nearest cells (multi-probe — the standard
    IVF answer; near-identical vectors' probe SETS almost surely
    intersect even at a boundary). Within-cell self-join costs
    Σ occupancy² — hold E[occupancy] constant by growing nlist with the
    corpus (the paper's "K scales with N"); note the centroid-literal
    assignment costs O(nlist·dim) per row, so nlist is a real knob, not
    free. Driver state is the nlist×dim centroid literal plus the
    bounded pair list — never vectors."""
    from pyspark.storagelevel import StorageLevel

    from c_tran_data_pipeline_spark.operators.graph import dedup_clusters

    # Persist the input once: the k-means training iterations, the
    # blocked pair stage, and the final assignment join each evaluate
    # the input lineage otherwise (a union + transform corpus re-ran
    # ~4x in q_semantic_dedup). MEMORY_AND_DISK spills at corpus scale;
    # CacheManager plan-matching also routes a train_df DERIVED from
    # df (deterministic_sample) through the same cache entry.
    # persist_once: repeated invocations (bench median-of-3) would
    # otherwise re-persist the same canonical plan and log a warning.
    from c_tran_data_pipeline_spark.session import persist_once

    df = persist_once(df, StorageLevel.MEMORY_AND_DISK)
    v = _as_double(F.col(vec))
    cents = None
    if nlist <= 1:
        # degenerate single cell = no blocking (exact all-pairs) — the
        # LSH-seeded k-means needs ≥1 plane so can't express one cell;
        # this branch makes nlist=1 the brute-force equivalence anchor
        # the tests pin against.
        probes = F.array(F.lit(0).cast("bigint"))
    else:
        # train-on-sample, assign-full-corpus (pass a deterministic_sample
        # as train_df — the IVF recipe; blocking quality needs a usable
        # partition of space, not centroids fit to every vector).
        # ``centroids`` short-circuits training entirely — the persisted-
        # store path (build_semantic_store / incremental_semantic_dedup)
        # shares ONE centroid table across the base build and every
        # later batch, the invariant incremental == full depends on.
        cents = centroids if centroids is not None else _kmeans_rows(
            train_df if train_df is not None else df,
            nlist=nlist, iters=iters, key=key, vec=vec, dim=dim,
        )
        probes = None
    # ONE assignment pass: the probe computation costs O(nlist·dim) per
    # row, so it must not evaluate twice (once for blocking, once for
    # the output's primary cell). posexplode tags each probe with its
    # rank — pos 0 IS the primary cell, recovered by filter instead of
    # a second centroid-distance evaluation (measured ~0.7 s at sf0.1,
    # nlist=16). Re-landed after 86be68f hardened the planted-twin
    # unions against the Spark 4.1.2 UnionBase.rewriteConstraints bug
    # the first landing tripped. Round 10: the n-grain probe runs in the
    # Arrow/numpy shape (_assign_cells_arrow — bit-identical probe order
    # incl. exact ties, pinned) instead of the interpreted per-centroid
    # zip_with folds, the same trade as the LSH bucket pass.
    if cents is not None:
        cells_frame = _assign_cells_arrow(df, key, vec, cents, min(nprobe, nlist))
    else:
        cells_frame = df.select(F.col(key), v.alias("__v"), probes.alias("__cells"))
    blocked = cells_frame.select(
        F.col(key), "__v", F.posexplode("__cells").alias("__pos", "bcell")
    )
    assigned = blocked.filter(F.col("__pos") == 0).select(
        F.col(key), "__v", F.col("bcell").alias("cell")
    )

    # Pair stage: one numpy GEMM per cell (grouped-map Arrow) instead of
    # a self-join evaluating zip_with/aggregate dots per pair — Spark's
    # higher-order array functions are interpreted, and the measured
    # cost at sf0.1 was ~3.4 s for ~600k candidate dots; the cell-local
    # V·Vᵀ is the q_ann_topk_arrow treatment applied to the blocked
    # self-join. Contract: one cell's rows fit one executor (held by
    # nlist ∝ corpus, the same bound the join shape needed anyway).
    def _cell_pairs(pdf):
        import numpy as np
        import pandas as pd

        ids = pdf[key].to_numpy()
        V = np.stack(pdf["__v"].to_numpy())
        norms = np.sqrt((V * V).sum(axis=1))
        S = (V @ V.T) / np.outer(norms, norms)
        iu, ju = np.triu_indices(len(ids), k=1)
        hit = S[iu, ju] >= threshold
        a_ids, b_ids = ids[iu[hit]], ids[ju[hit]]
        swap = a_ids > b_ids  # canonical d1 < d2 for any orderable key
        return pd.DataFrame(
            {"d1": np.where(swap, b_ids, a_ids), "d2": np.where(swap, a_ids, b_ids)}
        )

    id_type = dict(df.dtypes)[key]
    pairs = (
        blocked.groupBy("bcell")
        .applyInPandas(_cell_pairs, f"d1 {id_type}, d2 {id_type}")
        .distinct()  # a pair sharing several probe cells appears once
    )
    comp = dedup_clusters(pairs)
    return assigned.join(comp, assigned[key] == comp["doc_id"], "left").select(
        F.col(key),
        "cell",
        "component",
        (F.col("component").isNull() | (F.col("component") == F.col(key))).alias("keep"),
    )


# ---------------------------------------------------------------------------
# Persisted SemDeDup store + incremental batch dedup — the shape a 100 TB
# ingest actually runs: train/cluster/dedup the base corpus ONCE, persist
# the centroids and the kept representatives partitioned by cell, then
# dedup each arriving batch in O(new) — assign new vectors to persisted
# cells (no training job on the search path), GEMM only
# new-vs-(new ∪ touched-cell representatives).
# ---------------------------------------------------------------------------


def build_semantic_store(
    df: DataFrame,
    threshold: float = 0.9,
    nlist: int = 16,
    iters: int = 2,
    key: str = "vec_id",
    vec: str = "embedding",
    dim: int | None = None,
    nprobe: int = 2,
    train_df: DataFrame | None = None,
    centroids: list[tuple[int, list[float]]] | None = None,
) -> tuple[DataFrame, list[tuple[int, list[float]]]]:
    """Full-corpus SemDeDup → (representatives, centroid rows): the
    KEEP survivors with their primary cell and double vectors, plus the
    centroid table that produced the cells (KBs of driver state —
    the sidecar payload). Pass ``train_df`` (a deterministic_sample)
    for the train-on-sample IVF recipe; pass ``centroids`` to reuse an
    existing table (rebuilds after a parameter change)."""
    if centroids is None and nlist > 1:
        centroids = _kmeans_rows(
            train_df if train_df is not None else df,
            nlist=nlist, iters=iters, key=key, vec=vec, dim=dim,
        )
    elif centroids is None:
        centroids = []
    flags = semantic_dedup(
        df, threshold=threshold, nlist=nlist, iters=iters, key=key, vec=vec,
        dim=dim, nprobe=nprobe, centroids=centroids if nlist > 1 else None,
    )
    reps = (
        df.select(F.col(key), _as_double(F.col(vec)).alias("embedding"))
        .join(flags.filter(F.col("keep")).select(key, "cell"), key)
        .select(F.col(key).alias("vec_id"), "cell", "embedding")
    )
    return reps, centroids


def _commit_semantic_sidecar(
    path: str, generations: list[str], centroids, meta: dict
) -> None:
    """Atomically publish the store state: readers see the old
    generation list or the new, never a torn one."""
    import json
    import os

    atomic_write(
        os.path.join(path, "_semantic_store.json"),
        json.dumps({"generations": generations, "centroids": centroids, "meta": meta}),
    )


def write_semantic_store(
    reps: DataFrame, centroids: list[tuple[int, list[float]]], path: str, meta: dict | None = None
) -> None:
    """Persist representatives partitioned BY CELL (each batch search
    reads only its probed cells' directories — the write_ivfpq_index
    layout contract, local/DFS filesystem) plus a JSON sidecar holding
    the centroid table and caller metadata. The whole content lands as
    one base GENERATION (``gen-base/cell=*``) and the sidecar is
    written AFTER the parquet as the commit marker: a crash mid-write
    leaves parquet without the sidecar, and read_semantic_store refuses
    it. Ingest growth appends further generations
    (``append_semantic_store``) — O(batch) I/O per batch, the committed
    corpus is never rewritten."""
    import os

    os.makedirs(path, exist_ok=True)
    reps.write.partitionBy("cell").mode("overwrite").parquet(
        os.path.join(path, "gen-base")
    )
    _commit_semantic_sidecar(path, ["gen-base"], centroids, meta or {})


def append_semantic_store(new_reps: DataFrame, path: str, gen: str) -> None:
    """Append a batch's kept representatives as generation ``gen``:
    write the delta (partitioned by cell, so probe-time PartitionFilters
    prune every generation), then bump the sidecar LAST via atomic
    replace — the single commit point. A torn append (crash before the
    bump) leaves an unlisted directory that readers never open and the
    replay reclaims by overwrite; centroids and meta are FROZEN across
    appends (the incremental contract: assignment against persisted
    centroids, zero training jobs). Appending ``gen`` twice is
    idempotent (overwrite + already-listed check)."""
    import os

    rec = read_json(os.path.join(path, "_semantic_store.json"))
    new_reps.write.partitionBy("cell").mode("overwrite").parquet(
        os.path.join(path, gen)
    )
    gens = rec.get("generations", ["gen-base"])
    if gen not in gens:
        _commit_semantic_sidecar(
            path, gens + [gen], rec["centroids"], rec.get("meta", {})
        )


def read_semantic_store(
    spark, path: str, expect_meta: dict | None = None
) -> tuple[DataFrame, list[tuple[int, list[float]]], dict]:
    """Load a persisted store → (representatives, centroids, meta);
    reads ONLY sidecar-listed generations (an unlisted directory is a
    torn append) and raises ValueError on a torn/uncommitted store
    (parquet without sidecar) or a stored meta other than
    ``expect_meta``. Pre-generation stores (sidecar without a
    ``generations`` list, reps at the store root) still read."""
    import os

    rec = read_json(os.path.join(path, "_semantic_store.json"), expect_meta)
    cents = [(int(c), [float(x) for x in v]) for c, v in rec["centroids"]]
    gens = rec.get("generations")
    if gens is None:  # legacy flat layout: reps partitioned at the root
        reps = spark.read.parquet(path)
    else:
        # One partitioned read per generation, unioned: Spark refuses
        # multiple partition-discovery roots in a single load, and a
        # filter over the union still pushes cell PartitionFilters into
        # EVERY branch's scan (pinned in tests/test_semantic_ingest.py).
        from functools import reduce

        reps = reduce(
            DataFrame.unionByName,
            [spark.read.parquet(os.path.join(path, g)) for g in gens],
        )
    return reps, cents, rec.get("meta", {})


def incremental_semantic_dedup(
    new_df: DataFrame,
    reps: DataFrame,
    centroids: list[tuple[int, list[float]]],
    threshold: float = 0.9,
    nprobe: int = 2,
    key: str = "vec_id",
    vec: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """Dedup a NEW batch against a persisted store in O(new):

    1. Assign each new vector to its ``nprobe`` nearest PERSISTED cells
       (centroid literals — zero training jobs, zero store scans).
    2. Collect the touched cell ids (bounded ≤ nlist driver state, the
       probed-cell class) and read ONLY those cells' representatives
       via an ``isin`` literal — a parquet PartitionFilter under the
       write_semantic_store layout.
    3. One GEMM per touched cell over new ∪ that cell's reps, emitting
       only pairs with ≥1 new endpoint (store rows were already deduped
       against each other).
    4. Components over those pairs; a new row keeps iff it has no
       near-dup at all, or it is the min-id member of a component
       containing NO stored representative (a store rep always stays
       the canonical keeper, whatever its id).

    Returns (flags, updated_reps): flags = (key, cell, component, keep)
    for the new batch — same contract as semantic_dedup restricted to
    new rows — and updated_reps = store ∪ kept new rows, the next
    batch's store (append-only growth, the incremental_neardup
    contract). Matches full-corpus semantic_dedup whenever duplicate
    relations don't chain THROUGH a dropped non-representative (the
    planted-twin fixture pins equality; transitive chains are where any
    streaming dedup, including this one, can legitimately differ from a
    batch re-run)."""
    from c_tran_data_pipeline_spark.operators.graph import dedup_clusters

    v = _as_double(F.col(vec))
    nlist = len(centroids)
    if nlist <= 1:
        cells_frame = new_df.select(
            F.col(key), v.alias("__v"),
            F.array(F.lit(0).cast("bigint")).alias("__cells"),
        )
    else:
        # Arrow/numpy probe (bit-identical order, see _assign_cells_arrow)
        cells_frame = _assign_cells_arrow(
            new_df, key, vec, centroids, min(nprobe, nlist)
        )
    assigned = cells_frame.select(
        F.col(key), "__v", F.element_at("__cells", 1).alias("cell"), "__cells"
    )
    blocked_new = assigned.select(
        F.col(key), "__v", F.explode("__cells").alias("bcell"), F.lit(True).alias("__is_new")
    )
    touched = [r["bcell"] for r in blocked_new.select("bcell").distinct().collect()]
    store_slice = (
        reps.filter(F.col("cell").isin(touched))
        .select(
            F.col("vec_id").alias(key),
            F.col("embedding").alias("__v"),
            F.col("cell").alias("bcell"),
            F.lit(False).alias("__is_new"),
        )
    )
    both = blocked_new.unionByName(store_slice)

    def _cell_pairs(pdf):
        import numpy as np
        import pandas as pd

        ids = pdf[key].to_numpy()
        newm = pdf["__is_new"].to_numpy()
        V = np.stack(pdf["__v"].to_numpy())
        norms = np.sqrt((V * V).sum(axis=1))
        S = (V @ V.T) / np.outer(norms, norms)
        iu, ju = np.triu_indices(len(ids), k=1)
        hit = (S[iu, ju] >= threshold) & (newm[iu] | newm[ju])  # ≥1 new endpoint
        a_ids, b_ids = ids[iu[hit]], ids[ju[hit]]
        swap = a_ids > b_ids
        return pd.DataFrame(
            {"d1": np.where(swap, b_ids, a_ids), "d2": np.where(swap, a_ids, b_ids)}
        )

    id_type = dict(new_df.dtypes)[key]
    pairs = (
        both.groupBy("bcell")
        .applyInPandas(_cell_pairs, f"d1 {id_type}, d2 {id_type}")
        .distinct()
    )
    comp = dedup_clusters(pairs)
    # components anchored by a stored representative: every new member
    # drops, regardless of id order
    rep_ids = reps.select(F.col("vec_id").alias("doc_id"))
    anchored = (
        comp.join(rep_ids, "doc_id", "left_semi")
        .select(F.col("component"))
        .distinct()
        .withColumn("__has_rep", F.lit(True))
    )
    flags = (
        assigned.join(comp, assigned[key] == comp["doc_id"], "left")
        .join(F.broadcast(anchored), "component", "left")
        .select(
            F.col(key),
            "cell",
            "component",
            (
                F.col("component").isNull()
                | ((F.col("component") == F.col(key)) & F.col("__has_rep").isNull())
            ).alias("keep"),
        )
    )
    updated = reps.unionByName(
        assigned.join(flags.filter(F.col("keep")).select(key), key)
        .select(F.col(key).alias("vec_id"), "cell", F.col("__v").alias("embedding"))
    )
    return flags, updated
