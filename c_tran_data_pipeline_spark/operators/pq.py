"""Product quantization (PQ) — the compression tier of the standard ANN
stack (FAISS IndexPQ / IVFPQ shape): split the d-dim space into ``m``
subspaces, k-means each subspace to ``ksub`` centroids, and store each
vector as m small codes (m=8, ksub=16 → 8 codes of 4 bits: 64 float32
dims become 4 bytes, a 64× compression — the difference between "the
corpus fits in executor memory" and "it does not" at 100 TB).

Search is ADC (asymmetric distance computation): the QUERY side
precomputes, per query, the m×ksub table of squared L2 distances from
its sub-vectors to every sub-centroid — a projection over the tiny
query batch, with the codebooks embedded as literal expressions (the
same no-join centroid pattern as IVF). The corpus side then scores a
candidate with m table lookups instead of d multiplies. Hoisting the
table before the broadcast join is the entire point of ADC: computed
after the join it would re-evaluate per (query, corpus) pair and the
lookup trick buys nothing.

Each stage exists once: ``_pq_codes`` builds the code column (encode_pq,
encode_ivfpq), ``_adc`` scores a candidate from its codes, and
``_adc_ranked`` is the rank tail — the ADC top-k, or the standard
refine step: an ADC shortlist of k×rerank_factor re-scored by exact L2
on the shortlist only (the full vectors are touched for shortlist rows,
never the whole corpus). ``ivfpq_topk`` is the one-shot composition of
the coarse quantizer, encode_ivfpq and ivfpq_search. The ADC ranking is
approximate, so the registered queries are rows-only; tests pin the
recall floors of both tiers against exact L2 top-k.

Everything is deterministic: codebooks come from the md5-LSH-seeded
k-means (no RNG), encode/ADC are pure expressions — same corpus, same
codes, any engine, any partitioning.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from c_tran_data_pipeline_spark.operators.similarity import (
    _as_double,
    _kmeans_rows,
    _l2sq,
    _lloyd,
    _nearest_cell,
    _probe_cells,
    _ranked,
    _train_sample,
)
from c_tran_data_pipeline_spark.session import atomic_write, read_json

Codebooks = list[list[tuple[int, list[float]]]]


def deterministic_sample(df: DataFrame, mod: int = 4, key: str = "vec_id") -> DataFrame:
    """1/``mod`` training sample, deterministic in the KEY (xxhash64 —
    stable across engines, partitionings and runs, no RNG): the standard
    train-on-sample half of the IVF recipe. Quantizer training only
    needs enough points to place nlist·ksub centroids, so sampling cuts
    the O(iters) training scans to 1/mod of the corpus while assignment
    and encoding still cover every row — at 100 TB this is the
    difference between training touching TBs and training touching
    everything."""
    return df.filter(F.pmod(F.xxhash64(F.col(key)), F.lit(mod)) == 0)


def train_pq(
    df: DataFrame,
    m: int = 8,
    ksub: int = 16,
    dim: int = 64,
    iters: int = 2,
    key: str = "vec_id",
    vec: str = "embedding",
) -> Codebooks:
    """Per-subspace codebooks: subspace j covers dims [j·dsub, (j+1)·dsub).
    Same deterministic recipe as the IVF quantizer (_kmeans_rows): one
    bounded hash-ordered sample of at most ``_TRAIN_PER_CENTROID × ksub``
    full vectors (_train_sample), then the md5-LSH-seeded Lloyd loop
    (_lloyd) once per subspace in numpy on the driver. Codebooks land
    driver-side (m×ksub×dsub floats ≈ KBs at any corpus size) and
    re-enter every downstream plan as literals — encode and search never
    join a centroid table."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m
    V = _train_sample(df, ksub, key, vec)
    if V is None:
        return [[] for _ in range(m)]
    return [_lloyd(V[:, j * dsub : (j + 1) * dsub], ksub, iters, dsub) for j in range(m)]


def _book_lit(book: list[tuple[int, list[float]]]) -> Column:
    """The ksub×dsub sub-centroid matrix as ONE parsed SQL literal,
    ordered by centroid id. Built as text for the same reason as
    similarity._sign_rows_sql: F.lit / F.array per element is a Py4J
    round trip each — a full codebook set is ~1k elements per use, and
    the per-element form put ~5 s of pure driver-side construction +
    Catalyst analysis ahead of every PQ job (measured at sf0.1)."""
    rows = ",".join(
        "array(" + ",".join(f"{x:.17g}D" for x in cent) + ")" for _, cent in sorted(book)
    )
    return F.expr(f"array({rows})")


def _sub_scores(v_sub: Column, book: list[tuple[int, list[float]]]) -> Column:
    """Array of squared L2 distances from one sub-vector to every
    sub-centroid, ordered by centroid id — one transform over the
    single-Literal codebook matrix."""
    return F.transform(_book_lit(book), lambda c: _l2sq(v_sub, c))


def _sub_vectors(v: Column, books: Codebooks) -> list[Column]:
    dsub = len(books[0][0][1])
    return [F.slice(v, j * dsub + 1, dsub) for j in range(len(books))]


def _pq_codes(v: Column, books: Codebooks) -> Column:
    """array<int>: codes[j] = nearest sub-centroid id of v's subspace j.
    Pure projection — literal codebooks, no shuffle, no join; ties break
    to the lowest centroid id (array_position finds the first minimum),
    which keeps codes engine-reproducible."""
    codes = []
    for v_sub, book in zip(_sub_vectors(v, books), books):
        scores = _sub_scores(v_sub, book)
        codes.append((F.array_position(scores, F.array_min(scores)) - 1).cast("int"))
    return F.array(*codes)


def encode_pq(
    df: DataFrame, books: Codebooks, key: str = "vec_id", vec: str = "embedding"
) -> DataFrame:
    """(key, codes array<int>) — _pq_codes over every row."""
    return df.select(F.col(key), _pq_codes(_as_double(F.col(vec)), books).alias("codes"))


def adc_tables(
    queries: DataFrame, books: Codebooks, key: str = "vec_id", vec: str = "embedding"
) -> DataFrame:
    """(query_id, qtab array<double>): the flattened m×ksub ADC lookup
    table, one row per query. qtab[j·ksub + c] = ||q_sub_j − cent_c^j||².
    Computed ONCE per query here, before any join touches the corpus."""
    v = _as_double(F.col(vec))
    return queries.select(
        F.col(key).alias("query_id"),
        F.flatten(
            F.array(*[_sub_scores(v_sub, b) for v_sub, b in zip(_sub_vectors(v, books), books)])
        ).alias("qtab"),
    )


def _adc(books: Codebooks) -> Column:
    """The ADC distance of a (codes, qtab) pair: Σ_j qtab[off_j + codes[j]].
    Per-subspace offsets into the flattened qtab: k-means may return
    fewer than ksub centroids (empty seed clusters), so a fixed stride
    would mis-address every later subspace. Codes are positional per
    subspace; offsets are the prefix sums of each book's actual size."""
    offs = [0]
    for b in books:
        offs.append(offs[-1] + len(b))
    lookups = [
        F.element_at(F.col("qtab"), F.lit(offs[j] + 1) + F.element_at(F.col("codes"), j + 1))
        for j in range(len(books))
    ]
    return sum(lookups[1:], lookups[0])


def _adc_ranked(
    scored: DataFrame,
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    rerank_factor: int,
    key: str,
    vec: str,
) -> DataFrame:
    """The PQ rank tail over (query_id, neighbor_id, __adc) candidates:
    without ``rerank_factor`` the ADC top-k; with it, an ADC shortlist
    of k×rerank_factor re-scored by EXACT squared L2 against the true
    vectors — ``vectors`` is (neighbor_id, __cv), joined for shortlist
    rows only. Returns (query_id, neighbor_id, rank, dist)."""
    if not rerank_factor:
        return _ranked(scored, k, "__adc", desc=False, out="dist")
    shortlist = _ranked(scored, k * rerank_factor, "__adc", desc=False)
    qvs = queries.select(F.col(key).alias("query_id"), _as_double(F.col(vec)).alias("__qv"))
    exact = (
        shortlist.join(vectors, "neighbor_id")
        .join(F.broadcast(qvs), "query_id")
        .select("query_id", "neighbor_id", _l2sq(F.col("__qv"), F.col("__cv")).alias("__d"))
    )
    return _ranked(exact, k, "__d", desc=False, out="dist")


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    books: Codebooks,
    k: int = 3,
    rerank_factor: int = 0,
    key: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """Top-k nearest (squared L2) per query via ADC over PQ codes.
    Physical shape: encoded corpus (m ints/row) ⋈ broadcast query
    tables; score = m array lookups per pair — no float vector is read
    after encoding. With ``rerank_factor`` > 0, an ADC shortlist of
    k×factor re-scores EXACTLY against the true embeddings (joined for
    shortlist rows only) — the standard refine step that buys back
    recall without scanning full vectors corpus-wide.

    Returns (query_id, neighbor_id, rank, dist) — dist is the ADC
    approximation, or the exact distance when re-ranking."""
    codes = encode_pq(corpus, books, key=key, vec=vec).select(
        F.col(key).alias("neighbor_id"), "codes"
    )
    qt = adc_tables(queries, books, key=key, vec=vec)
    scored = codes.join(F.broadcast(qt), F.col("neighbor_id") != F.col("query_id")).select(
        "query_id", "neighbor_id", _adc(books).alias("__adc")
    )
    vectors = corpus.select(F.col(key).alias("neighbor_id"), _as_double(F.col(vec)).alias("__cv"))
    return _adc_ranked(scored, vectors, queries, k, rerank_factor, key, vec)


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    books: Codebooks,
    k: int = 3,
    nlist: int = 16,
    nprobe: int = 4,
    iters: int = 2,
    rerank_factor: int = 8,
    key: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """IVF-PQ search (the FAISS IndexIVFPQ shape — the production ANN
    default): the IVF coarse quantizer prunes the corpus to each query's
    ``nprobe`` nearest cells, ADC over PQ codes ranks candidates INSIDE
    the probed cells with m table lookups per pair, and an exact re-rank
    of the k×``rerank_factor`` shortlist restores precision against true
    vectors. Compute per query = nprobe/nlist of the corpus at PQ-code
    cost, + shortlist·d exact work — the two pruning axes (which rows,
    how many bytes per row) composed.

    The one-shot form: train the coarse quantizer on ``corpus``, encode
    it (encode_ivfpq — one projection, no joins), and search the
    in-memory index with ivfpq_search. Without static cell pruning: the
    encoded corpus is a projection here, not a partitioned layout, so
    the probed-cell collect would be one more job for no scan saved.

    Deterministic end to end (md5-seeded quantizers, lowest-id ties), so
    recall floors vs exact L2 are stable pytest assertions.
    """
    cents = _kmeans_rows(corpus, nlist=nlist, iters=iters, key=key, vec=vec, dim=None)
    index = (cents, books, encode_ivfpq(corpus, cents, books, key=key, vec=vec))
    return ivfpq_search(
        index, queries, k=k, nprobe=nprobe, rerank_factor=rerank_factor,
        key=key, vec=vec, static_cell_pruning=False,
    )


def ivfpq_index(
    corpus: DataFrame,
    m: int = 8,
    ksub: int = 16,
    nlist: int = 16,
    iters: int = 2,
    key: str = "vec_id",
    vec: str = "embedding",
    dim: int | None = None,
    train_df: DataFrame | None = None,
) -> tuple[list[tuple[int, list[float]]], Codebooks, DataFrame]:
    """Build the full IVF-PQ index ONCE: (centroids, codebooks, encoded
    corpus). The encoded DataFrame carries (neighbor_id, codes, __cv,
    centroid_id) — PQ codes for ADC scoring, the true vector for the
    exact re-rank, the cell for partition pruning — so a search never
    touches the raw corpus again.

    This is the amortization point: the one-shot ivfpq_topk trains the
    coarse quantizer on every call and takes its codebooks from the
    caller (fine for a recall audit, wrong for production where one
    index serves thousands of query batches). Build here, persist with
    write_ivfpq_index, and every later ivfpq_search is PQ-code scans
    over nprobe pruned cells — zero training passes.

    ``train_df``: train BOTH quantizers on this frame instead of the
    full corpus (pass ``deterministic_sample(corpus, ...)`` — the
    train-on-sample, assign-full-corpus IVF recipe). Training is the
    only part of the build whose cost scans the corpus O(iters) times,
    so at scale this is the build's dominant lever; assignment and
    encoding below always cover every corpus row regardless."""
    train = train_df if train_df is not None else corpus
    cents = _kmeans_rows(train, nlist=nlist, iters=iters, key=key, vec=vec, dim=dim)
    books = train_pq(train, m=m, ksub=ksub, dim=dim or len(cents[0][1]), iters=iters, key=key, vec=vec)
    encoded = encode_ivfpq(corpus, cents, books, key=key, vec=vec)
    return cents, books, encoded


def encode_ivfpq(
    corpus: DataFrame,
    cents: list[tuple[int, list[float]]],
    books: Codebooks,
    key: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """Encode a batch against FROZEN quantizers — one projection per row
    (centroids/codebooks as literals, no joins, no training jobs):
    (neighbor_id, codes, __cv, centroid_id). This is the shared encode
    of ivfpq_index (full corpus at build), ivfpq_topk (one-shot) and
    ivfpq_append (daily batches) — same expression, so an appended row's
    codes and cell are bit-identical to what a rebuild with the same
    quantizers assigns."""
    cv = _as_double(F.col(vec))
    return corpus.select(
        F.col(key).alias("neighbor_id"),
        _pq_codes(cv, books).alias("codes"),
        cv.alias("__cv"),
        _nearest_cell(cv, cents).alias("centroid_id"),
    )


def write_ivfpq_index(
    index: tuple[list[tuple[int, list[float]]], Codebooks, DataFrame],
    path: str,
    meta: dict | None = None,
) -> None:
    """Persist an IVF-PQ index: encoded corpus partitioned BY CELL (so a
    search's nprobe/nlist pruning happens at the storage layer) plus
    centroids + codebooks as an underscore-prefixed JSON sidecar (Spark
    readers skip ``_`` files). The sidecar is written LAST and doubles
    as the commit marker: a crash mid-write leaves parquet without the
    sidecar, and read_ivfpq_index refuses such a torn index.

    ``meta``: caller metadata (build hyperparameters, source-fixture
    fingerprint) stored in the sidecar under ``"meta"``;
    read_ivfpq_index can validate it so a cached index is never served
    for a different recipe or corpus.

    GENERATION LAYOUT (round 9, for ivfpq_append): the encoded corpus
    lands in ``path/g000000`` and the sidecar records
    ``generations: ["g000000"]`` plus the per-cell row histogram, both
    at build (``base_counts``, the drift baseline) and current
    (``cell_counts``). Readers open ONLY the sidecar-listed generation
    dirs, so an append whose parquet landed but whose sidecar bump
    didn't is invisible — the sidecar stays the single commit marker
    for builds AND appends.

    LOCAL-FILESYSTEM CONTRACT: the sidecar commits through
    ``session.atomic_write``, whose rename is not atomic on HDFS/S3."""
    import json
    import os

    cents, books, encoded = index
    gen0 = "g000000"
    encoded.write.partitionBy("centroid_id").mode("overwrite").parquet(
        os.path.join(path, gen0)
    )
    counts = {
        str(r["centroid_id"]): r["n"]
        for r in encoded.groupBy("centroid_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    sidecar = {
        "centroids": cents,
        "codebooks": books,
        "meta": meta,
        "generations": [gen0],
        "base_counts": counts,
        "cell_counts": counts,
    }
    atomic_write(os.path.join(path, "_ivfpq_meta.json"), json.dumps(sidecar))


def read_ivfpq_index(
    spark, path: str, expect_meta: dict | None = None
) -> tuple[list[tuple[int, list[float]]], Codebooks, DataFrame]:
    """Load a persisted IVF-PQ index; the corpus side is the
    partitioned-by-cell scan, so static cell pruning in ivfpq_search
    becomes a parquet PartitionFilter.

    ``expect_meta``: if given, the sidecar's stored ``meta`` must equal
    it exactly or a ValueError is raised — the guard against serving an
    index built with different hyperparameters or from a different
    corpus than the caller assumes. Same local-filesystem contract as
    write_ivfpq_index (sidecar read via open()).

    Only SIDECAR-LISTED generation dirs are opened (each its own
    partitioned scan, unioned by name — cell pruning still reaches each
    scan as a parquet PartitionFilter), so a torn append — parquet
    written, sidecar bump lost — is simply never read. A sidecar without
    ``generations`` (the flat pre-generation layout) raises ValueError."""
    import os
    from functools import reduce

    meta, cents, books = _read_ivfpq_sidecar(path, expect_meta)
    scans = [spark.read.parquet(os.path.join(path, g)) for g in meta["generations"]]
    return cents, books, reduce(lambda a, b: a.unionByName(b), scans)


def _read_ivfpq_sidecar(
    path: str, expect_meta: dict | None = None
) -> tuple[dict, list[tuple[int, list[float]]], Codebooks]:
    """(sidecar, centroids, codebooks) of a committed index; raises
    FileNotFoundError without a sidecar and ValueError when it is torn,
    its stored ``meta`` differs from ``expect_meta``, or it lists no
    ``generations`` (the flat layout written before the generation
    layout; session.cached_artifact rebuilds on that error)."""
    import os

    meta_path = os.path.join(path, "_ivfpq_meta.json")
    if not os.path.exists(meta_path):
        raise FileNotFoundError(
            f"no committed IVF-PQ index at {path} (missing _ivfpq_meta.json "
            f"sidecar — torn or absent write)"
        )
    meta = read_json(meta_path, expect_meta)
    if not meta.get("generations"):
        raise ValueError(
            f"IVF-PQ index at {path} uses the pre-generation flat layout — "
            f"rebuild it with write_ivfpq_index"
        )
    cents = [(int(cid), [float(x) for x in cvec]) for cid, cvec in meta["centroids"]]
    books: Codebooks = [
        [(int(cid), [float(x) for x in cent]) for cid, cent in book]
        for book in meta["codebooks"]
    ]
    return meta, cents, books


class IndexStaleError(ValueError):
    """Raised by ivfpq_append when the cell-size distribution has
    drifted past the threshold: the frozen coarse quantizer no longer
    balances the corpus, so appending would keep fattening hot cells
    (probe cost grows with the largest probed cell). Retrain + rebuild
    instead of appending."""


def ivfpq_append(
    spark,
    path: str,
    new_vectors: DataFrame,
    key: str = "vec_id",
    vec: str = "embedding",
    drift_factor: float = 4.0,
    expect_meta: dict | None = None,
    allow_stale: bool = False,
) -> dict:
    """Append a batch to a persisted IVF-PQ index with FROZEN quantizers
    (VERDICT r8 #6 — the daily-ingest contract the slice store and
    semantic store already honor): assign each new vector to its
    existing cell, re-encode with the stored codebooks (encode_ivfpq —
    bit-identical to what a rebuild with the same quantizers assigns,
    pinned in tests/test_pq.py), land the batch as a NEW generation dir
    under the partitioned layout, and bump the sidecar LAST — the same
    sidecar-last commit marker as the build, so a crash at any point
    leaves the previous committed index fully intact and the torn
    generation unreferenced (cleaned up by the next successful append).

    STALENESS TRIGGER: the sidecar carries the per-cell histogram at
    build time (``base_counts``) and currently (``cell_counts``). If
    appending this batch would push any cell's growth ratio past
    ``drift_factor`` × the overall corpus growth ratio — i.e. the new
    data concentrates in cells the quantizer sized for far less — the
    append raises IndexStaleError BEFORE writing (``allow_stale=True``
    records the drift in the sidecar and proceeds). Scale rationale:
    search cost per probe is the probed cells' sizes; uniform growth
    keeps nprobe/nlist pruning honest, concentrated growth silently
    degrades toward a flat scan, so drift must be a hard signal, not a
    log line.

    Returns {"generation", "appended", "total", "max_cell_growth",
    "overall_growth", "stale"}."""
    import json
    import os
    import shutil

    meta, cents, books = _read_ivfpq_sidecar(path, expect_meta)
    gens = meta["generations"]

    encoded = encode_ivfpq(new_vectors, cents, books, key=key, vec=vec)
    new_counts = {
        str(r["centroid_id"]): r["n"]
        for r in encoded.groupBy("centroid_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    base = {str(k): int(v) for k, v in (meta.get("base_counts") or {}).items()}
    cur = {str(k): int(v) for k, v in (meta.get("cell_counts") or {}).items()}
    projected = dict(cur)
    for c, n in new_counts.items():
        projected[c] = projected.get(c, 0) + int(n)
    base_total = max(sum(base.values()), 1)
    proj_total = sum(projected.values())
    overall_growth = proj_total / base_total
    max_cell_growth = max(
        (projected[c] / max(base.get(c, 0), 1) for c in projected), default=0.0
    )
    stale = max_cell_growth > drift_factor * overall_growth
    if stale and not allow_stale:
        raise IndexStaleError(
            f"cell-size drift: max cell growth {max_cell_growth:.2f}x vs "
            f"overall {overall_growth:.2f}x exceeds drift_factor="
            f"{drift_factor} — retrain the quantizers (rebuild) instead "
            f"of appending, or pass allow_stale=True to force"
        )

    # clean any UNREFERENCED generation dirs (torn appends that wrote
    # parquet but lost the sidecar bump) so their numbers can be reused
    committed = set(gens)
    for entry in os.listdir(path):
        if (
            entry.startswith("g")
            and entry[1:].isdigit()
            and entry not in committed
            and os.path.isdir(os.path.join(path, entry))
        ):
            shutil.rmtree(os.path.join(path, entry), ignore_errors=True)

    gen_n = max(int(g[1:]) for g in gens) + 1
    gen = f"g{gen_n:06d}"
    appended = sum(int(n) for n in new_counts.values())
    encoded.write.partitionBy("centroid_id").mode("overwrite").parquet(
        os.path.join(path, gen)
    )
    meta["generations"] = [*gens, gen]
    meta["cell_counts"] = projected
    meta["stale"] = bool(stale)
    atomic_write(os.path.join(path, "_ivfpq_meta.json"), json.dumps(meta))
    return {
        "generation": gen_n,
        "appended": appended,
        "total": proj_total,
        "max_cell_growth": round(max_cell_growth, 4),
        "overall_growth": round(overall_growth, 4),
        "stale": bool(stale),
    }


def ivfpq_search(
    index: tuple[list[tuple[int, list[float]]], Codebooks, DataFrame],
    queries: DataFrame,
    k: int = 3,
    nprobe: int = 4,
    rerank_factor: int = 8,
    key: str = "vec_id",
    vec: str = "embedding",
    static_cell_pruning: bool = True,
) -> DataFrame:
    """Search an IVF-PQ index — the amortized production path over a
    persisted index, and the body of the one-shot ivfpq_topk. Returns
    (query_id, neighbor_id, rank, dist), dist exact after the re-rank of
    the k×max(rerank_factor, 1) ADC shortlist.

    Physical shape per batch: probes and ADC tables are projections
    over the tiny query batch (centroids/codebooks are literals); the
    query side broadcasts (probes × ADC tables); the only shuffles are
    the candidate equi-join on centroid_id and the two top-k windows.
    ``static_cell_pruning`` collects the probed-cell union (≤ nlist
    ids) and pushes it as a literal IN filter, which against a
    write_ivfpq_index layout becomes a parquet PartitionFilter on BOTH
    index scans (ADC leg reads codes-only columns, re-rank leg reads
    vectors for shortlist rows' cells) — the scan physically touches
    nprobe cells' directories, nothing else, no training jobs."""
    cents, books, encoded = index
    probes = queries.select(
        F.col(key).alias("query_id"),
        F.explode(_probe_cells(_as_double(F.col(vec)), cents, nprobe)).alias("centroid_id"),
    )
    if static_cell_pruning:
        probed = sorted(
            r["centroid_id"] for r in probes.select("centroid_id").distinct().collect()
        )
        encoded = encoded.filter(F.col("centroid_id").isin(probed))

    qt = adc_tables(queries, books, key=key, vec=vec)
    probe_tabs = probes.join(qt, "query_id")  # tiny × tiny, broadcast below
    scored = (
        encoded.select("neighbor_id", "centroid_id", "codes")
        .join(F.broadcast(probe_tabs), on="centroid_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", _adc(books).alias("__adc"))
    )
    # Exact re-rank reads true vectors from the INDEX (same pruned cells
    # — the shortlist is a subset of probed cells), never the raw corpus.
    return _adc_ranked(
        scored, encoded.select("neighbor_id", "__cv"), queries,
        k, max(rerank_factor, 1), key, vec,
    )
