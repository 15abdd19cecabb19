"""Similarity-search behavior: exact top-k correctness on constructed
vectors; LSH recall floor against the exact baseline on the fixture."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from c_tran_data_pipeline_spark.operators.similarity import (
    _kmeans_rows,
    ann_lsh_topk,
    cosine_topk,
    ivf_topk,
)


def test_cosine_topk_known_geometry(spark):
    vecs = spark.createDataFrame(
        [
            Row(vec_id=0, embedding=[1.0, 0.0, 0.0]),
            Row(vec_id=1, embedding=[0.9, 0.1, 0.0]),  # closest to 0
            Row(vec_id=2, embedding=[0.0, 1.0, 0.0]),  # orthogonal
            Row(vec_id=3, embedding=[-1.0, 0.0, 0.0]),  # opposite
        ]
    )
    out = cosine_topk(vecs, vecs.filter("vec_id = 0"), k=3).orderBy("rank").collect()
    assert [r.neighbor_id for r in out] == [1, 2, 3]
    assert out[0].cosine > 0.99 and out[2].cosine == -1.0


def test_lsh_topk_recall_floor(spark):
    """Multi-table LSH (4 planes × 8 tables) on the fixture vectors:
    neighbors sit at cosine ≈ 0.3-0.5 (θ ≈ 60-70°, p ≈ 0.61-0.67 per
    plane), so expected recall ≈ 1-(1-p⁴)⁸ ≈ 0.7-0.8. Assert a floor
    well above random bucketing."""
    from c_tran_data_pipeline_spark.sources.readers import load_table
    from tests.conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = emb.filter("vec_id < 30")
    exact = {(r.query_id, r.neighbor_id) for r in cosine_topk(emb, queries, k=3).collect()}
    approx = {
        (r.query_id, r.neighbor_id)
        for r in ann_lsh_topk(emb, queries, k=3, planes=4, tables=8, dim=64).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"LSH recall@3 {recall:.2f} (single-table was ~0.0-0.18)"


def test_ivf_full_probe_equals_exact(spark):
    """IVF with nprobe == nlist probes every Voronoi cell, so the
    candidate set is the whole corpus and the result must equal the
    brute-force baseline exactly — pins the quantize/probe/re-rank
    plumbing independent of recall."""
    from c_tran_data_pipeline_spark.sources.readers import load_table
    from tests.conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = emb.filter("vec_id < 10")
    exact = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine)
        for r in cosine_topk(emb, queries, k=3).collect()
    }
    full = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine)
        for r in ivf_topk(emb, queries, k=3, nlist=8, nprobe=8, dim=64).collect()
    }
    assert full == exact


def test_ivf_partial_probe_recall(spark):
    """nprobe=4 of nlist=16 scans ~1/4 of the corpus per query; recall
    must beat the ~nprobe/nlist floor that random cell assignment would
    give (clustered cells put true neighbors in the probed quarter more
    often than chance)."""
    from c_tran_data_pipeline_spark.sources.readers import load_table
    from tests.conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = emb.filter("vec_id < 30")
    exact = {(r.query_id, r.neighbor_id) for r in cosine_topk(emb, queries, k=3).collect()}
    approx = {
        (r.query_id, r.neighbor_id)
        for r in ivf_topk(emb, queries, k=3, nlist=16, nprobe=4, dim=64).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.35, f"IVF recall@3 {recall:.2f} < random-cell floor 0.25"


def test_kmeans_centroids_shape(spark):
    from c_tran_data_pipeline_spark.sources.readers import load_table
    from tests.conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    cents = [
        Row(centroid_id=cid, centroid=c)
        for cid, c in _kmeans_rows(emb, nlist=8, iters=1, key="vec_id", vec="embedding", dim=64)
    ]
    assert 1 < len(cents) <= 8
    assert all(len(r.centroid) == 64 for r in cents)


def test_kmeans_training_partition_invariant(spark):
    """The driver-side bounded-sample trainer must give BIT-IDENTICAL
    centroids regardless of how its input is partitioned: the sample is
    a deterministic hash-order top-k with a key tie-break, rows are
    key-sorted before numpy touches them, and the Lloyd loop is pure
    float64 — so repartitioning can't move a single bit. Same property
    for the PQ codebook trainer."""
    from c_tran_data_pipeline_spark.operators.pq import train_pq
    from c_tran_data_pipeline_spark.operators.similarity import _kmeans_rows
    from c_tran_data_pipeline_spark.sources.readers import load_table
    from tests.conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    a = _kmeans_rows(emb, nlist=8, iters=2, key="vec_id", vec="embedding", dim=64)
    b = _kmeans_rows(
        emb.repartition(7, "vec_id"), nlist=8, iters=2,
        key="vec_id", vec="embedding", dim=64,
    )
    assert a == b
    pa = train_pq(emb, m=8, ksub=16, dim=64, iters=2)
    pb = train_pq(emb.repartition(5), m=8, ksub=16, dim=64, iters=2)
    assert pa == pb


def test_cosine_topk_arrow_matches_jvm_path(spark):
    """The BLAS (mapInPandas GEMM) and JVM (zip_with fold) exact top-k
    must return identical neighbors and ranks — either physical strategy
    can serve cosine_topk's contract."""
    from c_tran_data_pipeline_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_arrow,
    )
    from c_tran_data_pipeline_spark.sources.readers import load_table
    from tests.conftest import SF_ORACLE

    emb = load_table(spark, SF_ORACLE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    jvm = sorted(map(tuple, cosine_topk(emb, queries, k=3).collect()))
    blas = sorted(map(tuple, cosine_topk_arrow(emb, queries, k=3).collect()))
    assert jvm == blas


def test_cosine_topk_arrow_empty_query_batch(spark):
    """An empty query batch gives zero rows on both exact paths, with
    the same schema — the BLAS path must not fail normalizing an empty
    query matrix."""
    from c_tran_data_pipeline_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_arrow,
    )
    from c_tran_data_pipeline_spark.sources.readers import load_table
    from tests.conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).limit(0)
    jvm = cosine_topk(emb, queries, k=3)
    blas = cosine_topk_arrow(emb, queries, k=3)
    assert blas.collect() == jvm.collect() == []
    assert blas.schema == jvm.schema


def test_ivf_index_reusable_across_query_batches(spark):
    """Build once, search twice: a prebuilt index answers different
    query batches identically to the one-shot form — the persistable-
    index contract (at scale the assignment table is written
    partitionBy(centroid_id) and the k-means cost amortizes to zero)."""
    from c_tran_data_pipeline_spark.operators.similarity import (
        ivf_index,
        ivf_search,
        ivf_topk,
    )
    from c_tran_data_pipeline_spark.sources.readers import load_table
    from tests.conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    idx = ivf_index(emb, nlist=8, iters=1, dim=64)
    for lo, hi in ((0, 5), (5, 10)):
        batch = emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
        a = sorted(map(tuple, ivf_search(idx, batch, k=3, nprobe=8).collect()))
        b = sorted(map(tuple, ivf_topk(emb, batch, k=3, nlist=8, nprobe=8, iters=1, dim=64).collect()))
        assert a == b


def test_neardup_lsh_recall_and_exact_precision(spark):
    """Scalable near-dup (LSH banding + cosine re-rank) vs the exact
    all-pairs baseline at threshold 0.4: pairs at cosine ≥ 0.4 sit at
    θ ≤ 66°, p = 1-θ/π ≥ 0.63 per plane → expected recall
    ≥ 1-(1-0.63³)¹² ≈ 0.97 at the threshold boundary and → 1 for closer
    pairs (measured 0.985 on this fixture; 4×8 banding measured only
    0.73, hence the wider table count). Precision must be exactly 1.0
    (every candidate is re-scored with the true cosine before the
    threshold filter)."""
    from c_tran_data_pipeline_spark.operators.similarity import (
        embedding_neardup_pairs,
        embedding_neardup_pairs_lsh,
    )
    from c_tran_data_pipeline_spark.sources.readers import load_table
    from tests.conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    exact = {(r.d1, r.d2) for r in embedding_neardup_pairs(emb, threshold=0.4).collect()}
    approx = {
        (r.d1, r.d2)
        for r in embedding_neardup_pairs_lsh(
            emb, threshold=0.4, planes=3, tables=12, dim=64
        ).collect()
    }
    assert exact, "fixture must contain near-dup pairs for the test to mean anything"
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"near-dup LSH recall {recall:.2f} < 0.9"
    assert approx <= exact, "re-ranked pairs must be a subset of the exact pairs"


def test_neardup_lsh_hot_bucket_cap_drops_degenerate_buckets(spark):
    """With max_bucket_size=1 every bucket is dropped, so the candidate
    set (and output) must be empty — proving the cap gates the join
    rather than post-filtering its output."""
    from pyspark.sql import Row

    from c_tran_data_pipeline_spark.operators.similarity import embedding_neardup_pairs_lsh

    vecs = spark.createDataFrame(
        [Row(vec_id=i, embedding=[1.0, 0.0, 0.0, float(i)]) for i in range(6)]
    )
    out = embedding_neardup_pairs_lsh(
        vecs, threshold=-1.0, planes=2, tables=2, dim=4, max_bucket_size=1
    )
    assert out.count() == 0


def test_label_centroids_match_numpy_and_partitioning_invariant(spark):
    import numpy as np
    from c_tran_data_pipeline_spark.operators.similarity import label_centroids
    from c_tran_data_pipeline_spark.sources.readers import load_table
    from tests.conftest import SF_ORACLE

    emb = load_table(spark, SF_ORACLE, "embeddings")
    out = {
        (r["label"], r["dim"]): (r["n_vecs"], r["mean"])
        for r in label_centroids(emb).collect()
    }
    rows = emb.collect()
    by_label: dict[int, list] = {}
    for r in rows:
        by_label.setdefault(r["label"], []).append(np.array(r["embedding"], dtype=np.float64))
    for label, vecs in by_label.items():
        m = np.mean(np.stack(vecs), axis=0)
        for dim in range(len(m)):
            n_vecs, mean = out[(label, dim)]
            assert n_vecs == len(vecs)
            assert abs(mean - m[dim]) < 1e-6
    # decimal-exact sums: identical on any partitioning
    repartitioned = label_centroids(emb.repartition(17)).collect()
    assert sorted(map(tuple, repartitioned)) == sorted(
        (l, d, n, v) for (l, d), (n, v) in out.items()
    )


def test_int8_topk_recall_vs_float(spark):
    """Per-tensor int8 ranking must track the float cosine ranking
    closely: 64-dim embeddings quantized to 8 bits lose well under one
    rank of resolution at these cosine gaps (and the test would catch a
    broken scale/rounding path, which scrambles ranks entirely)."""
    from c_tran_data_pipeline_spark.operators.quantize import int8_cosine_topk
    from c_tran_data_pipeline_spark.sources.readers import load_table
    from tests.conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = emb.filter("vec_id < 30")
    exact = {(r.query_id, r.neighbor_id) for r in cosine_topk(emb, queries, k=3).collect()}
    quant = {
        (r.query_id, r.neighbor_id)
        for r in int8_cosine_topk(emb, queries, k=3).collect()
    }
    recall = len(exact & quant) / len(exact)
    assert recall >= 0.9, f"int8 recall@3 {recall:.2f}"


def test_quantize_per_dim_roundtrip_error_bound(spark):
    """Dequantized per-dim codes reconstruct every component within
    scale_d/2 (the half-step bound symmetric quantization guarantees),
    and codes stay in [-127, 127]."""
    from c_tran_data_pipeline_spark.operators.quantize import quantize_per_dim
    from c_tran_data_pipeline_spark.sources.readers import load_table
    from tests.conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    ex = emb.select(
        "vec_id", F.posexplode(F.col("embedding").cast("array<double>")).alias("d0", "v")
    ).select("vec_id", (F.col("d0") + 1).alias("dim"), "v")
    scales = ex.groupBy("dim").agg((F.max(F.abs("v")) / 127.0).alias("s"))
    joined = (
        quantize_per_dim(emb)
        .join(ex, on=["vec_id", "dim"])
        .join(scales, on="dim")
        .select("q", "v", "s", (F.abs(F.col("q") * F.col("s") - F.col("v"))).alias("err"))
    )
    row = joined.agg(
        F.max("err").alias("max_err"),
        F.max(F.col("err") / F.col("s")).alias("max_half_steps"),
        F.min("q").alias("qmin"),
        F.max("q").alias("qmax"),
    ).collect()[0]
    assert row["max_half_steps"] <= 0.5 + 1e-9
    assert -127 <= row["qmin"] and row["qmax"] <= 127


def test_auto_banding_tracks_corpus_size():
    """At the tuning corpus size the tuned (3, 12) comes back unchanged;
    10× the corpus gets enough planes that expected bucket occupancy
    stays ≤ target (fixed planes would let it grow linearly and the
    candidate join go quadratic)."""
    from c_tran_data_pipeline_spark.operators.similarity import auto_banding

    assert auto_banding(500) == (3, 12)
    assert auto_banding(50) == (3, 12)  # floor: never below the base
    planes, tables = auto_banding(5000)
    assert 5000 / 2**planes <= 64
    assert tables > 12  # recall compensation grows with planes
    for n in (500, 5_000, 50_000, 5_000_000):
        p, _ = auto_banding(n)
        if p > 3:
            assert n / 2**p <= 64


def test_mrl_full_prefix_equals_exact_and_short_prefix_recall(spark):
    """prefix_dims == dim makes the MRL cascade a pure reshuffling of the
    exact search — rows must be identical. A 16/64 prefix is lossy; on
    the fixture the exact re-rank keeps recall high (the shortlist of
    4·k rarely drops a true top-3 neighbor)."""
    from c_tran_data_pipeline_spark.operators.similarity import mrl_topk
    from c_tran_data_pipeline_spark.sources.readers import load_table
    from tests.conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = emb.filter("vec_id < 30")
    exact = cosine_topk(emb, queries, k=3)
    full_prefix = mrl_topk(emb, queries, k=3, prefix_dims=64, shortlist=4)
    assert sorted(map(tuple, exact.collect())) == sorted(map(tuple, full_prefix.collect()))

    # Random fixture vectors are MRL's worst case (no signal concentration
    # in leading dims — a trained Matryoshka embedding does far better at
    # smaller prefixes); 32/64 dims with a 24-deep shortlist measured 0.74.
    approx = {
        (r.query_id, r.neighbor_id)
        for r in mrl_topk(emb, queries, k=3, prefix_dims=32, shortlist=8).collect()
    }
    truth = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    recall = len(truth & approx) / len(truth)
    assert recall >= 0.6, f"MRL recall@3 {recall:.2f}"


def test_baseline_guards_fire_and_bench_excludes_baselines(spark):
    """The `baseline` contract is executable, not advisory: the O(n²)
    all-pairs scorer and an oversized exact-top-k query batch raise
    before launching quadratic work (opt-out is an explicit None), and
    baseline-tagged queries never enter the bench headline set."""
    import pytest as _pytest

    from c_tran_data_pipeline_spark.operators.similarity import (
        cosine_topk as _ct,
        embedding_neardup_pairs as _enp,
    )
    from c_tran_data_pipeline_spark.sources.readers import load_table
    from tests.conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    with _pytest.raises(ValueError, match="all-pairs oracle baseline"):
        _enp(emb, threshold=0.4, baseline_cap=10).collect()
    with _pytest.raises(ValueError, match="query batch"):
        _ct(emb, emb.filter("vec_id < 50"), k=3, max_queries=10).collect()
    # explicit opt-in still works (cap=None) — the sanctioned oracle use
    assert _enp(emb.filter("vec_id < 30"), baseline_cap=None).count() >= 0

    import bench
    from c_tran_data_pipeline_spark.plans import all_queries

    registry = all_queries()
    tagged = [
        n for n in bench.HEADLINE if n in registry and "baseline" in registry[n].tags
    ]
    assert not tagged, f"baseline-tagged queries in bench HEADLINE: {tagged}"
    # and the tag itself exists on the known baselines
    assert "baseline" in registry["q_ann_neardup"].tags
    assert "baseline" in registry["q_neardup_degree"].tags


def test_semantic_dedup_single_cell_equals_bruteforce(spark):
    """nlist=1 puts every vector in one cell, so SemDeDup's candidate set
    IS the all-pairs set: components must match clustering the exact
    baseline's pair graph, and the keep set must match exactly."""
    from c_tran_data_pipeline_spark.operators.graph import dedup_clusters
    from c_tran_data_pipeline_spark.operators.similarity import (
        embedding_neardup_pairs,
        semantic_dedup,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    got = {
        r["vec_id"]: (r["component"], r["keep"])
        for r in semantic_dedup(emb, threshold=0.4, nlist=1, iters=1, dim=64).collect()
    }
    exact_pairs = embedding_neardup_pairs(emb, threshold=0.4)
    comp = {
        r["doc_id"]: r["component"] for r in dedup_clusters(exact_pairs).collect()
    }
    assert len(got) == emb.count()
    for vid, (component, keep) in got.items():
        assert component == comp.get(vid), f"vec {vid}: {component} != {comp.get(vid)}"
        assert keep == (vid not in comp or comp[vid] == vid)


def test_semantic_dedup_blocked_precision_and_representatives(spark):
    """The registered SemDeDup query plants a perturbed twin (cosine
    ~0.999) of every 10th vector: cell blocking must recover EVERY
    planted pair (near-identical vectors share a nearest centroid),
    each component keeps exactly one representative (its min id), and
    nothing clusters without a true >=-threshold edge (precision 1.0 by
    construction - pairs are exact-cosine verified)."""
    from c_tran_data_pipeline_spark.plans import all_queries

    out = all_queries()["q_semantic_dedup"].builder(
        spark, "/root/testdata/sf0.001"
    ).collect()
    planted = [r for r in out if r["vec_id"] >= 1_000_000]
    assert planted, "query no longer plants twins - update this test"
    for r in planted:
        assert r["component"] == r["vec_id"] - 1_000_000, (
            f"planted twin {r['vec_id']} missed its parent "
            f"(component={r['component']})"
        )
        assert not r["keep"]
    clustered = [r for r in out if r["component"] is not None]
    by_comp: dict = {}
    for r in clustered:
        by_comp.setdefault(r["component"], []).append(r)
    for component, members in by_comp.items():
        reps = [m for m in members if m["keep"]]
        assert len(reps) == 1 and reps[0]["vec_id"] == component == min(
            m["vec_id"] for m in members
        )
    # survivors: every parent kept, every twin dropped
    keep_ids = {r["vec_id"] for r in out if r["keep"]}
    assert all(r["vec_id"] - 1_000_000 in keep_ids for r in planted)


def test_hard_negative_topk_label_exclusion_and_guard(spark):
    """Every mined negative has a label different from its query's (the
    whole point — same-class items must never appear no matter how
    similar); ranks are dense 1..k per query; the result equals
    cosine_topk restricted to other-label rows (the operator is a
    fused-filter specialization, not a different ranking); and the
    bounded-batch guard trips on oversized query sets."""
    import pytest as _pytest

    from c_tran_data_pipeline_spark.operators.similarity import (
        cosine_topk,
        hard_negative_topk,
    )
    from c_tran_data_pipeline_spark.sources.readers import load_table

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    got = hard_negative_topk(emb, queries, k=3).collect()
    labels = {r.vec_id: r.label for r in emb.collect()}
    by_q = {}
    for r in got:
        assert r.query_label == labels[r.query_id]
        assert r.neighbor_label == labels[r.neighbor_id]
        assert r.neighbor_label != r.query_label
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == set(range(10))
    for q, rows in by_q.items():
        assert sorted(x.rank for x in rows) == [1, 2, 3]

    # equivalence: brute-force top-k over the other-label corpus only
    for q in range(3):
        other = emb.filter(F.col("label") != labels[q])
        want = {
            (r.neighbor_id, r.rank, r.cosine)
            for r in cosine_topk(other, queries.filter(F.col("vec_id") == q), k=3).collect()
        }
        have = {(r.neighbor_id, r.rank, r.cosine) for r in by_q[q]}
        assert have == want, q

    with _pytest.raises(ValueError, match="hard_negative_topk"):
        hard_negative_topk(emb, emb, k=3, max_queries=10).collect()


def test_hard_negative_lsh_recall_floor(spark):
    """The LSH-bucketed miner recovers most of the exact miner's
    negatives at the fixture banding (4 planes × 8 tables), and every
    emitted pair honors the label-exclusion contract — precision of the
    LABEL predicate is 1.0 by construction (it re-checks real labels,
    not buckets)."""
    from c_tran_data_pipeline_spark.operators.similarity import (
        hard_negative_topk,
        hard_negative_topk_lsh,
    )
    from c_tran_data_pipeline_spark.sources.readers import load_table

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    exact = {(r.query_id, r.neighbor_id)
             for r in hard_negative_topk(emb, queries, k=3).collect()}
    approx = hard_negative_topk_lsh(emb, queries, k=3, planes=4, tables=8, dim=64).collect()
    labels = {r.vec_id: r.label for r in emb.collect()}
    for r in approx:
        assert labels[r.neighbor_id] != labels[r.query_id]
    got = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(got & exact) / len(exact)
    assert recall >= 0.5, recall  # bucket recall at the tuned banding


def test_flat_dot_sql_equals_hof_dot(spark):
    """The flat codegen'd pair-grain dot (r9: embedding_neardup_pairs_lsh's
    re-rank hot path) is bit-identical to the interpreted aggregate fold
    on exact-dim vectors, and falls back to the fold's semantics on any
    length mismatch (nulls poison both the same way)."""
    from c_tran_data_pipeline_spark.operators.similarity import _flat_dot_sql, dot

    rows = [
        ([1.0, 2.0, 3.0], [4.0, 5.0, 6.0]),        # exact dim
        ([0.1] * 3, [0.3] * 3),                      # rounding-sensitive
        ([1.0, None, 3.0], [4.0, 5.0, 6.0]),         # null element
        ([1.0, 2.0], [4.0, 5.0, 6.0]),               # a shorter than dim
        ([1.0, 2.0, 3.0, 4.0], [4.0, 5.0, 6.0, 7.0]),  # both longer than dim
        (None, [1.0, 2.0, 3.0]),                     # null array
    ]
    df = spark.createDataFrame(rows, "a array<double>, b array<double>")
    got = df.select(
        F.expr(_flat_dot_sql("a", "b", 3)).alias("flat"),
        dot(F.col("a"), F.col("b")).alias("hof"),
    ).collect()
    for r in got:
        # bit-exact comparison via repr (NaN never occurs here)
        assert repr(r["flat"]) == repr(r["hof"]), (r["flat"], r["hof"])


def test_lsh_bucket_shapes_bit_identical(spark):
    """The Arrow/numpy multi-table bucket pass emits the IDENTICAL
    (key, vec, table, bucket) bag as the single-table operator run once
    per table on its own plane set (plane_offset = t·planes), including
    malformed rows (NULL / short / long / empty vectors → bucket 0 in
    every table, the null-poisoned-fold semantics)."""
    from functools import reduce

    from c_tran_data_pipeline_spark.operators.similarity import (
        _multi_table_lsh_buckets_arrow,
        hyperplane_lsh_buckets,
        multi_table_lsh_buckets,
    )

    dim, planes, tables = 8, 3, 4
    rows = [
        (1, [0.1 * (d + 1) * (-1) ** d for d in range(dim)]),
        (2, [1e-300] * dim),            # sign decisions near zero
        (3, [0.25] * dim),
        (4, [0.2] * 3),                 # shorter than dim
        (5, None),                      # null vector
        (6, []),                        # empty
        (7, [0.1] * (dim + 2)),         # longer than dim
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    base = reduce(
        lambda a, b: a.unionByName(b),
        [
            hyperplane_lsh_buckets(df, planes, plane_offset=t * planes, dim=dim).select(
                "vec_id", "embedding", F.lit(t).alias("table"), "bucket"
            )
            for t in range(tables)
        ],
    )
    for alt in (
        _multi_table_lsh_buckets_arrow(df, planes, tables, "vec_id", "embedding", dim),
        multi_table_lsh_buckets(df, planes, tables, dim=dim),
    ):
        assert base.exceptAll(alt).count() == 0
        assert alt.exceptAll(base).count() == 0
        assert alt.count() == len(rows) * tables


def test_arrow_cell_assignment_matches_jvm_probe_order(spark):
    """_assign_cells_arrow (the round-10 SemDeDup n-grain assignment) is
    bit-identical to the interpreted array_sort-over-struct(d, cid)
    probe, including EXACT distance ties (symmetric centroids around an
    equidistant vector -> lower cid wins), NaN elements (NaN distances
    sort last, ties by cid), and malformed rows (NULL / short / long
    vectors -> first nprobe cids in id order). A centroid list passed
    out of id order gives the same cells."""
    from c_tran_data_pipeline_spark.operators.similarity import (
        _as_double,
        _assign_cells_arrow,
        _probe_cells,
    )

    cents = [
        (3, [1.0, 0.0, 0.0, 0.0]),
        (5, [-1.0, 0.0, 0.0, 0.0]),   # exact tie with cid 3 at the origin
        (9, [0.0, 2.0, 0.0, 0.0]),
        (11, [0.0, 0.0, 0.5, 0.5]),
    ]
    cents = sorted(cents)
    rows = [
        (1, [0.0, 0.0, 0.0, 0.0]),            # equidistant to cids 3 and 5
        (2, [0.9, 0.1, 0.0, 0.0]),
        (3, [float("nan"), 0.0, 0.0, 0.0]),   # NaN distances
        (4, [0.1, 0.1]),                      # short
        (5, None),                            # null
        (6, [0.1] * 6),                       # long
        (7, [-0.4, 1.9, 0.2, 0.1]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    for nprobe in (1, 2, 4):
        v = _as_double(F.col("embedding"))
        jvm = {
            r["vec_id"]: r["c"]
            for r in df.select(
                "vec_id", _probe_cells(v, cents, nprobe).alias("c")
            ).collect()
        }
        arrow = {
            r["vec_id"]: r["__cells"]
            for r in _assign_cells_arrow(df, "vec_id", "embedding", cents, nprobe).collect()
        }
        assert arrow == jvm, (nprobe, arrow, jvm)
        unsorted = {
            r["vec_id"]: r["__cells"]
            for r in _assign_cells_arrow(
                df, "vec_id", "embedding", cents[::-1], nprobe
            ).collect()
        }
        assert unsorted == jvm, (nprobe, unsorted, jvm)
