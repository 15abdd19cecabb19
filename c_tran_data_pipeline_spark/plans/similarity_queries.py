"""Oracle-checked similarity-search queries over ``embeddings``
(operators in operators/similarity.py).

Float policy: cosine is computed in float64 on both engines; the oracle
compares ranks (exact ints) plus cosine rounded to 4 decimals. With
64-dim random vectors, rank ties or 1e-4-boundary collisions between the
two engines' summation orders are measure-zero; the canonical comparator
rounds floats to 9 significant digits anyway.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from c_tran_data_pipeline_spark.operators.similarity import (
    ann_lsh_topk,
    cosine_topk,
    cosine_topk_arrow,
    embedding_neardup_pairs,
    embedding_neardup_pairs_lsh,
    hyperplane_lsh_buckets,
    ivf_topk,
    label_centroids,
)
from c_tran_data_pipeline_spark.plans.registry import query
from c_tran_data_pipeline_spark.session import build_artifact, cached_artifact
from c_tran_data_pipeline_spark.sources.readers import load_table

_COS = "list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))"


def _sign_row_sql(plane: int, dim: int = 64) -> str:
    """±1 sign row for one hyperplane as a DuckDB DOUBLE[] literal —
    the sign matrix is a pure function of (plane, dim_index) via md5
    parity (operators/similarity._sign_value), so the oracle embeds the
    SAME constants the Spark plan embeds; no per-row hashing on either
    engine."""
    from c_tran_data_pipeline_spark.operators.similarity import _sign_value

    return (
        "[" + ",".join("1.0" if _sign_value(plane, d) > 0 else "-1.0" for d in range(dim))
        + "]::DOUBLE[]"
    )


def _plane_proj_sql(plane: int, dim: int = 64) -> str:
    """⟨embedding, sign_row(plane)⟩ as a SEQUENTIAL left fold — the exact
    order Spark's F.aggregate uses, so the `> 0` bucket-bit decision
    sees bit-identical sums. list_zip + numeric struct indexing, NOT
    literal-list indexing inside the lambda: `([...])[i]` re-materializes
    the 64-element literal per element (measured 1.6 s/plane at sf0.1 vs
    0.014 s for the zip form — 115×, value-identical)."""
    return (
        "list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        f"list_transform(list_zip(CAST(embedding AS DOUBLE[]), {_sign_row_sql(plane, dim)}), "
        "z -> z[1] * z[2])), (acc, x) -> acc + x)"
    )


def _multi_bucket_case_sql(planes: int, tables: int, dim: int = 64) -> str:
    """CASE t WHEN 0 THEN <bucket over planes 0..planes-1> ... — DuckDB
    twin of multi_table_lsh_buckets; table t uses plane set
    [t·planes, (t+1)·planes)."""

    def bucket(t: int) -> str:
        return " + ".join(
            f"CASE WHEN ({_plane_proj_sql(t * planes + j, dim)}) > 0 "
            f"THEN CAST({1 << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
            for j in range(planes)
        )

    return " ".join(f"WHEN {t} THEN ({bucket(t)})" for t in range(tables))



@query(
    "q_ann_topk",
    f"""
    WITH scored AS (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               {_COS} AS cos
        FROM embeddings a JOIN embeddings b ON a.vec_id != b.vec_id
        WHERE a.vec_id < 20
    ), ranked AS (
        SELECT query_id, neighbor_id, cos,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id ASC) AS rank
        FROM scored
    )
    SELECT query_id, neighbor_id, rank, ROUND(cos, 4) AS cosine
    FROM ranked WHERE rank <= 3
    """,
    doc="Exact brute-force cosine top-3 for 20 query vectors: broadcast "
    "queries × corpus scan, JVM array-fold cosine, window top-k. The "
    "ground-truth baseline for the LSH path.",
    tags=("similarity", "topk"),
)
def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_topk(emb, emb.filter(F.col("vec_id") < 20), k=3)


@query(
    "q_hard_negatives",
    f"""
    WITH scored AS (
        SELECT a.vec_id AS query_id, a.label AS query_label,
               b.vec_id AS neighbor_id, b.label AS neighbor_label,
               {_COS} AS cos
        FROM embeddings a JOIN embeddings b ON a.label != b.label
        WHERE a.vec_id < 20
    ), ranked AS (
        SELECT query_id, query_label, neighbor_id, neighbor_label, cos,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id ASC) AS rank
        FROM scored
    )
    SELECT query_id, query_label, neighbor_id, neighbor_label, rank,
           ROUND(cos, 4) AS cosine
    FROM ranked WHERE rank <= 3
    """,
    doc="Hard-negative mining for contrastive training "
    "(operators/similarity.py hard_negative_topk; the DPR/SimCSE "
    "recipe, Karpukhin et al. 2020 §3.2): per query, the top-3 "
    "highest-cosine corpus vectors of a DIFFERENT label — the "
    "most-confusable negatives a contrastive batch builder pairs with "
    "each anchor (random negatives are too easy; these carry the "
    "gradient). Physical shape = cosine_topk with the label "
    "inequality fused into the join condition (same-class pairs drop "
    "before any cosine), hoisted norms, broadcast bounded query "
    "batch, one window top-k. At 100 TB the exact scan swaps for an "
    "ANN candidate generator with an over-fetched label filter — the "
    "identical (query, label, neighbor, rank, cosine) contract.",
    tags=("similarity", "topk", "training"),
)
def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from c_tran_data_pipeline_spark.operators.similarity import hard_negative_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return hard_negative_topk(emb, emb.filter(F.col("vec_id") < 20), k=3)


@query(
    "q_hard_negatives_lsh",
    f"""
    WITH buck AS (
        SELECT vec_id, CASE t {_multi_bucket_case_sql(4, 8)} END AS bucket, t AS tbl
        FROM embeddings, range(8) r(t)
    ), cand AS (
        SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
        FROM buck q JOIN buck c ON q.tbl = c.tbl AND q.bucket = c.bucket
        WHERE q.vec_id < 20 AND c.vec_id != q.vec_id
    ), scored AS (
        SELECT query_id, a.label AS query_label, neighbor_id,
               b.label AS neighbor_label,
               list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                      CAST(b.embedding AS DOUBLE[])) AS cos
        FROM cand JOIN embeddings a ON a.vec_id = cand.query_id
                  JOIN embeddings b ON b.vec_id = cand.neighbor_id
        WHERE a.label != b.label
    ), ranked AS (
        SELECT query_id, query_label, neighbor_id, neighbor_label, cos,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id ASC) AS rank
        FROM scored
    )
    SELECT query_id, query_label, neighbor_id, neighbor_label, rank,
           ROUND(cos, 4) AS cosine
    FROM ranked WHERE rank <= 3
    """,
    doc="The 100 TB shape of q_hard_negatives "
    "(operators/similarity.py hard_negative_topk_lsh): candidates come "
    "from the multi-table LSH bucket equi-join — never a "
    "corpus×queries scan — the label filter drops same-class "
    "candidates BEFORE the cosine re-rank, and exact cosine ranks what "
    "remains. Recall w.r.t. the exact miner is measured in "
    "tests/test_similarity.py; the ALGORITHM is deterministic, so the "
    "oracle (the same literal sign-matrix banding twin as "
    "q_ann_lsh_topk, plus the label inequality) is EXACT at both SFs. "
    "Banding is the over-fetch knob: each extra table raises the "
    "chance a true hard negative shares a bucket.",
    tags=("similarity", "topk", "training"),
)
def q_hard_negatives_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from c_tran_data_pipeline_spark.operators.similarity import hard_negative_topk_lsh

    emb = load_table(spark, sf_dir, "embeddings")
    return hard_negative_topk_lsh(
        emb, emb.filter(F.col("vec_id") < 20), k=3, planes=4, tables=8, dim=64
    )


@query(
    "q_ann_topk_arrow",
    f"""
    WITH scored AS (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               {_COS} AS cos
        FROM embeddings a JOIN embeddings b ON a.vec_id != b.vec_id
        WHERE a.vec_id < 20
    ), ranked AS (
        SELECT query_id, neighbor_id, cos,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id ASC) AS rank
        FROM scored
    )
    SELECT query_id, neighbor_id, rank, ROUND(cos, 4) AS cosine
    FROM ranked WHERE rank <= 3
    """,
    doc="Same contract as q_ann_topk, BLAS physical strategy: Arrow-"
    "batched numpy GEMM per partition emitting local top-k, global "
    "window re-rank (shuffle O(k·queries·partitions), not O(corpus)) — "
    "the path that wins at production embedding widths. Same exact-SQL "
    "oracle as the JVM fold; tests additionally pin row-level equality "
    "between the two strategies.",
    tags=("similarity", "topk", "udf"),
)
def q_ann_topk_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_topk_arrow(emb, emb.filter(F.col("vec_id") < 20), k=3)


@query(
    "q_ann_neardup",
    f"""
    SELECT a.vec_id AS d1, b.vec_id AS d2, ROUND({_COS}, 4) AS cosine
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE {_COS} >= 0.4
    """,
    doc="Embedding-cosine near-dup pairs (threshold 0.4) — exact all-pairs "
    "oracle/recall baseline (O(n²) by construction, small-SF only); the "
    "scale path is q_ann_neardup_lsh. The `baseline` tag is enforced: "
    "the operator raises above baseline_cap rows without explicit "
    "opt-in, and bench.py excludes baseline-tagged queries from the "
    "headline set.",
    tags=("similarity", "dedup", "baseline"),
)
def q_ann_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return embedding_neardup_pairs(load_table(spark, sf_dir, "embeddings"), threshold=0.4)


def _neardup_lsh_oracle() -> str:
    """q_ann_neardup_lsh's DuckDB twin. The query's banding tracks
    corpus size via auto_banding(n), so the oracle embeds BOTH
    verification parameterizations — (3 planes, 12 tables) at the 500-
    vector sf0.01 fixture and (5, 20) at the 2000-vector sf0.1 fixture —
    and selects by corpus count. Any OTHER corpus size raises a DuckDB
    error() naming the cause (so a regenerated fixture with a new
    cardinality can never silently de-fang the oracle into a zero-pair
    row-count mismatch); the driver gates at sf0.01 and the builder's sweep adds
    sf0.1, so both verification domains are covered. The mean-relative
    hot-bucket cap (drop buckets > 8×avg) is plain integer-count
    arithmetic — exactly reproducible."""
    from c_tran_data_pipeline_spark.operators.similarity import auto_banding

    n1, n2 = 500, 2000  # fixture embedding counts at sf0.01 / sf0.1
    (p1, t1), (p2, t2) = auto_banding(n1), auto_banding(n2)
    return f"""
    WITH n AS (SELECT COUNT(*) AS cnt FROM embeddings),
    buck AS (
        SELECT vec_id, t AS tbl,
               CASE (SELECT cnt FROM n)
                    WHEN {n1} THEN (CASE t {_multi_bucket_case_sql(p1, t1)} END)
                    WHEN {n2} THEN (CASE t {_multi_bucket_case_sql(p2, t2)} END)
                    ELSE CAST(error('q_ann_neardup_lsh oracle: unexpected '
                         || 'embeddings count ' || (SELECT cnt FROM n)
                         || ' — oracle embeds auto_banding only for '
                         || '{n1}/{n2}; regenerate via _neardup_lsh_oracle')
                         AS BIGINT)
                    END AS bucket
        FROM embeddings, range({max(t1, t2)}) r(t)
        WHERE t < (CASE (SELECT cnt FROM n) WHEN {n1} THEN {t1} ELSE {t2} END)
    ),
    sizes AS (SELECT tbl, bucket, COUNT(*) AS bsz FROM buck GROUP BY 1, 2),
    keep AS (SELECT tbl, bucket FROM sizes
             WHERE bsz <= 8.0 * (SELECT AVG(bsz) FROM sizes)),
    bk AS (SELECT b.* FROM buck b JOIN keep USING (tbl, bucket)),
    cand AS (
        SELECT DISTINCT l.vec_id AS d1, r.vec_id AS d2
        FROM bk l JOIN bk r ON l.tbl = r.tbl AND l.bucket = r.bucket
                           AND l.vec_id < r.vec_id
    ),
    scored AS (
        SELECT d1, d2,
               list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                      CAST(b.embedding AS DOUBLE[])) AS cos
        FROM cand JOIN embeddings a ON a.vec_id = cand.d1
                  JOIN embeddings b ON b.vec_id = cand.d2
    )
    SELECT d1, d2, ROUND(cos, 4) AS cosine FROM scored WHERE cos >= 0.4
    """


@query(
    "q_ann_neardup_lsh",
    _neardup_lsh_oracle(),
    doc="Scalable embedding near-dup: multi-table LSH banding "
    "(auto_banding tracks corpus size: 12 tables × 3 planes at the "
    "oracle SF → measured recall 0.985 at threshold 0.4) → candidate "
    "pairs share a (table, bucket) equi-join key → exact cosine re-rank "
    "≥ 0.4. Never all-pairs; hot buckets capped at 8× the mean bucket "
    "size. EXACT oracle since r7 — 'approximate' is w.r.t. the true "
    "pair set (recall ≥ 0.9 and precision == 1.0 vs q_ann_neardup in "
    "tests/test_similarity.py); the algorithm itself is deterministic, "
    "and the oracle replays the literal sign matrix, sequential-fold "
    "bucket bits, mean-relative cap, and cosine re-rank for BOTH "
    "fixture bandings (size-CASE), verified value-exact at sf0.01 AND "
    "sf0.1.",
    tags=("similarity", "dedup"),
)
def q_ann_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from c_tran_data_pipeline_spark.operators.similarity import auto_banding

    emb = load_table(spark, sf_dir, "embeddings")
    # Banding must track corpus size or bucket occupancy (and with it
    # candidate volume) grows linearly and the join goes quadratic; at
    # the 500-vector oracle SF this resolves to the tuned (3, 12).
    planes, tables = auto_banding(emb.count())
    return embedding_neardup_pairs_lsh(
        emb, threshold=0.4, planes=planes, tables=tables, dim=64
    )


_COS32 = (
    "list_cosine_similarity(CAST(a.embedding[1:32] AS DOUBLE[]), "
    "CAST(b.embedding[1:32] AS DOUBLE[]))"
)


@query(
    "q_ann_mrl_topk",
    f"""
    WITH tr AS (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, {_COS32} AS tcos
        FROM embeddings a JOIN embeddings b ON a.vec_id != b.vec_id
        WHERE a.vec_id < 20
    ),
    short AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY tcos DESC, neighbor_id ASC) AS rn
            FROM tr) WHERE rn <= 24
    ),
    ex AS (
        SELECT s.query_id, s.neighbor_id, {_COS} AS cos
        FROM short s
        JOIN embeddings a ON a.vec_id = s.query_id
        JOIN embeddings b ON b.vec_id = s.neighbor_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id, cos,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id ASC) AS rank
        FROM ex
    )
    SELECT query_id, neighbor_id, rank, ROUND(cos, 4) AS cosine
    FROM ranked WHERE rank <= 3
    """,
    doc="Matryoshka (MRL) two-stage ANN (operators/similarity.py "
    "mrl_topk): shortlist top-24 by cosine over the FIRST 32 of 64 dims "
    "(2× less compute/scan bandwidth — the dimension-axis twin of the "
    "int8/PQ precision levers), exact full-vector re-rank to top-3. "
    "Cosine is scale-invariant so the prefix slice needs no re-norm and "
    "the whole cascade has an EXACT SQL oracle — unlike LSH/IVF whose "
    "bucketing is probabilistic. Full vectors drop before the shortlist "
    "window shuffle; only shortlist×|queries| rows rejoin the corpus.",
    tags=("similarity", "topk"),
)
def q_ann_mrl_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from c_tran_data_pipeline_spark.operators.similarity import mrl_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return mrl_topk(emb, emb.filter(F.col("vec_id") < 20), k=3, prefix_dims=32, shortlist=8)


@query(
    "q_label_centroids",
    """
    WITH pos AS (
        SELECT label,
               unnest(list_transform(CAST(embedding AS DOUBLE[]),
                                     (x, i) -> {'x': x, 'i': i})) AS s
        FROM embeddings
    )
    SELECT label, CAST(s.i - 1 AS BIGINT) AS dim,
           COUNT(*) AS n_vecs,
           ROUND(CAST(SUM(CAST(s.x AS DECIMAL(30,10))) AS DOUBLE) / COUNT(*), 6) AS mean
    FROM pos GROUP BY 1, 2
    """,
    doc="operators/similarity.py label_centroids: per-label element-wise "
    "embedding mean (class centroids) in long (label, dim) form. "
    "posexplode fan-out, map-side partial agg to |labels|×dim sums "
    "before the one exchange — vectors never shuffle; DECIMAL-exact "
    "sums cast to DOUBLE make the mean associativity-proof.",
    tags=("similarity", "agg"),
)
def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    return label_centroids(load_table(spark, sf_dir, "embeddings"))


def _bucket_sql(planes: int = 8) -> str:
    """DuckDB twin of operators.similarity.hyperplane_lsh_buckets: the
    md5 sign of each (plane, dim) computed per row in SQL, where the
    engine embeds the same signs as a literal matrix (_sign_rows_sql)."""
    terms = []
    for j in range(planes):
        sign = (
            f"CASE WHEN CAST('0x' || substr(md5(concat({j}, ',', i - 1)), 1, 15) AS BIGINT) % 2 = 0 "
            f"THEN 1.0 ELSE -1.0 END"
        )
        proj = (
            f"list_reduce(list_prepend(CAST(0 AS DOUBLE), "
            f"list_transform(CAST(embedding AS DOUBLE[]), (x, i) -> x * ({sign}))), "
            f"(acc, x) -> acc + x)"
        )
        terms.append(f"CASE WHEN ({proj}) > 0 THEN CAST({1 << j} AS BIGINT) ELSE 0 END")
    return " + ".join(terms)


@query(
    "q_ann_lsh_buckets",
    f"""
    SELECT vec_id, {_bucket_sql(8)} AS bucket
    FROM embeddings
    """,
    doc="Random-hyperplane (Charikar) LSH bucket ids: 8 md5-derived ±1 "
    "planes, bit = sign of projection. Deterministic, no stored plane "
    "matrix; the ANN candidate join keys on this bucket.",
    tags=("similarity",),
)
def q_ann_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hyperplane_lsh_buckets(load_table(spark, sf_dir, "embeddings"), planes=8, dim=64).select(
        "vec_id", "bucket"
    )


_LSH_TOPK_ORACLE = f"""
    WITH buck AS (
        SELECT vec_id, CASE t {_multi_bucket_case_sql(4, 8)} END AS bucket, t AS tbl
        FROM embeddings, range(8) r(t)
    ), cand AS (
        SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
        FROM buck q JOIN buck c ON q.tbl = c.tbl AND q.bucket = c.bucket
        WHERE q.vec_id < 20 AND c.vec_id != q.vec_id
    ), scored AS (
        SELECT query_id, neighbor_id,
               list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                      CAST(b.embedding AS DOUBLE[])) AS cos
        FROM cand JOIN embeddings a ON a.vec_id = cand.query_id
                  JOIN embeddings b ON b.vec_id = cand.neighbor_id
    ), ranked AS (
        SELECT query_id, neighbor_id, cos,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id ASC) AS rank
        FROM scored
    )
    SELECT query_id, neighbor_id, rank, ROUND(cos, 4) AS cosine
    FROM ranked WHERE rank <= 3
    """


@query(
    "q_ann_lsh_topk",
    _LSH_TOPK_ORACLE,
    doc="LSH-bucketed approximate top-3: candidates share any of the "
    "query's 8 table buckets (4 planes each), exact cosine re-ranks. "
    "EXACT oracle since r7 — 'approximate' means approximate w.r.t. "
    "the true neighbors (recall measured vs cosine_topk in "
    "tests/test_similarity.py), but the ALGORITHM is fully "
    "deterministic: the ±1 sign matrix is md5 parity embedded as "
    "literals on both engines, the bucket-bit projections replay the "
    "same sequential fold, and the candidate set + cosine re-rank are "
    "plain relational algebra, so DuckDB reproduces the output "
    "value-exactly at any SF (verified sf0.01 AND sf0.1).",
    tags=("similarity", "topk"),
)
def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return ann_lsh_topk(emb, emb.filter(F.col("vec_id") < 20), k=3, planes=4, tables=8, dim=64)


@query(
    "q_ann_ivf_topk",
    None,  # approximate by construction; nprobe==nlist exactness + recall in tests
    doc="IVF approximate top-3 (FAISS IndexIVFFlat shape): deterministic "
    "LSH-seeded k-means coarse quantizer (nlist=16 cells, 2 Lloyd steps), "
    "queries probe their 4 nearest cells, exact cosine re-ranks. Rows-only "
    "driver check; tests/test_similarity.py pins nprobe==nlist == exact "
    "brute force and measures recall at nprobe=4.",
    tags=("similarity", "topk"),
)
def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # iters=1: one Lloyd refinement gives recall ~0.5 at nprobe=4/16 on
    # the fixture while saving a full corpus pass per extra iteration.
    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_topk(emb, emb.filter(F.col("vec_id") < 20), k=3, nlist=16, nprobe=4, iters=1, dim=64)


@query(
    "q_hybrid_search",
    r"""
    WITH toks AS (
        SELECT doc_id, unnest(list_distinct(string_split_regex(trim(text), '\s+'))) AS tok
        FROM documents
    ),
    hot AS (SELECT tok FROM toks GROUP BY tok
            HAVING COUNT(*) > 0.2 * (SELECT COUNT(*) FROM documents)),
    toks_f AS (SELECT * FROM toks ANTI JOIN hot USING (tok)),
    qt AS (SELECT * FROM toks_f WHERE doc_id < 5),
    overlap AS (
        SELECT qt.doc_id AS query_id, t.doc_id AS cand, COUNT(*) AS n_common
        FROM qt JOIN toks_f t USING (tok)
        WHERE t.doc_id != qt.doc_id
        GROUP BY 1, 2
    ),
    rt AS (
        SELECT query_id, cand,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY n_common DESC, cand) AS rnk
        FROM overlap
    ),
    ve AS (
        SELECT a.vec_id AS query_id, b.vec_id AS cand,
               list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                      CAST(b.embedding AS DOUBLE[])) AS cos
        FROM embeddings a JOIN embeddings b ON b.vec_id != a.vec_id
        WHERE a.vec_id < 5
    ),
    rv AS (
        SELECT query_id, cand,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, cand) AS rnk
        FROM ve
    ),
    fused AS (
        SELECT COALESCE(rt.query_id, rv.query_id) AS query_id,
               COALESCE(rt.cand, rv.cand) AS neighbor_id,
               COALESCE(1.0 / (60 + rt.rnk), 0) + COALESCE(1.0 / (60 + rv.rnk), 0) AS rrf
        FROM rt FULL JOIN rv ON rt.query_id = rv.query_id AND rt.cand = rv.cand
    )
    SELECT query_id, neighbor_id, rank, ROUND(rrf, 6) AS rrf FROM (
        SELECT query_id, neighbor_id, rrf,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rrf DESC, neighbor_id) AS rank
        FROM fused
    ) WHERE rank <= 5
    """,
    doc="Hybrid retrieval: lexical ranking (distinct-token overlap via "
    "inverted-index join — the BM25 shape) and dense ranking (exact "
    "embedding cosine) fused with reciprocal rank fusion "
    "(1/(60+rank), the standard RRF constant), top-5 per query. The "
    "modern two-tower retrieval pattern as one declarative plan over "
    "the documents + embeddings tables; each leg is the scalable form "
    "already proven by q_dedup_ngram_jaccard / q_ann_topk. The lexical "
    "leg drops tokens with document frequency > 20% of the corpus "
    "BEFORE the inverted-index join (same skew guard as ngram "
    "max_shingle_df, applied identically in the oracle): a stopword "
    "appearing in every doc would otherwise emit |queries|×|corpus| "
    "join rows. The threshold is RELATIVE by design: the number of "
    "tokens with df > f·N is bounded by avg_doc_len/f — constant in "
    "corpus size — so the broadcast hot list stays bytes-sized at any "
    "scale, where an absolute cutoff (df > 100) grows linearly with N.",
    tags=("similarity", "text", "topk", "hybrid"),
)
def q_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from c_tran_data_pipeline_spark.functions.text import words
    from c_tran_data_pipeline_spark.operators.similarity import _as_double, dot, norm

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")

    toks = docs.select(
        "doc_id", F.explode(F.array_distinct(words("text"))).alias("tok")
    )
    # Hot-token guard: drop tokens present in >20% of docs before the
    # inverted-index join (broadcast anti-join on the tiny hot-token
    # list). Without it a corpus-wide stopword makes the join quadratic
    # in corpus size. Relative threshold ⇒ the hot list is bounded by
    # avg_doc_len/0.2 tokens — constant in corpus size, broadcast-safe.
    n_docs = docs.count()  # scalar; at scale a cheap metadata count
    hot = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > 0.2 * n_docs)
    )
    toks = toks.join(F.broadcast(hot.select("tok")), on="tok", how="left_anti")
    qt = toks.filter(F.col("doc_id") < 5).select(
        F.col("doc_id").alias("query_id"), "tok"
    )
    overlap = (
        qt.join(toks, on="tok")
        .filter(F.col("doc_id") != F.col("query_id"))
        .groupBy("query_id", F.col("doc_id").alias("cand"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    wt = Window.partitionBy("query_id").orderBy(F.col("n_common").desc(), F.col("cand").asc())
    rt = overlap.select("query_id", "cand", F.row_number().over(wt).alias("rnk_t"))

    # norms hoisted per side, not per pair (see cosine_topk)
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), _as_double(F.col("embedding")).alias("__qv")
    ).withColumn("__qn", norm(F.col("__qv")))
    c = emb.select(
        F.col("vec_id").alias("cand"), _as_double(F.col("embedding")).alias("__cv")
    ).withColumn("__cn", norm(F.col("__cv")))
    ve = (
        c.join(F.broadcast(q), F.col("cand") != F.col("query_id"))
        .select(
            "query_id",
            "cand",
            (dot(F.col("__qv"), F.col("__cv")) / (F.col("__qn") * F.col("__cn"))).alias(
                "cos"
            ),
        )
    )
    wv = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("cand").asc())
    rv = ve.select("query_id", "cand", F.row_number().over(wv).alias("rnk_v"))

    fused = (
        rt.join(rv, on=["query_id", "cand"], how="full")
        .select(
            "query_id",
            F.col("cand").alias("neighbor_id"),
            (
                F.coalesce(F.lit(1.0) / (60 + F.col("rnk_t")), F.lit(0.0))
                + F.coalesce(F.lit(1.0) / (60 + F.col("rnk_v")), F.lit(0.0))
            ).alias("rrf"),
        )
    )
    wf = Window.partitionBy("query_id").orderBy(F.col("rrf").desc(), F.col("neighbor_id").asc())
    return (
        fused.withColumn("rank", F.row_number().over(wf))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", "rank", F.round("rrf", 6).alias("rrf"))
    )


@query(
    "q_quantize_embeddings",
    r"""
    WITH ex AS (
        SELECT vec_id, u.dim AS dim, u.v AS v
        FROM (SELECT vec_id, unnest(list_transform(generate_series(1, len(embedding)),
                     i -> {'dim': CAST(i AS INT), 'v': CAST(embedding[i] AS DOUBLE)})) AS u
              FROM embeddings)
    ),
    scales AS (SELECT dim, max(abs(v))/127 AS s FROM ex GROUP BY 1)
    SELECT vec_id, ex.dim AS dim,
           CAST(greatest(-127, least(127, CAST(floor(v/s + 0.5) AS INT))) AS INT) AS q
    FROM ex JOIN scales ON ex.dim = scales.dim
    """,
    doc="Per-dimension symmetric int8 quantization (operators/quantize.py "
    "quantize_per_dim — the FAISS SQ8 shape): scale_d = max|v_d|/127 from "
    "one 64-group partial-aggregated shuffle, broadcast back onto the "
    "fan-out; codes are floor(v/s+0.5) — half-up via floor because "
    "round() half-even/half-away conventions differ across engines. "
    "float32->int8 is the 4x memory/bandwidth lever for vector search at "
    "100 TB. Exact long-form oracle: every one of the 64xN codes is "
    "bit-compared.",
    tags=("similarity", "quantize"),
)
def q_quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from c_tran_data_pipeline_spark.operators.quantize import quantize_per_dim

    emb = load_table(spark, sf_dir, "embeddings")
    return quantize_per_dim(emb)


@query(
    "q_ann_topk_int8",
    r"""
    WITH mx AS (
        SELECT max(list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))))/127 AS s
        FROM embeddings
    ),
    qv AS (
        SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
               x -> greatest(-127, least(127, CAST(floor(x/s + 0.5) AS INT)))) AS q
        FROM embeddings, mx
    ),
    ex AS (
        SELECT vec_id, u.d AS d, u.q AS q
        FROM (SELECT vec_id, unnest(list_transform(generate_series(1, len(q)),
                     i -> {'d': i, 'q': q[i]})) AS u FROM qv)
    ),
    norms AS (SELECT vec_id, sqrt(CAST(SUM(q*q) AS DOUBLE)) AS nq FROM ex GROUP BY 1),
    dots AS (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, CAST(SUM(a.q*b.q) AS DOUBLE) AS dq
        FROM ex a JOIN ex b ON a.d = b.d AND a.vec_id <> b.vec_id
        WHERE a.vec_id < 20
        GROUP BY 1, 2
    ),
    scored AS (
        SELECT query_id, neighbor_id, dq/(na.nq*nb.nq) AS cos
        FROM dots JOIN norms na ON na.vec_id = query_id JOIN norms nb ON nb.vec_id = neighbor_id
    ),
    ranked AS (SELECT query_id, neighbor_id, cos,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
               FROM scored)
    SELECT query_id, neighbor_id, rank, ROUND(cos, 4) AS cosine FROM ranked WHERE rank <= 3
    """,
    doc="Top-3 ANN on per-tensor int8 codes (operators/quantize.py "
    "int8_cosine_topk): with ONE scale s, cosine = sum(qa*qb) / "
    "(sqrt(sum(qa^2))*sqrt(sum(qb^2))) — s cancels, so the score is pure "
    "integer math until the final divide and the ranking is reproducible "
    "under ANY partitioning or fold order. That is why this approximate "
    "path can carry an EXACT value-hash oracle (the float fold path needs "
    "ROUND to absorb fold-order drift). Same physical shape as q_ann_topk "
    "(broadcast queries x one corpus scan, window top-k) at 1/4 the vector "
    "bytes; recall vs float cosine pinned in tests/test_similarity.py.",
    tags=("similarity", "topk", "quantize"),
)
def q_ann_topk_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    from c_tran_data_pipeline_spark.operators.quantize import int8_cosine_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return int8_cosine_topk(emb, emb.filter(F.col("vec_id") < 20), k=3)


@query(
    "q_ann_pq_topk",
    None,  # codebooks from iterative k-means; ADC ranking is approximate —
    # recall floors vs exact L2 pinned in tests/test_pq.py
    doc="Product-quantization ANN (FAISS IndexPQ shape, operators/pq.py): "
    "8 subspaces × 16 deterministic k-means sub-centroids encode each "
    "64-dim vector as 8 codes (4 bytes — 64× compression, the 'corpus "
    "fits in memory' lever at 100 TB). Search is ADC with the per-query "
    "lookup table hoisted BEFORE the broadcast join (computed after it, "
    "the table would re-evaluate per pair and buy nothing), then an "
    "exact re-rank over the k×8 shortlist touches true vectors for "
    "shortlist rows only. Rows-only driver check; recall floors and the "
    "compression invariant live in tests/test_pq.py.",
    tags=("similarity", "topk", "quantize"),
)
def q_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from c_tran_data_pipeline_spark.operators.pq import pq_topk, train_pq

    emb = load_table(spark, sf_dir, "embeddings")
    books = train_pq(emb, m=8, ksub=16, dim=64)
    return pq_topk(emb, emb.filter(F.col("vec_id") < 20), books, k=3, rerank_factor=8)


@query(
    "q_decontaminate_semantic",
    f"""
    WITH ev AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 20),
    scored AS (
        SELECT b.vec_id AS doc_id, a.vec_id AS eval_id, {_COS} AS cos
        FROM ev a JOIN embeddings b ON b.vec_id >= 20
    ),
    best AS (
        SELECT doc_id, cos, eval_id,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY cos DESC, eval_id ASC) AS rn
        FROM scored
    )
    SELECT doc_id, ROUND(cos, 4) AS max_cos, eval_id AS nearest_eval
    FROM best WHERE rn = 1 AND cos >= 0.3
    """,
    doc="Semantic decontamination — the embedding-space twin of the "
    "n-gram q_decontaminate (paraphrased benchmark leakage that shares "
    "no 5-gram): train vectors whose cosine to ANY eval/benchmark vector "
    "clears a threshold, with the nearest eval item for audit. Eval sets "
    "are small by construction, so the eval side BROADCASTS against one "
    "corpus scan (the q_ann_topk shape with the roles flipped); the "
    "corpus never self-joins. Emitted pairs carry exact re-computed "
    "cosine — precision exact, like every re-ranked path here.",
    tags=("similarity", "curation"),
)
def q_decontaminate_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from c_tran_data_pipeline_spark.operators.similarity import _as_double, dot, norm

    emb = load_table(spark, sf_dir, "embeddings")
    # norms hoisted per side, not per pair (see cosine_topk)
    ev = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("eval_id"), _as_double(F.col("embedding")).alias("__ev")
    ).withColumn("__en", norm(F.col("__ev")))
    train = emb.filter(F.col("vec_id") >= 20).select(
        F.col("vec_id").alias("doc_id"), _as_double(F.col("embedding")).alias("__tv")
    ).withColumn("__tn", norm(F.col("__tv")))
    scored = train.join(F.broadcast(ev)).select(
        "doc_id",
        "eval_id",
        (dot(F.col("__ev"), F.col("__tv")) / (F.col("__en") * F.col("__tn"))).alias(
            "__cos"
        ),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("__cos").desc(), F.col("eval_id").asc())
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter((F.col("__rn") == 1) & (F.col("__cos") >= 0.3))
        .select("doc_id", F.round("__cos", 4).alias("max_cos"), F.col("eval_id").alias("nearest_eval"))
    )


@query(
    "q_neardup_degree",
    f"""
    WITH pairs AS (
        SELECT a.vec_id AS d1, b.vec_id AS d2
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE {_COS} >= 0.4
    ), deg AS (
        SELECT id, COUNT(*) AS degree
        FROM (SELECT d1 AS id FROM pairs UNION ALL SELECT d2 AS id FROM pairs)
        GROUP BY 1
    )
    SELECT degree, COUNT(*) AS n_docs
    FROM deg GROUP BY 1
    """,
    doc="Near-dup graph degree distribution — the diagnostic that decides "
    "whether dedup should drop pairs or whole clusters (a fat-tailed "
    "degree histogram means template spam; an all-degree-1 one means "
    "benign mirrors). Composes the exact pair generator with a "
    "union-all degree count and a second tiny agg; at scale the pair "
    "input swaps to embedding_neardup_pairs_lsh (same (d1, d2) "
    "contract) and the degree agg is partial-first either way — the "
    "histogram shuffle is |distinct degrees| rows.",
    tags=("similarity", "dedup", "report", "baseline"),
)
def q_neardup_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = embedding_neardup_pairs(emb, threshold=0.4).select("d1", "d2")
    ends = pairs.select(F.col("d1").alias("id")).unionAll(
        pairs.select(F.col("d2").alias("id"))
    )
    deg = ends.groupBy("id").agg(F.count(F.lit(1)).alias("degree"))
    return deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_docs"))


@query(
    "q_negative_samples",
    f"""
    WITH scored AS (
        SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
               {_COS} AS cos
        FROM embeddings a JOIN embeddings b ON a.vec_id != b.vec_id
        WHERE a.vec_id < 20
    ), ranked AS (
        SELECT query_id, cand_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, cand_id ASC) AS rank
        FROM scored
    ), negs AS (
        SELECT r.query_id, r.cand_id,
               ROW_NUMBER() OVER (PARTITION BY r.query_id
                                  ORDER BY md5(concat(r.query_id, ':', r.cand_id)) ASC,
                                           r.cand_id ASC) AS neg_rank
        FROM ranked r WHERE r.rank > 10
    )
    SELECT query_id, cand_id AS neg_id, neg_rank
    FROM negs WHERE neg_rank <= 3
    """,
    doc="Deterministic negative sampling for contrastive training: per "
    "query, 3 pseudo-random corpus vectors drawn OUTSIDE its cosine "
    "top-10 (hard-positive exclusion), ordered by md5(query:candidate) "
    "— reproducible across runs, partitionings, and engines, no RNG "
    "state to ship. Spark plan: the exclusion set comes from "
    "cosine_topk (broadcast queries × one corpus scan); candidates "
    "anti-join it CARRYING IDS ONLY, and the md5 draw is a window "
    "over |queries|×|corpus| id pairs — vectors never enter the "
    "sampling stage. At billion-scale corpora swap the exact top-k "
    "for the LSH/IVF shortlist (same exclusion contract) and sample "
    "from a hash-bucketed candidate slice instead of the full "
    "cross product.",
    tags=("similarity", "sampling", "training"),
)
def q_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    topk = cosine_topk(emb, queries, k=10).select("query_id", F.col("neighbor_id").alias("cand_id"))
    cands = (
        emb.select(F.col("vec_id").alias("cand_id"))
        .crossJoin(F.broadcast(queries.select(F.col("vec_id").alias("query_id"))))
        .filter(F.col("cand_id") != F.col("query_id"))
    )
    negs = cands.join(F.broadcast(topk), ["query_id", "cand_id"], "left_anti")
    draw = F.md5(F.concat_ws(":", F.col("query_id"), F.col("cand_id")))
    w = Window.partitionBy("query_id").orderBy(draw.asc(), F.col("cand_id").asc())
    return (
        negs.withColumn("neg_rank", F.row_number().over(w))
        .filter(F.col("neg_rank") <= 3)
        .select("query_id", F.col("cand_id").alias("neg_id"), "neg_rank")
    )


@query(
    "q_retrieval_metrics",
    f"""
    WITH mx AS (
        SELECT max(list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))))/127 AS s
        FROM embeddings
    ),
    qv AS (
        SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
               x -> greatest(-127, least(127, CAST(floor(x/s + 0.5) AS INT)))) AS q
        FROM embeddings, mx
    ),
    ex8 AS (
        SELECT vec_id, u.d AS d, u.q AS q
        FROM (SELECT vec_id, unnest(list_transform(generate_series(1, len(q)),
                     i -> {{'d': i, 'q': q[i]}})) AS u FROM qv)
    ),
    norms AS (SELECT vec_id, sqrt(CAST(SUM(q*q) AS DOUBLE)) AS nq FROM ex8 GROUP BY 1),
    dots AS (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, CAST(SUM(a.q*b.q) AS DOUBLE) AS dq
        FROM ex8 a JOIN ex8 b ON a.d = b.d AND a.vec_id <> b.vec_id
        WHERE a.vec_id < 20
        GROUP BY 1, 2
    ),
    ranked8 AS (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY dq/(na.nq*nb.nq) DESC, neighbor_id ASC) AS rank
        FROM dots JOIN norms na ON na.vec_id = query_id
                  JOIN norms nb ON nb.vec_id = neighbor_id
    ),
    approx AS (SELECT query_id, neighbor_id, rank FROM ranked8 WHERE rank <= 3),
    scoredf AS (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, {_COS} AS cos
        FROM embeddings a JOIN embeddings b ON a.vec_id != b.vec_id
        WHERE a.vec_id < 20
    ),
    exact AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cos DESC, neighbor_id ASC) AS rank
            FROM scoredf)
        WHERE rank <= 3
    ),
    hits AS (
        SELECT a.query_id, a.rank
        FROM approx a JOIN exact e
          ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    )
    SELECT q.query_id,
           COALESCE(h.n_hits, 0) AS n_hits,
           COALESCE(h.n_hits, 0) / 3.0 AS recall_at_3,
           COALESCE(h.rr, 0.0) AS reciprocal_rank
    FROM (SELECT vec_id AS query_id FROM embeddings WHERE vec_id < 20) q
    LEFT JOIN (SELECT query_id, COUNT(*) AS n_hits, MAX(1.0/rank) AS rr
               FROM hits GROUP BY 1) h USING (query_id)
    """,
    doc="Retrieval-quality evaluation harness: per-query recall@3 and "
    "reciprocal rank of the int8-quantized ANN against the exact float "
    "ranking — the 'how much recall does 4x compression cost' audit a "
    "retrieval pipeline runs before swapping in a cheaper index. Both "
    "legs are already exact-oracled queries (q_ann_topk_int8 / "
    "q_ann_topk), so the metric itself carries a full exact SQL oracle "
    "— rare for an EVAL query, possible here because both rankings are "
    "deterministic. Spark plan: two broadcast-query-batch corpus scans "
    "(each linear), an id-pair hash join, and a |queries|-row agg — "
    "metric cost is dominated by the two scans it measures. The metric "
    "floats (n/3.0, 1.0/rank, max-fold) are exact IEEE in both engines.",
    tags=("similarity", "topk", "quantize", "eval"),
)
def q_retrieval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from c_tran_data_pipeline_spark.operators.quantize import int8_cosine_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    approx = int8_cosine_topk(emb, queries, k=3).select("query_id", "neighbor_id", "rank")
    exact = cosine_topk(emb, queries, k=3).select("query_id", "neighbor_id")
    hits = approx.join(exact, ["query_id", "neighbor_id"])
    per_q = hits.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_hits"),
        F.max(F.lit(1.0) / F.col("rank")).alias("rr"),
    )
    base = queries.select(F.col("vec_id").alias("query_id"))
    return base.join(per_q, "query_id", "left_outer").select(
        "query_id",
        F.coalesce(F.col("n_hits"), F.lit(0).cast("long")).alias("n_hits"),
        (F.coalesce(F.col("n_hits"), F.lit(0).cast("long")) / F.lit(3.0)).alias("recall_at_3"),
        F.coalesce(F.col("rr"), F.lit(0.0)).alias("reciprocal_rank"),
    )


@query(
    "q_ann_ivfpq_topk",
    None,  # both quantizers approximate — recall ladder + nprobe==nlist
    # equivalence pinned in tests/test_pq.py
    doc="IVF-PQ ANN (FAISS IndexIVFPQ shape, operators/pq.py "
    "ivfpq_topk) — the production-default composition of the two "
    "pruning axes: the IVF coarse quantizer prunes WHICH rows each "
    "query scores (nprobe of nlist cells), PQ codes prune HOW MANY "
    "BYTES each scoring touches (ADC table lookups, 64x compression), "
    "and an exact re-rank of the k×8 shortlist restores precision. "
    "Trains the coarse quantizer per call, encodes the corpus in ONE "
    "projection (encode_ivfpq: id, codes, vector, cell, with centroids "
    "and codebooks as literals — assignment and encoding join nothing) "
    "and searches it with ivfpq_search, the body q_ann_ivfpq_search "
    "runs over the persisted index. tests/test_pq.py pins recall floors, the "
    "probe-more-never-hurts ladder, and nprobe==nlist ≡ whole-corpus "
    "re-ranked PQ.",
    tags=("similarity", "topk", "quantize"),
)
def q_ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from c_tran_data_pipeline_spark.operators.pq import ivfpq_topk, train_pq

    emb = load_table(spark, sf_dir, "embeddings")
    books = train_pq(emb, m=8, ksub=16, dim=64)
    return ivfpq_topk(
        emb, emb.filter(F.col("vec_id") < 20), books, k=3, nlist=16, nprobe=4, rerank_factor=8
    )


# The ONE recipe every persisted-index consumer shares; the cache path
# and the sidecar's meta are keyed on it (session.cached_artifact).
# train_sample_mod=4: both quantizers train on a deterministic 1/4
# hash-sample of the corpus (train-on-sample, assign-full-corpus — the
# standard IVF recipe); encoding still covers every row.
_IVFPQ_PARAMS = {
    "m": 8,
    "ksub": 16,
    "nlist": 16,
    "iters": 2,
    "dim": 64,
    "train_sample_mod": 4,
    # cache-buster: centroids depend on the trainer implementation, so a
    # trainer change MUST invalidate persisted indexes built before it
    # (driver-lloyd-v2 = bounded-sample numpy Lloyd, round 6)
    "trainer": "driver-lloyd-v2",
}


def _ivfpq_index_for(emb: DataFrame):
    """Build an index over ``emb`` IN MEMORY with the canonical recipe —
    the single source of truth both committed caches, the registered
    build query, and the row-identity test twins all derive from."""
    from c_tran_data_pipeline_spark.operators.pq import deterministic_sample, ivfpq_index

    p = _IVFPQ_PARAMS
    return ivfpq_index(
        emb,
        m=p["m"],
        ksub=p["ksub"],
        nlist=p["nlist"],
        iters=p["iters"],
        dim=p["dim"],
        train_df=deterministic_sample(emb, mod=p["train_sample_mod"], key="vec_id"),
    )


def _ivfpq_recipe(spark: SparkSession, sf_dir: str) -> tuple:
    """Arguments of session.cached_artifact / build_artifact for the
    shared index: built by _ivfpq_index_for, committed sidecar-last with
    the recipe + fixture fingerprint as the sidecar's meta, read back
    with that meta validated."""
    from c_tran_data_pipeline_spark.operators.pq import read_ivfpq_index, write_ivfpq_index

    emb = load_table(spark, sf_dir, "embeddings")

    def build(tmp: str, meta: dict) -> None:
        write_ivfpq_index(_ivfpq_index_for(emb), tmp, meta=meta)

    def load(path: str, meta: dict):
        return read_ivfpq_index(spark, path, expect_meta=meta)

    return "ivfpq", sf_dir, "embeddings", _IVFPQ_PARAMS, build, load


@query(
    "q_ann_ivfpq_build",
    None,  # k-means + PQ codebook training — not SQL-expressible; the
    # summary's invariants (cell partition of the corpus, m codes/row)
    # are pinned in tests/test_pq.py
    doc="IVF-PQ index BUILD (operators/pq.py ivfpq_index + "
    "write_ivfpq_index): trains the coarse quantizer (nlist=16 "
    "md5-seeded k-means cells) and the PQ codebooks (8 subspaces × 16 "
    "sub-centroids) on a DETERMINISTIC 1/4 HASH-SAMPLE of the corpus "
    "(train-on-sample, assign-full-corpus — the standard IVF recipe; "
    "training is the only build stage that scans the corpus O(iters) "
    "times, so sampling is the build's dominant cost lever at scale), "
    "encodes the FULL corpus in ONE projection (id, codes, vector, "
    "cell — centroids/codebooks as literals, no joins), and persists "
    "it partitionBy(centroid_id) with a sidecar-last commit marker "
    "carrying the recipe + fixture fingerprint. Returns the per-cell row "
    "histogram read back FROM THE WRITTEN INDEX, so the query measures "
    "the full build+write+readback path. This is the amortization "
    "half of the q_ann_ivfpq_search split: train once here, search "
    "many there — the production shape the one-shot q_ann_ivfpq_topk "
    "(train-in-query, kept as the recall-audit form) deliberately "
    "is not.",
    tags=("similarity", "quantize", "index-build"),
)
def q_ann_ivfpq_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, _, encoded = build_artifact(*_ivfpq_recipe(spark, sf_dir))
    return (
        encoded.groupBy("centroid_id")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
        .orderBy("centroid_id")
    )


@query(
    "q_ann_ivfpq_search",
    None,  # both quantizers approximate — identical-result pin vs the
    # one-shot ivfpq_topk and the PartitionFilters assertion live in
    # tests/test_pq.py
    doc="IVF-PQ SEARCH against the persisted index (operators/pq.py "
    "ivfpq_search) — the amortized production path: zero training "
    "jobs; probes and ADC tables are projections over the 20-query "
    "batch with centroids/codebooks as literals; static cell pruning "
    "pushes the probed-cell union as a parquet PartitionFilter so "
    "BOTH index scans (codes-only ADC leg, vectors-for-shortlist "
    "re-rank leg) physically read nprobe=4 of nlist=16 cell "
    "directories. Builds the index once if absent/stale (sidecar "
    "recipe + fixture fingerprint mismatch), so a cold run pays the "
    "build exactly once and the bench measures the steady state. "
    "Results are row-identical to ivfpq_search over a freshly-built "
    "same-recipe index (deterministic sampled training) — pinned in "
    "tests/test_pq.py; q_ann_ivfpq_topk stays the full-train "
    "recall-audit twin.",
    tags=("similarity", "topk", "quantize"),
)
def q_ann_ivfpq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from c_tran_data_pipeline_spark.operators.pq import ivfpq_search

    idx = cached_artifact(*_ivfpq_recipe(spark, sf_dir))
    emb = load_table(spark, sf_dir, "embeddings")
    return ivfpq_search(
        idx, emb.filter(F.col("vec_id") < 20), k=3, nprobe=4, rerank_factor=8
    )


@query(
    "q_ann_pq_search",
    None,  # ADC is approximate — identical-result pin vs pq_topk with
    # the same sampled-trained codebooks in tests/test_pq.py
    doc="PQ ANN SEARCH with amortized codebooks (operators/pq.py "
    "pq_topk over the PERSISTED IVF-PQ index's codebooks — sampled "
    "deterministic training, so the codes and ranking are "
    "row-identical to pq_topk rerun with the same codebooks; the "
    "full-train q_ann_pq_topk stays registered as the recall-audit "
    "form): isolates the PQ "
    "compression axis (ADC over 8 codes/vector, whole-corpus scan, "
    "exact shortlist re-rank) with ZERO training jobs per query "
    "batch — the q_ann_ivfpq_search treatment applied to the "
    "IndexPQ shape. Builds the shared index once if absent/stale; "
    "the bench headline carries this entry so the PQ tier is "
    "measured amortized, like every production index.",
    tags=("similarity", "topk", "quantize"),
)
def q_ann_pq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from c_tran_data_pipeline_spark.operators.pq import pq_topk

    _, books, _ = cached_artifact(*_ivfpq_recipe(spark, sf_dir))
    emb = load_table(spark, sf_dir, "embeddings")
    return pq_topk(emb, emb.filter(F.col("vec_id") < 20), books, k=3, rerank_factor=8)


@query(
    "q_ann_ivf_search",
    None,  # approximate by construction — identical-result pin vs the
    # one-shot ivf_topk (same deterministic quantizer) in tests/test_pq.py
    doc="IVF-flat ANN SEARCH against the persisted index — the third "
    "consumer of the ONE shared index layout: read_ivfpq_index's "
    "encoded corpus carries (id, codes, vector, cell), which is a "
    "strict superset of the IVF-flat index, so the same "
    "partitionBy(centroid_id) table serves IVF-flat search (this "
    "query: probe 4/16 cells, exact-cosine re-rank of true vectors), "
    "IVF-PQ search (q_ann_ivfpq_search: ADC over codes), and PQ "
    "search (q_ann_pq_search: codebooks) — exactly how a production "
    "vector store amortizes one build across index flavors. Zero "
    "training jobs; static cell pruning → parquet PartitionFilters; "
    "row-identical to ivf_search over a freshly-built same-recipe "
    "index (sampled training is deterministic), pinned in tests.",
    tags=("similarity", "topk"),
)
def q_ann_ivf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from c_tran_data_pipeline_spark.operators.similarity import ivf_search

    cents, _, encoded = cached_artifact(*_ivfpq_recipe(spark, sf_dir))
    index = (cents, encoded.select("neighbor_id", "__cv", "centroid_id"))
    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_search(
        index, emb.filter(F.col("vec_id") < 20), k=3, nprobe=4, static_cell_pruning=True
    )


_IVFPQ80_PARAMS = {**_IVFPQ_PARAMS, "subset": "vec_id % 10 < 8"}


def _ensure_ivfpq80(spark: SparkSession, sf_dir: str) -> str:
    """Committed BASE index over the historical 80% of the corpus — the
    thing a daily-ingest user already has on disk before today's batch
    arrives. Built and validated like the shared index (same recipe on
    the subset, session.cached_artifact)."""
    from c_tran_data_pipeline_spark.operators.pq import _read_ivfpq_sidecar, write_ivfpq_index

    def load(path: str, meta: dict) -> str:
        # only a pristine single-generation base is reusable (a prior
        # crashed run may have committed appends into the cache copy)
        if _read_ivfpq_sidecar(path, meta)[0].get("generations") != ["g000000"]:
            raise ValueError(f"IVF-PQ base index at {path} was appended to")
        return path

    base = load_table(spark, sf_dir, "embeddings").filter(_IVFPQ80_PARAMS["subset"])

    def build(tmp: str, meta: dict) -> None:
        write_ivfpq_index(_ivfpq_index_for(base), tmp, meta=meta)

    return cached_artifact("ivfpq80", sf_dir, "embeddings", _IVFPQ80_PARAMS, build, load)


@query(
    "q_ann_ivfpq_append",
    None,  # the append path writes + reads a persisted index — not
    # SQL-expressible; the incremental == rebuild-equivalence pin, the
    # torn-generation commit protocol, and the drift trigger live in
    # tests/test_pq.py
    doc="Incremental IVF-PQ index MAINTENANCE (operators/pq.py "
    "ivfpq_append — VERDICT r8 #6): the daily-ingest cycle a "
    "production vector store runs. The base index over the historical "
    "80% of the corpus is committed once (sampled training happens "
    "only there); each call then copies that committed base to a "
    "working dir (so the cycle is idempotent per run), appends "
    "today's 20% batch with FROZEN quantizers — assign to existing "
    "cells, re-encode with the stored codebooks, land as a NEW "
    "generation dir under the partitionBy(centroid_id) layout, "
    "sidecar bump LAST as the commit marker — and searches the "
    "appended index (20 queries, k=3, nprobe=4, static cell pruning "
    "-> parquet PartitionFilters on every generation's scan). ZERO "
    "training jobs on the append path; per-batch cost scales with "
    "the BATCH, like the slice-store and semantic-store ingests. The "
    "cell-size drift trigger (any cell growing past drift_factor x "
    "overall growth raises IndexStaleError before writing) is "
    "exercised with allow_stale-off in tests/test_pq.py; here the "
    "uniform fixture batch is legitimately balanced, and appended "
    "search results are row-identical to a frozen-quantizer rebuild "
    "(pinned).",
    tags=("similarity", "topk", "quantize", "incremental"),
)
def q_ann_ivfpq_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob
    import os
    import shutil

    from c_tran_data_pipeline_spark.operators.pq import (
        ivfpq_append,
        ivfpq_search,
        read_ivfpq_index,
    )

    base_path = _ensure_ivfpq80(spark, sf_dir)
    # The returned frame reads this run's copy, so it stays behind; the
    # copies of processes that have exited are removed here.
    for copy in glob.glob(f"{glob.escape(base_path)}.append-*"):
        try:
            os.kill(int(copy.rsplit("-", 1)[1]), 0)
        except ProcessLookupError:
            shutil.rmtree(copy, ignore_errors=True)
        except (ValueError, PermissionError):
            pass  # not a pid suffix, or a live process of another user
    work = f"{base_path}.append-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    shutil.copytree(base_path, work)
    emb = load_table(spark, sf_dir, "embeddings")
    new = emb.filter(F.col("vec_id") % 10 >= 8)
    ivfpq_append(spark, work, new, drift_factor=8.0, allow_stale=True)
    idx = read_ivfpq_index(spark, work)
    return ivfpq_search(
        idx, emb.filter(F.col("vec_id") < 20), k=3, nprobe=4, rerank_factor=8
    )


_MMR_ORACLE = """
    WITH RECURSIVE topk AS (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                      CAST(b.embedding AS DOUBLE[])) AS cos
        FROM embeddings a JOIN embeddings b ON a.vec_id != b.vec_id
        WHERE a.vec_id < 20
    ), cands AS (
        SELECT query_id, neighbor_id, ROUND(cos, 4) AS relevance,
               CAST(e.embedding AS DOUBLE[]) AS emb
        FROM (SELECT query_id, neighbor_id, cos,
                     ROW_NUMBER() OVER (PARTITION BY query_id
                                        ORDER BY cos DESC, neighbor_id ASC) AS rank
              FROM topk) t
        JOIN embeddings e ON e.vec_id = t.neighbor_id WHERE rank <= 15
    ), mmr AS (
        -- greedy selection as a recursive CTE: state carries the picked
        -- ids AND their embeddings; each level re-scores the remaining
        -- candidates and takes the struct-max (score, then smallest id
        -- — the numpy argmax-first tie-break). maxsim clamps at 0.0
        -- because the operator initializes its running maximum at zero
        -- (negative cosines never penalize — documented in
        -- operators/rerank.py).
        SELECT query_id, 0 AS step, []::BIGINT[] AS sel_ids,
               []::DOUBLE[][] AS sel_vecs,
               CAST(NULL AS BIGINT) AS picked, CAST(NULL AS DOUBLE) AS score
        FROM (SELECT DISTINCT query_id FROM cands)
        UNION ALL
        SELECT query_id, step + 1, list_append(sel_ids, best.id),
               list_append(sel_vecs, best.emb), best.id, best.s
        FROM (
            SELECT g.query_id, g.step, g.sel_ids, g.sel_vecs,
                   max(struct_pack(
                       s := 0.7 * c.relevance - (1.0 - 0.7) * (
                            CASE WHEN g.step = 0 THEN 0.0
                            ELSE greatest(0.0, list_max(list_transform(g.sel_vecs,
                                     sv -> list_cosine_similarity(c.emb, sv)))) END),
                       nid := -c.neighbor_id, id := c.neighbor_id, emb := c.emb)) AS best
            FROM mmr g JOIN cands c ON c.query_id = g.query_id
                       AND NOT list_contains(g.sel_ids, c.neighbor_id)
            WHERE g.step < 5
            GROUP BY g.query_id, g.step, g.sel_ids, g.sel_vecs
        )
    )
    SELECT query_id, picked AS neighbor_id, step AS mmr_rank,
           ROUND(score, 6) AS mmr_score
    FROM mmr WHERE step >= 1
    """


@query(
    "q_mmr_rerank",
    _MMR_ORACLE,
    doc="Diversified retrieval: greedy Maximal Marginal Relevance "
    "(Carbonell & Goldstein 1998) over each query's exact top-15 "
    "candidates — pick 5 maximizing λ·relevance − (1−λ)·max-cosine to "
    "the already-picked, so near-duplicate passages don't crowd out "
    "coverage (the RAG/curation rerank stage). Scale split: candidate "
    "generation is the corpus-sized, equi-join-shaped part (here the "
    "exact-topk baseline; the LSH/IVF generators swap in at scale — "
    "same contract); the rerank is an Arrow-batched applyInPandas over "
    "per-query BOUNDED groups (N=15 rows → an N×N numpy cosine matrix "
    "+ k argmax sweeps, microseconds per group, embarrassingly "
    "parallel across queries). MMR never touches the corpus. "
    "Deterministic: id-sorted groups, first-wins argmax ties, "
    "fixed-order float64 — partition-layout invariant "
    "(tests/test_rerank.py pins the greedy trace against a pure-python "
    "replay and the diversity property itself). EXACT oracle since r7: "
    "the greedy loop replays as a DuckDB recursive CTE whose state "
    "carries the selected ids + embeddings per query (list-typed "
    "recursion state) — verified value-exact at sf0.01 AND sf0.1.",
    tags=("similarity", "topk", "rerank"),
)
def q_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from c_tran_data_pipeline_spark.operators.rerank import mmr_rerank

    emb = load_table(spark, sf_dir, "embeddings")
    cands = cosine_topk(emb, emb.filter(F.col("vec_id") < 20), k=15).select(
        "query_id", "neighbor_id", F.col("cosine").alias("relevance")
    )
    with_vecs = cands.join(
        emb.select(F.col("vec_id").alias("neighbor_id"), "embedding"),
        "neighbor_id",
    )
    out = mmr_rerank(with_vecs, k=5, lam=0.7)
    return out.select(
        "query_id", "neighbor_id", "mmr_rank", F.round("mmr_score", 6).alias("mmr_score")
    )


@query(
    "q_pca_project",
    None,  # IEEE partial-sum reductions — rows-only; exactness in pytest
    doc="Distributed PCA: one Arrow-batched pass computes per-partition "
    "(count, Σx, ΣxxT) partials merged by a keyed aggregate — only "
    "d(d+1)+1 doubles (~4 KB at d=64) reach the driver at ANY corpus "
    "size (bounded-driver-state class: PQ codebooks, IVF centroids) — "
    "then the 64×64 eigh runs driver-side and the top-2 components "
    "re-enter as a broadcast for the numpy projection pass. The "
    "whitening/corpus-map primitive for embedding curation. Rows-only "
    "by an honest float argument (partial Gram sums are "
    "partition-order IEEE reductions → tolerance-stable, not "
    "hash-stable); pytest pins projections against a full-matrix "
    "numpy replay, partition invariance within tolerance, component "
    "orthonormality and variance ordering.",
    tags=("similarity", "stats"),
)
def q_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    from c_tran_data_pipeline_spark.operators.pca import pca_project

    return pca_project(load_table(spark, sf_dir, "embeddings"))


@query(
    "q_semantic_dedup",
    None,  # k-means blocking — rows-only driver check; exactness pins
    # (nlist=1 ≡ brute-force clustering; precision 1.0; one
    # representative per cluster) in tests/test_similarity.py
    doc="SemDeDup (Abbas et al. 2023): deterministic IVF k-means blocks "
    "the embedding space into nlist Voronoi cells, candidate pairs come "
    "ONLY from within a cell (the cluster-blocking alternative to "
    "q_ann_neardup_lsh's banding), exact cosine ≥ 0.9 verifies, and "
    "connected components keep each cluster's min-id representative — "
    "the semantic-level dedup pass run AFTER exact/minhash dedup in "
    "modern pipelines (near-identical meaning, different surface form). "
    "A perturbed twin of every 10th vector is planted (deterministic "
    "per-dim epsilon, cosine ≈ 0.999 to its parent — the boilerplate-"
    "plant pattern), because SemDeDup's contract is HIGH-similarity "
    "duplicates: near-identical vectors share a nearest centroid almost "
    "surely, so cell blocking keeps recall ~1 exactly where the method "
    "promises it (the fixture's organic 0.40-0.48 'pairs' straddle "
    "cells and belong to the LSH path); each vector blocks into its "
    "nprobe=2 nearest cells (multi-probe) so boundary twins still meet. "
    "Per-row output (vec_id, cell, component, keep). Physical shape: "
    "k-means trains on a deterministic 1/4 hash-sample (IVF recipe); "
    "the pair stage is one numpy GEMM per cell via grouped-map Arrow "
    "(measured 10.5→4.2 s at sf0.1 vs the zip_with-dot self-join — "
    "Spark's higher-order array functions are interpreted, so V·Vᵀ per "
    "cell is the q_ann_topk_arrow treatment applied to blocking). "
    "Scale: grow nlist ∝ corpus so cell occupancy (and the per-group "
    "GEMM block) stays bounded; driver state is centroids + the bounded "
    "pair list.",
    tags=("similarity", "dedup"),
)
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from c_tran_data_pipeline_spark.operators.similarity import semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # The planted-twin ids live above a fixed offset; fail LOUDLY if a
    # larger fixture ever reaches it (silent collision would corrupt
    # components and the min-id representative invariant the tests pin).
    max_id = emb.agg(F.max("vec_id")).first()[0]
    if max_id is not None and max_id >= 1_000_000:
        raise ValueError(
            f"embeddings.vec_id reaches {max_id}; planted-twin offset "
            "1_000_000 would collide with real vectors — raise the offset"
        )
    # The twin side reads its OWN scan (fresh attribute ids): a union
    # whose branches share one relation instance trips Spark 4.1.2's
    # UnionBase.rewriteConstraints (NoSuchElementException: key not
    # found) when the downstream Arrow grouped-map lineage is
    # materialized — an independent scan sidesteps the buggy
    # constraint rewrite without disabling constraint propagation
    # session-wide.
    twins = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .filter(F.col("vec_id") % 10 == 0)
        .select(
            (F.col("vec_id") + 1_000_000).alias("vec_id"),
            F.expr(
                "transform(cast(embedding AS array<double>),"
                " (x, i) -> x + 0.01 * ((i % 3) - 1))"
            ).alias("embedding"),
        )
    )
    corpus = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding")).unionByName(twins)
    from c_tran_data_pipeline_spark.operators.pq import deterministic_sample

    return semantic_dedup(
        corpus, threshold=0.9, nlist=16, iters=2, dim=64,
        train_df=deterministic_sample(corpus, mod=4),
    )


# Persisted SemDeDup store — the _IVFPQ_PARAMS cache recipe applied to
# semantic dedup (session.cached_artifact).
_SEM_STORE_PARAMS = {
    "threshold": 0.9,
    "nlist": 16,
    "iters": 2,
    "dim": 64,
    "nprobe": 2,
    "train_sample_mod": 4,
    "base_mod": 8,  # base corpus = vec_id % 10 < base_mod
    "trainer": "driver-lloyd-v2",  # see _IVFPQ_PARAMS — cache-buster
}


def _sem_store_for(spark: SparkSession, sf_dir: str, emb: DataFrame):
    """(representatives, centroids) of the committed base-corpus store,
    built from ``emb`` first if absent or stale."""
    from c_tran_data_pipeline_spark.operators.pq import deterministic_sample
    from c_tran_data_pipeline_spark.operators.similarity import (
        build_semantic_store,
        read_semantic_store,
        write_semantic_store,
    )

    p = _SEM_STORE_PARAMS

    def build(tmp: str, meta: dict) -> None:
        base = emb.filter(F.col("vec_id") % 10 < p["base_mod"])
        train = deterministic_sample(base, mod=p["train_sample_mod"], key="vec_id")
        knobs = {k: p[k] for k in ("threshold", "nlist", "iters", "dim", "nprobe")}
        reps, cents = build_semantic_store(base, train_df=train, **knobs)
        write_semantic_store(reps, cents, tmp, meta=meta)

    def load(path: str, meta: dict):
        return read_semantic_store(spark, path, expect_meta=meta)[:2]

    return cached_artifact("semstore", sf_dir, "embeddings", p, build, load)


@query(
    "q_incremental_semantic_dedup",
    None,  # k-means blocking is probabilistic — the exactness claims
    # (incremental == full-corpus SemDeDup on the planted fixture, 100%
    # twin recovery, store round-trip) are pinned in
    # tests/test_incremental_semantic.py
    doc="Incremental SemDeDup against a PERSISTED centroid/representative "
    "store (operators/similarity.py build_semantic_store / "
    "incremental_semantic_dedup) — the composition of q_semantic_dedup's "
    "cluster-blocked dedup with q_ann_ivfpq_search's persisted-index "
    "amortization and q_incremental_neardup's O(new)-per-batch contract: "
    "the base 80%% of the corpus is deduped ONCE (sampled k-means "
    "training happens only there), its kept representatives persisted "
    "partitionBy(cell) with the centroid table in a sidecar-last commit; "
    "the NEW batch (the other 20%% plus planted ±0.001-perturbed twins "
    "of stored docs) then dedups by assigning to the persisted cells "
    "(centroid literals — ZERO training jobs on this path), reading only "
    "the probed cells' directories (bounded ≤ nlist cell-id driver "
    "state → parquet PartitionFilter), and running one numpy GEMM per "
    "touched cell over new ∪ that cell's representatives — pairs with "
    "≥1 new endpoint only, never old×old (the store is already "
    "deduplicated). A new row keeps iff it has no near-dup, or it is "
    "the min-id member of a component with NO stored representative (a "
    "store rep stays canonical whatever its id). Returns (vec_id, cell, "
    "component, keep) for the new batch. At 100 TB this is the ingest "
    "shape: per-batch cost scales with the BATCH, not the corpus, and "
    "the store grows append-only by exactly the kept rows.",
    tags=("similarity", "dedup", "incremental"),
)
def q_incremental_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from c_tran_data_pipeline_spark.operators.similarity import incremental_semantic_dedup

    p = _SEM_STORE_PARAMS
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    max_id = emb.agg(F.max("vec_id")).first()[0]
    if max_id is not None and max_id >= 1_000_000:
        raise ValueError(
            f"embeddings.vec_id reaches {max_id}; planted-twin offset "
            "1_000_000 would collide with real vectors — raise the offset"
        )
    # twins from an INDEPENDENT scan — the q_semantic_dedup
    # rewriteConstraints workaround (same-relation union branches)
    twins = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
        .filter((F.col("vec_id") % 10 < p["base_mod"]) & (F.col("vec_id") % 20 == 0))
        .select(
            (F.col("vec_id") + 1_000_000).alias("vec_id"),
            F.expr("transform(embedding, (x, i) -> x + 0.001 * ((i % 3) - 1))").alias(
                "embedding"
            ),
        )
    )
    new_batch = emb.filter(F.col("vec_id") % 10 >= p["base_mod"]).unionByName(twins)
    reps, cents = _sem_store_for(spark, sf_dir, emb)
    flags, _updated = incremental_semantic_dedup(
        new_batch, reps, cents, threshold=p["threshold"], nprobe=p["nprobe"]
    )
    return flags
