"""Skew-mitigation and storage-layout (bucketing) operators: result
equivalence to the plain operators, plus the PLAN properties that are
their reason to exist (salt actually spreads keys; bucketed joins drop
both Exchanges)."""

from __future__ import annotations

import re as _re

import pytest
from pyspark.sql import functions as F

from c_tran_data_pipeline_spark.operators.skew import salted_agg_count, salted_join
from c_tran_data_pipeline_spark.sinks.bucketed import colocated_join, write_bucketed

from tests.conftest import SF_ORACLE
from c_tran_data_pipeline_spark.sources.readers import load_table


def _final_plan(df) -> str:
    df.collect()  # AQE: executedPlan is final only after execution
    return df._jdf.queryExecution().executedPlan().toString()


def test_salted_join_equals_plain_join(spark):
    li = load_table(spark, SF_ORACLE, "lineitem").select("l_partkey", "l_quantity")
    part = load_table(spark, SF_ORACLE, "part").select(
        F.col("p_partkey").alias("l_partkey"), "p_brand"
    )
    plain = li.join(part, "l_partkey").groupBy("p_brand").count()
    salted = salted_join(li, part, keys=["l_partkey"], salt=8).groupBy("p_brand").count()
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_join_spreads_hot_key(spark):
    # one pathological key: 10k rows on the big side, 1 row on the small
    big = spark.range(10_000).select(F.lit(1).alias("k"), F.col("id").alias("payload"))
    small = spark.createDataFrame([(1, "hot")], "k int, name string")
    out = salted_join(big, small, keys=["k"], salt=8)
    assert out.count() == 10_000
    # the salt column derived from the full row must actually fan out
    salts = (
        big.select(F.pmod(F.xxhash64("k", "payload"), F.lit(8)).alias("s"))
        .groupBy("s")
        .count()
        .collect()
    )
    assert len(salts) == 8  # all 8 sub-keys populated
    assert max(r["count"] for r in salts) < 10_000 * 0.25  # no bucket re-concentrates


def test_salted_agg_count_equals_groupby(spark):
    e = load_table(spark, SF_ORACLE, "events").select("user_id")
    plain = {r["user_id"]: r["count"] for r in e.groupBy("user_id").count().collect()}
    salted = {
        r["user_id"]: r["count"] for r in salted_agg_count(e, keys=["user_id"], salt=8).collect()
    }
    assert plain == salted


@pytest.fixture()
def bucketed_tables(spark, tmp_path):
    orders = load_table(spark, SF_ORACLE, "orders").select("o_orderkey", "o_orderpriority")
    li = load_table(spark, SF_ORACLE, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_quantity"
    )
    write_bucketed(orders, "t_orders_b", 8, ["o_orderkey"], sort_by=["o_orderkey"],
                   path=str(tmp_path / "orders_b"))
    write_bucketed(li, "t_lineitem_b", 8, ["o_orderkey"], sort_by=["o_orderkey"],
                   path=str(tmp_path / "li_b"))
    yield "t_orders_b", "t_lineitem_b"
    spark.sql("DROP TABLE IF EXISTS t_orders_b")
    spark.sql("DROP TABLE IF EXISTS t_lineitem_b")


def test_bucketed_join_has_no_exchange(spark, bucketed_tables):
    """The point of bucketing: the fact⋈fact join reads co-located
    buckets — zero Exchange in the executed plan (vs 2 for plain
    parquet), with broadcast disabled so the test can't pass trivially."""
    left, right = bucketed_tables
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = colocated_join(spark, left, right, ["o_orderkey"])
        plan = _final_plan(joined)
        assert "Exchange" not in plan
        assert "SortMergeJoin" in plan
        # equivalence against the plain-parquet join
        orders = load_table(spark, SF_ORACLE, "orders")
        li = load_table(spark, SF_ORACLE, "lineitem")
        expected = orders.join(li, orders.o_orderkey == li.l_orderkey).count()
        assert joined.count() == expected
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_slice_store_probe_drops_store_exchanges(spark, tmp_path):
    """The O(new) media-dedup probe against a BUCKETED slice store: the
    split new×store + new×new join (incremental_image_neardup) lets the
    store keep its (band, slice) bucket layout, so BOTH store consumers
    — the hot-slice cap's sizing aggregate and the probe join — read
    co-located buckets with no store-side Exchange. Pinned as an
    exchange-count delta vs the identical plan over plain parquet
    (≥2 fewer: sizing + probe), with identical output pairs. A union of
    store ∪ batch (the pre-r9 form) erased the layout and reshuffled
    the corpus every batch — exactly what this pin would catch."""
    from c_tran_data_pipeline_spark.operators.multimodal import (
        ahash_band_slices,
        image_ahash,
        incremental_image_neardup,
        make_fake_image,
    )

    base = spark.createDataFrame(
        [(i, make_fake_image(24, 16, 1, seed=i)) for i in range(60)],
        "asset_id long, payload binary",
    )
    slices = ahash_band_slices(image_ahash(base, codec="fake"))
    write_bucketed(
        slices, "t_slices_b", 4, ["band", "slice"], path=str(tmp_path / "slices_b")
    )
    slices.write.parquet(str(tmp_path / "slices_p"))
    batch = spark.createDataFrame(
        # two stored twins + fresh assets
        [(1000 + i, make_fake_image(24, 16, 1, seed=500 + i)) for i in range(8)]
        + [(2000, make_fake_image(24, 16, 1, seed=0)), (2001, make_fake_image(24, 16, 1, seed=7))],
        "asset_id long, payload binary",
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    # At fixture size the corpus store auto-broadcasts and the layout
    # never engages; disable (the corpus-sized regime) so the pin
    # exercises the shuffled path the operator is designed for.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        p_bucketed, _ = incremental_image_neardup(batch, spark.table("t_slices_b"))
        p_plain, _ = incremental_image_neardup(
            batch, spark.read.parquet(str(tmp_path / "slices_p"))
        )
        plan_b, plan_p = _final_plan(p_bucketed), _final_plan(p_plain)
        n_b, n_p = plan_b.count("Exchange"), plan_p.count("Exchange")
        assert n_b <= n_p - 2, f"bucketed {n_b} vs plain {n_p}:\n{plan_b}"
        assert sorted(map(tuple, p_bucketed.collect())) == sorted(
            map(tuple, p_plain.collect())
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS t_slices_b")


def test_bucketed_minhash_store_probe_drops_store_exchange(spark, tmp_path):
    """Text twin of the slice-store pin: incremental_neardup's new×store
    probe over a (band, bucket)-bucketed MinHash store reads co-located
    buckets — at least one fewer Exchange than plain parquet, same
    pairs."""
    from c_tran_data_pipeline_spark.operators.dedup import (
        incremental_neardup,
        minhash_buckets,
    )

    docs = spark.createDataFrame(
        [(i, f"the quick brown fox {i} jumps over the lazy dog number {i}") for i in range(40)],
        "doc_id long, text string",
    )
    store = minhash_buckets(docs)
    write_bucketed(
        store, "t_mh_b", 4, ["band", "bucket"], path=str(tmp_path / "mh_b")
    )
    store.write.parquet(str(tmp_path / "mh_p"))
    batch = spark.createDataFrame(
        [(100, "the quick brown fox 3 jumps over the lazy dog number 3"),
         (101, "an entirely unrelated new document about something else")],
        "doc_id long, text string",
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        p_bucketed, _ = incremental_neardup(batch, spark.table("t_mh_b"))
        p_plain, _ = incremental_neardup(batch, spark.read.parquet(str(tmp_path / "mh_p")))
        plan_b, plan_p = _final_plan(p_bucketed), _final_plan(p_plain)
        n_b, n_p = plan_b.count("Exchange"), plan_p.count("Exchange")
        assert n_b <= n_p - 1, f"bucketed {n_b} vs plain {n_p}:\n{plan_b}"
        assert sorted(map(tuple, p_bucketed.collect())) == sorted(
            map(tuple, p_plain.collect())
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS t_mh_b")


def test_salted_join_rejects_non_invariant_how(spark):
    import pytest as _pytest

    big = spark.createDataFrame([(1, 1)], "k int, p int")
    small = spark.createDataFrame([(1, "x")], "k int, name string")
    with _pytest.raises(ValueError, match="not salt-invariant"):
        salted_join(big, small, keys=["k"], how="full")
    # left join remains supported: unmatched big rows survive exactly once
    big2 = spark.createDataFrame([(1, 1), (2, 2)], "k int, p int")
    out = salted_join(big2, small, keys=["k"], salt=4, how="left").collect()
    assert len(out) == 2 and {r["k"] for r in out} == {1, 2}


# ---------------------------------------------------------------------------
# Registry-wide physical-plan invariants: the ".explain and iterate" loop
# made durable. Every registered query's OPTIMIZED plan must uphold the
# SCALE.md rules — no accidental cartesian products, no Python in
# relational paths — so a regression fails CI, not a 100 TB run.
# ---------------------------------------------------------------------------

# Queries whose SEMANTICS are an all-pairs comparison (oracle/recall
# baselines, small-SF only by contract — SCALE.md documents each), plus
# q_hybrid_search, whose dense leg broadcasts the CONSTANT-SIZED query
# batch against the corpus (a != join over a tiny broadcast side is one
# linear corpus pass, not a quadratic blowup).
_ALLOWED_NESTED_LOOP = {
    "q_ann_topk",
    "q_ann_topk_arrow",
    "q_ann_neardup",
    "q_hybrid_search",
    # same broadcast-constant-query-batch shape as q_ann_topk, plus the
    # 1-row global-scale cross join
    "q_ann_topk_int8",
    # ADC codes ⋈ broadcast query tables (constant-sized batch), then the
    # shortlist re-rank — same linear-corpus-pass shape
    "q_ann_pq_topk",
    # identical ADC shape, codebooks read from the persisted index
    "q_ann_pq_search",
    # broadcast eval batch × one corpus scan (q_ann_topk with roles flipped)
    "q_decontaminate_semantic",
    # MRL shortlist pass: broadcast constant query batch (!=) over one
    # prefix-width corpus scan — q_ann_topk's shape at 32/64 the bytes
    "q_ann_mrl_topk",
    # composes cosine_topk: broadcast 50-query batch (!=) over one corpus
    # scan — linear, not quadratic
    "q_knn_label",
    # degree histogram over the exact all-pairs baseline (small-SF oracle
    # by contract; the LSH pair generator swaps in at scale — SCALE.md)
    "q_neardup_degree",
    # exclusion set from cosine_topk (broadcast batch) + the documented
    # |queries|×|corpus| ID-pair cross for the deterministic draw — both
    # sides of the Cross are ids only, and the query batch is constant
    "q_negative_samples",
    # composes the int8 + exact topk legs, each a broadcast-constant-
    # query-batch corpus scan (and the int8 leg's 1-row scale Cross)
    "q_retrieval_metrics",
    # hard-negative mining: cosine_topk's broadcast-constant-query-batch
    # shape with the label inequality fused into the join condition (a
    # theta join by construction — the inequality IS the filter); the
    # corpus side is one linear scan, never quadratic
    "q_hard_negatives",
    # candidate generation composes cosine_topk: broadcast 20-query
    # batch (!=) over one corpus scan; the MMR stage itself is a keyed
    # grouped-map, no joins
    "q_mmr_rerank",
    # source-pair spine: LIMIT-6 × LIMIT-6 cross (≤ 15 pairs after
    # s1 < s2) — both sides bounded by the top-k constant, not the corpus
    "q_source_jsd",
}

# Queries whose only NestedLoopJoin is the scalar-broadcast pattern: a
# crossJoin against a ONE-ROW aggregate (corpus-relative threshold /
# mean bucket size) re-entering the plan as a broadcast scalar. That is
# O(n)·1 work with a bytes-sized build side — constant at any scale —
# not a quadratic pairing. Recognized structurally below (every
# NestedLoopJoin in the plan must be a BuildRight Cross), so a real
# all-pairs join sneaking into these queries still fails the test.
_ALLOWED_SCALAR_BROADCAST = {
    # 1-row target/raw token-total scalars re-entering the per-bucket
    # smoothed log-ratio projection (shared _dsir_scored pipeline)
    "q_dsir_weights",
    "q_dsir_resample",
    # 1-row basket-count scalar N for the lift denominator
    "q_assoc_rules",
    # 1-row digit-total scalar for observed_p / chi-square terms
    "q_benford_audit",
    "q_ann_neardup_lsh",
    "q_boilerplate_scrub",
    "q_lm_score",
    # 1-row bigram-type total re-entering as the Pcont denominator
    "q_lm_score_kn",
    # 1-row mean-balance scalar re-entering as a broadcast filter bound
    "q_idle_customers",
    # 1-row corpus-total scalar for the mixture-share denominator
    "q_source_mix_report",
    # 1-row alpha-power normalizer broadcast onto the stratum rates
    "q_temperature_sample",
    # 1-row global revenue total re-entering as the share threshold
    "q_important_stock",
    # 1-row corpus doc count re-entering as the relative-df threshold
    "q_stop_tokens",
    # 1-row unigram/bigram totals re-entering as the PMI denominators
    "q_bigram_pmi",
    # 1-row (n_docs, total tokens) scalar re-entering as the avgdl /
    # idf corpus constants
    "q_bm25_rank",
    # same scalars, in both the seed/θ pass and the final scoring pass
    "q_bm25_rank_pruned",
    # 1-row L1 normalization total per HITS half-step (4 scalars total)
    "q_hits",
    # 1-row observation-horizon max(ts) re-entering as the censoring bound
    "q_survival_curve",
    # 1-row global max |F1·n2 − F2·n1| re-entering as the KS supremum
    # filter bound (replaced the former unpartitioned MAX window)
    "q_ks_test",
    # composes q_lm_score_kn (its 1-row bigram-type scalar) + its own
    # 1-row softmax normalizer over the |sources| aggregate
    "q_lm_mix_weights",
    # 1-row train-side bigram-type total re-entering as the Pcont
    # denominator (the q_lm_score_kn scalar, heldout-eval variant)
    "q_lm_heldout",
    # composes q_lm_score_kn — inherits ONLY its 1-row bigram-type
    # scalar; the tercile assignment itself (global_ntile) is
    # equi-join-only
    "q_ccnet_buckets",
    # 1-row contingency grand total re-entering as the expected-count
    # denominator (r8: replaced the former SUM OVER () single-partition
    # window — see _BOUNDED_GLOBAL_WINDOW_NOTES)
    "q_chi2_independence",
    "q_cramers_v",
    # 1-row (total slice rows, n cells) scalar re-entering as the
    # hot-slice cap threshold (r9: _drop_hot_slices in the aHash
    # banding family — the integer size*cells <= factor*total compare)
    "q_pair_curation_crossmodal",
    "q_incremental_image_neardup",
    "q_crossmodal_clusters",
    "q_corpus_prep_crossmodal",
    "q_image_ahash_neardup",
    "q_image_phash_neardup",
}


# Both loop-join physical nodes: BroadcastNestedLoopJoin (bounded build
# side) and CartesianProduct (both sides big — NEVER acceptable). The
# structural checks below must fail on a cartesian even inside an
# allowlisted query.
_LOOP_MARKERS = ("NestedLoopJoin", "CartesianProduct")


def _loop_lines(plan: str) -> list[str]:
    return [line for line in plan.splitlines() if any(m in line for m in _LOOP_MARKERS)]


def _only_broadcast_loops(plan: str) -> bool:
    """Every loop join has a BROADCAST build side — i.e. one side is
    bounded (constant query batch / scalar agg), so the join is one
    linear pass over the other side, not a quadratic pairing. This is
    the structural invariant behind every _ALLOWED_NESTED_LOOP entry;
    checking it per plan (instead of exempting the query wholesale)
    means a future genuinely-quadratic CartesianProduct or shuffled
    loop join in these queries still fails the gate."""
    return all("BroadcastNestedLoopJoin" in line for line in _loop_lines(plan))


def _only_scalar_broadcast_loops(plan: str) -> bool:
    return all(
        "BroadcastNestedLoopJoin BuildRight, Cross" in line for line in _loop_lines(plan)
    )

# Queries that legitimately cross into Python (Arrow-batched, SURVEY §2.10).
_ALLOWED_PYTHON = {
    "q_multimodal_features",
    "q_pack_sequences",
    "q_ann_topk_arrow",
    # fake-codec synthesis + frame-sample explode, both Arrow mapInPandas
    "q_frame_sample",
    # REAL WAV synthesis + decode, both Arrow mapInPandas
    "q_audio_features",
    # REAL WAV synthesis + numpy-rFFT DSP features, both Arrow mapInPandas
    "q_audio_dsp",
    # greedy MMR over per-query BOUNDED candidate groups (N=15), Arrow
    # applyInPandas — the sequential-within-group rerank seam
    "q_mmr_rerank",
    # fake-codec synthesis + aHash fingerprint, both Arrow mapInPandas;
    # the pairing stage itself is pure relational (band equi-joins)
    "q_image_ahash_neardup",
    # perturbed-cluster synthesis + DCT pHash fingerprint, both Arrow
    # mapInPandas; pairing stage pure relational (band equi-joins)
    "q_image_phash_neardup",
    # REAL WAV synthesis + numpy mel/DCT MFCCs, both Arrow mapInPandas
    "q_audio_mfcc",
    # per-partition Gram partials + the projection pass, both Arrow
    # mapInPandas (numpy matmuls; only d(d+1)+1 doubles hit the driver)
    "q_pca_project",
    # per-cell GEMM over new ∪ touched-cell representatives, Arrow
    # applyInPandas — the q_semantic_dedup pair stage on the
    # incremental path
    "q_incremental_semantic_dedup",
    # REAL MJPEG-AVI synthesis (encode_jpeg + make_avi) + container
    # parse + per-frame JPEG decode, all Arrow mapInPandas (r8)
    "q_video_mjpeg_features",
    "q_frame_sample_mjpeg",
    # REAL IMA-ADPCM synthesis + integer decode, both Arrow mapInPandas (r8)
    "q_audio_features_adpcm",
    # md5-pixel image synthesis + aHash fingerprint, both Arrow
    # mapInPandas; the pairing + caption-Jaccard stages are pure
    # relational (band equi-joins, hash joins) (r8)
    "q_pair_curation_crossmodal",
    # same md5-pixel synthesis + aHash, incremental store probe (r8)
    "q_incremental_image_neardup",
    # multi-table LSH bucket pass = Arrow mapInPandas numpy sequential
    # fold (round 10 — LSH_SHAPE_AB_r10.json: 2.6× over the interpreted
    # HOF shape at the 10× rung, bit-identical to per-table
    # hyperplane_lsh_buckets by the pinned test); candidate joins +
    # re-rank stay pure relational
    "q_ann_neardup_lsh",
    "q_ann_lsh_topk",
    "q_hard_negatives_lsh",
    # SemDeDup n-grain cell assignment = Arrow mapInPandas numpy
    # sequential L2 fold (round 10, same trade/pins as the bucket pass);
    # the cell-GEMM pair stage was already an Arrow seam
    "q_semantic_dedup",
    # composes q_pair_curation_crossmodal's synthesis/aHash (r8)
    "q_crossmodal_clusters",
    # the end-to-end cross-modal corpus prep (r9): md5-pixel synthesis +
    # aHash (mapInPandas) + the greedy pack fold (applyInPandas) — the
    # relational middle (banding joins, Jaccard, CC, quota) stays JVM
    "q_corpus_prep_crossmodal",
}


_REGISTRY_PLANS_CACHE: dict[int, list[tuple[str, str]]] = {}


def _registry_plans(spark):
    """Static physical plans for every registered query, built ONCE per
    session and shared by the three default-conf audits below — each
    walk pays every builder's eager work (counts, checkpoints, k-means
    training at SF_SMOKE), ~2 min per walk in the full suite (round 10).
    The broadcast audit builds its own walk because it flips
    autoBroadcastJoinThreshold first."""
    key = id(spark)
    if key not in _REGISTRY_PLANS_CACHE:
        _REGISTRY_PLANS_CACHE[key] = _walk_registry_plans(spark)
    return _REGISTRY_PLANS_CACHE[key]


def _walk_registry_plans(spark) -> list[tuple[str, str]]:
    """Uncached walk — the broadcast audit calls this directly because it
    plans under a flipped autoBroadcastJoinThreshold; caching its plans
    (or serving it the default-conf ones) would void both gates."""
    from c_tran_data_pipeline_spark.plans import all_queries
    from tests.conftest import SF_SMOKE

    plans = []
    for name, spec in all_queries().items():
        df = spec.builder(spark, SF_SMOKE)
        # static physical plan (pre-AQE) — join strategy and Python-eval
        # nodes are already decided here, no execution needed
        plans.append((name, df._jdf.queryExecution().executedPlan().toString()))
    return plans


def test_no_unexpected_nested_loop_joins(spark):
    offenders = [
        n
        for n, plan in _registry_plans(spark)
        if any(m in plan for m in _LOOP_MARKERS)
        and not (
            # allowlisted queries are STILL structurally verified: every
            # loop join must have a broadcast (bounded) build side —
            # membership alone never exempts a plan
            (n in _ALLOWED_NESTED_LOOP and _only_broadcast_loops(plan))
            or (n in _ALLOWED_SCALAR_BROADCAST and _only_scalar_broadcast_loops(plan))
        )
    ]
    assert not offenders, f"quadratic join shape crept into: {offenders}"


# ---------------------------------------------------------------------------
# Global-window gate: no registered plan may feed an UNBOUNDED relation
# through `Exchange SinglePartition` into a Window — the "Moving all
# data to a single partition" scale-killer. Exact global ranks/cumsums
# go through operators/rank.py (range partition + prefix offsets, plan
# contains NO SinglePartition exchange). The allowlist below is for
# windows over PROVABLY BOUNDED grains — each entry pins a regex the
# offending window node must match, so a new unbounded window in the
# same query still fails.
# ---------------------------------------------------------------------------

_BOUNDED_GLOBAL_WINDOW_NOTES = {
    # Kaplan-Meier steps over the DAY-grain duration grid: ≤ corpus day
    # horizon rows (events span a fixed date range), not event volume
    "q_survival_curve": (r"windowspecdefinition\(dur_days#\d+L ASC", "day-horizon grid"),
    # (r8) q_cramers_v / q_chi2_independence left this allowlist: their
    # grand total is now a broadcast 1-row scalar (crossJoin) instead of
    # SUM OVER () — no SinglePartition-fed WindowExec remains, and AQE
    # exchange reuse keeps the fact scanned once (pinned below in
    # test_chi2_total_reuses_cell_exchange).
    # (r8) q_source_gini left this allowlist: the Lorenz rank routes
    # through rank.global_rank — no unpartitioned WindowExec remains.
    # (r8) q_skyline_orders left this allowlist: the bucket-table prefix
    # max now routes through rank.global_cummax, so no unpartitioned
    # WindowExec remains in the plan.
}

_NODE_PREFIX = _re.compile(r"^[\s:+\-|]*(?:\*\(\d+\)\s*)?")
_TREE_PREFIX = _re.compile(r"^[\s:+\-|]*")

# Nodes that pass rows through unchanged between a Window and the
# Exchange that feeds it (EnsureRequirements inserts Sort; codegen adds
# the rest).
_ORDER_TRANSPARENT = ("Sort ", "Project ", "Filter ", "ColumnarToRow", "InputAdapter",
                      "WholeStageCodegen")


def _single_partition_windows(plan: str) -> list[str]:
    """Window nodes whose required distribution was satisfied by an
    `Exchange SinglePartition` (walking up from each such exchange
    through order-transparent nodes). A WindowGroupLimit BELOW the
    exchange means Spark bounded what crosses the shuffle (top-k
    pushdown) — those are fine and skipped."""
    lines = plan.splitlines()
    hits = []
    for i, ln in enumerate(lines):
        if "Exchange SinglePartition" not in ln:
            continue
        d = len(_TREE_PREFIX.match(ln).group(0))
        # bounded by a partial top-k below the exchange?
        sub_limited = False
        for nxt in lines[i + 1:]:
            nd = len(_TREE_PREFIX.match(nxt).group(0))
            if nd <= d:
                break
            if "WindowGroupLimit" in nxt:
                sub_limited = True
                break
        if sub_limited:
            continue
        cur = d
        for j in range(i - 1, -1, -1):
            dj = len(_TREE_PREFIX.match(lines[j]).group(0))
            if dj >= cur:
                continue
            cur = dj
            node = _NODE_PREFIX.sub("", lines[j])
            if node.startswith(("Window ", "WindowGroupLimit ")):
                hits.append(node.strip())
                break
            if not node.startswith(_ORDER_TRANSPARENT):
                break
    return hits


def test_no_unbounded_single_partition_windows(spark):
    offenders = []
    for name, plan in _registry_plans(spark):
        for w in _single_partition_windows(plan):
            note = _BOUNDED_GLOBAL_WINDOW_NOTES.get(name)
            if note and _re.search(note[0], w):
                continue
            offenders.append((name, w[:90]))
    assert not offenders, (
        "unbounded global window (whole relation through ONE task at "
        f"scale — route through operators/rank.py): {offenders}"
    )


def test_no_unexpected_python_in_plans(spark):
    markers = ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas")
    offenders = [
        n
        for n, plan in _registry_plans(spark)
        if any(m in plan for m in markers) and n not in _ALLOWED_PYTHON
    ]
    assert not offenders, f"Python eval crept into relational plans: {offenders}"


# ---------------------------------------------------------------------------
# Broadcast build sides must be BOUNDED relations. A broadcast ships its
# entire build side to every executor, so an O(corpus) build side (a full
# label map, a full-vocabulary df table) is the classic scale-killer: fine
# at sf0.1, fatal at 100×. The gate below rebuilds every registry plan
# with spark.sql.autoBroadcastJoinThreshold=-1 — which removes Spark's
# own stats-based broadcasts (those re-decide correctly as data grows)
# and leaves exactly the broadcasts WE hinted, i.e. the ones frozen into
# the code at every scale — then structurally classifies each
# BroadcastExchange subtree as bounded: a literal-pruned scan (query
# batch), a scalar aggregate, a semi-joined derivative, a limit/top-k,
# or a dim-table-only subtree. Anything else must carry a documented
# per-query pattern in _BOUNDED_BROADCAST_NOTES or the test fails.
# ---------------------------------------------------------------------------

_FACT_TABLES = ("lineitem", "orders", "events", "documents", "embeddings")


def _broadcast_subtree_depth(line: str) -> int:
    return len(_re.match(r"^[ :+\-|]*", line).group(0))


def _broadcast_subtrees(plan: str) -> list[str]:
    """Each BroadcastExchange node with its full child subtree (by tree
    indentation); ReusedExchange references are duplicates, skipped."""
    lines = plan.splitlines()
    subs = []
    for i, line in enumerate(lines):
        if "BroadcastExchange" in line and "ReusedExchange" not in line:
            d = _broadcast_subtree_depth(line)
            sub = [line]
            for nxt in lines[i + 1 :]:
                if not nxt.strip() or _broadcast_subtree_depth(nxt) <= d:
                    break
                sub.append(nxt)
            subs.append("\n".join(sub))
    return subs


def _broadcast_bounded_class(sub: str) -> str | None:
    """Classify a BroadcastExchange subtree as a bounded relation, or
    None if it could grow with the corpus."""
    if "HashAggregate(keys=[]" in sub:
        return "scalar-agg"  # 1-row global aggregate
    if "LeftSemi" in sub:
        return "semi-joined"  # restricted to a (bounded) probe set
    if "GlobalLimit" in sub or "TakeOrderedAndProject" in sub:
        return "limit"
    scans = set(_re.findall(r"sf[\d.]+/(\w+)\.parquet", sub))
    if scans and not (scans & set(_FACT_TABLES)):
        return "dim-only"  # only dimension-table scans feed it
    if not scans:
        return "local"  # createDataFrame literals / in-memory fixture
    if _re.search(r"PushedFilters: \[[^\]]*(LessThan|GreaterThan|EqualTo|In)\(", sub):
        return "pruned-scan"  # literal predicate reached the scan (query batch)
    if "Window" in sub and _re.search(r"#\d+L? <= \d+\)", sub):
        return "topk"  # row_number <= k derivative
    return None


# Hint-driven broadcasts whose build side IS bounded, but by domain
# knowledge the structural classifier can't see. Each entry: a regex the
# offending subtree must match (so the exemption can't silently cover a
# different, genuinely-unbounded broadcast later) + the reason.
_BOUNDED_BROADCAST_NOTES = {
    # distinct calendar days — bounded by the date domain, not row count
    "q_rolling_actives": (r"Aggregate\(keys=\[d#\d+", "calendar-day spine"),
    # per-event_type aggregates — event_type is a small categorical domain
    "q_psi_drift": (r"Aggregate\(keys=\[event_type#\d+", "event-type domain"),
    "q_mad_outliers": (r"Aggregate\(keys=\[event_type#\d+", "event-type domain"),
    # per-dimension scale factors — bounded by embedding dimensionality
    "q_quantize_embeddings": (r"Aggregate\(keys=\[dim#\d+", "embedding-dim domain"),
    # merge_update contract: updates side is a dim-delta / micro-batch
    # (here: latest order per customer ≤ |customer|, a dim table)
    "q_enrich_merge": (r"__new_last_priority", "merge_update dim-delta contract"),
    # heavy-hitter token list at a RELATIVE df threshold — ≤ avg_dl/0.2
    # tokens regardless of corpus size (see q_hybrid_search doc)
    "q_hybrid_search": (r"Filter \((cast\()?df#\d+L?[^<>]* > ", "relative-df heavy hitters"),
    # count-min counter grid — bounded by sketch GEOMETRY (depth·width
    # ≤ 4096 rows after the keys=[row, bucket] aggregate), independent
    # of the event volume feeding it; that data-independence is the
    # point of sketching (operators/sketch.py)
    "q_cms_heavy_hitters": (
        r"Aggregate\(keys=\[row#\d+, bucket#\d+",
        "sketch-geometry grid (d×w counters)",
    ),
    # per-source fingerprint totals — bounded by the SOURCE domain
    # (categorical strata, 20 at the fixture; a corpus adds documents,
    # not sources), same class as the event-type domains above
    "q_source_overlap": (
        r"Aggregate\(keys=\[source#\d+",
        "source-domain totals",
    ),
}


def test_broadcast_build_sides_bounded(spark):
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    # Cached relations substitute their ORIGINAL physical plan into new
    # queries (CacheManager matches on the canonicalized logical plan),
    # so a .persist() registered by an earlier test — compiled under the
    # default broadcast threshold — would re-inject auto-broadcasts into
    # the plans built here and false-positive the gate. Plan from a cold
    # cache so only this build's (hint-driven) broadcasts are visible.
    spark.catalog.clearCache()
    try:
        offenders = []
        for name, plan in _walk_registry_plans(spark):
            for sub in _broadcast_subtrees(plan):
                if _broadcast_bounded_class(sub) is not None:
                    continue
                note = _BOUNDED_BROADCAST_NOTES.get(name)
                if note and _re.search(note[0], sub):
                    continue
                offenders.append((name, sub.splitlines()[0].strip()[:80]))
        assert not offenders, (
            "unbounded broadcast build side (O(corpus) shipped to every "
            f"executor at scale): {offenders}"
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_runtime_bloom_filter_prunes_fact_scan(spark):
    """When the selective side of a join is too big to broadcast (SMJ),
    Spark can still prune the fact scan at runtime with an injected
    bloom filter (bloom_filter_agg on the dim keys + might_contain on
    the fact side) — the 100 TB lever for selective fact⋈dim joins that
    fall off the broadcast path. Pin that our session can produce the
    filter and that results are unchanged by it."""
    from c_tran_data_pipeline_spark.sources.readers import load_table
    from tests.conftest import SF_ORACLE

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force SMJ
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_table(spark, SF_ORACLE, "lineitem")
        o = load_table(spark, SF_ORACLE, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = li.join(o, li.l_orderkey == o.o_orderkey).groupBy("l_returnflag").count()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan
        assert "might_contain" in plan
        filtered = {(r["l_returnflag"], r["count"]) for r in j.collect()}
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    li = load_table(spark, SF_ORACLE, "lineitem")
    o = load_table(spark, SF_ORACLE, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    plain = {
        (r["l_returnflag"], r["count"])
        for r in li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .count()
        .collect()
    }
    assert filtered == plain


def test_zorder_key_matches_python_reference_and_tiles_are_contiguous(spark):
    from pyspark.sql import Row

    from c_tran_data_pipeline_spark.operators.layout import zorder_key_expr

    def morton(x, y, bits=16):
        k = 0
        for b in range(bits):
            k |= ((x >> b) & 1) << (2 * b) | ((y >> b) & 1) << (2 * b + 1)
        return k

    pts = [(x, y) for x in range(8) for y in range(8)] + [(65535, 65535), (12345, 54321)]
    df = spark.createDataFrame([Row(x_cell=x, y_cell=y) for x, y in pts])
    out = {(r.x_cell, r.y_cell): r.zkey for r in df.withColumn(
        "zkey", zorder_key_expr("x_cell", "y_cell", 16)).collect()}
    assert all(out[(x, y)] == morton(x, y) for x, y in pts)
    # aligned 2^n tile ⇒ contiguous key range: the 4×4 tile at origin is [0, 16)
    tile = sorted(out[(x, y)] for x in range(4) for y in range(4))
    assert tile == list(range(16))


def test_zorder_layout_sorts_within_range_partitions(spark):
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from c_tran_data_pipeline_spark.operators.layout import zorder_layout

    df = spark.createDataFrame(
        [Row(x_cell=(i * 37) % 64, y_cell=(i * 53) % 64) for i in range(512)]
    )
    laid = zorder_layout(df, "x_cell", "y_cell", partitions=4)
    parts = laid.select(F.spark_partition_id().alias("p"), "zkey").collect()
    bounds = {}
    last_in_part = {}
    for r in parts:
        assert last_in_part.get(r.p, -1) <= r.zkey  # sorted within partition
        last_in_part[r.p] = r.zkey
        lo, hi = bounds.get(r.p, (r.zkey, r.zkey))
        bounds[r.p] = (min(lo, r.zkey), max(hi, r.zkey))
    # range partitioning ⇒ per-partition key ranges don't interleave
    spans = sorted(bounds.values())
    assert all(spans[i][1] <= spans[i + 1][0] for i in range(len(spans) - 1))


def test_dataset_fingerprint_detects_dup_and_edit_and_folds_incrementally(spark):
    from pyspark.sql import Row

    from c_tran_data_pipeline_spark.operators.curation import dataset_fingerprint

    rows = [Row(doc_id=i, text=f"doc {i}", lang="en", source="a") for i in range(10)]
    base = spark.createDataFrame(rows)
    fp = dataset_fingerprint(base, cols=["doc_id", "text", "lang"], group="source").collect()[0]

    # row order / partitioning invariance
    shuffled = spark.createDataFrame(list(reversed(rows))).repartition(7)
    fp2 = dataset_fingerprint(shuffled, cols=["doc_id", "text", "lang"], group="source").collect()[0]
    assert (fp.n_rows, fp.xor_digest, fp.sum_digest) == (fp2.n_rows, fp2.xor_digest, fp2.sum_digest)

    # a duplicated row cancels in XOR but not in the additive digest
    dup = spark.createDataFrame(rows + [rows[0]])
    fp3 = dataset_fingerprint(dup, cols=["doc_id", "text", "lang"], group="source").collect()[0]
    assert fp3.xor_digest != fp.xor_digest or fp3.sum_digest != fp.sum_digest
    assert fp3.sum_digest != fp.sum_digest  # the additive one specifically moves

    # a one-character edit moves both digests, count unchanged
    edited = spark.createDataFrame(rows[:-1] + [Row(doc_id=9, text="doc 9!", lang="en", source="a")])
    fp4 = dataset_fingerprint(edited, cols=["doc_id", "text", "lang"], group="source").collect()[0]
    assert fp4.n_rows == fp.n_rows and fp4.xor_digest != fp.xor_digest

    # incremental fold: digest(A ∪ B) derivable from digest(A) ⊕ digest(B)
    more = [Row(doc_id=100 + i, text=f"new {i}", lang="de", source="a") for i in range(5)]
    fpB = dataset_fingerprint(spark.createDataFrame(more), cols=["doc_id", "text", "lang"], group="source").collect()[0]
    fpAB = dataset_fingerprint(spark.createDataFrame(rows + more), cols=["doc_id", "text", "lang"], group="source").collect()[0]
    assert fpAB.n_rows == fp.n_rows + fpB.n_rows
    assert fpAB.xor_digest == fp.xor_digest ^ fpB.xor_digest
    assert int(fpAB.sum_digest) == int(fp.sum_digest) + int(fpB.sum_digest)


def test_zorder_layout_files_cover_compact_tiles(spark, tmp_path):
    """Empirical pruning evidence: write the same 2-D data z-ordered vs
    x-sorted; per-file bounding boxes from parquet footer stats must be
    dramatically tighter in y under z-order (an x-sort leaves y
    unconstrained ⇒ every file spans the full y range and a y-predicate
    prunes nothing)."""
    import pyarrow.parquet as pq
    from pyspark.sql import Row

    from c_tran_data_pipeline_spark.operators.layout import zorder_layout

    n = 64
    df = spark.createDataFrame(
        [Row(x_cell=x, y_cell=y) for x in range(n) for y in range(n)]
    )

    zdir, xdir = str(tmp_path / "z"), str(tmp_path / "x")
    zorder_layout(df, "x_cell", "y_cell", partitions=16).write.parquet(zdir)
    df.repartitionByRange(16, "x_cell").sortWithinPartitions("x_cell").write.parquet(xdir)

    def mean_y_span(d):
        import os

        spans = []
        for f in os.listdir(d):
            if not f.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(d, f)).metadata
            lo, hi = None, None
            for rg in range(md.num_row_groups):
                for ci in range(md.row_group(rg).num_columns):
                    col = md.row_group(rg).column(ci)
                    if col.path_in_schema == "y_cell" and col.statistics:
                        s = col.statistics
                        lo = s.min if lo is None else min(lo, s.min)
                        hi = s.max if hi is None else max(hi, s.max)
            if lo is not None:
                spans.append(hi - lo + 1)
        return sum(spans) / len(spans)

    z_span, x_span = mean_y_span(zdir), mean_y_span(xdir)
    # x-sorted files span all 64 y values; z-ordered files cover ~16-row tiles
    assert x_span >= n * 0.9
    assert z_span <= n / 2, f"zorder mean y-span {z_span} vs naive {x_span}"


@pytest.mark.slow
def test_lsh_candidate_volume_subquadratic_with_auto_banding(spark):
    """The scale-ladder invariant behind auto_banding (SCALE.md records
    the full 16× synthetic ladder; this is the fast in-CI slice over
    real fixture vectors): doubling the corpus twice (500→2000) must
    grow LSH candidate-pair volume FAR slower than the quadratic 16×,
    because planes track log2(n/target_bucket); with the base banding
    FROZEN at (3, 12), growth approaches quadratic — the silent
    all-pairs failure auto_banding exists to prevent. Measured on the
    candidate stage itself (embedding_lsh_candidates), the exact
    quantity that hits the shuffle at 100 TB."""
    from c_tran_data_pipeline_spark.operators.similarity import (
        auto_banding,
        embedding_lsh_candidates,
    )
    from c_tran_data_pipeline_spark.sources.readers import load_table

    emb = load_table(spark, "/root/testdata/sf0.1", "embeddings").persist()
    counts_auto: dict[int, int] = {}
    counts_fixed: dict[int, int] = {}
    for n in (500, 1000, 2000):
        sub = emb.filter(F.col("vec_id") < n)
        planes, tables = auto_banding(n)
        counts_auto[n] = embedding_lsh_candidates(
            sub, planes=planes, tables=tables, dim=64
        ).count()
        counts_fixed[n] = embedding_lsh_candidates(
            sub, planes=3, tables=12, dim=64
        ).count()
    emb.unpersist()

    growth_auto = counts_auto[2000] / max(counts_auto[500], 1)
    growth_fixed = counts_fixed[2000] / max(counts_fixed[500], 1)
    # quadratic would be 16×; auto banding must stay clearly below it
    # and clearly below the frozen-banding growth on the same data
    assert growth_auto < 10, f"auto-banding candidate growth {growth_auto:.1f}× (counts {counts_auto})"
    assert growth_auto < growth_fixed, (
        f"auto {growth_auto:.1f}× vs fixed {growth_fixed:.1f}× — adaptive banding "
        f"is not reducing candidate volume ({counts_auto} vs {counts_fixed})"
    )


def test_max_partition_bytes_splits_scans(spark, tmp_path):
    """The spill-sizing lever SCALE.md prescribes: a single large
    parquet file splits into ~size/maxPartitionBytes scan tasks when
    the knob shrinks — partitions are bounded by BYTES, not by file
    count, so executor memory sizing survives however the upstream
    writer rolled its files."""
    import os

    p = str(tmp_path / "wide")
    spark.range(400_000).selectExpr(
        "id", "repeat(uuid(), 4) AS pad"
    ).coalesce(1).write.parquet(p)
    fsize = sum(
        os.path.getsize(os.path.join(p, f)) for f in os.listdir(p) if f.endswith(".parquet")
    )
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(1024 * 1024))  # 1 MiB
        n_small = spark.read.parquet(p).rdd.getNumPartitions()
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(1 << 30))  # 1 GiB
        n_big = spark.read.parquet(p).rdd.getNumPartitions()
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
    # with the cap lifted, the bytes-per-core heuristic governs (a
    # handful of tasks); with a 1 MiB cap the same file must split into
    # ≳ size/limit tasks — strictly more, scaling with the byte budget
    assert n_small > n_big
    assert n_small >= max(2, fsize // (2 * 1024 * 1024))  # ≳ size/limit tasks


def test_chi2_total_reuses_cell_exchange(spark):
    """q_chi2_independence / q_cramers_v compute the grand total as a
    broadcast scalar aggregate over the SAME (event_type, dow) cell
    aggregate the margin windows consume (r8, replacing SUM OVER ()).
    That is only scan-neutral if Spark reuses the cell exchange — pin
    it: after execution the adaptive plan must contain a ReusedExchange
    and no SinglePartition-fed Window (the gate above already enforces
    the latter statically)."""
    from c_tran_data_pipeline_spark.plans import all_queries

    from tests.conftest import SF_ORACLE

    for name in ("q_chi2_independence", "q_cramers_v"):
        df = all_queries()[name].builder(spark, SF_ORACLE)
        df.collect()
        final = df._jdf.queryExecution().executedPlan().toString()
        assert "ReusedExchange" in final, f"{name}: cell exchange not reused"
