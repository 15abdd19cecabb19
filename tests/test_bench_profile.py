"""bench.py's per-query profile pass, called directly: ``bench.main``
would overwrite the committed BENCH_DETAIL.json."""

from __future__ import annotations

import re
from functools import partial

from pyspark.sql import functions as F

import bench
from tests.conftest import SF_SMOKE


def test_exchanges_count_only_the_executed_plan(spark):
    """A join over a freshly persisted aggregate runs one shuffle of its
    own. The raw plan string repeats the cached aggregate's exchange
    under every InMemoryRelation and again in the AQE Initial Plan."""
    agg = spark.range(0, 1000).groupBy((F.col("id") % 10).alias("k")).count().persist()
    try:
        df = spark.range(0, 100).withColumn("k", F.col("id") % 10).join(agg, "k")
        df = df.groupBy((F.col("id") % 3).alias("j")).agg(F.sum("count").alias("n"))
        prof = bench.profile(spark, "stub-cached-join", lambda: df, set())
        raw = df._jdf.queryExecution().executedPlan().toString()
    finally:
        agg.unpersist()
    assert prof["exchanges"] == 1
    assert len(re.findall(r"Exchange hashpartitioning", raw)) > 1


def test_build_jobs_are_the_builders_eager_actions(spark):
    """q_rfm_segments samples its rank boundaries while it is built;
    q_pricing_summary is lazy. Each is warmed first, as bench.main does,
    so load_table's schema inference is not counted."""
    from c_tran_data_pipeline_spark.plans import all_queries

    reg = all_queries()
    build_jobs = {}
    for name in ("q_rfm_segments", "q_pricing_summary"):
        build = partial(reg[name].builder, spark, SF_SMOKE)
        build().collect()
        prof = bench.profile(spark, f"stub-{name}", build, set())
        build_jobs[name] = prof["build_jobs"]
        assert prof["jobs"] >= prof["build_jobs"] and prof["stages"] > 0 and prof["tasks"] > 0
    assert build_jobs["q_rfm_segments"] > 0
    assert build_jobs["q_pricing_summary"] == 0


def test_residual_pins_count_a_newly_persisted_frame(spark):
    pins = bench.pinned_rdds(spark.sparkContext)
    frame = spark.range(0, 50).withColumn("x", F.col("id") * 7919)
    try:
        prof = bench.profile(spark, "stub-pin", frame.persist, pins)
    finally:
        frame.unpersist()
    assert prof["residual_pins"] == 1
