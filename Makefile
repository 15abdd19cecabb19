# Verification targets (mirrors .claude/skills/verify/SKILL.md).
# The oracle corpus is verified at BOTH sf0.01 (the driver's gate SF)
# and sf0.1 (the bench SF); VERIFICATION.md records the latest results.

.PHONY: test test-all oracle oracle-typed oracle-sf01 bench bench-compare perf ab verify

# Default profile: slow-marked E2E/property/audit tests deselected
# (pytest.ini addopts) so a time-budgeted run finishes with a verdict.
test:
	python -m pytest tests/ -x -q

# The builder's full gate: everything, including slow-marked tests.
test-all:
	python -m pytest tests/ -x -q -m "slow or not slow"

oracle:
	python -m c_tran_data_pipeline_spark.oracle

# adds the external-comparator dtype checks (float-vs-int, list columns)
oracle-typed:
	python -m c_tran_data_pipeline_spark.oracle --typed

oracle-sf01:
	SPARK_GRAFT_ORACLE_SF=/root/testdata/sf0.1 python -m c_tran_data_pipeline_spark.oracle

bench:
	python bench.py

# Bench adjudication (VERDICT r8 #4): classify every common query of
# the committed BENCH_DETAIL.json (HEAD) vs the fresh one in calibrated
# fixed-work units (1.5x threshold). Exits nonzero iff any query is
# REGRESSED, so an unadjudicated slowdown gates mechanically; exits 2
# when the two records ran on different core counts.
bench-compare:
	git show HEAD:BENCH_DETAIL.json | python scripts/bench_compare.py /dev/stdin BENCH_DETAIL.json

# BENCHMARK.json's end-to-end workloads, one seed each (~1 min per run).
# Add --trace 1 to a line for the per-layer metrics.
perf:
	python3 perfbench/run.py --workload ingest --seed 1 --seconds 12
	python3 perfbench/run.py --workload reads --seed 1 --seconds 12

# Interleaved A/B of two git revisions over BENCHMARK.json's workloads,
# 10 pairs each, judged against its bounds; with QUERIES, bench.py's
# query mode on those queries instead:
#   make ab PARENT=<rev> CHANGE=<rev> [QUERIES="q_ann_topk q_semantic_dedup"]
ab:
	python3 scripts/ab.py $(PARENT) $(CHANGE) $(QUERIES)

verify: test oracle oracle-sf01 bench bench-compare
