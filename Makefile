.PHONY: test test-full check check-smoke bench perfbench perfbench-trace perfbench-pairs perfbench-test smoke lint examples

# default tier: slow-tier tests (tests/conftest.py SLOW_TIER_NODE_IDS)
# are skipped so the run fits a CI/verify window (~14 min)
test:
	python -m pytest tests/ -q

# the builder's gate: EVERY test, ~28 min — run before committing
# changes to operator internals
test-full:
	WIMBD_FULL_TESTS=1 python -m pytest tests/ -x -q

check:
	python tools/check_oracles.py

# static and plan lints: no env-knob reads outside the deployment
# allow-list, and the registry-wide window / PythonRDD plan lint
# (a slow-tier test, so the slow tier is switched on here)
lint:
	WIMBD_FULL_TESTS=1 python -m pytest tests/test_knob_lint.py \
		tests/test_window_lint.py -q

check-smoke:
	python tools/check_oracles.py /root/testdata/sf0.001

bench:
	python bench.py

# the repo benchmark (BENCHMARK.json): both workloads, seed 1, 20 s
# each; per-run detail lands in .perfbench/
PERFBENCH_WORKLOADS = wimbd_scan neardup_dedup
PERFBENCH_SEED = 1

perfbench:
	for w in $(PERFBENCH_WORKLOADS); do \
		python3 perfbench/run.py --workload $$w --seed $(PERFBENCH_SEED) \
			--seconds 20 --trace 0 || exit 1; done

# the same with Spark's event log folded into per-operation layer rows
perfbench-trace:
	for w in $(PERFBENCH_WORKLOADS); do \
		python3 perfbench/run.py --workload $$w --seed $(PERFBENCH_SEED) \
			--seconds 20 --trace 1 || exit 1; done

# paired runs, base revision vs the working tree, alternating order:
# medians, quartiles, wins, the gain-claim rule and the per-metric
# regression bound for each end-to-end metric
PAIRS_BASE = HEAD~1
PAIRS_WORKLOADS = wimbd_scan neardup_dedup
PAIRS = 10
PAIRS_SEED = 401

perfbench-pairs:
	for w in $(PAIRS_WORKLOADS); do \
		python3 tools/bench_pairs.py --base $(PAIRS_BASE) --workload $$w \
			--pairs $(PAIRS) --seed $(PAIRS_SEED) || exit 1; done

# the benchmark harness's own tests (perfbench/tests)
perfbench-test:
	python3 -m pytest perfbench/tests -q -p no:cacheprovider

smoke:
	python -c "import __spark_entry__ as e; from wimbd_spark import get_spark; \
s = get_spark(master='local[4]', shuffle_partitions=4); \
df = e.entry(s); print(df.count(), 'rows'); s.stop()"

examples:
	for f in examples/*.py; do echo "== $$f"; python $$f || exit 1; done
