# Round-close ritual: everything the round's artifacts depend on, in the
# order that keeps them consistent with the code they vouch for.
#
#   make test        - FULL pytest (incl. slow-marked integration tests;
#                      a bare `pytest tests/` runs the <5-min fast lane)
#   make test-fast   - the fast lane explicitly
#   make gate        - full Spark-vs-DuckDB oracle gate at sf0.01
#   make gate-all    - gate at all three SFs
#   make plan-audit  - regenerate PLAN_AUDIT.md (MUST run at round close:
#                      a stale audit vouches for plans that no longer
#                      exist - VERDICT r6 #7)
#   make bench       - bench.py at sf0.1 (run alone: CPU contention skews);
#                      bench_results.json keeps each query's recorder
#                      record (construct/execute s, jobs, shuffle bytes)
#   make perfbench   - perfbench self-tests, then one untraced run of each
#                      BENCHMARK.json workload (run alone, like bench)
#   make close       - gate + plan-audit + bench, sequentially

SF_DIR ?= /root/testdata/sf0.01

.PHONY: test test-fast gate gate-all plan-audit bench perfbench close

test:
	PQS_FULL_TESTS=1 python -m pytest tests/ -q

test-fast:
	python -m pytest tests/ -q

gate:
	python scripts/check_queries.py $(SF_DIR)

gate-all:
	python scripts/check_queries.py /root/testdata/sf0.001
	python scripts/check_queries.py /root/testdata/sf0.01
	python scripts/check_queries.py /root/testdata/sf0.1

plan-audit:
	# --fresh-artifacts: clear stat-keyed /tmp artifacts so every
	# build-phase plan (training, index writes) is attributed to its
	# owning query.  NEVER run concurrently with another Spark workload.
	python scripts/plan_audit.py --fresh-artifacts $(SF_DIR)

bench:
	# --against HEAD: the SCALING.md signal rule as an exit-code gate —
	# fails on any query regressing >0.5s absolute (or >25% on a >=1s
	# warm baseline) vs the COMMITTED bench_results.json (git show), so a
	# first run on a clean checkout gates against the real baseline, not
	# the working copy this run is about to overwrite.  A bare
	# `python bench.py` auto-resolves the same baseline report-only.
	python bench.py --against HEAD

PERFBENCH_SEED ?= 1
BENCHMARK = python3 -c "import json; b = json.load(open('BENCHMARK.json')); print($(1))"

perfbench:
	python3 -m pytest perfbench/tests -q
	for w in $$($(call BENCHMARK,*(w['name'] for w in b['workloads']))); do \
		python3 perfbench/run.py --workload $$w --seed $(PERFBENCH_SEED) \
			--seconds $$($(call BENCHMARK,b['run_seconds'])) --trace 0 || exit 1; \
	done

scale-smoke:
	python scripts/scale_smoke.py 10

close: gate plan-audit bench
