# Build-time regression guard (round-4 verdict item #8): `make verify`
# fails on any oracle mismatch, any hard plan-audit flag (cartesian
# join / row-at-a-time Python UDF), any unpartitioned-window
# single-task stage (the "WindowExec: No Partition Defined" runtime
# warning), or any pytest failure.

SHELL := /bin/bash
SF_DIR ?= /root/testdata/sf0.01

.PHONY: verify oracle plan test perfsmoke bench

verify: oracle plan test

oracle:
	@log=$$(mktemp); \
	python tools/oracle_check.py $(SF_DIR) 2>&1 | tee $$log; rc=$${PIPESTATUS[0]}; \
	if grep -q "No Partition Defined" $$log; then \
	  echo "FAIL: unpartitioned window (single-task stage) in some query plan"; \
	  rm -f $$log; exit 1; \
	fi; \
	rm -f $$log; exit $$rc

plan:
	python tools/plan_audit.py $(SF_DIR)

# the Tier-1 command from ROADMAP.md, verbatim
test:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

# benchmark smoke test (not part of Tier-1; a few minutes)
perfsmoke:
	python -m pytest perfbench/test_smoke.py -q

bench:
	python bench.py
