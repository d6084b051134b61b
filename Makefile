.PHONY: check-fast test bench install-hooks

# Pure-Python guardrails (~4 s, no Spark): registry/COVERAGE.md sync,
# the 50-name lexical-window invariant and the in-process write commit
# and read planning tests, the schema-inference tests and the
# zip-archive re-read tests (tests/test_dynamo_commit.py,
# tests/test_dynamo_plan.py, tests/test_dynamo_infer.py,
# tests/test_zip_reread.py). Run before EVERY
# commit that touches registry.py, COVERAGE.md, or adds a query —
# round 6's snapshot commit skipped these and shipped 2 red tests.
# A test rename breaks this target loudly (pinned node id) — that is
# deliberate; fix the pin rather than dropping the guard.
check-fast:
	python -m pytest tests/test_coverage_sync.py tests/test_coverage_index.py \
	  "tests/test_properties.py::test_driver_window_holds_exactly_50_unprefixed_names" \
	  tests/test_dynamo_commit.py tests/test_dynamo_plan.py tests/test_dynamo_infer.py \
	  tests/test_zip_reread.py -q

test:
	python -m pytest tests/ -x -q

bench:
	python bench.py

# One-command re-install of the versioned git hooks after a fresh
# clone (hooks in .git/ don't travel with the repo).
install-hooks:
	git config core.hooksPath scripts/hooks

# Scale-stress recipe (PLANS.md amplification tables): build the 10x
# fixture once, then time queries at sf0.1 vs 10x. Usage:
#   make stress NAMES="c102_kmv_sketch_rollup c107_countmin_heavy_hitters"
# 100x docs-only variant (the adversarial 100-replica-clique corpus):
#   make stress-100x NAMES="..."
.scratch/sf_amp8:
	python scripts/amplify_sf.py

.scratch/sf_amp100:
	python scripts/amplify_sf.py --replicas 100 --docs-only --out .scratch/sf_amp100

stress: .scratch/sf_amp8
	python scripts/scale_stress.py $(NAMES)

stress-100x: .scratch/sf_amp100
	SPARK_GRAFT_AMP_FACTOR=100 python scripts/scale_stress.py $(NAMES) \
	  --amp .scratch/sf_amp100 --runs 1
