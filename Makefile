# Developer entry points — the verify skill and the rotation policy
# reference these by name.
.PHONY: test test-reverse parity-sf001 parity-sf01 bench

test:
	python -m pytest tests/ -q

# The same suite with the test files in reverse order: a plan pin must not
# depend on what an earlier test file left in the shared session.
test-reverse:
	python -m pytest $$(ls tests/test_*.py | sort -r) -q

# Local replica of the driver's correctness gate at the default test SF
# (all oracled entries, order-independent).
parity-sf001:
	python -m pytest tests/test_oracle_parity.py -q

# The same sweep at the DRIVER's SF — run before any commit that adds or
# changes a catalog entry (the rotation policy's "parity-green at two
# SFs" claim is this target plus parity-sf001).
parity-sf01:
	SPARK_GRAFT_TEST_SF_DIR=/root/testdata/sf0.01 python -m pytest tests/test_oracle_parity.py -q

bench:
	python bench.py
