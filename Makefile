# sparkobs developer targets. The driver gate certifies only the first
# 50 registry entries per round; `make sweep` runs the FULL registry
# through the DuckDB oracle so entries outside the gate window cannot
# silently rot.

.PHONY: test sweep gate bench bench-baseline smoke verify

test:
	python -m pytest tests/ -q

sweep:
	python tools/check_oracle.py

gate:
	python tools/check_oracle.py /root/testdata/sf0.01 --gate

bench:
	python bench.py

# freeze the current full bench table as the regression baseline
# (tests/test_bench_tripwire.py compares future runs against it).
# REFRESH POLICY (see BASELINE.md "Baseline refresh policy"): refresh
# ONLY after a tools/bench_compare.py-verified plan win >=5% on named
# rows — never on a flat or drift-only round, or the tripwire's
# reference would silently track every slow leak.
bench-baseline:
	cp BENCH_full.json BENCH_baseline.json

smoke:
	python -c "from sparkobs.session import get_spark; import __spark_entry__ as e; print(e.entry(get_spark('smoke')).count())"

verify: test sweep smoke
