# sparkobs developer targets. The driver gate certifies only the first
# 50 registry entries per round; tier-1 (`make test`) checks EVERY entry
# against its DuckDB oracle at sf0.001 (tests/test_gate_head.py),
# and `make sweep` runs the full registry at sf0.01.

.PHONY: test sweep gate bench bench-baseline smoke verify

# the tier-1 command ROADMAP.md names, so `make test` / `make verify`
# run the same suite configuration as the gate
test:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; \
	timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

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
