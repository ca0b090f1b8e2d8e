# Entry points mirroring the reference's Makefile workflow
# (run-full-pipeline / dbt-run / dbt-test), Spark-native.

SF_DIR ?= /root/testdata/sf0.001
WAREHOUSE ?= /tmp/mfs-warehouse

.PHONY: test parity bench pipeline quality smoke

# tier-1: the full suite on every CPU this process may use, inside its timeout
test:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; \
	timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

# every registered query against its DuckDB twin over $(SF_DIR), e.g.
# `make parity SF_DIR=<dir holding the sf0.1 parquet tables>`
parity:
	SPARK_GRAFT_TEST_SF_DIR=$(SF_DIR) python -m pytest tests/test_oracle_parity.py -q

bench:
	python bench.py

# the reference's `make run-full-pipeline` analog: raw → staging → analytics
pipeline:
	python -c "from market_flow_spark.session import get_spark; \
from market_flow_spark.plans.pipeline import run_pipeline; \
import json; \
print(json.dumps(run_pipeline(get_spark(), '$(SF_DIR)', '$(WAREHOUSE)'), indent=2))"

# the reference's `make dbt-test` analog: data-quality suite over the star
# schema that `make pipeline` wrote to $(WAREHOUSE) (sources from $(SF_DIR))
quality:
	python -c "from market_flow_spark.session import get_spark; \
from market_flow_spark.tables import load_tables; \
from market_flow_spark.quality import STAR_SCHEMA_TABLES, run_star_schema_checks; \
spark = get_spark(); \
tables = load_tables(spark, '$(SF_DIR)'); \
tables.update({t: spark.read.parquet(f'$(WAREHOUSE)/analytics/{t}') for t in STAR_SCHEMA_TABLES}); \
results = run_star_schema_checks(tables); \
[print(f'{r.check:20s} {r.table}.{r.column}: ' + ('PASS' if r.passed else f'FAIL ({r.violations})')) for r in results]; \
import sys; sys.exit(0 if all(r.passed for r in results) else 1)"

smoke:
	python -c "from market_flow_spark.session import get_spark; \
import __spark_entry__ as e; \
print('flagship rows:', e.entry(get_spark()).count())"
