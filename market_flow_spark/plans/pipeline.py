"""Medallion pipeline orchestration (SURVEY.md §3.1).

The reference's end-to-end flow is Airflow DAGs + dbt models materializing
raw → staging → analytics tables in DuckDB, synchronized by sleeps
(Makefile:114-141). Here each table is a Spark job writing parquet into a
warehouse directory; no data crosses task boundaries (the reference's XCom
hop disappears, SURVEY §3.1). Every table is built from the source tables
only, so, like the DAG's independent tasks, the writes are submitted
together (``session.run_concurrently``) and share the cores; the quality
gate runs once they have all landed.

Layer materialization is deliberate (same choice as the reference's
`+materialized: table`): each layer is re-runnable and inspectable. Fact
and flagship tables are partitioned (``PARTITION_BY``) so downstream reads
prune partitions — the 100 TB analog of the reference's full-table scans.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession

from market_flow_spark.operators import dims, star
from market_flow_spark.quality import (
    STAR_SCHEMA_TABLES,
    CheckResult,
    run_star_schema_checks,
)
from market_flow_spark.session import run_concurrently
from market_flow_spark.sources.sinks import export_parquet
from market_flow_spark.tables import load_tables


def register_views(spark: SparkSession, sf_dir: str) -> list[str]:
    """Expose the full model surface as temp views so any reference-style
    SQL (the dbt models / the app's ad-hoc queries) runs via ``spark.sql``
    — the Spark analog of the reference's 'every model is a DuckDB table
    you can SELECT from'. Registers the raw tables, the staging layer, the
    dims, and the analytics tables; returns the registered names. Views
    are lazy: nothing materializes until a SQL query runs, and Catalyst
    optimizes straight through them."""
    tables = load_tables(spark, sf_dir)
    registered = []
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
        registered.append(name)
    for layer in (build_staging(tables), build_dims(tables), build_analytics(tables)):
        for name, df in layer.items():
            df.createOrReplaceTempView(name)
            registered.append(name)
    return registered


class QualityCheckError(RuntimeError):
    """Raised when the post-build quality suite finds violations; carries
    the full result list so callers can route/inspect them."""

    def __init__(self, results: list[CheckResult]):
        self.results = results
        failed = [r for r in results if not r.passed]
        super().__init__(
            "quality checks failed: "
            + "; ".join(
                f"{r.check}({r.table}.{r.column})={r.violations}" for r in failed
            )
        )


def _gate(
    tables: dict[str, DataFrame], published: dict[str, DataFrame]
) -> list[CheckResult]:
    """Run the star-schema suite over the ``published`` built tables (the
    sources supply the relationship parents); raise on any violation."""
    results = run_star_schema_checks({**tables, **published})
    if any(not r.passed for r in results):
        raise QualityCheckError(results)
    return results


def build_staging(tables: dict[str, DataFrame]) -> dict[str, DataFrame]:
    """Staging layer: typed, joined transaction base + event month stats."""
    return {
        "stg_transactions": star.transactions_base(
            tables["lineitem"], tables["orders"]
        ),
        "stg_monthly_events": star.monthly_event_stats(tables["events"]),
    }


def build_dims(tables: dict[str, DataFrame]) -> dict[str, DataFrame]:
    return {
        "dim_product": dims.dim_product(tables["part"]),
        "dim_date": dims.dim_date_scaffold(tables["orders"]),
        "dim_country": dims.dim_country_merged(
            tables["customer"], tables["supplier"], tables["nation"]
        ),
    }


def build_analytics(tables: dict[str, DataFrame]) -> dict[str, DataFrame]:
    return {
        "fact_transactions": star.fact_transactions(tables),
        "flagship_wide": star.flagship_wide(tables),
    }


# Partition columns of the partitioned analytics tables.
PARTITION_BY = {"fact_transactions": ["date_sk"], "flagship_wide": ["year"]}


def _built_tables(tables: dict[str, DataFrame]) -> list[tuple[str, str, DataFrame]]:
    """(layer, table, frame) of every built table, in build order; the dims
    publish into the analytics layer."""
    return [
        *(("staging", n, df) for n, df in build_staging(tables).items()),
        *(("analytics", n, df) for n, df in build_dims(tables).items()),
        *(("analytics", n, df) for n, df in build_analytics(tables).items()),
    ]


class PipelineRun(dict):
    """Result of ``run_pipeline``: a plain {table_name: path} mapping (it
    IS a dict — every key is a table, every value a path) with the quality
    suite's results carried out-of-band on the ``quality`` attribute, so
    consumers iterating ``.values()`` as paths never trip over a sentinel
    entry."""

    quality: list[CheckResult]

    def __init__(self, paths: dict[str, str], quality: list[CheckResult]):
        super().__init__(paths)
        self.quality = quality


def run_pipeline(
    spark: SparkSession,
    sf_dir: str,
    warehouse: str,
    quality_gate: bool = True,
) -> PipelineRun:
    """Run the full raw→staging→analytics build into `warehouse`.
    Returns a ``PipelineRun``: a {table_name: path} dict whose values are
    all real paths. Each write is an independent Spark job — the unit an
    external scheduler retries — built from the source tables only, so
    the 7 writes are submitted together and run side by side. Every write
    runs to its end before a failed one's error is raised, and then no
    gate runs.

    With ``quality_gate`` (default), the dbt-style star-schema suite
    (`quality.run_star_schema_checks`) runs after the build over the
    PUBLISHED fact_transactions / dim_product / dim_date, read back from
    the files just written (one fused aggregate per table, like dbt tests
    over the built models), and the pipeline FAILS on any violation
    (`QualityCheckError`, carrying the full result list) — the
    reference's declared-but-empty dbt test slot, actually enforced. The
    gate runs after publishing, so a failing run leaves its tables in the
    warehouse. A green run's results ride on the returned object's
    ``quality`` attribute (empty list when the gate is off)."""
    tables = load_tables(spark, sf_dir)
    built = _built_tables(tables)
    written = {name: f"{warehouse}/{layer}/{name}" for layer, name, _ in built}
    run_concurrently([
        partial(export_parquet, df, written[name], partition_by=PARTITION_BY.get(name))
        for _, name, df in built
    ])

    results: list[CheckResult] = []
    if quality_gate:
        results = _gate(
            tables, {t: spark.read.parquet(written[t]) for t in STAR_SCHEMA_TABLES}
        )
    return PipelineRun(written, results)


def run_pipeline_metastore(
    spark: SparkSession,
    sf_dir: str,
    quality_gate: bool = True,
    location_root: str | None = None,
) -> PipelineRun:
    """Catalog-backed medallion build: the reference's raw / staging /
    analytics *databases* (profiles.yml:20-27 — one DuckDB schema per dbt
    target) become Spark catalog databases, every layer written with
    ``saveAsTable`` so downstream consumers address tables by qualified
    name (``analytics.flagship_wide``) instead of paths.

    Returns a ``PipelineRun`` mapping {qualified_table: catalog location}.
    Partitioned analytics tables keep the same pruning layout as the
    path-based ``run_pipeline``. Every save and its catalog-location
    lookup run side by side through ``session.run_concurrently``, as the
    path-based writes do. ``location_root`` pins the database
    locations (tests); default is the session's warehouse dir. The quality
    gate checks the catalog tables just saved and raises
    ``QualityCheckError`` on any violation, same contract as
    ``run_pipeline``."""
    for db in ("raw", "staging", "analytics"):
        loc = f" LOCATION '{location_root}/{db}.db'" if location_root else ""
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}{loc}")
        if location_root is not None:
            # CREATE ... IF NOT EXISTS silently keeps a pre-existing
            # database's OLD location; writing "to" a new root while tables
            # actually land under the old one must be an error, not a shrug
            actual = spark.catalog.getDatabase(db).locationUri
            expected = f"{location_root}/{db}.db"
            if expected.split("://")[-1].rstrip("/") not in actual:
                raise ValueError(
                    f"database {db} already exists at {actual}, not the "
                    f"requested {expected}; drop it or pass its current root"
                )

    tables = load_tables(spark, sf_dir)

    def _save(db: str, name: str, df: DataFrame) -> str:
        """Save ``df`` as ``db.name``; return its catalog location."""
        writer = df.write.mode("overwrite")
        if name in PARTITION_BY:
            writer = writer.partitionBy(*PARTITION_BY[name])
        writer.saveAsTable(f"{db}.{name}")
        return spark.sql(f"DESCRIBE TABLE EXTENDED {db}.{name}").filter(
            "col_name = 'Location'"
        ).collect()[0]["data_type"]

    saves = [("raw", name, df) for name, df in tables.items()] + _built_tables(tables)
    locations = run_concurrently([partial(_save, *save) for save in saves])
    written = {f"{db}.{name}": loc for (db, name, _), loc in zip(saves, locations)}

    results: list[CheckResult] = []
    if quality_gate:
        results = _gate(
            tables, {t: spark.table(f"analytics.{t}") for t in STAR_SCHEMA_TABLES}
        )
    return PipelineRun(written, results)
