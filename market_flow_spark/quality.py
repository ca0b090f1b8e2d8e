"""Declarative data-quality checks (SURVEY §5).

The reference configures dbt with a test path but ships zero tests; this
module supplies the checks its schema *should* have declared —
not_null / unique / accepted_values / relationship (referential integrity) —
as composable DataFrame assertions.

Each ``check_*`` function runs one check as its own job;
``run_checks_fused`` runs every check declared on one table as ONE
aggregate, so a whole suite over a 100 TB table is one scan per table, not
one per check or row-by-row validation. ``run_star_schema_checks`` is the
star-schema suite, fused per table and run over the published tables, as
dbt tests run over the built models; its three table aggregates are
independent jobs and run side by side. accepted_values follows dbt: NULL is
not a violation (not_null covers it). Results come back as plain records
so callers can route them (fail the pipeline, emit metrics, write an audit
table).
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import partial

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from market_flow_spark.session import run_concurrently


@dataclass
class CheckResult:
    check: str
    table: str
    column: str
    violations: int

    @property
    def passed(self) -> bool:
        return self.violations == 0


def check_not_null(df: DataFrame, column: str, table: str = "") -> CheckResult:
    n = df.filter(F.col(column).isNull()).count()
    return CheckResult("not_null", table, column, n)


def check_unique(df: DataFrame, column: str, table: str = "") -> CheckResult:
    dup = (
        df.groupBy(column)
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .agg(F.coalesce(F.sum("n"), F.lit(0)).alias("v"))
        .collect()[0]
        .v
    )
    return CheckResult("unique", table, column, int(dup))


def check_accepted_values(
    df: DataFrame, column: str, values: list, table: str = ""
) -> CheckResult:
    # NULL IN (...) is NULL, so a NULL row is filtered out: not a violation
    n = df.filter(~F.col(column).isin(values)).count()
    return CheckResult("accepted_values", table, column, n)


def check_relationship(
    child: DataFrame,
    child_col: str,
    parent: DataFrame,
    parent_col: str,
    table: str = "",
) -> CheckResult:
    """Referential integrity: every child FK must exist in the parent —
    violations are the anti-join count (orphan rows)."""
    orphans = child.select(F.col(child_col).alias("__k")).join(
        parent.select(F.col(parent_col).alias("__k")), on="__k", how="left_anti"
    )
    return CheckResult("relationship", table, child_col, orphans.count())


def run_checks_fused(
    df: DataFrame,
    not_null: list[str] | None = None,
    accepted_values: dict[str, list] | None = None,
    positive: list[str] | None = None,
    unique: list[str] | None = None,
    relationships: list[tuple[str, DataFrame, str]] | None = None,
    table: str = "",
) -> list[CheckResult]:
    """Every declared check on ``df`` in ONE aggregate — at 100 TB the
    difference between a quality gate that costs one pass and one that
    costs one pass per declared check. Counts equal the ``check_*``
    functions'.

    not_null / accepted_values / positive are scan-local sums. Each
    ``unique`` column adds ``count(*) OVER (PARTITION BY col)`` and sums
    the rows whose key occurs more than once (NULL keys group together).
    Each ``relationships`` entry ``(child_col, parent_df, parent_col)``
    left-joins the broadcast DISTINCT parent keys with a marker column and
    sums the rows whose marker is NULL, so a NULL foreign key is an orphan,
    as in the anti join; distinct keys keep the join from duplicating
    rows. Results come back in that order: not_null, accepted_values,
    positive, unique, relationships."""
    aggs = []
    labels: list[tuple[str, str]] = []
    for c in not_null or []:
        aggs.append(F.sum(F.col(c).isNull().cast("bigint")))
        labels.append(("not_null", c))
    for c, vals in (accepted_values or {}).items():
        aggs.append(
            F.sum(
                (F.col(c).isNotNull() & ~F.col(c).isin(vals)).cast("bigint")
            )
        )
        labels.append(("accepted_values", c))
    for c in positive or []:
        aggs.append(
            F.sum(
                (F.col(c).isNotNull() & (F.col(c) <= 0)).cast("bigint")
            )
        )
        labels.append(("positive", c))
    for i, c in enumerate(unique or []):
        n = f"__unique_n{i}"
        df = df.withColumn(n, F.count(F.lit(1)).over(Window.partitionBy(c)))
        aggs.append(F.sum((F.col(n) > 1).cast("bigint")))
        labels.append(("unique", c))
    for i, (child_col, parent, parent_col) in enumerate(relationships or []):
        key, hit = f"__rel_key{i}", f"__rel_hit{i}"
        keys = (
            parent.select(F.col(parent_col).alias(key))
            .distinct()
            .withColumn(hit, F.lit(True))
        )
        df = df.join(F.broadcast(keys), F.col(child_col) == F.col(key), "left")
        aggs.append(F.sum(F.col(hit).isNull().cast("bigint")))
        labels.append(("relationship", child_col))
    if not aggs:
        return []
    row = df.agg(*[a.alias(f"v{i}") for i, a in enumerate(aggs)]).collect()[0]
    return [
        CheckResult(check, table, col, int(row[f"v{i}"] or 0))
        for i, (check, col) in enumerate(labels)
    ]


# The built tables the star-schema suite checks, and its results'
# (check, table, column) labels in the order they come back.
STAR_SCHEMA_TABLES = ("fact_transactions", "dim_product", "dim_date")
STAR_SCHEMA_SUITE = [
    ("not_null", "fact_transactions", "transaction_id"),
    ("unique", "fact_transactions", "transaction_id"),
    ("not_null", "fact_transactions", "price"),
    ("unique", "dim_product", "product_sk"),
    ("unique", "dim_product", "p_partkey"),
    ("unique", "dim_date", "date_sk"),
    ("relationship", "fact_transactions", "product_id"),
    ("relationship", "fact_transactions", "customer_id"),
    ("relationship", "fact_transactions", "date_sk"),
]


def run_star_schema_checks(tables: dict[str, DataFrame]) -> list[CheckResult]:
    """The dbt-style suite for the star schema: key integrity on the fact
    and dims (what dbt/models/*/schema.yml should have declared), one
    fused aggregate per table, the three submitted together
    (``session.run_concurrently``). Results come back in
    ``STAR_SCHEMA_SUITE`` order.

    ``tables`` holds the source tables plus the built tables to check
    (``STAR_SCHEMA_TABLES``); ``run_pipeline`` passes the files it just
    published. A built table missing from ``tables`` is built from the
    sources with the ``star``/``dims`` builders, and checked the same way."""
    from market_flow_spark.operators import dims, star

    builders = {
        "fact_transactions": star.fact_transactions,
        "dim_product": lambda t: dims.dim_product(t["part"]),
        "dim_date": lambda t: dims.dim_date_scaffold(t["orders"]),
    }
    fact, dim_product, dim_date = (
        tables[name] if name in tables else builders[name](tables)
        for name in STAR_SCHEMA_TABLES
    )
    per_table = run_concurrently([
        partial(
            run_checks_fused,
            fact,
            not_null=["transaction_id", "price"],
            unique=["transaction_id"],
            relationships=[
                ("product_id", tables["part"], "p_partkey"),
                ("customer_id", tables["customer"], "c_custkey"),
                ("date_sk", dim_date, "date_sk"),
            ],
            table="fact_transactions",
        ),
        partial(
            run_checks_fused,
            dim_product, unique=["product_sk", "p_partkey"], table="dim_product",
        ),
        partial(run_checks_fused, dim_date, unique=["date_sk"], table="dim_date"),
    ])
    by_label = {(r.check, r.table, r.column): r for rs in per_table for r in rs}
    return [by_label[label] for label in STAR_SCHEMA_SUITE]
