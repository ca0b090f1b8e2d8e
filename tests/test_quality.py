"""The dbt-style data-quality suite over the built star schema, plus checks
that the checks themselves detect violations."""

from __future__ import annotations

from market_flow_spark.quality import (
    check_accepted_values,
    check_not_null,
    check_relationship,
    check_unique,
    run_star_schema_checks,
)


def test_star_schema_integrity(spark, tables):
    results = run_star_schema_checks(tables)
    failing = [r for r in results if not r.passed]
    assert not failing, f"integrity violations: {failing}"
    assert [(r.check, r.table, r.column) for r in results] == [
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


def test_gate_checks_the_published_tables(spark, sf_dir, tmp_path, monkeypatch):
    """A duplicate that only the written fact file holds fails the run:
    the gate reads what was published, not a clean recomputation."""
    import pytest

    from market_flow_spark.plans import pipeline as pl

    write = pl.export_parquet

    def write_with_duplicate(df, path, partition_by=None):
        if path.endswith("/fact_transactions"):
            df = df.unionByName(df.limit(1))
        write(df, path, partition_by=partition_by)

    monkeypatch.setattr(pl, "export_parquet", write_with_duplicate)
    with pytest.raises(pl.QualityCheckError) as exc:
        pl.run_pipeline(spark, sf_dir, str(tmp_path / "wh"))
    assert "unique(fact_transactions.transaction_id)=2" in str(exc.value)
    failed = [(r.check, r.table, r.column) for r in exc.value.results if not r.passed]
    assert failed == [("unique", "fact_transactions", "transaction_id")]


def test_pipeline_quality_gate_fails_on_violation(spark, sf_dir, tmp_path, monkeypatch):
    """run_pipeline must RAISE (not warn) when a check reports violations."""
    import pytest

    from market_flow_spark.plans import pipeline as pl
    from market_flow_spark.quality import CheckResult

    def broken_suite(tables):
        return [CheckResult("unique", "fact_transactions", "transaction_id", 3)]

    monkeypatch.setattr(pl, "run_star_schema_checks", broken_suite)
    with pytest.raises(pl.QualityCheckError) as exc:
        pl.run_pipeline(spark, sf_dir, str(tmp_path / "wh"))
    assert "unique(fact_transactions.transaction_id)=3" in str(exc.value)


def test_checks_detect_violations(spark):
    bad = spark.createDataFrame(
        [(1, "a"), (1, "b"), (None, "c")], "k int, v string"
    )
    parent = spark.createDataFrame([(1,)], "k int")
    assert check_not_null(bad, "k").violations == 1
    assert check_unique(bad, "k").violations == 2  # both rows of the dup key
    assert check_accepted_values(bad, "v", ["a", "b"]).violations == 1
    # orphan: the NULL key and nothing else (1 is present in parent)
    rel = check_relationship(bad, "k", parent, "k")
    assert rel.violations == 1
    assert not rel.passed and check_not_null(bad, "v").passed


def test_pipeline_run_is_json_serializable_path_mapping(spark, sf_dir, tmp_path):
    """The Makefile pipes run_pipeline's return through json.dumps — the
    PipelineRun must serialize as a plain {table: path} object with the
    quality results out-of-band."""
    import json

    from market_flow_spark.plans.pipeline import run_pipeline

    run = run_pipeline(spark, sf_dir, str(tmp_path / "wh_json"))
    blob = json.loads(json.dumps(run))
    assert blob == dict(run)
    assert all(isinstance(v, str) for v in blob.values())
    assert "quality" not in blob and run.quality


def test_fused_checks_match_individual(spark, tables):
    from pyspark.sql import functions as F

    from market_flow_spark import quality as Q

    # one row with a NULL status: not an accepted_values violation either way
    null_status = F.lit(None).cast("string")
    orders = tables["orders"].unionByName(
        tables["orders"].limit(1).withColumn("o_orderstatus", null_status)
    )
    fused = Q.run_checks_fused(
        orders,
        not_null=["o_orderkey", "o_custkey"],
        accepted_values={"o_orderstatus": ["O", "F", "P"]},
        positive=["o_totalprice"],
        table="orders",
    )
    by_key = {(r.check, r.column): r.violations for r in fused}
    assert by_key[("not_null", "o_orderkey")] == Q.check_not_null(
        orders, "o_orderkey"
    ).violations
    assert by_key[("accepted_values", "o_orderstatus")] == Q.check_accepted_values(
        orders, "o_orderstatus", ["O", "F", "P"]
    ).violations
    assert ("positive", "o_totalprice") in by_key


def test_fused_unique_and_relationships_match_individual(spark):
    """Planted frame: a NULL key, a duplicated NULL key, a duplicated
    parent key, a NULL foreign key and an orphan foreign key."""
    from market_flow_spark import quality as Q

    child = spark.createDataFrame(
        [(1, 10), (2, 10), (2, 20), (None, 30), (None, None), (3, 99)],
        "k int, fk int",
    )
    parent = spark.createDataFrame([(10,), (10,), (20,), (30,), (None,)], "p int")
    keys = spark.createDataFrame([(1,), (2,), (3,)], "k int")
    fused = Q.run_checks_fused(
        child,
        not_null=["k", "fk"],
        unique=["k", "fk"],
        relationships=[("fk", parent, "p"), ("k", keys, "k")],
        table="child",
    )
    by_key = {(r.check, r.column): r.violations for r in fused}
    individual = {
        ("not_null", "k"): Q.check_not_null(child, "k"),
        ("not_null", "fk"): Q.check_not_null(child, "fk"),
        ("unique", "k"): Q.check_unique(child, "k"),
        ("unique", "fk"): Q.check_unique(child, "fk"),
        ("relationship", "fk"): Q.check_relationship(child, "fk", parent, "p"),
        ("relationship", "k"): Q.check_relationship(child, "k", keys, "k"),
    }
    assert by_key == {key: r.violations for key, r in individual.items()}
    # the two 2s and the two NULLs; 10 twice; NULL + orphan 99; the NULL ks
    assert by_key[("unique", "k")] == 4
    assert by_key[("unique", "fk")] == 2
    assert by_key[("relationship", "fk")] == 2
    assert by_key[("relationship", "k")] == 2


def test_profile_columns_approx_within_tolerance(spark, tables):
    """The HLL++ scale path tracks the exact profile within its error
    bound; nulls and min/max are exact in both modes."""
    from market_flow_spark.operators.analytics import profile_columns

    orders = tables["orders"]
    cols = ["o_orderkey", "o_orderstatus"]
    exact = {r["column"]: r for r in profile_columns(orders, cols, exact=True).collect()}
    approx = {r["column"]: r for r in profile_columns(orders, cols, exact=False).collect()}
    for c in cols:
        assert approx[c]["n_nulls"] == exact[c]["n_nulls"]
        assert approx[c]["min_value"] == exact[c]["min_value"]
        assert approx[c]["max_value"] == exact[c]["max_value"]
        assert abs(approx[c]["n_distinct"] - exact[c]["n_distinct"]) <= max(
            5, 0.1 * exact[c]["n_distinct"]
        )
