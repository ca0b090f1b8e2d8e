"""The core correctness gate, run locally: every registered query whose
oracle exists must match DuckDB on row count + schema + values
(order-insensitive) — the same comparison the driver performs at sf0.01."""

from __future__ import annotations

import pytest

from market_flow_spark.queries_all import ORACLES, QUERIES
from tests.oracle_utils import assert_matches_oracle


@pytest.mark.parametrize("name", sorted(ORACLES.keys()))
def test_query_matches_oracle(name, spark, duck, sf_dir):
    # every registered query has an oracle (test_contract_alignment), so
    # this also executes every query's plan
    df = QUERIES[name](spark, sf_dir)
    assert_matches_oracle(df, duck, ORACLES[name])


# Query 0 has a NULL element. DuckDB's list_sum skips NULL, so every
# exact-cosine twin scores it as if the element were 0, and its NULL
# probe distances sort last.
_PLANTED_NULL = [
    (0, [None, 1.0, 1.0, 1.0, 0.5]),
    (1, [1.0, 1.0, 1.0, 1.0, 0.5]),
    (2, [-1.0, 1.0, 1.0, 1.0, 0.4]),
    (3, [-1.0, -1.0, 1.0, 1.0, 0.3]),
    (4, [1.0, -1.0, -1.0, 1.0, 0.2]),
    (5, [-1.0, 1.0, 1.0, 1.0, 0.9]),
]


def _null_element_cases():
    from market_flow_spark.extensions import similarity as S
    from market_flow_spark.queries_ext import (
        _cosine_topk_oracle,
        _ivf_hyperplane_oracle,
        _near_dup_oracle,
    )

    return {
        "cosine_topk": (
            lambda e: S.cosine_topk(e, n_queries=1, k=3),
            _cosine_topk_oracle(n_queries=1, k=3),
        ),
        "ivf_hyperplane_topk": (
            lambda e: S.ivf_hyperplane_topk(e, n_queries=1, k=5, n_bits=4, nprobe=1),
            _ivf_hyperplane_oracle(n_queries=1, k=5, n_bits=4, nprobe=1),
        ),
        "embedding_neardup_pairs": (
            lambda e: S.embedding_neardup_pairs(e, threshold=0.25, band_bits=4),
            _near_dup_oracle(n_bits=4, threshold=0.25),
        ),
    }


@pytest.mark.parametrize(
    "op", ["cosine_topk", "ivf_hyperplane_topk", "embedding_neardup_pairs"]
)
def test_similarity_twin_on_planted_null_element(op, spark):
    """A NULL embedding element adds 0 to every dot product on both
    engines: cosine_topk ranks neighbors 1, 5, 2 with non-NULL cosines,
    ivf_hyperplane_topk probes the query's own cell 14 first (not a cell
    at a NULL distance) and finds 5 and 2 there, and the near-dup pairs
    of vector 0 survive the threshold."""
    run, sql = _null_element_cases()[op]
    _assert_twin_on(spark, _PLANTED_NULL, run, sql)


# Vector 0 has no direction; 4 and 5 share its 4-bit sign bucket.
_ZERO_VECTOR = [
    (0, [0.0, 0.0, 0.0, 0.0]),
    (1, [1.0, 1.0, 1.0, 1.0]),
    (2, [1.0, 1.0, -1.0, 1.0]),
    (3, [1.0, 1.0, 1.0, 0.5]),
    (4, [-1.0, -1.0, -1.0, -1.0]),
    (5, [-1.0, -1.0, -0.5, -1.0]),
]


@pytest.mark.parametrize("op", ["cosine_topk", "embedding_neardup_pairs"])
def test_similarity_twin_on_zero_vector(op, spark):
    """An all-zero vector's cosines are NULL on both engines (DuckDB's
    ``x / 0`` is NULL; under ANSI mode a plain Spark division would fail
    the whole query): cosine_topk ranks it last, and the near-dup
    threshold drops its pairs."""
    from market_flow_spark.extensions import similarity as S
    from market_flow_spark.queries_ext import _cosine_topk_oracle, _near_dup_oracle

    run, sql = {
        "cosine_topk": (
            lambda e: S.cosine_topk(e, n_queries=2, k=3),
            _cosine_topk_oracle(n_queries=2, k=3),
        ),
        "embedding_neardup_pairs": (
            lambda e: S.embedding_neardup_pairs(e, threshold=0.25, band_bits=4),
            _near_dup_oracle(n_bits=4, threshold=0.25),
        ),
    }[op]
    _assert_twin_on(spark, _ZERO_VECTOR, run, sql)


def _assert_twin_on(spark, rows, run, sql):
    """``run`` over the (vec_id, embedding) ``rows`` matches the DuckDB
    twin ``sql`` over the same rows, and the twin result is not empty."""
    import duckdb

    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    values = ", ".join(
        f"(CAST({i} AS BIGINT), "
        f"[{', '.join('NULL' if x is None else repr(x) for x in v)}]::FLOAT[])"
        for i, v in rows
    )
    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW embeddings AS SELECT * FROM (VALUES {values}) "
            "t(vec_id, embedding)"
        )
        assert con.sql(sql).fetchall()
        assert_matches_oracle(run(emb), con, sql)
    finally:
        con.close()


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert len(df.columns) >= 15


def test_contract_alignment():
    import __spark_entry__ as e

    q = e.queries()
    o = e.oracle_sql()
    assert set(o.keys()) == set(q.keys())
    assert set(ORACLES) == set(QUERIES)
    assert len(q) >= 20


def test_relation_cache_memoizes_per_session(spark, sf_dir):
    """load_table returns the SAME resolved relation object for repeat
    calls in one session (skipping per-call parquet footer/DataSource
    resolution — measured as ~half of whole-registry construct cost),
    distinct objects per sf_dir, and a fresh object after an explicit
    cache clear."""
    from market_flow_spark import tables

    a = tables.load_table(spark, sf_dir, "lineitem")
    b = tables.load_table(spark, sf_dir, "lineitem")
    assert a is b
    # any sf dir other than the fixture's (the suite runs under both
    # sf0.001 and SPARK_GRAFT_TEST_SF_DIR=sf0.01)
    other_dir = (
        "/root/testdata/sf0.01"
        if sf_dir.rstrip("/") != "/root/testdata/sf0.01"
        else "/root/testdata/sf0.001"
    )
    other = tables.load_table(spark, other_dir, "lineitem")
    assert other is not a
    tables.clear_table_cache()
    c = tables.load_table(spark, sf_dir, "lineitem")
    assert c is not a
    assert c.count() == a.count()


def test_winnow_capped_parity_at_crossover_scale(spark, sf_dir):
    """Round-8 verdict ask #6: the capped winnow variant's VALUE is the
    inflated-corpus regime (boilerplate fp dfs grow with corpus size, so
    the cap prunes more and diverges further from exact) — parity-check
    that regime itself, not just the base size. The corpus is the
    documents table unioned 3x with id offsets that preserve the %10
    probe/train split; at this size the max training-side fp df is ~900
    (vs the 50 cap), so the capped output provably diverges from exact,
    and the Spark result must still match the DuckDB twin row-for-row."""
    import duckdb

    from market_flow_spark.extensions import dedup
    from market_flow_spark.queries_ext import _winnow_oracle
    from market_flow_spark.tables import load_tables
    from pyspark.sql import functions as F
    from tests.oracle_utils import assert_matches_oracle

    base = load_tables(spark, sf_dir)["documents"].select("doc_id", "text")
    # Offset must be a multiple of 10 (copies keep their %10 probe/train
    # class) AND exceed max(doc_id): a fixed 1000 collided with sf0.1's
    # 5000 ids, giving duplicate doc_ids whose (doc, fp) multiplicity
    # Spark (per-row distinct) and the DuckDB twin (global DISTINCT)
    # legitimately count differently — a malformed-fixture artifact, not
    # an engine divergence (found by the first sf0.1 run of this test;
    # both engines' registered winnow queries stay parity-green there).
    max_id = int(base.agg(F.max("doc_id")).first()[0])
    offset = ((max_id // 10) + 1) * 10
    inflated = base
    for i in (1, 2):
        inflated = inflated.union(
            base.select(
                (F.col("doc_id") + offset * i).alias("doc_id"), "text"
            )
        )
    capped = dedup.winnow_containment(
        inflated.filter(F.col("doc_id") % 10 != 0),
        inflated.filter(F.col("doc_id") % 10 == 0),
        threshold=0.5,
        max_fp_df=50,
    )
    exact = dedup.winnow_containment(
        inflated.filter(F.col("doc_id") % 10 != 0),
        inflated.filter(F.col("doc_id") % 10 == 0),
        threshold=0.5,
    )
    # the cap must be ACTIVE at this scale: capped and exact disagree
    capped_rows = {
        (r["test_doc_id"], r["train_doc_id"], r["n_shared"], r["containment"])
        for r in capped.collect()
    }
    exact_rows = {
        (r["test_doc_id"], r["train_doc_id"], r["n_shared"], r["containment"])
        for r in exact.collect()
    }
    assert capped_rows != exact_rows
    con = duckdb.connect()
    try:
        src = f"{sf_dir}/documents.parquet"
        union = " UNION ALL ".join(
            f"SELECT doc_id + {offset * i} AS doc_id, text FROM '{src}'"
            for i in range(3)
        )
        con.execute(f"CREATE VIEW documents AS {union}")
        assert_matches_oracle(
            capped, con, _winnow_oracle(threshold=0.5, max_fp_df=50)
        )
    finally:
        con.close()
