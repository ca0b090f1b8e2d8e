"""PageRank operator properties, each on both routes (the
``graph_route`` fixture forces the edge-count bound); the registered
query is also full-oracle-checked per route here and in
test_oracle_parity against the unrolled-CTE twin."""

from __future__ import annotations

import logging

import duckdb
from market_flow_spark.operators import graph
from market_flow_spark.operators.graph import (
    PR_SCALE,
    pagerank,
    pagerank_oracle_sql,
)
from market_flow_spark.queries_all import ORACLES, QUERIES
from tests.oracle_utils import assert_matches_oracle

def _reference_pagerank(edges, n_iter, damping=0.85):
    """Plain-python fixed-point replica (the operator's spec). NULL is a
    node; an edge to NULL counts in its source's out-degree, and no
    contribution flows along an edge with a NULL endpoint."""
    nodes = {u for u, _ in edges} | {v for _, v in edges}
    outdeg = {}
    for u, _ in edges:
        if u is not None:
            outdeg[u] = outdeg.get(u, 0) + 1
    rf = {n: PR_SCALE for n in nodes}
    base = int((1.0 - damping) * PR_SCALE)
    import math

    for _ in range(n_iter):
        s = {n: 0 for n in nodes}
        for u, v in edges:
            if u is not None and v is not None:
                s[v] += rf[u] // outdeg[u]
        rf = {n: base + int(math.floor(damping * s[n])) for n in nodes}
    return rf


def test_pagerank_matches_python_replica(spark, graph_route):
    edges = [
        (1, 2), (2, 3), (3, 1), (1, 3), (4, 1), (4, 2), (5, 4), (3, 5),
    ]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = {
        r["node"]: r["rank_fixed"]
        for r in pagerank(df, n_iter=6).collect()
    }
    want = _reference_pagerank(edges, n_iter=6)
    assert got == want


def test_pagerank_sink_outranks_source(spark, graph_route):
    """A node every other node points to must outrank a node nothing
    points to."""
    edges = [(1, 9), (2, 9), (3, 9), (9, 1)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    ranks = {r["node"]: r["rank"] for r in pagerank(df, n_iter=10).collect()}
    assert ranks[9] > ranks[2]
    assert ranks[9] > ranks[3]


def test_pagerank_uniform_on_symmetric_cycle(spark, graph_route):
    """On a directed cycle every node has the same rank (symmetry), and
    with no dangling nodes total fixed-point mass stays ~conserved."""
    n = 6
    edges = [(i, (i + 1) % n) for i in range(n)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    rows = pagerank(df, n_iter=12).collect()
    rfs = {r["rank_fixed"] for r in rows}
    assert len(rfs) == 1  # all equal
    assert abs(next(iter(rfs)) - PR_SCALE) <= n  # mass conserved up to floor dust


def _ranks(df, n_iter):
    rows = pagerank(df, n_iter).collect()
    return {r["node"]: r["rank_fixed"] for r in rows}


def test_pagerank_null_endpoints_match_duckdb_twin(spark, graph_route):
    """A NULL endpoint is one node ranked ``base``; an edge to NULL still
    counts in its source's out-degree. pandas would read a nullable
    bigint column as float64, so the driver route must never see it."""
    edges = [(1, 2), (2, 1), (2, None), (None, 1), (3, 1)]
    want = {1: 856031250, 2: 747125000, 3: 150000000, None: 150000000}
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    assert _ranks(df, 3) == want == _reference_pagerank(edges, 3)
    values = ", ".join(
        f"({'NULL' if u is None else u}, {'NULL' if v is None else v})"
        for u, v in edges
    )
    twin = pagerank_oracle_sql(
        f"SELECT * FROM (VALUES {values}) t(src, dst)", n_iter=3
    )
    assert {n: rf for n, rf, _ in duckdb.sql(twin).fetchall()} == want


def test_pagerank_empty_edge_list_keeps_schema(spark, graph_route):
    df = spark.createDataFrame([], "src bigint, dst bigint")
    out = pagerank(df, n_iter=3)
    assert out.dtypes == [
        ("node", "bigint"), ("rank_fixed", "bigint"), ("rank", "double")
    ]
    assert out.collect() == []


def test_pagerank_zero_rounds_is_the_initial_rank(spark, graph_route):
    df = spark.createDataFrame(
        [(1, 2), (2, None), (3, 1)], "src bigint, dst bigint"
    )
    assert _ranks(df, 0) == dict.fromkeys([1, 2, 3, None], PR_SCALE)


def test_pagerank_string_node_ids(spark, graph_route):
    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"), ("d", "a")]
    df = spark.createDataFrame(edges, "src string, dst string")
    out = pagerank(df, n_iter=5)
    assert out.dtypes[0] == ("node", "string")
    assert {r["node"]: r["rank_fixed"] for r in out.collect()} == (
        _reference_pagerank(edges, n_iter=5)
    )


def test_pagerank_int64_ids_above_2_pow_53_stay_exact(spark, graph_route):
    """Ids that differ only below float64 precision stay distinct and
    round-trip exactly, with a NULL present (the column pandas would
    otherwise read as float64)."""
    big = 2**53 + 1
    edges = [(big, big + 1), (big + 1, big + 2), (big + 2, big), (big, None)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = _ranks(df, 4)
    assert set(got) == {big, big + 1, big + 2, None}
    assert got == _reference_pagerank(edges, 4)


def test_part_supplier_matches_oracle_on_each_route(
    spark, duck, sf_dir, graph_route
):
    df = QUERIES["pagerank_part_supplier"](spark, sf_dir)
    assert_matches_oracle(df, duck, ORACLES["pagerank_part_supplier"])


def test_pagerank_logs_its_route(spark, graph_route, caplog):
    df = spark.createDataFrame([(1, 2), (2, 1)], "src bigint, dst bigint")
    with caplog.at_level(logging.INFO, logger="market_flow_spark.decisions"):
        pagerank(df, n_iter=1)
    [rec] = [
        r for r in caplog.records if r.name == "market_flow_spark.decisions"
    ]
    assert rec.decision == {
        "operator": "graph.pagerank",
        "stats": {"edges": 2},
        "threshold": graph.DRIVER_MAX_EDGES,
        "choice": graph_route,
    }
