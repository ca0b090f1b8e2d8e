"""Connected components (``dedup.dedup_clusters``) on both routes of its
size switch, min-label rounds with pointer jumping on the driver and
two-star rounds distributed: the ``graph_route`` fixture forces the shared
edge bound, so every property and every registered query that clusters a
pair graph is checked once on the driver and once distributed."""

from __future__ import annotations

import logging
import random

import pytest

from market_flow_spark.extensions.dedup import dedup_clusters
from market_flow_spark.operators import graph
from market_flow_spark.queries_all import ORACLES, QUERIES
from tests.oracle_utils import assert_matches_oracle

# every registered query that reaches dedup_clusters
CLUSTER_QUERIES = [
    "dedup_clusters_minhash",
    "dedup_cluster_sizes",
    "corpus_clean",
    "semantic_dedup_keep",
    "semantic_dedup_keep_routed",
    "semantic_dedup_keep_banded",
    "leakage_safe_split",
]


def _labels(df):
    return {r["doc_id"]: r["cluster_id"] for r in df.collect()}


def _union_find(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for e in edges for x in e}


def test_clusters_match_union_find(spark, graph_route):
    for seed in (3, 20260816):
        rng = random.Random(seed)
        edges = sorted(
            {(a, b) for a, b in ((rng.randrange(60), rng.randrange(60)) for _ in range(50))}
        )
        pairs = spark.createDataFrame(edges, "doc1 long, doc2 long")
        assert _labels(dedup_clusters(pairs)) == _union_find(edges)


def test_clusters_string_ids_and_id_columns(spark, graph_route):
    pairs = spark.createDataFrame(
        [("b", "c"), ("c", "d"), ("x", "y")], "vec1 string, vec2 string"
    )
    out = dedup_clusters(pairs, id1="vec1", id2="vec2")
    assert out.dtypes == [("doc_id", "string"), ("cluster_id", "string")]
    assert _labels(out) == {"b": "b", "c": "b", "d": "b", "x": "x", "y": "x"}


def test_clusters_null_id_is_its_own_unlinked_node(spark, graph_route):
    """A NULL id links nothing: its partner keeps its own component and
    the NULL node's cluster_id is NULL. A self-pair is a node labelled
    itself. Ids above 2**53 stay exact, so the driver route must never
    read the nullable column as float64."""
    big = 2**53 + 1
    pairs = spark.createDataFrame(
        [(big + 1, big), (big + 2, None), (None, 7), (big + 3, big + 3)],
        "doc1 long, doc2 long",
    )
    assert _labels(dedup_clusters(pairs)) == {
        big: big, big + 1: big, big + 2: big + 2, 7: 7, None: None,
        big + 3: big + 3,
    }


def test_clusters_empty_pairs(spark, graph_route):
    out = dedup_clusters(spark.createDataFrame([], "doc1 int, doc2 int"))
    assert out.dtypes == [("doc_id", "int"), ("cluster_id", "int")]
    assert out.collect() == []


@pytest.mark.parametrize("order", ["sorted", "shuffled"])
def test_clusters_long_chain(spark, graph_route, order):
    """A 64-node chain (diameter 63, one round per hop for plain
    min-label) converges with default arguments on both routes, whether
    ids run along the chain or are shuffled across it."""
    ids = list(range(64))
    if order == "shuffled":
        random.Random(7).shuffle(ids)
    edges = list(zip(ids, ids[1:]))
    chain = spark.createDataFrame(edges, "doc1 long, doc2 long")
    assert _labels(dedup_clusters(chain)) == _union_find(edges)


def test_clusters_log_their_route(spark, graph_route, caplog):
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "doc1 long, doc2 long")
    with caplog.at_level(logging.INFO, logger="market_flow_spark.decisions"):
        dedup_clusters(pairs)
    [rec] = [
        r for r in caplog.records if r.name == "market_flow_spark.decisions"
    ]
    assert rec.decision == {
        "operator": "dedup.dedup_clusters",
        "stats": {"edges": 2},  # one orientation per pair
        "threshold": graph.DRIVER_MAX_EDGES,
        "choice": graph_route,
    }


@pytest.mark.parametrize("name", CLUSTER_QUERIES)
def test_cluster_query_matches_oracle_on_each_route(
    name, spark, duck, sf_dir, graph_route
):
    assert_matches_oracle(QUERIES[name](spark, sf_dir), duck, ORACLES[name])
