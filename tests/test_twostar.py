"""Alternating large-star/small-star connected components (Kiveris et
al. 2014), the distributed route of ``dedup.dedup_clusters``: the same
(doc_id, cluster_id = min reachable) contract as the driver route's
min-label rounds with pointer jumping, in O(log^2 n) rounds regardless of
pair-graph diameter — the shape for chained duplication graphs."""

from __future__ import annotations

import random

from market_flow_spark.extensions.dedup import dedup_clusters
from market_flow_spark.operators import graph


def _labels(df):
    return {r["doc_id"]: r["cluster_id"] for r in df.collect()}


# an edge bound that forces each route of ``graph.collect_small_graph``
ROUTE_BOUNDS = {"one_task": 10**18, "distributed": -1}


def _clusters_on(route, pairs, monkeypatch):
    """``dedup_clusters`` forced onto one route of its size switch."""
    with monkeypatch.context() as m:
        m.setattr(graph, "DRIVER_MAX_EDGES", ROUTE_BOUNDS[route])
        return _labels(dedup_clusters(pairs))


def test_twostar_long_chain_converges_where_label_prop_cannot(
    spark, monkeypatch
):
    """The motivating regime: a 64-hop chain (diameter 63), where plain
    min-label would need one round per hop. Two-star contracts the chain
    geometrically and labels every node 0 with default arguments, as the
    driver route's pointer jumping does."""
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "doc1 long, doc2 long"
    )
    want = dict.fromkeys(range(64), 0)
    assert _clusters_on("distributed", chain, monkeypatch) == want
    assert _clusters_on("one_task", chain, monkeypatch) == want


def test_twostar_matches_label_prop_on_random_graphs(spark, monkeypatch):
    """Both routes compute the same function: sweep random sparse pair
    graphs (mixed cliques, chains, isolated edges) and compare two-star
    against the driver's min-label rounds and a python union-find
    model."""
    for seed in (3, 20260816):
        rng = random.Random(seed)
        n = 60
        edges = set()
        for _ in range(50):
            a, b = rng.randrange(n), rng.randrange(n)
            if a != b:
                edges.add((a, b))
        pairs = spark.createDataFrame(
            sorted(edges), "doc1 long, doc2 long"
        )
        # python union-find ground truth
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        touched = {x for e in edges for x in e}
        want = {x: find(x) for x in touched}
        got_ts = _clusters_on("distributed", pairs, monkeypatch)
        got_lp = _clusters_on("one_task", pairs, monkeypatch)
        assert got_ts == want, f"seed {seed}: two-star diverges from model"
        assert got_lp == want, f"seed {seed}: label-prop diverges from model"


def test_twostar_empty_pairs(spark, monkeypatch):
    empty = spark.createDataFrame([], "doc1 long, doc2 long")
    assert _clusters_on("distributed", empty, monkeypatch) == {}

