from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

REPO_ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO_ROOT))

TESTDATA_SF = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from market_flow_spark.session import get_spark

    wh = tmp_path_factory.mktemp("spark-warehouse")
    s = get_spark(
        app_name="mfs-tests",
        cpus=os.environ.get("SPARK_GRAFT_CPUS", "4"),
        extra_conf={"spark.sql.warehouse.dir": str(wh)},
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return TESTDATA_SF


@pytest.fixture(scope="session")
def tables(spark, sf_dir):
    from market_flow_spark.tables import load_tables

    return load_tables(spark, sf_dir)


@pytest.fixture(scope="session")
def duck(sf_dir):
    """DuckDB connection with the same parquet tables registered as views,
    mirroring the driver's oracle setup."""
    import duckdb

    from market_flow_spark.tables import TABLE_NAMES

    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'"
        )
    yield con
    con.close()


# a bound that forces each size-routed graph route for any edge count
GRAPH_ROUTE_BOUNDS = {"one_task": 10**18, "distributed": -1}


@pytest.fixture(params=list(GRAPH_ROUTE_BOUNDS))
def graph_route(request, monkeypatch):
    """Runs a test once per route of ``graph.collect_small_graph`` (the
    driver's one task, then the distributed rounds) by patching the
    shared edge bound."""
    from market_flow_spark.operators import graph

    monkeypatch.setattr(
        graph, "DRIVER_MAX_EDGES", GRAPH_ROUTE_BOUNDS[request.param]
    )
    return request.param


# the physical shapes dedup.jaccard_pairs' sampled chooser picks between
JACCARD_SHAPES = ("bitmask", "count_common", "freq_ordered")


@pytest.fixture
def jaccard_shape(monkeypatch):
    """Forces ``dedup.jaccard_pairs``' shape: ``jaccard_shape(name)``
    patches the sampled chooser so every later ``jaccard_pairs`` call in
    the test takes shape ``name`` (one of ``JACCARD_SHAPES``)."""
    from market_flow_spark.extensions import dedup

    def force(shape: str) -> str:
        assert shape in JACCARD_SHAPES
        monkeypatch.setattr(dedup, "_jaccard_shape", lambda *_: shape)
        return shape

    return force
