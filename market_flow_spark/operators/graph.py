"""Iterative graph algebra: fixed-point PageRank, routed by graph size,
and the one bounded collect that routes every small graph to the driver.

The reference has no graph surface; at 100 TB link-analysis ranks (domain
authority for crawl prioritization, near-dup-cluster centrality) are a
standard corpus-curation signal, and PageRank is the canonical iterative
companion to the connected components of
``extensions.dedup.dedup_clusters``. Both operators take the same first
step, :func:`collect_small_graph`: one collect, bounded at
``DRIVER_MAX_EDGES + 1`` rows, loads a small graph onto the driver, where
every round runs in numpy in one thread; a larger graph runs distributed
rounds. For PageRank those are a keyed edge-list join plus one
map-side-combined aggregate per round, with one eager ``localCheckpoint``
of the final rank table. For components the driver runs min-label rounds
with pointer jumping, and the distributed route runs two-star rounds;
neither needs one round per hop of graph diameter.

Determinism (what makes an iterative float algorithm oracle-checkable):
ranks live as 1e-9 **fixed-point BIGINTs**. Per-edge contributions use
integer floor division (``rank_fixed div outdeg``), per-node sums are
exact BIGINT addition (associative under any partitioning), and the one
float op per node per round — ``floor(damping * sum)`` — is a single IEEE
multiply on an integer-valued double below 2^53, bit-identical in any
engine, numpy included. The classic Brin-Page formulation is used:

    rank(v) <- (1 - d) + d * sum over in-edges (u, v) of rank(u)/outdeg(u)

with ranks initialized to 1 and no dangling-mass redistribution (make the
graph dangling-free — e.g. symmetrize — if total-mass conservation
matters; the bipartite query twin does exactly that).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from market_flow_spark.decisions import decision_log

PR_SCALE = 10**9

# Largest edge count that runs on the driver (see ``collect_small_graph``).
DRIVER_MAX_EDGES = 11_819_460


def collect_small_graph(rows: DataFrame, operator: str) -> pa.Table | None:
    """``rows`` as one Arrow table when it holds at most
    ``DRIVER_MAX_EDGES`` rows, else None — the route decision of every
    size-routed graph operator, logged through ``decisions.decision_log``
    as ``operator`` with the true edge count.

    One collect, ``limit(bound + 1).toArrow()``, both decides and loads:
    a small graph costs no separate count job. ``limit`` takes an int32,
    so the bound is clamped to ``2**31 - 2``. Only a graph above the
    bound pays a second job, the count that logs its size.

    Crossover, measured on 4 cores over the symmetrized part-supplier
    graph of ``pagerank_part_supplier``: see :func:`pagerank` and
    ``dedup.dedup_clusters``. Both operators still ran faster on the
    driver at sf1, the largest graph measured, so the bound is that edge
    count rather than an extrapolated crossover."""
    bound = min(DRIVER_MAX_EDGES, 2**31 - 2)
    table = rows.limit(bound + 1).toArrow()
    small = table.num_rows <= bound
    decision_log(
        operator,
        {"edges": table.num_rows if small else rows.count()},
        DRIVER_MAX_EDGES,
        "one_task" if small else "distributed",
    )
    return table if small else None


def _base_rank(damping: float) -> int:
    """Fixed-point ``1 - damping``: a node's rank with no in-edges."""
    return int((1.0 - damping) * PR_SCALE)


def pagerank(
    edges: DataFrame,
    n_iter: int = 10,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """(node, rank_fixed, rank) after ``n_iter`` synchronous PageRank
    rounds over the directed edge list. Multigraph semantics: parallel
    edges contribute multiply — ``.distinct()`` the edge list first for
    simple-graph ranks. A NULL endpoint is a node of its own that nothing
    ranks (rank ``1 - damping``); an edge to NULL still counts in its
    source's out-degree, and an edge from NULL contributes nothing.

    Two routes, picked by :func:`collect_small_graph`:

    - **one task, on the driver** (``edges <= DRIVER_MAX_EDGES``): the
      collected rows run all rounds in numpy with the same arithmetic
      (int64 ``rf // deg``, exact ``np.add.at`` sums, one IEEE
      ``floor(damping * s)`` per node), and the rank table returns as a
      local Arrow relation. No Python worker starts and the result plans
      no shuffle. On a small graph the distributed rounds cost
      scheduling, not data: about 0.13 s per sequential stage on 4 cores.
    - **distributed** (larger graphs): the edge list and the (node, deg)
      table are checkpointed once; each round is one equi-join of the
      rank table onto the edge list plus one map-side-combined sum on
      dst. The recurrence references the previous rank table once, so
      the plan grows linearly and only the final table is checkpointed: all
      rounds run as one job in which each round's join output is
      already hash-clustered on the node key, so only the contribution
      aggregate exchanges per round. (A per-round checkpoint would cost
      3-4 exchanges per round: under AQE a ``localCheckpoint`` comes back
      as a bare ``Scan ExistingRDD`` with no partitioning.)

    Crossover, measured on 4 cores over the symmetrized part-supplier
    graph of ``pagerank_part_supplier`` (8 rounds; construct plus a noop
    write, medians of 6, 6 and 3 interleaved same-process reps after a
    warm-up; every output bit-identical across routes). Peak RSS: one
    cold run per route in a fresh process, read as the Python driver's
    ``ru_maxrss`` (143 MB on the distributed route at every scale) and
    the Spark JVM's ``VmHWM``:

    ======  ==========  =======  =======  ===========  =========  ==========
    scale   edges       nodes    driver   distributed  Python     JVM drv /
                                                       RSS (drv)  distrib.
    ======  ==========  =======  =======  ===========  =========  ==========
    sf0.01     103,462    2,100   0.48 s       3.49 s     162 MB  1.1/1.8 GB
    sf0.1    1,181,946   21,000   1.68 s       7.63 s     266 MB  1.4/2.6 GB
    sf1     11,819,460  201,000  12.82 s      50.15 s    1306 MB  3.9/6.9 GB
    ======  ==========  =======  =======  ===========  =========  ==========

    sf1 is ``gen_sf1.py``. The driver route wins at every measured size.
    Without its edge-list checkpoint the distributed route took 65.85 s
    at sf1: every round re-read the edge plan."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    node_type = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .schema["node"]
        .dataType
    )
    # NULL endpoints never reach pandas, where a nullable integer column
    # would become float64: each row ships as two ids a = coalesce(src,
    # dst) and b = coalesce(dst, src) plus flags saying which were real
    s, d = F.col("src").cast(node_type), F.col("dst").cast(node_type)
    rows = e.select(
        F.coalesce(s, d).alias("a"),
        F.coalesce(d, s).alias("b"),
        s.isNotNull().alias("src_ok"),
        d.isNotNull().alias("dst_ok"),
    )
    table = collect_small_graph(rows, "graph.pagerank")
    if table is None:
        ranks = _pagerank_rounds(e.localCheckpoint(eager=True), n_iter, damping)
    else:
        schema = StructType(
            [StructField("node", node_type), StructField("rf", LongType())]
        )
        ranks = e.sparkSession.createDataFrame(
            _driver_ranks(table, n_iter, damping), schema
        )
    return ranks.select(
        "node",
        F.col("rf").alias("rank_fixed"),
        (F.col("rf") / F.lit(float(PR_SCALE))).alias("rank"),
    )


def _pagerank_rounds(e: DataFrame, n_iter: int, damping: float) -> DataFrame:
    """Distributed route: (node, deg, rf), checkpointed once at the end."""
    nodes = e.select(F.col("src").alias("node")).union(
        e.select(F.col("dst").alias("node"))
    ).distinct()
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # static (node, out-degree) table: checkpointed once, re-joined every
    # round; out-degree ALSO rides with the rank row so each round joins
    # the edge list exactly once
    nd = (
        nodes.join(outdeg, nodes["node"] == outdeg["src"], "left")
        .select(
            "node",
            F.coalesce(F.col("deg"), F.lit(0)).alias("deg"),
        )
        .localCheckpoint(eager=True)
    )
    ranks = nd.select(
        "node", "deg", F.lit(PR_SCALE).cast("bigint").alias("rf")
    )
    base = _base_rank(damping)
    for _ in range(n_iter):
        contribs = (
            e.join(ranks, e["src"] == ranks["node"])
            .select("dst", F.expr("rf div deg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        ranks = (
            nd.join(contribs, nd["node"] == contribs["dst"], "left")
            .select(
                "node",
                "deg",
                (
                    F.lit(base)
                    + F.floor(
                        F.lit(damping) * F.coalesce(F.col("s"), F.lit(0))
                    )
                )
                .cast("bigint")
                .alias("rf"),
            )
        )
    return ranks.localCheckpoint(eager=True)


def _driver_ranks(table: pa.Table, n_iter: int, damping: float) -> pa.Table:
    """Driver route: the (node, rf) table of the collected (a, b, src_ok,
    dst_ok) rows. A row with both endpoints NULL has a NULL ``a`` and
    only marks the NULL node, whose constant rank row is appended."""
    ok = pc.and_(table["src_ok"], table["dst_ok"])
    has_null = not pc.all(ok, min_count=0).as_py()
    linked = table.filter(pc.is_valid(table["a"]))
    ranks = _one_task_ranks(linked.to_pandas(), n_iter, damping)
    node = pa.array(ranks["node"].to_numpy(), type=table.schema.field("a").type)
    rf = pa.array(ranks["rf"].to_numpy(), type=pa.int64())
    if has_null:
        node = pa.concat_arrays([node, pa.nulls(1, node.type)])
        rf = pa.concat_arrays(
            [rf, pa.array([PR_SCALE if n_iter == 0 else _base_rank(damping)])]
        )
    return pa.table({"node": node, "rf": rf})


def _one_task_ranks(
    pdf: pd.DataFrame, n_iter: int, damping: float
) -> pd.DataFrame:
    """All ``n_iter`` rounds over (a, b, src_ok, dst_ok) rows with no NULL
    id, with the distributed route's fixed-point arithmetic."""
    m = len(pdf)
    codes, nodes = pd.factorize(
        pd.concat([pdf["a"], pdf["b"]], ignore_index=True)
    )
    src, dst = codes[:m], codes[m:]
    src_ok = pdf["src_ok"].to_numpy(dtype=bool)
    link = src_ok & pdf["dst_ok"].to_numpy(dtype=bool)
    deg = np.bincount(src[src_ok], minlength=len(nodes)).astype(np.int64)
    src, dst = src[link], dst[link]
    base = _base_rank(damping)
    rf = np.full(len(nodes), PR_SCALE, dtype=np.int64)
    for _ in range(n_iter):
        s = np.zeros(len(nodes), dtype=np.int64)
        np.add.at(s, dst, rf[src] // deg[src])
        rf = base + np.floor(damping * s.astype(np.float64)).astype(np.int64)
    return pd.DataFrame({"node": nodes, "rf": rf})


def pagerank_oracle_sql(
    edges_sql: str, n_iter: int = 10, damping: float = 0.85
) -> str:
    """DuckDB twin of :func:`pagerank`: the iterations UNROLL into a
    generated CTE chain (aggregates are disallowed in a recursive CTE
    term, and n_iter is a fixed plan-time constant anyway — the same
    generate-the-SQL move as the 16-column MinHash oracle). Identical
    fixed-point arithmetic at every step."""
    base = _base_rank(damping)
    parts = [
        f"WITH e AS ({edges_sql})",
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e)",
        "outdeg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src)",
        f"it0 AS (SELECT node, CAST({PR_SCALE} AS BIGINT) AS rf FROM nodes)",
    ]
    for i in range(n_iter):
        parts.append(
            f"""it{i + 1} AS (
  SELECT n.node,
         CAST({base} + FLOOR({damping} * COALESCE(s.s, 0)) AS BIGINT) AS rf
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node, SUM(r.rf // d.deg) AS s
    FROM e JOIN it{i} r ON e.src = r.node JOIN outdeg d ON e.src = d.src
    GROUP BY e.dst) s ON n.node = s.node)"""
        )
    return (
        ",\n".join(parts)
        + f"\nSELECT node, rf AS rank_fixed, rf / {float(PR_SCALE)} AS rank"
        " FROM it" + str(n_iter)
    )
