"""Iterative graph algebra: PageRank as pure DataFrame rounds.

The reference has no graph surface; at 100 TB link-analysis ranks (domain
authority for crawl prioritization, near-dup-cluster centrality) are a
standard corpus-curation signal, and PageRank is the canonical iterative
companion to the connected-components propagation in
``extensions.dedup.dedup_clusters`` — same execution discipline: one keyed
edge-list shuffle per round, eager ``localCheckpoint`` lineage truncation
so round N's plan stays constant-size, never a collect of the graph.

Determinism (what makes an iterative float algorithm oracle-checkable):
ranks live as 1e-9 **fixed-point BIGINTs**. Per-edge contributions use
integer floor division (``rank_fixed div outdeg``), per-node sums are
exact BIGINT addition (associative under any partitioning), and the one
float op per node per round — ``floor(damping * sum)`` — is a single IEEE
multiply on an integer-valued double below 2^53, bit-identical in any
engine. The classic Brin-Page formulation is used:

    rank(v) <- (1 - d) + d * sum over in-edges (u, v) of rank(u)/outdeg(u)

with ranks initialized to 1 and no dangling-mass redistribution (make the
graph dangling-free — e.g. symmetrize — if total-mass conservation
matters; the bipartite query twin does exactly that).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PR_SCALE = 10**9


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
    simple-graph ranks.

    Scale shape: the edge list and the static (node, deg) table are
    checkpointed once; each round is one equi-join of the
    (node-count-sized) rank table onto the edge list plus one
    map-side-combined sum on dst — the same per-round cost profile as one
    round of min-label propagation. Rank state is 2 columns × node count;
    at 1000 executors the join partitions by the edge key, and a hot
    in-degree node costs only its aggregate row.

    Checkpoint cadence (round-13): the round recurrence references the
    previous rank table ONCE (the new rank row joins the static ``nd``
    table against the contribution aggregate, not against the previous
    ranks), so the unmaterialized plan grows LINEARLY per round — the
    per-round eager ``localCheckpoint`` of the former shape (which
    referenced ``ranks`` twice per round and would otherwise double the
    plan each round) is not needed for plan health. Only the final table
    is materialized: all ``n_iter`` rounds execute as one job whose
    in-plan partitioning chains — EnsureRequirements sees each round's
    join output already hash-clustered on the node key, so only the
    contribution aggregate exchanges per round and the e/nd exchanges
    are ReusedExchange across rounds. (Materializing every round costs
    3-4 exchanges per round because a localCheckpoint under AQE comes
    back as a bare ``Scan ExistingRDD`` with no partitioning info —
    measured, round 13.)"""
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .localCheckpoint(eager=True)
    )
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
    base = int((1.0 - damping) * PR_SCALE)
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
    ranks = ranks.localCheckpoint(eager=True)
    return ranks.select(
        "node",
        F.col("rf").alias("rank_fixed"),
        (F.col("rf") / F.lit(float(PR_SCALE))).alias("rank"),
    )


def pagerank_oracle_sql(
    edges_sql: str, n_iter: int = 10, damping: float = 0.85
) -> str:
    """DuckDB twin of :func:`pagerank`: the iterations UNROLL into a
    generated CTE chain (aggregates are disallowed in a recursive CTE
    term, and n_iter is a fixed plan-time constant anyway — the same
    generate-the-SQL move as the 16-column MinHash oracle). Identical
    fixed-point arithmetic at every step."""
    base = int((1.0 - damping) * PR_SCALE)
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
