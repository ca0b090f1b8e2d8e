"""IVF ANN correctness.

The k-means-quantizer IVF (`similarity.ivf_topk`) is the one operator whose
driver entry is delegated to the deterministic hyperplane variant (the
training loop is not SQL-expressible), so its own gate lives here: a
bit-exact Python reference implementation — same centroids (re-derived via
the shared `train_kmeans_quantizer`), same sequential-fold arithmetic as
the JVM expressions, same det_round — evaluated at TWO scale factors, plus
recall against exact brute force.
"""

from __future__ import annotations

import math

import pytest

from market_flow_spark.extensions.similarity import (
    cosine_topk,
    embedding_neardup_pairs_ivf,
    ivf_hyperplane_topk,
    ivf_topk,
    train_kmeans_quantizer,
)


def _fold_dot(a, b) -> float:
    """Sequential left fold — bit-identical to the JVM zip_with+aggregate."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += float(x) * float(y)
    return acc


def _det_round6(x: float) -> float:
    return math.floor(x * 1e6 + 0.5) / 1e6


def _reference_ivf(emb_rows, n_queries, k, n_cells, nprobe, train_rows):
    """Pure-Python IVF mirroring similarity.ivf_topk step for step; a
    NULL element counts as 0 everywhere."""
    import numpy as np

    def matrix(rows):
        X = np.asarray([list(r.embedding) for r in rows], dtype=np.float64)
        return np.nan_to_num(X, nan=0.0)

    X = matrix(r for r in emb_rows if r.vec_id < train_rows)
    C = train_kmeans_quantizer(X, n_cells, seed=42, max_iter=8)
    cnorm2 = (C * C).sum(1)
    all_X = matrix(emb_rows)
    cells = (cnorm2 - 2.0 * (all_X @ C.T)).argmin(1)
    ids = [r.vec_id for r in emb_rows]
    norms = {i: math.sqrt(_fold_dot(e, e)) for i, e in zip(ids, all_X)}
    by_id = dict(zip(ids, all_X))
    cell_of = dict(zip(ids, (int(c) for c in cells)))

    out = []
    for qid in [i for i in ids if i < n_queries]:
        qe = by_id[qid]
        # probe ranking: sequential fold of (x-y)^2, tie-break by cell id
        d2s = []
        for j, c in enumerate(C):
            acc = 0.0
            for x, y in zip(qe, c):
                acc += (float(x) - float(y)) * (float(x) - float(y))
            d2s.append((acc, j))
        probed = {j for _, j in sorted(d2s)[:nprobe]}
        scored = []
        for nid in ids:
            if nid == qid or cell_of[nid] not in probed:
                continue
            cos = _fold_dot(by_id[nid], qe) / (norms[nid] * norms[qid])
            scored.append((_det_round6(cos), nid))
        scored.sort(key=lambda t: (-t[0], t[1]))
        for rank, (cos, nid) in enumerate(scored[:k], start=1):
            out.append((qid, nid, cos, rank))
    return sorted(out)


@pytest.mark.parametrize("sf", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"])
def test_ivf_topk_matches_reference_bit_exact(spark, sf):
    """Spark IVF output == the Python reference, bit for bit, at two SFs."""
    from market_flow_spark.tables import load_tables

    emb = load_tables(spark, sf)["embeddings"]
    params = dict(n_queries=5, k=5, n_cells=8, nprobe=4)
    got = sorted(
        (r.query_id, r.neighbor_id, r.cosine, r.rank)
        for r in ivf_topk(emb, train_rows=2048, **params).collect()
    )
    want = _reference_ivf(
        emb.select("vec_id", "embedding").collect(), train_rows=2048, **params
    )
    assert got == want


def test_ivf_null_element_counts_as_zero(spark):
    """A NULL query element adds 0 to the probe distance and to the numpy
    cell assignment, as it does to every dot product: the query
    [NULL, 1, 1, 1] is nearest the all-ones centroid (cell 1), so with
    nprobe=1 it searches that cell and finds vectors 1 and 2. Before,
    its probe distances were all NULL (the probe fell back to cell 0) and
    NaN sent it to cell 0."""
    import numpy as np

    emb = spark.createDataFrame(
        [
            (0, [None, 1.0, 1.0, 1.0]),
            (1, [1.0, 1.0, 1.0, 0.5]),
            (2, [0.5, 1.0, 0.5, 1.0]),
            (3, [-1.0, -1.0, 0.5, -1.0]),
            (4, [-1.0, -1.0, -1.0, -1.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    centroids = np.array([[-1.0] * 4, [1.0] * 4])
    got = ivf_topk(emb, n_queries=1, k=2, nprobe=1, centroids=centroids)
    assert {r.neighbor_id for r in got.collect()} == {1, 2}
    pairs = embedding_neardup_pairs_ivf(emb, threshold=0.5, centroids=centroids)
    assert {(r.vec1, r.vec2) for r in pairs.collect()} >= {(0, 1), (0, 2)}


def test_ivf_topk_recall_and_exactness(spark, tables):
    emb = tables["embeddings"]
    exact = cosine_topk(emb, n_queries=5, k=5).collect()
    approx = ivf_topk(emb, n_queries=5, k=5, n_cells=8, nprobe=4).collect()

    exact_map = {(r.query_id, r.neighbor_id): r.cosine for r in exact}
    approx_map = {(r.query_id, r.neighbor_id): r.cosine for r in approx}

    # any pair the IVF path returns must carry the exact same cosine the
    # brute-force path computes (same arithmetic, just fewer candidates)
    overlap = set(exact_map) & set(approx_map)
    for pair in overlap:
        assert exact_map[pair] == approx_map[pair]

    # recall@5 with half the cells probed should find a decent share of
    # true neighbors even on unclustered synthetic data
    recall = len(overlap) / len(exact_map)
    assert recall >= 0.2, f"recall collapsed: {recall}"

    # ≤ k rows per query, ranks contiguous from 1
    from collections import defaultdict

    by_q = defaultdict(list)
    for r in approx:
        by_q[r.query_id].append(r.rank)
    for ranks in by_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_ivf_deterministic_across_runs(spark, tables):
    emb = tables["embeddings"]
    a = sorted(map(tuple, ivf_topk(emb, n_queries=3, k=3).collect()))
    b = sorted(map(tuple, ivf_topk(emb, n_queries=3, k=3).collect()))
    assert a == b


def test_ivf_hyperplane_same_skeleton_exact_within_cells(spark, tables):
    """The hyperplane-quantizer driver variant: every returned pair's
    cosine must match brute force exactly (same fold arithmetic)."""
    emb = tables["embeddings"]
    exact = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in cosine_topk(emb, n_queries=5, k=100).collect()
    }
    hp = ivf_hyperplane_topk(emb, n_queries=5, k=5).collect()
    assert len(hp) > 0
    for r in hp:
        key = (r.query_id, r.neighbor_id)
        if key in exact:
            assert exact[key] == r.cosine


def test_ivf_centroids_persist_and_reuse(spark, tables, tmp_path):
    """Build-once/query-many: centroids trained, saved, loaded back must
    drive ivf_topk to EXACTLY the same results as the train-inline path —
    and the loaded-quantizer query plan must not collect the corpus."""
    import numpy as np

    from market_flow_spark.extensions.similarity import (
        load_ivf_centroids,
        save_ivf_centroids,
        train_ivf_centroids,
    )

    emb = tables["embeddings"]
    C = train_ivf_centroids(emb, n_cells=8, seed=42)
    path = str(tmp_path / "ivf_index")
    save_ivf_centroids(spark, C, path)
    loaded = load_ivf_centroids(spark, path)
    assert np.array_equal(C, loaded)

    inline = sorted(
        map(tuple, ivf_topk(emb, n_queries=4, k=4, n_cells=8, nprobe=3).collect())
    )
    reused = sorted(
        map(
            tuple,
            ivf_topk(emb, n_queries=4, k=4, nprobe=3, centroids=loaded).collect(),
        )
    )
    assert inline == reused and len(reused) > 0


def test_pq_exact_on_codebook_vectors(spark):
    """Correctness anchor: when every corpus vector IS a concatenation of
    codebook centroids (and unit-norm), PQ encoding recovers the exact
    codes and the ADC score equals the true inner product — so PQ top-k
    must equal brute-force cosine top-k exactly."""
    import itertools

    import numpy as np

    from market_flow_spark.extensions.similarity import (
        cosine_topk,
        pq_encode,
        pq_topk,
    )

    m, k, sub = 4, 4, 2
    rng = np.random.RandomState(7)
    # centroids with norm 1/sqrt(m) so any concatenation is unit-norm
    B = rng.randn(m, k, sub)
    B /= np.linalg.norm(B, axis=2, keepdims=True) * np.sqrt(m)
    combos = list(itertools.product(range(k), repeat=m))[:60]
    vecs = [
        (i, [float(x) for j, c in enumerate(code) for x in B[j, c]], list(code))
        for i, code in enumerate(combos)
    ]
    emb = spark.createDataFrame(
        [(i, v) for i, v, _ in vecs], "vec_id long, embedding array<double>"
    )
    got_codes = {r.vec_id: list(r.code) for r in pq_encode(emb, B).collect()}
    assert got_codes == {i: c for i, _, c in vecs}

    brute = {
        (r.query_id, r.rank): r.neighbor_id
        for r in cosine_topk(emb, n_queries=3, k=4).collect()
    }
    pq = {
        (r.query_id, r.rank): r.neighbor_id
        for r in pq_topk(emb, n_queries=3, k=4, codebooks=B).collect()
    }
    assert pq == brute


def test_pq_recall_and_determinism(spark, tables):
    from market_flow_spark.extensions.similarity import cosine_topk, pq_topk

    emb = tables["embeddings"]
    brute = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(emb, n_queries=5, k=5).collect()
    }
    a = pq_topk(emb, n_queries=5, k=5, m=16, n_codes=32).collect()
    b = pq_topk(emb, n_queries=5, k=5, m=16, n_codes=32).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    pq = {(r.query_id, r.neighbor_id) for r in a}
    # near-random synthetic embeddings are PQ's worst case; on clustered
    # real embedding corpora recall is far higher — bound loosely
    assert len(brute & pq) / len(brute) >= 0.3
    # every query returns exactly k rows
    from collections import Counter

    per_q = Counter(r.query_id for r in a)
    assert set(per_q.values()) == {5}


def test_ivf_pq_composition(spark, tables):
    """IVF cells prune, PQ codes score, exact refine re-ranks: recall
    against brute force stays high, the reported cosines are EXACT (the
    refine stage computes full-precision scores), and the search is
    deterministic across runs."""
    from market_flow_spark.extensions.similarity import cosine_topk, ivf_pq_topk

    emb = tables["embeddings"]
    brute_all = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in cosine_topk(emb, n_queries=5, k=600).collect()
    }
    brute_top = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(emb, n_queries=5, k=5).collect()
    }
    got = ivf_pq_topk(
        emb, n_queries=5, k=5, n_cells=16, nprobe=4, m=16, n_codes=32
    ).collect()
    s = {(r.query_id, r.neighbor_id) for r in got}
    assert len(brute_top & s) / len(brute_top) >= 0.6  # measured 0.72
    # refined scores are exact full-precision cosines
    for r in got:
        assert abs(r.cosine - brute_all[(r.query_id, r.neighbor_id)]) < 1e-9
    # k rows per query, deterministic
    from collections import Counter

    assert set(Counter(r.query_id for r in got).values()) == {5}
    again = ivf_pq_topk(
        emb, n_queries=5, k=5, n_cells=16, nprobe=4, m=16, n_codes=32
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, again))


def test_pq_codebooks_persist_and_reuse(spark, tables, tmp_path):
    import numpy as np

    from market_flow_spark.extensions.similarity import (
        load_pq_codebooks,
        pq_topk,
        save_pq_codebooks,
        train_pq_codebooks,
    )

    emb = tables["embeddings"]
    B = train_pq_codebooks(emb, m=8, n_codes=16)
    path = str(tmp_path / "pq_books")
    save_pq_codebooks(spark, B, path)
    loaded = load_pq_codebooks(spark, path)
    assert np.array_equal(B, loaded)
    inline = sorted(map(tuple, pq_topk(emb, n_queries=3, k=3, m=8, n_codes=16).collect()))
    reused = sorted(map(tuple, pq_topk(emb, n_queries=3, k=3, codebooks=loaded).collect()))
    assert inline == reused and len(reused) > 0
