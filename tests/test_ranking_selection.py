"""Behavioral tests for the export/selection operators: scale-safe global
ranking, deterministic shuffle, curriculum staging, DSIR importance
weighting, semantic dedup, and the leakage-safe cluster split. (Oracle
parity for the registered queries is covered by test_oracle_parity.)"""

from __future__ import annotations

import pytest
from pyspark.sql import Row, Window
from pyspark.sql import functions as F

from market_flow_spark.extensions import selection as sel
from market_flow_spark.extensions.corpus import cluster_safe_split
from market_flow_spark.extensions.similarity import (
    embedding_neardup_pairs,
    semantic_dedup_keep,
)
from market_flow_spark.operators import ranking


# ---------------------------------------------------------------------------
# global_sort_rank / deterministic_shuffle / curriculum_stages
# ---------------------------------------------------------------------------


def test_global_sort_rank_matches_naive_window(spark):
    df = spark.range(0, 1000).select(
        F.col("id"), (F.col("id") * 2654435761 % 997).alias("k")
    ).repartition(7)
    # total order: (k, id)
    got = {
        r["id"]: r["rank"]
        for r in ranking.global_sort_rank(df, ["k", "id"]).collect()
    }
    want = {
        r["id"]: r["rank"]
        for r in df.withColumn(
            "rank", F.row_number().over(Window.orderBy("k", "id"))
        ).collect()
    }
    assert got == want


def test_global_sort_rank_plans_two_phase(spark):
    df = spark.range(0, 100).select(F.col("id"))
    plan = (
        ranking.global_sort_rank(df, ["id"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the data pass must be range-partitioned, not funneled through a
    # single-partition global-sort window
    assert "rangepartitioning" in plan
    # offsets join back by partition id as a broadcast equi-join
    assert "BroadcastHashJoin" in plan


def test_deterministic_shuffle_is_stable_permutation(spark):
    df = spark.range(0, 500).select(F.col("id").alias("doc_id"))
    a = ranking.deterministic_shuffle(df, "doc_id")
    b = ranking.deterministic_shuffle(df.repartition(13), "doc_id")
    ra = {r["doc_id"]: r["shuffle_rank"] for r in a.collect()}
    rb = {r["doc_id"]: r["shuffle_rank"] for r in b.collect()}
    assert ra == rb, "shuffle order must not depend on input partitioning"
    assert sorted(ra.values()) == list(range(1, 501))
    # actually mixed: the identity order would be astronomically unlikely
    first_ten = [d for d, _ in sorted(ra.items(), key=lambda kv: kv[1])][:10]
    assert first_ten != list(range(10))


def test_deterministic_shuffle_seed_changes_order(spark):
    df = spark.range(0, 200).select(F.col("id").alias("doc_id"))
    e1 = {
        r["doc_id"]: r["shuffle_rank"]
        for r in ranking.deterministic_shuffle(df, "doc_id", seed="ep1").collect()
    }
    e2 = {
        r["doc_id"]: r["shuffle_rank"]
        for r in ranking.deterministic_shuffle(df, "doc_id", seed="ep2").collect()
    }
    assert e1 != e2


def test_curriculum_stage_sizes_and_monotonicity(spark):
    rows = [Row(doc_id=i, score=1000 - i) for i in range(103)]
    df = spark.createDataFrame(rows)
    out = ranking.curriculum_stages(
        df, "score", key_col="doc_id", n_stages=4
    ).collect()
    sizes = {}
    for r in out:
        sizes[r["stage"]] = sizes.get(r["stage"], 0) + 1
    assert set(sizes) == {0, 1, 2, 3}
    assert max(sizes.values()) - min(sizes.values()) <= 1
    # stage is monotone in score
    by_rank = sorted(out, key=lambda r: r["curriculum_rank"])
    stages = [r["stage"] for r in by_rank]
    assert stages == sorted(stages)
    assert by_rank[0]["score"] == min(r["score"] for r in out)


# ---------------------------------------------------------------------------
# DSIR importance weighting
# ---------------------------------------------------------------------------


def _docs(spark, texts):
    return spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    )


def test_dsir_prefers_target_like_docs(spark):
    target = _docs(spark, ["quantum physics lattice gauge theory"] * 6)
    raw = _docs(
        spark,
        [
            "quantum physics lattice gauge theory applied",  # target-like
            "cheap shoes buy now discount sale",  # not target-like
            "cheap shoes discount offer",  # not target-like
        ],
    )
    w = {
        r["doc_id"]: r["logweight"]
        for r in sel.dsir_logweights(raw, target, n_buckets=512).collect()
    }
    assert w[0] > w[1] and w[0] > w[2]


def test_dsir_empty_and_null_text_scores_zero(spark):
    target = _docs(spark, ["alpha beta"])
    raw = spark.createDataFrame(
        [Row(doc_id=0, text=None), Row(doc_id=1, text="   "), Row(doc_id=2, text="alpha")]
    )
    out = {r["doc_id"]: r for r in sel.dsir_logweights(raw, target).collect()}
    assert out[0]["n_feats"] == 0 and out[0]["logweight"] == 0.0
    assert out[1]["n_feats"] == 0 and out[1]["logweight"] == 0.0
    assert out[2]["n_feats"] == 1


def test_dsir_topk_is_take_ordered(spark):
    target = _docs(spark, ["a b c"])
    raw = _docs(spark, ["a b", "c d", "e f", "a c"])
    df = sel.dsir_topk(raw, target, k=2, n_buckets=64)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert len(df.collect()) == 2


def test_hashed_feature_counts_include_bigrams(spark):
    docs = _docs(spark, ["x y"])
    n_uni_bi = sel.hashed_feature_counts(docs, n_buckets=1 << 20)
    # "x", "y", "x y" -> 3 features (distinct buckets w.h.p.)
    assert n_uni_bi.agg(F.sum("c")).first()[0] == 3
    uni = sel.hashed_feature_counts(docs, n_buckets=1 << 20, bigrams=False)
    assert uni.agg(F.sum("c")).first()[0] == 2


# ---------------------------------------------------------------------------
# semantic dedup + leakage-safe split
# ---------------------------------------------------------------------------


def _emb(spark, vecs):
    return spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) for x in v]) for i, v in enumerate(vecs)]
    )


def test_semantic_dedup_keeps_one_per_chain(spark):
    # 0~1 and 1~2 are near-dups (same sign bucket, cosine ~1); 3 is far
    emb = _emb(
        spark,
        [
            [1.0, 1.0, 1.0, 1.0, 0.5, 0.5, 0.5, 0.5],
            [1.0, 1.0, 1.0, 1.0, 0.5, 0.5, 0.5, 0.51],
            [1.0, 1.0, 1.0, 1.0, 0.5, 0.5, 0.51, 0.5],
            [1.0, -1.0, 1.0, -1.0, 1.0, -1.0, 1.0, -1.0],
        ],
    )
    pairs = embedding_neardup_pairs(emb, threshold=0.9)
    out = {r["vec_id"]: r for r in semantic_dedup_keep(emb, pairs).collect()}
    assert out[0]["keep"] and out[0]["cluster_id"] == 0
    assert not out[1]["keep"] and out[1]["cluster_id"] == 0
    assert not out[2]["keep"] and out[2]["cluster_id"] == 0
    assert out[3]["keep"] and out[3]["cluster_id"] == 3


def test_cluster_safe_split_never_straddles_pairs(spark, tables):
    emb = tables["embeddings"]
    pairs = embedding_neardup_pairs(emb, threshold=0.25, n_bits=8)
    split = cluster_safe_split(
        emb.select(F.col("vec_id").alias("doc_id")),
        pairs,
        train_frac=0.8,
        id1="vec1",
        id2="vec2",
    )
    s = {r["doc_id"]: r["split"] for r in split.collect()}
    straddle = [
        (r["vec1"], r["vec2"])
        for r in pairs.collect()
        if s[r["vec1"]] != s[r["vec2"]]
    ]
    assert straddle == []
    # both splits populated (sanity on proportions)
    vals = list(s.values())
    assert 0 < vals.count("train") < len(vals)


def test_cluster_safe_split_unpaired_docs_use_own_id(spark):
    docs = spark.createDataFrame([Row(doc_id=i) for i in range(10)])
    pairs = spark.createDataFrame([Row(doc1=1, doc2=2)])
    out = {r["doc_id"]: r for r in cluster_safe_split(docs, pairs).collect()}
    assert out[2]["cluster_id"] == 1 and out[1]["cluster_id"] == 1
    assert out[1]["split"] == out[2]["split"]
    for i in (0, 3, 4):
        assert out[i]["cluster_id"] == i


# ---------------------------------------------------------------------------
# IVF-cell blocking + degenerate-block guard
# ---------------------------------------------------------------------------


def test_ivf_pairs_exact_within_cells(spark, tables):
    import numpy as np

    from market_flow_spark.extensions.similarity import (
        embedding_neardup_pairs_ivf,
        train_ivf_centroids,
    )

    emb = tables["embeddings"]
    C = train_ivf_centroids(emb, n_cells=8)
    got = {
        (r["vec1"], r["vec2"]): r["cosine"]
        for r in embedding_neardup_pairs_ivf(
            emb, threshold=0.25, centroids=C
        ).collect()
    }
    # recompute ground truth in numpy with the SAME centroids
    rows = emb.orderBy("vec_id").collect()
    X = np.asarray([r["embedding"] for r in rows], dtype=np.float64)
    ids = [r["vec_id"] for r in rows]
    cells = ((C * C).sum(1) - 2.0 * (X @ C.T)).argmin(1)
    norms = np.sqrt((X * X).sum(1))
    want = {}
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            if cells[i] != cells[j]:
                continue
            c = float(X[i] @ X[j] / (norms[i] * norms[j]))
            c = np.floor(c * 1e6 + 0.5) / 1e6
            if c >= 0.25:
                want[(min(ids[i], ids[j]), max(ids[i], ids[j]))] = c
    assert set(got) == set(want)
    for k_, v in want.items():
        assert abs(got[k_] - v) < 1e-9


def test_neardup_block_guard_drops_only_oversized_buckets(spark):
    # 5 identical vectors (one hot bucket) + 2 distinct near-dups elsewhere
    hot = [[1.0] * 8] * 5
    pair = [[-1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0],
            [-1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 0.9]]
    emb = _emb(spark, hot + pair)
    from market_flow_spark.extensions.similarity import embedding_neardup_pairs

    unguarded = embedding_neardup_pairs(emb, threshold=0.9)
    assert unguarded.count() == 10 + 1  # C(5,2) hot pairs + the small pair
    guarded = embedding_neardup_pairs(emb, threshold=0.9, max_block_size=4)
    got = {(r["vec1"], r["vec2"]) for r in guarded.collect()}
    assert got == {(5, 6)}


def test_clean_corpus_semantic_stage(spark):
    """The full ladder with embeddings: a surface-distinct but
    semantically-duplicate doc is dropped with reason semantic_dup, and
    the stage only sees docs that survived the surface tiers."""
    from market_flow_spark.extensions.corpus import clean_corpus

    docs = _docs(
        spark,
        [
            "alpha beta gamma delta epsilon zeta",          # keeper
            "totally different words here entirely ok",     # semantic twin of 0
            "alpha beta gamma delta epsilon zeta",          # exact dup of 0
        ],
    )
    close = [1.0, 1.0, 1.0, 1.0, 0.5, 0.5, 0.5, 0.5]
    emb = _emb(spark, [close, [v + (0.001 if i == 7 else 0) for i, v in enumerate(close)], close])
    out = {
        r["doc_id"]: r
        for r in clean_corpus(
            docs, min_quality=0.0, embeddings=emb, emb_threshold=0.9
        ).collect()
    }
    assert out[0]["keep"] and out[0]["drop_reason"] is None
    assert out[2]["drop_reason"] == "exact_dup"
    # doc 1 shares no words with doc 0 but its embedding is a near-twin
    assert out[1]["drop_reason"] == "semantic_dup" and not out[1]["keep"]


def test_clean_corpus_without_embeddings_unchanged(spark):
    from market_flow_spark.extensions.corpus import clean_corpus

    text = "alpha beta gamma delta epsilon zeta"
    docs = _docs(spark, [text, text])
    out = {r["doc_id"]: r for r in clean_corpus(docs, min_quality=0.0).collect()}
    assert out[0]["keep"] and out[1]["drop_reason"] == "exact_dup"


def test_clean_corpus_gopher_gate_opt_in(spark):
    """gopher=True adds the line/word-shape rules to the early waterfall
    (reason gopher_shape, fused into the same gate scan); default-off
    leaves behavior — and the registered corpus_clean twin — untouched.
    The bullet list uses DISTINCT bullet glyphs so the default ladder's
    repetition gate does not claim it first."""
    from market_flow_spark.extensions.corpus import clean_corpus

    # 50+ mostly-distinct words (dup_word_frac stays under the default
    # ladder's 0.3 repetition bar — stopword-rich natural English can
    # trip it) with >=2 stopwords, alpha-only, mean length in [3, 10]
    natural = (
        "the morning sun rises over quiet valleys where farmers tend "
        "ancient orchards beside winding rivers and children walk dusty "
        "roads toward small schools carrying worn books about distant "
        "oceans brave sailors forgotten kingdoms golden harvests while "
        "elders gather near stone wells trading stories of spring rains "
        "summer droughts autumn markets winter festivals each season "
        "bringing different labors different songs different hopes"
    )
    bullets = "• alpha\n- beta\n* gamma\n‣ delta\n· epsilon"
    docs = _docs(spark, [natural, bullets, ""])

    default = {
        r["doc_id"]: r
        for r in clean_corpus(docs, min_quality=0.0).collect()
    }
    assert default[0]["keep"] and default[1]["keep"]  # gate off: both pass

    gated = {
        r["doc_id"]: r
        for r in clean_corpus(docs, min_quality=0.0, gopher=True).collect()
    }
    assert gated[0]["keep"] and gated[0]["drop_reason"] is None
    assert gated[1]["drop_reason"] == "gopher_shape" and not gated[1]["keep"]
    # earlier reasons still win the waterfall: empty text is low_quality
    # under the default min_quality, gopher_shape only when quality is
    # waived (min_quality=0.0 here, so the empty doc falls to gopher)
    assert gated[2]["drop_reason"] == "gopher_shape"
    strict = {
        r["doc_id"]: r
        for r in clean_corpus(docs, min_quality=1.0, gopher=True).collect()
    }
    assert strict[2]["drop_reason"] == "low_quality"


def test_write_shuffle_sharded_streams_in_shuffle_order(spark, tmp_path):
    import glob as _glob

    import pyarrow.parquet as pq

    df = spark.range(0, 400).select(F.col("id").alias("doc_id"))
    path = str(tmp_path / "shuffled")
    ranking.write_shuffle_sharded(df, path, "doc_id", n_shards=8)
    files = sorted(_glob.glob(f"{path}/part-*.parquet"))
    assert len(files) >= 4
    streamed = []
    for f in files:
        streamed.extend(pq.read_table(f).column("doc_id").to_pylist())
    want = [
        r["doc_id"]
        for r in ranking.deterministic_shuffle(df, "doc_id")
        .orderBy("shuffle_rank")
        .collect()
    ]
    assert streamed == want
