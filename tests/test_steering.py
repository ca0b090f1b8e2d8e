"""Sampled steering of the pairwise tiers: the exact word-Jaccard
operator's shape pick (and the MinHash-LSH tier over word sets it is
checked against), and the embedding near-dup layout chooser, which must
route off the 8-bit shape when a sampled candidate-emission estimate
exceeds the documented cap, with the routed outputs oracle-checkable.
"""

from __future__ import annotations

import logging
import time

import duckdb
import pandas as pd
import pytest

from pyspark.sql import functions as F

from market_flow_spark.extensions import dedup, similarity
from market_flow_spark.queries_ext import (
    WORDS_SQL,
    _banded_near_dup_oracle,
    _minhash_oracle,
    _near_dup_oracle,
)
from tests.oracle_utils import assert_matches_oracle


# ---------------------------------------------------------------------------
# corpora
# ---------------------------------------------------------------------------


def _stopword_corpus(spark):
    """600 docs, each 15 doc-unique rare words + the same 10 stop words:
    top share 600/15000 = 4% → the pick is freq_ordered, whose prefix
    holds only doc-unique words (the ⌊0.3·25⌋+1 = 8 rarest per doc) while
    the full index join would emit Σdf² ≈ 10·600² = 3.6e6 rows."""
    stops = " ".join(f"the{k}" for k in range(10))
    rows = [
        (i, stops + " " + " ".join(f"u{i}x{j}" for j in range(15)))
        for i in range(600)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _clone_corpus(spark):
    """40 clone pairs with doc-pair-unique vocabularies: doc 2i and 2i+1
    share 9 of their 10 words (Jaccard 9/11 ≈ 0.818 ≥ 0.7), and no words
    cross pairs — the exact qualifying-pair set is exactly the 40 clones."""
    rows = []
    for p in range(40):
        words = [f"p{p}w{j}" for j in range(10)]
        rows.append((2 * p, " ".join(words)))
        rows.append((2 * p + 1, " ".join(words[:9] + [f"p{p}alt"])))
    return spark.createDataFrame(rows, "doc_id long, text string")


# ---------------------------------------------------------------------------
# word-Jaccard shape pick and the LSH tier over word sets
# ---------------------------------------------------------------------------


def _word_lsh(docs):
    """dedup_word_jaccard_routed's call: MinHash-LSH over word sets with
    the degenerate-bucket guard on."""
    return dedup.minhash_lsh_pairs(
        docs, 0.7, shingle_n=1, max_band_size=dedup.WORD_JACCARD_LSH_BAND_CAP
    )


def test_selector_logs_stopword_pick_with_its_top_share(spark, caplog):
    """The planted stop-word corpus logs one decision: freq_ordered, from
    its sampled top-token share 600/15000 = 0.04 against the 0.02 cut."""
    docs = _stopword_corpus(spark)
    with caplog.at_level(logging.INFO, logger="market_flow_spark.decisions"):
        dedup.jaccard_pairs(docs, 0.7)
    [rec] = [
        r for r in caplog.records if r.name == "market_flow_spark.decisions"
    ]
    d = rec.decision
    assert d["operator"] == "dedup.jaccard_pairs"
    assert d["choice"] == "freq_ordered"
    assert d["threshold"] == {"top_share": 0.02, "bitmask_vocab": 64}
    assert d["stats"]["top_share"] == 600 / 15000
    assert d["stats"]["sample_docs"] == 600
    assert d["stats"]["vocab"] == 10 + 600 * 15


def test_lsh_prefilter_recall_tracks_band_s_curve(spark):
    """Recall on the J≈0.82 clone corpus: the 4×4 band S-curve predicts
    1-(1-0.818⁴)⁴ ≈ 0.91 per pair — measured 36/40 on this deterministic
    corpus. The LSH tier must never INVENT a pair, and every recalled
    pair must carry the same exact Jaccard."""
    docs = _clone_corpus(spark)
    exact = {tuple(r) for r in dedup.jaccard_pairs(docs, 0.7).collect()}
    routed = {tuple(r) for r in _word_lsh(docs).collect()}
    assert len(exact) == 40
    assert routed <= exact
    assert len(routed) >= 34  # measured 36; slack for tokenizer tweaks


def test_lsh_prefilter_full_recall_on_near_clones(spark):
    """At true near-dup similarity (J = 39/41 ≈ 0.95, the regime the
    LSH tier exists for) the S-curve miss probability is ~1e-3/pair —
    measured 40/40 on this deterministic corpus."""
    rows = []
    for p in range(40):
        words = [f"q{p}w{j}" for j in range(40)]
        rows.append((2 * p, " ".join(words)))
        rows.append((2 * p + 1, " ".join(words[:39] + [f"q{p}alt"])))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    exact = {tuple(r) for r in dedup.jaccard_pairs(docs, 0.7).collect()}
    routed = {tuple(r) for r in _word_lsh(docs).collect()}
    assert len(exact) == 40
    assert routed == exact


def test_routed_word_jaccard_is_subset_of_exact_on_testdata(tables):
    """On the real documents table the LSH tier may drop
    threshold-boundary pairs (band S-curve) but must never invent one, and
    every surviving pair carries the same exact Jaccard value."""
    docs = tables["documents"]
    exact = {
        (r["doc1"], r["doc2"]): r["jaccard"]
        for r in dedup.jaccard_pairs(docs, 0.7).collect()
    }
    routed = {
        (r["doc1"], r["doc2"]): r["jaccard"] for r in _word_lsh(docs).collect()
    }
    assert set(routed) <= set(exact)
    for pair, j in routed.items():
        assert j == exact[pair]


# ---------------------------------------------------------------------------
# embedding near-dup layout chooser
# ---------------------------------------------------------------------------


def _skewed_embeddings(spark):
    """400 vectors, dim 16, ALL sharing the 8-bit sign bucket (first 8
    dims positive) — the degenerate case for the hardwired width: Σ size²
    = 400² = 1.6e5 candidates from one block. Dims 8-15 carry varied
    signs, so added hyperplanes genuinely split the block."""
    rows = []
    for i in range(400):
        head = [0.1 + 0.001 * ((i + d) % 7) for d in range(8)]
        tail = [
            (0.2 if (i >> (d - 8)) & 1 else -0.2) + 0.001 * ((i * d) % 5)
            for d in range(8, 16)
        ]
        rows.append((i, head + tail))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_choose_bits_escalates_on_skewed_block(spark):
    """From the one-band (1, 8) entry the skewed corpus escalates under
    a 2e4 cap: (1, 8) is one 400-deep bucket, so the walk continues into
    the scale-default ladder, where (4, 16) does not fit dim 16 and
    (3, 5) and (2, 8) keep the degenerate head dims in band 0 — the
    first rung that fits is the wide single band (1, 16)."""
    emb = _skewed_embeddings(spark)
    assert similarity.choose_banded_layout(emb, max_emission=2e4) == (1, 16)
    # and the default cap leaves the entry layout alone (1.6e5 << 2e6)
    assert similarity.choose_banded_layout(emb) == (1, 8)


def test_choose_bits_default_stays_8_on_testdata(tables):
    """Pins the registered embedding_near_dup_routed oracle's (1, 8)
    layout assumption at the registered SFs."""
    assert similarity.choose_banded_layout(tables["embeddings"]) == (1, 8)


def test_escalated_width_matches_duckdb_twin(spark):
    """A wide single band stays a bit-reproducible contract: the
    (1, 12) layout on the skewed corpus (the one-band payload self-join
    on a BIGINT key) matches the INT sign-bucket DuckDB twin generated
    at 12 bits — the same buckets, so the same pairs."""
    emb = _skewed_embeddings(spark)
    bits = 12
    wide = similarity.embedding_neardup_pairs(
        emb, threshold=0.25, n_bands=1, band_bits=bits
    )
    pdf = pd.DataFrame(
        {
            "vec_id": [r["vec_id"] for r in emb.collect()],
            "embedding": [list(r["embedding"]) for r in emb.collect()],
        }
    )
    con = duckdb.connect()
    try:
        con.register("embeddings", pdf)
        assert_matches_oracle(
            wide, con, _near_dup_oracle(n_bits=bits, threshold=0.25)
        )
    finally:
        con.close()


def test_routed_entry_escalates_onto_banded_ladder(spark):
    """Round-11 verdict ask #2: in the escalation regime the canonical
    routed entry must produce the BANDED ladder's output (the measured
    ×4-sf1 dominant shape), certified against the parameterized banded
    DuckDB twin at the layout the chooser picks — no caller lands on
    the dominated single-block bit-walk anymore."""
    emb = _skewed_embeddings(spark)
    routed = similarity.embedding_neardup_pairs_routed(
        emb, threshold=0.25, max_emission=2e4
    )
    bands, bits = similarity.choose_banded_layout(emb, max_emission=2e4)
    assert (bands, bits) == (1, 16)
    pdf = pd.DataFrame(
        {
            "vec_id": [r["vec_id"] for r in emb.collect()],
            "embedding": [list(r["embedding"]) for r in emb.collect()],
        }
    )
    con = duckdb.connect()
    try:
        con.register("embeddings", pdf)
        assert_matches_oracle(
            routed,
            con,
            _banded_near_dup_oracle(
                n_bands=bands, band_bits=bits, threshold=0.25
            ),
        )
    finally:
        con.close()


def test_routed_entry_stays_single_block_under_cap(tables):
    """The non-escalated regime of the routed entry is byte-identical to
    the base 8-bit block (the registered twin's assumption): same pair
    set on the driver's own embeddings table."""
    emb = tables["embeddings"]
    routed = similarity.embedding_neardup_pairs_routed(emb, threshold=0.25)
    base = similarity.embedding_neardup_pairs(emb, threshold=0.25)
    assert sorted(map(tuple, routed.collect())) == sorted(
        map(tuple, base.collect())
    )


def test_routed_word_jaccard_twin_is_parameterized_correctly():
    """The routed oracle must be the UNIGRAM twin at 0.7 — guard the
    parameterization (a silent SHINGLES/0.8 fallback would certify the
    wrong tier)."""
    sql = _minhash_oracle(WORDS_SQL, threshold=0.7)
    assert ">= 0.7" in sql and "0.8" not in sql
    assert WORDS_SQL.splitlines()[0] in sql


# ---------------------------------------------------------------------------
# banded sign-LSH near-dup (round 10: the recall repair for escalation)
# ---------------------------------------------------------------------------


def test_banded_candidate_semantics_by_construction(spark):
    """Pair iff ALL sign bits of >= 1 disjoint 16-dim band agree. vec 1
    agrees with vec 0 on band 0 only (dims 0-15), vec 2 flips one dim in
    every band -> no candidate even at threshold -1 (which admits every
    verified candidate, so absence == never a candidate)."""
    base = [0.5] * 64
    b_band0 = [0.5] * 16 + [-0.5] * 48  # band 0 identical, bands 1-3 flipped
    b_none = list(base)
    for d in (3, 19, 35, 51):  # one sign flip inside each band
        b_none[d] = -0.5
    emb = spark.createDataFrame(
        [(0, base), (1, b_band0), (2, b_none)],
        "vec_id long, embedding array<double>",
    )
    got = {
        (r["vec1"], r["vec2"])
        for r in similarity.embedding_neardup_pairs(
            emb, threshold=-1.0, n_bands=4, band_bits=16
        ).collect()
    }
    assert (0, 1) in got
    assert (0, 2) not in got and (1, 2) not in got


def test_banded_recall_beats_single_block_at_equal_emission(spark):
    """The design claim, measured on a deterministic planted corpus:
    4 bands x 16 bits has the same expected emission as one 14-bit block
    (4*N^2/2^16 = N^2/2^14) but recalls planted cos~0.97 pairs at
    1-(1-p^16)^4 instead of p^14 — strictly more on any corpus big
    enough to average over the hyperplane draws."""
    import numpy as np

    rng = np.random.Generator(np.random.PCG64(7))
    n, dim, n_plant = 1500, 64, 60
    g = rng.standard_normal((n, dim))
    g /= np.linalg.norm(g, axis=1, keepdims=True)
    base_ids = rng.choice(n, size=n_plant, replace=False)
    pert = rng.standard_normal((n_plant, dim))
    pert /= np.linalg.norm(pert, axis=1, keepdims=True)
    eps = np.tan(np.arccos(0.97))
    dup = g[base_ids] + eps * pert
    dup /= np.linalg.norm(dup, axis=1, keepdims=True)
    vecs = np.vstack([g, dup])
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    planted = {(int(b), n + i) for i, b in enumerate(base_ids)}
    banded = {
        (r["vec1"], r["vec2"])
        for r in similarity.embedding_neardup_pairs(
            emb, threshold=0.9, n_bands=4, band_bits=16
        ).collect()
    }
    single14 = {
        (r["vec1"], r["vec2"])
        for r in similarity.embedding_neardup_pairs(
            emb, threshold=0.9, n_bands=1, band_bits=14
        ).collect()
    }
    rec_banded = len(planted & banded)
    rec_single = len(planted & single14)
    # theory at cos .97 (p = 1 - acos(.97)/pi ~ .922): banded ~.75 of 60
    # ~ 45, single ~.32 of 60 ~ 19; assert the ordering with slack
    assert rec_banded > rec_single, (rec_banded, rec_single)
    assert rec_banded >= 0.55 * n_plant, rec_banded


def test_banded_dim_guard(spark):
    emb = spark.createDataFrame(
        [(0, [0.1] * 32)], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="exceeds embedding dim"):
        similarity.embedding_neardup_pairs(emb, n_bands=4, band_bits=16)


def test_banded_band_cap_drops_degenerate_buckets(spark):
    """max_band_size guard: 100 identical vectors form one 100-deep
    bucket in every band; capped at 10 the pair set is empty (the
    mass-dup cluster belongs to the exact-dedup tier upstream)."""
    emb = spark.createDataFrame(
        [(i, [0.5] * 64) for i in range(100)],
        "vec_id long, embedding array<double>",
    )
    capped = similarity.embedding_neardup_pairs(
        emb, n_bands=4, band_bits=16, max_band_size=10
    )
    assert capped.count() == 0


def _degenerate_band0_embeddings(spark):
    """400 dim-64 vectors whose first 16 dims are ALL positive — at the
    (4,16) entry layout band 0 is one 400-deep bucket (Sigma c^2 = 1.6e5
    from that band alone). Dims 16+ carry varied signs keyed to the row
    index, so wider bands genuinely split the degenerate block."""
    rows = []
    for i in range(400):
        head = [0.1 + 0.001 * ((i + d) % 7) for d in range(16)]
        tail = [
            (0.2 if (i >> (d % 9)) & 1 else -0.2) + 0.001 * ((i * d) % 5)
            for d in range(16, 64)
        ]
        rows.append((i, head + tail))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_choose_banded_layout_stays_base_on_testdata(tables):
    """Pins the registered embedding_near_dup_banded_routed oracle's
    static layout assumption at driver SFs (mirror of
    test_choose_bits_default_stays_8_on_testdata)."""
    assert similarity.choose_banded_layout(
        tables["embeddings"], n_bands=4, band_bits=10
    ) == (4, 10)
    assert similarity.choose_banded_layout(
        tables["embeddings"], n_bands=4, band_bits=16
    ) == (4, 16)


def test_choose_banded_layout_escalates_down_the_ladder(spark):
    emb = _degenerate_band0_embeddings(spark)
    layout = similarity.choose_banded_layout(
        emb, n_bands=4, band_bits=16, max_emission=2e4
    )
    assert layout[0] < 4 and layout[0] * layout[1] <= 64
    # the default cap leaves the entry layout alone (1.6e5 << 2e6)
    assert similarity.choose_banded_layout(
        emb, n_bands=4, band_bits=16
    ) == (4, 16)


def test_banded_escalated_layout_matches_duckdb_twin(spark):
    """The escalated banded output stays a bit-reproducible contract:
    route on the degenerate corpus, then check against the DuckDB twin
    generated at the CHOSEN layout — same evidence class as
    test_escalated_width_matches_duckdb_twin."""
    from market_flow_spark.queries_ext import _banded_near_dup_oracle

    emb = _degenerate_band0_embeddings(spark)
    bands, bits = similarity.choose_banded_layout(
        emb, n_bands=4, band_bits=16, max_emission=2e4
    )
    routed = similarity.embedding_neardup_pairs_routed(
        emb, threshold=0.25, n_bands=4, band_bits=16, max_emission=2e4
    )
    pdf = pd.DataFrame(
        {
            "vec_id": [r["vec_id"] for r in emb.collect()],
            "embedding": [list(r["embedding"]) for r in emb.collect()],
        }
    )
    con = duckdb.connect()
    try:
        con.register("embeddings", pdf)
        assert_matches_oracle(
            routed,
            con,
            _banded_near_dup_oracle(
                n_bands=bands, band_bits=bits, threshold=0.25
            ),
        )
    finally:
        con.close()


def _deep_rung_embeddings(spark):
    """400 base vectors + 10 planted exact duplicates, dim 64, shaped so
    the ladder walks to (2, 32): dims 0-20 are constant-positive, which
    makes (4,16)'s band 0 AND (3,21)'s band 0 one 410-deep bucket
    (Σc² ≈ 1.7e5 each, over the 2e4 test cap), while dims 21-63 carry
    signs keyed to the row index so BOTH 32-dim bands split into
    singletons (Σc² ≈ 8e2 total, under the cap). The planted duplicates
    (vec_id 400+i copies row i) collide in every band, so the 32-bit
    rung emits real pairs — the regime the round-10 INT key packing
    crashed on (ANSI CAST_OVERFLOW at 2³¹-and-up bit weights)."""
    rows = []
    for i in range(400):
        head = [0.1 + 0.001 * ((i + d) % 7) for d in range(21)]
        tail = [
            (0.2 if (i >> (d % 9)) & 1 else -0.2) + 0.001 * ((i * d) % 5)
            for d in range(21, 64)
        ]
        rows.append((i, head + tail))
    for i in range(10):
        rows.append((400 + i, list(rows[i][1])))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _varied_band_embeddings(spark):
    """200 base vectors + 10 exact duplicates + 5 one-band-flipped
    near-dups, dim 64, with index-keyed signs in EVERY 16-dim band so the
    scale-default (4,16) layout emits exactly the planted pairs: the
    duplicates collide in all four bands, the flipped rows (vec_id 210+i
    copies row i with dim 60's sign negated) collide in bands 0-2 but
    not band 3 — pairs caught by a strict subset of bands, the banding
    semantics the single block can't express."""
    rows = []
    for i in range(200):
        vec = [
            (0.2 if (i >> (d % 9)) & 1 else -0.2) + 0.001 * ((i * d) % 5)
            for d in range(64)
        ]
        rows.append((i, vec))
    for i in range(10):
        rows.append((200 + i, list(rows[i][1])))
    for i in range(5):
        vec = list(rows[i][1])
        vec[60] = -vec[60]
        rows.append((210 + i, vec))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _assert_banded_matches_twin(emb, result, n_bands, band_bits):
    pdf = pd.DataFrame(
        {
            "vec_id": [r["vec_id"] for r in emb.collect()],
            "embedding": [list(r["embedding"]) for r in emb.collect()],
        }
    )
    con = duckdb.connect()
    try:
        con.register("embeddings", pdf)
        assert_matches_oracle(
            result,
            con,
            _banded_near_dup_oracle(
                n_bands=n_bands, band_bits=band_bits, threshold=0.25
            ),
        )
    finally:
        con.close()


def test_banded_scale_default_layout_matches_duckdb_twin(spark):
    """Round-11 verdict ask #3: the (4, 16) SCALE-DEFAULT layout —
    previously certified only by the escalation bench's recall-vs-theory
    cross-check — pinned against the parameterized DuckDB twin on a
    corpus where 16-bit bands yield rows (planted duplicates collide in
    all bands; one-band-flipped near-dups collide in a strict subset)."""
    emb = _varied_band_embeddings(spark)
    out = similarity.embedding_neardup_pairs(
        emb, threshold=0.25, n_bands=4, band_bits=16
    )
    assert out.count() >= 15  # 10 exact + 5 flipped planted pairs
    _assert_banded_matches_twin(emb, out, 4, 16)


def test_semantic_dedup_keep_banded_planted_clusters(spark):
    """The banded SemDeDup keep-list collapses exactly the planted
    structure of the varied-band corpus: rows 200+i duplicate row i
    (all bands), rows 210+i (i < 5) flip one band-3 dim of row i —
    so clusters are {i, 200+i, 210+i} for i < 5, {i, 200+i} for
    5 <= i < 10, singletons elsewhere; the keeper is the minimum id."""
    emb = _varied_band_embeddings(spark)
    rows = {
        r["vec_id"]: (r["cluster_id"], r["keep"])
        for r in similarity.semantic_dedup_keep(
            emb,
            similarity.embedding_neardup_pairs(
                emb, threshold=0.25, n_bands=4, band_bits=16
            ),
        ).collect()
    }
    assert len(rows) == 215
    for i in range(5):
        assert rows[i] == (i, True)
        assert rows[200 + i] == (i, False)
        assert rows[210 + i] == (i, False)
    for i in range(5, 10):
        assert rows[i] == (i, True)
        assert rows[200 + i] == (i, False)
    # everything else keeps itself
    singles = [v for v in range(10, 200)]
    assert all(rows[v] == (v, True) for v in singles)


def test_banded_32bit_rung_routes_and_matches_twin(spark):
    """ADVICE r10 (high): the (2, 32) rung crashed at runtime under the
    INT key packing (ANSI CAST_OVERFLOW at bit weight 2³¹). Route the
    deep-rung corpus — the chooser must land on (2, 32) — and certify
    the executed output against the BIGINT-keyed DuckDB twin."""
    emb = _deep_rung_embeddings(spark)
    assert similarity.choose_banded_layout(
        emb, n_bands=4, band_bits=16, max_emission=2e4
    ) == (2, 32)
    routed = similarity.embedding_neardup_pairs_routed(
        emb, threshold=0.25, n_bands=4, band_bits=16, max_emission=2e4
    )
    assert routed.count() >= 10  # the planted duplicate pairs
    _assert_banded_matches_twin(emb, routed, 2, 32)


def test_banded_64bit_rung_executes_and_matches_twin(spark):
    """ADVICE r10 (high), deepest rung: (1, 64) packs bit 63 into the
    BIGINT sign bit (1L << 63 = Long.MIN_VALUE on the Spark side, the
    pre-wrapped literal on the DuckDB side) — under the old packing this
    failed at PLAN BUILD (lit(2⁶³) → NumberFormatException). Execute it
    end-to-end and certify against the twin."""
    emb = _deep_rung_embeddings(spark)
    out = similarity.embedding_neardup_pairs(
        emb, threshold=0.25, n_bands=1, band_bits=64
    )
    assert out.count() >= 10
    _assert_banded_matches_twin(emb, out, 1, 64)


def test_banded_ladder_caps_rung_width_at_64_for_wide_dims(spark):
    """Round-11 review finding: for dim > 64 the ladder's (1, dim) rung
    exceeded the BIGINT key's 64-bit capacity and the routed escalation
    path crashed. Rungs now cap at 64 bits (a 64-dim prefix slice per
    band — still valid sign-LSH); the deep rung must EXECUTE on a
    dim-128 corpus that escalates all the way down."""
    rows = []
    for i in range(300):
        head = [0.1 + 0.001 * ((i + d) % 7) for d in range(64)]
        tail = [
            (0.2 if (i >> (d % 9)) & 1 else -0.2) + 0.001 * ((i * d) % 5)
            for d in range(64, 128)
        ]
        rows.append((i, head + tail))
    rows.append((300, list(rows[0][1])))  # one planted exact dup
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    bands, bits = similarity.choose_banded_layout(
        emb, n_bands=4, band_bits=32, max_emission=400.0
    )
    assert bits <= 64
    out = similarity.embedding_neardup_pairs_routed(
        emb, threshold=0.25, n_bands=4, band_bits=32, max_emission=400.0
    )
    assert out.count() >= 1  # the planted dup survives every layout


def _construct_jobs(spark, build):
    """Number of Spark jobs ``build()`` launches, counted through a
    job group of its own on the status tracker."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = f"construct-{time.monotonic_ns()}"
    sc.setJobGroup(group, "near-dup construct")
    try:
        build()
        # the status store follows the listener bus in order: once this
        # later job shows, every job build() launched is in it
        sc.setJobGroup(f"{group}-marker", "marker")
        sc.parallelize([1]).count()
    finally:
        sc._jsc.clearJobGroup()
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(f"{group}-marker"):
        assert time.monotonic() < deadline
        time.sleep(0.1)
    return len(tracker.getJobIdsForGroup(group))


def test_routed_entry_launches_no_full_job_when_routing_disabled(spark):
    """Round-11 review finding: the routed entry briefly counted the
    corpus even when max_emission=None made the chooser a no-op. With
    routing disabled the chooser returns the entry layout and building
    the routed plan launches no job at all."""
    emb = _skewed_embeddings(spark)
    assert _construct_jobs(
        spark, lambda: similarity.choose_banded_layout(emb, max_emission=None)
    ) == 0
    built = []
    assert _construct_jobs(
        spark,
        lambda: built.append(
            similarity.embedding_neardup_pairs_routed(
                emb, threshold=0.25, max_emission=None
            )
        ),
    ) == 0
    assert built[0].count() >= 0


def test_escalated_routed_entry_construct_jobs(spark):
    """Building the escalated routed plan on the skewed corpus runs one
    job: the chooser's TakeOrdered sample (it reads the dim off the
    sample, and 400 rows need no count), and the chosen one-band layout
    adds no dim guard."""
    emb = _skewed_embeddings(spark)
    assert _construct_jobs(
        spark,
        lambda: similarity.embedding_neardup_pairs_routed(
            emb, threshold=0.25, max_emission=2e4
        ),
    ) == 1


def test_banded_routed_query_reads_dim_off_the_sample(spark, sf_dir):
    """The registered multi-band routed query builds with one job, the
    chooser's sample: the generator takes the dim the sample gave and
    runs no dim guard of its own."""
    from market_flow_spark.queries_all import QUERIES

    build = QUERIES["embedding_near_dup_banded_routed"]
    build(spark, sf_dir)  # warm the relation cache
    assert _construct_jobs(spark, lambda: build(spark, sf_dir)) == 1


def test_choose_banded_layout_logs_its_decision(spark, caplog):
    """One decision record per routed call, with the sampled and full
    row counts, the estimate of every rung tried, the cap and the
    chosen layout."""
    emb = _skewed_embeddings(spark)
    with caplog.at_level(logging.INFO, logger="market_flow_spark.decisions"):
        similarity.embedding_neardup_pairs_routed(
            emb, threshold=0.25, max_emission=2e4
        )
    recs = [
        r for r in caplog.records if r.name == "market_flow_spark.decisions"
    ]
    assert len(recs) == 1
    d = recs[0].decision
    assert d["operator"] == "similarity.choose_banded_layout"
    assert d["threshold"] == 2e4 and d["choice"] == "(1, 16)"
    assert d["stats"]["sample_rows"] == 400 and d["stats"]["rows"] == 400
    tried = d["stats"]["estimates"]
    assert [(b, r) for b, r, _ in tried] == [(1, 8), (3, 5), (2, 8), (1, 16)]
    assert tried[0][2] == 400 * 400  # the one 400-deep 8-bit bucket
    assert all(e > 2e4 for _, _, e in tried[:-1]) and tried[-1][2] <= 2e4


def test_band_sign_keys_rejects_unpackable_widths(spark):
    """Widths past 64 have no single-BIGINT packing — the guard must
    raise at plan build, not overflow silently."""
    emb = _deep_rung_embeddings(spark)
    with pytest.raises(ValueError, match=r"band_bits"):
        similarity.embedding_neardup_pairs(emb, n_bands=1, band_bits=65)
    with pytest.raises(ValueError, match=r"n_bands"):
        similarity.band_sign_keys(F.col("embedding"), 0, 8)


def _distinct_band_embeddings(spark, n=2000):
    """n rows, dim 64, with the row index's low 11 bits sign-encoded into
    EVERY 16-dim band (dims 16j..16j+10) — all four (4,16) band keys are
    singletons for every row, so the entry layout's TRUE emission is
    exactly N per band. A 512-row sample is then ALL singletons: the
    naive Σc²·(N/n)² estimator reads 512·(N/512)² per band — quadratic
    phantom emission from the diagonal — while the true value is N."""
    rows = []
    for i in range(n):
        vec = []
        for d in range(64):
            k = d % 16
            if k <= 10:
                s = 0.2 if (i >> k) & 1 else -0.2
            else:
                s = 0.2
            vec.append(s + 0.001 * ((i * d) % 5))
        rows.append((i, vec))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_banded_estimator_does_not_inflate_singleton_diagonal(spark):
    """Round-11 regression (found by the escalation head-to-head: the
    ladder walked to (1,64) at ×4-sf1 and planted recall collapsed to
    1/400): on an all-distinct corpus the entry layout's true emission
    is 4·N = 8e3, under a 2e4 cap — the chooser must KEEP the entry
    layout even when the 512-row sample is pure singletons (the naive
    estimator read 4·512·(2000/512)² ≈ 3.1e4 and escalated)."""
    emb = _distinct_band_embeddings(spark)
    assert similarity.choose_banded_layout(
        emb, n_bands=4, band_bits=16, max_emission=2e4, sample_rows=512
    ) == (4, 16)


def test_block_chooser_does_not_inflate_singleton_diagonal(spark):
    """One-band mirror of the diagonal regression: 12-bit keys are
    all-distinct (true Σc² = N = 2048 ≤ the 5e3 cap) so the chooser must
    keep the (1, 12) entry; the naive estimator read 512·(2048/512)²
    = 8192 > cap at every width and escalated."""
    rows = []
    for i in range(2048):
        vec = [
            (0.2 if (i >> d) & 1 else -0.2) + 0.001 * ((i * d) % 5)
            if d <= 11
            else 0.2 + 0.001 * ((i + d) % 7)
            for d in range(16)
        ]
        rows.append((i, vec))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assert similarity.choose_banded_layout(
        emb, n_bands=1, band_bits=12, max_emission=5e3, sample_rows=512
    ) == (1, 12)


def test_banded_layout_estimator_exact_at_full_coverage(spark):
    """With the sample covering the whole corpus the folded-chunk
    estimate equals the true Sigma-over-bands bucket-size^2 — pinned by
    forcing a cap BETWEEN the true emissions of two ladder rungs and
    asserting the chooser lands exactly on the first rung that fits."""
    import numpy as np

    emb = _degenerate_band0_embeddings(spark)
    rows = emb.collect()
    vecs = np.array([r["embedding"] for r in rows])

    def true_emission(bands, bits):
        total = 0
        for b in range(bands):
            keys = {}
            for v in vecs:
                k = sum(
                    (1 << i) for i in range(bits) if v[b * bits + i] > 0
                )
                keys[k] = keys.get(k, 0) + 1
            total += sum(c * c for c in keys.values())
        return total

    e_entry = true_emission(4, 16)
    e_next = true_emission(3, 21)
    assert e_next < e_entry
    cap = (e_next + e_entry) / 2
    assert similarity.choose_banded_layout(
        emb, n_bands=4, band_bits=16, max_emission=cap
    ) == (3, 21)

def test_banded_64bit_rung_matches_twin_with_negative_dim63(spark):
    """ADVICE r11: the (1, 64) ladder rung packs a sign into bit 63,
    where Spark's shiftleft wraps to Long.MIN_VALUE and the DuckDB twin
    uses a pre-wrapped two's-complement literal — asserted in the twin
    SQL but never executed at band_bits > 32 until now. The varied-band
    corpus carries NEGATIVE dim-63 components on even rows and positive
    on odd (duplicate pairs of both polarities planted), so the bit-63
    packing is exercised both set and clear on both engines."""
    emb = _varied_band_embeddings(spark)
    signs = {
        r["vec_id"]: r["s"]
        for r in emb.selectExpr(
            "vec_id", "embedding[63] > 0 AS s"
        ).collect()
    }
    assert signs[0] is False and signs[1] is True  # both polarities live
    out = similarity.embedding_neardup_pairs(
        emb, threshold=0.25, n_bands=1, band_bits=64
    )
    assert out.count() >= 10  # the exact duplicates collide in the band
    _assert_banded_matches_twin(emb, out, 1, 64)


def test_choose_banded_layout_last_resort_is_structurally_valid(spark):
    """ADVICE r11: with an unsatisfiable cap the chooser must degrade to
    a layout band_sign_keys can execute, not echo a rung the loop itself
    rejected. Entry (1, 128) on a dim-16 corpus is skipped, and so is the
    scale-default (4, 16); the walk ends at the deepest valid rung
    (1, dim). A valid-entry ladder under the same impossible cap also
    returns its deepest VALID rung."""
    rows = [(i, [0.1] * 16) for i in range(50)]  # one degenerate bucket
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    layout = similarity.choose_banded_layout(
        emb, n_bands=1, band_bits=128, max_emission=1.0
    )
    assert layout == (1, 16)
    # and the returned layout actually executes
    similarity.embedding_neardup_pairs(
        emb, threshold=0.25, n_bands=layout[0], band_bits=layout[1]
    ).count()
    assert similarity.choose_banded_layout(
        emb, n_bands=4, band_bits=4, max_emission=1.0
    ) == (1, 16)


def test_semantic_keep_routed_stays_base_under_cap(tables):
    """The keep-list over the routed generator (semantic_dedup_keep_routed):
    under the default cap its pair graph is byte-identical to the (1, 8)
    generator's — the registered twin's assumption, on the shipped
    embeddings table."""
    emb = tables["embeddings"]
    routed = similarity.semantic_dedup_keep(
        emb, similarity.embedding_neardup_pairs_routed(emb, threshold=0.25)
    )
    base = similarity.semantic_dedup_keep(
        emb, similarity.embedding_neardup_pairs(emb, threshold=0.25)
    )
    assert sorted(map(tuple, routed.collect())) == sorted(
        map(tuple, base.collect())
    )


def test_semantic_keep_routed_escalates_onto_banded_graph(spark):
    """In the escalation regime the routed keep-list clusters the BANDED
    pair graph (no caller lands on the 216/400-recall single-block
    generator unaware) — certified against the recursive-CTE banded keep
    twin at the layout the chooser picks on the skewed corpus."""
    from market_flow_spark.queries_ext import _semantic_keep_oracle

    emb = _skewed_embeddings(spark)
    routed = similarity.semantic_dedup_keep(
        emb,
        similarity.embedding_neardup_pairs_routed(
            emb, threshold=0.25, max_emission=2e4
        ),
    )
    bands, bits = similarity.choose_banded_layout(emb, max_emission=2e4)
    assert (bands, bits) == (1, 16)  # genuinely the escalated regime
    pdf = pd.DataFrame(
        {
            "vec_id": [r["vec_id"] for r in emb.collect()],
            "embedding": [list(r["embedding"]) for r in emb.collect()],
        }
    )
    con = duckdb.connect()
    try:
        con.register("embeddings", pdf)
        assert_matches_oracle(
            routed,
            con,
            _semantic_keep_oracle(
                _banded_near_dup_oracle(
                    n_bands=bands, band_bits=bits, threshold=0.25
                )
            ),
        )
    finally:
        con.close()
