"""Non-oracle surfaces: mapInPandas featurizer (multimodal), forecast
pluggability, dedup internals, API-source connectors."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from market_flow_spark.extensions.multimodal import (
    FEATURE_DIM,
    FRAME_BYTES,
    decode_media,
    featurize_assets,
    resize_assets,
    sample_frames,
    to_binary_assets,
)
from market_flow_spark.sources.api_source import (
    fetch_keys_distributed,
    fetch_keys_driver_side,
)


def test_featurize_assets_mapinpandas(spark, tables):
    docs = tables["documents"].limit(20)
    feats = featurize_assets(to_binary_assets(docs)).collect()
    assert len(feats) == 20
    by_id = {r.doc_id: r for r in feats}
    src = {r.doc_id: r.text for r in docs.collect()}
    for doc_id, row in by_id.items():
        blob = src[doc_id].encode("utf-8")
        assert row.byte_len == len(blob)
        assert row.content_md5 == hashlib.md5(blob).hexdigest()
        assert len(row.feature) == FEATURE_DIM
        assert all(0.0 <= v <= 1.0 for v in row.feature)


def test_featurize_deterministic(spark, tables):
    docs = tables["documents"].limit(5)
    a = sorted(featurize_assets(to_binary_assets(docs)).collect())
    b = sorted(featurize_assets(to_binary_assets(docs)).collect())
    assert a == b


def test_resize_assets_shape_and_range(spark, tables):
    docs = tables["documents"].limit(10)
    rows = resize_assets(to_binary_assets(docs), height=4, width=4).collect()
    assert len(rows) == 10
    for r in rows:
        assert r.height == 4 and r.width == 4
        assert len(r.pixels) == 16
        assert all(0.0 <= v <= 1.0 for v in r.pixels)
        assert r.src_h * r.src_w >= 1


def test_resize_preserves_mean_brightness(spark, tables):
    """Block-mean resize is an average of averages over equal-ish blocks —
    the grand mean must stay close to the source byte mean."""
    docs = tables["documents"].limit(5)
    src = {r.doc_id: r.text.encode() for r in docs.collect()}
    for r in resize_assets(to_binary_assets(docs), 4, 4).collect():
        buf = src[r.doc_id]
        w = max(1, int(len(buf) ** 0.5))
        h = len(buf) // w
        used = buf[: h * w]
        expect = sum(used) / len(used) / 255.0
        got = sum(r.pixels) / len(r.pixels)
        assert abs(got - expect) < 0.05


def test_sample_frames_expands_rows(spark, tables):
    docs = tables["documents"].limit(10)
    src = {r.doc_id: r.text.encode() for r in docs.collect()}
    out = sample_frames(to_binary_assets(docs), every_k=4).collect()
    by_doc: dict[int, list] = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    for doc_id, buf in src.items():
        n_frames = len(buf) // FRAME_BYTES
        expect_idx = list(range(0, n_frames, 4))
        got = sorted(by_doc.get(doc_id, []), key=lambda r: r.frame_idx)
        assert [r.frame_idx for r in got] == expect_idx
        for r in got:
            frame = buf[r.frame_idx * FRAME_BYTES : (r.frame_idx + 1) * FRAME_BYTES]
            assert r.frame_md5 == hashlib.md5(frame).hexdigest()


def test_decode_media_audio_is_stubbed():
    # audio/video decoders stay contract stubs everywhere; the image path
    # is Pillow-gated (real when PIL imports, NotImplementedError when not)
    with pytest.raises(NotImplementedError):
        decode_media(b"RIFF....WAVE", "audio/wav")


def _minimal_png(pixels: list[list[int]]) -> bytes:
    """Encode a grayscale 8-bit PNG with nothing but the stdlib, so the
    fixture itself needs no imaging library — only the decode under test
    does."""
    import struct
    import zlib

    h, w = len(pixels), len(pixels[0])

    def chunk(tag: bytes, payload: bytes) -> bytes:
        return (
            struct.pack(">I", len(payload))
            + tag
            + payload
            + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)  # 8-bit grayscale
    raw = b"".join(b"\x00" + bytes(row) for row in pixels)  # filter 0/row
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def test_decode_media_image_real_decode(spark):
    """Pillow-gated happy path (same optional-dep pattern as the Prophet
    smoke in test_stateful_and_cache.py): decode an in-memory PNG through
    decode_media inside the mapInPandas batch loop — the exact call site
    the featurizer documents for the real pipeline."""
    PIL = pytest.importorskip("PIL")  # noqa: F841
    import numpy as np

    pixels = [[0, 64, 128, 255], [255, 128, 64, 0], [10, 20, 30, 40]]
    png = _minimal_png(pixels)

    # direct contract: bytes -> HxW uint8 array, values exact
    arr = decode_media(png, "image/png")
    assert arr.shape == (3, 4)
    assert arr.tolist() == pixels

    # end-to-end through the Spark-side plumbing: one binary-asset row,
    # decoded per-batch in mapInPandas, mean pixel emitted
    import pandas as pd

    assets = spark.createDataFrame(
        [(1, bytearray(png), "image/png", len(png))],
        "doc_id bigint, content binary, media_type string, byte_len int",
    )

    def decode_batches(batches):
        for pdf in batches:
            decoded = [
                decode_media(bytes(c), m)
                for c, m in zip(pdf["content"], pdf["media_type"])
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "height": [d.shape[0] for d in decoded],
                    "width": [d.shape[1] for d in decoded],
                    "mean_px": [float(np.mean(d)) for d in decoded],
                }
            )

    row = assets.mapInPandas(
        decode_batches, "doc_id bigint, height int, width int, mean_px double"
    ).collect()[0]
    assert (row.height, row.width) == (3, 4)
    assert abs(row.mean_px - np.mean(pixels)) < 1e-9


def test_api_source_driver_side(spark):
    keys = [{"city": f"c{i}"} for i in range(4)]

    def fake_geocode(key):
        return {"lat": float(len(key["city"])), "lon": 1.0}

    df = fetch_keys_driver_side(
        spark, keys, fake_geocode, "city string, lat double, lon double",
        calls_per_min=100000,
    )
    assert df.count() == 4
    assert set(df.columns) == {"city", "lat", "lon"}


def test_api_source_distributed(spark):
    keys_df = spark.range(8).select(F.concat(F.lit("k"), "id").alias("k"))

    def fake_fetch(key):
        return {"v": float(len(key["k"]))}

    out = fetch_keys_distributed(
        keys_df, fake_fetch, "k string, v double", calls_per_min_per_task=100000
    )
    assert out.count() == 8


def test_minhash_narrow_verification_equivalent(spark, tables):
    """The 100 TB narrowed-verification path must return exactly the same
    pairs as the direct path."""
    from market_flow_spark.extensions.dedup import minhash_lsh_pairs

    docs = tables["documents"]
    direct = sorted(
        (r.doc1, r.doc2, r.jaccard)
        for r in minhash_lsh_pairs(docs, narrow_verification=False).collect()
    )
    narrowed = sorted(
        (r.doc1, r.doc2, r.jaccard)
        for r in minhash_lsh_pairs(docs, narrow_verification=True).collect()
    )
    assert direct == narrowed


def test_incremental_minhash_matches_union_cross_pairs(spark, tables):
    """Banding the new batch against the corpus must find exactly the
    cross-side pairs the union self-join finds (same bands, same screen,
    same exact verify) — the invariant that makes incremental ingest
    equivalent to re-running dedup over everything."""
    from pyspark.sql import functions as F

    from market_flow_spark.extensions.dedup import (
        minhash_lsh_pairs,
        minhash_lsh_pairs_against,
    )

    docs = tables["documents"]
    corpus = docs.filter(F.expr("doc_id % 10 <> 0"))
    new = docs.filter(F.expr("doc_id % 10 = 0"))
    incr = {
        (r.new_doc_id, r.corpus_doc_id, r.jaccard)
        for r in minhash_lsh_pairs_against(new, corpus).collect()
    }
    union_cross = set()
    for r in minhash_lsh_pairs(docs).collect():
        a_new, b_new = r.doc1 % 10 == 0, r.doc2 % 10 == 0
        if a_new != b_new:  # exactly one side in the new batch
            nd, cd = (r.doc1, r.doc2) if a_new else (r.doc2, r.doc1)
            union_cross.add((nd, cd, r.jaccard))
    assert incr == union_cross
    assert len(incr) > 0


# NULL, empty, whitespace-only (spaces, and tabs/newlines that trim()
# keeps), unicode, duplicate, duplicate-token and single-token docs, plus
# the rounding pair: "a b c d e" vs "a b c d e f g" has J = 5/7, which
# rounds to 0.7143 — so it must pair at threshold 0.7143.
_EDGE_DOCS = [
    (1, None), (2, None), (3, ""), (4, "   "), (5, "\t\n"), (6, "\t \n"),
    (7, "real text here"), (8, "Real  TEXT here "), (9, "real text here"),
    (10, "solo"), (11, "solo"), (12, "Café naïve résumé"),
    (13, "café NAÏVE résumé extra"), (14, "日本語 テキスト"),
    (15, "日本語 テキスト 日本語"), (16, "\ta b c d e"), (17, "a b c d e f g"),
    (18, "a b c d e"),
]


def _brute_jaccard(rows, threshold, n=1):
    """Python model of jaccard_pairs: Spark's tokenizer (trim() strips
    spaces only; split on Java's ASCII \\s), every pair compared, and the
    4-digit det_round Jaccard kept at >= threshold."""
    import math
    import re

    sets = {}
    for doc_id, text in rows:
        toks = re.split(r"[ \t\n\x0b\f\r]+", (text or "").lower().strip(" "))
        sh = (
            {t for t in toks if t}
            if n == 1
            else {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}
        )
        sets[doc_id] = sh
    out = set()
    for a in sets:
        for b in sets:
            common = len(sets[a] & sets[b])
            if a < b and common:
                j = math.floor(common / len(sets[a] | sets[b]) * 10000.0 + 0.5)
                if j / 10000.0 >= threshold:
                    out.add((a, b, j / 10000.0))
    return out


@pytest.mark.parametrize("shape", ["bitmask", "count_common", "freq_ordered"])
def test_jaccard_pairs_match_brute_force(spark, jaccard_shape, shape):
    """Every shape of the one exact operator returns the brute-force pair
    set, jaccard values included: word sets at 0.5, 1.0 and the 0.7143
    rounding boundary, 3-gram shingles at 0.5, and a 100-token corpus
    whose vocabulary overflows one machine word (bitmask falls back to
    count_common there)."""
    from market_flow_spark.extensions.dedup import jaccard_pairs

    jaccard_shape(shape)
    wide = [
        (i, " ".join(f"tok{j}" for j in range(i % 100, i % 100 + 30)))
        for i in range(60)
    ]
    cases = [
        (_EDGE_DOCS, 0.5, 1),
        (_EDGE_DOCS, 1.0, 1),
        (_EDGE_DOCS, 0.7143, 1),
        (_EDGE_DOCS, 0.5, 3),
        (wide, 0.7, 1),
    ]
    for rows, t, n in cases:
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        got = {tuple(r) for r in jaccard_pairs(docs, t, n=n).collect()}
        assert got == _brute_jaccard(rows, t, n), (t, n)
    assert (16, 17, 0.7143) in _brute_jaccard(_EDGE_DOCS, 0.7143)


def test_word_jaccard_twin_keeps_the_rounding_boundary_pair():
    """The dedup_word_jaccard DuckDB twin, with its threshold moved to
    0.7143, keeps the J = 5/7 pair too — the rule every shape follows."""
    import duckdb

    from market_flow_spark.queries_all import ORACLES

    head, tail = ORACLES["dedup_word_jaccard"].rsplit(">= 0.7", 1)
    assert not tail.strip()
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.execute(
        "INSERT INTO documents VALUES (1, 'a b c d e'), (2, 'a b c d e f g')"
    )
    got = con.execute(head + ">= 0.7143").fetchall()
    assert got == [(1, 2, 0.7143)]


def test_word_jaccard_auto_strategy_selection(spark, tables):
    """The sampled chooser picks freq_ordered on a stop-word corpus (its
    posting lists would make the full index join quadratic), count_common
    on a near-disjoint vocabulary and on the shipped documents' trigrams,
    and bitmask when the vocabulary fits one machine word; unforced,
    jaccard_pairs equals the brute force."""
    from market_flow_spark.extensions.dedup import _jaccard_shape, jaccard_pairs

    def frame(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    stop_rows = [(i, f"the quick brown fox {i}") for i in range(200)]
    stop = frame(stop_rows)
    assert _jaccard_shape(stop, 1, "text") == "freq_ordered"
    disjoint = frame([(i, f"tok{i}a tok{i}b tok{i}c tok{i}d") for i in range(200)])
    assert _jaccard_shape(disjoint, 1, "text") == "count_common"
    assert _jaccard_shape(tables["documents"], 3, "text") == "count_common"
    saturated = frame(
        [(i, " ".join(f"w{(i + j) % 10}" for j in range(5))) for i in range(200)]
    )
    assert _jaccard_shape(saturated, 1, "text") == "bitmask"
    got = {tuple(r) for r in jaccard_pairs(stop, 0.9).collect()}
    assert got == _brute_jaccard(stop_rows, 0.9)


def test_null_and_empty_text_docs_never_pair(spark):
    """NULL/empty/whitespace-only text must yield an EMPTY word set (not
    the [\"\"] split artifact), so null docs don't all pair with each other
    at jaccard 1.0 — O(N²) pairs for N null docs at corpus scale.
    jaccard_pairs' shapes are covered by test_jaccard_pairs_match_brute_force."""
    from market_flow_spark.extensions.dedup import (
        doc_shingle_arrays,
        minhash_lsh_pairs,
    )

    docs = spark.createDataFrame(
        [(1, None), (2, None), (3, ""), (4, "   "), (5, "real text here"),
         (6, "real text here"), (7, "\t\n")],
        "doc_id long, text string",
    )
    arrs = {r.doc_id: r.sz for r in doc_shingle_arrays(docs, 1).collect()}
    assert arrs == {1: 0, 2: 0, 3: 0, 4: 0, 5: 3, 6: 3, 7: 0}
    lsh = sorted(
        (r.doc1, r.doc2) for r in minhash_lsh_pairs(docs, threshold=0.5).collect()
    )
    assert lsh == [(5, 6)]


def test_kmv_estimate_within_error_bound(spark, tables):
    """KMV with k=256 has stddev ≈ 1/sqrt(k-2) ≈ 6.3%; assert within 4σ
    and that the exact path triggers when distinct < k."""
    from market_flow_spark.extensions.sketches import kmv_distinct

    li = tables["lineitem"]
    exact = li.select(F.countDistinct("l_partkey")).collect()[0][0]
    est = kmv_distinct(li, "l_partkey", k=256).collect()[0].est_distinct
    if exact < 256:
        assert est == exact
    else:
        assert abs(est - exact) / exact < 0.25


def test_winnow_containment_guarantee(spark):
    """Winnowing guarantee: any shared substring of length >= k + window - 1
    yields at least one shared fingerprint — so a test doc embedded
    verbatim inside a longer training doc is caught with containment ~1.0,
    while unrelated docs share ~nothing."""
    from market_flow_spark.extensions.dedup import (
        winnow_containment,
        winnow_fingerprints,
    )

    inner = "the quick brown fox jumps over the lazy dog near the river bank"
    train = spark.createDataFrame(
        [
            (1, f"training document preamble text {inner} and a long trailer section"),
            (2, "completely unrelated corpus entry about financial derivatives"),
        ],
        "doc_id long, text string",
    )
    test = spark.createDataFrame([(10, inner)], "doc_id long, text string")

    out = winnow_containment(train, test, threshold=0.5).collect()
    assert [(r.test_doc_id, r.train_doc_id) for r in out] == [(10, 1)]
    assert out[0].containment >= 0.9  # near-total embedding

    # short docs (fewer hashes than one window) still fingerprint: min hash
    tiny = spark.createDataFrame([(5, "abcdefgh")], "doc_id long, text string")
    fps = winnow_fingerprints(tiny).collect()
    assert len(fps) == 1
    # and empty/NULL docs produce none
    empty = spark.createDataFrame([(6, None), (7, "   ")], "doc_id long, text string")
    assert winnow_fingerprints(empty).count() == 0


def test_token_counts_edges(spark):
    """Pre-tokenizer counting: letter runs, digit runs, single punctuation;
    whitespace tokens for the shingling unit."""
    from market_flow_spark.extensions.text import token_counts

    docs = spark.createDataFrame(
        [(1, "Hello, world! 42 times"), (2, "")],
        "doc_id long, text string",
    )
    got = {r.doc_id: (r.n_ws_tokens, r.n_pretokens, r.n_chars)
           for r in token_counts(docs).collect()}
    # Hello , world ! 42 times -> 6 pretokens; 4 ws tokens; 22 chars
    assert got[1] == (4, 6, 22)
    assert got[2] == (1, 0, 0)  # split('') yields [''] on both engines


def test_dedup_clusters_transitive_chain(spark):
    """A~B and B~C must land in ONE cluster labeled min(A,B,C), with only
    the minimum kept — pairwise keep-min-per-pair would wrongly keep C.
    Also: a longer chain (diameter 4) lands in one cluster, and unpaired
    docs keep themselves."""
    from market_flow_spark.extensions.dedup import dedup_clusters, dedup_keep_list

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 9), (10, 11), (11, 12), (12, 13), (13, 14)],
        "doc1 long, doc2 long",
    )
    got = {r.doc_id: r.cluster_id for r in dedup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 7: 7, 9: 7,
                   10: 10, 11: 10, 12: 10, 13: 10, 14: 10}

    docs = spark.createDataFrame([(i,) for i in range(1, 16)], "doc_id long")
    keep = {r.doc_id: r.keep for r in dedup_keep_list(docs, pairs).collect()}
    # 2 drops in {1,2,3}, 1 in {7,9}, 4 in {10..14} -> 8 keepers
    assert sum(keep.values()) == 15 - 7
    assert keep[1] and not keep[2] and not keep[3]
    assert keep[7] and not keep[9]
    assert keep[10] and not any(keep[i] for i in (11, 12, 13, 14))
    assert all(keep[i] for i in (4, 5, 6, 8, 15))  # unpaired


def test_repetition_stats_flags_repetitive_docs(spark):
    from market_flow_spark.extensions.text import repetition_stats

    docs = spark.createDataFrame(
        [
            (1, "buy now\nbuy now\nbuy now\nbuy now"),     # dup lines
            (2, "spam spam spam spam spam ham"),            # dup words + top bigram
            (3, "a perfectly normal sentence with varied content here"),
            (4, None),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in repetition_stats(docs).collect()}
    assert got[1].repetitive and got[1].dup_line_frac == 0.75
    assert got[2].repetitive and got[2].dup_word_frac > 0.3
    # "spam spam" is 4 of 5 bigrams
    assert got[2].top_bigram_share == 0.8
    assert not got[3].repetitive
    assert not got[4].repetitive  # NULL text never flags


def test_pii_scan_and_redact(spark):
    from market_flow_spark.extensions.text import pii_scan, redact_pii

    docs = spark.createDataFrame(
        [
            (1, "contact alice@example.com or bob.smith@corp.co.uk today"),
            (2, "server at 192.168.1.100 answered"),
            (3, "call +1 (415) 555-0123 now"),
            (4, "no personal data in this one"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in pii_scan(docs).collect()}
    assert got[1].n_emails == 2 and got[1].has_pii
    assert got[2].n_ipv4 == 1 and got[2].has_pii
    assert got[3].n_phones == 1 and got[3].has_pii
    assert not got[4].has_pii

    red = {r.doc_id: r.text for r in redact_pii(docs).collect()}
    assert "[EMAIL]" in red[1] and "alice" not in red[1]
    assert "[IP]" in red[2] and "192.168" not in red[2]
    assert "[PHONE]" in red[3] and "555" not in red[3]
    assert red[4] == "no personal data in this one"


def test_winnow_containment_boilerplate_cap(spark):
    """max_fp_df (the MOSS noise threshold): a license header shared by
    EVERY training doc must not make every probe doc look contained, and
    a genuinely embedded probe doc is still detected — boilerplate fps
    leave both the join and the denominator."""
    from market_flow_spark.extensions.dedup import winnow_containment

    header = ("this content is licensed under the creative commons "
              "attribution share alike international license terms")
    unique = "the migratory patterns of arctic terns span both hemispheres"
    train = spark.createDataFrame(
        [(i, f"{header} filler{i}a filler{i}b filler{i}c") for i in range(1, 9)]
        + [(9, f"{header} {unique} plus trailing commentary text")],
        "doc_id long, text string",
    )
    probe = spark.createDataFrame(
        [(100, f"{header} probefiller one two three"), (101, unique)],
        "doc_id long, text string",
    )
    # uncapped: the shared header makes probe 100 'contained' in many docs
    raw = winnow_containment(train, probe, threshold=0.5).collect()
    assert len({r.train_doc_id for r in raw if r.test_doc_id == 100}) > 1
    # capped at df<=4: header fps (df ~10) vanish; only the real embedding
    # of probe 101 inside train doc 9 survives
    capped = winnow_containment(train, probe, threshold=0.5, max_fp_df=4).collect()
    pairs = {(r.test_doc_id, r.train_doc_id) for r in capped}
    assert (101, 9) in pairs
    assert not any(t == 100 for t, _ in pairs)


def test_clean_corpus_all_reasons(spark):
    """Every stage of the cleaning ladder fires, in priority order: the
    first failing stage names the reason."""
    from market_flow_spark.extensions.corpus import clean_corpus

    good = ("the arctic tern travels between hemispheres every single year "
            "covering enormous distances over open ocean water")
    near = good + " indeed"  # one extra word: shingle jaccard 14/15 >= 0.8
    docs = spark.createDataFrame(
        [
            (1, "too short"),                               # low_quality
            (2, "spam spam spam spam spam spam spam spam"), # repetitive
            (3, f"{good} contact me at alice@example.com"), # pii
            (4, good),                                      # keep (exact keeper)
            (5, good),                                      # exact_dup of 4
            (6, near),                                      # near_dup of 4
            (7, "a completely different and unrelated document about "
                "financial derivatives trading on commodity exchanges"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: (r.keep, r.drop_reason) for r in clean_corpus(docs).collect()}
    assert got[1] == (False, "low_quality")
    assert got[2] == (False, "repetitive")
    assert got[3] == (False, "pii")
    assert got[4] == (True, None)
    assert got[5] == (False, "exact_dup")
    assert got[6] == (False, "near_dup")
    assert got[7] == (True, None)


def test_merge_aggregate_equals_full_rebuild(spark):
    """Folding a delta's partial aggregates into the aggregate table must
    equal re-aggregating everything — including keys only in the delta,
    keys only in history, and overlapping keys."""
    from market_flow_spark.operators.incremental import merge_aggregate

    hist_rows = [("a", 1.0), ("a", 2.0), ("b", 5.0)]
    delta_rows = [("a", 10.0), ("c", 7.0)]
    schema = "k string, v double"
    hist = spark.createDataFrame(hist_rows, schema)
    delta = spark.createDataFrame(delta_rows, schema)
    hist_agg = hist.groupBy("k").agg(
        F.sum("v").alias("v"), F.count(F.lit(1)).alias("n_rows")
    )
    merged = {
        r.k: (r.v, r.n_rows)
        for r in merge_aggregate(hist_agg, delta, ["k"], ["v"]).collect()
    }
    full = {
        r.k: (r.v, r.n_rows)
        for r in spark.createDataFrame(hist_rows + delta_rows, schema)
        .groupBy("k")
        .agg(F.sum("v").alias("v"), F.count(F.lit(1)).alias("n_rows"))
        .collect()
    }
    assert merged == full == {"a": (13.0, 3), "b": (5.0, 1), "c": (7.0, 1)}


def test_minhash_max_band_size_guard(spark):
    """Degenerate-bucket guard: 40 identical docs form one band bucket that
    would emit 40*39/2 pairs; with max_band_size they emit none, while a
    normal near-dup pair in a small bucket is still found."""
    from market_flow_spark.extensions.dedup import minhash_lsh_pairs

    boiler = ("identical boilerplate document body repeated verbatim "
              "across the entire ingest batch without any change")
    good = ("the arctic tern travels between hemispheres every year "
            "covering enormous distances over open ocean")
    docs = spark.createDataFrame(
        [(i, boiler) for i in range(40)]
        + [(100, good), (101, good + " indeed")],
        "doc_id long, text string",
    )
    uncapped = minhash_lsh_pairs(docs, threshold=0.8).count()
    assert uncapped >= 40 * 39 // 2
    capped = sorted(
        (r.doc1, r.doc2)
        for r in minhash_lsh_pairs(docs, threshold=0.8, max_band_size=10).collect()
    )
    assert capped == [(100, 101)]


def test_kmv_overlap_estimates(spark):
    """KMV set algebra: union/Jaccard/intersection estimates land within
    the k=256 error bounds for controlled overlaps, and disjoint sets
    report ~zero intersection."""
    from market_flow_spark.extensions.sketches import kmv_overlap

    a = spark.range(0, 4000).select(F.col("id").alias("v"))       # [0, 4000)
    b = spark.range(2000, 6000).select(F.col("id").alias("v"))    # [2000, 6000)
    r = kmv_overlap(a, b, "v").collect()[0]
    # true union 6000, jaccard 2000/6000 = 0.333, intersection 2000
    assert abs(r.est_union - 6000) / 6000 < 0.2
    assert abs(r.est_jaccard - 1 / 3) < 0.1
    assert abs(r.est_intersection - 2000) / 2000 < 0.35
    disjoint = kmv_overlap(
        a, spark.range(10_000, 14_000).select(F.col("id").alias("v")), "v"
    ).collect()[0]
    assert disjoint.est_jaccard < 0.05 and disjoint.est_intersection < 400
    # fewer than k distinct on both sides: exact
    small = kmv_overlap(
        spark.range(0, 100).select(F.col("id").alias("v")),
        spark.range(50, 150).select(F.col("id").alias("v")),
        "v",
    ).collect()[0]
    assert small.est_union == 150 and small.est_intersection == 50


def test_image_ahash_matches_replica(spark, tables):
    """The Spark aHash stage equals the pure-python packing replica, and
    every signature fits a signed 64-bit int."""
    from market_flow_spark.extensions.multimodal import ahash_bits, image_ahash

    docs = tables["documents"].limit(20)
    src = {r.doc_id: r.text.encode() for r in docs.collect()}
    rows = image_ahash(to_binary_assets(docs)).collect()
    assert len(rows) == 20
    for r in rows:
        assert r.ahash == ahash_bits(src[r.doc_id])
        assert -(2**63) <= r.ahash < 2**63


def test_image_neardup_pairs_complete_vs_brute_force(spark, tables):
    """Pigeonhole completeness of the rotated-block join for the image
    tier: pairs within Hamming<=3 match a brute-force all-pairs scan of
    the hash table exactly (both directions — no extras either)."""
    from market_flow_spark.extensions.multimodal import (
        ahash_bits,
        image_neardup_pairs,
    )

    docs = tables["documents"].limit(60)
    src = {r.doc_id: r.text.encode() for r in docs.collect()}
    sigs = {i: ahash_bits(b) for i, b in src.items()}
    expect = set()
    ids = sorted(sigs)
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            h = bin((sigs[ids[i]] ^ sigs[ids[j]]) & (2**64 - 1)).count("1")
            if h <= 3:
                expect.add((ids[i], ids[j], h))
    got = {
        (r.doc1, r.doc2, r.hamming)
        for r in image_neardup_pairs(to_binary_assets(docs)).collect()
    }
    assert got == expect


def test_image_neardup_detects_minor_edit(spark):
    """A payload with a few flipped bytes stays within the Hamming budget;
    an unrelated payload does not pair."""
    import numpy as np

    from market_flow_spark.extensions.multimodal import image_neardup_pairs

    rng = np.random.RandomState(7)
    base = rng.randint(0, 256, size=4096, dtype=np.uint8)
    edited = base.copy()
    edited[100:104] = 255  # tiny local edit
    other = rng.randint(0, 256, size=4096, dtype=np.uint8)
    df = spark.createDataFrame(
        [
            (1, bytearray(base.tobytes()), "image/x-fake", 4096),
            (2, bytearray(edited.tobytes()), "image/x-fake", 4096),
            (3, bytearray(other.tobytes()), "image/x-fake", 4096),
        ],
        "doc_id long, content binary, media_type string, byte_len int",
    )
    pairs = {(r.doc1, r.doc2) for r in image_neardup_pairs(df).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_image_neardup_against_matches_union_cross_pairs(spark, tables):
    """The incremental visual-dedup join finds exactly the cross-side
    pairs the full self-join finds — persisting the corpus hash table and
    banding only the batch is equivalent to re-running over everything."""
    from pyspark.sql import functions as F

    from market_flow_spark.extensions.multimodal import (
        image_ahash,
        image_neardup_against,
        image_neardup_pairs,
    )

    docs = tables["documents"].limit(80)
    assets = to_binary_assets(docs)
    corpus = assets.filter(F.expr("doc_id % 5 <> 0"))
    new = assets.filter(F.expr("doc_id % 5 = 0"))
    incr = {
        (r.new_doc_id, r.corpus_doc_id, r.hamming)
        for r in image_neardup_against(new, image_ahash(corpus)).collect()
    }
    union_cross = set()
    for r in image_neardup_pairs(assets).collect():
        a_new, b_new = r.doc1 % 5 == 0, r.doc2 % 5 == 0
        if a_new != b_new:
            nd, cd = (r.doc1, r.doc2) if a_new else (r.doc2, r.doc1)
            union_cross.add((nd, cd, r.hamming))
    assert incr == union_cross


def test_simhash_against_matches_union_cross_pairs(spark, tables):
    """Incremental SimHash (batch vs persisted corpus signatures) finds
    exactly the cross-side pairs of the full self-join."""
    from pyspark.sql import functions as F

    from market_flow_spark.extensions.dedup import (
        simhash_pairs,
        simhash_pairs_against,
        simhash_signatures,
    )

    docs = tables["documents"]
    corpus = docs.filter(F.expr("doc_id % 10 <> 0"))
    new = docs.filter(F.expr("doc_id % 10 = 0"))
    incr = {
        (r.new_doc_id, r.corpus_doc_id, r.hamming)
        for r in simhash_pairs_against(new, simhash_signatures(corpus)).collect()
    }
    union_cross = set()
    for r in simhash_pairs(docs).collect():
        a_new, b_new = r.doc1 % 10 == 0, r.doc2 % 10 == 0
        if a_new != b_new:
            nd, cd = (r.doc1, r.doc2) if a_new else (r.doc2, r.doc1)
            union_cross.add((nd, cd, r.hamming))
    assert incr == union_cross
    assert len(incr) > 0


def test_cms_never_undercounts_and_exact_when_wide(spark):
    """CMS point estimates are one-sided (est >= exact always); with a
    width far above the vocabulary size collisions vanish and every
    estimate is exact."""
    from market_flow_spark.extensions.sketches import cms_build, cms_estimate

    rows = [(f"w{i % 37}",) for i in range(1000)] + [("rare",)]
    df = spark.createDataFrame(rows, "tok string")
    exact = {r["tok"]: r["c"] for r in df.groupBy("tok").agg(
        F.count(F.lit(1)).alias("c")).collect()}
    probes = df.select("tok").distinct()

    tight = cms_estimate(
        cms_build(df, "tok", width=16), probes, "tok", width=16
    )
    for r in tight.collect():
        assert r["cms_est"] >= exact[r["tok"]], r

    wide = cms_estimate(
        cms_build(df, "tok", width=4096), probes, "tok", width=4096
    )
    for r in wide.collect():
        assert r["cms_est"] == exact[r["tok"]], r


def test_cms_merge_equals_union_and_weighted_build(spark):
    """Sketch(A) + Sketch(B) == Sketch(A union B) counter-for-counter
    (the 1000-executor merge property), and building from pre-aggregated
    (item, weight) pairs equals building from raw occurrences."""
    from market_flow_spark.extensions.sketches import cms_build, cms_merge

    a = spark.createDataFrame([(f"w{i % 11}",) for i in range(200)], "tok string")
    b = spark.createDataFrame([(f"w{i % 7}",) for i in range(150)], "tok string")

    def grid(sk):
        return {(r["d"], r["bucket"]): r["cnt"] for r in sk.collect()}

    merged = grid(cms_merge(cms_build(a, "tok"), cms_build(b, "tok")))
    whole = grid(cms_build(a.unionByName(b), "tok"))
    assert merged == whole

    pre = a.groupBy("tok").agg(F.count(F.lit(1)).alias("w"))
    assert grid(cms_build(pre, "tok", weight_col="w")) == grid(
        cms_build(a, "tok")
    )

    # absent item estimates 0 through the left-join coalesce
    from market_flow_spark.extensions.sketches import cms_estimate

    ghost = spark.createDataFrame([("never-seen-token",)], "tok string")
    est = cms_estimate(cms_build(a, "tok", width=4096), ghost, "tok", width=4096)
    got = est.collect()[0]["cms_est"]
    assert got == 0
