"""exact_substring_spans: Lee-et-al-style duplicated char ranges at fixed
window grain — span boundaries computed by hand on a synthetic corpus."""

from __future__ import annotations

from market_flow_spark.extensions.dedup import exact_substring_spans


def _blocks(start: int, n: int) -> str:
    """n non-repeating 4-char hex blocks: no 30-char window of the result
    occurs twice anywhere across different ``start`` ranges."""
    return "".join(f"{i:04x}" for i in range(start, start + n))


L = 30


def test_spans_cover_exactly_the_shared_substring(spark):
    shared = _blocks(1000, 15)  # 60 chars, present in docs 0 and 1
    # fillers end/start with DISTINCT non-hex letters so no window can
    # straddle a boundary and still match across docs (hex blocks all
    # start with '0', which would genuinely extend the shared substring
    # by one char — caught by this operator on this fixture's v1 draft)
    u0, v0 = _blocks(0, 10) + "g", "q" + _blocks(2000, 9)
    u1, v1 = _blocks(3000, 6) + "j", "r" + _blocks(4000, 8)
    docs = spark.createDataFrame(
        [
            (0, u0 + shared + v0),
            (1, u1 + shared + v1),
            (2, _blocks(6000, 30)),  # fully unique -> no spans
        ],
        "doc_id long, text string",
    )
    rows = {
        (r["doc_id"], r["span_start"], r["span_end"], r["n_windows"])
        for r in exact_substring_spans(docs, min_len=L).collect()
    }
    n_win = len(shared) - L + 1  # 31 duplicated window starts per side
    assert rows == {
        (0, len(u0), len(u0) + len(shared), n_win),
        (1, len(u1), len(u1) + len(shared), n_win),
    }


def test_within_doc_repeat_yields_two_spans(spark):
    """A substring repeated INSIDE one document is duplication too (the
    paper's criterion counts any second occurrence): each occurrence
    becomes its own maximal span when separated by unique text."""
    rep = _blocks(5000, 10)  # 40 chars, repeated with a 2-char separator
    docs = spark.createDataFrame(
        [(7, rep + "zz" + rep)], "doc_id long, text string"
    )
    rows = {
        (r["span_start"], r["span_end"], r["n_windows"])
        for r in exact_substring_spans(docs, min_len=L).collect()
    }
    # duplicated window starts: p and p+42 for p in 0..10 (window must fit
    # inside one occurrence to match the other) -> spans [0,40) and [42,82)
    assert rows == {(0, 40, 11), (42, 82, 11)}


def test_short_docs_contribute_nothing(spark):
    docs = spark.createDataFrame(
        [(0, "tiny"), (1, "tiny")], "doc_id long, text string"
    )
    assert exact_substring_spans(docs, min_len=L).count() == 0


def test_hash_collisions_cannot_fabricate_spans(spark):
    """The window hash is a prefilter, not a verdict: with the prefilter
    squeezed to 4 bits (1 md5 hex char → 16 buckets), a fully-unique
    corpus floods the occ≥2 hash filter with collisions, and the
    content-verification stage must still return ZERO spans. This is the
    exact failure the 32-bit-hash-only v1 had at scale (expected FP
    windows ~ n²/2³³ — saturated at the 100 TB shape), reproduced
    deterministically and required dead."""
    docs = spark.createDataFrame(
        [(i, _blocks(10_000 + 100 * i, 40)) for i in range(4)],
        "doc_id long, text string",
    )  # 160 unique chars/doc, zero repeated 30-char windows anywhere
    assert exact_substring_spans(docs, min_len=L, _hash_hex=1).count() == 0
    # and the production 60-bit prefilter agrees
    assert exact_substring_spans(docs, min_len=L).count() == 0


def test_true_duplicates_survive_a_saturated_prefilter(spark):
    """Equal content ⇒ equal hash, so prefilter saturation (4-bit) can
    only ADD candidates, never drop a true duplicate: real spans come out
    identical at 4-bit and 60-bit widths."""
    shared = _blocks(1000, 15)
    docs = spark.createDataFrame(
        [
            (0, _blocks(0, 10) + "g" + shared),
            (1, shared + "q" + _blocks(2000, 9)),
        ],
        "doc_id long, text string",
    )
    got_4bit = {
        tuple(r) for r in exact_substring_spans(docs, min_len=L, _hash_hex=1).collect()
    }
    got_60bit = {
        tuple(r) for r in exact_substring_spans(docs, min_len=L).collect()
    }
    n_win = len(shared) - L + 1
    assert got_4bit == got_60bit == {
        (0, 41, 41 + len(shared), n_win),
        (1, 0, len(shared), n_win),
    }


def test_route_chooser_estimate_and_flip(spark):
    """The advisory route chooser: estimator exact at full coverage
    (sample >= corpus -> Sigma normalized chars, no scaling), and the
    route flips to the winnowing tier when the cap drops below it."""
    from market_flow_spark.extensions.dedup import (
        choose_exact_substring_route,
        estimate_exact_substring_window_rows,
    )

    docs = spark.createDataFrame(
        [(0, "  One  Document "), (1, "another doc"), (2, "")],
        "doc_id long, text string",
    )
    # normalized: "one document" (12) + "another doc" (11) + "" (0) = 23
    assert estimate_exact_substring_window_rows(docs) == 23.0
    assert choose_exact_substring_route(docs) == "exact"
    assert (
        choose_exact_substring_route(docs, max_window_rows=10)
        == "winnow_containment"
    )
    # caller-known n_full skips the count and scales the sample mean
    est = estimate_exact_substring_window_rows(docs, n_full=300)
    assert est == 23.0 / 3 * 300


def test_route_chooser_logs_its_decision(spark, caplog):
    import logging

    from market_flow_spark.extensions.dedup import choose_exact_substring_route

    docs = spark.createDataFrame(
        [(0, "one document"), (1, "another doc")], "doc_id long, text string"
    )
    with caplog.at_level(logging.INFO, logger="market_flow_spark.decisions"):
        choose_exact_substring_route(docs, max_window_rows=10)
    [rec] = [
        r for r in caplog.records if r.name == "market_flow_spark.decisions"
    ]
    assert rec.decision == {
        "operator": "dedup.choose_exact_substring_route",
        "stats": {"window_rows": 23.0},
        "threshold": 10,
        "choice": "winnow_containment",
    }


def test_dedup_apply_cuts_exactly_the_spans(spark):
    """exact_substring_dedup (round 11, the APPLY half): the cleaned text
    must equal the normalized text with every reported span's char range
    removed — expectations hand-computed, including the one-char-left /
    five-char-right extension where the fillers genuinely share ' ' and
    ' tail' around the planted duplicate."""
    from market_flow_spark.extensions.dedup import exact_substring_dedup

    dup = "abcdefghijklmnopqrstuvwxyz0123"  # 30 chars
    docs = spark.createDataFrame(
        [
            (0, "head0 " + dup + " tail0"),
            (1, "head1 " + dup + " tail1x"),
            (2, "no duplicated windows live here, all of this is unique"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["clean_text"], r["n_cut_chars"])
        for r in exact_substring_dedup(docs, min_len=L).collect()
    }
    # shared region = ' ' + dup + ' tail' (36 chars at positions 5..40)
    assert got[0] == ("head00", 36)
    assert got[1] == ("head11x", 36)
    assert got[2] == (
        "no duplicated windows live here, all of this is unique",
        0,
    )


def test_dedup_apply_accepts_precomputed_spans(spark):
    """The 100 TB call pattern: spans materialized once, cut from the
    same table — passing them in must produce byte-identical output to
    the recompute path."""
    from market_flow_spark.extensions.dedup import exact_substring_dedup

    dup = "abcdefghijklmnopqrstuvwxyz0123"
    docs = spark.createDataFrame(
        [(0, "head0 " + dup + " tail0"), (1, "head1 " + dup + " tail1x")],
        "doc_id long, text string",
    )
    sp = exact_substring_spans(docs, min_len=L)
    a = sorted(map(tuple, exact_substring_dedup(docs, min_len=L).collect()))
    b = sorted(
        map(
            tuple,
            exact_substring_dedup(docs, min_len=L, spans=sp).collect(),
        )
    )
    assert a == b and len(a) == 2


def test_dedup_apply_can_cut_a_whole_doc(spark):
    """s+s: the two 30-char occurrences of s merge into one [0, 60) span
    (adjacent islands), so the cleaned text is empty — every occurrence
    of duplicated content is cut, the tool's default semantics."""
    from market_flow_spark.extensions.dedup import exact_substring_dedup

    s = "abcdefghijklmnopqrstuvwxyz0123"
    docs = spark.createDataFrame(
        [(0, s + s), (1, "entirely unique filler text goes here ok")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["clean_text"], r["n_cut_chars"])
        for r in exact_substring_dedup(docs, min_len=L).collect()
    }
    assert got[0] == ("", 60)
    assert got[1][1] == 0


def _py_spans_and_cut(texts: dict, min_len: int):
    """Pure-python model of the full pipeline: normalize, count every
    min_len-window's corpus occurrences, keep pos with count >= 2, merge
    islands (reach = pos + L), cut spans from the normalized text."""
    import re as _re
    from collections import Counter

    norm = {
        d: _re.sub(r"\s+", " ", t.strip().lower()) for d, t in texts.items()
    }
    cnt = Counter()
    for n in norm.values():
        for i in range(len(n) - min_len + 1):
            cnt[n[i : i + min_len]] += 1
    spans, clean = {}, {}
    for d, n in norm.items():
        merged = []
        for p in range(len(n) - min_len + 1):
            if cnt[n[p : p + min_len]] < 2:
                continue
            if merged and p <= merged[-1][1]:
                merged[-1][1] = max(merged[-1][1], p + min_len)
                merged[-1][2] += 1
            else:
                merged.append([p, p + min_len, 1])
        if merged:
            spans[d] = {(s, e, k) for s, e, k in merged}
        out, cur = [], 0
        for s, e, _ in sorted(merged):
            out.append(n[cur:s])
            cur = e
        out.append(n[cur:])
        c = "".join(out)
        clean[d] = (c, len(n) - len(c))
    return spans, clean


def test_spans_and_cut_match_python_model_on_random_corpora(spark):
    """Model-based randomized sweep (repo property-test convention: one
    Spark job per corpus vs a pure-python model): short alphabet + short
    windows force dense genuine duplication, runs of spaces stress the
    normalization, and empty/whitespace/short docs hit the no-window
    edges. Covers exact_substring_spans AND exact_substring_dedup."""
    import random

    from market_flow_spark.extensions.dedup import exact_substring_dedup

    L5 = 5
    for seed in (7, 20260816):
        rng = random.Random(seed)
        texts = {}
        for d in range(14):
            length = rng.choice([0, 3, 12, 40, 80, 120])
            texts[d] = "".join(
                rng.choice("ab  B") for _ in range(length)
            )
        exp_spans, exp_clean = _py_spans_and_cut(texts, L5)
        docs = spark.createDataFrame(
            list(texts.items()), "doc_id long, text string"
        )
        got_spans = {}
        for r in exact_substring_spans(docs, min_len=L5).collect():
            got_spans.setdefault(r["doc_id"], set()).add(
                (r["span_start"], r["span_end"], r["n_windows"])
            )
        assert got_spans == exp_spans, f"seed {seed}: spans diverge"
        got_clean = {
            r["doc_id"]: (r["clean_text"], r["n_cut_chars"])
            for r in exact_substring_dedup(docs, min_len=L5).collect()
        }
        assert got_clean == exp_clean, f"seed {seed}: cut diverges"


def test_malformed_nested_spans_cannot_resurrect_cut_text(spark):
    """The ``spans`` parameter invites precomputed/filtered inputs that
    this module would never emit. A span NESTED inside a previous one
    used to move the cursor backwards, silently re-including already-cut
    text in the tail append (advisor r11). The fold now clamps: cursor
    only moves forward, kept-segment lengths floor at 0 — so cutting
    {[2,8), [3,5)} equals cutting [2,8) alone."""
    from market_flow_spark.extensions.dedup import exact_substring_dedup

    docs = spark.createDataFrame(
        [(0, "abcdefghij")], "doc_id long, text string"
    )
    bad = spark.createDataFrame(
        [(0, 2, 8, 1), (0, 3, 5, 1)],
        "doc_id long, span_start int, span_end int, n_windows long",
    )
    [r] = exact_substring_dedup(docs, min_len=L, spans=bad).collect()
    assert (r["clean_text"], r["n_cut_chars"]) == ("abij", 6)


def test_big_doc_guard_raises_before_packing(spark):
    """Verdict r11 ask #4: the fold's per-doc packed-row bound is now an
    executable guard, not a docstring warning — a duplicated position at
    index >= max_doc_positions fails fast with the fallback route named,
    and merge_strategy='window' (no per-doc row) handles the same corpus."""
    import pytest

    shared = _blocks(1000, 15)  # 60 shared chars
    docs = spark.createDataFrame(
        [
            (0, _blocks(0, 10) + "g" + shared),  # dup positions start at 41
            (1, "q" + _blocks(2000, 9) + shared),
        ],
        "doc_id long, text string",
    )
    guarded = exact_substring_spans(docs, min_len=L, max_doc_positions=5)
    with pytest.raises(Exception, match="max_doc_positions"):
        guarded.collect()
    want = sorted(
        map(tuple, exact_substring_spans(docs, min_len=L).collect())
    )
    via_window = sorted(
        map(
            tuple,
            exact_substring_spans(
                docs, min_len=L, merge_strategy="window"
            ).collect(),
        )
    )
    assert via_window == want and len(want) == 2


def test_window_merge_strategy_matches_fold_on_random_corpora(spark):
    """The windowed fallback is only a fallback if it computes the same
    spans: sweep the randomized model corpora through both merge paths."""
    import random

    L5 = 5
    rng = random.Random(99)
    texts = {
        d: "".join(
            rng.choice("ab  B") for _ in range(rng.choice([0, 12, 40, 120]))
        )
        for d in range(14)
    }
    docs = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    fold = sorted(
        map(tuple, exact_substring_spans(docs, min_len=L5).collect())
    )
    win = sorted(
        map(
            tuple,
            exact_substring_spans(
                docs, min_len=L5, merge_strategy="window"
            ).collect(),
        )
    )
    assert fold == win and len(fold) > 0
