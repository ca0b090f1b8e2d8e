"""Deduplication operators for large-scale corpora (north-star extensions).

Four tiers, cheapest first — the standard LLM-training-data dedup ladder:

1. **Exact** — hash-groupBy on a normalized fingerprint. One shuffle on the
   hash; at 100 TB this is a plain aggregate, no driver state.
2. **Word-level / n-gram Jaccard** — `jaccard_pairs`: one exact operator
   over word or shingle sets, as an inverted-index self-join (full, or
   prefix-filtered over rarest-first order as in All-Pairs/PPJoin) or as
   bitset algebra for tiny vocabularies, the shape picked from a bounded
   sample. Exact pairwise similarity; the oracle for the approximate
   tiers.
3. **MinHash + LSH** — md5-based minhash signatures, banded so candidate
   pairs come from equi-joins on band hashes (shuffle on band key, never a
   cross join). The 100 TB path. md5 is used (not xxhash) so the DuckDB
   oracle can reproduce signatures bit-for-bit.
4. **SimHash** — per-doc 64-bit signature from hash-bit majorities;
   near-dup pairs are low-Hamming-distance signatures, found via rotated
   16-bit prefix tables (exact-by-pigeonhole for Hamming < table count).

All tiers are pure DataFrame ops — explode/groupBy/join — no UDFs.
"""

from __future__ import annotations

import math
from fractions import Fraction

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from market_flow_spark.decisions import decision_log
from market_flow_spark.functions.aggregates import det_round
from market_flow_spark.operators.graph import collect_small_graph
from market_flow_spark.sources.layout import spread_to_cores as _spread

NUM_MINHASHES = 16
LSH_BANDS = 4  # 4 bands x 4 rows
SIMHASH_BITS = 64

# Universal-hash family for MinHash: mh_i = min((a_i*h + b_i) mod P) where h
# is ONE md5-derived uint32 per shingle. One md5 per shingle instead of one
# per (shingle, hash-function) — 16x less hashing on the corpus-sized
# explode — while staying bit-reproducible in DuckDB (same literals, same
# BIGINT arithmetic; a < 2^31 and h < 2^32 keep a*h+b below 2^63).
MINHASH_PRIME = 4294967311  # smallest prime > 2^32
import random as _random

_rng = _random.Random(42)
MINHASH_PARAMS: list[tuple[int, int]] = [
    (_rng.randrange(1, 2**31), _rng.randrange(0, 2**32))
    for _ in range(NUM_MINHASHES)
]
del _rng


def _norm_text(text_col: str) -> Column:
    return F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")


def exact_dedup(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup: md5(normalized text) → keep lowest doc_id per group."""
    f = docs.select("doc_id", F.md5(_norm_text(text_col)).alias("fingerprint"))
    return f.groupBy("fingerprint").agg(
        F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("dup_count")
    )


def exact_dedup_annotated(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document exact-dedup view: the md5 fingerprint and coarse length
    band (the cheap pre-filter columns of `text.fingerprint`) plus the
    fingerprint group's keeper and size. One shuffle on the fingerprint —
    the same exchange the groupBy form pays — but the per-doc grain keeps
    the fingerprint itself in the checked output."""
    from pyspark.sql import Window

    from market_flow_spark.extensions.text import fingerprint

    w = Window.partitionBy("fingerprint")
    return (
        fingerprint(docs, text_col)
        .withColumn("keep_doc_id", F.min("doc_id").over(w))
        .withColumn("dup_count", F.count(F.lit(1)).over(w))
    )


def doc_shingle_arrays(
    docs: DataFrame, n: int = 3, text_col: str = "text"
) -> DataFrame:
    """(doc_id, sh, sz): the sorted distinct n-gram shingle set per document
    as an array column, built entirely row-wise (split → transform/sequence →
    array_distinct → array_sort). No explode, no distinct, **no shuffle** —
    at 100 TB this is a map-only pass over the corpus. n=1 gives word sets.

    Shingling is what makes near-dup search selective: unigram sets from a
    shared vocabulary overlap heavily between unrelated documents, but
    n-gram overlap decays geometrically — unrelated docs share ≈ no
    shingles. The sort gives every doc the same global element order, which
    is what the prefix filter below relies on."""
    # coalesce('') makes every downstream expression NON-NULLABLE, which
    # matters far beyond semantics: with a nullable text column, Catalyst
    # infers isnotnull(size(<whole shingle expression>)) from the join
    # conditions above and pushes that filter below the repartition — i.e.
    # it re-evaluates the full shingle build, serially, at the scan, just
    # to test for null. Non-nullable inputs generate no such constraint.
    # Word sets drop the "" tokens split() yields for NULL/empty text and
    # at a leading or trailing tab or newline (trim() strips only spaces),
    # as the DuckDB twins' `word <> ''` does: a NULL or whitespace-only
    # doc has sz=0, emits no index rows and joins nothing, instead of
    # carrying [""] and pairing with every other such doc at jaccard 1.0
    # (O(N²) pairs). Shingles keep them, as the shingle twin does; a NULL
    # or empty doc's [""] is shorter than any n ≥ 2.
    norm = F.trim(F.lower(F.coalesce(F.col(text_col), F.lit(""))))
    toked = _spread(docs, "doc_id").select(
        "doc_id", F.split(norm, r"\s+").alias("toks")
    )
    if n == 1:
        sh = F.array_remove("toks", "")
    else:
        parts = ", ".join(f"toks[i+{j}]" for j in range(n))
        sh = F.expr(
            f"CASE WHEN size(toks) >= {n} "
            f"THEN transform(sequence(0, size(toks)-{n}), "
            f"i -> concat_ws(' ', {parts})) "
            f"ELSE cast(array() as array<string>) END"
        )
    return toked.select(
        "doc_id", F.array_sort(F.array_distinct(sh)).alias("sh")
    ).withColumn("sz", F.size("sh"))


def doc_words(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, word) distinct token pairs — the inverted-index base.
    Exploded from the row-wise array build, so distinctness is established
    per-row and the explode output needs no shuffle."""
    return doc_shingle_arrays(docs, 1, text_col).select(
        "doc_id", F.explode("sh").alias("word")
    )


def doc_shingles(docs: DataFrame, n: int = 3, text_col: str = "text") -> DataFrame:
    """(doc_id, word) distinct n-gram shingles (word = the joined n-gram)."""
    return doc_shingle_arrays(docs, n, text_col).select(
        "doc_id", F.explode("sh").alias("word")
    )


def _threshold_ratio(threshold: float) -> tuple[int, int]:
    """The threshold the length and prefix filters use, as a rational
    num/den at or below ``threshold − 5·10⁻⁵``.

    The verifiers keep a pair when ``det_round(J, 4) >= threshold``, so a
    pair with J in [t − 5·10⁻⁵, t) qualifies: its Jaccard rounds up to t.
    The filters must not drop it, so they run half a rounding step below
    t; the verifier still applies the exact rule. den is bounded at 1e6 so
    sz·num stays far inside int64 (the exact binary Fraction of a float
    has a ~2^53 denominator), and floor() runs in Fraction arithmetic, so
    no float rounding can push the numerator up."""
    den = 1_000_000
    num = math.floor((Fraction(threshold) - Fraction(1, 20_000)) * den)
    return max(num, 0), den


def _length_ok(n1: Column, n2: Column, threshold: float) -> Column:
    """The length filter: J ≥ t needs min(n1, n2) ≥ t·max(n1, n2). In
    BIGINT (sz·num overflows INT32 for sz ≳ 2000), with the same rational
    as the prefix, so filter and prefix agree on which sizes qualify."""
    num, den = _threshold_ratio(threshold)
    n1, n2 = n1.cast("bigint"), n2.cast("bigint")
    return (n1 * den >= n2 * num) & (n2 * den >= n1 * num)


def _prefix(arrs: DataFrame, threshold: float) -> DataFrame:
    """(doc_id, sz, word) for the first ``sz − ⌈sz·t⌉ + 1`` elements of
    each set (SSJoin / All-Pairs): under any global element order, two
    sets with Jaccard ≥ t share an element within those prefixes, so only
    the prefixes need to enter an inverted index. ⌈sz·t⌉ is exact integer
    arithmetic (⌈a/b⌉ = −((−a) div b)); double rounding could shorten the
    prefix by one element and drop a qualifying pair."""
    num, den = _threshold_ratio(threshold)
    pref_len = F.expr(
        f"CAST(sz - (-((-CAST(sz AS BIGINT) * {num}) div {den})) + 1 AS INT)"
    )
    return arrs.select(
        "doc_id", "sz", F.explode(F.slice("sh", F.lit(1), pref_len)).alias("word")
    )


def _index_join(index: DataFrame, threshold: float) -> DataFrame:
    """(doc1, doc2, n1, n2) for every word two length-compatible documents
    share in an inverted index of (doc_id, sz, word) rows.

    The self-join runs over ALIASES of the identical subtree (not two
    renamed projections): both sides canonicalize to the same plan, so
    the shuffle on ``word`` is built once and the other side is a
    ReusedExchange — the corpus-sized shingle build runs once."""
    a, b = index.alias("a"), index.alias("b")
    return a.join(b, F.col("a.word") == F.col("b.word")).select(
        F.col("a.doc_id").alias("doc1"),
        F.col("b.doc_id").alias("doc2"),
        F.col("a.sz").alias("n1"),
        F.col("b.sz").alias("n2"),
    ).filter(
        (F.col("doc1") < F.col("doc2"))
        & _length_ok(F.col("n1"), F.col("n2"), threshold)
    )


def _jaccard_at_least(counts: DataFrame, threshold: float) -> DataFrame:
    """(doc1, doc2, jaccard) from (doc1, doc2, n1, n2, common): the
    4-digit ``det_round`` Jaccard, kept at ≥ threshold (the DuckDB twins'
    rule)."""
    j = F.col("common") / (F.col("n1") + F.col("n2") - F.col("common"))
    return counts.select("doc1", "doc2", det_round(j, 4).alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


def _count_common_pairs(arrs: DataFrame, threshold: float) -> DataFrame:
    """The count-common shape: full inverted-index self-join → per-pair
    match count (map-side combine) → algebraic Jaccard. No array payload
    leaves the index rows, and the set sizes ride along as grouping keys,
    so the whole shape is one equi-join plus one hash aggregate. Its cost
    is the index join's emission Σ df(w)², which tracks the output when
    pairs are dense or posting lists short."""
    index = arrs.select("doc_id", "sz", F.explode("sh").alias("word"))
    counts = (
        _index_join(index, threshold)
        .groupBy("doc1", "doc2", "n1", "n2")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    return _jaccard_at_least(counts, threshold)


def _verify_jaccard(pairs: DataFrame, arrs: DataFrame, threshold: float) -> DataFrame:
    """Exact Jaccard for candidate pairs: join each side's shingle array and
    intersect in-row (`array_intersect` hashes the smaller array — linear,
    not quadratic). One equi-join per side instead of the three-way
    posting-list join; the per-pair work never leaves the JVM."""
    # Both array lookups join the SAME aliased subtree on doc_id, so the
    # exchange (or broadcast) of the shingle-array table is built once and
    # reused for the second side — one corpus pass, not two.
    a1, a2 = arrs.alias("a1"), arrs.alias("a2")
    counts = (
        pairs.join(a1, F.col("doc1") == F.col("a1.doc_id"))
        .join(a2, F.col("doc2") == F.col("a2.doc_id"))
        .select(
            "doc1",
            "doc2",
            F.col("a1.sz").alias("n1"),
            F.col("a2.sz").alias("n2"),
            F.size(F.array_intersect("a1.sh", "a2.sh")).alias("common"),
        )
    )
    return _jaccard_at_least(counts, threshold)


# One BIGINT mask holds one bit per word of a vocabulary this size.
_BITMASK_VOCAB = 64


def _bitmask_pairs(arrs: DataFrame, threshold: float) -> DataFrame | None:
    """Exact Jaccard pairs for SATURATED-vocabulary corpora via bitset
    algebra: when the corpus's entire distinct-token universe fits one
    64-bit word, every document's word set packs into a single BIGINT and
    Jaccard is ``bit_count(a&b) / bit_count(a|b)`` — pure in-row integer
    arithmetic, no inverted index, no corpus-sized shuffle.

    Plan shape: one scan builds (doc_id, mask); the DISTINCT masks (M ≤
    doc count, typically far fewer under a tiny vocabulary) compare
    M²/2 set pairs, equal masks included, with bit arithmetic — a bounded
    BroadcastNestedLoopJoin over a table of single longs, guarded by
    ``max_masks`` (M² ≤ ~5·10⁸ comparisons) — and two
    equi-joins on the mask expand qualifying set pairs back to doc pairs,
    emitting exactly the output. Total cost tracks corpus size + output
    size, vs the inverted-index join's Σ df(w)² emission.

    Returns None when the corpus doesn't qualify (vocabulary empty or
    over ``_BITMASK_VOCAB``, or M over ``max_masks``) — the caller falls
    back to count_common. Both probes are bounded: the vocabulary check
    collects at most _BITMASK_VOCAB+1 rows, the mask count is one
    aggregate over the mask table."""
    max_masks = 32768
    vocab_rows = (
        arrs.select(F.explode("sh").alias("word"))
        .distinct()
        .limit(_BITMASK_VOCAB + 1)
        .collect()
    )
    if not 0 < len(vocab_rows) <= _BITMASK_VOCAB:
        return None
    vocab = sorted(r["word"] for r in vocab_rows)
    # word → its bit VALUE (1 << i) as a signed long literal; bit 63 is the
    # two's-complement sign bit, same packing as the SimHash signatures
    bit_map = F.create_map(
        *[
            x
            for i, w in enumerate(vocab)
            for x in (
                F.lit(w),
                F.lit(1 << i if i < 63 else -(1 << 63)).cast("long"),
            )
        ]
    )
    mask = F.aggregate(
        F.transform(F.col("sh"), lambda w: bit_map[w]),
        F.lit(0).cast("long"),
        lambda acc, x: acc.bitwiseOR(x),
    )
    docs_m = arrs.filter(F.col("sz") > 0).select("doc_id", mask.alias("mask"))
    masks = docs_m.select("mask").distinct()
    if masks.count() > max_masks:
        return None
    m1, m2 = masks.alias("m1"), masks.alias("m2")
    inter = F.bit_count(F.col("m1.mask").bitwiseAND(F.col("m2.mask")))
    union = F.bit_count(F.col("m1.mask").bitwiseOR(F.col("m2.mask")))
    set_pairs = (
        m1.crossJoin(m2)
        .filter(F.col("m1.mask") <= F.col("m2.mask"))
        .withColumn("jaccard", det_round(inter / union, 4))
        .filter(F.col("jaccard") >= threshold)
        .select(
            F.col("m1.mask").alias("mask1"),
            F.col("m2.mask").alias("mask2"),
            "jaccard",
        )
    )
    d1 = docs_m.select(F.col("doc_id").alias("da"), F.col("mask").alias("mask1"))
    d2 = docs_m.select(F.col("doc_id").alias("db"), F.col("mask").alias("mask2"))
    return (
        set_pairs.join(d1, "mask1")
        .join(d2, "mask2")
        # an equal-mask set pair expands to every ordered doc pair of its
        # group, itself included: keep each unordered pair once
        .filter((F.col("mask1") != F.col("mask2")) | (F.col("da") < F.col("db")))
        .select(
            F.least("da", "db").alias("doc1"),
            F.greatest("da", "db").alias("doc2"),
            "jaccard",
        )
    )


def freq_ordered_arrays(arrs: DataFrame) -> DataFrame:
    """Re-order each document's element set by ascending global document
    frequency (ties broken by the element itself — still a total order).

    This is the AllPairs/PPJoin canonicalization: with rarest-first arrays,
    the ⌊(1-t)·n⌋+1 prefix holds each document's RAREST elements, so
    stop-word-grade elements sit at the array tails and never enter the
    inverted index — posting lists collapse from corpus-scale to
    near-constant. Exactness is untouched (the prefix theorem holds under
    ANY global order; verification intersects full sets). Costs one
    vocabulary aggregate + one corpus re-group — the trade that makes the
    unigram tier survive a shared vocabulary."""
    w = arrs.select("doc_id", F.explode("sh").alias("word"))
    df_counts = w.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    return (
        w.join(df_counts, "word")
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("df", "word"))).alias("ws"))
        .select(
            "doc_id", F.transform("ws", lambda s: s["word"]).alias("sh")
        )
        .withColumn("sz", F.size("sh"))
    )


# The degenerate-bucket guard of dedup_word_jaccard_routed, the
# MinHash-LSH candidate tier over word sets: a band bucket holding k
# near-identical documents emits k² candidate rows before any screen can
# help (measured: uncapped, the unigram LSH tier spent 28 s at sf0.1 on
# band buckets thousands deep; capped it runs the same job in ~1.5 s). 64
# bounds per-bucket emission at 64² = 4 096 rows; mutual near-dup clusters
# bigger than that belong to the exact-dedup (fingerprint) tier upstream,
# per the minhash_lsh_pairs contract.
WORD_JACCARD_LSH_BAND_CAP = 64

# A sampled top-token share above this marks a stop-word corpus, which
# the rarest-first prefix filter keeps out of the inverted index.
WORD_JACCARD_STOPWORD_SHARE = 0.02


def _jaccard_shape(docs: DataFrame, n: int, text_col: str) -> str:
    """The physical shape of :func:`jaccard_pairs`, from the shingle sets
    of a bounded sample of 2048 documents. The sets come to the driver in
    one Arrow collect and pyarrow counts them: on 4 cores that took
    0.21–0.31 s against 0.34–0.60 s for the same stats as two Spark
    aggregates. The picks:

    - ``'bitmask'`` when the sampled vocabulary fits one 64-bit word
      (``_bitmask_pairs`` re-checks the FULL vocabulary and falls back to
      count_common when the sample under-counted);
    - ``'count_common'`` when the vocabulary is saturated (fewer distinct
      tokens than half the sampled documents: the qualifying-pair output
      is itself dense, so no candidate generation can emit much less) or
      no token is stop-word-grade (top share ≤
      ``WORD_JACCARD_STOPWORD_SHARE``: posting lists stay short);
    - ``'freq_ordered'`` otherwise: stop-word skew would make the full
      index join quadratic, and the rarest-first prefix keeps those
      tokens out of the index.

    The pick and the sampled stats that drove it go to
    ``decisions.decision_log``."""
    sets = doc_shingle_arrays(docs.limit(2048), n, text_col).select("sh")
    sets = sets.toArrow().column("sh")
    words = pc.list_flatten(sets)
    df = pc.value_counts(words).field("counts")
    vocab = len(df)
    n_docs = pc.sum(pc.greater(pc.list_value_length(sets), 0)).as_py() or 0
    top_share = (pc.max(df).as_py() or 0) / max(len(words), 1)
    if vocab <= _BITMASK_VOCAB:
        shape = "bitmask"
    elif vocab < 0.5 * n_docs or top_share <= WORD_JACCARD_STOPWORD_SHARE:
        shape = "count_common"
    else:
        shape = "freq_ordered"
    decision_log(
        "dedup.jaccard_pairs",
        {"sample_docs": n_docs, "vocab": vocab, "top_share": top_share},
        {"top_share": WORD_JACCARD_STOPWORD_SHARE, "bitmask_vocab": _BITMASK_VOCAB},
        shape,
    )
    return shape


def jaccard_pairs(
    docs: DataFrame, threshold: float, n: int = 1, text_col: str = "text"
) -> DataFrame:
    """Exact near-dup pairs (doc1 < doc2, jaccard) whose Jaccard over
    word n-gram sets (``n=1``: word sets) reaches ``threshold`` after
    4-digit ``det_round``. An inverted-index self-join (never a cross
    join) or bitset algebra; no signature approximation. MinHash+LSH
    (``minhash_lsh_pairs``) is the approximate tier for inputs whose
    candidate emission this exact join cannot afford.

    ``_jaccard_shape`` picks one of three equivalent shapes from a bounded
    sample, and no caller can override it:

    - ``'bitmask'``: single-BIGINT word-set masks and in-row ``bit_count``
      Jaccard (``_bitmask_pairs``), for a vocabulary of 64 tokens or
      fewer.
    - ``'count_common'``: full inverted-index join + algebraic Jaccard
      (``_count_common_pairs``), for a saturated vocabulary or short
      posting lists.
    - ``'freq_ordered'``: the All-Pairs / PPJoin candidate shape — the
      length filter plus the prefix filter over rarest-first arrays
      (``freq_ordered_arrays``, ``_prefix``), verified by in-row
      ``array_intersect`` — for stop-word skew, whose posting lists would
      make the full index join quadratic.

    Measured on 4 cores (construct + noop write; README "Pair-generation
    shape follows the sampled vocabulary" has the table)."""
    arrs = doc_shingle_arrays(docs, n, text_col)
    shape = _jaccard_shape(docs, n, text_col)
    if shape == "bitmask":
        out = _bitmask_pairs(arrs, threshold)
        return out if out is not None else _count_common_pairs(arrs, threshold)
    if shape == "count_common":
        return _count_common_pairs(arrs, threshold)
    arrs = freq_ordered_arrays(arrs)
    cand = _index_join(_prefix(arrs, threshold), threshold).select("doc1", "doc2")
    return _verify_jaccard(cand.distinct(), arrs, threshold)


def exact_contamination(
    corpus: DataFrame,
    probe: DataFrame,
    text_col: str = "text",
    prefix_len: int | None = None,
) -> DataFrame:
    """Cross-corpus EXACT contamination: every probe (test/eval) document
    whose normalized text appears verbatim in the training corpus — the
    train/test-overlap audit every model-data pipeline runs before
    training. One md5 per row per side and an equi-join on the
    fingerprint: at 100 TB this is two map passes + one hash join, no
    self-join anywhere.

    ``prefix_len`` fingerprints only the first N normalized characters —
    the prefix-collision variant that also catches shared openings /
    partial inclusion (a test prompt embedded at the head of a training
    document), at the cost of some false positives the caller can verify
    downstream."""
    norm = _norm_text(text_col)
    if prefix_len is not None:
        norm = F.substring(norm, 1, prefix_len)
    tr = corpus.select(
        F.col("doc_id").alias("train_doc_id"), F.md5(norm).alias("fingerprint")
    )
    te = probe.select(
        F.col("doc_id").alias("test_doc_id"), F.md5(norm).alias("fingerprint")
    )
    return te.join(tr, "fingerprint").select(
        "test_doc_id", "train_doc_id", "fingerprint"
    )


def exact_contamination_bloomed(
    corpus: DataFrame,
    probe: DataFrame,
    text_col: str = "text",
    prefix_len: int | None = None,
    n_bits: int | None = None,
    n_hashes: int | None = None,
) -> DataFrame:
    """:func:`exact_contamination` with a Bloom-filter pre-prune of the
    probe side — identical results (a Bloom filter has no false
    negatives; the exact fingerprint equi-join still decides every
    match), but the join only shuffles probe rows whose fingerprint
    COULD be in the training corpus.

    Why this is the 100 TB shape: the exact join must shuffle both sides
    on the fingerprint. The Bloom filter over the training corpus's
    fingerprints is a bounded artifact (n_bits/64 longs — 128 KiB at the
    default — the same bounded-collect contract as the IVF centroid
    table), embedded in the probe scan as a literal array, so pruning is
    map-only: at a realistic ~0.1-1% hit rate, 99%+ of the probe corpus
    never enters the exchange. Building the filter costs one extra scan
    of the corpus fingerprints (map-side-combined into ≤ n_bits/64
    rows), amortized across every probe batch when the words list is
    reused via :func:`market_flow_spark.extensions.sketches.bloom_build`
    / ``bloom_words`` directly."""
    from market_flow_spark.extensions import sketches

    kw = {}
    if n_bits is not None:
        kw["n_bits"] = n_bits
    if n_hashes is not None:
        kw["n_hashes"] = n_hashes
    norm = _norm_text(text_col)
    if prefix_len is not None:
        norm = F.substring(norm, 1, prefix_len)
    tr = corpus.select(
        F.col("doc_id").alias("train_doc_id"), F.md5(norm).alias("fingerprint")
    )
    te = probe.select(
        F.col("doc_id").alias("test_doc_id"), F.md5(norm).alias("fingerprint")
    )
    words = sketches.bloom_words(
        sketches.bloom_build(tr, "fingerprint", **kw),
        **({"n_bits": n_bits} if n_bits is not None else {}),
    )
    te = sketches.bloom_prune(te, "fingerprint", words, **kw)
    return te.join(tr, "fingerprint").select(
        "test_doc_id", "train_doc_id", "fingerprint"
    )


def ngram_contamination(
    corpus: DataFrame,
    probe: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """Cross-corpus NEAR-duplicate contamination: probe documents whose
    n-gram-shingle Jaccard against any training document reaches
    ``threshold`` — catches paraphrased/partially-edited leakage exact
    fingerprints miss.

    The prefix and length filters of :func:`jaccard_pairs` (``_prefix``,
    ``_length_ok``) over the sorted shingle order, but the inverted
    index is built per side and joined ACROSS sides only, so the candidate
    space is |probe|×|corpus| pruned by prefix+length — never a self-join
    of the union, and the (typically small) probe side drives the join."""

    def index(docs: DataFrame, side: str) -> DataFrame:
        pref = _prefix(doc_shingle_arrays(docs, n, text_col), threshold)
        return pref.select(
            F.col("doc_id").alias(f"{side}_doc_id"),
            F.col("sz").alias(f"n_{side}"),
            "word",
        )

    cand = (
        index(probe, "test")
        .join(index(corpus, "train"), "word")
        .filter(_length_ok(F.col("n_test"), F.col("n_train"), threshold))
        .select("test_doc_id", "train_doc_id")
        .distinct()
    )
    te = doc_shingle_arrays(probe, n, text_col).select(
        F.col("doc_id").alias("test_doc_id"),
        F.col("sh").alias("sh_test"),
        F.col("sz").alias("n_test"),
    )
    tr = doc_shingle_arrays(corpus, n, text_col).select(
        F.col("doc_id").alias("train_doc_id"),
        F.col("sh").alias("sh_train"),
        F.col("sz").alias("n_train"),
    )
    common = F.size(F.array_intersect("sh_test", "sh_train"))
    return (
        cand.join(te, "test_doc_id")
        .join(tr, "train_doc_id")
        .withColumn("common", common)
        .withColumn(
            "jaccard",
            det_round(
                F.col("common")
                / (F.col("n_test") + F.col("n_train") - F.col("common")),
                4,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("test_doc_id", "train_doc_id", "jaccard")
    )


def minhash_signatures(
    features: DataFrame, num_hashes: int = NUM_MINHASHES
) -> DataFrame:
    """MinHash signatures over a (doc_id, word) feature set (shingles in
    practice): mh_i = min over features of (a_i·h(word) + b_i) mod P, with
    h(word) = uint32 from the md5 hex prefix.

    One md5 per feature + a multiply-add per hash function: deterministic,
    order-independent (MIN is associative), and reproducible in any engine —
    which is what makes the LSH tier oracle-checkable.
    """
    h32 = F.conv(F.substring(F.md5("word"), 1, 8), 16, 10).cast("long")
    feats = features.withColumn("h32", h32)
    aggs = [
        F.min((F.col("h32") * F.lit(a) + F.lit(b)) % F.lit(MINHASH_PRIME)).alias(
            f"mh{i}"
        )
        for i, (a, b) in enumerate(MINHASH_PARAMS[:num_hashes])
    ]
    return feats.groupBy("doc_id").agg(*aggs)


def lsh_bands(signatures: DataFrame, bands: int = LSH_BANDS) -> DataFrame:
    """Band the signature: band_hash = md5 of the '-'-joined band rows.
    Docs sharing any (band_idx, band_hash) become candidate pairs via a
    plain equi-join — the step that keeps LSH linear-ish at scale.

    Built as ONE inline-explode over the signature table (not a union of
    per-band selects), so the signature aggregation upstream runs once
    regardless of the band count."""
    n = len([c for c in signatures.columns if c.startswith("mh")])
    rows_per_band = n // bands
    entries = []
    for b in range(bands):
        cols = [F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)]
        entries.append(
            F.struct(
                F.lit(b).alias("band_idx"),
                F.md5(F.concat_ws("-", *cols)).alias("band_hash"),
            )
        )
    passthrough = [c for c in signatures.columns if not c.startswith("mh")]
    return signatures.select(*passthrough, F.inline(F.array(*entries)))


def _lsh_banded(arrs: DataFrame) -> DataFrame:
    """(doc_id, sig, band_idx, band_hash) from shingle arrays (doc_id,
    sh): MinHash signatures, banded. The full signature travels WITH
    each band row as a 16-element array, so a band equi-join directly
    yields both sides' signatures and the estimate screen is an in-row
    zip — no join back to the signature table, no persist, and query
    construction stays fully lazy."""
    words = arrs.select("doc_id", F.explode("sh").alias("word"))
    sigs = minhash_signatures(words)
    n = len([c for c in sigs.columns if c.startswith("mh")])
    sig_arr = F.array(*[F.col(f"mh{i}") for i in range(n)])
    return lsh_bands(sigs.withColumn("sig", sig_arr)).select(
        "doc_id", "sig", "band_idx", "band_hash"
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    text_col: str = "text",
    min_sig_matches: int = NUM_MINHASHES // 2,
    narrow_verification: bool = False,
    max_band_size: int | None = None,
    shingle_n: int = 3,
) -> DataFrame:
    """Near-dup pairs in three narrowing stages — the shape that survives
    100 TB:

    1. LSH candidates: equi-join on band hash over 3-gram shingles (no
       cross join ever; shingling keeps unrelated docs out of the
       candidate set);
    2. signature-estimate filter: candidates must agree on ≥
       min_sig_matches of the minhashes — a pure projection over the
       (small) signature table, this is where MinHash earns its keep: the
       expensive exact verification only runs on pairs the signature
       already says are close;
    3. exact shingle-Jaccard verification of the survivors.

    ``max_band_size`` is the degenerate-bucket guard (opt-in, like the
    winnow tier's ``max_fp_df``): a band bucket holding k copies of a
    near-identical document emits k² candidate rows before any screen can
    help, so buckets larger than the cap are dropped from the join
    entirely — computed as ONE count-window over the banded frame, which
    shares the exact hash partitioning the self-join needs (no extra
    exchange). Clusters that big belong to the exact-dedup tier (the
    ladder in ``corpus.clean_corpus`` runs it first for precisely this
    reason); everything below the cap is untouched.

    ``shingle_n`` sets the feature grain (default 3-gram shingles).
    ``dedup_word_jaccard_routed`` passes 1 so the exact verification stage
    computes WORD-set Jaccard — the semantics of ``jaccard_pairs(docs, t)``,
    candidate generation swapped for banding.
    """
    arrs = doc_shingle_arrays(docs, shingle_n, text_col)
    banded = _lsh_banded(arrs)
    if max_band_size is not None:
        from pyspark.sql import Window

        wb = Window.partitionBy("band_idx", "band_hash")
        banded = (
            banded.withColumn("__bsz", F.count(F.lit(1)).over(wb))
            .filter(F.col("__bsz") <= max_band_size)
            .drop("__bsz")
        )
    # Alias self-join on the identical subtree: the shuffle on the band key
    # canonicalizes the same for both sides, so the shingle explosion +
    # signature aggregation + banding runs ONCE (ReusedExchange), not twice.
    b1, b2 = banded.alias("b1"), banded.alias("b2")
    matches = F.aggregate(
        F.zip_with("b1.sig", "b2.sig", lambda a, b: (a == b).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    # Screen BEFORE distinct: the signature estimate is per-pair
    # deterministic, so filtering band-duplicated rows first shrinks the
    # distinct's shuffle to the pairs that already look close.
    # No broadcast hints anywhere: the signature table is doc-count-sized,
    # so at corpus scale broadcasting it is a guaranteed OOM. The band join
    # is a plain equi-join; AQE picks broadcast locally if a side is small.
    screened = (
        b1.join(
            b2,
            (F.col("b1.band_idx") == F.col("b2.band_idx"))
            & (F.col("b1.band_hash") == F.col("b2.band_hash")),
        )
        .filter(
            (F.col("b1.doc_id") < F.col("b2.doc_id"))
            & (matches >= F.lit(min_sig_matches))
        )
        .select(
            F.col("b1.doc_id").alias("doc1"), F.col("b2.doc_id").alias("doc2")
        )
        .distinct()
    )
    if narrow_verification:
        # 100 TB path: narrow the corpus-sized shingle-array table to
        # candidate docs before the verification join — scanning only the
        # near-dup neighborhoods instead of the whole corpus. This branches
        # the screened-pair plan (Spark recomputes it per consumer), so
        # it's opt-in: only worth it when the corpus dwarfs the candidate
        # set; long-lived callers can persist() the result themselves.
        cand_docs = (
            screened.select(F.col("doc1").alias("doc_id"))
            .union(screened.select(F.col("doc2").alias("doc_id")))
            .distinct()
        )
        # left_semi with no hint: cand_docs is near-dup-count-sized, which
        # is usually small but in the worst case corpus-sized — AQE decides
        # broadcast vs shuffle from its actual runtime size.
        arrs = arrs.join(cand_docs, "doc_id", "left_semi")
    return _verify_jaccard(screened, arrs, threshold)


def minhash_lsh_pairs_against(
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    threshold: float = 0.8,
    text_col: str = "text",
    min_sig_matches: int = NUM_MINHASHES // 2,
) -> DataFrame:
    """Incremental MinHash+LSH dedup: near-dup pairs between a NEW batch
    and an EXISTING corpus — the shape an ingest pipeline actually runs
    (dedup tonight's crawl against the indexed corpus, not the union
    against itself). The band join is cross-side only, so its cost scales
    with |new| × collision rate, not |corpus|²; in production the corpus
    side's banded signatures are a persisted table that each batch reuses.

    Returns (new_doc_id, corpus_doc_id, jaccard) for exact shingle-Jaccard
    ≥ threshold among signature-screened band collisions — the same
    three-stage narrowing as :func:`minhash_lsh_pairs`. The corpus side
    is :func:`build_lsh_index` built in the same plan, then
    :func:`minhash_lsh_pairs_against_index`."""
    return minhash_lsh_pairs_against_index(
        new_docs,
        build_lsh_index(corpus_docs, text_col),
        threshold,
        text_col,
        min_sig_matches,
    )


def simhash_signatures(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """64-bit SimHash per doc: bit i set iff the majority of the doc's
    words have bit i set in their md5-derived 64-bit hash (two 32-bit
    halves of the md5 hex — reproducible in any engine that can parse hex).
    Bit 63 is assembled as the two's-complement sign term so the signature
    packs into one signed BIGINT."""
    words = doc_words(docs, text_col).withColumn("h", F.md5("word"))
    words = words.withColumn(
        "h1", F.conv(F.substring("h", 1, 8), 16, 10).cast("long")
    ).withColumn("h2", F.conv(F.substring("h", 9, 8), 16, 10).cast("long"))
    # majority per bit as 2*count(bit set) > count(words): plain bit sums
    # instead of 64 CASE-to-±1 aggregates — same result (sum of ±1 > 0 ⇔
    # 2·cnt > n, ties identical), ~4x cheaper codegen compile
    aggs = [F.count(F.lit(1)).alias("nw")]
    for i in range(SIMHASH_BITS):
        src, j = ("h1", i) if i < 32 else ("h2", i - 32)
        aggs.append(
            F.sum(F.shiftright(F.col(src), j).bitwiseAND(F.lit(1))).alias(f"c{i}")
        )
    s = words.groupBy("doc_id").agg(*aggs)

    def majority(i: int):
        return F.col(f"c{i}") * 2 > F.col("nw")

    sim = F.when(
        majority(SIMHASH_BITS - 1), F.lit(-(2 ** (SIMHASH_BITS - 1)))
    ).otherwise(F.lit(0))
    for i in range(SIMHASH_BITS - 1):
        sim = sim + F.when(majority(i), F.lit(2**i)).otherwise(F.lit(0))
    return s.select("doc_id", sim.cast("bigint").alias("simhash"))


def _hamming_blocks(
    sig_col: str, max_hamming: int, n_tables: int, total_bits: int
) -> Column:
    """The block-explode generator of the rotated-block Hamming join: one
    (block_idx, block_val) row per ``total_bits // n_tables``-bit block
    of ``sig_col``."""
    # pigeonhole completeness: <= max_hamming differing bits can touch at
    # most max_hamming blocks, leaving one exact-match block only if
    # max_hamming < n_tables
    assert max_hamming < n_tables, "need max_hamming < n_tables"
    assert total_bits % n_tables == 0, "n_tables must divide total_bits"
    width = total_bits // n_tables
    mask = (1 << width) - 1
    entries = [
        F.struct(
            F.lit(b).alias("block_idx"),
            F.shiftright(F.col(sig_col), b * width)
            .bitwiseAND(F.lit(mask))
            .alias("block_val"),
        )
        for b in range(n_tables)
    ]
    return F.inline(F.array(*entries))


def hamming_block_pairs(
    sigs: DataFrame,
    sig_col: str = "simhash",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    n_tables: int = 4,
    total_bits: int = SIMHASH_BITS,
) -> DataFrame:
    """All (doc1, doc2, hamming) pairs whose BIGINT bit-signatures are
    within Hamming distance ``max_hamming`` — the generic rotated-block
    scheme shared by text SimHash and image perceptual hashes.

    The ``total_bits``-bit signature is split into ``n_tables`` equal
    blocks; by pigeonhole, any pair within Hamming distance < n_tables
    agrees EXACTLY on at least one block, so candidates come from
    ``n_tables`` equi-joins on (block_idx, block_value) — selective at
    corpus scale (2^(bits/tables) buckets per table). Built as one
    inline-explode + alias self-join (ReusedExchange for the other side);
    bit_count(xor) verifies in-row. Never an all-pairs distance matrix."""
    blocked = sigs.select(
        F.col(id_col).alias("doc_id"),
        F.col(sig_col).alias("__sig"),
        _hamming_blocks(sig_col, max_hamming, n_tables, total_bits),
    )
    b1, b2 = blocked.alias("b1"), blocked.alias("b2")
    ham = F.bit_count(F.col("b1.__sig").bitwiseXOR(F.col("b2.__sig")))
    return (
        b1.join(
            b2,
            (F.col("b1.block_idx") == F.col("b2.block_idx"))
            & (F.col("b1.block_val") == F.col("b2.block_val")),
        )
        .filter((F.col("b1.doc_id") < F.col("b2.doc_id")) & (ham <= max_hamming))
        .select(
            F.col("b1.doc_id").alias("doc1"),
            F.col("b2.doc_id").alias("doc2"),
            ham.cast("int").alias("hamming"),
        )
        .distinct()
    )


def hamming_block_pairs_against(
    new_sigs: DataFrame,
    corpus_sigs: DataFrame,
    sig_col: str = "simhash",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    n_tables: int = 4,
    total_bits: int = SIMHASH_BITS,
) -> DataFrame:
    """Incremental variant of :func:`hamming_block_pairs`: pairs between a
    NEW batch's signatures and an EXISTING corpus signature table within
    Hamming distance ``max_hamming`` — the shape a nightly ingest runs
    (tonight's images/documents against the indexed corpus). The band
    join is cross-side only, so cost scales with |new| × collision rate,
    not |corpus|²; in production the corpus side's blocked rows are a
    persisted table each batch reuses. Returns
    (new_doc_id, corpus_doc_id, hamming); same pigeonhole-completeness
    guarantee as the self-join form."""
    blocks = _hamming_blocks(sig_col, max_hamming, n_tables, total_bits)

    def blocked(sigs: DataFrame, side: str) -> DataFrame:
        return sigs.select(
            F.col(id_col).alias(f"{side}_doc_id"),
            F.col(sig_col).alias(f"__sig_{side}"),
            blocks,
        )

    ham = F.bit_count(F.col("__sig_new").bitwiseXOR(F.col("__sig_corpus")))
    return (
        blocked(new_sigs, "new")
        .join(blocked(corpus_sigs, "corpus"), ["block_idx", "block_val"])
        .filter(ham <= max_hamming)
        .select(
            "new_doc_id",
            "corpus_doc_id",
            ham.cast("int").alias("hamming"),
        )
        .distinct()
    )


def simhash_pairs(
    docs: DataFrame, max_hamming: int = 3, n_tables: int = 4
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ max_hamming.

    The 64-bit signature is split into ``n_tables`` 16-bit blocks; by
    pigeonhole, any pair within Hamming distance < n_tables agrees EXACTLY
    on at least one block, so candidates come from ``n_tables`` equi-joins
    on (block_idx, block_value) — the rotated-prefix-table scheme that
    stays selective at corpus scale (2^16 buckets per table instead of the
    old 16-bit signature's 256 saturating blocks). Delegates to
    :func:`hamming_block_pairs` (the shared rotated-block join)."""
    return hamming_block_pairs(
        simhash_signatures(docs),
        sig_col="simhash",
        max_hamming=max_hamming,
        n_tables=n_tables,
    )


def simhash_pairs_against(
    new_docs: DataFrame,
    corpus_sigs: DataFrame,
    max_hamming: int = 3,
    n_tables: int = 4,
    text_col: str = "text",
) -> DataFrame:
    """Incremental SimHash dedup: near-dup pairs between a NEW batch and a
    PREBUILT corpus signature table (``simhash_signatures`` output,
    persisted once — 16 bytes/doc). Only the batch is re-signed; the band
    join is cross-side only. Returns (new_doc_id, corpus_doc_id,
    hamming); completes the incremental-ingest trio alongside
    :func:`minhash_lsh_pairs_against` (Jaccard) and
    :func:`market_flow_spark.extensions.multimodal.image_neardup_against`
    (visual)."""
    return hamming_block_pairs_against(
        simhash_signatures(new_docs, text_col),
        corpus_sigs,
        sig_col="simhash",
        max_hamming=max_hamming,
        n_tables=n_tables,
    )


def _winnow_fp_arrays(
    docs: DataFrame, k: int = 8, window: int = 4, text_col: str = "text"
) -> DataFrame:
    """(doc_id, fps array<bigint>) per-document DISTINCT winnowed
    fingerprints — the pre-explode form of :func:`winnow_fingerprints`.
    WARNING: reference the ``fps`` column ONCE downstream. A second
    reference (e.g. ``size(fps)`` next to ``explode(fps)``) lets
    CollapseProject inline the whole winnowing expression — norm regexp
    included — into each reference, degrading to interpreted
    per-position regexp evaluation (measured: one task 500+ s at
    sf0.1). Per-doc counts belong in a window over the exploded rows,
    which rides the doc_id spread partitioning for free."""
    n = "__wn_norm"
    h = "__wn_h"
    base = _spread(docs, "doc_id").select(
        "doc_id", _norm_text(text_col).alias(n)
    )
    # one uint32 rolling hash per k-gram start position
    gram_hashes = F.expr(
        f"CASE WHEN length({n}) >= {k} THEN "
        f"transform(sequence(0, length({n}) - {k}), "
        f"i -> CAST(conv(substr(md5(substr({n}, i + 1, {k})), 1, 8), 16, 10) AS BIGINT)) "
        f"ELSE CAST(array() AS array<bigint>) END"
    )
    hashed = base.select("doc_id", gram_hashes.alias(h))
    # winnow: min per window of `window` consecutive hashes; short docs
    # (fewer hashes than one window) contribute their single overall min
    fps = F.expr(
        f"CASE WHEN size({h}) >= {window} THEN "
        f"array_distinct(transform(sequence(0, size({h}) - {window}), "
        f"j -> array_min(slice({h}, j + 1, {window})))) "
        f"WHEN size({h}) > 0 THEN array(array_min({h})) "
        f"ELSE CAST(array() AS array<bigint>) END"
    )
    return hashed.select("doc_id", fps.alias("fps"))


def winnow_fingerprints(
    docs: DataFrame, k: int = 8, window: int = 4, text_col: str = "text"
) -> DataFrame:
    """(doc_id, fp) rolling-hash document fingerprints via winnowing
    (Schleimer/Wilkerson/Aiken, MOSS): hash every character k-gram of the
    normalized text, then keep the minimum hash of each sliding window of
    ``window`` consecutive k-gram hashes. Guarantee: any shared substring
    of length >= k + window - 1 between two documents yields at least one
    SHARED fingerprint — which is what makes fingerprint equality a
    containment detector, not just a whole-document one.

    Built entirely row-wise with higher-order functions (transform /
    sequence / slice / array_min): a map-only pass over the corpus, no
    shuffle until the caller joins on fp. Hashes are md5-prefix uint32s —
    bit-reproducible in DuckDB for the oracle. Fingerprint density is
    ~2/(window+1) per character, so the index a containment join probes is
    a bounded fraction of corpus bytes.
    """
    return _winnow_fp_arrays(docs, k, window, text_col).select(
        "doc_id", F.explode("fps").alias("fp")
    )


# Documented routing threshold for the exact-substring span tier, in
# WINDOW ROWS (≈ normalized chars: one hashed window per char position).
# Measured end-to-end throughput on the 32-core bench box is ~0.7-2.5 M
# window rows/s (post-r11 verify reclaim: sf0.1's 1.49 M chars → 1.25 s
# min / sf1's 14.9 M → 5.98 s min; medians ~40% higher), so 6e8 ≈ 5
# minutes of wall — the same budget class as the word tier's
# 1e10-candidate cap. Above it, the corpus-bytes-sized shuffle this tier
# is honest about stops being affordable and the winnowing containment
# tier (sampled ~1/window of the hashes, scores instead of exact spans)
# is the documented route.
EXACT_SUBSTRING_MAX_WINDOW_ROWS = 6e8

# Per-doc ceiling for the fold-based span merge: the packed positions
# array holds every duplicated window start of one document in ONE row
# (~4-16 bytes per position through the collect_list buffer). The cheap
# pre-shuffle check is on position OFFSET, which upper-bounds the packed
# COUNT (count <= max offset + 1): offsets below the bound PROVE the row
# stays under ~bytes-per-position x bound. 100 M int positions ≈ 0.4-1.6
# GB worst case — the "~100 MB of normalized text can hit the single-row
# ceiling" envelope this tier documented before the guard became
# executable (round 12 first shipped the bound at 16 M, which aborted
# 16-100 MB docs the unguarded shape had always handled; reviewed and
# re-aligned the same round). Docs past the bound with only SPARSE
# duplication trip the proxy conservatively — the raise names
# merge_strategy="window" (streaming island merge within a sorted
# partition, the pre-r11 shape: no per-doc row at all, measured ×1.33
# slower end-to-end) as the route.
EXACT_SUBSTRING_MAX_DOC_POSITIONS = 100_000_000


def estimate_exact_substring_window_rows(
    docs: DataFrame,
    text_col: str = "text",
    sample_docs: int = 2048,
    n_full: int | None = None,
) -> float:
    """Projected window-row emission of ``exact_substring_spans``: Σ of
    normalized text lengths (an upper bound — docs shorter than min_len
    contribute no windows), estimated as sample-mean chars/doc × N. One
    bounded job; the corpus count follows the word-tier contract —
    caller-provided ``n_full``, else exact when the ``limit`` pull
    returns fewer rows than requested, else one ``docs.count()``.

    The sample is DETERMINISTIC (TakeOrdered on ``doc_id``, same
    contract as ``similarity.choose_banded_layout``): a bare ``limit`` is
    partition-order dependent, so two runs of
    ``choose_exact_substring_route`` on the same data could flip
    'exact' vs 'winnow_containment' near the 6e8 threshold."""
    order_key = "doc_id" if "doc_id" in docs.columns else docs.columns[0]
    raw = docs.orderBy(order_key).limit(sample_docs).persist()
    try:
        row = raw.agg(
            F.sum(F.length(_norm_text(text_col))).alias("chars"),
            F.count(F.lit(1)).alias("n"),
        ).first()
        n_s = int(row["n"] or 0)
        if not n_s:
            return 0.0
        if n_full is None:
            n_full = n_s if n_s < sample_docs else docs.count()
        return float(row["chars"] or 0) * (max(n_full, n_s) / n_s)
    finally:
        raw.unpersist()


def choose_exact_substring_route(
    docs: DataFrame,
    text_col: str = "text",
    max_window_rows: float | None = EXACT_SUBSTRING_MAX_WINDOW_ROWS,
    sample_docs: int = 2048,
    n_full: int | None = None,
) -> str:
    """'exact' (run ``exact_substring_spans``) or 'winnow_containment'
    (the sampled tier one over) from the bounded emission estimate. Unlike
    ``jaccard_pairs``' sampled shape pick, this cannot swap the physical
    shape under one function: the two routes return DIFFERENT shapes
    (exact char spans vs containment scores), so the chooser only advises
    and callers pick the operator — which is why there is no *_routed
    query: an auto-switch that changes the output schema would be a lie.
    A call that samples logs the estimate, the cap and the route through
    ``decisions.decision_log``."""
    if max_window_rows is None:
        return "exact"
    est = estimate_exact_substring_window_rows(
        docs, text_col, sample_docs, n_full
    )
    route = "exact" if est <= max_window_rows else "winnow_containment"
    decision_log(
        "dedup.choose_exact_substring_route",
        {"window_rows": est},
        max_window_rows,
        route,
    )
    return route


def exact_substring_spans(
    docs: DataFrame,
    min_len: int = 30,
    text_col: str = "text",
    _hash_hex: int = 15,
    merge_strategy: str = "fold",
    max_doc_positions: int | None = EXACT_SUBSTRING_MAX_DOC_POSITIONS,
) -> DataFrame:
    """(doc_id, span_start, span_end, n_windows): maximal character ranges
    of the NORMALIZED text covered by ``min_len``-char windows whose
    content occurs more than once in the corpus — in another document or
    at another position of the same one. This is the exact-substring
    duplication criterion of Lee et al. 2022 (arXiv:2107.06499,
    "Deduplicating Training Data Makes Language Models Better") at fixed
    window grain: any duplicated substring of length ≥ min_len yields at
    least one duplicated window, and the emitted span is the union of all
    overlapping duplicated windows — the byte range a dedup pass would
    cut. Their suffix-array tool finds variable-length maximal matches;
    the fixed grain trades match-length precision for a fully distributed
    plan (a suffix array is a global sort over corpus bytes; this is a
    hash aggregate).

    Exactness is hash-collision-proof: the window hash is only a
    PREFILTER. Hash-heavy windows (hash occurs ≥ 2 times) are joined back
    to their documents and re-grouped on the actual ``min_len``-char
    CONTENT; only content occurring ≥ 2 times survives. Equal content
    always has equal hash, so the prefilter never drops a true duplicate,
    and the verify stage kills every collision false positive — without
    it, a 32-bit hash fabricates ~n²/2³³ duplicate spans in unique text
    (≈ 2 already at sf0.01's 135 k windows; saturated at 100 TB). The
    64-bit xxhash64 prefilter (JVM-native — r12 swapped in for the former
    60-bit md5-prefix conv, interleaved ×0.80 on the hash stages with the
    final result provably unchanged) keeps the expected collision count
    driving spurious verify work to ~n²/2⁶⁵ — ≲ 0.001 % of windows even
    at 10¹⁴ windows. The DuckDB twin keeps its md5-prefix prefilter:
    both prefilters pass every true duplicate and the verify stage
    deletes every false positive on either engine, so the compared
    results stay row-identical.

    Complements the tiers around it: exact_dedup removes whole-doc
    clones, span_dedup removes repeated LINES (C4), winnowing SAMPLES
    k-gram hashes for containment scoring — this one reports EVERY
    duplicated char range exactly (no sampling), at window resolution.

    Plan (100 TB shape): one map-only pass hashes every window start
    (xxhash64 BIGINTs; the twin's md5-prefix equivalent differs only in
    which collision false positives the verify stage later deletes — the
    corpus-bytes-sized explode is the price of the exact criterion and is
    scan-local); one hash aggregate finds hashes occurring ≥ 2 times; a
    semi-join back on the SAME hash key reuses that partitioning; the
    survivors (output-sized: the corpus's duplicated share, plus the
    ~2⁻⁶¹-rate collision noise) join back on doc_id for content
    extraction; content counts are then verified with a count over ONE
    exchange on the content key (window count — no separate aggregate +
    join-back), and overlapping windows merge into maximal spans inside
    one per-doc hash aggregate (sort_array + a linear ``aggregate()``
    fold over each doc's duplicated positions — no sort-window
    machinery). Per-doc bound — EXECUTABLE since round 12: the packed
    positions array is ~4 bytes per duplicated position in one row, so
    a mostly-duplicated monster doc could breach Spark's ~2 GB row
    ceiling — ordinary training corpora chunk documents far below that.
    The guard checks position OFFSET, the cheap pre-shuffle UPPER BOUND
    on the packed count (count ≤ max offset + 1): a duplicated position
    at index ≥ ``max_doc_positions`` (default
    ``EXACT_SUBSTRING_MAX_DOC_POSITIONS`` = 100 M, i.e. the ~100 MB-of-
    normalized-text envelope the tier has always documented, ≈ 400 MB
    packed worst case) raises BEFORE the row is built (one codegen
    comparison per already-flowing row, no extra exchange or scan).
    The proxy is conservative for longer docs whose duplication is
    sparse — the raise names the route: ``merge_strategy="window"``
    switches the merge to the pre-r11 running-max island merge
    (streaming within a sorted partition — no per-doc row, so no
    ceiling; measured ×1.33 slower end-to-end, the price of
    pathological-blob corpora).
    ``max_doc_positions=None`` disables the guard. The round-11 rewrite of these
    two stages measured ×0.75 end-to-end at sf0.1 (min 1.66 → 1.25 s,
    non-overlapping pass distributions; PLANS.md has the sf1 row),
    reclaiming about half of the round-10 collision-proofing cost with
    the unconditional-exactness contract intact.

    Scale contract (the emission number for this tier): the window-hash
    explode shuffles one (doc_id, pos, hash) row per normalized char into
    the occ≥2 aggregate — ≈ 12-20× corpus bytes through one exchange, the
    largest shuffle multiplier in the registry (sf0.01 peak memory 495 MB
    is already the registry's largest). The content-verify stage adds
    dup_share × min_len bytes per char of DUPLICATED text only. There is
    no sampled escape hatch inside this operator because sampling is
    exactly what it exists to avoid: above the scale where a
    corpus-bytes-sized shuffle is affordable, route to the winnowing
    containment tier (``winnow_containment*``, ~1/(window) of the hashes,
    containment scores instead of exact spans) or to line-grain
    ``span_dedup`` — the documented neighbors, one tier over each way.
    ``choose_exact_substring_route`` makes that threshold executable
    (bounded sampled estimate vs ``EXACT_SUBSTRING_MAX_WINDOW_ROWS`` =
    6e8 ≈ 5 min at the measured rate); it advises rather than
    auto-switches because the routes return different shapes."""
    from pyspark.sql import Window

    n, h = "__es_norm", "__es_h"
    base = _spread(docs, "doc_id").select("doc_id", _norm_text(text_col).alias(n))
    # Prefilter hash: xxhash64 (JVM-native, no digest/hex-string
    # allocation) — r12, ×0.75 on the whole tier vs the former
    # md5-prefix conv. Safe precisely because the hash is ONLY a
    # prefilter: the content-verify stage below makes the final spans
    # hash-independent (equal content always collides with itself, so no
    # false negatives for ANY hash; collision false positives die at the
    # verify regroup), which is also why the DuckDB twin — which keeps
    # its md5-prefix prefilter — still matches row for row. ``_hash_hex``
    # keeps its meaning as the prefilter's bucket-width knob (16^k
    # buckets) for the collision-flood tests; at the default 15 the full
    # 64-bit hash is used (collision noise ~n²/2⁶⁵ vs the old 2⁶¹).
    if _hash_hex >= 15:
        win_hash = f"xxhash64(substr({n}, i + 1, {min_len}))"
    else:
        win_hash = (
            f"pmod(xxhash64(substr({n}, i + 1, {min_len})), "
            f"{16 ** _hash_hex}L)"
        )
    gram_hashes = F.expr(
        f"CASE WHEN length({n}) >= {min_len} THEN "
        f"transform(sequence(0, length({n}) - {min_len}), "
        f"i -> {win_hash}) "
        f"ELSE CAST(array() AS array<bigint>) END"
    )
    wins = (
        base.select("doc_id", F.posexplode(gram_hashes).alias("pos", h))
    )
    # occ >= 2 detection as a window count over ONE exchange on the hash
    # key (round-13): a single window-hash explode and a single shuffle of
    # (doc_id, pos, h), where a groupBy(h) + left_semi join-back re-runs
    # the corpus-bytes-sized explode once per branch. Same trade as the
    # content-verify stage below: a window gets no map-side partial
    # aggregation, so a mass-duplicated hash lands its occurrences on one
    # task — as a semi-join probe partitioned by h does once the
    # duplicate set outgrows broadcast. Interleaved A/B at sf0.1: see
    # OPTIMIZATION_r13.md (spans and dedup both ride this).
    wh = Window.partitionBy(h)
    cand = (
        wins.withColumn("__hocc", F.count(F.lit(1)).over(wh))
        .filter(F.col("__hocc") >= 2)
        .select("doc_id", "pos")
    )
    # content verify: hash matches are candidates, not verdicts — re-count
    # the survivors on the actual window content so a hash collision can
    # never fabricate a duplicate span. (A pack-positions-per-doc rewrite
    # that moved each doc's text through the join once was MEASURED 2×
    # slower at sf0.1/sf1 — the extra collect_list shuffle costs more
    # than the join-output text duplication it avoids; keep the plain
    # candidate join.) The count is a window count over ONE exchange on
    # the content key — the round-11 reclaim experiment measured the
    # former groupBy(content) + left_semi join-back shape ×1.33 slower
    # end-to-end together with the old sort-window span merge below.
    c = "__es_c"
    cand_c = cand.join(base, "doc_id").select(
        "doc_id",
        "pos",
        F.expr(f"substring({n}, pos + 1, {min_len})").alias(c),
    )
    # Skew note (the trade behind the round-11 ×1.33 measurement): a
    # window count gets NO map-side partial aggregation, so a single
    # mass-duplicated min_len-char content (boilerplate, license
    # headers — the data this tier targets) lands every occurrence on
    # one task here, where the former groupBy(content) + left_semi
    # shape bounded that key's task to its partial counts. The window
    # shape is the measured winner on the bench corpora (natural dup
    # shares); for heavy-duplication corpora where one content key
    # dominates, the pre-r11 groupBy+semi-join shape (commit
    # ``2db7995^``) is the fallback — the same guard style as
    # max_band_size one tier over.
    wc = Window.partitionBy(c)
    dup_wins = (
        cand_c.withColumn("__occ", F.count(F.lit(1)).over(wc))
        .filter(F.col("__occ") >= 2)
        .select("doc_id", "pos")
    )
    if merge_strategy == "window":
        # Streaming island merge (pre-r11 shape): running max of reach
        # over a sorted per-doc partition, gaps start islands, one
        # groupBy per island. No per-doc packed row — the no-ceiling
        # path for pathological single-doc blobs.
        byp = Window.partitionBy("doc_id").orderBy("pos")
        reach = F.max(F.col("pos") + min_len).over(
            byp.rowsBetween(Window.unboundedPreceding, -1)
        )
        new_island = F.when(
            reach.isNull() | (F.col("pos") > reach), F.lit(1)
        ).otherwise(F.lit(0))
        island = F.sum(new_island).over(
            byp.rowsBetween(Window.unboundedPreceding, 0)
        )
        return (
            dup_wins.withColumn("__island", island)
            .groupBy("doc_id", "__island")
            .agg(
                F.min("pos").alias("span_start"),
                (F.max("pos") + F.lit(min_len)).alias("span_end"),
                F.count(F.lit(1)).alias("n_windows"),
            )
            .select("doc_id", "span_start", "span_end", "n_windows")
        )
    if merge_strategy != "fold":
        raise ValueError(
            f"merge_strategy must be 'fold' or 'window', got {merge_strategy!r}"
        )
    if max_doc_positions is not None:
        # Executable big-doc guard on the cheap pre-shuffle proxy: a
        # position index >= the bound means the packed count is no
        # longer PROVABLY under the fold's single-row ceiling (offset
        # upper-bounds count) — fail fast with the route named, before
        # collect_list builds any row.
        dup_wins = dup_wins.select(
            "doc_id",
            F.when(
                F.col("pos") >= int(max_doc_positions),
                F.expr(
                    "CAST(raise_error('exact_substring_spans: a document "
                    "has duplicated positions beyond max_doc_positions="
                    f"{int(max_doc_positions)}, so its packed fold row is "
                    "no longer provably under the single-row ceiling "
                    "(position offset upper-bounds the packed count). "
                    "Re-run with merge_strategy=\\'window\\' (streaming "
                    "island merge, no per-doc row) or raise "
                    "max_doc_positions.') AS INT)"
                ),
            )
            .otherwise(F.col("pos"))
            .alias("pos"),
        )
    # span merge: one per-doc hash aggregate — sorted positions folded
    # into maximal [start, end) islands by a linear aggregate() lambda
    # (running reach = pos + min_len; a gap starts a new span). Replaces
    # the running-max window + islands + second groupBy of the previous
    # shape: one exchange on doc_id, no partition sort.
    packed = dup_wins.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("pos")).alias("__ps")
    )
    fold = f"""
      aggregate(
        __ps,
        struct(
          CAST(array() AS array<struct<span_start:int,span_end:int,n_windows:bigint>>) AS done,
          CAST(-1 AS int) AS s, CAST(-1 AS int) AS e, CAST(0 AS bigint) AS k
        ),
        (acc, p) -> CASE
          WHEN acc.s < 0 THEN
            struct(acc.done AS done, p AS s,
                   p + {min_len} AS e, CAST(1 AS bigint) AS k)
          WHEN p > acc.e THEN
            struct(array_append(acc.done,
                     struct(acc.s AS span_start, acc.e AS span_end,
                            acc.k AS n_windows)) AS done,
                   p AS s, p + {min_len} AS e, CAST(1 AS bigint) AS k)
          ELSE
            struct(acc.done AS done, acc.s AS s,
                   GREATEST(acc.e, p + {min_len}) AS e,
                   acc.k + CAST(1 AS bigint) AS k)
        END,
        acc -> CASE WHEN acc.s < 0 THEN acc.done
                    ELSE array_append(acc.done,
                           struct(acc.s AS span_start, acc.e AS span_end,
                                  acc.k AS n_windows)) END
      )
    """
    return (
        packed.select("doc_id", F.explode(F.expr(fold)).alias("__sp"))
        .select(
            "doc_id", "__sp.span_start", "__sp.span_end", "__sp.n_windows"
        )
    )


def exact_substring_dedup(
    docs: DataFrame,
    min_len: int = 30,
    text_col: str = "text",
    _hash_hex: int = 15,
    spans: DataFrame | None = None,
    merge_strategy: str = "fold",
    max_doc_positions: int | None = EXACT_SUBSTRING_MAX_DOC_POSITIONS,
) -> DataFrame:
    """(doc_id, clean_text, n_cut_chars): the APPLY half of the Lee et
    al. 2022 exact-substring pipeline — every duplicated span reported by
    ``exact_substring_spans`` is CUT from its document's normalized text
    (their deduplicate-text-datasets tool's default: every occurrence of
    a duplicated substring is removed, not all-but-one), returning the
    cleaned corpus a training pipeline actually feeds downstream plus
    the per-doc cut size for loss accounting. Coordinates are on the
    NORMALIZED text (lower/trim/whitespace-collapse — the span tier's
    coordinate system), so ``clean_text`` is normalized too; documents
    with no duplicated spans pass through with ``n_cut_chars`` 0.

    Plan shape: the span tier's plan (see ``exact_substring_spans``)
    plus one per-doc hash aggregate packing each doc's (start, end)
    spans — output-sized: only docs WITH spans — and one left join back
    to the corpus where a linear ``aggregate()`` fold concatenates the
    kept segments between consecutive spans (spans are disjoint and
    sorted by construction, so the fold is a single cursor walk; no
    per-row Python, no window sort). The span tier's scale contract
    applies unchanged: route through ``choose_exact_substring_route``
    first — above ``EXACT_SUBSTRING_MAX_WINDOW_ROWS`` the winnowing
    containment tier is the documented neighbor.

    ``spans``: pass the already-materialized output of
    ``exact_substring_spans`` (same ``min_len``/``text_col``) to skip
    recomputing the corpus-sized span pipeline — at 100 TB a pipeline
    materializes spans once (report + audit) and cuts from the same
    table; coordinates must be on the same normalization, which they
    are by construction when both come from this module.
    ``merge_strategy`` / ``max_doc_positions`` forward to the span tier
    (the fold's executable big-doc guard and its windowed fallback);
    they are ignored when ``spans`` is precomputed. The cut fold itself
    is malformed-input-safe: a caller-supplied ``spans`` frame with
    nested or overlapping spans (this module never emits those, but the
    parameter invites precomputed/filtered inputs) degrades to correct
    output — the cursor only moves forward (GREATEST) and kept-segment
    lengths clamp at 0, so cut text is never silently resurrected."""
    if spans is None:
        spans = exact_substring_spans(
            docs, min_len, text_col, _hash_hex, merge_strategy,
            max_doc_positions,
        )
    n = "__es_norm"
    base = _spread(docs, "doc_id").select("doc_id", _norm_text(text_col).alias(n))
    per_doc = spans.groupBy("doc_id").agg(
        F.sort_array(
            F.collect_list(F.struct("span_start", "span_end"))
        ).alias("__sp")
    )
    cut = F.expr(
        f"""
      CASE WHEN __sp IS NULL THEN {n} ELSE
        aggregate(
          __sp,
          struct(CAST('' AS string) AS out, CAST(0 AS int) AS cur),
          (acc, s) -> struct(
            acc.out || substring({n}, acc.cur + 1,
                                 GREATEST(s.span_start - acc.cur, 0))
              AS out,
            GREATEST(acc.cur, s.span_end) AS cur),
          acc -> acc.out ||
                 substring({n}, acc.cur + 1, length({n}) - acc.cur)
        )
      END
    """
    )
    return (
        base.join(per_doc, "doc_id", "left")
        .select("doc_id", F.col(n), cut.alias("clean_text"))
        .select(
            "doc_id",
            "clean_text",
            (F.length(n) - F.length("clean_text")).alias("n_cut_chars"),
        )
    )


def winnow_containment(
    corpus: DataFrame,
    probe: DataFrame,
    threshold: float = 0.5,
    k: int = 8,
    window: int = 4,
    text_col: str = "text",
    max_fp_df: int | None = None,
) -> DataFrame:
    """Cross-corpus CONTAINMENT contamination: probe (test/eval) documents
    a large fraction of whose winnowed fingerprints also occur in some
    training document. Unlike symmetric Jaccard (``ngram_contamination``),
    containment |fp_test ∩ fp_train| / |fp_test| catches a short test
    prompt embedded INSIDE a long training document — the leakage shape
    Jaccard's union denominator dilutes away.

    Plan: fingerprint both sides (map-only), equi-join on fp ACROSS sides
    only, count shared fps per (test, train) pair with map-side combine,
    divide by the probe doc's fingerprint count.

    ``max_fp_df`` is the boilerplate-suppression knob (the MOSS "noise
    threshold") and the 100 TB scale path: fingerprints occurring in more
    than that many documents (headers, licenses, shared phrasing — or any
    saturated-vocabulary corpus's ubiquitous n-grams) are dropped from
    BOTH the join and the containment denominator, so the fp equi-join's
    emission Σ df_probe·df_train stays bounded instead of quadratic in the
    heaviest fingerprint, and containment measures overlap of
    *distinctive* content. Default None = exact semantics (the registered
    oracle-checked query); measured at sf0.1 x4-inflated: 6.9 s exact →
    near-linear capped."""
    from pyspark.sql import Window

    # The probe side's per-doc fingerprint count is a zero-exchange window
    # over the doc_id-partitioned explode (the probe spread's hash
    # partitioning survives the explode — and the broadcast anti-join in
    # the capped path — so the count adds NO shuffle). r12: the old shape
    # re-ran the md5 winnowing pass a second time just to aggregate that
    # count and then joined it back. (A row-wise size() on the pre-explode
    # array was measured and REJECTED: referencing the fps array twice —
    # size + explode — lets CollapseProject inline the whole winnowing
    # expression, norm-regexp included, into both references, and the plan
    # degrades to interpreted per-position regexp evaluation: one task sat
    # 500+ s in RegExpReplace.nullSafeEval on the sf0.1 corpus.)
    te = winnow_fingerprints(probe, k, window, text_col).select(
        F.col("doc_id").alias("test_doc_id"), "fp"
    )
    tr = winnow_fingerprints(corpus, k, window, text_col).select(
        F.col("doc_id").alias("train_doc_id"), "fp"
    )
    if max_fp_df is not None:
        # boilerplate is defined by the TRAINING corpus (the big side):
        # one df aggregate over tr (map-side partial combine collapses hot
        # fingerprints BEFORE its shuffle — deliberately not a window or a
        # forced fp exchange, which would land every occurrence of a
        # boilerplate fp on one task), then anti-joins against the (small)
        # heavy-fp set. A te-only fp has train-df 0 and is rightly kept —
        # it still counts in the denominator, it just can't match.
        heavy = (
            tr.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_fp_df)
            .select("fp")
        )
        te = te.join(heavy, "fp", "left_anti")
        tr = tr.join(heavy, "fp", "left_anti")
    # denominator = (surviving) fps per probe doc; window key is the probe
    # doc, never the (potentially boilerplate-hot) fp
    te = te.withColumn(
        "n_test_fps",
        F.count(F.lit(1)).over(Window.partitionBy("test_doc_id")),
    )
    shared = (
        te.join(tr, "fp")
        .groupBy("test_doc_id", "train_doc_id", "n_test_fps")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        shared.withColumn(
            "containment",
            det_round(F.col("n_shared") / F.col("n_test_fps"), 6),
        )
        .filter(F.col("containment") >= threshold)
        .select("test_doc_id", "train_doc_id", "n_shared", "containment")
    )


# Rounds of two-star after which the distributed route gives up: the
# alternating algorithm needs O(log² n) rounds, so reaching this means a
# fault, not a hard graph.
_STAR_MAX_ROUNDS = 30


def dedup_clusters(
    pairs: DataFrame, id1: str = "doc1", id2: str = "doc2"
) -> DataFrame:
    """Connected components over near-dup pairs: (doc_id, cluster_id) with
    cluster_id = the MINIMUM doc_id reachable through the pair graph — the
    step that turns pairwise near-dup evidence into keep/drop decisions
    (pairs alone over-delete: A~B and B~C must not drop both B and C
    independently of each other). Every id of ``pairs`` is a node: a
    self-pair (a, a) gives node a labelled a, and a NULL id is a node of
    its own that links nothing, with a NULL cluster_id.

    The pairs are checkpointed once as one orientation each, (u, v) =
    (greatest, least) with v NULL when either id is NULL, and
    deduplicated (the pair generators upstream are expensive); then
    ``graph.collect_small_graph`` routes them by size, logging the
    decision with the undirected pair count:

    - **one task, on the driver** (at most ``graph.DRIVER_MAX_EDGES``
      pairs): :func:`_min_labels`, min-label rounds with pointer jumping
      in numpy, whose round count does not follow the graph diameter
      (measured: 15 rounds, 0.8 s, on a shuffled 1M-node chain; 3 rounds,
      0.3 s, on sf1's part-supplier graph); the labels return as a local
      Arrow relation.
    - **distributed** (larger graphs): :func:`_star_labels`, the
      alternating large-star / small-star algorithm of Kiveris et al.,
      "Connected Components in MapReduce and Beyond" (SoCC 2014): O(log² n)
      rounds at any diameter, each a few equi-joins and hash aggregates on
      node id, checkpointed per round.

    Plain min-label rounds need one round per hop of graph diameter, so
    neither route uses them: a chained duplication graph (A~B~…~Z with no
    pair spanning the chain) would need one round per link.

    Crossover, measured on 4 cores over the distinct (part, supplier)
    pairs of ``pagerank_part_supplier``'s lineitem (construct plus a noop
    write, medians of 6, 6, 3 and 3 interleaved same-process reps;
    outputs identical across routes). Peak RSS: one cold run per route in
    a fresh process with a 6 GB driver heap, read as the Python driver's
    ``ru_maxrss`` (141-142 MB on the distributed route at every scale)
    and the Spark JVM's ``VmHWM``:

    =======  ==========  =======  =======  ===========  =========  ==========
    scale    pairs       nodes    driver   distributed  Python     JVM drv /
                                                        RSS (drv)  distrib.
    =======  ==========  =======  =======  ===========  =========  ==========
    sf0.01       51,731    2,100   0.46 s       2.52 s     150 MB  0.8/1.5 GB
    sf0.1       590,973   21,000   1.23 s       5.90 s     213 MB  1.0/2.2 GB
    sf1       5,909,730  201,000   8.52 s      26.70 s     610 MB  3.0/4.7 GB
    sf1 ×2   11,819,460  402,000  23.54 s      55.47 s    1078 MB  5.2/6.7 GB
    =======  ==========  =======  =======  ===========  =========  ==========

    sf1 is ``gen_sf1.py``; sf1 ×2 is two disjoint id-shifted copies of
    it, exactly ``graph.DRIVER_MAX_EDGES`` pairs. The sf1 rows ran with
    a 6 GB driver heap. The driver route wins at every measured size, up
    to the bound."""
    a, b = F.col(id1), F.col(id2)
    edges = (
        pairs.select(
            F.greatest(a, b).alias("u"),
            F.when(a.isNotNull() & b.isNotNull(), F.least(a, b)).alias("v"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    table = collect_small_graph(edges, "dedup.dedup_clusters")
    if table is None:
        return _star_labels(edges)
    t = edges.schema["u"].dataType
    return edges.sparkSession.createDataFrame(
        _min_labels(table),
        StructType([StructField("doc_id", t), StructField("cluster_id", t)]),
    )


def _min_labels(edges: pa.Table) -> pa.Table:
    """Driver route of :func:`dedup_clusters`: (doc_id, cluster_id) from
    the collected (u, v) pair table. Ids are coded in sorted order, so the
    minimum code is the minimum id.

    Each round every node takes the minimum label of its closed
    neighborhood, each old label takes the minimum new label of its
    members (the hook), and labels then follow labels to their roots
    (pointer jumping, ``label = label[label]`` until stable). A label
    never exceeds its node's code, so the labels form a forest rooted at
    component minima, and a round that changes nothing leaves every node
    on its component's root."""
    u, v = edges["u"], edges["v"]
    # a standalone node (its partner NULL) links to itself; only the
    # all-NULL pair has a NULL u
    node = pc.is_valid(u)
    s, d = u.filter(node), pc.coalesce(v, u).filter(node)
    m = len(s)
    codes, nodes = pd.factorize(
        pd.concat([s.to_pandas(), d.to_pandas()], ignore_index=True), sort=True
    )
    src, dst = codes, np.concatenate([codes[m:], codes[:m]])
    label = np.arange(len(nodes))
    while True:
        new = label.copy()
        np.minimum.at(new, src, label[dst])  # neighborhood minimum
        np.minimum.at(new, label, new)  # hook
        while not np.array_equal(hop := new[new], new):  # pointer jumping
            new = hop
        if np.array_equal(new, label):
            break
        label = new
    doc = pa.array(nodes.to_numpy(), type=u.type)
    cluster = pc.take(doc, pa.array(label))
    if v.null_count:  # a NULL id: its own node, with a NULL cluster
        doc = pa.concat_arrays([doc, pa.nulls(1, u.type)])
        cluster = pa.concat_arrays([cluster, pa.nulls(1, u.type)])
    return pa.table({"doc_id": doc, "cluster_id": cluster})


def _star_labels(edges: DataFrame) -> DataFrame:
    """Distributed route of :func:`dedup_clusters` over the checkpointed
    (u, v) pairs: alternating large-star / small-star rounds on the links
    u > v.

    Large-star: every node points its LARGER neighbors at the minimum of
    its closed neighborhood (one groupBy-min over both orientations + one
    join). Small-star: every node points its SMALLER neighbors, and
    itself, at its minimum neighbor (one groupBy-min + one join). Each
    round's edge set is deduplicated and checkpointed, so no round's plan
    carries the earlier rounds or the pair generator. Its fixed points
    are the star sets (no node is both a child and a parent, no child
    has two parents), so one union + isEmpty job per round detects
    convergence; the stars are then rooted at their component minima. A
    node no star lists as a child (a root, a self-pair, NULL) labels
    itself."""
    e = edges.filter(F.col("u") != F.col("v"))
    for _ in range(_STAR_MAX_ROUNDS):
        nbrs = e.union(e.select("v", "u"))
        large = (
            nbrs.join(nbrs.groupBy("u").agg(F.min("v").alias("mn")), "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.least("u", "mn").alias("v"))
            .distinct()
        )
        smins = large.groupBy("u").agg(F.min("v").alias("mn"))
        e = (
            large.join(smins, "u")
            .select("v", "mn")
            .union(smins.select("u", "mn"))
            .toDF("u", "v")
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        child_is_parent = e.select(F.col("v").alias("n")).join(
            e.select(F.col("u").alias("n")), "n", "left_semi"
        )
        multi_parent = e.groupBy(F.col("u").alias("n")).count().filter("count > 1")
        if child_is_parent.union(multi_parent.select("n")).isEmpty():
            break
    else:
        raise RuntimeError(
            f"dedup_clusters did not converge within {_STAR_MAX_ROUNDS} "
            "two-star rounds"
        )
    stars = e.toDF("doc_id", "cluster_id")
    nodes = edges.select("u").union(edges.select("v")).distinct().toDF("doc_id")
    return stars.union(
        nodes.join(stars, "doc_id", "left_anti").select(
            "doc_id", F.col("doc_id").alias("cluster_id")
        )
    )


def dedup_keep_list(
    docs: DataFrame, pairs: DataFrame, id1: str = "doc1", id2: str = "doc2"
) -> DataFrame:
    """Keep/drop decision per document from near-dup pairs: cluster the
    pair graph (:func:`dedup_clusters`), keep the minimum doc_id of each
    cluster, keep every unpaired document. Returns (doc_id, cluster_id,
    keep) over ALL docs — the materializable output a dedup job actually
    writes. ``id1``/``id2`` name the pair frame's id columns (``docs``
    must carry ``doc_id``)."""
    clusters = dedup_clusters(pairs, id1=id1, id2=id2)
    return (
        docs.select("doc_id")
        .join(clusters, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cluster_id"),
        )
        .withColumn("keep", (F.col("doc_id") == F.col("cluster_id")))
    )


def build_lsh_index(
    docs: DataFrame, text_col: str = "text"
) -> tuple[DataFrame, DataFrame]:
    """Materializable MinHash-LSH index over a corpus: the build-once half
    of the build-once/query-many shape a production dedup service runs
    (mirroring ``similarity.save_ivf_centroids`` for the ANN tier).

    Returns ``(banded, arrays)``:
    - ``banded``: (doc_id, sig array<bigint>, band_idx, band_hash) — the
      LSH join side, one row per (doc, band);
    - ``arrays``: (doc_id, sh array<string>, sz) — the shingle sets the
      exact-verify stage intersects.

    Both are plain DataFrames; persist them with :func:`save_lsh_index`
    and every nightly batch dedups against the stored index without
    re-shingling the corpus."""
    arrs = doc_shingle_arrays(docs, text_col=text_col)
    return _lsh_banded(arrs), arrs


def save_lsh_index(
    docs: DataFrame, path: str, text_col: str = "text"
) -> None:
    """Build and persist the LSH index for `docs` under `path` (two
    parquet tables: banded/, arrays/). The band table is written
    partitioned by band_idx so a band-restricted probe prunes files."""
    banded, arrs = build_lsh_index(docs, text_col)
    banded.write.mode("overwrite").partitionBy("band_idx").parquet(
        f"{path}/banded"
    )
    arrs.write.mode("overwrite").parquet(f"{path}/arrays")


def load_lsh_index(spark, path: str) -> tuple[DataFrame, DataFrame]:
    """Load an index written by :func:`save_lsh_index`."""
    return (
        spark.read.parquet(f"{path}/banded"),
        spark.read.parquet(f"{path}/arrays"),
    )


def minhash_lsh_pairs_against_index(
    new_docs: DataFrame,
    index: tuple[DataFrame, DataFrame],
    threshold: float = 0.8,
    text_col: str = "text",
    min_sig_matches: int = NUM_MINHASHES // 2,
) -> DataFrame:
    """Incremental MinHash+LSH dedup of a NEW batch against a PREBUILT
    corpus index (``build_lsh_index`` / ``load_lsh_index``): the
    three-stage narrowing of :func:`minhash_lsh_pairs` with a cross-side
    band join, so its cost scales with |new| × collision rate, not
    |corpus|². With a loaded index the corpus side is read from the
    stored signatures/shingles instead of being re-derived — the per-
    batch cost drops to shingling the batch plus the (pruned) band join;
    :func:`minhash_lsh_pairs_against` passes an index built in the same
    plan. Returns (new_doc_id, corpus_doc_id, jaccard)."""
    corpus_banded, corpus_arrs = index
    new_arrs = doc_shingle_arrays(new_docs, text_col=text_col)
    b_new = _lsh_banded(new_arrs).select(
        F.col("doc_id").alias("new_doc_id"),
        F.col("sig").alias("sig_new"),
        "band_idx",
        "band_hash",
    )
    b_cor = corpus_banded.select(
        F.col("doc_id").alias("corpus_doc_id"),
        F.col("sig").alias("sig_corpus"),
        "band_idx",
        "band_hash",
    )
    matches = F.aggregate(
        F.zip_with("sig_new", "sig_corpus", lambda a, b: (a == b).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    screened = (
        b_new.join(b_cor, ["band_idx", "band_hash"])
        .filter(matches >= F.lit(min_sig_matches))
        .select("new_doc_id", "corpus_doc_id")
        .distinct()
    )
    ne = new_arrs.select(
        F.col("doc_id").alias("new_doc_id"),
        F.col("sh").alias("sh_new"),
        F.col("sz").alias("n_new"),
    )
    co = corpus_arrs.select(
        F.col("doc_id").alias("corpus_doc_id"),
        F.col("sh").alias("sh_corpus"),
        F.col("sz").alias("n_corpus"),
    )
    common = F.size(F.array_intersect("sh_new", "sh_corpus"))
    return (
        screened.join(ne, "new_doc_id")
        .join(co, "corpus_doc_id")
        .withColumn("common", common)
        .withColumn(
            "jaccard",
            det_round(
                F.col("common")
                / (F.col("n_new") + F.col("n_corpus") - F.col("common")),
                4,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("new_doc_id", "corpus_doc_id", "jaccard")
    )


# ---------------------------------------------------------------------------
# Span-level (chunk) corpus dedup — C4-style repeated-span removal
# ---------------------------------------------------------------------------


def doc_span_chunks(
    docs: DataFrame, chunk_words: int = 10, text_col: str = "text"
) -> DataFrame:
    """(doc_id, idx, chunk): NON-overlapping ``chunk_words``-word windows in
    document order, trailing partial window kept. The span-granularity
    analogue of ``doc_shingle_arrays`` — C4 removes any three-sentence span
    that repeats verbatim across the corpus; with no sentence boundaries in
    the synthetic corpus the fixed word window is the deterministic stand-in
    (the operator is agnostic: swap the splitter for a sentence segmenter
    and nothing downstream changes).

    Same normalization as every other dedup tier (trim/lower/``\\s+``
    split); NULL/empty/whitespace-only docs yield zero chunks. The CASE
    guard matters: ``sequence(0, -1)`` in Spark generates a DESCENDING
    two-element array, not an empty one."""
    cw = int(chunk_words)
    if cw < 1:
        raise ValueError(f"chunk_words must be >= 1, got {chunk_words}")
    norm = F.trim(F.lower(F.coalesce(F.col(text_col), F.lit(""))))
    toked = _spread(docs, "doc_id").select(
        "doc_id",
        F.when(norm == "", F.array().cast("array<string>"))
        .otherwise(F.split(norm, r"\s+"))
        .alias("toks"),
    )
    chunks = F.expr(
        f"CASE WHEN size(toks) >= 1 THEN "
        f"transform(sequence(0, cast(ceil(size(toks) / {cw}.0) as int) - 1), "
        f"i -> concat_ws(' ', slice(toks, i * {cw} + 1, {cw}))) "
        f"ELSE cast(array() as array<string>) END"
    )
    return toked.select("doc_id", F.posexplode(chunks).alias("idx", "chunk"))


def span_dedup(
    docs: DataFrame,
    chunk_words: int = 10,
    min_count: int = 2,
    text_col: str = "text",
) -> DataFrame:
    """Cross-document repeated-span removal (the C4 boilerplate scrub):
    drop every chunk whose VERBATIM corpus-wide occurrence count reaches
    ``min_count`` (intra-doc repeats count toward the total, matching C4's
    global span counting), then reassemble each document from its surviving
    chunks in original order.

    Returns (doc_id, text_clean, n_chunks, n_chunks_removed) for EVERY
    input document — a doc whose every chunk was boilerplate comes back
    with text_clean = '' rather than vanishing, so callers can filter on
    emptiness instead of diffing row sets.

    100 TB shape: one groupBy on the chunk hash builds the frequency table
    with map-side partial aggregation; the >=min_count filter shrinks it to
    the hot set (0.1-5% of chunks on web corpora), which AQE then joins
    back as a broadcast; reassembly is ONE shuffle of the corpus on doc_id.
    No self-join, no all-pairs — cost is linear in corpus size. The final
    restore-all-docs join is doc_id-keyed against the doc-count-sized
    aggregate. Skew: a pathological chunk repeated 10^8 times costs only
    its aggregate row — frequency counting never materializes pairs."""
    chunks = doc_span_chunks(docs, chunk_words, text_col)
    hot = (
        chunks.groupBy("chunk")
        .agg(F.count(F.lit(1)).alias("freq"))
        .filter(F.col("freq") >= int(min_count))
        .select("chunk", F.lit(True).alias("__hot"))
    )
    flagged = chunks.join(hot, "chunk", "left")
    # collect_list skips NULLs, so the CASE keeps only surviving chunks;
    # array_sort on (idx, chunk) structs restores document order.
    kept_text = F.concat_ws(
        " ",
        F.expr(
            "transform(array_sort(collect_list("
            "CASE WHEN __hot IS NULL THEN struct(idx, chunk) END)), "
            "s -> s.chunk)"
        ),
    )
    agg = flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.count(F.when(F.col("__hot"), F.lit(1))).alias("n_chunks_removed"),
        kept_text.alias("text_clean"),
    )
    return docs.select("doc_id").join(agg, "doc_id", "left").select(
        "doc_id",
        F.coalesce("text_clean", F.lit("")).alias("text_clean"),
        F.coalesce("n_chunks", F.lit(0).cast("long")).alias("n_chunks"),
        F.coalesce("n_chunks_removed", F.lit(0).cast("long")).alias(
            "n_chunks_removed"
        ),
    )


# ---------------------------------------------------------------------------
# String-grain fuzzy matching (entity resolution) — deletion-neighborhood
# blocked edit-distance join
# ---------------------------------------------------------------------------


def fuzzy_pairs_lev1(
    df: DataFrame, id_col: str = "id", text_col: str = "name"
) -> DataFrame:
    """All (id1, id2) pairs whose strings are within Levenshtein distance 1
    — the entity-resolution join (customer/vendor name reconciliation) as
    an EXACT blocked equi-join, never an all-pairs distance matrix.

    Blocking is the SymSpell deletion neighborhood: each string indexes
    under itself plus its ``len`` single-character deletions. Completeness
    by case analysis — equal strings share the identity key; a
    substitution at i makes both sides' delete-at-i variants equal; an
    insertion's delete-at-the-inserted-position equals the shorter string's
    identity key. Survivors verify with the real ``levenshtein`` in-row,
    so false candidates cost one distance evaluation, and the index is
    (len+1) rows per string — linear in corpus bytes, shuffled once on the
    variant key. The same alias-self-join canonicalization as the shingle
    tiers: one exchange, ReusedExchange for the other side.

    For distance d > 1 the same scheme composes (delete up to d chars,
    index size C(len, d)); d=1 covers the dominant typo class and keeps
    the index linear."""
    variants = F.expr(
        f"array_union(array({text_col}), "
        f"transform(sequence(0, length({text_col}) - 1), "
        f"i -> concat(substr({text_col}, 1, i), substr({text_col}, i + 2))))"
    )
    idx = df.select(
        F.col(id_col).alias("id"),
        F.col(text_col).alias("nm"),
        F.explode(variants).alias("v"),
    )
    a, b = idx.alias("a"), idx.alias("b")
    # verify BEFORE distinct: levenshtein on two short strings is a few
    # hundred ns, while the distinct shuffles every candidate row — on
    # pair-dense key spaces (sequential ids) false candidates outnumber
    # true pairs ~50:1, so filtering first shrinks the distinct's
    # exchange to the true-pair set (measured 3.9 s -> ~1 s at sf0.1)
    return (
        a.join(b, F.col("a.v") == F.col("b.v"))
        .filter(
            (F.col("a.id") < F.col("b.id"))
            & (F.levenshtein(F.col("a.nm"), F.col("b.nm")) <= 1)
        )
        .select(
            F.col("a.id").alias("id1"),
            F.col("b.id").alias("id2"),
            F.col("a.nm").alias("name1"),
            F.col("b.nm").alias("name2"),
        )
        .distinct()
        .withColumn("distance", F.levenshtein("name1", "name2").cast("int"))
    )


def fuzzy_pairs_lev1_oracle_sql(
    table: str, id_col: str, text_col: str
) -> str:
    """DuckDB twin of :func:`fuzzy_pairs_lev1` (same deletion-neighborhood
    blocking, same verify)."""
    return f"""
WITH idx AS (
  SELECT {id_col} AS id, {text_col} AS nm,
         unnest(list_distinct(list_append(
           list_transform(range(0, length({text_col})),
             i -> substr({text_col}, 1, i) || substr({text_col}, i + 2)),
           {text_col}))) AS v
  FROM {table}
),
cand AS (
  SELECT DISTINCT a.id AS id1, b.id AS id2, a.nm AS name1, b.nm AS name2
  FROM idx a JOIN idx b ON a.v = b.v
  WHERE a.id < b.id
)
SELECT id1, id2, name1, name2,
       CAST(levenshtein(name1, name2) AS INT) AS distance
FROM cand
WHERE levenshtein(name1, name2) <= 1
"""
