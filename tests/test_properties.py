"""Property-based and model-based tests for the cleaning/unit operators —
the test style SURVEY §5 notes the reference lacks entirely.

Pure-python surfaces get hypothesis; Spark column expressions get a
grid-vs-model comparison in a single job (per-example Spark jobs would be
pathologically slow)."""

from __future__ import annotations

import math
import re

from hypothesis import given, settings
from hypothesis import strategies as st

from market_flow_spark.functions.units import LB_TO_KG, UNIT_TO_KG_BARE
from market_flow_spark.sources.csv_source import normalize_column_name


def _py_parse_unit(name: str) -> float | None:
    """Plain-python model of stg_cleaned_units.sql:5-51 semantics."""
    t = name.strip()
    m = re.match(r"^([0-9\.]+)", t)
    qty = float(m.group(1)) if m else 1.0
    unit_type = re.sub(r"^[0-9\.]+", "", t).strip().lower()
    factor = UNIT_TO_KG_BARE.get(unit_type)
    return None if factor is None else qty * factor


def test_unit_parser_matches_python_model(spark):
    """One Spark job over the full grid of unit-string shapes must agree
    with the python model everywhere (incl. edge cases: bare names,
    decimals, unknown units, padded whitespace)."""
    from pyspark.sql import functions as F

    from market_flow_spark.functions.units import parse_unit_name

    units = ["KG", "kg", "G", "MT", "lbs", "lb", "ML", "L", "Pound", "Unit",
             "Dozen", "Head"]
    names = [u for u in units]
    names += [f"{q} {u}" for q in ("1", "90", "2.5", "0.75", "1000") for u in units]
    names += [f"  {n}  " for n in names[:20]]  # padded variants

    df = spark.createDataFrame([(n,) for n in names], "name string")
    uv, ut, kg = parse_unit_name(F.col("name"))
    got = {r.name: r.kg for r in df.select("name", kg.alias("kg")).collect()}

    for n in names:
        expected = _py_parse_unit(n)
        if expected is None:
            assert got[n] is None, n
        else:
            assert got[n] is not None and math.isclose(
                got[n], expected, rel_tol=1e-12
            ), n


def test_lb_factor_matches_reference():
    assert LB_TO_KG == 0.453592  # stg_cleaned_units.sql conversion constant


@settings(max_examples=300, deadline=None)
@given(st.text(min_size=0, max_size=40))
def test_normalize_column_name_invariants(raw):
    out = normalize_column_name(raw)
    assert out  # never empty
    assert out == out.lower()
    assert " " not in out
    assert not out[0].isdigit()
    # idempotent
    assert normalize_column_name(out) == out


@given(
    sz=st.integers(min_value=0, max_value=2_000_000),
    t=st.floats(min_value=0.01, max_value=0.999),
)
@settings(max_examples=500)
def test_prefix_threshold_integer_arithmetic_exact(sz, t):
    """The prefix filter's rational num/den must (a) sit at or below the
    lowest Jaccard the verifier keeps — det_round(J, 4) >= t admits J down
    to t - 5e-5 — and (b) make the BIGINT ceil formula agree with exact
    Fraction arithmetic for any set size — the two invariants that
    guarantee no qualifying pair is ever dropped by a one-short prefix
    (and that sz*num stays in int64 range)."""
    from fractions import Fraction

    from market_flow_spark.extensions.dedup import _threshold_ratio

    num, den = _threshold_ratio(t)
    # Fraction(float) is exact
    assert Fraction(num, den) <= Fraction(t) - Fraction(5, 100_000)
    ceil_int = -((-sz * num) // den)  # the SQL formula, python-mirrored
    assert ceil_int == math.ceil(Fraction(sz) * Fraction(num, den))
    assert sz * num < 2**63


@given(sums=st.lists(st.integers(-5, 5), min_size=64, max_size=64))
@settings(max_examples=200)
def test_simhash_twos_complement_assembly(sums):
    """The signed-BIGINT simhash assembly (sign term for bit 63 + 2^i for
    the rest) must reproduce the two's-complement value of the bit vector
    (majority per bit) for any per-bit sums."""
    bits = [1 if s > 0 else 0 for s in sums]
    assembled = (-(2**63) if bits[63] else 0) + sum(
        2**i for i in range(63) if bits[i]
    )
    unsigned = sum(2**i for i in range(64) if bits[i])
    expected = unsigned - 2**64 if bits[63] else unsigned
    assert assembled == expected
    assert -(2**63) <= assembled < 2**63


def test_winnow_guarantee_property(spark):
    """MOSS winnowing guarantee, property-tested: two texts sharing ANY
    substring of length >= k + window - 1 (after normalization) must share
    at least one winnowed fingerprint."""
    import random

    from pyspark.sql import functions as F

    from market_flow_spark.extensions.dedup import winnow_fingerprints

    k, w = 8, 4
    need = k + w - 1  # guaranteed-shared substring length
    rng = random.Random(1234)
    alphabet = "abcdefghij "
    cases = []
    for i in range(12):
        shared = "".join(rng.choice("abcdefghij") for _ in range(need + rng.randrange(6)))
        left = "".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 40))) + shared
        right = shared + "".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 40)))
        cases.append((2 * i, left, 2 * i + 1, right))
    docs = spark.createDataFrame(
        [(a, lt) for a, lt, _, _ in cases] + [(b, rt) for _, _, b, rt in cases],
        "doc_id long, text string",
    )
    fps = winnow_fingerprints(docs, k=k, window=w)
    by_doc: dict[int, set] = {}
    for r in fps.collect():
        by_doc.setdefault(r.doc_id, set()).add(r.fp)
    for a, _, b, _ in cases:
        assert by_doc[a] & by_doc[b], f"docs {a},{b} share no fingerprint"


def test_dedup_clusters_empty_and_self_pairs(spark):
    from market_flow_spark.extensions.dedup import dedup_keep_list

    docs = spark.createDataFrame([(i,) for i in range(5)], "doc_id long")
    empty = spark.createDataFrame([], "doc1 long, doc2 long")
    out = dedup_keep_list(docs, empty).collect()
    assert len(out) == 5 and all(r.keep and r.cluster_id == r.doc_id for r in out)


def test_fuzzy_lev1_random_strings_match_brute_force(spark):
    """One Spark job over a deterministic random pool of short strings:
    the deletion-neighborhood join must equal the brute-force distance
    filter exactly (completeness AND soundness)."""
    import random
    from itertools import combinations

    from market_flow_spark.extensions.dedup import fuzzy_pairs_lev1

    rng = random.Random(7)
    alphabet = "abc"  # tiny alphabet => dense distance-1 neighborhoods
    pool = [
        (i, "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 6))))
        for i in range(120)
    ]

    def lev(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[len(b)]

    want = sorted(
        (i1, i2)
        for (i1, s1), (i2, s2) in combinations(pool, 2)
        if lev(s1, s2) <= 1
    )
    df = spark.createDataFrame(pool, "id bigint, name string")
    got = sorted(
        (r["id1"], r["id2"])
        for r in fuzzy_pairs_lev1(df, "id", "name").collect()
    )
    assert got == want
    assert len(want) > 100  # the pool genuinely exercises dense matches


def test_bloom_no_false_negatives_random_membership(spark):
    """Random member/probe mix: every true member must survive the prune
    regardless of filter size (down to heavily-saturated 256-bit filters)."""
    from pyspark.sql import functions as F

    from market_flow_spark.extensions import sketches

    for n_bits in (1 << 8, 1 << 12):
        members = spark.range(0, 300).select(
            F.md5(F.col("id").cast("string")).alias("k")
        )
        words = sketches.bloom_words(
            sketches.bloom_build(members, "k", n_bits, 3), n_bits
        )
        kept = sketches.bloom_prune(members, "k", words, n_bits, 3)
        assert kept.count() == 300, f"false negative at n_bits={n_bits}"


def test_ngram_novelty_hand_computed(spark):
    """corpus.ngram_novelty: doc 0 owns all its 3-grams; doc 1 repeats
    doc 0's text verbatim (novelty 0); doc 2 is half-stitched from doc 0
    (the recombination signal no pairwise tier flags); doc 3 is too
    short to shingle (0 grams, NULL novelty)."""
    from market_flow_spark.extensions.corpus import ngram_novelty

    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta"),        # grams: a-b-g, b-g-d
            (1, "alpha beta gamma delta"),        # all seen in doc 0
            (2, "alpha beta gamma zeta eta"),     # a-b-g seen; b-g-z, g-z-e new
            (3, "too short"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_grams"], r["n_novel"], r["novelty"])
        for r in ngram_novelty(docs, n=3).collect()
    }
    assert got[0] == (2, 2, 1.0)
    assert got[1] == (2, 0, 0.0)
    assert got[2][:2] == (3, 2)
    assert abs(got[2][2] - 0.666667) < 1e-9
    assert got[3] == (0, 0, None)
