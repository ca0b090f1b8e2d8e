"""Extension query registry: text analysis, dedup, similarity search,
multimodal, forecast, and time-window queries — each registered with a
DuckDB oracle (generated programmatically where the SQL is repetitive, e.g.
16 minhash columns), except where noted rows-only.

Shares the determinism conventions of queries.py (decimal sums +
floor-rounding, explicit casts, total-order tiebreakers).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from market_flow_spark.extensions import (
    classify,
    dedup,
    multimodal,
    similarity,
    sketches,
    text,
    web,
)
from market_flow_spark.operators import analytics as an
from market_flow_spark.operators import star, temporal
from market_flow_spark.operators.forecast import linear_forecast
from market_flow_spark.queries import register, spread_sales
from market_flow_spark.sources.layout import spread_to_cores
from market_flow_spark.streaming import windows as W
from market_flow_spark.tables import load_tables

# ---------------------------------------------------------------------------
# Shared SQL fragments
# ---------------------------------------------------------------------------

# word <> '' mirrors dedup.doc_shingle_arrays dropping the [""] artifact
# that splitting NULL/empty/whitespace-only text produces — null docs have
# empty word sets on both engines instead of pairing with each other.
WORDS_SQL = (
    "SELECT DISTINCT doc_id, word FROM ("
    "SELECT doc_id, "
    "unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS word "
    "FROM documents) WHERE word <> ''"
)

# 3-gram shingles (1-based list indexing in DuckDB; mirrors
# dedup.doc_shingles which uses 0-based Spark indexing)
SHINGLES_SQL = """
SELECT DISTINCT doc_id,
  unnest(CASE WHEN len(toks) >= 3 THEN
    list_transform(range(1, len(toks) - 1),
      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
    ELSE [] END) AS word
FROM (SELECT doc_id,
             regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
      FROM documents)
"""


def _floor_round_sql(expr: str, ndigits: int) -> str:
    scale = float(10**ndigits)
    return f"FLOOR(({expr}) * {scale} + 0.5) / {scale}"


def _in_list(words: list[str]) -> str:
    return ", ".join(f"'{w}'" for w in words)


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------



def _text_profile_oracle() -> str:
    langs = list(text.LANG_MARKERS)
    score_cols = ",\n    ".join(
        f"CAST(len(list_filter(toks, x -> x IN ({_in_list(ws)}))) AS INT)"
        f" AS score_{lang}"
        for lang, ws in text.LANG_MARKERS.items()
    )
    cases = []
    for lang in langs:
        conds = " AND ".join(
            f"score_{lang} >= score_{o}" for o in langs if o != lang
        )
        cases.append(f"WHEN {conds} THEN '{lang}'")
    case_sql = "CASE " + " ".join(cases) + f" ELSE '{langs[0]}' END"
    score_list = ", ".join(f"score_{lang}" for lang in langs)
    return f"""
WITH t AS (
  SELECT doc_id, text, regexp_split_to_array(trim(text), '\\s+') AS toks
  FROM documents
),
b AS (
  SELECT doc_id, toks,
    CAST(length(text) AS INT) AS n_chars,
    CAST(len(toks) AS INT) AS n_tokens,
    CAST(len(list_filter(toks, x -> x IN ({_in_list(text.STOPWORDS)}))) AS INT)
      AS n_stop,
    CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS INT) AS n_nonspace
  FROM t
),
c AS (
  SELECT doc_id, toks, n_chars, n_tokens,
    {_floor_round_sql("n_nonspace / n_tokens", 4)} AS avg_token_len,
    {_floor_round_sql("n_stop / n_tokens", 4)} AS stopword_ratio,
    CAST(CEIL(n_chars / 4.0) AS BIGINT) AS approx_bpe_tokens
  FROM b
),
s AS (
  SELECT doc_id, n_chars, n_tokens, avg_token_len, stopword_ratio,
    approx_bpe_tokens,
    {_floor_round_sql(
        "(CASE WHEN n_tokens BETWEEN 5 AND 10000 THEN 0.5 ELSE 0.0 END)"
        " + (CASE WHEN avg_token_len BETWEEN 2 AND 12 THEN 0.5 ELSE 0.0 END)",
        2,
    )} AS quality_score,
    {score_cols}
  FROM c
)
SELECT doc_id, n_chars, n_tokens, avg_token_len, stopword_ratio,
       approx_bpe_tokens, quality_score, {score_list},
       {case_sql} AS predicted_lang
FROM s
"""


@register("text_profile", _text_profile_oracle())
def q_text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text quality stats + language ID in one scan (the text_stats and
    lang_id library ops remain available separately; the profile computes
    both column sets in a single projection so the driver check covers
    both without a second pass over the corpus)."""
    return text.text_profile(load_tables(spark, sf_dir)["documents"])


def _corpus_prefilter_oracle(min_quality: float = 1.0) -> str:
    langs = list(text.LANG_MARKERS)
    score_cols = ",\n    ".join(
        f"CAST(len(list_filter(toks, x -> x IN ({_in_list(ws)}))) AS INT)"
        f" AS score_{lang}"
        for lang, ws in text.LANG_MARKERS.items()
    )
    cases = []
    for lang in langs:
        conds = " AND ".join(
            f"score_{lang} >= score_{o}" for o in langs if o != lang
        )
        cases.append(f"WHEN {conds} THEN '{lang}'")
    case_sql = "CASE " + " ".join(cases) + f" ELSE '{langs[0]}' END"
    return f"""
WITH t AS (
  SELECT doc_id, text, regexp_split_to_array(trim(text), '\\s+') AS toks
  FROM documents
),
b AS (
  SELECT doc_id, text, toks,
    CAST(len(toks) AS INT) AS n_tokens,
    CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS INT) AS n_nonspace
  FROM t
),
c AS (
  SELECT doc_id, text, toks, n_tokens,
    {_floor_round_sql("n_nonspace / n_tokens", 4)} AS avg_token_len
  FROM b
),
q AS (
  SELECT doc_id, text, toks, n_tokens,
    {_floor_round_sql(
        "(CASE WHEN n_tokens BETWEEN 5 AND 10000 THEN 0.5 ELSE 0.0 END)"
        " + (CASE WHEN avg_token_len BETWEEN 2 AND 12 THEN 0.5 ELSE 0.0 END)",
        2,
    )} AS quality_score
  FROM c
),
s AS (
  SELECT doc_id, text, n_tokens, quality_score,
    {score_cols}
  FROM q
  WHERE quality_score >= {min_quality}
),
p AS (
  SELECT doc_id, n_tokens, quality_score,
         {case_sql} AS predicted_lang,
         md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
  FROM s
)
SELECT doc_id, predicted_lang, n_tokens, quality_score
FROM (SELECT *, MIN(doc_id) OVER (PARTITION BY fp) AS min_id FROM p)
WHERE doc_id = min_id
"""


@register("corpus_prefilter", _corpus_prefilter_oracle())
def q_corpus_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.corpus_prefilter(load_tables(spark, sf_dir)["documents"])


def _ngram_novelty_oracle() -> str:
    """Twin of corpus.ngram_novelty over the shared 3-gram fragment."""
    score = _floor_round_sql("CAST(p.n_novel AS DOUBLE) / p.n_grams", 6)
    return f"""
WITH g AS ({SHINGLES_SQL}),
own AS (SELECT word, MIN(doc_id) AS owner FROM g GROUP BY word),
p AS (
  SELECT g.doc_id, COUNT(*) AS n_grams,
         SUM(CASE WHEN o.owner = g.doc_id THEN 1 ELSE 0 END) AS n_novel
  FROM g JOIN own o ON g.word = o.word
  GROUP BY g.doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(p.n_grams, 0) AS BIGINT) AS n_grams,
       CAST(COALESCE(p.n_novel, 0) AS BIGINT) AS n_novel,
       CASE WHEN p.n_grams IS NOT NULL THEN {score} END AS novelty
FROM documents d LEFT JOIN p ON d.doc_id = p.doc_id
"""


@register("ngram_novelty", _ngram_novelty_oracle())
def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty (round 12): the share of a doc's
    distinct 3-grams first seen (min doc_id = ingest order) in that doc —
    the curation signal for template recombination / spun content that
    no pairwise dedup tier flags because no single source is similar
    enough. One n-gram hash aggregate + join-back on the same key +
    per-doc aggregate; exact, no sampling."""
    from market_flow_spark.extensions import corpus

    docs = load_tables(spark, sf_dir)["documents"]
    return corpus.ngram_novelty(docs, n=3)


# ---------------------------------------------------------------------------
# Dedup
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    """
WITH n AS (
  SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm
  FROM documents
),
f AS (
  SELECT doc_id, md5(norm) AS fingerprint,
         CAST(FLOOR(length(norm) / 64) AS BIGINT) * 64 AS length_band
  FROM n
)
SELECT doc_id, fingerprint, length_band,
       MIN(doc_id) OVER (PARTITION BY fingerprint) AS keep_doc_id,
       COUNT(*) OVER (PARTITION BY fingerprint) AS dup_count
FROM f
""",
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup at per-document grain: md5 fingerprint + length band
    (the doc-fingerprint pre-filter) annotated with each fingerprint
    group's keeper and size. The grouped form (`dedup.exact_dedup`) remains
    the library op; this view keeps the fingerprint columns themselves
    under the driver's hash check."""
    return dedup.exact_dedup_annotated(load_tables(spark, sf_dir)["documents"])


_JACCARD_TAIL_SQL = f"""
sizes AS (SELECT doc_id, COUNT(*) AS n FROM words GROUP BY 1),
common AS (
  SELECT p.doc1, p.doc2, COUNT(*) AS common
  FROM pairs p
  JOIN words w1 ON w1.doc_id = p.doc1
  JOIN words w2 ON w2.doc_id = p.doc2 AND w2.word = w1.word
  GROUP BY 1, 2
),
j AS (
  SELECT c.doc1, c.doc2,
         {_floor_round_sql("c.common / (s1.n + s2.n - c.common)", 4)} AS jaccard
  FROM common c
  JOIN sizes s1 ON s1.doc_id = c.doc1
  JOIN sizes s2 ON s2.doc_id = c.doc2
)
"""


@register(
    "dedup_word_jaccard",
    f"""
WITH words AS ({WORDS_SQL}),
pairs AS (
  SELECT DISTINCT w1.doc_id AS doc1, w2.doc_id AS doc2
  FROM words w1 JOIN words w2 ON w1.word = w2.word AND w1.doc_id < w2.doc_id
),
{_JACCARD_TAIL_SQL}
SELECT doc1, doc2, jaccard FROM j WHERE jaccard >= 0.7
""",
)
def q_dedup_word_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.word_jaccard_pairs(
        load_tables(spark, sf_dir)["documents"], threshold=0.7
    )


@register(
    "dedup_ngram_jaccard",
    f"""
WITH words AS ({SHINGLES_SQL}),
pairs AS (
  SELECT DISTINCT w1.doc_id AS doc1, w2.doc_id AS doc2
  FROM words w1 JOIN words w2 ON w1.word = w2.word AND w1.doc_id < w2.doc_id
),
{_JACCARD_TAIL_SQL}
SELECT doc1, doc2, jaccard FROM j WHERE jaccard >= 0.8
""",
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_jaccard_pairs(
        load_tables(spark, sf_dir)["documents"], threshold=0.8
    )


def _minhash_oracle(
    words_sql: str | None = None,
    threshold: float = 0.8,
    band_cap: int | None = None,
) -> str:
    """DuckDB twin of ``dedup.minhash_lsh_pairs`` — parameterized by the
    feature grain (3-gram shingles by default; ``WORDS_SQL`` reproduces the
    ``shingle_n=1`` routed tier), the exact-verify threshold, and the
    degenerate-bucket guard (``band_cap`` twins ``max_band_size``: band
    buckets holding more docs are dropped before the candidate join). Every
    stage is bit-reproducible: md5-derived uint32s, the same BIGINT
    multiply-add minhash literals, band hashes, the ≥8/16 signature
    screen, then exact Jaccard on candidates."""
    n, bands = dedup.NUM_MINHASHES, dedup.LSH_BANDS
    rows = n // bands
    min_matches = n // 2
    p = dedup.MINHASH_PRIME
    words_sql = SHINGLES_SQL if words_sql is None else words_sql
    if band_cap is None:
        cand_src = "bands"
        cap_cte = ""
    else:
        cap_cte = f"""
bands_kept AS (
  SELECT b.* FROM bands b
  JOIN (SELECT band_idx, band_hash FROM bands
        GROUP BY 1, 2 HAVING COUNT(*) <= {band_cap}) ok
  USING (band_idx, band_hash)
),"""
        cand_src = "bands_kept"
    mh_cols = ",\n    ".join(
        f"min((h32 * {a} + {b}) % {p}) AS mh{i}"
        for i, (a, b) in enumerate(dedup.MINHASH_PARAMS[:n])
    )
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band_idx, md5({concat}) AS band_hash FROM mh".format(
            b=b,
            concat=" || '-' || ".join(
                f"CAST(mh{b * rows + r} AS VARCHAR)" for r in range(rows)
            ),
        )
        for b in range(bands)
    )
    sig_matches = " + ".join(
        f"(CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END)" for i in range(n)
    )
    return f"""
WITH words AS ({words_sql}),
hashed AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(word), 1, 8)) AS BIGINT) AS h32
  FROM words
),
mh AS (
  SELECT doc_id,
    {mh_cols}
  FROM hashed GROUP BY doc_id
),
bands AS ({band_selects}),{cap_cte}
cand AS (
  SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
  FROM {cand_src} a
  JOIN {cand_src} b ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
             AND a.doc_id < b.doc_id
),
pairs AS (
  SELECT c.doc1, c.doc2
  FROM cand c
  JOIN mh sa ON sa.doc_id = c.doc1
  JOIN mh sb ON sb.doc_id = c.doc2
  WHERE {sig_matches} >= {min_matches}
),
{_JACCARD_TAIL_SQL}
SELECT doc1, doc2, jaccard FROM j WHERE jaccard >= {threshold}
"""


@register("dedup_minhash_lsh", _minhash_oracle())
def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_lsh_pairs(
        load_tables(spark, sf_dir)["documents"], threshold=0.8
    )


@register(
    "dedup_word_jaccard_routed",
    _minhash_oracle(
        WORDS_SQL, threshold=0.7, band_cap=dedup.WORD_JACCARD_LSH_BAND_CAP
    ),
)
def q_dedup_word_jaccard_routed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The emission-routed shape of the unigram Jaccard tier (round-8
    verdict ask #2): MinHash-LSH candidate generation over word sets +
    exact word-Jaccard ≥ 0.7 verification of candidates only — what
    ``strategy='auto'`` returns when the sampled Σdf² emission estimate of
    the best exact shape exceeds ``WORD_JACCARD_MAX_EMISSION``. Runs with
    the degenerate-bucket guard ON (band buckets > 64 docs dropped —
    measured 28 s → ~1.5 s at sf0.1 on this heavy-sharing corpus; clusters
    that big are the exact-dedup tier's job). The oracle is a TRUE twin
    (DuckDB replays the md5 minhash, banding, bucket cap, and ≥8/16
    screen bit-for-bit), so the driver row certifies the routed physical
    shape itself, not a corpus-dependent recall claim."""
    return dedup.word_jaccard_pairs(
        load_tables(spark, sf_dir)["documents"],
        threshold=0.7,
        strategy="lsh_prefilter",
    )


# train/test split for the contamination demos: deterministic, disjoint,
# SQL-expressible — every 10th doc_id is the "evaluation" side.
_CONTAM_SPLIT = ("doc_id % 10 <> 0", "doc_id % 10 = 0")


def _minhash_incremental_oracle() -> str:
    """Cross-side variant of the MinHash oracle: signatures/bands are
    per-document, so computing them over the union and keeping only
    new×corpus band collisions reproduces the incremental operator."""
    n, bands = dedup.NUM_MINHASHES, dedup.LSH_BANDS
    rows = n // bands
    min_matches = n // 2
    p = dedup.MINHASH_PRIME
    mh_cols = ",\n    ".join(
        f"min((h32 * {a} + {b}) % {p}) AS mh{i}"
        for i, (a, b) in enumerate(dedup.MINHASH_PARAMS[:n])
    )
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band_idx, md5({concat}) AS band_hash FROM mh".format(
            b=b,
            concat=" || '-' || ".join(
                f"CAST(mh{b * rows + r} AS VARCHAR)" for r in range(rows)
            ),
        )
        for b in range(bands)
    )
    sig_matches = " + ".join(
        f"(CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END)" for i in range(n)
    )
    return f"""
WITH words AS ({SHINGLES_SQL}),
hashed AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(word), 1, 8)) AS BIGINT) AS h32
  FROM words
),
mh AS (
  SELECT doc_id,
    {mh_cols}
  FROM hashed GROUP BY doc_id
),
bands AS ({band_selects}),
cand AS (
  SELECT DISTINCT a.doc_id AS new_doc_id, b.doc_id AS corpus_doc_id
  FROM bands a
  JOIN bands b ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
  WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
),
pairs AS (
  SELECT c.new_doc_id, c.corpus_doc_id
  FROM cand c
  JOIN mh sa ON sa.doc_id = c.new_doc_id
  JOIN mh sb ON sb.doc_id = c.corpus_doc_id
  WHERE {sig_matches} >= {min_matches}
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM words GROUP BY 1),
common AS (
  SELECT p.new_doc_id, p.corpus_doc_id, COUNT(*) AS common
  FROM pairs p
  JOIN words w1 ON w1.doc_id = p.new_doc_id
  JOIN words w2 ON w2.doc_id = p.corpus_doc_id AND w2.word = w1.word
  GROUP BY 1, 2
),
j AS (
  SELECT c.new_doc_id, c.corpus_doc_id,
         {_floor_round_sql("c.common / (s1.n + s2.n - c.common)", 4)} AS jaccard
  FROM common c
  JOIN sizes s1 ON s1.doc_id = c.new_doc_id
  JOIN sizes s2 ON s2.doc_id = c.corpus_doc_id
)
SELECT new_doc_id, corpus_doc_id, jaccard FROM j WHERE jaccard >= 0.8
"""


@register("dedup_minhash_incremental", _minhash_incremental_oracle())
def q_dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup: the new batch (every 10th doc) band-joins
    the existing corpus's MinHash index — cost scales with the batch, not
    the corpus squared. Past-window (the MinHash machinery is in-window
    via dedup_minhash_lsh); equivalence to the union self-join's
    cross-side pairs is pinned in tests/test_extensions_plumbing.py."""
    docs = load_tables(spark, sf_dir)["documents"]
    return dedup.minhash_lsh_pairs_against(
        docs.filter(F.expr(_CONTAM_SPLIT[1])),
        docs.filter(F.expr(_CONTAM_SPLIT[0])),
        threshold=0.8,
    )


@register(
    "contamination_exact",
    f"""
WITH n AS (
  SELECT doc_id,
         md5(substring(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'),
             1, 80)) AS fingerprint
  FROM documents
),
tr AS (SELECT doc_id AS train_doc_id, fingerprint FROM n WHERE {_CONTAM_SPLIT[0]}),
te AS (SELECT doc_id AS test_doc_id, fingerprint FROM n WHERE {_CONTAM_SPLIT[1]})
SELECT te.test_doc_id, tr.train_doc_id, fingerprint FROM te JOIN tr USING (fingerprint)
""",
)
def q_contamination_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test overlap audit via 80-char prefix fingerprints (the
    synthetic corpus has no verbatim cross-split duplicates, so the demo
    registers the prefix-collision variant — real matches flow through the
    value check at every SF). Past-window: full oracle runs in pytest; the
    fingerprint equi-join operator family is in-window via dedup_exact."""
    docs = load_tables(spark, sf_dir)["documents"]
    return dedup.exact_contamination(
        docs.filter(F.expr(_CONTAM_SPLIT[0])),
        docs.filter(F.expr(_CONTAM_SPLIT[1])),
        prefix_len=80,
    )


@register(
    "contamination_ngram",
    f"""
WITH words AS ({SHINGLES_SQL}),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM words GROUP BY 1),
tw AS (SELECT * FROM words WHERE {_CONTAM_SPLIT[0]}),
pw AS (SELECT * FROM words WHERE {_CONTAM_SPLIT[1]}),
common AS (
  SELECT pw.doc_id AS test_doc_id, tw.doc_id AS train_doc_id, COUNT(*) AS common
  FROM pw JOIN tw USING (word)
  GROUP BY 1, 2
),
j AS (
  SELECT c.test_doc_id, c.train_doc_id,
         {_floor_round_sql("c.common / (s1.n + s2.n - c.common)", 4)} AS jaccard
  FROM common c
  JOIN sizes s1 ON s1.doc_id = c.test_doc_id
  JOIN sizes s2 ON s2.doc_id = c.train_doc_id
)
SELECT test_doc_id, train_doc_id, jaccard FROM j WHERE jaccard >= 0.8
""",
)
def q_contamination_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test near-dup contamination at shingle Jaccard ≥ 0.8
    (past-window; the prefix-filter machinery is in-window via
    dedup_ngram_jaccard)."""
    docs = load_tables(spark, sf_dir)["documents"]
    return dedup.ngram_contamination(
        docs.filter(F.expr(_CONTAM_SPLIT[0])),
        docs.filter(F.expr(_CONTAM_SPLIT[1])),
        threshold=0.8,
    )


def _simhash_sig_sql() -> str:
    bits = dedup.SIMHASH_BITS

    def bit_src(i: int) -> str:
        src, j = ("h1", i) if i < 32 else ("h2", i - 32)
        return f"(({src} >> {j}) & 1)"

    s_cols = ",\n    ".join(
        f"CAST(SUM(CASE WHEN {bit_src(i)} = 1 THEN 1 ELSE -1 END)"
        f" AS BIGINT) AS s{i}"
        for i in range(bits)
    )
    # two's-complement assembly: bit 63 is the sign term
    sign_term = (
        f"(CASE WHEN s{bits - 1} > 0"
        f" THEN CAST(-{2 ** (bits - 1) - 1} AS BIGINT) - 1 ELSE 0 END)"
    )
    bit_sum = sign_term + " + " + " + ".join(
        f"(CASE WHEN s{i} > 0 THEN {2**i} ELSE 0 END)" for i in range(bits - 1)
    )
    return f"""
WITH words AS ({WORDS_SQL}),
hh AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(word), 1, 8)) AS BIGINT) AS h1,
         CAST(('0x' || substr(md5(word), 9, 8)) AS BIGINT) AS h2
  FROM words
),
s AS (
  SELECT doc_id,
    {s_cols}
  FROM hh GROUP BY doc_id
)
SELECT doc_id, CAST({bit_sum} AS BIGINT) AS simhash FROM s
"""


@register("simhash_signatures", _simhash_sig_sql())
def q_simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash_signatures(load_tables(spark, sf_dir)["documents"])


@register(
    "simhash_pairs",
    f"""
WITH sig AS ({_simhash_sig_sql()}),
blocked AS (
  SELECT doc_id, simhash, t.block_idx,
         (simhash >> (16 * t.block_idx)) & 65535 AS block_val
  FROM sig CROSS JOIN (VALUES (0),(1),(2),(3)) t(block_idx)
)
SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM blocked a
JOIN blocked b ON a.block_idx = b.block_idx AND a.block_val = b.block_val
WHERE a.doc_id < b.doc_id AND bit_count(xor(a.simhash, b.simhash)) <= 3
""",
)
def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash_pairs(load_tables(spark, sf_dir)["documents"])


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------

_COSINE_SQL = (
    "list_sum(list_transform(list_zip({a}, {b}), "
    "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))"
)
# exact cosine at det-round 6 over the columns _cos_terms_sql selects
_ROUNDED_COS_SQL = _floor_round_sql("dot / (sqrt(nsq1) * sqrt(nsq2))", 6)


def _cos_terms_sql(a: str, b: str) -> str:
    """The ``dot, nsq1, nsq2`` select list of the exact-cosine twins, in
    the Spark side's sequential fold order."""
    return (
        f"{_COSINE_SQL.format(a=a, b=b)} AS dot, "
        f"{_COSINE_SQL.format(a=a, b=a)} AS nsq1, "
        f"{_COSINE_SQL.format(a=b, b=b)} AS nsq2"
    )


def _cosine_topk_oracle(n_queries: int = 5, k: int = 5) -> str:
    return f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qe FROM embeddings
  WHERE vec_id < {n_queries}
),
p AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         {_cos_terms_sql("e.embedding", "q.qe")}
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <> q.query_id
),
c AS (
  SELECT query_id, neighbor_id,
         {_ROUNDED_COS_SQL} AS cosine
  FROM p
),
r AS (
  SELECT *, CAST(row_number() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
  FROM c
)
SELECT query_id, neighbor_id, cosine, rank FROM r WHERE rank <= {k}
"""


@register("cosine_topk", _cosine_topk_oracle())
def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.cosine_topk(
        load_tables(spark, sf_dir)["embeddings"], n_queries=5, k=5
    )


def _ann_lsh_oracle(n_queries: int = 5, k: int = 3, n_bits: int = 8) -> str:
    bucket = " + ".join(
        f"(CASE WHEN embedding[{i + 1}] > 0 THEN {2**i} ELSE 0 END)"
        for i in range(n_bits)
    )
    return f"""
WITH wb AS (
  SELECT vec_id, embedding, CAST({bucket} AS INT) AS bucket FROM embeddings
),
q AS (
  SELECT vec_id AS query_id, embedding AS qe, bucket FROM wb
  WHERE vec_id < {n_queries}
),
p AS (
  SELECT q.query_id, e.vec_id AS neighbor_id, e.bucket,
         {_cos_terms_sql("e.embedding", "q.qe")}
  FROM wb e JOIN q USING (bucket)
  WHERE e.vec_id <> q.query_id
),
c AS (
  SELECT query_id, neighbor_id, bucket,
         {_ROUNDED_COS_SQL} AS cosine
  FROM p
),
r AS (
  SELECT *, CAST(row_number() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
  FROM c
)
SELECT query_id, neighbor_id, bucket, cosine, rank FROM r WHERE rank <= {k}
"""


@register("ann_lsh_topk", _ann_lsh_oracle())
def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.ann_lsh_topk(
        load_tables(spark, sf_dir)["embeddings"], n_queries=5, k=3
    )


def _ivf_hyperplane_oracle(
    n_queries: int = 5, k: int = 5, n_bits: int = 4, nprobe: int = 4
) -> str:
    cell = " + ".join(
        f"(CASE WHEN embedding[{i + 1}] > 0 THEN {2**i} ELSE 0 END)"
        for i in range(n_bits)
    )
    # exact hyperplane margin lower bound, same term order as the Spark side
    d2 = " + ".join(
        f"(CASE WHEN (CASE WHEN CAST(qe[{i + 1}] AS DOUBLE) > 0 THEN 1 ELSE 0 END)"
        f" <> CAST((c.cell // {2**i}) % 2 AS INT)"
        f" THEN CAST(qe[{i + 1}] AS DOUBLE) * CAST(qe[{i + 1}] AS DOUBLE)"
        f" ELSE 0.0 END)"
        for i in range(n_bits)
    )
    return f"""
WITH d AS (
  SELECT vec_id, embedding, CAST({cell} AS INT) AS cell FROM embeddings
),
q AS (
  SELECT vec_id AS query_id, embedding AS qe FROM d WHERE vec_id < {n_queries}
),
cells AS (SELECT CAST(range AS INT) AS cell FROM range({2**n_bits})),
qc AS (
  SELECT q.query_id, q.qe, c.cell, {d2} AS d2 FROM q CROSS JOIN cells c
),
probes AS (
  SELECT query_id, qe, cell FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY d2 ASC, cell) AS cell_rank
    FROM qc
  ) WHERE cell_rank <= {nprobe}
),
p AS (
  SELECT pr.query_id, e.vec_id AS neighbor_id, e.cell,
         {_cos_terms_sql("e.embedding", "pr.qe")}
  FROM d e JOIN probes pr USING (cell)
  WHERE e.vec_id <> pr.query_id
),
c AS (
  SELECT query_id, neighbor_id, cell,
         {_ROUNDED_COS_SQL} AS cosine
  FROM p
),
r AS (
  SELECT *, CAST(row_number() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
  FROM c
)
SELECT query_id, neighbor_id, cell, cosine, rank FROM r WHERE rank <= {k}
"""


@register("ivf_topk", _ivf_hyperplane_oracle())
def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver entry for the IVF family: the deterministic hyperplane
    quantizer variant — identical plan skeleton to the k-means IVF
    (assign cells → probe nprobe nearest → equi-join on cell) with every
    step SQL-expressible, so the whole operator is oracle-checked. The
    k-means-quantizer IVF (`similarity.ivf_topk`) remains the library op;
    tests/test_similarity_ivf.py pins its exactness within probed cells
    and recall vs brute force at two scale factors."""
    return similarity.ivf_hyperplane_topk(
        load_tables(spark, sf_dir)["embeddings"], n_queries=5, k=5
    )


# ---------------------------------------------------------------------------
# Multimodal plumbing (JVM-side slice; mapInPandas featurizer is pytest-only)
# ---------------------------------------------------------------------------


@register(
    "multimodal_bytes",
    """
SELECT doc_id,
       CAST(octet_length(CAST(text AS BLOB)) AS INT) AS byte_len,
       md5(text) AS content_md5,
       'text/plain' AS media_type
FROM documents
""",
)
def q_multimodal_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    assets = multimodal.to_binary_assets(load_tables(spark, sf_dir)["documents"])
    return assets.select(
        "doc_id", "byte_len", F.md5("content").alias("content_md5"), "media_type"
    )


@register("kmv_distinct_parts", sketches.kmv_oracle_sql("lineitem", "l_partkey"))
def q_kmv_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sketches.kmv_distinct(load_tables(spark, sf_dir)["lineitem"], "l_partkey")


@register(
    "multimodal_frames",
    # Byte-wise framing on the Spark side; the oracle slices VARCHAR, which
    # is byte-identical here because the test corpus is pure ASCII (verified:
    # octet_length(encode(text)) == length(text) for every row at every SF).
    f"""
SELECT doc_id,
       CAST(u AS INT) AS frame_idx,
       md5(substring(text, CAST(u * {multimodal.FRAME_BYTES} + 1 AS BIGINT),
                     {multimodal.FRAME_BYTES})) AS frame_md5
FROM (SELECT doc_id, text,
             unnest(range(0, length(text) // {multimodal.FRAME_BYTES}, 4)) AS u
      FROM documents)
""",
)
def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    assets = multimodal.to_binary_assets(load_tables(spark, sf_dir)["documents"])
    return multimodal.sample_frames(assets, every_k=4)


# ---------------------------------------------------------------------------
# Forecast (UD1: applyInPandas per-group model fit, integer-exact OLS)
# ---------------------------------------------------------------------------

_MONTHLY_SERIES_SQL = """
  SELECT p_brand AS brand,
         CAST(year(o_orderdate) AS INT) * 100 + CAST(month(o_orderdate) AS INT)
           AS mkey,
         FLOOR((CAST(SUM(CAST(l_extendedprice AS DECIMAL(27,6))) AS DOUBLE)
               / COUNT(l_extendedprice)) * 100.0 + 0.5) / 100.0 AS avg_price
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN part ON l_partkey = p_partkey
  GROUP BY 1, 2
"""


def _monthly_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    from market_flow_spark.functions.aggregates import det_avg

    # r12: the monthly-series join+agg is a heavy lineitem consumer that
    # missed the fact-side spread wave — the single-row-group scan left
    # the SMJ and the partial aggregation serial on one core
    t = spread_sales(load_tables(spark, sf_dir))
    return (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(
            F.col("p_brand").alias("brand"),
            (F.year("o_orderdate") * 100 + F.month("o_orderdate")).alias("mkey"),
        )
        .agg(det_avg("l_extendedprice").alias("avg_price"))
    )


@register(
    "linear_forecast",
    f"""
WITH m AS ({_MONTHLY_SERIES_SQL}),
i AS (
  SELECT brand, CAST(ROUND(avg_price * 100) AS BIGINT) AS yc,
         row_number() OVER (PARTITION BY brand ORDER BY mkey) - 1 AS t
  FROM m
),
s AS (
  SELECT brand, COUNT(*) AS n,
         CAST(SUM(t) AS BIGINT) AS sx, CAST(SUM(t * t) AS BIGINT) AS sx2,
         CAST(SUM(yc) AS BIGINT) AS sy, CAST(SUM(t * yc) AS BIGINT) AS sxy
  FROM i GROUP BY 1
),
f AS (
  SELECT brand, n,
    CASE WHEN n * sx2 - sx * sx = 0 THEN 0.0
         ELSE CAST(n * sxy - sx * sy AS DOUBLE)
              / CAST(n * sx2 - sx * sx AS DOUBLE) END AS slope_c
  FROM s
),
g AS (
  SELECT f.brand, f.n, f.slope_c,
         (CAST(s.sy AS DOUBLE) - f.slope_c * CAST(s.sx AS DOUBLE))
           / CAST(f.n AS DOUBLE) AS intercept_c
  FROM f JOIN s ON s.brand = f.brand
),
h AS (SELECT * FROM (VALUES (0),(1),(2),(3),(4),(5)) t(dt))
SELECT g.brand, CAST(g.n + h.dt AS INT) AS t,
       {_floor_round_sql(
           "(g.intercept_c + g.slope_c * CAST(g.n + h.dt AS DOUBLE)) / 100.0", 2
       )} AS yhat
FROM g CROSS JOIN h
""",
)
def q_linear_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    series = _monthly_series(spark, sf_dir)
    return linear_forecast(series, "brand", "mkey", "avg_price", horizon=6)


@register(
    "pivot_returnflag",
    """
SELECT CAST(year(o_orderdate) AS INT) AS year,
       FLOOR((CAST(SUM(CAST(CASE WHEN l_returnflag = 'A' THEN l_extendedprice END
                           AS DECIMAL(27,6))) AS DOUBLE)
             / COUNT(CASE WHEN l_returnflag = 'A' THEN l_extendedprice END))
             * 100.0 + 0.5) / 100.0 AS A,
       FLOOR((CAST(SUM(CAST(CASE WHEN l_returnflag = 'N' THEN l_extendedprice END
                           AS DECIMAL(27,6))) AS DOUBLE)
             / COUNT(CASE WHEN l_returnflag = 'N' THEN l_extendedprice END))
             * 100.0 + 0.5) / 100.0 AS N,
       FLOOR((CAST(SUM(CAST(CASE WHEN l_returnflag = 'R' THEN l_extendedprice END
                           AS DECIMAL(27,6))) AS DOUBLE)
             / COUNT(CASE WHEN l_returnflag = 'R' THEN l_extendedprice END))
             * 100.0 + 0.5) / 100.0 AS R
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1
""",
)
def q_pivot_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot to columnar form (the reference pivots FX series to
    (year,month)×currency before ffill, dag_impute_missing_currencies.py:
    29-46): avg price per year spread over return-flag columns. Explicit
    pivot values keep the schema static (no extra distinct-values job —
    the form that scales)."""
    from market_flow_spark.functions.aggregates import det_avg

    t = spread_sales(load_tables(spark, sf_dir))
    base = (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .select(F.year("o_orderdate").alias("year"), "l_returnflag", "l_extendedprice")
    )
    return (
        base.groupBy("year")
        .pivot("l_returnflag", ["A", "N", "R"])
        .agg(det_avg("l_extendedprice"))
    )


@register(
    "seasonal_forecast",
    f"""
WITH m AS ({_MONTHLY_SERIES_SQL}),
i AS (
  SELECT brand, mkey, CAST(mkey % 100 AS INT) AS month,
         CAST(ROUND(avg_price * 100) AS BIGINT) AS yc,
         row_number() OVER (PARTITION BY brand ORDER BY mkey) - 1 AS t
  FROM m
),
g AS (
  SELECT brand, month, CAST(COUNT(*) AS BIGINT) AS nm,
         CAST(MAX(mkey) AS INT) AS mx,
         CAST(SUM(t) AS BIGINT) AS st, CAST(SUM(t * t) AS BIGINT) AS st2,
         CAST(SUM(yc) AS BIGINT) AS syc, CAST(SUM(t * yc) AS BIGINT) AS styc
  FROM i GROUP BY 1, 2
),
s AS (
  SELECT brand, CAST(SUM(nm) AS BIGINT) AS n, CAST(MAX(mx) AS INT) AS last_mkey,
         CAST(SUM(st) AS BIGINT) AS sx, CAST(SUM(st2) AS BIGINT) AS sx2,
         CAST(SUM(syc) AS BIGINT) AS sy, CAST(SUM(styc) AS BIGINT) AS sxy
  FROM g GROUP BY 1
),
f AS (
  SELECT brand, n, last_mkey,
    CASE WHEN n * sx2 - sx * sx = 0 THEN 0.0
         ELSE CAST(n * sxy - sx * sy AS DOUBLE)
              / CAST(n * sx2 - sx * sx AS DOUBLE) END AS slope_c,
    (CAST(sy AS DOUBLE) - (CASE WHEN n * sx2 - sx * sx = 0 THEN 0.0
         ELSE CAST(n * sxy - sx * sy AS DOUBLE)
              / CAST(n * sx2 - sx * sx AS DOUBLE) END) * CAST(sx AS DOUBLE))
      / CAST(n AS DOUBLE) AS intercept_c
  FROM s
),
seas AS (
  SELECT g.brand, g.month,
         (CAST(g.syc AS DOUBLE) - f.intercept_c * CAST(g.nm AS DOUBLE)
          - f.slope_c * CAST(g.st AS DOUBLE)) / CAST(g.nm AS DOUBLE) AS sm
  FROM g JOIN f ON f.brand = g.brand
),
h AS (SELECT * FROM (VALUES (0),(1),(2),(3),(4),(5),
                            (6),(7),(8),(9),(10),(11)) t(dt)),
fut AS (
  SELECT f.brand, f.n, f.slope_c, f.intercept_c, h.dt,
         CAST(f.n + h.dt AS INT) AS t,
         CAST(((f.last_mkey % 100 - 1 + h.dt + 1) % 12) + 1 AS INT) AS month
  FROM f CROSS JOIN h
)
SELECT fut.brand, fut.t,
       {_floor_round_sql(
           "(fut.intercept_c + fut.slope_c * CAST(fut.t AS DOUBLE)"
           " + COALESCE(seas.sm, 0.0)) / 100.0", 2
       )} AS yhat
FROM fut LEFT JOIN seas ON seas.brand = fut.brand AND seas.month = fut.month
""",
)
def q_seasonal_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive seasonal model (trend + monthly offsets) — the SQL-exact
    cousin of the reference's Prophet yearly seasonality, built entirely
    from DataFrame ops: integer-cent OLS for the trend, per-calendar-month
    residual means for the seasonal component (computed algebraically from
    exact integer partial sums: mean(yc - a - b·t) = (Σyc - a·n - b·Σt)/n),
    12-month horizon continuing the series calendar.

    Single-lineage plan: the per-(brand, calendar-month) seasonal stats are
    folded into a ≤12-entry map on the single per-brand row, so the trend
    fit, the seasonal offsets, AND the horizon expansion all read the same
    aggregate — the fact table is scanned ONCE, construction is fully lazy,
    and nothing is persisted (the naive formulation re-derives the monthly
    series in three plan branches, which triples the 100 TB scan)."""
    from pyspark.sql import Window

    series = _monthly_series(spark, sf_dir)
    i = series.select(
        "brand",
        "mkey",
        (F.col("mkey") % 100).cast("int").alias("month"),
        F.round(F.col("avg_price") * 100).cast("long").alias("yc"),
        (
            F.row_number().over(Window.partitionBy("brand").orderBy("mkey")) - 1
        ).alias("t"),
    )
    g = i.groupBy("brand", "month").agg(
        F.count(F.lit(1)).alias("nm"),
        F.max("mkey").cast("int").alias("mx"),
        F.sum("t").alias("st"),
        F.sum(F.col("t") * F.col("t")).alias("st2"),
        F.sum("yc").alias("syc"),
        F.sum(F.col("t") * F.col("yc")).alias("styc"),
    )
    b = g.groupBy("brand").agg(
        F.sum("nm").alias("n"),
        F.max("mx").cast("int").alias("last_mkey"),
        F.sum("st").alias("sx"),
        F.sum("st2").alias("sx2"),
        F.sum("syc").alias("sy"),
        F.sum("styc").alias("sxy"),
        F.map_from_entries(
            F.collect_list(F.struct("month", F.struct("nm", "st", "syc")))
        ).alias("months"),
    )
    den = F.col("n") * F.col("sx2") - F.col("sx") * F.col("sx")
    slope = F.when(den == 0, F.lit(0.0)).otherwise(
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
        / den.cast("double")
    )
    f = b.select(
        "brand",
        "n",
        "last_mkey",
        "months",
        slope.alias("slope_c"),
        (
            (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
            / F.col("n").cast("double")
        ).alias("intercept_c"),
    )
    h = spark.range(12).select(F.col("id").cast("int").alias("dt"))
    fut = f.crossJoin(F.broadcast(h)).select(
        "brand",
        "slope_c",
        "intercept_c",
        "months",
        (F.col("n") + F.col("dt")).cast("int").alias("t"),
        (((F.col("last_mkey") % 100 - 1 + F.col("dt") + 1) % 12) + 1)
        .cast("int")
        .alias("month"),
    )
    from market_flow_spark.functions.aggregates import det_round

    e = F.col("months")[F.col("month")]  # null when the month never occurred
    sm = (
        F.col("syc").cast("double")
        - F.col("intercept_c") * F.col("nm").cast("double")
        - F.col("slope_c") * F.col("st").cast("double")
    ) / F.col("nm").cast("double")
    with_entry = fut.select(
        "brand", "t", "slope_c", "intercept_c",
        e["nm"].alias("nm"), e["st"].alias("st"), e["syc"].alias("syc"),
    )
    yhat = det_round(
        (
            F.col("intercept_c")
            + F.col("slope_c") * F.col("t").cast("double")
            + F.coalesce(sm, F.lit(0.0))
        )
        / 100.0,
        2,
    )
    return with_entry.select("brand", "t", yhat.alias("yhat"))


_BEST_MARKETS_SERIES_SQL = """
  SELECT c.c_mktsegment AS market,
         CAST(year(o.o_orderdate) AS INT) * 100
           + CAST(month(o.o_orderdate) AS INT) AS mkey,
         FLOOR((CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(27,6))) AS DOUBLE)
               / COUNT(l.l_extendedprice)) * 100.0 + 0.5) / 100.0 AS avg_price
  FROM lineitem l
  JOIN orders o   ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n   ON c.c_nationkey = n.n_nationkey
  JOIN part p     ON l.l_partkey = p.p_partkey
  WHERE n.n_name = 'NATION_1' AND p.p_name LIKE 'blue %'
  GROUP BY 1, 2
"""


@register(
    "best_markets",
    f"""
WITH m AS ({_BEST_MARKETS_SERIES_SQL}),
i AS (
  SELECT market, CAST(ROUND(avg_price * 100) AS BIGINT) AS yc,
         row_number() OVER (PARTITION BY market ORDER BY mkey) - 1 AS t
  FROM m
),
s AS (
  SELECT market, COUNT(*) AS n,
         CAST(SUM(t) AS BIGINT) AS sx, CAST(SUM(t * t) AS BIGINT) AS sx2,
         CAST(SUM(yc) AS BIGINT) AS sy, CAST(SUM(t * yc) AS BIGINT) AS sxy
  FROM i GROUP BY 1
),
g AS (
  SELECT s.market, s.n,
    CASE WHEN s.n * s.sx2 - s.sx * s.sx = 0 THEN 0.0
         ELSE CAST(s.n * s.sxy - s.sx * s.sy AS DOUBLE)
              / CAST(s.n * s.sx2 - s.sx * s.sx AS DOUBLE) END AS slope_c
  FROM s
),
gi AS (
  SELECT g.market, g.n, g.slope_c,
         (CAST(s.sy AS DOUBLE) - g.slope_c * CAST(s.sx AS DOUBLE))
           / CAST(g.n AS DOUBLE) AS intercept_c
  FROM g JOIN s ON s.market = g.market
),
h AS (SELECT * FROM (VALUES (0),(1),(2),(3),(4),(5)) t(dt)),
fc AS (
  SELECT gi.market,
         {_floor_round_sql(
             "(gi.intercept_c + gi.slope_c * CAST(gi.n + h.dt AS DOUBLE))"
             " / 100.0", 2
         )} AS yhat
  FROM gi CROSS JOIN h
)
SELECT market,
       {_floor_round_sql(
           "CAST(SUM(CAST(yhat AS DECIMAL(27,6))) AS DOUBLE) / COUNT(yhat)", 2
       )} AS forecast_score
FROM fc GROUP BY market
ORDER BY forecast_score ASC, market ASC
LIMIT 10
""",
)
def q_best_markets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's interactive 'best markets' flow end-to-end (SURVEY
    §3.3, server/pages/best_markets.py:9-29): slice by (country, product
    family) → per-market monthly series → per-market model fit/predict
    (applyInPandas replaces the ThreadPoolExecutor fan-out) → rank markets
    by mean forecast, cheapest first."""
    from market_flow_spark.functions.aggregates import det_avg

    t = load_tables(spark, sf_dir)
    series = (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .filter((F.col("n_name") == "NATION_1") & F.col("p_name").startswith("blue "))
        .groupBy(
            F.col("c_mktsegment").alias("market"),
            (F.year("o_orderdate") * 100 + F.month("o_orderdate")).alias("mkey"),
        )
        .agg(det_avg("l_extendedprice").alias("avg_price"))
    )
    fc = linear_forecast(series, "market", "mkey", "avg_price", horizon=6)
    scored = fc.groupBy("market").agg(det_avg("yhat").alias("forecast_score"))
    return scored.orderBy("forecast_score", "market").limit(10)


# ---------------------------------------------------------------------------
# Time windows (streaming-compatible shapes run in batch for the oracle)
# ---------------------------------------------------------------------------

_DET_AVG_VALUE_SQL = (
    "FLOOR((CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE)"
    " / COUNT(value)) * 100.0 + 0.5) / 100.0"
)


@register(
    "tumbling_hour_stats",
    f"""
SELECT date_trunc('hour', ts) AS window_start, event_type,
       COUNT(*) AS n_events, {_DET_AVG_VALUE_SQL} AS avg_value
FROM events GROUP BY 1, 2
""",
)
def q_tumbling_hour_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return W.tumbling_stats(load_tables(spark, sf_dir)["events"], "1 hour")


@register(
    "sliding_window_stats",
    f"""
WITH x AS (
  SELECT date_trunc('hour', ts) AS window_start, event_type, value FROM events
  UNION ALL
  SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR, event_type, value FROM events
)
SELECT window_start, event_type, COUNT(*) AS n_events,
       {_DET_AVG_VALUE_SQL} AS avg_value
FROM x GROUP BY 1, 2
""",
)
def q_sliding_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return W.sliding_stats(load_tables(spark, sf_dir)["events"], "2 hours", "1 hour")


@register(
    "country_name_cleaning",
    """
WITH messy AS (
  SELECT n_nationkey,
    CASE WHEN n_nationkey % 5 = 0 THEN 'Iran (Islamic Republic of)'
         WHEN n_nationkey % 5 = 1 THEN 'State of Palestine'
         WHEN n_nationkey % 5 = 2 THEN '  ' || n_name || '!! '
         WHEN n_nationkey % 5 = 3 THEN n_name || '   (region)'
         ELSE n_name END AS raw_name
  FROM nation
)
SELECT n_nationkey, raw_name,
  trim(regexp_replace(regexp_replace(
    CASE raw_name
      WHEN 'Iran (Islamic Republic of)' THEN 'Iran'
      WHEN 'State of Palestine' THEN 'Palestine'
      WHEN 'Bolivia (Plurinational State of)' THEN 'Bolivia'
      WHEN 'Venezuela (Bolivarian Republic of)' THEN 'Venezuela'
      ELSE raw_name END,
    '[^a-zA-Z0-9 ]', '', 'g'), '\\s+', ' ', 'g')) AS clean_name
FROM messy
""",
)
def q_country_name_cleaning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2+F4: the reference's signature cleaning op — country-name remap
    ladder + punctuation strip + whitespace collapse (stg_countries.sql:
    4-13,22-31), exercised over deliberately dirtied nation names so every
    branch fires."""
    from market_flow_spark.functions.cleaning import normalize_country_name

    na = load_tables(spark, sf_dir)["nation"]
    nk = F.col("n_nationkey")
    raw = (
        F.when(nk % 5 == 0, F.lit("Iran (Islamic Republic of)"))
        .when(nk % 5 == 1, F.lit("State of Palestine"))
        .when(nk % 5 == 2, F.concat(F.lit("  "), F.col("n_name"), F.lit("!! ")))
        .when(nk % 5 == 3, F.concat(F.col("n_name"), F.lit("   (region)")))
        .otherwise(F.col("n_name"))
    )
    messy = na.select("n_nationkey", raw.alias("raw_name"))
    return messy.select(
        "n_nationkey",
        "raw_name",
        normalize_country_name(F.col("raw_name")).alias("clean_name"),
    )


@register(
    "table_audit",
    """
WITH audit AS (
  SELECT COUNT(*) AS n_rows,
         MIN(o_orderdate) AS first_order,
         MAX(o_orderdate) AS last_order,
         COUNT(DISTINCT o_custkey) AS n_customers
  FROM orders
),
ds AS (
  SELECT COUNT(*) AS customer_rows,
         COUNT(DISTINCT c_custkey) AS n_c_custkey,
         COUNT(DISTINCT c_name) AS n_c_name,
         COUNT(DISTINCT c_nationkey) AS n_c_nationkey,
         COUNT(DISTINCT c_mktsegment) AS n_c_mktsegment,
         CAST(SUM(CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS nulls_c_acctbal
  FROM customer
),
ev_m AS (
  SELECT CAST(month(ts) AS INT) AS month,
         FLOOR((CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE)
              / COUNT(value)) * 100.0 + 0.5) / 100.0 AS avg_event_value
  FROM events GROUP BY 1
),
o AS (
  SELECT o_orderkey, CAST(month(o_orderdate) AS INT) AS month FROM orders
),
nulljoin AS (
  SELECT CAST(SUM(CASE WHEN e.avg_event_value IS NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS nulls_avg_event_value,
         COUNT(*) AS total_rows
  FROM o LEFT JOIN ev_m e USING (month)
)
SELECT * FROM audit CROSS JOIN ds CROSS JOIN nulljoin
""",
)
def q_table_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 + A9 + A10 in one driver-checkable audit panel: the
    load-verification stats (ingest_kaggle_data.py:182-187 logs COUNT(*) +
    MAX(audit col) after every load), the dataset-viewer's per-column
    nunique/null panel (dataset_viewer.py:37-52), and the null count after
    a LEFT join (the enrich-coverage check). Three single-row aggregates
    cross-joined — each side aggregates before joining, so the joins are
    1×1×1."""
    t = load_tables(spark, sf_dir)
    od = t["orders"]
    audit = od.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("o_orderdate").alias("first_order"),
        F.max("o_orderdate").alias("last_order"),
        F.countDistinct("o_custkey").alias("n_customers"),
    )
    ds = t["customer"].agg(
        F.count(F.lit(1)).alias("customer_rows"),
        F.countDistinct("c_custkey").alias("n_c_custkey"),
        F.countDistinct("c_name").alias("n_c_name"),
        F.countDistinct("c_nationkey").alias("n_c_nationkey"),
        F.countDistinct("c_mktsegment").alias("n_c_mktsegment"),
        F.sum(F.col("c_acctbal").isNull().cast("bigint")).alias("nulls_c_acctbal"),
    )
    ev_m = star.monthly_event_stats(t["events"]).select("month", "avg_event_value")
    o = od.select("o_orderkey", F.month("o_orderdate").alias("month"))
    joined = o.join(F.broadcast(ev_m), on="month", how="left")
    nulljoin = an.null_counts(joined, ["avg_event_value"])
    return audit.crossJoin(ds).crossJoin(nulljoin)


def _near_dup_oracle(n_bits: int = 8, threshold: float = 0.25) -> str:
    bucket = " + ".join(
        f"(CASE WHEN embedding[{i + 1}] > 0 THEN {2**i} ELSE 0 END)"
        for i in range(n_bits)
    )
    return f"""
WITH wb AS (
  SELECT vec_id, embedding, CAST({bucket} AS INT) AS bucket FROM embeddings
),
p AS (
  SELECT a.vec_id AS vec1, b.vec_id AS vec2,
         {_cos_terms_sql("a.embedding", "b.embedding")}
  FROM wb a JOIN wb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT vec1, vec2,
       {_ROUNDED_COS_SQL} AS cosine
FROM p
WHERE {_ROUNDED_COS_SQL} >= {threshold}
"""


@register("embedding_near_dup", _near_dup_oracle())
def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup tier of the dedup ladder: sign-bucket
    blocking (equi-join, never a cross join) then cosine ≥ threshold within
    buckets. The registered threshold is 0.25 — low for a real near-dup
    sweep, but the synthetic embeddings are uniform (max in-bucket cosine
    ≈ 0.49), and a production-grade 0.9 would make the checked result the
    empty set; 0.25 keeps tens-to-hundreds of pairs flowing through the
    driver's value-hash comparison at every SF."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    return similarity.embedding_neardup_pairs(emb, threshold=0.25, n_bits=8)


@register("embedding_near_dup_routed", _near_dup_oracle())
def q_embedding_near_dup_routed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The emission-routed shape of the embedding near-dup tier (round-8
    verdict ask #2, embedding mirror; escalation redirected round-11 per
    verdict ask #2): while the sampled Σ block-size² candidate estimate
    fits the cap this is the base 8-bit sign block; once it doesn't, the
    routed entry now executes the BANDED sign-LSH ladder instead of
    walking the block width up — the round-10 ×4-sf1 head-to-head
    (bench_escalation.json) measured bit-walking dominated on both axes
    (131/400 planted recall vs the banded ladder's 289/400 at equal
    emission). At every registered SF the estimate sits far under
    ``NEAR_DUP_MAX_EMISSION`` so the router provably stays on the base
    8-bit block (pinned by tests/test_steering.py, which also certifies
    the ESCALATED banded route against its parameterized DuckDB twin on
    a skewed synthetic corpus) — the driver row certifies the routed
    plumbing on real data; the escalation behavior is certified
    locally."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    return similarity.embedding_neardup_pairs_routed(emb, threshold=0.25)


def _banded_near_dup_oracle(
    n_bands: int = 4, band_bits: int = 16, threshold: float = 0.25
) -> str:
    """DuckDB twin of similarity.embedding_neardup_pairs_banded: one
    UNION-ALL arm per band building the same packed sign key over the
    same disjoint dim slice, band equi-join, DISTINCT id pairs, then the
    shared exact-cosine verify at det-round 6.

    Keys are BIGINT, mirroring the Spark side's shiftleft/OR packing so
    the twin stays valid at every ladder rung: an INT cast overflows at
    band_bits >= 32 under DuckDB's strict casts, and the 2⁶³ literal at
    band_bits = 64 is emitted pre-wrapped to Long.MIN_VALUE (bit 63 of a
    signed 64-bit key) — the identical two's-complement value Spark's
    ``1L << 63`` produces, so the packed keys match bit-for-bit."""

    def bit_weight(i: int) -> int:
        v = 1 << i
        return v - (1 << 64) if v >= 1 << 63 else v

    arms = []
    for j in range(n_bands):
        key = " | ".join(
            f"(CASE WHEN embedding[{j * band_bits + i + 1}] > 0 "
            f"THEN CAST({bit_weight(i)} AS BIGINT) "
            f"ELSE CAST(0 AS BIGINT) END)"
            for i in range(band_bits)
        )
        arms.append(
            f"SELECT vec_id, {j} AS band, ({key}) AS bkey "
            "FROM embeddings"
        )
    keys = " UNION ALL ".join(arms)
    return f"""
WITH keys AS ({keys}),
cand AS (
  SELECT DISTINCT a.vec_id AS vec1, b.vec_id AS vec2
  FROM keys a JOIN keys b
    ON a.band = b.band AND a.bkey = b.bkey AND a.vec_id < b.vec_id
),
p AS (
  SELECT c.vec1, c.vec2,
         {_cos_terms_sql("e1.embedding", "e2.embedding")}
  FROM cand c
  JOIN embeddings e1 ON c.vec1 = e1.vec_id
  JOIN embeddings e2 ON c.vec2 = e2.vec_id
)
SELECT vec1, vec2,
       {_ROUNDED_COS_SQL} AS cosine
FROM p
WHERE {_ROUNDED_COS_SQL} >= {threshold}
"""


@register(
    "embedding_near_dup_banded", _banded_near_dup_oracle(band_bits=10)
)
def q_embedding_near_dup_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BANDED sign-LSH shape of the embedding near-dup tier (round-10:
    the recall-repair for the escalation regime bench_escalation.json
    measured): candidate iff all sign bits of ≥ 1 of 4 disjoint dim
    slices agree, then exact cosine ≥ 0.25 verify. At the scale defaults
    (4 × 16 bits) the expected emission equals a single 14-bit block's
    (4·N²/2¹⁶ = N²/2¹⁴) with 1-(1-p¹⁶)⁴ recall instead of p¹⁴ — see
    bench_escalation.json for the measured ×4-sf1 head-to-head.
    Registered at band_bits=10 for the same reason embedding_near_dup
    registers threshold 0.25: the synthetic embeddings are near-uniform,
    and the 16-bit width leaves ~1 pair at sf0.01 — 10 bits keeps tens
    of rows flowing through the driver's value-hash comparison while
    certifying the identical banded plumbing. Candidates carry only
    (band, key, id) ints; the dim-64 payloads join in after
    DISTINCT-pair dedup."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    return similarity.embedding_neardup_pairs_banded(
        emb, threshold=0.25, band_bits=10
    )


@register(
    "embedding_near_dup_banded_routed", _banded_near_dup_oracle(band_bits=10)
)
def q_embedding_near_dup_banded_routed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The banded tier behind its emission-aware LAYOUT chooser
    (``choose_banded_layout`` — the banded mirror of the single-block
    width chooser): from the (4, 10) entry the ladder walks to fewer,
    wider bands ((3, 21) → (2, 32) → (1, 64)) until the sampled
    Σ-over-bands bucket-size² estimate fits the 2e6 cap. At every
    registered SF the estimate sits far under the cap so the chooser
    provably keeps the entry layout (pinned by
    tests/test_steering.py::test_choose_banded_layout_stays_base_on_testdata,
    which also certifies an ESCALATED layout against a DuckDB twin on a
    degenerate-band corpus) — the driver row certifies the routed
    plumbing on real data; the escalation behavior is certified
    locally."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    return similarity.embedding_neardup_pairs_banded_routed(
        emb, threshold=0.25, n_bands=4, band_bits=10
    )


@register(
    "forecast_horizon",
    """
WITH last_obs AS (
  SELECT p_brand AS brand,
         MAX(make_date(CAST(year(o_orderdate) AS INT),
                       CAST(month(o_orderdate) AS INT), 1)) AS last_month
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN part ON l_partkey = p_partkey
  GROUP BY 1
)
SELECT brand, last_month,
       CAST(GREATEST(365, date_diff('day', last_month, DATE '2002-01-01')
                          + 365) AS INT) AS periods
FROM last_obs
""",
)
def q_forecast_horizon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UD2: forecast-horizon calc (forecast_utils.py:37-42) —
    `(today - max(ds)).days + 365`, floored at 365. `today` is pinned to a
    fixed reference date so the result is reproducible."""
    t = load_tables(spark, sf_dir)
    last_obs = (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.max(
                F.make_date(F.year("o_orderdate"), F.month("o_orderdate"), F.lit(1))
            ).alias("last_month")
        )
    )
    periods = F.greatest(
        F.lit(365),
        F.datediff(F.lit("2002-01-01").cast("date"), F.col("last_month")) + 365,
    )
    return last_obs.select(
        "brand", "last_month", periods.cast("int").alias("periods")
    )


@register(
    "session_windows",
    """
WITH l AS (
  SELECT user_id, ts,
    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
              < INTERVAL 5 MINUTE THEN 0 ELSE 1 END AS new_sess
  FROM events
),
s AS (
  SELECT user_id, ts,
    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM l
)
SELECT MIN(ts) AS session_start, user_id,
       COUNT(*) AS n_events, MAX(ts) AS last_event
FROM s GROUP BY user_id, sess_id
""",
)
def q_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    return W.session_stats(load_tables(spark, sf_dir)["events"], "5 minutes")


@register(
    "user_sessions_core",
    """
WITH l AS (
  SELECT user_id, ts,
    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
              <= INTERVAL 5 MINUTE THEN 0 ELSE 1 END AS new_sess
  FROM events
),
s AS (
  SELECT user_id, ts,
    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM l
)
SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
       COUNT(*) AS n_events
FROM s GROUP BY user_id, sess_id
""",
)
def q_user_sessions_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap sessionization through the EXACT core both stateful streaming
    operators share (streaming/stateful.py _sessionize_batch): batch mode
    is the fully-drained stream, so every session is final. Exists to put
    a driver-certifiable rows+schema+hash row on the streaming session
    algebra, which the Spark-4 tws wiring cannot earn in this sandbox
    (protobuf absent — see PLANS.md). Note the oracle's `<=` gap test:
    the core keeps an event in the session when it lands EXACTLY gap
    after the current end (np.diff > gap starts a new one), unlike
    session_windows' strict-< native semantics. total_value (a float sum)
    is computed by the operator but deliberately not certified — per-
    session double sums are ordering-sensitive across engines."""
    from market_flow_spark.streaming.stateful import batch_user_sessions

    return batch_user_sessions(
        load_tables(spark, sf_dir)["events"], "5 minutes"
    ).select("user_id", "session_start", "session_end", "n_events")


# ---------------------------------------------------------------------------
# Temporal joins the reference lacks: as-of join, binned range join
# (operators/temporal.py), plus ROLLUP/CUBE hierarchical aggregation
# ---------------------------------------------------------------------------

@register(
    "asof_last_view",
    """
SELECT l.event_id, l.user_id, l.value AS click_value,
       r.value AS view_value_asof
FROM (SELECT * FROM events WHERE event_type = 'click') l
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') r
  ON l.user_id = r.user_id AND l.ts >= r.ts
""",
)
def q_asof_last_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each click event picks up the value of the same user's
    most recent view event at-or-before it (NULL if none yet). Spark has no
    ASOF join type; temporal.asof_join does it with one keyed shuffle +
    window — no range self-join, no per-key collect."""
    ev = load_tables(spark, sf_dir)["events"]
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "value"
    )
    out = temporal.asof_join(
        clicks, views, on=["user_id"], left_ts="ts", right_ts="ts",
        values=["value"],
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("value").alias("click_value"),
        F.col("value_asof").alias("view_value_asof"),
    )


@register(
    "range_join_nearby",
    f"""
WITH e AS (
  SELECT event_id, user_id, epoch_us(ts) AS us
  FROM events WHERE event_type = 'error'
),
c AS (
  SELECT user_id, epoch_us(ts) AS us, value
  FROM events WHERE event_type = 'click'
),
p AS (
  SELECT e.event_id, c.value
  FROM e JOIN c
    ON c.user_id = e.user_id AND abs(e.us - c.us) <= 300000000
),
a AS (
  SELECT event_id, CAST(COUNT(*) AS BIGINT) AS n_clicks,
         {_floor_round_sql(
             "CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE)"
             " / COUNT(value)", 2)} AS avg_click_value
  FROM p GROUP BY 1
)
SELECT e.event_id, e.user_id,
       COALESCE(a.n_clicks, 0) AS n_clicks, a.avg_click_value
FROM e LEFT JOIN a ON a.event_id = e.event_id
""",
)
def q_range_join_nearby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: for each error event, the count and mean value of the
    same user's click events within ±5 minutes (errors with none kept at
    count 0). temporal.range_join_binned quantizes time into tolerance-sized
    bins and equi-joins on (user, bin) — a hash join whose fan-out is data
    density per bin, instead of the O(n·m) nested-loop a raw inequality
    join plans."""
    from market_flow_spark.functions.aggregates import det_avg

    tol_us = 300 * 1_000_000
    ev = load_tables(spark, sf_dir)["events"]
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("ts").alias("c_ts"),
        F.col("value").alias("c_value"),
    )
    pairs = temporal.range_join_binned(
        errors,
        clicks,
        on=["user_id"],
        left_ts_us=F.unix_micros(F.col("ts").cast("timestamp")),
        right_ts_us=F.unix_micros(F.col("c_ts").cast("timestamp")),
        tolerance_us=tol_us,
    )
    agg = pairs.groupBy("event_id").agg(
        F.count(F.lit(1)).alias("n_clicks"),
        det_avg("c_value").alias("avg_click_value"),
    )
    return errors.join(agg, "event_id", "left").select(
        "event_id",
        "user_id",
        F.coalesce(F.col("n_clicks"), F.lit(0).cast("long")).alias("n_clicks"),
        "avg_click_value",
    )


_ROLLUP_REV_SQL = (
    "CAST(SUM(CAST(l.l_extendedprice * (1.0 - l.l_discount)"
    " AS DECIMAL(27,6))) AS DOUBLE)"
)


@register(
    "rollup_revenue",
    f"""
SELECT COALESCE(r.r_name, 'ALL') AS region,
       COALESCE(n.n_name, 'ALL') AS nation,
       {_floor_round_sql(_ROLLUP_REV_SQL, 2)} AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(COUNT(DISTINCT o.o_orderkey) AS BIGINT) AS n_orders
FROM lineitem l
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n   ON c.c_nationkey = n.n_nationkey
JOIN region r   ON n.n_regionkey = r.r_regionkey
GROUP BY ROLLUP(r.r_name, n.n_name)
""",
)
def q_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical aggregation region → nation → grand total.

    Naively `rollup(...).agg(countDistinct(...))` makes Spark Expand every
    joined row once per grouping set (×3) and then run a distinct-aggregate
    over the expanded set — the dominant cost at scale. Instead:

    1. Pre-aggregate lineitem per l_orderkey (map-side combine collapses the
       ~4 lines/order before the shuffle) — after this join-key rollup each
       order is exactly ONE row, so the distinct order count degenerates to
       a plain count(*): no Expand, no distinct-aggregate anywhere.
    2. Aggregate once at the finest (region, nation) grain.
    3. rollup() only the ~25 partial rows: sums/counts are additive, and the
       order count is too because each order belongs to exactly one
       customer → nation → region (star-schema functional dependency)."""
    from market_flow_spark.functions.aggregates import det_round

    t = spread_sales(load_tables(spark, sf_dir))
    rev = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    per_order = t["lineitem"].groupBy("l_orderkey").agg(
        F.sum(rev.cast("decimal(27,6)")).alias("rev_sum"),
        F.count(F.lit(1)).alias("n_lines"),
    )
    j = (
        per_order
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(t["customer"]),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey")
        )
        .join(
            F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey")
        )
    )
    fine = j.groupBy("r_name", "n_name").agg(
        F.sum("rev_sum").alias("rev_sum"),
        F.sum("n_lines").alias("n_lines"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    out = fine.rollup("r_name", "n_name").agg(
        det_round(F.sum("rev_sum").cast("double"), 2).alias("revenue"),
        F.sum("n_lines").alias("n_lines"),
        F.sum("n_orders").alias("n_orders"),
    )
    return out.select(
        F.coalesce(F.col("r_name"), F.lit("ALL")).alias("region"),
        F.coalesce(F.col("n_name"), F.lit("ALL")).alias("nation"),
        "revenue",
        "n_lines",
        "n_orders",
    )


@register(
    "cube_returnflag_priority",
    f"""
SELECT COALESCE(l.l_returnflag, 'ALL') AS returnflag,
       COALESCE(o.o_orderpriority, 'ALL') AS priority,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       {_floor_round_sql(
           "CAST(SUM(CAST(l.l_quantity AS DECIMAL(27,6))) AS DOUBLE)"
           " / COUNT(l.l_quantity)", 2)} AS avg_qty
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY CUBE(l.l_returnflag, o.o_orderpriority)
""",
)
def q_cube_returnflag_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (returnflag × order priority).

    `df.cube` on the raw join would Expand every joined row ×4 grouping
    sets; instead aggregate once at the finest (returnflag, priority) grain
    (~24 groups) keeping additive partials (decimal sum + non-null count),
    then cube only those partial rows and rebuild the rounded mean —
    identical to det_avg because decimal addition is exact."""
    from market_flow_spark.functions.aggregates import det_round

    t = load_tables(spark, sf_dir)
    j = t["lineitem"].join(
        t["orders"], F.col("l_orderkey") == F.col("o_orderkey")
    )
    fine = j.groupBy("l_returnflag", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.col("l_quantity").cast("decimal(27,6)")).alias("qty_sum"),
        F.count("l_quantity").alias("qty_cnt"),
    )
    out = fine.cube("l_returnflag", "o_orderpriority").agg(
        F.sum("n_lines").alias("n_lines"),
        det_round(
            F.sum("qty_sum").cast("double") / F.sum("qty_cnt"), 2
        ).alias("avg_qty"),
    )
    return out.select(
        F.coalesce(F.col("l_returnflag"), F.lit("ALL")).alias("returnflag"),
        F.coalesce(F.col("o_orderpriority"), F.lit("ALL")).alias("priority"),
        "n_lines",
        "avg_qty",
    )


# ---------------------------------------------------------------------------
# Deterministic sampling / splitting / quotas (training-data pipeline ops)
# ---------------------------------------------------------------------------

from market_flow_spark.extensions import sampling  # noqa: E402


@register(
    "stratified_sample",
    f"""
SELECT doc_id, lang, source
FROM documents
WHERE {sampling.hash_bucket_sql("doc_id", "sample")} <
      CASE WHEN lang = 'en' THEN '{sampling.rate_threshold(0.1)}'
           WHEN lang = 'zh' THEN '{sampling.rate_threshold(0.5)}'
           ELSE '{sampling.rate_threshold(0.25)}' END
""",
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-addressed stratified downsampling (rebalance over-represented
    languages): keep 10% of 'en', 50% of 'zh', 25% elsewhere. A pure scan-
    local filter — no shuffle, reproducible on any cluster layout."""
    docs = load_tables(spark, sf_dir)["documents"]
    return sampling.sample_by_rate(
        docs,
        "doc_id",
        {"en": 0.1, "zh": 0.5},
        stratum_col="lang",
        default_rate=0.25,
    ).select("doc_id", "lang", "source")


@register(
    "train_test_split",
    f"""
SELECT lang, split, COUNT(*) AS n_docs
FROM (SELECT lang,
             CASE WHEN {sampling.hash_bucket_sql("doc_id", "split")}
                       < '{sampling.rate_threshold(0.8)}'
                  THEN 'train' ELSE 'test' END AS split
      FROM documents)
GROUP BY 1, 2
""",
)
def q_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/20 train/test assignment as a pure function of doc_id (append-
    stable: new rows never flip old rows' split, unlike randomSplit whose
    draw depends on partition layout), summarized per language."""
    docs = load_tables(spark, sf_dir)["documents"]
    return (
        sampling.assign_split(docs, "doc_id", 0.8)
        .groupBy("lang", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@register(
    "quota_cap",
    f"""
SELECT doc_id, source, pick_rank FROM (
  SELECT doc_id, source,
         CAST(row_number() OVER (
           PARTITION BY source
           ORDER BY {sampling.hash_bucket_sql("doc_id", "quota")}, doc_id)
           AS INT) AS pick_rank
  FROM documents) ranked
WHERE pick_rank <= 15
""",
)
def q_quota_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quota: keep at most 15 docs per source, chosen by hash
    order — a deterministic uniform draw without replacement (the dedupe-
    adjacent 'no single site dominates the corpus' op)."""
    docs = load_tables(spark, sf_dir)["documents"]
    return sampling.cap_per_group(docs, "source", 15, "doc_id").select(
        "doc_id", "source", "pick_rank"
    )


@register(
    "token_counts",
    r"""
SELECT doc_id,
  len(regexp_split_to_array(trim(text), '\s+')) AS n_ws_tokens,
  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_pretokens,
  length(text) AS n_chars
FROM documents
""",
)
def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace + BPE-ish pre-tokenizer) — the budget
    columns every training-data pipeline computes per document."""
    return text.token_counts(load_tables(spark, sf_dir)["documents"])


def _winnow_oracle(
    k: int = 8,
    window: int = 4,
    threshold: float = 0.5,
    probe_mod: int = 10,
    max_fp_df: int | None = None,
) -> str:
    """DuckDB twin of dedup.winnow_fingerprints + winnow_containment:
    same md5-prefix uint32 rolling hashes, same window-min winnowing, same
    containment = shared/test-fps arithmetic. With ``max_fp_df`` set, the
    twin of the capped (boilerplate-suppressed) variant: fingerprints whose
    TRAINING-side document frequency exceeds the cap are anti-joined out of
    both sides before sizes/containment — the exact CTE chain plus a
    ``HAVING COUNT(*) > k`` heavy set, per winnow_containment's own
    semantics (dedup.py:1202-1213)."""
    if max_fp_df is None:
        cap_ctes = ""
        te_src, tr_src = "te", "tr"
    else:
        cap_ctes = f"""
heavy AS (SELECT fp FROM tr GROUP BY fp HAVING COUNT(*) > {max_fp_df}),
te_c AS (SELECT * FROM te ANTI JOIN heavy USING (fp)),
tr_c AS (SELECT * FROM tr ANTI JOIN heavy USING (fp)),"""
        te_src, tr_src = "te_c", "tr_c"
    return f"""
WITH normed AS (
  SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS n
  FROM documents
),
hashed AS (
  SELECT doc_id,
    CASE WHEN len(n) >= {k} THEN
      list_transform(range(0, len(n) - {k} + 1),
        i -> CAST(('0x' || substr(md5(substr(n, i + 1, {k})), 1, 8)) AS BIGINT))
    ELSE [] END AS h
  FROM normed
),
fps AS (
  SELECT DISTINCT doc_id, unnest(CASE
      WHEN len(h) >= {window} THEN
        list_distinct(list_transform(range(0, len(h) - {window} + 1),
          j -> list_min(h[j + 1 : j + {window}])))
      WHEN len(h) > 0 THEN [list_min(h)]
      ELSE [] END) AS fp
  FROM hashed
),
te AS (SELECT doc_id AS test_doc_id, fp FROM fps WHERE test_doc_id % {probe_mod} = 0),
tr AS (SELECT doc_id AS train_doc_id, fp FROM fps WHERE train_doc_id % {probe_mod} <> 0),{cap_ctes}
te_sizes AS (SELECT test_doc_id, COUNT(*) AS n_test_fps FROM {te_src} GROUP BY test_doc_id),
shared AS (
  SELECT a.test_doc_id, b.train_doc_id, COUNT(*) AS n_shared
  FROM {te_src} a JOIN {tr_src} b ON a.fp = b.fp
  GROUP BY a.test_doc_id, b.train_doc_id
)
SELECT s.test_doc_id, s.train_doc_id, s.n_shared,
       floor(s.n_shared / z.n_test_fps * 1e6 + 0.5) / 1e6 AS containment
FROM shared s JOIN te_sizes z USING (test_doc_id)
WHERE floor(s.n_shared / z.n_test_fps * 1e6 + 0.5) / 1e6 >= {threshold}
"""


def _exact_substring_oracle(min_len: int = 30) -> str:
    """DuckDB twin of dedup.exact_substring_spans: same normalization, the
    same 60-bit md5-prefix per window start, total-occurrence ≥ 2
    PREFILTER, the same content-verification re-group (hash survivors
    joined back on doc_id, window content extracted, content-occurrence
    ≥ 2 kept — so hash collisions cannot fabricate spans in either
    engine), then the identical gaps-and-islands merge (running max of
    pos+L over preceding rows)."""
    L = min_len
    return f"""
WITH normed AS (
  SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS n
  FROM documents
),
win AS (
  SELECT doc_id,
    unnest(CASE WHEN len(n) >= {L} THEN range(0, len(n) - {L} + 1)
           ELSE [] END) AS pos,
    unnest(CASE WHEN len(n) >= {L} THEN
      list_transform(range(0, len(n) - {L} + 1),
        i -> CAST(('0x' || substr(md5(substr(n, i + 1, {L})), 1, 15)) AS BIGINT))
      ELSE [] END) AS h
  FROM normed
),
heavy AS (SELECT h FROM win GROUP BY h HAVING COUNT(*) >= 2),
cand AS (SELECT w.doc_id, w.pos FROM win w SEMI JOIN heavy USING (h)),
candc AS (
  SELECT cd.doc_id, cd.pos, substr(nm.n, cd.pos + 1, {L}) AS wc
  FROM cand cd JOIN normed nm USING (doc_id)
),
heavyc AS (SELECT wc FROM candc GROUP BY wc HAVING COUNT(*) >= 2),
dup AS (SELECT cc.doc_id, cc.pos FROM candc cc SEMI JOIN heavyc USING (wc)),
isl AS (
  SELECT doc_id, pos,
    CASE WHEN max(pos + {L}) OVER w IS NULL OR pos > max(pos + {L}) OVER w
         THEN 1 ELSE 0 END AS ni
  FROM dup
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
isl2 AS (
  SELECT doc_id, pos,
    SUM(ni) OVER (PARTITION BY doc_id ORDER BY pos
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM isl
)
SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + {L} AS span_end,
       CAST(COUNT(*) AS BIGINT) AS n_windows
FROM isl2 GROUP BY doc_id, island
"""


@register("exact_substring_spans", _exact_substring_oracle())
def q_exact_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplicate spans (Lee et al. 2022, arXiv:2107.06499)
    at 30-char window grain: every maximal normalized-char range covered
    by windows whose CONTENT occurs ≥ 2 times anywhere in the corpus —
    the byte ranges an exact-substring dedup pass would cut. At sf0.01:
    ~12k duplicated windows of ~135k merge into per-doc spans. Suffix-
    array-free distributed shape: corpus-bytes explode (scan-local) + a
    60-bit-hash occ≥2 prefilter aggregate + a semi-join reusing its
    partitioning + a content-verification re-group of the survivors
    (collision-proof exactness) + one per-doc window pass."""
    return dedup.exact_substring_spans(
        load_tables(spark, sf_dir)["documents"], min_len=30
    )


def _exact_substring_dedup_oracle(min_len: int = 30) -> str:
    """DuckDB twin of dedup.exact_substring_dedup: the span twin's CTE
    chain, then the identical cut — per doc, the kept segment before
    each span (from the previous span's end, LAG over span_start order)
    is string_agg'd in span order and the tail after the last span is
    appended; span-free docs pass through whole."""
    spans = _exact_substring_oracle(min_len).strip().rstrip()
    return f"""
WITH spans AS ({spans}),
normed2 AS (
  SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS n
  FROM documents
),
segs AS (
  SELECT doc_id, span_start, span_end,
         COALESCE(LAG(span_end) OVER (PARTITION BY doc_id
                                      ORDER BY span_start), 0) AS prev_end
  FROM spans
),
agg AS (
  SELECT s.doc_id,
         string_agg(substr(nm.n, CAST(s.prev_end AS INT) + 1,
                           CAST(s.span_start - s.prev_end AS INT)),
                    '' ORDER BY s.span_start) AS head_chunks,
         MAX(s.span_end) AS last_end
  FROM segs s JOIN normed2 nm USING (doc_id)
  GROUP BY s.doc_id
)
SELECT nm.doc_id,
       CASE WHEN a.doc_id IS NULL THEN nm.n
            ELSE COALESCE(a.head_chunks, '')
                 || substr(nm.n, CAST(a.last_end AS INT) + 1) END
         AS clean_text,
       CAST(len(nm.n) - len(CASE WHEN a.doc_id IS NULL THEN nm.n
            ELSE COALESCE(a.head_chunks, '')
                 || substr(nm.n, CAST(a.last_end AS INT) + 1) END) AS INT)
         AS n_cut_chars
FROM normed2 nm LEFT JOIN agg a USING (doc_id)
"""


@register("exact_substring_dedup", _exact_substring_dedup_oracle())
def q_exact_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPLY half of the exact-substring pipeline (Lee et al. 2022,
    arXiv:2107.06499; round 11): cut every duplicated ≥30-char span
    from its document's normalized text and return the cleaned corpus
    with per-doc cut sizes — the step that turns the span REPORT into
    the training corpus a pipeline actually feeds downstream. Every doc
    rows through (span-free docs pass unchanged, n_cut_chars 0), so the
    driver value-hashes the full cleaned text of all documents."""
    return dedup.exact_substring_dedup(
        load_tables(spark, sf_dir)["documents"], min_len=30
    )


@register("winnow_containment", _winnow_oracle(threshold=0.5))
def q_winnow_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash (winnowing) containment contamination: test docs
    (doc_id % 10 == 0) a >= 50% fraction of whose winnowed fingerprints
    occur in some training doc — catches a test prompt EMBEDDED in a
    longer training document, which symmetric Jaccard dilutes away."""
    docs = load_tables(spark, sf_dir)["documents"]
    return dedup.winnow_containment(
        docs.filter(F.col("doc_id") % 10 != 0),
        docs.filter(F.col("doc_id") % 10 == 0),
        threshold=0.5,
    )


@register("winnow_containment_capped", _winnow_oracle(threshold=0.5, max_fp_df=50))
def q_winnow_containment_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE PATH of winnow containment, certified: same rolling-hash
    fingerprint containment, but with the MOSS "noise threshold" —
    fingerprints occurring in > 50 training docs (headers, licenses, shared
    phrasing) are dropped from both sides, so the fp equi-join's emission
    stays Σ min(df, 50)·df instead of quadratic in the heaviest fingerprint.
    50 is set from the corpus df distribution: at sf0.1 it cuts pair
    emissions 154 M → 1.5 M (100x) while still pruning 75 fps at sf0.01, so
    the cap is exercised at oracle scale, not a no-op."""
    docs = load_tables(spark, sf_dir)["documents"]
    return dedup.winnow_containment(
        docs.filter(F.col("doc_id") % 10 != 0),
        docs.filter(F.col("doc_id") % 10 == 0),
        threshold=0.5,
        max_fp_df=50,
    )


def _components_sql(pairs: str, c1: str, c2: str, id_col: str) -> str:
    """The ``edges`` / ``reach`` / ``comp`` CTEs of every recursive-CTE
    twin of dedup_keep_list: connected components of the ``pairs`` CTE's
    (``c1``, ``c2``) graph by label reachability, cluster = min reachable
    id. ``comp`` is (``id_col``, cluster_id) over paired ids only; the
    enclosing WITH must be RECURSIVE."""
    return f"""edges AS (
  SELECT {c1} AS a, {c2} AS b FROM {pairs}
  UNION
  SELECT {c2} AS a, {c1} AS b FROM {pairs}
),
reach(a, lbl) AS (
  SELECT a, a AS lbl FROM (SELECT DISTINCT a FROM edges)
  UNION
  SELECT e.a, r.lbl FROM edges e JOIN reach r ON e.b = r.a
),
comp AS (SELECT a AS {id_col}, MIN(lbl) AS cluster_id FROM reach GROUP BY a)"""


def _clusters_oracle() -> str:
    """Recursive-CTE twin of dedup_keep_list over the MinHash pair graph."""
    return f"""
WITH RECURSIVE pairs AS ({_minhash_oracle()}),
{_components_sql("pairs", "doc1", "doc2", "doc_id")}
SELECT d.doc_id,
       COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
       (d.doc_id = COALESCE(c.cluster_id, d.doc_id)) AS keep
FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
"""


@register("dedup_clusters_minhash", _clusters_oracle())
def q_dedup_clusters_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs → clusters → keep/drop list: connected components over the
    MinHash near-dup pair graph (min-label propagation, one edge-list
    shuffle per round, clique-ish clusters converge in 2-3 rounds), keeper
    = minimum doc_id per cluster, unpaired docs kept. The materializable
    decision a dedup job actually writes — pairwise output alone
    over-deletes chained near-dups (A~B, B~C)."""
    docs = load_tables(spark, sf_dir)["documents"]
    pairs = dedup.minhash_lsh_pairs(docs, threshold=0.8)
    return dedup.dedup_keep_list(docs, pairs)


@register("dedup_clusters_twostar", _clusters_oracle())
def q_dedup_clusters_twostar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same pairs → clusters → keep/drop decision as
    dedup_clusters_minhash, computed by ALTERNATING LARGE-STAR /
    SMALL-STAR (Kiveris et al. 2014) instead of min-label propagation:
    O(log² n) rounds regardless of pair-graph diameter, vs Θ(diameter).
    Near-dup graphs are clique-ish so both converge fast here — this row
    certifies that the log-round algorithm computes the identical
    function on real data (shared recursive-CTE twin); the regime where
    it is the ONLY viable shape (chained duplication, diameter ≫ round
    budget: a 64-hop chain that min-label's default budget fails on) is
    pinned by tests/test_twostar.py."""
    docs = load_tables(spark, sf_dir)["documents"]
    pairs = dedup.minhash_lsh_pairs(docs, threshold=0.8)
    return dedup.dedup_keep_list(docs, pairs, algo="two_star")


def _repetition_oracle() -> str:
    fr = _floor_round_sql
    return f"""
WITH base AS (
  SELECT doc_id,
    list_filter(string_split(text, chr(10)), x -> trim(x) <> '') AS lines,
    list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                x -> x <> '') AS toks
  FROM documents
),
bg AS (
  SELECT doc_id, lines, toks,
    CASE WHEN len(toks) >= 2 THEN
      list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
    ELSE [] END AS bigrams
  FROM base
),
feats AS (
  SELECT doc_id,
    len(lines) AS n_lines,
    CASE WHEN len(lines) > 0 THEN
      {fr("(len(lines) - len(list_distinct(lines))) / len(lines)", 4)}
      ELSE 0.0 END AS dup_line_frac,
    CASE WHEN len(toks) > 0 THEN
      {fr("(len(toks) - len(list_distinct(toks))) / len(toks)", 4)}
      ELSE 0.0 END AS dup_word_frac,
    CASE WHEN len(bigrams) > 0 THEN
      {fr("list_max(list_transform(list_distinct(bigrams), x -> len(list_filter(bigrams, y -> y = x)))) / len(bigrams)", 4)}
      ELSE 0.0 END AS top_bigram_share
  FROM bg
)
SELECT doc_id, n_lines, dup_line_frac, dup_word_frac, top_bigram_share,
  (dup_line_frac > 0.3 OR dup_word_frac > 0.3 OR top_bigram_share > 0.2)
    AS repetitive
FROM feats
"""


@register("repetition_stats", _repetition_oracle())
def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-doc repetition quality filter (Gopher-style): duplicate
    line/word fractions + top-bigram share, map-only."""
    return text.repetition_stats(load_tables(spark, sf_dir)["documents"])


def _gopher_oracle() -> str:
    """Twin of text.gopher_quality: line/word-shape Gopher rules."""
    fr = _floor_round_sql
    stops = ", ".join(f"'{w}'" for w in text.STOPWORDS)
    return f"""
WITH b AS (
  SELECT doc_id,
    list_filter(string_split(text, chr(10)), x -> trim(x) <> '') AS lines,
    list_filter(regexp_split_to_array(trim(text), '\\s+'),
                x -> x <> '') AS toks,
    list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                x -> x <> '') AS ltoks,
    length(regexp_replace(trim(text), '\\s+', '', 'g')) AS n_nonspace,
    len(regexp_extract_all(text, '(#|\\.\\.\\.|…)')) AS n_symbol
  FROM documents
),
c AS (
  SELECT doc_id,
    CAST(len(lines) AS INT) AS n_lines,
    CAST(len(toks) AS INT) AS n_tokens,
    CAST(len(list_filter(lines,
      x -> regexp_matches(x, '^\\s*[•‣·*-]'))) AS INT) AS n_bullet,
    CAST(len(list_filter(lines,
      x -> regexp_matches(x, '(\\.\\.\\.|…)\\s*$'))) AS INT) AS n_ellipsis,
    CAST(len(list_filter(toks,
      x -> regexp_matches(x, '[A-Za-z]'))) AS INT) AS n_alpha,
    CAST(len(list_filter(ltoks, x -> x IN ({stops}))) AS INT) AS n_stop,
    n_nonspace, n_symbol
  FROM b
),
f AS (
  SELECT doc_id, n_lines, n_tokens,
    CASE WHEN n_tokens > 0 THEN {fr("n_nonspace / n_tokens", 4)} END
      AS mean_word_len,
    CASE WHEN n_lines > 0 THEN {fr("n_bullet / n_lines", 4)} END
      AS bullet_ratio,
    CASE WHEN n_lines > 0 THEN {fr("n_ellipsis / n_lines", 4)} END
      AS ellipsis_ratio,
    CASE WHEN n_tokens > 0 THEN {fr("n_alpha / n_tokens", 4)} END
      AS alpha_ratio,
    CASE WHEN n_tokens > 0 THEN {fr("n_symbol / n_tokens", 4)} END
      AS symbol_ratio,
    n_stop
  FROM c
)
SELECT doc_id, n_lines, n_tokens, mean_word_len, bullet_ratio,
  ellipsis_ratio, alpha_ratio, symbol_ratio, n_stop,
  COALESCE(n_tokens BETWEEN {text.GOPHER_MIN_TOKENS}
                        AND {text.GOPHER_MAX_TOKENS}
    AND mean_word_len BETWEEN 3 AND 10
    AND symbol_ratio < 0.1
    AND bullet_ratio < 0.9
    AND ellipsis_ratio < 0.3
    AND alpha_ratio > 0.8
    AND n_stop >= 2, false) AS passes_gopher
FROM f
"""


@register("gopher_quality", _gopher_oracle())
def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher line/word-shape quality rules (round 12): bullet-line and
    ellipsis-line ratios, alphabetic-word ratio, symbol-to-word ratio,
    mean word length, stopword floor, and the composite pass verdict —
    one scan-fused projection, zero shuffles (the other half of the
    Rae et al. rules next to repetition_stats)."""
    return text.gopher_quality(load_tables(spark, sf_dir)["documents"])


def _token_entropy_oracle() -> str:
    """Twin of text.token_entropy: identical tokenization, identical
    quantize-then-sum fixed-point arithmetic (the KL twin's pattern)."""
    fr = _floor_round_sql
    s = "1000000000"
    h = f"-(CAST(p.h_fx AS DOUBLE) / {s}.0)"
    return f"""
WITH words AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
  FROM documents
),
postings AS (SELECT doc_id, term FROM words WHERE term <> ''),
counts AS (
  SELECT doc_id, term, COUNT(*) AS c FROM postings GROUP BY doc_id, term
),
w AS (
  SELECT doc_id, c, SUM(c) OVER (PARTITION BY doc_id) AS n FROM counts
),
per_doc AS (
  SELECT doc_id, MAX(n) AS n_tokens, COUNT(*) AS n_types,
    SUM(CAST(FLOOR((CAST(c AS DOUBLE) / n) * ln(CAST(c AS DOUBLE) / n)
                   * {s} + 0.5) AS BIGINT)) AS h_fx
  FROM w GROUP BY doc_id
)
SELECT d.doc_id,
  CAST(COALESCE(p.n_tokens, 0) AS BIGINT) AS n_tokens,
  CAST(COALESCE(p.n_types, 0) AS BIGINT) AS n_types,
  {fr(h, 6)} AS entropy,
  CASE WHEN p.n_types > 1
       THEN {fr(f"({h}) / ln(CAST(p.n_types AS DOUBLE))", 6)} END
    AS entropy_ratio
FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
"""


@register("token_entropy", _token_entropy_oracle())
def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc Shannon entropy of the doc's OWN token distribution +
    ln(n_types)-normalized ratio (round 12): the lexical-diversity gate
    between repetition_stats (exact duplicates only) and unigram_logprob
    (corpus-relative, blind to a doc repeating one common word)."""
    return text.token_entropy(load_tables(spark, sf_dir)["documents"])


def _zipf_oracle(top_n: int = 1000) -> str:
    """Twin of text.zipf_fit: 1e-9 fixed-point sums (exact BIGINTs on
    both engines), then an identical closed-form double expression."""
    fr = _floor_round_sql
    s = "1000000000.0"
    return f"""
WITH words AS (
  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
  FROM documents
),
postings AS (SELECT term FROM words WHERE term <> ''),
vocab AS (SELECT term, COUNT(*) AS cnt FROM postings GROUP BY term),
tot AS (SELECT SUM(cnt) AS c_total, COUNT(*) AS n_vocab FROM vocab),
top AS (SELECT term, cnt FROM vocab ORDER BY cnt DESC, term LIMIT {top_n}),
ranked AS (
  SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, term) AS rnk FROM top
),
pts AS (
  SELECT cnt, ln(CAST(rnk AS DOUBLE)) AS x, ln(CAST(cnt AS DOUBLE)) AS y
  FROM ranked
),
sums AS (
  SELECT COUNT(*) AS n_fit,
    SUM(CAST(floor(x * {s} + 0.5) AS BIGINT)) AS sx,
    SUM(CAST(floor(y * {s} + 0.5) AS BIGINT)) AS sy,
    SUM(CAST(floor((x * y) * {s} + 0.5) AS BIGINT)) AS sxy,
    SUM(CAST(floor((x * x) * {s} + 0.5) AS BIGINT)) AS sxx,
    SUM(CAST(floor((y * y) * {s} + 0.5) AS BIGINT)) AS syy,
    SUM(cnt) AS c_top
  FROM pts
),
doubles AS (
  SELECT CAST(n_fit AS DOUBLE) AS n,
         CAST(sx AS DOUBLE) AS dsx, CAST(sy AS DOUBLE) AS dsy,
         CAST(sxy AS DOUBLE) AS dsxy, CAST(sxx AS DOUBLE) AS dsxx,
         CAST(syy AS DOUBLE) AS dsyy,
         n_fit, c_top
  FROM sums
),
fit AS (
  SELECT n_fit, c_top,
    (n * dsxy * {s} - dsx * dsy) AS num,
    (n * dsxx * {s} - dsx * dsx) AS den_x,
    (n * dsyy * {s} - dsy * dsy) AS den_y
  FROM doubles
)
SELECT CAST(t.n_vocab AS BIGINT) AS n_vocab,
       CAST(t.c_total AS BIGINT) AS c_total,
       CAST(f.n_fit AS BIGINT) AS n_fit,
       {fr("CAST(f.c_top AS DOUBLE) / t.c_total", 6)} AS top_coverage,
       CASE WHEN f.den_x > 0 THEN {fr("f.num / f.den_x", 6)} END
         AS zipf_slope,
       CASE WHEN f.den_x > 0 AND f.den_y > 0
         THEN {fr("(f.num * f.num) / (f.den_x * f.den_y)", 6)} END
         AS zipf_r2
FROM fit f CROSS JOIN tot t
"""


@register("zipf_fit", _zipf_oracle())
def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf power-law fit over the corpus token-frequency head (round
    12): one vocabulary aggregate, a TakeOrderedAndProject head, and a
    bounded single-partition fit — the corpus-mixture drift alarm that
    needs no reference model."""
    return text.zipf_fit(load_tables(spark, sf_dir)["documents"], top_n=1000)


def _pii_oracle() -> str:
    return f"""
SELECT doc_id,
  len(regexp_extract_all(text, '{text.EMAIL_RE}')) AS n_emails,
  len(regexp_extract_all(text, '{text.IPV4_RE}')) AS n_ipv4,
  len(regexp_extract_all(text, '{text.PHONE_RE}')) AS n_phones,
  (len(regexp_extract_all(text, '{text.EMAIL_RE}')) > 0
   OR len(regexp_extract_all(text, '{text.IPV4_RE}')) > 0
   OR len(regexp_extract_all(text, '{text.PHONE_RE}')) > 0) AS has_pii
FROM documents
"""


@register("pii_scan", _pii_oracle())
def q_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex PII detection (emails / IPv4 / phone-shaped runs): the
    scrub-or-drop gate; patterns shared verbatim with the oracle."""
    return text.pii_scan(load_tables(spark, sf_dir)["documents"])


@register(
    "pii_redact",
    f"""
SELECT doc_id,
  regexp_replace(regexp_replace(regexp_replace(
      text || ' contact user' || doc_id ||
      '@example.com or 10.0.' || (doc_id % 256) || '.' || (doc_id % 100) ||
      ' tel +1 (555) 01' || (doc_id % 10) || '-' || (1000 + doc_id % 9000),
      '{text.EMAIL_RE}', '[EMAIL]', 'g'),
      '{text.IPV4_RE}', '[IP]', 'g'),
      '{text.PHONE_RE}', '[PHONE]', 'g') AS text
FROM documents
""",
)
def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scrub twin of pii_scan (extensions/text.py redact_pii): typed
    placeholder substitution via three chained regexp_replace expressions,
    one codegen'd corpus scan. The test corpus carries no PII, so the
    query appends a deterministic doc_id-derived footer (email + IPv4 +
    phone) on BOTH engines before redacting — the oracle then certifies
    actual replace semantics (global flag, match extents, chain order),
    not an identity pass."""
    docs = load_tables(spark, sf_dir)["documents"]
    d = F.col("doc_id")
    salted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), d, F.lit("@example.com or 10.0."),
            (d % 256).cast("string"), F.lit("."), (d % 100).cast("string"),
            F.lit(" tel +1 (555) 01"), (d % 10).cast("string"), F.lit("-"),
            (F.lit(1000) + d % 9000).cast("string"),
        ).alias("text"),
    )
    return text.redact_pii(salted)


@register(
    "price_percentiles",
    f"""
SELECT l_returnflag,
  {_floor_round_sql("quantile_cont(l_extendedprice, 0.5)", 4)} AS p50,
  {_floor_round_sql("quantile_cont(l_extendedprice, 0.9)", 4)} AS p90,
  {_floor_round_sql("quantile_cont(l_extendedprice, 0.99)", 4)} AS p99,
  COUNT(*) AS n_rows
FROM lineitem GROUP BY l_returnflag
""",
)
def q_price_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated per-group quantiles (ANSI PERCENTILE_CONT
    semantics on both engines); the operator's approx=True flag swaps in
    approx_percentile for fact-scale measures."""
    return an.group_percentiles(
        spread_sales(load_tables(spark, sf_dir))["lineitem"],
        "l_returnflag",
        "l_extendedprice",
    )


def _clean_corpus_oracle(min_quality: float = 1.0) -> str:
    """DuckDB twin of extensions.corpus.clean_corpus: the same five-stage
    ladder assembled from the already-oracle-checked fragments (quality
    chain, repetition chain, PII counts, exact-fingerprint window, MinHash
    pair CTEs re-sourced to the survivor set, recursive-CTE components)."""
    minhash_inner = _minhash_oracle().replace("FROM documents", "FROM surv2")
    return f"""
WITH RECURSIVE tq AS (
  SELECT doc_id, text, regexp_split_to_array(trim(text), '\\s+') AS toks
  FROM documents
),
bq AS (
  SELECT doc_id, toks,
    CAST(len(toks) AS INT) AS n_tokens,
    CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS INT) AS n_nonspace
  FROM tq
),
cq AS (
  SELECT doc_id, n_tokens,
    {_floor_round_sql("n_nonspace / n_tokens", 4)} AS avg_token_len
  FROM bq
),
qq AS (
  SELECT doc_id,
    {_floor_round_sql(
        "(CASE WHEN n_tokens BETWEEN 5 AND 10000 THEN 0.5 ELSE 0.0 END)"
        " + (CASE WHEN avg_token_len BETWEEN 2 AND 12 THEN 0.5 ELSE 0.0 END)",
        2,
    )} AS quality_score
  FROM cq
),
rb AS (
  SELECT doc_id,
    list_filter(string_split(text, chr(10)), x -> trim(x) <> '') AS lines,
    list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                x -> x <> '') AS toks
  FROM documents
),
rg AS (
  SELECT doc_id, lines, toks,
    CASE WHEN len(toks) >= 2 THEN
      list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
    ELSE [] END AS bigrams
  FROM rb
),
rf AS (
  SELECT doc_id,
    (CASE WHEN len(lines) > 0 THEN
       {_floor_round_sql("(len(lines) - len(list_distinct(lines))) / len(lines)", 4)}
       ELSE 0.0 END > 0.3
     OR CASE WHEN len(toks) > 0 THEN
       {_floor_round_sql("(len(toks) - len(list_distinct(toks))) / len(toks)", 4)}
       ELSE 0.0 END > 0.3
     OR CASE WHEN len(bigrams) > 0 THEN
       {_floor_round_sql("list_max(list_transform(list_distinct(bigrams), x -> len(list_filter(bigrams, y -> y = x)))) / len(bigrams)", 4)}
       ELSE 0.0 END > 0.2) AS repetitive
  FROM rg
),
pp AS (
  SELECT doc_id,
    (len(regexp_extract_all(text, '{text.EMAIL_RE}')) > 0
     OR len(regexp_extract_all(text, '{text.IPV4_RE}')) > 0
     OR len(regexp_extract_all(text, '{text.PHONE_RE}')) > 0) AS has_pii
  FROM documents
),
gated AS (
  SELECT d.doc_id, d.text,
    CASE WHEN qq.quality_score < {min_quality} THEN 'low_quality'
         WHEN rf.repetitive THEN 'repetitive'
         WHEN pp.has_pii THEN 'pii' END AS early_reason
  FROM documents d
  JOIN qq USING (doc_id) JOIN rf USING (doc_id) JOIN pp USING (doc_id)
),
surv1 AS (SELECT doc_id, text FROM gated WHERE early_reason IS NULL),
ex AS (
  SELECT doc_id, text,
    MIN(doc_id) OVER (
      PARTITION BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
    ) AS ex_keep
  FROM surv1
),
surv2 AS (SELECT doc_id, text FROM ex WHERE doc_id = ex_keep),
mpairs AS (SELECT doc1, doc2 FROM ({minhash_inner})),
{_components_sql("mpairs", "doc1", "doc2", "doc_id")}
SELECT g.doc_id,
  (CASE WHEN g.early_reason IS NOT NULL THEN g.early_reason
        WHEN e.doc_id IS NOT NULL AND e.doc_id <> e.ex_keep THEN 'exact_dup'
        WHEN c.cluster_id IS NOT NULL AND c.cluster_id <> g.doc_id
          THEN 'near_dup' END) IS NULL AS keep,
  CASE WHEN g.early_reason IS NOT NULL THEN g.early_reason
       WHEN e.doc_id IS NOT NULL AND e.doc_id <> e.ex_keep THEN 'exact_dup'
       WHEN c.cluster_id IS NOT NULL AND c.cluster_id <> g.doc_id
         THEN 'near_dup' END AS drop_reason
FROM gated g
LEFT JOIN ex e USING (doc_id)
LEFT JOIN comp c USING (doc_id)
"""


@register("corpus_clean", _clean_corpus_oracle())
def q_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full cleaning ladder as one decision table: quality →
    repetition → PII → exact dedup → MinHash near-dup components, every
    document labeled with keep + first-failing-stage drop_reason."""
    from market_flow_spark.extensions.corpus import clean_corpus

    return clean_corpus(load_tables(spark, sf_dir)["documents"])


@register(
    "merge_aggregate_returnflag",
    """
SELECT l_returnflag,
  CAST(SUM(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(27,6))) AS DOUBLE) AS sum_price,
  COUNT(*) AS n_rows
FROM lineitem GROUP BY l_returnflag
""",
)
def q_merge_aggregate_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance, self-checking: the historical
    90% of lineitem is pre-aggregated, the remaining 10% arrives as a raw
    delta, and merge_aggregate folds the delta's partials in — the result
    must equal aggregating the full table directly (the oracle). Decimal
    sums keep the fold exact and engine-identical."""
    from market_flow_spark.operators.incremental import merge_aggregate

    li = spread_sales(load_tables(spark, sf_dir))["lineitem"]
    cast = lambda df: df.select(  # noqa: E731
        "l_returnflag", "l_orderkey",
        F.col("l_quantity").cast("decimal(27,6)").alias("sum_qty"),
        F.col("l_extendedprice").cast("decimal(27,6)").alias("sum_price"),
    )
    hist = cast(li.filter(F.col("l_orderkey") % 10 != 0))
    delta = cast(li.filter(F.col("l_orderkey") % 10 == 0))
    hist_agg = hist.groupBy("l_returnflag").agg(
        F.sum("sum_qty").alias("sum_qty"),
        F.sum("sum_price").alias("sum_price"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    merged = merge_aggregate(
        hist_agg, delta, ["l_returnflag"], ["sum_qty", "sum_price"]
    )
    return merged.select(
        "l_returnflag",
        F.col("sum_qty").cast("double").alias("sum_qty"),
        F.col("sum_price").cast("double").alias("sum_price"),
        F.col("n_rows").cast("long").alias("n_rows"),
    )


@register(
    "kmv_overlap_parts",
    sketches.kmv_overlap_oracle_sql(
        "SELECT l_partkey FROM lineitem WHERE l_orderkey % 2 = 0",
        "SELECT l_partkey FROM lineitem WHERE l_orderkey % 2 = 1",
        "l_partkey",
    ),
)
def q_kmv_overlap_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV sketch set algebra: union / Jaccard / intersection estimates of
    the part-key sets referenced by two halves of lineitem — corpus
    overlap governance without a raw-set join, deterministic md5 ordering
    so even the ESTIMATES are oracle-checked."""
    li = load_tables(spark, sf_dir)["lineitem"]
    return sketches.kmv_overlap(
        li.filter(F.col("l_orderkey") % 2 == 0),
        li.filter(F.col("l_orderkey") % 2 == 1),
        "l_partkey",
    )


# ---------------------------------------------------------------------------
# Retrieval / packing / mixture / LM-score extensions (round 4)
# ---------------------------------------------------------------------------

from market_flow_spark.extensions import packing, retrieval  # noqa: E402


@register("bm25_topk", retrieval.bm25_oracle_sql())
def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical retrieval: top-5 documents per query for a literal
    3-query set over the documents corpus — inverted-index shape with the
    postings semi-joined to the (broadcast) query terms before scoring."""
    docs = load_tables(spark, sf_dir)["documents"]
    qs = retrieval.query_terms_df(spark, retrieval.DEFAULT_QUERIES)
    return retrieval.bm25_topk(docs, qs, k=5)


@register("sequence_packing", packing.pack_sequences_oracle_sql())
def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style context-window packing positions per document: hash-shard,
    order by doc_id, prefix-sum token counts — one sort per shard, exact
    integer arithmetic end to end."""
    return packing.pack_sequences(load_tables(spark, sf_dir)["documents"])


@register(
    "mixture_sample",
    sampling.temperature_mixture_oracle_sql(
        "documents", "source", "doc_id", ["doc_id", "source"]
    ),
)
def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted domain mixture sample (share ∝ n_d^0.5,
    target half the corpus): content-addressed membership with the rate
    and uniform riding on the output for auditability."""
    docs = load_tables(spark, sf_dir)["documents"]
    return sampling.temperature_mixture_sample(
        docs, "source", "doc_id"
    ).select("doc_id", "source", "mix_u", "mix_rate")


@register("unigram_logprob", text.unigram_logprob_oracle_sql())
def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean unigram log-probability per document under the corpus's own
    unigram model — the CCNet-style fluency score, fully JVM-side."""
    return text.unigram_logprob(load_tables(spark, sf_dir)["documents"])


def _knn_vote_oracle(n_queries: int = 5, k: int = 10) -> str:
    return f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qe FROM embeddings
  WHERE vec_id < {n_queries}
),
p AS (
  SELECT q.query_id, e.vec_id AS neighbor_id, e.label AS nbr_label,
         {_cos_terms_sql("e.embedding", "q.qe")}
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <> q.query_id
),
c AS (
  SELECT query_id, neighbor_id, nbr_label,
         {_ROUNDED_COS_SQL} AS cosine
  FROM p
),
topk AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
    FROM c) WHERE rnk <= {k}
),
votes AS (
  SELECT query_id, nbr_label, COUNT(*) AS votes
  FROM topk GROUP BY query_id, nbr_label
)
SELECT query_id, nbr_label AS predicted_label, votes, n_neighbors
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY votes DESC, nbr_label) AS r,
         CAST(SUM(votes) OVER (PARTITION BY query_id)
              AS BIGINT) AS n_neighbors
  FROM votes) v
WHERE r = 1
"""


@register("knn_label_vote", _knn_vote_oracle())
def q_knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN majority-vote classification over the embeddings table: each
    query vector takes the modal label of its 10 exact-cosine nearest
    neighbors — the end-use composition of the vector-search tier."""
    return similarity.knn_label_vote(
        load_tables(spark, sf_dir)["embeddings"], n_queries=5, k=10
    )


@register("chunk_documents", packing.chunk_documents_oracle_sql(128, 32))
def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width overlapping character chunking (RAG/long-doc prep):
    128-char chunks with 32-char overlap, map-only explode."""
    return packing.chunk_documents(
        load_tables(spark, sf_dir)["documents"], chunk_chars=128, overlap=32
    )


# ---------------------------------------------------------------------------
# Incremental-warehouse audits: snapshot diff + SCD2 versioning (round 4)
# ---------------------------------------------------------------------------

from market_flow_spark.operators import incremental as inc  # noqa: E402

_SNAPSHOT_DIFF_ORACLE = """
WITH old AS (
  SELECT o_orderkey, o_totalprice, o_orderstatus
  FROM orders WHERE o_orderkey % 11 <> 0
), new AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice * 2 ELSE o_totalprice END
           AS o_totalprice,
         o_orderstatus
  FROM orders WHERE o_orderkey % 13 <> 0
)
SELECT COALESCE(old.o_orderkey, new.o_orderkey) AS o_orderkey,
       CASE WHEN old.o_orderkey IS NULL THEN 'added'
            WHEN new.o_orderkey IS NULL THEN 'removed'
            WHEN old.o_totalprice IS DISTINCT FROM new.o_totalprice
              OR old.o_orderstatus IS DISTINCT FROM new.o_orderstatus
              THEN 'changed'
            ELSE 'unchanged' END AS diff_status,
       old.o_totalprice AS old_o_totalprice,
       old.o_orderstatus AS old_o_orderstatus,
       new.o_totalprice AS new_o_totalprice,
       new.o_orderstatus AS new_o_orderstatus
FROM old FULL OUTER JOIN new ON old.o_orderkey = new.o_orderkey
"""


@register("snapshot_diff_orders", _SNAPSHOT_DIFF_ORACLE)
def q_snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reconciliation diff between two deterministic snapshots of orders
    (rows dropped per side by modular key slices; every third price
    doubled in the new snapshot) — the audit a backup-then-replace swap
    runs. One full-outer shuffle on the key."""
    orders = load_tables(spark, sf_dir)["orders"]
    old = orders.filter(F.col("o_orderkey") % 11 != 0).select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    new = orders.filter(F.col("o_orderkey") % 13 != 0).select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 3 == 0, F.col("o_totalprice") * 2
        )
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
        "o_orderstatus",
    )
    return inc.snapshot_diff(
        old, new, ["o_orderkey"], ["o_totalprice", "o_orderstatus"]
    )


_SCD2_ORACLE = """
WITH cur AS (
  SELECT p_partkey, p_retailprice, p_brand,
         0 AS valid_from, CAST(NULL AS INT) AS valid_to, TRUE AS is_current
  FROM part
), upd AS (
  SELECT p_partkey,
         CASE WHEN p_partkey % 4 = 0 THEN p_retailprice + 1.0
              ELSE p_retailprice END AS p_retailprice,
         p_brand
  FROM part WHERE p_partkey % 2 = 0
)
SELECT p_partkey, p_retailprice, p_brand, valid_from, valid_to, is_current
FROM (
  -- open rows that survive: no twin in the batch, or identical twin
  SELECT c.* FROM cur c LEFT JOIN upd u ON c.p_partkey = u.p_partkey
  WHERE u.p_partkey IS NULL
     OR (c.p_retailprice IS NOT DISTINCT FROM u.p_retailprice
         AND c.p_brand IS NOT DISTINCT FROM u.p_brand)
  UNION ALL
  -- closed-out versions of changed keys
  SELECT c.p_partkey, c.p_retailprice, c.p_brand,
         c.valid_from, 1 AS valid_to, FALSE AS is_current
  FROM cur c JOIN upd u ON c.p_partkey = u.p_partkey
  WHERE c.p_retailprice IS DISTINCT FROM u.p_retailprice
     OR c.p_brand IS DISTINCT FROM u.p_brand
  UNION ALL
  -- new open versions from the batch
  SELECT u.p_partkey, u.p_retailprice, u.p_brand,
         1 AS valid_from, CAST(NULL AS INT) AS valid_to, TRUE AS is_current
  FROM upd u LEFT JOIN cur c ON u.p_partkey = c.p_partkey
         AND c.p_retailprice IS NOT DISTINCT FROM u.p_retailprice
         AND c.p_brand IS NOT DISTINCT FROM u.p_brand
  WHERE c.p_partkey IS NULL
)
"""


def _scd2_part_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The versioned part dimension scd2_part_prices produces — shared
    with the point-in-time join query so both sides see one history."""
    part = load_tables(spark, sf_dir)["part"].select(
        "p_partkey", "p_retailprice", "p_brand"
    )
    current = (
        part.withColumn("valid_from", F.lit(0))
        .withColumn("valid_to", F.lit(None).cast("int"))
        .withColumn("is_current", F.lit(True))
    )
    updates = part.filter(F.col("p_partkey") % 2 == 0).select(
        "p_partkey",
        F.when(
            F.col("p_partkey") % 4 == 0, F.col("p_retailprice") + 1.0
        )
        .otherwise(F.col("p_retailprice"))
        .alias("p_retailprice"),
        "p_brand",
    )
    return inc.scd2_merge(
        current,
        updates,
        keys=["p_partkey"],
        tracked_cols=["p_retailprice", "p_brand"],
        batch_id=1,
    )


@register("scd2_part_prices", _SCD2_ORACLE)
def q_scd2_part_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 merge of a price-update batch into a versioned part dimension:
    every 4th part's retail price bumps (closing its open row and opening
    a new version at batch 1), even-keyed unchanged parts pass through
    untouched. Versioning by integer batch id keeps it oracle-exact."""
    return _scd2_part_dim(spark, sf_dir)


# ---------------------------------------------------------------------------
# Event-sequence analytics: funnel + cohort retention (round 4)
# ---------------------------------------------------------------------------

from market_flow_spark.operators import funnel as fun  # noqa: E402

_FUNNEL_ORACLE = """
WITH s0 AS (
  SELECT user_id, MIN(ts) AS t FROM events WHERE event_type = 'view'
  GROUP BY user_id
), s1 AS (
  SELECT e.user_id, MIN(e.ts) AS t
  FROM events e JOIN s0 ON e.user_id = s0.user_id
  WHERE e.event_type = 'click' AND e.ts > s0.t
  GROUP BY e.user_id
), s2 AS (
  SELECT e.user_id, MIN(e.ts) AS t
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'purchase' AND e.ts > s1.t
  GROUP BY e.user_id
), counts AS (
  SELECT 0 AS step_idx, 'view' AS step, (SELECT COUNT(*) FROM s0) AS n_users
  UNION ALL
  SELECT 1, 'click', (SELECT COUNT(*) FROM s1)
  UNION ALL
  SELECT 2, 'purchase', (SELECT COUNT(*) FROM s2)
)
SELECT step_idx, step, n_users,
       FLOOR(n_users * 1.0
         / FIRST_VALUE(n_users) OVER (ORDER BY step_idx) * 10000 + 0.5) / 10000
         AS conversion_from_first,
       FLOOR(n_users * 1.0
         / COALESCE(LAG(n_users) OVER (ORDER BY step_idx), n_users)
         * 10000 + 0.5) / 10000 AS conversion_from_prev
FROM counts
"""


@register("funnel_view_click_purchase", _FUNNEL_ORACLE)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict-order view→click→purchase funnel over the event stream:
    per-step user counts with first-touch ordering semantics and
    deterministic conversion rates."""
    return fun.funnel_conversion(
        load_tables(spark, sf_dir)["events"], ["view", "click", "purchase"]
    )


_COHORT_ORACLE = """
WITH m AS (
  SELECT user_id, (year(ts) * 12 + month(ts) - 1) AS midx FROM events
), firsts AS (
  SELECT user_id, MIN(midx) AS cohort_idx FROM m GROUP BY user_id
), activity AS (
  SELECT DISTINCT user_id, midx AS active_idx FROM m
), sizes AS (
  SELECT cohort_idx, COUNT(*) AS n_cohort FROM firsts GROUP BY cohort_idx
), grid AS (
  SELECT f.cohort_idx, a.active_idx - f.cohort_idx AS month_offset,
         COUNT(*) AS n_active
  FROM activity a JOIN firsts f ON a.user_id = f.user_id
  WHERE a.active_idx - f.cohort_idx BETWEEN 0 AND 5
  GROUP BY f.cohort_idx, a.active_idx - f.cohort_idx
)
SELECT CAST(CAST(FLOOR(g.cohort_idx / 12) AS INT) AS VARCHAR) || '-' ||
         lpad(CAST(g.cohort_idx % 12 + 1 AS VARCHAR), 2, '0') AS cohort_month,
       CAST(g.month_offset AS INT) AS month_offset,
       g.n_active, s.n_cohort,
       FLOOR(g.n_active * 1.0 / s.n_cohort * 10000 + 0.5) / 10000
         AS retention_rate
FROM grid g JOIN sizes s ON g.cohort_idx = s.cohort_idx
"""


@register("cohort_retention", _COHORT_ORACLE)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly cohort retention matrix (offsets 0-5): cohort by month of
    first event, activity by distinct (user, month) — exact integer month
    arithmetic on both engines."""
    return fun.cohort_retention(load_tables(spark, sf_dir)["events"])


# ---------------------------------------------------------------------------
# Rolling z-score anomaly panel (round 4)
# ---------------------------------------------------------------------------

_ANOMALY_ORACLE = """
WITH m AS (
  SELECT p_brand AS brand,
         CAST(year(o_orderdate) AS INT) AS year,
         CAST(month(o_orderdate) AS INT) AS month,
         FLOOR((CAST(SUM(CAST(l_extendedprice AS DECIMAL(27,6))) AS DOUBLE)
               / COUNT(l_extendedprice)) * 100.0 + 0.5) / 100.0 AS avg_price
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN part ON l_partkey = p_partkey
  GROUP BY 1, 2, 3
), s AS (
  SELECT brand, year, month, avg_price,
         COUNT(avg_price) OVER w AS n,
         CAST(SUM(CAST(avg_price AS DECIMAL(27,6))) OVER w AS DOUBLE) AS s1,
         CAST(SUM(CAST(CAST(avg_price AS DECIMAL(27,6))
                       * CAST(avg_price AS DECIMAL(27,6)) AS DECIMAL(38,12)))
              OVER w AS DOUBLE) AS s2
  FROM m
  WINDOW w AS (PARTITION BY brand ORDER BY year, month
               ROWS BETWEEN 12 PRECEDING AND 1 PRECEDING)
), zc AS (
  SELECT brand, year, month, avg_price, n,
         s1 / n AS mean,
         sqrt(GREATEST((s2 - n * (s1/n) * (s1/n)) / (n - 1), 0.0)) AS std
  FROM s
)
SELECT brand, year, month, avg_price,
       CASE WHEN n >= 6 THEN FLOOR(mean * 10000 + 0.5) / 10000 END AS roll_mean,
       CASE WHEN n >= 6 THEN FLOOR(std * 10000 + 0.5) / 10000 END AS roll_std,
       CASE WHEN n >= 6 AND std > 0
            THEN FLOOR((avg_price - mean) / std * 10000 + 0.5) / 10000
       END AS z,
       COALESCE(ABS(CASE WHEN n >= 6 AND std > 0
                         THEN FLOOR((avg_price - mean) / std * 10000 + 0.5) / 10000
                    END) > 2.5, FALSE) AS is_anomaly
FROM zc
"""


@register("price_anomalies", _ANOMALY_ORACLE)
def q_price_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly panel over the monthly brand price series:
    each month scored against the trailing 12 months (current excluded,
    >= 6 trailing points required), |z| > 2.5 flagged. Decimal-exact
    accumulators keep the stats bit-identical across engines."""
    from market_flow_spark.functions.aggregates import det_avg

    t = spread_sales(load_tables(spark, sf_dir))
    m = (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.year("o_orderdate").alias("year"),
            F.month("o_orderdate").alias("month"),
        )
        .agg(det_avg("l_extendedprice").alias("avg_price"))
    )
    return an.rolling_zscore_anomalies(
        m, "brand", ["year", "month"], "avg_price", threshold=2.5
    )


# ---------------------------------------------------------------------------
# Training-data export & selection (round 4): deterministic shuffle,
# curriculum staging, DSIR importance weighting, semantic dedup keep-list,
# leakage-safe cluster split
# ---------------------------------------------------------------------------

from market_flow_spark.extensions import selection as sel  # noqa: E402
from market_flow_spark.extensions.corpus import cluster_safe_split  # noqa: E402
from market_flow_spark.extensions.sampling import rate_threshold  # noqa: E402
from market_flow_spark.operators import ranking  # noqa: E402


@register(
    "corpus_shuffle",
    """
SELECT doc_id,
       ROW_NUMBER() OVER (
         ORDER BY substring(md5('shuffle:' || CAST(doc_id AS VARCHAR)), 1, 8),
                  doc_id) AS shuffle_rank
FROM documents
""",
)
def q_corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch shuffle of the corpus: every doc gets a global
    pseudo-random position (pure function of doc_id + seed). Plans as the
    two-phase total sort (range partition + per-partition rank + offset
    join), NEVER a single-partition window — the scale difference between
    this and the naive ROW_NUMBER() OVER (ORDER BY ...) the oracle runs."""
    docs = load_tables(spark, sf_dir)["documents"]
    return ranking.deterministic_shuffle(
        docs.select("doc_id"), "doc_id", seed="shuffle"
    )


@register(
    "curriculum_stages",
    """
WITH r AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (ORDER BY COALESCE(length(text), 0), doc_id)
           AS curriculum_rank,
         COUNT(*) OVER () AS n
  FROM documents
)
SELECT doc_id, curriculum_rank,
       CAST(FLOOR((curriculum_rank - 1) * 4.0 / n) AS INT) AS stage
FROM r
""",
)
def q_curriculum_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum schedule: rank docs easiest-first (here: by length, the
    classic short-to-long curriculum) and cut into 4 equal stages from the
    EXACT global rank — engine-reproducible stage assignment, scale-safe
    two-phase ranking underneath."""
    docs = load_tables(spark, sf_dir)["documents"]
    return ranking.curriculum_stages(
        docs.select("doc_id", "text"),
        F.coalesce(F.length("text"), F.lit(0)),
        key_col="doc_id",
        n_stages=4,
    ).select("doc_id", "curriculum_rank", "stage")


@register(
    "dsir_weights",
    sel.dsir_oracle_sql(n_buckets=256, target_pred="doc_id % 7 = 0"),
)
def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights: score every raw doc (doc_id % 7 != 0) by
    how target-like (doc_id % 7 == 0) its hashed unigram+bigram profile is
    — the published data-selection recipe as two bucket-bounded model
    aggregates plus a broadcast-join scoring pass. 256 buckets keeps the
    oracle cheap; production uses DEFAULT_BUCKETS."""
    docs = load_tables(spark, sf_dir)["documents"]
    return sel.dsir_logweights(
        docs.filter(F.col("doc_id") % 7 != 0),
        docs.filter(F.col("doc_id") % 7 == 0),
        n_buckets=256,
    )


def _semantic_keep_oracle(pairs_sql: str) -> str:
    """Recursive-CTE twin of semantic_dedup_keep over the pair graph
    ``pairs_sql`` emits (the twin of the query's pair generator)."""
    return f"""
WITH RECURSIVE p AS ({pairs_sql}),
{_components_sql("p", "vec1", "vec2", "vec_id")}
SELECT e.vec_id,
       COALESCE(c.cluster_id, e.vec_id) AS cluster_id,
       (e.vec_id = COALESCE(c.cluster_id, e.vec_id)) AS keep
FROM embeddings e LEFT JOIN comp c ON e.vec_id = c.vec_id
"""


@register("semantic_dedup_keep", _semantic_keep_oracle(_near_dup_oracle()))
def q_semantic_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup keep-list: embedding near-dup pairs (sign-bucket blocked
    cosine) -> connected components -> one keeper per semantic cluster.
    The embedding-tier analogue of dedup_clusters_minhash, catching
    paraphrase-level duplicates that share no surface n-grams."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    pairs = similarity.embedding_neardup_pairs(emb, threshold=0.25, n_bits=8)
    return similarity.semantic_dedup_keep(emb, pairs)


@register(
    "semantic_dedup_keep_routed", _semantic_keep_oracle(_near_dup_oracle())
)
def q_semantic_dedup_keep_routed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup keep-list over the emission-routed candidate generator,
    so no caller lands on the single-block generator (216/400 planted
    recall, dominated by the banded ladder's 289/400 at ×4.6 the speed)
    unaware once the corpus outgrows the block. At every registered SF
    the sampled emission estimate sits far under NEAR_DUP_MAX_EMISSION
    so the router provably stays on the base 8-bit block — byte-identical
    pair graph to semantic_dedup_keep, hence the shared twin; the
    ESCALATED route (banded-ladder pair graph) is certified against the
    banded keep twin on a degenerate-block corpus by
    tests/test_steering.py. Same driver-row-certifies-plumbing,
    local-tests-certify-escalation split as embedding_near_dup_routed."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    pairs = similarity.embedding_neardup_pairs_routed(emb, threshold=0.25)
    return similarity.semantic_dedup_keep(emb, pairs)


@register(
    "semantic_dedup_keep_banded",
    _semantic_keep_oracle(_banded_near_dup_oracle(band_bits=10)),
)
def q_semantic_dedup_keep_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup keep-list over the BANDED pair graph: the candidate
    generator whose ×4-sf1 head-to-head recall (289/400 planted pairs vs
    the 8-bit block's 216/400, at ×4.6 its speed) makes it the scale
    shape of the semantic tier — a near-dup the blocking misses is a
    duplicate that survives dedup. Registered at band_bits=10 for the
    same driver-row-count reason as embedding_near_dup_banded (the
    synthetic embeddings are near-uniform; 16-bit bands leave ~1 pair at
    sf0.01)."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    pairs = similarity.embedding_neardup_pairs_banded(
        emb, threshold=0.25, n_bands=4, band_bits=10
    )
    return similarity.semantic_dedup_keep(emb, pairs)


def _leakage_split_oracle(train_frac: float = 0.8) -> str:
    thr = rate_threshold(train_frac)
    return f"""
WITH RECURSIVE p AS ({_near_dup_oracle()}),
{_components_sql("p", "vec1", "vec2", "vec_id")},
labeled AS (
  SELECT e.vec_id AS doc_id,
         COALESCE(c.cluster_id, e.vec_id) AS cluster_id
  FROM embeddings e LEFT JOIN comp c ON e.vec_id = c.vec_id
)
SELECT doc_id, cluster_id,
       CASE WHEN substring(md5('split:' || CAST(cluster_id AS VARCHAR)), 1, 8)
                 < '{thr}'
            THEN 'train' ELSE 'test' END AS split
FROM labeled
"""


@register("leakage_safe_split", _leakage_split_oracle())
def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/test split: near-dup clusters (embedding tier)
    draw ONE content-addressed split from the cluster id, so a test doc's
    near-twin can never land in train. Unpaired docs are their own
    cluster; overall proportions stay ~train_frac."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    pairs = similarity.embedding_neardup_pairs(emb, threshold=0.25, n_bits=8)
    return cluster_safe_split(
        emb.select(F.col("vec_id").alias("doc_id")),
        pairs,
        train_frac=0.8,
        id1="vec1",
        id2="vec2",
    )


@register(
    "grouping_sets_sales",
    f"""
WITH per_order AS (
  SELECT l_orderkey,
         SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(27,6)))
           AS rev_sum
  FROM lineitem GROUP BY 1
), j AS (
  SELECT n.n_name, o.o_orderpriority, p.rev_sum
  FROM per_order p
  JOIN orders o   ON p.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n   ON c.c_nationkey = n.n_nationkey
)
SELECT COALESCE(n_name, 'ALL') AS nation,
       COALESCE(o_orderpriority, 'ALL') AS priority,
       {_floor_round_sql("CAST(SUM(rev_sum) AS DOUBLE)", 2)} AS revenue,
       CAST(SUM(1) AS BIGINT) AS n_orders
FROM j
GROUP BY GROUPING SETS ((n_name), (o_orderpriority), ())
""",
)
def q_grouping_sets_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-grain sales panel in ONE pass: revenue by nation, by order
    priority, and the grand total via GROUPING SETS — the OLAP sibling of
    rollup/cube with hand-picked (non-hierarchical) grains.

    Same Expand-avoidance as rollup_revenue: lineitems pre-aggregate to
    order grain (map-side combine), the join output aggregates once at the
    finest (nation, priority) grain, and the grouping-set Expand runs over
    those ~125 partial rows instead of every joined lineitem — additive
    because each order belongs to exactly one nation and one priority."""
    from market_flow_spark.functions.aggregates import det_round

    t = spread_sales(load_tables(spark, sf_dir))
    rev = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    per_order = t["lineitem"].groupBy("l_orderkey").agg(
        F.sum(rev.cast("decimal(27,6)")).alias("rev_sum")
    )
    j = (
        per_order.join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
    )
    fine = j.groupBy("n_name", "o_orderpriority").agg(
        F.sum("rev_sum").alias("rev_sum"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    out = fine.groupingSets(
        [["n_name"], ["o_orderpriority"], []], "n_name", "o_orderpriority"
    ).agg(
        det_round(F.sum("rev_sum").cast("double"), 2).alias("revenue"),
        F.sum("n_orders").alias("n_orders"),
    )
    return out.select(
        F.coalesce(F.col("n_name"), F.lit("ALL")).alias("nation"),
        F.coalesce(F.col("o_orderpriority"), F.lit("ALL")).alias("priority"),
        "revenue",
        "n_orders",
    )


@register(
    "kmv_distinct_by_returnflag",
    sketches.kmv_distinct_by_oracle_sql("lineitem", "l_returnflag", "l_partkey", k=64),
)
def q_kmv_distinct_by_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group KMV distinct estimate (distinct parts per return flag,
    k=64 so the estimator path — not the exact small-set path — is what
    the oracle certifies). The grouped, skew-safe sibling of
    kmv_distinct_parts: per-(group, hash-subsplit) local k-smallest first,
    then the exact per-group window over the bounded survivors."""
    return sketches.kmv_distinct_by(
        spread_sales(load_tables(spark, sf_dir))["lineitem"],
        "l_returnflag",
        "l_partkey",
        k=64,
    )


@register(
    "price_histogram",
    """
SELECT CAST(LEAST(FLOOR(l_extendedprice / 5000.0), 21) AS INT) AS bucket,
       CAST(LEAST(FLOOR(l_extendedprice / 5000.0), 21) AS INT)
         * CAST(5000.0 AS DOUBLE) AS bucket_lo,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_returned
FROM lineitem
GROUP BY 1, 2
""",
)
def q_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram profile of the price column (fixed bounds, so
    the whole profile is ONE map-side-combined aggregate over a bounded
    22-bucket key domain — the no-second-scan histogram a profiler wants
    at 100 TB), with a per-bucket conditional count riding along."""
    li = load_tables(spark, sf_dir)["lineitem"]
    bucket = F.least(F.floor(F.col("l_extendedprice") / 5000.0), F.lit(21)).cast(
        "int"
    )
    return (
        li.groupBy(
            bucket.alias("bucket"),
            (bucket * 5000.0).alias("bucket_lo"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("l_returnflag") == "R").cast("int")).alias(
                "n_returned"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Round-4 additions: span dedup, window-function panel, winsorization,
# per-language heavy hitters
# ---------------------------------------------------------------------------

_SPAN_CW = 8
_SPAN_MIN = 2

_SPAN_DEDUP_SQL = f"""
WITH toked AS (
  SELECT doc_id,
         regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
  FROM documents
  WHERE coalesce(trim(lower(text)), '') <> ''
),
chunks AS (
  SELECT doc_id,
    unnest(range(0, cast(ceil(len(toks) / {_SPAN_CW}.0) AS INT))) AS idx,
    unnest(list_transform(
      range(0, cast(ceil(len(toks) / {_SPAN_CW}.0) AS INT)),
      i -> array_to_string(
             toks[i * {_SPAN_CW} + 1 : i * {_SPAN_CW} + {_SPAN_CW}], ' ')))
      AS chunk
  FROM toked
),
hot AS (
  SELECT chunk FROM chunks GROUP BY chunk HAVING COUNT(*) >= {_SPAN_MIN}
),
flagged AS (
  SELECT c.doc_id, c.idx, c.chunk, h.chunk IS NOT NULL AS is_hot
  FROM chunks c LEFT JOIN hot h USING (chunk)
),
agg AS (
  SELECT doc_id,
    COUNT(*) AS n_chunks,
    COUNT(*) FILTER (WHERE is_hot) AS n_chunks_removed,
    coalesce(
      string_agg(chunk, ' ' ORDER BY idx) FILTER (WHERE NOT is_hot),
      '') AS text_clean
  FROM flagged GROUP BY doc_id
)
SELECT d.doc_id,
  coalesce(a.text_clean, '') AS text_clean,
  coalesce(a.n_chunks, 0) AS n_chunks,
  coalesce(a.n_chunks_removed, 0) AS n_chunks_removed
FROM documents d LEFT JOIN agg a USING (doc_id)
"""


@register("span_dedup", _SPAN_DEDUP_SQL)
def q_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style repeated-span scrub: every verbatim 8-word chunk that
    occurs >= 2 times corpus-wide is dropped from every document, and docs
    are reassembled from the surviving chunks (328 of 3609 chunk
    occurrences are corpus-repeated at sf0.01, so the operator does real
    deletion here). Linear shape: chunk-frequency agg -> hot-set broadcast
    join-back -> one doc_id shuffle to reassemble."""
    return dedup.span_dedup(
        load_tables(spark, sf_dir)["documents"],
        chunk_words=_SPAN_CW,
        min_count=_SPAN_MIN,
    )


_WINDOW_PANEL_SQL = f"""
SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice,
  lag(o_totalprice) OVER w AS prev_value,
  lead(o_totalprice) OVER w AS next_value,
  CAST(row_number() OVER w AS INT) AS seq,
  CAST(ntile(4) OVER w AS INT) AS tile,
  {_floor_round_sql("percent_rank() OVER w", 6)} AS pct_rank,
  {_floor_round_sql("cume_dist() OVER w", 6)} AS cume,
  {_floor_round_sql(
    "CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) OVER ("
    "PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey "
    "ROWS UNBOUNDED PRECEDING) AS DOUBLE)", 2)} AS running_total
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


@register("window_panel", _WINDOW_PANEL_SQL)
def q_window_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer order-history navigation panel: the lag/lead/
    row_number/ntile/percent_rank/cume_dist surface plus an exact-decimal
    running spend, all sharing ONE window sort (O-series coverage beyond
    the frame-based rolling windows). Ordering is total via the
    (o_orderdate, o_orderkey) tiebreak."""
    return an.window_function_panel(
        load_tables(spark, sf_dir)["orders"],
        partition="o_custkey",
        order_cols=["o_orderdate", "o_orderkey"],
        value="o_totalprice",
    )


from market_flow_spark.functions.aggregates import det_avg_sql  # noqa: E402

_WINSORIZE_SQL = f"""
WITH b AS (
  SELECT l_returnflag,
    {_floor_round_sql("quantile_cont(l_extendedprice, 0.05)", 4)} AS p_low,
    {_floor_round_sql("quantile_cont(l_extendedprice, 0.95)", 4)} AS p_high
  FROM lineitem GROUP BY l_returnflag
)
SELECT l.l_returnflag, b.p_low, b.p_high,
  COUNT(*) AS n_rows,
  COUNT(*) FILTER (WHERE l_extendedprice < b.p_low) AS n_clipped_low,
  COUNT(*) FILTER (WHERE l_extendedprice > b.p_high) AS n_clipped_high,
  {det_avg_sql("l_extendedprice", 4)} AS mean_raw,
  {det_avg_sql(
    "LEAST(GREATEST(l_extendedprice, b.p_low), b.p_high)", 4)}
    AS mean_winsorized
FROM lineitem l JOIN b USING (l_returnflag)
GROUP BY l.l_returnflag, b.p_low, b.p_high
"""


@register("winsorize_prices", _WINSORIZE_SQL)
def q_winsorize_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile winsorization summary per return flag: exact p05/p95
    bounds (det-rounded before the clip compare), clip counts, and the
    decimal-exact mean before/after. Two-pass: group-sized bounds
    aggregate, explicitly broadcast back over the fact scan."""
    return an.winsorize_summary(
        spread_sales(load_tables(spark, sf_dir))["lineitem"],
        "l_returnflag",
        "l_extendedprice",
    )


_TOP_TOKENS_SQL = """
WITH t AS (
  SELECT lang,
    unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS token
  FROM documents
),
c AS (
  SELECT lang, token, COUNT(*) AS cnt
  FROM t WHERE token <> '' GROUP BY lang, token
)
SELECT lang, token, cnt, rk FROM (
  SELECT lang, token, cnt,
    CAST(row_number() OVER (
      PARTITION BY lang ORDER BY cnt DESC, token) AS BIGINT) AS rk
  FROM c)
WHERE rk <= 5
"""


@register("top_tokens_per_lang", _TOP_TOKENS_SQL)
def q_top_tokens_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language vocabulary heads (top-5 tokens by total term
    frequency, ties broken by token): the corpus-health heavy-hitters
    view. Two-level shape — map-side-combined (lang, token) agg collapses
    the corpus to vocabulary cardinality before the rank window sorts
    anything."""
    return text.top_tokens_per_group(
        load_tables(spark, sf_dir)["documents"], group="lang", k=5
    )


# ---------------------------------------------------------------------------
# Round-4 additions (2): feature encoding, basket co-occurrence, gap fill
# ---------------------------------------------------------------------------

_FEATURE_PANEL_SQL = f"""
WITH s AS (
  SELECT l_returnflag,
    COUNT(l_extendedprice) AS n,
    CAST(SUM(CAST(l_extendedprice AS DECIMAL(27,6))) AS DOUBLE) AS s1,
    CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(27,6))
        * CAST(l_extendedprice AS DECIMAL(27,6)) AS DECIMAL(38,12)))
      AS DOUBLE) AS s2,
    MIN(l_extendedprice) AS lo,
    MAX(l_extendedprice) AS hi,
    COUNT(l_quantity) AS nq,
    CAST(SUM(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE) AS sq,
    COUNT(*) AS cat_count
  FROM lineitem GROUP BY l_returnflag
),
tot AS (SELECT CAST(SUM(cat_count) AS DOUBLE) AS total FROM s)
SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag,
  CASE WHEN s.n >= 2
        AND sqrt(GREATEST((s.s2 - s.n * (s.s1/s.n) * (s.s1/s.n))
                          / (s.n - 1), 0.0)) > 0
       THEN {_floor_round_sql(
         "(l.l_extendedprice - s.s1/s.n) / "
         "sqrt(GREATEST((s.s2 - s.n * (s.s1/s.n) * (s.s1/s.n))"
         " / (s.n - 1), 0.0))", 4)}
  END AS l_extendedprice_z,
  CASE WHEN s.hi - s.lo > 0
       THEN {_floor_round_sql(
         "(l.l_extendedprice - s.lo) / (s.hi - s.lo)", 4)}
  END AS l_extendedprice_mm,
  CASE WHEN s.nq >= 2
       THEN {_floor_round_sql(
         "(s.sq - l.l_quantity) / (s.nq - 1)", 4)}
  END AS l_returnflag_te,
  s.cat_count AS l_returnflag_count,
  {_floor_round_sql("s.cat_count / tot.total", 6)} AS l_returnflag_freq
FROM lineitem l JOIN s USING (l_returnflag) CROSS JOIN tot
"""


@register("feature_encode_panel", _FEATURE_PANEL_SQL)
def q_feature_encode_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The feature-engineering encoders over one fact scan: per-group
    z-score and min-max scaling of the price, leave-one-out target
    encoding of quantity by return flag, and frequency encoding of the
    flag itself. Round-12: the four encoders run as ONE fused stats
    aggregate + one broadcast join-back (``encode_panel``) instead of the
    chained per-operator form, whose stats pass k re-executed the k-1
    earlier broadcast joins — value-identical (operator test pins fused ==
    chained), 4 stats scans → 1."""
    from market_flow_spark.operators import features as feat

    li = spread_sales(load_tables(spark, sf_dir))["lineitem"]
    df = feat.encode_panel(li, "l_returnflag", "l_extendedprice", "l_quantity")
    return df.select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        "l_extendedprice_z",
        "l_extendedprice_mm",
        F.col("l_returnflag_te"),
        "l_returnflag_count",
        "l_returnflag_freq",
    )


_BASKET_PAIRS_SQL = """
WITH items AS (
  SELECT DISTINCT l_orderkey AS b, l_partkey AS it FROM lineitem
)
SELECT a.it AS item_a, b.it AS item_b, COUNT(*) AS support
FROM items a JOIN items b ON a.b = b.b AND a.it < b.it
GROUP BY a.it, b.it
HAVING COUNT(*) >= 2
"""


@register("basket_pairs", _BASKET_PAIRS_SQL)
def q_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent part pairs co-ordered in >= 2 orders. The Spark plan is
    NOT the oracle's self-join: baskets collapse to sorted item sets in
    one aggregate and pairs are emitted map-side via an indexed
    higher-order transform (see ``cooccurrence_pairs``)."""
    return an.cooccurrence_pairs(
        spread_sales(load_tables(spark, sf_dir))["lineitem"],
        basket="l_orderkey",
        item="l_partkey",
        min_support=2,
    )


_GAP_FILL_SQL = f"""
WITH monthly AS (
  SELECT n_name AS country,
         make_date(CAST(year(o_orderdate) AS INT),
                   CAST(month(o_orderdate) AS INT), 1) AS constructed_date,
         FLOOR((CAST(SUM(CAST(l_extendedprice AS DECIMAL(27,6))) AS DOUBLE)
                 / COUNT(l_extendedprice)) * 100.0 + 0.5) / 100.0 AS avg_price
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation   ON c_nationkey = n_nationkey
  GROUP BY 1, 2
),
bounds AS (
  SELECT country, MIN(constructed_date) AS lo, MAX(constructed_date) AS hi
  FROM monthly GROUP BY country
),
spine AS (
  SELECT country,
         CAST(unnest(generate_series(lo, hi, INTERVAL 1 MONTH)) AS DATE)
           AS constructed_date
  FROM bounds
),
j AS (
  SELECT s.country, s.constructed_date, m.avg_price
  FROM spine s LEFT JOIN monthly m USING (country, constructed_date)
)
SELECT country, constructed_date,
  last_value(avg_price IGNORE NULLS) OVER (
    PARTITION BY country ORDER BY constructed_date
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS avg_price,
  avg_price IS NULL AS is_gap
FROM j
"""


@register("gap_fill_months", _GAP_FILL_SQL)
def q_gap_fill_months(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regularized per-country monthly price series: each country's spine
    runs from its own first to last observed month, missing months are
    forward-filled and flagged. The spine explodes from the group-bounds
    aggregate — no global calendar cross join."""
    from market_flow_spark.queries import _sales_join

    monthly = (
        _sales_join(load_tables(spark, sf_dir))
        .withColumnRenamed("n_name", "country")
        .withColumn(
            "constructed_date",
            F.make_date(F.year("o_orderdate"), F.month("o_orderdate"), F.lit(1)),
        )
    )
    monthly = an.two_level_mean(
        monthly, "country", "constructed_date", "l_extendedprice"
    )
    return temporal.gap_fill_series(
        monthly,
        group="country",
        period_col="constructed_date",
        value_cols=["avg_price"],
        step="1 month",
    )


# ---------------------------------------------------------------------------
# Round-4 additions: bloom-pruned contamination, PMI collocations,
# exact-moment correlation panel
# ---------------------------------------------------------------------------

# Oracle is IDENTICAL to contamination_exact: the Bloom pre-prune has no
# false negatives, so the bloomed plan must reproduce the exact join's
# result row for row — which makes the scale optimization itself
# driver-checkable.
@register(
    "contamination_exact_bloomed",
    f"""
WITH n AS (
  SELECT doc_id,
         md5(substring(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'),
             1, 80)) AS fingerprint
  FROM documents
),
tr AS (SELECT doc_id AS train_doc_id, fingerprint FROM n WHERE {_CONTAM_SPLIT[0]}),
te AS (SELECT doc_id AS test_doc_id, fingerprint FROM n WHERE {_CONTAM_SPLIT[1]})
SELECT te.test_doc_id, tr.train_doc_id, fingerprint FROM te JOIN tr USING (fingerprint)
""",
)
def q_contamination_exact_bloomed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact contamination with the Bloom-filter probe prune: the training
    corpus's fingerprints fold into a 128 KiB bit table (bounded collect,
    same contract as the IVF centroid sample) embedded in the probe scan,
    so only could-match probe rows enter the equi-join's shuffle. Result
    equals contamination_exact by construction (zero false negatives);
    past-window — the full oracle runs in pytest."""
    docs = load_tables(spark, sf_dir)["documents"]
    return dedup.exact_contamination_bloomed(
        docs.filter(F.expr(_CONTAM_SPLIT[0])),
        docs.filter(F.expr(_CONTAM_SPLIT[1])),
        prefix_len=80,
    )


@register("pmi_collocations", text.pmi_collocations_oracle_sql(min_count=5, k=50))
def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 adjacent-word collocations by PMI (pairs seen >= 5 times):
    one tokenize pass, vocabulary-bounded aggregates, TakeOrdered top-k.
    Past-window — the explode/agg machinery is in-window via text_profile
    and dedup_word_jaccard; full oracle in pytest."""
    return text.pmi_collocations(
        load_tables(spark, sf_dir)["documents"], min_count=5, k=50
    )


@register(
    "corr_quantity_price",
    """
WITH g AS (
  SELECT l_returnflag,
         COUNT(*) AS n,
         CAST(SUM(CAST(l_quantity AS DECIMAL(19,4))) AS DECIMAL(38,4)) AS sx,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(19,4))) AS DECIMAL(38,4)) AS sy,
         SUM(CAST(CAST(l_quantity AS DECIMAL(19,4))
                  * CAST(l_extendedprice AS DECIMAL(19,4)) AS DECIMAL(38,8)))
           AS sxy,
         SUM(CAST(CAST(l_quantity AS DECIMAL(19,4))
                  * CAST(l_quantity AS DECIMAL(19,4)) AS DECIMAL(38,8))) AS sxx,
         SUM(CAST(CAST(l_extendedprice AS DECIMAL(19,4))
                  * CAST(l_extendedprice AS DECIMAL(19,4)) AS DECIMAL(38,8)))
           AS syy
  FROM lineitem GROUP BY l_returnflag
),
d AS (
  SELECT l_returnflag, n,
         CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd,
         CAST(sy AS DOUBLE) AS syd, CAST(sxy AS DOUBLE) AS sxyd,
         CAST(sxx AS DOUBLE) AS sxxd, CAST(syy AS DOUBLE) AS syyd
  FROM g
),
m AS (
  SELECT l_returnflag, n,
         nd * sxyd - sxd * syd AS cov_n,
         nd * sxxd - sxd * sxd AS varx_n,
         nd * syyd - syd * syd AS vary_n,
         sxd, syd, nd
  FROM d
)
SELECT l_returnflag, n,
  CASE WHEN varx_n > 0 AND vary_n > 0 THEN
    FLOOR((cov_n / sqrt(varx_n * vary_n)) * 1000000 + 0.5) / 1000000 END
    AS corr_xy,
  CASE WHEN varx_n > 0 THEN
    FLOOR((cov_n / varx_n) * 1000000 + 0.5) / 1000000 END AS slope,
  CASE WHEN varx_n > 0 THEN
    FLOOR(((syd - (cov_n / varx_n) * sxd) / nd) * 1000000 + 0.5) / 1000000 END
    AS intercept
FROM m
""",
)
def q_corr_quantity_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag Pearson correlation + OLS fit of extendedprice on
    quantity from exact decimal moment sums — associativity-safe where a
    floating corr() merge is not. One map-side-combined aggregate. Past-
    window: the grouped-aggregate machinery is in-window via
    sales_agg_profile; full oracle in pytest."""
    return an.corr_regression_panel(
        spread_sales(load_tables(spark, sf_dir))["lineitem"],
        group="l_returnflag",
        x="l_quantity",
        y="l_extendedprice",
    )


@register(
    "view_click_attribution",
    """
WITH v AS (
  SELECT user_id, ts AS view_ts, event_id AS view_event_id
  FROM events WHERE event_type = 'view'
),
c AS (
  SELECT user_id, ts AS click_ts, event_id AS click_event_id,
         value AS click_value
  FROM events WHERE event_type = 'click'
)
SELECT v.user_id, v.view_ts, c.click_ts, v.view_event_id,
       c.click_event_id, c.click_value
FROM v JOIN c
  ON v.user_id = c.user_id
 AND c.click_ts >= v.view_ts
 AND c.click_ts <= v.view_ts + INTERVAL 1 HOUR
""",
)
def q_view_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed interval join (ALL view→click pairs within the hour) — the
    batch twin of the watermarked stream-stream attribution join
    (streaming parity in tests/test_streaming.py). Past-window: the keyed
    temporal-join family is in-window via asof_last_view and
    range_join_nearby; full oracle in pytest."""
    from market_flow_spark.streaming import joins as J

    return J.view_click_attribution(
        load_tables(spark, sf_dir)["events"], max_delay="1 hour"
    )


_PR_EDGES_SQL = """
SELECT l_partkey AS src, l_suppkey + 10000000 AS dst FROM lineitem
UNION
SELECT l_suppkey + 10000000 AS src, l_partkey AS dst FROM lineitem
"""


@register(
    "pagerank_part_supplier",
    __import__(
        "market_flow_spark.operators.graph", fromlist=["pagerank_oracle_sql"]
    ).pagerank_oracle_sql(_PR_EDGES_SQL, n_iter=8),
)
def q_pagerank_part_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the symmetrized part↔supplier co-occurrence graph
    (8 fixed-point rounds): the iterative-graph companion to the
    connected-components tier — rank concentration surfaces hub suppliers
    / hot parts. Symmetrizing makes the bipartite graph dangling-free, so
    the no-redistribution formulation conserves interpretation. Past-
    window: per-round join+agg machinery is in-window via
    dedup-cluster-adjacent shapes; full oracle (unrolled CTE chain) in
    pytest."""
    from market_flow_spark.operators import graph

    li = load_tables(spark, sf_dir)["lineitem"]
    pairs = li.select(
        F.col("l_partkey").alias("p"),
        (F.col("l_suppkey") + F.lit(10_000_000)).alias("s"),
    ).distinct()
    edges = pairs.select(F.col("p").alias("src"), F.col("s").alias("dst")).union(
        pairs.select(F.col("s").alias("src"), F.col("p").alias("dst"))
    )
    return graph.pagerank(edges, n_iter=8)


@register(
    "kfold_orders",
    """
SELECT CAST(CAST(('0x' || substring(md5('kfold:' || CAST(o_orderkey AS VARCHAR)), 1, 8))
            AS UBIGINT) % 5 AS INT) AS fold,
       COUNT(*) AS n_orders,
       COUNT(DISTINCT o_custkey) AS n_customers
FROM orders
GROUP BY 1
""",
)
def q_kfold_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-addressed 5-fold assignment over orders, summarized as
    per-fold row / customer counts (balance check). Append-stable: a new
    order never moves an old one between folds. Past-window: the
    hash-draw machinery is in-window via train_test_split; full oracle in
    pytest."""
    from market_flow_spark.extensions import sampling

    folded = sampling.assign_kfold(
        load_tables(spark, sf_dir)["orders"], "o_orderkey", k=5
    )
    return folded.groupBy("fold").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_customers"),
    )


@register(
    "weighted_sample_docs",
    """
WITH s AS (
  SELECT doc_id, lang, n_chars,
         ln((CAST(('0x' || substr(md5('wsample:' || CAST(doc_id AS VARCHAR)),
              1, 8)) AS UBIGINT) + 1.0) / 4294967296.0)
           / CAST(n_chars AS DOUBLE) AS es
  FROM documents
  WHERE n_chars IS NOT NULL AND n_chars > 0
),
r AS (
  SELECT doc_id, lang, n_chars, ROW_NUMBER() OVER (
    PARTITION BY lang ORDER BY es DESC, doc_id ASC) AS rn
  FROM s
)
SELECT doc_id, lang, n_chars FROM r WHERE rn <= 20
""",
)
def q_weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Efraimidis-Spirakis weighted sampling without replacement: 20 docs
    per language, inclusion probability proportional to length — the
    deterministic 'sample long documents preferentially' draw a mixture
    builder runs. Past-window: the window-rank machinery is in-window via
    quota_cap; full oracle in pytest."""
    from market_flow_spark.extensions import sampling

    docs = load_tables(spark, sf_dir)["documents"]
    return sampling.weighted_sample_per_group(
        docs, group_col="lang", key_col="doc_id", weight_col="n_chars", n=20
    ).select("doc_id", "lang", "n_chars")


def _profile_oracle(cols: list[str]) -> str:
    legs = ",\n  ".join(
        f"CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_{c},\n"
        f"  COUNT(DISTINCT {c}) AS d_{c},\n"
        f"  CAST(MIN({c}) AS VARCHAR) AS mn_{c},\n"
        f"  CAST(MAX({c}) AS VARCHAR) AS mx_{c}"
        for c in cols
    )
    unions = "\nUNION ALL\n".join(
        f"SELECT '{c}' AS column, n_{c} AS n_nulls, d_{c} AS n_distinct,"
        f" mn_{c} AS min_value, mx_{c} AS max_value FROM g"
        for c in cols
    )
    return f"WITH g AS (\n  SELECT {legs}\n  FROM orders\n)\n{unions}"


@register(
    "profile_orders",
    _profile_oracle(["o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate"]),
)
def q_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-scan column profile of orders (nulls / exact distinct / min /
    max per column, lazily unpivoted). Past-window: the fused-aggregate
    machinery is in-window via table_audit; full oracle in pytest. The
    approx (HLL++) mode is the 100 TB default and is tolerance-tested in
    pytest instead (engine-specific registers, no oracle)."""
    return an.profile_columns(
        spread_to_cores(load_tables(spark, sf_dir)["orders"], "o_orderkey"),
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate"],
        exact=True,
    )


@register(
    "fuzzy_customer_names",
    dedup.fuzzy_pairs_lev1_oracle_sql(
        "(SELECT * FROM customer WHERE c_custkey % 4 = 0)",
        "c_custkey",
        "c_name",
    ),
)
def q_fuzzy_customer_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution fuzzy join: customer-name pairs within edit
    distance 1, via SymSpell deletion-neighborhood blocking + in-row
    levenshtein verify — exact, never an all-pairs matrix. The demo runs
    on a quarter of customers: sequential synthetic names make the FULL
    table pathologically pair-dense (~18 true neighbors per name at
    sf0.1), so the unrestricted run is output-bound — the subset keeps
    the benched cost about the operator, not about materializing 260k
    demo pairs. Past-window: the blocked self-join machinery is
    in-window via dedup_exact / simhash_pairs; full oracle in pytest."""
    return dedup.fuzzy_pairs_lev1(
        spread_to_cores(
            load_tables(spark, sf_dir)["customer"], "c_custkey"
        ).filter(
            F.col("c_custkey") % 4 == 0
        ),
        "c_custkey",
        "c_name",
    )


@register(
    "cdc_apply_orders",
    """
WITH ch AS (
  SELECT CASE WHEN o_orderkey % 100 = 0 THEN 'D'
              WHEN o_orderkey % 100 = 1 THEN 'U'
              ELSE NULL END AS op,
         o_orderkey, o_custkey, o_orderstatus,
         CASE WHEN o_orderkey % 100 = 1 THEN o_totalprice + 1.0
              ELSE o_totalprice END AS o_totalprice,
         o_orderdate, o_orderpriority
  FROM orders
  WHERE o_orderkey % 100 IN (0, 1)
),
untouched AS (
  SELECT o.* FROM orders o
  WHERE NOT EXISTS (SELECT 1 FROM ch WHERE ch.o_orderkey = o.o_orderkey)
)
SELECT * FROM untouched
UNION ALL
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
       o_orderpriority
FROM ch WHERE op <> 'D'
""",
)
def q_cdc_apply_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC apply: a change batch (deletes for keys %100==0, price bumps
    for %100==1) merged onto the orders snapshot — deletes vanish,
    updates win, the rest pass through. Past-window: the anti-join +
    union machinery is in-window via upsert_plan; full oracle in
    pytest."""
    from market_flow_spark.operators import incremental

    orders = load_tables(spark, sf_dir)["orders"]
    changes = (
        orders.filter(F.col("o_orderkey") % 100 < 2)
        .withColumn(
            "op",
            F.when(F.col("o_orderkey") % 100 == 0, F.lit("D")).otherwise(
                F.lit("U")
            ),
        )
        .withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderkey") % 100 == 1, F.col("o_totalprice") + 1.0
            ).otherwise(F.col("o_totalprice")),
        )
    )
    return incremental.apply_cdc(orders, changes, on=["o_orderkey"])


@register(
    "event_transitions",
    """
WITH seq AS (
  SELECT event_type,
         LEAD(event_type) OVER (
           PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS next_type
  FROM events
),
pairs AS (
  SELECT event_type AS from_type, next_type AS to_type, COUNT(*) AS n
  FROM seq WHERE next_type IS NOT NULL
  GROUP BY 1, 2
)
SELECT from_type, to_type, n,
       FLOOR(n / (SUM(n) OVER (PARTITION BY from_type)) * 1000000 + 0.5)
         / 1000000 AS prob
FROM pairs
""",
)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over user event sequences
    (counts + row-normalized probabilities). Past-window: the lag-window
    + grouped-count machinery is in-window via rolling_ma30 /
    session_windows; full oracle in pytest."""
    from market_flow_spark.operators.funnel import event_transition_matrix

    return event_transition_matrix(load_tables(spark, sf_dir)["events"])


@register(
    "tfidf_doc_similarity",
    __import__(
        "market_flow_spark.extensions.retrieval", fromlist=["tfidf_topk_oracle_sql"]
    ).tfidf_topk_oracle_sql(n_queries=5, k=5),
)
def q_tfidf_doc_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed TF-IDF sparse-cosine doc-to-doc top-k: the inverted-index
    lexical complement to dense-embedding cosine_topk and query-scoring
    BM25; all dot products exact fixed-point BIGINT sums. Past-window:
    the postings-join machinery is in-window via dedup_word_jaccard /
    cosine_topk; full oracle in pytest."""
    from market_flow_spark.extensions import retrieval

    return retrieval.tfidf_doc_topk(
        load_tables(spark, sf_dir)["documents"], n_queries=5, k=5
    )


@register(
    "profile_drift_orders",
    """
WITH old_side AS (SELECT * FROM orders WHERE o_orderkey % 2 = 0),
new_side AS (SELECT * FROM orders WHERE o_orderkey % 2 = 1),
go AS (
  SELECT CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_cust,
         COUNT(DISTINCT o_custkey) AS d_cust,
         CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_stat,
         COUNT(DISTINCT o_orderstatus) AS d_stat,
         COUNT(*) AS rows_old
  FROM old_side
),
gn AS (
  SELECT CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_cust,
         COUNT(DISTINCT o_custkey) AS d_cust,
         CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_stat,
         COUNT(DISTINCT o_orderstatus) AS d_stat,
         COUNT(*) AS rows_new
  FROM new_side
),
legs AS (
  SELECT 'o_custkey' AS "column", go.n_cust AS n_nulls_old, gn.n_cust AS n_nulls_new,
         go.d_cust AS n_distinct_old, gn.d_cust AS n_distinct_new,
         go.rows_old, gn.rows_new
  FROM go CROSS JOIN gn
  UNION ALL
  SELECT 'o_orderstatus', go.n_stat, gn.n_stat, go.d_stat, gn.d_stat,
         go.rows_old, gn.rows_new
  FROM go CROSS JOIN gn
)
SELECT "column", n_nulls_old, n_nulls_new, n_distinct_old, n_distinct_new,
       FLOOR((COALESCE(n_nulls_new / GREATEST(rows_new, 1), 0)
              - COALESCE(n_nulls_old / GREATEST(rows_old, 1), 0))
             * 1000000 + 0.5) / 1000000 AS null_rate_delta,
       COALESCE(n_distinct_new, 0) - COALESCE(n_distinct_old, 0)
         AS distinct_delta
FROM legs
""",
)
def q_profile_drift_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot drift report between the even- and odd-key halves of
    orders (null counts, exact distincts, null-rate and cardinality
    deltas per column). Past-window: the fused-profile machinery is
    in-window via table_audit; full oracle in pytest."""
    orders = load_tables(spark, sf_dir)["orders"]
    return an.profile_drift(
        orders.filter(F.col("o_orderkey") % 2 == 0),
        orders.filter(F.col("o_orderkey") % 2 == 1),
        ["o_custkey", "o_orderstatus"],
        exact=True,
    )


@register(
    "top_values_orders",
    """
WITH unp AS (
  SELECT 'o_orderstatus' AS "column", CAST(o_orderstatus AS VARCHAR) AS value
  FROM orders
  UNION ALL
  SELECT 'o_orderpriority', CAST(o_orderpriority AS VARCHAR) FROM orders
),
counts AS (
  SELECT "column", value, COUNT(*) AS n FROM unp GROUP BY 1, 2
),
r AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY "column" ORDER BY n DESC, value ASC NULLS LAST) AS rank
  FROM counts
)
SELECT "column", value, n, CAST(rank AS INT) AS rank FROM r WHERE rank <= 3
""",
)
def q_top_values_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 most frequent values of the categorical orders columns in
    one unpivoted scan. Past-window: the unpivot+rank machinery is
    in-window via top10_products; full oracle in pytest."""
    return an.top_values_per_column(
        load_tables(spark, sf_dir)["orders"],
        ["o_orderstatus", "o_orderpriority"],
        k=3,
    )


@register("bigram_logprob", text.bigram_logprob_oracle_sql(lam=0.7))
def q_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated-bigram LM fluency score per document (word order now
    matters, unlike the unigram rung). Past-window: the corpus-frequency
    join-back machinery is in-window via dedup_word_jaccard /
    text_profile; full oracle in pytest."""
    return text.bigram_logprob(load_tables(spark, sf_dir)["documents"])


@register("langid_trigram", text.char_trigram_langid_oracle_sql())
def q_langid_trigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cavnar-Trenkle char-trigram language ID: per-language rank
    profiles from the corpus's own labels, out-of-place distance
    classification — all-integer arithmetic. Past-window: the
    explode/rank machinery is in-window via text_profile /
    top10_products; full oracle in pytest."""
    return text.char_trigram_langid(load_tables(spark, sf_dir)["documents"])


@register(
    "dedup_cluster_sizes",
    f"""
WITH keep AS ({_clusters_oracle()}),
sizes AS (
  SELECT cluster_id, COUNT(*) AS cluster_size FROM keep GROUP BY 1
)
SELECT cluster_size, COUNT(*) AS n_clusters,
       CAST(SUM(cluster_size) AS BIGINT) AS n_docs
FROM sizes GROUP BY 1
""",
)
def q_dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster-size distribution (how much of the corpus sits in
    2-doc pairs vs big boilerplate families) — the dedup-audit readout a
    curation run reports. Derives from the same components as
    dedup_clusters_minhash; one extra two-level aggregate. Past-window;
    full oracle (recursive CTE) in pytest."""
    docs = load_tables(spark, sf_dir)["documents"]
    keep = dedup.dedup_keep_list(docs, dedup.minhash_lsh_pairs(docs, threshold=0.8))
    sizes = keep.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum("cluster_size").cast("bigint").alias("n_docs"),
    )


# ---------------------------------------------------------------------------
# Native DataSketches layer (round 4): mergeable theta / HLL / KLL
# ---------------------------------------------------------------------------

from market_flow_spark.extensions import datasketches  # noqa: E402


@register(
    "theta_rollup_custkeys",
    datasketches.theta_rollup_oracle_sql("orders", "o_orderpriority", "o_custkey"),
)
def q_theta_rollup_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch distinct rollup: per-priority distinct customer
    counts plus a grand total computed by UNION-MERGING the per-group
    sketches — the sketch-cube pattern (coarse grain answered from the
    fine grain's sketch table, no second scan). Exact mode below 2^lgk
    entries makes the whole thing hash-checkable against DuckDB's exact
    GROUPING SETS oracle at sf0.01 (per-group ~1.3k, total 1.5k distinct
    — every group count genuinely differs), while the identical plan
    degrades to ~±0.55% estimates at 100 TB (the lgk=15 band,
    RSE ≈ 1/√32768; the lgk=12 default's band is ±1.6%). Reference has
    no approx aggregates (SURVEY §2.4); this is the production tier
    above the oracle-exact KMV. Registered at lgk=15 (32 768 nominal
    entries) so
    exact mode covers every LOCALLY-SWEPT scale too — the round-11
    sf0.1 deep sweep's grain cardinality (~15 k distinct custkeys) sits
    past the lgk=12 default's 4 096-entry exact window, which is the
    documented ±1.6 % estimation regime, not a defect; the estimation
    band itself is certified by tests/test_datasketches.py."""
    return datasketches.theta_distinct_rollup(
        load_tables(spark, sf_dir)["orders"], "o_orderpriority", "o_custkey",
        lgk=15,
    )


@register(
    "theta_overlap_years",
    datasketches.theta_overlap_oracle_sql(
        "orders",
        "o_custkey",
        "year(o_orderdate) = 1995",
        "year(o_orderdate) = 2001",
    ),
)
def q_theta_overlap_years(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta set algebra between two corpora: union / intersection /
    difference of the customer sets active in 1995 vs 2001 (a customer-
    churn readout), from ONE sketch per side — a 1x1 crossJoin at any
    scale. The difference estimator is the capability KMV's Jaccard
    combinator cannot express; exact mode keeps every estimate
    oracle-checked here. Registered at lgk=15 so exact mode covers the
    sf0.1 deep sweep's per-year sets (~11.7 k each, union ~23 k) too —
    see theta_rollup_custkeys' docstring for the round-11 note."""
    orders = load_tables(spark, sf_dir)["orders"]
    return datasketches.theta_overlap(
        orders.filter(F.year("o_orderdate") == 1995),
        orders.filter(F.year("o_orderdate") == 2001),
        "o_custkey",
        lgk=15,
    )


# ---------------------------------------------------------------------------
# VARIANT semi-structured tier + UNPIVOT (round 4)
# ---------------------------------------------------------------------------

from market_flow_spark.functions import semistructured  # noqa: E402


@register(
    "variant_events_stats",
    """
SELECT event_type AS etype,
       COUNT(*) AS n_events,
       FLOOR(SUM(CAST(value AS DECIMAL(27,6))) * 100.0 + 0.5) / 100.0
         AS sum_value,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(MAX(CAST(json_extract_string(props, '$.k') AS INT)) AS INT)
         AS max_k
FROM events
GROUP BY 1
""",
)
def q_variant_events_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VARIANT round trip: compose each event into one JSON document,
    parse_json it ONCE into a binary variant, pull four typed columns
    back out with try_variant_get (string / double / array index /
    nested path), and aggregate those. The oracle aggregates the SOURCE
    columns directly, so the hash match proves construct→parse→extract
    is value-exact. This is the 100 TB semi-structured tier above
    q_json_props_stats' per-field string re-parse: one parse per row,
    and parquet variant shredding restores pruning for paths."""
    return semistructured.variant_round_trip_stats(
        # r12: conditional keyed spread — the JSON compose+parse+extract is
        # the whole cost and ran serially on the single-row-group scan
        spread_to_cores(load_tables(spark, sf_dir)["events"], "event_id")
    )


@register(
    "unpivot_flag_metrics",
    """
WITH wide AS (
  SELECT l_returnflag,
         CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty,
         CAST(SUM(l_extendedprice) AS DOUBLE) AS sum_price,
         CAST(COUNT(*) AS DOUBLE) AS n_rows
  FROM lineitem GROUP BY 1
)
SELECT l_returnflag, metric, value
FROM wide
UNPIVOT (value FOR metric IN (sum_qty, sum_price, n_rows))
""",
)
def q_unpivot_flag_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long reshape via the native UNPIVOT operator (Expand, one
    pass, no join/union-of-selects): per-returnflag metric panel melted
    to (flag, metric, value) rows — the shape feature stores and metric
    sinks ingest. Unpivot is the one relational reshape the repo's pivot
    coverage (pivot_returnflag) didn't yet exercise; DuckDB's UNPIVOT is
    the exact oracle."""
    li = load_tables(spark, sf_dir)["lineitem"]
    wide = li.groupBy("l_returnflag").agg(
        F.sum("l_quantity").cast("double").alias("sum_qty"),
        F.sum("l_extendedprice").cast("double").alias("sum_price"),
        F.count(F.lit(1)).cast("double").alias("n_rows"),
    )
    return wide.unpivot(
        ["l_returnflag"], ["sum_qty", "sum_price", "n_rows"], "metric", "value"
    )


# ---------------------------------------------------------------------------
# Web-corpus URL tier (extensions/web.py) — canonicalize / dedup / rollup
# ---------------------------------------------------------------------------
# documents.parquet carries no URL column, so each query synthesizes a
# deterministic absolute URL per document (identically in Spark and in the
# oracle) that exercises EVERY canonicalization rule: mixed case, www.,
# an explicit :443, a '//' run, a trailing slash, tracking params, unsorted
# params, and a fragment.


def _synth_url() -> F.Column:
    d = F.col("doc_id")

    def s(c):
        return c.cast("string")

    return F.concat(
        F.lit("HTTPS://WWW."),
        F.col("source"),
        F.lit(".Shop-"),
        F.col("lang"),
        F.lit(".COM"),
        F.when(d % 3 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/cat//"),
        s(d % 40),
        F.when(d % 2 == 0, F.lit("/")).otherwise(F.lit("")),
        F.lit("?utm_source=feed&b="),
        F.col("lang"),
        F.lit("&a="),
        s(d % 5),
        F.when(d % 4 == 0, F.concat(F.lit("&fbclid=x"), s(d))).otherwise(
            F.lit("")
        ),
        F.when(d % 7 == 0, F.concat(F.lit("#sec"), s(d))).otherwise(F.lit("")),
    )


_SYNTH_URL_SQL = """
'HTTPS://WWW.' || source || '.Shop-' || lang || '.COM'
|| CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END
|| '/cat//' || CAST(doc_id % 40 AS VARCHAR)
|| CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END
|| '?utm_source=feed&b=' || lang || '&a=' || CAST(doc_id % 5 AS VARCHAR)
|| CASE WHEN doc_id % 4 = 0 THEN '&fbclid=x' || CAST(doc_id AS VARCHAR)
   ELSE '' END
|| CASE WHEN doc_id % 7 = 0 THEN '#sec' || CAST(doc_id AS VARCHAR)
   ELSE '' END
"""

# DuckDB twin of web.canonical_url over a (doc_id, url) CTE named u:
# fragment off first, then scheme/host/path/query by the same regexes.
_CANON_CTE_SQL = f"""
nf AS (
  SELECT doc_id, regexp_replace(trim(url), '#.*', '') AS nofrag FROM u
),
parts AS (
  SELECT doc_id,
    lower(regexp_extract(nofrag,
      '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
    regexp_replace(regexp_replace(
      lower(regexp_extract(nofrag,
        '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)),
      '^www\\.', ''), ':(80|443)$', '') AS host,
    regexp_extract(nofrag,
      '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS rawpath,
    regexp_extract(nofrag, '\\?(.*)', 1) AS q
  FROM nf
),
canon AS (
  SELECT doc_id, scheme, host,
    scheme || '://' || host
      || (CASE WHEN p2 = '' THEN '/' ELSE p2 END)
      || (CASE WHEN cq <> '' THEN '?' || cq ELSE '' END) AS canonical_url
  FROM (
    SELECT doc_id, scheme, host,
      regexp_replace(regexp_replace(rawpath, '/{{2,}}', '/', 'g'),
                     '/+$', '') AS p2,
      array_to_string(list_sort(list_filter(string_split(q, '&'),
        p -> p <> '' AND NOT regexp_matches(p,
          '^(utm_[^=]*|fbclid|gclid|ref|mc_eid)(=|$)'))), '&') AS cq
    FROM parts
  )
)
"""


@register(
    "url_canonical_dedup",
    f"""
WITH u AS (
  SELECT doc_id, {_SYNTH_URL_SQL} AS url FROM documents
),
{_CANON_CTE_SQL}
SELECT canonical_url,
       MIN(doc_id) AS keep_doc_id,
       COUNT(*) AS n_dups
FROM canon
GROUP BY 1
ORDER BY 1
""",
)
def q_url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level exact dedup after canonicalization: the CommonCrawl-style
    recrawl collapse (case, www., default port, '//' runs, trailing
    slash, tracking params, param order, fragments all normalized away).
    Scan-local column algebra + ONE hash aggregate on the canonical URL —
    at 100 TB the shuffle key is high-cardinality and partitions evenly."""
    docs = load_tables(spark, sf_dir)["documents"]
    return web.url_dedup(docs.withColumn("url", _synth_url())).orderBy(
        "canonical_url"
    )


@register(
    "domain_url_stats",
    f"""
WITH u AS (
  SELECT doc_id, {_SYNTH_URL_SQL} AS url FROM documents
),
{_CANON_CTE_SQL}
SELECT regexp_extract(host, '([^.]+\\.[^.]+)$', 1) AS domain,
       COUNT(*) AS n_pages,
       COUNT(DISTINCT host) AS n_hosts,
       COUNT(DISTINCT canonical_url) AS n_canonical,
       {_floor_round_sql(
           "COUNT(*) / COUNT(DISTINCT canonical_url)", 4
       )} AS dup_ratio
FROM canon
GROUP BY 1
ORDER BY 1
""",
)
def q_domain_url_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per registered-domain crawl rollup (pages, hosts, canonical URLs,
    duplication ratio) — the quota/selection input of a crawl pipeline.
    Host + canonical URL computed in the same scan projection; ONE
    aggregate on domain."""
    docs = load_tables(spark, sf_dir)["documents"]
    return web.domain_stats(docs.withColumn("url", _synth_url())).orderBy(
        "domain"
    )


# ---------------------------------------------------------------------------
# Naive-Bayes corpus classifier (extensions/classify.py)
# ---------------------------------------------------------------------------

_NB_ORACLE = """
WITH train AS (SELECT * FROM documents WHERE doc_id % 5 <> 0),
test AS (SELECT * FROM documents WHERE doc_id % 5 = 0),
tr_occ AS (
  SELECT lang AS label,
         unnest(list_filter(
           regexp_split_to_array(trim(lower(text)), '\\s+'),
           x -> x <> '')) AS w
  FROM train
),
counts AS (SELECT label, w, COUNT(*) AS c FROM tr_occ GROUP BY 1, 2),
totals AS (SELECT label, SUM(c) AS total FROM counts GROUP BY 1),
vocab AS (SELECT DISTINCT w FROM tr_occ),
vsize AS (SELECT COUNT(*) AS v FROM vocab),
docn AS (SELECT lang AS label, COUNT(*) AS n_docs FROM train GROUP BY 1),
nall AS (SELECT COUNT(*) AS n_all FROM train),
grid AS (
  SELECT t.label, vo.w,
    CAST(FLOOR(ln((COALESCE(c.c, 0) + 1.0) / (t.total + 1.0 * s.v))
               * 1000000 + 0.5) AS BIGINT) AS loglik_fp
  FROM vocab vo
  CROSS JOIN totals t
  LEFT JOIN counts c ON c.label = t.label AND c.w = vo.w
  CROSS JOIN vsize s
),
lab AS (
  SELECT t.label,
    CAST(FLOOR(ln(1.0 / (t.total + 1.0 * s.v)) * 1000000 + 0.5)
         AS BIGINT) AS default_fp,
    CAST(FLOOR(ln(CAST(d.n_docs AS DOUBLE) / a.n_all) * 1000000 + 0.5)
         AS BIGINT) AS prior_fp
  FROM totals t
  JOIN docn d USING (label)
  CROSS JOIN vsize s
  CROSS JOIN nall a
),
te AS (
  SELECT doc_id, lang,
         list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                     x -> x <> '') AS toks
  FROM test
),
te_occ AS (SELECT doc_id, unnest(toks) AS w FROM te),
known AS (
  SELECT o.doc_id, g.label,
         SUM(g.loglik_fp) AS known_fp,
         COUNT(*) AS n_known
  FROM te_occ o JOIN grid g ON g.w = o.w
  GROUP BY 1, 2
),
scored AS (
  SELECT dg.doc_id, dg.lang, dg.label,
    COALESCE(k.known_fp, 0)
      + (dg.n_tokens - COALESCE(k.n_known, 0)) * dg.default_fp
      + dg.prior_fp AS score_fp
  FROM (SELECT te.doc_id, te.lang, len(te.toks) AS n_tokens,
               l.label, l.default_fp, l.prior_fp
        FROM te CROSS JOIN lab l) dg
  LEFT JOIN known k ON k.doc_id = dg.doc_id AND k.label = dg.label
),
pred AS (
  SELECT doc_id, lang AS actual, label AS predicted,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY score_fp DESC, label ASC) AS rn
  FROM scored
)
SELECT actual, predicted, COUNT(*) AS n_docs
FROM pred WHERE rn = 1
GROUP BY 1, 2
ORDER BY 1, 2
"""


@register("nb_classify_lang", _NB_ORACLE)
def q_nb_classify_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes trained on the doc_id%5!=0 split of the
    corpus (label = lang), applied to the held-out split; output is the
    confusion matrix (actual, predicted, n_docs). Fixed-point BIGINT
    log-likelihoods make the scores integer sums — order-independent and
    bit-identical to the oracle. ONE tokenize pass per split; the model
    is a vocab-bounded grid, never a driver-side object."""
    docs = load_tables(spark, sf_dir)["documents"]
    train = docs.filter(F.col("doc_id") % 5 != 0)
    test = docs.filter(F.col("doc_id") % 5 == 0)
    grid, labels = classify.nb_train(train, "lang")
    pred = classify.nb_predict(test, grid, labels)
    return classify.nb_confusion(test, pred, "lang").orderBy(
        "actual", "predicted"
    )


# ---------------------------------------------------------------------------
# EWMA — recursive window as a closed-form prefix sum (operators/temporal.py)
# ---------------------------------------------------------------------------

_EWMA_ALPHA = 0.3


def _ewma_oracle(alpha: float = _EWMA_ALPHA) -> str:
    q = 1.0 - alpha
    return f"""
WITH monthly AS (
  SELECT l_returnflag,
         CAST(date_trunc('month', l_shipdate) AS DATE) AS month,
         {_floor_round_sql(
             "CAST(SUM(CAST(l_extendedprice AS DECIMAL(27,6))) AS DOUBLE)"
             " / COUNT(l_extendedprice)", 2
         )} AS avg_price
  FROM lineitem
  GROUP BY 1, 2
),
rn AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY l_returnflag
                               ORDER BY month) AS rn
  FROM monthly
),
t AS (
  SELECT *, CASE WHEN rn = 1 THEN avg_price * {1.0 / q}
                 ELSE {alpha} * avg_price * POWER({q}, -rn) END AS t
  FROM rn
),
s AS (
  SELECT l_returnflag, month, avg_price,
         POWER({q}, rn)
           * SUM(t) OVER (PARTITION BY l_returnflag ORDER BY month
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS y
  FROM t
)
SELECT l_returnflag, month, avg_price,
       {_floor_round_sql("y", 4)} AS ewma_price
FROM s
ORDER BY 1, 2
"""


@register("ewma_monthly_price", _ewma_oracle())
def q_ewma_monthly_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA-smoothed monthly average price per returnflag — the recursive
    y_n = a*x_n + (1-a)*y_{n-1} computed EXACTLY as one ordered prefix
    sum per group (closed form in temporal.ewma; no UDF, no loop). The
    fact scan pre-aggregates to monthly grain first, which both bounds
    the series length under the documented double-range limit and is what
    an analyst smooths anyway."""
    from market_flow_spark.functions.aggregates import det_avg, det_round

    li = load_tables(spark, sf_dir)["lineitem"]
    monthly = li.groupBy(
        "l_returnflag",
        F.date_trunc("month", "l_shipdate").cast("date").alias("month"),
    ).agg(det_avg("l_extendedprice").alias("avg_price"))
    smoothed = temporal.ewma(
        monthly,
        group_cols=["l_returnflag"],
        order_cols=["month"],
        value_col="avg_price",
        alpha=_EWMA_ALPHA,
        out_col="__y",
    )
    return smoothed.select(
        "l_returnflag",
        "month",
        "avg_price",
        det_round(F.col("__y"), 4).alias("ewma_price"),
    ).orderBy("l_returnflag", "month")


# ---------------------------------------------------------------------------
# Interval band lookup — overlapping point-in-interval join (temporal.py)
# ---------------------------------------------------------------------------

_BANDS_SQL = f"""
WITH stats AS (
  SELECT CAST(MIN(o_totalprice) AS DOUBLE) AS mn,
         CAST(MAX(o_totalprice) AS DOUBLE) AS mx
  FROM orders
),
bands AS (
  SELECT band_id,
         mn + band_id * ((mx - mn) / 9.0) AS lo,
         mn + (band_id + 2) * ((mx - mn) / 9.0) AS hi
  FROM range(8) t(band_id), stats
),
matched AS (
  SELECT band_id, lo, hi, o_totalprice
  FROM bands JOIN orders
    ON o_totalprice >= lo AND o_totalprice <= hi
)
SELECT band_id,
       {_floor_round_sql("lo", 2)} AS band_lo,
       {_floor_round_sql("hi", 2)} AS band_hi,
       COUNT(*) AS n_orders,
       {det_avg_sql("o_totalprice")} AS avg_price
FROM matched
GROUP BY band_id, lo, hi
ORDER BY band_id
"""


@register("interval_price_bands", _BANDS_SQL)
def q_interval_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping order-price bands via temporal.interval_lookup — the
    band-join shape (each order falls in 1-3 of 8 deliberately
    overlapping price intervals) that a naive range join turns into a
    nested loop. Runs the bucket strategy: intervals replicate into
    median-width buckets, facts equi-join on bucket, exact predicate
    after — two bounded shuffles at any scale. The 8-band dim derives
    from a min/max aggregate riding a declared singleton crossJoin."""
    from market_flow_spark.functions.aggregates import det_avg, det_round
    from market_flow_spark.operators.temporal import interval_lookup

    orders = load_tables(spark, sf_dir)["orders"]
    stats = orders.agg(
        F.min("o_totalprice").alias("mn"), F.max("o_totalprice").alias("mx")
    )
    step = (F.col("mx") - F.col("mn")) / F.lit(9.0)
    bands = (
        spark.range(8)
        .withColumnRenamed("id", "band_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "band_id",
            (F.col("mn") + F.col("band_id").cast("double") * step).alias("lo"),
            (
                F.col("mn")
                + (F.col("band_id").cast("double") + F.lit(2.0)) * step
            ).alias("hi"),
        )
    )
    matched = interval_lookup(
        orders.select(F.col("o_totalprice").alias("price")),
        bands,
        point="price",
        lo="lo",
        hi="hi",
    )
    return (
        matched.groupBy("band_id", "lo", "hi")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            det_avg("price").alias("avg_price"),
        )
        .select(
            "band_id",
            det_round(F.col("lo"), 2).alias("band_lo"),
            det_round(F.col("hi"), 2).alias("band_hi"),
            "n_orders",
            "avg_price",
        )
        .orderBy("band_id")
    )


# ---------------------------------------------------------------------------
# Count-min heavy hitters — mergeable frequency sketch (sketches.py)
# ---------------------------------------------------------------------------

_CMS_D, _CMS_W, _CMS_TOPN = 4, 512, 20

_CMS_SQL = f"""
WITH toks AS (
  SELECT unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                x -> x <> '')) AS tok
  FROM documents
),
exact AS (SELECT tok, COUNT(*) AS exact_cnt FROM toks GROUP BY tok),
sketch AS (
{sketches.cms_sketch_sql("tok", "toks", depth=_CMS_D, width=_CMS_W)}
),
top AS (
  SELECT tok, exact_cnt FROM exact
  ORDER BY exact_cnt DESC, tok LIMIT {_CMS_TOPN}
),
probe AS (
  SELECT tok, exact_cnt, d,
         {sketches._cms_bucket_sql("tok", "d", _CMS_W)} AS bucket
  FROM top, range({_CMS_D}) t(d)
)
SELECT p.tok, p.exact_cnt,
       MIN(COALESCE(s.cnt, 0)) AS cms_est,
       MIN(COALESCE(s.cnt, 0)) - p.exact_cnt AS overcount
FROM probe p LEFT JOIN sketch s USING (d, bucket)
GROUP BY p.tok, p.exact_cnt
ORDER BY p.exact_cnt DESC, p.tok
"""


@register("cms_heavy_hitters", _CMS_SQL)
def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over the corpus vocabulary, probed at the exact
    top-20 tokens: one map-side-combined word count builds both the truth
    and the 4x512 sketch grid; estimates are min-over-depth via a
    broadcast join; overcount shows the collision error the width bounds.
    The sketch is the mergeable one-pass structure a 1000-executor vocab
    monitor ships instead of a second corpus scan — `overcount` is its
    measured price at this width."""
    docs = load_tables(spark, sf_dir)["documents"]
    toks = docs.select(
        F.explode(
            F.filter(
                F.split(F.trim(F.lower(F.col("text"))), r"\s+"),
                lambda x: x != "",
            )
        ).alias("tok")
    )
    exact = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("exact_cnt"))
    sketch = sketches.cms_build(
        exact, "tok", weight_col="exact_cnt", depth=_CMS_D, width=_CMS_W
    )
    top = exact.orderBy(F.desc("exact_cnt"), "tok").limit(_CMS_TOPN)
    est = sketches.cms_estimate(
        sketch, top, "tok", depth=_CMS_D, width=_CMS_W
    )
    return est.select(
        "tok",
        "exact_cnt",
        F.col("cms_est").cast("bigint").alias("cms_est"),
        (F.col("cms_est") - F.col("exact_cnt")).cast("bigint").alias(
            "overcount"
        ),
    ).orderBy(F.desc("exact_cnt"), "tok")


# ---------------------------------------------------------------------------
# Point-in-time SCD2 lookup — incremental.pit_join over the versioned dim
# ---------------------------------------------------------------------------

_PIT_SQL = f"""
WITH scd AS ({_SCD2_ORACLE}),
f AS (
  SELECT l_partkey, CAST(l_orderkey % 2 AS INT) AS asof_batch
  FROM lineitem
)
SELECT f.asof_batch, s.p_brand,
       COUNT(*) AS n_lines,
       {_floor_round_sql(
           "CAST(SUM(CAST(s.p_retailprice AS DECIMAL(27,6))) AS DOUBLE)", 2
       )} AS sum_price
FROM f JOIN scd s
  ON f.l_partkey = s.p_partkey
 AND s.valid_from <= f.asof_batch
 AND (s.valid_to IS NULL OR f.asof_batch < s.valid_to)
GROUP BY 1, 2
ORDER BY 1, 2
"""


@register("pit_part_price_sales", _PIT_SQL)
def q_pit_part_price_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join of lineitem against the SCD2 part dimension:
    each line observes the price version effective at its as-of batch
    (l_orderkey parity as a deterministic pseudo-time — half the facts
    see the world before the price batch, half after). incremental.
    pit_join resolves 'effective at t' as a LEFT broadcast equi-join on
    the natural key with the period bounds as a residual (r12) — the
    facts are never shuffled to find their version, where the oracle's
    BETWEEN join plans a range fan-out and the pre-r12 union+window
    shape paid a facts-sized exchange + sort. Revenue rolls up by
    (as-of batch, brand), so the two observation epochs differ exactly
    by the bumped parts."""
    from market_flow_spark.functions.aggregates import det_round
    from market_flow_spark.operators import incremental as inc

    li = spread_sales(load_tables(spark, sf_dir))["lineitem"].select(
        F.col("l_partkey").alias("p_partkey"),
        (F.col("l_orderkey") % 2).cast("int").alias("asof_batch"),
    )
    # explicit broadcast: the versioned part dim is bounded (|part| x <=2
    # versions) but its size ESTIMATE is inflated by the scd2 window +
    # union + anti-join chain, so the planner statically picks a
    # facts-shuffling SortMergeJoin without the hint (guide §3.1: hint
    # when you know a side is small and the estimate is wrong).
    dim = F.broadcast(_scd2_part_dim(spark, sf_dir))
    joined = inc.pit_join(
        li, dim, ["p_partkey"], "asof_batch", ["p_retailprice", "p_brand"]
    )
    return (
        joined.groupBy("asof_batch", F.col("p_brand_asof").alias("p_brand"))
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            det_round(
                F.sum(
                    F.col("p_retailprice_asof").cast("decimal(27,6)")
                ).cast("double"),
                2,
            ).alias("sum_price"),
        )
        .orderBy("asof_batch", "p_brand")
    )


# ---------------------------------------------------------------------------
# Unbounded EWMA — daily grain, crosses segment boundaries (temporal.py)
# ---------------------------------------------------------------------------


def _ewma_unbounded_oracle(alpha: float = _EWMA_ALPHA) -> str:
    q = 1.0 - alpha
    B = temporal.ewma_segment_rows(alpha)
    A = q**B
    return f"""
WITH daily AS (
  SELECT l_returnflag,
         CAST(l_shipdate AS DATE) AS day,
         {_floor_round_sql(
             "CAST(SUM(CAST(l_extendedprice AS DECIMAL(27,6))) AS DOUBLE)"
             " / COUNT(l_extendedprice)", 2
         )} AS avg_price
  FROM lineitem
  GROUP BY 1, 2
),
rn AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY l_returnflag
                               ORDER BY day) AS rn
  FROM daily
),
sj AS (
  SELECT *, CAST(FLOOR((rn - 1) / {B}) AS BIGINT) AS seg,
         rn - CAST(FLOOR((rn - 1) / {B}) AS BIGINT) * {B} AS j
  FROM rn
),
t AS (
  SELECT *, CASE WHEN rn = 1 THEN avg_price * {1.0 / q}
                 ELSE {alpha} * avg_price * POWER({q}, -j) END AS t
  FROM sj
),
p AS (
  SELECT *, POWER({q}, j)
            * SUM(t) OVER (PARTITION BY l_returnflag, seg ORDER BY j
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS P
  FROM t
),
ends AS (
  SELECT l_returnflag, seg, max_by(P, j) AS p_end
  FROM p GROUP BY 1, 2
),
carry AS (
  SELECT l_returnflag, seg,
         COALESCE(LAG(p_end, 1) OVER w, 0.0)
           + {A!r} * COALESCE(LAG(p_end, 2) OVER w, 0.0) AS C
  FROM ends
  WINDOW w AS (PARTITION BY l_returnflag ORDER BY seg)
)
SELECT p.l_returnflag, p.day, p.avg_price,
       {_floor_round_sql("POWER(" + str(q) + ", p.j) * c.C + p.P", 2)}
         AS ewma_price
FROM p JOIN carry c ON p.l_returnflag = c.l_returnflag AND p.seg = c.seg
ORDER BY 1, 2
"""


@register("ewma_daily_price_unbounded", _ewma_unbounded_oracle())
def q_ewma_daily_price_unbounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA over DAILY average prices per returnflag — ~2 400 days per
    group, PAST the single-level closed form's range bound at alpha=0.3
    (~2 000 rows), so this runs temporal.ewma_unbounded: segmented
    prefix sums plus the exact two-lag carry, crossing a segment
    boundary for every group. The certified twin of the operator's
    no-length-limit claim.

    ewma_price rounds at 2 decimals, not the repo-usual 4: the two-level
    closed form routes every value through a ~1300-term prefix sum whose
    terms span ~200 orders of magnitude, so Spark's and DuckDB's results
    differ in the last few ulps (~1e-8 absolute here) and the chance some
    row straddles a floor(x*10^k+0.5) boundary is ~rows * noise * 10^k —
    ~0.75 expected hits at k=4 on sf0.01's 7 494 rows (observed: exactly
    one), ~0.01 at k=2. det_round is only engine-stable when both engines
    compute the SAME input double; this is the one query where they
    provably cannot."""
    from market_flow_spark.functions.aggregates import det_avg, det_round

    li = load_tables(spark, sf_dir)["lineitem"]
    daily = li.groupBy(
        "l_returnflag",
        F.col("l_shipdate").cast("date").alias("day"),
    ).agg(det_avg("l_extendedprice").alias("avg_price"))
    smoothed = temporal.ewma_unbounded(
        daily,
        group_cols=["l_returnflag"],
        order_cols=["day"],
        value_col="avg_price",
        alpha=_EWMA_ALPHA,
        out_col="__y",
    )
    return smoothed.select(
        "l_returnflag",
        "day",
        "avg_price",
        det_round(F.col("__y"), 2).alias("ewma_price"),
    ).orderBy("l_returnflag", "day")


# ---------------------------------------------------------------------------
# Round-6 additions (late): corpus distribution drift + robust rolling median
# ---------------------------------------------------------------------------


@register("corpus_kl_by_lang", text.token_kl_divergence_oracle_sql("lang"))
def q_corpus_kl_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-distribution drift per language slice: KL(P_lang || P_corpus)
    in nats over the documents table — the distribution-shift monitor a
    crawl pipeline runs between snapshots/domains before training. One
    corpus explode; everything downstream is vocabulary-sized (see
    text.token_kl_divergence)."""
    return text.token_kl_divergence(
        load_tables(spark, sf_dir)["documents"], group="lang"
    ).orderBy("lang")


_ROLLMED_ORACLE = """
WITH m AS (
  SELECT p_brand AS brand,
         CAST(year(o_orderdate) AS INT) AS year,
         CAST(month(o_orderdate) AS INT) AS month,
         FLOOR((CAST(SUM(CAST(l_extendedprice AS DECIMAL(27,6))) AS DOUBLE)
               / COUNT(l_extendedprice)) * 100.0 + 0.5) / 100.0 AS avg_price
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN part ON l_partkey = p_partkey
  GROUP BY 1, 2, 3
)
SELECT brand, year, month, avg_price,
       FLOOR(median(avg_price) OVER (
               PARTITION BY brand ORDER BY year, month
               ROWS BETWEEN 11 PRECEDING AND CURRENT ROW)
             * 10000 + 0.5) / 10000 AS median12
FROM m
"""


@register("rolling_median_price", _ROLLMED_ORACLE)
def q_rolling_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 12-month rolling MEDIAN of the monthly brand price series —
    the robust twin of the rolling-mean/zscore panels (a single spiked
    month moves MA12 by spike/12 and the median not at all). Exact,
    frame-bounded: each row sorts at most 12 values, so cost per row is
    independent of series length (see analytics.rolling_median)."""
    from market_flow_spark.functions.aggregates import det_avg

    t = load_tables(spark, sf_dir)
    m = (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.year("o_orderdate").alias("year"),
            F.month("o_orderdate").alias("month"),
        )
        .agg(det_avg("l_extendedprice").alias("avg_price"))
    )
    return an.rolling_median(
        m, "brand", ["year", "month"], "avg_price", periods=12, out_col="median12"
    )


_TOKEN_BUDGET = 200_000  # tokens — ~40% of the sf0.01 corpus, all of sf0.001

_TOKEN_BUDGET_ORACLE = f"""
WITH t AS (
  SELECT doc_id, text, regexp_split_to_array(trim(text), '\\s+') AS toks
  FROM documents
),
b AS (
  SELECT doc_id,
    CAST(len(toks) AS INT) AS n_tokens,
    CAST(len(list_filter(toks, x -> x IN ({_in_list(text.STOPWORDS)}))) AS INT)
      AS n_stop,
    CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS INT) AS n_nonspace
  FROM t
),
c AS (
  SELECT doc_id, n_tokens,
    {_floor_round_sql("n_nonspace / n_tokens", 4)} AS avg_token_len,
    {_floor_round_sql("n_stop / n_tokens", 4)} AS stopword_ratio
  FROM b
),
q AS (
  SELECT doc_id, n_tokens, stopword_ratio,
    {_floor_round_sql(
        "(CASE WHEN n_tokens BETWEEN 5 AND 10000 THEN 0.5 ELSE 0.0 END)"
        " + (CASE WHEN avg_token_len BETWEEN 2 AND 12 THEN 0.5 ELSE 0.0 END)",
        2,
    )} AS quality_score
  FROM c
)
SELECT doc_id, n_tokens, quality_score, stopword_ratio,
  CAST(SUM(n_tokens) OVER (
    ORDER BY COALESCE(quality_score, -1) DESC,
             COALESCE(stopword_ratio, -1) DESC, doc_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
    AS cum_tokens,
  CAST(SUM(n_tokens) OVER (
    ORDER BY COALESCE(quality_score, -1) DESC,
             COALESCE(stopword_ratio, -1) DESC, doc_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
    <= {_TOKEN_BUDGET} AS selected
FROM q
"""


_KL_SC = 1_000_000_000

_DRIFT_ORACLE = f"""
WITH w AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok
  FROM documents
),
b AS (
  SELECT tok, COUNT(*) AS c FROM w
  WHERE tok <> '' AND doc_id % 2 = 1 GROUP BY tok
),
r AS (
  SELECT tok, COUNT(*) AS c_ref FROM w
  WHERE tok <> '' AND doc_id % 2 = 0 GROUP BY tok
),
tb AS (SELECT CAST(SUM(c) AS BIGINT) AS t_b FROM b),
tr AS (SELECT CAST(SUM(c_ref) AS BIGINT) AS t_ref FROM r),
vu AS (
  SELECT COUNT(*) AS v FROM (
    SELECT tok FROM r UNION SELECT tok FROM b)
),
f AS (
  SELECT b.c, r.c_ref, tb.t_b,
    CAST(FLOOR((CAST(b.c AS DOUBLE) / tb.t_b)
               * ln((CAST(b.c AS DOUBLE) / tb.t_b)
                    / (CAST(COALESCE(r.c_ref, 0) + 1 AS DOUBLE)
                       / (tr.t_ref + vu.v)))
               * {_KL_SC} + 0.5) AS BIGINT) AS contrib_fx
  FROM b LEFT JOIN r USING (tok)
  CROSS JOIN tb CROSS JOIN tr CROSS JOIN vu
)
SELECT MAX(t_b) AS n_tokens,
       COUNT(*) AS vocab,
       CAST(SUM(CASE WHEN c_ref IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS novel_vocab,
       FLOOR((CAST(SUM(contrib_fx) AS DOUBLE) / {_KL_SC}.0)
             * 1000000 + 0.5) / 1000000 AS kl_nats
FROM f
"""


@register("drift_score_odd_vs_even", _DRIFT_ORACLE)
def q_drift_score_odd_vs_even(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The drift monitor's batch scorer as a certifiable query: odd
    doc_ids scored as an incoming batch against the even-doc reference
    distribution — KL with add-one smoothing over the union vocabulary
    (tokens unseen in the reference get smoothing mass), same 1e-9
    fixed-point contributions as corpus_kl_by_lang. One row out:
    (n_tokens, vocab, novel_vocab, kl_nats). This is the exact function
    the streaming monitor runs per micro-batch (streaming/drift.py)."""
    from market_flow_spark.functions.aggregates import det_round
    from market_flow_spark.streaming.drift import _token_counts, batch_drift_score

    docs = load_tables(spark, sf_dir)["documents"]
    ref_counts = _token_counts(docs.filter(F.col("doc_id") % 2 == 0), "text")
    out = batch_drift_score(docs.filter(F.col("doc_id") % 2 == 1), ref_counts)
    return out.select(
        "n_tokens",
        "vocab",
        F.col("novel_vocab").cast("bigint").alias("novel_vocab"),
        det_round(F.col("kl_nats"), 6).alias("kl_nats"),
    )


@register("token_budget_select", _TOKEN_BUDGET_ORACLE)
def q_token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill a global token budget with the best documents: rows walk in
    (quality DESC, stopword_ratio DESC, doc_id) order accumulating token
    counts; every doc whose inclusive running total stays <= 200k tokens
    is selected. The oracle is the naive single-partition SUM-OVER window;
    the Spark plan is ranking.global_budget_select's two-phase prefix sum
    (range partition -> parallel local cumsum -> broadcast offsets), which
    never funnels the corpus through one task."""
    from market_flow_spark.extensions.text import _stats_cols

    docs = load_tables(spark, sf_dir)["documents"]
    stats = _stats_cols("text")
    scored = docs.select(
        "doc_id",
        stats["n_tokens"].alias("n_tokens"),
        stats["quality_score"].alias("quality_score"),
        stats["stopword_ratio"].alias("stopword_ratio"),
    )
    return ranking.global_budget_select(
        scored,
        [
            F.coalesce(F.col("quality_score"), F.lit(-1.0)).desc(),
            F.coalesce(F.col("stopword_ratio"), F.lit(-1.0)).desc(),
            F.col("doc_id"),
        ],
        weight_col="n_tokens",
        budget=_TOKEN_BUDGET,
        cum_col="cum_tokens",
        keep_col="selected",
    )
