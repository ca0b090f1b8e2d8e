"""Similarity search over embedding columns (north-star extensions).

Every vector top-k operator is a candidate generator over one
verify-and-rank core, the split the top-k search literature uses (a
candidate filter, then one exact verify-and-rank step):

- **Query side** (``_queries``): the query vectors (vec_id <
  n_queries) with their norms, broadcast to the corpus side.
- **Candidates**: every corpus vector (``cosine_topk``, brute force, the
  correctness baseline); the query's own sign bucket (``ann_lsh_topk``,
  an equi-join on the bucket key); or the query's ``nprobe`` nearest IVF
  cells (``ivf_topk`` with k-means cells, ``ivf_hyperplane_topk`` with
  fixed sign-bit cells; ``_probe`` picks the cells, an equi-join on the
  cell id finds the vectors). The ANN generators never scan the corpus
  per query.
- **Verify and rank** (``_cosine_rank``): exact cosine from JVM-side
  array expressions (zip_with + aggregate: a sequential in-order fold,
  so results are bit-deterministic) at det-round 6, then one
  ``row_number`` window per query (``_rank``: score desc, neighbor_id).

Product quantization scores candidates from m-byte codes instead
(``pq_topk``; ``ivf_pq_topk`` prunes to IVF cells first and re-ranks a
3k shortlist through the same exact core). Both share one query set,
lookup table and ADC scorer (``_pq_query_set``) and one encoder
(``_pq_encoder``); the k-means cells of ``ivf_topk``, ``ivf_pq_topk``
and ``embedding_neardup_pairs_ivf`` come from one nearest-centroid
closure (``_center_dist``).

A NULL element contributes 0 to every dot product, so a vector with a
missing component still scores (DuckDB's ``list_sum`` skips NULLs the
same way), and probe cells at a NULL distance rank last.

Python runs only where built-ins cannot express the step: the driver-side
quantizer training and the Arrow-batched k-means assignment / PQ encode
and score maps. For 64-dim vectors the built-in fold is already JVM-side
and avoids the Python roundtrip entirely.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from market_flow_spark.decisions import decision_log
from market_flow_spark.functions.aggregates import det_round


def _dot(a: Column, b: Column) -> Column:
    """Σ a_i * b_i in double, sequential in-order fold (deterministic). A
    product with a NULL factor adds 0 — the DuckDB twins' ``list_sum``
    skips NULLs the same way."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + F.coalesce(x, F.lit(0.0)))


def _norm_sq(a: Column) -> Column:
    return _dot(a, a)


def _cosine(dot: Column, norms: Column) -> Column:
    """``dot / norms`` at det-round 6. A zero norm makes the cosine NULL
    instead of failing the query under ANSI mode — the DuckDB twins'
    ``x / 0`` is NULL too."""
    return det_round(F.try_divide(dot, norms), 6)


def _pair_cosine(a: Column, b: Column) -> Column:
    """Exact cosine of two embedding arrays: the verify every near-dup
    pair generator applies to its candidates."""
    return _cosine(_dot(a, b), F.sqrt(_norm_sq(a)) * F.sqrt(_norm_sq(b)))


def _block_pairs(blocked: DataFrame, key: str, threshold: float) -> DataFrame:
    """(vec1, vec2, cosine) from a (vid, emb, ``key``) frame: an alias
    self-join on the block key (an equi-join, never a cross join; the
    scan and key projection compute once, ReusedExchange), then exact
    cosine >= threshold within blocks."""
    a, b = blocked.alias("a"), blocked.alias("b")
    return (
        a.join(b, F.col(f"a.{key}") == F.col(f"b.{key}"))
        .filter(F.col("a.vid") < F.col("b.vid"))
        .select(
            F.col("a.vid").alias("vec1"),
            F.col("b.vid").alias("vec2"),
            _pair_cosine(F.col("a.emb"), F.col("b.emb")).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


# --- the top-k core ----------------------------------------------------------


def _with_norm(df: DataFrame) -> DataFrame:
    """``df`` plus each vector's L2 ``norm``, computed once per vector
    BEFORE any fan-out to queries — the per-pair arithmetic (so the
    oracles agree), 1/Nth the work."""
    return df.withColumn("norm", F.sqrt(_norm_sq(F.col("embedding"))))


def _queries(data: DataFrame, n_queries: int, *keep: str) -> DataFrame:
    """(query_id, qe, qnorm, *keep): the query vectors (vec_id <
    n_queries) of a ``_with_norm`` frame; the filter pushes into the
    parquet scan."""
    return data.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("norm").alias("qnorm"),
        *keep,
    )


def _probe(queries: DataFrame, cells: DataFrame, d2: Column, nprobe: int) -> DataFrame:
    """(query_id, qe, qnorm, cell): each query's ``nprobe`` nearest cells
    by ``d2`` (ties by cell id, NULL distances last) over the tiny
    broadcast cell table."""
    wq = Window.partitionBy("query_id").orderBy(d2.asc_nulls_last(), F.col("cell"))
    return (
        queries.crossJoin(F.broadcast(cells))
        .withColumn("cell_rank", F.row_number().over(wq))
        .filter(F.col("cell_rank") <= nprobe)
        .select("query_id", "qe", "qnorm", "cell")
    )


def _rank(scored: DataFrame, k: int, score: str = "cosine") -> DataFrame:
    """The top ``k`` rows per query_id by (``score`` desc, neighbor_id),
    with their ``rank`` — the tie-break makes the k-boundary
    deterministic."""
    w = Window.partitionBy("query_id").orderBy(
        F.col(score).desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def _cosine_rank(cand: DataFrame, k: int, *keep: str) -> DataFrame:
    """Verify and rank: (query_id, neighbor_id, *keep, cosine, rank) from
    candidate rows pairing a corpus vector (vec_id, embedding, norm) with
    a query (query_id, qe, qnorm) — self excluded, exact cosine (NULL
    for a zero vector, ranked last), the top ``k`` per query."""
    cos = _cosine(
        _dot(F.col("embedding"), F.col("qe")), F.col("norm") * F.col("qnorm")
    )
    scored = cand.filter(F.col("vec_id") != F.col("query_id")).select(
        "query_id", F.col("vec_id").alias("neighbor_id"), *keep, cos.alias("cosine")
    )
    return _rank(scored, k)


def cosine_topk(
    embeddings: DataFrame, n_queries: int = 5, k: int = 5
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector (vec_id <
    n_queries), self excluded: every corpus vector is a candidate of
    every broadcast query. Ties broken by neighbor_id so the k-boundary
    is deterministic."""
    data = _with_norm(embeddings)
    return _cosine_rank(data.crossJoin(F.broadcast(_queries(data, n_queries))), k)


def sign_bucket(emb: Column, n_bits: int = 8) -> Column:
    """LSH blocking key: bit i set iff embedding[i] > 0. Deterministic and
    cheap; at scale replace raw leading dims with random-hyperplane
    projections (same plan shape: a per-row expression)."""
    out = None
    for i in range(n_bits):
        bit = F.when(emb.getItem(i) > 0, F.lit(2**i)).otherwise(F.lit(0))
        out = bit if out is None else out + bit
    return out.cast("int")


def train_kmeans_quantizer(X, n_cells: int, seed: int = 42, max_iter: int = 8):
    """Seeded k-means++ init + capped Lloyd iterations over an in-memory
    sample (the FAISS-style IVF coarse-quantizer build). Pure numpy and
    fully deterministic for a given (X, n_cells, seed, max_iter) — which is
    what lets tests re-derive the exact centroids the operator used."""
    rng = np.random.RandomState(seed)
    n_cells = min(n_cells, len(X))
    # k-means++ seeding: spread initial centroids ∝ squared distance,
    # maintaining the running min-distance incrementally
    C = X[[rng.randint(len(X))]]
    d2min = ((X - C[0]) ** 2).sum(-1)
    for _ in range(1, n_cells):
        total = d2min.sum()
        if total <= 0.0:
            nxt = X[rng.randint(len(X))]
        else:
            nxt = X[np.searchsorted(np.cumsum(d2min / total), rng.rand())]
        C = np.vstack([C, nxt])
        d2min = np.minimum(d2min, ((X - nxt) ** 2).sum(-1))
    for _ in range(max_iter):
        assign = ((X[:, None, :] - C[None, :, :]) ** 2).sum(-1).argmin(1)
        newC = C.copy()  # empty cells keep their previous centroid
        for j in range(n_cells):
            members = X[assign == j]
            if len(members):
                newC[j] = members.mean(0)
        if np.array_equal(newC, C):
            break
        C = newC
    return C


def _train_sample(embeddings: DataFrame, train_rows: int):
    """The quantizer training set as a float64 matrix: a deterministic
    bounded sample, the lowest vec_ids. The predicate pushes into the
    parquet scan (no global top-k sort job, unlike orderBy+limit); a
    sparse/offset id space falls back to an actual top-k."""
    sample = (
        embeddings.filter(F.col("vec_id") < train_rows).select("embedding").toPandas()
    )
    if sample.empty:
        sample = (
            embeddings.orderBy("vec_id").limit(train_rows).select("embedding").toPandas()
        )
    return _matrix(sample["embedding"])


def _given_or(given, train):
    """A pre-trained quantizer as float64, else ``train()``'s — the
    build-once/query-many switch every IVF and PQ operator takes."""
    return np.asarray(given, dtype=np.float64) if given is not None else train()


def _matrix(vectors) -> np.ndarray:
    """Embedding rows as a float64 matrix, a NULL element as 0: the rule
    ``_dot`` follows, so numpy cells, codes and probes agree with it."""
    X = np.asarray(list(vectors), dtype=np.float64)
    return np.where(np.isnan(X), 0.0, X)


def _unit(X):
    """Rows scaled to unit L2 norm (zero rows stay zero)."""
    return X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)


def _center_dist(C):
    """X ↦ ||c||² − 2·x·c for every row x and centroid row c: ||x−c||²
    less the per-row constant ||x||², so its argmin is the nearest
    centroid. One closure for the IVF cells, the PQ codes and the probe
    order, pickled into the Arrow maps."""
    cnorm2 = (C * C).sum(1)

    def dist(X):
        return cnorm2 - 2.0 * (X @ C.T)

    return dist


def _cell_udf(C):
    """Arrow-batched k-means cell assignment: (array) -> int nearest
    centroid of ``C``, one argmin over an n_cells×dim matmul per batch."""
    from pyspark.sql.functions import pandas_udf

    dist = _center_dist(C)

    @pandas_udf("int")
    def assign_cell(emb: pd.Series) -> pd.Series:
        return pd.Series(dist(_matrix(emb)).argmin(1).astype("int32"))

    return assign_cell


def train_ivf_centroids(
    embeddings: DataFrame,
    n_cells: int = 16,
    seed: int = 42,
    train_rows: int = 2048,
    max_iter: int = 8,
):
    """Train the IVF coarse quantizer on a bounded deterministic sample and
    return the centroid matrix (numpy, n_cells×dim). This is the
    build-once half of an ANN service: train on today's corpus, persist
    with ``save_ivf_centroids``, and serve every later query from the
    loaded centroids — ``ivf_topk(..., centroids=...)`` then runs no
    sampling, no training, and no driver-side data pull at query time."""
    X = _train_sample(embeddings, train_rows)
    return train_kmeans_quantizer(X, n_cells, seed, max_iter)


def save_ivf_centroids(spark, centroids, path: str) -> None:
    """Persist a trained quantizer as a tiny (cell, centroid) parquet table
    — the shareable artifact between the index build and every query job."""
    df = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
        "cell int, centroid array<double>",
    )
    df.coalesce(1).write.mode("overwrite").parquet(path)


def load_ivf_centroids(spark, path: str):
    """Load centroids saved by ``save_ivf_centroids`` back into the numpy
    matrix ``ivf_topk`` consumes. The table is n_cells rows — collecting it
    is index-metadata I/O, not a data pull."""
    rows = spark.read.parquet(path).orderBy("cell").collect()
    return np.asarray([r["centroid"] for r in rows], dtype=np.float64)


def ivf_topk(
    embeddings: DataFrame,
    n_queries: int = 5,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
    seed: int = 42,
    train_rows: int = 2048,
    max_iter: int = 8,
    centroids=None,
) -> DataFrame:
    """IVF (inverted-file) ANN: a k-means coarse quantizer partitions the
    corpus into cells; each query scores only the `nprobe` nearest cells.

    Plan shape at 100 TB: the quantizer is trained once on a bounded sample
    (you never k-means the full corpus — `train_rows` caps the training
    set, taken deterministically as the lowest vec_ids so repeated runs
    agree) and its centroids are a tiny broadcast table; cell assignment is
    a map stage over the FULL corpus; search is an equi-join on cell id —
    identical skeleton to the LSH variant, but with data-adaptive cells
    (better recall per probe on clustered corpora).

    The quantizer itself trains **in-process on the driver** (seeded
    k-means++ init + capped Lloyd iterations over the collected sample) —
    the FAISS-style IVF build. Distributed KMeans would spend one full
    Spark job per Lloyd iteration to fit 16 centroids on a 2048-row
    sample; on a cluster those are ~10 barrier rounds of pure overhead.
    Only the assignment stage touches the corpus, as one Arrow-batched
    vectorized map (argmin over an n_cells×dim matmul per batch).

    ``centroids`` (numpy matrix from ``train_ivf_centroids`` /
    ``load_ivf_centroids``) skips training entirely — the query-many path:
    no sample collection, no k-means, no ``toPandas`` anywhere.
    """
    C = _given_or(
        centroids,
        lambda: train_ivf_centroids(embeddings, n_cells, seed, train_rows, max_iter),
    )
    data = _with_norm(embeddings)
    assigned = data.select(
        "vec_id", "embedding", "norm", _cell_udf(C)("embedding").alias("cell")
    )
    # centroid table: n_cells rows — broadcast everywhere
    cells = embeddings.sparkSession.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(C)],
        "cell int, centroid array<double>",
    )

    def sq_diff(x: Column, y: Column) -> Column:
        # a NULL query element counts as 0, as in the numpy cell assignment
        d = F.coalesce(x, F.lit(0.0)) - y
        return d * d

    d2 = F.aggregate(
        F.zip_with(F.col("qe").cast("array<double>"), F.col("centroid"), sq_diff),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    # queries never use their own cell — derive them from the raw table so
    # the vec_id filter pushes into the parquet scan instead of forcing a
    # second full-corpus assignment pass in this plan branch
    probes = _probe(_queries(data, n_queries), cells, d2, nprobe)
    return _cosine_rank(assigned.join(F.broadcast(probes), "cell"), k)


def ivf_hyperplane_topk(
    embeddings: DataFrame,
    n_queries: int = 5,
    k: int = 5,
    n_bits: int = 4,
    nprobe: int = 4,
) -> DataFrame:
    """IVF ANN with a FIXED hyperplane coarse quantizer: cell = sign bits
    of the leading ``n_bits`` dimensions (2^n_bits cells).

    Same plan skeleton as the k-means IVF (``ivf_topk``): cell assignment
    is a per-row expression over the full corpus, each query probes its
    ``nprobe`` nearest cells, and search is an equi-join on the cell id —
    never a full scan per query. The difference is the quantizer: fixed
    hyperplanes instead of trained centroids. That trades recall-per-probe
    on clustered corpora for full determinism — every step is expressible
    in ANSI SQL, which makes this variant the oracle-checked driver entry
    for the IVF family (the k-means quantizer's training loop is not
    SQL-expressible; it keeps its recall/exactness pytest).

    Probe ranking uses the exact hyperplane margin lower bound: the
    squared distance from query q to the nearest point of cell c is
    Σ q_i² over the bits where c disagrees with sign(q_i) — so probes are
    ordered by how cheaply q could cross into each cell.
    """
    data = _with_norm(embeddings).withColumn(
        "cell", sign_bucket(F.col("embedding"), n_bits)
    )
    cells = embeddings.sparkSession.range(2**n_bits).select(
        F.col("id").cast("int").alias("cell")
    )
    d2 = None
    for i in range(n_bits):
        qi = F.col("qe").getItem(i).cast("double")
        cell_bit = F.shiftright(F.col("cell"), i).bitwiseAND(F.lit(1))
        q_bit = F.when(qi > 0, F.lit(1)).otherwise(F.lit(0))
        term = F.when(cell_bit != q_bit, qi * qi).otherwise(F.lit(0.0))
        d2 = term if d2 is None else d2 + term
    probes = _probe(_queries(data, n_queries), cells, d2, nprobe)
    return _cosine_rank(data.join(F.broadcast(probes), "cell"), k, "cell")


def ann_lsh_topk(
    embeddings: DataFrame, n_queries: int = 5, k: int = 3, n_bits: int = 8
) -> DataFrame:
    """Approximate top-k: candidates limited to the query's sign-bucket —
    an equi-join on the bucket key instead of a full scan per query."""
    data = _with_norm(
        embeddings.withColumn("bucket", sign_bucket(F.col("embedding"), n_bits))
    )
    q = _queries(data, n_queries, "bucket")
    return _cosine_rank(data.join(F.broadcast(q), "bucket"), k, "bucket")


# --- product quantization (PQ) ---------------------------------------------


def train_pq_codebooks(
    embeddings: DataFrame,
    m: int = 8,
    n_codes: int = 16,
    seed: int = 42,
    train_rows: int = 2048,
    max_iter: int = 8,
):
    """Train the PQ codebooks: split the (L2-normalized) embedding space
    into ``m`` contiguous subspaces and k-means each independently
    (``n_codes`` centroids per subspace) on a bounded sample — the
    compression half of the FAISS IVF-PQ design. Returns an
    (m, n_codes, dim/m) numpy tensor. Vectors compress from dim×4 bytes
    to m bytes (dim=64, m=8, k=16 → 32×), which is what lets a 100 TB
    embedding corpus's search structure fit a cluster's memory."""
    X = _unit(_train_sample(embeddings, train_rows))
    d = X.shape[1]
    assert d % m == 0, f"dim {d} not divisible by m={m}"
    sub = d // m
    books = [
        train_kmeans_quantizer(X[:, j * sub : (j + 1) * sub], n_codes, seed + j, max_iter)
        for j in range(m)
    ]
    return np.stack(books)


def _pq_encoder(B):
    """X ↦ (n, m) int32 PQ codes: per subspace, the nearest codeword of
    the L2-normalized row."""
    sub = B.shape[2]
    dists = [_center_dist(b) for b in B]

    def encode(X):
        Xn = _unit(X)
        codes = [d(Xn[:, j * sub : (j + 1) * sub]).argmin(1) for j, d in enumerate(dists)]
        return np.stack(codes, axis=1).astype(np.int32)

    return encode


def pq_encode(embeddings: DataFrame, codebooks) -> DataFrame:
    """(vec_id, code): the m-byte PQ code per vector — argmin centroid per
    subspace over the L2-normalized vector, one Arrow-batched vectorized
    map over the corpus (broadcast codebooks, no shuffle)."""
    from pyspark.sql.functions import pandas_udf

    to_codes = _pq_encoder(np.asarray(codebooks, dtype=np.float64))

    @pandas_udf("array<int>")
    def encode(emb: pd.Series) -> pd.Series:
        return pd.Series(list(to_codes(_matrix(emb))))

    return embeddings.select("vec_id", encode("embedding").alias("code"))


def _pq_query_set(embeddings: DataFrame, n_queries: int, B):
    """The bounded PQ query set (vec_id < n_queries, collected to the
    driver like the quantizer sample) as ``(qids, Q, Qn, adc_frame)``:
    the ids, the raw and L2-normalized query matrices, and the ADC
    scorer. ``adc_frame(pdf, qi)`` scores a (vec_id, code) batch against
    the query rows ``qi`` — one per row, or a column of query rows
    against every row — as a (query_id, neighbor_id, score) frame:
    score = Σ_j LUT[q, j, code_j] at det-round 6, LUT[q, j, c] =
    <Qn[q] subvector j, codebook j centroid c>. None when no query id
    exists (sparse/offset id space)."""
    rows = (
        embeddings.filter(F.col("vec_id") < n_queries)
        .select("vec_id", "embedding")
        .collect()
    )
    if not rows:
        return None
    Q = _matrix(r["embedding"] for r in rows)
    Qn = _unit(Q)
    qids = np.asarray([r["vec_id"] for r in rows], dtype=np.int64)
    m, _, sub = B.shape
    lut = np.stack([Qn[:, j * sub : (j + 1) * sub] @ B[j].T for j in range(m)], axis=1)

    def adc_frame(pdf, qi):
        codes = np.asarray(pdf["code"].tolist(), dtype=np.int64)
        s = 0.0
        for j in range(m):
            s += lut[qi, j, codes[:, j]]
        return pd.DataFrame(
            {
                "query_id": np.broadcast_to(qids[qi], s.shape).ravel(),
                "neighbor_id": np.broadcast_to(pdf["vec_id"].to_numpy(), s.shape).ravel(),
                "score": np.round(s, 6).ravel(),
            }
        )

    return qids, Q, Qn, adc_frame


def _empty_topk(spark, score: str) -> DataFrame:
    """The top-k schema with no rows: a PQ search without queries."""
    return spark.createDataFrame(
        [], f"query_id long, neighbor_id long, {score} double, rank int"
    )


_ADC_SCHEMA = "query_id long, neighbor_id long, score double"


def pq_topk(
    embeddings: DataFrame,
    n_queries: int = 5,
    k: int = 5,
    m: int = 8,
    n_codes: int = 16,
    seed: int = 42,
    train_rows: int = 2048,
    codebooks=None,
) -> DataFrame:
    """PQ asymmetric-distance (ADC) top-k by cosine: corpus vectors are
    m-byte codes; each query builds an (m × n_codes) inner-product lookup
    table against the codebooks, and a candidate's score is m table
    gathers — never a full-precision distance against the corpus.

    Plan shape: encode = one Arrow map over the corpus (the only pass that
    touches raw vectors); scoring = one Arrow map over the CODES with the
    tiny LUT tensor in the closure, emitting (query_id, vec_id, score);
    ranking = per-query TakeOrdered-style window. Query vectors are a
    driver-collected bounded set (same contract as the IVF quantizer
    sample). ``codebooks`` accepts a pre-trained tensor (the
    build-once/query-many path, pairing with
    save/load via plain numpy files or a parquet table)."""
    B = _given_or(
        codebooks,
        lambda: train_pq_codebooks(embeddings, m, n_codes, seed, train_rows),
    )
    qs = _pq_query_set(embeddings, n_queries, B)
    if qs is None:
        return _empty_topk(embeddings.sparkSession, "score")
    qids, _, _, adc_frame = qs
    every_query = np.arange(len(qids))[:, None]  # query-major output

    def score_batches(batches):
        for pdf in batches:
            if len(pdf):
                yield adc_frame(pdf, every_query)

    scored = (
        pq_encode(embeddings, B)
        .mapInPandas(score_batches, _ADC_SCHEMA)
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    return _rank(scored, k, "score")


def ivf_pq_topk(
    embeddings: DataFrame,
    n_queries: int = 5,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
    m: int = 8,
    n_codes: int = 16,
    seed: int = 42,
    train_rows: int = 2048,
    centroids=None,
    codebooks=None,
    refine: bool = True,
) -> DataFrame:
    """The full FAISS IVF-PQ composition: the coarse quantizer prunes the
    corpus to each query's ``nprobe`` cells (equi-join on cell id — the
    IVF half), PQ ADC scores only those candidates from their m-byte codes
    (LUT gathers — the PQ half), and with ``refine=True`` the PQ top-3k
    shortlist is re-scored at full precision so the final ranking costs
    exact distances on a bounded candidate set only.

    At 100 TB: raw vectors are read once (assignment + encoding in ONE
    Arrow pass), the search structure that actually joins is
    (vec_id, cell, code) — m bytes + 4 per vector — and the refine join
    touches full vectors for ~3k rows per query. Both quantizers accept
    pre-trained artifacts (build-once/query-many)."""
    from pyspark.sql.functions import pandas_udf

    C = _given_or(
        centroids, lambda: train_ivf_centroids(embeddings, n_cells, seed, train_rows)
    )
    B = _given_or(
        codebooks,
        lambda: train_pq_codebooks(embeddings, m, n_codes, seed, train_rows),
    )
    dist, encode = _center_dist(C), _pq_encoder(B)

    @pandas_udf("struct<cell:int, code:array<int>>")
    def assign_and_encode(emb: pd.Series) -> pd.DataFrame:
        X = _matrix(emb)
        cell = dist(X).argmin(1).astype("int32")
        return pd.DataFrame({"cell": cell, "code": list(encode(X))})

    index = embeddings.select(
        "vec_id", assign_and_encode("embedding").alias("ac")
    ).select("vec_id", F.col("ac.cell").alias("cell"), F.col("ac.code").alias("code"))

    spark = embeddings.sparkSession
    qs = _pq_query_set(embeddings, n_queries, B)
    if qs is None:
        return _empty_topk(spark, "cosine" if refine else "score")
    qids, Q, Qn, adc_frame = qs
    # nprobe nearest cells per query (tiny, driver-side numpy)
    probe_cells = np.argsort(dist(Q), axis=1, kind="stable")[:, :nprobe]
    probes = spark.createDataFrame(
        [
            (int(qids[qi]), int(c))
            for qi in range(len(qids))
            for c in probe_cells[qi]
        ],
        "query_id long, cell int",
    )
    cand = index.join(F.broadcast(probes), "cell").filter(
        F.col("vec_id") != F.col("query_id")
    )
    qpos = {int(q): i for i, q in enumerate(qids)}

    def adc(batches):
        for pdf in batches:
            if len(pdf):
                yield adc_frame(pdf, pdf["query_id"].map(qpos).to_numpy())

    scored = cand.select("query_id", "vec_id", "code").mapInPandas(
        adc, _ADC_SCHEMA
    )
    if not refine:
        return _rank(scored, k, "score")
    shortlist = _rank(scored, 3 * k, "score").select(
        "query_id", F.col("neighbor_id").alias("vec_id")
    )
    # exact re-rank of the bounded shortlist: join back to raw vectors
    # once; qe is pre-normalized, so its qnorm is exactly 1
    qdf = spark.createDataFrame(
        [(int(q), [float(x) for x in Qn[i]], 1.0) for i, q in enumerate(qids)],
        "query_id long, qe array<double>, qnorm double",
    )
    full = shortlist.join(
        _with_norm(embeddings.select("vec_id", "embedding")), "vec_id"
    ).join(F.broadcast(qdf), "query_id")
    return _cosine_rank(full, k)


def save_pq_codebooks(spark, codebooks, path: str) -> None:
    """Persist PQ codebooks as a tiny (subspace, code, centroid) parquet
    table — with ``save_ivf_centroids`` these two artifacts are the whole
    IVF-PQ index metadata; the corpus-side codes live with the corpus."""
    rows = [
        (j, c, [float(x) for x in codebooks[j][c]])
        for j in range(len(codebooks))
        for c in range(len(codebooks[j]))
    ]
    spark.createDataFrame(
        rows, "subspace int, code int, centroid array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(path)


def load_pq_codebooks(spark, path: str):
    """Load codebooks saved by ``save_pq_codebooks`` back into the
    (m, n_codes, sub_dim) numpy tensor the PQ operators consume."""
    rows = spark.read.parquet(path).orderBy("subspace", "code").collect()
    m = rows[-1]["subspace"] + 1
    k = rows[-1]["code"] + 1
    sub = len(rows[0]["centroid"])
    B = np.empty((m, k, sub), dtype=np.float64)
    for r in rows:
        B[r["subspace"], r["code"]] = r["centroid"]
    return B


def knn_label_vote(
    embeddings: DataFrame,
    n_queries: int = 5,
    k: int = 10,
    label_col: str = "label",
) -> DataFrame:
    """k-NN majority-vote classification — the standard end-use of a
    vector index (label propagation, eval-set auto-labeling, weak
    supervision): each query vector (vec_id < n_queries) takes the modal
    label of its k exact-cosine nearest neighbors.

    Composition over :func:`cosine_topk` (the brute-force tier; swap in an
    ANN tier upstream at scale — any (query_id, neighbor_id) pair source
    works): neighbor labels join onto the top-k pairs (k·n_queries rows —
    tiny), votes aggregate per (query, label), and the winner is the
    vote-count maximum with ties broken by the smaller label so the
    decision is total-ordered. Returns (query_id, predicted_label, votes,
    n_neighbors)."""
    topk = cosine_topk(embeddings, n_queries, k)
    labels = embeddings.select(
        F.col("vec_id").alias("neighbor_id"), F.col(label_col).alias("nbr_label")
    )
    votes = (
        topk.join(labels, "neighbor_id")
        .groupBy("query_id", "nbr_label")
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("votes").desc(), F.col("nbr_label").asc()
    )
    totals = Window.partitionBy("query_id")
    return (
        votes.withColumn("__r", F.row_number().over(w))
        .withColumn("n_neighbors", F.sum("votes").over(totals))
        .filter(F.col("__r") == 1)
        .select(
            "query_id",
            F.col("nbr_label").alias("predicted_label"),
            "votes",
            "n_neighbors",
        )
    )


# Documented routing threshold for the sign-LSH near-dup tier: candidate
# pairs the key join materializes. Each candidate row pays an exact
# cosine over two dim-64 arrays — measured ~1.3e5 pairs/s/box at sf1
# (Σ size² = 1.58e6 → 12 s at 8 bits; 4.1e5 → 3.3 s at 10; 1.2e5 → 1.1 s
# at 12), ~250× costlier per row than the word tier's bare index
# emission, hence a cap four orders below its 1e10. 2e6 ≈ 15 s of
# verify: sf1 sits just under it (the registered (1, 8) layout stays the
# chooser's pick at every benched scale), and emission grows ~N²/2^bits,
# so the first corpus past sf1 starts buying hyperplanes and per-job
# verify cost stays roughly constant thereafter — the recall trade is the
# documented sign-LSH contract.
NEAR_DUP_MAX_EMISSION = 2e6


def band_sign_keys(emb: Column, n_bands: int, band_bits: int) -> Column:
    """array<bigint> of per-band sign keys: band j's key packs the sign
    bits of dims [j·band_bits, (j+1)·band_bits). Disjoint dim slices keep
    the bands' collision events independent, which is what gives banding
    its 1-(1-p^r)^B recall curve.

    Keys are built on BIGINT with shiftleft + bitwise OR, never INT
    arithmetic: the layout ladder's deep rungs are (2, 32) and (1, 64),
    where a 2³¹-and-up bit weight overflows an INT cast under ANSI mode
    and a 2⁶³ literal cannot even be planned (NumberFormatException).
    band_bits = 64 packs bit 63 into the BIGINT sign bit (1L << 63 is
    Long.MIN_VALUE) — pure bitwise, so the key stays a deterministic
    join-stable value; only collision structure matters, not sign.
    Widths past 64 have no single-column packing and raise."""
    if not 1 <= band_bits <= 64:
        raise ValueError(
            f"band_bits must be in [1, 64], got {band_bits}"
        )
    if n_bands < 1:
        raise ValueError(f"n_bands must be >= 1, got {n_bands}")
    keys = []
    for j in range(n_bands):
        k = F.lit(0).cast("long")
        for i in range(band_bits):
            bit = F.when(
                emb.getItem(j * band_bits + i) > 0,
                F.shiftleft(F.lit(1).cast("long"), i),
            ).otherwise(F.lit(0).cast("long"))
            k = k.bitwiseOR(bit)
        keys.append(k)
    return F.array(*keys)


def embedding_neardup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.25,
    n_bands: int = 1,
    band_bits: int = 8,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    max_band_size: int | None = None,
    dim: int | None = None,
) -> DataFrame:
    """(vec1, vec2, cosine): embedding-space near-duplicate pairs by
    banded sign-LSH — candidate pair iff the two vectors agree on ALL
    sign bits of AT LEAST ONE of ``n_bands`` disjoint ``band_bits``-dim
    slices (``band_sign_keys``), then exact cosine ≥ threshold. The
    MinHash-LSH banding construction (Leskovec et al., *Mining of Massive
    Datasets*, ch. 3) on hyperplane signs. The default ``(1, 8)`` is the
    classic 8-bit sign bucket; pairs straddling a sign flip in every band
    are missed, the standard trade for corpus-scale semantic dedup.

    Why bands (measured, bench_escalation.json): one wide block pays
    recall geometrically per added hyperplane. Expected emission is
    B·N²/2^r, so (4, 16) emits what one 14-bit block does, while per-pair
    recall is 1-(1-p^r)^B instead of p^(r-log₂B) (p = 1-θ/π per
    hyperplane): at cos 0.97, theory ~0.75 vs ~0.32. At the ×4-sf1 point
    the banded ladder recalled 289/400 planted pairs vs the 14-bit
    block's 131/400, and beat the 8-bit block's 216/400 at 4.6× its speed
    (5.0 s vs 23.1 s).

    The execution shape follows ``n_bands`` (medians of 11 interleaved
    reps after one warm-up, construct + noop write, 4 cores):

    - one band: an alias self-join of the (id, embedding, key) frame on
      the BIGINT key (``_block_pairs``; the scan and key projection
      compute once, ReusedExchange). At (1, 8) 0.38 s vs 0.61 s for the
      band shape at sf0.01, 0.56 s vs 0.65 s at sf0.1.
    - several bands: map-only explode to B (band, key, id) rows per
      vector → band equi-join (never a cross join) → distinct id pairs →
      two hash joins back to the vectors for one exact cosine each; the
      dim-64 payloads join in after the pair dedup. At (4, 10) 0.81 s vs
      0.92 s for the payload self-join plus distinct at sf0.1 (a tie at
      sf0.01, 0.95 s each). The bands must fit the embedding ``dim``;
      when the caller does not pass it, one eager job reads it.

    ``max_band_size`` is the degenerate-bucket guard on both shapes (same
    contract as the MinHash tier's): a bucket holding k copies of a
    near-identical embedding emits k² candidate rows, so buckets larger
    than the cap are dropped via ONE count window over the bucket key.
    Mass-duplicate clusters that big belong to the exact-dedup tier
    upstream; opt-in, exact semantics when None."""
    keys = band_sign_keys(F.col(emb_col), n_bands, band_bits)
    if n_bands == 1:
        bucket = ["bkey"]
        keyed = embeddings.select(
            F.col(id_col).alias("vid"),
            F.col(emb_col).alias("emb"),
            keys.getItem(0).alias("bkey"),
        )
    else:
        if dim is None:
            dim_row = embeddings.select(F.size(F.col(emb_col)).alias("d")).first()
            dim = None if dim_row is None else int(dim_row["d"])
        if dim is not None and n_bands * band_bits > dim:
            raise ValueError(
                f"n_bands*band_bits = {n_bands * band_bits} exceeds "
                f"embedding dim {dim}"
            )
        bucket = ["band", "bkey"]
        keyed = embeddings.select(
            F.col(id_col).alias("vid"), F.posexplode(keys).alias("band", "bkey")
        )
    if max_band_size is not None:
        keyed = (
            keyed.withColumn(
                "__bsz", F.count(F.lit(1)).over(Window.partitionBy(*bucket))
            )
            .filter(F.col("__bsz") <= max_band_size)
            .drop("__bsz")
        )
    if n_bands == 1:
        return _block_pairs(keyed, "bkey", threshold)
    ka, kb = keyed.alias("ka"), keyed.alias("kb")
    cand = (
        ka.join(
            kb,
            (F.col("ka.band") == F.col("kb.band"))
            & (F.col("ka.bkey") == F.col("kb.bkey"))
            & (F.col("ka.vid") < F.col("kb.vid")),
        )
        .select(F.col("ka.vid").alias("vec1"), F.col("kb.vid").alias("vec2"))
        .distinct()
    )
    emb_kv = embeddings.select(
        F.col(id_col).alias("vid"), F.col(emb_col).alias("emb")
    )
    a, b = emb_kv.alias("ea"), emb_kv.alias("eb")
    return (
        cand.join(a, F.col("vec1") == F.col("ea.vid"))
        .join(b, F.col("vec2") == F.col("eb.vid"))
        .select(
            "vec1",
            "vec2",
            _pair_cosine(F.col("ea.emb"), F.col("eb.emb")).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def choose_banded_layout(
    embeddings: DataFrame,
    n_bands: int = 1,
    band_bits: int = 8,
    max_emission: float | None = NEAR_DUP_MAX_EMISSION,
    sample_rows: int = 4096,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    n_full: int | None = None,
) -> tuple[int, int]:
    """Emission-aware (n_bands, band_bits) chooser for
    ``embedding_neardup_pairs``: the first rung of one ladder whose
    SAMPLED candidate-emission estimate fits ``max_emission``.

    The ladder starts at the entry layout (B, r) and trades bands for
    width: (B-1, dim//(B-1)), (B-2, dim//(B-2)), … (1, dim), each width
    capped at 64 (one BIGINT key per band; for dim > 64 the deep rungs
    hash a 64-dim prefix slice per band — still valid sign-LSH). A
    one-band entry (1, r) continues into the scale-default ladder
    (4, 16), (3, dim//3), (2, dim//2), (1, dim). Expected emission is
    B·N²/2^r, so each rung divides it by ~2^(Δr)·B-ratio (dim 64:
    (4, 16) → (3, 21) is ×43 less, (2, 32) another ×1500), while recall
    decays by one band's worth of the 1-(1-p^r)^B curve per rung — far
    gentler than adding bits to one block.

    The estimate is Σ over bands of [N + (N/n)²·(Σ bucket-size² − n)]:
    DIAGONAL-EXACT. Per band the true Σ bucket² is N (every row pairs
    with itself once) plus the collision mass, and only the collision
    mass scales as (N/n)² under frequency stationarity. Scaling the
    whole sample Σc², diagonal included, inflates the singleton buckets
    a 4096-row sample of a big corpus mostly consists of into n·(N/n)²
    phantom emission (~1.6e6 at ×4-sf1, nearly the whole 2e6 cap); that
    walked the ladder to (1, 64) and collapsed planted-pair recall to
    1/400 in the round-11 escalation measurement. At full sample
    coverage the estimate is Σc² exactly.

    Cost: ONE bounded sample job, 0.13-0.17 s on 4 cores at sf0.01 and
    sf0.1. Each sampled row's sign pattern comes back as one boolean
    array (a JVM-side ``transform``) that also gives the dim, and every
    rung's band histogram is folded from those patterns driver-side.
    (Per-bit CASE WHEN keys over the same sample took 0.29 s as 8-bit
    chunks and 1.0 s packed into one BIGINT.) The sample is
    DETERMINISTIC:
    the ``sample_rows`` lowest ``id_col`` values (TakeOrdered — one
    bounded pass). A bare ``limit`` is partition-order dependent, so two
    runs could disagree near the cap and flip the layout; when
    ``id_col`` is absent the first physical column breaks ties. The
    corpus count follows the word tier's contract: caller-provided
    ``n_full``, else exact when the sample returns fewer rows than
    requested, else one ``count()`` (pass ``n_full`` from catalog stats
    to skip it at 100 TB). ``max_emission=None`` returns the entry
    layout without any job.

    Last resort: if NO rung fits the cap (every layout dominated by
    degenerate buckets — near-identical sign patterns), the deepest
    structurally valid rung is returned even though its estimate exceeds
    the cap. Emission is then driven by mass-near-duplicate buckets,
    which belong to the exact-dedup tier upstream; pass
    ``max_band_size`` to ``embedding_neardup_pairs`` to bound them.

    Every call that samples logs one ``decisions.decision_log`` record:
    the sampled and full row counts, the estimate per rung tried, the
    cap and the chosen layout."""
    return _banded_layout(
        embeddings, n_bands, band_bits, max_emission, sample_rows, emb_col,
        id_col, n_full,
    )[:2]


def _banded_layout(
    embeddings: DataFrame,
    n_bands: int,
    band_bits: int,
    max_emission: float | None,
    sample_rows: int = 4096,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    n_full: int | None = None,
) -> tuple[int, int, int | None]:
    """:func:`choose_banded_layout`'s (bands, bits) plus the embedding dim
    it read off its sample (None when it sampled nothing)."""
    if max_emission is None:
        return n_bands, band_bits, None
    order_key = id_col if id_col in embeddings.columns else embeddings.columns[0]
    rows = (
        embeddings.orderBy(order_key)
        .limit(sample_rows)
        .select(F.transform(F.col(emb_col), lambda x: x > 0).alias("s"))
        .collect()
    )
    if not rows:
        return n_bands, band_bits, None
    signs = [r["s"] or [] for r in rows]
    dim = max(map(len, signs))
    patterns = [sum(1 << d for d, pos in enumerate(sg) if pos) for sg in signs]
    n_s = len(patterns)
    if n_full is None:
        n_full = n_s if n_s < sample_rows else embeddings.count()
    scale = (max(n_full, n_s) / n_s) ** 2
    from collections import Counter

    def est(bands: int, bits: int) -> float:
        mask = (1 << bits) - 1
        total = 0.0
        for b in range(bands):
            counts = Counter((p >> (b * bits)) & mask for p in patterns)
            coll = sum(c * c for c in counts.values()) - n_s
            total += n_full + coll * scale
        return total

    head = [(n_bands, band_bits)] if n_bands > 1 else [(1, band_bits), (4, 16)]
    rungs = head + [
        (b, min(dim // b, 64)) for b in range(head[-1][0] - 1, 0, -1)
    ]
    # a rung band_sign_keys cannot execute is skipped, never returned:
    # the tail (1, min(dim, 64)) always passes, so the last resort below
    # stays executable even from an entry wider than the embedding
    tried = []
    for bands, bits in rungs:
        if not 1 <= bits <= 64 or bands * bits > dim:
            continue
        tried.append((bands, bits, est(bands, bits)))
        if tried[-1][2] <= max_emission:
            break
    chosen = tried[-1][:2] if tried else (n_bands, band_bits)
    decision_log(
        "similarity.choose_banded_layout",
        {"sample_rows": n_s, "rows": n_full, "estimates": tried},
        max_emission,
        str(chosen),
    )
    return *chosen, dim


def embedding_neardup_pairs_routed(
    embeddings: DataFrame,
    threshold: float = 0.25,
    n_bands: int = 1,
    band_bits: int = 8,
    max_emission: float | None = NEAR_DUP_MAX_EMISSION,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    n_full: int | None = None,
) -> DataFrame:
    """``embedding_neardup_pairs`` at the layout ``choose_banded_layout``
    picks from the entry (``n_bands``, ``band_bits``): the entry layout
    while its sampled emission estimate fits ``max_emission``, the first
    ladder rung that fits once it doesn't — the steering that stops a
    100 TB caller from launching the 8-bit quadratic-block job the sf1
    audit flagged (20.8 s at sf1 and growing ~quadratically). From the
    (1, 8) default the escalation goes to the banded ladder, never to a
    wider single block: the ×4-sf1 head-to-head (bench_escalation.json)
    measured bit-walking dominated on recall and speed. Output schema is
    the generator's at every layout; ``n_full`` (e.g. from catalog
    stats) skips the chooser's corpus count. The chooser's sample gives
    the embedding dim, so a multi-band layout needs no dim guard job."""
    bands, bits, dim = _banded_layout(
        embeddings, n_bands, band_bits, max_emission,
        emb_col=emb_col, id_col=id_col, n_full=n_full,
    )
    return embedding_neardup_pairs(
        embeddings, threshold=threshold, n_bands=bands, band_bits=bits,
        id_col=id_col, emb_col=emb_col, dim=dim,
    )


def semantic_dedup_keep(
    embeddings: DataFrame,
    pairs: DataFrame,
    id_col: str = "vec_id",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540) keep-list: cluster
    a near-dup pair graph into connected components and keep one
    representative (the minimum id) per semantic cluster — the
    embedding-tier analogue of ``dedup.dedup_keep_list``, catching
    paraphrases and re-renderings that share no surface n-grams.

    Building the similarity graph and clustering it are separate steps,
    as in the paper: ``pairs`` is any (vec1, vec2) frame — the sign-LSH
    generator (``embedding_neardup_pairs``, at any layout or routed) or
    the IVF-cell one. The generator's recall IS the tier's recall (a
    near-dup the blocking misses is a duplicate that survives dedup);
    several bands are the scale choice (289/400 planted pairs vs the
    8-bit block's 216/400 at ×4.6 its speed, bench_escalation.json).
    Clustering is ``dedup.dedup_clusters``: connected components in a
    few rounds at any cluster diameter. Returns (vec_id, cluster_id,
    keep) over ALL vectors — unpaired vectors keep themselves."""
    from market_flow_spark.extensions.dedup import dedup_keep_list

    ids = embeddings.select(F.col(id_col).alias("doc_id"))
    keep = dedup_keep_list(ids, pairs, id1="vec1", id2="vec2")
    return keep.select(
        F.col("doc_id").alias(id_col), "cluster_id", "keep"
    )


def embedding_neardup_pairs_ivf(
    embeddings: DataFrame,
    threshold: float = 0.25,
    n_cells: int = 16,
    seed: int = 42,
    train_rows: int = 2048,
    centroids=None,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """(vec1, vec2, cosine): embedding near-dup pairs blocked by K-MEANS
    CELLS instead of hyperplane signs — the blocking the SemDeDup paper
    actually uses: data-adaptive clusters concentrate true near-dups into
    the same block far better than axis-sign buckets on clustered
    corpora, at the price of a (bounded, driver-trained) quantizer.

    Recall contract: pairs whose members quantize to different cells are
    missed (standard SemDeDup semantics — it only dedups within
    clusters). Within a cell the cosine is exact.

    Plan shape: quantizer trained once on a ``train_rows``-bounded sample
    (or passed in via ``centroids`` — the build-once path shared with
    ``ivf_topk``); cell assignment is ONE Arrow-batched map over the
    corpus, then the same alias self-join on the cell id as the sign
    tier. No cross join, no driver-side pair loop."""
    C = _given_or(
        centroids,
        lambda: train_ivf_centroids(
            embeddings.select(
                F.col(id_col).alias("vec_id"), F.col(emb_col).alias("embedding")
            ),
            n_cells,
            seed,
            train_rows,
        ),
    )
    assigned = embeddings.select(
        F.col(id_col).alias("vid"),
        F.col(emb_col).alias("emb"),
        _cell_udf(C)(emb_col).alias("cell"),
    )
    return _block_pairs(assigned, "cell", threshold)


def mmr_select(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    lambda_: float = 0.7,
) -> list[int]:
    """Maximal-marginal-relevance selection (Carbonell & Goldstein 1998):
    greedily pick ``k`` vectors maximizing
    ``lambda * cos(d, q) - (1 - lambda) * max over selected s of cos(d, s)``
    — the diversity-aware top-k an eval-set or few-shot-pool builder wants
    (plain top-k returns k near-duplicates of the best hit).

    MMR is INHERENTLY sequential (pick i+1 depends on picks 1..i), so this
    is a driver loop of exactly ``k`` bounded actions — each round ONE
    corpus scan: relevance and the already-selected vectors (at most k-1,
    kilobytes) are recomputed JVM-side with the selected set inlined as a
    literal array-of-arrays, and the argmax plans as TakeOrdered(1). No
    corpus data ever sits on the driver; ties break by vec_id so the
    selection is deterministic. Cost: k scans — the right trade at
    eval-pool scale (k in the tens); for k in the thousands use
    clustering (``train_ivf_centroids``) instead."""
    q = F.lit([float(x) for x in query_vec])
    norm = F.sqrt(_norm_sq(F.col("embedding")))
    rel = _dot(F.col("embedding"), q) / (
        norm * F.lit(float(sum(x * x for x in query_vec)) ** 0.5)
    )
    base = embeddings.select(
        "vec_id", "embedding", norm.alias("nrm"), rel.alias("rel")
    )
    selected: list[int] = []
    sel_vecs: list[list[float]] = []
    for _ in range(k):
        cand = base.filter(~F.col("vec_id").isin(selected)) if selected else base
        if sel_vecs:
            sims = [
                _dot(F.col("embedding"), F.lit(v))
                / (F.col("nrm") * F.lit(float(sum(x * x for x in v)) ** 0.5))
                for v in sel_vecs
            ]
            max_sim = sims[0]
            for s in sims[1:]:
                max_sim = F.greatest(max_sim, s)
            score = F.lit(lambda_) * F.col("rel") - F.lit(1 - lambda_) * max_sim
        else:
            score = F.col("rel")
        top = (
            cand.select("vec_id", "embedding", score.alias("score"))
            .orderBy(F.col("score").desc(), F.col("vec_id").asc())
            .limit(1)
            .collect()
        )
        if not top:
            break
        selected.append(top[0]["vec_id"])
        sel_vecs.append([float(x) for x in top[0]["embedding"]])
    return selected
