"""End-to-end corpus cleaning — the composition a training-data pipeline
actually ships (north-star extension; no reference analogue, the reference
is numeric price analytics).

``clean_corpus`` wires the individually-tested operators into the standard
cleaning ladder and labels every document with its fate:

    quality gate → repetition gate → PII gate        (ONE fused corpus scan)
      → exact dedup keeper                            (one shuffle)
      → MinHash+LSH near-dup → connected components   (band equi-joins)
      → (doc_id, keep, drop_reason)

Stage order is semantic, not incidental: cheap row-local gates run first so
junk never enters a shuffle; exact dedup halves the near-dup tier's input;
near-dup clustering runs over exact keepers only. ``drop_reason`` is the
FIRST failing stage (low_quality | repetitive | pii | exact_dup |
near_dup), which makes per-reason audits additive.

At 100 TB: one full corpus scan (the fused gate projection), one hash
exchange on the exact fingerprint, then the MinHash band joins whose cost
scales with the surviving near-dup neighborhoods — there is no stage that
re-reads the raw corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from market_flow_spark.extensions import dedup
from market_flow_spark.extensions.text import quality_flags


def clean_corpus(
    docs: DataFrame,
    min_quality: float = 1.0,
    sim_threshold: float = 0.8,
    text_col: str = "text",
    embeddings: DataFrame | None = None,
    emb_threshold: float = 0.25,
    emb_id_col: str = "vec_id",
    emb_col: str = "embedding",
    gopher: bool = False,
) -> DataFrame:
    """(doc_id, keep, drop_reason) for every input document — the
    materializable decision table of the cleaning pipeline (the cleaned
    corpus is ``docs.join(result.filter("keep"), "doc_id", "left_semi")``).

    Passing ``embeddings`` (``emb_id_col`` matching ``doc_id``) appends the
    SemDeDup tier after surface near-dup removal — the full modern ladder
    quality → exact → MinHash → semantic. The embedding stage runs over
    surviving docs only (left_semi-narrowed before the blocked pair join),
    and its drop reason is ``semantic_dup``. Docs without an embedding row
    pass the stage untouched.

    ``gopher=True`` (round 12) adds the Rae et al. line/word-shape rules
    to the early waterfall (drop reason ``gopher_shape``, after pii) as a
    fused row-local expression on the SAME gate scan — no join, no second
    corpus pass, and the default-off flag keeps the registered
    ``corpus_clean`` twin byte-identical. Note the Gopher 50-token floor:
    with the gate on, every short document fails the shape rules — that
    is the paper's rule, not a bug."""
    # ONE pass computes gate flags AND the exact fingerprint; the exact
    # keeper is a min-over-survivors window on the SAME frame (no surv1
    # self-branch — a branched plan would re-run the expensive gate
    # expressions once per consumer at execution time)
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    early = (
        F.when(F.col("quality_score") < min_quality, F.lit("low_quality"))
        .when(F.col("repetitive"), F.lit("repetitive"))
        .when(F.col("has_pii"), F.lit("pii"))
    )
    if gopher:
        # the Gopher line/word-shape verdict as a fused row-local
        # expression on the SAME scan projection (gopher_pass_expr —
        # no join, no second scan); drop reason stays additive
        from market_flow_spark.extensions.text import gopher_pass_expr

        early = early.when(~gopher_pass_expr(text_col), F.lit("gopher_shape"))
    base = (
        quality_flags(docs, text_col)
        .withColumn("early_reason", early)
        .withColumn("fingerprint", F.md5(norm))
    )
    w = Window.partitionBy("fingerprint")
    base = base.withColumn(
        "ex_keep",
        F.min(
            F.when(F.col("early_reason").isNull(), F.col("doc_id"))
        ).over(w),
    )

    # near-dup clustering among exact keepers (consumed at construction by
    # the component loop; the returned labels are lineage-truncated, so
    # materializing the result does NOT re-run the pair search)
    surv2 = base.filter(
        F.col("early_reason").isNull() & (F.col("doc_id") == F.col("ex_keep"))
    ).select("doc_id", text_col)
    pairs = dedup.minhash_lsh_pairs(surv2, threshold=sim_threshold,
                                    text_col=text_col)
    clusters = dedup.dedup_clusters(pairs)

    labeled = base.join(clusters, "doc_id", "left").select(
        "doc_id",
        F.when(F.col("early_reason").isNotNull(), F.col("early_reason"))
        .when(F.col("doc_id") != F.col("ex_keep"), F.lit("exact_dup"))
        .when(
            F.col("cluster_id").isNotNull()
            & (F.col("cluster_id") != F.col("doc_id")),
            F.lit("near_dup"),
        )
        .alias("drop_reason"),
    )

    if embeddings is not None:
        from market_flow_spark.extensions.similarity import (
            embedding_neardup_pairs,
        )

        surv3 = labeled.filter(F.col("drop_reason").isNull()).select("doc_id")
        emb_surv = embeddings.join(
            surv3.withColumnRenamed("doc_id", emb_id_col), emb_id_col,
            "left_semi",
        )
        sem_pairs = embedding_neardup_pairs(
            emb_surv, threshold=emb_threshold, id_col=emb_id_col,
            emb_col=emb_col,
        )
        sem_clusters = dedup.dedup_clusters(
            sem_pairs, id1="vec1", id2="vec2"
        ).withColumnRenamed("cluster_id", "sem_cluster")
        labeled = labeled.join(sem_clusters, "doc_id", "left").select(
            "doc_id",
            F.when(F.col("drop_reason").isNotNull(), F.col("drop_reason"))
            .when(
                F.col("sem_cluster").isNotNull()
                & (F.col("sem_cluster") != F.col("doc_id")),
                F.lit("semantic_dup"),
            )
            .alias("drop_reason"),
        )

    return labeled.withColumn("keep", F.col("drop_reason").isNull()).select(
        "doc_id", "keep", "drop_reason"
    )


def cluster_safe_split(
    docs: DataFrame,
    pairs: DataFrame,
    train_frac: float = 0.8,
    salt: str = "split",
    id1: str = "doc1",
    id2: str = "doc2",
) -> DataFrame:
    """Leakage-safe train/test split: assign splits per NEAR-DUP CLUSTER,
    not per document, so no near-duplicate pair ever straddles the
    boundary — the eval-integrity property a per-doc hash split silently
    violates (a test doc's near-twin in train is train/test contamination
    by construction).

    ``pairs`` is any near-dup pair frame (MinHash, n-gram Jaccard,
    embedding cosine — columns ``id1``/``id2``); documents are clustered
    by connected components and the whole cluster draws one
    content-addressed split from its cluster id. Unpaired docs are their
    own cluster, so the split stays ~``train_frac`` overall. Returns
    (doc_id, cluster_id, split) over ALL docs."""
    from market_flow_spark.extensions.sampling import assign_split

    keep = dedup.dedup_keep_list(docs, pairs, id1=id1, id2=id2)
    return assign_split(
        keep.select("doc_id", "cluster_id"),
        "cluster_id",
        train_frac=train_frac,
        salt=salt,
    )


def ngram_novelty(
    docs: DataFrame, n: int = 3, text_col: str = "text"
) -> DataFrame:
    """(doc_id, n_grams, n_novel, novelty): per-document n-gram NOVELTY —
    the share of the document's distinct n-grams whose FIRST corpus
    occurrence (minimum doc_id; doc_id is the corpus's deterministic
    ingest order, the same convention the incremental dedup tier keys
    on) is this document. A curation signal complementary to the dedup
    tiers: near-1 novelty = genuinely fresh text; near-0 = the document
    is assembled from n-grams the corpus has already seen, even when no
    single source document is similar enough for any pairwise tier to
    flag (template recombination, quote stitching, spun content).
    Documents with no n-grams (fewer than ``n`` tokens) report 0 grams
    and NULL novelty.

    Plan (100 TB shape): the map-only shingle build, one hash aggregate
    on the n-gram key (min doc_id — map-side partial combine applies),
    one equi-join back on the same key reusing that partitioning, and a
    per-doc aggregate. Never all-pairs; the n-gram aggregate is the
    same one exchange the contamination tier already budgets, and the
    score is exact — no sketches, no sampling."""
    from market_flow_spark.functions.aggregates import det_round

    grams = dedup.doc_shingles(docs, n, text_col)
    owner = grams.groupBy("word").agg(F.min("doc_id").alias("owner"))
    per_doc = (
        grams.join(owner, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                (F.col("doc_id") == F.col("owner")).cast("bigint")
            ).alias("n_novel"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_grams"), F.lit(0)).alias("n_grams"),
            F.coalesce(F.col("n_novel"), F.lit(0)).alias("n_novel"),
            F.when(
                F.col("n_grams").isNotNull(),
                det_round(
                    F.col("n_novel") / F.col("n_grams"), 6
                ),
            ).alias("novelty"),
        )
    )
