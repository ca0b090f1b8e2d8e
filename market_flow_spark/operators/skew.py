"""Skew- and layout-aware join strategies (SURVEY §4; 100 TB design).

Two techniques AQE cannot always supply:

- **Salting** — when one join key dominates (a hot market, a viral
  document), AQE's skew-join split helps sort-merge joins but not
  aggregations or all engines' plans. Salting rewrites the join so the hot
  key's rows spread over N sub-keys: the big side gets a random-ish salt
  derived from a stable row attribute (deterministic → reproducible), the
  small side is exploded N ways. Result is identical to the plain join.
- **Bucketing** — for a join repeated across many queries (fact ⋈ fact on
  the same key), pre-bucketing both tables by the join key lets Spark
  plan a shuffle-free sort-merge join: the Exchange disappears from the
  plan, which at 100 TB is the difference between re-shuffling terabytes
  per query and reading co-located buckets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: str,
    how: str = "inner",
    salt_buckets: int = 8,
    salt_source: str | None = None,
) -> DataFrame:
    """Equi-join with the big side salted over `salt_buckets` sub-keys.

    `salt_source`: a stable big-side column used to derive the salt
    (deterministic — reruns produce identical partitioning); defaults to
    the join key's own hash mixed with a secondary hash, which spreads a
    single hot key only if salt_source is a finer-grained column, so pass
    one (e.g. the fact's primary key) when a key is truly hot.
    """
    src = F.col(salt_source) if salt_source else F.col(on)
    salted_big = big.withColumn(
        "__salt", F.pmod(F.xxhash64(src, F.lit(42)), F.lit(salt_buckets))
    )
    salts = small.sparkSession.range(salt_buckets).select(
        F.col("id").cast("int").alias("__salt_small")
    )
    exploded_small = small.crossJoin(F.broadcast(salts)).withColumnRenamed(
        "__salt_small", "__salt"
    )
    joined = salted_big.join(
        exploded_small, on=[on, "__salt"], how=how
    )
    return joined.drop("__salt")


def key_skew_profile(
    df: DataFrame, on: str, sample_rows: int = 100_000, top_k: int = 5
) -> dict:
    """Measured join-key skew from a BOUNDED sample: the top keys' share
    of rows plus the sampled row count. One small Spark job (limit →
    aggregate → top-k collect of ``top_k`` rows); at 100 TB this reads a
    few input splits, never the table.

    Returns {"n_sampled", "top_keys": [(key, count)], "top_share"} where
    top_share is the heaviest key's fraction of sampled rows — the number
    that decides whether a plain hash join would funnel a corpus-fraction
    of rows through one task."""
    sample = df.select(on).limit(sample_rows)
    counts = (
        sample.groupBy(on)
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col(on).asc())
        .limit(top_k)
        .collect()
    )
    n = sample.count()
    top = [(r[on], int(r["c"])) for r in counts]
    return {
        "n_sampled": n,
        "top_keys": top,
        "top_share": (top[0][1] / n) if (top and n) else 0.0,
    }


def auto_salted_join(
    big: DataFrame,
    small: DataFrame,
    on: str,
    how: str = "inner",
    salt_source: str | None = None,
    skew_threshold: float = 0.2,
    max_salt: int = 64,
    target_parallelism: int | None = None,
) -> DataFrame:
    """Cost-based :func:`salted_join`: measure the big side's key skew
    from a bounded sample, and salt ONLY if one key holds more than
    ``skew_threshold`` of sampled rows — with the salt factor sized so
    the hot key's rows spread to roughly ``target_parallelism`` tasks
    (default: the session's shuffle-partition count), capped at
    ``max_salt``. A balanced key space joins plain (salting costs a
    small-side explode; paying it unconditionally is waste).

    The probe is one bounded sample job at plan time (the same sanctioned
    pattern as ``dedup.jaccard_pairs``' shape pick / the IVF quantizer
    sample); the decision is returned on the DataFrame's plan, so reruns
    of the returned frame pay nothing further."""
    prof = key_skew_profile(big, on)
    if prof["top_share"] <= skew_threshold:
        return big.join(small, on=on, how=how)
    if target_parallelism is None:
        target_parallelism = int(
            big.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
        )
    buckets = min(
        max_salt,
        max(2, int(prof["top_share"] * target_parallelism * 2)),
    )
    return salted_join(
        big, small, on, how=how, salt_buckets=buckets, salt_source=salt_source
    )


def write_bucketed(
    df: DataFrame, table: str, bucket_col: str, num_buckets: int = 16
) -> None:
    """Materialize a table bucketed (and sorted) by the join key. Readers
    joining two tables bucketed the same way skip the shuffle entirely."""
    (
        df.write.mode("overwrite")
        .bucketBy(num_buckets, bucket_col)
        .sortBy(bucket_col)
        .saveAsTable(table)
    )


def bucketed_join(
    spark: SparkSession, left_table: str, right_table: str, on: str
) -> DataFrame:
    """Join two co-bucketed catalog tables — plans without an Exchange."""
    return spark.table(left_table).join(spark.table(right_table), on=on)
