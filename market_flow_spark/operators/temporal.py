"""Temporal join operators the reference lacks but a price-analytics engine
at scale needs: as-of join (attach the most recent right-side observation at
or before each left timestamp) and a binned range join (pairs within a time
tolerance without a cross product).

Neither exists as a built-in Spark join type (DuckDB grew ASOF JOIN;
cf. reference-style FX attachment at
/root/reference/dbt/models/analytics/fact_transaction.sql:51-53 which only
ever joins on exact (year, month) keys). Both are implemented here as
compositions of shuffles Spark already optimizes, not as UDFs:

- ``asof_join``: the classic union+window technique — tag both inputs, union
  them, and run ``last(value, ignorenulls=True)`` over a window partitioned
  by the join keys and ordered by (ts, tag). One hash shuffle on the keys +
  one intra-partition sort: O(n log n) per partition, no per-key collect, no
  range self-join. Scales to arbitrarily many left rows per key and is
  skew-tolerant to the same degree as any keyed window.

- ``range_join_binned``: quantize time into tolerance-sized bins, replicate
  the RIGHT side into each bin it can influence (3 bins per row for a ±tol
  predicate), equi-join on (keys, bin), then apply the exact |Δts| <= tol
  predicate. Turns an O(n·m) nested-loop range join into a hash join whose
  fan-out is bounded by data density per bin — the standard trick for
  interval joins at 100 TB scale (each side shuffles once, by key+bin).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_TAG = "__asof_tag"
_TS = "__asof_ts"


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str,
    right_ts: str,
    values: Sequence[str],
    suffix: str = "_asof",
) -> DataFrame:
    """For each left row, attach ``values`` from the latest right row with
    the same ``on`` keys and ``right_ts <= left_ts`` (inclusive, matching
    DuckDB ``ASOF JOIN ... ON l.ts >= r.ts``); NULL when no such row.

    Left-join semantics: every left row survives exactly once.
    """
    on = list(on)
    payload = "__asof_payload"

    # The payload struct is non-null for every right row even when the
    # individual values are NULL, so last(..., ignorenulls) tracks the
    # latest right ROW (exact as-of semantics), not the latest non-null
    # value.
    r = right.select(
        *on,
        F.col(right_ts).alias(_TS),
        F.struct(*[F.col(v) for v in values]).alias(payload),
    ).withColumn(_TAG, F.lit(1))
    l = left.withColumn(_TS, F.col(left_ts)).withColumn(_TAG, F.lit(0))

    # unionByName fills each side's missing columns with NULL; right rows
    # are dropped after the window so the NULLs never surface.
    u = l.unionByName(r, allowMissingColumns=True)

    # At equal timestamps the right row must be visible to the left row
    # (inclusive bound) → order right (tag=1) before left (tag=0).
    w = (
        Window.partitionBy(*on)
        .orderBy(F.col(_TS).asc(), F.col(_TAG).desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    u = u.withColumn(payload, F.last(payload, ignorenulls=True).over(w))
    for v in values:
        u = u.withColumn(v + suffix, F.col(payload)[v])

    return u.filter(F.col(_TAG) == 0).drop(_TAG, _TS, payload)


def range_join_binned(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts_us: Column,
    right_ts_us: Column,
    tolerance_us: int,
) -> DataFrame:
    """Inner-join pairs with equal ``on`` keys and |left_ts − right_ts| <= tol.

    Both timestamp expressions must be integer microseconds (shift-invariant:
    any fixed epoch offset cancels in the difference). The right side is
    replicated into the 3 tolerance-sized bins it can influence, so the
    equi-join on (keys, bin) covers every qualifying pair exactly once.
    Right columns keep their names; callers project/aggregate afterwards.

    Inner semantics only: outer variants need an anti-join recovery pass
    (a left row whose bin matches are all out-of-tolerance must still
    survive), which callers who aggregate can do cheaper themselves — see
    ``queries_ext.q_range_join_nearby``.
    """
    on = list(on)
    lb = "__rj_bin"
    lt = "__rj_lts"
    rt = "__rj_rts"

    def _floordiv(col: Column, divisor: int) -> Column:
        # Exact integer floor-division (Spark's `/` is double and `cast long`
        # truncates toward zero, which mis-bins negative pre-1970 epochs near
        # a boundary). pmod keeps the remainder non-negative regardless of
        # sign; (col - pmod) is an exact multiple of the divisor so the final
        # division is exact for |quotient| < 2^53.
        pm = F.pmod(col, F.lit(divisor))
        return ((col - pm) / F.lit(divisor)).cast("long")

    l2 = left.withColumn(lt, left_ts_us).withColumn(
        lb, _floordiv(F.col(lt), tolerance_us)
    )
    r2 = (
        right.withColumn(rt, right_ts_us)
        .withColumn("__rj_rbin", _floordiv(F.col(rt), tolerance_us))
        .withColumn("__rj_shift", F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))))
        .withColumn(lb, F.col("__rj_rbin") + F.col("__rj_shift"))
        .drop("__rj_rbin", "__rj_shift")
    )
    joined = l2.join(r2, on=[*on, lb], how="inner")
    within = F.abs(F.col(lt) - F.col(rt)) <= F.lit(tolerance_us)
    return joined.filter(within).drop(lb, lt, rt)


def ewma_segment_rows(alpha: float) -> int:
    """Default segment size for ``ewma_unbounded`` — the midpoint of the
    validity window; exposed so oracle twins can reproduce it."""
    import math

    return int(200.0 / (-math.log10(1.0 - float(alpha))))


def ewma_unbounded(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    value_col: str,
    alpha: float,
    out_col: str = "ewma",
    segment_rows: int | None = None,
) -> DataFrame:
    """``ewma`` without the series-length bound: the same recursion
    (``y_n = alpha*x_n + (1-alpha)*y_{n-1}``, ``y_1 = x_1``) computed by
    a TWO-LEVEL closed form, valid for groups of any length.

    Level 1 — segments of ``B`` rows: within segment s, the local prefix
    ``P_j = q^j * sum_{i<=j} t_i`` (same t-terms as ``ewma``; the global
    first row keeps its ``x*q^-1`` seeding) gives
    ``y = q^j * C_s + P_j`` where ``C_s`` is the carry — the y value
    entering the segment.

    Level 2 — the carry recursion ``C_s = A*C_{s-1} + P_end(s-1)`` with
    constant ``A = q^B``. B is chosen so that ``A < 2^-537`` (so ``A^2``
    underflows to EXACTLY 0.0 in IEEE doubles) while ``q^-B`` stays far
    under double overflow. Then the infinite expansion truncates exactly:
    ``C_s = P_end(s-1) + A*P_end(s-2)`` — two LAGs over the tiny
    segment-summary frame, no recursion left. (Mathematically the
    dropped terms are < 1e-400 relative — below anything a double can
    carry; the sequential recursion run in doubles drops them too, at
    the same point and for the same reason.)

    Cost: the ``ewma`` plan plus one extra corpus shuffle — rank on
    (group), prefix window on (group, segment), then a segment-count-
    sized aggregate + lag + join-back. Two passes over the fact, as the
    segmented design promises; state never leaves the executors.

    ``segment_rows`` overrides B but must stay inside the validity
    window ``(162/-log10(q), 300/-log10(q))`` — outside it the two-lag
    truncation (lower bound) or the level-1 prefix (upper bound) breaks,
    so the override raises rather than silently corrupting.
    """
    import math

    if not 0.0 < alpha < 1.0:
        raise ValueError("alpha must be in (0, 1)")
    q = 1.0 - float(alpha)
    neglog = -math.log10(q)
    lo_b = int(math.ceil(162.0 / neglog)) + 1
    hi_b = int(math.floor(300.0 / neglog))
    B = int(segment_rows) if segment_rows else ewma_segment_rows(alpha)
    if not lo_b <= B <= hi_b:
        raise ValueError(
            f"segment_rows={B} outside validity window [{lo_b}, {hi_b}] "
            f"for alpha={alpha}"
        )
    A = q**B

    w = Window.partitionBy(*group_cols).orderBy(*order_cols)
    d = (
        df.withColumn("__rn", F.row_number().over(w))
        .withColumn(
            "__seg", ((F.col("__rn") - F.lit(1)) / F.lit(B)).cast("long")
        )
        .withColumn("__j", F.col("__rn") - F.col("__seg") * F.lit(B))
    )
    t = F.when(
        F.col("__rn") == 1, F.col(value_col) * F.lit(1.0 / q)
    ).otherwise(
        F.lit(float(alpha))
        * F.col(value_col)
        * F.pow(F.lit(q), -F.col("__j"))
    )
    ws = (
        Window.partitionBy(*group_cols, "__seg")
        .orderBy("__j")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    d = d.withColumn("__t", t).withColumn(
        "__P", F.pow(F.lit(q), F.col("__j")) * F.sum("__t").over(ws)
    )

    ends = d.groupBy(*group_cols, "__seg").agg(
        F.max_by("__P", "__j").alias("__p_end")
    )
    wseg = Window.partitionBy(*group_cols).orderBy("__seg")
    carry = ends.select(
        *group_cols,
        "__seg",
        (
            F.coalesce(F.lag("__p_end", 1).over(wseg), F.lit(0.0))
            + F.lit(A)
            * F.coalesce(F.lag("__p_end", 2).over(wseg), F.lit(0.0))
        ).alias("__C"),
    )
    out = d.join(carry, [*group_cols, "__seg"])
    return out.withColumn(
        out_col,
        F.pow(F.lit(q), F.col("__j")) * F.col("__C") + F.col("__P"),
    ).drop("__rn", "__seg", "__j", "__t", "__P", "__C")


def interval_lookup(
    facts: DataFrame,
    intervals: DataFrame,
    point: str,
    lo: str,
    hi: str,
    on: Sequence[str] = (),
    strategy: str = "bucket",
    bucket_width: float | None = None,
    max_buckets_per_interval: int = 1024,
) -> DataFrame:
    """Inner-join each fact row to every interval row with
    ``lo <= point <= hi`` (both bounds inclusive) and equal ``on`` keys —
    the band-join / IP-range-lookup shape. Intervals may overlap (a fact
    row then matches several intervals) and need no equi key at all,
    which is exactly the case where a naive range join degenerates into
    BroadcastNestedLoopJoin (small dim) or a cartesian (large dim).

    ``strategy``:

    - ``"bucket"`` (default, the 100 TB path): generalizes
      ``range_join_binned`` to variable-width intervals. Pick a bucket
      width ``w`` (median interval width, sampled via one bounded
      2-scalar aggregate, unless ``bucket_width`` is given), replicate
      each interval into every width-``w`` bucket it covers
      (``sequence(floor(lo/w), floor(hi/w))`` — monotone floats, so a
      point inside the interval always lands in a covered bucket), map
      each fact to its single bucket, equi-join on (keys, bucket), then
      apply the exact range predicate. Each qualifying pair meets in
      exactly one bucket (the fact's), so no dedup pass is needed. Both
      sides shuffle once, on (keys, bucket); fan-out is bounded by
      ``max_buckets_per_interval`` (a wider-than-cap interval coarsens
      ``w`` instead of exploding — correctness is unaffected, only
      bucket selectivity).
    - ``"broadcast"``: ``F.broadcast(intervals)`` + the raw range
      predicate — a declared BroadcastNestedLoopJoin, the right plan
      when the interval table is genuinely small (a dozen price bands);
      callers own the plan-audit declaration.

    Fact and interval column names must be disjoint (same contract as
    ``range_join_binned``); all columns of both sides survive.
    """
    on = list(on)
    pt = F.col(point).cast("double")
    lo_c = F.col(lo).cast("double")
    hi_c = F.col(hi).cast("double")

    if strategy == "broadcast":
        cond = [facts[k] == intervals[k] for k in on]
        return facts.join(
            F.broadcast(intervals), [*cond, (pt >= lo_c) & (pt <= hi_c)]
        ).drop(*[intervals[k] for k in on])
    if strategy != "bucket":
        raise ValueError(f"unknown strategy {strategy!r}")

    if bucket_width is None:
        stats = (
            intervals.select((hi_c - lo_c).alias("__w"))
            .agg(
                F.expr("approx_percentile(__w, 0.5)").alias("med"),
                F.max("__w").alias("mx"),
            )
            .first()
        )
        med = float(stats["med"] or 0.0)
        mx = float(stats["mx"] or 0.0)
        w = med if med > 0 else (mx if mx > 0 else 1.0)
        # cap the per-interval replication factor: one freak interval
        # must not explode into millions of bucket rows
        if mx / w > max_buckets_per_interval:
            w = mx / max_buckets_per_interval
    else:
        w = float(bucket_width)
        if w <= 0:
            raise ValueError("bucket_width must be > 0")

    bk = "__il_bucket"
    ints = intervals.withColumn(
        bk,
        F.explode(
            F.sequence(
                F.floor(lo_c / F.lit(w)).cast("long"),
                F.floor(hi_c / F.lit(w)).cast("long"),
            )
        ),
    )
    fts = facts.withColumn(bk, F.floor(pt / F.lit(w)).cast("long"))
    joined = fts.join(ints, on=[*on, bk], how="inner")
    return joined.filter((pt >= lo_c) & (pt <= hi_c)).drop(bk)


def gap_fill_series(
    df: DataFrame,
    group: str,
    period_col: str,
    value_cols: list[str],
    step: str = "1 month",
) -> DataFrame:
    """Regularize a per-group time series: build each group's full period
    spine from its own min..max period (``sequence`` with ``step``
    interval), left-join the observed points, forward-fill the value
    columns into the gaps, and flag synthesized rows with ``is_gap``.

    Single-pass shape (round-13): each observed row EMITS itself plus
    the gap periods up to (its successor − step) via lead() + one
    map-side explode — a generated gap period carries the values of the
    row it exploded from, which IS the forward fill. The former shape
    (group-bounds aggregate → spine explode → left join back → fill
    window) consumed the input TWICE; column pruning specialized the
    bounds branch differently, so the two subtrees never shared an
    exchange and the source aggregation chain ran twice end-to-end
    (measured at sf0.1: the registered query's sales join executed once
    per branch). One lead() window on the observed series replaces the
    bounds agg + spine join + fill window; no cross join against a
    global calendar either way (each group's spine still spans exactly
    its own min..max period).

    Precondition (unchanged from the spine shape, now stated): observed
    periods lie on the ``step`` grid — the old shape silently DROPPED
    off-grid observations (the spine join never matched them); this one
    keeps them and clamps their gap run to empty. The gap run of the row
    BEFORE an off-grid row is empty too (its successor − step falls
    short of its next grid period), so no gap row fills toward it.
    Observed rows keep their own values verbatim: a NULL observation is
    kept as NULL and its gap rows carry the NULL (the registered series
    are aggregates, so observed values are never NULL — both shapes
    agree on every grid-aligned series with non-null observations)."""
    w = Window.partitionBy(group).orderBy(period_col)
    src = df.withColumn("__nxt", F.lead(period_col).over(w))
    emitted = src.select(
        group,
        F.col(period_col).alias("__obs"),
        *value_cols,
        F.explode(
            F.expr(
                f"sequence({period_col}, greatest({period_col},"
                f" coalesce(__nxt - interval {step}, {period_col})),"
                f" interval {step})"
            )
        ).alias(period_col),
    )
    return emitted.select(
        group,
        period_col,
        *value_cols,
        (F.col(period_col) != F.col("__obs")).alias("is_gap"),
    )


def ewma(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    value_col: str,
    alpha: float,
    out_col: str = "ewma",
) -> DataFrame:
    """Exponentially weighted moving average per group — the recursive
    window shape (``y_n = alpha*x_n + (1-alpha)*y_{n-1}``, ``y_1 = x_1``,
    pandas ``ewm(adjust=False)`` semantics) that a naive translation
    would hand to a per-group Python loop.

    Spark-first instead: the recursion has the closed form

        y_n = q^n * S_n,   q = 1 - alpha,
        S_n = prefix-sum of t_i,  t_1 = x_1 * q^-1,
                                  t_i = alpha * x_i * q^-i   (i >= 2)

    so ONE ordered prefix sum per group (hash shuffle + intra-partition
    sort, identical cost to any keyed running aggregate) computes every
    y_n exactly — no UDF, no iteration, no driver state.

    Numeric bound (documented, not hidden): q^-i overflows double range
    around i ~ ln(1.7e308)/(-ln q) — ~5 600 rows/group at alpha = 0.1,
    ~2 000 at alpha = 0.3. EWMA over a 100 TB fact is therefore run on a
    pre-aggregated grain (the registered query uses monthly averages:
    decades of history stay thousands of times under the bound). For
    series past the bound use ``ewma_unbounded`` (segmented two-level
    closed form, no length limit).

    Ordering contract: ``order_cols`` must be a total order within each
    group (ties would make prefix sums nondeterministic — same rule as
    every ordered window in the repo).
    """
    q = 1.0 - float(alpha)
    w = Window.partitionBy(*group_cols).orderBy(*order_cols)
    with_rn = df.withColumn("__rn", F.row_number().over(w))
    t = F.when(
        F.col("__rn") == 1, F.col(value_col) * F.lit(1.0 / q)
    ).otherwise(
        F.lit(float(alpha))
        * F.col(value_col)
        * F.pow(F.lit(q), -F.col("__rn"))
    )
    ws = (
        Window.partitionBy(*group_cols)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        with_rn.withColumn("__t", t)
        .withColumn(
            out_col, F.pow(F.lit(q), F.col("__rn")) * F.sum("__t").over(ws)
        )
        .drop("__rn", "__t")
    )
