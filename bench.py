#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line with totals plus only the slowest-N per-query timings (the full
per-query map — every pass, spreads, scaling curves, plan metrics — lives
in bench_detail.json; the printed line is kept < 1800 bytes because the
driver captures only the tail of stdout).

Each query is fully materialized through the noop sink (all columns computed,
nothing collected to the driver) — the honest cost of the plan, not of
toPandas.

Noise control (round-6): each query runs 1 cold + N warm passes (N =
$SPARK_GRAFT_WARM_PASSES, default 5) and the steady-state number is the
MEDIAN of the warm passes; the min and the max/min spread are recorded in
bench_detail.json so a round-over-round move can be attributed to code vs
environment (the r4->r5 0.79x "improvement" was pure variance — median-of-5
bounds that).
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from market_flow_spark.queries_all import QUERIES  # noqa: E402
from market_flow_spark.session import get_spark  # noqa: E402

# every registered query is benched — no exclusions.
EXCLUDE: set[str] = set()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    # One initial shuffle partition per core (the session default): AQE
    # coalesces small stages down for free, while CPU-heavy aggregations
    # (the 150M-row dedup joins) keep full parallelism — measured: the
    # former 8-partition override halved the heavy queries' throughput
    # and made them bimodal. A real cluster run overrides via
    # SPARK_SHUFFLE_PARTITIONS (sized ~2-3x total cores).
    spark = get_spark(app_name="mfs-bench")
    spark.sparkContext.setLogLevel("ERROR")

    names = [n for n in QUERIES if n not in EXCLUDE]
    # SPARK_GRAFT_ONLY=a,b,c: restrict the pass to named queries — the
    # single-row refresh mode (e.g. adding one new operator's sf1 row to
    # the merged record without re-running the full registry at sf1;
    # bench_merge.py flags single-run rows via runs.only_in_one either way)
    only = os.environ.get("SPARK_GRAFT_ONLY")
    if only:
        wanted = {n.strip() for n in only.split(",") if n.strip()}
        unknown = wanted - set(names)
        assert not unknown, (
            "SPARK_GRAFT_ONLY names not in registry: " + ", ".join(sorted(unknown))
        )
        names = [n for n in names if n in wanted]
    # warm-up: JVM startup + the Python worker pool / Arrow path (smallest
    # scale factor so warm-up cost stays low)
    QUERIES["top10_products"](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    QUERIES["linear_forecast"](spark, "/root/testdata/sf0.001").write.format(
        "noop"
    ).mode("overwrite").save()

    def run(df) -> float:
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        dt = round(time.perf_counter() - t0, 3)
        # harness hygiene between timed runs (both OUTSIDE the timed
        # region): drop any cached blocks, then force a JVM GC so one
        # query's garbage (a 5M-row join's humongous allocations) is not
        # billed to whichever query runs next — measured: removes a
        # 1.5-2x inflation on the query following the heaviest one
        spark.catalog.clearCache()
        spark._jvm.System.gc()
        return dt

    # 1 cold + N warm passes per query over ONE constructed DataFrame. The
    # cold pass carries the per-query one-time costs — Python-side plan
    # construction (~0.7 s/query of py4j traffic, measured) and whole-stage-
    # codegen compilation — while the warm passes re-execute the same logical
    # plan (AQE replans physically each run), so `value` is the steady-state
    # EXECUTION cost, which is what scales with data. The steady number per
    # query is the MEDIAN of the warm passes: with N >= 5 the median is
    # robust both to one-sided noise (GC pauses, scheduler jitter add time)
    # and to a single lucky pass, so a round-over-round move >~1.3x is
    # attributable to code. min and max/min spread are recorded alongside.
    # All passes run back-to-back PER QUERY and the DataFrame is released
    # before the next query starts: keeping every plan alive for suite-wide
    # passes (the old layout) held ~80 query plans plus their
    # broadcast/shuffle state live in the one local-mode JVM, and the heap
    # pressure inflated heavy queries' "warm" numbers up to 4x (measured:
    # bm25 0.95 s isolated vs 4.1 s under the old layout at 78 queries).
    # All passes land in bench_detail.json (keeping the printed line small
    # enough for the driver's capture buffer — metric/value/sf lead it).
    n_warm = max(2, int(os.environ.get("SPARK_GRAFT_WARM_PASSES", "5")))
    cold: dict[str, float] = {}
    construct: dict[str, float] = {}
    warm_passes: dict[str, list[float]] = {}
    for name in names:
        # cold = Python-side plan construction (py4j expression traffic,
        # recorded separately in `construct`) + first execution (codegen
        # compile, parquet footer reads, and — for the checkpointed
        # iterative queries — the entire loop, whose localCheckpoint the
        # warm passes then reuse). See PLANS.md "Cold-start anatomy".
        t0 = time.perf_counter()
        df = QUERIES[name](spark, sf_dir)
        construct[name] = round(time.perf_counter() - t0, 3)
        cold[name] = round(construct[name] + run(df), 3)
        warm_passes[name] = [run(df) for _ in range(n_warm)]
        del df

    def median(xs: list[float]) -> float:
        s = sorted(xs)
        mid = len(s) // 2
        return round(s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2, 3)

    warm = {name: median(ps) for name, ps in warm_passes.items()}
    warm_min = {name: min(ps) for name, ps in warm_passes.items()}
    warm_spread = {
        name: round(max(ps) / max(min(ps), 1e-9), 2)
        for name, ps in warm_passes.items()
    }

    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    detail_out = os.environ.get("SPARK_GRAFT_DETAIL_OUT", "bench_detail.json")

    # --queries-only (or SPARK_GRAFT_QUERIES_ONLY=1): registry pass alone,
    # no fixtures/scaling/streaming/plan-metrics — the mode the sf1.0
    # cross-sf slope record uses (fixtures self-scale and would re-measure
    # fixed-size constructions; the slope question is about the registry).
    if "--queries-only" in sys.argv or os.environ.get("SPARK_GRAFT_QUERIES_ONLY"):
        detail = {
            "cold_queries": cold,
            "cold_total": round(sum(cold.values()), 3),
            "construct_queries": construct,
            "construct_total": round(sum(construct.values()), 3),
            "n_warm_passes": n_warm,
            "warm_passes": warm_passes,
            "warm_queries": warm,
            "warm_min": warm_min,
            "warm_spread_max_over_min": warm_spread,
            "warm_total": round(sum(warm.values()), 3),
            "warm_total_min": round(sum(warm_min.values()), 3),
            "sf": sf_val,
            "sf_dir": sf_dir,
            "queries_only": True,
        }
        Path(__file__).resolve().parent.joinpath(detail_out).write_text(
            json.dumps(detail, indent=1)
        )
        print(
            json.dumps(
                {
                    "metric": "headline_queries_total_wall_steady_state",
                    "value": round(sum(warm.values()), 3),
                    "unit": "sec",
                    "sf": sf_val,
                    "n_queries": len(warm),
                    "warm_total": round(sum(warm.values()), 3),
                    "cold_total": round(sum(cold.values()), 3),
                    "queries": {},
                    "detail": detail_out,
                },
                separators=(",", ":"),
            )
        )
        spark.stop()
        return

    # --- dedup-ladder scaling curve -------------------------------------
    # The four dedup tiers + ngram contamination run at 1/4, 1/2 and full
    # corpus so rows-vs-wall-time backs the near-linearity claims with data
    # (one cold pass discarded per plan, steady = min of two warm passes).
    from pyspark.sql import functions as F  # noqa: E402

    from market_flow_spark.extensions import dedup  # noqa: E402
    from market_flow_spark.tables import load_tables  # noqa: E402

    docs = load_tables(spark, sf_dir)["documents"]

    def steady(df) -> float:
        run(df)  # cold: construction + codegen, discarded
        return min(run(df), run(df))

    half = docs.filter(F.col("doc_id") % 2 == 0)
    tiers = {
        "dedup_exact": lambda d: dedup.exact_dedup_annotated(d),
        "dedup_word_jaccard": lambda d: dedup.jaccard_pairs(d, 0.7),
        "dedup_ngram_jaccard": lambda d: dedup.jaccard_pairs(d, 0.8, n=3),
        "dedup_minhash_lsh": lambda d: dedup.minhash_lsh_pairs(d, threshold=0.8),
        "contamination_ngram": lambda d: dedup.ngram_contamination(
            d.filter(F.col("doc_id") % 10 != 0),
            d.filter(F.col("doc_id") % 10 == 0),
            threshold=0.8,
        ),
        "winnow_containment": lambda d: dedup.winnow_containment(
            d.filter(F.col("doc_id") % 10 != 0),
            d.filter(F.col("doc_id") % 10 == 0),
            threshold=0.5,
        ),
        # the boilerplate-suppressed variant — the 100 TB shape: fps seen
        # in > 64 docs never enter the join (or the denominator)
        "winnow_containment_capped": lambda d: dedup.winnow_containment(
            d.filter(F.col("doc_id") % 10 != 0),
            d.filter(F.col("doc_id") % 10 == 0),
            threshold=0.5,
            max_fp_df=64,
        ),
    }
    def inflate(k: int):
        """k perturbed copies of the corpus: every 3rd token (offset by the
        copy index) gets a copy-specific suffix, so copies of one doc share
        <=2/3 of their words (below the 0.7 word threshold) and almost no
        3-gram shingles — cross-copy pairs stay out of every tier's output
        and the output scales linearly with the inflation factor.

        Implemented as ONE crossJoin against a broadcast k-row copy index
        (not a k-way union): identical output rows, but the plan stays
        O(1) in k — a 100-way union was measurably slower to construct
        and optimize than to run at the x100 point this feeds."""
        copies = F.broadcast(spark.range(k).select(F.col("id").alias("_copy")))
        return docs.crossJoin(copies).select(
            (F.col("doc_id") + F.col("_copy") * 10_000_000).alias("doc_id"),
            F.expr(
                "concat_ws(' ', transform("
                "  filter(split(trim(lower(text)), '\\\\s+'), t -> t <> ''),"
                "  (t, i) -> CASE WHEN (i + _copy) % 3 = 0"
                "    THEN concat(t, '_', _copy) ELSE t END))"
            ).alias("text"),
            *[c2 for c2 in docs.columns if c2 not in ("doc_id", "text")],
        )

    scaling: dict[str, list[dict[str, float]]] = {}
    # the 100 TB-path tiers additionally run on 2x/4x inflated corpora
    scale_safe = {
        "dedup_exact", "dedup_minhash_lsh", "contamination_ngram",
        "winnow_containment", "winnow_containment_capped",
    }
    for tier_name, build in tiers.items():
        curve = []
        points = [
            ("quarter", docs.filter(F.col("doc_id") % 4 == 0)),
            ("half", half),
            ("full", docs),
        ]
        if tier_name in scale_safe:
            points += [("x2", inflate(2)), ("x4", inflate(4))]
        for frac_name, subset in points:
            curve.append(
                {
                    "subset": frac_name,
                    "rows": subset.count(),
                    "sec": steady(build(subset)),
                }
            )
        scaling[tier_name] = curve

    # --- >=10x scaling point for the heavy text tier (round-6) ----------
    # The round-5 scaling evidence stopped at x4/20k docs and only covered
    # the dedup tiers; the near-linearity claims for langid / hashed-TF-IDF
    # / bigram-LM had no measured point past the bench corpus. Each heavy
    # tier here runs at full corpus and at a 10x inflated corpus (same
    # perturbation scheme as the dedup curve, so near-dup structure does
    # not collapse); one cold pass is discarded and the MIN of two warm
    # passes is recorded — the r6 interim runs showed a single x10 pass
    # can swing 3x on this box (langid 8.2 s vs 27.0 s, same code), so
    # the extra pass buys attribution for a ~2 min block cost.
    from market_flow_spark.extensions import classify, retrieval, text, web  # noqa: E402
    from market_flow_spark.queries_ext import _synth_url  # noqa: E402

    def _cms_end_to_end(d):
        from market_flow_spark.extensions import sketches as sk

        toks = d.select(
            F.explode(
                F.filter(
                    F.split(F.trim(F.lower(F.col("text"))), r"\s+"),
                    lambda x: x != "",
                )
            ).alias("tok")
        )
        exact = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("exact_cnt"))
        sketch = sk.cms_build(exact, "tok", weight_col="exact_cnt")
        top = exact.orderBy(F.desc("exact_cnt"), "tok").limit(20)
        return sk.cms_estimate(sketch, top, "tok")

    def _nb_end_to_end(d):
        train = d.filter(F.col("doc_id") % 5 != 0)
        test = d.filter(F.col("doc_id") % 5 == 0)
        grid, labels = classify.nb_train(train, "lang")
        return classify.nb_confusion(
            test, classify.nb_predict(test, grid, labels), "lang"
        )

    def _budget_end_to_end(d):
        from market_flow_spark.extensions.text import _stats_cols
        from market_flow_spark.operators.ranking import global_budget_select

        stats = _stats_cols("text")
        scored = d.select(
            "doc_id",
            stats["n_tokens"].alias("n_tokens"),
            stats["quality_score"].alias("quality_score"),
            stats["stopword_ratio"].alias("stopword_ratio"),
        )
        return global_budget_select(
            scored,
            [
                F.coalesce(F.col("quality_score"), F.lit(-1.0)).desc(),
                F.coalesce(F.col("stopword_ratio"), F.lit(-1.0)).desc(),
                F.col("doc_id"),
            ],
            weight_col="n_tokens",
            budget=200_000,
        )

    heavy_tiers = {
        "langid_trigram": lambda d: text.char_trigram_langid(d),
        # late round-6 additions: the KL drift monitor is one corpus
        # explode (vocab-grain after), and the token-budget selector is
        # the two-phase global prefix sum — the x10 points pin that
        # neither degrades to a corpus-sized single-task stage
        "corpus_kl_by_lang": lambda d: text.token_kl_divergence(d),
        "token_budget_select": _budget_end_to_end,
        "tfidf_doc_similarity": lambda d: retrieval.tfidf_doc_topk(
            d, n_queries=5, k=5
        ),
        "bigram_logprob": lambda d: text.bigram_logprob(d),
        "dedup_minhash_lsh": lambda d: dedup.minhash_lsh_pairs(d, threshold=0.8),
        # round-6 additions: the web-URL and NB-classifier tiers are both
        # one-corpus-pass shapes — their x10 points pin that claim
        "url_canonical_dedup": lambda d: web.url_dedup(
            d.withColumn("url", _synth_url())
        ),
        "nb_classify_lang": _nb_end_to_end,
        # count-min heavy hitters: one word-count pass + 4x512 grid;
        # the x10 point pins that the sketch cost scales with the corpus
        # scan, not the probe side
        "cms_heavy_hitters": _cms_end_to_end,
    }
    big = inflate(10)
    for tier_name, build in heavy_tiers.items():
        curve = scaling.setdefault(tier_name, [])
        if not any(p["subset"] == "full" for p in curve):
            df_full = build(docs)
            curve.append(
                {"subset": "full", "rows": docs.count(), "sec": steady(df_full)}
            )
            del df_full
        df_big = build(big)
        run(df_big)  # cold: codegen + construction, discarded
        curve.append(
            {
                "subset": "x10",
                "rows": big.count(),
                "sec": min(run(df_big), run(df_big)),
            }
        )
        del df_big

    # --- x10 scaling point for the WAREHOUSE tier (round-6) -------------
    # Every scaling curve above covers the dedup/text/sketch tiers; the
    # star-join core had none. Inflate the FACT side only (lineitem +
    # orders, order keys offset per copy so the big-big join matches
    # within copies and output scales exactly x k) while the dims stay
    # fixed — the realistic 100 TB shape: facts grow, dimensions don't.
    # Pins two claims at x10: the 7 dim joins stay BroadcastHashJoin
    # (dim size is inflation-invariant) and the one SortMergeJoin on
    # l_orderkey=o_orderkey scales with the fact scan.
    from market_flow_spark.operators import star  # noqa: E402

    base_tables = load_tables(spark, sf_dir)

    def inflate_fact(k: int) -> dict:
        # same crossJoin-against-broadcast-copy-index shape as inflate():
        # O(1) plan size in k, exact k-fold row multiplication with
        # per-copy key offsets so the big-big join matches within copies
        li, od = base_tables["lineitem"], base_tables["orders"]
        copies = F.broadcast(spark.range(k).select(F.col("id").alias("_copy")))
        out = dict(base_tables)
        out["lineitem"] = li.crossJoin(copies).select(
            (F.col("l_orderkey") + F.col("_copy") * 100_000_000).alias(
                "l_orderkey"
            ),
            *[c2 for c2 in li.columns if c2 != "l_orderkey"],
        )
        out["orders"] = od.crossJoin(copies).select(
            (F.col("o_orderkey") + F.col("_copy") * 100_000_000).alias(
                "o_orderkey"
            ),
            *[c2 for c2 in od.columns if c2 != "o_orderkey"],
        )
        return out

    wh_curve = scaling.setdefault("flagship_wide_star", [])
    fact_rows = base_tables["lineitem"].count()
    wh_curve.append(
        {
            "subset": "full",
            "rows": fact_rows,
            "sec": steady(star.flagship_wide(base_tables)),
        }
    )
    big_tables = inflate_fact(10)
    wh_curve.append(
        {
            "subset": "x10",
            "rows": fact_rows * 10,
            "sec": steady(star.flagship_wide(big_tables)),
        }
    )
    del big_tables

    # x100 point (round-7): 60M fact rows — the 100 TB claim's deepest
    # single-box evidence. Round-7 knee audit (PLANS.md "x100 scaling"):
    # wall here is shuffle-I/O-bound, not plan-bound — the narrow
    # l_orderkey SMJ alone is ~21 s of the ~50 s and the inflated scan
    # ~8.5 s; raising shuffle partitions HURTS (32: 50 s, 128: 62 s,
    # 256: 130 s — per-task broadcast-probe + scheduling overhead on one
    # box), and heap below 48g adds ~50% GC drag at the default 16g.
    # Recorded at the session defaults (honest bench config); min-of-2
    # timed warm passes after a discarded cold, WITH the two-run spread
    # kept in the row — this point swings ~2x run-to-run on identical
    # code (62.6 vs 133.8 s across back-to-back full benches; page-cache
    # state vs 6-8 GB of shuffle), and recording both passes is what lets
    # a reader tell a real slope change from that band (the repo's
    # min-of-2-with-spread evidence standard, round-7 verdict ask #3).
    big_tables = inflate_fact(100)
    df_100 = star.flagship_wide(big_tables)
    run(df_100)
    _p1, _p2 = run(df_100), run(df_100)
    wh_curve.append(
        {
            "subset": "x100",
            "rows": fact_rows * 100,
            "sec": min(_p1, _p2),
            "passes": [_p1, _p2],
            "spread_max_over_min": round(max(_p1, _p2) / min(_p1, _p2), 3),
        }
    )
    del df_100, big_tables

    # x10 point for the round-7 sessionization operator: inflate USERS
    # (user_id offset per copy), not history length — the realistic growth
    # axis, and the shape that keeps per-task state at one user's history.
    # Measured at authoring: 100k rows/1.5k users 1.5 s -> 1M/15k 5.0 s
    # (3.3x wall for 10x rows; the applyInPandas shuffle dominates).
    from market_flow_spark.streaming.stateful import batch_user_sessions

    ev_s = base_tables["events"].select("user_id", "ts", "value")
    sess_curve = scaling.setdefault("user_sessions_core", [])
    df_sess = batch_user_sessions(ev_s, "5 minutes")
    sess_curve.append(
        {"subset": "full", "rows": ev_s.count(), "sec": steady(df_sess)}
    )
    ev_big = ev_s.crossJoin(
        F.broadcast(spark.range(10).select(F.col("id").alias("_copy")))
    ).select(
        (F.col("user_id") + F.col("_copy") * 10_000_000).alias("user_id"),
        "ts",
        "value",
    )
    df_sess10 = batch_user_sessions(ev_big, "5 minutes")
    sess_curve.append(
        {"subset": "x10", "rows": ev_s.count() * 10, "sec": steady(df_sess10)}
    )
    del df_sess, df_sess10, ev_big

    # x100 point for the LSH dedup tier (500k docs): the band-hash
    # equi-join holds near-linear through two decades (round-7 measured
    # full 1.0-1.4 s -> x10 1.8 s -> x100 ~21 s).
    big100 = inflate(100)
    df_100 = tiers["dedup_minhash_lsh"](big100)
    run(df_100)
    scaling["dedup_minhash_lsh"].append(
        {
            "subset": "x100",
            "rows": big100.count(),
            "sec": min(run(df_100), run(df_100)),
        }
    )
    del df_100, big100

    # library-only ANN ops (no SQL oracle, so not registered queries):
    # steady-state timings so the compressed tiers have recorded perf too
    from market_flow_spark.extensions import similarity  # noqa: E402

    # bloom A/B: the exact contamination join vs its Bloom-pruned twin.
    # The filter build (one corpus-fingerprint scan + bounded collect) is
    # a one-time index cost, so it is timed separately — steady-state is
    # the per-batch cost a nightly probe actually pays against a prebuilt
    # filter.
    corpus_docs = docs.filter(F.col("doc_id") % 10 != 0)
    probe_docs = docs.filter(F.col("doc_id") % 10 == 0)
    t0 = time.perf_counter()
    bloomed = dedup.exact_contamination_bloomed(
        corpus_docs, probe_docs, prefix_len=80
    )
    bloom_build_s = round(time.perf_counter() - t0, 3)
    contamination_ab = {
        "exact_plain": steady(
            dedup.exact_contamination(corpus_docs, probe_docs, prefix_len=80)
        ),
        "exact_bloomed_steady": steady(bloomed),
        "bloom_build_s": bloom_build_s,
    }

    from market_flow_spark.extensions import multimodal  # noqa: E402

    assets = multimodal.to_binary_assets(docs)
    emb = load_tables(spark, sf_dir)["embeddings"]
    library_ops = {
        "image_neardup_pairs": steady(multimodal.image_neardup_pairs(assets)),
        "image_neardup_incremental": steady(
            multimodal.image_neardup_against(
                assets.filter(F.col("doc_id") % 10 == 0),
                multimodal.image_ahash(
                    assets.filter(F.col("doc_id") % 10 != 0)
                ),
            )
        ),
        "pq_topk": steady(
            similarity.pq_topk(emb, n_queries=5, k=5, m=16, n_codes=32)
        ),
        "ivf_pq_topk": steady(
            similarity.ivf_pq_topk(emb, n_queries=5, k=5, nprobe=4, m=16, n_codes=32)
        ),
        "semantic_neardup_ivf": steady(
            similarity.embedding_neardup_pairs_ivf(emb, threshold=0.25)
        ),
    }

    # embedding-tier scaling: the blocked pair join at 1/4, 1/2, full,
    # 2x and 4x vector count — same rows-vs-wall-time evidence as the
    # text dedup tiers. Inflated copies rotate the dimension order by a
    # copy-specific offset: norms are preserved, but a natural embedding
    # has no reason to align with its own rotation, so cross-copy pairs
    # stay (almost entirely) out of the near-dup output and the workload
    # scales linearly in rows rather than quadratically in matches.
    def inflate_emb(k: int):
        dim = len(emb.select("embedding").first()["embedding"])
        copies = []
        for c in range(k):
            shift = (c * 7) % dim
            copies.append(
                emb.select(
                    (F.col("vec_id") + F.lit(c * 10_000_000)).alias("vec_id"),
                    F.expr(
                        f"concat(slice(embedding, {shift + 1}, {dim - shift}),"
                        f" slice(embedding, 1, {shift}))"
                    ).alias("embedding"),
                    *[
                        c2
                        for c2 in emb.columns
                        if c2 not in ("vec_id", "embedding")
                    ],
                )
            )
        out = copies[0]
        for extra in copies[1:]:
            out = out.unionByName(extra)
        return out

    emb_curve = []
    for frac_name, subset in (
        ("quarter", emb.filter(F.col("vec_id") % 4 == 0)),
        ("half", emb.filter(F.col("vec_id") % 2 == 0)),
        ("full", emb),
        ("x2", inflate_emb(2)),
        ("x4", inflate_emb(4)),
    ):
        emb_curve.append(
            {
                "subset": frac_name,
                "rows": subset.count(),
                "sec": steady(
                    similarity.embedding_neardup_pairs(subset, threshold=0.25)
                ),
            }
        )
    scaling["embedding_neardup"] = emb_curve

    # --- streaming tier end-to-end wall-time (round-7) ------------------
    # The drift monitor previously had only unit-test evidence; this
    # records a real availableNow run: reference = even-doc_id half of the
    # corpus, stream = the odd half landed as 4 parquet files -> 4
    # micro-batches through the foreachBatch scorer (the same shared
    # batch_drift_score the driver certifies via drift_score_odd_vs_even).
    # Wall covers source listing, 4 epochs of tokenize+score, and the
    # per-epoch log appends — the cost a crawl-ingest monitor actually
    # pays per landed file set.
    import shutil as _shutil  # noqa: E402
    import tempfile as _tempfile  # noqa: E402

    from market_flow_spark.streaming import drift as _drift  # noqa: E402

    _sdir = _tempfile.mkdtemp(prefix="mfs_bench_drift_")
    try:
        _ref_path = f"{_sdir}/ref"
        _landing = f"{_sdir}/landing"
        _drift.write_reference_distribution(
            docs.filter(F.col("doc_id") % 2 == 0), _ref_path
        )
        _odd = docs.filter(F.col("doc_id") % 2 == 1).select("doc_id", "text")
        _odd.repartition(4).write.parquet(_landing)
        # min-of-2 with recorded spread (the repo's evidence standard for
        # every headline row — this was the last single-pass row). The
        # reference distribution and landing files are written once; each
        # pass gets a fresh checkpoint + epoch log so availableNow
        # replays the full 4-file stream.
        _dwalls, _depochs = [], []
        for _pass in range(2):
            _log_path = f"{_sdir}/log{_pass}"
            _ck = f"{_sdir}/ck{_pass}"
            t0 = time.perf_counter()
            _stream = (
                spark.readStream.schema("doc_id long, text string")
                .option("maxFilesPerTrigger", 1)
                .parquet(_landing)
            )
            _q = (
                _drift.start_drift_monitor(_stream, _ref_path, _log_path, _ck)
                .trigger(availableNow=True)
                .start()
            )
            # awaitTermination(timeout) returns False on timeout WITHOUT
            # raising — an expired run would otherwise record a partial
            # wall and an undercounted epoch log as if it had completed
            assert _q.awaitTermination(600), "drift availableNow run timed out"
            _dwalls.append(round(time.perf_counter() - t0, 3))
            _depochs.append(int(spark.read.parquet(_log_path).count()))
        assert _depochs[0] == _depochs[1], _depochs
        streaming_drift = {
            "wall_sec": min(_dwalls),
            "passes": _dwalls,
            "spread_max_over_min": round(max(_dwalls) / min(_dwalls), 2),
            "epochs": _depochs[0],
            "stream_rows": int(_odd.count()),
        }
    finally:
        _shutil.rmtree(_sdir, ignore_errors=True)

    # --- streaming sessionization wall-time (round-7 verdict ask #5) ---
    # The stateful session finalizer (applyInPandasWithState +
    # EventTimeTimeout, watermark-gated emit-once) run availableNow over
    # the events table split into 4 landing files + a far-future sentinel
    # that ripens every real session — the same 4-epoch shape as the
    # drift row above, closing the streaming tier's bench coverage. Wall
    # covers source listing, state-store updates across epochs, timeout
    # sweeps, and the memory-sink appends.
    from market_flow_spark.streaming.stateful import (  # noqa: E402
        finalized_user_sessions_legacy,
    )

    _sdir = _tempfile.mkdtemp(prefix="mfs_bench_sess_")
    try:
        _landing = f"{_sdir}/landing"
        _ev = base_tables["events"].select("user_id", "ts", "value")
        # land files in CHRONOLOGICAL slices (a replay, the shape a file
        # stream actually ingests) — randomly sliced files would put the
        # watermark at end-of-stream after file 1 and make every later
        # row late-by-a-month
        _lo, _hi = _ev.agg(F.min("ts"), F.max("ts")).first()
        _step = (_hi - _lo) / 3
        for _i in range(3):
            _ev.filter(
                (F.col("ts") >= _lo + _i * _step)
                & (F.col("ts") < _lo + (_i + 1) * _step if _i < 2 else F.lit(True))
            ).coalesce(1).write.mode("append").parquet(_landing)
        _sentinel = _ev.agg(
            (F.max("ts") + F.expr("INTERVAL 30 DAYS")).alias("ts")
        ).select(F.lit(999_999_999).alias("user_id"), "ts", F.lit(0.0).alias("value"))
        _sentinel.coalesce(1).write.mode("append").parquet(_landing)
        # min-of-2 with recorded spread (the repo's evidence standard for
        # every headline row): the observed r8 band on this row was 2×
        # (8.0–15.9 s), so a single pass is not a measurement. Landing
        # files are written once; each pass gets a fresh checkpoint +
        # sink so availableNow replays the full stream.
        _walls, _emitted, _epochs = [], [], []
        for _pass in range(2):
            t0 = time.perf_counter()
            _stream = (
                spark.readStream.schema(
                    "user_id long, ts timestamp, value double"
                )
                .option("maxFilesPerTrigger", 1)
                .parquet(_landing)
            )
            _view = f"bench_sessions_{_pass}"
            _q = (
                finalized_user_sessions_legacy(_stream, gap="5 minutes")
                .writeStream.format("memory")
                .queryName(_view)
                .outputMode("append")
                .option("checkpointLocation", f"{_sdir}/ck{_pass}")
                .trigger(availableNow=True)
                .start()
            )
            # returns False on timeout without raising — assert so an
            # expired run can't record a partial wall as a result
            assert _q.awaitTermination(600), "sessions availableNow timed out"
            _walls.append(round(time.perf_counter() - t0, 3))
            # data epochs (one per landed file) + the engine's no-data
            # batches that fire the ripening timeouts; batchId is exact
            # where recentProgress is a ring buffer capped at 100 entries
            _epochs.append(int(_q.lastProgress["batchId"]) + 1)
            _emitted.append(
                int(spark.sql(f"SELECT COUNT(*) c FROM {_view}").first()["c"])
            )
            spark.catalog.dropTempView(_view)
        assert _emitted[0] == _emitted[1], _emitted
        streaming_sessions = {
            "wall_sec": min(_walls),
            "passes": _walls,
            "spread_max_over_min": round(max(_walls) / min(_walls), 2),
            "epochs": _epochs[0],
            "stream_rows": int(_ev.count()) + 1,
            "sessions_emitted": _emitted[0],
        }
    finally:
        _shutil.rmtree(_sdir, ignore_errors=True)

    # --- executed-plan metric accounting ------------------------------
    # Measured bytes off every query's executed SQLMetrics (shuffle
    # written, spill, broadcast payload, exchange counts) at sf0.01 —
    # bounded collects, the quantitative twin of the plan-shape audit.
    import os as _os

    from market_flow_spark.metrics import collect_and_measure  # noqa: E402

    met_dir = "/root/testdata/sf0.01"
    if not _os.path.isdir(met_dir):
        met_dir = sf_dir
    plan_metrics: dict[str, dict] = {}
    for name in names:
        try:
            n_rows, m = collect_and_measure(QUERIES[name](spark, met_dir))
            m["rows"] = n_rows
            plan_metrics[name] = m
        except Exception as exc:  # pragma: no cover - diagnostics only
            plan_metrics[name] = {"error": str(exc)[:200]}

    detail = {
        "cold_queries": cold,
        "cold_total": round(sum(cold.values()), 3),
        "construct_queries": construct,
        "construct_total": round(sum(construct.values()), 3),
        "n_warm_passes": n_warm,
        "warm_passes": warm_passes,
        "warm_queries": warm,  # median of warm passes
        "warm_min": warm_min,
        "warm_spread_max_over_min": warm_spread,
        "warm_total": round(sum(warm.values()), 3),
        "warm_total_min": round(sum(warm_min.values()), 3),
        "scaling": scaling,
        "library_ops": library_ops,
        "contamination_bloom_ab": contamination_ab,
        "streaming_drift": streaming_drift,
        "streaming_sessions": streaming_sessions,
        "plan_metrics": {"sf_dir": met_dir, "queries": plan_metrics},
        "sf": sf_val,
    }
    Path(__file__).resolve().parent.joinpath(detail_out).write_text(
        json.dumps(detail, indent=1)
    )

    # The driver captures only the TAIL of stdout (~2000 chars), so the one
    # JSON line must stay comfortably under that. At 126 queries the full
    # per-query map is ~3.5 KB and gets truncated into unparseable garbage
    # (BENCH_r04 "parsed": null). Print totals + only the slowest queries,
    # dropping entries until the line is guaranteed < 1800 bytes; the full
    # per-query map (all three passes) lives in bench_detail.json.
    slowest = sorted(warm.items(), key=lambda kv: -kv[1])
    # n_top counts DOWN TO 0 inclusive, so `line` is always bound: the
    # final n_top=0 rendering (totals only, no per-query map) is ~220
    # bytes and genuinely < 1800 — the invariant is enforced, not assumed.
    for n_top in range(min(15, len(slowest)), -1, -1):
        line = json.dumps(
            {
                "metric": "headline_queries_total_wall_steady_state",
                "value": round(sum(warm.values()), 3),
                "unit": "sec",
                "sf": sf_val,
                "n_queries": len(warm),
                "warm_total": round(sum(warm.values()), 3),
                "cold_total": round(sum(cold.values()), 3),
                "queries": {k: round(v, 2) for k, v in slowest[:n_top]},
                "detail": detail_out,
            },
            separators=(",", ":"),
        )
        if len(line) < 1800:
            break
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
