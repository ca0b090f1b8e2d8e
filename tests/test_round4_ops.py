"""Edge-case tests for the round-4 operators: span-level corpus dedup,
the window-function panel, winsorization, and per-group heavy hitters.
(Their oracle parity vs DuckDB is covered for every registered query by
test_oracle_parity.py; these tests pin the semantics the oracle can't —
null/empty handling, validation errors, tie-breaks, plan shape.)"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id string, text string")


class TestSpanDedup:
    def test_exact_chunk_grid(self, spark):
        from market_flow_spark.extensions.dedup import span_dedup

        # 4-word docs, chunk_words=2 -> chunks [w1 w2], [w3 w4]
        docs = _docs(
            spark,
            [
                ("a", "dup dup tail one"),
                ("b", "dup dup tail two"),
                ("c", "solo text here now"),
            ],
        )
        out = {
            r.doc_id: r
            for r in span_dedup(docs, chunk_words=2, min_count=2).collect()
        }
        assert out["a"].n_chunks == 2
        assert out["a"].n_chunks_removed == 1
        assert out["a"].text_clean == "tail one"
        assert out["b"].text_clean == "tail two"
        assert out["c"].n_chunks_removed == 0

    def test_null_empty_and_all_boilerplate_docs(self, spark):
        from market_flow_spark.extensions.dedup import span_dedup

        docs = _docs(
            spark,
            [
                ("n", None),
                ("e", "   "),
                ("x", "same same"),
                ("y", "same same"),
            ],
        )
        out = {
            r.doc_id: r
            for r in span_dedup(docs, chunk_words=2, min_count=2).collect()
        }
        # every input doc comes back, even chunk-less / fully-scrubbed ones
        assert set(out) == {"n", "e", "x", "y"}
        assert out["n"].n_chunks == 0 and out["n"].text_clean == ""
        assert out["e"].n_chunks == 0 and out["e"].text_clean == ""
        assert out["x"].n_chunks == 1 and out["x"].n_chunks_removed == 1
        assert out["x"].text_clean == ""

    def test_intra_doc_repeat_counts_toward_frequency(self, spark):
        from market_flow_spark.extensions.dedup import span_dedup

        # the chunk repeats twice WITHIN one doc -> corpus freq 2 -> dropped
        docs = _docs(spark, [("a", "ab ab ab ab tail word")])
        row = span_dedup(docs, chunk_words=2, min_count=2).collect()[0]
        assert row.n_chunks == 3
        assert row.n_chunks_removed == 2
        assert row.text_clean == "tail word"

    def test_chunk_words_validation(self, spark):
        from market_flow_spark.extensions.dedup import doc_span_chunks

        with pytest.raises(ValueError):
            doc_span_chunks(_docs(spark, [("a", "x")]), chunk_words=0)

    def test_trailing_partial_chunk_kept(self, spark):
        from market_flow_spark.extensions.dedup import doc_span_chunks

        rows = doc_span_chunks(
            _docs(spark, [("a", "one two three four five")]), chunk_words=2
        ).collect()
        chunks = [r.chunk for r in sorted(rows, key=lambda r: r.idx)]
        assert chunks == ["one two", "three four", "five"]


class TestWindowPanel:
    def test_navigation_and_running_total(self, spark):
        from market_flow_spark.operators.analytics import window_function_panel

        df = spark.createDataFrame(
            [("c1", 1, 10.0), ("c1", 2, 20.0), ("c1", 3, 30.0), ("c2", 4, 5.0)],
            "cust string, ok int, total double",
        )
        out = window_function_panel(
            df, partition="cust", order_cols=["ok"], value="total"
        )
        rows = {(r.cust, r.ok): r for r in out.collect()}
        r2 = rows[("c1", 2)]
        assert r2.prev_value == 10.0 and r2.next_value == 30.0
        assert r2.seq == 2 and r2.running_total == 30.0
        assert rows[("c1", 3)].next_value is None
        assert rows[("c2", 4)].seq == 1 and rows[("c2", 4)].pct_rank == 0.0
        # all seven functions share one window spec -> ONE Window node over
        # ONE hash-partition exchange (after execution AQE's toString dumps
        # final + initial plan, so count within the final section only)
        plan = out._jdf.queryExecution().executedPlan().toString()
        final = plan.split("Initial Plan")[0]
        assert final.count("Window") == 1
        assert final.count("Exchange hashpartitioning") == 1


class TestWinsorize:
    def test_clip_counts_and_bounds(self, spark):
        from market_flow_spark.operators.analytics import winsorize_summary

        vals = [float(v) for v in range(1, 101)]  # 1..100 per group
        df = spark.createDataFrame(
            [("g", v) for v in vals], "grp string, x double"
        )
        row = winsorize_summary(df, "grp", "x", 0.05, 0.95).collect()[0]
        # exact interpolated p05 of 1..100 = 5.95, p95 = 95.05
        assert row.p_low == 5.95 and row.p_high == 95.05
        assert row.n_clipped_low == 5 and row.n_clipped_high == 5
        assert row.n_rows == 100
        assert row.mean_raw == 50.5
        # winsorized mean: clip 1..5 -> 5.95, 96..100 -> 95.05
        exp = (sum(vals[5:95]) + 5 * 5.95 + 5 * 95.05) / 100
        assert abs(row.mean_winsorized - exp) < 1e-9

    def test_bounds_join_is_broadcast(self, spark):
        from market_flow_spark.operators.analytics import winsorize_summary

        df = spark.range(100).select(
            (F.col("id") % 3).cast("string").alias("g"),
            F.col("id").cast("double").alias("x"),
        )
        plan = (
            winsorize_summary(df, "g", "x")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastHashJoin" in plan


class TestTopTokens:
    def test_ties_break_by_token_and_k_cap(self, spark):
        from market_flow_spark.extensions.text import top_tokens_per_group

        docs = spark.createDataFrame(
            [
                ("en", "b a b a c"),
                ("en", "a b d"),
                ("fr", "z z y"),
                ("fr", None),
            ],
            "lang string, text string",
        )
        out = top_tokens_per_group(docs, group="lang", k=2).collect()
        en = sorted(
            [(r.token, r.cnt, r.rk) for r in out if r.lang == "en"],
            key=lambda t: t[2],
        )
        # a and b both have count 3: tie broken by token ASC
        assert en == [("a", 3, 1), ("b", 3, 2)]
        fr = sorted(
            [(r.token, r.cnt, r.rk) for r in out if r.lang == "fr"],
            key=lambda t: t[2],
        )
        assert fr == [("z", 2, 1), ("y", 1, 2)]


class TestFeatureEncoders:
    def test_zscore_and_minmax(self, spark):
        from market_flow_spark.operators.features import (
            minmax_normalize,
            zscore_normalize,
        )

        df = spark.createDataFrame(
            [("g", 1.0), ("g", 2.0), ("g", 3.0), ("solo", 7.0), ("k", 5.0),
             ("k", 5.0)],
            "grp string, x double",
        )
        z = {
            (r.grp, r.x): r.x_z
            for r in zscore_normalize(df, "grp", "x").collect()
        }
        assert z[("g", 2.0)] == 0.0 and z[("g", 3.0)] == 1.0
        assert z[("solo", 7.0)] is None  # n < 2
        assert z[("k", 5.0)] is None  # zero variance
        mm = {
            (r.grp, r.x): r.x_mm
            for r in minmax_normalize(df, "grp", "x").collect()
        }
        assert mm[("g", 1.0)] == 0.0 and mm[("g", 2.0)] == 0.5
        assert mm[("k", 5.0)] is None  # constant group

    def test_loo_excludes_own_label(self, spark):
        from market_flow_spark.operators.features import loo_target_encode

        df = spark.createDataFrame(
            [("a", 1.0), ("a", 3.0), ("a", 5.0), ("b", 9.0)],
            "grp string, y double",
        )
        te = {
            (r.grp, r.y): r.grp_te
            for r in loo_target_encode(df, "grp", "y").collect()
        }
        assert te[("a", 1.0)] == 4.0  # (3+5)/2
        assert te[("a", 5.0)] == 2.0  # (1+3)/2
        assert te[("b", 9.0)] is None  # singleton

    def test_frequency_encode_rates_sum_to_one(self, spark):
        from market_flow_spark.operators.features import frequency_encode

        df = spark.createDataFrame(
            [("x",), ("x",), ("x",), ("y",)], "cat string"
        )
        rows = frequency_encode(df, "cat").collect()
        by_cat = {r.cat: (r.cat_count, r.cat_freq) for r in rows}
        assert by_cat["x"] == (3, 0.75) and by_cat["y"] == (1, 0.25)

    def test_encode_panel_equals_chained_operators(self, spark):
        """The round-12 fused panel (one stats aggregate + one broadcast
        join-back) must be value-identical to chaining the four encoders,
        including the edge groups: singleton (n<2 → NULL z/te),
        zero-variance (NULL z), constant (NULL mm), and null measures."""
        from market_flow_spark.operators.features import (
            encode_panel,
            frequency_encode,
            loo_target_encode,
            minmax_normalize,
            zscore_normalize,
        )

        df = spark.createDataFrame(
            [
                ("g", 1.0, 10.0),
                ("g", 2.0, 20.0),
                ("g", 3.0, None),
                ("solo", 7.0, 5.0),
                ("k", 5.0, 1.0),
                ("k", 5.0, 2.0),
                ("n", None, 3.0),
                ("n", 4.0, 4.0),
            ],
            "grp string, x double, y double",
        )
        chained = zscore_normalize(df, "grp", "x")
        chained = minmax_normalize(chained, "grp", "x")
        chained = loo_target_encode(chained, "grp", "y")
        chained = frequency_encode(chained, "grp")
        fused = encode_panel(df, "grp", "x", "y")
        cols = sorted(chained.columns)
        assert cols == sorted(fused.columns)
        from collections import Counter

        a = Counter(map(tuple, chained.select(*cols).collect()))
        b = Counter(map(tuple, fused.select(*cols).collect()))
        assert a == b


class TestCooccurrence:
    def test_pairs_and_support(self, spark):
        from market_flow_spark.operators.analytics import cooccurrence_pairs

        df = spark.createDataFrame(
            [(1, "a"), (1, "b"), (1, "c"), (2, "a"), (2, "b"), (3, "a"),
             (3, "b"), (1, "a")],  # duplicate line in basket 1
            "b int, it string",
        )
        out = {
            (r.item_a, r.item_b): r.support
            for r in cooccurrence_pairs(df, "b", "it", min_support=2).collect()
        }
        # (a,b) in baskets 1,2,3; duplicates within a basket count once
        assert out == {("a", "b"): 3}

    def test_max_basket_cap_drops_oversized(self, spark):
        from market_flow_spark.operators.analytics import cooccurrence_pairs

        df = spark.createDataFrame(
            [(1, i) for i in range(10)] + [(2, 0), (2, 1), (3, 0), (3, 1)],
            "b int, it int",
        )
        out = cooccurrence_pairs(
            df, "b", "it", min_support=2, max_basket_items=5
        ).collect()
        # basket 1 (10 items) is dropped; (0,1) still supported by 2 and 3
        assert [(r.item_a, r.item_b, r.support) for r in out] == [(0, 1, 2)]


class TestGapFill:
    def test_fills_internal_gaps_only(self, spark):
        import datetime as dt

        from market_flow_spark.operators.temporal import gap_fill_series

        d = dt.date
        df = spark.createDataFrame(
            [
                ("g", d(2024, 1, 1), 10.0),
                ("g", d(2024, 4, 1), 40.0),  # feb+mar missing
                ("h", d(2024, 2, 1), 5.0),
                # NULL observation: kept as NULL, its gap row carries it
                ("n", d(2024, 1, 1), 1.0),
                ("n", d(2024, 2, 1), None),
                ("n", d(2024, 4, 1), 4.0),
                # off-grid observation: kept, and neither neighbour fills
                ("o", d(2024, 1, 1), 1.0),
                ("o", d(2024, 2, 15), 2.0),
                ("o", d(2024, 4, 1), 4.0),
            ],
            "grp string, month date, v double",
        )
        rows = sorted(
            gap_fill_series(df, "grp", "month", ["v"], "1 month").collect(),
            key=lambda r: (r.grp, r.month),
        )
        g = [(str(r.month), r.v, r.is_gap) for r in rows if r.grp == "g"]
        assert g == [
            ("2024-01-01", 10.0, False),
            ("2024-02-01", 10.0, True),
            ("2024-03-01", 10.0, True),
            ("2024-04-01", 40.0, False),
        ]
        # single-point group: spine is exactly its own month, no padding
        h = [(str(r.month), r.v, r.is_gap) for r in rows if r.grp == "h"]
        assert h == [("2024-02-01", 5.0, False)]
        n = [(str(r.month), r.v, r.is_gap) for r in rows if r.grp == "n"]
        assert n == [
            ("2024-01-01", 1.0, False),
            ("2024-02-01", None, False),
            ("2024-03-01", None, True),
            ("2024-04-01", 4.0, False),
        ]
        o = [(str(r.month), r.v, r.is_gap) for r in rows if r.grp == "o"]
        assert o == [
            ("2024-01-01", 1.0, False),
            ("2024-02-15", 2.0, False),
            ("2024-04-01", 4.0, False),
        ]
