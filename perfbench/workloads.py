"""The benchmark's workloads: which engine calls one pass makes, and how
their outputs are checked.

Each workload is a fixed set of operations run as passes.
``star_analytics`` passes over registered queries
(``market_flow_spark.queries_all.QUERIES``), each query built fresh and
executed through the noop sink; the seed permutes their order in every
pass. ``medallion_build`` runs ``plans.pipeline.run_pipeline`` into a
fresh warehouse directory with the quality gate on; its operations are
the seven table writes and the nine gate checks.

``star_analytics`` is the registry's warehouse queries: the 75 whose
DuckDB oracle reads neither ``documents`` nor ``embeddings``, i.e. only
lineitem, orders, part, customer, supplier, nation, region and events.
All 75 take 17-22 s per warm pass at sf0.01 on 4 cores (43 s cold), too
long for a run's time budget, so a pass runs a sample of them chosen by a
fixed rule from a measured profile (``star_profile.json``, written by
``profile_star.py``): rank the 75 by warm latency, slowest first, and take
every ``STAR_STRIDE``-th from the top. The sample keeps the slowest query
and one query from each band of the latency distribution.
"""

from __future__ import annotations

import json
import os
import re
import time

HERE = os.path.dirname(os.path.abspath(__file__))
STAR_PROFILE = os.path.join(HERE, "star_profile.json")
STAR_STRIDE = 12
CORPUS_TABLES = re.compile(r"\b(documents|embeddings)\b")

STAR = "star_analytics"
MEDALLION = "medallion_build"
WORKLOADS = [STAR, MEDALLION]
# Warm pass wall on 4 cores at sf0.01; ``--seconds`` buys this many
# seconds' worth of steady passes (see ``run.steady_passes``).
NOMINAL_PASS_S = {STAR: 6.0, MEDALLION: 11.0}

# Published table -> DuckDB SQL whose row count the table must have. Where
# the registry has a query for the same table its oracle is used.
_STG_TRANSACTIONS_SQL = "SELECT 1 FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
MEDALLION_TWINS = {
    "stg_transactions": None,
    "stg_monthly_events": "monthly_event_stats",
    "dim_product": "dim_product",
    "dim_date": "dim_date",
    "dim_country": "dim_country_merged",
    "fact_transactions": "fact_transactions",
    "flagship_wide": "flagship_wide",
}


def warehouse_queries() -> list[str]:
    """Registered queries whose oracle reads only the warehouse tables."""
    from market_flow_spark.queries_all import ORACLES, QUERIES

    return [n for n in QUERIES if not CORPUS_TABLES.search(ORACLES[n])]


def star_sample(profile: dict, stride: int = STAR_STRIDE) -> list[str]:
    """Every ``stride``-th query by warm latency, slowest first."""
    warm = profile["queries"]
    ranked = sorted(warm, key=lambda n: (-warm[n]["warm_s"], n))
    return ranked[::stride]


def load_star_profile() -> dict:
    with open(STAR_PROFILE) as fh:
        return json.load(fh)


def sample_coverage(profile: dict, names: list[str]) -> dict[str, float]:
    """Share of the profiled warm pass (latency, and construction alone)
    that the sampled queries account for."""
    q = profile["queries"]
    share = {}
    for key in ("warm_s", "construct_s"):
        total = sum(v[key] for v in q.values())
        share[key] = sum(q[n][key] for n in names) / total if total else 0.0
    return {"queries": len(names), "of": len(q), "warm_share": share["warm_s"],
            "construct_share": share["construct_s"]}


def star_ops() -> list[str]:
    """The queries of a ``star_analytics`` pass."""
    return star_sample(load_star_profile())


class Op:
    """One timed operation: ``name`` is the query or table it concerns."""

    __slots__ = ("name", "pass_no", "start", "end", "error")

    def __init__(self, name: str, pass_no: int, start: float, end: float, error: str | None):
        self.name, self.pass_no = name, pass_no
        self.start, self.end, self.error = start, end, error

    @property
    def latency(self) -> float:
        return self.end - self.start


def run_query(spark, sf_dir: str, name: str, tracer=None):
    """Build query ``name`` and execute it through the noop sink. With a
    tracer, construction and execution are spans with job groups of their
    own, and the execution span carries the Catalyst phases of the plan
    that ran: analysis from the DataFrame's ``QueryExecution`` (done while
    it was built), optimization and planning from the write command's
    (done inside the noop write). Returns the DataFrame."""
    from market_flow_spark.queries_all import QUERIES

    if tracer is None:
        df = QUERIES[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        return df
    from spans import tracker_phases

    with tracer.span("queries.construct", group=True):
        df = QUERIES[name](spark, sf_dir)
    analysis = tracker_phases(df._jdf.queryExecution())["analysis"]
    since = tracer.plans.mark()
    with tracer.span("exec", group=True) as rec:
        df.write.format("noop").mode("overwrite").save()
    ran = tracer.plans.wait_for(since, "OverwriteByExpression")
    rec["catalyst"] = {**ran, "analysis": analysis + ran["analysis"]}
    return df


def query_pass(spark, sf_dir: str, names: list[str], pass_no: int, tracer=None,
               frames: dict | None = None) -> list[Op]:
    """Run each query once; ``frames`` collects the DataFrames that ran."""
    ops = []
    for name in names:
        if tracer is not None:
            tracer.op = name
        error = None
        t0 = time.perf_counter()
        try:
            df = run_query(spark, sf_dir, name, tracer)
            if frames is not None:
                frames[name] = df
        except Exception as exc:  # a failed op is counted, the run goes on
            error = f"{type(exc).__name__}: {exc}"[:500]
        ops.append(Op(name, pass_no, t0, time.perf_counter(), error))
    return ops


class MedallionOps:
    """Times each table write and each gate check of ``run_pipeline`` by
    wrapping the module attributes the pipeline calls through."""

    def __init__(self):
        self.ops: list[Op] = []
        self.pass_no = 0
        self._patches = []

    def install(self) -> None:
        from market_flow_spark import quality
        from market_flow_spark.plans import pipeline

        self._wrap(pipeline, "export_parquet", lambda a, kw: os.path.basename(a[1]))
        for check in ("check_not_null", "check_unique", "check_relationship"):
            self._wrap(quality, check, lambda a, kw, c=check: f"{c}:{a[-1]}.{a[1]}")

    def _wrap(self, module, attr, label) -> None:
        orig = getattr(module, attr)

        def timed(*args, **kwargs):
            t0 = time.perf_counter()
            error = None
            try:
                return orig(*args, **kwargs)
            except Exception as exc:
                error = f"{type(exc).__name__}: {exc}"[:500]
                raise
            finally:
                self.ops.append(
                    Op(label(args, kwargs), self.pass_no, t0, time.perf_counter(), error)
                )

        setattr(module, attr, timed)
        self._patches.append((module, attr, orig))

    def uninstall(self) -> None:
        while self._patches:
            module, attr, orig = self._patches.pop()
            setattr(module, attr, orig)


def medallion_pass(spark, sf_dir: str, warehouse: str, recorder: MedallionOps, pass_no: int):
    """One ``run_pipeline`` call; returns the ``PipelineRun`` or the
    exception it raised."""
    from market_flow_spark.plans import pipeline

    recorder.pass_no = pass_no
    try:
        return pipeline.run_pipeline(spark, sf_dir, warehouse, quality_gate=True)
    except Exception as exc:  # counted as failed ops by the caller
        return exc


def oracle_connection(sf_dir: str):
    import duckdb

    from market_flow_spark.tables import TABLE_NAMES

    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'")
    return con


def check_queries(spark, sf_dir: str, names: list[str], con,
                  frames: dict | None = None) -> dict[str, str | None]:
    """Compare each query's output with its DuckDB oracle twin. The
    DataFrames a pass ran (``frames``) are collected again rather than
    rebuilt; a query missing there is built anew. Returns ``{name: None}``
    for a match, else the mismatch or error text."""
    frames = frames or {}
    from market_flow_spark.queries_all import ORACLES, QUERIES
    from tests.oracle_utils import assert_matches_oracle

    verdicts = {}
    for name in names:
        try:
            df = frames[name] if name in frames else QUERIES[name](spark, sf_dir)
            assert_matches_oracle(df, con, ORACLES[name])
            verdicts[name] = None
        except Exception as exc:  # AssertionError or an engine error
            verdicts[name] = f"{type(exc).__name__}: {exc}"[:500]
    return verdicts


def check_medallion(run, con) -> dict[str, str | None]:
    """Verdicts for one pipeline pass: the gate passed, and each published
    table has the row count of its twin query."""
    from market_flow_spark.queries_all import ORACLES

    if isinstance(run, Exception):
        return {"run_pipeline": f"{type(run).__name__}: {run}"[:500]}
    verdicts = {
        "quality_gate": None
        if run.quality and all(r.passed for r in run.quality)
        else f"gate results: {run.quality}"
    }
    for table, twin in MEDALLION_TWINS.items():
        sql = ORACLES[twin] if twin else _STG_TRANSACTIONS_SQL
        want = con.execute(f"SELECT COUNT(*) FROM ({sql})").fetchone()[0]
        got = con.execute(
            f"SELECT COUNT(*) FROM read_parquet('{run[table]}/**/*.parquet')"
        ).fetchone()[0]
        verdicts[table] = None if got == want else f"rows {got} != twin {want}"
    return verdicts


def dir_size(path: str) -> tuple[int, int]:
    """(bytes, files) of the data files under ``path``."""
    n_bytes = n_files = 0
    for root, _, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                n_bytes += os.path.getsize(os.path.join(root, f))
                n_files += 1
    return n_bytes, n_files
