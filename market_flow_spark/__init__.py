"""market_flow_spark — a PySpark-native analytics engine.

A from-scratch rebuild of the query and data-processing capabilities of
pinkfloydsito/market-flow (DuckDB + dbt + Airflow + pandas reference), as an
idiomatic Spark DataFrame engine: medallion-layer tables, a star schema, a
flagship wide denormalized export, cleaning/typing operators, imputation,
window analytics, per-group model fitting via applyInPandas, plus
large-scale-pipeline extensions (dedup, similarity search, text analysis,
multimodal plumbing) that the reference does not have.

Every operator is declared via the DataFrame API so Catalyst handles
pushdown, pruning, join selection, and AQE; Python UDFs appear only as
Arrow-batched pandas UDFs where built-ins genuinely cannot express the
semantics (per-group model fit).
"""

__version__ = "0.1.0"

from market_flow_spark.session import get_spark
from market_flow_spark.tables import TABLE_NAMES, load_tables

__all__ = ["get_spark", "load_tables", "TABLE_NAMES", "__version__"]


def _register_udf_modules_by_value() -> None:
    """Pandas-UDF closures reference helpers in this package; Spark's
    Python workers don't have the package on their path when the driver
    process runs from elsewhere. Registering the UDF-bearing modules for
    by-value pickling makes the shipped closures self-contained — no
    --py-files deployment needed for the contract entry points."""
    try:
        from pyspark import cloudpickle

        import market_flow_spark.extensions.multimodal as _mm
        import market_flow_spark.extensions.similarity as _sim
        import market_flow_spark.operators.forecast as _fc
        import market_flow_spark.sources.api_source as _api
        import market_flow_spark.streaming.stateful as _st
        import market_flow_spark.streaming.tws as _tws

        for mod in (_fc, _mm, _sim, _api, _st, _tws):
            cloudpickle.register_pickle_by_value(mod)
    except Exception:
        pass  # older pickler without the API; --py-files still works


_register_udf_modules_by_value()
