"""Source/sink operators (SURVEY.md §2.1): all-varchar CSV ingestion with
lineage, create-if-absent append, upsert, backup-then-replace, CSV/parquet
export, and the medallion pipeline end-to-end."""

from __future__ import annotations

from pyspark.sql import functions as F

from market_flow_spark.operators.incremental import backup_then_replace, upsert
from market_flow_spark.plans.pipeline import run_pipeline
from market_flow_spark.sources.csv_source import (
    all_varchar_schema,
    create_if_absent_append,
    normalize_column_name,
    read_csv_all_varchar,
    with_lineage,
)
from market_flow_spark.sources.sinks import export_csv, export_parquet


def test_normalize_column_name():
    assert normalize_column_name("Market Name") == "market_name"
    assert normalize_column_name("2024 price!") == "col_2024_price"
    assert normalize_column_name("  Lat/Lon ") == "latlon"


def test_all_varchar_schema():
    s = all_varchar_schema(["A B", "c"])
    assert [f.name for f in s.fields] == ["a_b", "c"]
    assert all(f.dataType.typeName() == "string" for f in s.fields)


def test_csv_roundtrip_with_lineage(spark, tmp_path):
    p = tmp_path / "raw.csv"
    p.write_text("Market Name,MP Price,2024 note\nNairobi,12.5,ok\nLagos,,xé\n")
    df = read_csv_all_varchar(spark, str(p), strip_non_ascii=True)
    assert df.columns == ["market_name", "mp_price", "col_2024_note"]
    assert dict(df.dtypes) == {c: "string" for c in df.columns}  # all-varchar
    rows = {r.market_name: r for r in with_lineage(df).collect()}
    assert rows["Nairobi"]._filename == "raw.csv"
    assert rows["Lagos"].mp_price is None  # empty → NULL, typed later
    assert rows["Lagos"].col_2024_note == "x"  # non-ASCII stripped


def test_create_if_absent_append(spark, tmp_path):
    df = spark.range(3).select(F.col("id").alias("k"))
    table = "test_ciaa"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    create_if_absent_append(df, table)
    assert spark.table(table).count() == 3
    create_if_absent_append(df, table)
    assert spark.table(table).count() == 6
    spark.sql(f"DROP TABLE {table}")


def test_upsert_semantics(spark):
    existing = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    incoming = spark.createDataFrame([(2, "B"), (3, "C")], "k int, v string")
    got = {r.k: r.v for r in upsert(existing, incoming, ["k"]).collect()}
    assert got == {1: "a", 2: "B", 3: "C"}  # incoming wins, unmatched survive


def test_backup_then_replace(spark, tmp_path):
    spark.sql("DROP TABLE IF EXISTS t_btr")
    spark.sql("DROP TABLE IF EXISTS t_btr_backup")
    v1 = spark.createDataFrame([(1,)], "x int")
    v2 = spark.createDataFrame([(2,), (3,)], "x int")
    v1.write.saveAsTable("t_btr")
    backup_then_replace("t_btr", v2)
    assert spark.table("t_btr").count() == 2
    assert spark.table("t_btr_backup").collect()[0].x == 1
    spark.sql("DROP TABLE t_btr")
    spark.sql("DROP TABLE t_btr_backup")


def test_export_sinks(spark, tmp_path):
    df = spark.range(10).select(
        F.col("id"), (F.col("id") % 3).alias("part")
    )
    csv_dir = str(tmp_path / "csv_out")
    export_csv(df, csv_dir)
    back = spark.read.option("header", True).csv(csv_dir)
    assert back.count() == 10

    pq_dir = str(tmp_path / "pq_out")
    export_parquet(df, pq_dir, partition_by=["part"])
    back_pq = spark.read.parquet(pq_dir)
    assert back_pq.count() == 10
    # partition pruning: a filter on the partition column reads 1 partition
    plan = back_pq.filter(F.col("part") == 1)._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan or back_pq.filter(F.col("part") == 1).count() > 0


def test_run_pipeline(spark, sf_dir, tmp_path):
    written = run_pipeline(spark, sf_dir, str(tmp_path / "warehouse"))
    assert "flagship_wide" in written and "fact_transactions" in written
    # the mapping is pure {table: path} — every value is a real path
    import os

    assert all(os.path.exists(p) for p in written.values())
    # the quality gate ran and every check came back clean (out-of-band)
    assert written.quality and all(r.passed for r in written.quality)
    assert any(r.check == "relationship" for r in written.quality)
    flagship = spark.read.parquet(written["flagship_wide"])
    assert flagship.count() > 0
    # partitioned layout enables pruning on year
    years = [f.name for f in (tmp_path / "warehouse/analytics/flagship_wide").iterdir()
             if f.name.startswith("year=")]
    assert len(years) > 1


def test_run_pipeline_writes_overlap(spark, sf_dir, tmp_path, monkeypatch):
    """The 7 table writes are independent jobs, submitted together."""
    import os
    import threading
    import time

    from market_flow_spark.plans import pipeline as pl

    write = pl.export_parquet
    lock = threading.Lock()
    flight = {"now": 0, "peak": 0}

    def counting_write(df, path, partition_by=None):
        with lock:
            flight["now"] += 1
            flight["peak"] = max(flight["peak"], flight["now"])
        try:
            time.sleep(0.2)
            write(df, path, partition_by=partition_by)
        finally:
            with lock:
                flight["now"] -= 1

    monkeypatch.setattr(pl, "export_parquet", counting_write)
    run = pl.run_pipeline(spark, sf_dir, str(tmp_path / "wh"), quality_gate=False)
    assert flight["peak"] >= 2
    assert list(run) == [
        "stg_transactions", "stg_monthly_events", "dim_product", "dim_date",
        "dim_country", "fact_transactions", "flagship_wide",
    ]
    assert all(os.path.exists(f"{p}/_SUCCESS") for p in run.values())


def test_run_pipeline_failed_write_finishes_the_others_and_skips_the_gate(
    spark, sf_dir, tmp_path, monkeypatch
):
    import os

    import pytest

    from market_flow_spark.plans import pipeline as pl

    write = pl.export_parquet
    finished, gated = [], []

    def write_or_fail(df, path, partition_by=None):
        if path.endswith("/dim_country"):
            raise OSError("disk full writing dim_country")
        write(df, path, partition_by=partition_by)
        finished.append(os.path.basename(path))

    monkeypatch.setattr(pl, "export_parquet", write_or_fail)
    monkeypatch.setattr(pl, "run_star_schema_checks", gated.append)
    with pytest.raises(OSError, match="dim_country"):
        pl.run_pipeline(spark, sf_dir, str(tmp_path / "wh"))
    assert not gated
    assert sorted(finished) == sorted([
        "stg_transactions", "stg_monthly_events", "dim_product", "dim_date",
        "fact_transactions", "flagship_wide",
    ])


def test_run_pipeline_jobs_carry_the_callers_job_group(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Writes and gate aggregates run on worker threads; the caller's job
    group must still tag every job they submit."""
    import time

    from market_flow_spark import quality
    from market_flow_spark.plans import pipeline as pl

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = "run-pipeline-job-group"
    seen = []

    def recording(fn):
        def call(*args, **kwargs):
            seen.append(sc.getLocalProperty("spark.jobGroup.id"))
            return fn(*args, **kwargs)

        return call

    monkeypatch.setattr(pl, "export_parquet", recording(pl.export_parquet))
    monkeypatch.setattr(
        quality, "run_checks_fused", recording(quality.run_checks_fused)
    )
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup(group, "run_pipeline under a caller's job group")
    try:
        pl.run_pipeline(spark, sf_dir, str(tmp_path / "wh"))
        # the status store follows the listener bus in order: once this
        # later job shows, every job of the run is in it
        sc.setJobGroup(f"{group}-marker", "marker")
        sc.parallelize([1]).count()
    finally:
        sc._jsc.clearJobGroup()
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(f"{group}-marker"):
        assert time.monotonic() < deadline
        time.sleep(0.1)
    assert seen == [group] * 10  # 7 writes, 3 gate aggregates
    assert len(tracker.getJobIdsForGroup(group)) >= 10
    assert set(tracker.getJobIdsForGroup(None)) <= ungrouped


def test_run_pipeline_metastore(spark, sf_dir, tmp_path, monkeypatch):
    """The catalog-backed medallion run: raw/staging/analytics DATABASES
    (the reference's profiles.yml schema-per-target layout) with every
    layer saveAsTable'd, partitioned analytics tables, and the quality
    gate failing the run on violation."""
    import pytest

    from market_flow_spark.plans import pipeline as pl

    run = pl.run_pipeline_metastore(
        spark, sf_dir, location_root=str(tmp_path / "meta_wh")
    )
    assert {"raw", "staging", "analytics"} <= {
        d.name for d in spark.catalog.listDatabases()
    }
    assert "analytics.flagship_wide" in run and "raw.orders" in run
    assert run.quality and all(r.passed for r in run.quality)
    # tables are addressable by qualified name through the catalog
    n = spark.sql("SELECT COUNT(*) AS n FROM analytics.flagship_wide").first().n
    assert n > 0
    assert spark.table("staging.stg_transactions").count() > 0
    # partitioned layout survived saveAsTable (year=... directories)
    loc = run["analytics.flagship_wide"].replace("file:", "")
    import os

    years = [d for d in os.listdir(loc) if d.startswith("year=")]
    assert len(years) > 1
    # partition pruning works through the catalog table
    pruned = spark.sql(
        f"SELECT COUNT(*) AS n FROM analytics.flagship_wide WHERE year = {years[0].split('=')[1]}"
    ).first().n
    assert 0 < pruned < n

    # the gate FAILS the metastore run on violation, same as the path run
    from market_flow_spark.quality import CheckResult

    gated = {}

    def broken_suite(tables):
        gated.update(tables)
        return [CheckResult("unique", "fact_transactions", "transaction_id", 3)]

    monkeypatch.setattr(pl, "run_star_schema_checks", broken_suite)
    with pytest.raises(pl.QualityCheckError):
        pl.run_pipeline_metastore(
            spark, sf_dir, location_root=str(tmp_path / "meta_wh")
        )
    # ... and it checks the catalog tables the run saved
    from urllib.parse import urlparse

    for t in ("fact_transactions", "dim_product", "dim_date"):
        table_dir = urlparse(run[f"analytics.{t}"]).path
        files = gated[t].inputFiles()
        assert files and all(urlparse(f).path.startswith(table_dir) for f in files)

    # and asking for a DIFFERENT root while the databases already exist at
    # the old one must fail loudly instead of silently writing to the old
    # location
    monkeypatch.undo()
    with pytest.raises(ValueError, match="already exists at"):
        pl.run_pipeline_metastore(
            spark, sf_dir, location_root=str(tmp_path / "meta_wh2")
        )


def test_register_views_sql_surface(spark, sf_dir):
    """The reference's query surface is SQL-over-models; after
    register_views every raw table and built model answers spark.sql."""
    from market_flow_spark.plans.pipeline import register_views

    names = register_views(spark, sf_dir)
    assert {"lineitem", "stg_transactions", "dim_product", "flagship_wide"} <= set(
        names
    )
    top = spark.sql(
        """
        SELECT product_name, SUM(price) AS revenue
        FROM flagship_wide GROUP BY product_name
        ORDER BY revenue DESC LIMIT 5
        """
    ).collect()
    assert len(top) == 5 and top[0].revenue >= top[-1].revenue
    joined = spark.sql(
        """
        SELECT d.p_type, COUNT(*) AS n
        FROM fact_transactions f JOIN dim_product d ON f.product_id = d.p_partkey
        GROUP BY d.p_type
        """
    ).collect()
    assert len(joined) > 0


def test_csv_encoding_fallback_chain(spark, tmp_path):
    """S2: the per-file utf-8 → latin1 → iso-8859-1 retry loop
    (/root/reference/utils/csv_utils.py:9-18): a clean utf-8 file and a
    latin-1 file (whose bytes are NOT valid utf-8) land in one DataFrame,
    each decoded with the first encoding that accepts it."""
    from market_flow_spark.sources.csv_source import read_csv_with_encoding_fallback

    (tmp_path / "utf8.csv").write_bytes(
        "Market,Price\nMünchen,3.0\n".encode("utf-8")
    )
    (tmp_path / "latin1.csv").write_bytes(
        "Market,Price\nSão Paulo,1.5\nZürich,2.0\n".encode("latin-1")
    )
    df = read_csv_with_encoding_fallback(spark, str(tmp_path))
    names = {r.market for r in df.collect()}
    assert names == {"München", "São Paulo", "Zürich"}

    stripped = read_csv_with_encoding_fallback(spark, str(tmp_path), strip_non_ascii=True)
    assert {r.market for r in stripped.collect()} == {"Mnchen", "So Paulo", "Zrich"}


def test_csv_encoding_probe_boundary_split(spark, tmp_path):
    """S2 hardening: a valid UTF-8 file larger than probe_bytes whose probe
    boundary splits a multi-byte character must still classify as UTF-8
    (the incremental decoder carries the partial sequence instead of
    raising), not silently fall through to latin1 and mojibake the file."""
    from market_flow_spark.sources.csv_source import (
        _probe_file_encoding,
        read_csv_with_encoding_fallback,
    )

    # probe_bytes=32; 'é' is 2 bytes in UTF-8 — place it straddling byte 32
    header = b"Market,Price\n"
    pad = b"a" * (31 - len(header))
    body = header + pad + "é more utf-8 text,1.0\n".encode("utf-8")
    assert body[31] == "é".encode("utf-8")[0] and len(body) > 32
    p = tmp_path / "split.csv"
    p.write_bytes(body)
    assert _probe_file_encoding(str(p), 32, ("UTF-8", "latin1")) == "UTF-8"

    df = read_csv_with_encoding_fallback(spark, str(tmp_path), probe_bytes=32)
    vals = {r.market for r in df.collect()}
    assert any("é" in v for v in vals)

    # whole-file head (not truncated): a dangling partial sequence IS an
    # error, so a genuinely-truncated utf-8 byte at EOF falls to latin1
    q = tmp_path / "dangling.csv"
    q.write_bytes(b"Market,Price\nx,1\n" + "é".encode("utf-8")[:1])
    assert _probe_file_encoding(str(q), 1 << 20, ("UTF-8", "latin1")) == "latin1"


def test_csv_encoding_probe_distributed(spark, tmp_path):
    """S2 at scale: from `distributed_probe_threshold` files up, the
    encoding probe fans out as one Spark job over the path list instead of
    a serial driver loop; classification must match the driver path."""
    from market_flow_spark.sources.csv_source import read_csv_with_encoding_fallback

    for i in range(40):
        (tmp_path / f"u{i:03d}.csv").write_bytes(
            f"Market,Price\nCity{i} ü,1.0\n".encode("utf-8")
        )
        (tmp_path / f"l{i:03d}.csv").write_bytes(
            f"Market,Price\nVille{i} é,2.0\n".encode("latin-1")
        )
    df = read_csv_with_encoding_fallback(
        spark, str(tmp_path), distributed_probe_threshold=16
    )
    rows = df.collect()
    assert len(rows) == 80
    names = {r.market for r in rows}
    assert "City0 ü" in names and "Ville0 é" in names
    # same result via the driver path
    df2 = read_csv_with_encoding_fallback(
        spark, str(tmp_path), distributed_probe_threshold=10_000
    )
    assert {r.market for r in df2.collect()} == names


def test_csv_encoding_latin1(spark, tmp_path):
    """S2: encoding-fallback path — a latin-1 file read with the right
    encoding keeps its characters; with strip_non_ascii they are removed
    (the reference's `encode('ascii','ignore')` pass)."""
    p = tmp_path / "latin1.csv"
    p.write_bytes("Market,Price\nSão Paulo,1.5\nZürich,2.0\n".encode("latin-1"))
    df = read_csv_all_varchar(spark, str(p), encoding="ISO-8859-1")
    names = {r.market for r in df.collect()}
    assert names == {"São Paulo", "Zürich"}
    stripped = read_csv_all_varchar(
        spark, str(p), encoding="ISO-8859-1", strip_non_ascii=True
    )
    assert {r.market for r in stripped.collect()} == {"So Paulo", "Zrich"}
