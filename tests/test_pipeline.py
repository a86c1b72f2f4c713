"""Pipeline API tests: composition stays lazy (one optimized plan),
filters cross step boundaries into the scan, sinks round-trip."""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import functions as F

from uchr_scetl_spark.pipeline import (
    Pipeline,
    Sink,
    Source,
    SqlTransform,
    Transform,
)

from .conftest import SF_SMOKE


def test_pipeline_end_to_end_partitioned_parquet(spark):
    out = tempfile.mkdtemp(prefix="uchr_pipe_out_")
    shutil.rmtree(out, ignore_errors=True)
    p = Pipeline(
        source=Source("parquet", f"{SF_SMOKE}/orders.parquet"),
        steps=[
            Transform(
                "high_value", lambda df: df.where(F.col("o_totalprice") > 200000)
            ),
            SqlTransform(
                "by_status",
                "SELECT o_orderstatus, o_orderpriority, count(*) AS n "
                "FROM {df} GROUP BY 1, 2",
            ),
        ],
        sink=Sink("parquet", out, mode="overwrite",
                  partition_by=["o_orderstatus"]),
    )
    res = p.run(spark)
    try:
        assert res.rows_written > 0
        back = spark.read.parquet(out)
        # partition column round-trips; counts match a direct query
        want = (
            spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
            .where(F.col("o_totalprice") > 200000)
            .groupBy("o_orderstatus", "o_orderpriority")
            .count()
            .count()
        )
        assert back.count() == want == res.rows_written
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_pipeline_filter_pushes_into_scan(spark):
    """A filter declared in a *step* must still reach the parquet scan
    as a pushed filter — the whole point of lazy composition."""
    p = Pipeline(
        source=Source("parquet", f"{SF_SMOKE}/lineitem.parquet"),
        steps=[
            Transform("slim", lambda df: df.select("l_orderkey", "l_quantity")),
            Transform("filter", lambda df: df.where(F.col("l_quantity") > 45)),
        ],
        sink=Sink("noop", ""),
    )
    plan = p.plan(spark)._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "l_quantity" in plan.split(
        "PushedFilters"
    )[1][:200], plan
    # column pruning: the scan reads only the two projected columns
    read_schema = plan.split("ReadSchema: ")[1].split("\n")[0]
    assert "l_extendedprice" not in read_schema, read_schema


def test_pipeline_csv_source_roundtrip(spark):
    src = tempfile.mkdtemp(prefix="uchr_pipe_csv_")
    nation = spark.read.parquet(f"{SF_SMOKE}/nation.parquet")
    from uchr_scetl_spark.io import write_csv

    write_csv(nation, src)
    p = Pipeline(
        source=Source("csv", src, schema="nation"),
        steps=[Transform("eu", lambda df: df.where(F.col("n_regionkey") == 0))],
        sink=Sink("noop", ""),
    )
    try:
        res = p.run(spark)
        want = nation.where(F.col("n_regionkey") == 0).count()
        assert res.rows_written == want
    finally:
        shutil.rmtree(src, ignore_errors=True)


def test_sink_error_mode_refuses_to_clobber(spark):
    out = tempfile.mkdtemp(prefix="uchr_pipe_clobber_")
    nation = Source("parquet", f"{SF_SMOKE}/nation.parquet")
    Pipeline(source=nation, sink=Sink("parquet", out, mode="overwrite")).run(spark)
    import pytest

    with pytest.raises(Exception):
        Pipeline(source=nation, sink=Sink("parquet", out, mode="error")).run(spark)
    shutil.rmtree(out, ignore_errors=True)


def test_csv_malformed_rows_permissive_and_dropped(spark, tmp_path):
    """ETL robustness: a CSV batch with broken rows. PERMISSIVE mode
    quarantines them in _corrupt_record (the audit path);
    DROPMALFORMED silently keeps only clean rows (the load path)."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    p = tmp_path / "dirty.csv"
    p.write_text(
        "k,name,v\n"
        "1,alpha,10\n"
        "2,beta,not_a_number\n"
        "3,gamma,30\n"
    )
    schema = StructType(
        [
            StructField("k", LongType()),
            StructField("name", StringType()),
            StructField("v", LongType()),
            StructField("_corrupt_record", StringType()),
        ]
    )
    permissive = (
        spark.read.schema(schema)
        .option("header", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(str(p))
        .cache()  # corrupt-record column requires the raw row to survive
    )
    rows = permissive.collect()
    bad = [r for r in rows if r._corrupt_record is not None]
    assert len(rows) == 3 and len(bad) == 1 and bad[0].k == 2

    clean_schema = StructType(schema.fields[:-1])
    dropped = (
        spark.read.schema(clean_schema)
        .option("header", "true")
        .option("mode", "DROPMALFORMED")
        .csv(str(p))
    )
    assert sorted(r.k for r in dropped.collect()) == [1, 3]


def test_compact_small_files_reduces_file_count(spark, monkeypatch):
    """Compaction must preserve content exactly while collapsing the
    64-file landing zone to ceil(bytes/128MiB) files (1 at this SF)."""
    import glob

    captured = {}
    import tempfile as _tf

    real_mkdtemp = _tf.mkdtemp

    def spy_mkdtemp(*a, **kw):
        d = real_mkdtemp(*a, **kw)
        captured.setdefault(kw.get("prefix", a[0] if a else ""), d)
        return d

    monkeypatch.setattr(_tf, "mkdtemp", spy_mkdtemp)
    from uchr_scetl_spark.operators.etl import etl_compact_small_files

    out = etl_compact_small_files(spark, SF_SMOKE)
    n_rows = out.count()
    landing = captured["uchr_landing_"]
    compacted = captured["uchr_compacted_"]
    n_before = len(glob.glob(f"{landing}/*.parquet"))
    n_after = len(glob.glob(f"{compacted}/*.parquet"))
    # the landing write HASHES on l_orderkey (round 13: keyless
    # round-robin repartition is an indeterminate stage under task
    # re-execution), so a few of the 64 buckets can be empty at smoke
    # scale and Spark writes no file for an empty partition — "many
    # small files in, one file out" is the property, not exactly 64
    assert 32 < n_before <= 64, n_before
    assert n_after == 1, n_after
    assert n_rows == spark.read.parquet(landing).count()


def test_run_counts_in_one_pass(spark, monkeypatch):
    """rows_written must come from the write's own observed metrics —
    re-executing the plan for a count is a second full source scan at
    100 TB. Guard: .count() inside run() trips this monkeypatch."""
    from pyspark.sql import DataFrame

    def _no_second_pass(self):
        raise AssertionError(
            "Pipeline.run re-executed the plan for the row count"
        )

    monkeypatch.setattr(DataFrame, "count", _no_second_pass)
    p = Pipeline(
        source=Source("parquet", f"{SF_SMOKE}/nation.parquet"),
        steps=[Transform("nonneg", lambda df: df.where(F.col("n_nationkey") >= 0))],
        sink=Sink("noop", None),
    )
    res = p.run(spark)
    assert res.rows_written == 25


def test_zorder_clustering_localizes_rectangle_queries(spark):
    """Z-order locality: a rectangle predicate on (custkey, date) must
    find all its rows in a strict minority of the 8 clustered files —
    that file locality is exactly what parquet min/max skipping prunes
    on at scale. Also check the predicate reaches the scan."""
    from pyspark.sql import functions as F

    from uchr_scetl_spark.operators.etl import _zorder_dir

    out = _zorder_dir(spark, SF_SMOKE)
    back = spark.read.parquet(out)
    n_files_total = back.select(
        F.input_file_name()
    ).distinct().count()
    # quarter-of-range rectangle in both dims, sized from the corpus
    # itself so the test holds at any SF
    bounds = back.agg(
        F.min("o_custkey").alias("klo"), F.max("o_custkey").alias("khi")
    ).collect()[0]
    k_hi = bounds.klo + max(1, (bounds.khi - bounds.klo) // 4)
    lo = F.lit("1996-01-01").cast("timestamp_ntz")
    hi = F.lit("1997-01-01").cast("timestamp_ntz")
    rect = back.where(
        F.col("o_custkey").between(bounds.klo, k_hi)
        & (F.col("o_orderdate") >= lo)
        & (F.col("o_orderdate") < hi)
    )
    touched = rect.select(F.input_file_name()).distinct().count()
    assert rect.count() > 0
    assert touched < n_files_total / 2, (touched, n_files_total)
    plan = rect._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan


def test_ab_lift_degenerate_pool_yields_null_z(spark):
    """When every user converts, the pooled proportion is 1 and the
    z denominator is sqrt(0): ANSI Spark would raise on the division
    and DuckDB would emit NaN — the guard must turn both into NULL.
    Build a corpus where each user's first event is a purchase."""
    import datetime
    import shutil
    import tempfile

    from uchr_scetl_spark.registry import load_registry

    out = tempfile.mkdtemp(prefix="uchr_ab_degenerate_")
    try:
        rows = []
        t0 = datetime.datetime(2024, 1, 1)
        for uid in range(8):
            for i in range(3):
                rows.append(
                    (
                        uid * 10 + i,
                        t0 + datetime.timedelta(minutes=uid * 10 + i),
                        uid,
                        "purchase" if i == 0 else "view",
                        1.0,
                        "{}",
                    )
                )
        spark.createDataFrame(
            rows, "event_id long, ts timestamp_ntz, user_id long,"
            " event_type string, value double, props string"
        ).write.mode("overwrite").parquet(f"{out}/events.parquet")
        res = load_registry()["events_ab_lift"].fn(spark, out).collect()[0]
        assert res.n0 == 4 and res.n1 == 4
        assert res.c0 == 4 and res.c1 == 4
        assert res.rate0_ppm == 1000000 and res.rate1_ppm == 1000000
        assert res.lift_ppm == 0
        assert res.z_micro is None
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_sql_transform_tolerates_literal_braces(spark):
    """SQL legitimately contains braces (JSON literals, struct
    constructors); only the {df} placeholder may be substituted — a
    str.format implementation raised KeyError on any other brace."""
    p = Pipeline(
        source=Source("parquet", f"{SF_SMOKE}/documents.parquet"),
        steps=[
            SqlTransform(
                "json_probe",
                "SELECT doc_id, get_json_object('{\"k\": 1}', '$.k') AS k,"
                " named_struct('a', 1) AS s FROM {df} WHERE doc_id < 5",
            ),
        ],
        sink=Sink("noop", ""),
    )
    assert p.run(spark).rows_written == 5
    # the step-scoped temp view must not leak into the session catalog
    leaked = [
        t.name
        for t in spark.catalog.listTables()
        if t.isTemporary and t.name.startswith("__pipeline_json_probe")
    ]
    assert leaked == []


def test_text_sinks_honor_error_mode(spark):
    """mode='error' (the documented default) must refuse to clobber an
    existing csv/json sink path — the io helpers used to hardcode
    overwrite, silently destroying prior output."""
    import pytest

    src = Source("parquet", f"{SF_SMOKE}/nation.parquet")
    for fmt in ("csv", "json"):
        out = tempfile.mkdtemp(prefix=f"uchr_{fmt}_mode_")
        shutil.rmtree(out, ignore_errors=True)
        try:
            Pipeline(
                source=src, sink=Sink(fmt, out, mode="overwrite")
            ).run(spark)
            with pytest.raises(Exception, match="already exists|ALREADY_EXISTS"):
                Pipeline(source=src, sink=Sink(fmt, out, mode="error")).run(
                    spark
                )
        finally:
            shutil.rmtree(out, ignore_errors=True)
