"""Registry-checked end-to-end runs of the declarative Pipeline API.

``uchr_scetl_spark.pipeline`` (Source → steps → Sink compiled into ONE
Catalyst plan) was previously exercised only by unit tests; these keys
put the composition layer itself under the driver's oracle gate, so
the cross-step pushdown / single-plan claim is checked the same way
every individual operator is.

The key runs a realistic 3-step declarative ETL — scan orders, filter
to a date window (declared as its own step, so the pushdown must cross
a step boundary to reach the scan), SQL-aggregate per priority, then
sink partitioned parquet — and returns the re-read sink contents. The
oracle recomputes the same ETL in DuckDB from the raw table, so a
value match proves the whole chain: composition, write, partition
layout, and re-read.

tests/test_plans.py asserts the composed pre-sink plan contains
exactly ONE parquet scan with the date filter pushed into it — the
"steps are plan rewrites, not staged tables" contract made visible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import scratch_dir
from ..pipeline import Pipeline, Sink, Source, SqlTransform, Transform
from ..registry import query


def orders_daily_pipeline(spark: SparkSession, sf_dir: str, out: str) -> Pipeline:
    """The shared declarative plan: filter step + SQL aggregate step +
    partitioned parquet sink. Split out so the plan-shape test can
    inspect ``.plan(spark)`` without running the sink."""
    return Pipeline(
        source=Source("parquet", f"{sf_dir}/orders.parquet", schema="orders"),
        steps=[
            Transform(
                "window_1996",
                lambda df: df.where(
                    (df.o_orderdate >= F.lit("1996-01-01").cast("timestamp_ntz"))
                    & (df.o_orderdate < F.lit("1997-01-01").cast("timestamp_ntz"))
                ),
            ),
            SqlTransform(
                "by_priority_status",
                """
                SELECT o_orderpriority, o_orderstatus,
                       COUNT(*) AS n_orders,
                       SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                         AS sum_price_cents
                FROM {df}
                GROUP BY o_orderpriority, o_orderstatus
                """,
            ),
        ],
        sink=Sink(
            "parquet", out, mode="overwrite", partition_by=["o_orderstatus"]
        ),
    )


@query(
    "pipeline_orders_daily",
    oracle="""
    SELECT o_orderpriority, o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS sum_price_cents
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY o_orderpriority, o_orderstatus
    """,
)
def pipeline_orders_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative Pipeline end-to-end under the oracle gate: run the
    Source→Transform→SqlTransform→Sink composition, then return the
    sink's re-read contents for value comparison.

    Scale notes: the pipeline's row count rides the sink write via an
    ``Observation`` (one scan total — no post-write count pass), the
    sink is hive-partitioned on o_orderstatus for downstream pruning,
    and the returned relation reads the SINK, so the check also covers
    the partitioned round-trip (column re-ordering, partition-value
    typing), not just the in-memory plan.

    The money aggregate is the registry's tie-safe cents idiom
    (SUM over BIGINT cents, never a raw float SUM): IEEE double
    summation is order-dependent, so a float SUM would only hash-match
    DuckDB while both engines happen to sum in identical row order —
    exactly the partition-count coincidence test_determinism exists to
    forbid."""
    out = scratch_dir("uchr_pipeline_orders_")
    p = orders_daily_pipeline(spark, sf_dir, out)
    res = p.run(spark)
    back = spark.read.schema(p.plan(spark).schema).parquet(out)
    assert res.rows_written == back.count()  # Observation == sink contents
    return back.select(
        "o_orderpriority",
        "o_orderstatus",
        F.col("n_orders").cast("long").alias("n_orders"),
        "sum_price_cents",
    )
