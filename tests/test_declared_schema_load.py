"""The declared-schema read path: ``io.load`` and a parquet ``Source``
with a schema read with ``schemas.LOGICAL`` and check it once against
the parquet footer on the driver.

- Loads start no Spark job (schema inference starts one per call).
- A footer that disagrees with the declared schema raises a
  ``ValueError`` naming the path and the column, also when the table
  was rewritten in place after an earlier load passed.
- An ``events`` table whose ``ts`` is stored as TIMESTAMP(NANOS) still
  loads as microsecond ``timestamp_ntz``, truncated toward zero.
- The keys that re-read their own scratch output pass the written
  schema, and it equals the schema Spark would infer.
"""

from __future__ import annotations

import contextlib
import datetime
import json
import os
import uuid

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import StructType, TimestampNTZType

from uchr_scetl_spark.io import load
from uchr_scetl_spark.plans.pipelines import orders_daily_pipeline
from uchr_scetl_spark.pipeline import Pipeline, Sink, Source
from uchr_scetl_spark.schemas import TABLES

from .conftest import SF_SMOKE
from .oracle import (
    REGISTRY,
    assert_matches_oracle,
    copied_corpus,
    mutated_corpus,
    oracle_connection,
    rewrite_tables,
)


@contextlib.contextmanager
def job_group(spark):
    """Yields a list that holds, on exit, the ids of the Spark jobs
    started inside the block."""
    sc = spark.sparkContext
    group = f"declared-schema-{uuid.uuid4().hex[:8]}"
    jobs: list[int] = []
    sc.setJobGroup(group, group)
    try:
        yield jobs
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        jobs.extend(sc.statusTracker().getJobIdsForGroup(group))


def test_loading_every_table_starts_no_spark_job(spark):
    with job_group(spark) as jobs:
        for t in TABLES:
            load(spark, SF_SMOKE, t)
    assert jobs == []


def test_parquet_source_with_schema_starts_no_inference_job(spark, tmp_path):
    """``pipeline_orders_daily``'s source names its table: building
    the plan starts no job, and the run starts one job fewer than the
    same pipeline over a schema-less source, which infers."""
    declared = orders_daily_pipeline(spark, SF_SMOKE, str(tmp_path / "a"))
    with job_group(spark) as plan_jobs:
        declared.plan(spark)
    assert plan_jobs == []

    inferred = Pipeline(
        source=Source("parquet", declared.source.path),
        steps=declared.steps,
        sink=Sink("parquet", str(tmp_path / "b"), "overwrite", ["o_orderstatus"]),
    )
    with job_group(spark) as declared_jobs:
        declared.run(spark)
    with job_group(spark) as inferred_jobs:
        inferred.run(spark)
    assert len(declared_jobs) == len(inferred_jobs) - 1, (
        declared_jobs, inferred_jobs,
    )


retyped_dir = mutated_corpus(
    "uchr_retyped_corpus_",
    {"orders": "SELECT * REPLACE (CAST(o_totalprice AS VARCHAR) AS o_totalprice) FROM orders"},
)
dropped_dir = mutated_corpus(
    "uchr_dropped_corpus_",
    {"customer": "SELECT * EXCLUDE (c_mktsegment) FROM customer"},
)


def test_retyped_column_raises(spark, retyped_dir):
    with pytest.raises(ValueError) as err:
        load(spark, retyped_dir, "orders")
    msg = str(err.value)
    assert f"{retyped_dir}/orders.parquet" in msg
    assert "'o_totalprice' has type string, declared double" in msg


def test_dropped_column_raises(spark, dropped_dir):
    with pytest.raises(ValueError) as err:
        load(spark, dropped_dir, "customer")
    msg = str(err.value)
    assert f"{dropped_dir}/customer.parquet" in msg
    assert "'c_mktsegment' (declared string) is missing" in msg


def test_table_rewritten_in_place_is_checked_again(spark):
    with copied_corpus("uchr_rewritten_corpus_") as out:
        load(spark, out, "orders")
        rewrite_tables(
            out,
            {"orders": "SELECT * EXCLUDE (o_orderpriority) FROM orders"},
        )
        with pytest.raises(ValueError, match="'o_orderpriority'"):
            load(spark, out, "orders")


def _write_nanos_events(path: str, ts_ns: pa.Array) -> None:
    n = len(ts_ns)
    pq.write_table(
        pa.table({
            "event_id": pa.array(range(n), pa.int64()),
            "ts": ts_ns.cast(pa.timestamp("ns")),
            "user_id": pa.array([1] * n, pa.int64()),
            "event_type": pa.array(["view"] * n),
            "value": pa.array([1.0] * n),
            "props": pa.array(["{}"] * n),
        }),
        path,
    )


def test_nanos_events_load_as_micros_truncated_toward_zero(spark, tmp_path):
    ns = [-1500, -999, -1, 0, 999, 1500]
    _write_nanos_events(str(tmp_path / "events.parquet"), pa.array(ns, pa.int64()))
    ev = load(spark, str(tmp_path), "events")
    assert ev.schema["ts"].dataType == TimestampNTZType()
    got = [r.ts for r in ev.orderBy("event_id").collect()]
    # toward zero: -1500 ns is -1 µs and -999 ns is the epoch (floor
    # would give -2 µs and -1 µs)
    epoch = datetime.datetime(1970, 1, 1)
    assert got == [epoch + datetime.timedelta(microseconds=us) for us in (-1, 0, 0, 0, 0, 1)]


# events keys whose results depend on the order and spacing of ts
NANOS_KEYS = ["events_sessionize", "win_time_range", "stream_tumbling_counts", "join_asof"]


def test_nanos_events_keys_match_their_oracle(spark):
    """``ts`` stored as nanos with a sub-microsecond residue added
    loads as the microsecond corpus, so the events keys match their
    oracle over that corpus."""
    with copied_corpus("uchr_nanos_corpus_") as out:
        us = pq.read_table(f"{SF_SMOKE}/events.parquet")
        ns = pc.add(
            pc.multiply(pc.cast(us["ts"], pa.int64()), 1000),
            pc.bit_wise_and(us["event_id"], 511),
        )
        pq.write_table(
            us.set_column(1, "ts", ns.cast(pa.timestamp("ns"))),
            f"{out}/events.parquet",
        )
        assert pq.read_schema(f"{out}/events.parquet").field("ts").type.unit == "ns"
        got = load(spark, out, "events").toPandas()
        assert got.equals(load(spark, SF_SMOKE, "events").toPandas())
        with oracle_connection(SF_SMOKE) as con:
            for key in NANOS_KEYS:
                assert_matches_oracle(spark, key, out, con=con)


@pytest.mark.parametrize(
    "key", ["etl_compact_small_files", "etl_zorder_cluster", "stream_exactly_once_sink"]
)
def test_scratch_reread_schema_equals_inferred(spark, key):
    """The schema a key passes when it reads back its own scratch
    output is the one Spark infers from that output, partition columns
    included."""
    df = REGISTRY[key].fn(spark, SF_SMOKE)
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    assert leaves.size() == 1
    declared = StructType.fromJson(json.loads(leaves.apply(0).schema().json()))
    root = os.path.commonpath([os.path.dirname(f) for f in df.inputFiles()])
    assert declared == spark.read.parquet(root).schema
