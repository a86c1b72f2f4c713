"""Declared schemas for the ten corpus tables (FIXTURES.md).

``LOGICAL`` schemas describe the tables as io.load() returns them, and
they are what the reader is given: io.load() never infers a schema,
it checks ``LOGICAL`` against each table's parquet footer instead.
``EVENTS_RAW`` describes an ``events`` file whose ``ts`` is stored as
TIMESTAMP(NANOS): under ``spark.sql.legacy.parquet.nanosAsLong`` it
arrives as raw INT64 nanos, and io.load() normalises it to
TIMESTAMP_NTZ µs. CSV and JSON reads take these StructTypes too; they
are the single source of truth.
"""

from __future__ import annotations

import os

from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)


def _st(*fields: tuple[str, object]) -> StructType:
    return StructType([StructField(n, t, True) for n, t in fields])


LOGICAL: dict[str, StructType] = {
    "region": _st(("r_regionkey", IntegerType()), ("r_name", StringType())),
    "nation": _st(
        ("n_nationkey", IntegerType()),
        ("n_name", StringType()),
        ("n_regionkey", IntegerType()),
    ),
    "supplier": _st(
        ("s_suppkey", LongType()),
        ("s_name", StringType()),
        ("s_nationkey", IntegerType()),
        ("s_acctbal", DoubleType()),
    ),
    "customer": _st(
        ("c_custkey", LongType()),
        ("c_name", StringType()),
        ("c_nationkey", IntegerType()),
        ("c_acctbal", DoubleType()),
        ("c_mktsegment", StringType()),
    ),
    "part": _st(
        ("p_partkey", LongType()),
        ("p_name", StringType()),
        ("p_brand", StringType()),
        ("p_type", StringType()),
        ("p_size", IntegerType()),
        ("p_retailprice", DoubleType()),
    ),
    "orders": _st(
        ("o_orderkey", LongType()),
        ("o_custkey", LongType()),
        ("o_orderstatus", StringType()),
        ("o_totalprice", DoubleType()),
        ("o_orderdate", TimestampNTZType()),
        ("o_orderpriority", StringType()),
    ),
    "lineitem": _st(
        ("l_orderkey", LongType()),
        ("l_partkey", LongType()),
        ("l_suppkey", LongType()),
        ("l_linenumber", IntegerType()),
        ("l_quantity", DoubleType()),
        ("l_extendedprice", DoubleType()),
        ("l_discount", DoubleType()),
        ("l_tax", DoubleType()),
        ("l_returnflag", StringType()),
        ("l_linestatus", StringType()),
        ("l_shipdate", TimestampNTZType()),
    ),
    "events": _st(
        ("event_id", LongType()),
        ("ts", TimestampNTZType()),
        ("user_id", LongType()),
        ("event_type", StringType()),
        ("value", DoubleType()),
        ("props", StringType()),
    ),
    "documents": _st(
        ("doc_id", LongType()),
        ("text", StringType()),
        ("lang", StringType()),
        ("source", StringType()),
        ("n_chars", LongType()),
    ),
    "embeddings": _st(
        ("vec_id", LongType()),
        ("embedding", ArrayType(FloatType())),
        ("label", IntegerType()),
    ),
}

# events as physically stored: ts is INT64 nanoseconds since epoch
EVENTS_RAW: StructType = _st(
    ("event_id", LongType()),
    ("ts", LongType()),
    ("user_id", LongType()),
    ("event_type", StringType()),
    ("value", DoubleType()),
    ("props", StringType()),
)

TABLES: tuple[str, ...] = tuple(LOGICAL)


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")
