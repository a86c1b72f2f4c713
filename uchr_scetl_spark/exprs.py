"""Shared column expressions, chiefly the oracle-exact double-sum trick.

IEEE-754 double addition is not associative, so ``SUM(double)`` differs
between engines (and between runs at different parallelism) in the last
few ulps — enough to break a bit-exact value hash. The engine therefore
routes every non-integral double SUM through DECIMAL:

    Spark :  CAST(SUM(CAST(x AS DECIMAL(24,6))) AS DOUBLE)
    DuckDB:  CAST(SUM(CAST(x AS DECIMAL(24,6))) AS DOUBLE)

Scale 6 (not 4): both engines round the double's shortest decimal
representation, but Spark rounds HALF_UP and DuckDB HALF_EVEN, so any
value whose representation terminates exactly one digit past the scale
with a trailing 5 is a tie they resolve differently. The corpus's money
columns are exact 2-decimal values, so 3-factor products (charge)
terminate at 6 decimals — at scale >= 6 no tie can occur (verified
empirically across sf0.01/sf0.1: 0 ties at scale 6, thousands at 4-5).

Decimal addition is exact and order-insensitive, the double→decimal
rounding of both engines agrees except on exact decimal ties (which
binary doubles essentially never hit), and the final decimal→double
cast is deterministic. Integral-valued doubles (quantities) and counts
skip the detour: their double sums are exact anyway (< 2^53).

DOMAIN BOUND (measured, round-8 big-money sweep): the final
decimal→double renderings of the two engines agree bit-exactly only
while the sum's SCALED MANTISSA (value·10^scale) stays under 2^53 —
past it, DuckDB's conversion double-rounds (integer mantissa to
double, then the 10^-scale division) where Spark's BigDecimal
conversion rounds once, and the results diverge in the last ulp
(measured: prices ×10⁴ push money sums to ~10¹⁷ scaled and ~10⁻⁶
relative drift appears; the normal corpus is orders of magnitude
inside the bound). At scale 6 the bound is ≈ $9·10⁹ per aggregate
group — a pipeline summing beyond that emits cents BIGINTs or decimal
STRINGS instead of doubles (the etl_publish_checksums idiom).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def dec_sum(col: Column | str, alias: str, scale: int = 6) -> Column:
    """Order-insensitive, engine-exact sum of a double column."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal(24,{scale})")).cast("double").alias(alias)


def dec_avg(col: Column | str, alias: str, scale: int = 6) -> Column:
    """Exact-sum / count average (double division is deterministic)."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.sum(c.cast(f"decimal(24,{scale})")).cast("double") / F.count(c)
    ).alias(alias)


def sql_dec_sum(expr: str, alias: str, scale: int = 6) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(24,{scale}))) AS DOUBLE) AS {alias}"


def sql_dec_avg(expr: str, alias: str, scale: int = 6) -> str:
    return (
        f"(CAST(SUM(CAST({expr} AS DECIMAL(24,{scale}))) AS DOUBLE)"
        f" / COUNT({expr})) AS {alias}"
    )


# TPC-H-style revenue expression — written identically (same tree shape)
# on both sides so the row-level double arithmetic is bit-equal.
REVENUE = "l_extendedprice * (1 - l_discount)"
CHARGE = "(l_extendedprice * (1 - l_discount)) * (1 + l_tax)"


def revenue_col() -> Column:
    return F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))


def sql_floor_div(x: str, d: int, idiv: str) -> str:
    """Engine-portable FLOOR integer division of a BIGINT expression.

    Both engines' integer division TRUNCATES toward zero (Spark
    ``div``, DuckDB ``//``), and Spark's ``floor(x / d)`` detour
    floors but runs through a double (inexact for |x| > 2^53 — epoch
    MICROseconds cross that in year 2255). For negative operands the
    two spellings differ by one — the extreme-timestamp sweep measured
    exactly that on pre-1970 epochs (an hour-shifted OHLC bucket, ±1 s
    interval durations). This form is pure integer algebra with FLOOR
    semantics on any input: truncating division corrected by one when
    the remainder is negative (both engines' ``%`` follows the
    dividend's sign). Pass idiv='div' for Spark SQL, '//' for DuckDB.
    """
    return (
        f"(({x}) {idiv} {d}"
        f" - CASE WHEN ({x}) % {d} < 0 THEN 1 ELSE 0 END)"
    )


def literal_rows_df(spark, rows, schema: str):
    """Tiny driver-computed result set as a one-row JVM literal
    relation (``range(1)`` + explode of literal structs) — NEVER
    ``createDataFrame``, whose ``parallelize`` fans even a 3-row list
    across the default parallelism through the Python-RDD serializer
    (measured: 32 near-empty Python tasks and ~0.3 s per tiny frame —
    the round-15 BPE-trainer lesson, applied engine-wide in round 16).

    ``schema`` is the usual "name type, name type" DDL string, parsed
    by Spark's own DDL parser (types may contain commas, as in
    ``decimal(12,2)`` or ``map<string,int>``); values are cast per
    field, so Python ints/bools/None land as the declared Spark types
    exactly as they did through createDataFrame."""
    fields = [(f.name, f.dataType) for f in StructType.fromDDL(schema).fields]
    if not rows:
        return spark.range(0).select(
            *[F.lit(None).cast(t).alias(n) for n, t in fields]
        )
    structs = [
        F.struct(
            *[
                F.lit(v).cast(t).alias(n)
                for (n, t), v in zip(fields, row)
            ]
        )
        for row in rows
    ]
    return (
        spark.range(1)
        .select(F.explode(F.array(*structs)).alias("_t"))
        .select("_t.*")
    )
