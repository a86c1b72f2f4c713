"""§2.11 UDF / UDAF / UDTF surface.

Rule of thumb enforced across the engine: built-in expressions beat
pandas UDFs beat row-at-a-time Python (which appears nowhere). These
three keys exist to *cover the extension surface*, each deliberately
chosen so an oracle can still check it:

- ``udf_pandas_scalar`` — Arrow-batched scalar pandas UDF; the function
  (lower+strip+collapse-whitespace) is SQL-replicable, so the Python
  path itself is what's under test.
- ``udaf_grouped`` — ``applyInPandas`` per-group aggregation (IQR-
  trimmed mean). Works on integral-valued doubles so every intermediate
  (linear-interpolated quartiles on sorted integers = dyadic rationals,
  sums of integers) is exactly representable — bit-agreement with the
  SQL oracle is by construction, not luck.
- ``udtf_explode_custom`` — Spark 4 Python UDTF emitting (pos, token)
  rows; oracle = generate_series positional unnest.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf, udtf
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .io import load
from .registry import query


@pandas_udf(StringType())
def normalize_text(s: pd.Series) -> pd.Series:
    """Vectorized normalize: lower, strip, collapse internal runs of
    whitespace to single spaces. "Whitespace" is PYTHON's Unicode set
    (str.strip / re \\s: ASCII controls \\t\\n\\v\\f\\r, the
    \\x1c-\\x1f separators, NEL \\x85, and the Zs/Zl/Zp categories
    incl. NBSP and U+2028) — the round-10 control-chars sweep caught
    the oracle's RE2 \\s matching ASCII only, so the oracle now
    spells the identical class explicitly:
    [\\t\\n\\x0b\\x0c\\r\\x1c-\\x1f\\x{0085}\\p{Z}].

    Case-mapping scope (round-11 special-casing sweep, pinned in
    tests/test_special_casing_corpus.py): the lowercase step is
    PYTHON's str.lower — Unicode FULL mappings (İ → i + combining
    dot) — while DuckDB's lower() is the SIMPLE 1:1 mapping (İ → i),
    so the checked equality holds for simple-case text (every driver
    corpus); outside it Python's semantics are the product, same
    declared-scope contract as agg_fold_ci_groups."""
    return s.str.lower().str.strip().str.replace(r"\s+", " ", regex=True)


@query(
    "udf_pandas_scalar",
    oracle="""
    WITH n AS (
      SELECT doc_id,
             regexp_replace(
               regexp_replace(lower(text),
                 '^[\\t\\n\\x0b\\x0c\\r\\x1c-\\x1f\\x{0085}\\p{Z}]+|[\\t\\n\\x0b\\x0c\\r\\x1c-\\x1f\\x{0085}\\p{Z}]+$', '', 'g'),
               '[\\t\\n\\x0b\\x0c\\r\\x1c-\\x1f\\x{0085}\\p{Z}]+', ' ', 'g') AS norm_text
      FROM documents
    )
    SELECT doc_id, norm_text,
           CAST(length(norm_text) AS BIGINT) AS norm_len
    FROM n
    """,
)
def udf_pandas_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched scalar pandas UDF on the text column."""
    d = load(spark, sf_dir, "documents")
    norm = normalize_text(F.col("text"))
    return d.select(
        "doc_id",
        norm.alias("norm_text"),
        F.length(norm).cast("bigint").alias("norm_len"),
    )


_TRIMMED_SCHEMA = StructType(
    [
        StructField("l_returnflag", StringType()),
        StructField("q1", DoubleType()),
        StructField("q3", DoubleType()),
        StructField("trimmed_mean_qty", DoubleType()),
        StructField("n_kept", LongType()),
    ]
)


def _trimmed_mean(pdf: pd.DataFrame) -> pd.DataFrame:
    """IQR-trimmed mean of l_quantity for one group. All arithmetic is
    exact: quantities are integral, linear-interpolated quartiles land
    on dyadic rationals, and the trimmed sum stays < 2^53."""
    q = pdf["l_quantity"]
    q1 = q.quantile(0.25, interpolation="linear")
    q3 = q.quantile(0.75, interpolation="linear")
    kept = q[(q >= q1) & (q <= q3)]
    return pd.DataFrame(
        {
            "l_returnflag": [pdf["l_returnflag"].iloc[0]],
            "q1": [float(q1)],
            "q3": [float(q3)],
            "trimmed_mean_qty": [float(kept.sum() / len(kept))],
            "n_kept": [len(kept)],
        }
    )


@query(
    "udaf_grouped",
    oracle="""
    WITH bounds AS (
      SELECT l_returnflag,
             quantile_cont(l_quantity, 0.25) AS q1,
             quantile_cont(l_quantity, 0.75) AS q3
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT b.l_returnflag, b.q1, b.q3,
           (CAST(SUM(l.l_quantity) AS DOUBLE) / COUNT(*)) AS trimmed_mean_qty,
           CAST(COUNT(*) AS BIGINT) AS n_kept
    FROM lineitem l JOIN bounds b ON l.l_returnflag = b.l_returnflag
    WHERE l.l_quantity >= b.q1 AND l.l_quantity <= b.q3
    GROUP BY b.l_returnflag, b.q1, b.q3
    """,
)
def udaf_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group pandas aggregation (applyInPandas): IQR-trimmed mean.

    Scale note: each group materialises in one worker's memory — only
    appropriate when groups are bounded (3 return flags here). Unbounded
    groups belong in built-in aggregates instead."""
    li = load(spark, sf_dir, "lineitem").select("l_returnflag", "l_quantity")
    return li.groupBy("l_returnflag").applyInPandas(_trimmed_mean, _TRIMMED_SCHEMA)


@udtf(returnType="pos: int, token: string, token_len: int")
class TokenEmitter:
    """One row in → one row per token out, with position and length."""

    def eval(self, text: str):  # noqa: D102
        if text is None:
            return
        for pos, tok in enumerate(text.split(" "), start=1):
            yield pos, tok, len(tok)


@query(
    "udtf_explode_custom",
    oracle="""
    WITH base AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
      WHERE doc_id < 20
    ), ex AS (
      SELECT doc_id,
             unnest([{'pos': i, 'tok': t[i]}
                     for i in generate_series(1, len(t))]) AS u
      FROM base
    )
    SELECT doc_id,
           CAST(u.pos AS INTEGER) AS pos,
           u.tok AS token,
           CAST(length(u.tok) AS INTEGER) AS token_len
    FROM ex
    """,
)
def udtf_explode_custom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 4): custom one-to-many row emitter with
    position — the extensible version of posexplode. The UDTF is called
    in a lateral join, not registered, so building the key adds no
    temporary function to the caller's session."""
    docs = load(spark, sf_dir, "documents").where(F.col("doc_id") < 20)
    return docs.lateralJoin(TokenEmitter(F.col("text").outer())).select(
        "doc_id", "pos", "token", "token_len"
    )


def _reconcile(key, left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
    # one call per BUCKET, not per customer: the per-key work is a
    # vectorized pandas groupby inside the call. Integer-cent sums:
    # pandas float reductions depend on row order, int64 sums don't —
    # keeps the cogroup bit-reproducible.
    def per_key(df: pd.DataFrame, n_col: str, c_col: str) -> pd.DataFrame:
        if not len(df):
            return pd.DataFrame(
                {
                    "o_custkey": pd.Series(dtype="int64"),
                    n_col: pd.Series(dtype="int64"),
                    c_col: pd.Series(dtype="int64"),
                }
            )
        cents = (df["o_totalprice"] * 100).round().astype("int64")
        g = (
            df.assign(cents=cents)
            .groupby("o_custkey", sort=False)["cents"]
            .agg(["size", "sum"])
            .reset_index()
        )
        g.columns = ["o_custkey", n_col, c_col]
        return g

    l = per_key(left, "n_filled", "lc")
    r = per_key(right, "n_open", "rc")
    m = l.merge(r, on="o_custkey", how="outer").fillna(0)
    return pd.DataFrame(
        {
            "o_custkey": m["o_custkey"].astype("int64"),
            "n_filled": m["n_filled"].astype("int64"),
            "n_open": m["n_open"].astype("int64"),
            "gap_cents": (m["lc"] - m["rc"]).astype("int64"),
        }
    )


@query(
    "udf_cogrouped_pandas",
    oracle="""
    WITH f AS (
      SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_filled,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders WHERE o_orderstatus = 'F'
        AND o_totalprice IS NOT NULL
      GROUP BY o_custkey
    ),
    o AS (
      SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_open,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders WHERE o_orderstatus = 'O'
        AND o_totalprice IS NOT NULL
      GROUP BY o_custkey
    )
    SELECT COALESCE(f.o_custkey, o.o_custkey) AS o_custkey,
           CAST(COALESCE(f.n_filled, 0) AS BIGINT) AS n_filled,
           CAST(COALESCE(o.n_open, 0) AS BIGINT)   AS n_open,
           CAST(COALESCE(f.cents, 0) - COALESCE(o.cents, 0) AS BIGINT)
             AS gap_cents
    FROM f FULL OUTER JOIN o ON f.o_custkey = o.o_custkey
    """,
)
def udf_cogrouped_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped pandas transform
    (``groupBy().cogroup().applyInPandas``): per-customer
    reconciliation of filled vs open orders — both sides of each key
    arrive in ONE Python call as two aligned pandas frames.

    This is the API for per-key logic that needs both relations at
    once (imperative merges, custom as-of logic, drift checks) without
    materialising a join. Scale-critical detail: the cogroup key is a
    COARSE BUCKET (hash(custkey) % 64), not the raw customer key —
    one Python invocation per customer is murder at any scale
    (measured 24 s → ~1 s at sf0.1); per-customer work happens
    vectorized inside each bucket call. Bucket count scales with the
    cluster, results are bucket-count-invariant. Sums ride int64
    cents (round(x*100)) since pandas float reductions are
    row-order-dependent but integer sums are exact."""
    # each side gets an INDEPENDENT scan (fresh attribute ids): when
    # both cogroup children share a parent plan, their columns carry
    # identical expression ids and Spark's attribute deduplication can
    # prune the right child down to the grouping key (observed: right
    # frames arriving with only `bucket` under shuffle.partitions=7)
    bucket = (F.hash("o_custkey") % 64).alias("bucket")
    filled = (
        load(spark, sf_dir, "orders")
        .where((F.col("o_orderstatus") == "F")
               & F.col("o_totalprice").isNotNull())
        .select(bucket, "o_custkey", "o_totalprice")
    )
    open_ = (
        load(spark, sf_dir, "orders")
        .where((F.col("o_orderstatus") == "O")
               & F.col("o_totalprice").isNotNull())
        .select(bucket, "o_custkey", "o_totalprice")
    )
    return (
        filled.groupBy("bucket")
        .cogroup(open_.groupBy("bucket"))
        .applyInPandas(
            _reconcile,
            "o_custkey bigint, n_filled bigint, n_open bigint, gap_cents bigint",
        )
    )
