"""TPC-H-shaped analytical pipelines adapted to the corpus schema.

The single-operator keys in ``operators/`` prove each primitive; these
prove the *composed* plans an analyst actually runs — multiway joins
feeding aggregates feeding top-k, correlated-style filters, conditional
shares. All 22 classic TPC-H query shapes are implemented,
re-parameterised for the columns this corpus has:
- Q4/Q8/Q12/Q13/Q17/Q19/Q21/Q22 substitute an equivalent predicate on
  an existing column where the original filters a missing one (e.g.
  l_returnflag='R' for the commit<receipt lateness test, c_nationkey
  for the phone country code);
- Q2/Q9/Q11/Q16/Q20 aggregate over partsupp, which the corpus lacks —
  it is DERIVED deterministically from lineitem's observed
  (part, supplier) pairs with integer-arithmetic cost/availqty (see
  _PARTSUPP_SQL below), so both engines build the identical relation
  and the plan shapes are exercised faithfully.

100 TB notes baked into every plan below:
- dimension sides (region/nation/supplier at real scale, plus any
  filtered-small relation) carry explicit ``F.broadcast`` hints;
- join chains run selective-first so intermediate cardinality shrinks
  before the fact-fact joins;
- all money sums ride the DECIMAL path (`exprs.dec_sum`) so results
  are order-insensitive — re-runnable identically at any parallelism;
- top-k uses orderBy+limit (TakeOrderedAndProject — per-partition
  heaps, no global sort) with full tiebreaks for determinism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..exprs import CHARGE, REVENUE, dec_avg, dec_sum, revenue_col, sql_dec_avg, sql_dec_sum
from ..io import load
from ..memo import Memo
from ..registry import query


def _ts(s: str) -> F.Column:
    return F.lit(s).cast("timestamp_ntz")


@query(
    "tpch_q1",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty,
           {sql_dec_sum('l_extendedprice', 'sum_base_price')},
           {sql_dec_sum(REVENUE, 'sum_disc_price')},
           {sql_dec_sum(CHARGE, 'sum_charge')},
           (CAST(SUM(CAST(l_quantity AS DECIMAL(24,6))) AS DOUBLE)
              / COUNT(l_quantity)) AS avg_qty,
           {sql_dec_avg('l_extendedprice', 'avg_price')},
           {sql_dec_avg('l_discount', 'avg_disc')},
           CAST(COUNT(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1 pricing summary: the canonical scan→filter→hash-agg plan.

    Single shuffle on a 6-value grouping key; partial aggregation
    (map-side combine) reduces 100 TB of lineitem to six rows per
    map task before the exchange."""
    li = load(spark, sf_dir, "lineitem")
    charge = revenue_col() * (F.lit(1) + F.col("l_tax"))
    return (
        li.where(F.col("l_shipdate") <= _ts("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            dec_sum("l_extendedprice", "sum_base_price"),
            dec_sum(revenue_col(), "sum_disc_price"),
            dec_sum(charge, "sum_charge"),
            dec_avg("l_quantity", "avg_qty"),
            dec_avg("l_extendedprice", "avg_price"),
            dec_avg("l_discount", "avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@query(
    "tpch_q3",
    oracle=f"""
    SELECT l.l_orderkey,
           {sql_dec_sum(REVENUE, 'revenue')},
           o.o_orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-06-15 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1998-06-15 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l.l_orderkey
    LIMIT 10
    """,
)
def tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 shipping priority: selective dim filter → two joins → agg →
    global top-10 via TakeOrderedAndProject (never a full sort)."""
    c = load(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = load(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < _ts("1998-06-15")
    )
    li = load(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > _ts("1998-06-15")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dec_sum(revenue_col(), "revenue"))
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


@query(
    "tpch_q4",
    oracle="""
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1998-07-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
    GROUP BY o_orderpriority
    """,
)
def tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 order-priority checking, adapted: EXISTS(line returned) for
    EXISTS(commit<receipt) — same semi-join plan (the right side's
    payload never crosses the shuffle)."""
    o = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= _ts("1998-01-01"))
        & (F.col("o_orderdate") < _ts("1998-07-01"))
    )
    li = load(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@query(
    "tpch_q5",
    oracle=f"""
    SELECT n.n_name, {sql_dec_sum(REVENUE, 'revenue')}
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
    GROUP BY n.n_name
    """,
)
def tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5 local supplier volume: the canonical star-join chain.

    region/nation/supplier are broadcast (no fact shuffle for dim
    joins); the only key shuffle is lineitem⋈orders."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= _ts("1998-01-01"))
        & (F.col("o_orderdate") < _ts("1999-01-01"))
    )
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(dec_sum(revenue_col(), "revenue"))
    )


@query(
    "tpch_q6",
    oracle=f"""
    SELECT {sql_dec_sum('l_extendedprice * l_discount', 'revenue')}
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1999-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6 forecast revenue change: pure scan-side computation — every
    predicate pushes into the parquet scan, zero joins, one scalar."""
    li = load(spark, sf_dir, "lineitem")
    return li.where(
        (F.col("l_shipdate") >= _ts("1998-01-01"))
        & (F.col("l_shipdate") < _ts("1999-01-01"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(dec_sum(F.col("l_extendedprice") * F.col("l_discount"), "revenue"))


@query(
    "tpch_q7",
    oracle=f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS INTEGER) AS l_year,
           {sql_dec_sum(REVENUE, 'revenue')}
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
    JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND l.l_shipdate >= TIMESTAMP '2000-01-01 00:00:00'
      AND l.l_shipdate < TIMESTAMP '2002-01-01 00:00:00'
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 volume shipping between two nations, both directions."""
    li = load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= _ts("2000-01-01"))
        & (F.col("l_shipdate") < _ts("2002-01-01"))
    )
    s = load(spark, sf_dir, "supplier")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n1 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), s.s_nationkey == F.col("n1_key"))
        .join(F.broadcast(n2), c.c_nationkey == F.col("n2_key"))
        .where(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(dec_sum(revenue_col(), "revenue"))
    )


@query(
    "tpch_q8",
    oracle=f"""
    WITH flat AS (
      SELECT CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
             CAST({REVENUE} AS DECIMAL(24,6)) AS volume,
             n2.n_name AS supp_nation
      FROM part p
      JOIN lineitem l ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1 ON n1.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n1.n_regionkey
      JOIN nation n2 ON n2.n_nationkey = s.s_nationkey
      WHERE r.r_name = 'AMERICA' AND p.p_type = 'PROMO'
        AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
        AND o.o_orderdate < TIMESTAMP '2002-01-01 00:00:00'
    )
    SELECT o_year,
           (CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume
                          ELSE CAST(0 AS DECIMAL(24,6)) END) AS DOUBLE)
              / CAST(SUM(volume) AS DOUBLE)) AS mkt_share
    FROM flat GROUP BY o_year
    """,
)
def tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 national market share, adapted to existing p_type values.

    Share = conditional-decimal-sum / decimal-sum: both sums are exact,
    the single double division is deterministic — identical on both
    engines at any parallelism."""
    p = load(spark, sf_dir, "part").where(F.col("p_type") == "PROMO")
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    o = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= _ts("2000-01-01"))
        & (F.col("o_orderdate") < _ts("2002-01-01"))
    )
    c = load(spark, sf_dir, "customer")
    n1 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    n2 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
    )
    r = load(spark, sf_dir, "region").where(F.col("r_name") == "AMERICA")
    volume = revenue_col().cast("decimal(24,6)")
    zero = F.lit(0).cast("decimal(24,6)")
    flat = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), c.c_nationkey == F.col("n1_key"))
        .join(F.broadcast(r), F.col("n1_region") == r.r_regionkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n2), s.s_nationkey == F.col("n2_key"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            volume.alias("volume"),
            "supp_nation",
        )
    )
    return flat.groupBy("o_year").agg(
        (
            F.sum(
                F.when(F.col("supp_nation") == "NATION_3", F.col("volume")).otherwise(
                    zero
                )
            ).cast("double")
            / F.sum("volume").cast("double")
        ).alias("mkt_share")
    )


@query(
    "tpch_q10",
    oracle=f"""
    SELECT c.c_custkey, c.c_name,
           {sql_dec_sum(REVENUE, 'revenue')},
           c.c_acctbal + 0.0 AS c_acctbal, n.n_name, c.c_mktsegment
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1998-10-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name, c.c_mktsegment
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
)
def tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10 returned-item reporting: who lost us the most revenue.

    ``c_acctbal + 0.0`` on the rendered group key (both engines) is
    the round-12 negative-zero normalization: Spark normalizes -0.0
    to +0.0 in every grouping key (SPARK-32110) while DuckDB's group
    representative is first-seen and can render -0.0 — the one
    grouped-double rendering divergence the ±0.0 corpus audit found.
    The addition is a no-op for every double except -0.0 → +0.0
    (tests/test_negative_zero_corpus.py)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= _ts("1998-10-01"))
        & (F.col("o_orderdate") < _ts("1999-01-01"))
    )
    li = load(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    n = load(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name", "c_mktsegment")
        .agg(dec_sum(revenue_col(), "revenue"))
        .select(
            "c_custkey",
            "c_name",
            "revenue",
            (F.col("c_acctbal") + F.lit(0.0)).alias("c_acctbal"),
            "n_name",
            "c_mktsegment",
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@query(
    "tpch_q13",
    oracle="""
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM (
      SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
      FROM customer c
      LEFT JOIN orders o ON c.c_custkey = o.o_custkey
                        AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    )
    GROUP BY c_count
    """,
)
def tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13 customer order-count distribution, adapted: the original
    excludes comment-LIKE orders; this excludes urgent ones. Left join
    keeps zero-order customers (count(o_orderkey) ignores the nulls)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


@query(
    "tpch_q14",
    oracle=f"""
    SELECT (100.0 * CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                     THEN CAST({REVENUE} AS DECIMAL(24,6))
                     ELSE CAST(0 AS DECIMAL(24,6)) END) AS DOUBLE)
            / CAST(SUM(CAST({REVENUE} AS DECIMAL(24,6))) AS DOUBLE))
           AS promo_revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1998-09-01 00:00:00'
      AND l.l_shipdate < TIMESTAMP '1998-10-01 00:00:00'
    """,
)
def tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14 promotion effect: conditional share over one month."""
    li = load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= _ts("1998-09-01"))
        & (F.col("l_shipdate") < _ts("1998-10-01"))
    )
    p = load(spark, sf_dir, "part")
    vol = revenue_col().cast("decimal(24,6)")
    zero = F.lit(0).cast("decimal(24,6)")
    return li.join(F.broadcast(p), li.l_partkey == p.p_partkey).agg(
        (
            F.lit(100.0)
            * F.sum(F.when(F.col("p_type") == "PROMO", vol).otherwise(zero)).cast(
                "double"
            )
            / F.sum(vol).cast("double")
        ).alias("promo_revenue")
    )


@query(
    "tpch_q15",
    oracle=f"""
    WITH revenue0 AS (
      SELECT l_suppkey AS supplier_no,
             {sql_dec_sum(REVENUE, 'total_revenue')}
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1998-07-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1998-10-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s JOIN revenue0 r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue0)
    """,
)
def tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15 top supplier: per-supplier quarterly revenue, keep the max.

    The max-filter is a window MAX over an unpartitioned frame — at
    scale the revenue0 relation is one row per supplier (tiny), so the
    single-partition window is safe; determinism comes from the exact
    decimal revenue (no double ties to resolve)."""
    li = load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= _ts("1998-07-01"))
        & (F.col("l_shipdate") < _ts("1998-10-01"))
    )
    s = load(spark, sf_dir, "supplier")
    revenue0 = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        dec_sum(revenue_col(), "total_revenue")
    )
    top = revenue0.withColumn(
        "max_rev", F.max("total_revenue").over(Window.partitionBy())
    ).where(F.col("total_revenue") == F.col("max_rev"))
    return top.join(F.broadcast(s), top.supplier_no == s.s_suppkey).select(
        "s_suppkey", "s_name", "total_revenue"
    )


@query(
    "tpch_q17",
    oracle="""
    SELECT CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(24,6)))
                AS DOUBLE) / 7.0 AS DOUBLE) AS avg_yearly
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#1'
      AND l.l_quantity < (
        SELECT 0.2 * (CAST(SUM(CAST(l2.l_quantity AS DECIMAL(24,6)))
                      AS DOUBLE) / COUNT(l2.l_quantity))
        FROM lineitem l2 WHERE l2.l_partkey = p.p_partkey)
    """,
)
def tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17 small-quantity-order revenue.

    The correlated scalar subquery (per-part average quantity)
    decorrelates to a pre-aggregated broadcast join — one pass over
    lineitem computes the per-part threshold, a second filtered pass
    joins against it. Exact decimal sum / count on both engines."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#1")
    per_part = li.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        (
            F.lit(0.2)
            * (
                F.sum(F.col("l_quantity").cast("decimal(24,6)")).cast("double")
                / F.count("l_quantity")
            )
        ).alias("qty_threshold")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(per_part, li.l_partkey == F.col("t_partkey"))
        .where(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(
            (
                F.sum(F.col("l_extendedprice").cast("decimal(24,6)")).cast("double")
                / F.lit(7.0)
            )
            .cast("double")
            .alias("avg_yearly")
        )
    )


@query(
    "tpch_q18",
    oracle="""
    SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate,
           o.o_totalprice, CAST(SUM(l.l_quantity) AS DOUBLE) AS sum_qty
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey HAVING SUM(l_quantity) > 150)
    GROUP BY c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate,
             o.o_totalprice
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    LIMIT 100
    """,
)
def tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18 large-volume customers (threshold re-fit to this corpus's
    ~4 lines/order). The IN-subquery is a semi join against a
    pre-aggregated keys-only relation — at 100 TB that relation is one
    long per qualifying order, broadcastable after the HAVING."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .where(F.col("q") > 150)
        .select(F.col("l_orderkey").alias("big_orderkey"))
    )
    return (
        o.join(
            F.broadcast(big), o.o_orderkey == F.col("big_orderkey"), "left_semi"
        )
        .join(c, o.o_custkey == c.c_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(100)
    )


@query(
    "tpch_q12",
    oracle="""
    SELECT l.l_linestatus AS shipclass,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_returnflag = 'R'
      AND l.l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
      AND l.l_shipdate < TIMESTAMP '1999-01-01 00:00:00'
    GROUP BY l.l_linestatus
    ORDER BY l.l_linestatus
    """,
)
def tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 shipping-mode priority split, adapted: ``l_linestatus``
    stands in for the missing ``l_shipmode`` and ``l_returnflag='R'``
    for the commit<receipt lateness test — same plan: fact⋈fact equi
    join, then conditional (CASE) counts in one aggregation pass.

    Both lineitem filters push to the scan; the join shuffles only
    surviving rows, and the CASE-sums are a single shared groupBy."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem").where(
        (F.col("l_returnflag") == "R")
        & (F.col("l_shipdate") >= _ts("1998-01-01"))
        & (F.col("l_shipdate") < _ts("1999-01-01"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy(F.col("l_linestatus").alias("shipclass"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("shipclass")
    )


@query(
    "tpch_q19",
    oracle=f"""
    SELECT {sql_dec_sum(REVENUE, 'revenue')}
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 35
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19 discounted revenue: the classic disjunctive (OR-of-ANDs)
    join predicate, minus the missing container/shipinstruct columns.

    The scale-critical move: the part-only disjunction
    (brand,size) is applied BEFORE the join so the broadcast side is
    pre-shrunk, and the lineitem-side quantity envelope
    (1 <= qty <= 30) pushes to the fact scan; the full OR-of-ANDs then
    runs as the residual join filter. Catalyst keeps all of it in
    whole-stage codegen — no UDF for the compound predicate."""
    p = load(spark, sf_dir, "part").where(
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 15))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 25))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 35))
    )
    li = load(spark, sf_dir, "lineitem").where(
        F.col("l_quantity").between(1, 30)
    )
    full = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 15)
         & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 25)
           & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 35)
           & F.col("l_quantity").between(20, 30))
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .where(full)
        .agg(dec_sum(revenue_col(), "revenue"))
    )


@query(
    "tpch_q21",
    oracle="""
    SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE o.o_orderstatus = 'F' AND l1.l_returnflag = 'R'
      AND n.n_name IN ('NATION_3', 'NATION_7')
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    LIMIT 100
    """,
)
def tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 suppliers-who-kept-orders-waiting, adapted: ``l_returnflag
    = 'R'`` is the lateness marker (no receipt/commit dates), keeping
    the double correlated-subquery shape — EXISTS(another supplier in
    the order) AND NOT EXISTS(another supplier also late).

    Plan: both correlations decorrelate to semi/anti joins on
    l_orderkey with a suppkey-inequality residual; the l2/l3 sides
    prune to (orderkey, suppkey) only, so the self-joins ship
    key-pairs, not payloads. supplier and nation broadcast."""
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation").where(
        F.col("n_name").isin("NATION_3", "NATION_7")
    )
    o = load(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    li = load(spark, sf_dir, "lineitem")
    l1 = li.where(F.col("l_returnflag") == "R").alias("l1")
    l2 = li.select("l_orderkey", "l_suppkey").alias("l2")
    l3 = (
        li.where(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_suppkey")
        .alias("l3")
    )
    return (
        l1.join(
            l2,
            (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
            & (F.col("l1.l_suppkey") != F.col("l2.l_suppkey")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l1.l_orderkey") == F.col("l3.l_orderkey"))
            & (F.col("l1.l_suppkey") != F.col("l3.l_suppkey")),
            "left_anti",
        )
        .join(o, F.col("l1.l_orderkey") == o.o_orderkey)
        .join(F.broadcast(s), F.col("l1.l_suppkey") == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(100)
    )


@query(
    "tpch_q22",
    oracle="""
    WITH eligible AS (
      SELECT c_custkey, c_nationkey, c_acctbal FROM customer
      WHERE c_nationkey IN (1, 3, 5, 7, 9, 11, 13)
    ),
    thr AS (
      SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(24,6))) AS DOUBLE)
               / COUNT(c_acctbal) AS avg_bal
      FROM eligible WHERE c_acctbal > 0.0
    )
    SELECT e.c_nationkey AS cntrycode,
           CAST(COUNT(*) AS BIGINT) AS numcust,
           CAST(SUM(CAST(e.c_acctbal AS DECIMAL(24,6))) AS DOUBLE)
             AS totacctbal
    FROM eligible e, thr
    WHERE e.c_acctbal > thr.avg_bal
      AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = e.c_custkey
          AND o.o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
    GROUP BY e.c_nationkey
    ORDER BY cntrycode
    """,
)
def tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22 global sales opportunity, adapted: ``c_nationkey`` stands in
    for the phone-prefix country code, and "never ordered" becomes "no
    order since 1999" (this corpus has no orderless customers).

    Plan: the scalar AVG subquery is a one-row aggregate broadcast via
    nested-loop join (no shuffle of customer); the NOT EXISTS is a
    left-anti join whose right side pre-filters on the pushed
    o_orderdate predicate and ships only o_custkey. The threshold
    average rides the exact-decimal sum so both engines compare
    against bit-identical doubles."""
    elig = load(spark, sf_dir, "customer").where(
        F.col("c_nationkey").isin(1, 3, 5, 7, 9, 11, 13)
    )
    thr = elig.where(F.col("c_acctbal") > 0.0).agg(
        (
            F.sum(F.col("c_acctbal").cast("decimal(24,6)")).cast("double")
            / F.count("c_acctbal")
        ).alias("avg_bal")
    )
    recent = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") >= _ts("1999-01-01"))
        .select("o_custkey")
    )
    return (
        elig.join(F.broadcast(thr))
        .where(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, elig.c_custkey == recent.o_custkey, "left_anti")
        .groupBy(F.col("c_nationkey").alias("cntrycode"))
        .agg(
            F.count("*").alias("numcust"),
            dec_sum("c_acctbal", "totacctbal"),
        )
        .orderBy("cntrycode")
    )


# ---------------------------------------------------------------------------
# Derived partsupp: the corpus has no partsupp table, but every remaining
# TPC-H shape (Q2/9/11/16/20) aggregates over one. Derive it
# deterministically from the observed (part, supplier) pairs in lineitem,
# with cost/availqty as pure integer-arithmetic functions of the keys —
# both engines build the identical relation, so the queries exercise the
# real plan shapes against a real oracle.

_PARTSUPP_SQL = """
  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
         CAST(1 + (l_partkey * 7 + l_suppkey * 13) % 1000 AS DOUBLE) / 10.0
           AS ps_supplycost,
         CAST(1 + (l_partkey * 31 + l_suppkey * 17) % 9999 AS BIGINT)
           AS ps_availqty
  FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
"""


# One derived-partsupp relation per (app, sf_dir), cached and shared
# by Q2/Q9/Q11/Q16/Q20. Round 15: the derivation is a full lineitem
# scan plus a (part, supplier) DISTINCT shuffle, and the five consumers
# each rebuilt it from scratch; memoizing the cached relation makes the
# scan+distinct a once-per-corpus cost, exactly how a production
# pipeline would materialize a derived dimension once rather than
# re-deriving it inside every consumer (A/B in OPTIMIZATION_r15.md).
_PARTSUPP = Memo()


def _partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    def _build() -> DataFrame:
        li = (
            load(spark, sf_dir, "lineitem")
            .select("l_partkey", "l_suppkey")
            .distinct()
        )
        return li.select(
            F.col("l_partkey").alias("ps_partkey"),
            F.col("l_suppkey").alias("ps_suppkey"),
            (
                (1 + (F.col("l_partkey") * 7 + F.col("l_suppkey") * 13) % 1000)
                .cast("double")
                / 10.0
            ).alias("ps_supplycost"),
            (1 + (F.col("l_partkey") * 31 + F.col("l_suppkey") * 17) % 9999)
            .cast("bigint")
            .alias("ps_availqty"),
        ).cache()

    return _PARTSUPP.get(spark, sf_dir, build=_build)


@query(
    "tpch_q2",
    oracle=f"""
    WITH partsupp AS ({_PARTSUPP_SQL}),
    regional AS (
      SELECT s.s_acctbal, s.s_name, n.n_name, p.p_partkey, p.p_type,
             ps.ps_supplycost,
             MIN(ps.ps_supplycost) OVER (PARTITION BY p.p_partkey)
               AS min_cost
      FROM part p
      JOIN partsupp ps ON p.p_partkey = ps.ps_partkey
      JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      WHERE r.r_name = 'ASIA' AND p.p_size < 15 AND p.p_type = 'PROMO'
    )
    SELECT s_acctbal, s_name, n_name, p_partkey, p_type, ps_supplycost
    FROM regional WHERE ps_supplycost = min_cost
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 100
    """,
)
def tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 minimum-cost supplier: the correlated MIN subquery
    decorrelates to a per-part window minimum over the already-joined
    regional relation — one extra window on the join output instead
    of a second scan of partsupp. supplier/nation/region broadcast;
    the only key shuffle is partsupp⋈part, then the window
    repartitions by p_partkey."""
    ps = _partsupp(spark, sf_dir)
    p = load(spark, sf_dir, "part").where(
        (F.col("p_size") < 15) & (F.col("p_type") == "PROMO")
    )
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    joined = (
        ps.join(F.broadcast(p), ps.ps_partkey == p.p_partkey)
        .join(F.broadcast(s), ps.ps_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    w = Window.partitionBy("p_partkey")
    return (
        joined.withColumn("min_cost", F.min("ps_supplycost").over(w))
        .where(F.col("ps_supplycost") == F.col("min_cost"))
        .select(
            "s_acctbal", "s_name", "n_name", "p_partkey", "p_type",
            "ps_supplycost",
        )
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


@query(
    "tpch_q9",
    oracle=f"""
    WITH partsupp AS ({_PARTSUPP_SQL})
    SELECT n.n_name AS nation,
           CAST(EXTRACT(year FROM o.o_orderdate) AS INT) AS o_year,
           {sql_dec_sum(
               "l.l_extendedprice * (1 - l.l_discount)"
               " - ps.ps_supplycost * l.l_quantity",
               "sum_profit",
           )}
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN partsupp ps ON ps.ps_partkey = l.l_partkey
                    AND ps.ps_suppkey = l.l_suppkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE p.p_name LIKE '%widget%'
    GROUP BY n.n_name, CAST(EXTRACT(year FROM o.o_orderdate) AS INT)
    """,
)
def tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 product-type profit: the widest join in TPC-H — lineitem
    against part, supplier, partsupp, orders, nation. partsupp joins
    on the composite (partkey, suppkey); part (filtered) and supplier/
    nation broadcast, so the composite-key partsupp join and the
    orders join are the only shuffles. Profit amounts ride the exact
    decimal sum, order-insensitive at any parallelism."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").where(F.col("p_name").like("%widget%"))
    s = load(spark, sf_dir, "supplier")
    ps = _partsupp(spark, sf_dir)
    o = load(spark, sf_dir, "orders")
    n = load(spark, sf_dir, "nation")
    amount = revenue_col() - F.col("ps_supplycost") * F.col("l_quantity")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(
            ps,
            (li.l_partkey == ps.ps_partkey) & (li.l_suppkey == ps.ps_suppkey),
        )
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(dec_sum(amount, "sum_profit"))
    )


@query(
    "tpch_q11",
    oracle=f"""
    WITH partsupp AS ({_PARTSUPP_SQL}),
    natps AS (
      SELECT ps.ps_partkey,
             ps.ps_supplycost * ps.ps_availqty AS v
      FROM partsupp ps
      JOIN supplier s ON ps.ps_suppkey = s.s_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      WHERE n.n_name IN ('NATION_5', 'NATION_9')
    ),
    tot AS (
      SELECT CAST(SUM(CAST(v AS DECIMAL(24,6))) AS DOUBLE) AS t FROM natps
    )
    SELECT ps_partkey,
           CAST(SUM(CAST(v AS DECIMAL(24,6))) AS DOUBLE) AS value
    FROM natps, tot
    GROUP BY ps_partkey, tot.t
    HAVING CAST(SUM(CAST(v AS DECIMAL(24,6))) AS DOUBLE) > tot.t * 0.001
    ORDER BY value DESC, ps_partkey
    """,
)
def tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 important stock: per-part inventory value filtered against
    a fraction of the GLOBAL total — the scalar total is a one-row
    aggregate broadcast back over the per-part aggregate (no second
    scan of partsupp: Spark reuses the natps relation for both
    aggregations via the shared shuffle). Values sum in exact decimal
    and only the final threshold compare is double."""
    ps = _partsupp(spark, sf_dir)
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation").where(
        F.col("n_name").isin("NATION_5", "NATION_9")
    )
    natps = (
        ps.join(F.broadcast(s), ps.ps_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select(
            "ps_partkey",
            (F.col("ps_supplycost") * F.col("ps_availqty")).alias("v"),
        )
    )
    per_part = natps.groupBy("ps_partkey").agg(
        dec_sum("v", "value")
    )
    tot = natps.agg(
        dec_sum("v", "t")
    )
    return (
        per_part.join(F.broadcast(tot))
        .where(F.col("value") > F.col("t") * 0.001)
        .select("ps_partkey", "value")
        .orderBy(F.col("value").desc(), "ps_partkey")
    )


@query(
    "tpch_q16",
    oracle=f"""
    WITH partsupp AS ({_PARTSUPP_SQL})
    SELECT p.p_brand, p.p_type, p.p_size,
           CAST(COUNT(DISTINCT ps.ps_suppkey) AS BIGINT) AS supplier_cnt
    FROM partsupp ps JOIN part p ON p.p_partkey = ps.ps_partkey
    WHERE p.p_brand <> 'Brand#1'
      AND p.p_type NOT LIKE 'ECO%'
      AND p.p_size IN (5, 10, 15, 20, 25, 30, 35, 40)
      AND ps.ps_suppkey NOT IN
            (SELECT s_suppkey FROM supplier WHERE s_acctbal < 500)
    GROUP BY p.p_brand, p.p_type, p.p_size
    ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
    """,
)
def tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 supplier diversity per part class, with a NOT-IN supplier
    blacklist (low-balance suppliers stand in for the original
    complaints filter). NOT IN over a non-null key compiles to a
    broadcast anti join; the distinct supplier count is the standard
    two-phase expand+agg. All part filters push to the scan."""
    ps = _partsupp(spark, sf_dir)
    p = load(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#1")
        & ~F.col("p_type").like("ECO%")
        & F.col("p_size").isin(5, 10, 15, 20, 25, 30, 35, 40)
    )
    bad = (
        load(spark, sf_dir, "supplier")
        .where(F.col("s_acctbal") < 500)
        .select("s_suppkey")
    )
    return (
        ps.join(F.broadcast(bad), ps.ps_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(p), ps.ps_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("ps_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


@query(
    "tpch_q20",
    oracle=f"""
    WITH partsupp AS ({_PARTSUPP_SQL}),
    shipped AS (
      SELECT l_partkey, l_suppkey,
             0.5 * SUM(l_quantity) AS half_qty
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1999-01-01 00:00:00'
      GROUP BY l_partkey, l_suppkey
    ),
    excess AS (
      SELECT DISTINCT ps.ps_suppkey
      FROM partsupp ps
      JOIN shipped sh ON sh.l_partkey = ps.ps_partkey
                     AND sh.l_suppkey = ps.ps_suppkey
      JOIN part p ON p.p_partkey = ps.ps_partkey
      WHERE p.p_name LIKE 'small%'
        AND ps.ps_availqty > sh.half_qty
    )
    SELECT s.s_name, s.s_acctbal
    FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE n.n_name IN ('NATION_2', 'NATION_11')
      AND s.s_suppkey IN (SELECT ps_suppkey FROM excess)
    ORDER BY s.s_name
    """,
)
def tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 excess-stock suppliers: the doubly-nested IN chain
    decorrelates to (a) a pre-aggregated per-(part,supplier) shipped
    quantity, (b) an equi-join of partsupp against it with the
    availqty threshold as residual, (c) a semi join of supplier
    against the distinct qualifying supplier set. Quantities are
    integer-valued doubles, so 0.5·sum is exact and the threshold
    compare is reproducible."""
    li = load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= _ts("1998-01-01"))
        & (F.col("l_shipdate") < _ts("1999-01-01"))
    )
    shipped = li.groupBy("l_partkey", "l_suppkey").agg(
        (0.5 * F.sum("l_quantity")).alias("half_qty")
    )
    ps = _partsupp(spark, sf_dir)
    p = load(spark, sf_dir, "part").where(F.col("p_name").like("small%"))
    excess = (
        ps.join(
            shipped,
            (ps.ps_partkey == shipped.l_partkey)
            & (ps.ps_suppkey == shipped.l_suppkey),
        )
        .join(F.broadcast(p), ps.ps_partkey == p.p_partkey)
        .where(F.col("ps_availqty") > F.col("half_qty"))
        .select("ps_suppkey")
        .distinct()
    )
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation").where(
        F.col("n_name").isin("NATION_2", "NATION_11")
    )
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(excess), s.s_suppkey == excess.ps_suppkey, "left_semi")
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    )
