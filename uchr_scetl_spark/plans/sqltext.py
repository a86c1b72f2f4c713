"""Pure-SQL surface: the same engine through ``spark.sql`` text.

Everything else in the registry drives the DataFrame API; analysts
drive SQL strings. This module proves the textual surface end-to-end:
multi-CTE composition, window + join + agg in one statement — compiled
by the same Catalyst pipeline to the same physical plans (the
DataFrame and SQL paths share the optimizer, so every plan property
asserted in tests/test_plans.py holds here too).

Tables reach the text as ``spark.sql`` keyword arguments
(``spark.sql(text, orders=df)`` fills ``{orders}``): PySpark binds each
frame to a uuid-named view and drops it once the query is analyzed.
A fixed-name temp view would stay in the caller's session, and two
threads building the same key over different corpora would read each
other's view.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..io import load
from ..registry import query

_SQL = """
WITH cust_totals AS (
  SELECT o.o_custkey,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(CAST(o.o_totalprice AS DECIMAL(24,6))) AS DOUBLE)
           AS total_spend
  FROM {orders} o
  WHERE o.o_orderstatus <> 'P'
  GROUP BY o.o_custkey
),
seg AS (
  SELECT c.c_custkey, c.c_mktsegment, c.c_acctbal
  FROM {customer} c
)
SELECT s.c_mktsegment,
       t.o_custkey,
       t.n_orders,
       t.total_spend,
       CAST(s.c_acctbal AS DOUBLE) AS acctbal
FROM cust_totals t
JOIN seg s ON t.o_custkey = s.c_custkey
ORDER BY t.total_spend DESC, t.o_custkey
LIMIT 50
"""


@query(
    "sql_cte_pipeline",
    oracle=_SQL.format(orders="orders", customer="customer"),
)
def sql_cte_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-CTE SQL text executed verbatim via ``spark.sql`` over
    DataFrames bound as keyword arguments — the identical string
    (modulo table names) is the oracle, so this key checks dialect
    parity, not just results.

    Scale notes: the ORDER BY+LIMIT tail compiles to
    TakeOrderedAndProject (bounded per-partition heaps), NOT a global
    sort — the SQL text and the DataFrame topk_global produce the
    same physical operator; the CTE boundary is no optimization
    fence in Spark (CTEs inline), so the status filter still pushes
    into the orders scan."""
    return spark.sql(
        _SQL,
        orders=load(spark, sf_dir, "orders"),
        customer=load(spark, sf_dir, "customer"),
    )


@query(
    "pipeline_declarative",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(24,6))) AS DOUBLE)
             AS total
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
      AND o_totalprice > 50000
    GROUP BY o_orderstatus, o_orderpriority
    """,
)
def pipeline_declarative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's declarative Pipeline API driven end-to-end as a
    registry key: Source → Transform (lambda filter) → SqlTransform
    (aggregation) composed into ONE lazy Catalyst plan — the step-3
    price filter and the SQL step's column needs reach the step-1
    parquet scan (asserted in tests/test_pipeline.py). This key runs
    ``Pipeline.plan`` (the composed DataFrame) so the driver's oracle
    check covers the composition layer itself, not just raw
    DataFrame calls."""
    from pyspark.sql import functions as F

    from ..pipeline import Pipeline, Sink, Source, SqlTransform, Transform

    p = Pipeline(
        source=Source("parquet", f"{sf_dir}/orders.parquet", schema="orders"),
        steps=[
            Transform(
                "recent",
                lambda df: df.where(
                    (df.o_orderdate >= F.lit("1998-01-01").cast("timestamp_ntz"))
                    & (df.o_totalprice > 50000)
                ),
            ),
            SqlTransform(
                "rollup",
                """
                SELECT o_orderstatus, o_orderpriority,
                       CAST(COUNT(*) AS BIGINT) AS n,
                       CAST(SUM(CAST(o_totalprice AS DECIMAL(24,6)))
                            AS DOUBLE) AS total
                FROM {df} GROUP BY o_orderstatus, o_orderpriority
                """,
            ),
        ],
        sink=Sink("noop", ""),
    )
    return p.plan(spark)


_RECURSIVE_SQL = """
WITH RECURSIVE ancestors(part_id, ancestor_id, depth) AS (
  SELECT p.p_partkey, p.p_partkey - 40, 1
  FROM {part} p WHERE p.p_partkey - 40 >= 1
  UNION ALL
  SELECT a.part_id, a.ancestor_id - 40, a.depth + 1
  FROM ancestors a
  WHERE a.ancestor_id - 40 >= 1 AND a.depth < 8
)
SELECT part_id,
       CAST(COUNT(*) AS BIGINT) AS n_ancestors,
       CAST(MIN(ancestor_id) AS BIGINT) AS root_id,
       CAST(MAX(depth) AS BIGINT) AS max_depth
FROM ancestors
GROUP BY part_id
"""


@query(
    "sql_recursive_cte",
    oracle=_RECURSIVE_SQL.format(part="part"),
)
def sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE through ``spark.sql`` — the Spark 4 recursive-
    CTE surface driven end-to-end (hierarchy walks, BOM rollups,
    transitive closures — the query class that previously forced a
    driver-side loop like graph_pagerank's). The demo hierarchy is a
    synthetic parts chain (parent = part_id − 40; the step is sized so the recursion is non-vacuous even at the 200-part smoke corpus): deterministic,
    cycle-free, and bounded — each part has ≤ depth-8 ancestors, so
    the recursion's working set is O(|part|) rows per step, never
    multiplicative.

    The IDENTICAL SQL text (modulo view name) is the oracle — the key
    checks recursive-CTE dialect parity between the engines, the same
    contract as sql_cte_pipeline.

    Scale notes: each recursive step is one self-append over the
    previous frontier (Spark executes it as an iterative union with
    the step plan re-optimized per iteration — the depth bound in the
    WHERE clause is what caps the loop); the final aggregation is a
    plain partial+final count on part_id. Unbounded recursion over a
    multiplicative join would NOT scale — the bounded-frontier shape
    here is the one to copy."""
    return spark.sql(_RECURSIVE_SQL, part=load(spark, sf_dir, "part"))


# Spark 4.1 SQL pipe syntax (SPARK-49555): each |> stage is one
# relational operator applied to the previous result, in reading
# order. DuckDB has no pipe operator, so the oracle is the equivalent
# UNPIPED text — the key checks that the piped plan computes exactly
# the classic-SQL semantics (WHERE → EXTEND → AGGREGATE..GROUP BY →
# post-aggregate WHERE (the HAVING position) → ORDER BY → LIMIT).
_PIPE_SQL = """
FROM {orders}
|> WHERE o_orderstatus <> 'P'
|> EXTEND CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents
|> AGGREGATE CAST(COUNT(*) AS BIGINT) AS n_orders,
             CAST(SUM(price_cents) AS BIGINT) AS cents
   GROUP BY o_orderpriority
|> WHERE n_orders > 1
|> ORDER BY o_orderpriority NULLS FIRST
|> LIMIT 3
"""

_PIPE_ORACLE = """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
            AS BIGINT) AS cents
FROM orders
WHERE o_orderstatus <> 'P'
GROUP BY o_orderpriority
HAVING COUNT(*) > 1
ORDER BY o_orderpriority NULLS FIRST
LIMIT 3
"""


@query("sql_pipe_syntax", oracle=_PIPE_ORACLE)
def sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax through ``spark.sql`` — Spark 4.1's linear
    query form (availability probed live in this image: 4.1.2 parses
    and runs `FROM t |> WHERE … |> AGGREGATE …`). The oracle is the
    same query in classic SQL, so the key pins the semantic identity
    piped-stage-chain == WHERE/GROUP BY/HAVING/ORDER BY/LIMIT — the
    contract an analyst migrating queries between the two forms
    relies on.

    Scale notes: pipes are pure surface syntax — Catalyst lowers each
    stage onto the same logical operators as the classic form, so the
    plan is one partial+final aggregate over the filtered scan with
    the status predicate pushed down; the money sum rides exact
    integer cents (the floor+0.5 quantization every decimal sum in
    the repo uses)."""
    return spark.sql(_PIPE_SQL, orders=load(spark, sf_dir, "orders"))


_GBA_SQL = """
SELECT o_orderpriority,
       o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
            AS BIGINT) AS cents
FROM {orders}
WHERE o_orderstatus <> 'P'
GROUP BY ALL
"""


@query(
    "sql_group_by_all",
    oracle="""
    SELECT o_orderpriority,
           o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS cents
    FROM orders
    WHERE o_orderstatus <> 'P'
    GROUP BY o_orderpriority, o_orderstatus
    """,
)
def sql_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``GROUP BY ALL`` — the analyst shorthand that groups by every
    non-aggregate select item (Spark 3.4+/4.x; DuckDB pioneered it).
    The oracle is the EXPLICIT grouping list, so the key pins the
    semantic mapping "ALL == every non-aggregate output column" —
    the contract that makes the shorthand safe to migrate.

    Plan-wise the keyword resolves at analysis time: the same
    partial+final hash aggregate over the pushed-down filtered scan
    as the explicit form, zero physical difference."""
    return spark.sql(_GBA_SQL, orders=load(spark, sf_dir, "orders"))


# the named-parameter surface: the SAME text runs with :markers bound
# via spark.sql(args=...) — the injection-safe path for user-supplied
# constants (quoting/escaping is the engine's job, not string paste)
_PARAM_SQL = """
SELECT o_orderkey,
       o_custkey,
       o_orderstatus,
       CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
FROM {orders}
WHERE o_totalprice > :min_price AND o_orderstatus = :status
"""

_PARAM_MIN_PRICE = 250000.0
_PARAM_STATUS = "F"


@query(
    "sql_parameterized",
    oracle=f"""
    SELECT o_orderkey,
           o_custkey,
           o_orderstatus,
           CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
    FROM orders
    WHERE o_totalprice > {_PARAM_MIN_PRICE} AND o_orderstatus = '{_PARAM_STATUS}'
    """,
)
def sql_parameterized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named-parameter SQL (Spark 3.4+/4.x ``spark.sql(text,
    args={{...}})``): the ``:marker`` placeholders bind typed Python
    values engine-side — the injection-safe alternative to string
    interpolation every ad-hoc pipeline needs. The oracle inlines the
    same constants, pinning bind == inline semantics (a double bound
    via args must filter exactly like the literal).

    Parameters resolve before optimization, so the bound predicate
    pushes into the parquet scan like any literal (plan-asserted) —
    parameterization costs nothing at any scale."""
    return spark.sql(
        _PARAM_SQL,
        args={"min_price": _PARAM_MIN_PRICE, "status": _PARAM_STATUS},
        orders=load(spark, sf_dir, "orders"),
    )
