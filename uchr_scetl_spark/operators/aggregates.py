"""§2.4 aggregations.

All groupBy aggregations rely on Spark's automatic partial+final hash
aggregation (map-side combine), so the shuffle carries one row per
(partition, group), not per input row — the property that keeps these
plans viable at 100 TB. Double sums go through the DECIMAL detour
(exprs.py) for engine-exact results.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..exprs import (dec_avg, dec_sum, literal_rows_df, sql_dec_avg,
                      sql_dec_sum)
from ..io import load
from ..registry import query
from ..session import stable_checkpoint_lazy

_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@query(
    "agg_groupby",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty,
           {sql_dec_sum('l_extendedprice', 'sum_base_price')},
           {sql_dec_sum('l_extendedprice * (1 - l_discount)', 'sum_disc_price')},
           {sql_dec_sum('(l_extendedprice * (1 - l_discount)) * (1 + l_tax)', 'sum_charge')},
           AVG(l_quantity) AS avg_qty,
           {sql_dec_avg('l_extendedprice', 'avg_price')},
           {sql_dec_avg('l_discount', 'avg_disc')},
           CAST(COUNT(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: the engine's headline scan→filter→agg pipeline."""
    li = load(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz")
    )
    rev = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    charge = rev * (F.lit(1) + F.col("l_tax"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").alias("sum_qty"),
        dec_sum("l_extendedprice", "sum_base_price"),
        dec_sum(rev, "sum_disc_price"),
        dec_sum(charge, "sum_charge"),
        F.avg("l_quantity").alias("avg_qty"),
        dec_avg("l_extendedprice", "avg_price"),
        dec_avg("l_discount", "avg_disc"),
        F.count("*").alias("count_order"),
    )


@query(
    "agg_distinct",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_supps,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-column COUNT DISTINCT per group — each distinct aggregate
    expands to its own partial de-dup before the final merge, so no task
    ever holds a full distinct set."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.count("*").alias("n_lines"),
    )


@query(
    "agg_approx_distinct",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts_exact,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           TRUE AS approx_within_5pct
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ approximate distinct count. At 100 TB this replaces exact
    COUNT DISTINCT: the sketch merges associatively so the shuffle
    carries fixed-size state per group, not one row per distinct key.

    The estimate is engine-specific, so the CHECKED output is the
    sketch's error invariant: at rsd=0.02 the estimate must land
    within 5% (≥2.5 sigma) of the exact count. The oracle emits the
    exact count and a literal TRUE — an out-of-bound estimate
    hash-mismatches instead of silently passing a rows-only check."""
    li = load(spark, sf_dir, "lineitem")
    # The sketch and the exact count run as SEPARATE aggregates joined
    # on the (3-row) group key: mixing a distinct aggregate with
    # non-distinct ones in one agg forces an Expand (3× row
    # multiplication before the shuffle) — measured 2.35 s fused vs
    # 1.3 s split at sf0.1. Two scans of a columnar source are cheaper
    # than one tripled shuffle, and at 100 TB the sketch path would run
    # WITHOUT the exact twin anyway (it exists here for the oracle).
    approx = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx_parts"),
    )
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts_exact"),
        F.count("*").alias("n_lines"),
    )
    # null-SAFE join key: grouping keys can legitimately be NULL (a
    # NULL l_returnflag forms its own group in both aggregates), and a
    # plain equi-join would silently drop that group from the output
    return exact.alias("e").join(
        approx.alias("a"),
        F.col("e.l_returnflag").eqNullSafe(F.col("a.l_returnflag")),
    ).select(
        F.col("e.l_returnflag").alias("l_returnflag"),
        "n_parts_exact",
        "n_lines",
        (
            F.abs(F.col("approx_parts") - F.col("n_parts_exact"))
            <= 0.05 * F.col("n_parts_exact")
        ).alias("approx_within_5pct"),
    )


@query(
    "agg_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (flag, status, grand) in one pass — Spark
    expands grouping sets map-side, so the shuffle still carries one
    partial row per (set, group)."""
    li = load(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"), F.sum("l_quantity").alias("sum_qty")
    )


@query(
    "agg_cube",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           {sql_dec_sum('o_totalprice', 'total')}
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over status x priority — all four grouping sets from a single
    scan via map-side expansion."""
    o = load(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n"), dec_sum("o_totalprice", "total")
    )


@query(
    "agg_grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus, CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit grouping sets via the SQL entry point (§3.3)."""
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n
        FROM {lineitem}
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """,
        lineitem=load(spark, sf_dir, "lineitem"),
    )


@query(
    "agg_having",
    oracle=f"""
    SELECT o_custkey,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {sql_dec_sum('o_totalprice', 'total_spent')}
    FROM orders
    GROUP BY o_custkey
    HAVING COUNT(*) >= 8
    """,
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation filter (HAVING) — the predicate runs on the
    aggregated relation, never on raw rows."""
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.count("*").alias("n_orders"),
            dec_sum("o_totalprice", "total_spent"),
        )
        .where(F.col("n_orders") >= 8)
    )


@query(
    "agg_percentile",
    oracle="""
    SELECT l_returnflag,
           CAST(PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY l_quantity)
                AS DOUBLE) AS median_qty,
           CAST(PERCENTILE_CONT(0.25) WITHIN GROUP (ORDER BY l_quantity)
                AS DOUBLE) AS q1_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact (sort-based) percentiles; at scale prefer approx_percentile
    — see agg_approx_distinct for the sketch-based pattern."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.percentile("l_quantity", 0.5).alias("median_qty"),
        F.percentile("l_quantity", 0.25).alias("q1_qty"),
    )


@query(
    "agg_pivot",
    oracle="""
    SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS day,
           CAST(SUM(CASE WHEN event_type = 'click'
                THEN CAST(value AS DECIMAL(18,4)) END) AS DOUBLE) AS click,
           CAST(SUM(CASE WHEN event_type = 'error'
                THEN CAST(value AS DECIMAL(18,4)) END) AS DOUBLE) AS error,
           CAST(SUM(CASE WHEN event_type = 'purchase'
                THEN CAST(value AS DECIMAL(18,4)) END) AS DOUBLE) AS purchase,
           CAST(SUM(CASE WHEN event_type = 'signup'
                THEN CAST(value AS DECIMAL(18,4)) END) AS DOUBLE) AS signup,
           CAST(SUM(CASE WHEN event_type = 'view'
                THEN CAST(value AS DECIMAL(18,4)) END) AS DOUBLE) AS view
    FROM events GROUP BY 1
    """,
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with an explicit category list — never let Spark run the
    extra distinct-collection job to discover pivot values."""
    e = load(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts")).cast("timestamp_ntz").alias("day")
    pivoted = (
        e.select(day, "event_type", F.col("value").cast("decimal(18,4)").alias("v"))
        .groupBy("day")
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.sum("v"))
    )
    return pivoted.select(
        "day", *[F.col(t).cast("double").alias(t) for t in _EVENT_TYPES]
    )


@query(
    "agg_skew_salted",
    oracle=f"""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           {sql_dec_sum('value', 'total_value')}
    FROM events GROUP BY event_type
    """,
)
def agg_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage salted aggregation — the explicit skew pattern.

    ``event_type`` has ~5 values, so a naive groupBy parks all rows on
    5 reducers no matter how many executors exist. Stage 1 groups on
    (key, salt) — 16× the reducers, each a partial (count, decimal
    sum); stage 2 merges the 16 partials per key. Salt derives from
    xxhash64(event_id), not rand(): deterministic under retries. The
    sums stay DECIMAL through both stages (exact, order-insensitive),
    so the result is bit-identical to the single-stage oracle."""
    e = load(spark, sf_dir, "events")
    partial = (
        e.withColumn("salt", F.pmod(F.xxhash64("event_id"), F.lit(16)))
        .groupBy("event_type", "salt")
        .agg(
            F.count("*").alias("pn"),
            F.sum(F.col("value").cast("decimal(24,6)")).alias("psum"),
        )
    )
    return partial.groupBy("event_type").agg(
        F.sum("pn").alias("n"),
        F.sum("psum").cast("double").alias("total_value"),
    )


_TOPK_K = 25
_TOPK_SALTS = 16


@query(
    "agg_topk_per_group_salted",
    oracle=f"""
    WITH ranked AS (
      SELECT event_type, event_id, value,
             row_number() OVER (
               PARTITION BY event_type
               ORDER BY value DESC, event_id
             ) AS rn
      FROM events WHERE value IS NOT NULL
    )
    SELECT event_type, event_id, value, CAST(rn AS BIGINT) AS rn
    FROM ranked WHERE rn <= {_TOPK_K}
    """,
)
def agg_topk_per_group_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-{_TOPK_K} per group via the salted TWO-PASS — the
    skew-safe sibling of win_topk_per_group (which is the naive
    single-window form this one's oracle uses, so the hash match
    proves algorithm equivalence, exactly like sample_source_cap).

    Why it exists: event_type has ~5 values, so the naive form parks
    every row of a hot group on ONE task — the per-group top-k is the
    single most common window query to melt on skewed production
    data. Pass 1 ranks within (group, xxhash64-salt mod
    {_TOPK_SALTS}) and keeps ≤{_TOPK_K} per salt — the hot group
    spreads over {_TOPK_SALTS} tasks and each task's window state is
    a bounded top-{_TOPK_K} heap; pass 2 re-ranks the
    ≤{_TOPK_K}·{_TOPK_SALTS} survivors per group, a relation bounded
    by |groups|·k·salts regardless of input size. Exact because the
    ordering key (value DESC, event_id) is a pure row function:
    every global top-{_TOPK_K} member is necessarily in its own
    salt's top-{_TOPK_K}. Deterministic under ties (event_id
    tiebreak) and retries (hash salt, not rand()); exercised under a
    genuinely hot group by tests/test_skewed_corpus.py."""
    e = load(spark, sf_dir, "events").where(F.col("value").isNotNull())
    salted = e.select("event_type", "event_id", "value").withColumn(
        "salt", F.pmod(F.xxhash64("event_id"), F.lit(_TOPK_SALTS))
    )
    w1 = Window.partitionBy("event_type", "salt").orderBy(
        F.desc("value"), "event_id"
    )
    w2 = Window.partitionBy("event_type").orderBy(F.desc("value"), "event_id")
    survivors = salted.withColumn("rn1", F.row_number().over(w1)).where(
        F.col("rn1") <= _TOPK_K
    )
    return (
        survivors.withColumn("rn", F.row_number().over(w2))
        .where(F.col("rn") <= _TOPK_K)
        .select(
            "event_type",
            "event_id",
            "value",
            F.col("rn").cast("bigint").alias("rn"),
        )
    )


@query(
    "agg_corr_stats",
    oracle="""
    WITH d AS (
      SELECT l_returnflag,
             CAST(l_quantity AS DECIMAL(20,1)) AS dx,
             CAST(l_discount AS DECIMAL(20,2)) AS dy
      FROM lineitem
    ), s AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(dx) AS DOUBLE) AS sx,
             CAST(SUM(dy) AS DOUBLE) AS sy,
             CAST(SUM(dx * dy) AS DOUBLE) AS sxy,
             CAST(SUM(dx * dx) AS DOUBLE) AS sxx,
             CAST(SUM(dy * dy) AS DOUBLE) AS syy
      FROM d GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           ((n * sxy) - (sx * sy))
             / (sqrt((n * sxx) - (sx * sx)) * sqrt((n * syy) - (sy * sy)))
             AS corr_qty_disc,
           sqrt(((n * sxx) - (sx * sx)) / (n * (n - 1))) AS stddev_qty,
           ((sxy - ((sx * sy) / n)) / (n - 1)) AS covar_qty_disc
    FROM s
    """,
)
def agg_corr_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates — but NOT via the built-in corr/stddev:
    those accumulate doubles in engine-specific order, so their last
    ulps differ between engines (and between partitionings of the same
    data). Instead: one pass of exact DECIMAL moment sums (associative,
    order-free — the shuffle-safe form), then the closed-form double
    arithmetic written with identical parenthesization on both sides.
    Two constraints make the moments bit-identical across engines:
    (1) cast to decimal BEFORE multiplying — a double product cast to
    decimal lands at the precision edge where the engines' rounding
    styles disagree by an ulp; decimal×decimal is exact in both;
    (2) every moment's scaled mantissa (value·10^scale) must stay
    below 2^53 — beyond that, engines that cast decimal→double via
    int→double-then-divide double-round while BigDecimal.doubleValue
    rounds once (measured: sum(qty·price) at scale 8 differed in the
    last ulp). qty (scale 1) × discount (scale 2) keeps every moment
    orders of magnitude inside the bound at any realistic row count.
    Deterministic at any parallelism — what a 100 TB job needs for
    reproducible metrics."""
    li = load(spark, sf_dir, "lineitem")
    dx = F.col("l_quantity").cast("decimal(16,1)")
    dy = F.col("l_discount").cast("decimal(16,2)")
    s = li.select("l_returnflag", dx.alias("dx"), dy.alias("dy")).groupBy(
        "l_returnflag"
    ).agg(
        F.count("*").cast("double").alias("n"),
        F.sum("dx").cast("double").alias("sx"),
        F.sum("dy").cast("double").alias("sy"),
        F.sum(F.col("dx") * F.col("dy")).cast("double").alias("sxy"),
        F.sum(F.col("dx") * F.col("dx")).cast("double").alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).cast("double").alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    return s.select(
        "l_returnflag",
        (
            ((n * sxy) - (sx * sy))
            / (F.sqrt((n * sxx) - (sx * sx)) * F.sqrt((n * syy) - (sy * sy)))
        ).alias("corr_qty_disc"),
        F.sqrt(((n * sxx) - (sx * sx)) / (n * (n - F.lit(1.0)))).alias("stddev_qty"),
        ((sxy - ((sx * sy) / n)) / (n - F.lit(1.0))).alias("covar_qty_disc"),
    )


@query(
    "agg_collect_sorted",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           array_to_string(list_sort(array_agg(DISTINCT source)), ',') AS sources
    FROM documents GROUP BY lang
    """,
)
def agg_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array aggregation: the collected set is sorted so the result is
    deterministic (collect order is partitioning-dependent in every
    engine — never emit an unsorted collected array from a checked
    query), then flattened to a CSV string — checked results carry
    scalar columns only, because downstream order-insensitive hashers
    (the driver's included) cannot hash array cells."""
    d = load(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.array_join(F.array_sort(F.collect_set("source")), ",").alias("sources"),
    )


@query(
    "agg_hll_sketch_merge",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts_exact,
           TRUE AS merge_within_5pct
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_hll_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch pattern: per-group HLL sketches built once,
    then UNIONED to coarser groups without touching the raw data —
    the 100 TB shape for distinct-count rollups (daily sketches merge
    into monthly; no re-scan).

    Datasketches binary images are engine-specific, so the CHECKED
    output is the sketch's accuracy invariant, not its bytes: the
    merged estimate must land within 5% of the exact distinct count
    (HLL lgConfigK=12 → ~1.6% rsd; 5% is ≥3 sigma). The oracle emits
    the exact count and a literal TRUE — a violated bound therefore
    hash-mismatches. The sketch build/merge/estimate pipeline is the
    real distributed plan under test."""
    li = load(spark, sf_dir, "lineitem")
    per_flag = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.hll_sketch_agg("l_partkey").alias("sk")
    )
    merged = (
        per_flag.groupBy("l_returnflag")
        .agg(F.hll_union_agg("sk").alias("sk"))
        .select(
            "l_returnflag",
            F.hll_sketch_estimate("sk").alias("approx_parts"),
        )
    )
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts_exact")
    )
    # null-safe key join: a NULL group must survive (see
    # agg_approx_distinct)
    return merged.alias("m").join(
        exact.alias("e"),
        F.col("m.l_returnflag").eqNullSafe(F.col("e.l_returnflag")),
    ).select(
        F.col("m.l_returnflag").alias("l_returnflag"),
        "n_parts_exact",
        (
            F.abs(F.col("approx_parts") - F.col("n_parts_exact"))
            <= 0.05 * F.col("n_parts_exact")
        ).alias("merge_within_5pct"),
    )


def _exact_price_quantiles(li: DataFrame, all_q: list) -> DataFrame:
    """(l_returnflag, ex array<double>) exact quantiles of
    l_extendedprice at the given ranks: numpy sort per group behind
    ``applyInPandas``, interpolating PERCENTILE_CONT as
    ``lo·(hi−pos) + hi·(pos−lo)`` — that exact form is verified
    BIT-EXACT against DuckDB at sf0.01/sf0.1 (the algebraically equal
    ``lo + (hi−lo)·frac`` is NOT; last-ulp disagreement). Shared by
    every sketch key that oracle-checks against exact quantiles.

    SCALE HONESTY: this is CHECK SCAFFOLDING, not a product path —
    each task holds one whole group's values (1/|groups| of the table
    with a 3-value key), which is fine at bench scale but NOT 100 TB
    safe. The sketch columns of the keys that call this are the scale
    path; the scale-safe EXACT path is the two-pass distributed
    selection in ``agg_percentile_exact_distributed`` below (range-
    partitioned sort + chunk-offset rank pick, bounded memory per
    task), kept out of these keys only because the sketch-vs-exact
    envelope check needs 9 interpolated ranks and the pandas side
    measures 3x faster at the small group counts the oracle corpus
    has."""
    import math

    import numpy as np
    import pandas as pd

    def exact_quantiles(pdf: "pd.DataFrame") -> "pd.DataFrame":
        v = pdf["l_extendedprice"].to_numpy(dtype=float)
        v = np.sort(v[~np.isnan(v)])
        n = len(v)
        res = []
        for q in all_q:
            pos = q * (n - 1)
            lo, hi = math.floor(pos), math.ceil(pos)
            if lo == hi:
                res.append(float(v[lo]))
            else:
                res.append(float(v[lo]) * (hi - pos) + float(v[hi]) * (pos - lo))
        return pd.DataFrame(
            {"l_returnflag": [pdf["l_returnflag"].iloc[0]], "ex": [res]}
        )

    return (
        li.select("l_returnflag", "l_extendedprice")
        .groupBy("l_returnflag")
        .applyInPandas(exact_quantiles, "l_returnflag string, ex array<double>")
    )


@query(
    "agg_approx_percentile",
    oracle="""
    SELECT l_returnflag,
           CAST(PERCENTILE_CONT(0.25) WITHIN GROUP (ORDER BY l_extendedprice)
                AS DOUBLE) AS p25,
           CAST(PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY l_extendedprice)
                AS DOUBLE) AS p50,
           CAST(PERCENTILE_CONT(0.75) WITHIN GROUP (ORDER BY l_extendedprice)
                AS DOUBLE) AS p75,
           TRUE AS approx_in_rank_bounds
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentiles (single-pass GK quantile sketch) — the
    scale path where agg_percentile's exact form needs a full sort of
    each group.

    Sketch internals are engine-specific, so the CHECKED output is the
    sketch's rank-error guarantee, not its raw values: each
    approximate quartile must land between the exact quantiles at rank
    ±0.005 (at accuracy 2000 the sketch guarantees ±0.0005, so the
    window is 10× the bound — a real invariant with slack for
    interpolation edges). Exact quartiles are emitted alongside: they
    check against the oracle's PERCENTILE_CONT bit-for-bit, and the
    oracle REQUIREMENT is what pins the exact aggregate here — the
    sketch alone runs in ~0.5 s.

    The exact side is a numpy sort per group behind ``applyInPandas``
    (round 5): the JVM ``percentile`` aggregate buffers every value in
    a boxed OpenHashMap and merges+sorts it on ONE task per group —
    2.6 s alone at sf0.1 vs 0.85 s for the whole fused plan here,
    because an Arrow-shuffled column + ``np.sort`` is ~50 ms per
    group. The interpolation replicates PERCENTILE_CONT exactly as
    ``lo·(hi−pos) + hi·(pos−lo)`` — verified BIT-EXACT against DuckDB
    at sf0.01 and sf0.1, where the algebraically equal
    ``lo + (hi−lo)·frac`` form is NOT (last-ulp disagreement). Earlier
    rejected JVM no-sort variants (round 4): bucket-histogram +
    targeted-fetch 3.5 s, value-level histogram 4.8 s.

    Scale note: the numpy exact side is CHECK SCAFFOLDING — it holds a
    whole group per task and is not 100 TB safe (see
    _exact_price_quantiles). The 100 TB answer is the sketch column
    (mergeable, single-pass); a scale-safe EXACT per-group quantile
    does exist without whole-group materialisation — the two-pass
    distributed selection demonstrated by
    ``agg_percentile_exact_distributed`` — and is what this key's
    check side would switch to if the oracle corpus's groups outgrew
    a task."""
    li = load(spark, sf_dir, "lineitem")
    qs = [0.25, 0.5, 0.75]
    all_q = [q + d for q in qs for d in (-0.005, 0.0, 0.005)]
    exact = _exact_price_quantiles(li, all_q)
    agg = li.groupBy("l_returnflag").agg(
        F.percentile_approx("l_extendedprice", qs, 2000).alias("aq"),
    ).join(F.broadcast(exact), "l_returnflag")
    in_bounds = F.forall(
        F.expr(
            "zip_with(aq, sequence(0, 2),"
            " (a, i) -> a >= ex[i * 3] AND a <= ex[i * 3 + 2])"
        ),
        lambda x: x,
    )
    return agg.select(
        "l_returnflag",
        F.col("ex")[1].alias("p25"),
        F.col("ex")[4].alias("p50"),
        F.col("ex")[7].alias("p75"),
        in_bounds.alias("approx_in_rank_bounds"),
    )


# agg_percentile_exact_distributed's driver-side rank→chunk map reads
# the per-(chunk, group) count table. Up to this many range partitions
# the whole P×|groups| table is collected (round-15 form — fastest at
# bench scale); above it, the boundary-chunk reduction runs in-plan
# and the collect is O(|groups|) (round-16 hardening for 10⁵–10⁶
# -partition clusters). Both branches emit identical target literals
# (pinned by test).
_PCTL_BOUNDARY_COLLECT_GATE = 4096


@query(
    "agg_percentile_exact_distributed",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(l_extendedprice) AS BIGINT) AS n,
           CAST(PERCENTILE_CONT(0.25) WITHIN GROUP (ORDER BY l_extendedprice)
                AS DOUBLE) AS p25,
           CAST(PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY l_extendedprice)
                AS DOUBLE) AS p50,
           CAST(PERCENTILE_CONT(0.75) WITHIN GROUP (ORDER BY l_extendedprice)
                AS DOUBLE) AS p75
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_percentile_exact_distributed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXACT per-group PERCENTILE_CONT with NO whole-group
    materialisation anywhere — the two-pass distributed selection that
    stays correct when a single group outgrows one task's memory
    (where both the JVM ``percentile`` aggregate and a per-group numpy
    sort funnel the entire group through one task).

    The classic plan:
      1. range-partition + sort by (group, value) — Spark's sampled
         RangePartitioner, so every chunk holds a contiguous value
         range of bounded size and NO task ever sees a whole group;
      2. per-(chunk, group) counts collected to the driver — the whole
         P×|groups| table at bench-scale parallelism, or (above
         _PCTL_BOUNDARY_COLLECT_GATE partitions) only the BOUNDARY
         rows, reduced in-plan to the ≤ 2·|quantiles| chunks per group
         that own a needed rank: an O(|groups|) collect independent of
         partition count (round-16 hardening; see the in-body note);
      3. each needed global rank (≤ 2·|quantiles| per group) maps to
         its ONE owning chunk and local rank rank − off, emitted as a
         literal target relation;
      4. rank ONLY the targeted (chunk, group) slices (round 15: the
         window runs over the ≤ |targets| slices that hold a needed
         rank, never over the whole relation), pick the needed local
         ranks, and interpolate PERCENTILE_CONT as
         lo·(hi−pos) + hi·(pos−lo) (the bit-exact form, see
         _exact_price_quantiles).

    The sorted relation is persisted (memory-and-disk) because both
    the offset pass and the rank pass read it — pinning the sampled
    range boundaries across the two passes; at 100 TB this persist is
    the standard sort-output reuse of any multi-pass selection. Total
    cost: one shuffle (range sort) + one tiny chunk-count shuffle +
    one bounded window — O(n log n) work, O(chunk) memory.

    CONTRACT NOTES (r15 ADVICE): construction is EAGER — calling this
    fn runs the range shuffle and the boundary collect before any
    action on the returned frame (the documented bounded-collect
    exception; plan-only consumers pay it too). The persisted sorted
    relation stays pinned for the session as part of the multi-pass
    selection contract — unpersisting before the returned frame
    executes would unpin the sampled range boundaries the literal
    targets were computed against. NULL group keys are excluded from
    the output (as every prior form's equi-joins already did)."""
    from pyspark.storagelevel import StorageLevel

    from ..session import default_parallelism

    qs = [0.25, 0.5, 0.75]
    li = load(spark, sf_dir, "lineitem")
    df = li.select("l_returnflag", "l_extendedprice").where(
        F.col("l_extendedprice").isNotNull()
    )
    # no sortWithinPartitions: rank correctness only needs chunk =
    # contiguous (group, value) RANGE (so ranks accumulate across
    # chunks); the local window below sorts its own partition anyway
    srt = (
        df.repartitionByRange(
            default_parallelism(), "l_returnflag", "l_extendedprice"
        )
        .withColumn("chunk", F.spark_partition_id())
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # Round-15 TARGETED second pass, with the rank→(chunk, local rank)
    # map computed ON THE DRIVER (second cut; guide §1.2 — fewer jobs
    # beats micro-tuned jobs). The first cut ranked EVERY row of the
    # persisted relation (a full (chunk, group) exchange + sort +
    # window just to keep ≤ 2·|qs| rows per group —
    # plans/r15/agg_percentile_exact_distributed_before.txt); the
    # interim form mapped each needed global rank to its one owning
    # chunk with a cached-offsets window + broadcast inequality join,
    # which was structurally right but paid ~5 extra tiny Spark jobs
    # (offsets cache materialization, P×G window, BNLJ broadcast, AQE
    # replans) per invocation.
    #
    # Round-16 hardening (r15 verdict item 5), SCALE-GATED: the
    # round-15 form collected the whole P×|groups| chunk-count table —
    # fine at bench parallelism (96 rows), but at 100 TB with 10⁵–10⁶
    # range partitions that is a millions-of-rows driver collect.
    # Above _PCTL_BOUNDARY_COLLECT_GATE partitions the rank→chunk
    # search moves IN-PLAN: one window over the (already aggregated,
    # P×G-row) chunk-count relation computes each chunk's cumulative
    # offset and its group's total, the ≤ 2·|qs| target ranks per
    # group are derived from literal quantiles, and only the BOUNDARY
    # rows — the chunks that own a needed rank — are collected: an
    # O(|groups|) collect, independent of partition count, still the
    # SINGLE materializing action (same job count; one extra tiny
    # exchange of count rows inside it). Below the gate the round-15
    # P×G collect stands, because the in-plan reduction's extra stage
    # measured +0.5–1.2 s at bench scale (interleaved A/B, 5 rounds)
    # for zero benefit at P=32 — the gate keeps the driver-visible
    # bench identical while closing the 100 TB driver-memory gap. Both
    # branches produce the same target literals: pos = q·(n−1) is the
    # same IEEE double product (JVM double × cast(bigint→double) ≡
    # Python float(int) multiply), floor/ceil/rank−off arithmetic is
    # integer-identical, and a focused test pins branch equality.
    #
    # NULL groups are EXCLUDED by contract (r15 ADVICE): the previous
    # forms dropped them identically at their rank→chunk equi-joins
    # (NULL = NULL is never true); the explicit filter here just makes
    # that behavior visible. The TPC-H corpus has no NULL l_returnflag.
    counts = (
        srt.where(F.col("l_returnflag").isNotNull())
        .groupBy("chunk", "l_returnflag")
        .agg(F.count("*").alias("c"))
    )
    if default_parallelism() <= _PCTL_BOUNDARY_COLLECT_GATE:
        # bench-scale path (round 15): collect P×G rows, map ranks to
        # chunks in Python
        t_rows = []
        by_g: dict = {}
        for r in counts.collect():
            by_g.setdefault(r["l_returnflag"], []).append((r["chunk"], r["c"]))
        for g, chunks in sorted(kv for kv in by_g.items() if kv[0] is not None):
            chunks.sort()
            n = sum(c for _, c in chunks)
            for qi, q in enumerate(qs):
                pos = q * (n - 1)
                for rank, role in (
                    (math.floor(pos) + 1, "lo"),
                    (math.ceil(pos) + 1, "hi"),
                ):
                    off = 0
                    for chunk, c in chunks:
                        if off < rank <= off + c:
                            t_rows.append((chunk, g, rank - off, qi, pos, n, role))
                            break
                        off += c
    else:
        # large-P path: reduce to boundary rows in-plan, collect O(G)
        w_off = Window.partitionBy("l_returnflag").orderBy("chunk")
        w_tot = w_off.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        tgt = F.array(
            *[
                F.struct(
                    F.lit(qi).cast("int").alias("qi"),
                    (F.lit(q) * (F.col("n") - 1).cast("double")).alias("pos"),
                    F.lit(role).alias("role"),
                    rank_c.cast("long").alias("rank"),
                )
                for qi, q in enumerate(qs)
                for role, rank_c in (
                    ("lo", F.floor(F.lit(q) * (F.col("n") - 1).cast("double")) + 1),
                    ("hi", F.ceil(F.lit(q) * (F.col("n") - 1).cast("double")) + 1),
                )
            ]
        )
        boundary = (
            counts.select(
                "chunk",
                "l_returnflag",
                "c",
                (F.sum("c").over(w_off) - F.col("c")).alias("off"),
                F.sum("c").over(w_tot).alias("n"),
            )
            .select(
                "chunk", "l_returnflag", "c", "off", "n",
                F.explode(tgt).alias("t"),
            )
            .where(
                (F.col("t.rank") > F.col("off"))
                & (F.col("t.rank") <= F.col("off") + F.col("c"))
            )
            .select(
                "chunk",
                "l_returnflag",
                (F.col("t.rank") - F.col("off")).cast("int").alias("lr"),
                F.col("t.qi").alias("qi"),
                F.col("t.pos").alias("pos"),
                "n",
                F.col("t.role").alias("role"),
            )
        )
        t_rows = [
            (r["chunk"], r["l_returnflag"], r["lr"], r["qi"], r["pos"],
             r["n"], r["role"])
            for r in boundary.collect()
        ]
        # deterministic literal order regardless of task completion
        # order (the small-P branch is ordered by construction)
        t_rows.sort(key=lambda t: (t[1], t[3], t[6]))
    # empty input: no target rows, so the result is empty
    targets = literal_rows_df(
        spark,
        t_rows,
        "chunk int, l_returnflag string, lr int, qi int, pos double, "
        "n bigint, role string",
    )
    w_loc = Window.partitionBy("chunk", "l_returnflag").orderBy(
        "l_extendedprice"
    )
    sub = srt.join(
        F.broadcast(targets.select("chunk", "l_returnflag").distinct()),
        ["chunk", "l_returnflag"],
    )
    ranked_sub = sub.withColumn("lr", F.row_number().over(w_loc))
    picked = ranked_sub.join(
        F.broadcast(targets), ["chunk", "l_returnflag", "lr"]
    )
    per_q = picked.groupBy("l_returnflag", "qi", "pos", "n").agg(
        F.max(
            F.when(F.col("role") == "lo", F.col("l_extendedprice"))
        ).alias("v_lo"),
        F.max(
            F.when(F.col("role") == "hi", F.col("l_extendedprice"))
        ).alias("v_hi"),
    )
    interp = F.when(
        F.floor("pos") == F.ceil("pos"), F.col("v_lo")
    ).otherwise(
        F.col("v_lo") * (F.ceil("pos").cast("double") - F.col("pos"))
        + F.col("v_hi") * (F.col("pos") - F.floor("pos").cast("double"))
    )
    return (
        per_q.select("l_returnflag", "n", "qi", interp.alias("v"))
        .groupBy("l_returnflag")
        .agg(
            F.max("n").alias("n"),
            F.array_sort(F.collect_list(F.struct("qi", "v"))).alias("sv"),
        )
        .select(
            "l_returnflag",
            "n",
            F.expr("sv[0].v").alias("p25"),
            F.expr("sv[1].v").alias("p50"),
            F.expr("sv[2].v").alias("p75"),
        )
    )


@query(
    "agg_weighted_median_distributed",
    oracle="""
    WITH w AS (
      SELECT l_returnflag, l_extendedprice AS v,
             CAST(l_quantity AS BIGINT) AS wt
      FROM lineitem WHERE l_extendedprice IS NOT NULL
    ), c AS (
      SELECT l_returnflag, v,
             SUM(wt) OVER (PARTITION BY l_returnflag ORDER BY v) AS cumw,
             SUM(wt) OVER (PARTITION BY l_returnflag) AS total
      FROM w
    )
    SELECT l_returnflag,
           CAST(MIN(total) AS BIGINT) AS total_weight,
           MIN(CASE WHEN cumw >= 0.5 * total THEN v END) AS weighted_p50,
           MIN(CASE WHEN cumw >= 0.9 * total THEN v END) AS weighted_p90
    FROM c GROUP BY l_returnflag
    """,
)
def agg_weighted_median_distributed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """WEIGHTED quantiles (p50/p90 of price weighted by quantity) —
    an aggregate Spark simply does not ship (percentile_approx and the
    KLL sketches are all unweighted), yet every sampling/reweighting
    pipeline needs: the weighted p-quantile is the smallest value
    whose cumulative weight reaches p·W.

    Same two-pass distributed-selection skeleton as
    agg_percentile_exact_distributed, generalized from row counts to
    WEIGHT sums: range-partition by (group, value); per-chunk weight
    totals → cumulative chunk offsets (window over the tiny P×G
    relation); a row's global cumulative weight = its chunk's offset +
    a local RANGE-frame running sum within (chunk, group) — bounded by
    chunk size, never group size. Equal values cannot straddle chunks
    (the range partitioner maps equal keys to one partition), and the
    RANGE frame gives every tie the same cumulative weight, so the
    definition is partitioning-independent. Weights are INTEGER
    (quantity), so cumulative sums are exact and order-free — the
    reason this oracle-checks bit-exactly where a double-weight
    running sum would drift in the last ulp. The final pick is one
    conditional-min aggregate over the scanned relation."""
    from pyspark.storagelevel import StorageLevel

    from ..session import default_parallelism

    li = load(spark, sf_dir, "lineitem")
    df = li.where(F.col("l_extendedprice").isNotNull()).select(
        "l_returnflag",
        F.col("l_extendedprice").alias("v"),
        F.col("l_quantity").cast("bigint").alias("wt"),
    )
    srt = (
        df.repartitionByRange(default_parallelism(), "l_returnflag", "v")
        .withColumn("chunk", F.spark_partition_id())
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    chunkw = srt.groupBy("chunk", "l_returnflag").agg(F.sum("wt").alias("cw"))
    w_off = Window.partitionBy("l_returnflag").orderBy("chunk")
    w_tot = Window.partitionBy("l_returnflag")
    offsets = chunkw.select(
        "chunk",
        "l_returnflag",
        (F.sum("cw").over(w_off) - F.col("cw")).alias("off"),
        F.sum("cw").over(w_tot).alias("total"),
    ).cache()
    # default frame with orderBy = RANGE UNBOUNDED PRECEDING..CURRENT
    # ROW: all ties share one cumulative weight (order-independent)
    w_loc = Window.partitionBy("chunk", "l_returnflag").orderBy("v")
    ranked = (
        srt.withColumn("lcum", F.sum("wt").over(w_loc))
        .join(
            F.broadcast(offsets.select("chunk", "l_returnflag", "off", "total")),
            ["chunk", "l_returnflag"],
        )
        .select(
            "l_returnflag",
            "v",
            "total",
            (F.col("off") + F.col("lcum")).alias("cumw"),
        )
    )
    return ranked.groupBy("l_returnflag").agg(
        F.min("total").alias("total_weight"),
        F.min(
            F.when(F.col("cumw") >= 0.5 * F.col("total"), F.col("v"))
        ).alias("weighted_p50"),
        F.min(
            F.when(F.col("cumw") >= 0.9 * F.col("total"), F.col("v"))
        ).alias("weighted_p90"),
    )


@query(
    "agg_unpivot",
    oracle=f"""
    WITH wide AS (
      SELECT o_orderstatus,
             CAST(COUNT(*) AS DOUBLE) AS n_orders,
             {sql_dec_sum('o_totalprice', 'total_price')},
             {sql_dec_avg('o_totalprice', 'avg_price')}
      FROM orders GROUP BY o_orderstatus
    )
    SELECT o_orderstatus, 'n_orders' AS measure, n_orders AS value FROM wide
    UNION ALL
    SELECT o_orderstatus, 'total_price', total_price FROM wide
    UNION ALL
    SELECT o_orderstatus, 'avg_price', avg_price FROM wide
    """,
)
def agg_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long unpivot (melt): the inverse of agg_pivot, via the
    native ``DataFrame.unpivot`` (expression-level — each input row
    emits one row per value column, no shuffle)."""
    o = load(spark, sf_dir, "orders")
    wide = o.groupBy("o_orderstatus").agg(
        F.count("*").cast("double").alias("n_orders"),
        dec_sum("o_totalprice", "total_price"),
        dec_avg("o_totalprice", "avg_price"),
    )
    return wide.unpivot(
        ["o_orderstatus"],
        ["n_orders", "total_price", "avg_price"],
        "measure",
        "value",
    )


@query(
    "agg_conditional",
    oracle="""
    SELECT l_returnflag,
           CAST(count_if(l_discount > 0.05) AS BIGINT) AS n_discounted,
           CAST(count_if(l_quantity >= 40) AS BIGINT) AS n_bulk,
           bool_and(l_extendedprice > 0) AS all_positive,
           bool_or(l_tax > 0.07) AS any_high_tax
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional/boolean aggregate family: count_if, bool_and,
    bool_or — the data-quality assertion primitives (etl_dq_audit
    composes these)."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count_if(F.col("l_discount") > 0.05).alias("n_discounted"),
        F.count_if(F.col("l_quantity") >= 40).alias("n_bulk"),
        F.bool_and(F.col("l_extendedprice") > 0).alias("all_positive"),
        F.bool_or(F.col("l_tax") > 0.07).alias("any_high_tax"),
    )


@query(
    "agg_grouping_id",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
           CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """,
)
def agg_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``grouping()`` markers on a rollup: the only way a consumer can
    tell a subtotal row from a genuine NULL group key. Required by any
    BI layer reading multi-level aggregates."""
    li = load(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.grouping("l_returnflag").cast("bigint").alias("g_flag"),
        F.grouping("l_linestatus").cast("bigint").alias("g_status"),
        F.count("*").alias("n"),
    )


@query(
    "agg_histogram",
    oracle="""
    WITH binned AS (
      SELECT CAST(floor(o_totalprice / 25000.0) AS BIGINT) AS bin
      FROM orders
    )
    SELECT bin,
           bin * 25000.0       AS bin_lo,
           (bin + 1) * 25000.0 AS bin_hi,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM binned GROUP BY bin
    """,
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram: bin = ⌊x/w⌋ then count per bin — the
    one-pass distribution profile behind every dashboard histogram
    and data-profiling report. The bin id is computed scan-side in
    codegen, the aggregation is the usual partial+final hash agg on
    a tiny key domain (~20 bins here), so 100 TB of input reduces to
    bins×tasks partial rows before the single shuffle."""
    o = load(spark, sf_dir, "orders")
    w = 25000.0
    bin_ = F.floor(F.col("o_totalprice") / w).alias("bin")
    return (
        o.select(bin_)
        .groupBy("bin")
        .agg(F.count("*").alias("n"))
        .select(
            "bin",
            (F.col("bin") * w).alias("bin_lo"),
            ((F.col("bin") + 1) * w).alias("bin_hi"),
            "n",
        )
    )


@query(
    "agg_string_agg",
    oracle="""
    SELECT c_mktsegment,
           string_agg(c_name, ',' ORDER BY c_name) AS members,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM customer WHERE c_custkey % 97 = 0
    GROUP BY c_mktsegment
    """,
)
def agg_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG/string_agg): names joined
    per segment in explicit sort order. Spark has no ordered
    string_agg, so the engine composes it: collect_list → array_sort
    → array_join — same shuffle profile as any grouped aggregate,
    and the EXPLICIT ordering is what makes the result reproducible
    at any parallelism (an unordered listagg is nondeterministic by
    construction). Bounded by the group's member count — keep the
    filter selective at 100 TB or cap with slice()."""
    c = load(spark, sf_dir, "customer").where(F.col("c_custkey") % 97 == 0)
    return c.groupBy("c_mktsegment").agg(
        F.array_join(F.array_sort(F.collect_list("c_name")), ",").alias(
            "members"
        ),
        F.count("*").alias("n"),
    )


@query(
    "agg_bitmap_distinct",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers
    FROM orders GROUP BY o_orderstatus
    """,
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via bitmap aggregation (Spark 3.5
    bitmap_* family): keys bucket into 32k-bit bitmaps
    (bitmap_bucket_number / bitmap_bit_position), OR-combine per
    bucket, sum the popcounts — the same result as COUNT(DISTINCT)
    with a fundamentally better shuffle: partial state is fixed-size
    bitmaps instead of the expand+dedup two-phase plan, the
    high-cardinality analogue of the HLL sketch but exact."""
    o = load(spark, sf_dir, "orders")
    per_bucket = (
        o.select(
            "o_orderstatus",
            F.bitmap_bucket_number(F.col("o_custkey")).alias("bucket"),
            F.bitmap_bit_position(F.col("o_custkey")).alias("pos"),
        )
        .groupBy("o_orderstatus", "bucket")
        .agg(F.bitmap_construct_agg(F.col("pos")).alias("bm"))
    )
    return per_bucket.groupBy("o_orderstatus").agg(
        F.sum(F.bitmap_count(F.col("bm"))).alias("n_customers")
    )


# KLL rank-error window: default sketch k=200 gives normalized rank
# error ~0.8% at high confidence; ±0.02 is ~2.5x that bound — a real
# invariant with slack for interpolation edges (same design as
# agg_approx_percentile's GK window).
_KLL_RANK_WINDOW = 0.02


@query(
    "agg_kll_merge_quantiles",
    oracle="""
    SELECT l_returnflag,
           CAST(PERCENTILE_CONT(0.25) WITHIN GROUP (ORDER BY l_extendedprice)
                AS DOUBLE) AS p25,
           CAST(PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY l_extendedprice)
                AS DOUBLE) AS p50,
           CAST(PERCENTILE_CONT(0.75) WITHIN GROUP (ORDER BY l_extendedprice)
                AS DOUBLE) AS p75,
           TRUE AS kll_in_rank_bounds
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_kll_merge_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE quantile sketches (Apache DataSketches KLL, Spark 4
    built-ins): one KLL sketch per (l_returnflag, l_linestatus)
    partition, merged per flag with ``kll_merge_agg_double``, quartiles
    estimated from the MERGED sketch — the pattern a 100 TB pipeline
    actually runs (sketch each partition/day once, merge downstream,
    never re-scan history), which percentile_approx's GK sketch cannot
    express (no merge function is exposed for it).

    Checked output: exact quartiles (bit-exact PERCENTILE_CONT via the
    shared numpy exact side — check scaffolding, not 100 TB safe; see
    _exact_price_quantiles and agg_percentile_exact_distributed for
    the scale-safe exact path) plus the invariant that every
    merged-sketch estimate lands between the exact quantiles at rank
    ±0.02 — so the merge step's correctness is what's being asserted,
    not just one sketch's."""
    li = load(spark, sf_dir, "lineitem")
    qs = [0.25, 0.5, 0.75]
    all_q = [q + d for q in qs for d in (-_KLL_RANK_WINDOW, 0.0, _KLL_RANK_WINDOW)]
    per_part = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.kll_sketch_agg_double("l_extendedprice").alias("sk")
    )
    merged = per_part.groupBy("l_returnflag").agg(
        F.kll_merge_agg_double("sk").alias("sk")
    )
    est = merged.select(
        "l_returnflag",
        F.array(
            *[F.kll_sketch_get_quantile_double("sk", F.lit(q)) for q in qs]
        ).alias("kq"),
    )
    exact = _exact_price_quantiles(li, all_q)
    in_bounds = F.forall(
        F.expr(
            "zip_with(kq, sequence(0, 2),"
            " (a, i) -> a >= ex[i * 3] AND a <= ex[i * 3 + 2])"
        ),
        lambda x: x,
    )
    return est.join(F.broadcast(exact), "l_returnflag").select(
        "l_returnflag",
        F.col("ex")[1].alias("p25"),
        F.col("ex")[4].alias("p50"),
        F.col("ex")[7].alias("p75"),
        in_bounds.alias("kll_in_rank_bounds"),
    )


# Theta relative-error window: default lgNomEntries=12 (4096 retained
# entries) gives RSE ~1.6%; 5% is ~3 sigma. Below 4096 distincts the
# sketch is in exact mode and the estimates are exact integers.
_THETA_REL_WINDOW = 0.05
_THETA_A = "1-URGENT"
_THETA_B = "2-HIGH"


@query(
    "agg_theta_set_distinct",
    oracle=f"""
    WITH a AS (SELECT DISTINCT o_custkey FROM orders
               WHERE o_orderpriority = '{_THETA_A}'),
         b AS (SELECT DISTINCT o_custkey FROM orders
               WHERE o_orderpriority = '{_THETA_B}')
    SELECT
      CAST((SELECT COUNT(*) FROM (SELECT * FROM a UNION SELECT * FROM b))
           AS BIGINT) AS union_exact,
      CAST((SELECT COUNT(*) FROM (SELECT * FROM a INTERSECT SELECT * FROM b))
           AS BIGINT) AS inter_exact,
      CAST((SELECT COUNT(*) FROM (SELECT * FROM a EXCEPT SELECT * FROM b))
           AS BIGINT) AS diff_exact,
      TRUE AS union_in_bounds, TRUE AS inter_in_bounds, TRUE AS diff_in_bounds
    """,
)
def agg_theta_set_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-count SET ALGEBRA on theta sketches (Apache
    DataSketches, Spark 4 built-ins): |A∪B|, |A∩B|, |A∖B| of the
    distinct customer sets behind two order priorities, estimated
    entirely from two pre-aggregated sketches — the operation HLL
    fundamentally cannot do (HLL unions but never intersects), and the
    reason theta sketches are the standard for audience-overlap at
    scale: sketch each segment once, answer every pairwise overlap
    question later without touching raw data.

    Checked output: exact counts (trivially SQL) plus the invariant
    that each sketch estimate is within ±5% relative — below the
    sketch's 4096-entry exact mode the estimates are exactly the
    integers, above it the bound is ~3x the configured RSE."""
    o = load(spark, sf_dir, "orders")
    sk = o.where(
        F.col("o_orderpriority").isin(_THETA_A, _THETA_B)
    ).groupBy("o_orderpriority").agg(F.theta_sketch_agg("o_custkey").alias("sk"))
    a = sk.where(F.col("o_orderpriority") == _THETA_A).select(
        F.col("sk").alias("ska")
    )
    b = sk.where(F.col("o_orderpriority") == _THETA_B).select(
        F.col("sk").alias("skb")
    )
    ests = a.crossJoin(b).select(
        F.theta_sketch_estimate(F.theta_union("ska", "skb")).alias("u_est"),
        F.theta_sketch_estimate(F.theta_intersection("ska", "skb")).alias("i_est"),
        F.theta_sketch_estimate(F.theta_difference("ska", "skb")).alias("d_est"),
    )
    au = o.where(F.col("o_orderpriority") == _THETA_A).select("o_custkey")
    bu = o.where(F.col("o_orderpriority") == _THETA_B).select("o_custkey")
    exact = (
        au.union(bu).agg(F.countDistinct("o_custkey").alias("union_exact"))
        .crossJoin(
            au.intersect(bu).agg(F.count("*").alias("inter_exact"))
        )
        .crossJoin(
            au.distinct().exceptAll(bu.distinct()).agg(
                F.count("*").alias("diff_exact")
            )
        )
    )

    def bounded(est: str, exact_col: str) -> F.Column:
        return (
            F.abs(F.col(est) - F.col(exact_col))
            <= F.greatest(F.col(exact_col) * _THETA_REL_WINDOW, F.lit(1.0))
        )

    return ests.crossJoin(F.broadcast(exact)).select(
        "union_exact",
        "inter_exact",
        "diff_exact",
        bounded("u_est", "union_exact").alias("union_in_bounds"),
        bounded("i_est", "inter_exact").alias("inter_in_bounds"),
        bounded("d_est", "diff_exact").alias("diff_in_bounds"),
    )


# Count-min parameters: eps=0.001 -> width 2000 counters (~1 count per
# 0.1% of the stream can be over-attributed), confidence 0.99, fixed
# seed so the sketch -- and therefore this key's output -- is fully
# deterministic.
_CMS_EPS = 0.001
_CMS_CONF = 0.99
_CMS_SEED = 42
_CMS_TOP = 10


@query(
    "agg_count_min_heavy_hitters",
    oracle=f"""
    WITH counts AS (
      SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_exact
      FROM lineitem GROUP BY l_partkey
    )
    SELECT l_partkey, n_exact,
           TRUE AS cms_never_underestimates,
           TRUE AS cms_within_eps_bound
    FROM counts ORDER BY n_exact DESC, l_partkey LIMIT {_CMS_TOP}
    """,
)
def agg_count_min_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters through a COUNT-MIN sketch — the frequency member
    of the mergeable-sketch family (HLL = distincts, KLL = quantiles,
    theta = set algebra, CMS = per-key counts): one fixed-size sketch
    summarises per-key frequencies of the whole stream, merges by
    cell-wise addition (order-free, partial+final), and answers point
    frequency queries without the key cardinality ever touching the
    driver.

    Sketch images are engine-specific, so the CHECKED output is the
    CMS's two-sided guarantee evaluated on the exact top-{_CMS_TOP}
    keys: estimate ≥ exact (count-min can only over-count — hash
    collisions ADD mass) and estimate ≤ exact + eps·N with confidence
    {_CMS_CONF} (deterministic here: fixed seed). The exact side is a
    partial+final count plus TakeOrderedAndProject.

    Driver round-trips: exactly one — the merged ~16 KB sketch blob
    plus {_CMS_TOP} exact rows (the bounded-collect exception pattern,
    same as the IVF centroid table); the estimate loop is {_CMS_TOP}
    pure JVM hash probes. At 100 TB the sketch is built once per
    partition and merged, never the raw keys.

    py4j caveat encoded here: ``estimateCount`` dispatches on the
    boxed Java type, and py4j would box a small Python int as Integer
    — hashing DIFFERENTLY than the LongType column the sketch was
    built over — so keys are explicitly boxed as ``java.lang.Long``."""
    li = load(spark, sf_dir, "lineitem")
    sk_row = li.agg(
        F.count_min_sketch(
            "l_partkey", F.lit(_CMS_EPS), F.lit(_CMS_CONF), F.lit(_CMS_SEED)
        ).alias("sk"),
        F.count("*").alias("n"),
    ).first()
    schema = (
        "l_partkey bigint, n_exact bigint, "
        "cms_never_underestimates boolean, cms_within_eps_bound boolean"
    )
    if sk_row["sk"] is None:  # empty corpus: no sketch, no hitters
        return spark.createDataFrame([], schema)
    jvm = spark.sparkContext._jvm
    cms = jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(
        bytes(sk_row["sk"])
    )
    eps_slack = _CMS_EPS * sk_row["n"]
    top = (
        li.groupBy("l_partkey")
        .agg(F.count("*").alias("n_exact"))
        .orderBy(F.desc("n_exact"), "l_partkey")
        .limit(_CMS_TOP)
        .collect()
    )
    out = []
    for r in top:
        est = cms.estimateCount(jvm.java.lang.Long.valueOf(str(r.l_partkey)))
        out.append(
            (
                r.l_partkey,
                r.n_exact,
                bool(est >= r.n_exact),
                bool(est <= r.n_exact + eps_slack),
            )
        )
    # round 16: JVM literal relation, not createDataFrame (see
    # exprs.literal_rows_df — avoids a 32-task Python-RDD scan for a
    # _CMS_TOP-row result)
    return literal_rows_df(spark, out, schema)


DECAY_MAX_AGE_Q = 12  # clamp: orders older than 12 quarters share weight 1
_DECAY_END_Q = 2001 * 4 + 2  # corpus end quarter, 2001 Q3 (max date 2001-08)


@query(
    "agg_time_decay_halflife",
    oracle=f"""
    WITH w AS (
      SELECT o.o_custkey, o.o_totalprice,
             (CAST(1 AS BIGINT) <<
              ({DECAY_MAX_AGE_Q} - LEAST(
                {_DECAY_END_Q} - (EXTRACT(year FROM o.o_orderdate) * 4
                                  + EXTRACT(quarter FROM o.o_orderdate) - 1),
                {DECAY_MAX_AGE_Q}))) AS wt
      FROM orders o
    )
    SELECT c.c_mktsegment AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(wt) AS BIGINT) AS weight_mass,
           CAST(SUM(CAST(w.o_totalprice AS DECIMAL(18,2)) * w.wt)
                AS DOUBLE) AS decayed_revenue
    FROM w JOIN customer c ON w.o_custkey = c.c_custkey
    GROUP BY 1
    """,
)
def agg_time_decay_halflife(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-decayed revenue per market segment with a one-quarter
    half-life: an order's weight halves for every quarter of age and
    clamps at {DECAY_MAX_AGE_Q} quarters — the recency weighting
    feature stores and trending-score pipelines apply, but in EXACT
    integer/decimal arithmetic. Weights are powers of two computed by
    bit shift (never a floating-point exp()), and the weighted sum
    multiplies DECIMAL(18,2) prices by the integer weight before an
    order-insensitive decimal SUM, so the result is bit-identical at
    any parallelism and across engines — a float exp-decay sum would
    drift with shuffle order on both axes.

    Scale design: one map-side expression per order row (age in
    quarters from year/quarter extracts — no interval arithmetic, no
    per-row UDF), one broadcast join to the customer dimension for the
    segment, one partial+final aggregation on a 5-value key. The decay
    window end is a constant of the corpus domain; a production run
    would bind it to the load date."""
    o = load(spark, sf_dir, "orders")
    # age in quarters = corpus-end quarter − the order's absolute quarter
    wt = F.expr(
        f"shiftleft(1L, {DECAY_MAX_AGE_Q}"
        f" - least({_DECAY_END_Q} - (year(o_orderdate) * 4"
        f" + quarter(o_orderdate) - 1), {DECAY_MAX_AGE_Q}))"
    ).alias("wt")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    w = o.select("o_custkey", "o_totalprice", wt)
    return (
        w.join(F.broadcast(c), w["o_custkey"] == c["c_custkey"])
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count("*").alias("n_orders"),
            F.sum("wt").alias("weight_mass"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)") * F.col("wt"))
            .cast("double")
            .alias("decayed_revenue"),
        )
    )


@query(
    "agg_group_ols_trend",
    oracle="""
    WITH pts AS (
      SELECT p.p_brand,
             CAST(EXTRACT(year FROM CAST(l.l_shipdate AS DATE)) * 12
                  + EXTRACT(month FROM CAST(l.l_shipdate AS DATE))
                  - 23904 AS BIGINT) AS x,
             l.l_extendedprice * (1 - l.l_discount) AS y
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      WHERE l.l_shipdate IS NOT NULL
        AND l.l_extendedprice IS NOT NULL AND l.l_discount IS NOT NULL
    ),
    stats AS (
      SELECT p_brand,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(CAST(y AS DECIMAL(24,6))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(CAST(y AS DECIMAL(18,4)) * CAST(x AS DECIMAL(10,0))
                           AS DECIMAL(30,4))) AS DOUBLE) AS sxy
      FROM pts GROUP BY p_brand
    )
    SELECT p_brand, n, sy AS sum_revenue,
           (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
             AS slope_per_month,
           (sy - ((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                  / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                 * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS intercept_at_1992
    FROM stats
    """,
)
def agg_group_ols_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand revenue trend: ordinary-least-squares slope/intercept
    of monthly revenue against a month index, fitted from exact
    sufficient statistics — the grouped regression Spark has no
    built-in aggregate for (regr_slope exists in SQL but sums doubles
    in arrival order; this formulation is reproducible).

    Engine-exactness discipline: the five sufficient statistics are
    all order-insensitive exacts — integer sums for n/Σx/Σx², the
    decimal detour (exprs.py) for Σy and Σxy. Two deliberate choices
    keep Σxy's decimal→double cast bit-identical across engines
    (Spark converts via correctly-rounded BigDecimal, DuckDB via
    scaled-int / 10^s — they can differ an ulp once |sum|·10^s
    exceeds 2^53): the month index is CENTERED at 1992 (x −= 23904 —
    slope-invariant, shrinks |Σxy| ~200×; the intercept is therefore
    reported AT the 1992 origin) and the product is summed at
    DECIMAL scale 4, where y = price·(1−disc) exactly terminates
    (2+2 decimals; x integral). The slope and intercept are then
    computed in DOUBLE arithmetic over identical expression trees on
    both engines — deterministic given identical inputs, the
    REVENUE/CHARGE precedent.

    Scale design: one broadcast dim join (part on l_partkey) + one
    partial+final aggregation on p_brand — the shuffle carries 5
    numbers per (brand, task). The null filters mirror the null-gate
    corpora: a null ship date or price contributes to neither n nor
    the sums on either engine."""
    li = load(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate").isNotNull()
        & F.col("l_extendedprice").isNotNull()
        & F.col("l_discount").isNotNull()
    )
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    d = F.col("l_shipdate").cast("date")
    x = (F.year(d) * 12 + F.month(d) - 23904).cast("long")
    y = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    pts = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"]).select(
        "p_brand", x.alias("x"), y.alias("y")
    )
    stats = pts.groupBy("p_brand").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y").cast("decimal(24,6)")).cast("double").alias("sy"),
        F.sum(
            (
                F.col("y").cast("decimal(18,4)")
                * F.col("x").cast("decimal(10,0)")
            ).cast("decimal(30,4)")
        )
        .cast("double")
        .alias("sxy"),
    )
    nD = F.col("n").cast("double")
    sxD = F.col("sx").cast("double")
    sxxD = F.col("sxx").cast("double")
    slope = (nD * F.col("sxy") - sxD * F.col("sy")) / (
        nD * sxxD - sxD * sxD
    )
    return stats.select(
        "p_brand",
        "n",
        F.col("sy").alias("sum_revenue"),
        slope.alias("slope_per_month"),
        ((F.col("sy") - slope * sxD) / nD).alias("intercept_at_1992"),
    )


BOOT_B = 20  # bootstrap resamples
# Poisson(1) cumulative thresholds over the 16^4 space of the first 4
# md5 hex chars: P(w<=k)·65536 for k = 0..5 (w = 6 beyond the last).
# Poisson-bootstrap weights approximate multinomial resampling without
# coordination — the classic trick for resampling a DISTRIBUTED
# dataset in one pass (each row draws its own multiplicity).
BOOT_THRESH = (24109, 48218, 60273, 64291, 65296, 65497)
_BOOT_HEX = tuple(f"{t:04x}" for t in BOOT_THRESH)


# Each md5 yields eight 4-hex draws; resample r reads chunk (r-1)//8 of
# the row key's salted hash at offset ((r-1)%8)*4+1 — 3 md5 calls per
# row instead of B, identical draw stream on both engines.
_BOOT_SLICE_SQL = (
    "substr(md5(CAST(o_orderkey AS VARCHAR) || ':' "
    "|| CAST((r.range - 1) // 8 AS VARCHAR)), "
    "CAST(((r.range - 1) % 8) * 4 + 1 AS INT), 4)"
)


def _boot_weight_sql(h: str) -> str:
    """CASE mapping a 4-hex-char uniform draw to a Poisson(1) weight —
    string comparison against fixed hex thresholds, the same idiom
    sample_weighted proves (no hex→int conversion needed)."""
    cases = " ".join(
        f"WHEN {h} < '{t}' THEN {k}" for k, t in enumerate(_BOOT_HEX)
    )
    return f"CASE {cases} ELSE 6 END"


@query(
    "agg_bootstrap_means",
    oracle=f"""
    WITH drawn AS (
      SELECT CAST(r.range AS INT) AS resample,
             {_boot_weight_sql(_BOOT_SLICE_SQL)} AS w,
             o_totalprice AS y
      FROM orders CROSS JOIN range(1, {BOOT_B} + 1) r
      WHERE o_totalprice IS NOT NULL
    )
    SELECT resample,
           CAST(SUM(w) AS BIGINT) AS n_eff,
           CAST(SUM(CAST(w * y AS DECIMAL(24,6))) AS DOUBLE) / SUM(w)
             AS mean_boot
    FROM drawn WHERE w > 0 GROUP BY resample
    """,
)
def agg_bootstrap_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Poisson bootstrap of the mean order value: each
    row draws its own multiplicity per resample from a salted md5
    (Poisson(1) via fixed cumulative hex thresholds — no RNG state,
    no coordination), yielding the full bootstrap distribution of the
    statistic; CIs are a trivial quantile over these B rows
    downstream.

    Engine-exactness: the weight is a pure string comparison of the
    md5 prefix against literal thresholds (sample_weighted's idiom);
    the weighted sum rides the decimal detour (w ≤ 6 and y terminates
    at 2 decimals, so w·y is exact at scale 6); the final mean is one
    deterministic double division.

    Scale design: ONE pass over the fact table with an in-row
    B-way multiplication (explode of a literal resample array — a
    map-side Generate, no join, no extra scan); the shuffle carries B
    partial rows per task after map-side combine. The B× row
    amplification never leaves the map stage — at 100 TB this is B
    integer draws per row, not B copies of the data."""
    o = load(spark, sf_dir, "orders").where(F.col("o_totalprice").isNotNull())

    # Compute the ⌈B/8⌉ chunk hashes ONCE PER ROW and materialize them
    # behind a localCheckpoint BEFORE the explode: without the barrier,
    # Catalyst's projection collapse re-inlines the md5 into every
    # exploded row (B evaluations per row instead of ⌈B/8⌉ — the
    # round-5 shape, A/B-measured at 5.4s steady; the barrier drops it
    # to 2.3s, bit-identical). The checkpointed relation is
    # pre-amplification — one row per order — so the materialization
    # cost is negligible against the B× pipeline it feeds.
    n_chunks = (BOOT_B + 7) // 8
    hashes = F.array(
        *[
            F.md5(
                F.concat(
                    F.col("o_orderkey").cast("string"),
                    F.lit(":"),
                    F.lit(str(c)),
                )
            )
            for c in range(n_chunks)
        ]
    )
    base = o.select(
        F.col("o_totalprice").alias("y"),
        "o_orderkey",
        hashes.alias("hs"),
    ).transform(stable_checkpoint_lazy)
    # (Round-16 attempt, REVERTED on measurement: exploding in BLOCKS
    # of 4 resamples — 4 draw folds + 8 conditional partial sums per
    # row, 5× instead of 20× amplification — lost the interleaved A/B
    # 5/5 rounds, min 4.93 → 6.97 s: the per-row decimal conditional
    # sums cost more than the 4× row-pipeline overhead they save, the
    # same direction as round 15's 40-wide in-row variant. The one-row
    # -per-resample explode feeding a tight partial aggregate stands.)
    drawn = base.select(
        "y",
        "o_orderkey",
        F.explode(
            F.array(*[F.lit(r) for r in range(1, BOOT_B + 1)])
        ).alias("resample"),
        F.col("hs"),
    )
    h4 = F.substring(
        F.element_at(
            F.col("hs"), ((F.col("resample") - 1) / 8).cast("int") + 1
        ),
        ((F.col("resample") - 1) % 8) * 4 + 1,
        F.lit(4),
    )
    w = F.lit(6)
    for k in range(len(_BOOT_HEX) - 1, -1, -1):
        w = F.when(h4 < _BOOT_HEX[k], k).otherwise(w)
    drawn = drawn.withColumn("w", w).where(F.col("w") > 0)
    return drawn.groupBy("resample").agg(
        F.sum("w").cast("long").alias("n_eff"),
        (
            F.sum((F.col("w") * F.col("y")).cast("decimal(24,6)"))
            .cast("double")
            / F.sum("w")
        ).alias("mean_boot"),
    )


# Benford first-digit expectations, ppm — log10(1+1/d) computed at
# AUTHORING time and frozen as literals so no engine evaluates a log
_BENFORD_PPM = {
    1: 301030, 2: 176091, 3: 124939, 4: 96910, 5: 79181,
    6: 66947, 7: 57992, 8: 51153, 9: 45757,
}


def _benford_oracle() -> str:
    cases = " ".join(
        f"WHEN {d} THEN {p}" for d, p in _BENFORD_PPM.items()
    )
    return f"""
    WITH digits AS (
      SELECT CAST(substring(CAST(CAST(floor(o_totalprice * 100) AS BIGINT)
               AS VARCHAR), 1, 1) AS BIGINT) AS digit
      FROM orders WHERE o_totalprice > 0
    ), hist AS (
      SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_obs FROM digits
      GROUP BY digit
    )
    SELECT digit, n_obs,
           CAST(n_obs * 1000000 // SUM(n_obs) OVER () AS BIGINT)
             AS obs_ppm,
           CAST(CASE digit {cases} END AS BIGINT) AS benford_ppm,
           CAST(abs(n_obs * 1000000 // SUM(n_obs) OVER ()
             - CASE digit {cases} END) AS BIGINT) AS abs_dev_ppm
    FROM hist
    """


@query("agg_benford_deviation", oracle=_benford_oracle())
def agg_benford_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit profile of order totals — the
    data-forensics screen for fabricated or truncated numeric
    columns: observed first-digit shares vs the log10(1+1/d)
    expectation, per digit, with the absolute deviation in ppm. A
    synthetic-uniform price column (like this corpus's) deviates
    hugely — which is exactly what the audit should say; real
    transaction data tracks the curve.

    Exactness: the first digit is read off the CENTS integer's
    decimal rendering (bigint→string is identical across engines —
    no float log10, whose ulp flip at power-of-ten boundaries would
    misbin); the expected shares are authoring-time literals; shares
    and deviations are truncating integer ppm.

    Scale shape: one partial+final 9-bucket count; the share window
    runs over 9 rows."""
    o = load(spark, sf_dir, "orders").where(F.col("o_totalprice") > 0)
    digits = o.select(
        F.substring(
            F.floor(F.col("o_totalprice") * 100).cast("long").cast("string"),
            1,
            1,
        )
        .cast("long")
        .alias("digit")
    )
    hist = digits.groupBy("digit").agg(F.count("*").alias("n_obs"))
    expected = F.create_map(
        *[F.lit(x) for kv in _BENFORD_PPM.items() for x in kv]
    )
    w = Window.partitionBy()
    return hist.select(
        "digit",
        "n_obs",
        F.expr(
            "CAST(n_obs * 1000000 div SUM(n_obs) OVER () AS BIGINT)"
        ).alias("obs_ppm"),
        expected[F.col("digit")].cast("bigint").alias("benford_ppm"),
        F.abs(
            F.expr("n_obs * 1000000 div SUM(n_obs) OVER ()")
            - expected[F.col("digit")]
        )
        .cast("bigint")
        .alias("abs_dev_ppm"),
    )


@query(
    "agg_chi_square_independence",
    oracle="""
    WITH obs AS (
      SELECT c.c_mktsegment AS seg, o.o_orderpriority AS pri,
             CAST(COUNT(*) AS BIGINT) AS o_n
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2
    ), margins AS (
      SELECT seg, pri, o_n,
             SUM(o_n) OVER (PARTITION BY seg) AS r_n,
             SUM(o_n) OVER (PARTITION BY pri) AS c_n,
             SUM(o_n) OVER () AS t_n
      FROM obs
    )
    SELECT seg AS c_mktsegment, pri AS o_orderpriority, o_n AS n_obs,
           CAST((r_n * c_n) // t_n AS BIGINT) AS n_expected_floor,
           CAST(((CAST(o_n AS HUGEINT) * t_n - r_n * c_n)
                 * (CAST(o_n AS HUGEINT) * t_n - r_n * c_n) * 1000000)
             // (CAST(r_n AS HUGEINT) * c_n * t_n) AS BIGINT)
             AS chi2_cell_micro
    FROM margins
    """,
)
def agg_chi_square_independence(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """χ² test of independence on the segment × priority contingency
    table — the categorical-association test every feature-selection
    and A/B-segmentation pass runs: per cell, the observed count, the
    floored expected count under independence (row·col/N), and the
    cell's χ² contribution (O−E)²/E in exact micro units — summed
    downstream, Σcells is the χ² statistic against
    (R−1)(C−1) degrees of freedom.

    Exactness: the cell term is computed as (O·N − R·C)²·1e6 /
    (R·C·N) — the E-free form, so no float expectation ever exists;
    wide integers carry the squared products (DECIMAL(38,0) on the
    Spark side, HUGEINT in DuckDB — (O·N)² reaches ~1e18·1e6 at
    sf0.1, past bigint).

    Scale design: one partial+final contingency count (R×C rows out
    of the scan); the margin windows and the cell arithmetic run
    over that tiny relation."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    obs = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            F.col("o_orderpriority").alias("pri"),
        )
        .agg(F.count("*").alias("o_n"))
    )
    wr = Window.partitionBy("seg")
    wc = Window.partitionBy("pri")
    wt = Window.partitionBy()
    m = obs.select(
        "seg",
        "pri",
        "o_n",
        F.sum("o_n").over(wr).alias("r_n"),
        F.sum("o_n").over(wc).alias("c_n"),
        F.sum("o_n").over(wt).alias("t_n"),
    )
    return m.select(
        F.col("seg").alias("c_mktsegment"),
        F.col("pri").alias("o_orderpriority"),
        F.col("o_n").alias("n_obs"),
        F.expr("CAST((r_n * c_n) div t_n AS BIGINT)").alias(
            "n_expected_floor"
        ),
        F.expr(
            "CAST(((CAST(o_n AS DECIMAL(38,0)) * t_n - r_n * c_n)"
            " * (CAST(o_n AS DECIMAL(38,0)) * t_n - r_n * c_n) * 1000000)"
            " div (CAST(r_n AS DECIMAL(38,0)) * c_n * t_n) AS BIGINT)"
        ).alias("chi2_cell_micro"),
    )
