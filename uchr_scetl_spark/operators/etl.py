"""ETL-script patterns: upsert/merge snapshots and data-quality audits.

The reference's category is batch ETL scripts; these are the two
recurring shapes such scripts need beyond plain transforms: applying a
change set to the previous snapshot (no Delta/Iceberg jars in this
environment, so the merge is expressed as pure join algebra over
immutable snapshots — the same plan a MERGE INTO compiles to), and
auditing a load before publishing it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import threading

from ..io import load, scratch_dir
from ..exprs import dec_sum, literal_rows_df
from ..memo import Memo
from ..registry import query
from ..session import conf_isolated_session, stable_checkpoint

# serializes the fixed-name managed-table rebuild (see
# etl_managed_table_lifecycle's concurrency note)
_lifecycle_lock = threading.Lock()


@query(
    "etl_upsert_snapshot",
    oracle="""
    WITH updates AS (
      SELECT o_orderkey,
             o_custkey,
             'P' AS o_orderstatus,
             o_totalprice * 1.1 AS o_totalprice
      FROM orders WHERE o_orderkey % 100 = 0
    )
    SELECT COALESCE(u.o_orderkey, b.o_orderkey) AS o_orderkey,
           COALESCE(u.o_custkey,  b.o_custkey)  AS o_custkey,
           COALESCE(u.o_orderstatus, b.o_orderstatus) AS o_orderstatus,
           COALESCE(u.o_totalprice,  b.o_totalprice)  AS o_totalprice
    FROM orders b FULL OUTER JOIN updates u ON b.o_orderkey = u.o_orderkey
    """,
)
def etl_upsert_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upsert: apply a change set to the previous snapshot — the core
    of every incremental load. Expressed as FULL OUTER JOIN on the
    business key + COALESCE(update, base) per column: exactly what
    MERGE INTO compiles to, with no table-format dependency. At scale
    the join shuffles on the key (or stays shuffle-free if both
    snapshot and change set are bucketed on it — see join_bucketed);
    the change set here is derived from the corpus so the query is
    self-contained and deterministic."""
    base = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    updates = (
        base.where(F.col("o_orderkey") % 100 == 0)
        .select(
            "o_orderkey",
            "o_custkey",
            F.lit("P").alias("o_orderstatus"),
            (F.col("o_totalprice") * F.lit(1.1)).alias("o_totalprice"),
        )
    )
    b = base.alias("b")
    u = updates.alias("u")
    merged = b.join(u, F.col("b.o_orderkey") == F.col("u.o_orderkey"), "full_outer")
    return merged.select(
        F.coalesce("u.o_orderkey", "b.o_orderkey").alias("o_orderkey"),
        F.coalesce("u.o_custkey", "b.o_custkey").alias("o_custkey"),
        F.coalesce("u.o_orderstatus", "b.o_orderstatus").alias("o_orderstatus"),
        F.coalesce("u.o_totalprice", "b.o_totalprice").alias("o_totalprice"),
    )


@query(
    "etl_dq_audit",
    oracle="""
    SELECT
      CAST((SELECT COUNT(*) FROM orders) AS BIGINT) AS n_rows,
      CAST((SELECT COUNT(*) FROM orders WHERE o_totalprice IS NULL)
           AS BIGINT) AS null_price,
      CAST((SELECT COUNT(*) FROM orders WHERE o_totalprice <= 0)
           AS BIGINT) AS nonpositive_price,
      CAST((SELECT COUNT(*) FROM orders
            WHERE o_orderstatus NOT IN ('O', 'F', 'P'))
           AS BIGINT) AS bad_status,
      CAST((SELECT COUNT(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey))
           AS BIGINT) AS orphan_custkey,
      CAST((SELECT COUNT(*) FROM
             (SELECT o_orderkey FROM orders
              GROUP BY o_orderkey HAVING COUNT(*) > 1))
           AS BIGINT) AS dup_orderkey
    """,
)
def etl_dq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-publish data-quality audit: one row of violation counters —
    nulls, domain violations, referential integrity against the
    customer dimension (broadcast anti-join), duplicate business keys.
    Everything folds into single-pass conditional aggregates plus one
    anti-join, so the audit costs one scan of the fact table — cheap
    enough to gate every load at 100 TB."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer").select("c_custkey")
    scalars = o.agg(
        F.count("*").alias("n_rows"),
        F.count_if(F.col("o_totalprice").isNull()).alias("null_price"),
        F.count_if(F.col("o_totalprice") <= 0).alias("nonpositive_price"),
        F.count_if(~F.col("o_orderstatus").isin("O", "F", "P")).alias("bad_status"),
    )
    orphans = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey, "left_anti")
        .agg(F.count("*").alias("orphan_custkey"))
    )
    dups = (
        o.groupBy("o_orderkey")
        .count()
        .where(F.col("count") > 1)
        .agg(F.count("*").alias("dup_orderkey"))
    )
    # three single-row relations → one audit row, still one lazy plan
    return scalars.crossJoin(orphans).crossJoin(dups)


@query(
    "etl_scd2",
    oracle="""
    WITH changes AS (
      SELECT c_custkey, 'DELINQUENT' AS new_segment
      FROM customer WHERE c_acctbal < 0
    )
    SELECT c.c_custkey, c.c_name, c.c_mktsegment AS segment,
           TIMESTAMP '2020-01-01 00:00:00' AS valid_from,
           CASE WHEN ch.c_custkey IS NOT NULL
                THEN TIMESTAMP '2021-01-01 00:00:00' END AS valid_to,
           (ch.c_custkey IS NULL) AS is_current
    FROM customer c LEFT JOIN changes ch ON c.c_custkey = ch.c_custkey
    UNION ALL
    SELECT c.c_custkey, c.c_name, ch.new_segment AS segment,
           TIMESTAMP '2021-01-01 00:00:00' AS valid_from,
           CAST(NULL AS TIMESTAMP) AS valid_to,
           TRUE AS is_current
    FROM changes ch JOIN customer c ON c.c_custkey = ch.c_custkey
    """,
)
def etl_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2: apply a change set to a
    versioned dimension, closing superseded rows and appending new
    current ones.

    Pure join algebra (the table-format-free form of the classic
    MERGE-based SCD2 load): one LEFT join marks which current rows the
    change set supersedes (those get valid_to = effective date,
    is_current = false), one UNION appends the new versions
    (open-ended validity). The change set here is derived
    deterministically from the corpus (negative-balance customers get
    re-segmented). At scale both branches shuffle on the business key
    once, and the dimension is typically small enough that the change
    set broadcasts."""
    eff = F.lit("2021-01-01").cast("timestamp_ntz")
    c = load(spark, sf_dir, "customer")
    changes = c.where(F.col("c_acctbal") < 0).select(
        F.col("c_custkey").alias("ch_custkey"),
        F.lit("DELINQUENT").alias("new_segment"),
    )
    closed_or_current = (
        c.join(F.broadcast(changes), c.c_custkey == F.col("ch_custkey"), "left")
        .select(
            "c_custkey",
            "c_name",
            F.col("c_mktsegment").alias("segment"),
            F.lit("2020-01-01").cast("timestamp_ntz").alias("valid_from"),
            F.when(F.col("ch_custkey").isNotNull(), eff).alias("valid_to"),
            F.col("ch_custkey").isNull().alias("is_current"),
        )
    )
    new_versions = (
        c.join(F.broadcast(changes), c.c_custkey == F.col("ch_custkey"))
        .select(
            "c_custkey",
            "c_name",
            F.col("new_segment").alias("segment"),
            eff.alias("valid_from"),
            F.lit(None).cast("timestamp_ntz").alias("valid_to"),
            F.lit(True).alias("is_current"),
        )
    )
    return closed_or_current.unionByName(new_versions)


@query(
    "etl_scd2_pointintime",
    oracle="""
    WITH dim AS (
      SELECT c_custkey, c_mktsegment AS segment,
             TIMESTAMP '1995-01-01 00:00:00' AS valid_from,
             CASE WHEN c_acctbal < 0
                  THEN TIMESTAMP '1998-01-01 00:00:00' END AS valid_to
      FROM customer
      UNION ALL
      SELECT c_custkey, 'DELINQUENT',
             TIMESTAMP '1998-01-01 00:00:00', CAST(NULL AS TIMESTAMP)
      FROM customer WHERE c_acctbal < 0
    )
    SELECT d.segment, CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT)
             AS order_year,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(24,6))) AS DOUBLE)
             AS revenue
    FROM orders o
    JOIN dim d
      ON o.o_custkey = d.c_custkey
     AND o.o_orderdate >= d.valid_from
     AND (d.valid_to IS NULL OR o.o_orderdate < d.valid_to)
    GROUP BY 1, 2
    """,
)
def etl_scd2_pointintime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time fact-to-SCD2 join: each order is attributed to
    the dimension version that was valid ON ITS ORDER DATE (the other
    half of the SCD2 story — etl_scd2 builds the versioned dimension;
    this key consumes one), then rolled up to segment × order-year
    revenue. The versioned dimension is derived deterministically from
    the corpus: every customer's base segment is valid from the start
    of the order domain, and negative-balance customers are
    re-segmented to DELINQUENT effective 1998-01-01 (mid-domain, so
    both version legs carry facts).

    Scale design: this is an EQUI-join on the business key with the
    validity window as a residual join filter — never a range/theta
    join — because an SCD2 dimension has a small bounded number of
    versions per key (2 here), so the per-row filter amplification is
    O(versions), not O(rows). The fact table shuffles (or, as here,
    streams against a broadcast dimension) on c_custkey exactly once;
    at cluster scale with a dimension too large to broadcast, the same
    plan becomes a shuffle join on the key with identical semantics.
    Revenue sums in DECIMAL(24,6) (order-insensitive exact addition)
    and converts to double only at the end, so the result is
    bit-reproducible at any parallelism (see exprs.py)."""
    c = load(spark, sf_dir, "customer")
    start = F.lit("1995-01-01").cast("timestamp_ntz")
    eff = F.lit("1998-01-01").cast("timestamp_ntz")
    v1 = c.select(
        "c_custkey",
        F.col("c_mktsegment").alias("segment"),
        start.alias("valid_from"),
        F.when(F.col("c_acctbal") < 0, eff).alias("valid_to"),
    )
    v2 = c.where(F.col("c_acctbal") < 0).select(
        "c_custkey",
        F.lit("DELINQUENT").alias("segment"),
        eff.alias("valid_from"),
        F.lit(None).cast("timestamp_ntz").alias("valid_to"),
    )
    dim = v1.unionByName(v2)
    o = load(spark, sf_dir, "orders")
    j = o.join(
        F.broadcast(dim),
        (o["o_custkey"] == dim["c_custkey"])
        & (o["o_orderdate"] >= dim["valid_from"])
        & (dim["valid_to"].isNull() | (o["o_orderdate"] < dim["valid_to"])),
    )
    return j.groupBy(
        "segment",
        F.year("o_orderdate").cast("bigint").alias("order_year"),
    ).agg(
        F.count("*").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(24,6)"))
        .cast("double")
        .alias("revenue"),
    )


@query(
    "etl_compact_small_files",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
    FROM lineitem WHERE l_orderkey % 10 = 0
    """,
)
def etl_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction — the maintenance pass every long-running
    ingest pipeline needs. A landing zone written by many parallel
    tasks (simulated here: 64-way write of one slice) accumulates files
    far below the scan-efficient size; compaction reads it back and
    rewrites at ceil(total_bytes / target_file_size) files.

    Sizing uses the actual on-disk byte count, never a row-count guess
    (row width varies). ``repartition`` (not ``coalesce``) on the
    rewrite: compaction is a one-off maintenance job, and the shuffle
    buys evenly-sized output files, which is the entire point — skewed
    coalesce output would recreate the problem for downstream scans.
    Both repartitions HASH on l_orderkey rather than round-robin
    (round 13): a keyless repartition is an INDETERMINATE stage —
    rows are routed by arrival order, so a lost executor forcing
    partial map-stage re-execution after some reducers finished
    either aborts the job (result stages can't roll back) or, on
    older Sparks, silently duplicated/dropped rows (SPARK-23207).
    Hash routing is attempt-invariant; l_orderkey is high-cardinality
    so the output files stay evenly sized.
    At 100 TB the same job runs per partition-directory with the
    listing coming from the catalog / FileSystem API instead of a
    local walk, and target_file_size stays at the parquet-friendly
    128 MiB."""
    import math
    import os

    src = (
        load(spark, sf_dir, "lineitem")
        .where(F.col("l_orderkey") % 10 == 0)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    )
    landing = scratch_dir("uchr_landing_")
    src.repartition(64, "l_orderkey").write.mode("overwrite").parquet(landing)

    total_bytes = sum(
        e.stat().st_size
        for e in os.scandir(landing)
        if e.name.endswith(".parquet")
    )
    target_file_size = 128 * 1024 * 1024
    n_files = max(1, math.ceil(total_bytes / target_file_size))

    compacted = scratch_dir("uchr_compacted_")
    spark.read.schema(src.schema).parquet(landing).repartition(
        n_files, "l_orderkey"
    ).write.mode("overwrite").parquet(compacted)
    return spark.read.schema(src.schema).parquet(compacted)


@query(
    "etl_incremental_agg_merge",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(24,6))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def etl_incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance: a per-(day, event_type)
    rollup table is kept current by MERGING the new batch's partial
    aggregates into the stored partials — history is never recomputed.
    This only works for decomposable aggregates, so the partials are
    (count, DECIMAL sum): counts add, decimal sums add exactly in any
    order (double partials would drift by association order — see
    exprs.py). The merge itself is the upsert full-outer-join shape.
    At 100 TB this is the difference between reprocessing the corpus
    per load and touching one day's partition: the merged result here
    is verified identical to a full recompute by the oracle.

    The cutoff must sit INSIDE the corpus's time domain (events span
    2024-01-01..2024-01-30; the first version used 2024-04-01, which
    made the batch empty and the merge an identity pass that verified
    nothing) — and at MID-day, not midnight: the split is by time but
    the grouping by day, so only the cutoff day itself lands partial
    aggregates on BOTH sides of the full-outer join and exercises the
    n+n / tv+tv merge arithmetic rather than the coalesce legs."""
    e = load(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-20 12:00:00").cast("timestamp_ntz")
    # cast back to NTZ: Spark's date_trunc silently coerces
    # timestamp_ntz to session-TZ TIMESTAMP, and classic collect()
    # renders TIMESTAMP through the PYTHON PROCESS timezone — the
    # round-12 host-timezone sweep caught this key (the registry's
    # only local-TZ output) shifting its rendered days under
    # TZ=Asia/Kolkata while every value stayed correct. Under the
    # pinned UTC session the cast is value-preserving.
    day = (
        F.date_trunc("day", F.col("ts")).cast("timestamp_ntz").alias("day")
    )

    def partials(df: DataFrame) -> DataFrame:
        return df.groupBy(day, "event_type").agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(24,6)")).alias("tv"),
        )

    hist = partials(e.where(F.col("ts") < cutoff))
    batch = partials(e.where(F.col("ts") >= cutoff))
    h = hist.alias("h")
    b = batch.alias("b")
    zero = F.lit(0).cast("decimal(24,6)")
    merged = h.join(
        b,
        (F.col("h.day") == F.col("b.day"))
        & (F.col("h.event_type") == F.col("b.event_type")),
        "full_outer",
    )
    return merged.select(
        F.coalesce("h.day", "b.day").alias("day"),
        F.coalesce("h.event_type", "b.event_type").alias("event_type"),
        (
            F.coalesce("h.n", F.lit(0)) + F.coalesce("b.n", F.lit(0))
        ).alias("n"),
        (
            F.coalesce("h.tv", zero) + F.coalesce("b.tv", zero)
        ).cast("double").alias("total_value"),
    )


_BACKFILL = Memo(evict=False)

# Applied once to a dedicated conf_isolated_session child (round 14):
# the old set-then-restore on the caller's session could leak dynamic
# overwrite semantics into a concurrent thread's unrelated write plan
# mid-window — on a shared session, another thread's mode("overwrite")
# compiling inside the window would silently become a partial
# overwrite instead of a truncate (the round-13 verdict's named
# thread-safety hazard).
_DYN_OVERWRITE_CONFS = {
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
}


def _orders_with_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "orders").withColumn(
        "month", F.date_format("o_orderdate", "yyyy-MM")
    )


def _backfill_dir(spark: SparkSession, sf_dir: str) -> str:
    """Run the corrupt-then-backfill write sequence once per
    (app, sf_dir) with atexit cleanup — repeated invocations (sweeps,
    bench loops) previously leaked a two-write tempdir per call.

    Both writes run on the dynamic-overwrite child session (its conf
    is permanent, so nothing is mutated on the caller's session). The
    initial landing write is mode-equivalent under dynamic: the
    scratch dir is fresh, so 'delete only partitions the write
    contains' and 'truncate the table' coincide."""

    def _build() -> str:
        child = conf_isolated_session(
            spark, "dyn-overwrite", _DYN_OVERWRITE_CONFS
        )
        o = _orders_with_month(child, sf_dir)
        target = "1998-03"
        out = scratch_dir("uchr_backfill_")
        corrupted = o.withColumn(
            "o_totalprice",
            F.when(F.col("month") == target, F.lit(0.0)).otherwise(
                F.col("o_totalprice")
            ),
        )
        # repartition on the partition column before a high-cardinality
        # partitionBy write: without it the ~80 month directories are
        # all written from the scan's task(s) — at sf0.1 orders scans
        # as ONE partition, so one task wrote 80 files serially
        # (measured 2.3 s → 1.5 s), and at 100 TB every task would
        # open a file per month (the small-files pathology). With it,
        # each task owns whole months and writes one file per month.
        corrupted.repartition("month").write.mode("overwrite").partitionBy(
            "month"
        ).parquet(out)
        o.where(F.col("month") == target).write.mode("overwrite").partitionBy(
            "month"
        ).parquet(out)
        return out

    return _BACKFILL.get_heavy(spark, sf_dir, build=_build)


@query(
    "etl_backfill_dynamic_overwrite",
    oracle="""
    SELECT strftime(o_orderdate, '%Y-%m') AS month,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(24,6))) AS DOUBLE)
             AS total_price
    FROM orders GROUP BY strftime(o_orderdate, '%Y-%m')
    """,
)
def etl_backfill_dynamic_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition backfill with dynamic partition overwrite — the
    bread-and-butter correction job: one month of a partitioned table
    is bad; rewrite ONLY that partition in place, leaving every other
    partition's files untouched.

    Sequence: land orders partitioned by month with one month
    corrupted (prices zeroed), then re-run the backfill writer for
    just that month under
    ``spark.sql.sources.partitionOverwriteMode=dynamic`` and
    ``mode("overwrite")``. Dynamic mode deletes only partitions the
    incoming write actually contains — static mode would truncate the
    whole table (the oracle would catch it: every other month would
    vanish), and append mode would double the month (caught by
    n_orders). At 100 TB this is the difference between rewriting
    ~1/60th of a table and all of it."""
    o = _orders_with_month(spark, sf_dir)
    out = _backfill_dir(spark, sf_dir)
    healed = spark.read.schema(o.schema).parquet(out)  # zero-row-write safe
    return healed.groupBy(F.col("month").cast("string").alias("month")).agg(
        F.count("*").alias("n_orders"),
        dec_sum("o_totalprice", "total_price"),
    )


@query(
    "etl_managed_table_lifecycle",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(24,6))) AS DOUBLE)
             AS total_price
    FROM orders GROUP BY o_orderstatus
    """,
)
def etl_managed_table_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Managed-table (catalog) lifecycle: ``saveAsTable`` creates a
    catalog-registered parquet table in the warehouse, ``insertInto``
    appends a second batch by position, ``spark.table`` reads it back
    through the catalog — the metastore-backed path every scheduled
    job that doesn't pass file paths around uses.

    The initial load and the appended batch split orders on a date
    predicate, so the read-back aggregate matching the plain full-table
    oracle proves both writes landed exactly once. At 100 TB the same
    calls hit a real metastore and the table would be partitioned
    (see sink_parquet_partitioned / etl_backfill_dynamic_overwrite);
    the catalog protocol is identical.

    Concurrency (round 14): the table name is fixed, so two
    simultaneous invocations interleaving DROP / rmtree / saveAsTable
    corrupt each other — the measured same-key race (--dup sweep:
    MISMATCH vs AnalysisException). The catalog dance therefore
    serializes on a module lock, and the returned aggregate is
    materialized eagerly INSIDE the lock (stable_checkpoint): a
    lazily-returned scan would still read the table after the lock
    dropped, mid-way through a racer's rebuild. Concurrent identical
    rebuild jobs against one metastore table need exactly this
    serialization on a real cluster too (there via the metastore's
    table lock)."""
    import shutil
    from urllib.parse import urlparse

    with _lifecycle_lock:
        table = "uchr_lifecycle_orders"
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        # with the default in-memory catalog the table registration
        # dies with the session but its warehouse directory does not;
        # clear the location too so re-runs in a fresh session don't
        # hit LOCATION_ALREADY_EXISTS
        wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
        shutil.rmtree(f"{wh}/{table}", ignore_errors=True)
        o = load(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"
        )
        cut = F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz")
        o.where(cut).write.saveAsTable(table)
        o.where(~cut).write.insertInto(table)
        return stable_checkpoint(
            spark.table(table)
            .groupBy("o_orderstatus")
            .agg(
                F.count("*").alias("n_orders"),
                dec_sum("o_totalprice", "total_price"),
            )
        )


@query(
    "etl_snapshot_diff",
    oracle="""
    WITH prev AS (
      SELECT o_orderkey, o_totalprice FROM orders
      WHERE o_orderkey % 41 <> 0
    ),
    curr AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 37 = 0 THEN o_totalprice * 1.1
                  ELSE o_totalprice END AS o_totalprice
      FROM orders
      UNION ALL
      SELECT o_orderkey + 10000000, o_totalprice FROM orders
      WHERE o_orderkey % 43 = 0
    )
    SELECT COALESCE(p.o_orderkey, c.o_orderkey) AS o_orderkey,
           CASE WHEN p.o_orderkey IS NULL THEN 'added'
                WHEN c.o_orderkey IS NULL THEN 'removed'
                ELSE 'changed' END AS change,
           p.o_totalprice AS prev_price,
           c.o_totalprice AS curr_price
    FROM prev p FULL OUTER JOIN curr c ON p.o_orderkey = c.o_orderkey
    WHERE p.o_orderkey IS NULL OR c.o_orderkey IS NULL
       OR p.o_totalprice <> c.o_totalprice
    """,
)
def etl_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff: classify every key as added / removed / changed
    between two table versions (unchanged rows drop out) — the audit
    primitive behind reconciliation reports and CDC backfills when
    there is no change log, only full snapshots.

    One full-outer join on the key; at 100 TB both snapshots shuffle
    once and AQE handles key skew. The synthetic current snapshot
    perturbs the previous one deterministically (drops keys %41,
    reprices keys %37, appends shifted keys %43), so both engines
    derive identical inputs and the diff logic itself is what is
    compared. The double equality test is safe: both sides compute
    x*1.1 with the same IEEE semantics."""
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    prev = o.where(F.col("o_orderkey") % 41 != 0)
    curr = o.withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 37 == 0, F.col("o_totalprice") * 1.1
        ).otherwise(F.col("o_totalprice")),
    ).unionAll(
        o.where(F.col("o_orderkey") % 43 == 0).select(
            (F.col("o_orderkey") + 10000000).alias("o_orderkey"),
            "o_totalprice",
        )
    )
    p = prev.alias("p")
    c = curr.alias("c")
    pk, ck = F.col("p.o_orderkey"), F.col("c.o_orderkey")
    pv, cv = F.col("p.o_totalprice"), F.col("c.o_totalprice")
    return (
        p.join(c, pk == ck, "full_outer")
        .where(pk.isNull() | ck.isNull() | (pv != cv))
        .select(
            F.coalesce(pk, ck).alias("o_orderkey"),
            F.when(pk.isNull(), "added")
            .when(ck.isNull(), "removed")
            .otherwise("changed")
            .alias("change"),
            pv.alias("prev_price"),
            cv.alias("curr_price"),
        )
    )


@query(
    "etl_cdc_apply",
    oracle="""
    WITH log AS (
      SELECT o_orderkey AS key, 1 AS seq, 'U' AS op,
             o_totalprice * 1.05 AS price
      FROM orders WHERE o_orderkey % 10 = 0
      UNION ALL
      SELECT o_orderkey, 2, 'D', NULL
      FROM orders WHERE o_orderkey % 20 = 0
      UNION ALL
      SELECT o_orderkey + 20000000, 3, 'I', o_totalprice
      FROM orders WHERE o_orderkey % 25 = 0
    ),
    latest AS (
      SELECT key, op, price,
             row_number() OVER (PARTITION BY key ORDER BY seq DESC) AS rn
      FROM log
    ),
    effective AS (SELECT key, op, price FROM latest WHERE rn = 1)
    SELECT COALESCE(b.o_orderkey, e.key) AS o_orderkey,
           CASE WHEN e.key IS NULL THEN b.o_totalprice
                ELSE e.price END AS o_totalprice
    FROM (SELECT o_orderkey, o_totalprice FROM orders) b
    FULL OUTER JOIN effective e ON b.o_orderkey = e.key
    WHERE e.key IS NULL OR e.op <> 'D'
    """,
)
def etl_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC change-log application: an ordered log of
    Insert/Update/Delete operations collapses to the LATEST op per
    key (rank by sequence number), then applies to the base snapshot
    in one full-outer join — upserts overwrite, deletes drop, inserts
    append. This is the exactly-the-same plan a Delta/Iceberg MERGE
    with deletes compiles to, minus the table format.

    Scale: the log ranks with one window on its own (small) keyspace;
    the apply join shuffles base+log on the key once. The synthetic
    log derives deterministically from the corpus (updates %10,
    deletes %20 — which supersede half the updates at seq 2 —
    inserts %25 shifted)."""
    from pyspark.sql import Window

    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    log = (
        o.where(F.col("o_orderkey") % 10 == 0)
        .select(
            F.col("o_orderkey").alias("key"),
            F.lit(1).alias("seq"),
            F.lit("U").alias("op"),
            (F.col("o_totalprice") * 1.05).alias("price"),
        )
        .unionByName(
            o.where(F.col("o_orderkey") % 20 == 0).select(
                F.col("o_orderkey").alias("key"),
                F.lit(2).alias("seq"),
                F.lit("D").alias("op"),
                F.lit(None).cast("double").alias("price"),
            )
        )
        .unionByName(
            o.where(F.col("o_orderkey") % 25 == 0).select(
                (F.col("o_orderkey") + 20000000).alias("key"),
                F.lit(3).alias("seq"),
                F.lit("I").alias("op"),
                F.col("o_totalprice").alias("price"),
            )
        )
    )
    w = Window.partitionBy("key").orderBy(F.col("seq").desc())
    effective = (
        log.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("key", "op", "price")
    )
    b = o.alias("b")
    e = effective.alias("e")
    return (
        b.join(e, F.col("b.o_orderkey") == F.col("e.key"), "full_outer")
        .where(F.col("e.key").isNull() | (F.col("e.op") != "D"))
        .select(
            F.coalesce("b.o_orderkey", "e.key").alias("o_orderkey"),
            F.when(F.col("e.key").isNull(), F.col("b.o_totalprice"))
            .otherwise(F.col("e.price"))
            .alias("o_totalprice"),
        )
    )


_ZORDER = Memo(evict=False)


def _zvalue(x: F.Column, y: F.Column, bits: int = 21) -> F.Column:
    """Morton (Z-order) interleave of two non-negative ints, LSB-first:
    bit i of x lands at position 2i, bit i of y at 2i+1. Built as a sum
    of shift/mask terms — a flat codegen expression, no interpreted
    higher-order lambda.

    ``bits`` must cover the full key domain (bits ≥ log2(max+1) for
    BOTH dimensions): bits above it are silently dropped, which keeps
    results correct but quietly destroys the clustering the write
    exists for (keys differing only in truncated high bits collapse to
    one z-prefix). 21 bits covers o_custkey to ~2M (TPC-H sf ≈ 13) and
    the day offset for ~5700 years; at real scale derive it from the
    table's max-key statistics instead of a constant."""
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = z + F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i)
        z = z + F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1)
    return z


def _zorder_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )


def _zorder_dir(spark: SparkSession, sf_dir: str) -> str:
    """Write orders Z-order-clustered on (o_custkey, order-day) once
    per (app, sf_dir): z-value → repartitionByRange(z) →
    sortWithinPartitions(z) → parquet. Range partitioning keeps file
    count fixed AND gives every file a tight z-range, which is what
    makes BOTH dimensions' parquet min/max stats selective."""

    def _build() -> str:
        o = _zorder_source(spark, sf_dir)
        day = F.datediff(F.col("o_orderdate"), F.lit("1992-01-01").cast("date"))
        z = _zvalue(F.col("o_custkey"), day.cast("long"))
        out = scratch_dir("uchr_zorder_")
        (
            o.withColumn("z", z)
            .repartitionByRange(8, "z")
            .sortWithinPartitions("z")
            .drop("z")
            .write.mode("overwrite")
            .parquet(out)
        )
        return out

    return _ZORDER.get_heavy(spark, sf_dir, build=_build)


@query(
    "etl_zorder_cluster",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(24,6))) AS DOUBLE)
             AS total_price
    FROM orders
    WHERE o_custkey BETWEEN 0 AND 374
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
    """,
)
def etl_zorder_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering + data skipping: the multi-dimensional
    layout trick every 100 TB lakehouse table uses (Delta/Iceberg
    OPTIMIZE ZORDER BY), expressed in plain Spark — interleave the
    bits of the two filter dimensions into a Morton code, range-
    partition and sort the write by it, and a rectangle predicate on
    EITHER OR BOTH dimensions prunes most files/row-groups via parquet
    min/max stats (a sort on custkey alone would leave the date
    dimension unclustered and scan everything for date-only
    predicates).

    The CHECKED output is the rectangle-query aggregate over the
    clustered copy — value-identical to the same query on the original
    table (clustering must never change results). The pruning itself
    is asserted in tests/test_pipeline.py: the rectangle touches a
    strict minority of the clustered files (via input_file_name),
    while the same data written date-sorted-only would touch them
    all."""
    out = _zorder_dir(spark, sf_dir)
    back = spark.read.schema(_zorder_source(spark, sf_dir).schema).parquet(out)
    lo = F.lit("1996-01-01").cast("timestamp_ntz")
    hi = F.lit("1997-01-01").cast("timestamp_ntz")
    rect = back.where(
        F.col("o_custkey").between(0, 374)
        & (F.col("o_orderdate") >= lo)
        & (F.col("o_orderdate") < hi)
    )
    return rect.agg(
        F.count("*").alias("n_rows"),
        dec_sum("o_totalprice", "total_price"),
    )


@query(
    "etl_feature_pointintime",
    oracle="""
    WITH o AS (
      SELECT o_orderkey, o_custkey, o_totalprice,
             date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
               AS day
      FROM orders
    )
    SELECT o_orderkey, o_custkey,
           CAST(COUNT(*) OVER prior_days AS BIGINT) AS cnt_prior,
           CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(24,6)))
                           OVER prior_days, 0) AS DOUBLE) AS sum_prior,
           CAST(day - lag(day) OVER seq AS BIGINT) AS days_since_prev
    FROM o
    WINDOW
      prior_days AS (PARTITION BY o_custkey ORDER BY day
                     RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      seq AS (PARTITION BY o_custkey ORDER BY day, o_orderkey)
    """,
)
def etl_feature_pointintime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time feature extraction — the feature-store join
    discipline: for every order, aggregates over that customer's
    STRICTLY EARLIER orders only (no same-day leakage: the frame is
    RANGE ... 1 PRECEDING on the integer day key, so every order
    placed the same day is excluded from its own features), plus the
    recency gap to the previous order. Training a model on these
    columns can never see the label row's own day — the exact
    property batch backfills get wrong when they join on ≤.

    Prior spend runs through the decimal detour (exprs.py) so the
    windowed double sum is order-insensitive and engine-exact; empty
    frames coalesce to 0. The recency lag orders by (day, orderkey) —
    a deterministic total order even among same-day orders.

    Scale design: one shuffle on o_custkey serves both window specs
    (same partition key); the range frame is a single forward sweep
    per partition (WindowExec keeps running sum/count, no per-row
    rescan). Skewed customers would salt + two-level the frame; TPC-H
    customers are near-uniform."""
    from pyspark.sql import Window

    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.datediff(
            F.col("o_orderdate").cast("date"), F.to_date(F.lit("1970-01-01"))
        ).alias("day"),
    )
    prior = (
        Window.partitionBy("o_custkey")
        .orderBy("day")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    seq = Window.partitionBy("o_custkey").orderBy("day", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.count("*").over(prior).cast("long").alias("cnt_prior"),
        F.coalesce(
            F.sum(F.col("o_totalprice").cast("decimal(24,6)")).over(prior),
            F.lit(0).cast("decimal(24,6)"),
        )
        .cast("double")
        .alias("sum_prior"),
        (F.col("day") - F.lag("day").over(seq)).cast("long").alias(
            "days_since_prev"
        ),
    )


@query(
    "etl_partition_skew_audit",
    oracle="""
    WITH pc AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             CAST(COUNT(*) AS BIGINT) AS n_rows
      FROM events GROUP BY 1
    ), s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_partitions,
             CAST(SUM(n_rows) AS BIGINT) AS total_rows,
             MAX(n_rows) AS max_rows,
             MIN(n_rows) AS min_rows
      FROM pc
    ), top AS (
      SELECT MIN(day) AS heaviest_day FROM pc
      WHERE n_rows = (SELECT max_rows FROM s)
    )
    SELECT s.n_partitions, s.total_rows, s.max_rows, s.min_rows,
           s.total_rows // s.n_partitions AS avg_rows,
           (s.max_rows * 1000000) // (s.total_rows // s.n_partitions)
             AS skew_ppm,
           top.heaviest_day
    FROM s CROSS JOIN top
    """,
)
def etl_partition_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-skew telemetry for a date-partitioned event store —
    the audit run BEFORE choosing shuffle-partition counts, AQE skew
    thresholds or a salting strategy: per-day row counts reduced to
    partition count, total/max/min/avg rows, the max/avg skew factor
    in exact ppm, and the heaviest day (earliest on ties). A
    skew_ppm far above 1e6 is the signal that a date-keyed
    join/aggregation needs salting or AQE skew splitting at scale.

    Exactness: pure integer counts and truncating integer division
    on both engines; the day key never leaves each engine's own
    date_trunc (only counts and one timestamp cross the boundary).

    Scale design: one partial+final count per day (|days| rows out of
    the scan), then single-row arithmetic — the audit costs one
    linear pass regardless of corpus size; the heaviest-day pick is
    a broadcast-sized filter over the per-day relation, not a sort."""
    e = load(spark, sf_dir, "events")
    pc = (
        e.groupBy(
            F.date_trunc("day", F.col("ts"))
            .cast("timestamp_ntz")
            .alias("day")
        )
        .agg(F.count("*").alias("n_rows"))
    )
    s = pc.agg(
        F.count("*").alias("n_partitions"),
        F.sum("n_rows").alias("total_rows"),
        F.max("n_rows").alias("max_rows"),
        F.min("n_rows").alias("min_rows"),
    )
    top = (
        pc.join(
            F.broadcast(s.select("max_rows")),
            pc.n_rows == F.col("max_rows"),
        )
        .agg(F.min("day").alias("heaviest_day"))
    )
    return (
        s.crossJoin(top)
        .withColumn("avg_rows", F.expr("total_rows div n_partitions"))
        .withColumn(
            "skew_ppm",
            F.expr("(max_rows * 1000000) div (total_rows div n_partitions)"),
        )
        .select(
            "n_partitions",
            "total_rows",
            "max_rows",
            "min_rows",
            "avg_rows",
            "skew_ppm",
            "heaviest_day",
        )
    )


IVM_CUTOFF = "2000-01-01 00:00:00"  # base/delta split for the IVM demo


@query(
    "etl_incremental_join_maintenance",
    oracle=f"""
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
             AS DECIMAL(24,6))) AS DOUBLE) AS revenue
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def etl_incremental_join_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental JOIN-view maintenance — the delta algebra behind
    keeping a materialized join fresh without re-joining 100 TB:
    with both inputs split into base ∪ delta (here at a date cutoff,
    modelling "yesterday's view + today's arrivals"), the insert-only
    identity

        O⋈L = Oᵦ⋈Lᵦ  +  ΔO⋈Lᵦ  +  Oᵦ⋈ΔL  +  ΔO⋈ΔL

    is computed term by term and must aggregate to EXACTLY the full
    recompute — which is what the oracle does, so the check verifies
    the maintenance algebra itself (a missing or double-counted term
    cannot hash-match). Counts are exact; revenue rides the decimal
    detour, whose order-insensitivity is what makes the 4-way union
    aggregate bit-equal to the monolithic join.

    Scale design: each delta term joins a SMALL relation against a
    big one (ΔO broadcasts against Lᵦ, Oᵦ co-partitions with ΔL on
    the join key, ΔO⋈ΔL is delta-sized) — the point of IVM is that
    no term re-joins base against base except the one you already
    have materialized; here Oᵦ⋈Lᵦ stands in for "read the stored
    view", and at 100 TB it would BE the stored view. The final
    aggregation merges partials from all four terms in one shuffle
    of group-key rows."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderdate"
    )
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate", "l_extendedprice", "l_discount"
    )
    cut = F.lit(IVM_CUTOFF).cast("timestamp_ntz")
    o_base, o_delta = o.where(F.col("o_orderdate") < cut), o.where(
        F.col("o_orderdate") >= cut
    )
    l_base, l_delta = li.where(F.col("l_shipdate") < cut), li.where(
        F.col("l_shipdate") >= cut
    )

    def term(os, ls, broadcast_orders=False):
        os_j = F.broadcast(os) if broadcast_orders else os
        return ls.join(os_j, ls.l_orderkey == os.o_orderkey).select(
            "o_orderpriority",
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "rev"
            ),
        )

    combined = (
        term(o_base, l_base)
        .unionAll(term(o_delta, l_base, broadcast_orders=True))
        .unionAll(term(o_base, l_delta))
        .unionAll(term(o_delta, l_delta, broadcast_orders=True))
    )
    return combined.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_rows"),
        dec_sum(F.col("rev"), "revenue"),
    )


GDPR_MOD = 97  # deterministic "deletion request" list: user_id % 97 == 0


@query(
    "etl_gdpr_delete_audit",
    oracle=f"""
    WITH del_users AS (
      SELECT DISTINCT user_id FROM events WHERE user_id % {GDPR_MOD} = 0
    ),
    del_custs AS (
      SELECT c_custkey FROM customer WHERE c_custkey % {GDPR_MOD} = 0
    ),
    ev AS (
      SELECT 'events' AS table_name,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM events) AS n_before,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM events
              WHERE user_id IN (SELECT user_id FROM del_users)) AS n_deleted,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM events e
              WHERE NOT EXISTS (SELECT 1 FROM del_users d
                                WHERE d.user_id = e.user_id))
               AS n_after
    ),
    cu AS (
      SELECT 'customer' AS table_name,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM customer) AS n_before,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM customer
              WHERE c_custkey IN (SELECT c_custkey FROM del_custs))
               AS n_deleted,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM customer c
              WHERE NOT EXISTS (SELECT 1 FROM del_custs d
                                WHERE d.c_custkey = c.c_custkey))
               AS n_after
    ),
    oo AS (
      SELECT 'orders' AS table_name,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS n_before,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
              WHERE o_custkey IN (SELECT c_custkey FROM del_custs))
               AS n_deleted,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM orders o
              WHERE NOT EXISTS (SELECT 1 FROM del_custs d
                                WHERE d.c_custkey = o.o_custkey))
               AS n_after
    )
    SELECT table_name, n_before, n_deleted, n_after,
           CAST(n_before - n_deleted - n_after AS BIGINT) AS residual
    FROM ev UNION ALL SELECT * , CAST(n_before - n_deleted - n_after
      AS BIGINT) FROM cu
    UNION ALL SELECT *, CAST(n_before - n_deleted - n_after AS BIGINT)
      FROM oo
    """,
)
def etl_gdpr_delete_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten audit — the deletion sweep every
    regulated data platform runs: given a deterministic deletion-
    request list (user_id / custkey ≡ 0 mod GDPR_MOD), anti-join the
    subjects out of every table that carries their data (events by
    user_id; customer AND their orders by custkey — the cascade), and
    emit per-table before/deleted/after counts plus a RESIDUAL column
    that must be zero (deleted + after = before) — the verification
    step that turns a delete job into an auditable one.

    Scale design: each table is one scan with the deletion list
    applied as a broadcast semi/anti join (the list is subjects-sized,
    not corpus-sized); counts partial-aggregate. The cascade is
    modelled explicitly (orders deleted through their customer's key)
    because subject data rarely lives in one table."""
    ev = load(spark, sf_dir, "events")
    cu = load(spark, sf_dir, "customer")
    oo = load(spark, sf_dir, "orders")
    del_users = ev.where(F.col("user_id") % GDPR_MOD == 0).select(
        "user_id"
    ).distinct()
    del_custs = cu.where(F.col("c_custkey") % GDPR_MOD == 0).select(
        "c_custkey"
    )

    def audit(df, key_col, del_df, del_key, name):
        deleted = df.join(
            F.broadcast(del_df),
            F.col(key_col) == F.col(del_key),
            "left_semi",
        )
        kept = df.join(
            F.broadcast(del_df),
            F.col(key_col) == F.col(del_key),
            "left_anti",
        )
        return (
            df.agg(F.count("*").alias("n_before"))
            .crossJoin(deleted.agg(F.count("*").alias("n_deleted")))
            .crossJoin(kept.agg(F.count("*").alias("n_after")))
            .select(
                F.lit(name).alias("table_name"),
                "n_before",
                "n_deleted",
                "n_after",
                (
                    F.col("n_before") - F.col("n_deleted") - F.col("n_after")
                ).alias("residual"),
            )
        )

    return (
        audit(
            ev,
            "user_id",
            del_users.select(F.col("user_id").alias("dk")),
            "dk",
            "events",
        )
        .unionAll(
            audit(
                cu,
                "c_custkey",
                del_custs.select(F.col("c_custkey").alias("dk")),
                "dk",
                "customer",
            )
        )
        .unionAll(
            audit(
                oo,
                "o_custkey",
                del_custs.select(F.col("c_custkey").alias("dk")),
                "dk",
                "orders",
            )
        )
    )


# Canonical-row field fragments, shared TEXTUALLY between engines
# (concat_ws/replace/coalesce/chr spell identically in Spark SQL and
# DuckDB). concat_ws alone is ambiguous two ways: it drops NULL fields
# WITH their separator (so (1,NULL,'x') and (1,'x',NULL) collide —
# exactly the lost-vs-mutated cell the checksum advertises catching),
# and a '|' inside a free-text field shifts every later field. So:
# every free-text field is escaped (backslash doubled first, then '|'
# backslash-escaped), and every field renders NULL as chr(92)||'N'
# ('\N') — unproducible by escaped content, whose backslashes are
# always doubled.
_CANON_NULL = "chr(92) || 'N'"


def _canon_field(expr: str, escape: bool = False) -> str:
    if escape:
        expr = (
            f"replace(replace({expr}, chr(92), chr(92) || chr(92)),"
            f" '|', chr(92) || '|')"
        )
    return f"coalesce({expr}, {_CANON_NULL})"


def _checksum_cols_sql(cols: str) -> str:
    # 60-bit md5 prefix per row (the simhash/sampling idiom — 15 hex
    # chars always fit a signed BIGINT), summed wide: HUGEINT on the
    # oracle side to mirror Spark's DECIMAL(38,0) sum
    # rendered as VARCHAR: a DECIMAL(38,0)/HUGEINT column reaches
    # pandas as float64 on the DuckDB side (precision loss past 2^53),
    # so the comparable form of a wide digest is its decimal STRING
    return (
        f"CAST(CAST(SUM(CAST(('0x' || substr(md5({cols}), 1, 15)) AS BIGINT))"
        f" AS DECIMAL(38,0)) AS VARCHAR)"
    )


@query(
    "etl_publish_checksums",
    oracle=f"""
    SELECT 'orders' AS table_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           {_checksum_cols_sql(
               "concat_ws('|', "
               + _canon_field("CAST(o_orderkey AS VARCHAR)") + ", "
               + _canon_field("CAST(o_custkey AS VARCHAR)") + ", "
               + _canon_field("o_orderstatus", escape=True) + ", "
               + _canon_field("CAST(CAST(floor(o_totalprice * 100 + 0.5)"
                              " AS BIGINT) AS VARCHAR)") + ", "
               + _canon_field("strftime(o_orderdate,"
                              " '%Y-%m-%d %H:%M:%S.%f')") + ")")}
             AS checksum
    FROM orders
    UNION ALL
    SELECT 'customer',
           CAST(COUNT(*) AS BIGINT),
           {_checksum_cols_sql(
               "concat_ws('|', "
               + _canon_field("CAST(c_custkey AS VARCHAR)") + ", "
               + _canon_field("c_name", escape=True) + ", "
               + _canon_field("CAST(c_nationkey AS VARCHAR)") + ", "
               + _canon_field("CAST(CAST(floor(c_acctbal * 100 + 0.5)"
                              " AS BIGINT) AS VARCHAR)") + ")")}
    FROM customer
    UNION ALL
    SELECT 'lineitem',
           CAST(COUNT(*) AS BIGINT),
           {_checksum_cols_sql(
               "concat_ws('|', "
               + _canon_field("CAST(l_orderkey AS VARCHAR)") + ", "
               + _canon_field("CAST(l_partkey AS VARCHAR)") + ", "
               + _canon_field("CAST(l_linenumber AS VARCHAR)") + ", "
               + _canon_field("CAST(CAST(floor(l_quantity * 100 + 0.5)"
                              " AS BIGINT) AS VARCHAR)") + ")")}
    FROM lineitem
    """,
)
def etl_publish_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive per-table content checksums — the publish /
    replication integrity gate: producer and consumer each run this
    one-pass aggregate and compare three numbers instead of diffing
    rows. A lost row, a duplicated row, or a single flipped cent
    changes the checksum; row order, partitioning, and file layout do
    not (the sum is commutative).

    Canonicalization is SCHEMA-AWARE, never engine-default rendering:
    integers pass through, money doubles go through the tie-safe cents
    quantization (floor(x*100+0.5) — exact for 2-decimal money),
    timestamps are rendered with an explicit fixed-width microsecond
    format on both engines (never engine-default casts). That is what
    makes the checksum comparable across engines (and across Spark
    versions): Java's and DuckDB's double→string formatting disagree
    in scientific-notation thresholds, so a checksum over default
    string casts would be engine-local. The rendering is also
    UNAMBIGUOUS (see _canon_field): free-text fields are
    backslash-escaped so a '|' in c_name cannot shift fields, and
    NULL renders as the unproducible '\\N' token rather than
    concat_ws's silent drop-with-separator — without both, distinct
    rows can collide to one canonical string and a lost-vs-mutated
    cell cancels out of the sum. Each row contributes a 60-bit md5
    prefix (the repo's simhash/sampling idiom) summed into
    DECIMAL(38,0) — overflow-free to ~10^19 rows.

    Scale shape: one codegen'd projection + partial/final sum per
    table, no shuffle wider than one row per task; the three tables
    are independent scans unioned. At 100 TB this is the cheapest
    possible full-content verification — one pass, three numbers."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    li = load(spark, sf_dir, "lineitem")

    def cents(col: str) -> str:
        return f"CAST(CAST(floor({col} * 100 + 0.5) AS BIGINT) AS STRING)"

    def row_expr(*fields: str) -> Column:
        # _canon_field fragments spell identically in Spark SQL
        return F.expr("concat_ws('|', " + ", ".join(fields) + ")")

    def table_sum(df: DataFrame, name: str, row_str: Column) -> DataFrame:
        h = F.expr("CAST(conv(substring(md5(__row), 1, 15), 16, 10)"
                   " AS DECIMAL(38,0))")
        return (
            df.select(row_str.alias("__row"))
            .agg(
                F.count("*").alias("n_rows"),
                F.sum(h).cast("decimal(38,0)").cast("string").alias("checksum"),
            )
            .select(F.lit(name).alias("table_name"), "n_rows", "checksum")
        )

    o_row = row_expr(
        _canon_field("CAST(o_orderkey AS STRING)"),
        _canon_field("CAST(o_custkey AS STRING)"),
        _canon_field("o_orderstatus", escape=True),
        _canon_field(cents("o_totalprice")),
        _canon_field(
            "date_format(o_orderdate, 'yyyy-MM-dd HH:mm:ss.SSSSSS')"
        ),
    )
    c_row = row_expr(
        _canon_field("CAST(c_custkey AS STRING)"),
        _canon_field("c_name", escape=True),
        _canon_field("CAST(c_nationkey AS STRING)"),
        _canon_field(cents("c_acctbal")),
    )
    l_row = row_expr(
        _canon_field("CAST(l_orderkey AS STRING)"),
        _canon_field("CAST(l_partkey AS STRING)"),
        _canon_field("CAST(l_linenumber AS STRING)"),
        _canon_field(cents("l_quantity")),
    )
    return (
        table_sum(o, "orders", o_row)
        .unionAll(table_sum(c, "customer", c_row))
        .unionAll(table_sum(li, "lineitem", l_row))
    )


# Declarative expectation specs: (expectation_id, SQL condition over an
# orders row that a COMPLIANT row satisfies, max violations tolerated).
# The suite is DATA, not code — adding a check is adding a tuple, and
# the whole suite still costs ONE scan (each spec compiles to one
# conditional count in the same aggregate). Thresholds are chosen so
# both verdict arms are exercised on the standard corpus: the
# violation counters fire on the corrupted-corpus gate, and the
# 'open_order_share' expectation FAILS even on clean data (orders are
# ~half open — a deliberately failing expectation, because a suite
# whose checks can never fail proves nothing — tolerance 400 < the
# ~514 open orders at even the smallest sf0.001 corpus, so the FAIL
# arm fires at every test scale).
ORDERS_EXPECTATIONS: list[tuple[str, str, int]] = [
    ("price_positive", "o_totalprice > 0", 0),
    ("price_not_null", "o_totalprice IS NOT NULL", 0),
    ("status_in_domain", "o_orderstatus IN ('O', 'F', 'P')", 0),
    ("custkey_positive", "o_custkey > 0", 0),
    ("date_in_range",
     "o_orderdate >= TIMESTAMP '1990-01-01 00:00:00'"
     " AND o_orderdate < TIMESTAMP '2005-01-01 00:00:00'", 0),
    ("open_order_share", "o_orderstatus <> 'O'", 400),
]


@query(
    "etl_expectations_suite",
    oracle="""
    SELECT e.expectation_id, e.max_violations,
           CAST((SELECT COUNT(*) FROM orders) AS BIGINT) AS n_rows,
           e.n_violations,
           (e.n_violations <= e.max_violations) AS passed
    FROM (
      SELECT 'price_positive' AS expectation_id,
             CAST(0 AS BIGINT) AS max_violations,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
              WHERE NOT COALESCE(o_totalprice > 0, FALSE)) AS n_violations
      UNION ALL
      SELECT 'price_not_null', 0,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
              WHERE NOT COALESCE(o_totalprice IS NOT NULL, FALSE))
      UNION ALL
      SELECT 'status_in_domain', 0,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
              WHERE NOT COALESCE(o_orderstatus IN ('O','F','P'), FALSE))
      UNION ALL
      SELECT 'custkey_positive', 0,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
              WHERE NOT COALESCE(o_custkey > 0, FALSE))
      UNION ALL
      SELECT 'date_in_range', 0,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
              WHERE NOT COALESCE(
                o_orderdate >= TIMESTAMP '1990-01-01 00:00:00'
                AND o_orderdate < TIMESTAMP '2005-01-01 00:00:00', FALSE))
      UNION ALL
      SELECT 'open_order_share', 400,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
              WHERE NOT COALESCE(o_orderstatus <> 'O', FALSE))
    ) e
    """,
)
def etl_expectations_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-expectations engine — the Great-Expectations-
    shaped publish gate: a suite of (condition, tolerance) specs
    declared as DATA (ORDERS_EXPECTATIONS), compiled into ONE
    conditional aggregate over ONE scan of the table, emitting per
    expectation the violation count and a pass/fail verdict against
    its tolerance. NULL-hostile by construction: a NULL condition
    result counts as a violation (COALESCE(cond, FALSE)), so a null
    price fails price_positive rather than slipping through
    three-valued logic — the classic silent hole in hand-rolled
    checks.

    Both verdict arms are live on every corpus: open_order_share is a
    deliberately failing expectation on clean data (a suite whose
    checks can never fail proves nothing — the vacuity discipline
    applied to itself), and the corrupted-corpus gate makes the
    zero-tolerance counters fire too.

    Scale shape: N expectations still cost one scan — each spec is a
    count_if column in the same partial+final aggregate — then an
    in-row explode of the N (id, tolerance, count) triples. Adding an
    expectation never adds a pass over the data; at 100 TB that is
    the difference between a usable gate and one nobody runs."""
    o = load(spark, sf_dir, "orders")
    counters = o.agg(
        F.count("*").alias("n_rows"),
        *[
            F.count_if(~F.coalesce(F.expr(cond), F.lit(False))).alias(
                f"v_{eid}"
            )
            for eid, cond, _tol in ORDERS_EXPECTATIONS
        ],
    )
    triple = F.array(
        *[
            F.struct(
                F.lit(eid).alias("expectation_id"),
                F.lit(tol).cast("bigint").alias("max_violations"),
                F.col(f"v_{eid}").alias("n_violations"),
            )
            for eid, _cond, tol in ORDERS_EXPECTATIONS
        ]
    )
    return (
        counters.select("n_rows", F.explode(triple).alias("e"))
        .select(
            F.col("e.expectation_id").alias("expectation_id"),
            F.col("e.max_violations").alias("max_violations"),
            "n_rows",
            F.col("e.n_violations").alias("n_violations"),
            (F.col("e.n_violations") <= F.col("e.max_violations")).alias(
                "passed"
            ),
        )
    )


@query(
    "etl_schema_evolution_audit",
    oracle="""
    SELECT CAST(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 2 END AS INT)
             AS snap,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(CASE WHEN o_orderkey % 2 = 0 THEN NULL
                           ELSE o_orderstatus END) AS BIGINT)
             AS n_status_nonnull,
           CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS sum_price_cents
    FROM orders
    GROUP BY 1
    """,
)
def etl_schema_evolution_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-drift round-trip — the mergeSchema contract every
    long-lived parquet table eventually depends on: snapshot 1 was
    written BEFORE a column existed (here o_orderstatus), snapshot 2
    after; a mergeSchema read over both must union the schemas and
    NULL-fill the missing column for old files, and the per-snapshot
    audit (row count, non-null count of the evolved column, money sum)
    must match recomputing from the raw table. n_status_nonnull is 0
    for snap 1 BY SCHEMA (the column physically doesn't exist in its
    files) and full for snap 2 — both arms live at every scale by
    construction.

    Scale notes: mergeSchema=true costs one footer read per FILE at
    planning time (fine for snapshot counts; a 100 TB table with
    millions of files pins the merged schema in a metastore instead —
    this key tests the semantics the metastore entry must encode).
    The snap column comes from hive partition-dir names, so snapshot
    pruning stays static; the audit is one partial+final aggregate
    over the merged scan.

    The split is a TOTAL partition (round-9 ADVICE): snap 1 is
    strictly-even keys, snap 2 is everything else — including negative
    odd keys (whose `% 2` is -1 on both engines, so an `== 1` test
    silently drops them) and NULL keys (whose `% 2` is NULL). Both
    engines spell it as the complement of `% 2 == 0`, so every row is
    classified identically."""
    from ..io import scratch_dir

    o = load(spark, sf_dir, "orders")
    out = scratch_dir("uchr_schema_evo_")
    even = F.col("o_orderkey") % 2 == 0
    v1 = o.where(even).select("o_orderkey", "o_custkey", "o_totalprice")
    v2 = o.where(~F.coalesce(even, F.lit(False))).select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    )
    v1.write.mode("overwrite").parquet(f"{out}/snap=1")
    v2.write.mode("overwrite").parquet(f"{out}/snap=2")
    back = (
        spark.read.option("mergeSchema", "true")
        .option("basePath", out)
        .parquet(out)
    )
    return back.groupBy(F.col("snap").cast("int").alias("snap")).agg(
        F.count("*").alias("n_rows"),
        F.count("o_orderstatus").alias("n_status_nonnull"),
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint")
        ).alias("sum_price_cents"),
    )


def observed_orders_load(spark: SparkSession, sf_dir: str):
    """The observed single-pass load behind etl_observe_metrics,
    exposed so the plan test can assert the CollectMetrics node sits
    on the ONE scan. Returns (observed_df, Observation)."""
    from pyspark.sql import Observation

    o = load(spark, sf_dir, "orders").where(F.col("o_orderstatus") != "P")
    obs = Observation()
    observed = o.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.count_if(F.col("o_totalprice").isNull()).alias("n_null_price"),
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint")
        ).alias("sum_price_cents"),
        F.count_if(F.col("o_totalprice") <= 0).alias("n_nonpositive"),
    )
    return observed, obs


@query(
    "etl_observe_metrics",
    oracle="""
    SELECT 'orders_load' AS pipeline,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) FILTER (WHERE o_totalprice IS NULL) AS BIGINT)
             AS n_null_price,
           CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS sum_price_cents,
           CAST(COUNT(*) FILTER (WHERE o_totalprice <= 0) AS BIGINT)
             AS n_nonpositive
    FROM orders
    WHERE o_orderstatus <> 'P'
    """,
)
def etl_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass pipeline telemetry via ``df.observe`` — the production
    observability surface the DQ keys (etl_dq_audit,
    etl_expectations_suite) deliberately do NOT use: those recompute
    their counters as a second aggregate over the source, while a real
    load wants row counts / null counts / money totals harvested from
    the SAME pass that writes the sink, for free. The null and
    nonpositive counters are keyed to o_totalprice because the
    corrupted-orders gate plants exactly those violations — both arms
    provably FIRE there (anti-vacuity assertion in
    tests/test_corrupted_corpus.py; on clean corpora they are 0 by
    construction, same as etl_dq_audit's counters). Here the observed
    load writes the filtered orders to a parquet scratch sink (the
    real action), the Observation rides that job's accumulators, and
    the returned one-row DataFrame is built from the harvested values
    — the oracle recomputes every metric from the source, so a metric
    that missed rows (observe placed above the filter, a lost
    accumulator update, a second scan drifting from the first) hash-
    mismatches.

    Scale notes: CollectMetrics is accumulator-based — zero extra
    scan, zero shuffle, constant driver memory (one struct per task),
    which is why observe beats a recompute at 100 TB where the second
    pass would double the job's IO. The sink write is the pipeline's
    own action, not instrumentation overhead."""
    observed, obs = observed_orders_load(spark, sf_dir)
    out = scratch_dir("uchr_observe_")
    observed.write.mode("overwrite").parquet(out)
    m = obs.get
    # round 16: JVM literal relation, not createDataFrame (see
    # exprs.literal_rows_df)
    return literal_rows_df(
        spark,
        [
            (
                "orders_load",
                m["n_rows"],
                m["n_null_price"],
                m["sum_price_cents"],
                m["n_nonpositive"],
            )
        ],
        "pipeline string, n_rows bigint, n_null_price bigint, "
        "sum_price_cents bigint, n_nonpositive bigint",
    )
