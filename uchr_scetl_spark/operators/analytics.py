"""Event-analytics pipelines over the `events` table: funnel
conversion, cohort retention, incremental high-watermark extract.

These are the recurring product-analytics shapes an ETL/analytics
engine is asked for beyond plain windows/aggs. All are pure DataFrame
algebra: at 100 TB each shuffles once on user_id (funnel, retention)
or not at all (watermark extract: a scalar-subquery broadcast +
pushed-down range filter on the new partition's scan).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..exprs import literal_rows_df, sql_floor_div
from ..io import load
from ..registry import query
from ..session import stable_checkpoint


@query(
    "events_funnel",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup,
             min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
      FROM events GROUP BY user_id
    )
    SELECT CAST(COUNT(t_signup) AS BIGINT) AS n_signup,
           CAST(COUNT(CASE WHEN t_view > t_signup THEN 1 END) AS BIGINT)
             AS n_signup_then_view,
           CAST(COUNT(CASE WHEN t_purchase > t_view AND t_view > t_signup
                      THEN 1 END) AS BIGINT) AS n_full_funnel
    FROM per_user
    """,
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel signup → view → purchase.

    One conditional-min aggregation per user collapses the event log to
    a single row per user (the only shuffle — partial min per map task,
    so the exchange carries 3 timestamps per user, not events); the
    step counts are then conditional counts over that tiny relation.
    The strictly-greater ordering requires each later stage to happen
    after the earlier one — the textbook ordered-funnel semantics."""
    e = load(spark, sf_dir, "events")

    def first_ts(t: str) -> F.Column:
        return F.min(F.when(F.col("event_type") == t, F.col("ts")))

    per_user = e.groupBy("user_id").agg(
        first_ts("signup").alias("t_signup"),
        first_ts("view").alias("t_view"),
        first_ts("purchase").alias("t_purchase"),
    )
    stepped = F.col("t_view") > F.col("t_signup")
    full = (F.col("t_purchase") > F.col("t_view")) & stepped
    return per_user.agg(
        F.count("t_signup").alias("n_signup"),
        F.count(F.when(stepped, F.lit(1))).alias("n_signup_then_view"),
        F.count(F.when(full, F.lit(1))).alias("n_full_funnel"),
    )


@query(
    "events_retention",
    oracle="""
    WITH firsts AS (
      SELECT user_id,
             CAST(date_trunc('day', min(ts) OVER (PARTITION BY user_id))
               AS TIMESTAMP) AS cohort_day,
             CAST(date_trunc('day', ts) AS TIMESTAMP) AS active_day
      FROM events
    )
    SELECT cohort_day,
           CAST(date_diff('day', cohort_day, active_day) AS BIGINT)
             AS day_offset,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_active
    FROM firsts
    WHERE date_diff('day', cohort_day, active_day) <= 7
    GROUP BY cohort_day, day_offset
    """,
)
def events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-seen day, distinct
    actives per day-offset for the first week.

    The cohort day is a per-user window min (one shuffle on user_id);
    the retention matrix is a distinct-count per (cohort, offset) —
    at scale the distinct shuffles on (cohort, offset, user) which is
    already nearly unique, so partial aggregation absorbs it."""

    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    firsts = e.select(
        "user_id",
        F.date_trunc("day", F.min("ts").over(w))
        .cast("timestamp_ntz")
        .alias("cohort_day"),
        F.date_trunc("day", F.col("ts")).cast("timestamp_ntz").alias("active_day"),
    )
    offset = F.datediff("active_day", "cohort_day").cast("bigint")
    return (
        firsts.withColumn("day_offset", offset)
        .where(F.col("day_offset") <= 7)
        .groupBy("cohort_day", "day_offset")
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


@query(
    "etl_incremental_extract",
    oracle="""
    WITH previous_load AS (
      SELECT max(o_orderdate) AS high_watermark
      FROM orders WHERE o_orderdate < TIMESTAMP '2001-01-01 00:00:00'
    )
    SELECT o.o_orderkey, o.o_custkey, o.o_orderdate, o.o_totalprice
    FROM orders o, previous_load p
    WHERE o.o_orderdate > p.high_watermark
    """,
)
def etl_incremental_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """High-watermark incremental extract: pull only rows newer than
    the previous load's max timestamp.

    The watermark relation is a one-row aggregate, cross-joined
    (broadcast nested loop of a single row) so the comparison reaches
    the big scan as a runtime filter — the 100 TB shape of every
    incremental batch extract. The 'previous load' is modeled as the
    pre-2001 slice so the query is self-contained and deterministic."""
    o = load(spark, sf_dir, "orders")
    prev = (
        o.where(F.col("o_orderdate") < F.lit("2001-01-01").cast("timestamp_ntz"))
        .agg(F.max("o_orderdate").alias("high_watermark"))
    )
    return (
        o.crossJoin(F.broadcast(prev))
        .where(F.col("o_orderdate") > F.col("high_watermark"))
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    )


@query(
    "agg_mode_per_group",
    oracle="""
    WITH counted AS (
      SELECT c_mktsegment, o_orderpriority,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment, o_orderpriority
    )
    SELECT c_mktsegment, o_orderpriority AS mode_priority, n
    FROM counted
    QUALIFY row_number() OVER (PARTITION BY c_mktsegment
                               ORDER BY n DESC, o_orderpriority) = 1
    """,
)
def agg_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group mode (most frequent value, ties to the
    lexicographically smallest) via count + ranked window — the
    engine-portable formulation (`F.mode`'s tie choice is
    unspecified, so it can't be oracle-checked)."""

    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    counted = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("n").desc(), "o_orderpriority"
    )
    return (
        counted.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "c_mktsegment",
            F.col("o_orderpriority").alias("mode_priority"),
            "n",
        )
    )


@query(
    "events_top_paths",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type AS s1,
             lead(event_type, 1) OVER w AS s2,
             lead(event_type, 2) OVER w AS s3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT s1, s2, s3, CAST(COUNT(*) AS BIGINT) AS n
    FROM seq WHERE s3 IS NOT NULL
    GROUP BY s1, s2, s3
    ORDER BY n DESC, s1, s2, s3
    LIMIT 10
    """,
)
def events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Path analysis: the 10 most common 3-step event-type sequences.

    Two lead() windows per user build the sliding triple in one pass
    (shuffle on user_id), then a hash agg on the triple and a global
    top-10 via TakeOrderedAndProject. The sequence-mining primitive
    behind funnels you haven't defined yet."""

    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("s1"),
        F.lead("event_type", 1).over(w).alias("s2"),
        F.lead("event_type", 2).over(w).alias("s3"),
    )
    return (
        seq.where(F.col("s3").isNotNull())
        .groupBy("s1", "s2", "s3")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "s1", "s2", "s3")
        .limit(10)
    )


@query(
    "events_sessionize",
    oracle="""
    WITH lagged AS (
      SELECT user_id, ts, event_id,
             LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_ts
      FROM events
    ),
    flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN prev_ts IS NULL
                       OR ts > prev_ts + INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_sess
      FROM lagged
    ),
    numbered AS (
      SELECT user_id, ts,
             SUM(new_sess) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS session_id
      FROM flagged
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           MIN(ts) AS session_start, MAX(ts) AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM numbered GROUP BY user_id, session_id
    """,
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: split each user's event stream into
    sessions at >30-minute inactivity gaps (the batch twin of
    stream_session_windows, which does the same on event-time with
    watermarks).

    lag + running-sum-of-boundaries is pure window algebra: ONE
    shuffle on user_id serves both windows and the final per-session
    aggregate, because Catalyst reuses the hashpartitioning(user_id)
    exchange across all three. Ties broken by event_id so the
    session assignment is deterministic at any parallelism."""

    e = load(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    # exact interval comparison — an epoch-seconds cast truncates
    # sub-second components and misclassifies boundary gaps
    new_sess = F.when(
        prev.isNull() | (F.col("ts") > prev + F.expr("INTERVAL 30 MINUTES")),
        1,
    ).otherwise(0)
    numbered = e.withColumn("session_id", F.sum(new_sess).over(w))
    return numbered.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count("*").alias("n_events"),
    )


@query(
    "events_anomaly_zscore",
    oracle="""
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY event_type, date_trunc('day', ts)
    ),
    stats AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT)        AS n,
             CAST(SUM(cnt) AS BIGINT)        AS s,
             CAST(SUM(cnt * cnt) AS BIGINT)  AS ss
      FROM daily GROUP BY event_type
    )
    SELECT d.event_type, d.day, d.cnt,
           (CAST(d.cnt AS DOUBLE) - CAST(t.s AS DOUBLE) / t.n)
             / sqrt((CAST(t.ss AS DOUBLE)
                     - CAST(t.s AS DOUBLE) * CAST(t.s AS DOUBLE) / t.n)
                    / (t.n - 1)) AS z
    FROM daily d JOIN stats t ON d.event_type = t.event_type
    WHERE t.n > 1
      AND abs((CAST(d.cnt AS DOUBLE) - CAST(t.s AS DOUBLE) / t.n)
              / sqrt((CAST(t.ss AS DOUBLE)
                      - CAST(t.s AS DOUBLE) * CAST(t.s AS DOUBLE) / t.n)
                     / (t.n - 1))) > 2.0
    """,
)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-anomaly detection: daily event counts per type whose
    z-score against that type's own daily distribution exceeds |2|.

    The variance is computed from exact integer sums (n, Σx, Σx²) and
    only then converted to double with an expression tree written
    identically in both engines — integer partials are
    order-insensitive, so unlike stddev_samp's streaming moments the
    z-scores are bit-reproducible at any parallelism. Two shuffles
    total (daily counts, then 5-row per-type stats broadcast back)."""
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type",
        F.date_trunc("day", F.col("ts")).cast("timestamp_ntz").alias("day"),
    ).agg(F.count("*").alias("cnt"))
    stats = daily.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("cnt").alias("s"),
        F.sum(F.col("cnt") * F.col("cnt")).alias("ss"),
    )
    n, s, ss = F.col("n"), F.col("s").cast("double"), F.col("ss").cast("double")
    z = (F.col("cnt").cast("double") - s / n) / F.sqrt(
        (ss - s * s / n) / (n - F.lit(1))
    )
    return (
        daily.join(F.broadcast(stats.where(F.col("n") > 1)), "event_type")
        .withColumn("z", z)
        .where(F.abs(F.col("z")) > 2.0)
        .select("event_type", "day", "cnt", "z")
    )


@query(
    "events_markov_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events
    ),
    pairs AS (
      SELECT event_type AS from_state, next_type AS to_state,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM seq WHERE next_type IS NOT NULL
      GROUP BY event_type, next_type
    ),
    totals AS (
      SELECT from_state, CAST(SUM(n) AS BIGINT) AS tot
      FROM pairs GROUP BY from_state
    )
    SELECT p.from_state, p.to_state, p.n,
           CAST(p.n AS DOUBLE) / t.tot AS p_transition
    FROM pairs p JOIN totals t ON p.from_state = t.from_state
    """,
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over each user's event
    sequence: P(next_type | type) from observed consecutive pairs —
    the behavioural model behind next-action prediction and anomaly
    scoring on session flows.

    One shuffle on user_id for the lead() window, then a 25-cell
    aggregation; the per-state totals join is a broadcast of an
    n_states-row relation. Counts are exact integers, probabilities a
    single deterministic division."""

    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).where(F.col("next_type").isNotNull())
    pairs = seq.groupBy(
        F.col("event_type").alias("from_state"),
        F.col("next_type").alias("to_state"),
    ).agg(F.count("*").alias("n"))
    totals = pairs.groupBy("from_state").agg(F.sum("n").alias("tot"))
    return (
        pairs.join(F.broadcast(totals), "from_state")
        .select(
            "from_state",
            "to_state",
            "n",
            (F.col("n").cast("double") / F.col("tot")).alias("p_transition"),
        )
    )


@query(
    "etl_date_spine",
    oracle="""
    WITH bounds AS (
      SELECT date_trunc('day', min(ts)) AS lo, date_trunc('day', max(ts)) AS hi
      FROM events
    ),
    spine AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day
      FROM bounds
    ),
    daily AS (
      SELECT date_trunc('day', ts) AS day, CAST(COUNT(*) AS BIGINT) AS n
      FROM events WHERE event_type = 'purchase' GROUP BY date_trunc('day', ts)
    )
    SELECT s.day, CAST(COALESCE(d.n, 0) AS BIGINT) AS n_purchases
    FROM spine s LEFT JOIN daily d ON s.day = d.day
    """,
)
def etl_date_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar densification: a generated date spine LEFT-joined to
    sparse daily aggregates, so days with zero activity appear as
    explicit zero rows — the gap-fill every time-series report and
    forecasting feature pipeline needs (a missing row and a zero are
    different facts).

    The spine is sequence()+explode over the observed [min, max] day
    bounds — one row per day, driver-free, broadcastable (a decade is
    ~3,653 rows); the sparse side aggregates as usual, and the join
    broadcasts the spine. Deterministic: bounds derive from the data."""
    e = load(spark, sf_dir, "events")
    bounds = e.agg(
        F.date_trunc("day", F.min("ts")).cast("timestamp_ntz").alias("lo"),
        F.date_trunc("day", F.max("ts")).cast("timestamp_ntz").alias("hi"),
    )
    spine = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))
        ).alias("day")
    )
    daily = (
        e.where(F.col("event_type") == "purchase")
        .groupBy(
            F.date_trunc("day", F.col("ts")).cast("timestamp_ntz").alias("day")
        )
        .agg(F.count("*").alias("n"))
    )
    return (
        F.broadcast(spine)
        .join(daily, "day", "left")
        .select("day", F.coalesce("n", F.lit(0)).alias("n_purchases"))
    )


@query(
    "events_attribution_linear",
    oracle="""
    WITH purchases AS (
      SELECT user_id, event_id AS purchase_id, ts AS p_ts
      FROM events WHERE event_type = 'purchase'
    ),
    clicks AS (
      SELECT user_id, event_id AS click_id, ts AS c_ts
      FROM events WHERE event_type = 'click'
    ),
    touches AS (
      SELECT p.purchase_id, c.click_id,
             CAST(COUNT(*) OVER (PARTITION BY p.purchase_id) AS BIGINT)
               AS n_touches
      FROM purchases p JOIN clicks c
        ON p.user_id = c.user_id
       AND c.c_ts <= p.p_ts
       AND c.c_ts > p.p_ts - INTERVAL 24 HOUR
    )
    SELECT purchase_id, click_id, n_touches,
           1.0 / n_touches AS credit
    FROM touches
    """,
)
def events_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: every click in the 24 h before
    a purchase shares the conversion credit equally — the revenue-
    team workhorse between last-touch (one winner) and data-driven
    models.

    The time-window join is an equi-join on user_id with the 24 h
    range as residual — at 100 TB user_id hash-distributes it, and a
    hot user is AQE's skew problem, not a plan rewrite (see
    join_range_banded for the key-free variant). The per-purchase
    touch count is one window over the join output; credit is a
    deterministic 1/n division."""

    e = load(spark, sf_dir, "events")
    p = e.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), F.col("ts").alias("p_ts")
    )
    c = e.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("c_ts"),
    )
    # interval arithmetic directly on the timestamps: an epoch-seconds
    # cast truncates sub-second components and miscounts boundary
    # clicks (observed: one extra row at sf0.1)
    lo = F.col("p_ts") - F.expr("INTERVAL 24 HOURS")
    touches = p.join(
        c,
        (p.user_id == c.c_user)
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") > lo),
    )
    w = Window.partitionBy("purchase_id")
    return touches.select(
        "purchase_id",
        "click_id",
        F.count("*").over(w).alias("n_touches"),
    ).withColumn("credit", F.lit(1.0) / F.col("n_touches"))


@query(
    "events_peak_concurrency",
    oracle="""
    WITH iv AS (
      SELECT event_type,
             CAST(ts AS TIMESTAMP) AS s,
             CAST(ts AS TIMESTAMP)
               + to_seconds(1 + (CAST(floor(value) AS BIGINT) % 3600)) AS e
      FROM events WHERE value IS NOT NULL
    ), pts AS (
      SELECT event_type, s AS t, 1 AS prio, CAST(1 AS BIGINT) AS delta FROM iv
      UNION ALL
      SELECT event_type, e AS t, 0 AS prio, CAST(-1 AS BIGINT) AS delta FROM iv
    ), merged AS (
      SELECT event_type, t, prio, SUM(delta) AS net
      FROM pts GROUP BY event_type, t, prio
    ), running AS (
      SELECT event_type, t,
             SUM(net) OVER (PARTITION BY event_type ORDER BY t, prio
                            ROWS UNBOUNDED PRECEDING) AS cur
      FROM merged
    )
    SELECT event_type,
           CAST(date_trunc('day', t) AS TIMESTAMP) AS day,
           CAST(MAX(cur) AS BIGINT) AS peak_concurrency
    FROM running GROUP BY 1, 2
    """,
)
def events_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line peak concurrency: each event opens a bounded interval
    (1..3600 s derived from its value), and the peak number of
    simultaneously-open intervals per (event_type, day) falls out of a
    +1/−1 running sum over the merged endpoint stream — the classic
    interval-overlap counting shape (no interval self-join, no
    per-second explode).

    Determinism at shared timestamps: endpoints are PRE-AGGREGATED per
    (type, t, priority) with half-open semantics — closes (priority 0)
    apply before opens (priority 1) — so the running sum visits one
    deterministic value sequence regardless of row order or
    partitioning. One window partitioned by event_type. At 100 TB a
    per-type partition is unbounded; the scale variant is a segmented
    sweep — window on (type, day), plus a carry-in per day computed as
    opens-minus-closes of prior days (one extra groupBy; exact here
    because durations are bounded ≤ 1 h, so only the previous day can
    carry in)."""
    # value IS NOT NULL: an event without a value has no defined
    # duration, so it cannot open a measurable interval — and a NULL
    # interval end would otherwise sort to OPPOSITE ends of the sweep
    # in the two engines (Spark NULLS FIRST, DuckDB NULLS LAST),
    # corrupting the running count differently in each (null-events
    # gate catch, round 6).
    e = load(spark, sf_dir, "events").where(F.col("value").isNotNull())
    # Duration is defined ONCE and the interval end is built from it —
    # a duplicate inline expression could silently drift.
    dur = 1 + (F.floor("value").cast("bigint") % 3600)
    iv = e.select(
        "event_type",
        F.col("ts").alias("s"),
        F.timestamp_add("SECOND", dur, F.col("ts")).alias("e"),
    )
    pts = iv.select(
        "event_type", F.col("s").alias("t"), F.lit(1).alias("prio"),
        F.lit(1).cast("bigint").alias("delta"),
    ).unionByName(
        iv.select(
            "event_type", F.col("e").alias("t"), F.lit(0).alias("prio"),
            F.lit(-1).cast("bigint").alias("delta"),
        )
    )
    merged = pts.groupBy("event_type", "t", "prio").agg(
        F.sum("delta").alias("net")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("t", "prio")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    running = merged.select(
        "event_type", "t", F.sum("net").over(w).alias("cur")
    )
    return (
        running.groupBy(
            "event_type",
            F.date_trunc("day", F.col("t")).cast("timestamp_ntz").alias("day"),
        )
        .agg(F.max("cur").alias("peak_concurrency"))
    )


@query(
    "orders_rfm",
    oracle="""
    WITH per_cust AS (
      SELECT o_custkey,
             date_diff('day', MAX(CAST(o_orderdate AS TIMESTAMP)),
                       (SELECT MAX(CAST(o_orderdate AS TIMESTAMP)) FROM orders)
             ) AS recency_days,
             CAST(COUNT(*) AS BIGINT) AS frequency,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
               AS monetary
      FROM orders GROUP BY o_custkey
    )
    SELECT o_custkey, CAST(recency_days AS BIGINT) AS recency_days,
           frequency, monetary,
           CAST(ntile(5) OVER (ORDER BY recency_days ASC, o_custkey)
                AS BIGINT) AS r_quintile,
           CAST(ntile(5) OVER (ORDER BY frequency DESC, o_custkey)
                AS BIGINT) AS f_quintile,
           CAST(ntile(5) OVER (ORDER BY monetary DESC, o_custkey)
                AS BIGINT) AS m_quintile
    FROM per_cust
    """,
)
def orders_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per-customer recency (days since last order,
    against the corpus max date), frequency, monetary, each cut into
    quintiles with a deterministic tiebreak (custkey).

    The monetary sum goes through the DECIMAL detour for engine-exact
    totals. The three ntile windows are global (unpartitioned) — fine
    for a customer-grain relation (orders-of-magnitude smaller than
    fact tables); at true 100 TB customer counts, swap ntile for
    percent_rank over approx-quantile boundaries."""
    o = load(spark, sf_dir, "orders")
    max_date = o.agg(F.max("o_orderdate").alias("max_d"))
    per_cust = (
        o.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_d"),
            F.count("*").alias("frequency"),
            F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
            .cast("double")
            .alias("monetary"),
        )
        .crossJoin(F.broadcast(max_date))
        .select(
            "o_custkey",
            F.datediff(F.col("max_d"), F.col("last_d"))
            .cast("bigint")
            .alias("recency_days"),
            "frequency",
            "monetary",
        )
    )
    wr = Window.orderBy(F.col("recency_days").asc(), "o_custkey")
    wf = Window.orderBy(F.col("frequency").desc(), "o_custkey")
    wm = Window.orderBy(F.col("monetary").desc(), "o_custkey")
    return per_cust.select(
        "o_custkey",
        "recency_days",
        "frequency",
        "monetary",
        F.ntile(5).over(wr).cast("bigint").alias("r_quintile"),
        F.ntile(5).over(wf).cast("bigint").alias("f_quintile"),
        F.ntile(5).over(wm).cast("bigint").alias("m_quintile"),
    )


@query(
    "events_ab_lift",
    oracle="""
    WITH ranked AS (
      SELECT user_id % 2 AS variant, user_id, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts NULLS FIRST,
                                         event_id NULLS FIRST) AS rn
      FROM events
    ), u AS (
      SELECT variant, user_id,
             MAX(CASE WHEN rn <= 5 AND event_type = 'purchase'
                      THEN 1 ELSE 0 END) AS conv
      FROM ranked GROUP BY variant, user_id
    ), s AS (
      SELECT variant, CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(conv) AS BIGINT) AS n_conv
      FROM u GROUP BY variant
    ), wide AS (
      SELECT MAX(CASE WHEN variant = 0 THEN n_users END) AS n0,
             MAX(CASE WHEN variant = 0 THEN n_conv END) AS c0,
             MAX(CASE WHEN variant = 1 THEN n_users END) AS n1,
             MAX(CASE WHEN variant = 1 THEN n_conv END) AS c1
      FROM s
    )
    SELECT n0, c0, n1, c1,
           CAST((c0 * 1000000) // n0 AS BIGINT) AS rate0_ppm,
           CAST((c1 * 1000000) // n1 AS BIGINT) AS rate1_ppm,
           CAST((c1 * 1000000) // n1 - (c0 * 1000000) // n0 AS BIGINT)
             AS lift_ppm,
           CASE WHEN c0 + c1 > 0 AND c0 + c1 < n0 + n1 THEN
             CAST(floor(
               ((CAST(c1 AS DOUBLE) / n1 - CAST(c0 AS DOUBLE) / n0)
                / sqrt((CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                       * (1 - CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                       * (CAST(1 AS DOUBLE) / n0 + CAST(1 AS DOUBLE) / n1)))
               * 1000000) AS BIGINT)
           END AS z_micro
    FROM wide
    """,
)
def events_ab_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample A/B conversion readout: users split into variants by
    a deterministic hash-stand-in (user_id parity), conversion defined
    as "purchased within the user's first five events" (an activation
    metric — raw ever-purchased saturates to 100% on a dense event
    stream), per-variant exposed/converted counts, rates and lift in
    exact integer ppm, and the pooled two-proportion z-statistic
    quantized to micro-units — the experiment-analysis query every
    product pipeline batch-computes next to funnels and retention.

    Determinism: counts are bigints; the z-statistic's divisions,
    sqrt, and multiply are IEEE-correctly-rounded operations on values
    derived from those bigints through an identical expression tree,
    so both engines produce the same double bit pattern and the same
    floored micro value. Degenerate pools (zero or total conversion)
    yield NULL z on both sides instead of a 0/0 — ANSI Spark raises on
    the division where DuckDB emits NaN, so the guard is required for
    cross-engine agreement, not just taste. Scale shape: one per-user
    window (single shuffle on user_id, codegen'd top-5 frame), one
    2-row variant rollup, one single-row pivot."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc_nulls_first(), F.col("event_id").asc_nulls_first()
    )
    ranked = e.select(
        (F.col("user_id") % 2).alias("variant"),
        "user_id",
        "event_type",
        F.row_number().over(w).alias("rn"),
    )
    u = ranked.groupBy("variant", "user_id").agg(
        F.max(
            F.when(
                (F.col("rn") <= 5) & (F.col("event_type") == "purchase"), 1
            ).otherwise(0)
        ).alias("conv")
    )
    s = u.groupBy("variant").agg(
        F.count("*").alias("n_users"), F.sum("conv").alias("n_conv")
    )
    wide = s.agg(
        F.max(F.when(F.col("variant") == 0, F.col("n_users"))).alias("n0"),
        F.max(F.when(F.col("variant") == 0, F.col("n_conv"))).alias("c0"),
        F.max(F.when(F.col("variant") == 1, F.col("n_users"))).alias("n1"),
        F.max(F.when(F.col("variant") == 1, F.col("n_conv"))).alias("c1"),
    )
    return wide.select(
        "n0",
        "c0",
        "n1",
        "c1",
        F.expr("CAST((c0 * 1000000) DIV n0 AS BIGINT)").alias("rate0_ppm"),
        F.expr("CAST((c1 * 1000000) DIV n1 AS BIGINT)").alias("rate1_ppm"),
        F.expr(
            "CAST((c1 * 1000000) DIV n1 - (c0 * 1000000) DIV n0 AS BIGINT)"
        ).alias("lift_ppm"),
        F.expr(
            "CASE WHEN c0 + c1 > 0 AND c0 + c1 < n0 + n1 THEN"
            " CAST(floor("
            "  ((CAST(c1 AS DOUBLE) / n1 - CAST(c0 AS DOUBLE) / n0)"
            "   / sqrt((CAST(c0 + c1 AS DOUBLE) / (n0 + n1))"
            "          * (1 - CAST(c0 + c1 AS DOUBLE) / (n0 + n1))"
            "          * (CAST(1 AS DOUBLE) / n0 + CAST(1 AS DOUBLE) / n1)))"
            "  * 1000000) AS BIGINT)"
            " END"
        ).alias("z_micro"),
    )


@query(
    "events_anomaly_mad",
    oracle="""
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY event_type, date_trunc('day', ts)
    ),
    ranked AS (
      SELECT event_type, day, cnt,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY cnt, day) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM daily
    ),
    med AS (
      SELECT event_type,
             CAST(SUM(cnt) AS DOUBLE) / COUNT(*) AS med
      FROM ranked
      WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2
      GROUP BY event_type
    ),
    dev AS (
      SELECT d.event_type, d.day, d.cnt, m.med,
             abs(CAST(d.cnt AS DOUBLE) - m.med) AS dev
      FROM daily d JOIN med m ON d.event_type = m.event_type
    ),
    rdev AS (
      SELECT event_type, day, cnt, med, dev,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY dev, day) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM dev
    ),
    mad AS (
      SELECT event_type, SUM(dev) / COUNT(*) AS mad
      FROM rdev
      WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2
      GROUP BY event_type
    )
    SELECT d.event_type, d.day, d.cnt, d.med, a.mad
    FROM dev d JOIN mad a ON d.event_type = a.event_type
    WHERE d.dev > 3 * a.mad
    """,
)
def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust volume-anomaly detection: daily counts whose absolute
    deviation from their type's MEDIAN exceeds 3× the median absolute
    deviation — the outlier rule that, unlike the z-score twin above,
    is not itself dragged by the outliers it hunts.

    Both medians are EXACT rank picks, not approximations: row_number
    over (value, day) + the two middle ranks averaged — PERCENTILE_CONT
    semantics in integer/half/quarter-exact doubles (counts are ints,
    so med is *.0/*.5, devs *.5-exact, mad *.25-exact; every comparison
    is bit-deterministic in both engines; the day tie-break makes rank
    assignment total). When MAD is 0 — over half the days identical —
    any deviating day flags, the textbook degenerate case.

    Scale design: the raw event stream collapses to (type, day) counts
    in the FIRST aggregation — everything after runs on that bounded
    relation (days × types), so the rank windows are small no matter
    the event volume; per-type medians/MADs broadcast back. This is
    why the exact-median rule is scale-safe here while a whole-corpus
    exact median would not be (agg_percentile_exact_distributed is
    the two-pass answer there)."""
    e = load(spark, sf_dir, "events")
    daily = (
        e.groupBy(
            "event_type",
            F.date_trunc("day", F.col("ts"))
            .cast("timestamp_ntz")
            .alias("day"),
        )
        .agg(F.count("*").alias("cnt"))
        # the med/dev/mad stages reference this relation four times;
        # without materialization each reference re-scans raw events
        # (measured: 4 scans, no ReusedExchange). The checkpoint pins
        # the BOUNDED (days × types) relation so events is read once —
        # the same lineage-cut pagerank uses
        .transform(stable_checkpoint)
    )
    wt = Window.partitionBy("event_type")

    def _median_of(df: DataFrame, col: str, out: str) -> DataFrame:
        ranked = df.withColumn(
            "rn", F.row_number().over(wt.orderBy(col, "day"))
        ).withColumn("n", F.count("*").over(wt))
        pick = (F.col("rn") == F.floor((F.col("n") + 1) / 2)) | (
            F.col("rn") == F.floor((F.col("n") + 2) / 2)
        )
        return (
            ranked.where(pick)
            .groupBy("event_type")
            .agg(
                (F.sum(F.col(col)).cast("double") / F.count("*")).alias(out)
            )
        )

    med = _median_of(daily, "cnt", "med")
    dev = daily.join(F.broadcast(med), "event_type").withColumn(
        "dev", F.abs(F.col("cnt").cast("double") - F.col("med"))
    )
    mad = _median_of(dev, "dev", "mad")
    return (
        dev.join(F.broadcast(mad), "event_type")
        .where(F.col("dev") > 3 * F.col("mad"))
        .select("event_type", "day", "cnt", "med", "mad")
    )


@query(
    "events_time_weighted_avg",
    oracle=f"""
    WITH us AS (
      SELECT event_type, value,
             epoch_us(lead(ts) OVER (PARTITION BY event_type, user_id
                                     ORDER BY ts, event_id, value)) AS a_us,
             epoch_us(ts) AS b_us
      FROM events
      WHERE ts IS NOT NULL AND value IS NOT NULL
    ), seq AS (
      SELECT event_type, value,
             {sql_floor_div('a_us', 1_000_000, '//')}
               - {sql_floor_div('b_us', 1_000_000, '//')} AS dur
      FROM us
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_intervals,
           CAST(SUM(dur) AS BIGINT) AS total_seconds,
           CAST(SUM(CAST(value AS DECIMAL(14,2)) * dur) AS DOUBLE)
             / SUM(dur) AS twap
    FROM seq WHERE dur IS NOT NULL AND dur > 0
    GROUP BY event_type
    """,
)
def events_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per event type — the IoT/markets
    aggregate a plain AVG gets wrong: each reading holds until the
    next one in ITS OWN (type, user) stream, so its weight is that
    interval's duration in seconds (the piecewise-constant integral ÷
    total covered time). Final readings (no successor) and zero-gap
    duplicates carry no time and drop out identically on both
    engines.

    Engine-exactness: durations are whole-second differences of
    FLOORED epoch marks — sql_floor_div on both engines: Spark's
    floor(µs/1e6) floors but DuckDB's // truncates, which split by
    ±1 s on pre-1970 epochs (extreme-timestamp sweep), and the double
    detour is inexact past 2^53 µs anyway — off a deterministic
    (ts, event_id) order; value terminates at 2
    decimals, so value·dur is exact at DECIMAL scale 2 (summed at
    (24,2) — magnitudes: |value| ≤ ~1e2, dur ≤ weeks ≈ 1e6 s, so
    per-row products stay ≤ 1e8 and corpus sums far under the
    decimal→double 2^53 exactness edge); one deterministic double
    division at the end. The stream order tiebreaks on (ts, event_id,
    value): duplicated event_ids sharing one ts (at-least-once
    ingestion, round-9 sweep) otherwise leave WHICH payload carries
    the interval engine-dependent — with value in the key the order
    is total, and rows identical in all three are interchangeable.

    Scale design: one shuffle on (event_type, user_id) for the lead
    window (per-stream ordering — the partition key every event-time
    pipeline already clusters by), then a partial+final aggregation
    on event_type; the shuffle after the window carries |types| rows
    per task."""
    e = load(spark, sf_dir, "events").where(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    w = Window.partitionBy("event_type", "user_id").orderBy(
        "ts", "event_id", "value"
    )
    # ntz→ltz cast is numerically a no-op under the session's
    # pinned UTC (session.py) — unix_micros rejects ntz input
    us = e.select(
        "event_type",
        "value",
        F.unix_micros(F.lead("ts").over(w).cast("timestamp")).alias("a_us"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("b_us"),
    )
    seq = us.select(
        "event_type",
        "value",
        F.expr(
            sql_floor_div("a_us", 1_000_000, "div")
            + " - "
            + sql_floor_div("b_us", 1_000_000, "div")
        ).alias("dur"),
    ).where(F.col("dur").isNotNull() & (F.col("dur") > 0))
    return seq.groupBy("event_type").agg(
        F.count("*").alias("n_intervals"),
        F.sum("dur").alias("total_seconds"),
        (
            F.sum(F.col("value").cast("decimal(14,2)") * F.col("dur"))
            .cast("double")
            / F.sum("dur")
        ).alias("twap"),
    )


@query(
    "events_ohlc_resample",
    oracle=f"""
    WITH us AS (
      SELECT event_type, ts, event_id, value, epoch_us(ts) AS t_us
      FROM events
      WHERE ts IS NOT NULL AND value IS NOT NULL AND event_type IS NOT NULL
    ), q AS (
      SELECT event_type,
             {sql_floor_div(sql_floor_div('t_us', 1_000_000, '//'),
                            3600, '//')} * 3600 AS bucket_s,
             ts, event_id,
             CAST(floor(value * 1000000) AS BIGINT) AS qv
      FROM us
    ), r AS (
      SELECT *,
             row_number() OVER w AS rn,
             COUNT(*) OVER (PARTITION BY event_type, bucket_s) AS n_part
      FROM q
      WINDOW w AS (PARTITION BY event_type, bucket_s
                   ORDER BY ts, event_id, qv)
    )
    SELECT event_type, bucket_s,
           MAX(CASE WHEN rn = 1 THEN qv END) AS open_micro,
           MAX(qv) AS high_micro,
           MIN(qv) AS low_micro,
           MAX(CASE WHEN rn = n_part THEN qv END) AS close_micro,
           CAST(COUNT(*) AS BIGINT) AS n_ticks,
           CAST(SUM(qv) AS BIGINT) AS volume_micro
    FROM r GROUP BY 1, 2
    """,
)
def events_ohlc_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC downsampling — the canonical time-series resample
    (finance candles, metrics rollups): per (event_type, hour),
    open/high/low/close of the value stream plus tick count and
    volume. This is the compaction step that turns a raw 100 TB tick
    stream into a dashboard-sized table while preserving the extremes
    a plain AVG rollup erases.

    Exactness: values are micro-quantized bigints (identical floor on
    both engines), buckets are integer epoch-hour marks computed with
    sql_floor_div on both engines (truncating // shifted a pre-1970
    bucket a whole hour off Spark's floor — extreme-timestamp sweep;
    no timestamp types cross the compare boundary), and
    open/close are rank-picked (first/last by (ts, event_id, qv))
    rather than arg-min'd, so ties are deterministic — including the
    duplicated-event shape (same event_id AND ts, different payload:
    round-9 sweep) where the (ts, event_id) prefix alone left the
    open/close pick engine-dependent.

    Scale design: ONE exchange on (event_type, bucket_s) — the
    row_number and partition-count windows and the final aggregation
    all share it (the groupBy keys equal the window partition keys, so
    Catalyst reuses the partitioning); the output is |types|×|hours|
    rows, the classic 10⁶× reduction. NULL payloads and NULL types are
    excluded symmetrically (an OHLC bar of nothing is no bar)."""
    e = load(spark, sf_dir, "events").where(
        F.col("ts").isNotNull()
        & F.col("value").isNotNull()
        & F.col("event_type").isNotNull()
    )
    us = e.select(
        "event_type",
        "ts",
        "event_id",
        "value",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t_us"),
    )
    q = us.select(
        "event_type",
        (
            F.expr(
                sql_floor_div(
                    sql_floor_div("t_us", 1_000_000, "div"), 3600, "div"
                )
            )
            * 3600
        ).cast("long").alias("bucket_s"),
        "ts",
        "event_id",
        F.floor(F.col("value") * 1_000_000).cast("long").alias("qv"),
    )
    w = Window.partitionBy("event_type", "bucket_s").orderBy(
        "ts", "event_id", "qv"
    )
    wp = Window.partitionBy("event_type", "bucket_s")
    r = q.select(
        "event_type",
        "bucket_s",
        "qv",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wp).alias("n_part"),
    )
    return r.groupBy("event_type", "bucket_s").agg(
        F.max(F.when(F.col("rn") == 1, F.col("qv"))).alias("open_micro"),
        F.max("qv").alias("high_micro"),
        F.min("qv").alias("low_micro"),
        F.max(F.when(F.col("rn") == F.col("n_part"), F.col("qv"))).alias(
            "close_micro"
        ),
        F.count("*").alias("n_ticks"),
        F.sum("qv").alias("volume_micro"),
    )


# ---------------------------------------------------------------------------
# events_attribution_markov — removal-effect multi-touch attribution
# ---------------------------------------------------------------------------

MARKOV_ITERS = 16  # absorbing-chain power iterations (ppm fixed point)
_MK_START, _MK_CONV, _MK_NOCONV = "__start__", "__conv__", "__noconv__"
_MK_NONE = "__none__"  # the no-removal (full-chain) variant


_MARKOV_PAIRS_SQL = f"""
    ev0 AS (
      SELECT user_id, event_type,
             CASE WHEN event_type = 'purchase'
                  THEN '{_MK_CONV}' ELSE event_type END AS state,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
      WHERE ts IS NOT NULL AND event_type IS NOT NULL
    ),
    ev AS (
      SELECT user_id, state, rn,
             MIN(CASE WHEN event_type = 'purchase' THEN rn END)
               OVER (PARTITION BY user_id) AS conv_rn
      FROM ev0
    ),
    kept AS (
      SELECT user_id, state,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY rn) AS krn,
             COUNT(*) OVER (PARTITION BY user_id) AS n_kept
      FROM ev WHERE rn <= COALESCE(conv_rn, 9223372036854775807)
    ),
    steps AS (
      SELECT user_id, state, krn, n_kept,
             LEAD(state) OVER (PARTITION BY user_id ORDER BY krn)
               AS next_state
      FROM kept
    ),
    raw_pairs AS (
      SELECT '{_MK_START}' AS from_state, state AS to_state
      FROM steps WHERE krn = 1
      UNION ALL
      SELECT state, next_state FROM steps WHERE next_state IS NOT NULL
      UNION ALL
      SELECT state, '{_MK_NOCONV}' FROM steps
      WHERE krn = n_kept AND state <> '{_MK_CONV}'
    ),
    pairs AS (
      SELECT from_state, to_state, CAST(COUNT(*) AS BIGINT) AS n
      FROM raw_pairs GROUP BY 1, 2
    ),
    ppm AS MATERIALIZED (
      SELECT from_state, to_state,
             (n * 1000000) // SUM(n) OVER (PARTITION BY from_state)
               AS p_ppm
      FROM pairs
    )
"""


# The oracle's CTEs are MATERIALIZED: inlined, each v{t} re-expands
# every earlier iteration and the ppm journey build beneath it, and
# DuckDB 1.0 spends ~50 s on the 4-row result at sf0.01 on 4 cores
# (0.4 s materialized, same rows).
def _markov_oracle() -> str:
    its = []
    prev = "v0"
    for t in range(1, MARKOV_ITERS + 1):
        its.append(f"""
    v{t} AS MATERIALIZED (
      SELECT vr.removed, p.from_state AS state,
             CAST(SUM(p.p_ppm *
               CASE WHEN p.to_state = '{_MK_CONV}' THEN 1000000
                    WHEN p.to_state = '{_MK_NOCONV}' THEN 0
                    ELSE COALESCE(pv.v, 0) END) // 1000000 AS BIGINT) AS v
      FROM variants vr
      JOIN ppm p
        ON p.from_state <> vr.removed AND p.to_state <> vr.removed
      LEFT JOIN {prev} pv
        ON pv.removed = vr.removed AND pv.state = p.to_state
      GROUP BY 1, 2
    )""")
        prev = f"v{t}"
    iters_sql = ",".join(its)
    return f"""
    WITH {_MARKOV_PAIRS_SQL},
    channels AS (
      SELECT DISTINCT from_state AS ch FROM pairs
      WHERE from_state NOT IN ('{_MK_START}', '{_MK_CONV}')
    ),
    variants AS (
      SELECT ch AS removed FROM channels
      UNION ALL SELECT '{_MK_NONE}'
    ),
    v0 AS MATERIALIZED (
      SELECT vr.removed, p.from_state AS state, CAST(0 AS BIGINT) AS v
      FROM variants vr JOIN ppm p
        ON p.from_state <> vr.removed AND p.to_state <> vr.removed
      GROUP BY 1, 2
    ),{iters_sql},
    conv AS (
      SELECT vr.removed, COALESCE(pv.v, 0) AS p_conv_ppm
      FROM variants vr
      LEFT JOIN {prev} pv
        ON pv.removed = vr.removed AND pv.state = '{_MK_START}'
    )
    SELECT c.ch AS channel,
           pa.p_conv_ppm AS p_conv_all_ppm,
           pw.p_conv_ppm AS p_conv_without_ppm,
           CASE WHEN pa.p_conv_ppm > 0 THEN
             1000000 - (pw.p_conv_ppm * 1000000) // pa.p_conv_ppm
           END AS removal_effect_ppm
    FROM channels c
    JOIN conv pw ON pw.removed = c.ch
    CROSS JOIN (SELECT p_conv_ppm FROM conv
                WHERE removed = '{_MK_NONE}') pa
    """


def _markov_ppm_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DISTRIBUTED half of events_attribution_markov: journey
    build (one user_id exchange shared by row_number / per-user cut /
    lead / last-touch detection) reduced to the transition-ppm
    relation — ≤ (|channels|+3)² rows. The attribution key collects
    this tiny relation for the driver-side chain solve; the plan
    tests assert THIS relation's shape (the key's own return value is
    a local relation by design)."""
    e = load(spark, sf_dir, "events").where(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wu = Window.partitionBy("user_id")
    ev = e.select(
        "user_id",
        F.when(F.col("event_type") == "purchase", F.lit(_MK_CONV))
        .otherwise(F.col("event_type"))
        .alias("state"),
        F.row_number().over(w).alias("rn"),
        F.min(
            F.when(
                F.col("event_type") == "purchase", F.row_number().over(w)
            )
        )
        .over(wu)
        .alias("conv_rn"),
    )
    kept = ev.where(
        F.col("rn") <= F.coalesce(F.col("conv_rn"), F.lit(2**63 - 1))
    )
    wk = Window.partitionBy("user_id").orderBy("rn")
    steps = kept.select(
        "state",
        F.row_number().over(wk).alias("krn"),
        F.count("*").over(wu.rowsBetween(Window.unboundedPreceding,
                                         Window.unboundedFollowing)).alias("n_kept"),
        F.lead("state").over(wk).alias("next_state"),
    )
    # every row emits its 0-3 pairs IN-ROW (first-touch, step,
    # last-touch) via one array+filter+explode — the window chain over
    # the corpus is evaluated once, not once per union branch
    raw = steps.select(
        F.explode(
            F.filter(
                F.array(
                    F.when(
                        F.col("krn") == 1,
                        F.struct(
                            F.lit(_MK_START).alias("from_state"),
                            F.col("state").alias("to_state"),
                        ),
                    ),
                    F.when(
                        F.col("next_state").isNotNull(),
                        F.struct(
                            F.col("state").alias("from_state"),
                            F.col("next_state").alias("to_state"),
                        ),
                    ),
                    F.when(
                        (F.col("krn") == F.col("n_kept"))
                        & (F.col("state") != _MK_CONV),
                        F.struct(
                            F.col("state").alias("from_state"),
                            F.lit(_MK_NOCONV).alias("to_state"),
                        ),
                    ),
                ),
                lambda x: x.isNotNull(),
            )
        ).alias("e")
    ).select(
        F.col("e.from_state").alias("from_state"),
        F.col("e.to_state").alias("to_state"),
    )
    pairs = raw.groupBy("from_state", "to_state").agg(F.count("*").alias("n"))
    return pairs.select(
        "from_state",
        "to_state",
        F.expr("(n * 1000000) div sum(n) OVER (PARTITION BY from_state)").alias(
            "p_ppm"
        ),
    )


@query("events_attribution_markov", oracle=_markov_oracle())
def events_attribution_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov removal-effect multi-touch attribution — the
    data-driven alternative to the linear/last-touch heuristics
    (events_attribution_linear): model each user's pre-conversion
    journey as a first-order absorbing Markov chain (START → channels
    → CONV/NOCONV), then score channel c by how much the chain's
    conversion probability drops when c is removed (transitions into
    a removed channel become non-converting).

    Engine-exactness: journeys truncate at the FIRST purchase per
    user (row-number cut over a deterministic (ts, event_id) order),
    transition probabilities are floored integer ppm, and the
    absorbing-chain solve runs MARKOV_ITERS fixed-point iterations in
    pure bigint ppm arithmetic (sum before floor-divide each round) —
    the oracle unrolls the IDENTICAL iterations as chained CTEs, the
    same fixed-point-integer pattern graph_pagerank proves. NULL
    event types are excluded symmetrically.

    Scale design: everything corpus-sized is distributed — the
    journey build is ONE user_id exchange (row_number + lead + the
    per-user cut share it) and the pair counts are a partial+final
    aggregation whose output is ≤ (|channels|+3)² rows. The chain
    solve itself runs on the DRIVER over that collected ppm matrix
    (a documented bounded collect, same class as the k-means
    centroid round-trips: |channels| is a property of the event
    vocabulary, not the corpus — distributing a ≤dozens-row
    matrix-vector loop would be pure overhead). Results re-enter
    Spark as a |channels|-row local relation."""
    ppm_rows = _markov_ppm_df(spark, sf_dir).collect()
    # bounded: <= (|channels|+3)^2 rows (see docstring)

    ppm = {(r.from_state, r.to_state): r.p_ppm for r in ppm_rows}
    channels = sorted(
        {s for s, _ in ppm} - {_MK_START, _MK_CONV}
    )

    def solve(removed: str) -> int:
        trans = {
            (s, t): p
            for (s, t), p in ppm.items()
            if s != removed and t != removed
        }
        states = {s for s, _ in trans}
        v = {s: 0 for s in states}
        for _ in range(MARKOV_ITERS):
            nxt = {}
            for s in states:
                acc = 0
                for (fs, ts_), p in trans.items():
                    if fs != s:
                        continue
                    if ts_ == _MK_CONV:
                        acc += p * 1_000_000
                    elif ts_ == _MK_NOCONV:
                        acc += 0
                    else:
                        acc += p * v.get(ts_, 0)
                nxt[s] = acc // 1_000_000
            v = nxt
        return v.get(_MK_START, 0)

    p_all = solve(_MK_NONE)
    rows = []
    for c in channels:
        p_wo = solve(c)
        removal = (
            1_000_000 - (p_wo * 1_000_000) // p_all if p_all > 0 else None
        )
        rows.append((c, p_all, p_wo, removal))
    # round 16: JVM literal relation, not createDataFrame (see
    # exprs.literal_rows_df)
    return literal_rows_df(
        spark,
        rows,
        "channel string, p_conv_all_ppm long, p_conv_without_ppm long,"
        " removal_effect_ppm long",
    )


@query(
    "orders_cohort_ltv",
    oracle="""
    WITH o AS (
      SELECT o_custkey, o_orderdate, o_totalprice,
             CAST(date_trunc('month',
               MIN(o_orderdate) OVER (PARTITION BY o_custkey))
               AS TIMESTAMP) AS cohort_month,
             CAST(date_trunc('month', o_orderdate) AS TIMESTAMP)
               AS order_month
      FROM orders
    ), agg AS (
      SELECT cohort_month,
             CAST(date_diff('month', cohort_month, order_month) AS BIGINT)
               AS month_offset,
             CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_active,
             SUM(CAST(o_totalprice AS DECIMAL(24,6))) AS rev_dec
      FROM o GROUP BY 1, 2
    )
    SELECT cohort_month, month_offset, n_active,
           CAST(rev_dec AS DOUBLE) AS revenue,
           CAST(SUM(rev_dec) OVER (
             PARTITION BY cohort_month ORDER BY month_offset) AS DOUBLE)
             AS ltv_to_date
    FROM agg
    """,
)
def orders_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime value — the revenue companion to
    events_retention's activity matrix: customers grouped by
    first-order month, per month-offset active count, period revenue
    and RUNNING LTV (cumulative revenue to date per cohort) — the
    table every growth/payback analysis starts from.

    Engine-exactness: period revenue sums ride the DECIMAL detour
    (exprs.py); the running LTV accumulates the DECIMAL column inside
    the window (order-insensitive exact addition) and casts to double
    only at the output boundary, so the cumulative row is as
    bit-stable as the period row. Month offsets are calendar
    month-diffs of month-truncated dates — identical integers on both
    engines.

    Scale design: one o_custkey exchange for the cohort window, one
    (cohort, offset) aggregation (partial+final; distinct-actives
    shuffles near-unique keys and partial-aggregates away), then the
    cumulative window runs over the ≤ |months|² aggregate — tiny by
    construction."""
    o = load(spark, sf_dir, "orders")
    wc = Window.partitionBy("o_custkey")
    base = o.select(
        "o_custkey",
        "o_totalprice",
        F.date_trunc("month", F.min("o_orderdate").over(wc))
        .cast("timestamp_ntz")
        .alias("cohort_month"),
        F.date_trunc("month", F.col("o_orderdate"))
        .cast("timestamp_ntz")
        .alias("order_month"),
    )
    agg = base.groupBy(
        "cohort_month",
        F.months_between("order_month", "cohort_month")
        .cast("bigint")
        .alias("month_offset"),
    ).agg(
        F.countDistinct("o_custkey").alias("n_active"),
        F.sum(F.col("o_totalprice").cast("decimal(24,6)")).alias("rev_dec"),
    )
    wl = (
        Window.partitionBy("cohort_month")
        .orderBy("month_offset")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return agg.select(
        "cohort_month",
        "month_offset",
        "n_active",
        F.col("rev_dec").cast("double").alias("revenue"),
        F.sum("rev_dec").over(wl).cast("double").alias("ltv_to_date"),
    )


@query(
    "agg_gini_segment",
    oracle="""
    WITH cust_rev AS (
      SELECT c.c_mktsegment, c.c_custkey,
             CAST(SUM(CAST(floor(o.o_totalprice * 100) AS BIGINT))
               AS BIGINT) AS cents
      FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    ), ranked AS (
      SELECT c_mktsegment, cents,
             CAST(row_number() OVER (PARTITION BY c_mktsegment
               ORDER BY cents, c_custkey) AS BIGINT) AS i
      FROM cust_rev
    )
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(cents) AS BIGINT) AS total_cents,
           CAST((2 * SUM(i * cents) - (COUNT(*) + 1) * SUM(cents)) * 1000000
             // (COUNT(*) * SUM(cents)) AS BIGINT) AS gini_ppm
    FROM ranked GROUP BY c_mktsegment
    """,
)
def agg_gini_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration per market segment as an exact-integer
    Gini coefficient — the inequality metric behind "does 20% of the
    base drive 80% of revenue", computed from the rank formula
    G = (2·Σi·xᵢ − (n+1)·Σx) / (n·Σx) over ascending-sorted customer
    revenue (ties ranked by custkey, so the statistic is
    deterministic despite the rank-based formulation).

    Exactness: revenues quantize to bigint cents (identical floor on
    both engines), every sum is a bigint, and the coefficient is one
    truncating integer division to ppm — no float crosses the
    boundary. Magnitudes: Σi·x ≤ n·max_cents·n ≈ 3e16 at sf0.1's
    largest segment, well inside bigint.

    Scale design: per-customer revenue is a partial+final aggregation
    on o_custkey; ranking partitions by SEGMENT — a fixed small key
    set, so each window task sorts |customers|/|segments| rows (the
    documented whole-partition-sort caveat every per-group rank
    shares; at 100 TB swap in the two-pass chunk-offset rank of
    agg_percentile_exact_distributed, same formula) — and the final
    aggregation reduces to |segments| rows."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    cust_rev = (
        c.join(o, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment", "c_custkey")
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias(
                "cents"
            )
        )
    )
    w = Window.partitionBy("c_mktsegment").orderBy("cents", "c_custkey")
    ranked = cust_rev.select(
        "c_mktsegment",
        "cents",
        F.row_number().over(w).cast("long").alias("i"),
    )
    return ranked.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_customers"),
        F.sum("cents").alias("total_cents"),
        F.expr(
            # DECIMAL(38,0) intermediates: Σi·x overflows bigint past
            # ~sf10 (i and x both grow with the segment), and DuckDB's
            # SUM(BIGINT) is 128-bit HUGEINT — the decimal detour keeps
            # the two sides exact over the same range
            "CAST((2 * sum(CAST(i AS DECIMAL(38,0)) * cents)"
            " - (count(*) + 1) * sum(CAST(cents AS DECIMAL(38,0))))"
            " * 1000000"
            " div (count(*) * sum(CAST(cents AS DECIMAL(38,0))))"
            " AS BIGINT)"
        ).alias("gini_ppm"),
    )


FUNNEL_WINDOW_DAYS = 7  # max allowed gap between consecutive stages


@query(
    "events_funnel_windowed",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup
      FROM events GROUP BY user_id
    ), v AS (
      SELECT p.user_id, p.t_signup,
             min(CASE WHEN e.event_type = 'view'
                       AND e.ts > p.t_signup
                       AND e.ts <= p.t_signup + INTERVAL {FUNNEL_WINDOW_DAYS} DAY
                      THEN e.ts END) AS t_view
      FROM per_user p JOIN events e ON e.user_id = p.user_id
      WHERE p.t_signup IS NOT NULL
      GROUP BY 1, 2
    ), pu AS (
      SELECT v.user_id, v.t_signup, v.t_view,
             min(CASE WHEN e.event_type = 'purchase'
                       AND e.ts > v.t_view
                       AND e.ts <= v.t_view + INTERVAL {FUNNEL_WINDOW_DAYS} DAY
                      THEN e.ts END) AS t_purchase
      FROM v JOIN events e ON e.user_id = v.user_id
      GROUP BY 1, 2, 3
    )
    SELECT CAST(COUNT(t_signup) AS BIGINT) AS n_signup,
           CAST(COUNT(t_view) AS BIGINT) AS n_view_in_window,
           CAST(COUNT(t_purchase) AS BIGINT) AS n_purchase_in_window
    FROM pu
    """,
)
def events_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-window funnel — the production variant of
    events_funnel: each stage must happen within
    FUNNEL_WINDOW_DAYS of the PREVIOUS stage's completion (signup →
    first view within 7 days → first purchase within 7 days of that
    view), not just "ever after". Unbounded funnels overcount
    conversions at scale because every user eventually does
    everything; the window is what makes the metric meaningful.

    The sequential dependency (each stage's deadline derives from the
    previous stage's achieved time) makes this a 3-stage conditional
    aggregation: per-user first signup, then first qualifying view
    against that time, then first qualifying purchase against THAT
    time. Timestamps compare exactly (µs integers under the hood);
    counts are exact.

    Scale design: three user_id-keyed passes, each a partial+final
    conditional-min aggregation joined back per user — the joins are
    all on user_id, so at 100 TB they co-partition with the event
    shuffle and the per-user relation shrinks at every stage (only
    signup users survive stage 2). No windows, no per-user sort —
    conditional mins only."""
    e = load(spark, sf_dir, "events")
    per_user = (
        e.groupBy("user_id")
        .agg(
            F.min(
                F.when(F.col("event_type") == "signup", F.col("ts"))
            ).alias("t_signup")
        )
        .where(F.col("t_signup").isNotNull())
    )
    window = F.expr(f"INTERVAL {FUNNEL_WINDOW_DAYS} DAY")
    v = (
        per_user.join(e, "user_id")
        .groupBy("user_id", "t_signup")
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == "view")
                    & (F.col("ts") > F.col("t_signup"))
                    & (F.col("ts") <= F.col("t_signup") + window),
                    F.col("ts"),
                )
            ).alias("t_view")
        )
    )
    pu = (
        v.join(e, "user_id")
        .groupBy("user_id", "t_signup", "t_view")
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") > F.col("t_view"))
                    & (F.col("ts") <= F.col("t_view") + window),
                    F.col("ts"),
                )
            ).alias("t_purchase")
        )
    )
    return pu.agg(
        F.count("t_signup").alias("n_signup"),
        F.count("t_view").alias("n_view_in_window"),
        F.count("t_purchase").alias("n_purchase_in_window"),
    )


@query(
    "orders_reorder_interval_stats",
    oracle="""
    WITH gaps AS (
      SELECT c.c_mktsegment,
             CAST(date_diff('day',
               lag(o.o_orderdate) OVER (PARTITION BY o.o_custkey
                 ORDER BY o.o_orderdate, o.o_orderkey),
               o.o_orderdate) AS BIGINT) AS gap_days,
             o.o_custkey, o.o_orderkey
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ), ranked AS (
      SELECT c_mktsegment, gap_days,
             CAST(row_number() OVER (PARTITION BY c_mktsegment
               ORDER BY gap_days, o_custkey, o_orderkey) AS BIGINT) AS i,
             CAST(COUNT(*) OVER (PARTITION BY c_mktsegment) AS BIGINT) AS n
      FROM gaps WHERE gap_days IS NOT NULL
    )
    SELECT c_mktsegment,
           MAX(n) AS n_gaps,
           CAST(SUM(gap_days) // MAX(n) AS BIGINT) AS mean_gap_days,
           MAX(CASE WHEN i = (n + 1) // 2
                    THEN gap_days END) AS p50_gap_days,
           MAX(CASE WHEN i = GREATEST(1, (9 * n + 9) // 10)
                    THEN gap_days END) AS p90_gap_days
    FROM ranked GROUP BY c_mktsegment
    """,
)
def orders_reorder_interval_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Purchase-cadence profile per market segment: the distribution
    of days between a customer's consecutive orders — mean, median
    and p90 gap — the input to replenishment forecasting and
    churn-risk cutoffs ("no order for > p90 days").

    Exactness: gaps are integer day diffs off a deterministic
    (o_orderdate, o_orderkey) order; median/p90 are RANK-PICKED
    (k-th smallest at k=(n+1)//2 and k=ceil(0.9n), ties broken by
    (custkey, orderkey)) rather than interpolated, so every output is
    a bigint — the same selection-not-summation trick as
    events_anomaly_mad.

    Scale design: the lag window shuffles once on o_custkey (the
    natural order-history clustering); the rank window partitions by
    SEGMENT — the fixed-small-key whole-partition-sort caveat shared
    with agg_gini_segment (swap in the two-pass chunk-offset rank at
    100 TB, formula unchanged); the final aggregation reduces to
    |segments| rows."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    wc = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = (
        o.join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_mktsegment",
            "o_custkey",
            "o_orderkey",
            F.datediff(
                "o_orderdate", F.lag("o_orderdate").over(wc)
            )
            .cast("bigint")
            .alias("gap_days"),
        )
        .where(F.col("gap_days").isNotNull())
    )
    ws = Window.partitionBy("c_mktsegment").orderBy(
        "gap_days", "o_custkey", "o_orderkey"
    )
    wn = Window.partitionBy("c_mktsegment")
    ranked = gaps.select(
        "c_mktsegment",
        "gap_days",
        F.row_number().over(ws).cast("bigint").alias("i"),
        F.count("*").over(wn).cast("bigint").alias("n"),
    )
    return ranked.groupBy("c_mktsegment").agg(
        F.max("n").alias("n_gaps"),
        F.expr("sum(gap_days) div max(n)").alias("mean_gap_days"),
        F.max(
            F.when(F.col("i") == F.expr("(n + 1) div 2"), F.col("gap_days"))
        ).alias("p50_gap_days"),
        F.max(
            F.when(
                F.col("i")
                == F.greatest(
                    F.lit(1), F.expr("(9 * n + 9) div 10")
                ),
                F.col("gap_days"),
            )
        ).alias("p90_gap_days"),
    )


BOT_BURST_WINDOW_S = 60  # trailing burst window
BOT_BURST_MIN = 2  # >= this many events in one window -> burst flag
BOT_RATE_PPM = 28  # >= this many events-per-second ppm -> rate flag
# thresholds are corpus-calibrated DEMO values (the synthetic stream is
# sparse — max observed burst 2, max rate 33 ppm); the point is that
# both arms of the flag actually fire and are value-checked, not that
# these numbers transfer to a real stream


@query(
    "events_bot_burst_audit",
    oracle=f"""
    WITH us AS (
      SELECT user_id, event_id, epoch_us(ts) AS t_us
      FROM events WHERE ts IS NOT NULL
    ), q AS (
      SELECT user_id, event_id,
             {sql_floor_div('t_us', 1_000_000, '//')} AS sec
      FROM us
    ), burst AS (
      SELECT user_id, event_id, sec,
             CAST(COUNT(*) OVER (PARTITION BY user_id ORDER BY sec
               RANGE BETWEEN {BOT_BURST_WINDOW_S} PRECEDING AND CURRENT ROW)
               AS BIGINT) AS n_burst
      FROM q
    ), per_user AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             MAX(sec) - MIN(sec) AS active_seconds,
             MAX(n_burst) AS max_burst
      FROM burst GROUP BY user_id
    )
    SELECT user_id, n_events, active_seconds, max_burst,
           (n_events * 1000000) // GREATEST(active_seconds, 1) AS rate_ppm,
           (max_burst >= {BOT_BURST_MIN}
            OR (n_events * 1000000) // GREATEST(active_seconds, 1)
               >= {BOT_RATE_PPM}) AS is_bot
    FROM per_user
    """,
)
def events_bot_burst_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bot/abuse screening — the traffic-hygiene filter run before
    any behavioural table feeds training or analytics: per user, the
    maximum event count inside any trailing BOT_BURST_WINDOW_S-second
    window (burst detection via a RANGE frame over whole-second event
    time) and the lifetime events-per-second rate in ppm; either
    threshold trips the is_bot flag. Downstream keys anti-join the
    flagged users out.

    Exactness: the RANGE frame is over integer epoch seconds floored
    identically on both engines (sql_floor_div — truncation drifted
    ±1 s on pre-1970 epochs; co-timestamped rows share a frame, so
    row order inside a second cannot matter), rates are truncating
    integer division over non-negative operands, and the flag is pure
    boolean algebra over those integers.

    Scale design: ONE user_id exchange shared by the burst window and
    the per-user aggregation (same partition key); the range frame is
    a single running sweep per partition with O(window-span) state.
    Output is one row per user — the relation the anti-join
    broadcasts or co-partitions at 100 TB."""
    e = load(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    us = e.select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t_us"),
    )
    q = us.select(
        "user_id",
        "event_id",
        F.expr(sql_floor_div("t_us", 1_000_000, "div")).alias("sec"),
    )
    wb = (
        Window.partitionBy("user_id")
        .orderBy("sec")
        .rangeBetween(-BOT_BURST_WINDOW_S, 0)
    )
    burst = q.select(
        "user_id",
        "sec",
        F.count("*").over(wb).cast("bigint").alias("n_burst"),
    )
    per_user = burst.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        (F.max("sec") - F.min("sec")).alias("active_seconds"),
        F.max("n_burst").alias("max_burst"),
    )
    rate = F.expr(
        "(n_events * 1000000) div GREATEST(active_seconds, 1)"
    )
    return per_user.select(
        "user_id",
        "n_events",
        "active_seconds",
        "max_burst",
        rate.alias("rate_ppm"),
        (
            (F.col("max_burst") >= BOT_BURST_MIN)
            | (rate >= BOT_RATE_PPM)
        ).alias("is_bot"),
    )


@query(
    "events_next_event_accuracy",
    oracle="""
    WITH seq AS (
      SELECT event_type AS from_state,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS to_state
      FROM events
      WHERE event_type IS NOT NULL AND ts IS NOT NULL
    ),
    pairs AS (
      SELECT from_state, to_state, CAST(COUNT(*) AS BIGINT) AS n
      FROM seq WHERE to_state IS NOT NULL GROUP BY 1, 2
    ),
    pred AS (
      SELECT from_state, to_state AS predicted
      FROM pairs
      QUALIFY row_number() OVER (PARTITION BY from_state
                                 ORDER BY n DESC, to_state) = 1
    )
    SELECT p.from_state,
           CAST(SUM(p.n) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN p.to_state = pr.predicted THEN p.n
                         ELSE 0 END) AS BIGINT) AS n_correct,
           CAST(SUM(CASE WHEN p.to_state = pr.predicted THEN p.n
                         ELSE 0 END) * 1000000 // SUM(p.n) AS BIGINT)
             AS accuracy_ppm,
           MAX(pr.predicted) AS predicted
    FROM pairs p JOIN pred pr ON pr.from_state = p.from_state
    GROUP BY p.from_state
    """,
)
def events_next_event_accuracy(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Next-event prediction eval — closes the loop on
    events_markov_transitions: the argmax-transition predictor
    (most frequent successor per state, ties to the lexicographically
    smallest) is scored IN-SAMPLE against the observed pairs,
    per-state accuracy in exact ppm. This is the one-line baseline
    every sequence model must beat, and the per-state breakdown shows
    WHERE behaviour is predictable (a state at chance level carries
    no signal for the fancier model either).

    Exactness: the eval needs no second corpus pass — accuracy is
    Σn over matching (from,to) cells against Σn over all cells, so
    everything after the pair counts is arithmetic on the tiny
    transition relation; counts are exact bigints, accuracy one
    truncating division.

    Scale design: one user_id exchange for the lead window, one
    partial+final pair count (≤ |types|² rows out), then
    broadcast-sized work; identical plan prefix to
    events_markov_transitions, which a shared-relation optimizer (or
    a pipeline step) would compute once for both."""
    e = load(spark, sf_dir, "events").where(
        F.col("event_type").isNotNull() & F.col("ts").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("from_state"),
        F.lead("event_type").over(w).alias("to_state"),
    ).where(F.col("to_state").isNotNull())
    pairs = seq.groupBy("from_state", "to_state").agg(
        F.count("*").alias("n")
    )
    wp = Window.partitionBy("from_state").orderBy(F.desc("n"), "to_state")
    pred = (
        pairs.withColumn("rn", F.row_number().over(wp))
        .where(F.col("rn") == 1)
        .select("from_state", F.col("to_state").alias("predicted"))
    )
    correct = F.sum(
        F.when(F.col("to_state") == F.col("predicted"), F.col("n")).otherwise(
            0
        )
    ).cast("bigint")
    return (
        pairs.join(F.broadcast(pred), "from_state")
        .groupBy("from_state")
        .agg(
            F.sum("n").alias("n_pairs"),
            correct.alias("n_correct"),
            F.expr(
                "CAST(SUM(CASE WHEN to_state = predicted THEN n ELSE 0 END)"
                " * 1000000 div SUM(n) AS BIGINT)"
            ).alias("accuracy_ppm"),
            F.max("predicted").alias("predicted"),
        )
    )


@query(
    "events_hazard_curve",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             MIN(ts) AS t0,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_evt,
             MAX(ts) AS t_last
      FROM events WHERE ts IS NOT NULL
      GROUP BY user_id
    ), durations AS (
      SELECT CAST(date_diff('day', t0, COALESCE(t_evt, t_last)) AS BIGINT)
               AS d,
             CASE WHEN t_evt IS NOT NULL THEN 1 ELSE 0 END AS is_event
      FROM per_user
    ), hist AS (
      SELECT d,
             CAST(SUM(is_event) AS BIGINT) AS n_events,
             CAST(SUM(1 - is_event) AS BIGINT) AS n_censored
      FROM durations GROUP BY d
    )
    SELECT d AS duration_day,
           CAST(SUM(n_events + n_censored) OVER (
             ORDER BY d DESC ROWS BETWEEN UNBOUNDED PRECEDING
             AND CURRENT ROW) AS BIGINT) AS n_at_risk,
           n_events, n_censored,
           CAST(n_events * 1000000 // SUM(n_events + n_censored) OVER (
             ORDER BY d DESC ROWS BETWEEN UNBOUNDED PRECEDING
             AND CURRENT ROW) AS BIGINT) AS hazard_ppm
    FROM hist
    """,
)
def events_hazard_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete-time survival analysis — time-to-first-purchase with
    right censoring: per duration day, the risk set (users still
    unconverted and still observed), conversion events, censored
    exits, and the discrete hazard d/n in exact ppm. This is the
    Kaplan-Meier risk table; the survival curve is the running
    product of (1 − hazard), a ≤|days|-row driver/BI step downstream
    — the engine keeps everything corpus-sized exact and distributed
    and leaves the one float product to the consumer.

    Censoring is what distinguishes this from a naive
    time-to-convert histogram: a user who never purchases
    contributes to every risk set up to their last observed day and
    then exits WITHOUT an event — dropping them (or counting them as
    events) biases the hazard, the textbook survival-analysis error.

    Exactness: durations are integer day diffs, the risk set is a
    reverse cumulative sum over the duration histogram (a ≤|days|-row
    window — no per-user-per-day explode), hazards are truncating
    integer division.

    Scale design: one user_id aggregation collapses the corpus to a
    row per user, a second to a row per duration day; the
    reverse-cumsum window runs over that tiny relation. The single
    unpartitioned window is bounded by the observation span (days),
    not the corpus — the documented exception class (same as the
    date spine)."""
    e = load(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    per_user = e.groupBy("user_id").agg(
        F.min("ts").alias("t0"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("t_evt"),
        F.max("ts").alias("t_last"),
    )
    durations = per_user.select(
        F.datediff(
            F.coalesce(F.col("t_evt"), F.col("t_last")), F.col("t0")
        )
        .cast("bigint")
        .alias("d"),
        F.when(F.col("t_evt").isNotNull(), 1).otherwise(0).alias("is_event"),
    )
    hist = durations.groupBy("d").agg(
        F.sum("is_event").cast("bigint").alias("n_events"),
        F.sum(1 - F.col("is_event")).cast("bigint").alias("n_censored"),
    )
    w = (
        Window.orderBy(F.desc("d"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    at_risk = F.sum(F.col("n_events") + F.col("n_censored")).over(w)
    return hist.select(
        F.col("d").alias("duration_day"),
        at_risk.cast("bigint").alias("n_at_risk"),
        "n_events",
        "n_censored",
        F.expr(
            "CAST(n_events * 1000000 div (SUM(n_events + n_censored)"
            " OVER (ORDER BY d DESC ROWS BETWEEN UNBOUNDED PRECEDING"
            " AND CURRENT ROW)) AS BIGINT)"
        ).alias("hazard_ppm"),
    )


@query(
    "orders_seasonal_index",
    oracle="""
    WITH cents AS (
      SELECT CAST(month(o_orderdate) AS BIGINT) AS m,
             CAST(floor(o_totalprice * 100) AS BIGINT) AS c
      FROM orders
    ), per_m AS (
      SELECT m, CAST(COUNT(*) AS BIGINT) AS cnt_m,
             CAST(SUM(c) AS BIGINT) AS sum_m
      FROM cents GROUP BY m
    ), tot AS (
      SELECT CAST(SUM(cnt_m) AS BIGINT) AS cnt_all,
             CAST(SUM(sum_m) AS BIGINT) AS sum_all
      FROM per_m
    )
    SELECT p.m AS month_of_year, p.cnt_m AS n_orders,
           CAST(CAST(p.sum_m AS HUGEINT) * t.cnt_all * 1000000
             // (p.cnt_m * t.sum_all) AS BIGINT) AS seasonal_index_ppm
    FROM per_m p CROSS JOIN tot t
    """,
)
def orders_seasonal_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiplicative seasonal index per calendar month — mean order
    value in month m relative to the overall mean, in exact ppm
    (1e6 = no seasonal effect): the decomposition step demand
    forecasting starts from, reduced to pure integer algebra
    (sum_m·cnt_all)/(cnt_m·sum_all) so the ratio-of-averages is one
    truncating division with no float averages in between.

    DECIMAL(38,0) intermediates on the Spark side (the product
    sum_m·cnt_all·1e6 overflows bigint past ~sf0.1; DuckDB's
    SUM(BIGINT) is HUGEINT natively — same pairing as
    agg_gini_segment).

    Scale design: one partial+final aggregation to 12 rows, a one-row
    total broadcast back — the scan is the whole cost."""
    o = load(spark, sf_dir, "orders")
    cents = o.select(
        F.month("o_orderdate").cast("bigint").alias("m"),
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("c"),
    )
    per_m = cents.groupBy("m").agg(
        F.count("*").alias("cnt_m"), F.sum("c").alias("sum_m")
    )
    tot = per_m.agg(
        F.sum("cnt_m").alias("cnt_all"), F.sum("sum_m").alias("sum_all")
    )
    return per_m.crossJoin(F.broadcast(tot)).select(
        F.col("m").alias("month_of_year"),
        F.col("cnt_m").alias("n_orders"),
        F.expr(
            "CAST(CAST(sum_m AS DECIMAL(38,0)) * cnt_all * 1000000"
            " div (cnt_m * sum_all) AS BIGINT)"
        ).alias("seasonal_index_ppm"),
    )


@query(
    "events_active_users_rolling",
    oracle="""
    WITH du AS (
      SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             user_id
      FROM events WHERE ts IS NOT NULL
    ), days AS (SELECT DISTINCT day FROM du),
    rolled AS (
      SELECT d.day,
             CAST(COUNT(DISTINCT CASE WHEN u.day = d.day
                                      THEN u.user_id END) AS BIGINT) AS dau,
             CAST(COUNT(DISTINCT CASE WHEN u.day > d.day - INTERVAL 7 DAY
                                      THEN u.user_id END) AS BIGINT) AS wau,
             CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS mau
      FROM days d
      JOIN du u
        ON u.day <= d.day AND u.day > d.day - INTERVAL 30 DAY
      GROUP BY d.day
    )
    SELECT day, dau, wau, mau,
           CAST(dau * 1000000 // mau AS BIGINT) AS stickiness_ppm
    FROM rolled
    """,
)
def events_active_users_rolling(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DAU / WAU / MAU + stickiness — THE product-analytics headline
    table: per day, distinct users active that day, in the trailing 7
    days, and in the trailing 30, plus DAU/MAU in exact ppm. Rolling
    DISTINCT counts cannot ride a window sum (actives aren't
    additive across days — users repeat), so the engine joins the
    distinct (day, user) relation against the day spine over the
    30-day band and conditionally distinct-counts each horizon from
    ONE join — not three.

    Scale design: the corpus collapses to the distinct (day, user)
    relation first (partial+final — the only corpus-sized shuffle);
    the band join amplifies that relation ≤30×, which at 100 TB of
    raw events is still orders of magnitude smaller than the input
    (|users|·|days|·30 pairs, all integers). The exact-distinct
    formulation is the oracle-checkable baseline; the sketch path for
    when even that relation is too big is agg_hll_sketch_merge's
    per-day HLL union — same band, mergeable state.

    Counts exact; stickiness one truncating division."""
    e = load(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    du = (
        e.select(
            F.date_trunc("day", F.col("ts"))
            .cast("timestamp_ntz")
            .alias("day"),
            "user_id",
        )
        .distinct()
    )
    days = du.select("day").distinct()
    # each (day, user) activity emits its ≤30 contribution days IN-ROW
    # (sequence+explode — no range join, so no nested-loop plan at
    # scale); the broadcast semi join keeps only OBSERVED days (a
    # gap day has no row in the oracle either)
    contrib = du.select(
        "user_id",
        F.col("day").alias("active_day"),
        F.explode(
            F.expr(
                "sequence(day, day + INTERVAL 29 DAY, INTERVAL 1 DAY)"
            )
        ).alias("day"),
    ).join(F.broadcast(days), "day", "left_semi")
    rolled = contrib.groupBy("day").agg(
        F.countDistinct(
            F.when(F.col("active_day") == F.col("day"), F.col("user_id"))
        ).alias("dau"),
        F.countDistinct(
            F.when(
                F.col("active_day")
                > F.col("day") - F.expr("INTERVAL 7 DAY"),
                F.col("user_id"),
            )
        ).alias("wau"),
        F.countDistinct("user_id").alias("mau"),
    )
    return rolled.select(
        "day",
        "dau",
        "wau",
        "mau",
        F.expr("CAST(dau * 1000000 div mau AS BIGINT)").alias(
            "stickiness_ppm"
        ),
    )


@query(
    "events_mannwhitney_u",
    oracle="""
    WITH s AS (
      SELECT CASE WHEN event_type = 'view' THEN 1 ELSE 2 END AS grp,
             CAST(floor(value * 1000000) AS BIGINT) AS qv
      FROM events
      WHERE value IS NOT NULL AND event_type IN ('view', 'click')
    ), pos AS (
      SELECT grp, qv,
             CAST(row_number() OVER (ORDER BY qv) AS BIGINT) AS p
      FROM s
    ), ranked AS (
      SELECT grp, qv,
             MIN(p) OVER (PARTITION BY qv) + MAX(p) OVER (PARTITION BY qv)
               AS midrank2x
      FROM pos
    )
    SELECT
      CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      CAST(SUM(CASE WHEN grp = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
      CAST(SUM(CASE WHEN grp = 1 THEN midrank2x ELSE 0 END) AS BIGINT)
        AS rank_sum_2x,
      CAST(SUM(CASE WHEN grp = 1 THEN midrank2x ELSE 0 END)
        - SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END)
          * (SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) + 1) AS BIGINT)
        AS u_stat_2x
    FROM ranked
    """,
)
def events_mannwhitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U (Wilcoxon rank-sum) between two event types'
    value distributions — the NONPARAMETRIC two-sample test, the one
    an A/B readout falls back to when means are meaningless (heavy
    tails, outliers): U depends only on ranks, and the engine keeps
    it EXACT by carrying DOUBLED midranks (for a tied value,
    2·midrank = first position + last position — an integer, no .5
    halves), so U·2 = ΣR₁·2 − n₁(n₁+1) is pure bigint algebra. The
    consumer divides by 2 and normalizes at the end.

    Determinism under ties is the whole trick: positions come from a
    deterministic total order, but midranks depend only on the tied
    VALUE's position span — so the statistic is identical however the
    engines break position ties internally.

    Scale design: one micro-quantized projection, a global sort for
    positions (rank statistics are sort-based by nature — at 100 TB
    this is the two-pass range-partitioned rank of
    agg_percentile_exact_distributed; here the single window is the
    small-corpus fast path), per-value span windows, one final
    aggregation to a single row."""
    s = (
        load(spark, sf_dir, "events")
        .where(
            F.col("value").isNotNull()
            & F.col("event_type").isin("view", "click")
        )
        .select(
            F.when(F.col("event_type") == "view", 1).otherwise(2).alias(
                "grp"
            ),
            F.floor(F.col("value") * 1_000_000).cast("long").alias("qv"),
        )
    )
    wp = Window.orderBy("qv")
    pos = s.select(
        "grp", "qv", F.row_number().over(wp).cast("bigint").alias("p")
    )
    wv = Window.partitionBy("qv")
    ranked = pos.select(
        "grp",
        (F.min("p").over(wv) + F.max("p").over(wv)).alias("midrank2x"),
    )
    n1 = F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).cast("bigint")
    r2x = F.sum(
        F.when(F.col("grp") == 1, F.col("midrank2x")).otherwise(0)
    ).cast("bigint")
    return ranked.agg(
        n1.alias("n1"),
        F.sum(F.when(F.col("grp") == 2, 1).otherwise(0))
        .cast("bigint")
        .alias("n2"),
        r2x.alias("rank_sum_2x"),
        (r2x - n1 * (n1 + 1)).cast("bigint").alias("u_stat_2x"),
    )


@query(
    "events_ks_statistic",
    oracle="""
    WITH s AS (
      SELECT CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS g1,
             CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS g2,
             CAST(floor(value * 1000000) AS BIGINT) AS qv
      FROM events
      WHERE value IS NOT NULL AND event_type IN ('view', 'click')
    ), tot AS (
      SELECT CAST(SUM(g1) AS BIGINT) AS n1, CAST(SUM(g2) AS BIGINT) AS n2
      FROM s
    ), cum AS (
      SELECT qv,
             CAST(SUM(SUM(g1)) OVER (ORDER BY qv) AS BIGINT) AS c1,
             CAST(SUM(SUM(g2)) OVER (ORDER BY qv) AS BIGINT) AS c2
      FROM s GROUP BY qv
    )
    SELECT t.n1, t.n2,
           CAST(MAX(abs(c.c1 * t.n2 - c.c2 * t.n1)) AS BIGINT)
             AS ks_numerator,
           CAST(MAX(abs(c.c1 * t.n2 - c.c2 * t.n1)) * 1000000
             // (t.n1 * t.n2) AS BIGINT) AS ks_d_ppm
    FROM cum c CROSS JOIN tot t
    GROUP BY t.n1, t.n2
    """,
)
def events_ks_statistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov D between two event types' value
    distributions — the distribution-shape test (drift detection,
    "did the metric's whole distribution move?") that mean-based
    tests can't see: D = max |F₁(x) − F₂(x)| over the pooled support,
    kept EXACT as max |c₁·n₂ − c₂·n₁| / (n₁·n₂) — cumulative counts
    cross-multiplied so no float CDF ever exists; ppm by one
    truncating division at the end.

    Evaluating at the distinct pooled values (per-value grouped
    cumulative sums) is sufficient: the CDF difference is constant
    between support points.

    Scale design: collapse to per-value counts first (partial+final —
    the only corpus-sized shuffle), then the cumulative window runs
    over the DISTINCT-value relation; the max reduces to one row. The
    unpartitioned window is bounded by the value cardinality (micro
    quantization caps it), the same exception class as the hazard
    curve — and at 100 TB the same two-pass chunk-offset rank
    replaces it, formula unchanged."""
    s = (
        load(spark, sf_dir, "events")
        .where(
            F.col("value").isNotNull()
            & F.col("event_type").isin("view", "click")
        )
        .select(
            F.when(F.col("event_type") == "view", 1).otherwise(0).alias(
                "g1"
            ),
            F.when(F.col("event_type") == "click", 1).otherwise(0).alias(
                "g2"
            ),
            F.floor(F.col("value") * 1_000_000).cast("long").alias("qv"),
        )
    )
    per_v = s.groupBy("qv").agg(
        F.sum("g1").alias("d1"), F.sum("g2").alias("d2")
    )
    wc = Window.orderBy("qv").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = per_v.select(
        F.sum("d1").over(wc).cast("bigint").alias("c1"),
        F.sum("d2").over(wc).cast("bigint").alias("c2"),
    )
    tot = s.agg(
        F.sum("g1").cast("bigint").alias("n1"),
        F.sum("g2").cast("bigint").alias("n2"),
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .groupBy("n1", "n2")
        .agg(
            F.max(
                F.abs(F.col("c1") * F.col("n2") - F.col("c2") * F.col("n1"))
            )
            .cast("bigint")
            .alias("ks_numerator"),
            F.expr(
                "CAST(MAX(abs(c1 * n2 - c2 * n1)) * 1000000"
                " div (n1 * n2) AS BIGINT)"
            ).alias("ks_d_ppm"),
        )
    )


@query(
    "events_did_lift",
    oracle="""
    WITH cells AS (
      SELECT user_id % 2 AS variant,
             CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
                  THEN 1 ELSE 0 END AS period,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
             CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END)
                  AS BIGINT) AS n_purch
      FROM events
      GROUP BY 1, 2
    ), wide AS (
      SELECT
        MAX(CASE WHEN variant = 0 AND period = 0 THEN n_users END) AS u_c_pre,
        MAX(CASE WHEN variant = 0 AND period = 0 THEN n_purch END) AS p_c_pre,
        MAX(CASE WHEN variant = 0 AND period = 1 THEN n_users END) AS u_c_post,
        MAX(CASE WHEN variant = 0 AND period = 1 THEN n_purch END) AS p_c_post,
        MAX(CASE WHEN variant = 1 AND period = 0 THEN n_users END) AS u_t_pre,
        MAX(CASE WHEN variant = 1 AND period = 0 THEN n_purch END) AS p_t_pre,
        MAX(CASE WHEN variant = 1 AND period = 1 THEN n_users END) AS u_t_post,
        MAX(CASE WHEN variant = 1 AND period = 1 THEN n_purch END) AS p_t_post
      FROM cells
    )
    SELECT u_c_pre, p_c_pre, u_c_post, p_c_post,
           u_t_pre, p_t_pre, u_t_post, p_t_post,
           CAST((p_t_post * 1000000) // u_t_post
                - (p_t_pre * 1000000) // u_t_pre AS BIGINT) AS delta_t_ppm,
           CAST((p_c_post * 1000000) // u_c_post
                - (p_c_pre * 1000000) // u_c_pre AS BIGINT) AS delta_c_ppm,
           CAST(((p_t_post * 1000000) // u_t_post
                 - (p_t_pre * 1000000) // u_t_pre)
                - ((p_c_post * 1000000) // u_c_post
                   - (p_c_pre * 1000000) // u_c_pre) AS BIGINT) AS did_ppm
    FROM wide
    """,
)
def events_did_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences readout — the quasi-experimental twin
    of events_ab_lift for launches WITHOUT a randomized holdout: a
    treatment cohort (user_id parity as the deterministic assignment
    stand-in) is compared against control across a pre/post boundary
    (mid-month), and the effect estimate is the difference of the two
    cohorts' pre→post changes, which nets out any seasonality shared
    by both cohorts. Metric: purchases per exposed user, in exact
    integer ppm (floor division, both engines' // truncation agrees on
    the non-negative rates; the subtractions happen after flooring, so
    every reported number is exact integer algebra — no float ever).

    All four (variant × period) cells are populated at every test
    scale (the corpus spans the full month and both parities), so no
    arm of the wide pivot is vacuous.

    Scale shape: ONE aggregation over events with a composite group
    key — the distinct-user count rides the same shuffle as the
    purchase count (partial aggregation on both) — then a 4-row pivot
    and a single-row projection. Cheaper than the A/B key (no per-user
    window), which is the point: DiD is what you run when you can't
    afford — or didn't plan — per-user randomization."""
    e = load(spark, sf_dir, "events")
    cells = (
        e.groupBy(
            (F.col("user_id") % 2).alias("variant"),
            F.when(
                F.col("ts") >= F.lit("2024-01-16").cast("timestamp_ntz"), 1
            ).otherwise(0).alias("period"),
        )
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count(F.when(F.col("event_type") == "purchase", 1)).alias(
                "n_purch"
            ),
        )
    )
    def cell(v, p, col):
        return F.max(
            F.when(
                (F.col("variant") == v) & (F.col("period") == p), F.col(col)
            )
        )

    wide = cells.agg(
        cell(0, 0, "n_users").alias("u_c_pre"),
        cell(0, 0, "n_purch").alias("p_c_pre"),
        cell(0, 1, "n_users").alias("u_c_post"),
        cell(0, 1, "n_purch").alias("p_c_post"),
        cell(1, 0, "n_users").alias("u_t_pre"),
        cell(1, 0, "n_purch").alias("p_t_pre"),
        cell(1, 1, "n_users").alias("u_t_post"),
        cell(1, 1, "n_purch").alias("p_t_post"),
    )
    rate = lambda p, u: F.expr(f"({p} * 1000000) div {u}")  # noqa: E731
    return wide.select(
        "*",
        (rate("p_t_post", "u_t_post") - rate("p_t_pre", "u_t_pre"))
        .cast("bigint")
        .alias("delta_t_ppm"),
        (rate("p_c_post", "u_c_post") - rate("p_c_pre", "u_c_pre"))
        .cast("bigint")
        .alias("delta_c_ppm"),
        (
            (rate("p_t_post", "u_t_post") - rate("p_t_pre", "u_t_pre"))
            - (rate("p_c_post", "u_c_post") - rate("p_c_pre", "u_c_pre"))
        )
        .cast("bigint")
        .alias("did_ppm"),
    )


@query(
    "orders_segment_migration",
    oracle="""
    WITH spend AS (
      SELECT o_custkey,
             CASE WHEN o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
                  THEN 1 ELSE 2 END AS period,
             CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY 1, 2
    ), tot AS (
      SELECT period, CAST(SUM(cents) AS HUGEINT) AS total,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM spend GROUP BY 1
    ), seg AS (
      SELECT s.o_custkey, s.period,
             CASE WHEN 4 * CAST(s.cents AS HUGEINT) * t.n >= 5 * t.total
                    THEN 3
                  WHEN 4 * CAST(s.cents AS HUGEINT) * t.n >= 3 * t.total
                    THEN 2
                  ELSE 1 END AS seg
      FROM spend s JOIN tot t USING (period)
    ),
    s1 AS (SELECT o_custkey, seg FROM seg WHERE period = 1),
    s2 AS (SELECT o_custkey, seg FROM seg WHERE period = 2)
    SELECT CAST(COALESCE(s1.seg, 0) AS INT) AS seg_from,
           CAST(COALESCE(s2.seg, 0) AS INT) AS seg_to,
           CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM s1 FULL OUTER JOIN s2 USING (o_custkey)
    GROUP BY 1, 2
    """,
)
def orders_segment_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer spend-segment migration matrix across a period
    boundary — the CRM readout behind "how many high-value customers
    did we lose last year": per period, each customer lands in a
    low/mid/high segment; the matrix counts every (segment-before,
    segment-after) transition, with 0 standing for absent (new
    customers in seg_from=0, churned in seg_to=0).

    Segmenting deliberately avoids the textbook global ntile: a
    corpus-wide ntile is ONE window partition — the whole customer
    base sorted on one task, the anti-pattern at 100 TB. Instead a
    customer's segment compares their exact cents spend against the
    period's average via cross-multiplied integer inequalities
    (4·spend·n ≥ 5·total ⇔ spend ≥ 1.25·avg) — a 2-row broadcast of
    period totals, zero sorting, exact at any parallelism (the cents
    quantization is the repo's tie-safe floor idiom; the wide products
    ride DECIMAL/HUGEINT). All 3×3 live-to-live cells plus the
    new-customer arm are populated at every test scale (the churned
    arm additionally fires at sf0.1); probed before the thresholds
    were frozen, per the vacuity discipline.

    Scale shape: one orders scan → per-(customer, period) cents sums
    (one shuffle), 2-row totals broadcast back, a full-outer self-pair
    on custkey co-partitioned with the first shuffle, and a ≤16-row
    final count."""
    o = load(spark, sf_dir, "orders")
    spend = (
        o.groupBy(
            "o_custkey",
            F.when(
                F.col("o_orderdate")
                < F.lit("1996-01-01").cast("timestamp_ntz"),
                1,
            )
            .otherwise(2)
            .alias("period"),
        )
        .agg(
            F.sum(
                F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
            ).alias("cents")
        )
    )
    tot = spend.groupBy("period").agg(
        F.sum(F.col("cents").cast("decimal(38,0)")).alias("total"),
        F.count("*").alias("n"),
    )
    seg_expr = (
        F.when(
            F.col("cents").cast("decimal(38,0)") * 4 * F.col("n")
            >= F.col("total") * 5,
            3,
        )
        .when(
            F.col("cents").cast("decimal(38,0)") * 4 * F.col("n")
            >= F.col("total") * 3,
            2,
        )
        .otherwise(1)
    )
    seg = spend.join(F.broadcast(tot), "period").select(
        "o_custkey", "period", seg_expr.alias("seg")
    )
    s1 = seg.where(F.col("period") == 1).select("o_custkey", F.col("seg").alias("seg1"))
    s2 = seg.where(F.col("period") == 2).select("o_custkey", F.col("seg").alias("seg2"))
    return (
        s1.join(s2, "o_custkey", "full_outer")
        .groupBy(
            F.coalesce("seg1", F.lit(0)).cast("int").alias("seg_from"),
            F.coalesce("seg2", F.lit(0)).cast("int").alias("seg_to"),
        )
        .agg(F.count("*").alias("n_customers"))
    )


# Welch formula fragments shared TEXTUALLY by the Spark projection and
# the DuckDB oracle: identical double expression trees are what makes
# the floored micro values engine-exact (the events_ab_lift z_micro
# discipline).
_WELCH_SE2 = "(v1 / n1 + v2 / n2)"
_WELCH_EXPRS = {
    "mean1_micro": "CAST(floor(m1 * 1000000) AS BIGINT)",
    "mean2_micro": "CAST(floor(m2 * 1000000) AS BIGINT)",
    "t_micro": f"CAST(floor((m1 - m2) / sqrt({_WELCH_SE2}) * 1000000)"
    " AS BIGINT)",
    "dof_micro": f"CAST(floor({_WELCH_SE2} * {_WELCH_SE2}"
    " / ((v1 / n1) * (v1 / n1) / (n1 - 1)"
    "  + (v2 / n2) * (v2 / n2) / (n2 - 1)) * 1000000) AS BIGINT)",
}


@query(
    "events_welch_ttest",
    oracle=f"""
    WITH g AS (
      SELECT user_id % 2 AS variant,
             CAST(COUNT(value) AS BIGINT) AS n,
             CAST(SUM(CAST(value AS DECIMAL(24,6))) AS DOUBLE) AS s,
             CAST(SUM(CAST(value AS DECIMAL(24,6))
                      * CAST(value AS DECIMAL(24,6))) AS DOUBLE) AS ss
      FROM events WHERE event_type = 'purchase'
      GROUP BY 1
    ), wide AS (
      SELECT MAX(CASE WHEN variant = 0 THEN n END) AS n1,
             MAX(CASE WHEN variant = 0 THEN s END) AS s1,
             MAX(CASE WHEN variant = 0 THEN ss END) AS ss1,
             MAX(CASE WHEN variant = 1 THEN n END) AS n2,
             MAX(CASE WHEN variant = 1 THEN s END) AS s2,
             MAX(CASE WHEN variant = 1 THEN ss END) AS ss2
      FROM g
    ), m AS (
      SELECT n1, n2,
             s1 / n1 AS m1, s2 / n2 AS m2,
             (ss1 - s1 / n1 * s1) / (n1 - 1) AS v1,
             (ss2 - s2 / n2 * s2) / (n2 - 1) AS v2
      FROM wide
    )
    SELECT n1, n2,
           {_WELCH_EXPRS['mean1_micro']} AS mean1_micro,
           {_WELCH_EXPRS['mean2_micro']} AS mean2_micro,
           {_WELCH_EXPRS['t_micro']} AS t_micro,
           {_WELCH_EXPRS['dof_micro']} AS dof_micro
    FROM m
    """,
)
def events_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance two-sample t on purchase values
    (treatment = user parity, the deterministic assignment stand-in) —
    the CONTINUOUS-metric significance test completing the repo's
    nonparametric pair (Mann–Whitney U, Kolmogorov–Smirnov): revenue-
    per-event experiments need a mean test, not a rank test.

    Determinism discipline (the events_ab_lift z_micro pattern): the
    sufficient statistics (count, sum, sum-of-squares) are EXACT
    decimal aggregates — order-insensitive at any parallelism — and
    every double step after them (means, variances via the
    computational formula, t, Welch–Satterthwaite dof) is the same
    expression tree TEXT on both engines, so the IEEE results are
    bit-equal and the floored micro values hash-match. The variance
    uses (ss − s·s/n)/(n−1) with the division written first — the
    exact fragment is shared between the Spark projection and the
    oracle via module constants, making drift impossible by
    construction.

    Scale shape: one events scan, one 2-row aggregate with full
    partial aggregation (three sums ride one shuffle), a 1-row pivot
    and a scalar projection."""
    e = load(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    g = e.groupBy((F.col("user_id") % 2).alias("variant")).agg(
        F.count("value").alias("n"),
        F.expr("CAST(SUM(CAST(value AS DECIMAL(24,6))) AS DOUBLE)").alias("s"),
        F.expr(
            "CAST(SUM(CAST(value AS DECIMAL(24,6))"
            " * CAST(value AS DECIMAL(24,6))) AS DOUBLE)"
        ).alias("ss"),
    )
    wide = g.agg(
        F.max(F.when(F.col("variant") == 0, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("variant") == 0, F.col("s"))).alias("s1"),
        F.max(F.when(F.col("variant") == 0, F.col("ss"))).alias("ss1"),
        F.max(F.when(F.col("variant") == 1, F.col("n"))).alias("n2"),
        F.max(F.when(F.col("variant") == 1, F.col("s"))).alias("s2"),
        F.max(F.when(F.col("variant") == 1, F.col("ss"))).alias("ss2"),
    )
    m = wide.selectExpr(
        "n1",
        "n2",
        "s1 / n1 AS m1",
        "s2 / n2 AS m2",
        "(ss1 - s1 / n1 * s1) / (n1 - 1) AS v1",
        "(ss2 - s2 / n2 * s2) / (n2 - 1) AS v2",
    )
    return m.selectExpr(
        "n1",
        "n2",
        *[f"{expr} AS {alias}" for alias, expr in _WELCH_EXPRS.items()],
    )


CUSUM_H_MULT = 16  # alarm threshold = 16·S (in the 4n-scaled units
# below, i.e. 4·mean·n): chosen by probing — 10/15, 104/150 and
# 1160/1500 users alarm at sf0.001/sf0.01/sf0.1, so BOTH outcome arms
# (alarming and quiet streams) are populated at every test scale


@query(
    "events_cusum_alarm",
    oracle=f"""
    WITH e AS (
      SELECT user_id, ts, event_id,
             CAST(floor(value * 1000000) AS BIGINT) AS x
      FROM events WHERE value IS NOT NULL
    ), st AS (
      SELECT user_id, ts, event_id, x,
             CAST(SUM(x) OVER (PARTITION BY user_id) AS BIGINT) AS s,
             CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT) AS n
      FROM e
    ), p AS (
      SELECT user_id, ts, event_id, x, s, n,
             SUM(4 * n * x - 5 * s) OVER (
               PARTITION BY user_id ORDER BY ts, event_id, x) AS pi,
             row_number() OVER (
               PARTITION BY user_id ORDER BY ts, event_id, x) AS rn
      FROM st
    ), c AS (
      SELECT user_id, n, rn,
             pi - LEAST(0, MIN(pi) OVER (
               PARTITION BY user_id ORDER BY ts, event_id, x)) AS ci,
             {CUSUM_H_MULT} * s AS h
      FROM p
    )
    SELECT user_id,
           CAST(MAX(n) AS BIGINT) AS n_events,
           CAST(MAX(ci) AS BIGINT) AS max_cusum,
           CAST(COUNT(CASE WHEN ci > h THEN 1 END) AS BIGINT) AS n_alarms,
           CAST(MIN(CASE WHEN ci > h THEN rn END) AS BIGINT)
             AS first_alarm_rn
    FROM c GROUP BY user_id
    """,
)
def events_cusum_alarm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detector per user stream — the SEQUENTIAL
    anomaly family next to the pointwise ones (zscore, MAD): a
    one-sided cumulative-sum chart accumulates drift above the stream
    mean (with a mean/4 slack) and alarms when the accumulation
    crosses a threshold — catching slow upward drifts no single-point
    detector sees.

    The CUSUM recursion s_i = max(0, s_{{i-1}} + z_i) is NOT window
    algebra as written — but its closed form IS: s_i = P_i − min(0,
    min_{{j≤i}} P_j) where P is the prefix sum of z. That identity
    turns a sequential scan into two ordered window aggregates (cumsum
    + running min), fully shuffle-parallel across streams with ONE
    exchange on user_id serving every window (per-stream totals,
    prefix sum, running min, row number — Catalyst reuses the
    hashpartitioning).

    Exactness: everything is scaled integers — z_i = 4n·x_i − 5S keeps
    the drift term (x_i − μ − μ/4) integer by multiplying through by
    4n, and the alarm threshold {CUSUM_H_MULT}·S lives in the same
    units, so there is no division anywhere and the alarm set is
    bit-identical at any parallelism and in both engines. Both arms
    are live at every scale (see CUSUM_H_MULT note).

    first_alarm_rn is the stream-order row number of the earliest
    alarm (NULL for quiet streams) — rank, not event_id, so the
    output is deterministic under ts ties. Stream order tiebreaks on
    (ts, event_id, x): duplicated event_ids sharing one ts (round-9
    sweep) otherwise made the whole prefix-sum sequence — and so the
    alarm set — depend on which payload the engine happened to order
    first; rows identical in all three are interchangeable (equal
    terms commute inside the prefix sum)."""
    e = load(spark, sf_dir, "events").where(F.col("value").isNotNull()).select(
        "user_id", "ts", "event_id",
        F.expr("CAST(floor(value * 1000000) AS BIGINT)").alias("x"),
    )
    part = Window.partitionBy("user_id")
    ordered = part.orderBy("ts", "event_id", "x")
    run = ordered.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    st = e.select(
        "user_id", "ts", "event_id", "x",
        F.sum("x").over(part).cast("bigint").alias("s"),
        F.count("*").over(part).cast("bigint").alias("n"),
    )
    # The prefix sum accumulates up to n terms of magnitude ≤9·n·Y
    # (Y = micro-scaled |value| bound), i.e. |pi| ≤ 9·n²·Y — past 2^63
    # around n≈5·10⁴ events/stream at this corpus's Y. DuckDB's window
    # SUM(BIGINT) is already HUGEINT, so the bigint form would WRAP
    # silently on the Spark side only, wrong alarms with no failure
    # signal: sum in DECIMAL(38,0) (the z TERM itself is bigint-safe
    # to n·Y < 2^63/9). Outputs stay bigint — max_cusum's VALUE is
    # corpus-bound by construction; the alarm decisions are exact.
    p = st.select(
        "user_id", "s", "n",
        F.sum(
            (4 * F.col("n") * F.col("x") - 5 * F.col("s")).cast(
                "decimal(38,0)"
            )
        ).over(run).alias("pi"),
        F.row_number().over(ordered).alias("rn"),
        "ts", "event_id", "x",
    )
    c = p.select(
        "user_id", "n", "rn",
        (F.col("pi") - F.least(F.lit(0), F.min("pi").over(run))).alias("ci"),
        (F.lit(CUSUM_H_MULT) * F.col("s")).alias("h"),
    )
    return c.groupBy("user_id").agg(
        F.max("n").cast("bigint").alias("n_events"),
        F.max("ci").cast("bigint").alias("max_cusum"),
        F.count(F.when(F.col("ci") > F.col("h"), 1)).alias("n_alarms"),
        F.min(F.when(F.col("ci") > F.col("h"), F.col("rn")))
        .cast("bigint")
        .alias("first_alarm_rn"),
    )


# power-analysis double fragments, shared textually between engines
# (the z_micro / Welch discipline): z_(0.975)+z_(0.80) ≈ 2.8, the
# standard 5%-two-sided / 80%-power constant
# integer floor-division spells differently per engine (Spark `div`,
# DuckDB `//`) — only the DOUBLE formulas are shared verbatim
_MDE_POOLED = "CAST((c0 + c1) * 1000000 {IDIV} (n0 + n1) AS BIGINT)"
_MDE_EXPRS = {
    "mde_abs_micro": "CAST(floor(2.8 * sqrt("
    "CAST(c0 + c1 AS DOUBLE) / (n0 + n1)"
    " * (1 - CAST(c0 + c1 AS DOUBLE) / (n0 + n1))"
    " * (CAST(1 AS DOUBLE) / n0 + CAST(1 AS DOUBLE) / n1))"
    " * 1000000) AS BIGINT)",
    "n_per_arm_for_10pct_lift": "CAST(ceil(2 * 2.8 * 2.8"
    " * (1 - CAST(c0 + c1 AS DOUBLE) / (n0 + n1))"
    " / (CAST(c0 + c1 AS DOUBLE) / (n0 + n1) * 0.01)) AS BIGINT)",
}


@query(
    "events_ab_power_mde",
    oracle=f"""
    WITH ranked AS (
      SELECT user_id % 2 AS variant, user_id, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts NULLS FIRST,
                                         event_id NULLS FIRST) AS rn
      FROM events
    ), u AS (
      SELECT variant, user_id,
             MAX(CASE WHEN rn <= 5 AND event_type = 'purchase'
                      THEN 1 ELSE 0 END) AS conv
      FROM ranked GROUP BY variant, user_id
    ), s AS (
      SELECT variant, CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(conv) AS BIGINT) AS n_conv
      FROM u GROUP BY variant
    ), wide AS (
      SELECT MAX(CASE WHEN variant = 0 THEN n_users END) AS n0,
             MAX(CASE WHEN variant = 0 THEN n_conv END) AS c0,
             MAX(CASE WHEN variant = 1 THEN n_users END) AS n1,
             MAX(CASE WHEN variant = 1 THEN n_conv END) AS c1
      FROM s
    )
    SELECT n0, c0, n1, c1,
           {_MDE_POOLED.format(IDIV='//')} AS p_pooled_ppm,
           {_MDE_EXPRS['mde_abs_micro']} AS mde_abs_micro,
           {_MDE_EXPRS['n_per_arm_for_10pct_lift']}
             AS n_per_arm_for_10pct_lift
    FROM wide
    """,
)
def events_ab_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment power planning — the readout that belongs NEXT TO
    events_ab_lift in every experimentation platform: given the
    current exposure and the pooled activation rate, (a) the minimal
    absolute effect the experiment can currently detect (MDE at 80%
    power / 5% two-sided, the 2.8-sigma rule), and (b) how many users
    per arm a 10% RELATIVE lift would need. Teams read this BEFORE
    the lift number: an underpowered experiment's "no effect" is
    noise, and this key is what says so.

    Determinism: exposure/conversion counts are exact bigints off the
    same per-user activation window events_ab_lift uses; the two
    double formulas are shared textually between the Spark projection
    and the oracle (module constants, the z_micro/Welch discipline),
    floored to micro units. The pooled rate itself is exact ppm floor
    division. Scale shape: one per-user window (single shuffle), a
    2-row rollup, a 1-row pivot, scalar math."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc_nulls_first(), F.col("event_id").asc_nulls_first()
    )
    ranked = e.select(
        (F.col("user_id") % 2).alias("variant"),
        "user_id",
        "event_type",
        F.row_number().over(w).alias("rn"),
    )
    u = ranked.groupBy("variant", "user_id").agg(
        F.max(
            F.when(
                (F.col("rn") <= 5) & (F.col("event_type") == "purchase"), 1
            ).otherwise(0)
        ).alias("conv")
    )
    s = u.groupBy("variant").agg(
        F.count("*").alias("n_users"), F.sum("conv").cast("bigint").alias("n_conv")
    )
    wide = s.agg(
        F.max(F.when(F.col("variant") == 0, F.col("n_users"))).alias("n0"),
        F.max(F.when(F.col("variant") == 0, F.col("n_conv"))).alias("c0"),
        F.max(F.when(F.col("variant") == 1, F.col("n_users"))).alias("n1"),
        F.max(F.when(F.col("variant") == 1, F.col("n_conv"))).alias("c1"),
    )
    return wide.selectExpr(
        "n0", "c0", "n1", "c1",
        f"{_MDE_POOLED.format(IDIV='div')} AS p_pooled_ppm",
        *[f"{expr} AS {alias}" for alias, expr in _MDE_EXPRS.items()],
    )
