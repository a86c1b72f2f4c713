"""§2.10 event-stream operators, batch-checkable forms.

Each of these is the exact aggregation its streaming mirror
(streaming.py) runs incrementally — same expressions, same window
semantics — so the DuckDB oracle checks the logic once and the
streaming tests only have to prove the incremental execution path.

Window-start alignment: Spark's ``window(ts, d, s)`` aligns to the
epoch; the oracle replicates it as epoch-second floor arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from ..exprs import dec_sum, sql_dec_sum
from ..io import load
from ..memo import Memo
from ..registry import query


@query(
    "stream_tumbling_counts",
    oracle=f"""
    SELECT CAST(to_timestamp(floor(epoch(ts) / 3600) * 3600) AS TIMESTAMP) AS window_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {sql_dec_sum('value', 'total_value')}
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling windows per event type. Streaming mirror adds
    ``withWatermark("ts", "10 minutes")`` and runs incrementally."""
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            dec_sum("value", "total_value"),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@query(
    "stream_sliding_avg",
    oracle=f"""
    WITH windows AS (
      SELECT e.*,
             CAST(to_timestamp(floor(epoch(e.ts) / 900) * 900
                          - g.i * 900) AS TIMESTAMP) AS window_start
      FROM events e CROSS JOIN generate_series(0, 3) AS g(i)
      WHERE CAST(to_timestamp(floor(epoch(e.ts) / 900) * 900 - g.i * 900)
              AS TIMESTAMP) + INTERVAL 1 HOUR > e.ts
    )
    SELECT window_start, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           (CAST(SUM(CAST(value AS DECIMAL(24,6))) AS DOUBLE)
              / COUNT(value)) AS avg_value
    FROM windows
    GROUP BY 1, 2
    """,
)
def stream_sliding_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 15 minutes: each event lands in 4
    overlapping windows (the oracle materialises the same 4 via
    generate_series arithmetic)."""
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            (
                F.sum(F.col("value").cast("decimal(24,6)")).cast("double")
                / F.count("value")
            ).alias("avg_value"),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "n_events",
            "avg_value",
        )
    )


@query(
    "stream_session_windows",
    oracle=f"""
    WITH gaps AS (
      SELECT user_id, ts, value, event_id,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_new_session
      FROM events
    ), sessions AS (
      SELECT user_id, ts, value,
             SUM(is_new_session) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)
               AS session_id
      FROM gaps
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           min(ts) AS session_start, max(ts) AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {sql_dec_sum('value', 'session_value')}
    FROM sessions
    GROUP BY user_id, session_id
    """,
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization with a 30-minute inactivity gap via the
    lag + running-sum-of-boundaries trick (the batch equivalent of
    ``F.session_window``, which the streaming mirror uses)."""
    e = load(spark, sf_dir, "events")
    w_order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # the running sum MUST share w_order's (ts, event_id) tiebreak: a
    # ROWS frame over the non-unique ts alone assigns tied boundary
    # rows nondeterministically across engines/partitionings
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    prev_ts = F.lag("ts").over(w_order)
    new_session = (
        prev_ts.isNull()
        | ((F.col("ts") - prev_ts) > F.expr("INTERVAL 30 MINUTES"))
    ).cast("int")
    sessions = e.withColumn("is_new_session", new_session).withColumn(
        "session_id", F.sum("is_new_session").over(w_run).cast("bigint")
    )
    return sessions.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count("*").alias("n_events"),
        dec_sum("value", "session_value"),
    )


@query(
    "stream_dedup",
    oracle="""
    SELECT event_id, ts, user_id, event_type, value FROM (
      SELECT *, row_number() OVER (
        PARTITION BY event_id
        ORDER BY ts NULLS FIRST, user_id NULLS FIRST,
                 event_type NULLS FIRST, value NULLS FIRST) AS rn
      FROM (SELECT event_id, ts, user_id, event_type, value FROM events
            UNION ALL
            SELECT event_id, ts, user_id, event_type, value FROM events)
    ) WHERE rn = 1
    """,
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-event elimination: a doubled stream collapses back to
    one row per event_id. The survivor pick is the lexicographic
    struct-MIN over the payload (NULL fields smallest, probed equal to
    the oracle's NULLS FIRST row_number) — NOT dropDuplicates, whose
    pick is arrival-order nondeterministic the moment two rows share
    an event_id but differ in payload (the at-least-once reality the
    round-9 duplicate-event sweep planted: same event_id, same ts,
    different value — dropDuplicates returned whichever landed first).
    Streaming mirror: ``dropDuplicatesWithinWatermark``.

    Scale notes: min(struct) is an ordinary aggregate — partial
    (map-side) combine then one exchange on event_id, same shuffle
    shape as dropDuplicates but with a defined winner."""
    e = load(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    doubled = e.unionByName(e)
    return (
        doubled.groupBy("event_id")
        .agg(F.min(F.struct("ts", "user_id", "event_type", "value")).alias("s"))
        .select("event_id", "s.ts", "s.user_id", "s.event_type", "s.value")
    )


@query(
    "stream_enrich_static",
    oracle=f"""
    SELECT c.c_mktsegment, e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           {sql_dec_sum('e.value', 'total_value')}
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
    """,
)
def stream_enrich_static(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment, batch-checkable form: events joined to
    the customer dimension (broadcast — a stream side never shuffles
    against a static dim at scale), aggregated per segment×type. The
    streaming mirror is enrich_static_stream (streams.py)."""
    e = load(spark, sf_dir, "events")
    c = load(spark, sf_dir, "customer")
    return (
        e.join(F.broadcast(c), e.user_id == c.c_custkey)
        .groupBy("c_mktsegment", "event_type")
        .agg(
            F.count("*").alias("n"),
            dec_sum("value", "total_value"),
        )
    )


@query(
    "stream_stream_join",
    oracle="""
    SELECT v.user_id,
           v.event_id AS view_id, p.event_id AS purchase_id,
           v.ts AS view_ts, p.ts AS purchase_ts,
           p.value AS purchase_value
    FROM events v JOIN events p
      ON v.user_id = p.user_id
     AND v.event_type = 'view' AND p.event_type = 'purchase'
     AND p.ts >= v.ts AND p.ts < v.ts + INTERVAL 1 HOUR
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join: each view matched to purchases by the same user
    within the following hour — the batch-checkable form of a
    stream-stream join. The streaming mirror (interval_join_stream)
    carries a watermark on BOTH sides plus the same time-range
    predicate, which is exactly what lets Spark bound the join state:
    rows older than watermark + interval are evicted. Batch execution
    is a single shuffle on user_id with the range predicate applied
    post-match."""
    e = load(spark, sf_dir, "events")
    v = e.where(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user_id"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    p = e.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    return (
        v.join(
            p,
            (F.col("v_user_id") == F.col("user_id"))
            & (F.col("purchase_ts") >= F.col("view_ts"))
            & (F.col("purchase_ts") < F.col("view_ts") + F.expr("INTERVAL 1 HOUR")),
        )
        .select(
            "user_id", "view_id", "purchase_id", "view_ts", "purchase_ts",
            "purchase_value",
        )
    )


@query(
    "stream_user_running_state",
    oracle=f"""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {sql_dec_sum('value', 'total_value')}
    FROM events
    GROUP BY user_id
    """,
)
def stream_user_running_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-checkable form of the CUSTOM STATEFUL streaming operator
    (streams.py user_running_state_stream, applyInPandasWithState):
    the per-user (count, sum) the explicit GroupState converges to
    once all events are processed. The oracle checks that final
    state's semantics; tests/test_streaming.py proves the incremental
    GroupState path reaches the same values through micro-batches.
    Double sums take the DECIMAL detour so the checked total is
    accumulation-order-independent."""
    e = load(spark, sf_dir, "events")
    return e.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        dec_sum("value", "total_value"),
    )


@query(
    "stream_locf_state",
    oracle="""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(count_if(event_id % 7 = 0 AND value IS NOT NULL)
                AS BIGINT) AS n_observed,
           max(CASE WHEN event_id % 7 = 0 AND value IS NOT NULL
                    THEN {'ts': ts, 'event_id': event_id, 'value': value}
               END).value AS last_observed_value
    FROM events
    GROUP BY user_id
    """,
)
def stream_locf_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-checkable form of the STATEFUL LOCF operator
    (streams.py user_locf_state_stream, applyInPandasWithState) — the
    converged per-user fill state once every event is processed: row
    and observation counts plus the value the fill is carrying at
    stream end. "An observation" matches win_gap_fill_locf's sparse
    rendering (event_id % 7 = 0) and must be non-NULL (LOCF skips
    NULL readings). The carried value is picked by struct-MAX over
    (ts, event_id, value) — the argmax twin of the dedup_doc_ids
    struct-MIN survivor: partial-aggregatable (ONE exchange, no
    window sort), NULL-skipping and field-wise-ordered identically
    on both engines, and total under duplicated (ts, event_id) rows
    because value joins the comparison. tests/test_streaming.py
    proves the incremental GroupState path converges to these exact
    values through micro-batches."""
    e = load(spark, sf_dir, "events")
    obs = F.when(
        (F.col("event_id") % 7 == 0) & F.col("value").isNotNull(),
        F.struct("ts", "event_id", "value"),
    )
    return e.groupBy("user_id").agg(
        F.count("*").alias("n_rows"),
        F.count(obs).alias("n_observed"),
        F.max(obs).getField("value").alias("last_observed_value"),
    )


_EXACTLY_ONCE = Memo(evict=False)


def _exactly_once_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "events").select("event_id", "event_type", "value")


def _exactly_once_dir(spark: SparkSession, sf_dir: str) -> str:
    """Drive the idempotent foreachBatch sink through a REDELIVERY
    once per (app, sf_dir): all events split by event_id parity into
    two batches, batch 0 delivered TWICE (what at-least-once does
    after a failure), batch 1 once. The surviving files are the
    proof."""
    from ..io import scratch_dir
    from .streams import idempotent_batch_sink

    def _build() -> str:
        out = scratch_dir("uchr_exactly_once_")
        sink = idempotent_batch_sink(out)
        e = _exactly_once_source(spark, sf_dir)
        # TOTAL partition (round-9 sweep): `% 2 == 1` silently drops
        # negative-odd (remainder -1) and NULL event_ids from BOTH
        # batches, losing rows the all-events oracle still counts —
        # batch 1 is the complement of batch 0, so every row ships.
        even = F.col("event_id") % 2 == 0
        b0 = e.where(even)
        b1 = e.where(~F.coalesce(even, F.lit(False)))
        sink(b0, 0)
        sink(b0, 0)  # redelivered batch — must be a no-op
        sink(b1, 1)
        return out

    return _EXACTLY_ONCE.get_heavy(spark, sf_dir, build=_build)


@query(
    "stream_exactly_once_sink",
    oracle=f"""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {sql_dec_sum('value', 'total_value')}
    FROM events
    GROUP BY event_type
    """,
)
def stream_exactly_once_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once delivery through an at-least-once channel — THE
    correctness property of a production streaming sink. foreachBatch
    redelivers the same (batch_df, batch_id) after failures; the
    idempotent sink (streaming/streams.py) keys each write by batch_id
    with the parquet _SUCCESS marker as its commit record, so the
    redelivery is a no-op. This key DRIVES a redelivery (batch 0
    written twice, batch 1 once) and aggregates the sink's readback —
    the oracle is the plain aggregate over the source, so ANY
    duplicated or lost row hash-mismatches: append-mode double-count,
    truncate-mode loss, and partial-batch commits are all caught by
    the same equality."""
    out = _exactly_once_dir(spark, sf_dir)
    # the sink's batch_id=N/ directories add the partition column
    fields = _exactly_once_source(spark, sf_dir).schema.fields
    batch_id = StructField("batch_id", IntegerType())
    back = spark.read.schema(StructType([*fields, batch_id])).parquet(out)
    return back.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        dec_sum("value", "total_value"),
    )


_WATERMARK_LATE_US = 600 * 1_000_000  # 10 minutes, in microseconds


@query(
    "stream_watermark_lag_audit",
    oracle=f"""
    WITH seq AS (
      SELECT event_type,
             epoch_us(MAX(ts) OVER (PARTITION BY user_id ORDER BY event_id
                                    ROWS UNBOUNDED PRECEDING))
               - epoch_us(ts) AS lateness_us
      FROM events
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(count_if(lateness_us > {_WATERMARK_LATE_US}) AS BIGINT)
             AS n_late_10m,
           CAST(MAX(lateness_us) AS BIGINT) AS max_lateness_us
    FROM seq GROUP BY event_type
    """,
)
def stream_watermark_lag_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-order-arrival audit: per event type, how many events
    arrive more than 10 minutes behind the newest event their key has
    already produced, and the worst observed lag — the measurement
    that DECIDES a stream's ``withWatermark`` delay (set it below the
    real lateness tail and the streaming mirrors of these keys drop
    data; set it far above and state lingers). Arrival order is
    event_id (the ingest sequence); event time is ts.

    Scale shape: the running max is windowed per USER KEY (the same
    keying the stateful streaming operators shuffle by), never a
    global sequence — so no task sees more than one user's history,
    exactly like applyInPandasWithState's partitioning. Lateness is
    computed in exact integer microseconds (unix_micros / epoch_us
    agree bit-for-bit), so counts and maxima match the oracle
    exactly. A NULL event_type forms its own audit group in both
    engines."""
    e = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # unix_micros requires TIMESTAMP; the NTZ→TZ cast is exact under
    # the pinned UTC session timezone
    tsz = F.col("ts").cast("timestamp")
    lateness = F.unix_micros(F.max(tsz).over(w)) - F.unix_micros(tsz)
    return (
        e.select("event_type", lateness.alias("lateness_us"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.count(
                F.when(F.col("lateness_us") > _WATERMARK_LATE_US, 1)
            ).alias("n_late_10m"),
            F.max("lateness_us").alias("max_lateness_us"),
        )
    )


@query(
    "stream_state_store_read",
    oracle="""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events GROUP BY event_type
    """,
)
def stream_state_store_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4's state-store DATA SOURCE: run a streaming aggregation
    to completion (availableNow — process everything, then stop), then
    read the query's checkpointed STATE back as a plain batch
    DataFrame via ``spark.read.format("statestore")`` — the offline
    state-introspection surface you use to debug a production
    streaming job without touching the job (is a key stuck? how big
    is the state really? what does this group's accumulator hold?).

    The correctness claim is end-to-end: the state rows (one per
    group key, holding the aggregation buffer) must equal the batch
    twin's GROUP BY counts — so the oracle match covers the streaming
    execution, the RocksDB/HDFS state commit, AND the state source's
    decode of key/value structs, not just the final sink output.

    Scale shape: the streaming agg itself is the standard partial/
    final count; the state read is one scan of the checkpoint's state
    files partitioned exactly like the shuffle that wrote them (one
    state row per key per partition — no re-shuffle to read). The
    events copy into a scratch dir exists only because a
    FileStreamSource basePath must be a directory; a production
    stream reads its real source."""
    from ..io import scratch_dir
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    src = scratch_dir("uchr_state_src_")
    ckpt = scratch_dir("uchr_state_ckpt_")
    load(spark, sf_dir, "events").select("event_id", "event_type").write.mode(
        "overwrite"
    ).parquet(f"{src}/events")
    schema = StructType(
        [StructField("event_id", LongType()), StructField("event_type", StringType())]
    )
    counts = (
        spark.readStream.schema(schema)
        .parquet(f"{src}/events")
        .groupBy("event_type")
        .agg(F.count("*").alias("n_events"))
    )
    q = (
        counts.writeStream.outputMode("update")
        .format("noop")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    # awaitTermination returns False on TIMEOUT with the query still
    # running and exception() still None — reading the state store at
    # that point would return a plausible partially-committed result.
    # Fail loudly instead.
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError(
            "stream_state_store_read: streaming aggregation did not "
            "finish within 300s; refusing to read a partially-"
            "committed state store"
        )
    if q.exception() is not None:
        raise q.exception()
    state = spark.read.format("statestore").load(ckpt)
    return state.select(
        F.col("key.event_type").alias("event_type"),
        F.col("value.count").cast("bigint").alias("n_events"),
    )
