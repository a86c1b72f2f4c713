"""§2.10 Structured Streaming mirrors of the batch event operators.

The `events` parquet directory doubles as a file-stream source
(``readStream`` with an explicit schema — a stream source never
infers). Each builder returns an *unstarted* streaming DataFrame whose
transformation is shared with the batch twin in batch.py; tests run
them synchronously through a memory sink (``run_to_memory``).

Watermarks: every windowed/dedup aggregation carries one so its state
is bounded — the difference between a pipeline that runs forever at
100 TB/day and one whose state store grows without limit. Late rows
beyond the watermark are dropped in append mode (unit-tested with a
crafted late batch in tests/test_streaming.py). The one deliberate
exception is user_running_state_stream: lifetime running totals keep
per-user state with NoTimeout by construction — see its docstring.

``applyInPandasWithState`` demonstrates the custom-stateful path:
per-user running aggregates with explicit GroupState, Arrow-batched.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..exprs import dec_sum
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# File-stream schema: plain TIMESTAMP (not NTZ) — streaming state ops
# (watermarks, session windows) require TimestampType event time. The
# session pins UTC so wall-clock values match the batch NTZ reads.
EVENTS_STREAM_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def read_events_stream(
    spark: SparkSession, events_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    reader = spark.readStream.schema(EVENTS_STREAM_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(events_dir)


def tumbling_counts_stream(events: DataFrame) -> DataFrame:
    """Streaming twin of stream_tumbling_counts (+10 min watermark)."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            dec_sum("value", "total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events",
                "total_value")
    )


def session_windows_stream(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Native streaming sessionization (``session_window``)."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def dedup_stream(events: DataFrame) -> DataFrame:
    """Drop duplicate event_ids with bounded state: duplicates are only
    tracked within the watermark horizon."""
    return events.withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark(
        ["event_id"]
    )


_USER_STATE_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)
_STATE_SCHEMA = StructType(
    [StructField("n", LongType()), StructField("total", DoubleType())]
)


def _update_user_state(key, pdfs, state: GroupState):
    """Running per-user (count, sum) with explicit GroupState."""
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
    )


def user_running_state_stream(events: DataFrame) -> DataFrame:
    """Custom stateful operator: applyInPandasWithState, update mode.

    State-lifetime note: this operator keeps one (n, total) entry per
    user FOREVER (NoTimeout) — running lifetime totals are the
    semantics, so no watermark can evict the state (withWatermark
    bounds the aggregation operators, not applyInPandasWithState
    state). On an unbounded user population that is an unbounded state
    store: a production deployment keys state to a bounded entity set
    or adds EventTimeTimeout + state.remove for idle keys."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_user_state,
            outputStructType=_USER_STATE_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


_LOCF_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_rows", LongType()),
        StructField("n_observed", LongType()),
        StructField("last_observed_value", DoubleType()),
    ]
)
# carried state: counters + the argmax (ts_ns, event_id, value) tuple
_LOCF_STATE_SCHEMA = StructType(
    [
        StructField("n_rows", LongType()),
        StructField("n_observed", LongType()),
        StructField("best_ts_ns", LongType()),
        StructField("best_event_id", LongType()),
        StructField("best_value", DoubleType()),
    ]
)


def _update_locf_state(key, pdfs, state: GroupState):
    """Incremental LOCF fill state: counters plus the lexicographic
    max (ts, event_id, value) OBSERVATION seen so far — the same
    total order the batch key's struct-MAX uses, so micro-batch
    arrival order cannot change the converged pick."""
    if state.exists:
        n_rows, n_obs, bts, beid, bval = state.get
    else:
        n_rows, n_obs, bts, beid, bval = 0, 0, None, None, None
    best = None if bts is None else (bts, beid, bval)
    for pdf in pdfs:
        n_rows += len(pdf)
        m = pdf["event_id"].astype("int64") % 7 == 0
        obs = pdf[m & pdf["value"].notna()]
        n_obs += len(obs)
        for ts, eid, val in zip(
            obs["ts"].astype("int64"),  # datetime64[ns/us] -> int
            obs["event_id"].astype("int64"),
            obs["value"].astype("float64"),
        ):
            cand = (int(ts), int(eid), float(val))
            if best is None or cand > best:
                best = cand
    state.update(
        (n_rows, n_obs)
        + (best if best is not None else (None, None, None))
    )
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_rows": [n_rows],
            "n_observed": [n_obs],
            "last_observed_value": [
                best[2] if best is not None else None
            ],
        }
    )


def user_locf_state_stream(events: DataFrame) -> DataFrame:
    """Stateful LOCF carrier (applyInPandasWithState, update mode):
    per user, the running fill state stream_locf_state checks in
    batch form. Same NoTimeout lifetime note as
    user_running_state_stream — the fill must survive arbitrarily
    long observation gaps, so production bounds the KEY set, not the
    state TTL."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_locf_state,
            outputStructType=_LOCF_OUT_SCHEMA,
            stateStructType=_LOCF_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def run_to_memory(
    sdf: DataFrame, name: str, output_mode: str = "append"
) -> None:
    """Run a streaming DataFrame synchronously to a memory sink; results
    land in the temp view ``name``. Caller queries and stops."""
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()


def run_with_progress(
    sdf: DataFrame, name: str, output_mode: str = "append"
) -> list:
    """Like run_to_memory, but return the per-micro-batch
    StreamingQueryProgress records captured before stop().

    This is the measurement surface for the operational claims the
    module docstring makes: ``numInputRows`` per batch shows
    maxFilesPerTrigger backpressure actually splitting the source into
    bounded micro-batches, and ``stateOperators`` (numRowsTotal /
    numRowsRemoved) shows watermark eviction keeping state bounded —
    asserted in tests/test_streaming.py rather than just claimed."""
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .start()
    )
    try:
        q.processAllAvailable()
        return list(q.recentProgress or [])
    finally:
        q.stop()
        q.awaitTermination()


def enrich_static_stream(events: DataFrame, customer: DataFrame) -> DataFrame:
    """Streaming twin of stream_enrich_static: stream-static broadcast
    join + windowed aggregate (stream-static joins need no watermark —
    the static side is re-read per micro-batch; the agg carries one so
    its state stays bounded)."""
    return (
        events.withWatermark("ts", "10 minutes")
        .join(F.broadcast(customer), events.user_id == customer.c_custkey)
        .groupBy(F.window("ts", "1 hour").alias("w"), "c_mktsegment")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "c_mktsegment", "n_events")
    )


def interval_join_stream(views: DataFrame, purchases: DataFrame) -> DataFrame:
    """Streaming twin of stream_stream_join: a watermarked
    stream-stream interval join. Both sides carry a watermark and the
    join predicate bounds purchase_ts to [view_ts, view_ts + 1h), so
    Spark can evict view state older than watermark + 1h and purchase
    state older than the watermark — bounded state at any throughput.
    Append mode: a match emits once both sides' watermarks pass it."""
    v = views.withWatermark("ts", "10 minutes").select(
        F.col("user_id").alias("v_user_id"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    p = purchases.withWatermark("ts", "10 minutes").select(
        F.col("user_id").alias("user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    return v.join(
        p,
        (F.col("v_user_id") == F.col("user_id"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (F.col("purchase_ts") < F.col("view_ts") + F.expr("INTERVAL 1 HOUR")),
    ).select(
        "user_id", "view_id", "purchase_id", "view_ts", "purchase_ts",
        "purchase_value",
    )


def idempotent_batch_sink(target_dir: str):
    """Exactly-once ``foreachBatch`` sink: the function Structured
    Streaming's at-least-once batch redelivery needs on the other side.

    foreachBatch gives at-least-once semantics — after a failure the
    SAME (batch_df, batch_id) can be delivered again, and a naive
    append would double those rows. The standard fix (Structured
    Streaming programming guide: "use batchId to deduplicate") is to
    make the write KEYED by batch_id and skip batches already
    committed: each batch lands under ``batch_id=N/`` only if that
    partition is absent, so redelivery is a no-op and downstream
    readers see each input row exactly once. The directory-per-batch
    layout doubles as the commit log — a partition directory with a
    parquet _SUCCESS marker IS the committed record, no side store.

    At scale the same pattern targets a transactional table format
    (MERGE keyed on batch_id) — the sink function's shape is
    identical."""
    import os

    def write(batch_df: DataFrame, batch_id: int) -> None:
        part = os.path.join(target_dir, f"batch_id={batch_id}")
        if os.path.exists(os.path.join(part, "_SUCCESS")):
            return  # redelivered batch: already committed, exactly-once
        batch_df.write.mode("overwrite").parquet(part)

    return write


def committed_batches(spark: SparkSession, target_dir: str) -> list[int]:
    """The batch ids the sink has durably committed (its commit log)."""
    import os

    if not os.path.isdir(target_dir):
        return []
    out = []
    for name in os.listdir(target_dir):
        if name.startswith("batch_id=") and os.path.exists(
            os.path.join(target_dir, name, "_SUCCESS")
        ):
            out.append(int(name.split("=", 1)[1]))
    # numeric sort: a lexicographic directory-name sort would return
    # batch 10 between 1 and 2
    return sorted(out)


def interval_join_stream_outer(
    views: DataFrame, purchases: DataFrame
) -> DataFrame:
    """LEFT OUTER watermarked stream-stream interval join — the
    semantics inner joins cannot give: a view with NO purchase inside
    its attribution window must still emit (with NULL purchase
    columns), and in streaming that row can only be produced once the
    watermark proves no matching purchase can still arrive — i.e.
    watermark > view_ts + window + delay. Until then the view sits in
    state; after, it emits null-completed exactly once. Same bounded
    state as the inner variant (the predicate's interval bounds both
    sides' eviction); the OUTER completion is the part that needs the
    engine's watermark bookkeeping, which is why the test drives a
    watermark-advancing flush batch and checks the null-completed set
    against the batch left-anti twin."""
    v = views.withWatermark("ts", "10 minutes").select(
        F.col("user_id").alias("v_user_id"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    p = purchases.withWatermark("ts", "10 minutes").select(
        F.col("user_id").alias("user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    return v.join(
        p,
        (F.col("v_user_id") == F.col("user_id"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (F.col("purchase_ts") < F.col("view_ts") + F.expr("INTERVAL 1 HOUR")),
        "leftOuter",
    ).select(
        F.col("v_user_id").alias("view_user_id"),
        "view_id",
        "view_ts",
        "purchase_id",
        "purchase_ts",
    )
