"""Round-14 concurrent-invocation determinism gate.

The last untested sharing dimension (round-13 verdict #1): N worker
threads running registry keys SIMULTANEOUSLY on one shared session —
multi-tenant notebooks, FAIR-scheduler job servers, any driver that
parallelizes query submission. Everything the keys share is on trial:
SQLConf (the two conf-requiring query bodies used set-then-restore on
the shared session until round 14 — see session.conf_isolated_session),
the temp-view catalog, the managed-table catalog, the memo caches, and
the cache manager.

Three layers:

- two POINTED race tests aimed at the exact historical hazards: bloom
  thresholds and dynamic partitionOverwriteMode leaking into a
  concurrent thread's plan compilation. Under the pre-round-14
  set-then-restore code both fail; under conf-isolated child sessions
  both are deterministic passes.
- a cross-section digest gate: a shared-state-heavy key set run
  serially, then under an 8-thread pool, bit-exact digest compare.
- the full-registry concurrent sweep runs out-of-process
  (spill_harness --threads 8) and is recorded in BASELINE.md.
"""

from __future__ import annotations

import threading
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import functions as F

from uchr_scetl_spark import load_registry

from .conftest import SF_SMOKE
from .spill_harness import canonical_digest

REGISTRY = load_registry()

# Shared-state-heavy cross-section: the two conf-requiring bodies, the
# catalog key, temp-view keys, memo-cached families (dedup shingles,
# graph edges, IVF/similarity), a write key, a UDF key.
CROSS_SECTION = [
    "join_bloom_pruned",
    "etl_backfill_dynamic_overwrite",
    "etl_managed_table_lifecycle",
    "etl_compact_small_files",
    "join_broadcast",
    "agg_groupby",
    "agg_grouping_sets",
    "sql_cte_pipeline",
    "dedup_near",
    "graph_pagerank",
    "graph_copurchase_topk",
    "sim_topk",
    "text_tfidf_topterms",
    "stream_session_windows",
    "udtf_explode_custom",
    "win_topk_per_group",
]


def test_bloom_confs_never_leak_into_concurrent_plans(spark):
    """While one thread invokes join_bloom_pruned in a loop, a second
    thread continuously compiles a broadcast-eligible join on the
    PARENT session: every compiled plan must contain a
    BroadcastHashJoin, and the parent's autoBroadcastJoinThreshold
    must never read the bloom child's -1. Under the old
    set-then-restore window the racing thread could compile under
    autoBroadcastJoinThreshold=-1 and plan a sort-merge join."""
    fn = REGISTRY["join_bloom_pruned"].fn
    stop = threading.Event()
    failures: list[str] = []

    def prober():
        n = spark.createDataFrame(
            [(i, f"n{i}") for i in range(25)], "k int, name string"
        )
        big = spark.range(0, 2000).withColumn("k", (F.col("id") % 25).cast("int"))
        while not stop.is_set():
            thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
            if thr == "-1":
                failures.append(f"parent threshold mutated to {thr}")
                return
            plan = (
                big.join(n, "k")
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
            if "BroadcastHashJoin" not in plan:
                failures.append("broadcast-eligible join lost its broadcast")
                return

    t = threading.Thread(target=prober)
    t.start()
    try:
        for _ in range(6):
            fn(spark, SF_SMOKE).collect()
    finally:
        stop.set()
        t.join()
    assert not failures, failures


def test_dynamic_overwrite_never_leaks_into_concurrent_writes(spark, tmp_path):
    """While one thread re-runs the backfill write sequence (memo
    cleared each round so the dynamic-overwrite write actually
    executes), a second thread repeatedly performs a STATIC-mode
    full overwrite of its own two-partition table with one
    partition's worth of data — static semantics truncate the table,
    so exactly ONE partition must remain after every write. Under the
    old shared-session window the racing write could compile under
    partitionOverwriteMode=dynamic and leave the second partition
    behind."""
    from uchr_scetl_spark.operators import etl

    stop = threading.Event()
    failures: list[str] = []
    out = str(tmp_path / "static_overwrite")

    def writer():
        two = spark.createDataFrame(
            [(1, "a"), (2, "b")], "v int, p string"
        )
        one = spark.createDataFrame([(3, "a")], "v int, p string")
        while not stop.is_set():
            two.write.mode("overwrite").partitionBy("p").parquet(out)
            one.write.mode("overwrite").partitionBy("p").parquet(out)
            left = [
                r.p for r in spark.read.parquet(out).select("p").distinct().collect()
            ]
            if left != ["a"]:
                failures.append(
                    f"static overwrite left partitions {sorted(left)} — "
                    "dynamic mode leaked into this thread's plan"
                )
                return

    t = threading.Thread(target=writer)
    t.start()
    try:
        for _ in range(4):
            etl._BACKFILL.clear()
            etl._backfill_dir(spark, SF_SMOKE)
    finally:
        stop.set()
        t.join()
    assert not failures, failures


def test_race_probes_are_sensitive(spark, tmp_path):
    """Anti-vacuity for the two pointed race tests: when the hazardous
    conf IS active on the probing thread's session, each probe must
    detect it — otherwise a green race test proves nothing. (The race
    tests themselves then prove the engine never activates the confs
    on a shared session.)"""
    # bloom probe: threshold -1 must visibly kill the broadcast
    n = spark.createDataFrame(
        [(i, f"n{i}") for i in range(25)], "k int, name string"
    )
    big = spark.range(0, 2000).withColumn("k", (F.col("id") % 25).cast("int"))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = big.join(n, "k")._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan, plan
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")

    # overwrite probe: dynamic mode must visibly keep the unwritten
    # partition that static semantics would truncate
    out = str(tmp_path / "sens_overwrite")
    two = spark.createDataFrame([(1, "a"), (2, "b")], "v int, p string")
    one = spark.createDataFrame([(3, "a")], "v int, p string")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        two.write.mode("overwrite").partitionBy("p").parquet(out)
        one.write.mode("overwrite").partitionBy("p").parquet(out)
        left = sorted(
            r.p for r in spark.read.parquet(out).select("p").distinct().collect()
        )
        assert left == ["a", "b"], left
    finally:
        spark.conf.unset("spark.sql.sources.partitionOverwriteMode")


def test_cross_section_concurrent_digests_match_serial(spark):
    """The shared-state cross-section, serial then under an 8-thread
    pool on the SAME session, must digest bit-identically. Memo caches
    warmed by the serial pass are part of what the concurrent pass
    exercises (concurrent hits + dead-entry pruning); a second
    concurrent pass after clearing nothing re-checks stability."""
    serial = {
        k: canonical_digest(REGISTRY[k].fn(spark, SF_SMOKE))
        for k in CROSS_SECTION
    }

    def run(k: str) -> tuple[str, str]:
        return k, canonical_digest(REGISTRY[k].fn(spark, SF_SMOKE))

    with ThreadPoolExecutor(max_workers=8) as pool:
        concurrent = dict(pool.map(run, CROSS_SECTION))

    assert concurrent == serial


# keys whose bodies touch PROCESS-global or catalog state by a fixed
# name — the same-KEY race surface (two identical jobs submitted at
# once). etl_managed_table_lifecycle and join_bucketed are the two
# measured offenders their module locks now serialize (fixed-name
# DROP/rebuild dances: unlocked, the --dup sweep recorded MISMATCH
# vs AnalysisException for both); the others pin that fixed
# temp-view names, memoized child sessions, heavy-memo builds and
# scratch-dir writers stay self-race-free.
SELF_RACE_KEYS = [
    "etl_managed_table_lifecycle",
    "join_bucketed",
    "etl_backfill_dynamic_overwrite",
    "join_bloom_pruned",
    "sql_cte_pipeline",
    "udtf_explode_custom",
    "agg_grouping_sets",
    "sink_parquet_partitioned",
]


def test_concurrent_multi_corpus_memo_families_agree(spark):
    """Two corpora hitting the SAME memo families (dedup shingles,
    graph edges, IVF centroids, BPE cache) simultaneously — the
    multi-tenant shape. Memo keys carry sf_dir at index 1, so entries
    must never cross-serve; every (key, corpus) pair must match its
    serial digest."""
    keys = ["dedup_near", "graph_pagerank", "sim_topk_ivf", "dedup_clusters"]
    dirs = [SF_SMOKE, "/root/testdata/sf0.01"]
    serial = {
        (k, d): canonical_digest(REGISTRY[k].fn(spark, d))
        for k in keys
        for d in dirs
    }

    def run(kd):
        k, d = kd
        return kd, canonical_digest(REGISTRY[k].fn(spark, d))

    with ThreadPoolExecutor(max_workers=8) as pool:
        concurrent = dict(pool.map(run, list(serial)))
    bad = [kd for kd in serial if concurrent[kd] != serial[kd]]
    assert not bad, bad


def test_same_key_concurrent_invocations_agree(spark):
    """Each self-race key invoked in THREE simultaneous threads: every
    copy must produce the serial digest (no errors, no torn reads of
    a racer's half-rebuilt state)."""
    serial = {
        k: canonical_digest(REGISTRY[k].fn(spark, SF_SMOKE))
        for k in SELF_RACE_KEYS
    }
    work = [k for k in SELF_RACE_KEYS for _ in range(3)]

    def run(k: str) -> tuple[str, str]:
        return k, canonical_digest(REGISTRY[k].fn(spark, SF_SMOKE))

    with ThreadPoolExecutor(max_workers=8) as pool:
        results = list(pool.map(run, work))
    bad = [(k, d[:40]) for k, d in results if d != serial[k]]
    assert not bad, bad
