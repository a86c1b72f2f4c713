"""Executor-loss (chaos) gate — round 13's second re-execution axis.

On a 1000-executor cluster, executors DIE mid-query: spot preemption,
OOM kills, hardware. Spark's recovery story differs by state class —
shuffle files trigger FetchFailed stage re-execution, cached
InMemoryRelation partitions recompute from lineage, broadcasts
re-fetch from the driver — but ``localCheckpoint`` blocks are
UNREPLICATED executor-local state whose lineage was deliberately
truncated away: losing the hosting executor fails the query
irrecoverably (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND), and no task retry
or stage re-execution can help because there is nothing left to
recompute from. Every iterative key in this engine (the graph family,
dedup_clusters, the sampling barrier plans) checkpoints, so this is a
REAL at-scale fault-tolerance gap — measured here, not argued.

The engine's answer (session.stable_checkpoint): every
lineage-truncation point routes through ONE helper. Default =
localCheckpoint (fastest; the right trade where a lost executor may
fail a query that simply re-runs). With
``spark.uchr.reliableCheckpoint=true`` (spot/preemptible clusters,
dynamic allocation) it switches to reliable ``checkpoint()`` into
``spark.uchr.checkpointDir`` — on one machine a tmp dir, on a real
cluster the shared FS — which survives executor death.

Three gates:
1. the gap REPRODUCED: a localCheckpoint'd frame fails after its
   executor is SIGKILLed (so this test notices if a future Spark
   starts replicating local checkpoints and the helper's rationale
   goes stale);
2. the fix PROVEN: the same frame under reliable mode answers
   correctly after the kill;
3. CHAOS cross-section: representative keys (including iterative
   checkpointing ones) run on a two-executor local-cluster while a
   killer thread SIGKILLs an executor every few seconds (the worker
   relaunches replacements); with reliable checkpoints on, every key
   must return its bit-exact shared-session digest, and at least one
   kill must have landed (anti-vacuity);
4. PYTHON-WORKER chaos: the pyspark.daemon pool behind every pandas
   UDF is SIGKILLed on a cadence under local[32,4] — the task dies
   with a worker-socket EOF and retries while shuffle files and
   caches survive (a distinct failure class from executor loss);
   UDF-heavy keys must digest-match.
"""

from __future__ import annotations

import json
import sys
import textwrap

import pytest

from .conftest import REPO
from .spill_harness import baseline_digest, run_child, run_harness

# representative shapes: iterative/checkpointing (pagerank, bfs,
# clusters, zorder barrier), shuffle-heavy aggs/joins/windows, banded
# dedup, pandas UDF, sink commit protocol
CHAOS_KEYS = [
    "graph_pagerank",
    "graph_bfs_hops",
    "dedup_clusters",
    "etl_zorder_cluster",
    "tpch_q9",
    "join_asof",
    "win_topk_per_group",
    "dedup_near",
    "udf_cogrouped_pandas",
    "sink_parquet_partitioned",
]

_KILL_SCRIPT = textwrap.dedent(
    """
    import json, os, signal, subprocess, sys, time

    sys.path.insert(0, %(repo)r)
    from pyspark.sql import SparkSession
    from uchr_scetl_spark.session import stable_checkpoint

    spark = (
        SparkSession.builder.master("local-cluster[2,2,1024]")
        .appName("uchr-executor-loss")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    if %(reliable)r:
        spark.conf.set("spark.uchr.reliableCheckpoint", "true")
    df = stable_checkpoint(
        spark.range(0, 1000000, 1, 8).selectExpr("id %% 7 AS k", "id AS v")
    )
    first = df.count()
    pids = subprocess.run(
        ["pgrep", "-f", "CoarseGrainedExecutorBackend"],
        capture_output=True, text=True,
    ).stdout.split()
    victims = [
        p for p in pids
        if open(f"/proc/{p}/comm").read().strip() == "java"
    ]
    os.kill(int(victims[0]), signal.SIGKILL)
    time.sleep(6)
    try:
        second = df.count()
        err = None
    except Exception as exc:
        second = None
        err = str(exc)[:400]
    print(json.dumps({"first": first, "second": second, "err": err}))
    spark.stop()
    """
)


def _run_kill_probe(reliable: bool) -> dict:
    stdout = run_child(
        [sys.executable, "-c", _KILL_SCRIPT % {"repo": REPO, "reliable": reliable}],
        timeout=600,
    )
    return json.loads(stdout.strip().splitlines()[-1])


def test_local_checkpoint_blocks_die_with_their_executor():
    out = _run_kill_probe(reliable=False)
    assert out["first"] == 1_000_000
    assert out["second"] is None, out
    assert "CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND" in out["err"], out["err"]


def test_reliable_checkpoint_survives_executor_loss():
    out = _run_kill_probe(reliable=True)
    assert out["first"] == 1_000_000
    assert out["second"] == 1_000_000, out


@pytest.fixture(scope="module")
def chaos():
    """spill_harness run on a two-executor local-cluster with the
    chaos killer SIGKILLing an executor every 8 s, reliable
    checkpoints on. (The killer only shoots java processes descended
    from its own harness process, so concurrent sessions — the shared
    pytest one included — are never at risk.)"""
    return run_harness(
        [
            "--chaos-kill",
            "8",
            "--conf",
            f"spark.executorEnv.PYTHONPATH={REPO}",
            "--conf",
            "spark.uchr.reliableCheckpoint=true",
            *CHAOS_KEYS,
        ],
        master="local-cluster[2,8,4096]",
    )


def test_chaos_kills_actually_landed(chaos):
    assert chaos["chaos_kills"] > 0, chaos["chaos_kills"]


@pytest.mark.parametrize("key", CHAOS_KEYS)
def test_key_is_bit_identical_under_executor_loss(key, spark, chaos):
    got = chaos["digests"][key]
    assert not got.startswith("ERR:"), f"{key} raised under chaos: {got}"
    want = baseline_digest(spark, key)
    assert got == want, f"{key} changed results under executor loss"


# pandas-UDF / mapInPandas / cogroup / UDTF shapes — the keys whose
# hot path lives in Python workers
PYWORKER_KEYS = [
    "udf_pandas_scalar",
    "udf_cogrouped_pandas",
    "udtf_explode_custom",
    "embeddings_gram_matrix",
    "multimodal_resize",
    "agg_bootstrap_means",
    "sim_kmeans_assign",
    "udaf_grouped",
]


@pytest.fixture(scope="module")
def pyworker_chaos():
    """spill_harness run under local[32,4] with the chaos killer
    SIGKILLing a pyspark.daemon python process every 4 s — the
    DISTINCT failure class from executor loss: shuffle files and
    caches survive, the running task dies with a worker-socket EOF
    and must be retried. The killer only shoots descendants of its
    own harness process, so the shared pytest session's daemons are
    never at risk."""
    return run_harness(
        ["--chaos-kill-python", "4", *PYWORKER_KEYS], master="local[32,4]"
    )


def test_python_worker_kills_actually_landed(pyworker_chaos):
    assert pyworker_chaos["chaos_kills"] > 0, pyworker_chaos["chaos_kills"]


@pytest.mark.parametrize("key", PYWORKER_KEYS)
def test_key_is_bit_identical_under_python_worker_crashes(
    key, spark, pyworker_chaos
):
    got = pyworker_chaos["digests"][key]
    assert not got.startswith("ERR:"), f"{key} raised under pyworker chaos: {got}"
    want = baseline_digest(spark, key)
    assert got == want, f"{key} changed results under python worker crashes"
