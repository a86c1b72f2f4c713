"""Round-14 checkpoint operability canaries (r13 verdict #3 and #4).

Reliable ``checkpoint()`` fixed the executor-loss gap (round 13) but
introduced two operability costs a 100 TB pipeline session pays:

1. **Checkpoint-file lifecycle**: checkpoint files are only deleted
   when the JVM garbage-collects the checkpointed RDD AND
   ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` (static
   conf, default FALSE). Without it a long-lived session leaks
   shared-FS storage on every iterative query — dedup_clusters alone
   checkpoints every CC iteration. get_session and the sweep harness
   now set the conf; the soak canary MEASURES both behaviors: the
   leak with the cleaner off, bounded growth with it on.

2. **Dynamic-allocation pinning**: the ExecutorMonitor treats
   localCheckpoint blocks as cached blocks, and
   ``spark.dynamicAllocation.cachedExecutorIdleTimeout`` defaults to
   infinity — an executor hosting a localCheckpoint block of a
   still-referenced result can NEVER politely scale down, so a
   long-lived session holding iterative results pins its peak
   executor count. Reliable mode checkpoints to the filesystem
   instead, leaving nothing executor-resident to pin. The canary
   measures the distinction and the release path (dropping the
   result reference unpins).
"""

from __future__ import annotations

import json
import sys
import textwrap

from .conftest import REPO, SF_SMOKE
from .spill_harness import run_child

_SOAK_SCRIPT = textwrap.dedent(
    """
    import gc, glob, json, os, sys, tempfile, time

    sys.path.insert(0, %(repo)r)
    from pyspark.sql import SparkSession
    from uchr_scetl_spark import load_registry
    from uchr_scetl_spark.session import configure

    ckpt = tempfile.mkdtemp(prefix="uchr_soak_ckpt_")
    spark = configure(
        SparkSession.builder.master("local[8]")
        .appName("uchr-ckpt-soak")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.cleaner.referenceTracking.cleanCheckpoints",
            %(cleaner)r,
        )
        .getOrCreate()
    )
    spark.conf.set("spark.uchr.reliableCheckpoint", "true")
    spark.conf.set("spark.uchr.checkpointDir", ckpt)
    fn = load_registry()["dedup_clusters"].fn

    def rdd_dirs():
        return len(glob.glob(os.path.join(ckpt, "*", "rdd-*")))

    def settle(target=None, timeout=30.0):
        # checkpoint cleanup is asynchronous: ContextCleaner acts on a
        # JVM weak-ref queue, so poke both GCs and poll
        deadline = time.time() + timeout
        n = rdd_dirs()
        while time.time() < deadline:
            gc.collect()
            spark.sparkContext._jvm.System.gc()
            time.sleep(1.0)
            n = rdd_dirs()
            if target is not None and n <= target:
                break
        return n

    cleaner = %(cleaner)r == "true"
    written, counts = [], []
    for i in range(3):
        df = fn(spark, %(sf)r)
        df.count()
        written.append(rdd_dirs())  # checkpoints actually landed
        del df
        counts.append(
            settle(
                target=0 if cleaner else None,
                timeout=45.0 if cleaner else 6.0,
            )
        )
    print(json.dumps({"written": written, "counts": counts}))
    spark.stop()
    """
)


def _run_soak(cleaner: bool) -> dict:
    stdout = run_child(
        [
            sys.executable,
            "-c",
            _SOAK_SCRIPT % {"repo": REPO, "cleaner": str(cleaner).lower(), "sf": SF_SMOKE},
        ],
        timeout=900,
    )
    return json.loads(stdout.strip().splitlines()[-1])


def test_checkpoint_files_leak_without_the_cleaner():
    """The default (cleanCheckpoints=false) leaks: every run of an
    iterative key adds its per-iteration checkpoint dirs and nothing
    ever removes them — the measured reason get_session sets the
    conf. dedup_clusters checkpoints each CC round, so three runs
    must show strict monotone growth even with both GCs poked."""
    out = _run_soak(cleaner=False)
    written, counts = out["written"], out["counts"]
    assert written[0] > 0, out
    assert counts[2] > counts[1] > counts[0] > 0, out
    # the leak is per-run linear: run 3 holds ~3x run 1's dirs
    assert counts[2] >= 2 * counts[0], out


def test_checkpoint_files_cleaned_with_the_cleaner():
    """With cleanCheckpoints=true (what get_session/spill_harness set)
    the ContextCleaner deletes a checkpoint's files once its RDD is
    GC'd: checkpoints land during each run (anti-vacuity: written>0)
    and the dir settles back to ~empty after the result is released,
    instead of accumulating run over run."""
    out = _run_soak(cleaner=True)
    written, counts = out["written"], out["counts"]
    assert all(w > 0 for w in written), out
    # slack for a straggling in-flight cleanup; the OFF case holds
    # dozens of dirs by run 3
    assert all(c <= 4 for c in counts), out


_PIN_SCRIPT = textwrap.dedent(
    """
    import gc, json, sys, time

    sys.path.insert(0, %(repo)r)
    from pyspark.sql import SparkSession
    from uchr_scetl_spark.session import configure, stable_checkpoint

    spark = configure(
        SparkSession.builder.master("local-cluster[2,1,1024]")
        .appName("uchr-dynalloc-pin")
        .config("spark.ui.enabled", "false")
        .config("spark.dynamicAllocation.enabled", "true")
        .config("spark.dynamicAllocation.shuffleTracking.enabled", "true")
        .config("spark.dynamicAllocation.shuffleTracking.timeout", "4s")
        .config("spark.dynamicAllocation.executorIdleTimeout", "2s")
        .config("spark.dynamicAllocation.minExecutors", "0")
        .config("spark.dynamicAllocation.maxExecutors", "2")
        .config("spark.executorEnv.PYTHONPATH", %(repo)r)
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        .getOrCreate()
    )
    if %(reliable)r:
        spark.conf.set("spark.uchr.reliableCheckpoint", "true")

    def n_executors():
        # block-manager census minus the driver
        return (
            spark.sparkContext._jsc.sc().getExecutorMemoryStatus().size() - 1
        )

    def wait_for(pred, timeout=60.0):
        deadline = time.time() + timeout
        while time.time() < deadline:
            if pred():
                return True
            gc.collect()
            spark.sparkContext._jvm.System.gc()
            time.sleep(1.0)
        return pred()

    df = stable_checkpoint(
        spark.range(0, 100000, 1, 4).selectExpr("id %% 7 AS k", "id AS v")
    )
    assert df.count() == 100000
    # idle far beyond every timeout while HOLDING the result reference
    scaled_to_zero_held = wait_for(lambda: n_executors() == 0, timeout=30.0)
    held_n = n_executors()
    # release the result and let both GCs run: localCheckpoint blocks
    # are cached blocks of the result's RDD, freed on RDD cleanup
    del df
    scaled_to_zero_released = wait_for(lambda: n_executors() == 0, timeout=60.0)
    print(json.dumps({
        "scaled_to_zero_held": scaled_to_zero_held,
        "held_n": held_n,
        "scaled_to_zero_released": scaled_to_zero_released,
    }))
    spark.stop()
    """
)


def _run_pin(reliable: bool) -> dict:
    stdout = run_child(
        [sys.executable, "-c", _PIN_SCRIPT % {"repo": REPO, "reliable": reliable}],
        timeout=900,
    )
    return json.loads(stdout.strip().splitlines()[-1])


def test_local_checkpoint_blocks_pin_executors_until_released():
    """Default mode: while the checkpointed result is referenced, the
    hosting executor can never politely scale down (checkpoint blocks
    count as cached; cachedExecutorIdleTimeout=infinity) — the session
    pins executors. Dropping the reference releases the blocks and the
    cluster scales to zero: the documented mitigation alongside
    reliable mode."""
    out = _run_pin(reliable=False)
    assert not out["scaled_to_zero_held"], out
    assert out["held_n"] >= 1, out
    assert out["scaled_to_zero_released"], out


def test_reliable_checkpoints_do_not_pin_executors():
    """Reliable mode: the checkpoint lives on the filesystem, nothing
    executor-resident remains, so the cluster scales to zero even
    while the result is still referenced — the mode's second benefit
    beyond surviving executor loss."""
    out = _run_pin(reliable=True)
    assert out["scaled_to_zero_held"], out
