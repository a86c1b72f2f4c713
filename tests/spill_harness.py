"""Shared harness for the execution-axis determinism gates (round 12+).

Three pieces:

- :func:`canonical_digest` — a bit-exact, order-canonical sha256 of a
  DataFrame's collected rows (floats by IEEE bit pattern, decimals by
  exact string, arrays/structs/maps recursively). Two runs that
  produce byte-identical multisets of rows produce equal digests;
  ANY value difference — including a float ULP or a -0.0 sign —
  produces different ones. Deliberately stricter than the
  driver-parity compare.

- a ``__main__`` runner that builds a DEDICATED SparkSession (the
  engine's normal configure() plus, with ``--spill``, every
  spill-forcing knob we verified actually fires on Spark 4.1),
  digests the requested registry keys, proves the spill machinery
  engaged via canary plans whose executed-plan ``spillSize`` metrics
  must be positive, and writes one JSON file. The gate
  (test_spill_determinism.py) runs this in a subprocess because the
  decisive spill knobs are STATIC confs — ``spark.memory.fraction``
  and ``spark.shuffle.spill.numElementsForceSpillThreshold`` are
  fixed at JVM/context creation and cannot be toggled on the shared
  test session.

- the gate helpers every execution-axis test uses instead of its own
  copy: :func:`baseline_digest` (the default-config digest of a key,
  computed once per test session), :func:`conf_patch` (runtime SQL
  confs for one block), :func:`run_child` (a second driver process
  that cannot outlive its test) and :func:`run_harness` (this
  runner in a child, returning its result JSON).

Spill knobs, all verified to fire (probe, round 12). Thresholds are
sized so the registry keys THEMSELVES spill even at smoke scale
(sf0.001 partitions hold only hundreds of rows — the first knob set
at 20000/512 made only the canaries spill; the per-key
``spill_bytes_keys`` total in the output JSON is the evidence the
gate asserts on):

- ``spark.shuffle.spill.numElementsForceSpillThreshold=2000`` — every
  UnsafeExternalSorter (SortExec, shuffle sort, agg fallback sorter)
  force-spills each 2000 records. Not lower: low thresholds multiply
  spill FILES, every merge reader allocates a ≥1 MB read-ahead buffer
  (the conf floor — 64 KB is rejected), and at threshold 1000 a
  100k-row agg merge OOMed a 1 GB heap; 2000 with the pinned 8 GB
  driver heap keeps single-partition merges bounded while smoke-scale
  global sorts (single-task windows/sorts over the whole table) still
  exceed it and spill.
- ``spark.sql.TungstenAggregate.testFallbackStartsAt=64,128`` —
  HashAggregateExec abandons its hash map after 64 distinct keys and
  finishes sort-based (spillSize > 0 on both partial and final agg).
- ``spark.sql.windowExec.buffer.spill.threshold=16`` /
  ``spark.sql.sessionWindow.buffer.spill.threshold=16`` /
  ``spark.sql.sortMergeJoinExec.buffer.spill.threshold=16`` — the
  ExternalAppendOnlyUnsafeRowArray behind window frames, session
  windows and SMJ buffered matches goes to disk past 16 rows.
- ``spark.sql.objectHashAggregate.sortBased.fallbackThreshold=16`` —
  ObjectHashAggregate (collect_list/collect_set paths) falls back
  sort-based past 16 keys.
- ``spark.memory.fraction=0.3`` — shrinks execution memory so
  memory-pressure spills engage beyond the forced thresholds.
"""

from __future__ import annotations

import contextlib
import datetime
import decimal
import hashlib
import json
import os
import signal
import struct
import subprocess
import sys
import tempfile

SPILL_CONFS_STATIC = {
    "spark.memory.fraction": "0.3",
    "spark.shuffle.spill.numElementsForceSpillThreshold": "2000",
}
SPILL_CONFS_SQL = {
    "spark.sql.TungstenAggregate.testFallbackStartsAt": "64,128",
    "spark.sql.windowExec.buffer.spill.threshold": "16",
    "spark.sql.sessionWindow.buffer.spill.threshold": "16",
    "spark.sql.sortMergeJoinExec.buffer.spill.threshold": "16",
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold": "16",
}


def _canon_value(v):
    if isinstance(v, bool) or v is None or isinstance(v, (int, str)):
        return ["p", v]
    if isinstance(v, float):
        return ["f", struct.pack("<d", v).hex()]
    if isinstance(v, decimal.Decimal):
        return ["d", str(v)]
    if isinstance(v, (datetime.datetime, datetime.date, datetime.time)):
        return ["t", v.isoformat()]
    if isinstance(v, (bytes, bytearray)):
        return ["b", bytes(v).hex()]
    if hasattr(v, "asDict"):  # pyspark Row (struct column)
        return [
            "r",
            sorted(
                [k, _canon_value(x)] for k, x in v.asDict(False).items()
            ),
        ]
    if isinstance(v, (list, tuple)):
        return ["l", [_canon_value(x) for x in v]]
    if isinstance(v, dict):
        return [
            "m",
            sorted([str(k), _canon_value(x)] for k, x in v.items()),
        ]
    # No repr() fallback: default reprs embed memory addresses, which
    # would make digests nondeterministic across runs — a new column
    # type must fail loudly, not hash an address (ADVICE r12).
    raise TypeError(
        f"canonical_digest: unhandled value type {type(v).__name__}; "
        "add an explicit bit-exact encoding to _canon_value"
    )


def canonical_digest(df, _spill_out: list | None = None) -> str:
    """Order-canonical bit-exact sha256 of the DataFrame's rows. When
    ``_spill_out`` is given, the executed plan's total spill bytes are
    appended to it (metrics read from the same QueryExecution the
    collect ran)."""
    cols = sorted(df.columns)
    sel = df.select(*cols)
    rows = [
        json.dumps([_canon_value(r[c]) for c in cols])
        for r in sel.collect()
    ]
    rows.sort()
    h = hashlib.sha256()
    h.update(json.dumps(cols).encode())
    for row in rows:
        h.update(row.encode())
    if _spill_out is not None:
        _spill_out.append(_executed_spill_bytes(sel))
    return h.hexdigest()


def _executed_spill_bytes(df) -> int:
    """Sum every 'spill'-named SQLMetric in the df's executed plan.
    Must be called after an action on the SAME DataFrame object.
    Descends through AQE wrappers (AdaptiveSparkPlanExec /
    QueryStageExec), whose children() is empty by design."""
    total = 0

    def walk(node):
        nonlocal total
        m = node.metrics()
        it = m.iterator()
        while it.hasNext():
            kv = it.next()
            if "spill" in kv._1().lower():
                total += max(0, kv._2().value())
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i))
        if ch.size() == 0:
            for meth in ("executedPlan", "plan"):
                try:
                    walk(getattr(node, meth)())
                    break
                except Exception:
                    pass

    walk(df._jdf.queryExecution().executedPlan())
    return total


_BASELINES: dict[str, str] = {}


def baseline_digest(spark, key: str) -> str:
    """Digest of ``key`` at SF_SMOKE under the default session config,
    computed once per test session and shared by every gate that
    compares a varied run against it."""
    if key not in _BASELINES:
        from uchr_scetl_spark import load_registry

        from .conftest import SF_SMOKE

        _BASELINES[key] = canonical_digest(load_registry()[key].fn(spark, SF_SMOKE))
    return _BASELINES[key]


@contextlib.contextmanager
def conf_patch(spark, confs: dict[str, str]):
    """Set runtime SQL confs for the block; restore each old value (or
    unset it) on exit."""
    saved = {}
    try:
        for k, v in confs.items():
            try:
                saved[k] = spark.conf.get(k)
            except Exception:
                saved[k] = None
            spark.conf.set(k, v)
        yield
    finally:
        for k, old in saved.items():
            if old is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, old)


def run_child(argv: list[str], timeout: float, env=None, cwd=None) -> str:
    """Run a child process (by default in the repo root) and return its
    stdout text; a nonzero exit or a run past ``timeout`` seconds fails
    with the tail of its stderr.

    Output goes to files, not pipes: a JVM grandchild inherits the
    child's stdout and can hold a pipe open long after the child
    exits, which ``subprocess.run(capture_output=True)`` reports as a
    timeout. stdin is /dev/null, and the child leads its own process
    group, killed whole once the child exits or times out, so no
    grandchild outlives the test."""
    from .conftest import REPO

    with (
        tempfile.TemporaryFile("w+", errors="replace") as out,
        tempfile.TemporaryFile("w+", errors="replace") as err,
    ):
        proc = subprocess.Popen(
            argv,
            cwd=cwd or REPO,
            env=env,
            stdin=subprocess.DEVNULL,
            stdout=out,
            stderr=err,
            start_new_session=True,
        )
        try:
            returncode = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            returncode = None
        finally:
            with contextlib.suppress(ProcessLookupError):
                os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        out.seek(0)
        err.seek(0)
        stdout, stderr = out.read(), err.read()
    if returncode != 0:
        how = f"timed out after {timeout} s" if returncode is None else f"exited {returncode}"
        raise AssertionError(f"child {how}:\n{stderr[-3000:]}")
    return stdout


def run_harness(args: list[str], master: str | None = None, timeout: float = 1800) -> dict:
    """Run this harness over SF_SMOKE in a child driver and return its
    result JSON. ``master`` sets SPARK_GRAFT_MASTER; the repo root is
    put on the child's PYTHONPATH."""
    from .conftest import REPO, SF_SMOKE

    env = dict(os.environ)
    if master is not None:
        env["SPARK_GRAFT_MASTER"] = master
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, env.get("PYTHONPATH")) if p
    )
    fd, out = tempfile.mkstemp(suffix=".json", prefix="uchr_gate_")
    os.close(fd)
    try:
        run_child(
            [sys.executable, "-m", "tests.spill_harness", out, SF_SMOKE, *args],
            timeout,
            env=env,
        )
        with open(out) as f:
            return json.load(f)
    finally:
        os.unlink(out)


def _canary_spill_bytes(spark) -> int:
    """Prove the forced-spill machinery engages: a window+sort plan
    and a hash-agg plan whose executed metrics must show disk spill.
    AQE is disabled for the canaries only, so the executed plan the
    metrics walk sees is the static one."""
    with conf_patch(spark, {"spark.sql.adaptive.enabled": "false"}):
        # 20k rows: far above every forced threshold (so the spill
        # paths are guaranteed to run) but small enough that the
        # per-spill-file ≥1 MB read-ahead buffers the 16-row window
        # threshold multiplies stay within the heap at local[32]
        win = (
            spark.range(0, 20000)
            .selectExpr("id % 7 AS k", "id AS v")
            .selectExpr(
                "k", "v", "sum(v) OVER (PARTITION BY k ORDER BY v) AS s"
            )
        )
        win.collect()
        agg = (
            spark.range(0, 20000)
            .selectExpr("id % 5000 AS k", "id AS v")
            .groupBy("k")
            .sum("v")
        )
        agg.collect()
        return _executed_spill_bytes(win) + _executed_spill_bytes(agg)


def build_session(spill: bool, extra_confs: dict[str, str] | None = None):
    from pyspark.sql import SparkSession

    from uchr_scetl_spark.session import configure, default_parallelism

    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(
            "uchr-spill-harness" if spill else "uchr-plain-harness"
        )
        .master(os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]"))
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        )
        .config("spark.ui.enabled", "false")
        # match get_session: reliable checkpoint files are GC-cleaned
        # instead of accumulating for the session's lifetime (static
        # conf, so it must be set here, not in configure())
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    )
    if spill:
        for k, v in SPILL_CONFS_STATIC.items():
            builder = builder.config(k, v)
        for k, v in SPILL_CONFS_SQL.items():
            builder = builder.config(k, v)
    for k, v in (extra_confs or {}).items():
        builder = builder.config(k, v)
    return configure(builder.getOrCreate())


def install_load_wrapper(spark, fault: bool):
    """Route every table load through a mapInPandas PASS-THROUGH stage
    — the round-13 task-retry axis. With ``fault=True`` the stage
    raises on its FIRST task attempt for every third partition
    (``TaskContext.attemptNumber() == 0 and partitionId() % 3 == 0``),
    forcing Spark to re-execute those scan tasks; the session must
    allow retries (master ``local[N,F]`` with F > 1, or any cluster
    master). Results downstream of a retried task must be bit-identical
    to the no-fault run of the SAME wrapped plan — comparing against
    the wrapped no-fault digests (not the plain ones) isolates the
    retry axis from the Arrow round-trip the wrapper itself adds.

    Returns an accumulator counting tasks that ran as attempt > 0 in
    the SUCCESSFUL pass — the anti-vacuity evidence that retries
    actually happened (failed-attempt accumulator updates are dropped
    by the driver, so counting in the retry attempt is reliable).

    Rebinds ``load`` in every already-imported engine module: operator
    modules bind ``from ..io import load`` at import time, so patching
    ``uchr_scetl_spark.io.load`` alone would miss them. Call AFTER
    ``load_registry()`` has imported everything.
    """
    import uchr_scetl_spark.io as uio

    orig = uio.load
    acc = spark.sparkContext.accumulator(0)

    def wrapped_load(spark_, sf_dir_, name_):
        df = orig(spark_, sf_dir_, name_)

        def passthrough(batches):
            from pyspark import TaskContext

            tc = TaskContext.get()
            if tc is not None:
                if (
                    fault
                    and tc.attemptNumber() == 0
                    and tc.partitionId() % 3 == 0
                ):
                    raise RuntimeError(
                        "injected first-attempt fault "
                        f"(partition {tc.partitionId()})"
                    )
                if tc.attemptNumber() > 0:
                    acc.add(1)
            yield from batches

        return df.mapInPandas(passthrough, schema=df.schema)

    for mod in list(sys.modules.values()):
        if getattr(mod, "__name__", "").startswith("uchr_scetl_spark"):
            if getattr(mod, "load", None) is orig:
                mod.load = wrapped_load
    uio.load = wrapped_load
    return acc


def start_chaos_killer(interval_s: float, target: str = "executor"):
    """Round-13 chaos axes: a daemon thread that SIGKILLs one process
    every ``interval_s`` seconds.

    target="executor" — the oldest CoarseGrainedExecutorBackend JVM.
    Only meaningful under a cluster master (local-cluster /
    standalone) whose Workers relaunch executors: each kill loses
    that executor's shuffle files and cached blocks mid-job, so Spark
    must recover via task retry, FetchFailed stage re-execution, and
    cache partition recomputation — the three at-scale recovery paths
    a single-JVM session never runs.

    target="pyworker" — the oldest pyspark.daemon Python process (the
    worker pool behind every pandas UDF / mapInPandas stage). A dead
    worker fails the running task with a socket EOF and Spark retries
    it, so the session must allow retries (local[N,F>1] or a cluster
    master); shuffle files and caches survive, making this a DISTINCT
    failure class from executor loss.

    Returns a dict whose 'kills' entry counts processes actually
    killed (the anti-vacuity evidence); set 'stop' to end the thread."""
    import threading
    import time

    pattern, comm = {
        "executor": ("CoarseGrainedExecutorBackend", "java"),
        "pyworker": ("pyspark.daemon", None),
    }[target]
    state = {"kills": 0, "stop": False}
    me = os.getpid()

    def _is_descendant(pid: int) -> bool:
        # only THIS harness's session may lose processes — a shared
        # pytest session's daemons (lower pids, so first in pgrep
        # order) must never be shot by a gate subprocess
        hops = 0
        while pid > 1 and hops < 32:
            try:
                with open(f"/proc/{pid}/status") as f:
                    for ln in f:
                        if ln.startswith("PPid:"):
                            pid = int(ln.split()[1])
                            break
                    else:
                        return False
            except OSError:
                return False
            if pid == me:
                return True
            hops += 1
        return False

    def loop():
        while not state["stop"]:
            time.sleep(interval_s)
            if state["stop"]:
                return
            try:
                pids = subprocess.run(
                    ["pgrep", "-f", pattern],
                    capture_output=True,
                    text=True,
                ).stdout.split()
                # comm filter: a shell wrapper whose cmdline quotes
                # this very pattern must not be shot ("java" for
                # executors; any python* comm for daemon workers)
                for pid in pids:
                    try:
                        with open(f"/proc/{pid}/comm") as f:
                            c = f.read().strip()
                        if comm is not None and c != comm:
                            continue
                        if comm is None and not c.startswith("python"):
                            continue
                    except OSError:
                        continue
                    if not _is_descendant(int(pid)):
                        continue
                    os.kill(int(pid), signal.SIGKILL)
                    state["kills"] += 1
                    break
            except Exception:
                pass  # a raced exit between pgrep and kill is fine

    t = threading.Thread(target=loop, daemon=True)
    t.start()
    state["thread"] = t
    return state


def main(argv: list[str]) -> int:
    out_json = argv[0]
    sf_dir = argv[1]
    rest = argv[2:]
    spill = "--spill" in rest
    retry_fault = "--retry-fault" in rest
    wrap_loads = "--wrap-loads" in rest or retry_fault
    chaos_interval = None
    chaos_target = "executor"
    if "--chaos-kill" in rest:
        i = rest.index("--chaos-kill")
        chaos_interval = float(rest[i + 1])
        del rest[i : i + 2]
    if "--chaos-kill-python" in rest:
        i = rest.index("--chaos-kill-python")
        chaos_interval = float(rest[i + 1])
        chaos_target = "pyworker"
        del rest[i : i + 2]
    threads_n = None
    if "--threads" in rest:
        # round-14 concurrency axis: run the keys over a thread pool
        # on the ONE shared session — every thread plans, executes and
        # collects simultaneously against shared SQLConf, catalog,
        # memo caches and cache manager. Digests must match the
        # serial run's.
        i = rest.index("--threads")
        threads_n = int(rest[i + 1])
        del rest[i : i + 2]
    dup = 1
    if "--dup" in rest:
        # same-KEY concurrency: each key submitted N times, adjacent
        # in the work list so the copies race each other in the pool.
        # Divergent copies are recorded as a MISMATCH digest (which
        # can never equal a serial baseline's).
        i = rest.index("--dup")
        dup = int(rest[i + 1])
        del rest[i : i + 2]
    rest = [
        a for a in rest if a not in ("--spill", "--retry-fault", "--wrap-loads")
    ]
    extra_confs = {}
    while "--conf" in rest:
        i = rest.index("--conf")
        k, v = rest[i + 1].split("=", 1)
        extra_confs[k] = v
        del rest[i : i + 2]

    sys.path.insert(0, __file__.rsplit("/", 2)[0])
    from uchr_scetl_spark import load_registry

    registry = load_registry()
    keys = (
        sorted(k for k, s in registry.items())
        if rest == ["--all"]
        else rest
    )
    if not keys:
        # A sweep over zero keys writes an empty digests map that any
        # other empty file compares 'identical' to — vacuous pass.
        # Fail loudly instead (ADVICE r12).
        print(
            "spill_harness: no registry keys resolved "
            "(pass key names or --all)",
            file=sys.stderr,
        )
        return 2
    spark = build_session(spill, extra_confs)
    if threads_n:
        # round-15 preflight of the round-14 measured sizing rule:
        # concurrent spill-merges need ~2 GiB heap each — fail the
        # sweep up front with a sizing message instead of an OOM
        # half-way through a 309-key run
        from uchr_scetl_spark.session import preflight_driver_memory

        preflight_driver_memory(spark, threads_n, strict=spill)
    result = {
        "spill_mode": spill,
        "wrap_loads": wrap_loads,
        "retry_fault": retry_fault,
        "threads": threads_n,
        "retried_tasks": None,
        "chaos_kills": None,
        "canary_spill_bytes": None,
        "spill_bytes_keys": None,
        "digests": {},
    }
    retry_acc = (
        install_load_wrapper(spark, fault=retry_fault) if wrap_loads else None
    )
    chaos = (
        start_chaos_killer(chaos_interval, chaos_target)
        if chaos_interval is not None
        else None
    )
    if spill:
        result["canary_spill_bytes"] = _canary_spill_bytes(spark)
    spill_out: list = []

    def run_key(key: str) -> tuple[str, str]:
        try:
            return key, canonical_digest(
                registry[key].fn(spark, sf_dir),
                _spill_out=spill_out if spill else None,
            )
        except Exception as exc:  # recorded, judged by the caller
            return key, f"ERR: {exc!r}"[:500]

    work = [k for k in keys for _ in range(dup)]

    def record(key: str, dig: str) -> None:
        prev = result["digests"].get(key)
        if prev is not None and prev != dig:
            a, b = sorted((str(prev)[:24], str(dig)[:24]))
            result["digests"][key] = f"MISMATCH: {a} != {b}"
        else:
            result["digests"][key] = dig

    if threads_n:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=threads_n) as pool:
            for key, dig in pool.map(run_key, work):
                record(key, dig)
    else:
        for key in work:
            record(*run_key(key))
    if spill:
        result["spill_bytes_keys"] = sum(spill_out)
    if retry_acc is not None:
        result["retried_tasks"] = retry_acc.value
    if chaos is not None:
        chaos["stop"] = True
        result["chaos_kills"] = chaos["kills"]
    with open(out_json, "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
    print(f"wrote {out_json}: {len(keys)} keys, spill={spill}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
