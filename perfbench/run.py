"""Closed-loop benchmark of the uchr_scetl_spark engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload etl_relational_sf001 --seed 1 \
        --seconds 10 --trace 0

One process, one driver thread (one client), ``local[nproc]``. A run:

1. writes a seeded corpus under ``.perfbench/`` inside the checkout
   (removed at exit), where Spark's, the JVM's and the workers' scratch
   files also go;
2. sets the session up ``SETUPS`` times (stop, ``get_session``, one
   forced ``flagship`` query over the corpus) and reports the median as
   ``setup_s``;
3. runs one untimed pass that collects every key and compares it with
   its DuckDB oracle (``tools/selfcheck.py``), then ``SETTLE_PASSES``
   untimed noop passes;
4. runs timed passes while the next one fits in ``--seconds`` (at least
   one). Each pass clears the engine's memos, then calls the keys in
   one seed-shuffled order; each call is timed as construction
   (``QuerySpec.fn``) and execution (the forced noop write).

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` alternates
untraced and traced passes: a traced pass tags each call with
``setJobGroup("<workload>:<key>")`` and reads its jobs and stages from
the status store right after the call returns. It reports the
per-layer metrics, including the tracing overhead (traced minus
untraced median pass time), and fails the run if a key's job count
differs between traced passes. The last stdout line is one JSON
object; the lines before it print every metric with its unit, plus
``error_rate`` and ``peak_rss_mb``.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import random
import re
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

from py4j.protocol import Py4JJavaError

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

from workloads import SF, WORKLOADS  # noqa: E402

SETUPS = 3
# Untimed noop passes between the checking pass (the first, cold call
# of every key) and the timed passes. One is enough at this scale: on
# llm_iterative_sf001 at 4 cores the settle pass ran 12-15% slower than
# the passes after it, and those agreed within 5%.
SETTLE_PASSES = 1
# construction-heavy and single-core keys, reported one by one
WATCH_KEYS = (
    "graph_bfs_hops",
    "agg_percentile_exact_distributed",
    "etl_backfill_dynamic_overwrite",
    "dedup_clusters",
    "stream_state_store_read",
    "agg_bootstrap_means",
    "text_cooccurrence_topk",
    "tpch_q1",
    "dedup_containment",
)
# registry subpackages that define the workloads' keys
MODULES = ("operators", "llm", "plans", "streaming", "sources")
MB = 1024 * 1024
IMR = re.compile(r"InMemoryRelation \[[^\]]*\]")
ATTR_ID = re.compile(r"#(\d+)")

# ---------------------------------------------------------------- process


def prepare_env(work: Path, cpus: int) -> None:
    """Keep every file Spark, the JVM and Python workers write under
    ``work``, and put the engine on the workers' import path."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # the heap bounds the run's memory; 3g leaves the sf0.01 keys ample room
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "3g"
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    # every JVM, the spark-submit launcher included: temp files and
    # extracted native libraries under work, no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work} -XX:-UsePerfData"
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf", shlex.quote(f"spark.local.dir={work / 'spark-local'}"),
            "--conf", shlex.quote(f"spark.sql.warehouse.dir={work / 'warehouse'}"),
            "--conf", "spark.ui.showConsoleProgress=false",
            "pyspark-shell",
        ]
    )
    os.chdir(work)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Samples the summed RSS of this process and its descendants
    (JVM, Python workers) every ``interval`` seconds; keeps the peak."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            kb = sum(_rss_kb(p) for p in [me, *descendants(me)])
            self.peak_kb = max(self.peak_kb, kb)
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024


def stop_spark(spark) -> None:
    """Stop the session, shut the JVM gateway down and wait until the
    JVM and every Python worker it started have exited."""
    from pyspark import SparkContext

    # workers outlive the JVM as orphans, so collect the tree first
    tree = descendants(os.getpid())
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    for sig in (signal.SIGTERM, signal.SIGKILL, None):
        deadline = time.monotonic() + 15
        while time.monotonic() < deadline:
            tree = [p for p in tree if _alive(p)]
            if not tree:
                return
            time.sleep(0.1)
        if sig is None:
            raise RuntimeError(f"processes {tree} did not exit")
        for p in tree:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass


def _alive(pid: int) -> bool:
    """True while ``pid`` runs (a zombie has ended)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


# ---------------------------------------------------------------- calls


def pipeline_calls(sf_dir: str, out_dir: str) -> dict:
    """Direct Pipeline.run calls over corpus tables: a partitioned
    parquet sink and a JSON sink. Each maps to (pipeline, DuckDB SQL
    counting the rows it must write)."""
    from pyspark.sql import functions as F

    from uchr_scetl_spark.pipeline import Pipeline, Sink, Source, SqlTransform, Transform

    def since(col, day):
        return lambda df: df.where(F.col(col) >= F.lit(day).cast("timestamp_ntz"))

    return {
        "run_pipeline_parquet": (
            Pipeline(
                source=Source("parquet", f"{sf_dir}/lineitem.parquet"),
                steps=[
                    Transform("shipped_1998", since("l_shipdate", "1998-01-01")),
                    SqlTransform(
                        "net",
                        "SELECT l_orderkey, l_partkey, l_returnflag, "
                        "l_extendedprice * (1 - l_discount) AS net FROM {df}",
                    ),
                ],
                sink=Sink("parquet", f"{out_dir}/lineitem_net", "overwrite", ["l_returnflag"]),
            ),
            "SELECT count(*) FROM lineitem WHERE l_shipdate >= TIMESTAMP '1998-01-01'",
        ),
        "run_pipeline_json": (
            Pipeline(
                source=Source("parquet", f"{sf_dir}/events.parquet"),
                steps=[
                    SqlTransform(
                        "purchases",
                        "SELECT event_id, user_id, value FROM {df} "
                        "WHERE event_type = 'purchase'",
                    )
                ],
                sink=Sink("json", f"{out_dir}/events_json", "overwrite"),
            ),
            "SELECT count(*) FROM events WHERE event_type = 'purchase'",
        ),
    }


class Call:
    """One key of a workload: a registry query forced through the noop
    sink, or a benchmark-defined Pipeline.run."""

    def __init__(self, key, spec=None, pipeline=None, expect_sql=None):
        self.key = key
        self.spec = spec
        self.pipeline = pipeline
        self.expect_sql = expect_sql
        self.layer = (
            "pipeline" if spec is None else spec.fn.__module__.split(".")[1]
        )

    def build(self, spark, sf_dir):
        return self.pipeline if self.spec is None else self.spec.fn(spark, sf_dir)

    def execute(self, spark, built):
        if self.spec is None:
            return built.run(spark)
        built.write.format("noop").mode("overwrite").save()
        return None


# ---------------------------------------------------------------- tracing


class Tracer:
    """Status-store reads for one Spark application. Job ids are read
    per key right after it returns, so the store's job retention never
    drops a key's jobs before they are counted."""

    FIELDS = ("tasks", "executor_s", "shuffle_write_mb", "spill_mb",
              "input_mb", "output_mb", "task_failures", "stages")

    def __init__(self, spark, workload):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.store = self.sc._jsc.sc().statusStore()
        self.jspark = spark._jsparkSession
        self.workload = workload
        self.seen_stages: set[int] = set()

    def group(self, key: str) -> str:
        return f"{self.workload}:{key}"

    def begin(self, key: str) -> set[int]:
        g = self.group(key)
        self.sc.setJobGroup(g, g)
        return set(self.tracker.getJobIdsForGroup(g))

    def jobs_since(self, key: str, before: set[int]) -> list[int]:
        return sorted(set(self.tracker.getJobIdsForGroup(self.group(key))) - before)

    def end(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def stage_totals(self, job_ids) -> dict[str, float]:
        tot = dict.fromkeys(self.FIELDS, 0.0)
        for jid in job_ids:
            info = self.tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                if sid in self.seen_stages:
                    continue
                self.seen_stages.add(sid)
                try:
                    sd = self.store.lastStageAttempt(sid)
                except Py4JJavaError:  # stage never submitted: no attempt
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                tot["stages"] += 1
                tot["tasks"] += sd.numTasks()
                tot["task_failures"] += sd.numFailedTasks()
                tot["executor_s"] += sd.executorRunTime() / 1000
                tot["shuffle_write_mb"] += sd.shuffleWriteBytes() / MB
                tot["spill_mb"] += sd.diskBytesSpilled() / MB
                tot["input_mb"] += sd.inputBytes() / MB
                tot["output_mb"] += sd.outputBytes() / MB
        return tot

    def io_load_probe(self, spark, sf_dir) -> dict:
        """Time ``io.load(...).schema`` once per corpus table, each under
        its own job group, and count the jobs the loads launch."""
        from uchr_scetl_spark import io
        from uchr_scetl_spark.schemas import TABLES

        probe = {"s": 0.0, "jobs": 0}
        for t in TABLES:
            key = f"io.load:{t}"
            before = self.begin(key)
            t0 = time.perf_counter()
            io.load(spark, sf_dir, t).schema
            probe["s"] += time.perf_counter() - t0
            probe["jobs"] += len(self.jobs_since(key, before))
            self.end()
        return probe

    def persisted(self) -> int:
        return self.sc._jsc.getPersistentRDDs().size()

    def cached_attr_ids(self) -> set[str]:
        """Attribute ids of every relation in the session's cache. The
        cache list is private to CacheManager, so it is read by
        reflection."""
        cm = self.jspark.sharedState().cacheManager()
        field = cm.getClass().getDeclaredField("cachedData")
        field.setAccessible(True)
        data = field.get(cm)
        ids: set[str] = set()
        for i in range(data.size()):
            ids.update(ATTR_ID.findall(data.apply(i).cachedRepresentation().output().toString()))
        return ids

    @staticmethod
    def scanned_attr_ids(df) -> set[str]:
        """Attribute ids of the cached relations ``df``'s plan scans."""
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        return {i for m in IMR.findall(plan) for i in ATTR_ID.findall(m)}

    def cached_mb(self) -> float:
        return sum(i.memSize() for i in self.sc._jsc.sc().getRDDStorageInfo()) / MB


def dir_mb(path: str) -> float:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total / MB


# ---------------------------------------------------------------- passes


def run_pass(spark, calls, sf_dir, tracer=None):
    """One closed-loop pass over ``calls`` in the given order. Returns
    the pass record; per-key records carry build/exec seconds and, when
    traced, jobs and stage totals."""
    from uchr_scetl_spark import clear_caches

    t0 = time.perf_counter()
    clear_caches()
    rec = {"clear_s": time.perf_counter() - t0, "keys": {}, "errors": []}
    if tracer:
        rec["persist_start"] = tracer.persisted()
        rec["reused_keys"] = 0
    for call in calls:
        if tracer:
            before = tracer.begin(call.key)
            cached_before = tracer.cached_attr_ids()
        k: dict = {}
        a = time.perf_counter()
        try:
            built = call.build(spark, sf_dir)
            b = time.perf_counter()
            if tracer:
                k["build_jobs"] = len(tracer.jobs_since(call.key, before))
            result = call.execute(spark, built)
            c = time.perf_counter()
        except Exception as exc:  # a failing key is counted, not fatal
            rec["errors"].append(f"{call.key}: {exc!r}"[:300])
            if tracer:
                tracer.end()
            continue
        k["build_s"], k["exec_s"] = b - a, c - b
        if tracer:
            jobs = tracer.jobs_since(call.key, before)
            tracer.end()
            k["jobs"] = len(jobs)
            k.update(tracer.stage_totals(jobs))
            if result is not None:
                k["rows_written"] = result.rows_written
                k["sink_mb"] = dir_mb(call.pipeline.sink.path)
            elif tracer.scanned_attr_ids(built) & cached_before:
                rec["reused_keys"] += 1
        rec["keys"][call.key] = k
    rec["wall_s"] = time.perf_counter() - t0
    if tracer:
        rec["relations_cached"] = tracer.persisted() - rec["persist_start"]
        rec["cached_mb"] = tracer.cached_mb()
    return rec


def check_outputs(spark, calls, sf_dir):
    """Collect every key once and compare it with its DuckDB oracle
    (rows-only keys: a non-empty result; pipeline calls: rows written
    equal the oracle count). Returns the failures."""
    selfcheck = _load_selfcheck()
    con = selfcheck.oracle_connection(sf_dir)
    failures = []
    for call in calls:
        try:
            if call.spec is None:
                got = call.execute(spark, call.build(spark, sf_dir)).rows_written
            else:
                sdf = call.build(spark, sf_dir).toPandas()
        except Exception as exc:
            failures.append(f"{call.key}: raised {exc!r}"[:300])
            continue
        if call.spec is None:
            want = con.sql(call.expect_sql).fetchone()[0]
            if got != want:
                failures.append(f"{call.key}: wrote {got} rows, oracle {want}")
        elif call.spec.rows_only:
            if not len(sdf):
                failures.append(f"{call.key}: empty result")
        else:
            problems = selfcheck.compare(sdf, con.sql(call.spec.oracle).df())
            if problems:
                failures.append(f"{call.key}: " + "; ".join(problems)[:300])
    con.close()
    return failures


def _load_selfcheck():
    spec = importlib.util.spec_from_file_location("selfcheck", ROOT / "tools" / "selfcheck.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def set_up(prev, sf_dir):
    """Stop ``prev`` (if any), start the engine's session and force one
    flagship query. Returns (spark, start seconds, warm-up seconds)."""
    from uchr_scetl_spark import get_session
    from uchr_scetl_spark.flagship import flagship

    if prev is not None:
        prev.stop()
    t0 = time.perf_counter()
    spark = get_session("perfbench")
    t1 = time.perf_counter()
    flagship(spark, sf_dir).write.format("noop").mode("overwrite").save()
    return spark, t1 - t0, time.perf_counter() - t1


# ---------------------------------------------------------------- metrics


def end_to_end(passes, setups):
    key_walls = [k["build_s"] + k["exec_s"] for p in passes for k in p["keys"].values()]
    return {
        "pass_s": (statistics.median(p["wall_s"] for p in passes), "s"),
        "key_p50_s": (statistics.median(key_walls), "s"),
        "key_p90_s": (statistics.quantiles(key_walls, n=10, method="inclusive")[-1], "s"),
        "setup_s": (statistics.median(s + w for s, w in setups), "s"),
    }


def per_layer(traced, untraced, setups, io_probe, calls):
    med = statistics.median
    out: dict[str, tuple[float, str]] = {
        "session.start_s": (med(s for s, _ in setups), "s"),
        "session.warmup_s": (med(w for _, w in setups), "s"),
        "session.first_start_s": (setups[0][0], "s"),
        "io.load_s": (io_probe["s"], "s"),
        "io.load_jobs": (io_probe["jobs"], "count"),
        "trace.overhead_s": (
            med(p["wall_s"] for p in traced) - med(p["wall_s"] for p in untraced),
            "s",
        ),
    }
    layer_of = {c.key: c.layer for c in calls}

    def per_pass(fn):
        return med(fn(p) for p in traced)

    def ksum(p, field, keys=None):
        return sum(v.get(field, 0) for k, v in p["keys"].items() if keys is None or k in keys)

    for mod in MODULES:
        keys = {k for k, lay in layer_of.items() if lay == mod}
        wall = per_pass(lambda p: ksum(p, "build_s", keys) + ksum(p, "exec_s", keys))
        ex = per_pass(lambda p: ksum(p, "executor_s", keys))
        out[f"{mod}.build_s"] = (per_pass(lambda p: ksum(p, "build_s", keys)), "s")
        out[f"{mod}.build_jobs"] = (per_pass(lambda p: ksum(p, "build_jobs", keys)), "count")
        out[f"{mod}.exec_s"] = (per_pass(lambda p: ksum(p, "exec_s", keys)), "s")
        out[f"{mod}.jobs"] = (per_pass(lambda p: ksum(p, "jobs", keys)), "count")
        out[f"{mod}.busy_cores"] = (ex / wall if wall else 0.0, "cores")

    units = {"tasks": "count", "executor_s": "s", "shuffle_write_mb": "MB",
             "spill_mb": "MB", "input_mb": "MB", "output_mb": "MB",
             "task_failures": "count", "stages": "count"}
    out["spark.jobs"] = (per_pass(lambda p: ksum(p, "jobs")), "count")
    for field, unit in units.items():
        out[f"spark.{field}"] = (per_pass(lambda p: ksum(p, field)), unit)
    out["spark.busy_cores"] = (per_pass(lambda p: ksum(p, "executor_s") / p["wall_s"]), "cores")

    out["memo.relations_cached"] = (per_pass(lambda p: p["relations_cached"]), "count")
    out["memo.cached_mb"] = (per_pass(lambda p: p["cached_mb"]), "MB")
    out["memo.reused_keys"] = (per_pass(lambda p: p["reused_keys"]), "count")
    out["memo.clear_s"] = (per_pass(lambda p: p["clear_s"]), "s")

    pipes = {k for k, lay in layer_of.items() if lay == "pipeline"}
    out["pipeline.run_s"] = (per_pass(lambda p: ksum(p, "exec_s", pipes)), "s")
    out["pipeline.rows_written"] = (per_pass(lambda p: ksum(p, "rows_written", pipes)), "count")
    out["pipeline.output_mb"] = (per_pass(lambda p: ksum(p, "sink_mb", pipes)), "MB")
    out["pipeline.write_amplification"] = (
        per_pass(lambda p: ksum(p, "output_mb") / max(ksum(p, "input_mb"), 1e-9)),
        "ratio",
    )

    for key in WATCH_KEYS:
        present = [p["keys"][key] for p in traced if key in p["keys"]]

        def kmed(field):
            return med(r[field] for r in present) if present else 0.0

        wall = kmed("build_s") + kmed("exec_s")
        out[f"key.{key}.build_s"] = (kmed("build_s"), "s")
        out[f"key.{key}.exec_s"] = (kmed("exec_s"), "s")
        out[f"key.{key}.jobs"] = (kmed("jobs"), "count")
        out[f"key.{key}.busy_cores"] = (kmed("executor_s") / wall if wall else 0.0, "cores")
    return out


def job_count_drift(traced) -> list[str]:
    """Keys whose Spark job count differs between traced passes."""
    drift = []
    for key in traced[0]["keys"]:
        counts = {p["keys"][key]["jobs"] for p in traced if key in p["keys"]}
        if len(counts) > 1:
            drift.append(f"{key}: spark.jobs differs between timed passes {sorted(counts)}")
    return drift


# ---------------------------------------------------------------- main


_T0 = time.perf_counter()


def log(phase: str) -> None:
    print(f"# phase {phase} done at {time.perf_counter() - _T0:.1f}s", file=sys.stderr)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "uchr_scetl_spark" / "__init__.py").is_file():
        print(f"engine package uchr_scetl_spark not found under {ROOT}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    cpus = len(os.sched_getaffinity(0))
    work = ROOT / ".perfbench" / f"{args.workload}-{args.seed}-{os.getpid()}"
    spark = None
    try:
        prepare_env(work, cpus)
        sys.path.insert(0, str(ROOT))
        import corpus

        from uchr_scetl_spark import load_registry

        sf_dir = corpus.write_corpus(str(work / "corpus"), SF, args.seed)
        registry = load_registry()
        calls = [Call(k, spec=registry[k]) for k in wl.keys]
        pipes = pipeline_calls(sf_dir, str(work / "sinks"))
        calls += [Call(k, pipeline=pipes[k][0], expect_sql=pipes[k][1]) for k in wl.pipelines]
        log("corpus")

        with RssSampler() as rss:
            setups = []
            for _ in range(SETUPS):
                spark, start_s, warm_s = set_up(spark, sf_dir)
                setups.append((start_s, warm_s))
            log("set-up")
            failures = check_outputs(spark, calls, sf_dir)
            log("check")
            calls = random.Random(args.seed).sample(calls, len(calls))
            untimed = [run_pass(spark, calls, sf_dir) for _ in range(SETTLE_PASSES)]
            log("settle")

            tracer = None
            if args.trace:
                tracer = Tracer(spark, args.workload)
                io_probe = tracer.io_load_probe(spark, sf_dir)
            untraced, traced = [], []
            t_end = time.perf_counter() + args.seconds
            while True:
                use_trace = bool(tracer) and len(traced) < len(untraced)
                rec = run_pass(spark, calls, sf_dir, tracer if use_trace else None)
                (traced if use_trace else untraced).append(rec)
                # stop when the next pass would overrun --seconds; a
                # traced run needs one untraced and two traced passes
                enough = len(traced) >= 2 if tracer else bool(untraced)
                if enough and time.perf_counter() + rec["wall_s"] > t_end:
                    break
            log("timed")
        stop_spark(spark)
        spark = None
    finally:
        if spark is not None:
            stop_spark(spark)
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        if work.parent.is_dir() and not any(work.parent.iterdir()):
            work.parent.rmdir()

    passes = untimed + untraced + traced
    failures += [e for p in passes for e in p["errors"]]
    if tracer:
        failures += job_count_drift(traced)
        metrics = per_layer(traced, untraced, setups, io_probe, calls)
        metrics["peak_rss_mb"] = (rss.peak_mb, "MB")
    else:
        metrics = end_to_end(untraced, setups)
    attempted = len(calls) * (1 + len(passes))
    for f in failures:
        print(f"# FAIL {f}", file=sys.stderr)
    print(f"# {args.workload} seed={args.seed} cores={cpus} clients=1 keys={len(calls)} "
          f"timed passes={len(untraced)} traced passes={len(traced)}")
    print(f"# error_rate = {len(failures) / attempted:.6g} ratio ({len(failures)}/{attempted})")
    if not tracer:
        print(f"# peak_rss_mb = {rss.peak_mb:.6g} MB")
    for name, (value, unit) in metrics.items():
        print(f"# {name} = {value:.6g} {unit}")
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
