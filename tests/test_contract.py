"""Driver-contract shape tests: registry completeness + entry smoke."""

from __future__ import annotations

import importlib.util
import os
import sys
import time

import pytest

from uchr_scetl_spark import load_registry

from .conftest import REPO, SF_SMOKE
from .spill_harness import run_child


def _load_entry_module():
    path = os.path.join(REPO, "__spark_entry__.py")
    spec = importlib.util.spec_from_file_location("spark_entry", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_registry_keys_unique_and_callable():
    reg = load_registry()
    assert len(reg) >= 30
    for key, spec in reg.items():
        assert spec.key == key
        assert callable(spec.fn)


def test_oracle_sql_subset_of_queries():
    mod = _load_entry_module()
    q, o = mod.queries(), mod.oracle_sql()
    assert set(o) <= set(q)
    assert all(isinstance(s, str) and s.strip().upper().startswith(("SELECT", "WITH"))
               for s in o.values())


def test_bench_last_line_fits_the_tail_with_sample_and_slowest():
    """bench.py's LAST stdout line is the record that survives a
    2,000-char tail capture: built from the committed 309-key
    BENCH_LOCAL.json map it must parse, carry the 50-key oracle sample
    and the 8 slowest keys of the run, and keep ``value`` the total
    over ALL keys."""
    import json

    from bench import output_lines

    with open(os.path.join(REPO, "BENCH_LOCAL.json")) as fh:
        timings = json.load(fh)["queries"]
    sample = sorted(load_registry())[:50]
    lines = output_lines(timings, 0.1, sample)
    last = json.loads(lines[-1])
    assert len(lines[-1]) < 2000, len(lines[-1])
    slowest = sorted(timings, key=timings.get, reverse=True)[:8]
    assert set(sample) | set(slowest) == set(last["queries"])
    assert last["value"] == round(sum(v for v in timings.values() if v >= 0), 3)
    assert last["n_keys"] == len(timings) and last["summary"] is True
    assert json.loads(lines[1])["queries"] == timings


def test_bench_runner_records_a_raising_rep_and_goes_on(capsys):
    """bench.py's ``time_keys`` serves bench, abench and scale_growth:
    a rep that raises reads -1.0 with a ``# BENCH ERROR`` line, and the
    remaining reps and keys still run."""
    from types import SimpleNamespace

    from bench import time_keys

    class _Df:  # what ``force`` touches: df.write.format().mode().save()
        write = SimpleNamespace(
            format=lambda _: SimpleNamespace(
                mode=lambda _: SimpleNamespace(save=lambda: None)
            )
        )

    calls = []

    def flaky(spark, sf_dir):
        calls.append(sf_dir)
        if len(calls) == 1:
            raise RuntimeError("boom")
        return _Df()

    registry = {
        "flaky": SimpleNamespace(fn=flaky),
        "fine": SimpleNamespace(fn=lambda spark, sf_dir: _Df()),
    }
    out = dict(time_keys(None, registry, ["flaky", "fine"], "sf", reps=2))
    assert out["flaky"][0] == -1.0 and out["flaky"][1] >= 0
    assert len(out["fine"]) == 2 and min(out["fine"]) >= 0
    assert "# BENCH ERROR flaky: RuntimeError('boom')" in capsys.readouterr().err


def test_entry_smoke(spark):
    mod = _load_entry_module()
    df = mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert {"r_name", "n_name", "l_returnflag", "revenue"} <= set(df.columns)


@pytest.fixture(scope="module")
def registry_schemas(spark):
    """Every key's output schema at SF_SMOKE, built once for the three
    registry-wide schema guards below (each registry pass builds all
    keys, ~50 s)."""
    return {
        key: spec.fn(spark, SF_SMOKE).schema
        for key, spec in sorted(load_registry().items())
    }


def test_checked_outputs_carry_scalar_columns_only(registry_schemas):
    """Registry-wide canonicalizer contract: every CHECKED (oracle-
    bearing) key's output schema must contain only scalar columns —
    no Array/Map/Struct. The driver's order-insensitive hasher
    column-sorts the pandas frame before hashing and dies on ndarray
    cells (round-9: dedup_vec_ids rode a raw array<float> into its
    checked output and was the first driver ERR in seven rounds; the
    repo's own rule at operators/aggregates.py said so all along).
    Rows-only keys are exempt — no hash is taken for them, and nested
    payloads (LSH signature arrays etc.) are their point."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    offenders = []
    for key, spec in sorted(load_registry().items()):
        if spec.rows_only:
            continue
        schema = registry_schemas[key]
        bad = [
            f.name
            for f in schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))
        ]
        if bad:
            offenders.append(f"{key}: {bad}")
    assert not offenders, "; ".join(offenders)


# Keys allowed to emit BOOLEAN columns: each is non-null BY
# CONSTRUCTION (isNull tests, aggregates over guaranteed-present
# groups, literals, comparisons of non-null hashes). NULL BOOLEAN is
# the one dtype whose null rendering splits the compared pandas
# frames (Spark toPandas None vs DuckDB .df() NaN in object columns —
# round-11 CSV-fidelity sweep), so a NULLABLE predicate must be INT
# 1/0/NULL instead (fn_regex.has_data precedent). Adding a boolean
# output to a new key means consciously extending this list.
BOOLEAN_OK = {
    "agg_approx_distinct",
    "agg_approx_percentile",
    "agg_conditional",
    "agg_count_min_heavy_hitters",
    "agg_hll_sketch_merge",
    "agg_kll_merge_quantiles",
    "agg_theta_set_distinct",
    "etl_expectations_suite",
    "etl_scd2",
    "events_bot_burst_audit",
    "fn_hash_xx",
    "fn_try_cast",
    "join_mark_exists",
}


def test_boolean_outputs_are_allowlisted_nonnull_by_construction(registry_schemas):
    """Registry-wide nullable-boolean guard (round-11): any key
    emitting a BOOLEAN column must be on the reviewed allowlist —
    everything nullable must ship as INT. Catches a future key
    accidentally exposing rlike/array_contains over nullable input
    as a raw boolean."""
    from pyspark.sql.types import BooleanType

    offenders = []
    for key, schema in registry_schemas.items():
        bools = [
            f.name
            for f in schema.fields
            if isinstance(f.dataType, BooleanType)
        ]
        if bools and key not in BOOLEAN_OK:
            offenders.append(f"{key}: {bools}")
    assert not offenders, "; ".join(offenders)


def test_bucketed_join_has_no_shuffle(spark):
    """The join of the two bucketed tables must read co-located buckets:
    no Exchange may appear between the table scans and the join."""
    df = load_registry()["join_bucketed"].fn(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    join_part = plan.split("SortMergeJoin")[-1] if "SortMergeJoin" in plan else plan
    # below the join there are only scans/sorts/filters — no Exchange
    assert "Exchange" not in join_part, plan


def test_frame_sample_expansion(spark):
    """Every 32-byte payload must expand to exactly 4 frames with
    stride-2 indices (0, 2, 4, 6)."""
    rows = load_registry()["multimodal_frame_sample"].fn(spark, SF_SMOKE).collect()
    by_doc: dict[int, list[int]] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r.frame_idx)
        assert 0.0 <= r.frame_feat <= 255.0
    assert all(sorted(v) == [0, 2, 4, 6] for v in by_doc.values())


def test_partition_pruning_in_plan(spark):
    """The status filter must reach the scan as a PartitionFilter (not
    a post-scan Filter over all partitions)."""
    df = load_registry()["scan_pruned_partition"].fn(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(o_orderstatus" in plan or (
        "PartitionFilters" in plan and "o_orderstatus" in plan.split("PartitionFilters")[1][:200]
    ), plan


def test_no_output_column_is_local_tz_timestamp(registry_schemas):
    """Registry-wide host-timezone guard (round-12): no key may emit
    a plain TIMESTAMP (timestamp-with-local-timezone) column — checked
    outputs are timestamp_ntz. A local-TZ TIMESTAMP has correct VALUES
    under the pinned UTC session but classic collect() renders it
    through the PYTHON PROCESS timezone, so the same result prints
    different datetimes on differently-zoned hosts. The round-12
    TZ=Asia/Kolkata registry sweep caught exactly one leak —
    etl_incremental_agg_merge, where date_trunc SILENTLY coerces
    timestamp_ntz input to TIMESTAMP (the coercion is pinned below so
    an upstream change is noticed)."""
    from pyspark.sql.types import TimestampType

    offenders = []
    for key, schema in registry_schemas.items():
        ltz = [
            f.name
            for f in schema.fields
            if isinstance(f.dataType, TimestampType)
        ]
        if ltz:
            offenders.append(f"{key}: {ltz}")
    assert not offenders, "; ".join(offenders)


def test_date_trunc_coerces_ntz_to_local_tz_timestamp(spark):
    """The trap behind the round-12 leak, pinned: Spark's date_trunc
    returns session-TZ TIMESTAMP even for timestamp_ntz input, so
    every date_trunc over corpus timestamps needs an explicit
    .cast('timestamp_ntz') on the rendered column. If an upstream
    release makes date_trunc NTZ-preserving, this tripwire flags the
    casts as removable."""
    df = spark.sql(
        "SELECT date_trunc('day', CAST('2024-01-02 03:04:05' AS "
        "TIMESTAMP_NTZ)) AS d"
    )
    assert dict(df.dtypes)["d"] == "timestamp", df.dtypes


def test_no_keyless_round_robin_repartition_in_engine_source():
    """Round-13 tripwire: `.repartition(n)` WITHOUT partitioning
    columns is round-robin — an INDETERMINATE stage whose row routing
    depends on arrival order, so a lost executor forcing partial
    map-stage re-execution after some reducers finished aborts the
    job (result stages cannot roll back; SPARK-23207 was the silent
    corruption this rule prevents on older lineages). Every
    repartition in the engine must name its keys; hash routing is
    attempt-invariant. (Keyed string forms like repartition("month")
    and (n, "col") pass; a genuinely unavoidable round-robin would
    need an explicit allowlist entry here with its recovery story.)

    AST-walked, not regexed (round 14, r13 ADVICE): the old
    line-by-line regex missed calls a formatter had split across
    lines — ast.Call nodes carry no such blind spot. Keyless means a
    single positional argument that cannot be a column: an int
    literal, a bare name, a dotted attribute, or a zero-argument
    call. String literals and column-expression calls like
    F.col("x") are keys; two-plus arguments always include one.
    Round 15 (r14 ADVICE): the keyword spelling
    ``repartition(numPartitions=8)`` is the same round-robin and is
    caught too — a lone numPartitions keyword with a non-column
    value, no positional args."""
    import ast
    import os

    pkg = os.path.join(os.path.dirname(__file__), "..", "uchr_scetl_spark")

    def keyless(call: ast.Call) -> bool:
        if not (
            isinstance(call.func, ast.Attribute)
            and call.func.attr == "repartition"
        ):
            return False
        def non_column(a: ast.expr) -> bool:
            if isinstance(a, ast.Constant) and isinstance(a.value, int):
                return True
            if isinstance(a, (ast.Name, ast.Attribute)):
                return True
            if isinstance(a, ast.Call) and not a.args and not a.keywords:
                return True
            return False

        if len(call.args) == 1 and not call.keywords:
            return non_column(call.args[0])
        if (
            not call.args
            and len(call.keywords) == 1
            and call.keywords[0].arg == "numPartitions"
        ):
            return non_column(call.keywords[0].value)
        return False

    offenders = []
    for root, _dirs, files in os.walk(pkg):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            with open(path) as f:
                tree = ast.parse(f.read(), filename=path)
            for node in ast.walk(tree):
                if isinstance(node, ast.Call) and keyless(node):
                    offenders.append(
                        f"{path}:{node.lineno}: "
                        f"{ast.unparse(node)[:120]}"
                    )
    assert not offenders, "\n".join(offenders)


def test_operators_catalog_is_current():
    """OPERATORS.md (round 15) is generated from the live registry by
    tools/gen_operators_md.py; this keyset-diff makes a new, renamed,
    or re-classified key that ships without regenerating the catalog a
    test failure — same discipline as the selfcheck keyset gate. Only
    the derivable columns are pinned (key set and oracle kind); prose
    drift is the generator's business, not a gate."""
    import re

    path = os.path.join(REPO, "OPERATORS.md")
    assert os.path.exists(path), "OPERATORS.md missing - run tools/gen_operators_md.py"
    rows = {}
    with open(path) as f:
        for line in f:
            m = re.match(r"\| ([a-z0-9_]+) \| (hash|rows-only) \|", line)
            if m:
                rows[m.group(1)] = m.group(2)
    reg = load_registry()
    assert set(rows) == set(reg), (
        f"OPERATORS.md out of date: missing={sorted(set(reg) - set(rows))[:5]} "
        f"stale={sorted(set(rows) - set(reg))[:5]} - regenerate with "
        "tools/gen_operators_md.py"
    )
    for k, spec in reg.items():
        want = "rows-only" if spec.rows_only else "hash"
        assert rows[k] == want, f"{k}: catalog says {rows[k]}, registry says {want}"


# Oracle keys whose Python-worker code lives in the package: pandas
# UDFs, UDAFs, cogrouped applyInPandas and the multimodal decoders.
PYTHON_WORKER_KEYS = [
    "multimodal_binary",
    "multimodal_frame_sample",
    "multimodal_resize",
    "udaf_grouped",
    "udf_cogrouped_pandas",
]

_FOREIGN_CWD_SCRIPT = """
import sys
sys.path.insert(0, {repo!r})
from tests.oracle import assert_matches_oracle
from uchr_scetl_spark import get_session

spark = get_session("uchr-foreign-cwd")
for key in {keys!r}:
    assert_matches_oracle(spark, key, {sf!r})
spark.stop()
"""


def test_python_worker_keys_run_from_a_foreign_cwd(tmp_path):
    """The engine must not rely on being launched from the repo root:
    on a cluster the Python workers cannot import the package from the
    driver's cwd. A fresh driver process whose cwd is a temp dir and
    whose PYTHONPATH is unset runs every key with package-defined
    worker code; ``configure`` ships the package to the workers by
    value, so none of them dies with ModuleNotFoundError."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "2g"  # a second JVM beside the suite's
    script = _FOREIGN_CWD_SCRIPT.format(
        repo=REPO, keys=PYTHON_WORKER_KEYS, sf=SF_SMOKE
    )
    # limit: about 5x its ~25 s on 4 cores
    run_child([sys.executable, "-c", script], timeout=120, env=env, cwd=tmp_path)


def test_corpus_harnesses_are_shared():
    """Hostile corpora come from tests/oracle.py (``mutated_corpus``,
    ``copied_corpus``) and the comparator from tools/selfcheck.py. No
    file under tests/ may paste the table list, copy SF_SMOKE tables by
    hand (oracle.py's ``copied_corpus`` is the one copy), or define its
    own ``compare``/``oracle_connection`` — the pattern that once grew
    to 25 hand-copied harnesses whose comparators drifted apart."""
    import glob
    import re

    rules = [
        ("pasted table list", r"^TABLES = \[", None),
        (
            "hand copy of an SF_SMOKE table",
            r'copy\w*\(\s*f"\{SF_SMOKE\}/|= f"\{SF_SMOKE\}/\{t\}\.parquet"',
            "oracle.py",
        ),
        ("own comparator", r"^\s*def (compare|oracle_connection)\(", None),
    ]
    offenders = []
    for path in sorted(glob.glob(os.path.join(os.path.dirname(__file__), "*.py"))):
        name = os.path.basename(path)
        with open(path) as f:
            src = f.read()
        offenders += [
            f"{name}: {what}"
            for what, rx, home in rules
            if name != home and re.search(rx, src, re.M)
        ]
    assert not offenders, "\n".join(offenders)


def test_gate_helpers_are_shared():
    """Child drivers and default-config baselines come from
    tests/spill_harness.py (``run_child``, ``run_harness``,
    ``baseline_digest``, ``conf_patch``). No other file under tests/
    may launch ``sys.executable`` through ``subprocess.run``/``Popen``
    (piped output a JVM grandchild holds open turns a clean exit into
    a timeout), call ``tempfile.mktemp``, or define its own
    ``_baseline_cache`` or ``_conf_patch``. The check walks the AST, so
    text inside a child script's string literal does not count."""
    import ast
    import glob

    def offences(tree):
        for node in ast.walk(tree):
            if isinstance(node, ast.Call):
                f = node.func
                name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
                if name in ("run", "Popen") and any(
                    isinstance(n, ast.Attribute)
                    and n.attr == "executable"
                    and getattr(n.value, "id", None) == "sys"
                    for n in ast.walk(node)
                ):
                    yield node.lineno, "launches sys.executable"
                if name == "mktemp" and (
                    isinstance(f, ast.Name) or getattr(f.value, "id", None) == "tempfile"
                ):
                    yield node.lineno, "calls tempfile.mktemp"
            elif isinstance(node, (ast.FunctionDef, ast.ClassDef)):
                if node.name in ("_conf_patch", "conf_patch"):
                    yield node.lineno, f"defines {node.name}"
            elif isinstance(node, ast.Name) and isinstance(node.ctx, ast.Store):
                if node.id == "_baseline_cache":
                    yield node.lineno, "defines _baseline_cache"

    offenders = []
    for path in sorted(glob.glob(os.path.join(os.path.dirname(__file__), "*.py"))):
        name = os.path.basename(path)
        if name == "spill_harness.py":
            continue
        with open(path) as f:
            tree = ast.parse(f.read(), filename=path)
        offenders += [f"{name}:{line}: {what}" for line, what in offences(tree)]
    assert not offenders, "\n".join(offenders)


# A child that starts a ``sleep 60`` grandchild sharing its stdout and
# stderr, reports the grandchild's pid on both, then sleeps argv[1] s.
_GRANDCHILD_SCRIPT = """
import subprocess, sys, time
pid = subprocess.Popen(["sleep", "60"]).pid
print(pid, flush=True)
print(pid, file=sys.stderr, flush=True)
time.sleep(float(sys.argv[1]))
"""


def _gone(pid: int, within: float = 5.0) -> bool:
    """True once ``pid`` no longer runs (exited, or a zombie)."""
    deadline = time.monotonic() + within
    while True:
        try:
            with open(f"/proc/{pid}/stat") as f:
                state = f.read().rsplit(")", 1)[1].split()[0]
        except OSError:
            return True
        if state in ("Z", "X") or time.monotonic() > deadline:
            return state in ("Z", "X")
        time.sleep(0.1)


def test_run_child_returns_when_the_child_exits_despite_a_grandchild():
    """A grandchild holding the child's stdout must not stall the
    runner: it returns the child's output as soon as the child exits
    0, and the grandchild dies with the child's process group."""
    t0 = time.monotonic()
    out = run_child([sys.executable, "-c", _GRANDCHILD_SCRIPT, "0"], timeout=30)
    assert time.monotonic() - t0 < 10
    pid = int(out.split()[0])
    assert _gone(pid), f"grandchild {pid} outlived run_child"


def test_run_child_kills_the_group_on_timeout():
    """A child that runs past its limit fails within a few seconds of
    it, with the stderr tail in the message, and takes its grandchild
    down with it."""
    t0 = time.monotonic()
    with pytest.raises(AssertionError, match="timed out") as err:
        run_child([sys.executable, "-c", _GRANDCHILD_SCRIPT, "60"], timeout=2)
    assert time.monotonic() - t0 < 10
    pid = int(str(err.value).split()[-1])
    assert _gone(pid), f"grandchild {pid} outlived run_child"
