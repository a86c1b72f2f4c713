"""Memo contract: the evictable memos (shingles, signatures, verified
pairs, IVF base/centroids, BPE, co-purchase edges, partsupp) must be
evictable per corpus dir, and a corpus REWRITTEN in place must be
re-read — relations and scratch outputs alike — whether or not
clear_caches runs (a long-lived session re-generating a corpus dir
would otherwise be served results of the old data forever)."""

from __future__ import annotations

import sys
import threading

from uchr_scetl_spark import clear_caches
from uchr_scetl_spark.memo import MEMO_LOCK, MEMOS, Memo
from uchr_scetl_spark.operators import scans
from uchr_scetl_spark.plans import tpch

from .conftest import SF_SMOKE
from .oracle import (
    REGISTRY,
    assert_matches_oracle,
    compare,
    mutated_corpus,
    oracle_connection,
    rewrite_tables,
)

# keys served from an evict=False scratch-output memo
SCRATCH_KEYS = [
    "etl_backfill_dynamic_overwrite",
    "etl_zorder_cluster",
    "scan_csv_malformed",
    "scan_fixed_width",
    "stream_exactly_once_sink",
]
# the tables they read, each with the key column a rewrite filters on
REWRITTEN = {"orders": "o_orderkey", "customer": "c_custkey", "events": "event_id"}


mutable_corpus = mutated_corpus("uchr_mutable_corpus_", {}, scope="function")


def _memo_entries(sf_dir: str) -> int:
    return sum(len(m.values(sf_dir)) for m in MEMOS if m.evict)


def test_clear_caches_scoped_to_dir(spark, mutable_corpus):
    REGISTRY["dedup_near"].fn(spark, mutable_corpus).count()
    REGISTRY["sim_topk_ivf"].fn(spark, mutable_corpus).count()
    REGISTRY["scan_csv_malformed"].fn(spark, mutable_corpus).count()
    # the baseline smoke dir's memos (warm from other tests) must
    # survive a scoped clear of the mutable dir
    REGISTRY["dedup_near"].fn(spark, SF_SMOKE).count()
    assert _memo_entries(mutable_corpus) > 0
    before_other = _memo_entries(SF_SMOKE)
    clear_caches(mutable_corpus)
    assert _memo_entries(mutable_corpus) == 0
    assert _memo_entries(SF_SMOKE) == before_other
    # scratch outputs keep application lifetime (evict=False)
    assert len(scans._CSV_MALFORMED.values(mutable_corpus)) == 1


def _keep_multiples(mod: int) -> dict[str, str]:
    return {t: f"SELECT * FROM {t} WHERE {k} % {mod} = 0" for t, k in REWRITTEN.items()}


def _assert_scratch_keys_match_oracle(spark, sf_dir: str, stale: dict) -> None:
    with oracle_connection(sf_dir) as con:
        for key in SCRATCH_KEYS:
            odf = con.sql(REGISTRY[key].oracle).df()
            assert compare(stale[key], odf), f"{key}: rewrite left the oracle unchanged"
            assert_matches_oracle(spark, key, sf_dir, con)


def test_rewritten_corpus_reread_after_clear(spark, mutable_corpus):
    n1 = REGISTRY["dedup_exact"].fn(spark, mutable_corpus).count()
    near1 = REGISTRY["dedup_near"].fn(spark, mutable_corpus).count()
    assert near1 > 0  # the smoke corpus carries constructed near-dups
    stale = {k: REGISTRY[k].fn(spark, mutable_corpus).toPandas() for k in SCRATCH_KEYS}

    # rewrite documents to a tiny distinct corpus (every doc unique),
    # and keep every other orders/customer/events row
    unique_docs = (
        "SELECT * REPLACE ('unique document number ' || doc_id AS text)"
        " FROM documents ORDER BY doc_id LIMIT 4"
    )
    rewrite_tables(mutable_corpus, {"documents": unique_docs, **_keep_multiples(2)})

    # no clear_caches: the changed corpus fingerprint alone must retire
    # the memoized pair relation (which still holds the old corpus's
    # near-dups) and every scratch output
    assert REGISTRY["dedup_exact"].fn(spark, mutable_corpus).count() == 4 != n1
    assert REGISTRY["dedup_near"].fn(spark, mutable_corpus).count() == 0
    # the memoized BPE vocabulary must also re-read: the rewritten
    # 4-doc corpus has a tiny vocab whose top merge differs from the
    # original corpus's
    stats = REGISTRY["text_bpe_apply_merges"].fn(spark, mutable_corpus).first()
    assert stats.n_vocab_words <= 8, stats
    _assert_scratch_keys_match_oracle(spark, mutable_corpus, stale)

    # rewrite again, then clear_caches: same answers from a stale state
    stale = {k: REGISTRY[k].fn(spark, mutable_corpus).toPandas() for k in SCRATCH_KEYS}
    rewrite_tables(mutable_corpus, _keep_multiples(3))
    clear_caches(mutable_corpus)
    _assert_scratch_keys_match_oracle(spark, mutable_corpus, stale)


def test_partsupp_memo_shared_and_evicted(spark, mutable_corpus):
    """Round-15: the derived partsupp relation (full lineitem scan +
    (part, supplier) DISTINCT) is built once per (app, corpus dir) and
    shared by its five TPC-H consumers (Q2/Q9/Q11/Q16/Q20) instead of
    being re-derived inside each; clear_caches evicts it per dir — the
    same stale-cache contract as every other relation memo."""
    df1 = tpch._partsupp(spark, mutable_corpus)
    df2 = tpch._partsupp(spark, mutable_corpus)
    assert df1 is df2  # memo hit: the SAME cached relation object
    REGISTRY["tpch_q9"].fn(spark, mutable_corpus).count()
    assert tpch._PARTSUPP.values(mutable_corpus)
    clear_caches(mutable_corpus)
    assert not tpch._PARTSUPP.values(mutable_corpus)


def _race(n: int, target) -> None:
    """Start ``n`` threads on ``target`` under a short switch interval
    and wait (bounded) for all of them."""
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=target) for _ in range(n)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)


def test_memo_get_is_race_free_and_prunes_dead_sessions(spark):
    """Round-5 advice: the bare check-then-insert could double-build
    under threads (leaking an InMemoryRelation), and stopped-session
    entries lived until process exit. Memo.get must (a) build exactly
    once across concurrent callers and (b) drop entries whose
    applicationId is not the caller's."""
    memo = Memo()
    builds = []

    def build():
        builds.append(1)
        return spark.range(1).cache()

    _race(8, lambda: memo.get(spark, "/tmp/x", build=build))
    assert len(builds) == 1
    assert len(memo.values()) == 1

    # a dead session's entry (different applicationId) prunes on access
    dead = ("dead-app-id", "/tmp/y", None)
    memo._entries[dead] = spark.range(1)
    memo.get(spark, "/tmp/x", build=build)
    assert dead not in memo._entries
    assert len(builds) == 1


def test_memo_get_heavy_builds_outside_the_lock(spark):
    """Round-14 (r13 ADVICE): the graph family's edge-count size probe
    runs a distributed count() as its memo build; building it under
    MEMO_LOCK blocked every other memo user for the job's duration.
    Memo.get_heavy must (a) run the build with MEMO_LOCK free (probed
    from a helper thread mid-build), (b) give every racer the
    first-stored value, and (c) prune dead-session entries like
    Memo.get does."""
    memo = Memo()
    lock_free_during_build = []

    def build():
        # probe from ANOTHER thread: RLock re-entrancy would make an
        # in-thread acquire succeed even while this thread holds it
        got = []

        def probe():
            ok = MEMO_LOCK.acquire(timeout=5)
            if ok:
                MEMO_LOCK.release()
            got.append(ok)

        t = threading.Thread(target=probe)
        t.start()
        t.join()
        lock_free_during_build.append(got[0])
        return 42

    dead = ("dead-app-id", "/tmp/y", None)
    memo._entries[dead] = 7
    assert memo.get_heavy(spark, "/tmp/x", build=build) == 42
    assert lock_free_during_build == [True]
    assert dead not in memo._entries

    # racers: all callers converge on the first-stored value even if
    # several builds run; the memo holds exactly one entry per key
    results = []
    _race(8, lambda: results.append(memo.get_heavy(spark, "/tmp/z", build=lambda: 99)))
    assert results == [99] * 8
    assert memo.values("/tmp/z") == [99]


def test_scratch_output_memo_is_race_free(spark, mutable_corpus):
    """The scratch-output memos were a bare check-then-insert: two
    concurrent first calls could both write and get DIFFERENT dirs.
    Through Memo.get_heavy every caller gets the first-stored path."""
    paths = []
    _race(2, lambda: paths.append(scans._csv_malformed_dir(spark, mutable_corpus)))
    assert len(paths) == 2 and paths[0] == paths[1]
    assert scans._CSV_MALFORMED.values(mutable_corpus) == paths[:1]
