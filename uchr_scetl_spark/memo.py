"""Session memoization: one :class:`Memo` type for every cached
relation, driver-computed value, scratch output and child session the
engine reuses across queries of one session.

**Keys.** A memo builds each key itself:
``(applicationId, sf_dir, corpus fingerprint, *parts)``.

- applicationId, not ``id(spark)``: a GC'd session's id can be reused
  by a new session in the same process. Entries of any other
  application (a stopped or superseded session) are dropped on the
  next access, since they can never be served again.
- The corpus fingerprint is ``(name, st_mtime_ns, st_size, st_ino)``
  for each of the ten table paths under ``sf_dir``, with ``None`` for
  a missing table (about 50 µs of ``stat`` calls per lookup). Every
  access drops the entries of the same (application, sf_dir) whose
  fingerprint no longer matches, so a corpus rewritten in place never
  serves stale relations or scratch outputs, whether or not anyone
  calls :func:`clear_caches`. Paths ``os.stat`` cannot see (remote
  object stores) fingerprint as all-``None``; there only
  :func:`clear_caches` retires an entry.

**Two build contracts.**

- :meth:`Memo.get` builds lazily under the shared lock, so exactly one
  build runs per key. It suits cached relations (``.cache()`` returns
  at once, so the critical section is cheap) and bounded driver
  collects that concurrent callers must not duplicate (the IVF and
  k-means centroids).
- :meth:`Memo.get_heavy` runs the build with the lock released:
  read under the lock, build unlocked, first store wins. It is for
  builds that run distributed jobs (the co-purchase edge count, BPE
  training, every scratch-output write), which must not block every
  other memo user for the job's duration. Concurrent misses may both
  build, so builds must be deterministic, and values must not need
  ``unpersist`` on drop: unpersisting a losing duplicate DataFrame
  would evict the winner's cache too, since Spark keys the cache by
  logical plan. A raced scratch write leaves a second dir that atexit
  reaps.

**Eviction.** :func:`clear_caches` drops (and unpersists) the entries
of every memo created with ``evict=True``, for all dirs or one. Long
sweeps call it to release executor storage of retired dirs. Scratch
outputs and child sessions use ``evict=False`` and keep application
lifetime: they hold no executor storage, the fingerprint already
retires stale ones, and rebuilding them re-runs writes (clearing only
the backfill output at each bench pass raised the
``etl_relational_sf001`` pass from ~9 s to ~11.6 s on 4 cores).

**Lock.** All memos share one re-entrant lock, :data:`MEMO_LOCK`:
builds nest (k-means centroids read the quantized-corpus memo, BPE
training reads the vocabulary memo) and clear_caches must not
interleave with a store.
"""

from __future__ import annotations

import os
import threading
from typing import Any, Callable

from pyspark.sql import SparkSession

from .schemas import TABLES, table_path

MEMO_LOCK = threading.RLock()
MEMOS: list[Memo] = []


def corpus_fingerprint(sf_dir: str | None) -> tuple | None:
    """Per table ``(name, st_mtime_ns, st_size, st_ino)``, or ``None``
    for a missing table; ``None`` when there is no corpus dir."""
    if sf_dir is None:
        return None
    fp: list[tuple | None] = []
    for name in TABLES:
        try:
            st = os.stat(table_path(sf_dir, name))
        except OSError:
            fp.append(None)
        else:
            fp.append((name, st.st_mtime_ns, st.st_size, st.st_ino))
    return tuple(fp)


class Memo:
    """A self-registering memo; see the module docstring."""

    def __init__(self, evict: bool = True) -> None:
        self.evict = evict
        self._entries: dict[tuple, Any] = {}
        MEMOS.append(self)

    def get(
        self, spark: SparkSession, sf_dir: str | None, *parts,
        build: Callable[[], Any],
    ) -> Any:
        """Get-or-create, building under the shared lock."""
        key = self._key(spark, sf_dir, parts)
        with MEMO_LOCK:
            self._prune(key)
            if key not in self._entries:
                self._entries[key] = build()
            return self._entries[key]

    def get_heavy(
        self, spark: SparkSession, sf_dir: str | None, *parts,
        build: Callable[[], Any],
    ) -> Any:
        """Get-or-create with the build outside the lock; the first
        store wins."""
        key = self._key(spark, sf_dir, parts)
        with MEMO_LOCK:
            self._prune(key)
            if key in self._entries:
                return self._entries[key]
        val = build()
        with MEMO_LOCK:
            return self._entries.setdefault(key, val)

    def values(self, sf_dir: str | None = None) -> list:
        """The memoized values, all or one corpus dir's."""
        with MEMO_LOCK:
            return [
                v for k, v in self._entries.items()
                if sf_dir is None or k[1] == sf_dir
            ]

    def clear(self, sf_dir: str | None = None) -> None:
        """Unpersist and drop all entries, or one corpus dir's."""
        with MEMO_LOCK:
            for k in list(self._entries):
                if sf_dir is None or k[1] == sf_dir:
                    self._drop(k)

    @staticmethod
    def _key(spark: SparkSession, sf_dir: str | None, parts: tuple) -> tuple:
        app = spark.sparkContext.applicationId
        return (app, sf_dir, corpus_fingerprint(sf_dir), *parts)

    def _prune(self, key: tuple) -> None:
        app, sf_dir, fp = key[:3]
        for k in list(self._entries):
            if k[0] != app or (k[1] == sf_dir and k[2] != fp):
                self._drop(k)

    def _drop(self, key: tuple) -> None:
        val = self._entries.pop(key)
        try:
            val.unpersist()
        except Exception:
            # plain values, paths and sessions have no unpersist; a
            # stopped session's DataFrame raises — both are fine to ignore
            pass


def clear_caches(sf_dir: str | None = None) -> None:
    """Unpersist and drop the entries of every evictable memo — all of
    them, or just ``sf_dir``'s. Call it to release executor storage
    when retiring a corpus dir; a rewritten dir needs no call, since
    its changed fingerprint already retires the stale entries."""
    with MEMO_LOCK:
        for memo in MEMOS:
            if memo.evict:
                memo.clear(sf_dir)
