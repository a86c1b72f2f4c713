"""Benchmark harness: run every registered query at a scale factor and
print ONE JSON line the driver records as BENCH_r{N}.json.

Usage:  python bench.py            # $SPARK_GRAFT_SF_DIR or /root/testdata/sf0.1

Execution is forced through the noop sink (full JVM-side materialisation
of every partition, no Arrow/driver transfer), so timings measure the
engine's plans, not result serialisation. Tables are read through the
normal io.load path — no caching — so every query's timing includes its
parquet scan, the same way the driver would run it cold.

This is the repo's one key runner: ``warm_up``, ``force`` and
``time_keys`` also serve ``tools/abench.py`` (warm reps) and
``tools/scale_growth.py`` (growth exponents), so every tool times the
same region — key construction plus the noop write — in a session
warmed the same way.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
from typing import Iterable, Iterator

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from uchr_scetl_spark import get_session, load_registry  # noqa: E402


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> int:
    argv = [a for a in sys.argv[1:] if a != "--full-only"]
    # --full-only: print just the full per-key JSON line (for
    # BENCH_LOCAL.json, which tools parse as a single JSON document);
    # without it, a compact summary line brackets the full line so the
    # driver's 2000-char tail capture always holds a complete record
    full_only = "--full-only" in sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if argv:
        sf_dir = argv[0]
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else -1.0
    only = set(argv[1:])

    registry = load_registry()
    spark = get_session("uchr-bench")
    warm_up(spark)

    keys = [k for k in sorted(registry) if not only or k in only]
    timings: dict[str, float] = {}
    for key, (dt,) in time_keys(spark, registry, keys, sf_dir):
        timings[key] = dt
        if dt >= 0:
            print(f"# {key}: {dt:.3f}s", file=sys.stderr)

    lines = output_lines(timings, sf, sorted(registry)[:50])
    # --full-only keeps just the full per-key line
    for line in lines[1:2] if full_only else lines:
        print(line)
    return 0


def warm_up(spark) -> None:
    """JVM/session warmup so the first measured queries don't absorb
    one-time costs that a long-running cluster pays exactly once:
    janino compilation of whole-stage-codegen frames, Parquet
    vectorized-reader classloading, shuffle/sort/join operator
    classes, and the Arrow python-worker pool.  The warmup runs a
    compound plan over the tiny sf0.001 corpus (never the measured
    sf_dir) exercising scan → filter → join → hash agg → window →
    sort and one pandas-UDF batch."""
    force(spark.range(1000).selectExpr("sum(id) AS s"))
    try:
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        warm_dir = "/root/testdata/sf0.001"
        li = spark.read.parquet(f"{warm_dir}/lineitem.parquet")
        o = spark.read.parquet(f"{warm_dir}/orders.parquet")
        j = li.where(F.col("l_quantity") > 0).join(
            o, li.l_orderkey == o.o_orderkey
        )
        agg = j.groupBy("l_returnflag").agg(
            F.sum("l_extendedprice").alias("s"),
            F.countDistinct("l_partkey").alias("d"),
            F.approx_count_distinct("l_suppkey").alias("a"),
        )
        force(agg.withColumn("r", F.row_number().over(
            Window.orderBy(F.col("s").desc()))).orderBy("r"))
        import pandas as pd  # noqa: F401
        from pyspark.sql.functions import pandas_udf

        # NOTE: no type hints here — string annotations resolve against
        # module globals, and `pd` is local to warm_up(), which makes
        # pandas_udf raise PySparkNotImplementedError
        @pandas_udf("double")
        def _warm(v):
            return v * 1.0

        force(li.select(_warm(F.col("l_quantity")).alias("w")))

        # the other Python-execution shapes the engine uses: an
        # array-typed scalar pandas UDF (SimHash packing) and a
        # grouped-map applyInPandas (matmul pruners) — each spins its
        # own worker/serializer path the first time it runs
        @pandas_udf("array<long>")
        def _warm_arr(v):
            return v

        emb = spark.read.parquet(f"{warm_dir}/embeddings.parquet")
        force(
            emb.select(
                _warm_arr(F.expr("transform(embedding, x -> 1L)")).alias("w")
            )
        )

        def _warm_grouped(pdf):
            return pdf

        force(
            emb.select("label", "vec_id")
            .groupBy("label")
            .applyInPandas(_warm_grouped, "label int, vec_id long")
        )
        # iterative ops: localCheckpoint path (first use starts the
        # block-manager cleanup machinery)
        spark.range(10).localCheckpoint().count()

        # Python DataSource worker pool (a separate worker path from
        # pandas UDFs): register + read a 100-row throwaway source
        from pyspark.sql.datasource import DataSource, DataSourceReader

        class _WarmReader(DataSourceReader):
            def read(self, partition):
                for i in range(100):
                    yield (i,)

        class _WarmSource(DataSource):
            @classmethod
            def name(cls):
                return "uchr_bench_warm"

            def schema(self):
                return "i bigint"

            def reader(self, schema):
                return _WarmReader()

        spark.dataSource.register(_WarmSource)
        force(spark.read.format("uchr_bench_warm").load())
    except Exception as exc:  # warmup must never fail the bench
        print(f"# BENCH WARMUP SKIPPED: {exc!r}", file=sys.stderr)


def time_keys(
    spark, registry, keys: Iterable[str], sf_dir: str, reps: int = 1
) -> Iterator[tuple[str, list[float]]]:
    """Yield ``(key, seconds per rep)`` for each key, reps back to
    back. The timed region is key construction (with the eager jobs
    a key runs while it builds) plus the noop write. A rep that raises
    is recorded as -1.0 with a ``# BENCH ERROR`` line on stderr, and
    the run goes on."""
    for key in keys:
        times = []
        for _ in range(reps):
            t0 = time.perf_counter()
            try:
                force(registry[key].fn(spark, sf_dir))
            except Exception as exc:  # record the failure, keep benching
                print(f"# BENCH ERROR {key}: {exc!r}", file=sys.stderr)
                times.append(-1.0)
                continue
            times.append(round(time.perf_counter() - t0, 3))
        yield key, times


def output_lines(
    timings: dict[str, float], sf: float, sample: list[str]
) -> list[str]:
    """bench.py's three stdout lines. Only the last 2,000 chars of
    stdout are kept, so the ~10 KB full per-key line always truncates;
    two compact summary lines bracket it. The FIRST carries the 10
    slowest keys. The LAST carries per-key seconds, 2 decimals, for
    ``sample`` (the oracle sample: the 50 alphabetically-first registry
    keys) plus the 8 slowest keys of the whole run, ~1.75 KB.
    ``value`` is the total over ALL keys in every line."""
    ok = {k: v for k, v in timings.items() if v >= 0}
    slowest = sorted(ok, key=ok.get, reverse=True)
    head = {
        "metric": "total_query_wall_seconds",
        "value": round(sum(ok.values()), 3),
        "unit": "sec",
    }
    summary = {**head, "sf": sf, "n_keys": len(timings), "n_errors": len(timings) - len(ok)}
    tail = [k for k in sample if k in timings]
    tail += [k for k in slowest[:8] if k not in tail]
    return [
        json.dumps({**summary, "slowest": {k: ok[k] for k in slowest[:10]}, "summary": True}),
        json.dumps({**head, "queries": timings, "sf": sf}),
        json.dumps(
            {**summary, "queries": {k: round(timings[k], 2) for k in tail}, "summary": True}
        ),
    ]


if __name__ == "__main__":
    raise SystemExit(main())
