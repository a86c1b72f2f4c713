"""Declarative ETL pipeline API: source → transforms → sink.

The engine's user-facing composition layer — an ETL script declares
WHAT flows where, and the pipeline compiles to a single lazy DataFrame
plan so Catalyst optimizes across step boundaries (a filter declared
in step 3 still pushes down into the step-1 scan; unused columns are
pruned end-to-end). Nothing materializes until the sink runs: steps
are plan rewrites, not staged tables.

Example::

    p = Pipeline(
        source=Source("parquet", f"{sf}/orders.parquet"),
        steps=[
            Transform("recent", lambda df: df.where(df.o_orderdate >= lo)),
            SqlTransform("by_status",
                "SELECT o_orderstatus, count(*) AS n FROM {df} GROUP BY 1"),
        ],
        sink=Sink("parquet", out, mode="overwrite",
                  partition_by=["o_orderstatus"]),
    )
    result = p.run(spark)   # -> PipelineResult(rows_written=..., path=...)

At 100 TB this layer adds zero overhead: it emits exactly the
DataFrame calls a hand-written script would, and the sink write is the
only action. Idempotence comes from the sink mode ("overwrite" →
deterministic re-runs; "error" → explicit refusal to clobber).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from typing import Callable, Optional, Sequence

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .io import read_csv, read_json, read_parquet, write_csv, write_json
from .session import configure

_SOURCE_FORMATS = ("parquet", "csv", "json", "orc")
_SINK_FORMATS = ("parquet", "csv", "json", "orc", "noop")


@dataclass(frozen=True)
class Source:
    """A file source. ``schema`` is a corpus table name or StructType.
    Text formats require it, since production scans never infer. A
    parquet source with a schema reads through ``io.read_parquet``: the
    declared schema, checked once against the file's footer, so the
    read starts no inference job. Without one, parquet and ORC infer
    their schema from the files."""

    fmt: str
    path: str
    schema: object = None

    def read(self, spark: SparkSession) -> DataFrame:
        configure(spark)
        if self.fmt not in _SOURCE_FORMATS:
            raise ValueError(f"unknown source format {self.fmt!r}")
        if self.fmt == "parquet":
            if self.schema is not None:
                return read_parquet(spark, self.path, self.schema)
            return spark.read.parquet(self.path)
        if self.fmt == "orc":
            return spark.read.orc(self.path)
        if self.schema is None:
            raise ValueError(f"{self.fmt} source requires an explicit schema")
        if self.fmt == "csv":
            return read_csv(spark, self.path, self.schema)
        return read_json(spark, self.path, self.schema)


@dataclass(frozen=True)
class Transform:
    """A named DataFrame → DataFrame step."""

    name: str
    fn: Callable[[DataFrame], DataFrame]

    def apply(self, spark: SparkSession, df: DataFrame) -> DataFrame:
        return self.fn(df)


@dataclass(frozen=True)
class SqlTransform:
    """A SQL step; ``{df}`` in the statement names the incoming
    relation (registered as a temp view scoped to this step)."""

    name: str
    sql: str

    def apply(self, spark: SparkSession, df: DataFrame) -> DataFrame:
        # plain substring replace, NOT str.format: SQL legitimately
        # contains braces (JSON literals, map/struct constructors) that
        # format() would treat as placeholders and crash on. Note the
        # token is replaced anywhere it appears, including inside SQL
        # string literals — don't put a literal '{df}' in step SQL.
        # The view name is uniqued with a process-wide uuid so two
        # pipelines sharing a session with same-named steps can never
        # collide (an id(df)-based suffix was used before: id() values
        # recur after GC, so concurrent same-named steps could read or
        # drop each other's view); the view is dropped once the step's
        # plan is built (the returned DataFrame holds the plan, not the
        # view reference).
        import uuid

        view = f"__pipeline_{self.name}_{uuid.uuid4().hex[:12]}"
        df.createOrReplaceTempView(view)
        try:
            return spark.sql(self.sql.replace("{df}", view))
        finally:
            spark.catalog.dropTempView(view)


@dataclass(frozen=True)
class Sink:
    fmt: str
    path: str
    mode: str = "error"
    partition_by: Sequence[str] = ()

    def write(self, df: DataFrame) -> None:
        if self.fmt not in _SINK_FORMATS:
            raise ValueError(f"unknown sink format {self.fmt!r}")
        if self.fmt == "noop":
            df.write.format("noop").mode("overwrite").save()
            return
        if self.fmt in ("csv", "json"):
            # honor mode for the text sinks too: the hardcoded
            # "overwrite" the io helpers default to would silently
            # clobber under the documented default mode="error"
            if self.partition_by:
                raise ValueError(
                    f"{self.fmt} sink does not support partition_by here"
                )
            writer = write_csv if self.fmt == "csv" else write_json
            writer(df, self.path, mode=self.mode)
            return
        w = df.write.mode(self.mode)
        if self.partition_by:
            w = w.partitionBy(*self.partition_by)
        getattr(w, self.fmt)(self.path)


@dataclass(frozen=True)
class PipelineResult:
    rows_written: int
    seconds: float
    path: Optional[str]


@dataclass(frozen=True)
class Pipeline:
    source: Source
    sink: Sink
    steps: Sequence[object] = field(default_factory=tuple)

    def plan(self, spark: SparkSession) -> DataFrame:
        """The composed (unexecuted) DataFrame — inspectable with
        ``.explain`` before any data moves."""
        df = self.source.read(spark)
        for step in self.steps:
            df = step.apply(spark, df)
        return df

    def run(self, spark: SparkSession) -> PipelineResult:
        t0 = time.perf_counter()
        df = self.plan(spark)
        # Row count rides the write via an Observation (observed
        # metrics are computed inside the same physical plan), so the
        # source is scanned exactly ONCE — a separate post-write
        # .count() would be a second full pass at 100 TB.
        obs = Observation()
        self.sink.write(df.observe(obs, F.count(F.lit(1)).alias("n")))
        n = int(obs.get["n"])
        return PipelineResult(
            rows_written=n,
            seconds=round(time.perf_counter() - t0, 3),
            path=None if self.sink.fmt == "noop" else self.sink.path,
        )


__all__ = [
    "Pipeline",
    "PipelineResult",
    "Sink",
    "Source",
    "SqlTransform",
    "Transform",
]
