"""Sources/sinks: parquet (primary), CSV, JSON-lines.

Design notes for scale: every reader returns a plain (uncached,
unmaterialised) DataFrame so Catalyst keeps predicate pushdown and
column pruning into the parquet scan. Nothing here collects to the
driver. The ``events`` nanosecond normalisation is a column expression
(JVM-side, codegen-friendly), not a UDF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .schemas import LOGICAL, TABLES, table_path
from .session import configure


def scratch_dir(prefix: str) -> str:
    """mkdtemp with atexit cleanup — every write-then-read-back
    operator scratches through here so sweep/bench loops never
    accumulate orphan tempdirs (ADVICE round 3 flagged the leak
    class)."""
    import atexit
    import shutil
    import tempfile

    out = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, out, ignore_errors=True)
    return out


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one corpus table as its LOGICAL schema.

    ``events.ts`` is stored as parquet TIMESTAMP(NANOS) which Spark's
    vectorized reader rejects; with ``nanosAsLong`` (set by
    ``configure``) it arrives as INT64 nanos and is truncated to
    microseconds — the same truncation every µs-native engine applies.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    configure(spark)
    df = spark.read.parquet(table_path(sf_dir, name))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn(
            "ts", F.expr("CAST(timestamp_micros(ts DIV 1000) AS TIMESTAMP_NTZ)")
        )
    return df


def _schema_of(schema):
    return LOGICAL[schema] if isinstance(schema, str) else schema


def read_csv(spark: SparkSession, path: str, schema) -> DataFrame:
    """CSV source with a declared schema (table name or StructType) —
    never inferSchema. Dialect mirrors ``write_csv`` (round-11 CSV
    fidelity axis): escape='"' parses RFC 4180 doubled quotes;
    multiLine=true keeps embedded newlines inside quoted fields
    (files then split per-FILE, not per-line — the writer emits one
    file per task, so file count is the read parallelism, the
    scan_xml argument); nullValue='\\N' restores the null-vs-empty
    distinction (unquoted empty → NULL, quoted "" → empty string);
    a LITERAL two-char '\\N' text value is the one reserved token
    (the Postgres/MySQL NULL sentinel) — out of the checked domain,
    tripwire-pinned in tests/test_csv_fidelity_corpus.py."""
    configure(spark)
    return (
        spark.read.schema(_schema_of(schema))
        .option("header", "true")
        .option("escape", '"')
        .option("multiLine", "true")
        .option("nullValue", "\\N")
        .option("timestampNTZFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
        .csv(path)
    )


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """CSV sink, RFC 4180 dialect (round-11 CSV fidelity axis):
    escape='"' writes doubled quotes instead of Spark's default
    backslash escaping (which RFC-strict readers misparse), and the
    writer-side whitespace trimming is OFF — Spark's write default
    ignoreLeading/TrailingWhiteSpace=true SILENTLY STRIPS edge
    whitespace from unquoted fields, a data-corruption default for a
    sink. NULL stays the unquoted empty field and '' stays a quoted
    "" (the write defaults), which together with read_csv's
    nullValue sentinel makes the round-trip lossless."""
    (
        df.write.mode(mode)
        .option("header", "true")
        .option("escape", '"')
        .option("ignoreLeadingWhiteSpace", "false")
        .option("ignoreTrailingWhiteSpace", "false")
        .option("timestampNTZFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
        .csv(path)
    )


def read_json(spark: SparkSession, path: str, schema) -> DataFrame:
    """JSON-lines source with a declared schema."""
    configure(spark)
    return spark.read.schema(_schema_of(schema)).json(path)


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).json(path)


def read_jdbc(spark: SparkSession, url: str, table: str, **options) -> DataFrame:
    """JDBC source — present for API completeness; no JDBC driver jar
    ships in this environment, so the call fails fast with a clear
    message instead of a Py4J class-not-found at action time."""
    driver = options.get("driver")
    if not driver:
        raise NotImplementedError(
            "read_jdbc requires a JDBC driver jar on the Spark classpath "
            "(none is bundled in this environment); pass driver= and add "
            "the jar via spark.jars"
        )
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()
