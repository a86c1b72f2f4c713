"""Sources/sinks: parquet (primary), CSV, JSON-lines.

Design notes for scale: every reader returns a plain (uncached,
unmaterialised) DataFrame so Catalyst keeps predicate pushdown and
column pruning into the parquet scan. Nothing here collects to the
driver. The ``events`` nanosecond normalisation is a column expression
(JVM-side, codegen-friendly), not a UDF.
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .memo import Memo
from .schemas import EVENTS_RAW, LOGICAL, TABLES, table_path
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
    """Load one corpus table with its declared ``LOGICAL`` schema.

    The reader is given the schema, so no Spark job runs to infer one;
    :func:`read_parquet` checks it once against the table's own parquet
    footer on the driver and raises ``ValueError`` on any difference.

    ``events.ts`` may be stored as parquet TIMESTAMP(NANOS), which
    Spark's vectorized reader rejects. When the footer says so, the
    table is read as ``EVENTS_RAW``: with ``nanosAsLong`` (set by
    ``configure``) ``ts`` arrives as INT64 nanos and is truncated to
    microseconds, the same truncation every µs-native engine applies.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    return read_parquet(spark, table_path(sf_dir, name), name)


# Footer checks, one per (path, declared schema). The memo's corpus
# fingerprint and the path's own stat change when a table is rewritten
# in place, so a rewritten table is checked again.
_FOOTER_CHECKS = Memo(evict=False)


def read_parquet(spark: SparkSession, path: str, schema) -> DataFrame:
    """Parquet source with a declared schema (table name or StructType).

    Before the first read of ``path`` the schema is compared with the
    parquet footer of its first data file (a directory's first file in
    sorted order, skipping ``_*`` and ``.*`` names: the one file Spark's
    own non-merging inference reads). Column names, order and types
    must match; a tz-naive timestamp counts as ``timestamp_ntz`` and
    hive partition directories supply their own columns. Any difference
    raises ``ValueError``: a reader given a schema would otherwise fill
    a missing column with NULL without a word. The check runs with
    pyarrow on the driver and starts no Spark job."""
    configure(spark)
    key = schema if isinstance(schema, str) else schema.json()
    read_schema = _FOOTER_CHECKS.get(
        spark, os.path.dirname(path), path, key, _stat(path),
        build=lambda: _checked_schema(path, schema),
    )
    df = spark.read.schema(read_schema).parquet(path)
    if read_schema is EVENTS_RAW:
        df = df.withColumn(
            "ts", F.expr("CAST(timestamp_micros(ts DIV 1000) AS TIMESTAMP_NTZ)")
        )
    return df


def _stat(path: str) -> tuple | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def _checked_schema(path: str, schema) -> StructType:
    """The schema to read ``path`` with: the declared one, or
    ``EVENTS_RAW`` for an ``events`` table whose ``ts`` is stored as
    nanos. Raises ``ValueError`` when the footer disagrees with it."""
    want = _schema_of(schema)
    footer = _footer(path)
    if footer is None:  # a directory without data files reads as empty
        return want
    file, found, nanos, parts = footer
    if schema == "events" and "ts" in nanos:
        want = EVENTS_RAW
    declared = [(f.name, f.dataType.simpleString()) for f in want.fields
                if f.name not in parts]
    got = list(found.items())
    if got == declared:
        return want

    def shown(col: str) -> str:
        t = found[col]
        return f"{t} (stored as TIMESTAMP(NANOS))" if col in nanos else t

    i = next(i for i, (d, g) in enumerate(zip(declared + [None], got + [None])) if d != g)
    if i == len(declared):
        problem = f"column {got[i][0]!r} ({shown(got[i][0])}) is not declared"
    else:
        name, typ = declared[i]
        if name not in found:
            problem = f"column {name!r} (declared {typ}) is missing"
        elif got[i][0] != name:
            problem = (f"column {name!r} is at position {list(found).index(name)}, "
                       f"declared at position {i}")
        else:
            problem = f"column {name!r} has type {shown(name)}, declared {typ}"
    if file != os.path.abspath(path):
        problem += f" (parquet footer of {file})"
    raise ValueError(f"{path}: {problem}")


def _footer(path: str) -> tuple[str, dict, set, set] | None:
    """``(file, {column: type}, nanos columns, partition columns)``
    from one footer under ``path``, or ``None`` for a directory with no
    data files. Types are as a reader configured by ``configure`` sees
    them: TIMESTAMP(NANOS) as ``bigint``, INT96 as ``timestamp``."""
    import pyarrow.parquet as pq
    from pyarrow import fs as pafs
    from pyspark.sql.pandas.types import from_arrow_type

    if "://" in path:
        filesystem, root = pafs.FileSystem.from_uri(path)
    else:
        filesystem, root = pafs.LocalFileSystem(), os.path.abspath(path)
    info = filesystem.get_file_info(root)
    if info.type == pafs.FileType.NotFound:
        raise FileNotFoundError(f"parquet path not found: {path}")
    file, parts = root, set()
    if info.type == pafs.FileType.Directory:
        listing = filesystem.get_file_info(pafs.FileSelector(root, recursive=True))
        data = sorted(
            f.path for f in listing
            if f.type == pafs.FileType.File
            and not any(
                seg.startswith(("_", "."))
                for seg in f.path[len(root):].split("/")
            )
        )
        if not data:
            return None
        file = data[0]
        parts = {
            seg.split("=", 1)[0]
            for seg in file[len(root):].split("/")[:-1]
            if "=" in seg
        }
    meta = pq.read_metadata(file, filesystem=filesystem).schema
    int96 = {
        meta.column(i).path
        for i in range(len(meta))
        if meta.column(i).physical_type == "INT96"
    }
    found: dict[str, str] = {}
    nanos: set[str] = set()
    for field in meta.to_arrow_schema():
        t = field.type
        if field.name in int96:
            found[field.name] = "timestamp"
        elif pa.types.is_timestamp(t) and t.unit == "ns":
            found[field.name] = "bigint"  # spark.sql.legacy.parquet.nanosAsLong
            nanos.add(field.name)
        else:
            try:
                found[field.name] = from_arrow_type(
                    t, prefer_timestamp_ntz=True
                ).simpleString()
            except TypeError:  # e.g. unsigned ints
                found[field.name] = f"unmapped parquet type {t}"
    return file, found, nanos, parts


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
