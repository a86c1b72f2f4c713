"""CSV-fidelity gate (round-11 axis, self-initiated): the CSV dialect
is the classic place engines silently corrupt text. The axis probed
Spark's writer/reader DEFAULTS against hostile text and found two
silent-corruption classes plus one interop class, all fixed in
io.write_csv / io.read_csv and pinned here:

- **Write-side whitespace trimming** (silent corruption): Spark's CSV
  WRITER defaults ignoreLeading/TrailingWhiteSpace=true — a value
  'trail ' is written as 'trail' and the data is gone with no error.
  write_csv turns both off.
- **Backslash escaping** (interop corruption): Spark's default
  escape='\\' writes '"has \\"q\\" in"' where RFC 4180 readers expect
  doubled quotes ('"has ""q"" in"'); strict readers misparse the
  file. write_csv/read_csv both use escape='"'.
- **NULL vs empty string**: the write defaults distinguish them
  (NULL → unquoted empty, '' → quoted "") but Spark's READER collapses
  both to NULL; read_csv sets nullValue='\\N' which empirically
  restores the distinction (unquoted empty → NULL, "" → ''). The cost:
  a LITERAL two-char '\\N' text value — the Postgres/MySQL NULL
  sentinel — reads back as NULL, reserved and tripwire-pinned below
  (the same in-band-token trade as the BPE chr(31) reservation, but
  quarantine-free because the corruption maps to the universal CSV
  NULL convention rather than silently shifting counts).

The registry key ``sink_csv_roundtrip_text`` round-trips the whole
documents table through this dialect, so every hostile text corpus in
the suite (control chars, unicode, in-band delimiters, giant docs,
NULL text) exercises CSV fidelity automatically. Full-registry sweep
on THIS corpus: 304 pass / 0 fail / 3 rows-only.
"""

from __future__ import annotations

import glob
import shutil
import tempfile

import pytest

from .oracle import assert_matches_oracle, mutated_corpus, oracle_connection

GATE_KEYS = ["sink_csv_roundtrip_text", "scan_csv", "sink_csv"]

# one CSV-special shape per residue; ELSE keeps normal text
_TEXT_CASE = """
CASE doc_id % 19
  WHEN 0 THEN 'has "double quotes" inside ' || text
  WHEN 1 THEN 'comma, separated, ' || text
  WHEN 2 THEN 'embedded' || chr(10) || 'newline ' || text
  WHEN 3 THEN 'crlf' || chr(13) || chr(10) || 'pair ' || text
  WHEN 4 THEN 'backslash \\ and quote " mix ' || text
  WHEN 5 THEN ' leading and trailing whitespace ' || text || '  '
  WHEN 6 THEN ''
  WHEN 7 THEN NULL
  WHEN 8 THEN 'tab' || chr(9) || 'inside ' || text
  WHEN 9 THEN '"fully quoted looking"'
  ELSE text
END"""


csv_hostile_dir = mutated_corpus(
    "uchr_csv_fidelity_corpus_",
    {
        "documents": f"""
            SELECT doc_id, {_TEXT_CASE} AS text, lang, source,
                   CAST(length({_TEXT_CASE}) AS BIGINT) AS n_chars
            FROM documents
        """,
    },
)


def test_corpus_carries_csv_specials(csv_hostile_dir):
    con = oracle_connection(csv_hostile_dir)
    try:
        q, nl, empty, nulls = con.sql(
            """
            SELECT count_if(contains(text, '"')),
                   count_if(contains(text, chr(10))),
                   count_if(text = ''),
                   count_if(text IS NULL)
            FROM documents
            """
        ).fetchone()
        assert q > 0 and nl > 0 and empty > 0 and nulls > 0
    finally:
        con.close()


@pytest.mark.parametrize("key", GATE_KEYS)
def test_csv_key_is_lossless_on_hostile_text(key, spark, csv_hostile_dir):
    """The round-trip keys must be bit-exact against the parquet
    source on every CSV-special shape — including NULL-vs-empty."""
    assert len(assert_matches_oracle(spark, key, csv_hostile_dir)) > 0


def test_spark_written_csv_is_rfc4180_for_duckdb(spark, csv_hostile_dir):
    """Interop leg: the files write_csv produces must parse
    identically in a strict external reader — DuckDB read_csv with
    sniffing constrained (explicit columns, quoted nulls off)."""
    import duckdb

    from uchr_scetl_spark.io import load, write_csv

    src = load(spark, csv_hostile_dir, "documents")
    out = tempfile.mkdtemp(prefix="uchr_csv_interop_")
    try:
        write_csv(src, out)
        con = duckdb.connect()
        try:
            got = con.sql(
                f"""
                SELECT doc_id, text FROM read_csv(
                  '{out}/*.csv', header=true,
                  columns={{'doc_id':'BIGINT','text':'VARCHAR',
                            'lang':'VARCHAR','source':'VARCHAR',
                            'n_chars':'BIGINT'}},
                  allow_quoted_nulls=false)
                ORDER BY doc_id
                """
            ).fetchall()
            want = con.sql(
                f"""
                SELECT doc_id, text
                FROM read_parquet('{csv_hostile_dir}/documents.parquet')
                ORDER BY doc_id
                """
            ).fetchall()
        finally:
            con.close()
        assert got == want
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_spark_write_defaults_silently_trim_whitespace(spark):
    """Tripwire for the corruption default write_csv overrides: with
    Spark's writer defaults, edge whitespace on an unquoted field is
    STRIPPED IN THE FILE — the data is gone before any reader runs.
    If a Spark upgrade flips the default, this documents why the
    explicit options stay."""
    out = tempfile.mkdtemp(prefix="uchr_csv_trim_")
    try:
        df = spark.createDataFrame([(1, "trail ")], "id bigint, t string")
        df.write.mode("overwrite").option("header", "true").csv(out)
        raw = "".join(
            open(f).read() for f in sorted(glob.glob(out + "/*.csv"))
        )
        assert "trail \n" not in raw and "trail\n" in raw
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_spark_default_escape_is_not_rfc4180(spark):
    """Tripwire for the interop default: Spark's default escape='\\'
    renders an embedded quote as \\" where RFC 4180 doubles it."""
    out = tempfile.mkdtemp(prefix="uchr_csv_esc_")
    try:
        df = spark.createDataFrame([(1, 'a"b')], "id bigint, t string")
        df.write.mode("overwrite").option("header", "true").csv(out)
        raw = "".join(
            open(f).read() for f in sorted(glob.glob(out + "/*.csv"))
        )
        assert '"a\\"b"' in raw  # backslash-escaped, NOT doubled
        assert '"a""b"' not in raw
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_literal_backslash_n_is_the_reserved_token(spark):
    """The one reserved text value: a literal two-char '\\N' reads
    back as NULL through the round-trip (it is indistinguishable from
    the NULL sentinel in the file). Everything else — including
    strings that merely CONTAIN '\\N' — survives."""
    from uchr_scetl_spark.io import read_csv, write_csv

    out = tempfile.mkdtemp(prefix="uchr_csv_sentinel_")
    try:
        df = spark.createDataFrame(
            [(1, "\\N"), (2, "x \\N y"), (3, None), (4, "")],
            "doc_id bigint, text string",
        )
        from pyspark.sql.types import (
            LongType, StringType, StructField, StructType,
        )

        sch = StructType(
            [
                StructField("doc_id", LongType()),
                StructField("text", StringType()),
            ]
        )
        write_csv(df, out)
        got = {
            r.doc_id: r.text for r in read_csv(spark, out, sch).collect()
        }
        assert got[1] is None  # the reserved token collapses to NULL
        assert got[2] == "x \\N y"  # containing it is fine
        assert got[3] is None
        assert got[4] == ""  # quoted "" stays an empty string
    finally:
        shutil.rmtree(out, ignore_errors=True)
