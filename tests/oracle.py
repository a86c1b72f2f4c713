"""Oracle helpers for the tests.

The comparator is ``tools/selfcheck.py``'s, the one implementation of
the driver's gate (__spark_entry__.py docstring): row count + column
names + order-insensitive values, DuckDB as the reference engine. This
module adds the hostile-corpus factory and the per-key oracle
assertion every corpus gate shares."""

from __future__ import annotations

import contextlib
import shutil
import tempfile

import pytest

from tools.selfcheck import compare, oracle_connection
from uchr_scetl_spark import clear_caches, load_registry
from uchr_scetl_spark.schemas import TABLES

from .conftest import SF_SMOKE

REGISTRY = load_registry()


@contextlib.contextmanager
def copied_corpus(prefix: str):
    """A temp dir holding a copy of every SF_SMOKE table. On exit its
    memo entries are evicted and the dir is removed."""
    out = tempfile.mkdtemp(prefix=prefix)
    try:
        for t in TABLES:
            shutil.copyfile(f"{SF_SMOKE}/{t}.parquet", f"{out}/{t}.parquet")
        yield out
    finally:
        clear_caches(out)
        shutil.rmtree(out, ignore_errors=True)


def rewrite_tables(sf_dir: str, rewrites: dict[str, str]) -> None:
    """Write each ``{table: select_sql}`` entry to ``sf_dir`` with one
    DuckDB ``COPY``, a single parquet FILE per table (the testdata
    layout io.load and the oracle both expect). The SQL reads the clean
    SF_SMOKE tables as views named after them, so a rewrite is
    ``SELECT * REPLACE (...) FROM documents``."""
    with oracle_connection(SF_SMOKE) as con:
        for t, sql in rewrites.items():
            con.execute(f"COPY ({sql}) TO '{sf_dir}/{t}.parquet' (FORMAT PARQUET)")


def mutated_corpus(prefix: str, rewrites: dict[str, str], scope: str = "module"):
    """A fixture yielding a copy of SF_SMOKE with ``rewrites`` applied
    (see ``rewrite_tables``); bind it to a module-level name."""

    @pytest.fixture(scope=scope)
    def corpus():
        with copied_corpus(prefix) as out:
            rewrite_tables(out, rewrites)
            yield out

    return corpus


def assert_matches_oracle(spark, key: str, sf_dir: str, con=None):
    """Run ``key`` on Spark and its oracle SQL on DuckDB over ``sf_dir``
    (on ``con`` if given) and assert ``compare`` finds no problems.
    Returns the Spark result as pandas."""
    spec = REGISTRY[key]
    sdf = spec.fn(spark, sf_dir).toPandas()
    if con is None:
        with oracle_connection(sf_dir) as own:
            odf = own.sql(spec.oracle).df()
    else:
        odf = con.sql(spec.oracle).df()
    problems = compare(sdf, odf)
    assert not problems, f"{key}: {'; '.join(problems)}"
    return sdf
