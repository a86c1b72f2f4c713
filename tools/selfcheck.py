"""Self-oracle harness mirroring the driver's correctness gate.

For every registered query: run the Spark DataFrame and the DuckDB
oracle SQL over the same parquet corpus, then compare

  - row count,
  - column name set,
  - cell values (bit-exact, with a near-match diagnostic so "close but
    inexact" queries are visible and fixable before driver rounds).

Usage:  python tools/selfcheck.py [--json OUT.json] [sf_dir] [key ...]

With --json, a machine-readable per-key verdict is written in the
driver's CORRECTNESS_r{N}.json format ({rows_match, schema_match,
hash_match, spark_rows, oracle_rows, err}); rows-only keys additionally
carry "rows_only": true with hash_match/oracle_rows null, since no
equality invariant exists for them. The committed CORRECTNESS_LOCAL.json
is produced by running this at the driver's sf0.01 each round (see
README) so the ~160 keys outside the driver's 50-key alphabetical
window still get a diffable verdict every round.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from uchr_scetl_spark import get_session, load_registry  # noqa: E402
from uchr_scetl_spark.schemas import TABLES  # noqa: E402


def oracle_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            ser = pd.to_datetime(s)
            if getattr(ser.dt, "tz", None) is not None:
                ser = ser.dt.tz_convert("UTC").dt.tz_localize(None)
            df[c] = ser.astype("datetime64[us]")
        elif s.dtype == object:
            df[c] = s.map(lambda v: None if v is None else v)
    # Driver-parity sort: column-wise pandas sort_values over ALL
    # columns — NOT row-stringify. The driver's canonicalizer dies on
    # unsortable cells (array/ndarray columns factorize-fail inside
    # lexsort_indexer), and so must this one: the round-9 dedup_vec_ids
    # driver ERR passed every local gate precisely because the old
    # row-stringify here was MORE LENIENT than the driver's sort.
    if len(df.columns) and len(df):
        df = df.sort_values(by=list(df.columns), kind="stable")
    return df.reset_index(drop=True)


def compare(sdf: pd.DataFrame, odf: pd.DataFrame) -> list[str]:
    problems: list[str] = []
    if len(sdf) != len(odf):
        problems.append(f"rowcount spark={len(sdf)} oracle={len(odf)}")
    if sorted(sdf.columns) != sorted(odf.columns):
        problems.append(f"columns spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}")
    if problems:
        return problems
    a, b = _canon(sdf), _canon(odf)
    for c in a.columns:
        av, bv = a[c], b[c]
        if pd.api.types.is_float_dtype(av) and pd.api.types.is_float_dtype(bv):
            an, bn = av.to_numpy(float), bv.to_numpy(float)
            exact = np.array_equal(an, bn, equal_nan=True)
            if not exact:
                close = np.allclose(an, bn, rtol=1e-9, atol=1e-12, equal_nan=True)
                with np.errstate(invalid="ignore"):
                    md = np.nanmax(np.abs(an - bn)) if len(an) else 0.0
                problems.append(
                    f"col {c}: float mismatch (close={close}, maxdiff={md:.3e})"
                )
        else:
            try:
                eq = (av.astype(str).fillna("<null>") == bv.astype(str).fillna("<null>")).all()
            except Exception:
                eq = list(av) == list(bv)
            if not eq:
                n_bad = int((av.astype(str) != bv.astype(str)).sum())
                i = int(np.argmax((av.astype(str) != bv.astype(str)).to_numpy()))
                problems.append(
                    f"col {c}: {n_bad} diffs e.g. row{i}: spark={av.iloc[i]!r} oracle={bv.iloc[i]!r}"
                    f" (dtypes {av.dtype}/{bv.dtype})"
                )
    return problems


def main() -> int:
    argv = sys.argv[1:]
    json_out = None
    if argv and argv[0] == "--json":
        json_out = argv[1]
        argv = argv[2:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])
    registry = load_registry()
    spark = get_session("uchr-selfcheck")
    con = oracle_connection(sf_dir)
    n_pass = n_fail = n_rows_only = 0
    report: dict[str, dict] = {}
    for key, spec in sorted(registry.items()):
        if only and key not in only:
            continue
        t0 = time.time()
        rec = {
            "rows_match": False,
            "schema_match": False,
            "hash_match": False,
            "spark_rows": None,
            "oracle_rows": None,
            "err": None,
        }
        report[key] = rec
        try:
            sdf = spec.fn(spark, sf_dir).toPandas()
        except Exception:
            print(f"FAIL {key}: spark raised\n{traceback.format_exc()}")
            rec["err"] = f"spark: {traceback.format_exc(limit=1).splitlines()[-1]}"
            n_fail += 1
            continue
        rec["spark_rows"] = len(sdf)
        if spec.rows_only:
            print(f"ROWS {key}: {len(sdf)} rows [{time.time()-t0:.1f}s]")
            rec.update(
                rows_match=True, schema_match=True, hash_match=None,
                oracle_rows=None, rows_only=True,
            )
            n_rows_only += 1
            continue
        try:
            odf = con.sql(spec.oracle).df()
        except Exception:
            print(f"FAIL {key}: oracle raised\n{traceback.format_exc()}")
            rec["err"] = f"oracle: {traceback.format_exc(limit=1).splitlines()[-1]}"
            n_fail += 1
            continue
        rec["oracle_rows"] = len(odf)
        problems = compare(sdf, odf)
        rec["rows_match"] = len(sdf) == len(odf)
        rec["schema_match"] = sorted(sdf.columns) == sorted(odf.columns)
        rec["hash_match"] = not problems
        if problems:
            print(f"FAIL {key}: " + "; ".join(problems) + f" [{time.time()-t0:.1f}s]")
            rec["err"] = "; ".join(problems)
            n_fail += 1
        else:
            print(f"PASS {key}: {len(sdf)} rows [{time.time()-t0:.1f}s]")
            n_pass += 1
    print(f"\n== {n_pass} pass, {n_fail} fail, {n_rows_only} rows-only ==")
    if json_out:
        with open(json_out, "w") as fh:
            json.dump(report, fh, indent=2, sort_keys=True)
            fh.write("\n")
        print(f"wrote {json_out} ({len(report)} keys)")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
