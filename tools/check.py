#!/usr/bin/env python
"""Local stand-in for the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` twin on DuckDB over the same parquet fixtures, then compares
row count, column names, and an order-insensitive value hash (columns sorted by
name, rows sorted, values stringified).

STRICT mode (the default) stringifies each cell with plain ``str()`` — the
driver-faithful fingerprint: an int-typed ``43683`` and a float-typed
``43683.0`` hash DIFFERENTLY, exactly as the driver's CORRECTNESS check sees
them (that divergence class produced the r3 ``scalar_math_funcs`` red while
the old ``%.12g``-normalizing gate stayed green).  Queries must therefore pin
output types identically on both engines.  Set ``SG_CHECK_LOOSE=1`` to get the
old 12-significant-digit normalization back for debugging "is it typing or is
it values?".

Set ``SG_CHECK_PLAIN=1`` to run under a deliberately HOSTILE plain session
(non-UTC timezone, default 200 shuffle partitions, none of our session
factory's tuning) — the closest local simulation of the round driver's
environment; every query must force its own runtime conf to pass.

Usage: python tools/check.py [sf_dir] [query ...]

A query name that is not registered (or, with --window, not in the window)
exits 2 before any session starts.
"""

from __future__ import annotations

import decimal
import hashlib
import math
import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_args = [a for a in sys.argv[1:] if a != "--window"]
#: --window: check exactly the DRIVER_WINDOW slice (the 50 queries the
#: round driver will record) in driver order — the pre-flight for a round.
WINDOW_ONLY = "--window" in sys.argv[1:]
SF_DIR = _args[0] if _args else "/root/testdata/sf0.01"
ONLY = set(_args[1:])
LOOSE = os.environ.get("SG_CHECK_LOOSE", "") not in ("", "0")

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float) or type(v).__name__ in ("float64", "float32"):
        if math.isnan(v):
            return "NULL"
        if LOOSE:
            # 12 significant digits absorbs float noise AND typing divergence
            return f"{v:.12g}"
        return str(float(v))  # shortest-repr, exactly what str(cell) yields driver-side
    if isinstance(v, decimal.Decimal):
        return f"{float(v):.12g}" if LOOSE else str(float(v))
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def frame_fingerprint(df: pd.DataFrame) -> tuple[int, list[str], str]:
    cols = sorted(df.columns)
    df = df[cols]
    # Driver-faithful canonicalization ORDER: the round driver sorts the RAW
    # pandas frame (sort_values) BEFORE stringifying, so array/map/struct
    # output columns crash its hash step (r01 report_show_as_list, r04
    # text_winnow_fingerprints: ``TypeError: unhashable type:
    # 'numpy.ndarray'`` inside factorize).  Reproduce that here: any query
    # whose output cannot be sort_values'd must fail THIS gate, not only the
    # driver's.  The value hash itself stays order-insensitive (stringified
    # rows re-sorted) so engine row order still can't matter.
    if len(df):
        df = df.sort_values(by=cols, kind="stable")
    rows = sorted("\x1f".join(norm_cell(v) for v in row) for row in df.itertuples(index=False, name=None))
    h = hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]
    return len(df), cols, h


def main() -> int:
    import __spark_entry__ as entrymod

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    if WINDOW_ONLY:
        qs = {n: fn for i, (n, fn) in enumerate(qs.items()) if i < 50}
    unknown = sorted(ONLY - set(qs))
    if unknown:
        where = "in the driver window" if WINDOW_ONLY else "registered"
        print(f"query names not {where}: {' '.join(unknown)}", file=sys.stderr)
        return 2
    if os.environ.get("SG_CHECK_PLAIN", "") not in ("", "0"):
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[8]")
            .config("spark.sql.session.timeZone", "America/New_York")
            .appName("check-plain")
            .getOrCreate()
        )
    else:
        from cloudcomputing_servicecompositiontest_datapipeline_spark.session import get_spark

        spark = get_spark("check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    failures, n_checked = [], 0
    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        t0 = time.time()
        spark.sparkContext.setJobDescription(f"q:{name}")
        try:
            sdf = fn(spark, SF_DIR).toPandas()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: spark error: {e}")
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(sdf)} rows (no oracle; rows-only) [{time.time()-t0:.1f}s]")
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {e}")
            continue
        n_checked += 1
        try:
            sn, sc, sh = frame_fingerprint(sdf)
            on, oc, oh = frame_fingerprint(odf)
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: canonicalize error (driver-class): {type(e).__name__}: {e}")
            continue
        ok = (sn, sc, sh) == (on, oc, oh)
        if not ok:
            failures.append(name)
            print(f"FAIL  {name}: spark=({sn} rows, {sc}, {sh}) oracle=({on} rows, {oc}, {oh})")
        else:
            print(f"OK    {name}: {sn} rows hash={sh} [{time.time()-t0:.1f}s]")
    print(f"\n{n_checked} oracle-checked, {len(failures)} failures: {failures}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
