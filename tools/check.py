#!/usr/bin/env python3
"""Local dev-loop replica of the driver's t2 correctness gate.

Usage: python3 tools/check.py [sfDir] [outDir]

Runs nothing itself — expects `sbt "runMain graft.Verify <sfDir> <outDir>"`
to have produced <outDir>/<query>/ parquet dumps + oracle_sql.json. For each
query: registers every testdata parquet the corpus holds as a DuckDB view,
runs the oracle SQL, loads the Spark result, sorts columns by name, and
compares rows via a DTYPE-AWARE canonical string per cell (the driver's hash
is type-sensitive: 7 vs 7.0 must FAIL here too, which plain tuple == would
hide). Known driver-equivalences are canonicalized the same way the driver
does: DATE == midnight TIMESTAMP (pandas reads date32 as date objects while
DuckDB hands back datetime64 — the driver passes those), and DECIMAL
compares numerically against DuckDB's float64 conversion.

This is dev tooling only (driver-side python deps); the engine itself is
pure Scala/Spark.
"""
import datetime
import decimal
import json
import math
import sys
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


class ArrayCellError(Exception):
    """An array/list-typed result cell: the REAL driver's pandas compare
    crashes on these (sort_values: unhashable numpy.ndarray) — reject them
    here so the dev loop predicts the gate instead of masking it."""


def canon(v):
    """Dtype-aware canonical string: int '7' != float '7.0', but
    date == midnight-timestamp and Decimal == its float value."""
    if isinstance(v, (np.ndarray, list, tuple)):
        raise ArrayCellError(
            f"array-typed cell {str(v)[:60]!r} — serialize to a scalar "
            "(concat_ws / element_at) on BOTH Spark and oracle sides")
    if v is None or v is pd.NaT:
        return "NULL"
    if isinstance(v, (bool, np.bool_)):
        return "true" if v else "false"
    if isinstance(v, (np.integer, int)):
        return str(int(v))
    if isinstance(v, (np.floating, float)):
        f = float(v)
        return "NaN" if math.isnan(f) else repr(f)
    if isinstance(v, decimal.Decimal):
        return repr(float(v))  # DuckDB .df() yields float64 for DECIMAL
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    if isinstance(v, datetime.date):
        return pd.Timestamp(v).isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "0x" + bytes(v).hex()
    if isinstance(v, str):
        # tag strings so '7' != int 7, 'NULL' != SQL NULL, 'true' != bool
        # true — the driver's hash is type-sensitive for exactly these
        return "s:" + v
    return str(v)


def frame_rows(df: pd.DataFrame):
    df = df.reindex(sorted(df.columns), axis=1)
    rows = [tuple(canon(x) for x in t) for t in df.itertuples(index=False)]
    return list(df.columns), rows


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out_dir = Path(sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out")
    oracle = json.loads((out_dir / "oracle_sql.json").read_text())

    con = duckdb.connect()
    for t in TABLES:
        # driver testdata ships single-file tables; Tool genscale/genskew
        # corpora are Spark-written DIRECTORIES — glob those. A table the
        # corpus lacks (Tool genspan writes only events) gets no view, so a
        # query that reads it fails with DuckDB naming the table.
        src = f"{sf_dir}/{t}.parquet"
        if not Path(src).exists():
            continue
        if Path(src).is_dir():
            src = f"{src}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")

    n_pass = n_fail = 0
    for name in sorted(oracle):
        sql = oracle[name]
        qdir = out_dir / name
        if not qdir.exists():
            print(f"FAIL {name}: no spark output")
            n_fail += 1
            continue
        try:
            want = con.execute(sql).df()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}")
            n_fail += 1
            continue
        got = pd.read_parquet(qdir)
        try:
            wcols, wrows = frame_rows(want)
            gcols, grows = frame_rows(got)
        except ArrayCellError as e:
            print(f"FAIL {name}: {e}")
            n_fail += 1
            continue
        if wcols != gcols:
            print(f"FAIL {name}: columns want={wcols} got={gcols}")
            n_fail += 1
            continue
        if wrows == grows:
            print(f"PASS {name} ({len(grows)} rows)")
            n_pass += 1
            continue
        n_fail += 1
        if sorted(wrows) == sorted(grows):
            print(f"FAIL {name}: values match as multiset but ROW ORDER differs")
            continue
        print(f"FAIL {name}: values differ (want {len(wrows)} rows, got {len(grows)})")
        wset, gset = set(wrows), set(grows)
        for r in list(wset - gset)[:3]:
            print(f"  want-only: {str(r)[:200]}")
        for r in list(gset - wset)[:3]:
            print(f"  got-only:  {str(r)[:200]}")
        for i, (a, b) in enumerate(zip(wrows, grows)):
            if a != b:
                print(f"  first diff row {i}:\n    want {a}\n    got  {b}")
                break

    print(f"\n{n_pass} passed, {n_fail} failed / {len(oracle)} total")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
