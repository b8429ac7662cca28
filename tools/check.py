#!/usr/bin/env python3
"""Local simulation of the driver's DuckDB-oracle correctness gate.

Usage: python3 tools/check.py <sfDir> <outDir>

Reads each <outDir>/<name>/ spark parquet result and compares against
the DuckDB result of oracle_sql.json[name] over <sfDir> tables:
columns sorted by name, rows sorted by all columns, cell-by-cell
string equality.

IMPORTANT (round-3 lesson): the Spark side is read with pyarrow, NOT
through DuckDB, to match the driver's comparator. The two read paths
stringify DECIMAL differently (pyarrow -> Decimal('123.40') -> "123.40";
duckdb fetchdf -> float64 -> "123.4"), which hid every trailing-zero
decimal mismatch when both sides went through DuckDB. Queries must not
output DECIMAL columns at all; this checker now fails them if they do.
"""
import sys, json, glob, os, time
import datetime
import duckdb
import pandas as pd
import pyarrow.parquet as pq
import numpy as np

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def cell(v):
    """Stringify one cell the way a hash comparator would see it."""
    if isinstance(v, np.ndarray):
        v = v.tolist()
    if isinstance(v, float) and v != v:  # NaN
        return "nan"
    if v is None or v is pd.NaT:
        # a NULL date/timestamp surfaces as None via pyarrow but NaT via
        # duckdb's pandas bridge — same token on both sides
        return "None"
    # DATE columns surface as datetime.date via pyarrow but midnight
    # datetime64 via duckdb fetchdf; the driver treats them as equal.
    # Midnight-normalize symmetrically (true midnight timestamps also
    # shorten on BOTH sides, so the compare stays consistent).
    if isinstance(v, pd.Timestamp):
        if v.tzinfo is None and v.hour == v.minute == v.second == 0 \
           and v.microsecond == 0 and v.nanosecond == 0:
            return str(v.date())
        return str(v)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is None and v.hour == v.minute == v.second == 0 and v.microsecond == 0:
            return str(v.date())
        return str(v)
    return str(v)


def norm(df):
    df = df[sorted(df.columns)]
    s = df.apply(lambda col: col.map(cell))
    s = s.sort_values(by=list(s.columns), kind="mergesort").reset_index(drop=True)
    return s


def main(sfdir, outdir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sfdir}/{t}.parquet')")
    oracle = json.load(open(os.path.join(outdir, "oracle_sql.json")))
    n_pass = n_fail = 0
    for name in sorted(oracle):
        t0 = time.perf_counter()
        files = sorted(glob.glob(os.path.join(outdir, name, "*.parquet")))
        if not files:
            print(f"FAIL {name}: no spark output")
            n_fail += 1
            continue
        try:
            exp = con.execute(oracle[name]).fetchdf()
            tbl = pq.read_table(files)
            decimals = [f.name for f in tbl.schema if "decimal" in str(f.type)]
            if decimals:
                print(f"FAIL {name}: DECIMAL output columns {decimals} "
                      f"(driver comparator stringifies these differently per engine)")
                n_fail += 1
                continue
            # Driver-faithfulness (round-4 lesson): the driver sorts RAW
            # frames — pandas sort_values crashes on unhashable ndarray
            # cells — while this checker stringifies cells before sorting.
            # An array-typed output therefore passes here but kills the
            # driver (exactly how s04 shipped red in round 3). Fail loudly.
            nested = [f.name for f in tbl.schema
                      if any(k in str(f.type) for k in ("list", "struct", "map"))]
            if nested:
                print(f"FAIL {name}: array/struct/map output columns {nested} "
                      f"(driver comparator sorts raw cells; pandas dies on these "
                      f"— serialize via array_join/concat_ws on both engines)")
                n_fail += 1
                continue
            got = tbl.to_pandas()
        except Exception as e:
            print(f"FAIL {name}: {e}")
            n_fail += 1
            continue
        if sorted(exp.columns) != sorted(got.columns):
            print(f"FAIL {name}: cols exp={sorted(exp.columns)} got={sorted(got.columns)}")
            n_fail += 1
            continue
        e_n, g_n = norm(exp), norm(got)
        if len(e_n) != len(g_n):
            print(f"FAIL {name}: rows exp={len(e_n)} got={len(g_n)}")
            n_fail += 1
            continue
        diff = (e_n != g_n)
        if diff.any().any():
            bad_cols = [c for c in e_n.columns if diff[c].any()]
            i = diff.any(axis=1).idxmax()
            print(f"FAIL {name}: {int(diff.any(axis=1).sum())} differing rows; cols={bad_cols}")
            print(f"  first diff row {i}:\n    exp={e_n.iloc[i].to_dict()}\n    got={g_n.iloc[i].to_dict()}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(e_n)} rows, {time.perf_counter() - t0:.1f} s)")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
