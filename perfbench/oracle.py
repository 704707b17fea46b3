"""Correctness check of one run's query results against DuckDB.

Each query's result, written by the harness's check pass, is compared with
its oracle SQL (`SparkEntry.oracleSql`) run by DuckDB on the same input
tables: same column set, same row count, and equal values row by row with
columns taken in name order. Floats must match exactly, as in the
engine's own verification. Queries without an oracle are checked against
properties instead (PROPERTY_CHECKS).
"""
import glob
import os

import duckdb
import numpy as np
import pandas as pd

# HLL++ in Spark's approx_count_distinct, default relative standard
# deviation 0.05; a result more than three deviations off is wrong.
HLL_RSD = 0.05


def connect(data_dir, threads, tmp_dir):
    con = duckdb.connect()
    con.execute(f"SET threads = {int(threads)}")
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    for p in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    return con


def _eq(a, b):
    if a is None and b is None:
        return True
    try:
        if pd.isna(a) and pd.isna(b):
            return True
    except (TypeError, ValueError):
        pass
    if isinstance(a, (np.integer, int)) and isinstance(b, (np.integer, int)):
        return int(a) == int(b)
    if isinstance(a, np.ndarray) or isinstance(b, np.ndarray):
        return np.array_equal(np.asarray(a), np.asarray(b))
    return a == b


def compare(got, want):
    """None when the frames match, else what differs."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns differ: spark={sorted(got.columns)} oracle={sorted(want.columns)}"
    if len(got) != len(want):
        return f"row count: spark={len(got)} oracle={len(want)}"
    cols = sorted(got.columns)
    g = got[cols].reset_index(drop=True)
    w = want[cols].reset_index(drop=True)
    for c in cols:
        gv, wv = g[c], w[c]
        if pd.api.types.is_float_dtype(gv) or pd.api.types.is_float_dtype(wv):
            gn, wn = gv.astype(float).to_numpy(), wv.astype(float).to_numpy()
            if not np.array_equal(gn, wn, equal_nan=True):
                i = int(np.where(~((gn == wn) | (np.isnan(gn) & np.isnan(wn))))[0][0])
                return f"col {c} row {i}: spark={gn[i]!r} oracle={wn[i]!r}"
        else:
            ge = gv.astype(object).where(pd.notnull(gv), None)
            we = wv.astype(object).where(pd.notnull(wv), None)
            for i in range(len(ge)):
                if not _eq(ge[i], we[i]):
                    return f"col {c} row {i}: spark={ge[i]!r} oracle={we[i]!r}"
    return None


def check_approx_distinct(con, got):
    want = con.execute(
        "SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS exact FROM lineitem "
        "GROUP BY 1 ORDER BY 1").fetchdf()
    if list(got.columns) != ["l_returnflag", "approx_parts"]:
        return f"columns {list(got.columns)}"
    if list(got.l_returnflag) != list(want.l_returnflag):
        return f"groups {list(got.l_returnflag)} != {list(want.l_returnflag)}"
    for f, a, e in zip(want.l_returnflag, got.approx_parts, want.exact):
        if abs(int(a) - int(e)) > 3 * HLL_RSD * int(e):
            return f"{f}: approx {a} vs exact {e} beyond 3 x rsd {HLL_RSD}"
    return None


def check_mii_demo(con, got):
    n = con.execute("SELECT COUNT(*) FROM nation").fetchone()[0]
    if list(got.columns) != ["n_rows", "n_distinct_ids"] or len(got) != 1:
        return f"shape {list(got.columns)} x {len(got)}"
    rows, distinct = int(got.n_rows[0]), int(got.n_distinct_ids[0])
    # count(DISTINCT id) skips nulls, so equality means unique and non-null
    if rows != n or distinct != n:
        return f"n_rows={rows} n_distinct_ids={distinct}, nation has {n}"
    return None


PROPERTY_CHECKS = {
    "a7_approx_distinct": check_approx_distinct,
    "f9_mii_demo": check_mii_demo,
}


def check(data_dir, result_dir, names, oracle_sql, threads):
    """{query name: why it failed} for every query whose output is wrong."""
    con = connect(data_dir, threads, os.path.join(result_dir, ".duckdb_tmp"))
    failures = {}
    for name in names:
        files = glob.glob(os.path.join(result_dir, name, "*.parquet"))
        if not files:
            failures[name] = "no result written"
            continue
        try:
            got = con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf()
            if name in PROPERTY_CHECKS:
                why = PROPERTY_CHECKS[name](con, got)
            elif name in oracle_sql:
                why = compare(got, con.execute(oracle_sql[name]).fetchdf())
            else:
                why = "no oracle and no property check"
        except Exception as e:  # an oracle that cannot run is a failed check
            why = f"{type(e).__name__}: {e}"
        if why:
            failures[name] = why
    con.close()
    return failures
