"""Checks the engine's outputs against SparkEntry.oracleSql in DuckDB.

The canonical form and the type rules are those of tools/check.py:
columns sorted by name, rows sorted by every column, DuckDB-level
column types compared after collapsing the spellings that hash alike,
then exact values. Expected results are cached under
.work/oracle-cache, keyed by the oracle SQL and a digest of the input
bytes, because a few oracles take far longer than the engine.
"""
import glob
import hashlib
import os
import pickle

import duckdb
import pandas as pd

from inputs import TABLES


def duck_canon_type(t):
    t = t.replace(" WITH TIME ZONE", "")
    return "TIMESTAMP" if t == "DATE" else t


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort", na_position="last")
    return df.reset_index(drop=True)


def expected(con, sql, digest, cache_dir):
    """(frame, {column: duckdb type}) of the oracle, cached on disk."""
    key = hashlib.sha256((sql + "\0" + digest).encode()).hexdigest()
    path = os.path.join(cache_dir, key + ".pkl")
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    frame = con.sql(sql).df()
    types = dict(con.sql(f"SELECT column_name, column_type FROM (DESCRIBE ({sql}))").fetchall())
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "wb") as f:
        pickle.dump((frame, types), f)
    os.replace(tmp, path)
    return frame, types


def check(input_dir, digest, oracle_sql, out_dir, statuses, cache_dir):
    """Returns {key: None if it matches, else the reason it does not}."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{input_dir}/{t}.parquet')")
    result = {}
    for key, sql in oracle_sql.items():
        result[key] = check_one(con, key, sql, digest, out_dir, statuses.get(key, "missing"), cache_dir)
    return result


def check_one(con, key, sql, digest, out_dir, status, cache_dir):
    if status != "ok":
        return f"engine {status}"
    if not sql:
        return "no oracle sql"
    files = glob.glob(f"{out_dir}/{key}/*.parquet")
    if not files:
        return "no engine output"
    try:
        duck, dt = expected(con, sql, digest, cache_dir)
    except Exception as e:  # an oracle that cannot run is a mismatch too
        return f"oracle error: {str(e)[:200]}"
    scan = f"read_parquet('{out_dir}/{key}/*.parquet')"
    spark = con.sql(f"SELECT * FROM {scan}").df()
    st = dict(con.sql(f"SELECT column_name, column_type FROM (DESCRIBE (SELECT * FROM {scan}))").fetchall())
    d, s = canon(duck), canon(spark)
    if list(d.columns) != list(s.columns):
        return f"columns oracle={list(d.columns)} engine={list(s.columns)}"
    if len(d) != len(s):
        return f"rows oracle={len(d)} engine={len(s)}"
    bad = {c: (dt[c], st[c]) for c in dt if duck_canon_type(dt[c]) != duck_canon_type(st.get(c, "?"))}
    if bad:
        return f"types {bad}"
    try:
        pd.testing.assert_frame_equal(d, s, check_dtype=True, check_exact=True)
    except AssertionError as e:
        return f"values {str(e)[:200]}"
    return None
