"""Seeded per-lap input directories for the benchmark.

Every lap reads its own directory, derived from the committed seed
tables (data/sf0.01, a copy of the sf0.01 test tables), the workload
seed and the lap index:

- ids get fresh values with the scheme of tools/make_scale.py: rep r of
  K maps id to id*K + r, consistently on both sides of every join key,
  and each lap then spreads and shifts them by a seeded offset
  (id' = (id*K + r) * SPREAD + offset). The map is monotone, so joins,
  fan-outs and id tie-breaks keep their shape;
- rows are written in a seeded order;
- with amplification (K > 1) the embedding clones of
  reps 1..K-1 get a seeded hash perturbation, as make_scale.py --jitter.

Only DuckDB is used, single-threaded, so one seed gives byte-identical
files on every run.
"""
import hashlib
import os
import shutil

import duckdb

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
# (table, id columns) that get fresh ids, as in tools/make_scale.py
FRESH_IDS = {
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    "events": ["event_id", "user_id"],
    "lineitem": ["l_orderkey"],
    "orders": ["o_orderkey"],
}
SPREAD = 16
JITTER_EPS = 1.0


def lap_salt(seed, lap):
    """A 31-bit salt for (seed, lap); stable across Python versions."""
    h = hashlib.sha256(f"{seed}:{lap}".encode()).digest()
    return int.from_bytes(h[:4], "big") & 0x7FFFFFFF


def make_lap_dir(src, dst, seed, lap, k=1):
    """Writes one lap's tables to dst; returns {table: (rows, bytes)}."""
    os.makedirs(dst, exist_ok=True)
    salt = lap_salt(seed, lap)
    offset = salt % SPREAD
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    reps = f"(SELECT UNNEST(range({k})) AS r)"
    for t in TABLES:
        path = f"{src}/{t}.parquet"
        ids = FRESH_IDS.get(t)
        if ids is None:
            shutil.copyfile(path, f"{dst}/{t}.parquet")
            continue
        fresh = [f"CAST(({c} * {k} + r) * {SPREAD} + {offset} AS BIGINT) AS {c}" for c in ids]
        if t == "embeddings" and k > 1:
            u = f"(hash(vec_id, r, i, {salt}) % 2000001) / 1000000.0 - 1.0"
            nrm = "sqrt(list_sum(list_transform(embedding, x -> x*x)))"
            fresh.append(f"""CASE WHEN r = 0 OR {nrm} IS NULL OR {nrm} = 0 THEN embedding
                ELSE [CAST(embedding[i] + {JITTER_EPS} * {nrm} / sqrt(len(embedding)) * ({u}) AS FLOAT)
                      FOR i IN range(1, len(embedding) + 1)] END AS embedding""")
        # seeded row order; (rn, r) is unique, so the order is total
        con.execute(f"""COPY (SELECT s.* EXCLUDE (rn) REPLACE ({', '.join(fresh)})
                              FROM (SELECT *, row_number() OVER () AS rn FROM '{path}') s, {reps}
                              ORDER BY hash(rn, r, {salt}), rn, r)
                        TO '{dst}/{t}.parquet' (FORMAT parquet)""")
    return table_sizes(dst, con)


def table_sizes(d, con=None):
    con = con or duckdb.connect()
    return {t: (con.execute(f"SELECT count(*) FROM '{d}/{t}.parquet'").fetchone()[0],
                os.path.getsize(f"{d}/{t}.parquet")) for t in TABLES}


def dir_digest(d):
    """sha256 over the bytes of every table of d, in table order."""
    h = hashlib.sha256()
    for t in TABLES:
        with open(f"{d}/{t}.parquet", "rb") as f:
            h.update(f.read())
    return h.hexdigest()
