"""Checks suite outputs against the queries' DuckDB oracles.

The harness writes each query's output as parquet under `<check>/<query>`
and the oracle SQL of every declared query to `<check>/oracle_sql.json`.
An oracle's result depends only on its SQL and the input tables, so it
is computed once per checkout and kept under `cache_dir`, keyed by both.
"""
import hashlib
import json
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def tables_key(sf_dir):
    h = hashlib.sha256()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            with open(p, "rb") as f:
                h.update(t.encode() + hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def check(check_dir, queries, sf_dir, cache_dir, threads):
    """Returns {query: None if the output matches its oracle, else why not}."""
    with open(os.path.join(check_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    con = duckdb.connect()
    con.execute(f"SET threads={int(threads)}")
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    data = tables_key(sf_dir)
    os.makedirs(cache_dir, exist_ok=True)
    out = {}
    for q in queries:
        got = os.path.join(check_dir, q)
        if not os.path.isdir(got):
            out[q] = "no output"
            continue
        key = hashlib.sha256((data + oracles[q]).encode()).hexdigest()[:32]
        want = os.path.join(cache_dir, f"{q}-{key}.parquet")
        if not os.path.exists(want):
            tmp = want + ".tmp"
            con.execute(f"COPY ({oracles[q]}) TO '{tmp}' (FORMAT parquet)")
            os.replace(tmp, want)
        out[q] = compare(con, f"'{got}/*.parquet'", f"'{want}'")
    con.close()
    return out


def compare(con, got, want):
    gcols = sorted(c[0] for c in con.execute(f"DESCRIBE SELECT * FROM {got}").fetchall())
    wcols = sorted(c[0] for c in con.execute(f"DESCRIBE SELECT * FROM {want}").fetchall())
    if gcols != wcols:
        return f"columns {gcols} != oracle {wcols}"
    cols = ", ".join(f'"{c}"' for c in gcols)
    n_got = con.execute(f"SELECT count(*) FROM {got}").fetchone()[0]
    n_want = con.execute(f"SELECT count(*) FROM {want}").fetchone()[0]
    if n_got != n_want:
        return f"{n_got} rows != oracle {n_want}"
    diff = con.execute(
        f"SELECT count(*) FROM (SELECT {cols} FROM {got} EXCEPT ALL "
        f"SELECT {cols} FROM {want})").fetchone()[0]
    return None if diff == 0 else f"{diff} of {n_got} rows differ from the oracle"
