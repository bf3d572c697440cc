"""DuckDB oracle check of the warm-up pass's query outputs, with the
comparison rules of tools/check.py: columns sorted by name, rows
sorted, every cell compared as its string form."""
import json
import multiprocessing
import os
import sys
import time

import duckdb
import pandas as pd


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(list(df.columns)).reset_index(drop=True)
    return df.astype(str)


def compare(got, want):
    """(ok, detail) for a Spark output frame against its oracle frame."""
    g, e = canon(got), canon(want)
    if list(g.columns) != list(e.columns):
        return False, f"columns {list(g.columns)} != {list(e.columns)}"
    if len(g) != len(e) or not g.equals(e):
        gt = set(map(tuple, g.itertuples(index=False)))
        et = set(map(tuple, e.itertuples(index=False)))
        return False, (f"rows {len(g)} vs {len(e)}; spark-only {list(gt - et)[:2]}; "
                       f"oracle-only {list(et - gt)[:2]}")
    return True, f"{len(g)} rows"


def _connect(data):
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for name in sorted(os.listdir(data)):
        if name.endswith(".parquet"):
            con.sql(f"CREATE VIEW {name[:-8]} AS SELECT * FROM '{os.path.join(data, name)}'")
    return con


def _check(job):
    work, data, name, sql = job
    t = time.time()
    try:
        con = _connect(data)
        ok, detail = compare(pd.read_parquet(os.path.join(work, "out", name)), con.sql(sql).df())
        con.close()
    except Exception as ex:  # a missing output or a failing oracle is a failed check
        ok, detail = False, f"{type(ex).__name__}: {str(ex)[:300]}"
    print(f"[perfbench] oracle {name}: {detail} in {time.time() - t:.2f}s", file=sys.stderr)
    return {"name": f"oracle_{name}", "ok": ok, "detail": "" if ok else detail}


def check_all(work, data):
    """One check per query in work/oracle_sql.json, three at a time: the
    three regex-heavy oracles take most of the time, and the JVM is
    winding down alongside."""
    with open(os.path.join(work, "oracle_sql.json")) as f:
        oracles = json.load(f)
    jobs = [(work, data, n, q) for n, q in sorted(oracles.items())]
    pool = multiprocessing.get_context("fork").Pool(3)
    try:
        return pool.map(_check, jobs, chunksize=1)
    finally:
        pool.close()
        pool.join()
