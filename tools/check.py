#!/usr/bin/env python3
"""Local replica of the driver's t2 correctness gate.

Runs graft.Verify (via java, classpath = compiled classes + spark jars),
then for every query compares the Spark parquet output against the
oracle SQL run in DuckDB over the same testdata parquet.

Comparator semantics REPLICATE THE DRIVER'S EXACTLY (verified r2: this
reproduces CORRECTNESS_r01's pass/fail on all 66 oracle queries):
pandas read_parquet (spark) vs duckdb .df() (oracle), columns sorted by
name, rows sort_values, astype(str), equality. That means a value
matches iff its STRING repr matches — Decimal('1.40') != float 1.4, and
int64 4089 != float64 4089.0. Output columns must therefore be cast to
types both read paths render identically: DOUBLE, BIGINT, VARCHAR,
BOOLEAN, DATE/TIMESTAMP. No decimals, no arrays (ndarray cells crash
sort_values) in final outputs.

Usage: python3 tools/check.py [sfdir] [--only=q1_agg,q2_...] [--skip-verify]
(--only runs Verify on the named queries alone and diffs just those)
"""
import duckdb, json, math, os, subprocess, sys, glob
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = sys.argv[1] if len(sys.argv) > 1 and not sys.argv[1].startswith("-") else "/root/testdata/sf0.01"
OUT = "/tmp/verify_out"
ONLY = None
for a in sys.argv:
    if a.startswith("--only"):
        ONLY = set(a.split("=", 1)[1].split(","))
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

ADD_OPENS = []
for p in ("java.base/java.lang java.base/java.lang.invoke java.base/java.lang.reflect "
          "java.base/java.io java.base/java.net java.base/java.nio java.base/java.util "
          "java.base/java.util.concurrent java.base/java.util.concurrent.atomic "
          "java.base/sun.nio.ch java.base/sun.nio.cs java.base/sun.security.action "
          "java.base/sun.util.calendar").split():
    ADD_OPENS += ["--add-opens", p + "=ALL-UNNAMED"]

def run_verify():
    # STALE-DUMP GUARD: Verify catches per-query exceptions and moves
    # on, so a query that fails to even construct would leave the
    # PREVIOUS run's parquet in OUT and silently "pass" the compare
    # (observed with an analysis error in r5). A fresh OUT per run makes
    # a construction failure surface as "no spark output" = FAIL —
    # matching the driver, which always uses a fresh dir.
    import shutil
    shutil.rmtree(OUT, ignore_errors=True)
    cp = f"{REPO}/target/scala-2.13/classes:" + ":".join(glob.glob("/opt/spark/jars/*.jar"))
    cmd = (["java"] + ADD_OPENS +
           ["-Xmx8g", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "graft.Verify", SF, OUT] +
           ([",".join(sorted(ONLY))] if ONLY else []))
    env = dict(os.environ, SPARK_GRAFT_CPUS="8")
    r = subprocess.run(cmd, capture_output=True, text=True, env=env)
    for line in r.stderr.splitlines():
        if "[verify]" in line or "Exception" in line:
            print("  !", line)
    if r.returncode != 0:
        print(r.stdout[-3000:]); print(r.stderr[-5000:])
        sys.exit(f"verify failed rc={r.returncode}")

def canon(df):
    """Driver-equivalent canonical form: cols sorted by name, rows
    sorted, every cell stringified."""
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(list(df.columns)).reset_index(drop=True)
    return df.astype(str)

def main():
    if "--skip-verify" not in sys.argv:
        run_verify()
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    oracle = json.load(open(f"{OUT}/oracle_sql.json"))
    npass = nfail = 0
    for name in sorted(oracle):
        if ONLY and name not in ONLY: continue
        pdir = f"{OUT}/{name}"
        if not os.path.isdir(pdir):
            print(f"FAIL {name}: no spark output"); nfail += 1; continue
        try:
            g = canon(pd.read_parquet(pdir))
            e = canon(con.sql(oracle[name]).df())
        except Exception as ex:
            print(f"FAIL {name}: {type(ex).__name__}: {str(ex)[:300]}"); nfail += 1; continue
        if list(g.columns) != list(e.columns):
            print(f"FAIL {name}: columns spark={list(g.columns)} oracle={list(e.columns)}")
            nfail += 1; continue
        if len(g) == len(e) and g.equals(e):
            print(f"PASS {name} ({len(g)} rows)"); npass += 1
        else:
            nfail += 1
            print(f"FAIL {name}: rows spark={len(g)} oracle={len(e)} cols={list(g.columns)}")
            gt = set(map(tuple, g.itertuples(index=False)))
            et = set(map(tuple, e.itertuples(index=False)))
            for r in list(gt - et)[:3]: print(f"   spark-only: {r}")
            for r in list(et - gt)[:3]: print(f"   oracle-only: {r}")
    print(f"\n{npass} pass / {nfail} fail")
    sys.exit(1 if nfail else 0)

main()
