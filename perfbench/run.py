#!/usr/bin/env python3
"""The repo benchmark: one seeded workload, one JVM, one result line.

    python3 perfbench/run.py --workload <hicsa_etl|corpus_prep>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  Builds the program and the benchmark's
Scala sources with the Scala compiler shipped in the Spark jars (cached
under perfbench/.build by source hash), generates the workload's inputs
from the seed, runs `perfbench.Main` in one JVM, checks the outputs
(DuckDB oracles for the named queries; the JVM checks the HiCsa golden
table), and prints the metrics as the last line of
standard output.  `--trace 0` prints the end-to-end metrics, `--trace 1`
the per-layer metrics of a traced run.  See perfbench/DESIGN.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import pandas as pd

T0 = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

REPO = os.path.dirname(HERE)
JAVA_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
              "java.net", "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar"]
JVM_HEAP = "2g"  # fixed size (-Xms = -Xmx) so heap growth does not vary between runs
BUILD_TIMEOUT = 800
RUN_TIMEOUT = 160


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    """The Spark distribution's jars (they include the Scala compiler):
    under $SPARK_HOME, else next to the `spark-submit` on the PATH, else
    in the pyspark package."""
    homes = [os.environ.get("SPARK_HOME")]
    submit = shutil.which("spark-submit")
    if submit:
        homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    try:
        import pyspark
        homes.append(os.path.dirname(pyspark.__file__))
    except ImportError:
        pass
    for home in filter(None, homes):
        jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
        if jars:
            return jars
    sys.exit("no Spark jars found: set SPARK_HOME")


def sources():
    main = os.path.join(REPO, "src", "main", "scala")
    if not os.path.isdir(main):
        sys.exit(f"program sources not found at {main}")
    found = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True) +
                   glob.glob(os.path.join(HERE, "scala", "*.scala")))
    return found


def build(jars):
    """Compile the program and the benchmark once per source hash."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, REPO).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(HERE, ".build", h.hexdigest()[:16])
    classes = os.path.join(out, "classes")
    if os.path.isdir(classes):
        return classes
    tmp = classes + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(out, f"sources{os.getpid()}.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.pathsep.join(jars)
    t = time.time()
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile],
                       capture_output=True, text=True, timeout=BUILD_TIMEOUT)
    os.remove(argfile)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        sys.exit("build failed")
    os.rename(tmp, classes)
    log(f"built {len(srcs)} sources in {time.time() - t:.1f}s")
    return classes


def run(classes, jars, workload, data, work, seconds, trace):
    """Run the JVM; once it marks its timed passes done, run the
    out-of-process oracle checks alongside its remaining untimed work.
    Returns the JVM's records with the oracle checks appended."""
    out = os.path.join(work, "result.json")
    done = os.path.join(work, "timed.done")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in JAVA_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd = (["java"] + opens +
           [f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            f"-Dderby.system.home={work}",
            f"-Dspark.hadoop.hadoop.tmp.dir={os.path.join(work, 'hadoop')}",
            "-cp", os.pathsep.join([classes] + jars), "perfbench.Main",
            workload, data, work, REPO, str(seconds), str(trace), out])
    deadline = time.time() + RUN_TIMEOUT
    checks = []
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=work, stdout=logf, stderr=subprocess.STDOUT)
        try:
            while proc.poll() is None and not os.path.exists(done):
                if time.time() > deadline:
                    raise subprocess.TimeoutExpired(cmd[0], RUN_TIMEOUT)
                time.sleep(0.2)
            log(f"timed passes done at {time.time() - T0:.1f}s")
            if os.path.exists(done):
                t = time.time()
                checks = oracle.check_all(work, data)
                log(f"oracle checks: {time.time() - t:.2f}s")
            proc.wait(timeout=max(1.0, deadline - time.time()))
            log(f"JVM exited at {time.time() - T0:.1f}s")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if proc.returncode != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        sys.exit(f"benchmark JVM failed (exit {proc.returncode})")
    with open(os.path.join(work, "jvm.log")) as f:
        sys.stderr.writelines(l for l in f if l.startswith("[perfbench]"))
    with open(out) as f:
        res = json.load(f)
    res["checks"] += checks
    return res


def lsh_facts(work, data):
    """`dedup.cand_per_dup` from the checked output of `d_minhash_lsh`,
    for a workload that runs it."""
    out = os.path.join(work, "out", "d_minhash_lsh")
    if not os.path.isdir(out):
        return {}
    pairs = pd.read_parquet(out, columns=["a_id", "b_id"])
    docs = pd.read_parquet(os.path.join(data, "documents.parquet"), columns=["doc_id", "text"])
    return {"dedup.cand_per_dup": stats.cand_per_dup(
        list(zip(pairs.a_id, pairs.b_id)), dict(zip(docs.doc_id, docs.text)))}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("terminated"))

    jars = spark_jars()
    classes = build(jars)
    work = os.path.join(HERE, ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    try:
        t = time.time()
        sizes = gen.generate(a.workload, a.seed, data)
        inputs = {"seed": a.seed, "sha256": gen.digest(data), "rows_bytes": sizes,
                  "gen_s": round(time.time() - t, 3)}
        log(f"inputs ready at {time.time() - T0:.1f}s")
        res = run(classes, jars, a.workload, data, work, a.seconds, a.trace)
        res["facts"].update(lsh_facts(work, data))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted, failed = stats.count_failures(res["ops"], res["checks"])
    for c in res["checks"]:
        if not c["ok"]:
            log(f"check failed: {c['name']}: {c['detail']}")
    print(f"config: {json.dumps(res['config'])}")
    print(f"inputs: {json.dumps(inputs)}")
    print(f"passes: {json.dumps(res['passes'])}")
    print(f"calls_p50_s: {json.dumps(stats.call_medians(res))}")
    if a.trace:
        metrics = stats.per_layer(res)
    else:
        metrics = stats.end_to_end(res, sum(r for r, _ in sizes.values()))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
