#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload serve|refresh --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. Builds the program and the harness
from source into .bench_build/ on first use (sbt, offline), then runs
one workload in one JVM and prints two lines: the full record (every
named figure, the run context, any failures) and, last, the result
object {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones.
Exits 1 when any answer check fails, 2 when the program or build is
missing.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
PROGRAM = os.path.join(ROOT, "src", "main", "scala", "graft")
JVM_TIMEOUT_S = 170
JVM_HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_JARS_DIR, else
    $SPARK_HOME/jars, else the jars/ beside the first spark-submit on
    PATH that has them."""
    cands = [os.environ.get("SPARK_JARS_DIR")]
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        if os.path.isfile(submit):
            cands.append(os.path.join(os.path.dirname(os.path.realpath(submit)), "..", "jars"))
    for d in cands:
        if d and glob.glob(os.path.join(d, "spark-sql_*.jar")):
            return os.path.realpath(d)
    die("no Spark jars found (set SPARK_JARS_DIR)")


def source_digest():
    h = hashlib.sha256()
    files = []
    for base in (PROGRAM, os.path.join(BENCH, "src", "main")):
        for dp, _, fs in os.walk(base):
            files += [os.path.join(dp, f) for f in fs]
    files += [os.path.join(BENCH, "build.sbt"),
              os.path.join(BENCH, "project", "build.properties")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(jars):
    """Compiles once per source state; returns the runtime classpath."""
    stamp = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    digest = source_digest()
    if os.path.exists(cp_file) and os.path.exists(stamp) \
            and open(stamp).read() == digest:
        return open(cp_file).read()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, SPARK_JARS_DIR=jars)
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=out, text=True)
    with open(log, "a") as out:
        out.write(p.stdout)
    cps = [l.strip() for l in p.stdout.splitlines()
           if "perfbench" in l and os.pathsep in l and not l.startswith("[")]
    if p.returncode != 0 or not cps:
        die(f"build failed, see {log}")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp, "w") as f:
        f.write(digest)
    return cps[-1]


def oracle_check(work):
    """Compares each curate output with its DuckDB oracle, the way
    tools/check_oracle.py does. Only serve's traced run writes curate
    outputs. An oracle that needs a table the benchmark corpus lacks is
    skipped as not standalone."""
    out = os.path.join(work, "curate_out")
    spec = os.path.join(out, "oracle_sql.json")
    if not os.path.exists(spec):
        return []
    import duckdb
    import pyarrow.parquet as pq
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check_oracle import norm_df, value_hash
    con = duckdb.connect()
    data = os.path.join(work, "data")
    for name in os.listdir(data):
        if name.endswith(".parquet"):
            con.execute(f"CREATE VIEW {name[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(data, name)}/*.parquet')")
    results = []
    for q, sql in sorted(json.load(open(spec)).items()):
        files = glob.glob(os.path.join(out, q, "*.parquet"))
        if not files:
            results.append((q, "fail", "no Spark output"))
            continue
        try:
            duck = con.execute(sql).df()
        except duckdb.CatalogException as e:
            results.append((q, "skip", str(e).splitlines()[0]))
            continue
        except Exception as e:  # a broken oracle or program answer
            results.append((q, "fail", str(e).splitlines()[0]))
            continue
        s = norm_df(pq.ParquetDataset(files).read().to_pandas())
        d = norm_df(duck)
        if list(s.columns) != list(d.columns) or len(s) != len(d) \
                or value_hash(s) != value_hash(d):
            results.append((q, "fail", f"{len(s)} Spark rows vs {len(d)} oracle rows or values differ"))
        else:
            results.append((q, "pass", f"{len(s)} rows"))
    return results


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["serve", "refresh"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()
    if not os.path.isdir(PROGRAM):
        die("run from the root of a checkout: program sources not found")
    cp = build(spark_jars())
    work = os.path.join(BUILD, "run", f"{a.workload}-{a.seed}-t{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}"] + \
        [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + \
        [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-cp", cp, "perfbench.Main",
         "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
         "--trace", a.trace, "--work", work, "--root", ROOT]
    with open(os.path.join(work, "jvm.log"), "w") as log:
        try:
            p = subprocess.run(cmd, stdout=log, stderr=log, timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            die(f"workload did not finish in {JVM_TIMEOUT_S} s", 1)
    res_file = os.path.join(work, "result.json")
    if not os.path.exists(res_file):
        sys.stderr.write(open(os.path.join(work, "jvm.log")).read()[-4000:])
        die(f"the JVM exited {p.returncode} without a result", 1)
    rec = json.load(open(res_file))
    oracle = oracle_check(work)
    rec["oracle"] = [{"query": q, "status": s, "note": n} for q, s, n in oracle]
    bad = sum(1 for _, s, _ in oracle if s == "fail")
    rec["attempted"] += sum(1 for _, s, _ in oracle if s != "skip")
    rec["failed"] += bad
    rec["correct"] = rec["correct"] and bad == 0 and p.returncode == 0
    print(json.dumps(rec, sort_keys=False))
    print(json.dumps({"correct": rec["correct"], "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": rec["metrics"]}))
    sys.exit(0 if rec["correct"] else 1)


if __name__ == "__main__":
    main()
