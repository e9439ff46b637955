#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run compiles the program
(src/main/scala) and the benchmark (perfbench/src) with the Scala compiler that
ships in Spark's jars directory ($SPARK_HOME/jars, else pyspark's) into
.bench_build/; later runs reuse that build while the sources are unchanged. Inputs,
outputs and Spark's scratch files live in .bench_work/<run>/, which is removed at
exit; a traced run also leaves its spans in .bench_trace/.

The last line of stdout is one JSON record: correct, attempted, failed, metrics.
See perfbench/RESULTS.md for the workloads and metrics.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("hdfs_route", "style_sweep", "miner_catalogs", "stream_match")
FAULTS = ("route", "catalog", "stream")
TIME_LIMIT_S = 170
# Spark on JDK 17 outside spark-submit needs these (the same list as build.sbt)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def spark_jars():
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    try:
        import pyspark
        candidates.append(os.path.join(os.path.dirname(pyspark.__file__), "jars"))
    except ImportError:
        pass
    for c in candidates:
        if glob.glob(os.path.join(c, "spark-core_*.jar")) and glob.glob(os.path.join(c, "scala-compiler-*.jar")):
            return c
    fail("no Spark jars directory with a Scala compiler (set SPARK_HOME)")


def build(jars):
    """Compile program + benchmark once per source state; returns the classes dir."""
    prog = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))
    if not prog or not bench:
        fail("program or benchmark sources missing; run from the root of a graft checkout")
    h = hashlib.sha256()
    for f in prog + bench:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    base = os.path.join(ROOT, ".bench_build", "perfbench")
    classes = os.path.join(base, h.hexdigest()[:16])
    if os.path.isdir(classes):
        return classes
    for old in glob.glob(os.path.join(base, "*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = classes + ".tmp"
    os.makedirs(tmp)
    print(f"perfbench: compiling {len(prog)} program + {len(bench)} benchmark sources", file=sys.stderr)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", os.path.join(jars, "*")] + prog + bench
    if subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr).returncode != 0:
        fail("compile failed")
    os.rename(tmp, classes)
    return classes


def oracle_failures(inputs):
    """Compare each catalog of the first timed pass with its SparkEntry.oracleSql in
    DuckDB over the same events table (sorted columns, sorted rows, string compare —
    the comparison of tools/check_oracles.py). Returns the mismatching query names."""
    import duckdb
    cat_root = os.path.join(inputs, "catalogs")
    with open(os.path.join(inputs, "oracle_sql.json")) as fh:
        oracles = json.load(fh)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{inputs}/events.parquet/*.parquet')")
    bad = []
    for name, sql in sorted(oracles.items()):
        files = glob.glob(os.path.join(cat_root, name, "*.parquet"))
        try:
            exp = con.execute(sql).fetchdf()
            got = con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf()
        except Exception as e:  # a missing catalog or a broken oracle is a failed check
            print(f"perfbench: oracle {name}: {e}", file=sys.stderr)
            bad.append(name)
            continue
        exp = exp.reindex(sorted(exp.columns), axis=1)
        got = got.reindex(sorted(got.columns), axis=1)
        same = list(exp.columns) == list(got.columns) and len(exp) == len(got)
        if same:
            cols = list(exp.columns)
            exp = exp.sort_values(by=cols).reset_index(drop=True).astype(str)
            got = got.sort_values(by=cols).reset_index(drop=True).astype(str)
            same = exp.equals(got)
        if not same:
            print(f"perfbench: FAILED: miner_catalogs/{name}: catalog != DuckDB oracle", file=sys.stderr)
            bad.append(name)
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    # self-test only: tiny inputs, and one injected output fault
    ap.add_argument("--size", default="full", choices=("full", "tiny"), help=argparse.SUPPRESS)
    ap.add_argument("--fault", default="", choices=("",) + FAULTS, help=argparse.SUPPRESS)
    a = ap.parse_args()
    if a.seed < 0:
        fail("--seed must be >= 0")

    started = time.monotonic()
    jars = spark_jars()
    classes = build(jars)
    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    trace_dir = os.path.join(ROOT, ".bench_trace")
    os.makedirs(trace_dir, exist_ok=True)
    out = os.path.join(work, "record.json")
    cores = len(os.sched_getaffinity(0))
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", f"-XX:ParallelGCThreads={cores}",
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
            # a tenth of the default JIT thresholds: a run's passes reach their steady
            # time in about four passes instead of a dozen
            "-XX:CompileThresholdScaling=0.1",
            f"-Dlog4j2.configurationFile={HERE}/log4j2.properties"] + ADD_OPENS +
           ["-cp", classes + os.pathsep + os.path.join(jars, "*"), "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--out", out, "--size", a.size,
            "--trace-file", os.path.join(trace_dir, f"{a.workload}-seed{a.seed}.json")] +
           (["--fault", a.fault] if a.fault else []))
    try:
        # the JVM's stdout goes to stderr: this process's stdout carries only the record
        proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=ROOT)
        try:
            rc = proc.wait(timeout=max(10.0, TIME_LIMIT_S - (time.monotonic() - started)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("run exceeded its time limit")
        if rc != 0 or not os.path.exists(out):
            fail(f"benchmark JVM exited with {rc} and no record")
        with open(out) as fh:
            rec = json.load(fh)
        if a.workload == "miner_catalogs":
            bad = oracle_failures(rec["inputs"])
            rec["failed"] += len(bad)
            rec["correct"] = rec["correct"] and not bad
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(f"# graft perfbench workload={a.workload} seed={rec['seed']} seconds={a.seconds} "
          f"trace={a.trace} cores={cores} size={a.size}")
    print(json.dumps({k: rec[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
