#!/usr/bin/env python3
"""Self-test of the benchmark at tiny input sizes (about five minutes on 4 cores).

    python3 perfbench/selftest.py

From the root of a checkout. Checks that:
  - a clean run of every workload reports correct=true and failed=0, and prints
    exactly the metrics BENCHMARK.json lists (end-to-end untraced, per-layer traced);
  - each injected fault (one routed row dropped, one catalog row perturbed, two
    stream counts swapped) is reported as correct=false with failed >= 1;
  - in a directory holding only BENCHMARK.json and perfbench/, the benchmark exits
    non-zero without printing a record.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, trace=0, fault="", cwd=ROOT):
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--size", "tiny"]
    if fault:
        cmd += ["--fault", fault]
    r = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True)
    lines = r.stdout.strip().splitlines()
    rec = json.loads(lines[-1]) if r.returncode == 0 and lines else None
    return r, rec


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    wanted = {key: {m["name"]: m["unit"] for m in bench[key]} for key in ("end_to_end", "per_layer")}
    problems = []

    def expect(ok, what):
        print(("ok    " if ok else "FAIL  ") + what, flush=True)
        if not ok:
            problems.append(what)

    for w in [x["name"] for x in bench["workloads"]]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            r, rec = run(w, trace)
            expect(rec is not None and rec["correct"] and rec["failed"] == 0 and rec["attempted"] >= 1,
                   f"{w} trace={trace}: clean run is correct")
            got = {k: v["unit"] for k, v in rec["metrics"].items()} if rec else {}
            expect(got == wanted[key], f"{w} trace={trace}: prints exactly the {key} metrics")
    for w in ("stream_match", "miner_catalogs"):
        r, rec = run(w)
        expect(rec is not None and rec["correct"] and rec["failed"] == 0, f"{w}: clean run is correct")

    for w, fault in (("hdfs_route", "route"), ("miner_catalogs", "catalog"), ("stream_match", "stream")):
        r, rec = run(w, fault=fault)
        expect(rec is not None and not rec["correct"] and rec["failed"] >= 1,
               f"{w}: injected {fault} fault is reported as failed")

    bare = os.path.join(ROOT, ".bench_work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"))
    r, _ = run("hdfs_route", cwd=bare)
    expect(r.returncode != 0 and not r.stdout.strip(), "bare directory: non-zero exit, no record")
    shutil.rmtree(bare, ignore_errors=True)

    print(f"{len(problems)} problem(s)")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
