#!/usr/bin/env python3
"""The benchmark's own test, at tiny scale. Run from the root of a checkout:

  python3 perfbench/selftest.py

For every workload it checks that an untraced and a traced run succeed,
answer correctly and print every metric BENCHMARK.json names (lake_read,
which BENCHMARK.json does not list, must print the same names), that a planted
wrong expected answer makes the run fail, and that the benchmark refuses to
run from a directory holding only BENCHMARK.json and its own files.
"""
import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TINY = {"lake_read": "0.005", "lake_write": "0.005", "curate_batch": "0.05"}


def run(cwd, workload, trace=0, plant=0):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
                        "--seconds", "2", "--trace", str(trace), "--scale", TINY[workload],
                        "--plant-wrong", str(plant)],
                       cwd=cwd, capture_output=True, text=True, timeout=900)
    last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
    try:
        return p.returncode, json.loads(last)
    except ValueError:
        return p.returncode, None


def main():
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    want = {0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
            1: {m["name"]: m["unit"] for m in bench["per_layer"]}}
    failures = []
    for w in TINY:
        for trace in (0, 1):
            rc, out = run(ROOT, w, trace)
            if rc != 0 or not out or not out["correct"] or out["failed"]:
                failures.append(f"{w} trace={trace}: exit {rc}, result {out}")
                continue
            got = {n: m["unit"] for n, m in out["metrics"].items()}
            if got != want[trace]:
                failures.append(f"{w} trace={trace}: metrics differ from BENCHMARK.json: "
                                f"missing {sorted(set(want[trace]) - set(got))}, "
                                f"extra {sorted(set(got) - set(want[trace]))}")
            print(f"ok   {w} trace={trace}: {len(got)} metrics, {out['attempted']} operations")
        rc, out = run(ROOT, w, plant=1)
        if rc == 0 or (out and out["correct"]):
            failures.append(f"{w}: a planted wrong answer was not caught (exit {rc})")
        else:
            print(f"ok   {w}: planted wrong answer fails the run")
    # a directory holding only BENCHMARK.json and the benchmark's files
    bare = os.path.join(ROOT, ".bench_build", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for p in bench["paths"]:
        # the committed files only: no build outputs
        shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p), ignore=lambda d, names: [
            n for n in names if n == "target" or (n == "project" and os.path.basename(d) == "project")])
    rc, out = run(bare, "lake_write")
    shutil.rmtree(bare)
    if rc == 0 or out is not None:
        failures.append(f"bare directory: exit {rc}, result {out}")
    else:
        print(f"ok   bare directory: exit {rc}, no result")
    for f in failures:
        print(f"FAIL {f}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
