#!/usr/bin/env python3
"""Steadiness check: runs each workload on several seeds, in one or more
sets, and reports each end-to-end metric's median and quartiles, the
quartile spread as a share of the median, and how it compares with the
metric's bound in BENCHMARK.json. Run from the root of a checkout:

  python3 perfbench/steady.py --seeds 10 --sets 2 [--workloads lake_read,...] [--out runs.json]

A spread must stay within the bound (aim: a third of it), and each later
set's median must not be worse than the first set's by more than the bound.
Exits 1 if any run fails or any of these does not hold.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(workload, seed, seconds, log):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload, "--seed",
                        str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    log.append({"workload": workload, "seed": seed, "exit": p.returncode, "lines": lines[-2:]})
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        return None
    return json.loads(lines[-1])


def main():
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--out", help="write every run's output lines here, as JSON")
    a = ap.parse_args()
    ok, log = True, []
    for w in a.workloads.split(","):
        medians = []
        for s in range(a.sets):
            seeds = range(a.first_seed + s * 1000, a.first_seed + s * 1000 + a.seeds)
            results = [run(w, seed, bench["run_seconds"], log) for seed in seeds]
            if any(r is None or not r["correct"] for r in results):
                print(f"{w} set {s}: a run failed or answered wrong")
                ok = False
                continue
            med = {}
            for m in bench["end_to_end"]:
                vals = [r["metrics"][m["name"]]["value"] for r in results]
                q1, q2, q3 = statistics.quantiles(vals, n=4)
                spread = (q3 - q1) / q2
                med[m["name"]] = q2
                flag = "" if m["name"] == "setup_s" or spread <= m["bound"] else "  SPREAD OVER BOUND"
                if flag:
                    ok = False
                print(f"{w} set {s} {m['name']:>18}: median {q2:.4g} {m['unit']}, "
                      f"q1 {q1:.4g}, q3 {q3:.4g}, spread {spread:.3f} "
                      f"(bound {m['bound']}, third {m['bound'] / 3:.3f}){flag}")
            medians.append(med)
        for s, med in enumerate(medians[1:], 1):
            for m in bench["end_to_end"]:
                a0, a1 = medians[0][m["name"]], med[m["name"]]
                worse = (a1 - a0) / a0 if m["better"] == "lower" else (a0 - a1) / a0
                flag = "" if worse <= m["bound"] else "  WORSE THAN BOUND"
                if flag:
                    ok = False
                print(f"{w} set {s} vs set 0 {m['name']:>18}: {worse:+.3f} (bound {m['bound']}){flag}")
    if a.out:
        with open(a.out, "w") as f:
            json.dump(log, f)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
