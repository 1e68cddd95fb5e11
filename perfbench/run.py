#!/usr/bin/env python3
"""Benchmark entry point. Run from the root of a checkout:

  python3 perfbench/run.py --workload lake_read --seed 1 --seconds 15 --trace 0

It builds the engine and the benchmark program from the checkout's sources
(once per source state), generates the seeded inputs (once per seed and
scale), runs one closed-loop measurement in a fresh JVM, re-derives the
answers it must check with DuckDB, and prints one JSON object as the last
line of stdout. Everything it writes stays under `.bench_build/`.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("lake_read", "lake_write", "curate_batch")
# row counts relative to sf1 (lake_read: 6M lineitem rows at 1.0)
DEFAULT_SCALE = {"lake_read": 0.05, "lake_write": 0.05, "curate_batch": 0.2}
SBT_OPTS = ("-Dsbt.override.build.repos=true -Dsbt.repository.config={home}/.sbt/repositories "
            "-Dsbt.offline=true -Xmx2g")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def host_facts():
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    # driver memory: MemTotal/2 in GiB, clamped to [2, 8], as the test runs size it
    gib = min(8, max(2, mem_kb // 2097152))
    return {"nproc": len(os.sched_getaffinity(0)), "mem_total_kb": mem_kb, "driver_mem": f"{gib}g"}


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles the engine and the benchmark program with sbt; returns the
    runtime classpath."""
    stamp, cp_file = source_stamp(), os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS=SBT_OPTS.format(home=os.path.expanduser("~")))
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as lf:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=lf,
                           stdin=subprocess.DEVNULL, text=True, timeout=840)
        lf.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l.strip() and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        die(f"build failed, see {log}")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


def generate(workload, seed, scale):
    out = os.path.join(BUILD, "data", f"{workload}-s{seed}-x{scale}")
    p = subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), "--workload", workload,
                        "--seed", str(seed), "--scale", str(scale), "--out", out],
                       stdout=subprocess.PIPE, text=True, timeout=600)
    if p.returncode != 0:
        die("input generation failed")
    return out, json.loads(p.stdout.strip().splitlines()[-1])["bench.gen_s"]


def close(a, b):
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        if isinstance(a, bool) or isinstance(b, bool):
            return a == b
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=0.0101)
    return a == b


def same_rows(got, want):
    return len(got) == len(want) and all(
        len(g) == len(w) and all(close(x, y) for x, y in zip(g, w)) for g, w in zip(got, want))


def norm(v):
    if hasattr(v, "isoformat"):
        return v.isoformat(sep=" ") if hasattr(v, "hour") else v.isoformat()
    if type(v).__name__ == "Decimal":
        return float(v)
    return v


def python_checks(pc, failures):
    """Re-derives every recorded answer with DuckDB over the generated files."""
    if not pc:
        return
    import duckdb
    con = duckdb.connect()
    if pc["kind"] == "oracle_rows":
        for i, q in enumerate(pc["queries"]):
            want = [[norm(v) for v in r] for r in con.sql(q["oracle"]).fetchall()]
            if pc.get("plant") and i == 0:
                want = want + [["planted wrong answer"]]
            if not same_rows(q["rows"], want):
                failures.append(f"{q['kind']}({q['arg']}): got {q['rows'][:3]}, DuckDB says {want[:3]}")
    elif pc["kind"] == "curate":
        check_curate(con, pc, failures)


def check_curate(con, pc, failures):
    """The registry's own oracle SQL over the verified batch, compared the
    way tools/selfcheck.py compares (columns by name, rows sorted), and the
    curated table's running count against the distinct texts per batch."""
    d = pc["verify_batch"]
    for t in ("documents", "embeddings"):
        con.sql(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet'")
    for i, (q, sql) in enumerate(sorted(pc["oracles"].items())):
        # sm20's oracle ranks its shortlist by a float SUM whose order DuckDB
        # does not fix: candidates with equal PQ codes, exact ties in the
        # engine (broken by nid), then differ by rounding noise. Rounded to
        # 9 decimals, far above that noise and far below real distance gaps,
        # the ties break by nid in both.
        sql = sql.replace("SUM(l.dd) AS adist", "ROUND(SUM(l.dd), 9) AS adist")
        ours = con.sql(f"SELECT * FROM '{pc['outputs'][q]}/*.parquet'").df()
        theirs = con.sql(sql).df()
        if pc.get("plant") and i == 0:
            theirs = theirs.iloc[1:]
        ours = ours.reindex(sorted(ours.columns), axis=1)
        theirs = theirs.reindex(sorted(theirs.columns), axis=1)
        if list(ours.columns) != list(theirs.columns) or len(ours) != len(theirs):
            failures.append(f"{q}: shape {ours.shape} {list(ours.columns)}, oracle {theirs.shape}")
            continue
        o = ours.sort_values(by=list(ours.columns)).reset_index(drop=True)
        t = theirs.sort_values(by=list(theirs.columns)).reset_index(drop=True)
        if not o.equals(t):
            failures.append(f"{q}: values differ from the oracle")
    total = 0
    for rec in pc["curated_counts"]:
        total += con.sql(
            f"SELECT count(DISTINCT text) FROM '{rec['dir']}/documents.parquet'").fetchone()[0]
        if rec["count"] != total:
            failures.append(f"curated table holds {rec['count']} rows after {rec['dir']}, expected {total}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=None)
    ap.add_argument("--plant-wrong", type=int, choices=(0, 1), default=0,
                    help="plant one wrong expected answer (the benchmark's self-test)")
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        die(f"no engine sources next to {HERE}: run from a checkout of the repository")
    t0 = time.time()
    host = host_facts()
    cp = build()
    scale = a.scale if a.scale is not None else DEFAULT_SCALE[a.workload]
    data, gen_s = generate(a.workload, a.seed, scale)

    work = os.path.join(BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    report_path = os.path.join(work, "report.json")
    cmd = (["java", f"-Xmx{host['driver_mem']}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
              f"-Dderby.system.home={work}/derby", f"-Djava.io.tmpdir={work}/tmp",
              "-cp", cp, "perfbench.Bench",
              "--workload", a.workload, "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--data", data, "--work", work, "--out", report_path,
              "--cpus", str(host["nproc"]), "--plant-wrong", str(a.plant_wrong)])
    os.makedirs(f"{work}/tmp")
    log_path = os.path.join(BUILD, "logs", f"{a.workload}-s{a.seed}-t{a.trace}.log")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    t_jvm0 = time.time()
    with open(log_path, "w") as log:
        p = subprocess.run(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=a.seconds + 150)
    if p.returncode != 0 or not os.path.exists(report_path):
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        die(f"benchmark JVM exited with {p.returncode}; log: {log_path}")
    t_jvm = time.time()
    rep = json.load(open(report_path))

    failures = list(rep["check_failures"])
    python_checks(rep.get("python_checks"), failures)
    for f in failures:
        print(f"CHECK FAILED: {f}", file=sys.stderr)

    metrics = {}
    for name, m in rep["metrics"].items():
        v = m["value"]
        if v is None or (isinstance(v, float) and not math.isfinite(v)):
            failures.append(f"metric {name} is not a finite number ({v})")
            v = -1.0
        metrics[name] = {"value": v, "unit": m["unit"]}
    info = {"host": dict(rep["host"], seed=a.seed, scale=scale, driver_mem=host["driver_mem"],
                         git_head=git_head()),
            "bench.gen_s": gen_s, "samples": rep["samples"], "loop_s": rep["loop_s"],
            "setup_reps_s": rep["setup_reps_s"], "warm_up_s": rep["warm_up_s"], "finish_s": rep["finish_s"],
            "session_s": rep["session_s"], "kinds": rep["kinds"],
            "wall_s": {"to_jvm": round(t_jvm0 - t0, 2), "jvm": round(t_jvm - t_jvm0, 2),
                       "checks": round(time.time() - t_jvm, 2)}}
    print(json.dumps(info))
    print(json.dumps({"correct": not failures, "attempted": rep["attempted"],
                      "failed": rep["failed"], "metrics": metrics}))
    return 0 if not failures else 1


def git_head():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except Exception:
        return "unknown"


if __name__ == "__main__":
    sys.exit(main())
