#!/usr/bin/env python3
"""Benchmark runner for the graft engine.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 12 --trace 0

Builds the engine and the benchmark from source (once per source state),
runs one workload in a fresh JVM for `--seconds` of timed work, checks its
outputs, and prints one JSON object as the last line of stdout:
end-to-end metrics with `--trace 0`, per-layer metrics with `--trace 1`.
`--overhead` runs the workload untraced and traced and prints, for each
end-to-end metric, traced minus untraced. Exit code 0 means every check
passed; 1 means a check failed; 2 means the benchmark could not run.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
LAUNCHER = os.path.join(TARGET, "launcher.txt")
STAMP = os.path.join(TARGET, "launcher.stamp")
WORKLOADS = ("ingest", "table_churn", "query_scan")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events")
HEAP = "3g"
# HotSpot compiles hot methods after a fifth of its default invocation and
# loop counts, so the timed operations run compiled code instead of timing
# how far the JIT has got; without it, passes were still speeding up after
# four of them, at a rate that changed from run to run.
JIT = "-XX:CompileThresholdScaling=0.2"
DEADLINE_S = 175


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src", "main"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts = ["-Dsbt.override.build.repos=true",
                    f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    stamp = source_stamp()
    if os.path.isfile(LAUNCHER) and os.path.isfile(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == stamp:
                return
    log("building the engine and the benchmark")
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "launcher"],
                       cwd=HERE, env=sbt_env(), stdout=sys.stderr, stderr=sys.stderr,
                       timeout=850)
    if r.returncode != 0 or not os.path.isfile(LAUNCHER):
        log("build failed")
        sys.exit(2)
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    log(f"built in {time.time() - t0:.0f} s")


def run_jvm(args, trace, tmp, deadline):
    with open(LAUNCHER) as fh:
        opts, cp = fh.read().split("\n")[:2]
    cmd = (["java"] + [o for o in opts.split("\t") if o]
           + [f"-Xmx{HEAP}", JIT, "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
              f"-Dderby.system.home={tmp}",
              "-cp", cp, "perfbench.Main", "--workload", args.workload,
              "--seed", str(args.seed), "--seconds", str(args.seconds),
              "--trace", str(trace), "--tmp", tmp])
    proc = subprocess.Popen(cmd, cwd=tmp, stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    try:
        out, _ = proc.communicate(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        log("the run did not finish in time")
        sys.exit(2)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        log(f"the JVM exited with code {proc.returncode}")
        sys.exit(2)
    return json.loads(lines[-1])


def check_oracles(tmp):
    """Compares every query result the JVM wrote with its DuckDB oracle,
    row by row over the sorted column set. Returns the failures."""
    import duckdb
    results = os.path.join(tmp, "results")
    with open(os.path.join(results, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET memory_limit = '1GB'")
    con.execute(f"SET temp_directory = '{os.path.join(tmp, 'duckdb')}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(tmp, 'corpus', t + '.parquet')}/*.parquet'")
    failed = 0
    for name in sorted(oracle):
        exp = con.execute(oracle[name]).fetchdf()
        exp = exp.reindex(sorted(exp.columns), axis=1)
        qdir = os.path.join(results, name)
        for run in sorted(os.listdir(qdir)) if os.path.isdir(qdir) else []:
            got = con.execute(f"SELECT * FROM '{os.path.join(qdir, run)}/*.parquet'").fetchdf()
            got = got.reindex(sorted(got.columns), axis=1)
            ok = (list(got.columns) == list(exp.columns) and len(got) == len(exp)
                  and not (got.astype(str).values != exp.astype(str).values).any())
            if not ok:
                log(f"{name} ({run}) does not match its oracle")
                failed += 1
    return failed


def run_once(args, trace):
    deadline = time.time() + DEADLINE_S
    tmp = os.path.join(TARGET, f"run-{os.getpid()}-{trace}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        result = run_jvm(args, trace, tmp, deadline)
        if args.workload == "query_scan":
            result["failed"] += check_oracles(tmp)
        result["correct"] = bool(result["correct"]) and result["failed"] == 0
        return result
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--overhead", action="store_true",
                   help="run untraced and traced; print traced minus untraced")
    args = p.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        log(f"no engine sources next to the benchmark (looked in {ROOT})")
        sys.exit(2)
    build()
    if args.overhead:
        plain = run_once(args, 0)
        traced = run_once(args, 1)
        for k, v in plain["metrics"].items():
            t = traced["metrics"][f"traced.{k}"]["value"]
            print(f"{args.workload} {k}: untraced {v['value']:.4g} traced {t:.4g} "
                  f"overhead {t - v['value']:+.4g} {v['unit']}")
        sys.exit(0 if plain["correct"] and traced["correct"] else 1)
    result = run_once(args, args.trace)
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
