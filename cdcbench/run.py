#!/usr/bin/env python3
"""CDC-first benchmark of the graft engine.

Runs one workload in its own JVM, checks its outputs and prints, as the
last line of stdout, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 they are its per-layer metrics. The full result (config
and environment fingerprint, warm-up series, traced end-to-end numbers)
is kept in cdcbench/out/, spans of traced runs beside it.

Usage, from the repository root:

    python3 cdcbench/run.py --workload cdc_upsert --seed 1 --seconds 10 --trace 0

The first run builds the engine and the harness with sbt (cdcbench/
build.sbt); later runs reuse cdcbench/target/launch.txt. Exits non-zero
when a build, a run or an output check fails.
"""
import argparse
import contextlib
import io
import json
import os
import runpy
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
LAUNCH = os.path.join(BENCH, "target", "launch.txt")
WORKLOADS = ("cdc_upsert", "query_mix")
HEAP = "-Xmx3g"
JVM_TIMEOUT_S = 150
BUILD_TIMEOUT_S = 600
# scale factor of the query_mix tables
MIX_SF = "0.01"


def die(msg):
    print(f"cdcbench: {msg}", file=sys.stderr)
    sys.exit(2)


def build():
    if os.path.exists(LAUNCH):
        return
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"engine sources not found ({need} missing under {ROOT})")
    env = dict(os.environ)
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true")
    env.setdefault("COURSIER_MODE", "offline")
    try:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                           cwd=BENCH, env=env, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        die(f"build failed: {e}")
    if p.returncode != 0 or not os.path.exists(LAUNCH):
        sys.stderr.write(p.stdout.decode("utf-8", "replace")[-4000:])
        die("build failed")


def generate_tables(out):
    """The gate-query tables, from tools/gen_sf.py and its fixed seed:
    the query work must not vary with --seed, which orders the passes."""
    script = os.path.join(ROOT, "tools", "gen_sf.py")
    argv = sys.argv
    sys.argv = [script, MIX_SF, out]
    try:
        with contextlib.redirect_stdout(io.StringIO()):
            runpy.run_path(script, run_name="__main__")
    finally:
        sys.argv = argv


def oracle_failures(results, data):
    """Compare each query_mix answer with its DuckDB oracle, using the
    repository's own comparison (tools/compare.py)."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import compare
    with open(os.path.join(results, "oracle_sql.json")) as f:
        oracles = json.load(f)
    con = compare.connect(data)
    errors = []
    for name, sql in sorted(oracles.items()):
        ok, msg = compare.compare_one(con, name, compare.read_spark(
            os.path.join(results, name)), sql)
        if not ok:
            errors.append(f"{name} differs from its DuckDB oracle: {msg}")
    return len(oracles), errors


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    expected = expected_metrics(a.trace)
    build()
    with open(LAUNCH) as f:
        lines = [l for l in f.read().splitlines() if l]
    classpath, opts = lines[0], [o for o in lines[1:] if not o.startswith("-Xmx")]

    work = os.path.join(BENCH, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    outdir = os.path.join(BENCH, "out")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(outdir, exist_ok=True)
    result_path = os.path.join(outdir, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    try:
        extra = []
        data = os.path.join(work, "tables")
        if a.workload == "query_mix":
            gen = []
            for _ in range(3):
                t0 = time.perf_counter()
                shutil.rmtree(data, ignore_errors=True)
                generate_tables(data)
                gen.append(time.perf_counter() - t0)
            extra = ["--data", data, "--gen-seconds", ",".join(f"{g:.6f}" for g in gen)]
        cmd = (["java", HEAP, f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"] + opts +
               ["-cp", classpath, "graft.bench.Main", "--workload", a.workload,
                "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", work, "--out", result_path] + extra)
        log_path = os.path.join(work, "jvm.log")
        with open(log_path, "wb") as log:
            proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
            try:
                code = proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                code = None
        if code != 0 or not os.path.exists(result_path):
            with open(log_path, "rb") as log:
                sys.stderr.write(log.read().decode("utf-8", "replace")[-6000:])
            die(f"{a.workload} run {'timed out' if code is None else f'exited {code}'}")
        with open(result_path) as f:
            res = json.load(f)
        errors = list(res["errors"])
        attempted, failed = res["attempted"], res["failed"]
        if a.workload == "query_mix":
            n, bad = oracle_failures(os.path.join(work, "results"), data)
            attempted += n
            failed += len(bad)
            errors += bad
        got = res["layers" if a.trace else "metrics"]
        missing = [m for m in expected if m not in got]
        if missing:
            errors.append(f"metrics not measured: {', '.join(missing)}")
        res.update(attempted=attempted, failed=failed, errors=errors)
        with open(result_path, "w") as f:
            json.dump(res, f, indent=1, sort_keys=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for e in errors:
        print(f"cdcbench: {e}", file=sys.stderr)
    correct = failed == 0 and not errors
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {m: got[m] for m in expected if m in got}}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
