#!/usr/bin/env python3
"""Lakehouse benchmark runner.

    python3 lhbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the engine and the benchmark from
source on first use (sbt, offline), runs one workload in one JVM at
local[nproc], checks its outputs (DuckDB oracles for batch_queries), and
prints one JSON line as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 they are its per-layer metrics (layers a workload does not
use read 0), and <work>/trace.json holds every span, the stall dumps and
the tracing overhead against the last untraced run of the workload.
Exits non-zero on any build failure, output mismatch or failed call.
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
WORK = os.path.join(HERE, "work")
LAUNCH = os.path.join(HERE, "target", "launch.txt")
STAMP = os.path.join(HERE, "target", "source.stamp")
WORKLOADS = ("tfl_poll_cycle", "batch_queries", "dedup_stream")
JVM_TIMEOUT_S = 150
HEAP = "-Xmx3g"


def log(msg):
    print(f"[lhbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Digest of every file the build reads: engine and benchmark sources
    and both build definitions."""
    h = hashlib.sha256()
    files = []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        files += glob.glob(os.path.join(base, "**", "*.*"), recursive=True)
    files += [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    files += glob.glob(os.path.join(ROOT, "project", "*.*"))
    files += glob.glob(os.path.join(HERE, "project", "*.*"))
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    stamp = source_stamp()
    if os.path.exists(LAUNCH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == stamp:
                return
    log("building engine and benchmark (sbt, offline)")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeLaunch"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL, timeout=850)
    if r.returncode != 0 or not os.path.exists(LAUNCH):
        log("build failed")
        sys.exit(3)
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")


def run_jvm(args, work, out):
    with open(LAUNCH) as fh:
        lines = fh.read().splitlines()
    classpath, jvm_opts = lines[0], [o for o in lines[1:] if not o.startswith("-Xmx")]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + jvm_opts + [HEAP, f"-Djava.io.tmpdir={tmp}", "-cp", classpath, "lhbench.Main",
            "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", work, "--out", out])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    p = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr, stderr=sys.stderr,
                         stdin=subprocess.DEVNULL)
    try:
        return p.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        log(f"JVM exceeded {JVM_TIMEOUT_S} s; killing it")
        p.kill()
        p.wait()
        return -1


def _normalize(df):
    import pandas as pd
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            s = pd.to_datetime(df[c])
            if getattr(s.dt, "tz", None) is not None:
                s = s.dt.tz_convert("UTC").dt.tz_localize(None)
            df[c] = s.astype("datetime64[us]")
    return df.sort_values(by=list(df.columns), ignore_index=True)


def oracle_check(tables, outputs):
    """Each query's parquet output against its oracle SQL run in DuckDB on
    the same inputs: column names, row count and exact values. Returns
    (attempted, failed)."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in ("documents", "embeddings", "events"):
        con.execute(f"create view {t} as select * from read_parquet('{tables}/{t}.parquet/*.parquet')")
    with open(os.path.join(outputs, "oracle_sql.json")) as fh:
        sql = json.load(fh)
    attempted = failed = 0
    for name in sorted(sql):
        attempted += 1
        files = sorted(glob.glob(os.path.join(outputs, name, "*.parquet")))
        try:
            got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
            exp = con.execute(sql[name]).df()
            g, e = _normalize(got), _normalize(exp)
            if list(g.columns) != list(e.columns) or len(g) != len(e):
                raise AssertionError(f"shape spark={list(g.columns)}x{len(g)} duck={list(e.columns)}x{len(e)}")
            pd.testing.assert_frame_equal(g, e, check_dtype=False, check_exact=True)
        except Exception as ex:  # any mismatch or error is a failed check
            failed += 1
            log(f"oracle {name}: FAILED {str(ex)[:300]}")
    return attempted, failed


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))
            and os.path.isfile(os.path.join(ROOT, "build.sbt"))):
        log("engine sources not found beside the benchmark; run from a full checkout")
        sys.exit(2)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    build()
    work = os.path.join(WORK, f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    try:
        rc = run_jvm(args, work, out)
        if rc != 0 or not os.path.exists(out):
            log(f"benchmark JVM failed (exit {rc})")
            sys.exit(4)
        with open(out) as fh:
            res = json.load(fh)
        attempted, failed = res["attempted"], res["failed"]
        for p in res["pending"]:
            t0 = time.time()
            a, f = oracle_check(p["tables"], p["outputs"])
            log(f"oracle checks: {a - f}/{a} passed in {time.time() - t0:.1f} s")
            attempted += a
            failed += f
    finally:
        # keep the result and trace; drop the bulky inputs and outputs
        for d in glob.glob(os.path.join(work, "rep*")) + [os.path.join(work, x) for x in
                                                          ("spark-local", "warehouse", "tmp")]:
            shutil.rmtree(d, ignore_errors=True)
    correct = failed == 0 and not res["aborted"]

    declared = spec["per_layer"] if args.trace else spec["end_to_end"]
    got = res["metrics"]
    metrics = {}
    if not res["aborted"]:
        for m in declared:
            v = got.get(m["name"])
            if v is None and args.trace:
                v = 0  # a layer this workload never calls
            if v is None:
                log(f"metric {m['name']} was not measured")
                correct = False
                continue
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        extra = sorted(set(got) - {m["name"] for m in declared})
        if extra:
            log(f"measured but not declared: {extra}")

    last_untraced = os.path.join(WORK, f"last-e2e-{args.workload}.json")
    if args.trace == 0 and correct:
        with open(last_untraced, "w") as fh:
            json.dump(metrics, fh)
    if args.trace == 1 and os.path.exists(last_untraced):
        with open(last_untraced) as fh:
            base = json.load(fh)["latency_p50_s"]["value"]
        traced = got.get("trace.latency_p50_s")
        if traced:
            overhead = traced / base - 1
            log(f"tracing overhead on {args.workload}: latency_p50_s {base:.4f} -> {traced:.4f} s ({overhead:+.1%})")
            tp = os.path.join(work, "trace.json")
            with open(tp) as fh:
                trace = json.load(fh)
            trace["tracing_overhead"] = {"untraced_latency_p50_s": base, "traced_latency_p50_s": traced,
                                         "overhead_frac": overhead}
            with open(tp, "w") as fh:
                json.dump(trace, fh)

    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
