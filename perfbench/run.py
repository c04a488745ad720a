#!/usr/bin/env python3
"""graft benchmark runner.

Usage (from the repository root):

    python3 perfbench/run.py --workload <cdc_upsert|medallion|query_pack> \
        --seed <n> --seconds <s> --trace <0|1>

Builds graft plus the harness from source on first use (sbt, offline, into
.bench_build/), runs one workload in one JVM at local[4], checks its
outputs, and prints one JSON line as the last line of standard output:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end metrics of BENCHMARK.json, with --trace 1 the per-layer
ones. The full run document (per-query times, per-commit history rows,
spans, environment) is kept under .bench_build/results/.
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

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
HEAP = "3g"
JVM_TIMEOUT_S = 165
# BENCHMARK.json lists the workloads the benchmark gates on; medallion
# runs by hand only (see perfbench/README.md for why).
WORKLOADS = ("cdc_upsert", "query_pack", "medallion")
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def die(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    files = []
    for d in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for dirpath, _, names in os.walk(d):
            files += [os.path.join(dirpath, n) for n in names]
    files += [os.path.join(BENCH, "build.sbt"),
              os.path.join(BENCH, "project", "build.properties")]
    return sorted(files)


def source_digest():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(digest):
    """Compile once per source state; later runs reuse the classpath."""
    stamp = os.path.join(BUILD, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            st = json.load(fh)
        if st.get("digest") == digest:
            return st["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.forcestart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=fh, stderr=subprocess.STDOUT)
    with open(log) as fh:
        lines = [l.strip() for l in fh if l.strip()]
    cp = [l for l in lines if "sbt-target" in l and ":" in l and " " not in l]
    if p.returncode != 0 or not cp:
        die(f"build failed (exit {p.returncode}); see {log}")
    with open(stamp, "w") as fh:
        json.dump({"digest": digest, "classpath": cp[-1]}, fh)
    return cp[-1]


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(cp, args, work, out):
    """Run the benchmark JVM; return (exit status, peak RSS in MB)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_")}
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}"] +
           [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           ["-cp", cp, "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--out", out])
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log,
                                stderr=subprocess.STDOUT)
        deadline = time.time() + JVM_TIMEOUT_S
        while True:
            pid, status, usage = os.wait4(proc.pid, os.WNOHANG)
            if pid:
                break
            if time.time() > deadline:
                proc.send_signal(signal.SIGKILL)
                pid, status, usage = os.wait4(proc.pid, 0)
                die(f"JVM ran past {JVM_TIMEOUT_S} s and was killed")
            time.sleep(0.05)
    code = os.waitstatus_to_exitcode(status)
    return code, usage.ru_maxrss / 1024.0


def oracle_rows(doc):
    """Expected row count of each query, from its DuckDB oracle SQL over
    the same generated tables."""
    import duckdb
    data = doc["detail"]["data_dir"]
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in glob.glob(os.path.join(data, "*.parquet")):
        name = os.path.basename(t)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                    f"read_parquet('{t}/*.parquet')")
    want = {}
    for q, sql in doc["detail"]["oracle_sql"].items():
        body = sql.strip().rstrip(";")
        want[q] = con.execute(f"SELECT count(*) FROM ({body})").fetchone()[0]
    return want


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        die("BENCHMARK.json not found; run from the repository root")
    with open(spec_path) as fh:
        spec = json.load(fh)
    if args.workload not in WORKLOADS:
        die(f"unknown workload {args.workload}")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("graft sources (src/main/scala/graft) not found; nothing to build")

    digest = source_digest()
    cp = build(digest)
    work = os.path.join(BUILD, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    try:
        code, rss_mb = run_jvm(cp, args, work, out)
        if code != 0 or not os.path.exists(out):
            with open(os.path.join(work, "jvm.log")) as fh:
                sys.stderr.write(fh.read()[-4000:])
            die(f"benchmark JVM exited with status {code}")
        with open(out) as fh:
            doc = json.load(fh)
        checks = list(doc["checks"])
        if args.workload == "query_pack":
            got = doc["detail"]["rows"]
            for q, n in oracle_rows(doc).items():
                if got.get(q) != n:
                    checks.append(f"{q}: {got.get(q)} rows, oracle {n}")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e = dict(doc["e2e"], setup_s=doc["setup_s"])
    layers = dict(doc["layers"], **{"jvm.peak_rss_mb": rss_mb})
    metrics = {}
    for m in spec["per_layer"] if args.trace else spec["end_to_end"]:
        v = (layers if args.trace else e2e).get(m["name"])
        if v is None or v != v:  # the layer does no work in this workload
            v = 0.0
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    result = {"correct": not checks and doc["failed"] == 0,
              "attempted": doc["attempted"], "failed": doc["failed"],
              "metrics": metrics}

    doc.update(checks=checks, peak_rss_mb=rss_mb, result=result,
               env=dict(doc["env"], git_commit=git_commit(),
                        source_digest=digest, seed=args.seed))
    res_dir = os.path.join(BUILD, "results", args.workload)
    os.makedirs(res_dir, exist_ok=True)
    name = f"seed{args.seed}-trace{args.trace}-{time.strftime('%Y%m%dT%H%M%S')}.json"
    with open(os.path.join(res_dir, name), "w") as fh:
        json.dump(doc, fh)
    for c in checks:
        print(f"[perfbench] check failed: {c}", file=sys.stderr)
    for f in doc["failures"]:
        print(f"[perfbench] failed op {f['op']}: {f['error']}", file=sys.stderr)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
