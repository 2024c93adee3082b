#!/usr/bin/env python3
"""Hunting-session benchmark of the firepit storage engine.

Run from the root of a checkout:

    python3 huntbench/run.py --workload session --seed 1 --seconds 10 --trace 0

The first run builds the engine and the benchmark's own code from source with sbt
(outputs under huntbench/target and .bench_build). Each run starts one JVM,
runs one workload (see README.md), checks every answer, writes its record to
.bench_build/records/ as soon as it ends, and prints as its last stdout line
one JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end_to_end metrics of BENCHMARK.json, with
--trace 1 its per_layer metrics.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
LIMIT_S = 175  # one run, including its build if the build is cached
BUILD_LIMIT_S = 840
HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
HAND_RUN = ("hunt", "ingest")  # complete workloads the gate leaves out for time
UNITS = {  # per-workload figures printed on the line before the result
    "step_p50_s": "s", "read_p50_s": "s", "read_cpu_s": "s", "setup_wall_s": "s",
    "ingest_obs_per_s": "1/s", "cache_append_p50_s": "s", "cache_merge_p50_s": "s",
    "finish_s": "s", "store_bytes_per_input_byte": "ratio", "lookup_p50_s": "s",
    "agg_verb_p50_s": "s", "reopen_s": "s", "run_s": "s", "ops_failed_frac": "ratio",
    "q_dedup_containment_inc_s": "s", "q_ann_pq_s": "s", "q_text_calibration_s": "s",
    "q_stream_datacard_s": "s", "trace.overhead_s": "s", "trace_overhead_frac": "ratio",
}


def die(step, msg, code=2):
    print(f"[huntbench] {step}: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    files = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    files += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project/build.properties")]
    return files


def build(deadline):
    """Compile the engine and the benchmark once per source state; return the
    classpath and whether it was built now."""
    if not glob.glob(os.path.join(ROOT, "src/main/scala/graft/*.scala")):
        die("build", "engine sources src/main/scala/graft are missing from this directory")
    h = hashlib.sha256()
    for f in sources():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fh:
                    return fh.read(), False
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "-Dsbt.server.forcestart=false", f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}",
           "compile", "export Runtime/fullClasspath"]
    out = run_bounded(cmd, HERE, env, deadline, os.path.join(BUILD, "build.log"))
    if out is None or out[0] != 0:
        die("build", f"sbt failed; see {os.path.join(BUILD, 'build.log')}")
    cp = [ln for ln in out[1].splitlines() if ".jar" in ln and os.pathsep in ln and not ln.startswith("[")]
    if not cp:
        die("build", "sbt printed no classpath")
    with open(cp_file, "w") as fh:
        fh.write(cp[-1].strip())
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp[-1].strip(), True


def run_bounded(cmd, cwd, env, deadline, log_path):
    """Run a child in its own process group; kill the group at the deadline.
    Returns (code, stdout) or None on timeout. Stderr goes to log_path."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE, stderr=log,
                             stdin=subprocess.DEVNULL, text=True, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=max(1.0, deadline - time.time()))
            return p.returncode, out
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def duckdb_check(oracle_path):
    """Each operator query's engine row count must equal its oracle's under DuckDB."""
    import duckdb
    with open(oracle_path) as fh:
        o = json.load(fh)
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{o['data_dir']}/{t}.parquet')")
    bad = []
    for name, q in sorted(o["queries"].items()):
        n = con.execute(f"SELECT count(*) FROM ({q['sql']})").fetchone()[0]
        if n != q["count"]:
            bad.append(f"{name}: engine {q['count']} rows, oracle {n}")
    con.close()
    return len(o["queries"]), bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    start = time.time()
    bench_json = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(bench_json):
        die("setup", "run from the checkout root (BENCHMARK.json not found)")
    with open(bench_json) as fh:
        spec = json.load(fh)
    if a.workload not in [w["name"] for w in spec["workloads"]] + list(HAND_RUN):
        die("setup", f"unknown workload {a.workload}")
    if a.workload == "ingest" and not os.path.exists(
            os.path.join(ROOT, "src/test/resources/fixtures/ccoe_investigator_demo.json")):
        die(f"setup {a.workload}", "fixture src/test/resources/fixtures/ccoe_investigator_demo.json is missing")

    cp, built = build(start + BUILD_LIMIT_S)
    deadline = (time.time() if built else start) + LIMIT_S
    cpus = max(1, min(4, len(os.sched_getaffinity(0))))
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    run_dir = os.path.join(BUILD, "runs", tag)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    cmd = (["java", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UseDynamicNumberOfCompilerThreads"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={run_dir}/tmp", f"-Dderby.system.home={run_dir}",
              "-cp", cp, "huntbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--cpus", str(cpus), "--run-dir", run_dir,
              "--checkout", ROOT])
    log = os.path.join(run_dir, "jvm.log")
    res = run_bounded(cmd, run_dir, dict(os.environ), deadline - 8, log)
    if res is None:
        die(f"run {a.workload}", f"timed out; see {log}", 4)
    if res[0] != 0:
        with open(log) as fh:
            named = [ln[len("[huntbench] "):] for ln in fh.read().splitlines() if ln.startswith("[huntbench] ")]
        die(f"run {a.workload}", named[-1] if named else f"JVM exited {res[0]}; see {log}", 3)
    with open(os.path.join(run_dir, "record.json")) as fh:
        rec = json.load(fh)
    m = rec["metrics"]
    attempted, failed, failures = rec["attempted"], rec["failed"], list(rec["failures"])
    if a.workload == "operators":
        n, bad = duckdb_check(os.path.join(run_dir, "oracle.json"))
        attempted += n
        failed += len(bad)
        failures += [f"wrong answer: {b}" for b in bad]
    m["ops_failed_frac"] = m["ops.failed_frac"] = failed / attempted
    rec.update(attempted=attempted, failed=failed, failures=failures)

    # the record survives this run even if a later one is killed
    rec_dir = os.path.join(BUILD, "records")
    os.makedirs(rec_dir, exist_ok=True)
    untraced = os.path.join(rec_dir, f"{a.workload}-s{a.seed}-t0.json")
    if a.trace and os.path.exists(untraced):
        with open(untraced) as fh:
            base = json.load(fh)["metrics"]["step_cpu_s"]
        m["trace_overhead_frac"] = m["step_cpu_s"] / base - 1
    with open(os.path.join(rec_dir, f"{tag}.json"), "w") as fh:
        json.dump(rec, fh)
    if failed == 0:
        shutil.rmtree(run_dir)  # stores and Spark dirs; a failed run keeps them

    names = spec["per_layer"] if a.trace else spec["end_to_end"]
    out = {}
    for d in names:
        v = m.get(d["name"])
        if v is None and not a.trace:
            die(f"run {a.workload}", f"metric {d['name']} was not measured")
        out[d["name"]] = {"value": float(v or 0.0), "unit": d["unit"]}
    for f in failures:
        print(f"[huntbench] {a.workload}: {f}", file=sys.stderr)
    info = {k: f"{m[k]:.6g} {u}" for k, u in UNITS.items() if k in m}
    print("[huntbench] " + json.dumps({"workload": a.workload, "seed": a.seed, **info}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": out}))


if __name__ == "__main__":
    main()
