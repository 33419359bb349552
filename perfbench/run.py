#!/usr/bin/env python3
"""Benchmark of pgcapturespark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. The first run builds the program and
the workload drivers from source with sbt (perfbench/build.sbt); later
runs reuse the build until a source file changes. Workloads:

  cdc_backfill  a pre-written seeded backlog drained through
                CdcPipeline.start into JdbcTxStore on in-memory Derby
  cdc_oltp      small transactions appended by an open-loop generator,
                replicated by back-to-back micro-batches
  query_suite   capture and curation queries over seeded tables, each
                result checked against its DuckDB oracle

Every run checks its outputs: the CDC replicas against the generator's
model, the query results against DuckDB. The last stdout line is the
result: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones. The
line before it stamps host contention (steal, load average).
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

CORES = 4
# a fixed, pre-touched heap, so the resident set less the heap is the
# JVM's native memory; the heap is counted by what it holds (Main.scala)
HEAP = "1g"
# Derby compiles a multi-row VALUES insert recursively; the applier's
# 2,500-row inserts overflow the default 1 MB thread stack
STACK = "16m"
QUERY_SCALE = 0.02
DEADLINE_S = 170
BUILD_TIMEOUT_S = 850


def spec():
    """(end-to-end, per-layer) metrics of BENCHMARK.json, as (name, unit)."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return ([(m["name"], m["unit"]) for m in b["end_to_end"]],
            [(m["name"], m["unit"]) for m in b["per_layer"]])


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def host_counters():
    """(busy, steal) jiffies and the 1-minute load average."""
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    with open("/proc/loadavg") as f:
        load = float(f.readline().split()[0])
    return cpu[0] + cpu[2], cpu[7] if len(cpu) > 7 else 0, load


def build_inputs():
    """Every file the build reads, with size and mtime."""
    paths = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for d in (os.path.join(ROOT, "project"), os.path.join(BENCH, "project")):
        paths += [os.path.join(d, f) for f in sorted(os.listdir(d))
                  if f.endswith((".sbt", ".properties", ".scala"))]
    for d in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")):
        for base, _, files in sorted(os.walk(d)):
            paths += [os.path.join(base, f) for f in sorted(files)]
    h = hashlib.sha1()
    for p in paths:
        st = os.stat(p)
        h.update(f"{p}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def launcher():
    """JVM options and classpath of the built program, building if needed."""
    for need in ("BENCHMARK.json", "build.sbt", "src", "project"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no {need} next to perfbench/: run from a checkout of the repository")
    out = os.path.join(BENCH, "target", "launcher.txt")
    stamp_path = os.path.join(BENCH, "target", "launcher.stamp")
    stamp = build_inputs()
    if os.path.exists(out) and os.path.exists(stamp_path):
        with open(stamp_path) as f:
            if f.read() == stamp:
                with open(out) as g:
                    return g.read().splitlines()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Dsbt.override.build.repos=true")
    try:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLauncher"],
                           cwd=BENCH, env=env, stdin=subprocess.DEVNULL,
                           stdout=sys.stderr, stderr=sys.stderr,
                           timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}")
    if r.returncode != 0 or not os.path.exists(out):
        fail("build failed")
    with open(stamp_path, "w") as f:
        f.write(stamp)
    with open(out) as f:
        return f.read().splitlines()


def jvm(opts, work, args, deadline):
    """Run perfbench.Main; returns its result.json."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xss{STACK}", f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.system.home={work}", "-Duser.timezone=UTC",
            "-XX:-UsePerfData"]
           + [o for o in opts if not o.startswith("-Xmx")]
           + [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch"]
           + ["perfbench.Main"] + [str(a) for a in args])
    log_path = os.path.join(work, "jvm.log")
    # few malloc arenas, so native memory does not vary with thread timing
    env = dict(os.environ, MALLOC_ARENA_MAX="2")
    with open(log_path, "w") as log:
        try:
            r = subprocess.run(cmd, cwd=work, env=env, stdin=subprocess.DEVNULL,
                               stdout=log, stderr=log,
                               timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            r = None
    result = os.path.join(work, "result.json")
    if r is None or r.returncode != 0 or not os.path.exists(result):
        with open(log_path, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail("the workload did not finish" if r else "the workload timed out")
    with open(result) as f:
        return json.load(f)


def check_queries(work, data, res):
    """Count query results that differ from their DuckDB oracle."""
    import oracle
    with open(os.path.join(work, "results", "oracle_sql.json")) as f:
        sqls = json.load(f)
    con = oracle.connect(data)
    want = oracle.expected(con, sqls)
    failed = 0
    for r in res["results"]:
        why = oracle.mismatch(con, r["out"], want[r["name"]])
        if why:
            failed += 1
            print(f"perfbench: {r['name']} does not match its oracle: {why}",
                  file=sys.stderr)
    return failed


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["cdc_backfill", "cdc_oltp", "query_suite"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    busy0, steal0, load0 = host_counters()
    opts = launcher()
    end_to_end, per_layer = spec()
    deadline = time.monotonic() + DEADLINE_S

    runs = os.path.join(BENCH, "target", "runs")
    os.makedirs(runs, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{a.workload}-{a.seed}-", dir=runs)
    try:
        args = [a.workload, a.seed, a.seconds, a.trace, CORES, work]
        data_setup_s = 0.0
        if a.workload == "query_suite":
            import tables
            data = os.path.join(work, "data")
            times = []
            for _ in range(3):
                t0 = time.monotonic()
                tables.write(data, a.seed, QUERY_SCALE)
                times.append(time.monotonic() - t0)
            data_setup_s = statistics.median(times)
            args.append(data)
        res = jvm(opts, work, args, deadline)
        for p in res.get("problems", []):
            print(f"perfbench: replica differs from the model: {p}", file=sys.stderr)
        failed = res["failed"]
        if a.workload == "query_suite":
            failed += check_queries(work, data, res)
        metrics = res["metrics"]
        metrics["setup_s"]["value"] += data_setup_s
        layers = res["layers"]
        if a.trace and a.workload == "cdc_backfill":
            base = jvm(opts, work, ["cdc_backfill", a.seed, 1, 0, 1, work], deadline)
            res["attempted"] += base["attempted"]
            failed += base["failed"]
            layers["baseline.local1_changes_per_s"] = base["metrics"]["done_per_s"]
        if a.trace:
            unknown = set(layers) - {name for name, _ in per_layer}
            if unknown:
                fail(f"layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
            out = {name: {"value": layers.get(name, {}).get("value", 0.0), "unit": unit}
                   for name, unit in per_layer}
        else:
            out = {name: metrics[name] for name, _ in end_to_end}
    finally:
        shutil.rmtree(work, ignore_errors=True)

    busy1, steal1, load1 = host_counters()
    db, ds = busy1 - busy0, steal1 - steal0
    print("host " + json.dumps({
        "steal_pct": round(100.0 * ds / (db + ds), 2) if db + ds > 0 else 0.0,
        "loadavg_start": load0, "loadavg_end": load1,
        "setup_parts": res["setup_parts"], "samples": res.get("samples")}))
    print(json.dumps({"correct": failed == 0, "attempted": res["attempted"],
                      "failed": failed, "metrics": out}))


if __name__ == "__main__":
    main()
