#!/usr/bin/env python3
"""Benchmark of the graft engine, timed end to end and per layer.

Usage:
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
JVM runner (`perfbench/build.sbt`); later runs reuse the build while the
sources are unchanged. Each run generates its tables from the seed into
a private work directory (deleted at exit), runs the workload's closed
loop in one JVM, checks every result against DuckDB or the transaction
ledger, and prints one JSON line last. `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer ones (see METRICS.md).
Exit status is non-zero when any check fails.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import workloads  # noqa: E402

MASTER_CORES = 4
# Fixed and pre-touched, so peak RSS does not follow the collector's
# heap-sizing choices; what moves it is memory outside the heap.
JVM_HEAP = "2g"
# Client-compiler only: a run lasts about a minute, too short for C2 to
# settle, and its background compiles made cold op latencies swing from
# run to run; C1 compiles once, early, and op times stay level.
JIT_FLAGS = ["-XX:TieredStopAtLevel=1"]
JVM_TIMEOUT_S = 160  # a run must end within 180 s
BUILD_TIMEOUT_S = 700  # the first run, build included, within 900 s
TAIL_BEYOND = 10
# the loop runs past the deadline until this many ops, and at least the
# workload's `min_rounds` rounds
MIN_OPS = TAIL_BEYOND + 1
DATA_COPIES = 3

# The module opens Spark needs on JDK 17 outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# -------------------------------------------------------------------- build

def _source_stamp():
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, files in sorted(os.walk(top)):
            paths += [os.path.join(d, f) for f in sorted(files)]
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the engine and the runner; returns the runtime classpath."""
    stamp_file = os.path.join(HERE, "target", "perfbench-build.json")
    stamp = _source_stamp()
    try:
        with open(stamp_file) as f:
            cached = json.load(f)
        if cached["stamp"] == stamp:
            return cached["classpath"]
    except (OSError, ValueError, KeyError):
        pass
    log("building engine and runner (sbt)")
    proc = subprocess.run(
        ["sbt", "-batch", "compile", "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=BUILD_TIMEOUT_S)
    lines = [ln.strip() for ln in proc.stdout.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("build failed")
    os.makedirs(os.path.dirname(stamp_file), exist_ok=True)
    with open(stamp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": lines[-1]}, f)
    return lines[-1]


# ---------------------------------------------------------------- execution

def _cpu_times():
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def run_jvm(classpath, plan, work):
    """Runs the runner on `plan`; returns its run record."""
    plan_path = os.path.join(work, "plan.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+AlwaysPreTouch"] + JIT_FLAGS
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={tmp}",
              f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
              f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
              "-cp", classpath, "perfbench.Main", plan_path])
    env = dict(os.environ, GRAFT_STATS_DIR=os.path.join(work, "stats"))
    log_path = os.path.join(work, "jvm.log")
    steal0, total0 = _cpu_times()
    with open(log_path, "w") as out:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=out, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = "timeout"
    steal1, total1 = _cpu_times()
    # time the hypervisor gave this machine's CPUs to others: a run with a
    # high share was slowed from outside and reads slow on every metric
    log(f"CPU steal during the runner JVM: "
        f"{100.0 * (steal1 - steal0) / max(1, total1 - total0):.1f}%")
    if code != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        raise RuntimeError(f"runner JVM exited with {code}")
    with open(os.path.join(plan["out_dir"], "run.json")) as f:
        return json.load(f)


def _check_oracle_module():
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "tools", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def check_results(data_dir, results_dir, expected_sql):
    """{name: problem} for every dumped result that differs from DuckDB
    running its oracle SQL, compared as tools/check_oracle.py does.
    """
    import duckdb
    import pandas as pd
    co = _check_oracle_module()
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=2")
    for t in datagen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, t)}.parquet')")
    bad = {}
    for name, sql in sorted(expected_sql.items()):
        try:
            exp = co.canon(con.execute(sql).df())
            got = co.canon(pd.read_parquet(os.path.join(results_dir, name)))
        except Exception as e:  # noqa: BLE001 - any failure is a failed check
            bad[name] = f"exception {type(e).__name__}: {e}"
            continue
        if list(exp.columns) != list(got.columns):
            bad[name] = f"columns {list(exp.columns)} vs {list(got.columns)}"
        elif len(exp) != len(got):
            bad[name] = f"rows {len(exp)} vs {len(got)}"
        else:
            for c in exp.columns:
                pairs = zip(exp[c].tolist(), got[c].tolist())
                hit = next((i for i, (a, b) in enumerate(pairs) if not co.cells_equal(a, b)), None)
                if hit is not None:
                    bad[name] = f"column {c} row {hit} differs"
                    break
    con.close()
    return bad


# ------------------------------------------------------------------ metrics

def tail_latency(samples, beyond=TAIL_BEYOND):
    """(value, percentile, samples beyond) for the highest percentile that
    keeps at least `beyond` samples above it: the (beyond+1)-th largest
    sample, at its linear-interpolation percentile rank.
    """
    xs = sorted(samples)
    n = len(xs)
    if n <= beyond:
        raise ValueError(f"{n} samples cannot keep {beyond} beyond a percentile")
    idx = n - 1 - beyond
    return xs[idx], 100.0 * idx / (n - 1), n - 1 - idx


def self_times(spans):
    """{span id: self time in ms} — duration minus direct children."""
    child = {}
    for s in spans:
        if s["parent"] >= 0:
            child[s["parent"]] = child.get(s["parent"], 0) + s["end_ns"] - s["start_ns"]
    return {s["id"]: (s["end_ns"] - s["start_ns"] - child.get(s["id"], 0)) / 1e6
            for s in spans}


def end_to_end(rec, attempted, failed, workload):
    ops = rec["ops"]
    lat = [o["ms"] for o in ops]
    tail, pct, beyond = tail_latency(lat)
    reps = rec["reps"]
    stats_part = statistics.median(s + t for s, t in reps) / 1e3
    setup_s = ((rec["session_ready_ms"] - rec["jvm_start_ms"]) / 1e3 + stats_part
               + rec["warmup_ms"] / 1e3)
    key = "ingested" if workload == "stream_ingest" else "rows"
    rows = sum(o[key] for o in ops)
    rs = workloads.round_size(workload)
    log("round sums: " + ", ".join(f"{sum(o['ms'] for o in ops[i:i + rs]):.0f}"
                                   for i in range(0, len(ops), rs)))
    slow = sorted(ops, key=lambda o: -o["ms"])[:3]
    log("slowest ops: " + ", ".join(f"{o['name']} {o['ms']:.0f} ms" for o in slow))
    log(f"latency_tail_ms is p{pct:.1f} of {len(lat)} ops ({beyond} beyond); "
        f"error_rate {failed}/{attempted}; set-up: session {rec['session_ms']:.0f} ms, "
        f"schema+stats passes {[round(s + t) for s, t in reps]} ms, "
        f"warm-up {rec['warmup_ms']:.0f} ms")
    return {
        "setup_s": (setup_s, "s"),
        "ops_per_s": (len(ops) / rec["measured_s"], "1/s"),
        "latency_p50_ms": (statistics.median(lat), "ms"),
        "latency_tail_ms": (tail, "ms"),
        "rows_per_s": (rows / rec["measured_s"], "rows/s"),
        "peak_rss_mb": (rec["peak_rss_kb"] / 1024.0, "MB"),
    }


# Listener counters, in the order of `Counters.names` in Trace.scala.
COUNTERS = [
    "exec.jobs", "exec.stages", "exec.tasks", "exec.task_wait_ms", "exec.empty_tasks",
    "exec.task_run_ms", "exec.gc_ms", "exec.shuffle_read_bytes", "exec.shuffle_write_bytes",
    "exec.spill_bytes", "exec.failed_tasks", "streaming.triggers", "streaming.trigger_ms",
    "streaming.add_batch_ms", "streaming.wal_commit_ms", "streaming.commit_offsets_ms",
    "streaming.planning_ms", "streaming.state_rows", "streaming.state_commit_ms",
    "streaming.state_mem_bytes", "streaming.input_rows",
]

MS_LAYERS = [
    "queries.construct", "plans.optimize", "plans.physical", "plans.dp", "exec.execute",
    "streaming.run", "txn.insert", "txn.commit", "txn.read", "txn.checkpoint",
    "txn.compact", "txn.recover", "stats.build",
]


def per_layer(rec, attempted, failed):
    """Per-layer metrics from the spans and listener counters of a traced
    run. Loop metrics are means per op; core.* are set-up times.
    """
    spans = rec["spans"]
    selfs = self_times(spans)
    ops = rec["ops"]
    n = max(1, len(ops))
    out = {}
    setup = [s for s in spans if s["op"] < 0]
    sess = [selfs[s["id"]] for s in setup if s["name"] == "core.session"]
    out["core.session_ms"] = (sum(sess), "ms")
    for layer in ("core.schema", "core.stats"):
        vals = [selfs[s["id"]] for s in setup if s["name"] == layer]
        out[f"{layer}_ms"] = (statistics.median(vals) if vals else 0.0, "ms")
    loop = [s for s in spans if s["op"] >= 0]
    for layer in MS_LAYERS:
        out[f"{layer}_ms"] = (sum(selfs[s["id"]] for s in loop if s["name"] == layer) / n, "ms")
    out["plans.dp_edges"] = (rec["dp_edges"] / n, "count")
    tot = dict(zip(rec["counter_names"], rec["counters"]))
    units = {"_ms": "ms", "_bytes": "bytes"}
    for c in COUNTERS:
        if c == "exec.empty_tasks":
            continue
        unit = next((u for suf, u in units.items() if c.endswith(suf)), "count")
        value = tot[c] if c == "streaming.state_mem_bytes" else tot[c] / n
        out[c] = (value, unit)
    out["exec.empty_task_ratio"] = (tot["exec.empty_tasks"] / max(1, tot["exec.tasks"]), "ratio")
    t = rec["txn"]
    out["txn.log_records"] = (t["log_records"], "count")
    out["txn.write_amp"] = (t["disk_bytes"] / t["user_bytes"] if t["user_bytes"] else 0.0,
                            "ratio")
    op_ms = sum(o["ms"] for o in ops)
    plan_ms = sum(selfs[s["id"]] for s in loop
                  if s["name"].startswith("plans.") or s["name"] == "queries.construct")
    out["plans.share_pct"] = (100.0 * plan_ms / op_ms if op_ms else 0.0, "%")
    out["ops.traced_ms"] = (op_ms / n, "ms")
    out["trace.overhead_pct"] = (100.0 * rec["trace_cost_ms"] / (1e3 * rec["measured_s"]), "%")
    out["error_rate"] = (failed / attempted, "ratio")
    return out


# --------------------------------------------------------------------- main

def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def engine_present():
    return (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")))


def execute(work, classpath, sf, seed, tables, warmup, ops, sqls, seconds, trace, min_ops,
            round_size=1):
    """Generate the tables, run `ops` in the runner, check every result.
    Returns (run record, {result name: problem}).
    """
    data0 = os.path.join(work, "data0")
    datagen.write(sf, seed, data0)
    dirs = [data0]
    for i in range(1, DATA_COPIES):
        dirs.append(os.path.join(work, f"data{i}"))
        shutil.copytree(data0, dirs[-1])
    out_dir = os.path.join(work, "out")
    plan = {"master": f"local[{min(MASTER_CORES, os.cpu_count() or 1)}]",
            "seconds": seconds, "min_ops": min_ops, "round_size": round_size,
            "trace": bool(trace),
            "data_dirs": dirs, "tables": tables, "warmup": warmup, "ops": ops,
            "txn_dir": os.path.join(work, "txn"), "out_dir": out_dir}
    t0 = time.time()
    rec = run_jvm(classpath, plan, work)
    t1 = time.time()
    expected = dict(rec["oracle"])
    expected.update({n: sqls[n] for n in rec["results"] if n in sqls})
    bad = check_results(dirs[-1], os.path.join(out_dir, "results"), expected)
    for name in rec["results"]:
        if name not in expected:
            bad[name] = "no oracle to check against"
    log(f"runner JVM {t1 - t0:.1f} s, checks {time.time() - t1:.1f} s")
    return rec, bad


def summarise(rec, bad, workload, trace):
    """(result line, exit status) for a checked run record."""
    for name, problem in sorted(bad.items()):
        log(f"CHECK FAILED {name}: {problem}")
    for c in rec["checks"]:
        log(f"CHECK FAILED {c}")
    errs = [o for o in rec["ops"] if not o["ok"]]
    for o in errs[:5]:
        log(f"op {o['name']} failed: {o['err']}")
    # an op fails if it threw, returned a wrong result, or its read-back
    # disagreed with the ledger
    wrong = [o for o in rec["ops"] if o["ok"] and o["name"] in bad]
    attempted = len(rec["ops"])
    failed = len(errs) + len(wrong) + len(rec["checks"])
    correct = not bad and not errs and not rec["checks"]
    metrics = (per_layer(rec, attempted, failed) if trace
               else end_to_end(rec, attempted, failed, workload))
    line = {"correct": correct, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    return line, 0 if correct else 1


def main(argv=None):
    args = parse_args(argv)
    if not engine_present():
        log("engine sources not found beside the benchmark; nothing to measure")
        return 2
    classpath = build()
    w = workloads.WORKLOADS[args.workload]
    warmup, ops, sqls = workloads.plan(args.workload, args.seed,
                                       datagen.table_sizes(w["sf"])["events"])
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        size = workloads.round_size(args.workload)
        min_ops = max(MIN_OPS, w.get("min_rounds", 1) * size)
        rec, bad = execute(work, classpath, w["sf"], args.seed, w["tables"], warmup, ops, sqls,
                           args.seconds, args.trace, min_ops, size)
        if args.trace:
            os.makedirs(os.path.join(HERE, "traces"), exist_ok=True)
            shutil.copy(os.path.join(work, "out", "run.json"),
                        os.path.join(HERE, "traces", f"{args.workload}-{args.seed}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    line, status = summarise(rec, bad, args.workload, args.trace)
    print(json.dumps(line))
    return status


if __name__ == "__main__":
    sys.exit(main())
