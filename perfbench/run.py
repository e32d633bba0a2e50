#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one JSON result line.

Usage (from the repository root):
  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the benchmark package (perfbench/build.sbt: the graft sources of this
checkout plus perfbench/src) on first use, cuts the seeded stream shards
(shards.py) from the testdata copy under perfbench/data, runs the workload in
one JVM (perfbench.Main), checks every operation's output against the DuckDB
oracle (tools/check.py), and prints the metrics. The last stdout line is
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics (--trace 0) or the per-layer metrics (--trace 1).
See perfbench/README.md for the workloads and the metric definitions.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
STAMP_DIR = os.path.join(HERE, "target", "perfbench-build")
WORKLOADS = ["iot_medallion", "adhoc_queries", "heavy_jobs", "stream_refresh"]
JVM_TIMEOUT_S = 170  # a run must end within 180 s
CORES = 4       # local[N], capped at nproc
HEAP = "3g"
SHARDS = 2      # stream_refresh shards per pass
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]

sys.path.insert(0, HERE)


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---- build ------------------------------------------------------------------

def _sources():
    dirs = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for d in dirs:
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build():
    """Compile once per source state; returns the runtime classpath."""
    if not (os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))
            and os.path.isfile(os.path.join(ROOT, "tools", "check.py"))):
        fail(f"no graft sources and tools/check.py under {ROOT}: nothing to benchmark")
    h = hashlib.sha1()
    for f in _sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(STAMP_DIR, "classpath.txt")
    stamp_file = os.path.join(STAMP_DIR, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as cf:
                    return cf.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g -XX:-UsePerfData")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True,
        timeout=840)
    lines = [l for l in p.stdout.splitlines() if "scala-2.13/classes" in l and ":" in l]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail(f"build failed (exit {p.returncode})")
    cp = lines[-1].strip()
    os.makedirs(STAMP_DIR, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cp


# ---- inputs -----------------------------------------------------------------

def inputs(seed, sf, shards):
    """(tables, shards): the testdata copy at scale `sf`, and the seeded
    stream shards cut from its events."""
    tables = os.path.join(HERE, "data", f"sf{sf}")
    events = os.path.join(tables, "events.parquet")
    if not os.path.isfile(events):
        fail(f"no testdata copy at {tables}")
    h = hashlib.sha1()
    for f in (os.path.join(HERE, "shards.py"), events):
        with open(f, "rb") as fh:
            h.update(fh.read())
    d = os.path.join(WORK, "shards", f"seed{seed}-sf{sf}-n{shards}-{h.hexdigest()[:10]}")
    if not os.path.exists(os.path.join(d, "DONE")):
        import shards as cutter
        tmp = d + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        cutter.cut(events, tmp, seed, shards)
        open(os.path.join(tmp, "DONE"), "w").close()
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
    return tables, d


# ---- the JVM run --------------------------------------------------------------

def run_jvm(cp, args, data, shards, out):
    os.makedirs(os.path.join(out, "tmp"), exist_ok=True)
    cores = min(CORES, os.cpu_count() or 1)
    # no hsperfdata file: HotSpot would write it under /tmp, outside the checkout
    cmd = ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={out}/tmp", f"-Dspark.local.dir={out}/tmp",
            f"-Dspark.sql.warehouse.dir={out}/warehouse", "-Dspark.ui.enabled=false",
            "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed), "--data", data,
            "--shards", shards, "--out", out, "--seconds", str(args.seconds),
            "--trace", str(args.trace)]
    if args.inject_failure:
        cmd.insert(cmd.index("perfbench.Main") + 1, "--inject-failure")
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores), SPARK_LOCAL_DIRS=f"{out}/tmp")
    with open(os.path.join(out, "jvm.log"), "w") as log:
        # setup_s is counted from here: the JVM start is part of it
        cmd += ["--launched-at", repr(time.time())]
        p = subprocess.Popen(cmd, cwd=out, env=env, stdin=subprocess.DEVNULL,
                             stdout=log, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"JVM run exceeded {JVM_TIMEOUT_S} s")
    raw_path = os.path.join(out, "raw.json")
    if p.returncode != 0 or not os.path.exists(raw_path):
        with open(os.path.join(out, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"JVM run failed (exit {p.returncode})")
    with open(raw_path) as fh:
        return json.load(fh)


def check(data, results):
    """{name: reason} for every checked output that differs from DuckDB
    running its oracle SQL: tools/check.py, the repository's own comparison
    (names, types, row count, order-insensitive values at full precision)."""
    p = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"), data, results],
                       capture_output=True, text=True, timeout=120)
    bad = {}
    for line in p.stdout.splitlines():
        if line.startswith("FAIL "):
            name, _, reason = line[len("FAIL "):].partition(": ")
            bad[name] = reason
    if p.returncode != 0 and not bad:
        fail(f"output check failed to run: {p.stderr[-2000:]}")
    return bad


# ---- metrics ------------------------------------------------------------------

def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail_percentile(n):
    """Highest of p90/p75/p50 with at least ten samples beyond it, or None."""
    for p in (90, 75, 50):
        if n * (100 - p) / 100 >= 10:
            return p
    return None


def percentile(xs, p):
    s = sorted(xs)
    k = max(0, min(len(s) - 1, -(-p * len(s) // 100) - 1))
    return s[k]


def op_ok(ps, op, bad):
    """An operation fails if it throws or its output is wrong: its own
    output, or, in stream_refresh, its pass's final mart or summary."""
    return op["ok"] and op["name"] not in bad and not any(n in bad for n in ps.get("outputs", []))


def failed_ops(passes, bad):
    """Names of the timed operations that failed, one entry per failure."""
    return [o["name"] for p in passes for o in p["ops"] if not op_ok(p, o, bad)]


def end_to_end(raw, passes, bad):
    """Every user-visible number of the untraced passes; failed operations
    are left out of every latency statistic."""
    lat, walls, peaks = [], [], []
    for ps in passes:
        wall = ps["wall_s"]
        for op in ps["ops"]:
            if op_ok(ps, op, bad):
                lat.append(op["total_s"])
            else:
                wall -= op["total_s"]
        walls.append(wall)
        peaks.append(ps["storage_peak_bytes"] / 2**20)
    attempted = sum(len(p["ops"]) for p in passes)
    m = {
        "setup_s": (raw["setup_s"], "s"),
        "wall_s": (median(walls), "s"),
        "op_p50_s": (median(lat), "s"),
        "storage_peak_mb": (max(peaks), "MB"),
    }
    extra = {"fail_share": ((attempted - len(lat)) / attempted if attempted else 0.0, "share"),
             "passes": (len(passes), "count"), "operations": (len(lat), "count")}
    p = tail_percentile(len(lat))
    if p is not None:
        extra[f"op_p{p}_s"] = (percentile(lat, p), "s")
    return m, extra


def per_layer(raw, traced, untraced):
    def med(f):
        return median([f(p) for p in traced])

    def spark(k):
        return med(lambda p: p["spark"][k])

    def layer_sum(k, name=None):
        return med(lambda p: sum(v[k] for n, v in p["layers"].items() if name in (None, n)))

    def ops_sum(part):
        return med(lambda p: sum(o.get(part, 0.0) for o in p["ops"]))

    def stream(k):
        return med(lambda p: p["stream"][k])

    def per_op(k):
        return med(lambda p: p["spark"][k] / max(1, len(p["ops"])))

    builds, reuses = layer_sum("builds"), layer_sum("reuses")
    mb = 2**20
    m = {
        "sessions.start_s": (raw["start_s"], "s"),
        "sessions.warm_s": (raw["warm_pass_s"], "s"),
        "tables.rows_read": (per_op("rows_read"), "count"),
        "tables.bytes_read": (per_op("bytes_read") / mb, "MB"),
        "layers.builds": (builds, "count"),
        "layers.reuses": (reuses, "count"),
        "layers.hit_ratio": (reuses / (builds + reuses) if builds + reuses else 0.0, "ratio"),
        "layers.build_s": (layer_sum("build_s"), "s"),
        "layers.staging.build_s": (layer_sum("build_s", "staging"), "s"),
        "layers.mart.build_s": (layer_sum("build_s", "mart"), "s"),
        "layers.storage_mb": (med(lambda p: p["layer_storage_bytes"]) / mb, "MB"),
        "layers.evicted_blocks": (spark("evicted_blocks"), "count"),
        "query.build_s": (ops_sum("build_s"), "s"),
        "query.plan_s": (ops_sum("plan_s"), "s"),
        "query.exec_s": (ops_sum("exec_s"), "s"),
        "spark.jobs": (spark("jobs"), "count"),
        "spark.stages": (spark("stages"), "count"),
        "spark.tasks": (spark("tasks"), "count"),
        "spark.task_deser_s": (spark("task_deser_s"), "s"),
        "spark.task_run_s": (spark("task_run_s"), "s"),
        "spark.idle_slot_s": (med(lambda p: p["spark"]["cores"] * p["wall_s"]
                                  - p["spark"]["task_slot_s"]), "s"),
        "spark.gc_s": (spark("gc_s"), "s"),
        "spark.shuffle_read_mb": (spark("shuffle_read_bytes") / mb, "MB"),
        "spark.shuffle_write_mb": (spark("shuffle_write_bytes") / mb, "MB"),
        "spark.spill_mb": (spark("spill_bytes") / mb, "MB"),
        "spark.task_failures": (spark("task_failures"), "count"),
        "stream.batches": (stream("batches"), "count"),
        "stream.input_rows": (stream("input_rows"), "count"),
        "stream.planning_s": (stream("queryPlanning"), "s"),
        "stream.get_batch_s": (stream("getBatch"), "s"),
        "stream.add_batch_s": (stream("addBatch"), "s"),
        "stream.wal_commit_s": (stream("walCommit"), "s"),
        "stream.commit_offsets_s": (stream("commitOffsets"), "s"),
        "stream.state_rows": (stream("state_rows"), "count"),
        "stream.state_mb": (stream("state_bytes") / mb, "MB"),
        "stream.state_commit_s": (stream("state_commit_s"), "s"),
        "trace.overhead": (median([p["wall_s"] for p in traced])
                           / median([p["wall_s"] for p in untraced]), "ratio"),
    }
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--sf", type=float, default=0.01,
                    help="input scale factor (the self-check uses 0.001)")
    ap.add_argument("--inject-failure", action="store_true",
                    help="add an operation that throws (self-check)")
    ap.add_argument("--inject-wrong-output", action="store_true",
                    help="drop a row from one checked output before the check (self-check)")
    args = ap.parse_args()

    cp = build()
    t_in = time.time()
    data, shards = inputs(args.seed, args.sf, SHARDS)
    inputs_s = time.time() - t_in
    out = os.path.join(WORK, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    try:
        raw = run_jvm(cp, args, data, shards, out)
        results = os.path.join(out, "results")
        wrong = drop_row(results) if args.inject_wrong_output else None
        t_chk = time.time()
        bad = check(data, results)
        check_s = time.time() - t_chk
        warm_failed = {o["name"]: o["error"] for o in raw["warm"]["ops"] if not o["ok"]}
        for name, err in warm_failed.items():
            bad.setdefault(name, err)
        last = os.path.join(WORK, f"last-{args.workload}")
        os.makedirs(last, exist_ok=True)
        for f in ("raw.json", "trace.json"):
            shutil.copy(os.path.join(out, f), last)
    finally:
        shutil.rmtree(out, ignore_errors=True)

    passes = raw["passes"]
    untraced = [p for p in passes if not p["traced"]]
    traced = [p for p in passes if p["traced"]]
    e2e, extra = end_to_end(raw, untraced, bad)
    env = dict(raw["env"], nproc=os.cpu_count(), sf=args.sf, shards=SHARDS,
               seconds=args.seconds, trace=args.trace, git_commit=git_commit(),
               inputs_s=round(inputs_s, 3), check_s=round(check_s, 3),
               loadavg_end=loadavg(), ops_per_pass=len(passes[0]["ops"]),
               checked=raw["checked"])
    print("PERFBENCH_ENV " + json.dumps(env, sort_keys=True))
    print("PERFBENCH_FAILED " + json.dumps(
        {"operations": sorted(set(failed_ops(passes, bad))), "reasons": bad,
         "injected_wrong_output": wrong}, sort_keys=True))
    summary = {k: {"value": v, "unit": u} for k, (v, u) in {**e2e, **extra}.items()}
    print("PERFBENCH_SUMMARY " + json.dumps(summary, sort_keys=True))
    metrics, counted = (per_layer(raw, traced, untraced), traced) if args.trace else (e2e, untraced)
    failed = failed_ops(counted, bad)
    result = {
        "correct": not bad and not failed,
        "attempted": sum(len(p["ops"]) for p in counted),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))


def drop_row(results):
    """Drops the last row of one checked output (the first timed pass's
    stream mart, else the first output by name); returns its name."""
    with open(os.path.join(results, "oracle_sql.json")) as fh:
        names = sorted(json.load(fh))
    name = "stream_mart_p1" if "stream_mart_p1" in names else names[0]
    d = os.path.join(results, name)
    files = sorted(os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet"))
    table = pa.concat_tables([pq.read_table(f) for f in files])
    if table.num_rows == 0:
        fail(f"cannot drop a row from the empty output {name}")
    for f in files:
        os.remove(f)
    pq.write_table(table.slice(0, table.num_rows - 1), os.path.join(d, "part-0.parquet"))
    return name


def git_commit():
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return "none"
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def loadavg():
    try:
        with open("/proc/loadavg") as fh:
            return ",".join(fh.read().split()[:3])
    except OSError:
        return ""


if __name__ == "__main__":
    main()
