#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one fresh JVM.

Usage (from the root of a graft checkout):

    python3 perfbench/run.py --workload batch --seed 1 --seconds 5 --trace 0

Builds graft and the harness from source with sbt (cached in .bench_build/
by a hash of the sources), makes one temp root under .bench_run/, copies the
workload's input tables into it, and runs the harness (perfbench/harness)
in a fresh JVM on local[nproc] with a heap sized from /proc/meminfo.
Set-up time is sampled in extra JVMs that only start a session.

The temp root holds input/ (the input copy), own/ (the harness's logs,
results and derived inputs) and work/ (the program's: index root, Spark
scratch, checkpoints, sinks, java.io.tmpdir). disk_mb counts work/ only.

The last stdout line is one JSON object: correct, attempted, failed and the
metrics (end-to-end with --trace 0, per-layer with --trace 1). The full
artifact, per-call rows included, goes to .bench_out/. A failed build, a
failed call or a failed correctness check exits non-zero.

Workloads and their frozen slot lists are in perfbench/workloads.json;
expected results in perfbench/expected/<sf>.json (see record.py).
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

BENCH = os.path.dirname(os.path.abspath(__file__))
NAME = os.path.basename(BENCH)
SPEC = json.load(open(os.path.join(BENCH, "workloads.json")))
BUILD_TIMEOUT_S = 850
RUN_BUDGET_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
MB = 1024.0 * 1024.0


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def source_key(root):
    """Hash of everything the build reads from the checkout."""
    h = hashlib.sha256()
    tops = ["build.sbt", "project", "src/main", NAME + "/build.sbt",
            NAME + "/project", NAME + "/harness"]
    for top in tops:
        p = os.path.join(root, top)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            rel = os.path.relpath(f, root)
            if "/target/" in f or rel.startswith("project/project"):
                continue
            h.update(rel.encode() + b"\0")
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root):
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala"))):
        raise BenchError("no graft source here (build.sbt, src/main/scala); "
                         "run from the root of a graft checkout")
    out = os.path.join(root, ".bench_build")
    os.makedirs(out, exist_ok=True)
    key = source_key(root)
    cp_file = os.path.join(out, "classpath.txt")
    key_file = os.path.join(out, "source.sha256")
    if os.path.exists(cp_file) and os.path.exists(key_file) \
            and open(key_file).read() == key:
        cp = open(cp_file).read().strip()
        if all(os.path.exists(p) for p in cp.split(":")[:2]):
            return cp
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    env.setdefault("SBT_OPTS", " ".join(
        ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g"]
        + ([f"-Dsbt.repository.config={repos}"] if os.path.exists(repos) else [])))
    log("building graft + harness with sbt")
    # sbt's own scratch (its socket dirs) stays inside the checkout too
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    t = time.time()
    with open(os.path.join(out, "build.log"), "w") as lf:
        try:
            r = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true",
                 "-Dsbt.server.autostart=false", f"-Djava.io.tmpdir={tmp}",
                 "compile",
                 "export Runtime/fullClasspath"],
                cwd=os.path.join(root, NAME), env=env, stdout=subprocess.PIPE,
                stderr=lf, stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S,
                text=True)
        except subprocess.TimeoutExpired:
            raise BenchError("sbt build timed out")
        lf.write(r.stdout)
    lines = [ln for ln in r.stdout.splitlines() if ln.strip()]
    if r.returncode != 0 or not lines or ".jar" not in lines[-1]:
        raise BenchError(f"sbt build failed (exit {r.returncode}); "
                         f"see {out}/build.log")
    cp = lines[-1].strip()
    open(cp_file, "w").write(cp)
    open(key_file, "w").write(key)
    log(f"built in {time.time() - t:.0f} s")
    return cp


# ---------------------------------------------------------------- run

def heap_size():
    """Half the machine's memory, clamped to 2-8 g (the tier-1 rule)."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(ln.split()[1]) for ln in f
                      if ln.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(8, max(2, g))}g"


def cpu_count():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def load_avg():
    return os.getloadavg()[0]


def cpu_jiffies():
    """(steal, total) from /proc/stat: on a shared VM, the time the host
    gave this machine's CPUs to others, which slows every timed span."""
    try:
        with open("/proc/stat") as f:
            xs = [int(x) for x in f.readline().split()[1:]]
        return (xs[7] if len(xs) > 7 else 0), sum(xs)
    except (OSError, ValueError):
        return 0, 0


def java_cmd(cp, heap, tmpdir, args):
    return (["java", f"-Xms{heap}", f"-Xmx{heap}",
             "-XX:ReservedCodeCacheSize=1g", "-XX:+UseCodeCacheFlushing",
             f"-Djava.io.tmpdir={tmpdir}", "-Duser.timezone=UTC",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", cp, "graftbench.Harness"]
            + [str(x) for kv in args.items() for x in ("--" + kv[0], kv[1])])


def run_jvm(cmd, log_path, deadline):
    timeout = deadline - time.time()
    if timeout < 5:
        raise BenchError("out of time before the harness could start")
    with open(log_path, "a") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=lf,
                             stdin=subprocess.DEVNULL)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            raise BenchError("harness timed out")
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()


def slot_arg(spec):
    return ",".join(f"{s}:{m}" for m, ss in spec["slots"].items() for s in ss)


def dir_bytes(path):
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs
               if not os.path.islink(os.path.join(d, f)))


def program_mb(work):
    """Bytes the program left under its work root. Each stream replay
    writes fresh checkpoint and sink dirs under stream/p<n>; those count
    as one median replay, so the figure does not grow with the number of
    replays a run makes."""
    stream = os.path.join(work, "stream")
    reps = [dir_bytes(os.path.join(stream, d)) for d in os.listdir(stream)] \
        if os.path.isdir(stream) else []
    return (dir_bytes(work) - sum(reps) + median(reps)) / MB


def steal_share(start):
    steal, total = (b - a for a, b in zip(start, cpu_jiffies()))
    return steal / total if total else 0.0


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """Highest percentile with at least 10 samples beyond it."""
    xs = sorted(xs)
    for q in (99.9, 99, 95, 90, 75, 50):
        v = xs[min(len(xs) - 1, int(len(xs) * q / 100))] if xs else 0.0
        if sum(1 for x in xs if x > v) >= 10:
            return v, q
    return (xs[len(xs) // 2] if xs else 0.0), 50


# ---------------------------------------------------------------- metrics

LAYER_MODULES = ["Monitoring", "Curation", "Dedup", "Similarity"]
KERNELS = ["functions.normalize_rows_per_s", "functions.minhash_rows_per_s",
           "functions.simhash_rows_per_s", "functions.lang_id_rows_per_s",
           "TextAnalysis.html_extract_rows_per_s",
           "Scale.prefix_sum_rows_per_s",
           "functions.nearest_centroid_rows_per_s",
           "functions.cosine_rows_per_s"]
SPARK_KEYS = ["jobs", "stages", "tasks", "task_busy_s", "gc_s",
              "shuffle_write_mb", "spill_mb", "utilization"]
STREAM_LAYER = ["sources.v2.latest_offset_ms", "sources.v2.first_batch_source_s",
                "streaming.query_planning_ms",
                "streaming.NotifyPipeline.add_batch_ms",
                "streaming.ContinuousRollup.add_batch_ms",
                "streaming.wal_commit_ms", "streaming.batches",
                "streaming.state_rows", "streaming.state_mb",
                "streaming.dedup_dropped_rows"]


def batch_metrics(res):
    calls = res["calls"]
    cold = [c for c in calls if c["pass"] == 0]
    warm = [c for c in calls if c["pass"] > 0]
    warm_passes = [p for p in res["passes"] if p["pass"] > 0]
    warm_ms = [c["total_s"] * 1e3 for c in warm]
    t, q = tail(warm_ms)
    e2e = {
        "cold_s": sum(c["total_s"] for c in cold),
        "warm_s": median([p["wall_s"] for p in warm_passes]),
        "call_p50_ms": median(warm_ms),
    }
    extra = {"call_tail_ms": t, "call_tail_pct": q, "warm_calls": len(warm),
             "warm_passes": len(warm_passes)}
    attempted = len(calls)
    failed = sum(1 for c in calls if not c["ok"]) + sum(
        1 for c in res["checks"] if not c["ok"] and c["kind"] == "digest")
    return e2e, extra, attempted, failed


def batch_layers(res):
    out = {}
    npass = max(1, len([p for p in res["passes"] if p["pass"] > 0]))
    for m in LAYER_MODULES:
        cs = [c for c in res["calls"] if c["module"] == m]
        cold = [c for c in cs if c["pass"] == 0]
        warm = [c for c in cs if c["pass"] > 0]

        def per_pass(key):
            return sum(c.get(key, 0) for c in warm) / npass
        out[f"{m}.construct_cold_s"] = sum(c.get("construct_s", 0) for c in cold)
        out[f"{m}.construct_warm_s"] = per_pass("construct_s")
        out[f"{m}.plan_s"] = per_pass("plan_s")
        out[f"{m}.exec_s"] = per_pass("exec_s")
        out[f"{m}.jobs"] = per_pass("jobs")
        out[f"{m}.tasks"] = per_pass("tasks")
    warm = [p["spark"] for p in res["passes"] if p["pass"] > 0]
    out.update(spark_layers(warm))
    return out


def spark_layers(warm):
    """Spark totals per warm pass (replay), averaged over the passes."""
    n = max(1, len(warm))
    out = {f"spark.{k}": sum(w[k] for w in warm) / n for k in SPARK_KEYS
           if k != "utilization"}
    wall = sum(w["wall_s"] for w in warm)
    out["spark.utilization"] = sum(
        w["utilization"] * w["wall_s"] for w in warm) / wall if wall else 0.0
    return out


def batches(replay, query=None):
    return [b for q, bs in replay["queries"].items()
            if query in (None, q) for b in bs]


def stream_metrics(res):
    replays = res["replays"]
    cold, warm = replays[0], replays[1:]

    def first_commit_s(r):
        ends = [min(b["start_ms"] + b["dur"].get("triggerExecution", 0)
                    for b in bs if b["in_rows"] > 0)
                for bs in r["queries"].values()
                if any(b["in_rows"] > 0 for b in bs)]
        return (max(ends) - r["start_ms"]) / 1e3 if ends else r["wall_s"]

    # data batches only: each query also runs a no-data batch that
    # evicts state, and pooling the two kinds would put the median on
    # the boundary between them
    trig = [b["dur"].get("triggerExecution", 0) for r in warm
            for b in batches(r) if b["in_rows"] > 0]
    t, q = tail(trig)
    e2e = {
        "cold_s": first_commit_s(cold),
        "warm_s": median([r["wall_s"] for r in warm]),
        "call_p50_ms": median(trig),
    }
    # at the demo's rate each query drains in one micro-batch, so
    # nothing would be left with the first batch excluded: the rate is
    # over the whole warm replay, replay staging included
    extra = {"events_per_s": median(
                 [r["input_rows"] / r["wall_s"] for r in warm]),
             "batch_p50_ms": median(trig), "batch_tail_ms": t,
             "batch_tail_pct": q, "warm_batches": len(trig),
             "warm_replays": len(warm)}
    attempted = sum(len(batches(r)) for r in replays)
    failed = sum(len(batches(r)) or 1 for r in replays if not r["ok"])
    return e2e, extra, attempted, failed


def stream_layers(res):
    replays = res["replays"]
    cold, warm = replays[0], replays[1:]
    every = [b for r in warm for b in batches(r)]

    def med(key, bs=None):
        return median([b["dur"].get(key, 0) for b in (every if bs is None else bs)])
    first = [bs[0] for bs in cold["queries"].values() if bs]
    last = [bs[-1] for r in warm[-1:] for bs in r["queries"].values() if bs]
    out = {
        "sources.v2.latest_offset_ms": median(
            [r["latest_offset_ms"] for r in warm]),
        "sources.v2.first_batch_source_s": max(
            (b["dur"].get("latestOffset", 0) + b["dur"].get("getBatch", 0)
             for b in first), default=0) / 1e3,
        "streaming.query_planning_ms": med("queryPlanning"),
        "streaming.NotifyPipeline.add_batch_ms": med(
            "addBatch", [b for r in warm for b in batches(r, "NotifyPipeline")]),
        "streaming.ContinuousRollup.add_batch_ms": med(
            "addBatch", [b for r in warm for b in batches(r, "ContinuousRollup")]),
        "streaming.wal_commit_ms": med("walCommit"),
        "streaming.batches": median([len(batches(r)) for r in warm]),
        "streaming.state_rows": sum(b["state_rows"] for b in last),
        "streaming.state_mb": sum(b["state_bytes"] for b in last) / MB,
        "streaming.dedup_dropped_rows": median(
            [sum(b["dropped_dups"] for b in batches(r, "NotifyPipeline"))
             for r in warm]),
    }
    out.update(spark_layers([r["spark"] for r in warm]))
    return out


E2E_UNITS = {"setup_s": "s", "cold_s": "s", "warm_s": "s",
             "call_p50_ms": "ms", "disk_mb": "MB"}


def layer_unit(name):
    for suffix, unit in (("_rows_per_s", "rows/s"), ("_ms", "ms"), ("_s", "s"),
                         ("_mb", "MB"), ("utilization", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


def per_layer_names():
    names = [f"{m}.{k}" for m in LAYER_MODULES for k in (
        "construct_cold_s", "construct_warm_s", "plan_s", "exec_s", "jobs",
        "tasks")]
    names += ["Tables.stamp_ms", "Tables.cached_count_cold_ms",
              "Tables.cached_count_warm_ms"]
    names += KERNELS + STREAM_LAYER + [f"spark.{k}" for k in SPARK_KEYS]
    return names


# ---------------------------------------------------------------- main

def main():
    # a terminated run still stops and reaps its JVM (run_jvm's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SPEC["workloads"]))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", help="input scale under perfbench/data "
                    "(default: the workload's own, see workloads.json)")
    a = ap.parse_args()
    t_start = time.time()
    root = os.getcwd()
    spec = SPEC["workloads"][a.workload]
    a.sf = a.sf or spec["data"]
    try:
        cp = build(root)
    except BenchError as e:
        log(str(e))
        return 2
    deadline = time.time() + RUN_BUDGET_S
    data = os.path.join(BENCH, "data", a.sf)
    expected = os.path.join(BENCH, "expected", a.sf + ".json")
    for p in [data] + ([expected] if spec["kind"] == "batch" else []):
        if not os.path.exists(p):
            log(f"missing {p}")
            return 2

    run_root = os.path.join(root, ".bench_run",
                            f"{a.workload}-{a.seed}-{os.getpid()}")
    if os.path.exists(run_root) and os.listdir(run_root):
        log(f"temp root {run_root} is not empty")
        return 2
    work, own = os.path.join(run_root, "work"), os.path.join(run_root, "own")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.makedirs(own)
    cpus, heap, load0 = cpu_count(), heap_size(), load_avg()
    jiffies0 = cpu_jiffies()
    jlog = os.path.join(own, "jvm.log")
    try:
        setup = []
        for i in range(SPEC["setup_runs"] - 1):
            o = os.path.join(own, f"setup{i}.json")
            rc = run_jvm(java_cmd(cp, heap, tmp, {
                "mode": "setup", "root": work, "own": own, "cpus": cpus,
                "out": o}), jlog, deadline)
            if rc != 0:
                raise BenchError(f"set-up JVM exited {rc}")
            setup.append(json.load(open(o))["setup_s"])
        # the workload's own input copy, so its file stamps are cold
        inp = os.path.join(run_root, "input")
        shutil.copytree(data, inp)
        args = {"mode": spec["kind"], "root": work, "own": own, "cpus": cpus,
                "data": inp, "seed": a.seed, "seconds": a.seconds,
                "trace": a.trace, "out": os.path.join(own, "result.json")}
        if spec["kind"] == "batch":
            args.update(slots=slot_arg(spec), expected=expected)
        else:
            args.update(events_per_trigger=spec["events_per_trigger"],
                        dup_share=spec["dup_share"])
        rc = run_jvm(java_cmd(cp, heap, tmp, args), jlog, deadline)
        if not os.path.exists(args["out"]):
            raise BenchError(f"harness exited {rc} without a result")
        res = json.load(open(args["out"]))
        setup.append(res["setup_s"])
        # read after the JVM has exited and Spark has removed its own
        # scratch files
        disk_mb = program_mb(work)
    except BenchError as e:
        log(str(e))
        if os.path.exists(jlog):
            sys.stderr.write("".join(open(jlog).readlines()[-30:]))
        return 1
    finally:
        shutil.rmtree(run_root, ignore_errors=True)

    if "error" in res:
        log(f"harness error: {res['error']}")
    if spec["kind"] == "batch":
        e2e, extra, attempted, failed = batch_metrics(res) if "calls" in res \
            else ({}, {}, 1, 1)
        layers = batch_layers(res) if a.trace and "calls" in res else {}
    else:
        e2e, extra, attempted, failed = stream_metrics(res) if "replays" in res \
            else ({}, {}, 1, 1)
        layers = stream_layers(res) if a.trace and "replays" in res else {}
    if not res.get("ok") and failed == 0:
        failed = 1
    e2e["setup_s"] = median(setup)
    e2e["disk_mb"] = disk_mb
    if a.trace:
        layers.update({f"Tables.{k}": v for k, v in res.get("tables", {}).items()})
        layers.update(res.get("kernels", {}))
        metrics = {n: {"value": layers.get(n, 0), "unit": layer_unit(n)}
                   for n in per_layer_names()}
    else:
        metrics = {n: {"value": e2e.get(n, 0), "unit": u}
                   for n, u in E2E_UNITS.items()}
    correct = failed == 0 and bool(res.get("ok"))
    summary = {"correct": correct, "attempted": attempted, "failed": failed,
               "metrics": metrics}

    artifact = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "sf": a.sf, "cpus": cpus, "heap": heap,
        "load_avg_start": load0, "load_avg_end": load_avg(),
        "steal_share": steal_share(jiffies0),
        "wall_s": time.time() - t_start, "setup_samples_s": setup,
        "end_to_end": e2e, "extra": extra,
        "failed_ratio": failed / max(1, attempted),
        "pinned_mb": res.get("pinned_mb"),
        "heap_live_mb": res.get("heap_live_mb"), "per_layer": layers,
        "summary": summary,
        "checks": res.get("checks") or [c for r in res.get("replays", [])
                                        for c in r["checks"]],
    }
    artifact["calls"] = res.get("calls")
    artifact["replays"] = res.get("replays")
    outdir = os.path.join(root, ".bench_out")
    os.makedirs(outdir, exist_ok=True)
    with open(os.path.join(outdir, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"),
              "w") as f:
        json.dump(artifact, f, indent=1)
    for c in artifact["checks"] or []:
        if not c["ok"]:
            log(f"check failed: {json.dumps(c)[:300]}")
    for c in res.get("calls", []):
        if not c["ok"]:
            log(f"call failed: {c['slot']} pass {c['pass']}: {c.get('error')}")
    print(json.dumps(summary))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
