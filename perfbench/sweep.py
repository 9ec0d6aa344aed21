#!/usr/bin/env python3
"""Run the benchmark over several seeds and summarise its steadiness.

Usage (from the root of a graft checkout):

    python3 perfbench/sweep.py --seeds 10 [--workloads a,b] [--traced] \
        [--out perfbench/results]

For each workload: --seeds untraced runs (seeds 1..N), then with --traced
one traced run (seed 1). Writes <out>/untraced.json with every run's
end-to-end metrics and, per metric, the median and the spread (interquartile
range over median, from statistics.quantiles(n=4)) against the bound in
BENCHMARK.json; and <out>/traced_<workload>.json, the traced artifact with
the tracing overhead: each end-to-end metric of the traced run over the
untraced median, minus one.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)
import run  # noqa: E402


def one(workload, seed, seconds, trace):
    r = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    path = os.path.join(os.getcwd(), ".bench_out",
                        f"{workload}-seed{seed}-trace{trace}.json")
    if r.returncode != 0 or not os.path.exists(path):
        sys.stderr.write(r.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed} trace {trace}: exit {r.returncode}")
    return json.load(open(path))


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values) if med else float("inf")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--workloads")
    ap.add_argument("--traced", action="store_true")
    ap.add_argument("--out", default=os.path.join(BENCH, "results"))
    a = ap.parse_args()
    bench = json.load(open("BENCHMARK.json"))
    names = [w["name"] for w in bench["workloads"]]
    if a.workloads:
        names = a.workloads.split(",")
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    os.makedirs(a.out, exist_ok=True)
    summary_path = os.path.join(a.out, "untraced.json")
    summary = json.load(open(summary_path)) if os.path.exists(summary_path) else {}
    for w in names:
        runs = [one(w, s, bench["run_seconds"], 0) for s in range(1, a.seeds + 1)]
        rows = {m: [r["end_to_end"][m] for r in runs] for m in bounds}
        summary[w] = {
            "seconds": bench["run_seconds"],
            "cpus": runs[0]["cpus"], "heap": runs[0]["heap"],
            "load_avg_start": [r["load_avg_start"] for r in runs],
            "steal_share": [round(r["steal_share"], 3) for r in runs],
            "run_wall_s": [round(r["wall_s"], 1) for r in runs],
            "correct": all(r["summary"]["correct"] for r in runs),
            "metrics": {m: {"median": statistics.median(v), "spread": spread(v),
                            "bound": bounds[m], "values": v}
                        for m, v in rows.items()},
            "extra": {k: statistics.median(r["extra"][k] for r in runs)
                      for k in runs[0]["extra"]},
        }
        for m, s in summary[w]["metrics"].items():
            flag = "" if m == "setup_s" or s["spread"] < s["bound"] / 3 else "  <-- wide"
            print(f"{w:18s} {m:14s} median {s['median']:10.3f} "
                  f"spread {s['spread']:.3f} bound {s['bound']}{flag}")
        with open(summary_path, "w") as f:
            json.dump(summary, f, indent=1)
        if a.traced:
            t = one(w, 1, bench["run_seconds"], 1)
            t["tracing_overhead"] = {
                m: t["end_to_end"][m] / summary[w]["metrics"][m]["median"] - 1
                for m in bounds if summary[w]["metrics"][m]["median"]}
            with open(os.path.join(a.out, f"traced_{w}.json"), "w") as f:
                json.dump(t, f, indent=1)
            print(f"{w:18s} tracing overhead on warm_s "
                  f"{t['tracing_overhead'].get('warm_s', 0):+.3f}")
    run.log(f"wrote {summary_path}")


if __name__ == "__main__":
    main()
