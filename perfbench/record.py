#!/usr/bin/env python3
"""Record the expected results the benchmark's correctness gate checks.

Usage (from the root of a graft checkout):

    python3 perfbench/record.py [--sf sf0.01]

Runs every slot of every batch workload once in a fresh JVM and writes
perfbench/expected/<sf>.json: the row count of each slot, and for each slot
with oracle SQL (SparkEntry.oracleSql) an order-independent digest of its
result. Before a digest is written, the slot's result is cross-checked
against DuckDB running the oracle SQL on the same tables, by
tools/check.py; a mismatch stops the recording. Re-record only when a
slot's output is meant to change.
"""
import argparse
import json
import os
import shutil
import sys

import run

# the DuckDB compare of graft's own dev tooling
sys.path.insert(0, os.path.join(os.getcwd(), "tools"))
import check  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", help="input scale (default: the batch "
                    "workloads' own)")
    a = ap.parse_args()
    batch = [w for w in run.SPEC["workloads"].values() if w["kind"] == "batch"]
    a.sf = a.sf or batch[0]["data"]
    root = os.getcwd()
    cp = run.build(root)
    data = os.path.join(run.BENCH, "data", a.sf)
    run_root = os.path.join(root, ".bench_run", f"record-{os.getpid()}")
    work = os.path.join(run_root, "work")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    slots = ",".join(run.slot_arg(w) for w in batch)
    out = os.path.join(run_root, "result.json")
    try:
        rc = run.run_jvm(run.java_cmd(cp, run.heap_size(), tmp, {
            "mode": "record", "root": work, "own": run_root,
            "cpus": run.cpu_count(), "data": data, "slots": slots, "out": out}),
            os.path.join(run_root, "jvm.log"), float("inf"))
        res = json.load(open(out))
        if rc != 0 or not res.get("ok"):
            sys.exit(f"record run failed: {res.get('error')}")
        dump = os.path.join(run_root, "dump")
        with open(os.path.join(dump, "oracle_sql.json"), "w") as f:
            json.dump(res["oracle_sql"], f)
        if check.main(data, dump) != 0:
            sys.exit("DuckDB cross-check failed")
        exp = res["expected"]
        path = os.path.join(run.BENCH, "expected", a.sf + ".json")
        with open(path, "w") as f:
            f.write("{\n" + ",\n".join(
                f' "{k}": {json.dumps(exp[k], separators=(", ", ": "))}'
                for k in sorted(exp)) + "\n}\n")
        print(f"{len(exp)} slots recorded, {len(res['oracle_sql'])} digests "
              f"cross-checked against DuckDB -> {path}")
    finally:
        shutil.rmtree(run_root, ignore_errors=True)


if __name__ == "__main__":
    main()
