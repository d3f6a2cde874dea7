"""Self-test for the benchmark runner, at sf0.001 and a small seed.

Checks, without a Spark session, that every workload operation still
resolves in ``QUERIES`` and has a committed fingerprint at each scale;
then runs every workload untraced and traced through ``run.py`` and
checks that the result line carries exactly the metric names and units
``BENCHMARK.json`` declares, with every output verified. Run from the
repository root:

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import run
import workloads


def main() -> int:
    sys.path.insert(0, run.ROOT)
    from data_engineer_task_spark.plans.analytics import QUERIES

    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    with open(os.path.join(run.HERE, "fingerprints.json")) as f:
        fps = json.load(f)
    problems = []
    for wl, names in workloads.QUERY_WORKLOADS.items():
        problems += [f"{wl}: {n} not in QUERIES" for n in names if n not in QUERIES]
        problems += [f"{wl}: no sf{sf} fingerprint for {n}"
                     for sf in fps for n in names if n not in fps[sf]]
    if [w["name"] for w in bench["workloads"]] != workloads.WORKLOADS:
        problems.append(f"BENCHMARK.json workloads != {workloads.WORKLOADS}")

    for wl in workloads.WORKLOADS:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            cmd = [sys.executable, os.path.join(run.HERE, "run.py"), "--workload", wl,
                   "--seed", "3", "--seconds", "1", "--trace", str(trace),
                   "--sf", "0.001", "--netflix-rows", "500"]
            proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
            tag = f"{wl} trace={trace}"
            if proc.returncode != 0:
                problems.append(f"{tag}: exit {proc.returncode}: {proc.stderr[-2000:]}")
                continue
            res = json.loads(proc.stdout.strip().splitlines()[-1])
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            want = {m["name"]: m["unit"] for m in bench[key]}
            if got != want:
                problems.append(f"{tag}: metrics {got} != BENCHMARK.json {key} {want}")
            if not (res["correct"] and res["failed"] == 0 and res["attempted"] >= 1):
                problems.append(f"{tag}: {res['failed']}/{res['attempted']} operations failed")
            print(f"{tag}: ok={got == want} attempted={res['attempted']} "
                  f"failed={res['failed']}", flush=True)

    for p in problems:
        print("SELFTEST FAILED:", p)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
