"""Full-inventory oracle parity at sf1 (100× the driver's gate scale).

r8 proved 8 heavy families at sf1 and r9/r10 stamped their new
entries; this tool attempts the WHOLE inventory, with a per-entry
budget on the DuckDB side (a watchdog thread calls
``con.interrupt()``): entries whose ORACLES are cost-bound at sf1
(recursive closures, unrolled k-means, brute-force pair scans) are
recorded as ``oracle_budget`` skips — a documented exclusion, not a
silent one (the no-silent-caps house rule). The Spark side runs
unbudgeted (every entry is bench-bounded at sf0.1; 10× data stays
minutes at worst).

Run SOLO (exclusive-box rule):
    python tools/parity_sf1.py [--budget 120] > /tmp/parity_sf1.log
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
sys.path.insert(0, os.path.join(_REPO, "tests"))
os.environ.setdefault("SPARK_GRAFT_SF_DIR", os.path.join(_REPO, ".sf1data"))

from data_engineer_task_spark.plans.analytics import ORACLE, QUERIES
from data_engineer_task_spark.session import get_spark
from oracle_harness import compare, duck_connection

SF_DIR = os.environ["SPARK_GRAFT_SF_DIR"]


def main() -> None:
    budget = 120.0
    for i, a in enumerate(sys.argv):
        if a == "--budget" and i + 1 < len(sys.argv):
            budget = float(sys.argv[i + 1])

    spark = get_spark(
        "parity-sf1", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    )
    passed, failed, budgeted, errored = [], [], [], []
    t_all = time.perf_counter()
    for name in sorted(ORACLE):
        con = duck_connection(SF_DIR)
        hit = threading.Event()

        def _kill() -> None:
            hit.set()
            con.interrupt()

        timer = threading.Timer(budget, _kill)
        timer.start()
        t0 = time.perf_counter()
        try:
            rep = compare(QUERIES[name](spark, SF_DIR), con, ORACLE[name], name)
            (passed if rep["ok"] else failed).append(name)
            if not rep["ok"]:
                print(f"FAIL {name}: {rep}", flush=True)
        except Exception as exc:
            if hit.is_set():
                budgeted.append(name)
            else:
                errored.append(name)
                print(f"ERROR {name}: {exc!r}"[:300], flush=True)
        finally:
            timer.cancel()
            con.close()
            spark.catalog.clearCache()
        print(
            f"{name}: {'BUDGET' if name in budgeted else 'ok' if name in passed else 'BAD'}"
            f" {time.perf_counter() - t0:.1f}s",
            flush=True,
        )
    print(
        json.dumps(
            {
                "sf1_sweep": {
                    "passed": len(passed),
                    "failed": failed,
                    "errored": errored,
                    "oracle_budget": budgeted,
                    "total_s": round(time.perf_counter() - t_all, 1),
                }
            }
        )
    )


if __name__ == "__main__":
    main()
