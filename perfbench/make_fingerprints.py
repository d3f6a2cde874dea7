"""Regenerate ``fingerprints.json``: the expected result of every query
operation in the benchmark, per scale of the generated tables.

An entry with a DuckDB oracle (``ORACLE[name]``) is fingerprinted from
the oracle's result on the same generated parquet; the Spark result is
computed too and any disagreement is printed (and recorded as
``"spark_matches_oracle": false``), never papered over. An entry
without an oracle is fingerprinted from the Spark result of the commit
this script runs on. Run from the repository root:

    python3 perfbench/make_fingerprints.py --sf 0.01 0.001
"""

from __future__ import annotations

import argparse
import json
import os
import sys

import gen_tables
import run
import workloads
from workloads import fingerprint


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--sf", type=float, nargs="+", default=[0.01, 0.001])
    a = ap.parse_args()
    run._isolate()
    run.add_package_paths()
    from data_engineer_task_spark.plans.analytics import ORACLE, QUERIES
    from oracle_harness import duck_connection
    from data_engineer_task_spark.session import get_spark

    path = os.path.join(run.HERE, "fingerprints.json")
    out = json.load(open(path)) if os.path.exists(path) else {}
    spark = get_spark("perfbench-fingerprints", cpus=os.cpu_count(), extra_conf={
        "spark.driver.memory": f"{run._driver_mem_mb()}m",
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
    })
    try:
        for sf in a.sf:
            sf_dir = gen_tables.ensure(os.path.join(run.WORK, "data"), sf)
            con = duck_connection(sf_dir)
            fps = {}
            for name in sorted(n for ns in workloads.QUERY_WORKLOADS.values() for n in ns):
                df = QUERIES[name](spark, sf_dir)
                got = fingerprint([tuple(r) for r in df.collect()], list(df.columns))
                spark.catalog.clearCache()
                entry = {**got, "source": "spark"}
                if name in ORACLE:
                    res = con.execute(ORACLE[name])
                    want = fingerprint(res.fetchall(), [d[0] for d in res.description])
                    entry = {**want, "source": "oracle", "spark_matches_oracle": got == want}
                    if got != want:
                        print(f"sf{sf} {name}: spark {got} != oracle {want}", file=sys.stderr)
                fps[name] = entry
                print(f"sf{sf} {name}: {entry}", flush=True)
            out[str(sf)] = fps
    finally:
        run._shutdown(spark)
    with open(path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
