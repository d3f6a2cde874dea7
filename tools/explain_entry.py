"""Dump `.explain("formatted")` for named declared entries to stdout or
files — the optimization round's plan-evidence capture (guide §1:
measure first; the judge checks plan claims against committed
plans/r10/<query>_{before,after}.txt).

Usage:
    python tools/explain_entry.py entry_a entry_b ...          # stdout
    python tools/explain_entry.py --out plans/r10 --suffix before entry_a
    python tools/explain_entry.py --all --out plans/r10 --suffix before

Plans are captured at $SPARK_GRAFT_SF_DIR (default sf0.1) WITHOUT
executing the query (explain is plan-only), so this is cheap; entries
whose python builds run driver jobs (persist+count materialization)
still pay those.

What it writes is masked so two dumps diff cleanly: expression ids
(``#123``) become ``#N``, exchange ids (``plan_id=123``) become
``plan_id=N`` and the random ``stream_replay_*`` temp-dir names of the
streaming entries become ``stream_replay_*``.
"""

from __future__ import annotations

import argparse
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_engineer_task_spark.plans.analytics import QUERIES  # noqa: E402
from data_engineer_task_spark.session import get_spark  # noqa: E402

_EXPR_ID = re.compile(r"#\d+")
_PLAN_ID = re.compile(r"plan_id=\d+")
_REPLAY_DIR = re.compile(r"stream_replay_[^/\s,\]\)]+")


def mask(text: str) -> str:
    """The plan text with its run-to-run noise masked."""
    text = _PLAN_ID.sub("plan_id=N", _EXPR_ID.sub("#N", text))
    return _REPLAY_DIR.sub("stream_replay_*", text)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("entries", nargs="*")
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--out", default=None, help="directory for per-entry files")
    ap.add_argument("--suffix", default="plan", help="file suffix (before/after)")
    args = ap.parse_args()
    names = list(QUERIES) if args.all else args.entries
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        raise SystemExit(f"unknown entries: {unknown}")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("explain")
    for name in names:
        df = QUERIES[name](spark, sf_dir)
        text = mask(
            df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
        )
        if args.out:
            os.makedirs(args.out, exist_ok=True)
            path = os.path.join(args.out, f"{name}_{args.suffix}.txt")
            with open(path, "w") as f:
                f.write(text)
            print(f"wrote {path}")
        else:
            print(f"===== {name} =====")
            print(text)
        spark.catalog.clearCache()
        for t in spark.catalog.listTables():
            if t.isTemporary:
                spark.catalog.dropTempView(t.name)


if __name__ == "__main__":
    main()
