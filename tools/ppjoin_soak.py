"""PPJoin deep soak with stage attribution (VERDICT r9 item 4).

Extends the ``ppjoin_jaccard`` soak ladder one rung deeper (5k → 320k
docs, 64×) under the r9 warm-rung protocol — warm the codegen class
before timing, best-of-2 per rung with cache-clear + JVM GC settle
between runs — and attributes wall growth between the two stages that
can grow differently:

  - CANDIDATES: shingle build → df rank → prefix trim → pruned
    prefix self-join → distinct pair ids (`_ppjoin_candidates`)
  - VERIFY: candidates ⋈ shingle arrays (twice) → in-row exact
    Jaccard membership (the tail of `jaccard_join_exact`)

The verify time is reported as (full − candidates) of the SAME warm
rung: the full run recomputes the candidate stage from the persisted
shingle frame, so the subtraction attributes the marginal cost of the
two array joins + in-row intersection.

Run SOLO (exclusive-box rule — any concurrent Spark work corrupts the
rungs):   python tools/ppjoin_soak.py [--quick] > /tmp/ppjoin_soak.log
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

from data_engineer_task_spark.plans.audit import analyzed_plan, unpartitioned_specs
from data_engineer_task_spark.session import get_spark
from scale_smoke import make_corpus


def _settle(spark) -> None:
    """Full between-RUNG settle: drop every cached frame + GC."""
    spark.catalog.clearCache()
    spark._jvm.System.gc()


def _gc_only(spark) -> None:
    """Between-REP settle INSIDE a rung: GC, but keep the rung's
    persisted docs/shingle frames cached — clearCache here would
    unpersist the shared base, making rep 2 (and the full-stage runs)
    silently rebuild the corpus from lineage and corrupting the
    t_full − t_cand attribution (code-review r10 finding 1: the first
    soak take did exactly that)."""
    spark._jvm.System.gc()


def _audit(df, label: str) -> None:
    specs = unpartitioned_specs(analyzed_plan(df))
    if specs:
        raise AssertionError(f"{label}: unpartitioned window: {specs}")
    phys = df._jdf.queryExecution().executedPlan().toString()
    if "Exchange SinglePartition" in phys:
        raise AssertionError(f"{label}: SinglePartition exchange")
    if "CartesianProduct" in phys:
        raise AssertionError(f"{label}: cartesian product")


def _best_of(k: int, spark, fn):
    best, rows = math.inf, None
    for _ in range(k):
        t0 = time.perf_counter()
        rows = fn()
        best = min(best, time.perf_counter() - t0)
        _gc_only(spark)
    return best, rows


def main() -> None:
    from data_engineer_task_spark.operators.dedup import (
        _ppjoin_candidates,
        jaccard_join_exact,
        shingle_set,
    )

    quick = "--quick" in sys.argv
    ladder = (5_000, 20_000) if quick else (5_000, 20_000, 80_000, 320_000)
    spark = get_spark("ppjoin-soak", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))

    # warm the codegen classes once at the smallest scale (r9 protocol:
    # the first execution of each whole-stage class pays JIT, which
    # otherwise lands entirely on the first rung and flattens alpha)
    warm = make_corpus(spark, ladder[0]).repartition(32).persist()
    wsets = shingle_set(warm, "doc_id", "text", shingle_k=3).persist()
    wsets.count()
    _ppjoin_candidates(wsets, "doc_id", 0.5).count()
    jaccard_join_exact(warm, "doc_id", "text", threshold=0.5).count()
    _settle(spark)
    warm.unpersist()

    results = []
    for n in ladder:
        docs = make_corpus(spark, n).repartition(32).persist()
        docs.count()
        # the shingle frame is shared state in the operator; build it
        # once per rung so both stage timings sit on the same base
        sets = shingle_set(docs, "doc_id", "text", shingle_k=3).persist()
        sets.count()

        cand_df = _ppjoin_candidates(sets, "doc_id", 0.5)
        _audit(cand_df, f"candidates@{n}")
        t_cand, n_cand = _best_of(2, spark, cand_df.count)

        full_df = jaccard_join_exact(
            docs, "doc_id", "text", threshold=0.5, shingle_sets=sets
        )
        _audit(full_df, f"full@{n}")
        t_full, n_pairs = _best_of(2, spark, full_df.count)

        results.append(
            {
                "n_docs": n,
                "t_cand": round(t_cand, 2),
                "t_full": round(t_full, 2),
                "t_verify": round(t_full - t_cand, 2),
                "candidates": n_cand,
                "pairs": n_pairs,
            }
        )
        print(
            f"n={n}: cand {t_cand:.1f}s ({n_cand} pairs) "
            f"full {t_full:.1f}s ({n_pairs} matches) "
            f"verify {t_full - t_cand:+.1f}s",
            flush=True,
        )
        sets.unpersist()
        docs.unpersist()
        _settle(spark)

    def alpha(key: str) -> float:
        xs = [math.log(r["n_docs"]) for r in results]
        ys = [math.log(max(r[key], 1e-3)) for r in results]
        mx, my = sum(xs) / len(xs), sum(ys) / len(ys)
        return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sum(
            (x - mx) ** 2 for x in xs
        )

    print("\n| n_docs | cand (s) | full (s) | verify (s) | candidates | pairs |")
    print("|---|---|---|---|---|---|")
    for r in results:
        print(
            f"| {r['n_docs']:,} | {r['t_cand']} | {r['t_full']} "
            f"| {r['t_verify']} | {r['candidates']:,} | {r['pairs']:,} |"
        )
    summary = {
        "alpha_full": round(alpha("t_full"), 3),
        "alpha_cand": round(alpha("t_cand"), 3),
        "alpha_candidates_count": round(alpha("candidates"), 3),
        "rungs": results,
    }
    print(json.dumps({"ppjoin_soak": summary}))


if __name__ == "__main__":
    main()
