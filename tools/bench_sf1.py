"""One-time sf1-scale bench of the heavy declared families (VERDICT r6
item 4): at sf0.1 every top entry is dispatch-dominated (~1 s/query
floor), so real perf work is invisible in BENCH_DETAIL. This tool
materializes a deterministic 10×-sf0.1 dataset ("sf1") and times the
heavy families against it, giving later rounds a bench where
improvements actually move the needle — and doubling as scale
evidence.

Synthesis (no rand(); re-runs identical): every table is the sf0.1
table unioned with 9 key-offset replicas (stride 10^7 keeps every id
space disjoint and every FK consistent — orders/lineitem/customer/
part/supplier offsets move together).

 - documents: replica r > 0 prefixes every token with ``r{r}`` — the
   replica vocabularies are DISJOINT, so no shingle ever matches
   across replicas and the corpus is 10 independent copies of the
   base near-dup/exact-dup structure (clean linear scale-up of real
   workload shape, not a planted mega-cluster); n_chars recomputed.
 - embeddings: replica r rotates the vector by r dims (norms and
   pairwise-distance distribution preserved, neighbor sets changed).
 - events: event_id/user_id offset (10× users, same per-user history).

Run on demand (not part of pytest, not the driver bench):

    python tools/bench_sf1.py               # build (first run) + bench
    python tools/bench_sf1.py --rebuild     # force dataset rebuild
    python tools/bench_sf1.py --reps 3      # min-of-3 timed passes

``--reps N`` (VERDICT r7 item 6): the timed pass repeats N times warm
in the same session and the table reports the MIN plus the observed
spread — single-pass sf1 numbers were measured swinging 2-3x on
code-untouched heavies (JIT/GC transients on this box,
BASELINE.md sf1 caveat), so round-over-round comparisons should use
min-of-N, which converges on the code-determined floor.

Output: a markdown table (paste into BASELINE.md) + one JSON line.
Plan notes are recorded per entry: UW = analyzed plan contains an
unpartitioned ordered window (allowlisted domain-bounded frames
excepted by the same census as the plan gate), 1P = physical plan
contains an Exchange SinglePartition (legitimate for scalar-output
entries — noted, not failed).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

from pyspark.sql import functions as F  # noqa: E402

from data_engineer_task_spark.plans.analytics import QUERIES  # noqa: E402
from data_engineer_task_spark.plans.audit import (  # noqa: E402
    analyzed_plan,
    unpartitioned_specs,
)
from data_engineer_task_spark.session import get_spark  # noqa: E402
from data_engineer_task_spark.sources.catalog import load_table  # noqa: E402

SRC = "/root/testdata/sf0.1"
DST = os.path.join(_REPO, ".sf1data")
STRIDE = 10_000_000
REPLICAS = 10

# The r6 top-10 heaviest (BENCH_DETAIL) + the r7 additions.
FAMILIES = [
    "near_dup_clusters_twophase",
    "embedding_semantic_dedup_survivors",
    "quality_dup_interaction",
    "curation_pipeline_survivors",
    "curation_keepbest_survivors",
    "doc_jaccard_join_exact",
    "embedding_semantic_dup_pairs",
    "order_acctbal_spearman",
    "embedding_ivfpq_topk",
    "event_kmv_user_days",
    "brand_copurchase_triangles",
    "stream_running_user_totals",
    # late-r7 sketch/IVM additions
    "event_user_hll_distinct",
    "rolling_weekly_hll_users",
    "orders_incremental_join_merge",
    "lineitem_selfjoin_size_cms",
]


def _replicate(spark, table: str, r: int):
    """Replica r of a table with disjoint, FK-consistent key offsets."""
    df = load_table(spark, SRC, table)
    off = F.lit(r * STRIDE)
    if table in ("region", "nation"):
        return df if r == 0 else None
    if table == "documents":
        if r == 0:
            return df
        text = F.array_join(
            F.transform(
                F.split("text", " "), lambda t: F.concat(F.lit(f"r{r}"), t)
            ),
            " ",
        )
        return df.select(
            (F.col("doc_id") + off).alias("doc_id"),
            text.alias("text"),
            "lang",
            "source",
            F.length(text).cast("long").alias("n_chars"),
        )
    if table == "embeddings":
        if r == 0:
            return df
        # rotate by r dims (r = 1..9, vectors are 64-dim, so every
        # replica's rotation is distinct — a modulo here once made
        # replicas 1 and 9 bit-identical, planting bogus corpus-wide
        # exact duplicates; code-review r7)
        k = r
        rot = F.concat(
            F.expr(f"slice(embedding, {k + 1}, size(embedding) - {k})"),
            F.expr(f"slice(embedding, 1, {k})"),
        )
        return df.select(
            (F.col("vec_id") + off).alias("vec_id"),
            rot.alias("embedding"),
            "label",
        )
    if table == "events":
        return df.select(
            (F.col("event_id") + off).alias("event_id"),
            "ts",
            (F.col("user_id") + off).alias("user_id"),
            "event_type",
            "value",
            "props",
        )
    keymap = {
        "orders": ["o_orderkey", "o_custkey"],
        "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
        "customer": ["c_custkey"],
        "supplier": ["s_suppkey"],
        "part": ["p_partkey"],
    }
    out = df
    for k in keymap[table]:
        out = out.withColumn(k, F.col(k) + off)
    return out


def build(spark) -> None:
    os.makedirs(DST, exist_ok=True)
    for table in [
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
        "events",
        "documents",
        "embeddings",
    ]:
        parts = [
            p
            for r in range(REPLICAS)
            if (p := _replicate(spark, table, r)) is not None
        ]
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        df.write.mode("overwrite").parquet(os.path.join(DST, f"{table}.parquet"))
        n = spark.read.parquet(os.path.join(DST, f"{table}.parquet")).count()
        print(f"built {table}: {n} rows", flush=True)


def main() -> None:
    reps = 1
    if "--reps" in sys.argv:
        i = sys.argv.index("--reps")
        if i + 1 >= len(sys.argv) or not sys.argv[i + 1].isdigit():
            raise SystemExit("--reps needs a positive integer, e.g. --reps 3")
        reps = int(sys.argv[i + 1])
        if reps < 1:
            raise SystemExit("--reps needs a positive integer, e.g. --reps 3")
    spark = get_spark("bench-sf1")
    if "--rebuild" in sys.argv and os.path.isdir(DST):
        shutil.rmtree(DST)
    if not os.path.isdir(os.path.join(DST, "documents.parquet")):
        print("materializing sf1 dataset (10x sf0.1)...", flush=True)
        build(spark)

    def _settle() -> None:
        spark.catalog.clearCache()
        for t in spark.catalog.listTables():
            if t.isTemporary:
                spark.catalog.dropTempView(t.name)
        spark._jvm.System.gc()

    results = []
    for name in FAMILIES:
        fn = QUERIES[name]
        # warmup (codegen/JIT + any one-time staging, e.g. the stream
        # entry's 4-file source rewrite) at the SAME sf1 dir, so the
        # timed pass is steady-state and run-to-run comparable —
        # bench.py's methodology. The clock starts BEFORE fn() is
        # called: many entries do their heavy work eagerly at build
        # time (persist+count of candidate sets, k-means training
        # collects, the streaming drive), so timing only .collect()
        # would measure a cached tail.
        fn(spark, DST).collect()
        _settle()
        times = []
        for _ in range(reps):
            t0 = time.perf_counter()
            df = fn(spark, DST)
            rows = len(df.collect())
            times.append(time.perf_counter() - t0)
            _settle()
        notes = []
        if unpartitioned_specs(analyzed_plan(df)):
            notes.append("UW")
        phys = df._jdf.queryExecution().executedPlan().toString()
        if "Exchange SinglePartition" in phys:
            notes.append("1P")
        results.append(
            {
                "name": name,
                "sec": round(min(times), 2),
                "max_sec": round(max(times), 2),
                "rows": rows,
                "notes": ",".join(notes) or "-",
            }
        )
        print(
            f"{name}: min {min(times):.2f}s / max {max(times):.2f}s of "
            f"{reps} ({rows} rows) [{results[-1]['notes']}]",
            flush=True,
        )

    print(f"\n| entry | sf1 wall (s, min of {reps}) | max | rows | plan notes |")
    print("|---|---|---|---|---|")
    for r in results:
        print(
            f"| {r['name']} | {r['sec']} | {r['max_sec']} | {r['rows']} "
            f"| {r['notes']} |"
        )
    print()
    print(
        json.dumps(
            {
                "metric": "sf1_heavy_families_sec",
                "value": round(sum(r["sec"] for r in results), 2),
                "unit": "sec",
                "queries": {r["name"]: r["sec"] for r in results},
                "reps": reps,
                "sf": 1,
            }
        )
    )


if __name__ == "__main__":
    main()
