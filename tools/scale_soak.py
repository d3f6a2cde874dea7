"""Scale soak (VERDICT r5 item 2): MEASURE how the heavy operator
families grow with data, instead of arguing it from plan shape alone.

Each family runs at three synthetic scales spanning 16× (deterministic
hash-arithmetic corpora — no rand(), so re-runs are comparable), and
the tool fits the wall-time scaling exponent

    t(n) ≈ c · n^alpha   →   alpha = least-squares slope of log t vs log n

A near-linear family shows alpha ≲ 1.2 on a fixed-core box (sub-1
values mean fixed overhead still dominates at these sizes); a
super-linear alpha flags a pair-blowup / single-task funnel the plan
gates didn't catch. Every family's result frame is also plan-audited
at every scale: no unpartitioned ordered window may appear, and no
Exchange SinglePartition outside the final scalar aggregate we add
ourselves — a plan that "gains" a single-task stage as data grows
fails loudly here.

Run on demand (minutes, not part of pytest):

    python tools/scale_soak.py            # default scale ladder
    python tools/scale_soak.py --quick    # 4× ladder for smoke

Output: a markdown table (paste into SCALING.md's measured-growth
section) plus one JSON line for tooling.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

from pyspark.sql import functions as F

from data_engineer_task_spark.plans.audit import analyzed_plan, unpartitioned_specs
from data_engineer_task_spark.session import get_spark
from scale_smoke import make_corpus


def _physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# Families whose OPERATOR ends in a scalar aggregate: the one
# SinglePartition exchange in their plan carries a provably bounded
# frame (cms_join_size: ≤ depth=4 per-row inner products — the sketch
# grid is fixed-size regardless of input), the same class as the sf1
# bench's allowlisted scalar outputs. Every other family stays under
# the strict no-SinglePartition rule.
_SCALAR_OK = {"cms_join_size"}


def _audit(df, family: str) -> None:
    """No unpartitioned ordered window anywhere; no SinglePartition
    exchange in the RESULT frame's plan (the scalar count we run on
    top is ours and not part of the operator)."""
    specs = unpartitioned_specs(analyzed_plan(df))
    if specs:
        raise AssertionError(f"{family}: unpartitioned window crept in: {specs}")
    phys = _physical_plan(df)
    if "Exchange SinglePartition" in phys and family not in _SCALAR_OK:
        raise AssertionError(
            f"{family}: result plan contains a SinglePartition exchange"
        )


def _docs(spark, n: int):
    return make_corpus(spark, n).repartition(32).persist()


def _embeddings(spark, n: int, d: int = 32):
    vec = F.transform(
        F.sequence(F.lit(1), F.lit(d)),
        lambda j: (
            (F.pmod(F.hash(F.col("id") * 31 + j), 2000) - 1000) / 1000.0
        ).cast("float"),
    )
    return spark.range(n).select(
        F.col("id").alias("vec_id"), vec.alias("embedding")
    ).persist()


def _edges(spark, n: int):
    """Mixed component structure: 80% pseudo-random edges over a node
    universe of n/2 (creates big merged components), 20% long chains
    (worst case for plain propagation, the two-phase escalation's
    reason to exist)."""
    base = spark.range(n)
    nodes = F.lit(max(n // 2, 2))
    u = F.pmod(F.hash(F.col("id") * 7 + 1), nodes)
    v = F.pmod(F.hash(F.col("id") * 13 + 5), nodes)
    chain_u = F.col("id") % (n // 5 or 1)
    is_chain = F.col("id") % 5 == 0
    return base.select(
        F.when(is_chain, chain_u).otherwise(u).cast("long").alias("id_a"),
        F.when(is_chain, chain_u + 1).otherwise(v).cast("long").alias("id_b"),
    ).persist()


def _ranked_rows(spark, n: int, groups: int | None = None):
    cols = [
        F.col("id"),
        F.pmod(F.hash("id"), 100_000).cast("long").alias("key"),
        F.pmod(F.hash(F.col("id") + 7), 10_000).cast("long").alias("cents"),
    ]
    if groups is not None:
        cols.insert(
            1, F.pmod(F.hash(F.col("id") + 3), groups).cast("long").alias("g")
        )
    return spark.range(n).select(*cols).persist()


# ---------------------------------------------------------------------------
# Families: (name, scale ladder, build(spark, n) -> result DataFrame)
# Each returned frame is audited, then counted (the timed action).
# ---------------------------------------------------------------------------


def fam_near_dup(spark, n):
    from data_engineer_task_spark.operators.dedup import near_duplicates

    docs = _docs(spark, n)
    return near_duplicates(docs, "doc_id", "text", threshold=0.5)


def fam_ppjoin_jaccard(spark, n):
    """Exact Jaccard self-join via PPJoin prefix filtering — the
    heaviest *non-composed* declared family and the one with the
    widest measured run-to-run spread (2.1-2.7x warm at sf1); a soak
    row separates its data term from that noise. Candidate count is
    bounded by prefix co-occurrence, never |docs|²."""
    from data_engineer_task_spark.operators.dedup import jaccard_join_exact

    docs = _docs(spark, n)
    return jaccard_join_exact(docs, "doc_id", "text", threshold=0.5)


def fam_multimodal_topk(spark, n):
    """The r8 composed multimodal path (synthesize → Arrow decode →
    metadata filter → Arrow featurize → brute-force cosine top-3 for a
    fixed 40-id query panel): two map-only Arrow stages + one narrow
    semi join + a matmul scan — wall should track the scan, i.e. stay
    near-linear with a fixed query panel."""
    from data_engineer_task_spark.operators.multimodal import (
        decode_media,
        extract_features,
        synthesize_media_column,
    )
    from data_engineer_task_spark.operators.similarity import cosine_topk

    docs = _docs(spark, n)
    media = synthesize_media_column(docs, "doc_id", "text")
    meta = decode_media(media, "doc_id", "media")
    feats = extract_features(media, "doc_id", "media", dim=8)
    kept = feats.join(
        meta.where(F.col("format") != "mp4").select("id"), "id", "left_semi"
    )
    return cosine_topk(kept, "id", "features", query_filter=F.col("id") < 40, k=3)


def fam_two_phase_cc(spark, n):
    from data_engineer_task_spark.operators.graph import connected_components

    return connected_components(_edges(spark, n), strategy="two_phase")


def fam_ivf_pq(spark, n):
    from data_engineer_task_spark.operators.similarity import (
        kmeans_fit,
        pq_encode,
        pq_fit,
    )

    emb = _embeddings(spark, n)
    # training (k-means coarse quantizer + PQ codebooks on a fixed-size
    # sample) runs eagerly here, INSIDE the timed region; the returned
    # frame is the full-corpus map-only PQ encode.
    _centroids, assigned = kmeans_fit(
        emb, "vec_id", "embedding", k=16, n_iters=3
    )
    assigned.count()
    codebooks = pq_fit(
        emb.where(F.col("vec_id") < 2000), "vec_id", "embedding", m=4, k=4
    )
    return pq_encode(emb, "vec_id", "embedding", codebooks)


def fam_bpe(spark, n):
    from data_engineer_task_spark.operators.text import phrase_merge_rounds

    docs = _docs(spark, n)
    _stats, toks = phrase_merge_rounds(
        docs, "doc_id", "text", rounds=4, final_total=False
    )
    return toks


def fam_ordered_prefix(spark, n):
    from data_engineer_task_spark.operators.ranking import (
        RankSpec,
        ordered_prefix_multi,
    )

    rows = _ranked_rows(spark, n)
    return ordered_prefix_multi(
        rows,
        [
            RankSpec("key", ["id"], "r1", {"cum": "cents"}),
            RankSpec("cents", ["id"], "r2"),
        ],
        buckets=64,
    )


def fam_ordered_prefix_part(spark, n):
    """RankSpec.partition_by (per-group two-level rank + prefix sum,
    32 groups — VERDICT r6 item 3's new-family ask): the in-plan
    (group, bucket) offset join must scale like the flat path."""
    from data_engineer_task_spark.operators.ranking import (
        RankSpec,
        ordered_prefix_multi,
    )

    rows = _ranked_rows(spark, n, groups=32)
    return ordered_prefix_multi(
        rows,
        [RankSpec("key", ["id"], "r", {"cum": "cents"}, partition_by=["g"])],
        buckets=64,
    )


def fam_ordered_prefix_groupcount(spark, g):
    """Group-COUNT scaling at fixed 8M rows: the ladder value is the
    number of distinct partition_by groups, not the row count — the
    per-group two-level spelling must stay flat as groups grow (the
    offset frame is groups×buckets rows and the windows only get
    SMALLER). Expected alpha ≈ 0."""
    from data_engineer_task_spark.operators.ranking import (
        RankSpec,
        ordered_prefix_multi,
    )

    rows = _ranked_rows(spark, 8_000_000, groups=g)
    return ordered_prefix_multi(
        rows,
        [RankSpec("key", ["id"], "r", {"cum": "cents"}, partition_by=["g"])],
        buckets=64,
    )


def fam_curation_funnel(spark, n):
    from data_engineer_task_spark.plans.curation import (
        CurationConfig,
        CurationPipeline,
    )

    docs = _docs(spark, n)
    cfg = CurationConfig(min_tokens=10, max_tokens=60, near_dup_threshold=0.5)
    return CurationPipeline(spark, config=cfg).classify(
        docs.select("doc_id", "text")
    )


def fam_curation_keepbest(spark, n):
    """The keep-best × segment-dedup classify() variant (VERDICT r7
    item 4 — the single most expensive declared entry): adds the
    corpus-wide segment rewrite (one window shuffle on seg_hash) and
    the per-cluster keep-longest argmax on top of the base funnel.
    Shingle frames CANNOT be shared with the segment stage: the
    near-dup key is the REWRITTEN text, which only exists after the
    segment window — see SCALING.md's documented rejection."""
    from data_engineer_task_spark.plans.curation import (
        CurationConfig,
        CurationPipeline,
    )

    docs = _docs(spark, n)
    cfg = CurationConfig(
        min_tokens=10,
        max_tokens=60,
        near_dup_threshold=0.5,
        near_dup_keep="best",
        segment_dedup=True,
    )
    return CurationPipeline(spark, config=cfg).classify(
        docs.select("doc_id", "text")
    )


def fam_hll_sketch_fold(spark, n):
    from data_engineer_task_spark.operators.sketch import (
        hll_estimate,
        hll_sketch,
    )

    rows = spark.range(n).select(
        F.pmod(F.hash("id"), 16).cast("long").alias("g"),
        F.pmod(F.hash(F.col("id") + 11), max(n // 4, 1))
        .cast("long")
        .alias("v"),
    )
    sk = hll_sketch(rows, "v", group_cols=("g",))
    return hll_estimate(sk, group_cols=("g",))


def fam_cms_join_size(spark, n):
    from data_engineer_task_spark.operators.sketch import (
        cms_build,
        cms_inner_product,
    )

    # zipf-ish key multiplicity so the F2 mass is skew-dominated,
    # like a real join-size probe
    rows = spark.range(n).select(
        (F.pmod(F.hash("id"), 1000) * F.pmod(F.hash(F.col("id") + 5), 1000))
        .cast("string")
        .alias("token")
    )
    sk = cms_build(rows, "token")
    return cms_inner_product(sk, sk)


FAMILIES = [
    ("lsh_near_dup", (5_000, 20_000, 80_000), fam_near_dup),
    ("ppjoin_jaccard", (5_000, 20_000, 80_000), fam_ppjoin_jaccard),
    ("multimodal_topk", (20_000, 80_000, 320_000), fam_multimodal_topk),
    ("curation_funnel", (5_000, 20_000, 80_000), fam_curation_funnel),
    # 320k rung (VERDICT r8 item 6): the 80k step ratio rose to ~4.0x
    # per 4x docs (locally linear) — one rung deeper confirms it stays
    # <=1 before anything builds on it
    ("curation_keepbest", (5_000, 20_000, 80_000, 320_000), fam_curation_keepbest),
    ("two_phase_cc", (100_000, 400_000, 1_600_000), fam_two_phase_cc),
    ("ivf_pq", (10_000, 40_000, 160_000), fam_ivf_pq),
    ("bpe_merge_rounds", (5_000, 20_000, 80_000), fam_bpe),
    # 64M rung (VERDICT r6 item 3): the one family with a visible data
    # term — confirm no kink one rung past the r6 ladder
    (
        "ordered_prefix",
        (1_000_000, 4_000_000, 16_000_000, 64_000_000),
        fam_ordered_prefix,
    ),
    # 64M rung (VERDICT r7 item 8): the newest family and the closest
    # alpha to the gate (0.91 at 16M) — confirm no kink one rung deeper
    (
        "ordered_prefix_part",
        (1_000_000, 4_000_000, 16_000_000, 64_000_000),
        fam_ordered_prefix_part,
    ),
    # ladder = GROUP COUNT at fixed 8M rows (alpha ≈ 0 expected)
    ("ordered_prefix_groupcount", (64, 512, 4_096), fam_ordered_prefix_groupcount),
    # r7 sketch additions: build is scan-bounded, state is O(m)/O(k)
    ("hll_sketch_fold", (1_000_000, 4_000_000, 16_000_000, 64_000_000), fam_hll_sketch_fold),
    ("cms_join_size", (1_000_000, 4_000_000, 16_000_000), fam_cms_join_size),
]


def _fit_alpha(ns, ts) -> float:
    xs = [math.log(n) for n in ns]
    ys = [math.log(t) for t in ts]
    mx, my = sum(xs) / len(xs), sum(ys) / len(ys)
    num = sum((x - mx) * (y - my) for x, y in zip(xs, ys))
    den = sum((x - mx) ** 2 for x in xs)
    return num / den


def main() -> None:
    quick = "--quick" in sys.argv
    only: set[str] | None = None
    for i, a in enumerate(sys.argv):
        if a == "--only":
            if i + 1 >= len(sys.argv) or sys.argv[i + 1].startswith("--"):
                raise SystemExit(
                    "--only needs a comma-separated family list, e.g. "
                    "--only hll_sketch_fold,cms_join_size"
                )
            only = {s.strip() for s in sys.argv[i + 1].split(",")}
    known = {name for name, _, _ in FAMILIES}
    if only is not None and not only <= known:
        raise SystemExit(f"unknown families: {sorted(only - known)}")
    spark = get_spark("scale-soak")
    results = []
    for name, ladder, build in FAMILIES:
        if only is not None and name not in only:
            continue
        if quick:
            ladder = tuple(n // 4 for n in ladder)
        times, rows = [], []
        # warm-up at the smallest scale: JIT/codegen/cache effects
        # would otherwise inflate the first point and FLATTEN alpha
        spark.catalog.clearCache()
        build(spark, ladder[0]).count()
        spark.catalog.clearCache()
        for n in ladder:
            t0 = time.perf_counter()
            out = build(spark, n)
            _audit(out, name)
            cnt = out.count()
            dt = time.perf_counter() - t0
            spark.catalog.clearCache()
            times.append(dt)
            rows.append(cnt)
            print(f"{name} n={n}: {dt:.1f}s ({cnt} rows)", flush=True)
        alpha = _fit_alpha(ladder, times)
        results.append(
            {
                "family": name,
                "scales": list(ladder),
                "seconds": [round(t, 2) for t in times],
                "rows": rows,
                "alpha": round(alpha, 3),
            }
        )
        print(f"{name}: alpha = {alpha:.3f}", flush=True)

    print("\n| family | scales | wall (s) | alpha |")
    print("|---|---|---|---|")
    for r in results:
        scales = " / ".join(f"{s:,}" for s in r["scales"])
        secs = " / ".join(f"{t:.1f}" for t in r["seconds"])
        print(f"| {r['family']} | {scales} | {secs} | **{r['alpha']}** |")
    print()
    print(json.dumps({"soak": results}))
    bad = [r for r in results if r["alpha"] > 1.2]
    if bad:
        raise SystemExit(
            f"superlinear families: {[r['family'] for r in bad]}"
        )


if __name__ == "__main__":
    main()
