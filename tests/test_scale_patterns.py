"""Scale-pattern proofs: bucketed co-located joins (no shuffle) and
salted joins (skew), plus the as-of join operator's semantics."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_engineer_task_spark.operators.asof import as_of_join
from data_engineer_task_spark.operators.skew import salted_join
from data_engineer_task_spark.sources.catalog import load_table

from conftest import SF_SMOKE


def test_bucketed_join_avoids_shuffle(spark):
    """Two tables bucketed on the join key must sort-merge-join with no
    Exchange on either side — the co-location contract that removes the
    dominant shuffle at 100 TB."""
    orders = load_table(spark, SF_SMOKE, "orders")
    li = load_table(spark, SF_SMOKE, "lineitem").withColumnRenamed(
        "l_orderkey", "o_orderkey"
    )
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").mode(
        "overwrite"
    ).saveAsTable("b_orders")
    li.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").mode(
        "overwrite"
    ).saveAsTable("b_lineitem")

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("b_orders").join(spark.table("b_lineitem"), "o_orderkey")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan[:2000]
        assert joined.count() == li.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_salted_join_matches_plain_join(spark):
    # one hot key (90% of rows) + a tail
    big = spark.range(0, 10000).select(
        F.when(F.col("id") % 10 < 9, F.lit(1)).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("payload"),
    )
    small = spark.createDataFrame(
        [(1, "hot"), (15, "cold"), (25, "cold2")], ["k", "label"]
    )
    plain = plain_rows = sorted(
        (r["k"], r["payload"], r["label"])
        for r in big.join(small, "k").collect()
    )
    salted = sorted(
        (r["k"], r["payload"], r["label"])
        for r in salted_join(big, small, "k", n_salts=4).collect()
    )
    assert salted == plain


def test_as_of_join_semantics(spark):
    left = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", "p1"),
         (1, "2024-01-01 12:00:00", "p2"),
         (2, "2024-01-01 09:00:00", "p3")],
        ["uid", "ts_s", "tag"],
    ).select("uid", F.to_timestamp("ts_s").alias("ts"), "tag")
    right = spark.createDataFrame(
        [(1, "2024-01-01 09:30:00"),
         (1, "2024-01-01 10:00:00"),   # equal ts → inclusive match for p1
         (1, "2024-01-01 11:59:00"),
         (2, "2024-01-01 10:00:00")],  # AFTER p3 → no match
        ["uid", "ts_s"],
    ).select("uid", F.to_timestamp("ts_s").alias("ts"))

    out = {r["tag"]: r["ts_asof"] for r in
           as_of_join(left, right, "uid").collect()}
    assert str(out["p1"]) == "2024-01-01 10:00:00"  # inclusive at equality
    assert str(out["p2"]) == "2024-01-01 11:59:00"  # most recent prior
    assert out["p3"] is None                        # nothing at-or-before


def test_bounded_range_join_matches_theta_join(spark):
    from data_engineer_task_spark.operators.rangejoin import bounded_range_join

    left = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", "a"), (1, "2024-01-01 12:00:00", "b"),
         (2, "2024-01-01 09:00:00", "c")],
        ["uid", "ts_s", "tag"],
    ).select("uid", F.to_timestamp("ts_s").alias("ts"), "tag")
    right = spark.createDataFrame(
        [(1, "2024-01-01 09:31:00"), (1, "2024-01-01 09:29:59"),
         (1, "2024-01-01 10:00:00"), (1, "2024-01-01 11:58:00"),
         (2, "2024-01-01 09:00:01")],
        ["uid", "ts_s"],
    ).select("uid", F.to_timestamp("ts_s").alias("ts"))

    got = sorted(
        (r["tag"], str(r["ts_r"]))
        for r in bounded_range_join(
            left, right, "uid", lower_s=-1800, upper_s=0
        ).collect()
    )
    naive = sorted(
        (r["tag"], str(r["ts_r"]))
        for r in left.join(
            right.select("uid", F.col("ts").alias("ts_r")), "uid"
        )
        .where(
            F.col("ts_r").between(
                F.col("ts") - F.expr("INTERVAL 1800 SECOND"), F.col("ts")
            )
        )
        .select("tag", "ts_r")
        .collect()
    )
    assert got == naive
    assert got == [
        ("a", "2024-01-01 09:31:00"),
        ("a", "2024-01-01 10:00:00"),
        ("b", "2024-01-01 11:58:00"),
    ]

    left_out = bounded_range_join(
        left, right, "uid", lower_s=-1800, upper_s=0, how="left"
    )
    tags = sorted(r["tag"] for r in left_out.collect())
    assert tags == ["a", "a", "b", "c"]  # c unmatched but kept


def test_char_shingles_row_local(spark):
    from data_engineer_task_spark.operators.text import char_shingles_from_text

    df = spark.createDataFrame([(1, "abcdef"), (2, "abc")], ["id", "text"])
    got = sorted(
        (r["id"], r["pos"], r["shingle"])
        for r in char_shingles_from_text(df, "id", "text", k=4).collect()
    )
    assert got == [(1, 1, "abcd"), (1, 2, "bcde"), (1, 3, "cdef")]
    # zero Exchange: shingling must not shuffle
    plan = (
        char_shingles_from_text(df, "id", "text", k=4)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan


def test_kmeans_separates_blobs_deterministically(spark):
    from data_engineer_task_spark.operators.similarity import kmeans_fit

    # 3 tight blobs far apart in 4-d; ids interleaved across blobs
    import random

    rng = random.Random(7)
    centers = [[0.0, 0.0, 0.0, 0.0], [10.0, 10.0, 0.0, 0.0], [0.0, 0.0, 10.0, 10.0]]
    rows = []
    for i in range(60):
        c = centers[i % 3]
        rows.append((i, [x + rng.uniform(-0.5, 0.5) for x in c]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])

    def run():
        cents, assigned = kmeans_fit(df, "vec_id", "embedding", k=3, n_iters=5)
        return cents, {r["vec_id"]: r["cluster"] for r in assigned.collect()}

    cents1, asg1 = run()
    cents2, asg2 = run()
    assert cents1 == cents2 and asg1 == asg2  # bitwise deterministic
    # every blob lands wholly in one cluster, and blobs in different ones
    blob_of = {i: i % 3 for i in range(60)}
    cluster_by_blob = {}
    for vid, cl in asg1.items():
        cluster_by_blob.setdefault(blob_of[vid], set()).add(cl)
    assert all(len(s) == 1 for s in cluster_by_blob.values())
    assert len({s.pop() for s in cluster_by_blob.values()}) == 3


def test_dynamic_partition_pruning_on_partitioned_fact(spark, tmp_path):
    """A fact table partitioned on the join key must be pruned at
    RUNTIME by the dim-side filter (DPP): the scan's partition filter
    carries a dynamicpruning subquery, so a 100 TB fact reads only the
    partitions the filtered dimension selects."""
    fact_dir = str(tmp_path / "orders_by_priority")
    orders = load_table(spark, SF_SMOKE, "orders")
    orders.write.partitionBy("o_orderpriority").mode("overwrite").parquet(fact_dir)

    dim = spark.createDataFrame(
        [("1-URGENT", "hot"), ("5-LOW", "slow")], ["o_orderpriority", "tier"]
    )
    fact = spark.read.parquet(fact_dir)
    joined = fact.join(dim.where(F.col("tier") == "hot"), "o_orderpriority")

    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    want = orders.where(F.col("o_orderpriority") == "1-URGENT").count()
    assert joined.count() == want


def test_bloom_filter_runtime_join_filter(spark):
    """With broadcast off (the shape of a big-big join), the selective
    side must inject a Bloom-filter runtime filter into the probe-side
    scan (might_contain), cutting shuffle input before the join — the
    at-scale substitute for broadcast pruning."""
    saved = {
        "spark.sql.autoBroadcastJoinThreshold": spark.conf.get(
            "spark.sql.autoBroadcastJoinThreshold"
        ),
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": spark.conf.get(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
        ),
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": spark.conf.get(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold"
        ),
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB"
        )
        li = load_table(spark, SF_SMOKE, "lineitem")
        orders = load_table(spark, SF_SMOKE, "orders").where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        joined = li.join(orders, li.l_orderkey == orders.o_orderkey)
        plan = joined._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom" in plan.lower() or "might_contain" in plan.lower(), plan[:2000]
        # answers unchanged by the runtime filter
        want = (
            load_table(spark, SF_SMOKE, "lineitem")
            .join(
                load_table(spark, SF_SMOKE, "orders"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .where(F.col("o_orderpriority") == "1-URGENT")
            .count()
        )
        assert joined.count() == want
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_join_strategy_hints_honored(spark):
    """Hints are the manual override when AQE's estimates are wrong at
    scale: merge → SortMergeJoin, shuffle_hash → ShuffledHashJoin, even
    where broadcast would be the default choice."""
    orders = load_table(spark, SF_SMOKE, "orders")
    nation = load_table(spark, SF_SMOKE, "customer")

    merged = orders.join(nation.hint("merge"), orders.o_custkey == nation.c_custkey)
    assert "SortMergeJoin" in merged._jdf.queryExecution().executedPlan().toString()

    hashed = orders.join(
        nation.hint("shuffle_hash"), orders.o_custkey == nation.c_custkey
    )
    assert "ShuffledHashJoin" in hashed._jdf.queryExecution().executedPlan().toString()


def test_range_partitioned_write_gives_disjoint_sorted_files(spark, tmp_path):
    """repartitionByRange + sortWithinPartitions produces the clustered
    layout parquet min/max skipping needs: every output file covers a
    disjoint, internally-sorted key range."""
    import glob

    out = str(tmp_path / "orders_ranged")
    orders = load_table(spark, SF_SMOKE, "orders")
    (
        orders.repartitionByRange(4, "o_orderkey")
        .sortWithinPartitions("o_orderkey")
        .write.mode("overwrite")
        .parquet(out)
    )
    ranges = []
    for f in glob.glob(f"{out}/part-*.parquet"):
        keys = [r["o_orderkey"] for r in spark.read.parquet(f).collect()]
        assert keys == sorted(keys), f"file {f} not sorted"
        ranges.append((min(keys), max(keys)))
    ranges.sort()
    assert len(ranges) >= 3  # range partitioner actually split
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2, "file key ranges overlap — no skipping possible"


def test_hll_sketch_partial_merge_matches_direct(spark):
    """Mergeable-sketch pattern — the only distinct-count shape that
    scales: per-group HLL sketches (hll_sketch_agg) union-merged
    (hll_union_agg) must estimate the SAME value as sketching the
    whole column directly, and track the exact count within HLL error.
    This is how 100 TB distinct-counts compose across partitions,
    days, or tables without re-scanning raw data."""
    orders = load_table(spark, SF_SMOKE, "orders")

    direct = orders.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("o_custkey")).alias("est")
    ).collect()[0]["est"]
    merged = (
        orders.groupBy("o_orderpriority")
        .agg(F.hll_sketch_agg("o_custkey").alias("sk"))
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
        .collect()[0]["est"]
    )
    exact = orders.select("o_custkey").distinct().count()
    assert merged == direct  # merge of partials ≡ one-shot sketch
    assert abs(merged - exact) / exact < 0.05


def test_approx_sketches_track_exact_within_tolerance(spark):
    """The 100 TB substitutes for exact distinct/quantiles: HLL
    (approx_count_distinct) and KLL-ish percentile_approx must land
    within their documented error bands of the exact answers they
    replace (the exact forms are the oracle-gated entries; the approx
    forms are what actually runs at scale)."""
    orders = load_table(spark, SF_SMOKE, "orders")

    row = orders.agg(
        F.countDistinct("o_custkey").alias("exact_d"),
        F.approx_count_distinct("o_custkey", rsd=0.02).alias("approx_d"),
        F.expr("percentile(o_totalprice, 0.5)").alias("exact_p50"),
        F.expr("percentile_approx(o_totalprice, 0.5, 10000)").alias("approx_p50"),
    ).collect()[0]

    assert abs(row["approx_d"] - row["exact_d"]) / row["exact_d"] < 0.05
    # percentile_approx with accuracy=10000 is near-exact at this scale
    assert abs(row["approx_p50"] - row["exact_p50"]) / row["exact_p50"] < 0.01


def test_as_of_join_cogroup_matches_window_form(spark):
    """The Arrow-cogroup as-of implementation must agree exactly with
    the window-based one on real data (backward, inclusive)."""
    from data_engineer_task_spark.operators.asof import as_of_join_cogroup

    ev = load_table(spark, SF_SMOKE, "events")
    left = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts"
    )
    right = ev.where(F.col("event_type") == "click").select("user_id", "ts")

    key = lambda r: (r["user_id"], r["event_id"])  # noqa: E731
    win = {key(r): r["ts_asof"] for r in as_of_join(left, right, "user_id").collect()}
    cg = {key(r): r["ts_asof"] for r in
          as_of_join_cogroup(left, right, "user_id").collect()}
    assert win == cg and len(win) > 0


def test_as_of_join_cogroup_nearest_and_tolerance(spark):
    """direction='nearest' picks the temporally closer side; tolerance
    bounds the match window — the semantics the window form can't do."""
    from data_engineer_task_spark.operators.asof import as_of_join_cogroup

    left = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", "p1"),   # nearest is +30s after
         (1, "2024-01-01 12:00:00", "p2"),   # nearest is -10min before
         (2, "2024-01-01 09:00:00", "p3")],  # only match is 2h away
        ["uid", "ts_s", "tag"],
    ).select("uid", F.to_timestamp("ts_s").alias("ts"), "tag")
    right = spark.createDataFrame(
        [(1, "2024-01-01 09:58:00"),
         (1, "2024-01-01 10:00:30"),
         (1, "2024-01-01 11:50:00"),
         (2, "2024-01-01 11:00:00")],
        ["uid", "ts_s"],
    ).select("uid", F.to_timestamp("ts_s").alias("ts"))

    near = {r["tag"]: r["ts_asof"] for r in
            as_of_join_cogroup(left, right, "uid", direction="nearest").collect()}
    assert str(near["p1"]) == "2024-01-01 10:00:30"
    assert str(near["p2"]) == "2024-01-01 11:50:00"
    assert str(near["p3"]) == "2024-01-01 11:00:00"

    bounded = {r["tag"]: r["ts_asof"] for r in
               as_of_join_cogroup(left, right, "uid", direction="nearest",
                                  tolerance="30 minutes").collect()}
    assert str(bounded["p1"]) == "2024-01-01 10:00:30"
    assert bounded["p3"] is None  # 2h gap exceeds tolerance


def test_cms_estimate_never_underestimates(spark):
    """The CMS one-sided guarantee: every estimate >= the true count,
    and row-wise counter totals all equal the stream length."""
    from data_engineer_task_spark.operators.sketch import cms_build, cms_estimate

    docs = load_table(spark, SF_SMOKE, "documents")
    tokens = docs.select(F.explode(F.split("text", " ")).alias("token"))
    truth = tokens.groupBy("token").agg(F.count(F.lit(1)).alias("true_cnt"))

    sketch = cms_build(tokens, "token", depth=4).cache()
    est = cms_estimate(sketch, truth, "token", depth=4).collect()
    assert len(est) > 20  # sf0.001 docs carry a ~30-token vocabulary
    assert all(r["cms_est"] >= r["true_cnt"] for r in est)

    n_stream = tokens.count()
    row_totals = [r["t"] for r in
                  sketch.groupBy("j").agg(F.sum("c").alias("t")).collect()]
    assert row_totals == [n_stream] * 4
    sketch.unpersist()


def test_cms_partial_merge_matches_oneshot(spark):
    """Sketches built from disjoint partial counts merged cell-wise must
    equal the one-shot sketch — the distributable-rollup contract."""
    from data_engineer_task_spark.operators.sketch import (
        cms_build,
        cms_merge,
        cms_estimate,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    tokens = docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    whole = cms_build(tokens, "token")
    halves = cms_merge(
        cms_build(tokens.where("doc_id % 2 = 0"), "token"),
        cms_build(tokens.where("doc_id % 2 = 1"), "token"),
    )
    cells = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
    assert cells(whole) == cells(halves)


def test_cms_merge_mixed_depth_stays_one_sided(spark):
    """ADVICE r8: merging MIXED-depth shards must not leave partial-mass
    depth rows (only the deeper shard contributed at j >= min depth)
    that a later min_j estimate could UNDERESTIMATE from. cms_merge
    trims the merged sketch to the covered-by-all j domain, so the
    result is a clean min-depth sketch: every estimate stays >= truth,
    and each surviving depth row carries the full stream mass. Empty
    shards must neither shrink the domain nor add mass."""
    from data_engineer_task_spark.operators.sketch import (
        cms_build,
        cms_estimate,
        cms_merge,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    tokens = docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    truth = tokens.groupBy("token").agg(F.count(F.lit(1)).alias("true_cnt"))

    shallow = cms_build(tokens.where("doc_id % 2 = 0"), "token", depth=4)
    deep = cms_build(tokens.where("doc_id % 2 = 1"), "token", depth=8)
    merged = cms_merge(shallow, deep).cache()

    # trimmed to the common domain: j in [0, 4) only
    assert sorted(r["j"] for r in merged.select("j").distinct().collect()) == [0, 1, 2, 3]
    # every surviving depth row carries the FULL stream mass
    n_stream = tokens.count()
    row_totals = [r["t"] for r in
                  merged.groupBy("j").agg(F.sum("c").alias("t")).collect()]
    assert row_totals == [n_stream] * 4
    # and the one-sided estimate contract holds through the merge
    est = cms_estimate(merged, truth, "token", depth=4).collect()
    assert est and all(r["cms_est"] >= r["true_cnt"] for r in est)
    merged.unpersist()

    # an EMPTY shard (no rows at any j) is a no-op for both the domain
    # and the mass
    empty = cms_build(tokens.where("doc_id < 0"), "token", depth=4)
    with_empty = cms_merge(shallow, empty)
    cells = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
    assert cells(with_empty) == cells(shallow)


def test_cms_merge_rejects_disjoint_depth_domains(spark):
    """ADVICE r9: inputs whose j domains are DISJOINT (not cms_build
    outputs — e.g. one sketch filtered to j=0, another to j=1) would
    merge into all-partial-mass rows the coverage trim cannot
    distinguish from a clean min-depth domain; every later min_j
    estimate could underestimate. The merge must fail loudly at
    execution instead of degrading the one-sided contract."""
    import pytest

    from data_engineer_task_spark.operators.sketch import cms_build, cms_merge

    docs = load_table(spark, SF_SMOKE, "documents")
    tokens = docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    base = cms_build(tokens, "token", depth=2).cache()
    try:
        only_j0 = base.where("j = 0")
        only_j1 = base.where("j = 1")
        with pytest.raises(Exception, match="disjoint depth-row domains"):
            cms_merge(only_j0, only_j1).collect()
    finally:
        base.unpersist()


def test_zorder_write_clusters_both_dimensions(spark, tmp_path):
    """Z-order layout must give file-level min/max locality on BOTH
    clustering columns — the property that makes footer-stats skipping
    work for predicates on either dimension, where a 1-D sort layout
    only clusters its sort key (every file straddles the other dim)."""
    import glob

    from data_engineer_task_spark.sources.parquet import zorder_write

    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    zdir, ldir = str(tmp_path / "zord"), str(tmp_path / "linear")
    zorder_write(orders, zdir, ["o_custkey", "o_totalprice"], n_files=16)
    (
        orders.repartitionByRange(16, "o_custkey")
        .sortWithinPartitions("o_custkey")
        .write.mode("overwrite")
        .parquet(ldir)
    )

    def overlap_fraction(dirname: str, col: str) -> float:
        """Mean fraction of files a 10%-wide slice predicate touches."""
        spans = []
        for f in glob.glob(f"{dirname}/part-*.parquet"):
            r = (
                spark.read.parquet(f)
                .agg(F.min(col).alias("mn"), F.max(col).alias("mx"))
                .collect()[0]
            )
            spans.append((float(r["mn"]), float(r["mx"])))
        lo = min(s[0] for s in spans)
        hi = max(s[1] for s in spans)
        hits = []
        for k in range(10):
            a = lo + (hi - lo) * k / 10
            b = lo + (hi - lo) * (k + 1) / 10
            hits.append(sum(1 for mn, mx in spans if mn <= b and mx >= a))
        return sum(hits) / (10 * len(spans))

    # z-order: BOTH dims localized — a thin slice touches well under
    # the whole fileset on each axis
    assert overlap_fraction(zdir, "o_custkey") < 0.6
    assert overlap_fraction(zdir, "o_totalprice") < 0.6
    # the 1-D layout clusters its sort key tightly…
    assert overlap_fraction(ldir, "o_custkey") < 0.3
    # …but the second dimension straddles essentially every file
    assert overlap_fraction(ldir, "o_totalprice") > 0.9


def test_ivf_topk_exact_recall_on_blobs(spark):
    """On well-separated blobs, IVF search probing 2 cells must return
    exactly the brute-force cosine top-k, deterministically — the
    recall contract of the inverted-list pruning."""
    import random

    from data_engineer_task_spark.operators.similarity import ivf_topk, kmeans_fit

    rng = random.Random(11)
    # axis-aligned blobs away from the origin: L2 cells == cosine
    # neighborhoods (a blob AT the origin has no cosine direction)
    centers = [[10.0, 0.0, 0.0, 0.0], [0.0, 10.0, 0.0, 0.0], [0.0, 0.0, 10.0, 10.0]]
    rows = [
        (i, [x + rng.uniform(-0.5, 0.5) for x in centers[i % 3]])
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    centroids, assigned = kmeans_fit(df, "vec_id", "embedding", k=3, n_iters=5)

    queries = [(qid, rows[qid][1]) for qid in (0, 1, 2)]
    got = {
        (r["query_id"], r["rank"]): r["vec_id"]
        for r in ivf_topk(assigned, centroids, queries, "vec_id",
                          k=5, nprobe=2).collect()
    }
    again = {
        (r["query_id"], r["rank"]): r["vec_id"]
        for r in ivf_topk(assigned, centroids, queries, "vec_id",
                          k=5, nprobe=2).collect()
    }
    assert got == again  # deterministic ranking

    # brute force oracle in numpy
    import numpy as np

    M = np.asarray([v for _, v in rows], dtype=np.float64)
    nrm = np.sqrt((M * M).sum(axis=1))
    for qid, qv in queries:
        q = np.asarray(qv)
        sims = np.round((M @ q) / (nrm * np.sqrt(q @ q)), 6)
        order = sorted(range(60), key=lambda i: (-sims[i], i))[:5]
        ivf_ids = [got[(qid, r)] for r in range(1, 6)]
        assert ivf_ids == order, (qid, ivf_ids, order)


def test_as_of_join_cogroup_null_keys_and_timestamps(spark):
    """SQL ASOF null semantics: null-key or null-ts left rows survive
    unmatched (never crash the merge); null-bearing right rows match
    nothing."""
    from data_engineer_task_spark.operators.asof import as_of_join_cogroup

    left = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", "ok"),
         (None, "2024-01-01 10:00:00", "nullkey"),
         (1, None, "nullts")],
        ["uid", "ts_s", "tag"],
    ).select("uid", F.to_timestamp("ts_s").alias("ts"), "tag")
    right = spark.createDataFrame(
        [(1, "2024-01-01 09:00:00"),
         (None, "2024-01-01 09:30:00"),   # null key: must match nothing
         (1, None)],                       # null ts: must match nothing
        ["uid", "ts_s"],
    ).select("uid", F.to_timestamp("ts_s").alias("ts"))

    out = {r["tag"]: r["ts_asof"] for r in
           as_of_join_cogroup(left, right, "uid").collect()}
    assert str(out["ok"]) == "2024-01-01 09:00:00"
    assert out["nullkey"] is None
    assert out["nullts"] is None
    assert len(out) == 3  # every left row kept


def test_sampling_hashes_are_mutually_independent(spark):
    """Salted hashes: a weighted (or stratified) sample must feed
    hash_split a full train/val/test mix — unsalted prefix hashes made
    every survivor 'train' (low-byte rows only)."""
    from data_engineer_task_spark.operators.sampling import (
        hash_split,
        stratified_hash_sample,
        weighted_hash_sample,
    )

    df = spark.range(0, 4000).select(
        F.col("id").alias("doc_id"), F.lit(10).alias("wt")
    )
    for sample in (
        weighted_hash_sample(df, "doc_id", "wt", rate=0.2),
        stratified_hash_sample(df, "doc_id", fraction=0.2),
    ):
        splits = {
            r["split"]
            for r in hash_split(sample, "doc_id").select("split").distinct().collect()
        }
        assert splits == {"train", "val", "test"}


def test_connected_components_deep_chain_two_phase_fallback(spark):
    """VERDICT r2 next-8: a chain deeper than max_iters no longer
    fails — min-label propagation (O(diameter) sweeps) hands off to
    the large-star/small-star two-phase variant (O(log n) rounds),
    which must converge and produce the identical min-label fixpoint.
    Two disjoint chains pin that components stay separate."""
    from data_engineer_task_spark.operators.graph import connected_components

    edges = [(i, i + 1) for i in range(10)]          # chain 0..10
    edges += [(100 + i, 100 + i + 1) for i in range(8)]  # chain 100..108
    chain = spark.createDataFrame(edges, ["id_a", "id_b"])
    # max_iters=2 cannot converge a diameter-10 chain -> fallback path
    labels = {
        r["node"]: r["cluster"]
        for r in connected_components(
            chain, max_iters=2, driver_threshold=0
        ).collect()
    }
    assert labels == {i: 0 for i in range(11)} | {
        100 + i: 100 for i in range(9)
    }
    # the same chain on the (equivalent) union-find path —
    # full distributed convergence is exercised at 3-4 sweeps by the
    # near_dup_clusters pipeline
    uf = connected_components(chain, max_iters=15, driver_threshold=10**6)
    assert {r["cluster"] for r in uf.collect()} == {0, 100}


def test_two_phase_cc_matches_union_find_on_random_graph(spark):
    """The two-phase variant must agree with the exact union-find on
    an arbitrary (deterministically generated) multi-component graph
    with merges, triangles, and high-id roots."""
    from data_engineer_task_spark.operators.graph import (
        _driver_union_find,
        _two_phase_cc,
    )
    from pyspark.sql import functions as F2

    edges = []
    for g in range(7):  # 7 components with varied shapes
        base = g * 50
        edges += [(base + (j * 7) % 13, base + (j * 11) % 13) for j in range(20)]
    df = (
        spark.createDataFrame(edges, ["u", "v"])
        .where(F2.col("u") != F2.col("v"))
        .persist()
    )
    want = {
        r["node"]: r["cluster"] for r in _driver_union_find(df).collect()
    }
    got = {r["node"]: r["cluster"] for r in _two_phase_cc(df).collect()}
    assert got == want


def test_two_phase_cc_labels_self_loop_only_nodes(spark):
    """A node appearing ONLY in self-loop edges must still come back
    labeled (node, node) from the two-phase fallback — the u != v
    canonicalization drops it from the star forest, but the contract
    ('nodes = every id appearing on either side') matches the
    union-find and propagation paths (ADVICE r3)."""
    from data_engineer_task_spark.operators.graph import (
        _driver_union_find,
        _two_phase_cc,
    )

    edges = [(1, 2), (2, 3), (7, 7), (9, 9), (9, 9), (3, 3)]
    df = spark.createDataFrame(edges, ["u", "v"]).persist()
    want = {r["node"]: r["cluster"] for r in _driver_union_find(df).collect()}
    got = {r["node"]: r["cluster"] for r in _two_phase_cc(df).collect()}
    assert got == want
    assert got[7] == 7 and got[9] == 9 and got[3] == 1


def test_as_of_join_payload_is_atomic_per_matched_row(spark):
    """Carried value columns must come from THE matched right row: a
    NULL value on the matched row stays NULL (no older row's value
    leaking under the newer timestamp), and a right row with NULL ts
    never phantom-fills."""
    from data_engineer_task_spark.operators.asof import (
        as_of_join,
        as_of_join_cogroup,
    )

    left = spark.createDataFrame(
        [(1, "2024-01-01 10:00:03", "p")], ["uid", "ts_s", "tag"]
    ).select("uid", F.to_timestamp("ts_s").alias("ts"), "tag")
    right = spark.createDataFrame(
        [(1, "2024-01-01 10:00:01", "A"),
         (1, "2024-01-01 10:00:02", None),   # matched row: NULL value
         (1, None, "PHANTOM")],              # null ts: must never match
        ["uid", "ts_s", "v"],
    ).select("uid", F.to_timestamp("ts_s").alias("ts"), "v")

    for impl in (as_of_join, as_of_join_cogroup):
        row = impl(left, right, "uid", right_value_cols=["v"]).collect()[0]
        assert str(row["ts_asof"]) == "2024-01-01 10:00:02", impl.__name__
        assert row["v_asof"] is None, impl.__name__  # NOT 'A', NOT 'PHANTOM'


def test_approx_top_k_matches_exact_at_test_scale(spark):
    """approx_top_k is the at-scale substitute for exact top-k token /
    heavy-hitter queries (sketch-mergeable, bounded memory). With the
    tracked-item budget far above the true cardinality it must be
    EXACT — pinned here so the substitution is a drop-in at small SF
    and a bounded-error sketch only when cardinality explodes."""
    ev = load_table(spark, SF_SMOKE, "events")
    approx = ev.agg(
        F.expr("approx_top_k(event_type, 3, 1000)").alias("tk")
    ).select(F.explode("tk").alias("e")).select("e.*").collect()
    exact = (
        ev.groupBy("event_type")
        .count()
        .orderBy(F.desc("count"), F.asc("event_type"))
        .limit(3)
        .collect()
    )
    # set-compare: ordering of equal counts is unspecified in the sketch
    assert {(r["item"], r["count"]) for r in approx} == {
        (r["event_type"], r["count"]) for r in exact
    }


def test_journey_block_cardinality_grows_with_users(spark):
    """VERDICT r1 §wrong-1: user_journey_edit_distance must block on a
    key whose cardinality GROWS with user count — a constant-block key
    makes within-block pairing O(n²). Pins the 4-char journey prefix:
    distinct block values must rise when the user population doubles,
    and the realized candidate-pair count must stay far below the
    all-pairs count."""
    ev = load_table(spark, SF_SMOKE, "events").select(
        "user_id",
        "event_id",
        F.substring("event_type", 1, 1).alias("ch"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    seq = ev.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("us", "event_id", "ch"))),
                lambda x: x["ch"],
            ),
            "",
        ).alias("full_j")
    )
    j = seq.select(
        "user_id", F.substring("full_j", 1, 4).alias("pfx")
    ).cache()
    try:
        n_users = j.count()
        half = j.where(F.col("user_id") % 2 == 0)
        blocks_half = half.select("pfx").distinct().count()
        blocks_full = j.select("pfx").distinct().count()
        assert blocks_full > blocks_half, (
            "block-key cardinality must grow with the user population"
        )
        pair_count = (
            j.groupBy("pfx")
            .count()
            .agg(F.sum(F.col("count") * (F.col("count") - 1) / 2))
            .collect()[0][0]
        )
        all_pairs = n_users * (n_users - 1) / 2
        assert pair_count < all_pairs / 4, (
            f"blocking must prune most pairs: {pair_count} vs {all_pairs}"
        )
    finally:
        j.unpersist()


def test_linkage_candidates_linear_in_customers(spark):
    """VERDICT r1 §wrong-2: customer_linkage_scores generates
    candidates by sorted neighborhood (each record pairs with its next
    W=3 sort neighbors), so the pair count is bounded by n·W — LINEAR
    in customers, not n²/blocks. Pins the bound by running the real
    entry and counting pairs it scored."""
    from data_engineer_task_spark.plans.analytics import QUERIES

    out = QUERIES["customer_linkage_scores"](spark, SF_SMOKE)
    n_pairs = out.agg(F.sum("n_pairs")).collect()[0][0]
    n_cust = load_table(spark, SF_SMOKE, "customer").count()
    assert n_pairs <= 3 * n_cust, (
        f"sorted-neighborhood pair count {n_pairs} exceeds 3·n ({3 * n_cust})"
    )
    assert n_pairs > 0


def test_lsh_hot_bucket_cap_bounds_candidates(spark):
    """VERDICT r1 next-9: adversarial fixture — a corpus slice of
    near-identical documents collapses into ONE LSH band bucket, whose
    self-join is O(bucket²). With max_bucket_size set, the salted
    split must (a) bound realized candidates far below bucket²/2,
    (b) keep every sub-bucket under a size cap so no task goes
    quadratic, and (c) leave normal-bucket candidates untouched."""
    from data_engineer_task_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    n = 200
    # 200 identical docs → identical signatures → one degenerate
    # bucket per band; plus 2 normal docs that pair only together.
    rows = [(i, "the same boilerplate text every time") for i in range(n)]
    rows += [(1000, "rare unique pair alpha beta"), (1001, "rare unique pair alpha beta")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = minhash_signatures(df, "doc_id", "text", n_hashes=8, shingle_k=3)

    uncapped = lsh_candidate_pairs(sigs, "doc_id").count()
    assert uncapped >= n * (n - 1) / 2  # the quadratic blow-up is real

    capped_df = lsh_candidate_pairs(sigs, "doc_id", max_bucket_size=20)
    capped = capped_df.count()
    # id-keyed salt → the SAME ceil(200/20)=10-way split in every
    # band, so the degenerate bucket contributes ≈ 10·C(~20,2) ≈ 1.9k
    # pairs total (md5 spread makes sub-buckets ~uniform) — an order
    # of magnitude under C(200,2)=19900, and LINEAR in n at fixed max.
    assert capped < uncapped / 4, (capped, uncapped)
    assert capped <= 10 * (2 * 20) * (2 * 20 - 1) / 2 + 1, capped
    # the normal pair must survive the cap
    assert capped_df.where(
        (F.col("id_a") == 1000) & (F.col("id_b") == 1001)
    ).count() == 1
    # determinism: salted split is md5-keyed, not rand()
    assert capped_df.count() == capped


def test_lsh_match_against_hot_bucket_cap(spark):
    """ADVICE r2: the incremental query×corpus path gets the same
    hot-bucket cap as the self-join — a degenerate band value massed
    in BOTH corpus and batch must not go quadratic. The corpus-side
    bucket size fixes the split modulus on both sides, so each query
    doc meets ~max corpus docs per band; normal matches survive."""
    from data_engineer_task_spark.operators.dedup import (
        lsh_match_against,
        minhash_signatures,
    )

    n_c, n_q = 200, 50
    corpus = [(i, "the same boilerplate text every time") for i in range(n_c)]
    corpus += [(900, "rare unique pair alpha beta")]
    batch = [(10_000 + i, "the same boilerplate text every time") for i in range(n_q)]
    batch += [(10_900, "rare unique pair alpha beta")]
    cdf = spark.createDataFrame(corpus, "doc_id long, text string")
    qdf = spark.createDataFrame(batch, "doc_id long, text string")
    csigs = minhash_signatures(cdf, "doc_id", "text", n_hashes=8, shingle_k=3)
    qsigs = minhash_signatures(qdf, "doc_id", "text", n_hashes=8, shingle_k=3)

    uncapped = lsh_match_against(csigs, qsigs, "doc_id").count()
    assert uncapped >= n_q * n_c  # the quadratic blow-up is real

    capped_df = lsh_match_against(csigs, qsigs, "doc_id", max_bucket_size=20)
    capped = capped_df.count()
    # ceil(200/20)=10-way corpus split with the SAME modulus salting
    # the query side: each query doc lands in one sub-bucket and meets
    # ~20 corpus docs instead of 200 — bounded by n_q · 2·max (+ the
    # normal pair), far under n_q · n_c.
    assert capped < uncapped / 4, (capped, uncapped)
    assert capped <= n_q * (2 * 20) + 1, capped
    # the normal cross match must survive the cap
    assert (
        capped_df.where(
            (F.col("id_q") == 10_900) & (F.col("id_c") == 900)
        ).count()
        == 1
    )
    # determinism: md5-keyed salt, not rand()
    assert capped_df.count() == capped


def test_clustered_similar_pairs_matches_brute_force(spark):
    """SemDeDup's within-cluster gram kernel must agree with an
    explicit per-pair cosine: same pairs, same rounded similarity —
    and must emit NO cross-cluster pairs (the scale contract: pair
    work is bounded by the cluster partition)."""
    import itertools

    import numpy as np

    from data_engineer_task_spark.operators.similarity import (
        clustered_similar_pairs,
    )

    rng = np.random.default_rng(7)
    rows = []
    for i in range(40):
        v = rng.normal(size=8)
        rows.append((i, [float(x) for x in v], int(i % 3)))
    df = spark.createDataFrame(rows, ["vec_id", "_v", "cluster"])
    got = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in clustered_similar_pairs(
            df, "vec_id", threshold=0.2
        ).collect()
    }
    want = {}
    by_cluster = {}
    for i, v, c in rows:
        by_cluster.setdefault(c, []).append((i, np.asarray(v)))
    for mem in by_cluster.values():
        for (ia, va), (ib, vb) in itertools.combinations(sorted(mem), 2):
            cs = float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb)))
            cs = np.sign(cs) * np.floor(abs(cs) * 1e5 + 0.5) / 1e5
            if cs >= 0.2:
                want[(ia, ib)] = cs
    assert got == want
    # cross-cluster pairs are structurally impossible
    assert all((a % 3) == (b % 3) for a, b in got)


def test_cos_to_centroid_matches_manual(spark):
    """cos2c must be the rounded cosine of each vector to ITS OWN
    cluster centroid (the SemDeDup survivor criterion)."""
    import numpy as np

    from data_engineer_task_spark.operators.similarity import cos_to_centroid

    C = [[1.0, 0.0], [0.0, 1.0]]
    rows = [
        (0, [1.0, 0.0], 0),   # cos = 1 to centroid 0
        (1, [1.0, 1.0], 1),   # cos = 1/sqrt(2) to centroid 1
        (2, [-1.0, 0.0], 0),  # cos = -1 to centroid 0
    ]
    df = spark.createDataFrame(rows, ["vec_id", "_v", "cluster"])
    got = {
        r["vec_id"]: r["cos2c"] for r in cos_to_centroid(df, C).collect()
    }
    assert got[0] == 1.0
    assert abs(got[1] - round(1 / np.sqrt(2), 5)) < 1e-9
    assert got[2] == -1.0


def test_dsir_weights_upweight_target_language(spark):
    """The DSIR entry's importance weights must, on average, rank the
    target slice (lang='en') above every other language — the defining
    property of importance resampling toward a target distribution.
    Checked through the declared entry's own mean_w output."""
    from data_engineer_task_spark.plans.analytics import QUERIES

    rows = QUERIES["doc_dsir_importance_sample"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    mean_w = {r["lang"]: r["mean_w"] for r in rows}
    others = [w for lang, w in mean_w.items() if lang != "en"]
    assert mean_w["en"] > max(others)
    # weight-proportional acceptance: the en keep-rate must also lead
    rates = {r["lang"]: r["n_kept"] / r["n_docs"] for r in rows}
    assert rates["en"] == max(rates.values())


def test_pca_power_iteration_finds_planted_direction(spark, tmp_path):
    """embedding_pca_top_component must recover a planted dominant
    direction: vectors = spread·e_7 + small noise → top_dim == 7 with
    a large explained-variance share, and the run is deterministic."""
    import random

    from data_engineer_task_spark.plans.embedding import (
        embedding_pca_top_component,
    )

    rng = random.Random(3)
    d = 64
    rows = []
    for i in range(200):
        v = [rng.uniform(-0.01, 0.01) for _ in range(d)]
        v[6] += (i % 21 - 10) * 0.05  # planted variance on dim 7 (1-based)
        rows.append((i, v))
    spark.createDataFrame(rows, ["vec_id", "embedding"]).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "embeddings.parquet"))

    r1 = embedding_pca_top_component(spark, str(tmp_path)).collect()[0]
    r2 = embedding_pca_top_component(spark, str(tmp_path)).collect()[0]
    assert r1 == r2  # deterministic
    assert r1["top_dim"] == 7
    assert r1["explained_frac"] > 0.9
    assert r1["top_loading"] > 0.99


def test_kmv_sketch_merge_matches_one_shot(spark):
    """KMV merge contract: per-shard sketches folded with kmv_merge
    must equal the one-shot sketch of the combined input EXACTLY
    (hash sets, not just estimates) — the property that lets 100 TB
    distinct-counts compose across shards/days without re-scanning.
    Estimate must track the exact count within ~3/sqrt(k-2)."""
    from data_engineer_task_spark.operators.sketch import (
        kmv_estimate,
        kmv_merge,
        kmv_sketch,
    )

    orders = load_table(spark, SF_SMOKE, "orders")
    vals = orders.select(
        F.col("o_custkey").cast("string").alias("v"),
        (F.col("o_orderkey") % 3).alias("shard"),
    )
    k = 32
    one_shot = kmv_sketch(vals, "v", k=k)
    shards = [
        kmv_sketch(vals.where(F.col("shard") == s), "v", k=k)
        for s in range(3)
    ]
    merged = kmv_merge(*shards, k=k)
    assert sorted(r["h"] for r in merged.collect()) == sorted(
        r["h"] for r in one_shot.collect()
    )
    est = kmv_estimate(one_shot, k=k).collect()[0]["kmv_raw"]
    exact = vals.select("v").distinct().count()
    assert abs(est - exact) / exact < 3.0 / (k - 2) ** 0.5
    # run-to-run determinism (md5 ranks, no rand())
    est2 = kmv_estimate(kmv_sketch(vals, "v", k=k), k=k).collect()[0][
        "kmv_raw"
    ]
    assert est == est2


def test_kmv_small_set_is_exact(spark):
    """|distinct| < k ⇒ the sketch IS the value set and the estimate
    is the exact count (the CASE branch both engines spell)."""
    from data_engineer_task_spark.operators.sketch import (
        kmv_estimate,
        kmv_sketch,
    )

    df = spark.createDataFrame(
        [(f"u{i % 7}",) for i in range(100)], ["v"]
    )
    est = kmv_estimate(kmv_sketch(df, "v", k=64), k=64).collect()[0]
    assert est["n_sketch"] == 7
    assert est["kmv_raw"] == 7.0


def test_cms_inner_product_bounds_join_size(spark):
    """CMS join-size contract (Cormode-Muthukrishnan §4.2): the
    inner-product estimate of |A ⋈ B| is ONE-SIDED (est ≥ exact —
    collisions only add mass), tracks the truth within the e/width
    bound, works across a shard merge (sketches built from partial
    counts fold cell-wise first), and when A = B estimates the second
    frequency moment F₂ = Σ f²."""
    from data_engineer_task_spark.operators.sketch import (
        cms_build,
        cms_inner_product,
        cms_merge,
    )

    orders = load_table(spark, SF_SMOKE, "orders")
    a = orders.select(F.col("o_custkey").cast("string").alias("token"))
    b = orders.where(F.col("o_orderpriority") != "1-URGENT").select(
        F.col("o_custkey").cast("string").alias("token"),
        (F.col("o_orderkey") % 2).alias("shard"),
    )
    ska = cms_build(a, "token")
    skb = cms_merge(
        *[cms_build(b.where(F.col("shard") == s), "token") for s in (0, 1)]
    )
    est = cms_inner_product(ska, skb).collect()[0]["cms_est"]
    exact = (
        a.groupBy("token")
        .agg(F.count(F.lit(1)).alias("fa"))
        .join(
            b.groupBy("token").agg(F.count(F.lit(1)).alias("fb")), "token"
        )
        .agg(F.sum(F.col("fa") * F.col("fb")).alias("x"))
        .collect()[0]["x"]
    )
    assert est >= exact  # one-sided, always
    import math

    na, nb = a.count(), b.count()
    assert est - exact <= math.e / 256 * na * nb  # CM bound at w=256
    # A = B → F2: still one-sided and deterministic across rebuilds
    f2a = cms_inner_product(ska, ska).collect()[0]["cms_est"]
    f2b = cms_inner_product(
        cms_build(a, "token"), cms_build(a, "token")
    ).collect()[0]["cms_est"]
    assert f2a == f2b
    exact_f2 = (
        a.groupBy("token")
        .agg(F.count(F.lit(1)).alias("f"))
        .agg(F.sum(F.col("f") * F.col("f")).alias("x"))
        .collect()[0]["x"]
    )
    assert f2a >= exact_f2
    # near-disjoint sketches: a depth row with zero overlapping cells
    # must drive the min to 0 (true join size 0), not be dropped
    tiny_a = cms_build(
        spark.createDataFrame([("xa1",), ("xa2",)], ["token"]), "token"
    )
    tiny_b = cms_build(
        spark.createDataFrame([("yb1",), ("yb2",)], ["token"]), "token"
    )
    assert cms_inner_product(tiny_a, tiny_b).collect()[0]["cms_est"] == 0
    # EMPTY sketch (either side): true join size is 0, never NULL —
    # the [0, depth) spine, not either sketch's rows, drives the min
    empty = cms_build(
        spark.createDataFrame([], "token string"), "token"
    )
    assert cms_inner_product(empty, tiny_b).collect()[0]["cms_est"] == 0
    assert cms_inner_product(tiny_a, empty).collect()[0]["cms_est"] == 0


def test_cms_inner_product_disjoint_shard_merge_fuzz(spark):
    """One-sided ≥ under shard merges with DISJOINT key domains
    (VERDICT r7 #7b): sketches folded from shards that share no keys
    must still satisfy est ≥ exact for every pairing — merge adds
    cell mass from keys the other side never saw, which can only push
    the estimate UP, never below truth. Also pins that mismatched
    BUILD depths stay one-sided now that the spine is derived from
    the sketches' own j domains (the stale-depth hole ADVICE r7
    flagged is structurally gone)."""
    from data_engineer_task_spark.operators.sketch import (
        cms_build,
        cms_inner_product,
        cms_merge,
    )

    def toks(prefix, n, reps):
        return spark.createDataFrame(
            [(f"{prefix}{i % n}",) for i in range(n * reps)], ["token"]
        )

    def exact_join(a, b):
        fa = a.groupBy("token").agg(F.count(F.lit(1)).alias("fa"))
        fb = b.groupBy("token").agg(F.count(F.lit(1)).alias("fb"))
        row = (
            fa.join(fb, "token")
            .agg(F.sum(F.col("fa") * F.col("fb")).alias("x"))
            .collect()[0]["x"]
        )
        return row or 0

    # three shards with pairwise-DISJOINT key domains, skewed reps
    s1, s2, s3 = toks("a", 7, 3), toks("b", 11, 5), toks("c", 4, 13)
    merged = cms_merge(
        cms_build(s1, "token"),
        cms_build(s2, "token"),
        cms_build(s3, "token"),
    )
    union = s1.unionByName(s2).unionByName(s3)
    # merged vs itself (F2), vs a single-shard sketch, vs an
    # overlapping-domain probe side — one-sided in every pairing
    for probe in (union, s2, toks("a", 7, 2).unionByName(toks("z", 5, 1))):
        est = cms_inner_product(merged, cms_build(probe, "token")).collect()[
            0
        ]["cms_est"]
        assert est >= exact_join(union, probe)
    # mismatched build depths: spine = common j rows, still one-sided
    deep = cms_build(union, "token", depth=8)
    shallow = cms_build(union, "token", depth=4)
    est = cms_inner_product(deep, shallow).collect()[0]["cms_est"]
    assert est >= exact_join(union, union)


def test_hll_portable_rho_matches_bit_rank(spark):
    """The portable HLL's hex-string rank derivation (leading-zero
    nibbles + 4-case first-nibble table) must equal the true bit rank
    1 + leading-zeros of the 48-bit window — cross-checked against a
    Python md5 reimplementation, including the register index."""
    import hashlib

    from data_engineer_task_spark.operators.sketch import (
        _HLL_RHO_MAX,
        hll_cols,
    )

    vals = [str(i) for i in range(200)]
    df = spark.createDataFrame([(v,) for v in vals], ["v"])
    reg, rho = hll_cols(F.col("v"))
    got = {
        r["v"]: (r["reg"], r["rho"])
        for r in df.select("v", reg.alias("reg"), rho.alias("rho")).collect()
    }
    for v in vals:
        h = hashlib.md5(("hll:" + v).encode()).hexdigest()
        want_reg = int(h[:2], 16)
        w = int(h[2:14], 16)
        want_rho = _HLL_RHO_MAX if w == 0 else 48 - w.bit_length() + 1
        assert got[v] == (want_reg, want_rho), v


def test_hll_portable_merge_matches_one_shot(spark):
    """HLL merge contract: per-shard register tables folded with
    hll_merge must equal the one-shot register table EXACTLY (max is
    associative/commutative/idempotent), so per-day sketches compose
    across 100 TB without re-scanning; the estimate must track the
    exact distinct count within ~3·1.04/√m, and be run-to-run
    deterministic (md5 registers, no rand())."""
    from data_engineer_task_spark.operators.sketch import (
        _HLL_M,
        hll_estimate,
        hll_merge,
        hll_sketch,
    )

    orders = load_table(spark, SF_SMOKE, "orders")
    vals = orders.select(
        F.col("o_custkey").cast("string").alias("v"),
        (F.col("o_orderkey") % 3).alias("shard"),
    )
    one_shot = hll_sketch(vals, "v")
    shards = [
        hll_sketch(vals.where(F.col("shard") == s), "v") for s in range(3)
    ]
    merged = hll_merge(*shards)
    assert sorted(
        (r["reg"], r["mr"]) for r in merged.collect()
    ) == sorted((r["reg"], r["mr"]) for r in one_shot.collect())
    est = hll_estimate(one_shot).collect()[0]["hll_raw"]
    exact = vals.select("v").distinct().count()
    assert abs(est - exact) / exact < 3.0 * 1.04 / _HLL_M**0.5
    est2 = hll_estimate(hll_sketch(vals, "v")).collect()[0]["hll_raw"]
    assert est == est2


def test_hll_small_range_and_null_skip(spark):
    """Tiny cardinalities take the linear-counting branch (near-exact
    for n ≪ m) and NULL values never mint a register — COUNT(DISTINCT)
    semantics, mirroring the KMV null rule."""
    from data_engineer_task_spark.operators.sketch import (
        hll_estimate,
        hll_sketch,
    )

    df = spark.createDataFrame(
        [(f"u{i % 7}",) for i in range(100)] + [(None,)] * 5, ["v"]
    )
    sk = hll_sketch(df, "v")
    est = hll_estimate(sk).collect()[0]
    assert est["n_registers"] <= 7  # ≤: register collisions possible
    assert 5.0 < est["hll_raw"] < 9.0  # linear counting near-exact at n=7


def test_pq_fit_joint_pass_matches_per_subspace_kmeans(spark):
    """r11: pq_fit trains all m subspaces in one job per Lloyd
    iteration (joint Arrow assign + one (subspace, cluster) groupBy)
    instead of m sequential kmeans_fit loops. The codebooks must be
    EXACTLY what the sequential formulation produces — same init
    slices, same quantized-d2 argmin, same rounded per-dim means —
    or the PQ entries' oracle codes drift."""
    from pyspark.sql import functions as F

    from data_engineer_task_spark.operators.similarity import (
        as_double,
        kmeans_fit,
        pq_fit,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    for m, k, n_iters, rt in [(4, 4, 2, 6), (2, 8, 1, 5)]:
        dim = emb.select(F.size("embedding").alias("n")).limit(1).collect()[
            0
        ]["n"]
        dsub = dim // m
        seq = []
        for j in range(m):
            sub = emb.select(
                "vec_id",
                F.slice(
                    as_double(F.col("embedding")), j * dsub + 1, dsub
                ).alias("_sub"),
            )
            cb, _ = kmeans_fit(
                sub, "vec_id", "_sub", k=k, n_iters=n_iters, round_to=rt
            )
            seq.append(cb)
        joint = pq_fit(
            emb, "vec_id", "embedding", m=m, k=k, n_iters=n_iters,
            round_to=rt,
        )
        assert joint == seq, (m, k, n_iters, rt)



def test_pq_fit_releases_its_cache_on_error(spark):
    """pq_fit persists its (id, vector) projection for the Lloyd loop.
    Both argument errors must unpersist it again, or a cached copy of
    the corpus outlives the failed call for the whole session."""
    import pytest

    from data_engineer_task_spark.operators.similarity import pq_fit

    emb = load_table(spark, SF_SMOKE, "embeddings")
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    with pytest.raises(ValueError, match="need >= 4 vectors"):
        pq_fit(emb.orderBy("vec_id").limit(3), "vec_id", "embedding", m=4, k=4)
    assert cache.isEmpty()
    with pytest.raises(ValueError, match="not divisible by m=5"):
        pq_fit(emb, "vec_id", "embedding", m=5, k=4)
    assert cache.isEmpty()

def test_pq_encode_deterministic_and_compresses(spark):
    """PQ contract: (a) encode is a pure function of (vectors,
    codebooks) — two passes produce identical codes (quantized-d2
    argmin, no rand()); (b) codes actually compress — every vector
    reduces to m small ints in [0, k); (c) ADC is faithful enough
    that the query's own code-cell reconstruction beats the corpus
    median exact distance (the property that makes the codes column
    usable for candidate scoring at all)."""
    from data_engineer_task_spark.operators.similarity import (
        pq_encode,
        pq_fit,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    m, k = 4, 4
    codebooks = pq_fit(emb, "vec_id", "embedding", m=m, k=k, n_iters=2)
    assert len(codebooks) == m
    assert all(len(cb) == k and len(cb[0]) == 16 for cb in codebooks)
    enc1 = {
        r["vec_id"]: list(r["codes"])
        for r in pq_encode(emb, "vec_id", "embedding", codebooks).collect()
    }
    enc2 = {
        r["vec_id"]: list(r["codes"])
        for r in pq_encode(emb, "vec_id", "embedding", codebooks).collect()
    }
    assert enc1 == enc2
    n = emb.count()
    assert len(enc1) == n
    assert all(
        len(c) == m and all(0 <= x < k for x in c) for c in enc1.values()
    )
    # blobs-separated testdata: vectors sharing the query's full code
    # word should be its near-neighborhood, not a random subset
    import numpy as np

    rows = emb.select("vec_id", "embedding").collect()
    vecs = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64) for r in rows}
    qid = min(vecs)
    q = vecs[qid]
    d2 = {i: float(((v - q) ** 2).sum()) for i, v in vecs.items() if i != qid}
    same_word = [
        i for i in d2 if enc1[i] == enc1[qid]
    ]
    assert same_word, "query's code cell should not be empty"
    med = sorted(d2.values())[len(d2) // 2]
    cell_mean = sum(d2[i] for i in same_word) / len(same_word)
    assert cell_mean < med


def test_bloom_prefilter_never_misses_a_member(spark):
    """Bloom contract: zero false negatives by construction — every
    member's H positions are set, so every member must hit. (False
    positives are allowed and measured by the declared entry.)"""
    from data_engineer_task_spark.plans.analytics import QUERIES

    row = QUERIES["customer_bloom_prefilter"](spark, SF_SMOKE).collect()[0]
    # members who are customers always hit: hits >= members∩customers,
    # and hits - false_pos == true member hits
    assert row["n_hits"] - row["n_false_pos"] <= row["n_members"]
    # direct check: recompute membership and assert every member hits
    orders = load_table(spark, SF_SMOKE, "orders")
    customer = load_table(spark, SF_SMOKE, "customer")
    members_probed = (
        customer.join(
            orders.where(F.col("o_orderpriority") == "1-URGENT")
            .select(F.col("o_custkey").alias("c_custkey"))
            .distinct(),
            "c_custkey",
            "semi",
        ).count()
    )
    assert row["n_hits"] - row["n_false_pos"] == members_probed


def test_histogram_merge_equals_one_shot(spark):
    """Fixed-grid histograms are mergeable by integer addition:
    per-shard histograms summed equal the one-shot histogram EXACTLY
    — the property that lets 100 TB percentile dashboards keep
    O(buckets) state per shard instead of re-sorting history."""
    li = load_table(spark, SF_SMOKE, "lineitem").select(
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
        (F.col("l_orderkey") % 4).alias("shard"),
    )
    one_shot = {
        r["bucket"]: r["cnt"]
        for r in li.groupBy(
            F.expr("cents DIV 100000").alias("bucket")
        ).agg(F.count(F.lit(1)).cast("long").alias("cnt")).collect()
    }
    per_shard = li.groupBy(
        "shard", F.expr("cents DIV 100000").alias("bucket")
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    merged = {
        r["bucket"]: r["m"]
        for r in per_shard.groupBy("bucket")
        .agg(F.sum("cnt").cast("long").alias("m"))
        .collect()
    }
    assert merged == one_shot


def test_phrase_merge_greedy_overlap_and_exact_counts(spark):
    """BPE greedy-rewrite contract on the overlap case: 'a a a' under
    merge (a, a) COUNTS two adjacencies but MERGES once (left-to-right
    greedy), and the learned pair is the (count DESC, pair ASC) top-1.
    Pins the exact fold semantics the oracle reproduces."""
    from data_engineer_task_spark.operators.text import (
        phrase_merge_rounds,
    )

    docs = spark.createDataFrame(
        [
            (1, "a a a b c"),
            (2, "a a b c"),
            (3, "b c b c"),
        ],
        ["doc_id", "text"],
    )
    stats, toks = phrase_merge_rounds(docs, "doc_id", "text", rounds=2)
    # round 1: pairs (a,a)x3? doc1 has 2, doc2 has 1 -> 3; (b,c) = 1+1+2 = 4
    (a1, b1, cnt1, tot1), (a2, b2, cnt2, tot2) = stats
    assert (a1, b1, cnt1) == ("b", "c", 4)
    assert tot1 == 13 - 4  # every (b,c) adjacency merges (no overlaps)
    assert (a2, b2, cnt2) == ("a", "a", 3)
    # doc1 'a a a' merges ONCE (greedy), doc2 'a a' merges once
    assert tot2 == tot1 - 2
    rows = {r["doc_id"]: r["toks"] for r in toks.collect()}
    assert rows[1] == ["a a", "a", "b c"]
    assert rows[2] == ["a a", "b c"]
    assert rows[3] == ["b c", "b c"]


def test_scale_soak_audit_machinery(spark):
    """Pin tools/scale_soak.py's plan-audit teeth (the soak itself is
    an on-demand minutes-long tool): the audit must PASS every family
    builder at a tiny scale, and must CATCH an injected
    single-partition-window plan — the failure mode the soak exists to
    flag as data grows."""
    import os
    import sys

    import pytest
    from pyspark.sql import Window as W

    sys.path.insert(
        0,
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"),
    )
    from scale_soak import FAMILIES, _audit

    for name, _ladder, build in FAMILIES:
        out = build(spark, 600)
        _audit(out, name)
        assert out.count() > 0, name
        spark.catalog.clearCache()

    bad = spark.range(100).select(
        "id", F.row_number().over(W.orderBy("id")).alias("r")
    )
    with pytest.raises(AssertionError, match="unpartitioned window"):
        _audit(bad, "injected")
