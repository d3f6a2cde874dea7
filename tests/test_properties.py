"""Property-based invariants (hypothesis) for the curation operators.

Example counts are kept small: each example pays Spark job latency, and
the point is invariant coverage over hand-picked-example blindspots,
not fuzzing volume.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

ids = st.integers(min_value=0, max_value=10**9)


@given(
    rows=st.lists(
        st.tuples(ids, st.integers(0, 50), st.text("ab ", max_size=12)),
        min_size=1,
        max_size=30,
    )
)
@settings(**SETTINGS)
def test_keep_latest_survivor_is_max_version(spark, rows):
    from data_engineer_task_spark.operators.upsert import keep_latest

    df = spark.createDataFrame(rows, ["k", "v", "payload"])
    out = keep_latest(df, ["k"], ["v"]).collect()
    # one survivor per key, and it carries that key's max version
    by_key = {}
    for k, v, _ in rows:
        by_key[k] = max(by_key.get(k, -1), v)
    assert {r["k"]: r["v"] for r in out} == by_key
    assert len(out) == len(by_key)


@given(rows=st.lists(ids, min_size=1, max_size=40, unique=True))
@settings(**SETTINGS)
def test_hash_split_total_and_determinism(spark, rows):
    from data_engineer_task_spark.operators.sampling import hash_split

    df = spark.createDataFrame([(i,) for i in rows], ["doc_id"])
    out = hash_split(df, "doc_id").collect()
    assert len(out) == len(rows)  # every row labeled exactly once
    assert set(r["split"] for r in out) <= {"train", "val", "test"}
    again = {r["doc_id"]: r["split"] for r in hash_split(df, "doc_id").collect()}
    assert {r["doc_id"]: r["split"] for r in out} == again


@given(
    rows=st.lists(
        st.tuples(ids, st.sampled_from(["en", "de"]), st.integers(1, 40)),
        min_size=1,
        max_size=25,
        unique_by=lambda t: t[0],
    ),
    budget=st.integers(5, 60),
)
@settings(**SETTINGS)
def test_pack_token_budget_conserves_docs_and_tokens(spark, rows, budget):
    from data_engineer_task_spark.operators.sampling import pack_token_budget

    data = [(i, lang, "w " * (n - 1) + "w") for i, lang, n in rows]
    df = spark.createDataFrame(data, ["doc_id", "lang", "text"])
    out = pack_token_budget(
        df, "doc_id", "text", part_col="lang", budget=budget
    ).collect()
    assert sum(r["n_docs"] for r in out) == len(rows)
    assert sum(r["total_tokens"] for r in out) == sum(n for _, _, n in rows)
    # chunk c's first doc starts at running-token position >= c*budget,
    # so everything packed before chunk c totals at least c*budget.
    # (A chunk ITSELF may hold < budget tokens mid-stream when a long
    # straddling doc was assigned to the chunk before it.)
    by_lang: dict[str, list] = {}
    for r in out:
        by_lang.setdefault(r["lang"], []).append(r)
    for chunks in by_lang.values():
        chunks.sort(key=lambda r: r["chunk"])
        cum = 0
        for r in chunks:
            assert cum >= r["chunk"] * budget
            cum += r["total_tokens"]


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)),
        min_size=1,
        max_size=25,
    ).filter(lambda es: any(a != b for a, b in es))
)
@settings(**SETTINGS)
def test_connected_components_matches_reference_closure(spark, edges):
    from data_engineer_task_spark.operators.graph import connected_components

    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    got = {
        r["node"]: r["cluster"] for r in connected_components(df).collect()
    }
    # reference closure: naive repeated min-propagation over a dict
    nodes = {n for e in edges for n in e}
    label = {n: n for n in nodes}
    for _ in range(len(nodes)):
        changed = False
        for a, b in edges:
            m = min(label[a], label[b])
            if label[a] != m or label[b] != m:
                label[a] = label[b] = m
                changed = True
        if not changed:
            break
    assert got == label


@given(
    lrows=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 100)),
        min_size=1,
        max_size=25,
    ),
    rrows=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 100)),
        min_size=0,
        max_size=25,
    ),
)
@settings(**SETTINGS)
def test_asof_window_and_cogroup_forms_agree(spark, lrows, rrows):
    """The codegen (union-marker window) and Arrow (bucketed cogroup +
    merge_asof) as-of implementations are two physical plans for ONE
    operator contract: on any input, backward-inclusive matches must be
    identical — including duplicate timestamps, keys with no right
    rows, and empty right sides."""
    from data_engineer_task_spark.operators.asof import (
        as_of_join,
        as_of_join_cogroup,
    )

    left = spark.createDataFrame(
        [(u, t, i) for i, (u, t) in enumerate(lrows)], ["uid", "ts_i", "tag"]
    ).select("uid", F.timestamp_seconds("ts_i").alias("ts"), "tag")
    right = spark.createDataFrame(
        [(u, t) for u, t in rrows] or [(99, 0)], ["uid", "ts_i"]
    ).select("uid", F.timestamp_seconds("ts_i").alias("ts"))

    win = {r["tag"]: r["ts_asof"] for r in as_of_join(left, right, "uid").collect()}
    cg = {r["tag"]: r["ts_asof"] for r in
          as_of_join_cogroup(left, right, "uid").collect()}
    assert win == cg


@given(
    vecs=st.lists(
        st.lists(
            st.floats(
                min_value=-10.0, max_value=10.0,
                allow_nan=False, allow_infinity=False, width=32,
            ),
            min_size=4,
            max_size=8,
        ),
        min_size=1,
        max_size=12,
    )
)
@settings(**SETTINGS)
def test_int8_quantization_error_bounded_by_half_step(spark, vecs):
    """Round-to-nearest int8 reconstruction error can never exceed half
    a quantization step (scale/2) on any element of any vector."""
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    e = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    scale = F.array_max(F.transform(e, lambda x: F.abs(x))) / F.lit(127.0)
    out = (
        df.select(
            scale.alias("scale"),
            F.array_max(
                F.transform(
                    e,
                    lambda x: F.abs(
                        x - F.round(x / scale, 0) * scale
                    ),
                )
            ).alias("max_err"),
        )
        .where(F.col("scale") > 0)
        .collect()
    )
    for r in out:
        assert r["max_err"] <= r["scale"] / 2 + 1e-12, r


@given(
    grams=st.lists(
        st.lists(st.sampled_from(["a", "b", "c", "dd"]), min_size=0, max_size=9),
        min_size=1,
        max_size=10,
    ),
    n=st.integers(min_value=2, max_value=3),
)
@settings(**SETTINGS)
def test_in_row_ngrams_match_python_reference(spark, grams, n):
    """The in-row n-gram transform must agree with the obvious Python
    sliding window on every token list, including too-short ones."""
    from data_engineer_task_spark.plans.text import _ngrams

    rows = [(i, " ".join(toks)) for i, toks in enumerate(grams)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    toks = F.split(F.col("text"), r"\Q \E")
    got = {
        r["doc_id"]: r["gs"]
        for r in df.select("doc_id", _ngrams(toks, n).alias("gs")).collect()
    }
    for i, toklist in enumerate(grams):
        # split("") yields [''] — the engine sees one empty token
        eff = " ".join(toklist).split(" ")
        want = [
            " ".join(eff[j : j + n]) for j in range(len(eff) - n + 1)
        ]
        assert got[i] == want, (toklist, got[i], want)


@given(
    rows=st.lists(
        st.tuples(ids, st.integers(-99999, 999999), st.sampled_from(["A", "B", "C"])),
        min_size=2,
        max_size=40,
        unique_by=lambda t: t[0],
    )
)
@settings(**SETTINGS)
def test_sorted_neighborhood_pair_bound_and_symmetry(spark, rows):
    """Sorted-neighborhood candidate generation (the linkage entry's
    core): for ANY input, pair count ≤ n·W, no self-pairs, id_a <
    id_b, and results are deterministic across reruns."""
    from pyspark.sql import Window as W

    W_NBRS = 3
    df = spark.createDataFrame(rows, ["id", "bal_c", "seg"]).select(
        "id", (F.col("bal_c") / 100.0).alias("bal"), "seg"
    )
    w = W.partitionBy(F.floor(F.col("bal") / 2000.0)).orderBy(
        F.col("bal").asc(), F.col("id").asc()
    )
    nbr = F.array(
        *[F.lead(F.struct(F.col("id").alias("nid")), i).over(w) for i in (1, 2, 3)]
    )
    pairs = (
        df.withColumn("nbrs", nbr)
        .withColumn("nb", F.explode("nbrs"))
        .where(F.col("nb").isNotNull())
        .select(
            F.least("id", F.col("nb.nid")).alias("a"),
            F.greatest("id", F.col("nb.nid")).alias("b"),
        )
    )
    got = [(r["a"], r["b"]) for r in pairs.collect()]
    assert len(got) <= W_NBRS * len(rows)
    assert all(a < b for a, b in got)
    assert sorted(got) == sorted(
        (r["a"], r["b"]) for r in pairs.collect()
    )  # deterministic


@given(
    rows=st.lists(
        st.tuples(ids, st.sampled_from(["s0", "s1", "s2"]), st.integers(1, 60)),
        min_size=1,
        max_size=40,
        unique_by=lambda t: t[0],
    )
)
@settings(**SETTINGS)
def test_mixture_weights_sum_to_one_and_rank_monotone(spark, rows):
    """Temperature-scaled mixture weights: for ANY corpus, the weights
    sum to 1 (±fp) and ordering by weight equals ordering by token
    count (pow is monotone)."""
    from data_engineer_task_spark.plans.analytics import QUERIES  # noqa: F401

    df = spark.createDataFrame(rows, ["doc_id", "source", "n_tok"]).select(
        "doc_id",
        "source",
        F.array_join(
            F.transform(F.sequence(F.lit(1), F.col("n_tok")), lambda i: F.lit("w")),
            " ",
        ).alias("text"),
    )
    s = df.groupBy("source").agg(
        F.sum(F.size(F.split(F.col("text"), r"\Q \E"))).cast("long").alias("n_tokens")
    )
    rows_s = s.collect()
    tot = sum(r["n_tokens"] ** 0.7 for r in rows_s)
    weights = {r["source"]: r["n_tokens"] ** 0.7 / tot for r in rows_s}
    assert abs(sum(weights.values()) - 1.0) < 1e-9
    by_w = sorted(weights, key=lambda k: weights[k])
    by_n = sorted(
        {r["source"]: r["n_tokens"] for r in rows_s},
        key=lambda k: dict((r["source"], r["n_tokens"]) for r in rows_s)[k],
    )
    assert by_w == by_n


@given(
    texts=st.lists(
        st.lists(st.sampled_from(["a", "b", "c", "d"]), min_size=1, max_size=25).map(
            " ".join
        ),
        min_size=1,
        max_size=12,
    )
)
@settings(**SETTINGS)
def test_segment_rewrite_conservation_and_keep_first(spark, texts):
    from data_engineer_task_spark.operators.dedup import (
        segment_dedup_rewrite,
        text_segments,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r for r in segment_dedup_rewrite(df, "doc_id", "text", seg=3).collect()}
    # every document survives as a row, and counts reconcile
    assert set(out) == set(range(len(texts)))
    segs = text_segments(df, "doc_id", "text", seg=3).collect()
    n_by_doc = {}
    for r in segs:
        n_by_doc[r["doc_id"]] = n_by_doc.get(r["doc_id"], 0) + 1
    for d, r in out.items():
        assert r["n_segments"] == n_by_doc[d]
        assert 0 <= r["n_kept"] <= r["n_segments"]
    # keep-first: across the corpus each distinct segment is kept
    # exactly once, and the EARLIEST (doc_id, seg_id) occurrence wins —
    # so doc 0 survives verbatim whenever its own segments are unique
    first = texts[0]
    doc0_hashes = [r["seg_hash"] for r in segs if r["doc_id"] == 0]
    if len(doc0_hashes) == len(set(doc0_hashes)):
        assert out[0]["rewritten_text"] == first
    total_kept = sum(r["n_kept"] for r in out.values())
    assert total_kept == len({r["seg_hash"] for r in segs})
    # a verbatim duplicate of doc 0 appearing later is fully emptied
    # (when its text is a duplicate and segment boundaries align)
    dup_ids = [i for i, t in enumerate(texts) if i > 0 and t == first]
    for d in dup_ids:
        assert out[d]["n_kept"] == 0
        assert out[d]["rewritten_text"] == ""


@given(
    const=st.integers(-50, 50),
    slope=st.integers(-5, 5),
    n=st.integers(3, 10),
)
@settings(**SETTINGS)
def test_holt_tracks_linear_series_exactly(spark, const, slope, n):
    """On exactly-linear input x_t = c + s·t the Holt recursion with
    textbook init reproduces level = last point and trend = slope, so
    forecast_1 extrapolates the line exactly — for ANY smoothing
    constants (induction from l₁=x₁, b₁=x₂−x₁)."""
    import datetime

    rows = [
        (1, datetime.datetime(2024, 1, 1 + t, 12, 0, 0), float(const + slope * t))
        for t in range(n)
    ]
    from data_engineer_task_spark.plans.events import (
        _HOLT_A,
        _HOLT_AB,
        _HOLT_AB1,
    )

    df = spark.createDataFrame(rows, ["user_id", "ts", "value"])
    daily = df.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        (F.round(F.avg("value") * 1e6) / 1e6).alias("v")
    )
    arr = daily.groupBy("user_id").agg(
        F.array_sort(F.collect_list(F.struct("day", "v"))).alias("s")
    )
    vals = F.transform(F.col("s"), lambda x: x["v"])
    st_col = F.aggregate(
        F.slice(vals, 3, F.greatest(F.size(vals) - 2, F.lit(0))),
        F.array(
            F.element_at(vals, 2), F.element_at(vals, 2) - F.element_at(vals, 1)
        ),
        lambda acc, x: F.array(
            F.lit(_HOLT_A) * x
            + F.lit(1 - _HOLT_A)
            * (F.element_at(acc, 1) + F.element_at(acc, 2)),
            F.lit(_HOLT_AB) * (x - F.element_at(acc, 1))
            + F.lit(_HOLT_AB1) * F.element_at(acc, 2),
        ),
    )
    l, b = arr.select(st_col.alias("st")).first()["st"]
    assert abs(l - (const + slope * (n - 1))) < 1e-6
    assert abs(b - slope) < 1e-6


def test_zorder_interleave_bijective_and_decodable(spark):
    """The Morton key must be invertible: de-interleaving even/odd
    bits recovers (x, y) exactly, and distinct grid cells map to
    distinct keys — the property that makes per-file min/max ranges
    meaningful on both dimensions."""
    from data_engineer_task_spark.plans.relational import _z_col

    # strided coordinates cover the full 16-bit range INCLUDING bit 15
    # — the high bit whose (1 << 31) interleave term wraps negative in
    # 32-bit arithmetic (the overflow class the long cast guards)
    df = spark.range(0, 1024).select(
        ((F.col("id") * 2047) % 65536).alias("x"),
        ((F.col("id") * 1031 + 40000) % 65536).alias("y"),
    )
    rows = df.select("x", "y", _z_col(F.col("x"), F.col("y")).alias("z")).collect()
    seen = set()
    for r in rows:
        z, x, y = r["z"], 0, 0
        for i in range(16):
            x |= ((z >> (2 * i)) & 1) << i
            y |= ((z >> (2 * i + 1)) & 1) << i
        assert (x, y) == (r["x"], r["y"])
        seen.add(z)
    assert len(seen) == 1024


@given(
    texts=st.lists(
        st.lists(
            st.sampled_from(["a", "bb", "ccc", "d"]), min_size=1, max_size=35
        ).map(" ".join),
        min_size=1,
        max_size=6,
    ),
    seg=st.integers(2, 7),
)
@settings(**SETTINGS)
def test_text_segments_partition_the_document_exactly(spark, texts, seg):
    """Non-overlapping segmentation is a PARTITION of the token
    stream: concatenating a doc's segments in position order must
    reproduce the original text byte-for-byte, segment lengths must
    sum to the token count, and only the tail segment may be short —
    pins the ceil-division fan-out arithmetic for every length ÷ seg
    remainder class."""
    from data_engineer_task_spark.operators.dedup import text_segments

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    segs = text_segments(df, "doc_id", "text", seg=seg).collect()
    by_doc: dict[int, list] = {}
    for r in segs:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == set(range(len(texts)))
    for i, t in enumerate(texts):
        rows = sorted(by_doc[i], key=lambda r: r["seg_id"])
        assert " ".join(r["seg_text"] for r in rows) == t
        n_tokens = len(t.split(" "))
        assert sum(r["seg_len"] for r in rows) == n_tokens
        assert all(r["seg_len"] == seg for r in rows[:-1])
        assert 1 <= rows[-1]["seg_len"] <= seg


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 6), st.integers(0, 1)),
        min_size=2,
        max_size=40,
    )
)
@settings(**SETTINGS)
def test_ranking_auc_matches_pair_counting(spark, rows):
    """ranking_auc's integer U2 construction must equal the O(n²)
    definition: AUC = (#(pos>neg) + ½·#(pos==neg)) / (n_pos·n_neg),
    with NULL when either class is empty. Narrow score range forces
    heavy ties (the half-credit path)."""
    from data_engineer_task_spark.operators.quality import ranking_auc

    df = spark.createDataFrame(rows, ["s", "y"])
    out = ranking_auc(df, "s", "y").collect()
    assert len(out) == 1
    r = out[0]
    pos = [s for s, y in rows if y == 1]
    neg = [s for s, y in rows if y == 0]
    assert (r["n_pos"], r["n_neg"]) == (len(pos), len(neg))
    if not pos or not neg:
        assert r["auc"] is None
        return
    u2 = sum(2 for p in pos for n in neg if p > n) + sum(
        1 for p in pos for n in neg if p == n
    )
    want = round(u2 / (2.0 * len(pos) * len(neg)) * 1000000.0) / 1000000.0
    assert abs(r["auc"] - want) < 1e-9, (r["auc"], want)


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10**6),
            st.integers(min_value=-20, max_value=20),
            st.integers(min_value=0, max_value=1000),
        ),
        min_size=1,
        max_size=40,
    ),
    buckets=st.sampled_from([2, 3, 8, 64]),
)
@settings(**SETTINGS)
def test_ordered_prefix_matches_python_enumeration(spark, rows, buckets):
    """ordered_prefix rank/prefix-sum ≡ plain Python sorted
    enumeration for ANY bucket count — ranks and integral prefix sums
    must be cut-invariant (that's the property that makes the
    approx-percentile placement safe)."""
    from data_engineer_task_spark.operators.ranking import ordered_prefix

    # unique (v, id) total order: dedupe ids
    rows = [(i, v, c) for i, (_, v, c) in enumerate(rows)]
    df = spark.createDataFrame(rows, ["id", "v", "c"])
    got = {
        r["id"]: (r["rk"], r["cb"])
        for r in ordered_prefix(
            df, "v", ["id"], rank_col="rk", sums={"cb": "c"}, buckets=buckets
        ).collect()
    }
    want = {}
    run = 0
    for rk, (i, v, c) in enumerate(
        sorted(rows, key=lambda t: (t[1], t[0])), start=1
    ):
        want[i] = (rk, run)
        run += c
    assert got == want


@given(
    texts=st.lists(
        st.lists(st.sampled_from(["a", "b", "c", "z"]), min_size=1, max_size=9).map(
            " ".join
        ),
        min_size=2,
        max_size=12,
    ),
    rounds=st.integers(1, 3),
)
@settings(**SETTINGS)
def test_phrase_merge_rounds_match_python_reference(spark, texts, rounds):
    """The r6 two-path rewrite kernel (vectorized for a != b,
    sequential fold for a == b) must reproduce the greedy
    left-to-right merge semantics on arbitrary corpora — the tiny
    alphabet forces heavy pair collisions, a == b runs, and
    chained/overlapping merges."""
    from collections import Counter

    from data_engineer_task_spark.operators.text import phrase_merge_rounds

    def py_rounds(texts, rounds):
        corpus = {i: t.split(" ") for i, t in enumerate(texts)}
        stats = []
        for _ in range(rounds):
            c = Counter()
            for toks in corpus.values():
                for i in range(len(toks) - 1):
                    c[(toks[i], toks[i + 1])] += 1
            if not c:
                break
            (a, b), cnt = min(
                c.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
            )
            for k, toks in corpus.items():
                out = []
                for x in toks:
                    if out and out[-1] == a and x == b:
                        out[-1] = f"{a} {b}"
                    else:
                        out.append(x)
                corpus[k] = out
            stats.append((a, b, cnt, sum(len(t) for t in corpus.values())))
        return stats, corpus

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id LONG, text STRING"
    )
    stats, toks = phrase_merge_rounds(docs, "doc_id", "text", rounds=rounds)
    want_stats, want_corpus = py_rounds(texts, rounds)
    assert stats == want_stats
    got = {r["doc_id"]: r["toks"] for r in toks.collect()}
    assert got == want_corpus


@given(
    rows=st.lists(
        st.tuples(
            ids,
            st.sampled_from(["a", "b", "c", None]),
            st.integers(0, 12),
            st.integers(0, 50),
        ),
        min_size=1,
        max_size=60,
        unique_by=lambda r: r[0],
    ),
    buckets=st.integers(2, 8),
)
@settings(**SETTINGS)
def test_partitioned_rank_spec_matches_window(spark, rows, buckets):
    """RankSpec.partition_by under fuzzing (random group shapes
    including NULL groups, heavy key ties, tiny/empty-ish groups):
    per-group two-level ranks and exclusive prefix sums must equal the
    plain per-group window spelling row for row."""
    from pyspark.sql import Window as W

    from data_engineer_task_spark.operators.ranking import (
        RankSpec,
        ordered_prefix_multi,
    )

    df = spark.createDataFrame(
        rows, "id LONG, g STRING, v LONG, cents LONG"
    )
    got = ordered_prefix_multi(
        df,
        [RankSpec("v", ["id"], "r", {"cb": "cents"}, partition_by=["g"])],
        buckets=buckets,
        validate=True,
    ).select("id", "r", "cb")
    w = W.partitionBy("g").orderBy(F.asc("v"), F.asc("id"))
    want = df.select(
        "id",
        F.row_number().over(w).cast("long").alias("r"),
        F.coalesce(
            F.sum("cents").over(w.rowsBetween(W.unboundedPreceding, -1)),
            F.lit(0),
        ).cast("long").alias("cb"),
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


@given(
    texts=st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c", "d", "e"]), min_size=0, max_size=10
        ).map(" ".join),
        min_size=2,
        max_size=10,
    ),
    threshold=st.sampled_from([0.3, 0.5, 2.0 / 3.0, 0.75]),
)
@settings(**SETTINGS)
def test_jaccard_join_exact_matches_bruteforce(spark, texts, threshold):
    """PPJoin losslessness fuzz: the prefix/length/positional pruning
    must return EXACTLY the brute-force pair set {(a,b): J(a,b) >= t}
    over 3-token shingle sets, at thresholds including the exact-
    boundary fractions (1/2, 2/3) where an over-tightened float bound
    would drop a pair. Values (n_common, jaccard) must match too.
    (The declared entry's DuckDB oracle IS brute force at sf scale;
    this covers the adversarial corners: empty docs, sub-k docs,
    verbatim dups, near-threshold pairs.)"""
    from data_engineer_task_spark.operators.dedup import jaccard_join_exact

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    got = {
        (r["id_a"], r["id_b"]): (r["n_common"], r["jaccard"])
        for r in jaccard_join_exact(
            df, "doc_id", "text", threshold=threshold
        ).collect()
    }
    spark.catalog.clearCache()  # each example persists its own sets frame

    def sh(t):
        toks = t.split(" ")
        return {
            " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
        } if len(toks) >= 3 else set()

    sets = {i: sh(t) for i, t in enumerate(texts)}
    want = {}
    for a in range(len(texts)):
        for b in range(a + 1, len(texts)):
            sa, sb = sets[a], sets[b]
            if not sa or not sb:
                continue
            inter = len(sa & sb)
            union = len(sa | sb)
            # same float comparison the operator's membership uses
            if inter * 1.0 / union >= threshold:
                want[(a, b)] = (inter, round(inter * 10000.0 / union) / 10000.0)
    assert got == want
