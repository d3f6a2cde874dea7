"""Unit tests for the generic operator library on crafted micro-frames —
edge-case semantics that the testdata can't exercise (nulls, gap years,
ties, known-similarity documents)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from data_engineer_task_spark.operators.dedup import (
    jaccard_join_exact as jaccard_join_exact_op,
    jaccard_verify,
    lsh_candidate_pairs,
    minhash_signatures,
)
from data_engineer_task_spark.operators.normalize import (
    explode_multivalue,
    normalize_multivalue,
    surrogate_key,
)
from data_engineer_task_spark.operators.relational import (
    anti_join,
    semi_join,
    top_k,
    top_k_per_group,
    yoy_growth,
)
from data_engineer_task_spark.operators.similarity import cosine_topk
from data_engineer_task_spark.operators.text import (
    language_scores,
    scrub_pii,
    shingles,
    simhash16,
    token_stats,
    tokenize,
    winnow_fingerprints,
)


# --- explode / normalize ---------------------------------------------------


def test_explode_outer_keeps_null_rows(spark):
    df = spark.createDataFrame(
        [("1", "a,b"), ("2", None)], ["id", "vals"]
    )
    out = explode_multivalue(df, "vals", keep_null_rows=True)
    assert out.count() == 3  # pandas-explode parity: null row preserved
    strict = explode_multivalue(df, "vals", keep_null_rows=False)
    assert strict.count() == 2


def test_explode_trim_toggle(spark):
    df = spark.createDataFrame([("1", "a, b , c")], ["id", "vals"])
    trimmed = {r["vals"] for r in explode_multivalue(df, "vals").collect()}
    raw = {r["vals"] for r in explode_multivalue(df, "vals", trim=False).collect()}
    assert trimmed == {"a", "b", "c"}
    assert raw == {"a", " b ", " c"}  # the reference's untrimmed-listings quirk


def test_normalize_multivalue_roundtrip(spark):
    df = spark.createDataFrame(
        [("s1", "x, y"), ("s2", "y,z"), ("s3", None)], ["sid", "tags"]
    )
    dim, bridge = normalize_multivalue(df, "sid", "tags")
    assert {(r["tags"], r["id"]) for r in dim.collect()} == {("x", 1), ("y", 2), ("z", 3)}
    assert bridge.count() == 4  # s3 contributes nothing


def test_surrogate_key_deterministic(spark):
    df = spark.createDataFrame([("b",), ("c",), ("a",)], ["name"])
    out = {(r["name"], r["id"]) for r in surrogate_key(df, ["name"]).collect()}
    assert out == {("a", 1), ("b", 2), ("c", 3)}


# --- joins / topk / growth -------------------------------------------------


def test_anti_semi_join(spark):
    # duplicate keys on BOTH sides: each left row comes out at most
    # once however many right rows match it
    left = spark.createDataFrame(
        [(1, "x"), (2, "y"), (2, "y2"), (3, "z")], ["k", "v"]
    )
    right = spark.createDataFrame([(2, "q"), (2, "r"), (4, "s")], ["k", "w"])

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    anti, semi = anti_join(left, right, "k"), semi_join(left, right, "k")
    assert rows(anti) == [(1, "x"), (3, "z")]
    assert rows(semi) == [(2, "y"), (2, "y2")]
    # the EXISTS shape: nothing de-duplicates the right side first
    for df in (anti, semi):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "Aggregate" not in plan, plan


def test_top_k_null_ordering(spark):
    df = spark.createDataFrame(
        [Row(t="a", g=None), Row(t="b", g=5), Row(t="c", g=3)]
    )
    top = top_k(df, [F.desc_nulls_last("g")], 1).collect()[0]
    assert top["t"] == "b"  # null must NOT win (SURVEY D3)


def test_top_k_per_group(spark):
    df = spark.createDataFrame(
        [("g1", 1), ("g1", 9), ("g1", 5), ("g2", 2)], ["g", "v"]
    )
    out = top_k_per_group(df, ["g"], [F.desc("v")], k=2)
    got = {(r["g"], r["v"]) for r in out.collect()}
    assert got == {("g1", 9), ("g1", 5), ("g2", 2)}


def test_yoy_growth_gap_year_nulls_out(spark):
    # 2000:10 → 2001:20 (+100%); 2003 after a gap → growth must be null
    # (self-join parity with the reference, not lag-to-latest).
    df = spark.createDataFrame([(2000, 10), (2001, 20), (2003, 40)], ["y", "n"])
    rows = {r["y"]: r["growth_pct"] for r in yoy_growth(df, "y", "n").collect()}
    assert rows[2001] == 100.0
    assert rows[2003] is None
    assert rows[2000] is None


# --- text ------------------------------------------------------------------


def test_tokenize_positions(spark):
    df = spark.createDataFrame([(1, "a b c")], ["id", "text"])
    got = sorted((r["pos"], r["token"]) for r in tokenize(df, "id", "text").collect())
    assert got == [(1, "a"), (2, "b"), (3, "c")]


def test_shingles_drop_short_tail(spark):
    df = spark.createDataFrame([(1, "a b c d")], ["id", "text"])
    sh = shingles(tokenize(df, "id", "text"), "id", k=3)
    got = sorted(r["shingle"] for r in sh.collect())
    assert got == ["a b c", "b c d"]


def test_token_stats_values(spark):
    df = spark.createDataFrame([(1, "the cat, sat!")], ["id", "text"])
    r = token_stats(df, "id", "text", punct_class=r"[.,!?;:]").collect()[0]
    assert r["token_count"] == 3
    assert r["char_count"] == 13
    assert r["stopword_ratio"] == round(1 / 3, 4)
    assert r["punct_ratio"] == round(2 / 13, 4)


def test_language_scores_discriminate(spark):
    df = spark.createDataFrame(
        [(1, "the cat and the dog"), (2, "el gato y el perro")], ["id", "text"]
    )
    out = language_scores(
        df, "id", "text",
        {"en": ("the", "and", "cat", "dog"), "es": ("el", "y", "gato", "perro")},
    )
    pred = {r["id"]: r["predicted_lang"] for r in out.collect()}
    assert pred == {1: "en", 2: "es"}


def test_simhash_similarity_property(spark):
    # near-identical docs agree on (almost all) positions; unrelated differ
    a = "alpha beta gamma delta epsilon zeta eta theta " * 8
    b = a + "iota"  # one extra token
    c = "one two three four five six seven eight nine ten " * 8
    df = spark.createDataFrame([(1, a), (2, b), (3, c)], ["id", "text"])
    sh = {r["id"]: r["simhash"] for r in simhash16(tokenize(df, "id", "text"), "id").collect()}
    ham_ab = sum(x != y for x, y in zip(sh[1], sh[2]))
    ham_ac = sum(x != y for x, y in zip(sh[1], sh[3]))
    assert ham_ab <= 2
    assert ham_ac > ham_ab


def test_winnow_fingerprint_containment(spark):
    base = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"
    df = spark.createDataFrame([(1, base), (2, base)], ["id", "text"])
    out = {r["id"]: r["n_fingerprints"] for r in
           winnow_fingerprints(tokenize(df, "id", "text"), "id").collect()}
    assert out[1] == out[2] > 0  # identical docs → identical fingerprint count


# --- dedup -----------------------------------------------------------------


def test_minhash_lsh_finds_planted_near_dup(spark):
    words = [f"t{i}" for i in range(40)]
    doc_a = " ".join(words)
    doc_b = " ".join(words[:38] + ["x1", "x2"])  # high overlap
    doc_c = " ".join(f"z{i}" for i in range(40))  # disjoint
    df = spark.createDataFrame([(1, doc_a), (2, doc_b), (3, doc_c)], ["id", "text"])
    sigs = minhash_signatures(df, "id", "text")
    cands = lsh_candidate_pairs(sigs, "id")
    pairs = {(r["id_a"], r["id_b"]) for r in cands.collect()}
    assert (1, 2) in pairs
    verified = jaccard_verify(df, cands, "id", "text", threshold=0.5)
    vd = {(r["id_a"], r["id_b"]): r["jaccard"] for r in verified.collect()}
    assert (1, 2) in vd and vd[(1, 2)] > 0.8
    assert (1, 3) not in vd and (2, 3) not in vd


# --- similarity ------------------------------------------------------------


def test_cosine_topk_exact(spark):
    vecs = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),   # closest to 0
        (2, [0.0, 1.0, 0.0]),   # orthogonal
        (3, [-1.0, 0.0, 0.0]),  # opposite
    ]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    out = cosine_topk(df, "vec_id", "embedding",
                      query_filter=F.col("vec_id") == 0, k=3).collect()
    order = [r["neighbor_id"] for r in out]
    assert order == [1, 2, 3]
    expected = 0.9 / math.sqrt(0.9**2 + 0.1**2)
    assert abs(out[0]["cos_sim"] - round(expected, 5)) < 1e-9


# --- multimodal ------------------------------------------------------------


def test_multimodal_decode_deterministic(spark):
    from data_engineer_task_spark.operators.multimodal import (
        decode_media,
        real_decode,
        synthesize_media_column,
    )

    df = spark.createDataFrame([(1, "hello"), (2, "world")], ["id", "text"])
    media = synthesize_media_column(df, "id", "text")
    out1 = sorted(map(tuple, decode_media(media, "id", "media").collect()))
    out2 = sorted(map(tuple, decode_media(media, "id", "media").collect()))
    assert out1 == out2
    assert all(r[1] == 16 for r in out1)  # md5 → 16 bytes
    assert all(r[2] in {"jpeg", "png", "wav", "mp4"} for r in out1)
    with pytest.raises(NotImplementedError):
        real_decode(b"\x00")


# --- streaming (batch/stream agreement is covered by the oracle test) ------


def test_sessionize_gap_logic(spark):
    from data_engineer_task_spark.streaming.aggregate import sessionize

    rows = [
        (1, "2024-01-01 00:00:00"),
        (1, "2024-01-01 00:30:00"),  # same session (30 min)
        (1, "2024-01-01 02:00:00"),  # new session (90 min gap)
        (2, "2024-01-01 05:00:00"),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts_s"]).select(
        "user_id", F.to_timestamp("ts_s").alias("ts")
    )
    out = {r["user_id"]: (r["n_events"], r["n_sessions"]) for r in
           sessionize(df, gap_seconds=3600).collect()}
    assert out == {1: (3, 2), 2: (1, 1)}


# --- sampling / packing / tfidf -------------------------------------------


def test_hash_split_deterministic_and_complete(spark):
    from data_engineer_task_spark.operators.sampling import hash_split

    df = spark.range(0, 500).withColumnRenamed("id", "doc_id")
    a = {r["doc_id"]: r["split"] for r in hash_split(df, "doc_id").collect()}
    b = {r["doc_id"]: r["split"] for r in hash_split(df, "doc_id").collect()}
    assert a == b  # stable across runs
    assert set(a.values()) == {"train", "val", "test"}
    n = len(a)
    train_share = sum(1 for v in a.values() if v == "train") / n
    assert 0.7 < train_share < 0.9  # ~80% by construction


def test_pack_token_budget_boundaries(spark):
    from data_engineer_task_spark.operators.sampling import pack_token_budget

    docs = spark.createDataFrame(
        [(i, "en", "w " * 3 + "w") for i in range(6)],  # 4 tokens each
        ["doc_id", "lang", "text"],
    )
    out = {
        r["chunk"]: (r["n_docs"], r["total_tokens"])
        for r in pack_token_budget(
            docs, "doc_id", "text", part_col="lang", budget=10
        ).collect()
    }
    # exclusive cumsum: 0,4,8,12,16,20 -> chunks 0,0,0,1,1,2
    assert out == {0: (3, 12), 1: (2, 8), 2: (1, 4)}


def test_tfidf_surfaces_distinctive_term(spark):
    from data_engineer_task_spark.operators.text import tfidf_top_terms

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "the dog sat on the log"),
            (3, "the zebra zebra zebra runs"),
        ],
        ["doc_id", "text"],
    )
    out = tfidf_top_terms(docs, "doc_id", "text", k=1).collect()
    top = {r["doc_id"]: r["token"] for r in out}
    assert top[3] == "zebra"  # unique + repeated -> highest tf-idf
    assert all(r["tf"] >= 1 for r in out)


def test_keep_latest_compacts_to_newest_version(spark):
    from data_engineer_task_spark.operators.upsert import keep_latest

    rows = [
        # (key, version, payload) — two update batches for key 'a'
        ("a", 1, "old"),
        ("a", 3, "newest"),
        ("a", 2, "mid"),
        ("b", 5, "only"),
    ]
    df = spark.createDataFrame(rows, ["k", "v", "payload"])
    out = {r["k"]: (r["v"], r["payload"])
           for r in keep_latest(df, ["k"], ["v"]).collect()}
    assert out == {"a": (3, "newest"), "b": (5, "only")}


def test_connected_components_chain_and_islands(spark):
    from data_engineer_task_spark.operators.graph import connected_components

    # chain 1-2-3-4 (diameter 3), island pair 10-11, triangle 20-21-22
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        ["id_a", "id_b"],
    )
    expected = {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10,
                20: 20, 21: 20, 22: 20}
    # driver union-find path (edge list under the threshold)
    out = {r["node"]: r["cluster"] for r in connected_components(edges).collect()}
    assert out == expected
    # distributed propagation path must produce the identical fixpoint
    out_dist = {
        r["node"]: r["cluster"]
        for r in connected_components(edges, driver_threshold=0).collect()
    }
    assert out_dist == expected


# --- degenerate inputs -----------------------------------------------------


def test_operators_handle_empty_and_null_text(spark):
    from pyspark.sql import types as T

    from data_engineer_task_spark.operators.dedup import near_duplicates
    from data_engineer_task_spark.operators.sampling import hash_split
    from data_engineer_task_spark.operators.text import token_stats

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    empty = spark.createDataFrame([], schema)
    assert token_stats(empty, "doc_id", "text").count() == 0
    assert near_duplicates(empty, "doc_id", "text").count() == 0
    assert hash_split(empty, "doc_id").count() == 0

    with_null = spark.createDataFrame(
        [(1, "a b c d e"), (2, None), (3, "a b c d e")], schema
    )
    # null text must not crash the shingle pipeline; the two real docs
    # still pair up
    pairs = near_duplicates(with_null, "doc_id", "text").collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(1, 3)}


def test_scd2_merge_all_four_paths(spark):
    """Change / no-op / new-key / history-passthrough in one batch."""
    from datetime import date

    from data_engineer_task_spark.operators.upsert import scd2_merge

    dim = spark.createDataFrame(
        [
            # k=1: already-closed history row + its current successor
            (1, "A", date(2020, 1, 1), date(2021, 1, 1), False),
            (1, "B", date(2021, 1, 1), None, True),
            # k=2: current row an update will change
            (2, "C", date(2020, 1, 1), None, True),
            # k=3: current row an update no-ops on
            (3, "D", date(2020, 1, 1), None, True),
            # k=4: current row with no update at all
            (4, "E", date(2020, 1, 1), None, True),
        ],
        "k int, attr string, valid_from date, valid_to date, is_current boolean",
    )
    updates = spark.createDataFrame(
        [
            (2, "C2", date(2022, 6, 1)),  # change
            (3, "D", date(2022, 6, 1)),  # no-op (same attr)
            (9, "NEW", date(2022, 6, 1)),  # brand-new key
        ],
        "k int, attr string, eff date",
    )
    out = scd2_merge(dim, updates, ["k"], ["attr"], effective_col="eff")
    rows = {
        (r["k"], r["attr"]): (r["valid_from"], r["valid_to"], r["is_current"])
        for r in out.collect()
    }
    assert len(rows) == 7  # 5 original + 1 new version + 1 new key
    # history row untouched
    assert rows[(1, "A")] == (date(2020, 1, 1), date(2021, 1, 1), False)
    # changed key: old row closed at the effective date, new row opened
    assert rows[(2, "C")] == (date(2020, 1, 1), date(2022, 6, 1), False)
    assert rows[(2, "C2")] == (date(2022, 6, 1), None, True)
    # no-op update: single row, still current, no spurious version
    assert rows[(3, "D")] == (date(2020, 1, 1), None, True)
    # untouched key
    assert rows[(4, "E")] == (date(2020, 1, 1), None, True)
    # new key inserted as current
    assert rows[(9, "NEW")] == (date(2022, 6, 1), None, True)


def test_session_window_gap_boundary(spark):
    """Spark session windows merge on a CLOSED interval: an event
    exactly gap seconds after the last one still joins the session;
    only a strictly-larger gap breaks it. The user_session_spans
    oracle mirrors this with a `> gap` break flag."""
    df = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00"),
            (1, "2024-01-01 01:00:00"),  # exactly 1h after → still merges
            (1, "2024-01-01 02:00:01"),  # 1h + 1s after → NEW session
        ],
        "user_id int, ts_s string",
    ).select("user_id", F.col("ts_s").cast("timestamp").alias("ts"))
    out = (
        df.groupBy("user_id", F.session_window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    assert sorted(r["n"] for r in out) == [1, 2]


def test_quality_gate_flags_and_keep_cols(spark):
    from data_engineer_task_spark.operators.quality import quality_gate

    df = spark.createDataFrame(
        [
            (1, "en", " ".join(["word"] * 40)),  # passes every rule
            (2, "de", "too short"),  # fails the length band
            (3, "fr", " ".join(["the"] * 40)),  # fails stopword density
        ],
        "doc_id long, lang string, text string",
    )
    out = {
        r["doc_id"]: (r["lang"], r["passed"])
        for r in quality_gate(df, "doc_id", "text", keep_cols=("lang",)).collect()
    }
    assert out == {1: ("en", True), 2: ("de", False), 3: ("fr", False)}


def test_resize_media_deterministic_and_sized(spark):
    from data_engineer_task_spark.operators.multimodal import (
        resize_media,
        synthesize_media_column,
    )

    df = spark.createDataFrame(
        [(1, "alpha"), (2, "beta")], "doc_id long, text string"
    )
    media = synthesize_media_column(df, "doc_id", "text")
    out = {
        r["id"]: r
        for r in resize_media(media, "doc_id", "media", width=64, height=32).collect()
    }
    assert set(out) == {1, 2}
    for r in out.values():
        assert (r["width"], r["height"]) == (64, 32)
        assert len(bytes(r["media"])) == 64 * 32 // 64
    again = {
        r["id"]: bytes(r["media"])
        for r in resize_media(media, "doc_id", "media", width=64, height=32).collect()
    }
    assert {k: bytes(v["media"]) for k, v in out.items()} == again


def test_sample_frames_fans_out_rows(spark):
    from data_engineer_task_spark.operators.multimodal import (
        fake_decode,
        sample_frames,
        synthesize_media_column,
    )

    df = spark.createDataFrame(
        [(i, f"doc number {i}") for i in range(6)], "doc_id long, text string"
    )
    media = synthesize_media_column(df, "doc_id", "text")
    rows = sample_frames(media, "doc_id", "media", every_n=2).collect()
    # expected fan-out: indices 0,2,4,... below each clip's frame count
    payloads = {r["doc_id"]: bytes(r["media"]) for r in media.collect()}
    want = {
        (i, fi)
        for i, p in payloads.items()
        for fi in range(0, fake_decode(p)["n_frames"], 2)
    }
    assert {(r["id"], r["frame_idx"]) for r in rows} == want
    assert all(len(bytes(r["frame"])) == 8 for r in rows)


def test_extract_features_unit_l1_vectors(spark):
    from data_engineer_task_spark.operators.multimodal import (
        extract_features,
        synthesize_media_column,
    )

    df = spark.createDataFrame(
        [(1, "some text"), (2, "other text")], "doc_id long, text string"
    )
    media = synthesize_media_column(df, "doc_id", "text")
    out = extract_features(media, "doc_id", "media", dim=8).collect()
    assert len(out) == 2
    for r in out:
        assert len(r["features"]) == 8
        assert abs(sum(r["features"]) - 1.0) < 1e-9


def test_observe_profile_piggybacks_on_action(spark):
    """Observation metrics must match a direct aggregation while adding
    no extra scan (they ride on the consuming action)."""
    from data_engineer_task_spark.operators.quality import observe_profile
    from data_engineer_task_spark.sources.catalog import load_table
    from conftest import SF_SMOKE

    orders = load_table(spark, SF_SMOKE, "orders")
    observed, obs = observe_profile(orders, "orders_profile")
    n_consumed = observed.where(F.col("o_totalprice") > 0).count()

    got = obs.get
    assert got["n_rows"] == orders.count()          # full input profiled...
    assert n_consumed <= got["n_rows"]              # ...even though the action filtered
    assert got["nulls_o_orderkey"] == 0
    direct = orders.agg(
        F.sum(F.col("o_custkey").isNull().cast("long"))
    ).collect()[0][0]
    assert got["nulls_o_custkey"] == direct


def test_weighted_hash_sample_properties(spark):
    """Deterministic membership; zero-weight rows never survive; a row
    whose acceptance probability caps at 1 always survives; sample size
    tracks rate·N."""
    from data_engineer_task_spark.operators.sampling import weighted_hash_sample

    df = spark.range(0, 1000).select(
        F.col("id").alias("doc_id"),
        # one giant row (p >> 1), a zero-weight stripe, uniform rest
        F.when(F.col("id") == 7, 10_000_000)
        .when(F.col("id") % 10 == 0, 0)
        .otherwise(100)
        .alias("wt"),
    )
    picked = lambda: {  # noqa: E731
        r["doc_id"]
        for r in weighted_hash_sample(df, "doc_id", "wt", rate=0.2).collect()
    }
    a, b = picked(), picked()
    assert a == b                       # rand()-free, stable
    assert 7 in a                       # capped-probability row always kept
    assert not any(i in a for i in range(0, 1000, 10) if i != 7)  # zero weight

    # probability mass is proportional: the giant row soaks up nearly all
    # of W, so plain rows get p ≈ 0.2·1000·100/10.09e6 ≈ 0.002 → a handful
    assert len(a) < 20

    # uniform weights: expected size is rate·N
    uni = spark.range(0, 1000).select(
        F.col("id").alias("doc_id"), F.lit(100).alias("wt")
    )
    kept = weighted_hash_sample(uni, "doc_id", "wt", rate=0.2).count()
    assert 140 < kept < 260             # ~200 in expectation


def test_decode_media_arrow_matches_pandas_path(spark):
    """mapInArrow and mapInPandas decode paths must produce identical
    metadata — one operator contract, two interchange formats."""
    from data_engineer_task_spark.operators.multimodal import (
        decode_media,
        decode_media_arrow,
        synthesize_media_column,
    )

    docs = spark.createDataFrame(
        [(1, "alpha"), (2, "beta gamma"), (3, "")], ["doc_id", "text"]
    )
    media = synthesize_media_column(docs, "doc_id", "text")
    rows = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
    a = rows(decode_media(media, "doc_id", "media"))
    b = rows(decode_media_arrow(media, "doc_id", "media"))
    assert a == b and len(a) == 3


def test_scd2_merge_null_handling(spark):
    """NULL is_current dim rows survive as history (not silently lost);
    a NULL effective date in updates raises instead of silently
    dropping the update."""
    from pyspark.sql.utils import PythonException

    from data_engineer_task_spark.operators.upsert import scd2_merge

    dim = spark.createDataFrame(
        [(1, "A", "2024-01-01", None, True),
         (2, "B", "2024-01-01", "2030-01-01", None)],   # corrupted flag
        ["k", "attr", "valid_from", "valid_to", "is_current"],
    ).selectExpr("k", "attr", "CAST(valid_from AS DATE) valid_from",
                 "CAST(valid_to AS DATE) valid_to", "is_current")
    updates = spark.createDataFrame(
        [(1, "A2", "2024-06-01")], ["k", "attr", "eff"]
    ).selectExpr("k", "attr", "CAST(eff AS DATE) eff")

    out = scd2_merge(dim, updates, ["k"], ["attr"]).collect()
    by_key = {}
    for r in out:
        by_key.setdefault(r["k"], []).append(r)
    assert len(by_key[1]) == 2                    # closed + reopened
    assert len(by_key[2]) == 1                    # corrupted row KEPT
    assert by_key[2][0]["attr"] == "B"

    bad = spark.createDataFrame(
        [(3, "C", None)], "k long, attr string, eff string"
    ).selectExpr("k", "attr", "CAST(eff AS DATE) eff")
    import pytest as _pytest
    with _pytest.raises(Exception, match="NULL eff"):
        scd2_merge(dim, bad, ["k"], ["attr"]).collect()


def test_scd2_merge_new_key_inserted(spark):
    from data_engineer_task_spark.operators.upsert import scd2_merge

    dim = spark.createDataFrame(
        [(1, "A", "2024-01-01", "2099-12-31", True)],
        ["k", "attr", "valid_from", "valid_to", "is_current"],
    ).selectExpr("k", "attr", "CAST(valid_from AS DATE) valid_from",
                 "CAST(valid_to AS DATE) valid_to", "is_current")
    updates = spark.createDataFrame(
        [(9, "NEW", "2024-06-01")], ["k", "attr", "eff"]
    ).selectExpr("k", "attr", "CAST(eff AS DATE) eff")
    rows = {r["k"]: r for r in scd2_merge(dim, updates, ["k"], ["attr"]).collect()}
    assert rows[9]["attr"] == "NEW" and rows[9]["is_current"]


def test_lsh_band_size_must_divide(spark):
    from data_engineer_task_spark.operators.dedup import lsh_candidate_pairs

    sigs = spark.createDataFrame([(1, *range(8))],
                                 ["id", *[f"mh_{i}" for i in range(8)]])
    with pytest.raises(ValueError, match="must divide"):
        lsh_candidate_pairs(sigs, "id", n_hashes=8, band_size=3)


def test_tokenize_sep_is_literal_not_regex(spark):
    df = spark.createDataFrame([(1, "ab|cd")], ["id", "text"])
    got = [r["token"] for r in
           tokenize(df, "id", "text", sep="|").orderBy("pos").collect()]
    assert got == ["ab", "cd"]  # '|' as regex would split per character


def test_yoy_growth_duplicate_year_rows_are_summed(spark):
    df = spark.createDataFrame(
        [(2000, 6), (2000, 4), (2001, 20)], ["y", "n"]
    )
    rows = {r["y"]: r["growth_pct"] for r in yoy_growth(df, "y", "n").collect()}
    assert rows[2001] == 100.0  # (20-10)/10 — duplicates summed, not raced


def test_normalize_text_steps_and_toggles(spark):
    from data_engineer_task_spark.operators.text import normalize_text

    df = spark.createDataFrame(
        [(1, "  Hello,  WORLD!? it's   fine.  ")], ["id", "text"]
    )
    full = df.select(normalize_text(F.col("text")).alias("n")).collect()[0]["n"]
    assert full == "hello world it's fine"  # [.,!?;:] stripped, ws collapsed

    keep_case = df.select(
        normalize_text(F.col("text"), lowercase=False).alias("n")
    ).collect()[0]["n"]
    assert keep_case == "Hello WORLD it's fine"

    no_collapse = df.select(
        normalize_text(F.col("text"), collapse_ws=False).alias("n")
    ).collect()[0]["n"]
    assert "  " in no_collapse  # collapse genuinely toggled off


def test_multimodal_features_feed_ann_assignment(spark):
    """Integration: the multimodal chain's output column IS the input
    the ANN operators take — synthesize media, featurize to
    array<double>, and route every vector to a centroid via ivf_assign.
    The whole chain is deterministic, so assignments are stable across
    runs."""
    from pyspark.sql import functions as F

    from data_engineer_task_spark.operators.multimodal import (
        extract_features,
        synthesize_media_column,
    )
    from data_engineer_task_spark.operators.similarity import ivf_assign

    df = spark.createDataFrame(
        [(i, f"media payload {i}") for i in range(40)], ["id", "text"]
    )
    media = synthesize_media_column(df, "id", "text")
    feats = extract_features(media, "id", "media", dim=8)

    out1 = ivf_assign(feats, "id", "features", centroid_filter=F.col("id") < 4)
    rows1 = sorted(map(tuple, out1.collect()))
    assert len(rows1) == 40
    assert {r[1] for r in rows1} <= {0, 1, 2, 3}  # centroid ids
    assert all(-1.0 <= r[2] <= 1.0 for r in rows1)
    # centroids match themselves perfectly
    self_rows = {r[0]: r for r in rows1 if r[0] < 4}
    assert all(self_rows[i][1] == i and self_rows[i][2] == 1.0 for i in range(4))

    out2 = ivf_assign(feats, "id", "features", centroid_filter=F.col("id") < 4)
    assert rows1 == sorted(map(tuple, out2.collect()))


# --- PII scrubbing ---------------------------------------------------------


def test_scrub_pii_redacts_and_counts(spark):
    # Constructed rows: the synthetic corpus has no PII-shaped spans,
    # so the regex rules are pinned here (the corpus-scale denylist
    # variant is the doc_denylist_scrub oracle entry).
    df = spark.createDataFrame(
        [
            (1, "mail a.b-c_1@ex-ample.co.uk or call +1 (555) 123-4567."),
            (2, "server at 192.168.0.1 logged 555.867.5309 twice"),
            (3, "no pii here, just 42 plain words and v1.2.3 tags"),
            (4, None),
        ],
        "id int, text string",
    )
    out = {r["id"]: r for r in scrub_pii(df, "text").collect()}

    assert out[1]["n_email"] == 1 and out[1]["n_phone"] == 1
    assert out[1]["scrubbed"] == "mail [EMAIL] or call [PHONE]."
    # dotted quad claimed by the IP rule, not half-eaten by phone
    assert out[2]["n_ipv4"] == 1 and out[2]["n_phone"] == 1
    assert out[2]["scrubbed"] == "server at [IP] logged [PHONE] twice"
    # precision: versions / plain numbers survive untouched
    assert out[3]["scrubbed"] == out[3]["text"]
    assert out[3]["n_email"] == out[3]["n_ipv4"] == out[3]["n_phone"] == 0
    # null text propagates nulls, never throws (ANSI mode)
    assert out[4]["scrubbed"] is None


def test_scrub_pii_is_map_only(spark):
    df = spark.createDataFrame([(1, "x@y.io")], "id int, text string")
    explained = scrub_pii(df, "text")._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in explained and "BatchEvalPython" not in explained


# --- exact similarity joins ------------------------------------------------


def _brute_jaccard_pairs(rows, k=3, threshold=0.5):
    """Python reference: all pairs with k-token-shingle Jaccard >= t."""
    def sh(text):
        toks = text.split(" ")
        return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}

    sets = {i: sh(t) for i, t in rows}
    out = {}
    ids = sorted(sets)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = ids[x], ids[y]
            inter = len(sets[a] & sets[b])
            union = len(sets[a] | sets[b])
            # membership on the TRUE Jaccard (mirrors the operator);
            # the reported value is the rounded form
            if union and inter / union >= threshold:
                out[(a, b)] = (inter, round(inter * 10000.0 / union) / 10000.0)
    return out


def test_jaccard_join_exact_matches_brute_force(spark):
    from data_engineer_task_spark.operators.dedup import jaccard_join_exact

    base = "the quick brown fox jumps over the lazy dog near the red barn"
    rows = [
        (1, base),
        (2, base + " today"),                      # near-dup of 1
        (3, "a completely different document about spark shuffles and joins"),
        (4, base.replace("red", "blue")),          # near-dup of 1 and 2
        (5, "another unrelated text mentioning quick brown things only once"),
    ]
    expected = _brute_jaccard_pairs(rows)
    assert (1, 2) in expected and (3, 4) not in expected  # fixture sanity
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r.id_a, r.id_b): (r.n_common, r.jaccard)
        for r in jaccard_join_exact(df, "doc_id", "text", threshold=0.5).collect()
    }
    # prefix filtering must be lossless: exact same pair set AND values
    assert got == expected


def test_tfidf_cosine_pairs_discriminates_and_prunes_stopwords(spark):
    from data_engineer_task_spark.operators.text import tfidf_cosine_pairs

    rows = [
        # 1 and 2: same rare vocabulary -> high cosine
        (1, "zephyr quasar nebula zephyr quasar"),
        (2, "zephyr quasar nebula nebula"),
        # 3..12: share ONLY the ubiquitous token 'common' with each other
        *[(i, f"common filler{i} text{i}") for i in range(3, 13)],
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        (r.doc_a, r.doc_b): r.cos_sim
        for r in tfidf_cosine_pairs(
            df, "doc_id", "text", threshold=0.3, max_df_frac=0.5
        ).collect()
    }
    assert (1, 2) in out and out[(1, 2)] > 0.8
    # 'common' appears in 10/12 docs > max_df_frac -> pruned from the
    # weight space, so the filler docs produce NO pairs at all
    assert all(p == (1, 2) for p in out)


def test_jaccard_join_exact_keeps_exact_boundary_pair_at_float_unsafe_threshold(spark):
    # threshold=0.4: t/(1+t) floats strictly above 2/7, so un-slacked
    # pruning bounds would require overlap 3 where the exact math needs
    # 2 — and with the common shingles globally HOT (sorted last in
    # every prefix) the positional filter would drop the pair entirely.
    # J(A,B) = 2 common / 5 union = 0.4 exactly; it must be kept.
    from data_engineer_task_spark.operators.dedup import jaccard_join_exact

    rows = [
        (1, "t1 t2 t3 t4 t5"),          # shingles {123, 234, 345}
        (2, "t2 t3 t4 t5 t6 t7"),        # shingles {234, 345, 456, 567}
        # fillers make the two common shingles the hottest in the corpus
        (3, "t2 t3 t4"),
        (4, "t2 t3 t4"),
        (5, "t3 t4 t5"),
        (6, "t3 t4 t5"),
    ]
    expected = _brute_jaccard_pairs(rows, threshold=0.4)
    assert (1, 2) in expected  # fixture sanity: the boundary pair exists
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r.id_a, r.id_b): (r.n_common, r.jaccard)
        for r in jaccard_join_exact(df, "doc_id", "text", threshold=0.4).collect()
    }
    assert got == expected


def test_jaccard_join_exact_randomized_corpus_matches_brute_force(spark):
    # seeded random corpus from a small vocab (forced overlap structure),
    # checked at two thresholds — broader evidence than the fixtures
    # that prefix+length+positional pruning never drops a true pair.
    import random

    rng = random.Random(42)
    vocab = [f"w{i}" for i in range(18)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(5, 12))))
        for i in range(50)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    for t in (0.3, 0.5):
        expected = _brute_jaccard_pairs(rows, threshold=t)
        got = {
            (r.id_a, r.id_b): (r.n_common, r.jaccard)
            for r in jaccard_join_exact_op(
                df, "doc_id", "text", threshold=t
            ).collect()
        }
        assert got == expected, f"threshold {t}"
        spark.catalog.clearCache()


def test_gender_snapshot_hermetic(spark):
    """VERDICT r1 missing-4: the gender mapping must come from the
    checked-in snapshot so labels are independent of installed
    packages. Pins exact labels (incl. ambiguous→unknown folding) and
    the unmatched→unknown join behavior, unconditionally — no
    importorskip on gender_guesser anywhere."""
    from data_engineer_task_spark.functions.gender import (
        _SNAPSHOT,
        _mapping,
        gender_lookup_df,
        with_gender,
    )

    assert _SNAPSHOT.exists(), "snapshot resource must ship with the package"
    m = _mapping()
    assert len(m) >= 400
    assert m["james"] == "male"
    assert m["mary"] == "female"
    assert m["kim"] == "unknown"  # ambiguous name folded at snapshot time
    df = spark.createDataFrame(
        [("Woody",), ("Phoebe",), ("Zzzzqx",)], ["first_name"]
    )
    got = {
        r["first_name"]: r["gender"]
        for r in with_gender(df, gender_lookup_df(spark)).collect()
    }
    assert got == {"Woody": "male", "Phoebe": "female", "Zzzzqx": "unknown"}


def _tiny_png(w: int, h: int) -> bytes:
    """Fully valid PNG (correct chunk CRCs, zlib IDAT) built with
    stdlib only — a REAL byte format, not a synthetic fake."""
    import struct
    import zlib

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)  # 8-bit grayscale
    raw = b"".join(b"\x00" + b"\x80" * w for _ in range(h))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def _tiny_jpeg(w: int, h: int) -> bytes:
    """Structurally valid JPEG header stream: SOI + APP0/JFIF + SOF0
    carrying the frame dims + EOI (marker/length framing is real; scan
    data omitted — header parsing never reads past SOF)."""
    import struct

    app0 = b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00"
    sof0 = struct.pack(">BHHB", 8, h, w, 1) + b"\x01\x11\x00"
    return (
        b"\xff\xd8"
        + b"\xff\xe0" + struct.pack(">H", len(app0) + 2) + app0
        + b"\xff\xc0" + struct.pack(">H", len(sof0) + 2) + sof0
        + b"\xff\xd9"
    )


def _tiny_wav(rate: int, channels: int, n_frames: int) -> bytes:
    """Real WAV file produced by the stdlib `wave` encoder."""
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as wv:
        wv.setnchannels(channels)
        wv.setsampwidth(2)
        wv.setframerate(rate)
        wv.writeframes(b"\x01\x02" * channels * n_frames)
    return buf.getvalue()


def test_header_decode_real_byte_formats(spark):
    """VERDICT r1 missing-3: prove the decode seam against REAL
    JPEG/PNG/WAV bytes with the dependency-free header parser — both
    the pandas and the Arrow batch paths, plus the never-throws
    quarantine contract for junk payloads."""
    from data_engineer_task_spark.operators.multimodal import (
        decode_media,
        decode_media_arrow,
        header_decode,
    )

    png, jpg, wav = _tiny_png(3, 2), _tiny_jpeg(640, 480), _tiny_wav(8000, 1, 5)
    # sanity: the parser reads the actual headers
    assert header_decode(png) == {
        "format": "png", "width": 3, "height": 2, "n_frames": 1
    }
    assert header_decode(jpg) == {
        "format": "jpeg", "width": 640, "height": 480, "n_frames": 1
    }
    assert header_decode(wav) == {
        "format": "wav", "width": 8000, "height": 1, "n_frames": 5
    }
    assert header_decode(b"\x00garbage")["format"] == "unknown"
    assert header_decode(b"")["format"] == "unknown"
    # spec-legal fill bytes (0xFF padding) before a marker must not be
    # misread as a marker with a bogus length (code-review r2 catch)
    padded = b"\xff\xd8" + b"\xff\xff\xff" + _tiny_jpeg(32, 16)[2:]
    assert header_decode(padded) == {
        "format": "jpeg", "width": 32, "height": 16, "n_frames": 1
    }

    df = spark.createDataFrame(
        [(1, png), (2, jpg), (3, wav), (4, b"junk"), (5, None)],
        "id long, media binary",
    )
    want = {
        (1, len(png), "png", 3, 2, 1),
        (2, len(jpg), "jpeg", 640, 480, 1),
        (3, len(wav), "wav", 8000, 1, 5),
        (4, 4, "unknown", 0, 0, 0),
        (5, 0, "unknown", 0, 0, 0),
    }
    got_pandas = set(
        map(tuple, decode_media(df, "id", "media", header_decode).collect())
    )
    got_arrow = set(
        map(tuple, decode_media_arrow(df, "id", "media", header_decode).collect())
    )
    assert got_pandas == want
    assert got_arrow == want


def test_lsh_match_against_finds_cross_corpus_dups(spark):
    """Incremental dedup primitive: a batch doc near-identical to a
    corpus doc must band-match it; an unrelated doc must not; and the
    operator never pairs corpus-with-corpus or batch-with-batch."""
    from data_engineer_task_spark.operators.dedup import (
        lsh_match_against,
        minhash_signatures,
    )

    corpus = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon zeta eta theta"),
         (2, "one two three four five six seven eight")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta"),
         (3, "totally different words nothing shared here at all")],
        "doc_id long, text string",
    )
    sc = minhash_signatures(corpus, "doc_id", "text", n_hashes=8, shingle_k=3)
    sq = minhash_signatures(batch, "doc_id", "text", n_hashes=8, shingle_k=3)
    got = set(map(tuple, lsh_match_against(sc, sq, "doc_id").collect()))
    assert (1, 0) in got
    assert all(q in (1, 3) and c in (0, 2) for q, c in got)
    assert (3, 0) not in got and (3, 2) not in got


def test_lsh_match_against_consistent_with_self_join(spark):
    """Invariant tying the incremental primitive to the batch one: for
    a corpus split into even/odd halves, the (even, odd) pairs from
    the full self-join candidate generation must equal
    lsh_match_against(corpus=even, query=odd) as unordered pairs —
    incremental dedup finds exactly the cross-split candidates the
    batch pipeline would."""
    from data_engineer_task_spark.operators.dedup import (
        lsh_candidate_pairs,
        lsh_match_against,
        minhash_signatures,
    )
    from data_engineer_task_spark.sources.catalog import load_table
    from conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    sigs = minhash_signatures(docs, "doc_id", "text", n_hashes=8, shingle_k=3)
    self_pairs = {
        tuple(r)
        for r in lsh_candidate_pairs(sigs, "doc_id").collect()
        if r["id_a"] % 2 != r["id_b"] % 2  # cross-split pairs only
    }
    even = sigs.where(F.col("doc_id") % 2 == 0)
    odd = sigs.where(F.col("doc_id") % 2 == 1)
    matches = {
        (min(r["id_q"], r["id_c"]), max(r["id_q"], r["id_c"]))
        for r in lsh_match_against(even, odd, "doc_id").collect()
    }
    normalized_self = {(min(a, b), max(a, b)) for a, b in self_pairs}
    assert matches == normalized_self
    assert matches, "fixture must produce at least one cross-split candidate"


def test_poisson_bootstrap_weights_match_poisson1(spark):
    """The md5-derived replicate weights must actually BE Poisson(1):
    empirical mean ~1, zero-fraction ~e^-1, across a 10k-id sample —
    pins the inverse-CDF cut points against regression."""
    import math

    from pyspark.sql import functions as F

    from data_engineer_task_spark.plans.relational import (
        _pois_w_col,
        _u16_window_col,
    )

    ids = spark.range(10_000)
    h = F.md5(F.concat(F.lit("boot:0:"), F.col("id").cast("string")))
    w = _pois_w_col(_u16_window_col(h, 3))
    row = ids.select(w.alias("w")).agg(
        F.avg("w").alias("mean_w"),
        F.avg(F.when(F.col("w") == 0, 1.0).otherwise(0.0)).alias("p0"),
        F.max("w").alias("max_w"),
    ).first()
    assert abs(row["mean_w"] - 1.0) < 0.04
    assert abs(row["p0"] - math.exp(-1)) < 0.02
    assert row["max_w"] <= 8


def test_core_operators_tolerate_empty_input(spark):
    """An empty micro-batch / fully-filtered partition is a routine
    input at scale — every core operator must return an empty,
    correctly-schemaed frame instead of throwing."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from data_engineer_task_spark.operators.dedup import (
        content_hash_dedup,
        jaccard_join_exact,
        near_duplicates,
        segment_dedup_rewrite,
        text_segments,
    )
    from data_engineer_task_spark.operators.quality import quality_gate
    from data_engineer_task_spark.operators.sampling import hash_split

    empty = spark.createDataFrame(
        [],
        StructType(
            [
                StructField("doc_id", LongType()),
                StructField("text", StringType()),
            ]
        ),
    )
    assert content_hash_dedup(empty, "doc_id", "text").count() == 0
    assert text_segments(empty, "doc_id", "text").count() == 0
    rw = segment_dedup_rewrite(empty, "doc_id", "text")
    assert rw.count() == 0
    assert "rewritten_text" in rw.columns
    assert near_duplicates(empty, "doc_id", "text").count() == 0
    assert jaccard_join_exact(empty, "doc_id", "text", threshold=0.5).count() == 0
    assert quality_gate(empty, "doc_id", "text").count() == 0
    assert hash_split(empty, "doc_id").count() == 0


def test_sign_bucket_guards_short_and_null_vectors(spark):
    """ADVICE r5: a NULL embedding must raise through the same loud
    guard as a too-short one — size(NULL) is NULL, so the bare
    short-vector condition silently collapsed NULL vectors into
    bucket '000000' (one hot bucket of every bad row)."""
    import pytest
    from pyspark.sql import functions as F
    from pyspark.errors import SparkRuntimeException

    from data_engineer_task_spark.operators.similarity import sign_bucket

    ok = spark.createDataFrame(
        [(1, [0.5, -0.2, 0.1, -0.9, 0.3, 0.7])],
        "id LONG, embedding ARRAY<DOUBLE>",
    )
    assert ok.select(sign_bucket("embedding").alias("b")).collect()[0][
        "b"
    ] == "101011"

    short = spark.createDataFrame(
        [(1, [0.5, -0.2])], "id LONG, embedding ARRAY<DOUBLE>"
    )
    with pytest.raises(SparkRuntimeException, match="needs >= 6 dims"):
        short.select(sign_bucket("embedding")).collect()

    null_vec = spark.createDataFrame(
        [(1, None)], "id LONG, embedding ARRAY<DOUBLE>"
    )
    with pytest.raises(SparkRuntimeException, match="NULL vector"):
        null_vec.select(sign_bucket("embedding")).collect()


def test_phrase_merge_vectorized_equals_fold(spark):
    """The r6 rewrite kernel: for a != b the greedy left fold is
    replaced by a vectorized positional transform (valid because
    matches can't overlap); for a == b the fold stays. Pin BOTH paths
    — including overlap runs ('z z z'), double-space empty tokens, and
    merged-symbol reuse — against a pure-Python replay of the greedy
    left-to-right semantics."""
    from pyspark.sql import functions as F

    from data_engineer_task_spark.operators.text import phrase_merge_rounds

    texts = [
        "z z z z a b a b",          # a==b run + repeated pair
        "a b a b a b",              # non-overlapping repeats
        "x  y a b",                 # double space -> empty token
        "a b b a a b",
        "z z a b z z z",
        "single",
        "a a a b b b",
    ] * 10
    rows = [(i, t) for i, t in enumerate(texts)]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")

    def py_merge(toks, a, b):
        out = []
        for x in toks:
            if out and out[-1] == a and x == b:
                out[-1] = f"{a} {b}"
            else:
                out.append(x)
        return out

    def py_rounds(texts, rounds):
        corpus = [t.split(" ") for t in texts]
        stats = []
        for _ in range(rounds):
            from collections import Counter

            c = Counter()
            for toks in corpus:
                for i in range(len(toks) - 1):
                    c[(toks[i], toks[i + 1])] += 1
            if not c:
                break
            (a, b), cnt = min(
                c.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
            )
            corpus = [py_merge(t, a, b) for t in corpus]
            stats.append((a, b, cnt, sum(len(t) for t in corpus)))
        return stats, corpus

    stats, toks = phrase_merge_rounds(docs, "doc_id", "text", rounds=3)
    want_stats, want_corpus = py_rounds(texts, 3)
    assert stats == want_stats
    got = {
        r["doc_id"]: r["toks"]
        for r in toks.select("doc_id", "toks").collect()
    }
    for i, t in enumerate(want_corpus):
        assert got[i] == t, f"doc {i}: {got[i]} != {t}"


def test_candidate_broadcast_fallback_is_value_identical(spark, monkeypatch):
    """Self-review r6: explicit F.broadcast(candidates) bypasses
    Spark's size guard, and candidate pairs grow linearly with the
    corpus — past BROADCAST_CANDIDATE_LIMIT, near_duplicates must fall
    back to an unhinted join. Forcing the limit to 0 must change the
    plan (no forced broadcast), never the pairs."""
    import data_engineer_task_spark.operators.dedup as dd
    from pyspark.sql import functions as F

    from data_engineer_task_spark.sources.catalog import load_table
    from conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    want = sorted(
        map(
            tuple,
            dd.near_duplicates(docs, "doc_id", "text", threshold=0.5)
            .select("id_a", "id_b")
            .collect(),
        )
    )
    spark.catalog.clearCache()
    monkeypatch.setattr(dd, "BROADCAST_CANDIDATE_LIMIT", 0)
    got = sorted(
        map(
            tuple,
            dd.near_duplicates(docs, "doc_id", "text", threshold=0.5)
            .select("id_a", "id_b")
            .collect(),
        )
    )
    spark.catalog.clearCache()
    assert got == want and len(want) > 0
