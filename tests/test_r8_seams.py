"""Adversarial probes at the r7 seams (VERDICT r7 item 7): engineered
edge corpora driven through the REAL declared entries AND their DuckDB
oracles — a mini-driver over synthetic tables, so cross-engine
divergence at the seams fails here before any driver round sees it.

(a) keep-best × segment-dedup interaction: fully-emptied rewrites,
    raw-length ties inside a cluster, and a cluster where the longest
    member is NOT the min-id (classify(), run(), and the oracle's
    argmax must all agree);
(b) cms_inner_product under DOMAIN-SHARDED merges at 30k-row scale:
    cell-exact vs one-shot, one-sided within the CM error bound, and
    the direct disjoint-shard pairing (complements the small-corpus
    fuzz in test_scale_patterns.py);
(c) the rolling HLL cube's trailing-window trim when the events table
    ends in NULL-user-only days (bounds come from the UNFILTERED
    frame) with a zero-event gap day inside the history.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from data_engineer_task_spark.plans.analytics import ORACLE, QUERIES

from oracle_harness import compare


def _duck_for(sf_dir: str, tables: tuple[str, ...]) -> duckdb.DuckDBPyConnection:
    """duck_connection() registers every testdata table; synthetic seam
    dirs hold only the tables the probed entry touches."""
    con = duckdb.connect()
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * "
            f"FROM read_parquet('{sf_dir}/{t}.parquet/*.parquet')"
        )
    return con


# ---------------------------------------------------------------------------
# (a) keep-best × segment-dedup seam corpus
# ---------------------------------------------------------------------------

def _seg(prefix: str, k: int = 10) -> list[str]:
    return [f"{prefix}{i:03d}" for i in range(k)]


def _words(*segs: list[str]) -> str:
    return " ".join(t for s in segs for t in s)


def _swap(segs: list[list[str]], pos: int, mk) -> list[list[str]]:
    out = [s[:] for s in segs]
    for s in out:
        s[pos] = mk(s[pos])
    return out


def _seam_docs():
    """Ten documents hitting every keep-best × segment edge at once.
    All tokens are 30-80 per doc with 2-12 avg length, no stopwords,
    no punctuation — every non-engineered doc passes the curation gate.
    Jaccard values and LSH band hits are md5-deterministic, so the
    cluster structure below is stable across runs and engines."""
    A, B, C, D = (_seg(p) for p in ("wa", "wb", "wc", "wd"))
    base2 = [_seg(p) for p in ("xa", "xb", "xc", "xd")]
    # doc 3: one SAME-LENGTH token swapped per segment (raw-length TIE
    # with doc 2); doc 4: one LONGER token swapped per segment at the
    # same position (strictly longest raw text in the cluster, and NOT
    # the min id). All three pairwise jaccards land at 0.52 >= 0.5 and
    # all three LSH band pairs hit -> one {2,3,4} cluster.
    d3 = _swap(base2, 4, lambda t: "y" + t[1:])
    d4 = _swap(base2, 4, lambda t: "z" + t + "00")
    base8 = [_seg(p) for p in ("pa", "pb", "pc", "pd")]
    d9 = _swap(base8, 4, lambda t: "u" + t[1:])  # tie-only cluster {8,9}
    filler = [f"qq{i:03d}" for i in range(40)]
    docs = [
        (0, _words(A, B, C, D)),     # survives: all segments first-seen
        (1, _words(B, A, D, C)),     # every segment already seen -> emptied
        (2, _words(*base2)),         # cluster {2,3,4}: loses to longer 4
        (3, _words(*d3)),            # tie with 2 on raw length, loses to 4
        (4, _words(*d4)),            # longest raw text -> keep-best survivor
        (5, " ".join(filler)),       # clean survivor
        (6, "too few tokens"),       # gate reject
        (7, " ".join(filler)),       # exact dup of 5 (higher id loses)
        (8, _words(*base8)),         # tie cluster {8,9}: min-id survivor
        (9, _words(*d9)),            # equal raw length, higher id -> loses
    ]
    return [(i, t, "en", "synth", len(t)) for i, t in docs]


@pytest.fixture(scope="module")
def seam_docs_dir(spark, tmp_path_factory) -> str:
    d = str(tmp_path_factory.mktemp("r8seam_docs"))
    spark.createDataFrame(
        _seam_docs(),
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    return d


EXPECTED_REJECTS = {
    1: "rejected:segment_dedup",
    2: "rejected:near_dedup",
    3: "rejected:near_dedup",
    6: "rejected:quality_gate",
    7: "rejected:exact_dedup",
    9: "rejected:near_dedup",
}
EXPECTED_SURVIVORS = {0, 4, 5, 8}


def test_keepbest_segment_seam_outcomes(spark, seam_docs_dir):
    """The engineered outcomes, exactly: the emptied-rewrite doc
    rejects at the segment stage (not exact/near); in the {2,3,4}
    cluster the LONGEST raw text survives even though 2 is the min id
    AND 2/3 tie; in the {8,9} tie-only cluster the MIN ID survives."""
    rows = QUERIES["curation_keepbest_survivors"](spark, seam_docs_dir).collect()
    out = {r["doc_id"]: r["outcome"] for r in rows}
    assert len(out) == 10, "funnel conservation: one outcome per input"
    for doc_id, outcome in EXPECTED_REJECTS.items():
        assert out[doc_id] == outcome, (doc_id, out)
    for doc_id in EXPECTED_SURVIVORS:
        assert out[doc_id].startswith("split:"), (doc_id, out)


def test_keepbest_segment_seam_matches_oracle(spark, seam_docs_dir):
    """Cross-engine hash equality ON the edge corpus — the oracle's
    recursive closure, argmax tie-break, and segment-rewrite SQL agree
    with the pipeline where the edges actually bite."""
    con = _duck_for(seam_docs_dir, ("documents",))
    try:
        rep = compare(
            QUERIES["curation_keepbest_survivors"](spark, seam_docs_dir),
            con,
            ORACLE["curation_keepbest_survivors"],
            "keepbest_seam",
        )
        assert rep["ok"], rep
    finally:
        con.close()


def test_keepbest_segment_seam_classify_matches_run(spark, seam_docs_dir, tmp_path):
    """classify() vs run() row-for-row on the EDGE corpus (the generic
    equivalence test uses benign testdata): same survivors, same
    reject stages, through the write-path surface."""
    from data_engineer_task_spark.plans.dedup import (
        _KEEPBEST_SEG,
        _MAX_ATL,
        _MAX_PR,
        _MAX_SWR,
        _MAX_TOKENS,
        _MIN_ATL,
        _MIN_TOKENS,
        _THRESHOLD,
    )
    from data_engineer_task_spark.plans.curation import (
        CurationConfig,
        CurationPipeline,
    )
    from data_engineer_task_spark.sources.catalog import load_table

    cfg = CurationConfig(
        min_tokens=_MIN_TOKENS,
        max_tokens=_MAX_TOKENS,
        min_avg_token_len=_MIN_ATL,
        max_avg_token_len=_MAX_ATL,
        max_stopword_ratio=_MAX_SWR,
        max_punct_ratio=_MAX_PR,
        near_dup_threshold=_THRESHOLD,
        near_dup_keep="best",
        segment_dedup=True,
        segment_len=_KEEPBEST_SEG,
    )
    docs = load_table(spark, seam_docs_dir, "documents").select("doc_id", "text")
    out_dir = str(tmp_path / "run_out")
    pipe = CurationPipeline(spark, out_dir, cfg)
    pipe.run(docs)
    curated = {
        r["doc_id"]: f"split:{r['split']}"
        for r in spark.read.parquet(f"{out_dir}/curated").collect()
    }
    rejects = {
        r["doc_id"]: f"rejected:{r['reject_stage']}"
        for r in spark.read.parquet(f"{out_dir}/rejects").collect()
    }
    run_out = curated | rejects
    cls_out = {
        r["doc_id"]: r["outcome"]
        for r in CurationPipeline(spark, config=cfg).classify(docs).collect()
    }
    assert run_out == cls_out


# ---------------------------------------------------------------------------
# (b) CMS inner product: disjoint-domain shard merges + mismatched depths
# ---------------------------------------------------------------------------

def test_cms_inner_product_disjoint_domain_shards(spark):
    """Shards partitioned BY KEY DOMAIN (each key lives in exactly one
    shard — the layout of per-tenant / per-date shard sketches), at
    30k-row scale: the merge must equal the one-shot sketch
    CELL-FOR-CELL; the inner product against a probe overlapping only
    ONE domain stays one-sided AND inside the Cormode-Muthukrishnan
    e/w bound; and two disjoint shard sketches paired directly stay
    >= the true 0. (The small-corpus one-sidedness fuzz incl.
    mismatched build depths lives in test_scale_patterns.py::
    test_cms_inner_product_disjoint_shard_merge_fuzz.)"""
    import math

    from data_engineer_task_spark.operators.sketch import (
        cms_build,
        cms_inner_product,
        cms_merge,
    )

    toks = spark.range(30_000).select(
        F.concat(
            F.lit("d"),
            (F.col("id") % 3).cast("string"),
            F.lit("_"),
            F.pmod(F.hash("id"), 300).cast("string"),
        ).alias("token"),
        (F.col("id") % 3).alias("dom"),
    ).persist()
    oneshot = cms_build(toks, "token")
    merged = cms_merge(
        *[cms_build(toks.where(F.col("dom") == d), "token") for d in range(3)]
    )
    assert sorted(map(tuple, oneshot.collect())) == sorted(
        map(tuple, merged.collect())
    ), "domain-sharded merge must be cell-exact vs one-shot"

    probe = toks.where(F.col("dom") == 0)
    sk_probe = cms_build(probe, "token")
    est = cms_inner_product(merged, sk_probe).collect()[0]["cms_est"]
    exact = (
        probe.groupBy("token")
        .agg(F.count(F.lit(1)).alias("f"))
        .agg(F.sum(F.col("f") * F.col("f")).alias("x"))
        .collect()[0]["x"]
    )
    n_all, n_probe = toks.count(), probe.count()
    assert est >= exact, "one-sided even when 2 of 3 domains never overlap"
    assert est - exact <= math.e / 256 * n_all * n_probe

    # fully disjoint domains: truth 0; the estimate is collision mass
    # only, and must be >= 0 (not NULL, not negative)
    d0 = cms_build(toks.where(F.col("dom") == 0), "token")
    d1 = cms_build(toks.where(F.col("dom") == 1), "token")
    est_disjoint = cms_inner_product(d0, d1).collect()[0]["cms_est"]
    assert est_disjoint >= 0
    toks.unpersist()


# ---------------------------------------------------------------------------
# (c) rolling HLL cube: trailing trim with NULL-user-only boundary days
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def seam_events_dir(spark, tmp_path_factory) -> str:
    """13-day history: qualifying users on days 1-10 EXCEPT day 6 (a
    zero-event gap), then three trailing days (11-13) carrying ONLY
    user_id-NULL rows — the exact boundary the raw-frame bounds fix
    (code-review r7) exists for."""
    rows = []
    eid = 0
    for day in range(1, 14):
        if day == 6:
            continue  # gap day: no rows at all
        for u in range(1, 4 + (day % 3)):
            eid += 1
            uid = None if day >= 11 else day * 10 + u
            rows.append(
                (eid, f"2024-01-{day:02d} 0{u}:15:00", uid, "click", 1.5, None)
            )
    df = spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    d = str(tmp_path_factory.mktemp("r8seam_events"))
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/events.parquet")
    return d


def test_rolling_hll_cube_trailing_null_days(spark, seam_events_dir):
    """The trim must cut at the RAW max day (2024-01-13), not the
    qualifying max (2024-01-10) and not qual_max + 6 (2024-01-16):
    windows anchored on trailing NULL-only days still report (their
    7-day lookback reaches qualifying days), and nothing beyond the
    raw boundary appears."""
    rows = QUERIES["rolling_weekly_hll_users"](spark, seam_events_dir).collect()
    days = [r["day"] for r in rows]
    assert max(days) == "2024-01-13", days
    assert "2024-01-11" in days and "2024-01-12" in days
    assert "2024-01-16" not in days
    # the gap day itself reports: its window covers days 1-6's users
    assert "2024-01-06" in days
    by_day = {r["day"]: r["n_exact"] for r in rows}
    # day 13's window is days 7..13; qualifying days 7,8,9,10 have
    # 3+(d%3) distinct users each (u ranges over [1, 4+(d%3))), all
    # distinct across days by the uid = day*10+u construction
    assert by_day["2024-01-13"] == sum(3 + (d % 3) for d in (7, 8, 9, 10))


def test_rolling_hll_cube_boundary_matches_oracle(spark, seam_events_dir):
    con = _duck_for(seam_events_dir, ("events",))
    try:
        rep = compare(
            QUERIES["rolling_weekly_hll_users"](spark, seam_events_dir),
            con,
            ORACLE["rolling_weekly_hll_users"],
            "rolling_hll_seam",
        )
        assert rep["ok"], rep
    finally:
        con.close()
