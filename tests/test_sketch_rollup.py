"""Incremental sketch rollup: per-shard HLL/KMV state + ledger
idempotency must answer cardinality questions EXACTLY as a one-shot
sketch over the full history would — the contract that lets a 100 TB
rollup absorb each ingest at sketch cost (plans/sketch_rollup.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from conftest import SF_SMOKE
from data_engineer_task_spark.plans.sketch_rollup import SketchRollup
from data_engineer_task_spark.sources.catalog import load_table


def _shards(spark):
    ev = load_table(spark, SF_SMOKE, "events").select(
        "event_type", "user_id", (F.col("event_id") % 3).alias("shard")
    )
    return ev, [ev.where(F.col("shard") == s) for s in range(3)]


def test_rollup_fold_matches_one_shot(spark, tmp_path):
    ev, shards = _shards(spark)
    roll = SketchRollup(spark, str(tmp_path / "state"))
    for i, sh in enumerate(shards):
        assert roll.ingest(sh, f"shard-{i}") is True

    # folded estimates == one-shot sketch estimates over the union
    from data_engineer_task_spark.operators.sketch import (
        hll_estimate,
        hll_sketch,
        kmv_estimate,
        kmv_sketch,
    )

    got = {
        r["event_type"]: (r["hll_est"], r["kmv_est"])
        for r in roll.estimates().collect()
    }
    want_hll = {
        r["event_type"]: r["hll_raw"]
        for r in hll_estimate(
            hll_sketch(ev, "user_id", group_cols=("event_type",)),
            group_cols=("event_type",),
        ).collect()
    }
    want_kmv = {
        r["event_type"]: r["kmv_raw"]
        for r in kmv_estimate(
            kmv_sketch(ev, "user_id", group_cols=("event_type",)),
            group_cols=("event_type",),
        ).collect()
    }
    assert set(got) == set(want_hll) == set(want_kmv)
    for t in got:
        assert got[t] == (want_hll[t], want_kmv[t])  # EXACT, not approx

    # and the estimates track the exact distinct counts
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    for t, (h, k) in got.items():
        assert abs(h - exact[t]) / exact[t] < 0.25  # m=256 HLL error
        assert abs(k - exact[t]) / exact[t] < 0.45  # k=64 KMV error


def test_rollup_replay_skipped_and_force_replaces(spark, tmp_path):
    ev, shards = _shards(spark)
    roll = SketchRollup(spark, str(tmp_path / "state"))
    for i, sh in enumerate(shards):
        roll.ingest(sh, f"shard-{i}")
    baseline = roll.estimates().collect()

    # replay: ledger hit, state unchanged
    assert roll.ingest(shards[1], "shard-1") is False
    assert roll.estimates().collect() == baseline

    # force: replaces the slice in place (no duplicate state, same
    # answers — the crash-retry path is this same overwrite)
    assert roll.ingest(shards[1], "shard-1", force=True) is True
    assert roll.estimates().collect() == baseline


def test_rollup_global_ungrouped(spark, tmp_path):
    """group_cols=() — a GLOBAL distinct rollup (the sketch operators
    all support it) must ingest AND report (code-review r7: the
    grouped-only orderBy/join spelling crashed here)."""
    ev, shards = _shards(spark)
    roll = SketchRollup(spark, str(tmp_path / "state"), group_cols=())
    for i, sh in enumerate(shards):
        roll.ingest(sh, f"shard-{i}")
    rows = roll.estimates().collect()
    assert len(rows) == 1
    exact = ev.select("user_id").distinct().count()
    assert abs(rows[0]["hll_est"] - exact) / exact < 0.25
    assert abs(rows[0]["kmv_est"] - exact) / exact < 0.45


def test_rollup_config_mismatch_refuses_to_fold(spark, tmp_path):
    import pytest

    ev, shards = _shards(spark)
    state = str(tmp_path / "state")
    SketchRollup(spark, state).ingest(shards[0], "shard-0")
    other = SketchRollup(spark, state, group_cols=("g",), value_col="v", k=32)
    with pytest.raises(ValueError, match="refusing to fold"):
        other.ingest(shards[1].withColumnRenamed("event_type", "g")
                     .withColumnRenamed("user_id", "v"), "shard-1")
    with pytest.raises(ValueError, match="refusing to fold"):
        other.estimates()
    # the matching config still works
    assert SketchRollup(spark, state).ingest(shards[1], "shard-1") is True


def test_rollup_estimates_empty_state_descriptive_error(spark, tmp_path):
    """estimates() before any ingest must raise the DESCRIPTIVE
    no-shards error, not the opaque PATH_NOT_FOUND from the hll/*
    glob read (ADVICE r7) — both on a brand-new state dir and on a
    config-only dir (stamped but killed before the first write)."""
    import pytest

    state = str(tmp_path / "state")
    roll = SketchRollup(spark, state)
    with pytest.raises(ValueError, match="no shards ingested"):
        roll.estimates()
    # stamp the config without writing shard state (the crash window
    # between _check_or_stamp_config and the hll write)
    roll._check_or_stamp_config(stamp=True)
    with pytest.raises(ValueError, match="no shards ingested"):
        roll.estimates()


def test_cli_sketch_rollup(spark, tmp_path, capsys):
    from data_engineer_task_spark.cli import main

    ev, shards = _shards(spark)
    src = str(tmp_path / "shard0")
    shards[0].write.parquet(src)
    state = str(tmp_path / "state")
    assert main(["sketch-rollup", "ingest", src, "--state", state]) == 0
    assert main(["sketch-rollup", "ingest", src, "--state", state]) == 0
    out = capsys.readouterr().out
    assert "ingested" in out and "skipped (ledger hit)" in out
    assert main(["sketch-rollup", "report", "--state", state]) == 0
    rep = capsys.readouterr().out
    assert "hll_est" in rep and "kmv_est" in rep


def test_rollup_config_stamp_and_replay_launch_no_jobs(spark, tmp_path, in_job_group):
    """The config stamp, its check and a replayed ingest (ledger hit)
    are marker calls through the ledger's helpers — no Spark job."""
    ev, shards = _shards(spark)
    roll = SketchRollup(spark, str(tmp_path / "state"))
    _, jobs = in_job_group(lambda: roll._check_or_stamp_config(stamp=True))
    assert jobs == set()
    assert roll.ingest(shards[0], "shard-0") is True
    replayed, jobs = in_job_group(lambda: roll.ingest(shards[0], "shard-0"))
    assert replayed is False
    assert jobs == set()
