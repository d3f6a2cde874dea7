"""Streaming tests: real multi-micro-batch runs with state, verified
against the equivalent batch computation."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_engineer_task_spark.sources.catalog import load_table
from data_engineer_task_spark.streaming.aggregate import _event_stream
from data_engineer_task_spark.streaming.stateful import running_user_totals

from conftest import SF_SMOKE


@pytest.fixture(scope="module")
def events_stream_dir(spark, tmp_path_factory):
    """Re-write the events table (ts normalized by load_table) as 4
    files so maxFilesPerTrigger=1 yields 4 micro-batches — state must
    survive across batches."""
    out = str(tmp_path_factory.mktemp("events_stream"))
    raw = load_table(spark, SF_SMOKE, "events")
    raw.repartition(4).write.mode("overwrite").parquet(out)
    return out


def test_stateful_running_totals_across_batches(spark, events_stream_dir):
    out = running_user_totals(_event_stream(spark, events_stream_dir))

    # capture the LAST update per user across all micro-batches
    final: dict[int, tuple] = {}
    batches = []

    def sink(df, epoch_id):
        rows = df.collect()
        batches.append(len(rows))
        for r in rows:
            final[r["user_id"]] = (r["n_events"], r["total_value"])

    q = out.writeStream.outputMode("update").foreachBatch(sink).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    assert len(batches) >= 4, f"expected >=4 micro-batches, got {batches}"

    expected = {
        r["user_id"]: (r["n"], r["v"])
        for r in load_table(spark, SF_SMOKE, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.coalesce(F.col("value"), F.lit(0.0))), 2).alias("v"),
        )
        .collect()
    }
    assert set(final) == set(expected)
    for uid, (n, v) in expected.items():
        fn, fv = final[uid]
        assert fn == n, (uid, fn, n)
        assert abs(fv - v) < 0.05, (uid, fv, v)  # per-batch rounding drift


def test_stream_running_totals_entry_runner_is_exact(spark):
    """The declared-entry runner (integer-cents state, 4-file
    re-materialized source): final state must equal the batch grouped
    totals EXACTLY (no float tolerance — the whole point of the cents
    state), and the memory sink must show multi-batch emissions (state
    actually survived across micro-batches)."""
    from data_engineer_task_spark.streaming.stateful import (
        run_stream_running_totals_once,
    )

    out = run_stream_running_totals_once(
        spark, f"{SF_SMOKE}/events.parquet", "t_stream_totals"
    )
    got = {
        r["user_id"]: (r["n_events"], r["total_value"]) for r in out.collect()
    }
    # at least one user emitted updates in >= 2 micro-batches
    max_updates = (
        spark.table("t_stream_totals")
        .groupBy("user_id")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert max_updates >= 2, "expected per-user emissions from multiple batches"

    cents = F.round(F.coalesce(F.col("value"), F.lit(0.0)) * 100.0).cast("long")
    expected = {
        r["user_id"]: (r["n"], r["v"])
        for r in load_table(spark, SF_SMOKE, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(cents) / F.lit(100.0)).alias("v"),
        )
        .collect()
    }
    assert got == expected


def test_stream_dedup_compacts_doubled_stream(spark, events_stream_dir):
    from data_engineer_task_spark.streaming.aggregate import run_stream_dedup_once

    out = run_stream_dedup_once(
        spark, events_stream_dir, query_name="t_stream_dedup"
    ).collect()
    expected = {
        r["event_type"]: (r["n"], r["v"])
        for r in load_table(spark, SF_SMOKE, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("v"),
        )
        .collect()
    }
    got = {r["event_type"]: (r["n_events"], r["total_value"]) for r in out}
    # Union-with-self doubles every row; dedup must give back EXACTLY
    # the original per-type counts (2x would mean dedup did nothing).
    assert got == expected


def test_stream_interval_join_matches_batch_range_join(spark, events_stream_dir):
    from data_engineer_task_spark.operators.rangejoin import bounded_range_join
    from data_engineer_task_spark.streaming.aggregate import (
        run_stream_interval_join_once,
    )

    got = {
        (r["event_id"], r["user_id"]): r["n_clicks_30m"]
        for r in run_stream_interval_join_once(
            spark, events_stream_dir, query_name="t_stream_join"
        ).collect()
    }

    ev = load_table(spark, SF_SMOKE, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.where(F.col("event_type") == "click").select("user_id", "ts")
    expected = {
        (r["event_id"], r["user_id"]): r["n"]
        for r in bounded_range_join(
            purchases, clicks, "user_id", lower_s=-1800, upper_s=0, how="inner"
        )
        .groupBy("event_id", "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == expected and len(got) > 0


def test_stream_outer_interval_join_emits_watermark_proven_zeros(
    spark, tmp_path_factory
):
    from data_engineer_task_spark.streaming.aggregate import (
        run_stream_interval_outer_join_once,
    )

    # Outer emission is watermark-driven, so micro-batches must arrive
    # in rough event-time order (as production streams do) — a random
    # 4-way split spans the whole month per batch, which legitimately
    # drops batches 2-4 as late under a tight delay. The file source
    # orders batches by file MTIME, so write one time-slice per append
    # with distinct mtimes (range-partitioning alone isn't enough — one
    # commit stamps every file identically and the pickup order is
    # arbitrary).
    import time

    src = str(tmp_path_factory.mktemp("events_stream_ordered"))
    ev_all = load_table(spark, SF_SMOKE, "events")
    lo, hi = ev_all.agg(
        F.min("ts").alias("lo"), F.max("ts").alias("hi")
    ).collect()[0]
    step = (hi - lo) / 4
    for i in range(4):
        upper = lo + step * (i + 1)
        sl = ev_all.where(
            (F.col("ts") >= F.lit(lo + step * i)) if i else F.lit(True)
        ).where(F.col("ts") < F.lit(upper) if i < 3 else F.lit(True))
        sl.coalesce(1).write.mode("append").parquet(src)
        time.sleep(1.1)

    out = run_stream_interval_outer_join_once(
        spark, src, query_name="t_stream_outer_join"
    ).collect()
    got = {(r["event_id"], r["user_id"]): r["n_clicks_30m"] for r in out}

    # Outer semantics: zero-click purchases ARE present — each one only
    # because the click watermark proved its emptiness final.
    assert len(got) > 0
    assert any(v == 0 for v in got.values())

    # Batch replica with the same finality cutoff (41 min inside the
    # min of both sides' max ts: 10 delay + 30 interval + 1 margin).
    ev = load_table(spark, SF_SMOKE, "events")
    p = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts").alias("p_ts")
    )
    c = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    )
    cutoff = (
        ev.where(F.col("event_type").isin("purchase", "click"))
        .groupBy("event_type")
        .agg(F.max("ts").alias("m"))
        .agg(F.expr("min(m) - INTERVAL 41 MINUTES").alias("cutoff"))
        .collect()[0]["cutoff"]
    )
    expected = {
        (r["event_id"], r["user_id"]): r["n"]
        for r in p.where(F.col("p_ts") <= F.lit(cutoff))
        .join(
            c,
            (F.col("user_id") == F.col("c_user"))
            & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
            & (F.col("c_ts") <= F.col("p_ts")),
            "left_outer",
        )
        .groupBy("event_id", "user_id")
        .agg(F.count("c_ts").alias("n"))
        .collect()
    }
    assert got == expected


def test_checkpoint_recovery_reads_only_new_files(spark, tmp_path):
    from data_engineer_task_spark.streaming.aggregate import run_stream_once

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    raw = load_table(spark, SF_SMOKE, "events")
    first, second = raw.where("event_id % 2 = 0"), raw.where("event_id % 2 = 1")

    first.repartition(2).write.mode("append").parquet(src)
    r1 = run_stream_once(spark, src, query_name="ck_run1", checkpoint_dir=ckpt)
    n1 = r1.selectExpr("sum(n_events)").collect()[0][0]

    second.repartition(2).write.mode("append").parquet(src)
    r2 = run_stream_once(spark, src, query_name="ck_run2", checkpoint_dir=ckpt)
    got = {
        (r["hour"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in r2.collect()
    }

    # The restarted query saw only the new files but must report the
    # FULL aggregate — i.e. state was restored, rows neither lost nor
    # double-counted.
    expected = {
        (r["hour"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in load_table(spark, SF_SMOKE, "events")
        .groupBy(
            F.date_format(F.window("ts", "1 hour").getField("start"),
                          "yyyy-MM-dd HH").alias("hour"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.round(F.sum("value"), 2).alias("total_value"))
        .collect()
    }
    assert n1 < sum(v[0] for v in expected.values())  # run1 was partial
    assert got == expected


def test_foreachbatch_merge_sink_upserts_across_batches(spark, events_stream_dir, tmp_path):
    """Streaming keep-latest merge into a versioned parquet warehouse:
    after 4 micro-batches the committed snapshot equals the batch
    keep_latest over the whole table, and intermediate snapshots were
    committed via pointer swap (readers never see partial state)."""
    import os

    from data_engineer_task_spark.operators.upsert import keep_latest
    from data_engineer_task_spark.streaming.sink import (
        read_snapshot,
        stream_merge_to_warehouse,
    )

    stream = _event_stream(spark, events_stream_dir)
    out = str(tmp_path / "wh")
    q = stream_merge_to_warehouse(
        stream, out, ["user_id", "event_type"], ["ts", "event_id"],
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    snapshots = [d for d in os.listdir(out) if d.startswith("v")]
    assert len(snapshots) >= 4  # one committed snapshot per micro-batch

    got = {
        (r["user_id"], r["event_type"]): r["event_id"]
        for r in read_snapshot(spark, out).collect()
    }
    want = {
        (r["user_id"], r["event_type"]): r["event_id"]
        for r in keep_latest(
            load_table(spark, SF_SMOKE, "events"),
            ["user_id", "event_type"],
            ["ts", "event_id"],
        ).collect()
    }
    assert got == want


def test_tws_running_totals_matches_legacy_stateful(spark, events_stream_dir):
    """transformWithStateInPandas (the next-gen stateful API) must
    produce the same final running totals as the batch aggregate.
    Needs the RocksDB state store (TWS is not supported on the default
    HDFS-backed provider) and protobuf (TWS's state-server wire
    format — absent in this container, so the test self-skips there;
    the legacy applyInPandasWithState path above runs everywhere)."""
    pytest.importorskip("google.protobuf.descriptor",
                        reason="TWS state server requires protobuf")
    from data_engineer_task_spark.streaming.stateful import running_user_totals_tws

    key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(key)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        out = running_user_totals_tws(_event_stream(spark, events_stream_dir))
        final: dict[int, tuple] = {}

        def sink(df, epoch_id):
            for r in df.collect():
                final[r["user_id"]] = (r["n_events"], r["total_value"])

        q = out.writeStream.outputMode("update").foreachBatch(sink).start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        spark.conf.set(key, old)

    expected = {
        r["user_id"]: (r["n"], r["v"])
        for r in load_table(spark, SF_SMOKE, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("v"),
        )
        .collect()
    }
    assert final == expected


def test_snapshot_time_travel_and_vacuum(spark, events_stream_dir, tmp_path):
    """Older snapshots stay readable (time travel) until vacuum
    reclaims them; vacuum always keeps the pointer's target, and the
    current read is unaffected."""
    import os
    import pytest

    from data_engineer_task_spark.streaming.sink import (
        list_versions,
        read_snapshot,
        stream_merge_to_warehouse,
        vacuum,
    )

    stream = _event_stream(spark, events_stream_dir)
    out = str(tmp_path / "wh")
    q = stream_merge_to_warehouse(
        stream, out, ["user_id", "event_type"], ["ts", "event_id"],
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    versions = list_versions(out)
    assert len(versions) >= 4
    # time travel: epoch snapshots are monotone non-decreasing in rows
    # (keep-latest merge only ever adds keys)
    counts = [read_snapshot(spark, out, v).count() for v in versions]
    assert counts == sorted(counts)
    final = read_snapshot(spark, out).count()
    assert counts[-1] == final

    removed = vacuum(out, keep_last=1)
    assert set(removed) == set(versions[:-1])
    assert list_versions(out) == [versions[-1]]
    assert read_snapshot(spark, out).count() == final  # current unaffected
    with pytest.raises(ValueError):
        read_snapshot(spark, out, versions[0])


def test_snapshot_diff_is_exact_upsert_set(spark, events_stream_dir, tmp_path):
    """The change feed between consecutive snapshots must reconstruct
    the newer snapshot when applied (keep-latest) to the older one."""
    from data_engineer_task_spark.operators.upsert import keep_latest
    from data_engineer_task_spark.streaming.sink import (
        list_versions,
        read_snapshot,
        snapshot_diff,
        stream_merge_to_warehouse,
    )

    stream = _event_stream(spark, events_stream_dir)
    out = str(tmp_path / "wh")
    q = stream_merge_to_warehouse(
        stream, out, ["user_id", "event_type"], ["ts", "event_id"],
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    v_prev, v_last = list_versions(out)[-2:]
    feed = snapshot_diff(spark, out, v_prev, v_last)
    rebuilt = keep_latest(
        read_snapshot(spark, out, v_prev).unionByName(feed),
        ["user_id", "event_type"],
        ["ts", "event_id"],
    )
    want = sorted(map(tuple, read_snapshot(spark, out, v_last).collect()))
    got = sorted(map(tuple, rebuilt.collect()))
    assert got == want
    # and the feed is minimal: nothing in it already existed verbatim
    assert feed.intersect(read_snapshot(spark, out, v_prev)).count() == 0


def test_merge_sink_replay_skip_and_checkpointless_restart_guard(spark, events_stream_dir, tmp_path):
    """Replay of a committed epoch is a no-op (same pointer, no
    read-and-overwrite wedge); restarting WITHOUT the checkpoint
    (epoch ids reset to 0 below the committed pointer) fails loudly
    instead of rewinding the pointer over old snapshots."""
    import os

    from data_engineer_task_spark.streaming.sink import (
        read_snapshot,
        stream_merge_to_warehouse,
    )

    out = str(tmp_path / "wh")
    q = stream_merge_to_warehouse(
        _event_stream(spark, events_stream_dir), out,
        ["user_id", "event_type"], ["ts", "event_id"],
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    with open(os.path.join(out, "_LATEST")) as fh:
        committed = fh.read().strip()
    n_rows = read_snapshot(spark, out).count()

    # fresh checkpoint, same out_dir → epoch 0 < committed pointer
    q2 = stream_merge_to_warehouse(
        _event_stream(spark, events_stream_dir), out,
        ["user_id", "event_type"], ["ts", "event_id"],
        checkpoint_dir=str(tmp_path / "ckpt2"),
    )
    failed = False
    try:
        q2.processAllAvailable()
    except Exception as ex:
        failed = True
        assert "restarted without its checkpoint" in str(ex)
    finally:
        q2.stop()
    assert failed

    # the committed state is untouched: same pointer, same rows
    with open(os.path.join(out, "_LATEST")) as fh:
        assert fh.read().strip() == committed
    assert read_snapshot(spark, out).count() == n_rows


def test_stream_static_join_matches_batch_and_is_stateless(
    spark, events_stream_dir
):
    """The stream-static broadcast enrichment must agree exactly with
    the batch join over the same data, across real micro-batches."""
    from data_engineer_task_spark.streaming.aggregate import (
        enriched_event_segment_counts,
        run_stream_static_join_once,
    )

    dim = load_table(spark, SF_SMOKE, "customer")
    streamed = run_stream_static_join_once(
        spark, events_stream_dir, dim, query_name="t_stream_enrich"
    ).collect()
    batch = (
        enriched_event_segment_counts(
            load_table(spark, SF_SMOKE, "events"), dim
        )
        .orderBy("segment", "event_type")
        .collect()
    )
    assert [tuple(r) for r in streamed] == [tuple(r) for r in batch]
    assert len(streamed) > 0


def test_stream_state_runs_in_one_wave_of_tasks(spark):
    """``stream_hourly_event_stats`` keeps its state in
    ``min(8, defaultParallelism)`` partitions: no stage of its
    micro-batches runs more tasks than the session has cores."""
    from pyspark.sql.streaming import StreamingQueryListener

    from data_engineer_task_spark.plans.analytics import QUERIES

    class RunIds(StreamingQueryListener):
        def __init__(self):
            self.ids, self.state_parts = [], []

        def onQueryStarted(self, event):
            self.ids.append(str(event.runId))

        def onQueryProgress(self, event):
            self.state_parts += [
                s.numShufflePartitions for s in event.progress.stateOperators
            ]

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    sc = spark.sparkContext
    listener = RunIds()
    spark.streams.addListener(listener)
    try:
        QUERIES["stream_hourly_event_stats"](spark, SF_SMOKE).collect()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
    finally:
        spark.streams.removeListener(listener)
    cores = sc.defaultParallelism
    assert listener.state_parts
    assert set(listener.state_parts) == {min(8, cores)}
    store = sc._jsc.sc().statusStore()
    tasks = []
    for run_id in listener.ids:
        for jid in sc.statusTracker().getJobIdsForGroup(run_id):
            ids = store.job(jid).stageIds()
            tasks += [
                store.lastStageAttempt(ids.apply(i)).numTasks()
                for i in range(ids.size())
            ]
    assert tasks and max(tasks) <= cores, tasks
