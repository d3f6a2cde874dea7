"""Structured Streaming operators over the events stream.

The reference has no streaming surface (SURVEY §2.5) — this is the
100-TB-pipeline extension: the same windowed aggregation is defined
ONCE and runs in both batch and streaming mode (Structured Streaming's
unified DataFrame model), with a watermark bounding state for late
data.

Local testing drives a parquet-backed stream to completion with a
memory sink (``run_stream_once``); in production the source/sink lines
swap for Kafka + a transactional table format.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.catalog import open_parquet, parquet_file_identity, parquet_schema


@contextmanager
def _stream_shuffle_partitions(spark: SparkSession):
    """Run a streaming query with a reduced shuffle-partition count,
    ``min(8, defaultParallelism)``: one wave of stateful tasks on the
    session's cores.

    Each stateful operator materializes one state-store instance PER
    shuffle partition PER micro-batch; at local test scale 32
    partitions is pure overhead (32 HDFS-backed store inits + commits
    per stage for a few thousand state rows), and 8 on 4 cores is two
    waves of tiny tasks. A real deployment sizes this to state volume,
    and the value is pinned into the checkpoint by Structured Streaming
    itself (restarts keep the original count), so lowering it here
    never diverges a resumed query."""
    n = min(8, spark.sparkContext.defaultParallelism)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def _as_glob(path: str) -> str:
    """File-source paths must be a directory or glob, not a bare file.
    Globs only the BASENAME (a dirname containing '.parquet' must not
    be rewritten)."""
    head, _, tail = path.rpartition("/")
    if path.endswith("*") or "." not in tail:
        return path
    return f"{head}/{tail.replace('.parquet', '*.parquet')}"


def _drive_to_memory(df, query_name: str, *, output_mode: str,
                     checkpoint_dir: str | None = None) -> None:
    """Run a streaming frame synchronously to completion into a memory
    sink (shared drive block for every run_*_once wrapper)."""
    spark = df.sparkSession
    with _stream_shuffle_partitions(spark):
        writer = (
            df.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(query_name)
        )
        if checkpoint_dir:
            writer = writer.option("checkpointLocation", checkpoint_dir)
        q = writer.start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()


def _schema_with_ts(ts_type: T.DataType) -> T.StructType:
    return T.StructType(
        [
            T.StructField("event_id", T.LongType(), False),
            T.StructField("ts", ts_type, False),
            T.StructField("user_id", T.LongType(), False),
            T.StructField("event_type", T.StringType(), False),
            T.StructField("value", T.DoubleType(), True),
            T.StructField("props", T.StringType(), True),
        ]
    )


# Normalized events schema: ts is a real (LTZ) timestamp. Source files
# may store ts differently — `_event_stream` probes and converts.
EVENTS_SCHEMA = _schema_with_ts(T.TimestampType())


def hourly_event_counts(events: DataFrame, *, watermark: str = "2 hours") -> DataFrame:
    """Tumbling 1-hour window × event_type counts + value sum. Works on
    a batch OR streaming DataFrame (watermark applies to streaming;
    on batch it's a no-op column hint)."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.round((F.sum("value")) * 100.0) / 100.0).alias("total_value"),
        )
        .select(
            F.date_format(F.col("win.start"), "yyyy-MM-dd HH").alias("hour"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sessionize(
    events: DataFrame, *, gap_seconds: int = 3600
) -> DataFrame:
    """Batch sessionization: a session break is a gap > gap_seconds
    between consecutive events of a user (lag + running sum — the
    standard single-shuffle formulation). Streaming equivalent is
    ``session_window``/``applyInPandasWithState``; batch form kept
    separate because the oracle comparison needs a deterministic
    batch program."""
    # micro-precision gap: a seconds-truncating cast('long') would
    # merge sessions whose gap is e.g. 3600.9s (> the 3600s break)
    # — same rationale as operators/rangejoin.py
    w = W.partitionBy("user_id").orderBy("ts")
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    new_sess = F.when(gap > gap_seconds * 1_000_000, 1).otherwise(0)
    sess = events.select("user_id", "ts").withColumn("brk", new_sess)
    return (
        sess.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum("brk") + 1).cast("long").alias("n_sessions"),
        )
        .orderBy("user_id")
    )


def _ts_type(spark: SparkSession, glob_path: str) -> str | None:
    """How the events files store ``ts`` ("bigint" = legacy nanos read
    as long, "timestamp_ntz" = naive micros, "timestamp"), read from
    the memoised parquet schema: a file set already opened in this
    process costs no probe DataFrame and no inference job."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = parquet_schema(spark, glob_path)
    return next(
        (f.dataType.simpleString() for f in schema if f.name == "ts"), None
    )


def _event_stream(spark: SparkSession, glob_path: str) -> DataFrame:
    """Parquet-backed events stream normalized to ``ts: timestamp``.

    Driver testdata has shipped events.ts three ways across rounds:
    TIMESTAMP(NANOS) (readable only as long via legacy nanosAsLong),
    naive micros (reads as TIMESTAMP_NTZ), and adjusted micros
    (TIMESTAMP). A streaming source needs a declared schema up front,
    so take the stored ``ts`` type from the files' schema (``_ts_type``)
    and declare + convert accordingly. All three store UTC instants, so
    the normalized stream is identical in every case."""
    probe = _ts_type(spark, glob_path)
    src = spark.readStream.option("maxFilesPerTrigger", 1)
    if probe == "bigint":  # legacy nanos-as-long
        return (
            src.schema(_schema_with_ts(T.LongType()))
            .parquet(glob_path)
            .withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        )
    if probe == "timestamp_ntz":  # naive micros: wall clock IS UTC
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        return (
            src.schema(_schema_with_ts(T.TimestampNTZType()))
            .parquet(glob_path)
            .withColumn("ts", F.col("ts").cast("timestamp"))
        )
    return src.schema(EVENTS_SCHEMA).parquet(glob_path)


def _event_bounds(spark: SparkSession, glob_path: str) -> DataFrame:
    """Batch read of the events files normalized to ``ts: timestamp``
    for watermark-cutoff computation — the batch twin of
    ``_event_stream``'s three-way encoding probe (CLAUDE.md: never a
    raw ``spark.read.parquet`` on events). NTZ files convert under an
    explicitly pinned UTC session zone, so the cutoff is correct even
    if this runs before/without the stream-side probe."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = open_parquet(spark, glob_path)
    probe = dict(df.dtypes).get("ts")
    if probe == "bigint":  # legacy nanos-as-long
        return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    if probe == "timestamp_ntz":  # naive micros: wall clock IS UTC
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


_REPLAY_CACHE: dict[tuple, str] = {}


def _ordered_replay(
    spark: SparkSession, glob_path: str, *, n_chunks: int = 4
) -> str:
    """Rewrite a (possibly multi-file, arbitrarily ordered) events
    source into ``n_chunks`` EVENT-TIME-ORDERED chunk files and return
    a glob over them, for replaying history into a streaming query
    whose watermark delay is SHORT (minutes).

    Why (r10 sf1 sweep finding): the file stream source feeds part
    files in modification-time order, which for a Spark-written
    directory bears no relation to event time — with
    ``maxFilesPerTrigger 1`` the first file advances the watermark to
    its own max(ts) − delay and every later file's rows arrive "late"
    and are silently DROPPED (measured at sf1: exactly 4 of 5 part
    files lost). A short-delay watermark is only sound when arrival
    order ≈ event-time order — which is what a production backfill
    does and what this rewrite recreates: exact ts-quantile range
    split, each chunk written as its OWN job so mtimes strictly
    increase and the source replays chunks oldest-first. The 45-day
    wrappers (dedup / inner interval join) tolerate the disorder by
    delay instead and skip this.

    The rewrite is cached on the source files' (path, size, mtime)
    identity — bench reps and repeated gates re-stream the same chunk
    files without re-writing them."""
    import glob as globmod
    import tempfile

    ident = parquet_file_identity(glob_path)
    key = ident[1] if ident is not None else (glob_path,)
    cached = _REPLAY_CACHE.get(key)
    if cached is not None and globmod.glob(cached):
        return cached

    ev = _event_bounds(spark, glob_path)
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    qs = [i / n_chunks for i in range(1, n_chunks)]
    cuts = (
        ev.agg(
            F.percentile(us, F.array(*[F.lit(q) for q in qs])).alias("c")
        ).collect()[0]["c"]
        if qs
        else []
    )
    bounds = [None, *[int(c) for c in cuts], None]
    tmp = tempfile.mkdtemp(prefix="stream_replay_")
    for i in range(n_chunks):
        lo, hi = bounds[i], bounds[i + 1]
        chunk = ev
        if lo is not None:
            chunk = chunk.where(us >= F.lit(lo))
        if hi is not None:
            chunk = chunk.where(us < F.lit(hi))
        # one write job per chunk -> strictly increasing mtimes
        chunk.coalesce(1).write.mode("overwrite").parquet(
            f"{tmp}/c{i:02d}"
        )
    out = f"{tmp}/c*/part-*.parquet"
    _REPLAY_CACHE[key] = out
    return out


def run_stream_dedup_once(
    spark: SparkSession,
    events_path: str,
    query_name: str = "stream_dedup_out",
    watermark_delay: str = "45 days",
) -> DataFrame:
    """Streaming exact-dedup — the at-least-once-ingest compactor every
    training-data pipeline needs in front of it. The events source is
    unioned with a second read of itself (deterministic duplicate
    injection: every row arrives twice), then
    ``dropDuplicatesWithinWatermark`` keeps one arrival per event_id
    with state bounded by the watermark instead of growing forever —
    the API built for exactly this (a plain streaming dropDuplicates
    only evicts state when the event-time column is part of the key).
    The deduped stream lands in a memory sink (append mode); the
    returned frame aggregates it per event_type, which the batch SQL
    oracle reproduces from the ORIGINAL table — streaming union+dedup
    must be an exact identity."""
    glob_path = _as_glob(events_path)
    # The delay must exceed the stream's event-time DISORDER: rows older
    # than (max ts seen - delay) are dropped as late, and duplicates
    # separated by more than the delay would both survive. The test
    # corpus spans ~30 days arriving in arbitrary file order, so 45 days
    # covers it; a production ingest with minutes of disorder would run
    # minutes of delay and hold proportionally tiny state.
    doubled = _event_stream(spark, glob_path).unionByName(
        _event_stream(spark, glob_path)
    )
    deduped = doubled.withWatermark(
        "ts", watermark_delay
    ).dropDuplicatesWithinWatermark(["event_id"])
    _drive_to_memory(deduped, query_name, output_mode="append")
    return spark.sql(
        f"SELECT event_type, CAST(count(*) AS BIGINT) AS n_events, "  # noqa: S608
        f"round((sum(value)) * 100.0) / 100.0 AS total_value "
        f"FROM {query_name} GROUP BY event_type ORDER BY event_type"
    )


def run_stream_interval_join_once(
    spark: SparkSession,
    events_path: str,
    query_name: str = "stream_join_out",
    watermark_delay: str = "45 days",
) -> DataFrame:
    """Stream-stream interval join: purchases joined to the same user's
    clicks from the preceding 30 minutes, both sides REAL streams of
    the events source. The watermark bounds both join-state buffers
    (each side holds rows only until the other side's watermark passes
    the interval); INNER join semantics emit each match the moment both
    rows have arrived, so results don't wait on end-of-stream watermark
    advancement the way outer-join unmatched rows do. The memory sink
    collects the matches; the returned frame is the per-purchase click
    count, which the batch oracle reproduces with a plain range join."""
    glob_path = _as_glob(events_path)
    p = (
        _event_stream(spark, glob_path)
        .where(F.col("event_type") == "purchase")
        .select("event_id", "user_id", F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", watermark_delay)
    )
    c = (
        _event_stream(spark, glob_path)
        .where(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", watermark_delay)
    )
    joined = p.join(
        c,
        F.expr(
            "user_id = c_user AND "
            "c_ts >= p_ts - INTERVAL 30 MINUTES AND c_ts <= p_ts"
        ),
        "inner",
    ).select("event_id", "user_id", "c_ts")
    _drive_to_memory(joined, query_name, output_mode="append")
    return spark.sql(
        f"SELECT event_id, user_id, CAST(count(*) AS BIGINT) AS n_clicks_30m "  # noqa: S608
        f"FROM {query_name} GROUP BY event_id, user_id ORDER BY event_id"
    )


def run_stream_interval_outer_join_once(
    spark: SparkSession,
    events_path: str,
    query_name: str = "stream_outer_join_out",
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: every purchase emits,
    with NULL click columns when no same-user click preceded it within
    30 minutes. Outer results exercise the semantics the inner form
    doesn't: an unmatched left row is held in join state until the
    CLICK-side watermark proves no matching click can still arrive
    (> p_ts, derived from the interval condition), only then emitted
    with nulls — so emission is watermark-driven, not arrival-driven,
    and the state buffer is provably bounded by the delay + interval.

    Determinism at end-of-stream: the final no-data micro-batch
    advances the watermark only to min(max p_ts, max c_ts) − delay, so
    purchases newer than that boundary may still sit in state when the
    drive stops. Both the returned frame and the declared oracle
    therefore trim to p_ts ≤ boundary − 31 min (30 min interval + 1 min
    margin keeps the >/≥ edge out of the comparison) — the trim is the
    honest expression of outer-join completeness semantics, not a
    fudge: rows above the boundary are not yet FINAL in any streaming
    engine.

    The MINUTES-scale delay makes replay order load-bearing, so the
    source goes through ``_ordered_replay`` (r10: an arbitrarily
    ordered multi-file layout dropped 4/5 of the corpus as late at
    sf1 — see that helper's docstring)."""
    glob_path = _as_glob(events_path)
    stream_glob = _ordered_replay(spark, glob_path)
    p = (
        _event_stream(spark, stream_glob)
        .where(F.col("event_type") == "purchase")
        .select("event_id", "user_id", F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", watermark_delay)
    )
    c = (
        _event_stream(spark, stream_glob)
        .where(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", watermark_delay)
    )
    joined = p.join(
        c,
        F.expr(
            "user_id = c_user AND "
            "c_ts >= p_ts - INTERVAL 30 MINUTES AND c_ts <= p_ts"
        ),
        "left_outer",
    ).select("event_id", "user_id", "p_ts", "c_ts")
    _drive_to_memory(joined, query_name, output_mode="append")
    # Finality boundary from the SOURCE (batch metadata pass): the
    # stream's last-advanced watermark minus the interval + margin.
    bounds = _event_bounds(spark, glob_path).where(
        F.col("event_type").isin("purchase", "click")
    )
    cutoff = (
        bounds.groupBy("event_type")
        .agg(F.max(F.col("ts").cast("timestamp")).alias("m"))
        .agg(F.min("m").alias("mm"))
        .select(
            (
                F.col("mm")
                - F.expr(f"INTERVAL {watermark_delay}")
                - F.expr("INTERVAL 31 MINUTES")
            ).alias("cutoff")
        )
        .collect()[0]["cutoff"]
    )
    return (
        spark.table(query_name)
        .where(F.col("p_ts") <= F.lit(cutoff))
        .groupBy("event_id", "user_id")
        .agg(F.count("c_ts").cast("long").alias("n_clicks_30m"))
        .orderBy("event_id")
    )


def run_stream_once(
    spark: SparkSession,
    events_path: str,
    query_name: str = "stream_out",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Drive the hourly aggregation as a REAL streaming query over the
    parquet source, synchronously to completion, and return the result.

    maxFilesPerTrigger forces multiple micro-batches so incremental
    state handling is actually exercised (not one batch = batch mode).
    With ``checkpoint_dir``, offsets + aggregation state persist across
    restarts: a relaunched query reads ONLY files it hasn't seen and
    resumes from the restored state — the exactly-once resume contract
    (tests restart it against a grown source directory).
    """
    glob_path = _as_glob(events_path)
    agg = hourly_event_counts(_event_stream(spark, glob_path))
    _drive_to_memory(agg, query_name, output_mode="complete",
                     checkpoint_dir=checkpoint_dir)
    return spark.sql(
        f"SELECT * FROM {query_name} ORDER BY hour, event_type"  # noqa: S608
    )


def enriched_event_segment_counts(
    events: DataFrame, user_dim: DataFrame
) -> DataFrame:
    """Stream-static enrichment join: the events stream joined to a
    static user dimension (here: the customer table keyed by custkey),
    then aggregated per (market segment, event type). The static side
    broadcasts — each micro-batch probes an executor-local hash table,
    no stream-side shuffle for the join, no join state store at all
    (stream-static inner joins are stateless by construction). Defined
    once; runs identically in batch and streaming mode."""
    dim = F.broadcast(
        user_dim.select(
            F.col("c_custkey").alias("user_id"),
            F.col("c_mktsegment").alias("segment"),
        )
    )
    return (
        events.join(dim, "user_id")
        .groupBy("segment", "event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            (F.round((F.sum("value")) * 100.0) / 100.0).alias("total_value"),
        )
    )


def run_stream_static_join_once(
    spark: SparkSession,
    events_path: str,
    user_dim: DataFrame,
    query_name: str = "stream_enriched",
) -> DataFrame:
    """Drive the stream-static enrichment as a REAL streaming query
    (parquet file source, multiple micro-batches, memory sink) to
    completion; complete output mode re-emits the full aggregate."""
    st = _event_stream(spark, _as_glob(events_path))
    agg = enriched_event_segment_counts(st, user_dim)
    _drive_to_memory(agg, query_name, output_mode="complete")
    return spark.sql(
        f"SELECT * FROM {query_name} ORDER BY segment, event_type"  # noqa: S608
    )


def run_stream_sessions_once(
    spark: SparkSession,
    events_path: str,
    query_name: str = "stream_sessions_out",
    gap: str = "30 minutes",
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Per-user session windows as a REAL Structured Streaming query:
    the NATIVE ``session_window`` aggregation (dynamic merge of
    overlapping [ts, ts+gap) intervals inside the state store) in
    append mode, so a session row is emitted exactly once — when the
    watermark passes its window end (last event + gap) and the engine
    has PROVEN no further event can extend it. This is the streaming
    twin of the batch ``user_session_spans`` entry: same expression,
    same closed merge interval (an event exactly gap after the last
    one still merges), state bounded by watermark delay + open-session
    span instead of the whole history.

    Finality at end-of-stream mirrors the interval-join entries: the
    final no-data batch advances the watermark only to max(ts) − delay,
    so sessions ending above (max − delay − gap) may still sit open in
    state. Both the returned frame and the declared oracle trim to
    end ≤ max − delay − gap − 1 min margin (the margin keeps the
    strict-< emission edge out of the comparison).

    The MINUTES-scale delay makes replay order load-bearing, so the
    source goes through ``_ordered_replay`` (r10: an arbitrarily
    ordered multi-file layout dropped 4/5 of the corpus as late at
    sf1 — see that helper's docstring)."""
    glob_path = _as_glob(events_path)
    ev = _event_stream(spark, _ordered_replay(spark, glob_path)).withWatermark(
        "ts", watermark_delay
    )
    agg = (
        ev.groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.unix_micros(F.min("ts")).alias("start_us"),
            F.unix_micros(F.max("ts")).alias("end_us"),
        )
        .select("user_id", "n_events", "start_us", "end_us")
    )
    _drive_to_memory(agg, query_name, output_mode="append")
    max_us = (
        _event_bounds(spark, glob_path)
        .agg(F.max(F.unix_micros(F.col("ts").cast("timestamp"))))
        .collect()[0][0]
    )
    def _us(interval: str) -> int:
        n, unit = interval.split()
        per = {"minute": 60, "minutes": 60, "hour": 3600, "hours": 3600}[unit]
        return int(n) * per * 1_000_000

    cutoff_us = max_us - _us(watermark_delay) - _us(gap) - 60 * 1_000_000
    return (
        spark.table(query_name)
        .where(F.col("end_us") <= F.lit(cutoff_us))
        .orderBy("user_id", "start_us")
    )


def sliding_event_counts_agg(
    events: DataFrame, *, watermark: str = "2 hours"
) -> DataFrame:
    """Sliding 1-hour/30-minute window × event_type counts + value sum
    (each event lands in exactly two windows — Spark's ``F.window``
    expands the slide natively, map-side, before the keyed state
    update). Works on a batch OR streaming frame; the watermark bounds
    streaming state to ~2h of open windows per key."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("win"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            (F.round((F.sum("value")) * 100.0) / 100.0).alias("total_value"),
        )
        .select(
            F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm").alias(
                "window_start"
            ),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def run_stream_sliding_once(
    spark: SparkSession,
    events_path: str,
    query_name: str = "stream_sliding",
) -> DataFrame:
    """Drive the SLIDING-window aggregation as a real streaming query
    (parquet source, multiple micro-batches, memory sink) to
    completion — the overlapping-window state shape ``run_stream_once``'s
    tumbling twin never exercises (two live windows absorb every
    event, so state updates straddle window boundaries)."""
    agg = sliding_event_counts_agg(_event_stream(spark, _as_glob(events_path)))
    _drive_to_memory(agg, query_name, output_mode="complete")
    return spark.sql(
        f"SELECT * FROM {query_name} ORDER BY window_start, event_type"  # noqa: S608
    )
