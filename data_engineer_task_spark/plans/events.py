"""Batch entries over the events table: sessionization, funnels,
retention, attribution, as-of and point-in-time joins, gap filling,
time-series smoothing, forecasting and change detection, sampling and
A/B-test statistics.

Same contract as plans/analytics.py (see its authoring rules).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..operators.sampling import _md5_byte0
from .shared import _md5_byte_sql, _md5_uint48_sql, _t, q


@q(
    "hourly_event_stats",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS hour,
           event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           round((sum(value)) * 100.0) / 100.0 AS total_value
    FROM events
    GROUP BY 1, 2
    ORDER BY hour, event_type
    """,
)
def hourly_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation — the SAME function that runs as a
    Structured Streaming query (streaming/aggregate.py), here in batch
    mode for the oracle comparison."""
    from ..streaming.aggregate import hourly_event_counts

    return hourly_event_counts(_t(spark, sf_dir, "events")).orderBy(
        "hour", "event_type"
    )


@q(
    "latest_event_per_user_type",
    """
    SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us,
           value
    FROM (
      SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                                   ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    ORDER BY user_id, event_type
    """,
)
def latest_event_per_user_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style compaction: the newest event per (user, type) key —
    the keep-latest upsert every incremental warehouse load runs. One
    shuffle on the key + a window row_number; ts then event_id breaks
    ties deterministically."""
    from ..operators.upsert import keep_latest

    ev = _t(spark, sf_dir, "events")
    return (
        keep_latest(ev, ["user_id", "event_type"], ["ts", "event_id"])
        .select(
            "user_id",
            "event_type",
            "event_id",
            F.unix_micros("ts").alias("ts_us"),
            "value",
        )
        .orderBy("user_id", "event_type")
    )


@q(
    "user_sessions",
    """
    WITH g AS (
      SELECT user_id,
             CASE WHEN epoch_us(ts)
                       - epoch_us(lag(ts) OVER (PARTITION BY user_id
                                                ORDER BY ts))
                       > CAST(3600 AS BIGINT) * 1000000
                  THEN 1 ELSE 0 END AS brk
      FROM events
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(brk) + 1 AS BIGINT) AS n_sessions
    FROM g GROUP BY user_id ORDER BY user_id
    """,
)
def user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (lag + running count), one shuffle on
    user_id."""
    from ..streaming.aggregate import sessionize

    return sessionize(_t(spark, sf_dir, "events"), gap_seconds=3600)


@q(
    "event_props_json",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           round((avg(json_extract(props, '$.k')::BIGINT)) * 10000.0) / 10000.0 AS avg_k,
           CAST(max(json_extract(props, '$.k')::BIGINT) AS BIGINT) AS max_k
    FROM events
    WHERE props IS NOT NULL
    GROUP BY event_type ORDER BY event_type
    """,
)
def event_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured payload extraction: JSON path into a string
    column (native get_json_object — stays in codegen), then grouped
    stats. The reference has no JSON surface (SURVEY §2.5); any event
    pipeline needs one."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.where(F.col("props").isNotNull())
        .select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.round((F.avg("k")) * 10000.0) / 10000.0).alias("avg_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


@q(
    "purchase_asof_click",
    """
    WITH purchases AS (SELECT event_id, user_id, ts FROM events
                       WHERE event_type = 'purchase'),
         clicks AS (SELECT user_id, ts FROM events WHERE event_type = 'click')
    SELECT p.event_id, p.user_id,
           CAST(date_diff('second', c.ts, p.ts) AS BIGINT) AS secs_since_click
    FROM purchases p
    ASOF LEFT JOIN clicks c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    ORDER BY p.event_id
    """,
)
def purchase_asof_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the user's most recent prior
    click (inclusive). Spark lacks ASOF JOIN — operators/asof.py
    implements it as a single-shuffle union-marker window program; the
    oracle uses DuckDB's native ASOF LEFT JOIN."""
    from ..operators.asof import as_of_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.where(F.col("event_type") == "click").select("user_id", "ts")
    joined = as_of_join(purchases, clicks, "user_id")
    return joined.select(
        "event_id",
        "user_id",
        (F.col("ts").cast("long") - F.col("ts_asof").cast("long"))
        .cast("long")
        .alias("secs_since_click"),
    ).orderBy("event_id")


@q(
    "purchase_click_window_counts",
    """
    WITH p AS (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS us
               FROM events WHERE event_type = 'purchase'),
         c AS (SELECT user_id, epoch_ns(ts) // 1000 AS us
               FROM events WHERE event_type = 'click')
    SELECT p.event_id AS event_id, p.user_id AS user_id,
           CAST(count(c.us) AS BIGINT) AS n_clicks_30m
    FROM p LEFT JOIN c
      ON c.user_id = p.user_id
     AND c.us BETWEEN p.us - 1800000000 AND p.us
    GROUP BY p.event_id, p.user_id
    ORDER BY p.event_id
    """,
)
def purchase_click_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded time-range join: clicks within 30 minutes before each
    purchase, per user. operators/rangejoin.py buckets the time axis so
    the range predicate rides a plain equi-shuffle (each left row
    probes <= 2 buckets) instead of a per-key nested loop; comparisons
    are integer epoch-micros on both engines."""
    from ..operators.rangejoin import bounded_range_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.where(F.col("event_type") == "click").select("user_id", "ts")
    j = bounded_range_join(
        purchases, clicks, "user_id", lower_s=-1800, upper_s=0, how="left"
    )
    return (
        j.groupBy("event_id", "user_id")
        .agg(F.count("ts_r").alias("n_clicks_30m"))
        .orderBy("event_id")
    )


@q(
    "sliding_event_counts",
    """
    WITH s AS (
      SELECT event_type, value,
             to_timestamp((epoch_ns(ts) // 1000000000 // 1800) * 1800) AS w0
      FROM events
    ),
    w AS (
      SELECT event_type, value,
             unnest([w0, w0 - INTERVAL 30 MINUTE]) AS ws
      FROM s
    )
    SELECT strftime(ws, '%Y-%m-%d %H:%M') AS window_start, event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           round((sum(value)) * 100.0) / 100.0 AS total_value
    FROM w GROUP BY window_start, event_type
    ORDER BY window_start, event_type
    """,
)
def sliding_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window aggregation (1-hour windows every 30 minutes —
    each event lands in exactly two windows). Spark's ``F.window``
    expands the slide natively; the oracle unnests the two aligned
    window starts per event. Same plan runs under Structured Streaming
    with a watermark, like the tumbling twin ``hourly_event_stats``."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("win"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
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
        .orderBy("window_start", "event_type")
    )


@q(
    "user_session_spans",
    """
    WITH o AS (
      SELECT user_id, ts,
             CASE WHEN epoch_ns(ts) // 1000
                       - lag(epoch_ns(ts) // 1000)
                           OVER (PARTITION BY user_id ORDER BY ts)
                       > 3600000000
                  THEN 1 ELSE 0 END AS brk
      FROM events
    ),
    s AS (
      SELECT user_id, ts,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS sess
      FROM o
    )
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
           epoch_us(min(ts)) AS start_us, epoch_us(max(ts)) AS end_us
    FROM s GROUP BY user_id, sess ORDER BY user_id, start_us
    """,
)
def user_session_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session spans via Spark's NATIVE ``session_window``
    (dynamic-gap merge inside the aggregation — the same expression is
    the streaming sessionizer). The merge interval is CLOSED: an event
    exactly gap seconds after the last one still merges (verified by
    ``test_session_window_gap_boundary``), so the oracle breaks on
    `> gap`, not `>=`. Start/end are the min/max EVENT times (the
    window's own end = last event + gap, not oracle-portable)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.unix_micros(F.min("ts")).alias("start_us"),
            F.unix_micros(F.max("ts")).alias("end_us"),
        )
        .select("user_id", "n_events", "start_us", "end_us")
        .orderBy("user_id", "start_us")
    )


@q(
    "purchase_click_user_recon",
    """
    WITH p AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_purchases,
             round((sum(value)) * 100.0) / 100.0 AS purchase_value
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ),
    k AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_clicks
      FROM events WHERE event_type = 'click' GROUP BY user_id
    )
    SELECT COALESCE(p.user_id, k.user_id) AS user_id,
           COALESCE(p.n_purchases, 0) AS n_purchases,
           COALESCE(p.purchase_value, 0.0) AS purchase_value,
           COALESCE(k.n_clicks, 0) AS n_clicks,
           CASE WHEN p.user_id IS NULL THEN 'click_only'
                WHEN k.user_id IS NULL THEN 'purchase_only'
                ELSE 'both' END AS presence
    FROM p FULL OUTER JOIN k ON p.user_id = k.user_id
    ORDER BY user_id
    """,
)
def purchase_click_user_recon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join reconciliation — the one join family no other
    entry exercises: per-user purchase vs click activity with COALESCE
    defaults and a presence label. Both sides aggregate before the
    join, so the outer join runs on the (small) per-user frames and
    AQE picks the strategy; the same shape reconciles table snapshots
    at warehouse scale."""
    ev = _t(spark, sf_dir, "events")
    p = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            (F.round((F.sum("value")) * 100.0) / 100.0).alias("purchase_value"),
        )
    )
    k = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_clicks"))
    )
    joined = p.alias("p").join(
        k.alias("k"), F.col("p.user_id") == F.col("k.user_id"), "full_outer"
    )
    return joined.select(
        F.coalesce(F.col("p.user_id"), F.col("k.user_id")).alias("user_id"),
        F.coalesce("n_purchases", F.lit(0)).alias("n_purchases"),
        F.coalesce("purchase_value", F.lit(0.0)).alias("purchase_value"),
        F.coalesce("n_clicks", F.lit(0)).alias("n_clicks"),
        F.when(F.col("p.user_id").isNull(), "click_only")
        .when(F.col("k.user_id").isNull(), "purchase_only")
        .otherwise("both")
        .alias("presence"),
    ).orderBy("user_id")


@q(
    "event_props_variant_hist",
    """
    SELECT CAST(json_extract(props, '$.k')::INT // 10 AS INT) AS k_decade,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(min(json_extract(props, '$.k')::INT) AS INT) AS min_k,
           CAST(max(json_extract(props, '$.k')::INT) AS INT) AS max_k
    FROM events WHERE props IS NOT NULL
    GROUP BY k_decade ORDER BY k_decade
    """,
)
def event_props_variant_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VARIANT-typed semi-structured access (Spark 4's open-format
    binary JSON): `parse_json` ingests the payload once into a Variant
    column, `variant_get` does typed path extraction — the schema-on-
    read path that replaces repeated string re-parsing when a payload
    is touched by many expressions. Histogram of the k field by decade;
    oracle reads the same path with SQL json_extract."""
    ev = _t(spark, sf_dir, "events")
    k = F.expr("variant_get(parse_json(props), '$.k', 'int')")
    return (
        ev.where(F.col("props").isNotNull())
        .select(k.alias("k"))
        .groupBy(F.expr("k div 10").cast("int").alias("k_decade"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("k").cast("int").alias("min_k"),
            F.max("k").cast("int").alias("max_k"),
        )
        .orderBy("k_decade")
    )


@q(
    "hourly_event_spine_filled",
    """
    WITH bounds AS (
      SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
      FROM events
    ),
    spine AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour_ts
      FROM bounds
    ),
    actual AS (
      SELECT date_trunc('hour', ts) AS hour_ts, CAST(count(*) AS BIGINT) AS n_events
      FROM events GROUP BY hour_ts
    )
    SELECT strftime(s.hour_ts, '%Y-%m-%d %H:00') AS hour_label,
           COALESCE(a.n_events, 0) AS n_events,
           a.hour_ts IS NULL AS is_gap
    FROM spine s LEFT JOIN actual a ON a.hour_ts = s.hour_ts
    ORDER BY hour_label
    """,
)
def hourly_event_spine_filled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-spine gap filling: generate the complete hourly spine
    between the corpus min/max (`sequence` + explode — data generation
    as an operator), left-join the actual per-hour counts onto it, and
    mark empty hours. The spine is derived from a 2-row aggregate and
    explodes JVM-side, so the pattern costs one scan + one small join
    at any scale — the standard fix for 'missing buckets' in windowed
    reports and training-data time series."""
    ev = _t(spark, sf_dir, "events")
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
        ).alias("hour_ts")
    )
    actual = ev.groupBy(F.date_trunc("hour", "ts").alias("hour_ts")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    return (
        spine.alias("s")
        .join(actual.alias("a"), F.col("s.hour_ts") == F.col("a.hour_ts"), "left")
        .select(
            F.date_format("s.hour_ts", "yyyy-MM-dd HH:00").alias("hour_label"),
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.col("a.hour_ts").isNull().alias("is_gap"),
        )
        .orderBy("hour_label")
    )


@q(
    "user_event_locf_fill",
    """
    SELECT user_id, event_id,
           round((last_value(purchase_value IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) * 100.0) / 100.0
             AS last_purchase_value,
           event_type
    FROM (
      SELECT user_id, event_id, ts, event_type,
             CASE WHEN event_type = 'purchase' THEN value END AS purchase_value
      FROM events WHERE user_id < 3
    )
    ORDER BY user_id, event_id
    """,
)
def user_event_locf_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOCF imputation (last observation carried forward): every event
    annotated with its user's most recent purchase value —
    `last(ignorenulls)` over an ordered running frame, the standard
    forward-fill for sparse signals in training-data assembly. One
    shuffle on the partition key; the running frame needs no second
    pass. Sorting includes event_id so concurrent-timestamp rows fill
    deterministically."""
    ev = _t(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    pv = F.when(F.col("event_type") == "purchase", F.col("value"))
    return (
        ev.where(F.col("user_id") < 3)
        .select(
            "user_id",
            "event_id",
            (F.round((F.last(pv, ignorenulls=True).over(w)) * 100.0) / 100.0).alias(
                "last_purchase_value"
            ),
            "event_type",
        )
        .orderBy("user_id", "event_id")
    )


@q(
    "purchase_click_cogroup_stats",
    """
    WITH p AS (SELECT user_id, event_id, ts FROM events
               WHERE event_type = 'purchase'),
         c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
         gaps AS (
           SELECT p.user_id,
                  date_diff('second', c.ts, p.ts) AS gap_s
           FROM p ASOF LEFT JOIN c
             ON p.user_id = c.user_id AND p.ts >= c.ts
         )
    SELECT user_id,
           CAST(count(*) AS BIGINT)     AS n_purchases,
           CAST(count(gap_s) AS BIGINT) AS n_matched,
           round((quantile_cont(gap_s, 0.5)) * 10.0) / 10.0 AS median_gap_s,
           CAST(max(gap_s) AS BIGINT)   AS max_gap_s
    FROM gaps GROUP BY user_id ORDER BY user_id
    """,
)
def purchase_click_cogroup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user purchase→preceding-click gap profile via the cogrouped
    Arrow path (``as_of_join_cogroup``): both event slices shuffle once
    on user_id, then ``pd.merge_asof`` aligns them per group. Same
    backward-asof semantics as `purchase_asof_click` (so DuckDB's
    native ASOF JOIN remains the oracle) but a distinct physical
    shape — the cogroup variant also supports nearest/tolerance
    matching, pinned by unit tests. Gap stats computed natively after
    alignment; median interpolates like quantile_cont(0.5)."""
    from ..operators.asof import as_of_join_cogroup

    ev = _t(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts"
    )
    clicks = ev.where(F.col("event_type") == "click").select("user_id", "ts")
    aligned = as_of_join_cogroup(purchases, clicks, "user_id")
    gap = F.col("ts").cast("long") - F.col("ts_asof").cast("long")
    return (
        aligned.select("user_id", gap.alias("gap_s"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.count("gap_s").alias("n_matched"),
            (F.round((F.percentile("gap_s", F.lit(0.5))) * 10.0) / 10.0).alias("median_gap_s"),
            F.max("gap_s").cast("long").alias("max_gap_s"),
        )
        .orderBy("user_id")
    )


@q(
    "event_value_anomalies",
    """
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events WHERE value IS NOT NULL GROUP BY event_type
    ),
    dev AS (
      SELECT e.event_type, e.value, abs(e.value - m.med) AS adev, m.med
      FROM events e JOIN med m ON e.event_type = m.event_type
      WHERE e.value IS NOT NULL
    ),
    mad AS (
      SELECT event_type, quantile_cont(adev, 0.5) AS mad
      FROM dev GROUP BY event_type
    )
    SELECT d.event_type,
           CAST(count(*) AS BIGINT) AS n_anomalies,
           round((min(d.value)) * 1000.0) / 1000.0   AS min_anom,
           round((max(d.value)) * 1000.0) / 1000.0   AS max_anom
    FROM dev d JOIN mad ON d.event_type = mad.event_type
    WHERE d.adev > 3 * mad.mad
    GROUP BY d.event_type
    ORDER BY d.event_type
    """,
)
def event_value_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection: events whose value deviates from their
    type's median by more than 3× the median absolute deviation.
    Median/MAD (not mean/stddev) so the detector itself is immune to
    the outliers it hunts. Two grouped exact percentiles with the tiny
    per-type stats broadcast back between them — the fact table scans
    twice but never self-joins; at 100 TB swap `percentile` for
    `percentile_approx` (tolerance-tested in test_scale_patterns)."""
    ev = (
        _t(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select("event_type", "value")
    )
    med = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.percentile("adev", F.lit(0.5)).alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .where(F.col("adev") > 3 * F.col("mad"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_anomalies"),
            (F.round((F.min("value")) * 1000.0) / 1000.0).alias("min_anom"),
            (F.round((F.max("value")) * 1000.0) / 1000.0).alias("max_anom"),
        )
        .orderBy("event_type")
    )


@q(
    "user_funnel_counts",
    """
    WITH v AS (
      SELECT user_id, min(ts) AS v_ts FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, min(e.ts) AS c_ts
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.v_ts
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, min(e.ts) AS p_ts
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.c_ts
      GROUP BY e.user_id
    )
    SELECT stage, n_users FROM (
      SELECT '1_view' AS stage, CAST(count(*) AS BIGINT) AS n_users FROM v
      UNION ALL
      SELECT '2_click_after_view', CAST(count(*) AS BIGINT) FROM c
      UNION ALL
      SELECT '3_purchase_after_click', CAST(count(*) AS BIGINT) FROM p
    ) ORDER BY stage
    """,
)
def user_funnel_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-funnel analysis: users who viewed, then clicked strictly
    after their first view, then purchased strictly after that click.
    Each stage is a conditional min over the previous stage's per-user
    anchor — filter-then-join-then-agg, so every stage shuffles only
    the per-user anchor table, never events². Strict `>` between stages
    keeps the definition engine-identical without relying on event-id
    tie-break order."""
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("v_ts"))
    )
    c = (
        ev.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(F.col("ts") > F.col("v_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("c_ts"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(F.col("ts") > F.col("c_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    spark_counts = [
        v.agg(F.count(F.lit(1)).cast("long").alias("n_users")).select(
            F.lit("1_view").alias("stage"), "n_users"
        ),
        c.agg(F.count(F.lit(1)).cast("long").alias("n_users")).select(
            F.lit("2_click_after_view").alias("stage"), "n_users"
        ),
        p.agg(F.count(F.lit(1)).cast("long").alias("n_users")).select(
            F.lit("3_purchase_after_click").alias("stage"), "n_users"
        ),
    ]
    out = spark_counts[0]
    for s in spark_counts[1:]:
        out = out.unionByName(s)
    return out.orderBy("stage")


@q(
    "user_weekly_retention",
    """
    WITH firsts AS (
      SELECT user_id, min(ts) AS first_ts FROM events GROUP BY user_id
    ),
    act AS (
      SELECT DISTINCT e.user_id,
             CAST(date_trunc('week', f.first_ts) AS DATE) AS cohort_week,
             CAST(date_diff('day',
                            CAST(date_trunc('week', f.first_ts) AS DATE),
                            CAST(date_trunc('week', e.ts) AS DATE)) / 7
                  AS INT) AS week_offset
      FROM events e JOIN firsts f ON e.user_id = f.user_id
    )
    SELECT strftime(cohort_week, '%Y-%m-%d') AS cohort_week,
           week_offset,
           CAST(count(*) AS BIGINT) AS n_users
    FROM act GROUP BY cohort_week, week_offset
    ORDER BY cohort_week, week_offset
    """,
)
def user_weekly_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts: users grouped by the week of their
    first event, counted in every later week they were active — the
    (cohort × week-offset) retention matrix. One shuffle builds the
    per-user anchor, which joins back and distinct-collapses to
    (user, cohort, offset) before the final count; the fact table never
    self-joins. Monday-start `date_trunc('week')` agrees across
    engines."""
    ev = _t(spark, sf_dir, "events").select("user_id", "ts")
    firsts = ev.groupBy("user_id").agg(F.min("ts").alias("first_ts"))
    cw = F.date_trunc("week", F.col("first_ts")).cast("date")
    aw = F.date_trunc("week", F.col("ts")).cast("date")
    act = (
        ev.join(firsts, "user_id")
        .select(
            "user_id",
            cw.alias("cohort_week"),
            (F.datediff(aw, cw) / 7).cast("int").alias("week_offset"),
        )
        .distinct()
    )
    return (
        act.groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
        .select(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
            "week_offset",
            "n_users",
        )
        .orderBy("cohort_week", "week_offset")
    )


@q(
    "event_transition_matrix",
    """
    WITH seq AS (
      SELECT event_type AS from_type,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts ASC, event_id ASC
             ) AS to_type
      FROM events
    ),
    pairs AS (
      SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
      FROM seq WHERE to_type IS NOT NULL
      GROUP BY from_type, to_type
    )
    SELECT from_type, to_type, n,
           round((CAST(n AS DOUBLE)
                 / sum(n) OVER (PARTITION BY from_type)) * 10000.0) / 10000.0 AS prob
    FROM pairs ORDER BY from_type, to_type
    """,
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences (the session-modeling primitive behind next-action
    prediction features). One shuffle on user_id for the lead window,
    one bounded aggregate on (from, to) — the row-probability
    normalization runs as a window over the TYPE²-bounded matrix, not
    the fact table. Ordering ties broken by event_id so consecutive
    same-timestamp events sequence identically in every engine."""
    ev = _t(spark, sf_dir, "events")
    seq = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type")
        .over(W.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id")))
        .alias("to_type"),
    )
    pairs = (
        seq.where(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    return pairs.select(
        "from_type",
        "to_type",
        "n",
        F.round(
            F.col("n").cast("double")
            / F.sum("n").over(W.partitionBy("from_type")),
            4,
        ).alias("prob"),
    ).orderBy("from_type", "to_type")


@q(
    "event_interarrival_stats",
    """
    WITH gaps AS (
      SELECT event_type,
             CAST(date_diff('microsecond',
                            lag(ts) OVER (
                              PARTITION BY user_id, event_type
                              ORDER BY ts ASC, event_id ASC
                            ), ts) AS DOUBLE) / 1000000.0 AS gap_s
      FROM events
    )
    SELECT event_type,
           CAST(count(gap_s) AS BIGINT) AS n_gaps,
           round((quantile_cont(gap_s, 0.5)::DOUBLE) * 1000.0) / 1000.0 AS p50_gap_s,
           round((quantile_cont(gap_s, 0.9)::DOUBLE) * 1000.0) / 1000.0 AS p90_gap_s
    FROM gaps WHERE gap_s IS NOT NULL
    GROUP BY event_type ORDER BY event_type
    """,
)
def event_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival time distribution per event type: lag-diff within
    (user, type), then exact interpolated percentiles of the gap in
    seconds. The window shuffles once on the composite key; the
    percentile aggregates over per-type groups (exact form declared
    for the oracle — ``percentile_approx`` is the same call shape at
    100 TB, per the quantile entry's scale note). Microsecond diffs
    keep the arithmetic integer-exact before the single division."""
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id", "event_type").orderBy(F.asc("ts"), F.asc("event_id"))
    gaps = ev.select(
        "event_type",
        (
            (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))).cast(
                "double"
            )
            / 1000000.0
        ).alias("gap_s"),
    ).where(F.col("gap_s").isNotNull())
    return (
        gaps.groupBy("event_type")
        .agg(
            F.count("gap_s").cast("long").alias("n_gaps"),
            (F.round((F.expr("percentile(gap_s, 0.5)")) * 1000.0) / 1000.0).alias("p50_gap_s"),
            (F.round((F.expr("percentile(gap_s, 0.9)")) * 1000.0) / 1000.0).alias("p90_gap_s"),
        )
        .orderBy("event_type")
    )


@q(
    "event_hourly_ohlc",
    """
    WITH ranked AS (
      SELECT event_type, date_trunc('hour', ts) AS hr, value,
             row_number() OVER (
               PARTITION BY event_type, date_trunc('hour', ts)
               ORDER BY ts ASC, event_id ASC) AS rn_first,
             row_number() OVER (
               PARTITION BY event_type, date_trunc('hour', ts)
               ORDER BY ts DESC, event_id DESC) AS rn_last
      FROM events
    )
    SELECT event_type, strftime(hr, '%Y-%m-%d %H') AS hour,
           CAST(count(*) AS BIGINT) AS n_events,
           round((max(CASE WHEN rn_first = 1 THEN value END)) * 100.0) / 100.0 AS open,
           round((max(value)) * 100.0) / 100.0 AS high,
           round((min(value)) * 100.0) / 100.0 AS low,
           round((max(CASE WHEN rn_last = 1 THEN value END)) * 100.0) / 100.0 AS close
    FROM ranked GROUP BY event_type, hr
    ORDER BY event_type, hour
    LIMIT 200
    """,
)
def event_hourly_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC bar downsampling (the time-series compaction primitive:
    open / high / low / close per hour per series). Both row_number
    windows share one (type, hour) partitioning → a single shuffle,
    two in-partition sorts; the conditional max folds first/last into
    the same grouped aggregate as min/max/count. Ties at equal ts
    break on event_id, making open/close engine-identical. Bounded to
    200 bars for a stable declared output."""
    ev = _t(spark, sf_dir, "events")
    hr = F.date_trunc("hour", F.col("ts"))
    pw = W.partitionBy("event_type", hr)
    ranked = ev.select(
        "event_type",
        hr.alias("hr"),
        "value",
        F.row_number()
        .over(pw.orderBy(F.asc("ts"), F.asc("event_id")))
        .alias("rn_first"),
        F.row_number()
        .over(pw.orderBy(F.desc("ts"), F.desc("event_id")))
        .alias("rn_last"),
    )
    return (
        ranked.groupBy("event_type", "hr")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            (F.round((F.max(F.when(F.col("rn_first") == 1, F.col("value")))) * 100.0) / 100.0).alias("open"),
            (F.round((F.max("value")) * 100.0) / 100.0).alias("high"),
            (F.round((F.min("value")) * 100.0) / 100.0).alias("low"),
            (F.round((F.max(F.when(F.col("rn_last") == 1, F.col("value")))) * 100.0) / 100.0).alias("close"),
        )
        .select(
            "event_type",
            F.date_format("hr", "yyyy-MM-dd HH").alias("hour"),
            "n_events",
            "open",
            "high",
            "low",
            "close",
        )
        .orderBy("event_type", "hour")
        .limit(200)
    )


@q(
    "events_null_profile",
    """
    SELECT 'event_id' AS column_name,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_nulls,
           CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct
    FROM events
    UNION ALL
    SELECT 'event_type', CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(count(DISTINCT event_type) AS BIGINT)
    FROM events
    UNION ALL
    SELECT 'user_id', CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(count(DISTINCT user_id) AS BIGINT)
    FROM events
    UNION ALL
    SELECT 'value', CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(count(DISTINCT value) AS BIGINT)
    FROM events
    ORDER BY column_name
    """,
)
def events_null_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level table profiling (null counts + exact distinct
    cardinality) — the schema-drift / data-quality sweep run before a
    table enters a pipeline. The Spark plan is ONE pass: a single
    aggregate computes every column's stats (distinct aggs expand to
    per-column partials under one shuffle), then an in-row stack
    unpivots to the (column, stats) long form — versus the oracle's
    four scans. At 100 TB the exact distincts swap for
    approx_count_distinct / HLL sketches (same plan shape, tested in
    test_scale_patterns)."""
    ev = _t(spark, sf_dir, "events")
    cols = ["event_id", "event_type", "user_id", "value"]
    agg = ev.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        *[
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
            .cast("long")
            .alias(f"{c}__nulls")
            for c in cols
        ],
        *[
            F.count_distinct(F.col(c)).cast("long").alias(f"{c}__distinct")
            for c in cols
        ],
    )
    stack = ", ".join(
        f"'{c}', {c}__nulls, {c}__distinct" for c in cols
    )
    return (
        agg.select(
            F.col("n_rows"),
            F.expr(
                f"stack({len(cols)}, {stack}) AS (column_name, n_nulls, n_distinct)"
            ),
        )
        .select("column_name", "n_rows", "n_nulls", "n_distinct")
        .orderBy("column_name")
    )


@q(
    "rolling_distinct_users",
    """
    WITH contrib AS (
      SELECT DISTINCT
             CAST(date_trunc('day', ts) AS DATE) + CAST(i AS INTEGER) AS day,
             user_id
      FROM events, UNNEST(range(0, 7)) AS t(i)
    ),
    bounds AS (
      SELECT max(CAST(date_trunc('day', ts) AS DATE)) AS max_day FROM events
    )
    SELECT strftime(day, '%Y-%m-%d') AS day,
           CAST(count(user_id) AS BIGINT) AS users_7d
    FROM contrib, bounds WHERE day <= max_day
    GROUP BY day ORDER BY day
    """,
)
def rolling_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day distinct-user cardinality per day (the rolling
    MAU/WAU family). Distinct counts can't ride a window frame, and a
    per-day range join re-scans the fact 7×; instead each event
    FANS OUT map-side to the ≤7 days it contributes to (in-row
    sequence → explode), then one (day, user) distinct + one grouped
    count — a single shuffle keyed by day, linear in events×7. The
    trailing-window trim (days past the data's end) is a one-row
    broadcast bound."""
    ev = _t(spark, sf_dir, "events")
    contrib = (
        ev.select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(6)),
                    lambda i: F.date_add(F.col("ts").cast("date"), i),
                )
            ).alias("day"),
            "user_id",
        )
        .distinct()
    )
    bounds = ev.agg(F.max(F.col("ts").cast("date")).alias("max_day"))
    return (
        contrib.crossJoin(F.broadcast(bounds))
        .where(F.col("day") <= F.col("max_day"))
        .groupBy("day")
        .agg(F.count("user_id").cast("long").alias("users_7d"))
        .select(F.date_format("day", "yyyy-MM-dd").alias("day"), "users_7d")
        .orderBy("day")
    )


@q(
    "event_time_rollup",
    """
    WITH base AS (
      SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
             strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS hour,
             value
      FROM events
    )
    SELECT day, hour,
           CAST(grouping(hour) AS INT) AS is_day_level,
           CAST(count(*) AS BIGINT) AS n_events,
           round((sum(value)) * 100.0) / 100.0 AS total_value
    FROM base
    GROUP BY GROUPING SETS ((day), (day, hour))
    ORDER BY day, is_day_level DESC, hour NULLS FIRST
    """,
)
def event_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-hierarchy rollup (the hypertable continuous-aggregate
    shape): hourly AND daily aggregates of the same fact in ONE scan +
    ONE Expand — not a union of two aggregation passes. grouping()
    marks the level so consumers can route; at 100 TB this is the
    materialization query behind serving both granularities from one
    job."""
    ev = _t(spark, sf_dir, "events")
    base = ev.select(
        F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias(
            "day"
        ),
        F.date_format(
            F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH"
        ).alias("hour"),
        "value",
    )
    base.createOrReplaceTempView("_time_rollup_base")
    return spark.sql(
        """
        SELECT day, hour,
               CAST(grouping(hour) AS INT) AS is_day_level,
               CAST(count(*) AS BIGINT) AS n_events,
               round((sum(value)) * 100.0) / 100.0 AS total_value
        FROM _time_rollup_base
        GROUP BY GROUPING SETS ((day), (day, hour))
        ORDER BY day, is_day_level DESC, hour NULLS FIRST
        """
    )


@q(
    "event_user_bitmap_distinct",
    """
    SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def event_user_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct users per event type computed the mergeable way:
    ids bucket into fixed 32k-bit bitmaps (``bitmap_bucket_number``),
    each (type, bucket) group ORs its positions into one bitmap
    (``bitmap_construct_agg`` — associative, so partial aggregation
    combines map-side), and the per-type count is the sum of per-bucket
    popcounts (buckets partition the id space, so the sum is exact).
    This is the exact counterpart of the HLL sketch family: the same
    two-level partial-merge shape count(DISTINCT) itself plans to, but
    with a materializable, re-mergeable intermediate — the pattern for
    incremental distinct-user rollups over 100 TB of events. Oracle is
    plain COUNT(DISTINCT), proving the bitmap path exact."""
    ev = _t(spark, sf_dir, "events")
    per_bucket = ev.groupBy(
        "event_type", F.bitmap_bucket_number("user_id").alias("bucket")
    ).agg(F.bitmap_construct_agg(F.bitmap_bit_position("user_id")).alias("bm"))
    return (
        per_bucket.groupBy("event_type")
        .agg(F.sum(F.bitmap_count("bm")).cast("long").alias("n_users"))
        .orderBy("event_type")
    )


@q(
    "user_activity_islands",
    """
    WITH days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    isl AS (
      SELECT user_id,
             date_diff('day', DATE '1970-01-01', day)
               - row_number() OVER (PARTITION BY user_id ORDER BY day) AS grp
      FROM days
    ),
    g AS (SELECT user_id, grp, count(*) AS len FROM isl GROUP BY user_id, grp)
    SELECT user_id, CAST(sum(len) AS BIGINT) AS n_active_days,
           CAST(count(*) AS BIGINT) AS n_islands,
           CAST(max(len) AS BIGINT) AS max_island_days
    FROM g GROUP BY user_id ORDER BY user_id
    """,
)
def user_activity_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: collapse each user's active days into runs of
    consecutive days and profile run counts/lengths — the sequence
    classic the inventory lacked (streaks, outage windows, coverage
    runs are all this shape). The textbook form is the day_number −
    row_number window trick (the oracle spells it that way), but that
    plans THREE exchanges (distinct on (user,day), re-shuffle on user
    for the window, again for the rollup). Instead: ONE shuffle —
    ``collect_set(day)`` per user — then the whole run-length analysis
    happens IN-ROW in codegen: sort the day array, day-gap diffs via
    ``zip_with`` on the shifted tail, islands = 1 + #gaps>1, and the
    longest run via an O(k) ``aggregate`` fold carrying (current,
    best). Per-user day counts are calendar-bounded (a decade ≈ 3.7k
    entries), so the in-row array is always small even when the event
    fact is 100 TB."""
    ev = _t(spark, sf_dir, "events")
    per_user = (
        ev.select("user_id", F.col("ts").cast("date").alias("day"))
        .groupBy("user_id")
        .agg(F.array_sort(F.collect_set("day")).alias("days"))
    )
    k = F.size("days")
    # consecutive-day gaps: diffs[i] = days[i+1] - days[i] (k-1 entries)
    diffs = F.zip_with(
        F.slice("days", 2, F.greatest(k - 1, F.lit(0))),
        F.slice("days", 1, F.greatest(k - 1, F.lit(0))),
        lambda nxt, prv: F.datediff(nxt, prv),
    )
    longest = F.aggregate(
        diffs,
        F.struct(F.lit(1).alias("cur"), F.lit(1).alias("best")),
        lambda acc, d: F.struct(
            F.when(d == 1, acc["cur"] + 1).otherwise(F.lit(1)).alias("cur"),
            F.greatest(
                acc["best"],
                F.when(d == 1, acc["cur"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    return (
        per_user.select(
            "user_id",
            k.cast("long").alias("n_active_days"),
            (F.lit(1) + F.size(F.filter(diffs, lambda d: d > 1)))
            .cast("long")
            .alias("n_islands"),
            longest.cast("long").alias("max_island_days"),
        )
        .orderBy("user_id")
    )


_EWMA_ALPHA = 0.3


@q(
    "user_value_ewma",
    f"""
    WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             round(avg(value) * 1000000.0) / 1000000.0 AS v
      FROM events WHERE value IS NOT NULL
      GROUP BY user_id, CAST(ts AS DATE)
    ),
    arr AS (
      SELECT user_id, array_agg(v ORDER BY day ASC) AS vals
      FROM daily GROUP BY user_id
    )
    SELECT user_id, CAST(len(vals) AS BIGINT) AS n_days,
           round(list_reduce(vals,
                             (acc, x) -> {_EWMA_ALPHA} * x
                                         + {1 - _EWMA_ALPHA} * acc)
                 * 10000.0) / 10000.0 AS ewma_value,
           round(list_reduce(list_transform(vals, x -> round(x * 1000000.0)),
                             (acc, x) -> acc + x)
                 / len(vals) / 1000000.0 * 10000.0) / 10000.0 AS mean_value
    FROM arr ORDER BY user_id
    """,
)
def user_value_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of each user's daily mean
    value — the recursive smoother ewma_n = α·x_n + (1−α)·ewma_{n−1},
    run as an IN-ROW ordered fold over the user's day-sorted value
    array (one shuffle to assemble the array, then pure codegen).
    The fold spelling — not the algebraically-equivalent closed
    weighted sum — is deliberate determinism engineering: a grouped
    SUM's floating-point accumulation order varies run-to-run across
    Spark partitions (a latent boundary flake the sweep actually
    caught once), while a left fold visits elements in ONE defined
    order in both engines, and it needs no pow() (whose last-ulp
    behavior is libm-specific). Daily means are quantized to 1e-6
    first so the fold inputs are identical constants across engines;
    the mean re-derives from an exact integer-sum fold of those
    quantized values. Day-grain series keeps the per-user ordering
    unique (no ts tie-break hazard). At 100 TB per-user day arrays
    stay small (bounded by the calendar); for unbounded series the
    closed-form window variant trades determinism for
    constant memory."""
    a = _EWMA_ALPHA
    ev = _t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    daily = ev.groupBy("user_id", F.col("ts").cast("date").alias("day")).agg(
        (F.round(F.avg("value") * 1000000.0) / 1000000.0).alias("v")
    )
    arr = daily.groupBy("user_id").agg(
        F.array_sort(F.collect_list(F.struct("day", "v"))).alias("s")
    )
    vals = F.transform(F.col("s"), lambda x: x["v"])
    n = F.size(vals)
    ewma = F.aggregate(
        F.slice(vals, 2, n - 1),
        F.element_at(vals, 1),
        lambda acc, x: F.lit(a) * x + F.lit(1 - a) * acc,
    )
    mean = (
        F.aggregate(
            F.transform(vals, lambda x: F.round(x * 1000000.0)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        / n.cast("double")
        / 1000000.0
    )
    return (
        arr.select(
            "user_id",
            n.cast("long").alias("n_days"),
            (F.round(ewma * 10000.0) / 10000.0).alias("ewma_value"),
            (F.round(mean * 10000.0) / 10000.0).alias("mean_value"),
        )
        .orderBy("user_id")
    )


@q(
    "user_value_twap",
    """
    WITH e AS (
      SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us, value
      FROM events WHERE value IS NOT NULL
    ),
    d AS (
      SELECT user_id, value,
             lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id) - us
               AS dt
      FROM e
    )
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_points,
           CASE WHEN sum(dt) > 0
                THEN round(sum(value * dt) * 10000.0 / sum(dt)) / 10000.0
           END AS twap_value,
           round(avg(value) * 10000.0) / 10000.0 AS mean_value
    FROM d GROUP BY user_id ORDER BY user_id
    """,
)
def user_value_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average (TWAP) of each user's value series —
    the correct mean for IRREGULARLY sampled measurements (a value
    holds until the next observation, so it weights by its holding
    interval; the plain mean over-weights bursts). One window pass for
    the lead-interval + one aggregate — same single-shuffle shape as
    any per-key rollup. The (us, event_id) sort key makes the
    value→interval pairing deterministic under same-microsecond ties;
    a user's last observation carries no interval (NULL dt drops out of
    both sums), and single-point users yield NULL TWAP on both engines
    via the sum(dt)>0 guard."""
    from pyspark.sql import Window as W

    ev = (
        _t(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select("user_id", "event_id", F.unix_micros("ts").alias("us"), "value")
    )
    w = W.partitionBy("user_id").orderBy("us", "event_id")
    d = ev.select(
        "user_id", "value", (F.lead("us").over(w) - F.col("us")).alias("dt")
    )
    twap = F.when(
        F.sum("dt") > 0,
        F.round(F.sum(F.col("value") * F.col("dt")) * 10000.0 / F.sum("dt"))
        / 10000.0,
    )
    return (
        d.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_points"),
            twap.alias("twap_value"),
            (F.round(F.avg("value") * 10000.0) / 10000.0).alias("mean_value"),
        )
        .orderBy("user_id")
    )


@q(
    "user_value_lag_features",
    """
    WITH d AS (
      SELECT user_id, CAST(ts AS DATE) AS day, round((avg(value)) * 10000.0) / 10000.0 AS v
      FROM events WHERE value IS NOT NULL
      GROUP BY user_id, CAST(ts AS DATE)
    )
    SELECT user_id, date_diff('day', DATE '1970-01-01', day) AS day_no, v,
           lag(v, 1) OVER w AS v_lag1,
           lag(v, 2) OVER w AS v_lag2,
           round(avg(v) OVER (PARTITION BY user_id ORDER BY day
                              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
                 * 10000.0) / 10000.0 AS v_ma3
    FROM d WINDOW w AS (PARTITION BY user_id ORDER BY day)
    ORDER BY user_id, day_no
    """,
)
def user_value_lag_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supervised-learning feature assembly over a per-user daily
    series: lag-1, lag-2, and a trailing 3-row moving average in ONE
    window specification — the point is that every derived feature
    shares the same (partition, order), so Catalyst plans a single
    sort+Window operator and the whole feature matrix costs one
    shuffle, however many lags ride along. Day-grain pre-aggregation
    makes the per-user ordering unique (no timestamp tie ambiguity)
    and v is rounded BEFORE the derived features so lag/avg consume
    engine-identical inputs. Output timestamps as epoch-day ints (no
    raw timestamps, per the authoring rules)."""
    from pyspark.sql import Window as W

    ev = _t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    d = ev.groupBy(
        "user_id", F.col("ts").cast("date").alias("day")
    ).agg((F.round((F.avg("value")) * 10000.0) / 10000.0).alias("v"))
    w = W.partitionBy("user_id").orderBy("day")
    ma = W.partitionBy("user_id").orderBy("day").rowsBetween(-2, 0)
    return (
        d.select(
            "user_id",
            F.datediff("day", F.lit("1970-01-01").cast("date")).alias("day_no"),
            "v",
            F.lag("v", 1).over(w).alias("v_lag1"),
            F.lag("v", 2).over(w).alias("v_lag2"),
            (F.round(F.avg("v").over(ma) * 10000.0) / 10000.0).alias("v_ma3"),
        )
        .orderBy("user_id", "day_no")
    )


@q(
    "event_segment_pit_join",
    """
    WITH b AS (
      SELECT epoch_ns(min(ts)) // 1000 AS mn, epoch_ns(max(ts)) // 1000 AS mx
      FROM events
    ),
    dim AS (
      SELECT c_custkey AS k, c_mktsegment AS segment,
             b.mn - 1 AS vfrom_us,
             CASE WHEN c_custkey % 3 = 0 THEN b.mn + (b.mx - b.mn) // 2
                  ELSE b.mx + 1 END AS vto_us
      FROM customer, b
      UNION ALL
      SELECT c_custkey, 'SEG_' || CAST(c_custkey % 5 AS VARCHAR),
             b.mn + (b.mx - b.mn) // 2, b.mx + 1
      FROM customer, b WHERE c_custkey % 3 = 0
    ),
    e AS (SELECT user_id, event_type, epoch_ns(ts) // 1000 AS us FROM events)
    SELECT d.segment, e.event_type, CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
    FROM e JOIN dim d
      ON e.user_id = d.k AND e.us >= d.vfrom_us AND e.us < d.vto_us
    GROUP BY d.segment, e.event_type ORDER BY d.segment, e.event_type
    """,
)
def event_segment_pit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join: events enriched with the market segment
    that was valid AT the event's timestamp from an SCD2-style
    versioned dimension (built deterministically here: every third
    customer re-segments at the corpus midpoint, so each such key has
    two [from, to) validity windows). Joining the CURRENT dimension
    instead — what a naive enrichment does — would leak future
    attribute values into historical training rows; the PIT join is
    the feature-store primitive that prevents that. Plan shape: an
    equi-join on the key with the validity range as a residual filter
    — versions-per-key is small and bounded, so the join never
    degenerates toward a range-only (quadratic) match; at 100 TB both
    sides shuffle once on the key exactly like any big-big equi-join.
    Validity bounds are epoch-µs longs (timestamps never cross the
    oracle boundary raw)."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    b = ev.agg(
        F.min("us").alias("mn"), F.max("us").alias("mx")
    )
    cust = _t(spark, sf_dir, "customer")
    mid = F.col("mn") + F.floor((F.col("mx") - F.col("mn")) / 2)
    v1 = cust.crossJoin(F.broadcast(b)).select(
        F.col("c_custkey").alias("k"),
        F.col("c_mktsegment").alias("segment"),
        (F.col("mn") - 1).alias("vfrom_us"),
        F.when(F.col("c_custkey") % 3 == 0, mid)
        .otherwise(F.col("mx") + 1)
        .alias("vto_us"),
    )
    v2 = (
        cust.where(F.col("c_custkey") % 3 == 0)
        .crossJoin(F.broadcast(b))
        .select(
            F.col("c_custkey").alias("k"),
            F.concat(
                F.lit("SEG_"), (F.col("c_custkey") % 5).cast("string")
            ).alias("segment"),
            mid.alias("vfrom_us"),
            (F.col("mx") + 1).alias("vto_us"),
        )
    )
    dim = v1.unionByName(v2)
    return (
        ev.join(
            dim,
            (ev.user_id == dim.k)
            & (ev.us >= dim.vfrom_us)
            & (ev.us < dim.vto_us),
        )
        .groupBy("segment", "event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
        )
        .orderBy("segment", "event_type")
    )


@q(
    "event_value_psi",
    """
    WITH vb AS (SELECT min(value) AS mn, max(value) AS mx FROM events),
    tb AS (SELECT min(epoch_ns(ts) // 1000) AS tmn,
                  max(epoch_ns(ts) // 1000) AS tmx FROM events),
    e AS (
      SELECT event_type,
             CAST(least(floor((value - vb.mn) / ((vb.mx - vb.mn) / 10.0)), 9) AS INT)
               AS bin,
             CASE WHEN epoch_ns(ts) // 1000
                       < tb.tmn + (tb.tmx - tb.tmn) // 2 THEN 1 ELSE 0 END AS early
      FROM events, vb, tb
    ),
    cells AS (
      SELECT event_type, bin,
             CAST(sum(early) AS DOUBLE) AS n_early,
             CAST(sum(1 - early) AS DOUBLE) AS n_late
      FROM e GROUP BY event_type, bin
    ),
    t AS (
      SELECT cells.*,
             sum(n_early) OVER (PARTITION BY event_type) AS ne,
             sum(n_late) OVER (PARTITION BY event_type) AS nl,
             CAST(count(*) OVER (PARTITION BY event_type) AS DOUBLE) AS k
      FROM cells
    )
    SELECT event_type, CAST(max(k) AS BIGINT) AS n_bins,
           CAST(sum(n_early) AS BIGINT) AS n_early,
           CAST(sum(n_late) AS BIGINT) AS n_late,
           round(sum(((n_early + 1.0) / (ne + k) - (n_late + 1.0) / (nl + k))
                     * ln(((n_early + 1.0) / (ne + k))
                          / ((n_late + 1.0) / (nl + k))))
                 * 1000000.0) / 1000000.0 AS psi
    FROM t GROUP BY event_type ORDER BY event_type
    """,
)
def event_value_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population stability index of the `value` distribution between
    the early and late time halves, per event type — the standard
    production drift monitor (PSI < 0.1 stable, > 0.25 major shift).
    Values land in 10 equi-width bins over the global [min, max]
    (identical IEEE arithmetic both engines, so bin membership is
    exact); shares are Laplace-smoothed by the PER-TYPE observed bin
    count k so empty-in-one-half bins stay finite and both engines
    divide by the same denominator. Scale shape: one fact aggregate
    collapses to ≤ |types|·10 cells; marginals are windows over that
    tiny frame — the fact table is scanned once (the two one-row
    bound frames piggyback as broadcast crossJoins)."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        "value",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    vb = ev.agg(F.min("value").alias("mn"), F.max("value").alias("mx"))
    tb = ev.agg(F.min("us").alias("tmn"), F.max("us").alias("tmx"))
    mid = F.col("tmn") + F.floor((F.col("tmx") - F.col("tmn")) / 2)
    cells = (
        ev.crossJoin(F.broadcast(vb))
        .crossJoin(F.broadcast(tb))
        .select(
            "event_type",
            F.least(
                F.floor(
                    (F.col("value") - F.col("mn"))
                    / ((F.col("mx") - F.col("mn")) / 10.0)
                ),
                F.lit(9),
            )
            .cast("int")
            .alias("bin"),
            F.when(F.col("us") < mid, 1).otherwise(0).alias("early"),
        )
        .groupBy("event_type", "bin")
        .agg(
            F.sum("early").cast("double").alias("n_early"),
            F.sum(1 - F.col("early")).cast("double").alias("n_late"),
        )
    )
    w = W.partitionBy("event_type")
    t = cells.select(
        "event_type",
        "n_early",
        "n_late",
        F.sum("n_early").over(w).alias("ne"),
        F.sum("n_late").over(w).alias("nl"),
        F.count(F.lit(1)).over(w).cast("double").alias("k"),
    )
    p = (F.col("n_early") + 1.0) / (F.col("ne") + F.col("k"))
    qq = (F.col("n_late") + 1.0) / (F.col("nl") + F.col("k"))
    return (
        t.groupBy("event_type")
        .agg(
            F.max("k").cast("long").alias("n_bins"),
            F.sum("n_early").cast("long").alias("n_early"),
            F.sum("n_late").cast("long").alias("n_late"),
            (F.round(F.sum((p - qq) * F.log(p / qq)) * 1000000.0) / 1000000.0).alias(
                "psi"
            ),
        )
        .orderBy("event_type")
    )


@q(
    "ab_test_purchase_lift",
    f"""
    WITH u AS (
      SELECT user_id,
             CASE WHEN ({_md5_byte_sql("CAST(user_id AS VARCHAR)", "ab:")}) % 2 = 0
                  THEN 'A' ELSE 'B' END AS variant,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
      FROM events GROUP BY user_id
    ),
    s AS (
      SELECT CAST(sum(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS DOUBLE) AS na,
             CAST(sum(CASE WHEN variant = 'A' THEN conv ELSE 0 END) AS DOUBLE) AS ca,
             CAST(sum(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS DOUBLE) AS nb,
             CAST(sum(CASE WHEN variant = 'B' THEN conv ELSE 0 END) AS DOUBLE) AS cb
      FROM u
    )
    SELECT CAST(na AS BIGINT) AS users_a, CAST(ca AS BIGINT) AS conv_a,
           CAST(nb AS BIGINT) AS users_b, CAST(cb AS BIGINT) AS conv_b,
           round((ca / nullif(na, 0.0)) * 1000000.0) / 1000000.0 AS rate_a,
           round((cb / nullif(nb, 0.0)) * 1000000.0) / 1000000.0 AS rate_b,
           round(((ca / nullif(na, 0.0) - cb / nullif(nb, 0.0))
                  / nullif(sqrt(((ca + cb) / (na + nb))
                                * (1.0 - (ca + cb) / (na + nb))
                                * (1.0 / nullif(na, 0.0) + 1.0 / nullif(nb, 0.0))),
                           0.0))
                 * 1000000.0) / 1000000.0 AS z
    FROM s
    """,
)
def ab_test_purchase_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: users are deterministically assigned to
    variants by salted md5 parity ('ab:' salt keeps assignment
    independent of every sampling operator's hash — see
    operators/sampling.py), conversion = the user ever fired a
    'purchase' event, and the two-proportion pooled z statistic tests
    rate_A = rate_B. Hash assignment is the production pattern
    (stable across runs/engines, no assignment table to join); the
    whole readout is one per-user aggregate (key shuffle) collapsing
    to a single row — at 100 TB the per-user max() combines
    map-side, so the shuffle carries one row per user, not per
    event. All ratios are single fp expressions over exact integer
    counts — bit-identical across engines before the display round;
    degenerate arms (an empty variant, or pooled rate 0/1) NULL the
    affected statistics via nullif instead of throwing under ANSI
    division."""
    ev = _t(spark, sf_dir, "events")
    u = (
        ev.groupBy("user_id")
        .agg(
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("conv")
        )
        .select(
            F.when(_md5_byte0(F.col("user_id"), salt="ab:") % 2 == 0, "A")
            .otherwise("B")
            .alias("variant"),
            "conv",
        )
    )
    s = u.agg(
        F.sum(F.when(F.col("variant") == "A", 1).otherwise(0))
        .cast("double")
        .alias("na"),
        F.sum(F.when(F.col("variant") == "A", F.col("conv")).otherwise(0))
        .cast("double")
        .alias("ca"),
        F.sum(F.when(F.col("variant") == "B", 1).otherwise(0))
        .cast("double")
        .alias("nb"),
        F.sum(F.when(F.col("variant") == "B", F.col("conv")).otherwise(0))
        .cast("double")
        .alias("cb"),
    )
    na = F.nullif(F.col("na"), F.lit(0.0))
    nb = F.nullif(F.col("nb"), F.lit(0.0))
    pa, pb = F.col("ca") / na, F.col("cb") / nb
    pp = (F.col("ca") + F.col("cb")) / (F.col("na") + F.col("nb"))
    z = (pa - pb) / F.nullif(
        F.sqrt(pp * (1.0 - pp) * (1.0 / na + 1.0 / nb)), F.lit(0.0)
    )
    return s.select(
        F.col("na").cast("long").alias("users_a"),
        F.col("ca").cast("long").alias("conv_a"),
        F.col("nb").cast("long").alias("users_b"),
        F.col("cb").cast("long").alias("conv_b"),
        (F.round(pa * 1000000.0) / 1000000.0).alias("rate_a"),
        (F.round(pb * 1000000.0) / 1000000.0).alias("rate_b"),
        (F.round(z * 1000000.0) / 1000000.0).alias("z"),
    )


@q(
    "purchase_attribution_last_touch",
    """
    WITH e AS (
      SELECT user_id, event_id, event_type, epoch_ns(ts) // 1000 AS us
      FROM events
    ),
    attr AS (
      SELECT e.*,
             last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
                        IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY us ASC, event_id ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS channel,
             last_value(CASE WHEN event_type <> 'purchase' THEN us END
                        IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY us ASC, event_id ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch_us
      FROM e
    )
    SELECT coalesce(channel, 'direct') AS channel,
           CAST(count(*) AS BIGINT) AS n_purchases,
           round(avg((us - touch_us) / 1000000.0) * 1000.0) / 1000.0
             AS avg_latency_s
    FROM attr WHERE event_type = 'purchase'
    GROUP BY coalesce(channel, 'direct') ORDER BY channel
    """,
)
def purchase_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: every purchase credits the user's most
    recent PRIOR non-purchase event (click/view/signup/error), or
    'direct' when the purchase is the user's first event — the
    standard marketing-attribution readout. One carry-forward window
    per user (ordered by time with event_id as the total-order
    tie-break, frame excludes the current row so a purchase never
    attributes to itself) — a single user-key shuffle over the fact
    table, the same LOCF machinery as `user_event_locf_fill`; at
    100 TB user partitions are naturally small and skew-free.
    Latency averages only the attributed purchases (NULL for
    'direct' rows drops out of avg in both engines)."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy(F.asc("us"), F.asc("event_id"))
        .rowsBetween(W.unboundedPreceding, -1)
    )
    nonp = F.col("event_type") != "purchase"
    attr = ev.select(
        "event_type",
        "us",
        F.last(F.when(nonp, F.col("event_type")), ignorenulls=True)
        .over(w)
        .alias("channel"),
        F.last(F.when(nonp, F.col("us")), ignorenulls=True)
        .over(w)
        .alias("touch_us"),
    )
    return (
        attr.where(F.col("event_type") == "purchase")
        .groupBy(F.coalesce(F.col("channel"), F.lit("direct")).alias("channel"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_purchases"),
            (
                F.round(
                    F.avg((F.col("us") - F.col("touch_us")) / 1000000.0) * 1000.0
                )
                / 1000.0
            ).alias("avg_latency_s"),
        )
        .orderBy("channel")
    )


@q(
    "event_dow_seasonal_anomalies",
    """
    WITH e AS (
      SELECT event_type, value,
             CAST((epoch_ns(ts) // 1000 // 86400000000 + 3) % 7 AS INT) AS dow
      FROM events WHERE value IS NOT NULL
    ),
    med AS (
      SELECT event_type, dow, quantile_cont(value, 0.5) AS med
      FROM e GROUP BY event_type, dow
    ),
    dev AS (
      SELECT e.event_type, e.dow, e.value, abs(e.value - m.med) AS adev, m.med
      FROM e JOIN med m ON m.event_type = e.event_type AND m.dow = e.dow
    ),
    mad AS (
      SELECT event_type, quantile_cont(adev, 0.5) AS mad
      FROM dev GROUP BY event_type
    )
    SELECT d.event_type, d.dow, CAST(count(*) AS BIGINT) AS n_events,
           round(max(d.med) * 1000.0) / 1000.0 AS dow_median,
           CAST(sum(CASE WHEN d.adev > 3 * mad.mad THEN 1 ELSE 0 END) AS BIGINT)
             AS n_anomalies
    FROM dev d JOIN mad ON mad.event_type = d.event_type
    GROUP BY d.event_type, d.dow
    ORDER BY d.event_type, d.dow
    """,
)
def event_dow_seasonal_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-aware robust anomaly detection: values are
    deseasonalized against their (type, day-of-week) median, then
    flagged when the absolute deviation exceeds 3× the type-level MAD
    of those deviations — the weekly-pattern-aware sibling of
    `event_value_anomalies` (which a strong weekend/weekday cycle
    would fool). Medians/MADs are exact order statistics (identical
    in both engines — no mean/stddev summation-order noise deciding
    membership), and day-of-week derives from integer epoch-day
    arithmetic ((days+3) mod 7, Monday=0) so no timezone/calendar
    library is consulted. Two grouped percentiles with tiny stat
    frames broadcast back; at 100 TB swap `percentile` for
    `percentile_approx`."""
    ev = (
        _t(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select(
            "event_type",
            "value",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        )
        .select(
            "event_type",
            "value",
            # exact integer day number: subtract the remainder before
            # dividing so the double division is exact (no floor-of-
            # float boundary risk vs the oracle's integer //)
            (
                (
                    (
                        (F.col("us") - F.col("us") % 86400000000) / 86400000000
                    ).cast("long")
                    + 3
                )
                % 7
            )
            .cast("int")
            .alias("dow"),
        )
    )
    med = ev.groupBy("event_type", "dow").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    dev = ev.join(F.broadcast(med), ["event_type", "dow"]).withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.percentile("adev", F.lit(0.5)).alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type", "dow")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            (F.round(F.max("med") * 1000.0) / 1000.0).alias("dow_median"),
            F.sum(
                F.when(F.col("adev") > 3 * F.col("mad"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_anomalies"),
        )
        .orderBy("event_type", "dow")
    )


@q(
    "signup_purchase_latency",
    """
    WITH e AS (
      SELECT user_id, event_type, epoch_ns(ts) // 1000 AS us FROM events
    ),
    s AS (
      SELECT user_id, min(CASE WHEN event_type = 'signup' THEN us END) AS s_us
      FROM e GROUP BY user_id
    ),
    conv AS (
      SELECT s.user_id, s.s_us, min(e.us) AS p_us
      FROM s JOIN e ON e.user_id = s.user_id
       AND e.event_type = 'purchase' AND e.us > s.s_us
      WHERE s.s_us IS NOT NULL
      GROUP BY s.user_id, s.s_us
    ),
    lat AS (SELECT (p_us - s_us) / 1000000.0 AS lat_s FROM conv)
    SELECT
      (SELECT CAST(count(s_us) AS BIGINT) FROM s) AS n_signup_users,
      CAST(count(*) AS BIGINT) AS n_converted,
      round(count(*) * 1.0
            / nullif((SELECT count(s_us) FROM s), 0) * 1000000.0)
        / 1000000.0 AS conv_rate,
      round(quantile_cont(lat_s, 0.25) * 1000.0) / 1000.0 AS p25_s,
      round(quantile_cont(lat_s, 0.5) * 1000.0) / 1000.0 AS p50_s,
      round(quantile_cont(lat_s, 0.75) * 1000.0) / 1000.0 AS p75_s,
      round(quantile_cont(lat_s, 0.9) * 1000.0) / 1000.0 AS p90_s
    FROM lat
    """,
)
def signup_purchase_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-latency distribution: for every user whose first
    'signup' precedes a 'purchase', the seconds from first signup to
    first subsequent purchase, summarized as exact p25/50/75/90 plus
    the conversion rate over all signed-up users — the time-to-convert
    readout that complements `user_funnel_counts` (which counts
    stages but not their latency). Strict `us > s_us` keeps the stage
    ordering engine-identical. Two per-user aggregates (one key
    shuffle each, map-side combined) collapse to one summary row;
    latencies are exact integer-µs differences, so the percentile
    interpolation arithmetic is bit-identical before rounding."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    s = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("us"))).alias("s_us")
    )
    n_signup = s.agg(F.count("s_us").cast("double").alias("ns"))
    conv = (
        s.where(F.col("s_us").isNotNull())
        .join(ev.where(F.col("event_type") == "purchase"), "user_id")
        .where(F.col("us") > F.col("s_us"))
        .groupBy("user_id", "s_us")
        .agg(F.min("us").alias("p_us"))
        .select(((F.col("p_us") - F.col("s_us")) / 1000000.0).alias("lat_s"))
    )
    r3 = lambda c: F.round(c * 1000.0) / 1000.0  # noqa: E731
    return (
        conv.agg(
            F.count(F.lit(1)).cast("double").alias("nc"),
            F.percentile("lat_s", F.lit(0.25)).alias("q25"),
            F.percentile("lat_s", F.lit(0.5)).alias("q50"),
            F.percentile("lat_s", F.lit(0.75)).alias("q75"),
            F.percentile("lat_s", F.lit(0.9)).alias("q90"),
        )
        .crossJoin(F.broadcast(n_signup))
        .select(
            F.col("ns").cast("long").alias("n_signup_users"),
            F.col("nc").cast("long").alias("n_converted"),
            (
                F.round(
                    F.col("nc") / F.nullif(F.col("ns"), F.lit(0.0)) * 1000000.0
                )
                / 1000000.0
            ).alias("conv_rate"),
            r3(F.col("q25")).alias("p25_s"),
            r3(F.col("q50")).alias("p50_s"),
            r3(F.col("q75")).alias("p75_s"),
            r3(F.col("q90")).alias("p90_s"),
        )
    )


@q(
    "peak_concurrent_users_daily",
    """
    WITH e AS (
      SELECT user_id, epoch_ns(ts) // 1000 AS us,
             CAST((epoch_ns(ts) // 1000 // 86400000000) AS BIGINT) AS day
      FROM events
    ),
    iv AS (
      SELECT user_id, day, min(us) AS s_us, max(us) AS e_us
      FROM e GROUP BY user_id, day
    ),
    pts AS (
      SELECT day, s_us AS us, 1 AS delta, user_id FROM iv
      UNION ALL
      SELECT day, e_us, -1, user_id FROM iv
    ),
    run AS (
      SELECT day,
             sum(delta) OVER (PARTITION BY day
                              ORDER BY us ASC, delta ASC, user_id ASC
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS conc
      FROM pts
    )
    SELECT r.day, CAST(max(r.conc) AS BIGINT) AS peak_concurrent,
           CAST(n.n AS BIGINT) AS n_users
    FROM run r
    JOIN (SELECT day, count(*) AS n FROM iv GROUP BY day) n ON n.day = r.day
    GROUP BY r.day, n.n ORDER BY r.day
    """,
)
def peak_concurrent_users_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak simultaneous active users per day, where a user's daily
    activity interval spans their first to last event that day — the
    sweep-line decomposition: each interval fans out to a +1 start
    and a −1 end point, one ordered running sum per day gives the
    concurrency curve, its max is the peak. This replaces the naive
    interval×interval overlap self-join (quadratic) with 2 points
    per interval and one day-partitioned window — the same shape
    holds for sessions vs capacity, connections vs limits, jobs vs
    slots. The endpoint order is total (us, delta, user_id; ends
    sort before starts at the same instant, so touching intervals
    don't double-count) — both engines walk the identical sequence
    over exact integers. Two key shuffles total: the per-(user, day)
    interval build and the per-day sweep."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("us")
    ).withColumn(
        "day",
        ((F.col("us") - F.col("us") % 86400000000) / 86400000000).cast("long"),
    )
    iv = ev.groupBy("user_id", "day").agg(
        F.min("us").alias("s_us"), F.max("us").alias("e_us")
    )
    pts = iv.select(
        "day", F.col("s_us").alias("us"), F.lit(1).alias("delta"), "user_id"
    ).unionByName(
        iv.select(
            "day", F.col("e_us").alias("us"), F.lit(-1).alias("delta"), "user_id"
        )
    )
    w = (
        W.partitionBy("day")
        .orderBy(F.asc("us"), F.asc("delta"), F.asc("user_id"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    run = pts.select("day", F.sum("delta").over(w).alias("conc"))
    nday = iv.groupBy("day").agg(F.count(F.lit(1)).alias("n"))
    return (
        run.groupBy("day")
        .agg(F.max("conc").cast("long").alias("peak_concurrent"))
        .join(F.broadcast(nday), "day")
        .select("day", "peak_concurrent", F.col("n").cast("long").alias("n_users"))
        .orderBy("day")
    )


@q(
    "event_path_trigrams",
    """
    WITH e AS (
      SELECT user_id, event_id, event_type, epoch_ns(ts) // 1000 AS us
      FROM events
    ),
    seq AS (
      SELECT user_id, event_type AS w1,
             lead(event_type, 1) OVER (PARTITION BY user_id
                                       ORDER BY us ASC, event_id ASC) AS w2,
             lead(event_type, 2) OVER (PARTITION BY user_id
                                       ORDER BY us ASC, event_id ASC) AS w3
      FROM e
    )
    SELECT w1, w2, w3, CAST(count(*) AS BIGINT) AS n_paths
    FROM seq WHERE w3 IS NOT NULL
    GROUP BY w1, w2, w3
    ORDER BY n_paths DESC, w1 ASC, w2 ASC, w3 ASC
    LIMIT 15
    """,
)
def event_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most common 3-step user journeys: sliding trigrams over each
    user's time-ordered event sequence (two leads over ONE shared
    window spec = one user-key shuffle), counted corpus-wide — the
    depth-3 sibling of `event_transition_matrix` and the
    product-analytics 'path analysis' primitive. event_id breaks
    timestamp ties so the sequence is a total order in both engines;
    the result set is ≤ |types|³ cells, counted with map-side
    combine. Top-15 ordering is exact-integer counts with full
    lexicographic tie-breaks."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    w = W.partitionBy("user_id").orderBy(F.asc("us"), F.asc("event_id"))
    seq = ev.select(
        F.col("event_type").alias("w1"),
        F.lead("event_type", 1).over(w).alias("w2"),
        F.lead("event_type", 2).over(w).alias("w3"),
    )
    return (
        seq.where(F.col("w3").isNotNull())
        .groupBy("w1", "w2", "w3")
        .agg(F.count(F.lit(1)).cast("long").alias("n_paths"))
        .orderBy(F.desc("n_paths"), F.asc("w1"), F.asc("w2"), F.asc("w3"))
        .limit(15)
    )


@q(
    "event_seasonal_naive_backtest",
    """
    WITH daily AS (
      SELECT event_type,
             CAST(epoch_ns(ts) // 1000 // 86400000000 AS BIGINT) AS day,
             sum(value) AS v
      FROM events WHERE value IS NOT NULL
      GROUP BY event_type, day
    ),
    pred AS (
      SELECT a.event_type, a.day, a.v, b.v AS p
      FROM daily a JOIN daily b
        ON b.event_type = a.event_type AND b.day = a.day - 7
    )
    SELECT event_type,
           CAST(count(p) AS BIGINT) AS n_days_evaluated,
           round(avg(abs(v - p)) * 1000.0) / 1000.0 AS mae,
           round(avg(abs(v - p) / v) * 1000000.0) / 1000000.0 AS mape
    FROM pred WHERE p IS NOT NULL
    GROUP BY event_type ORDER BY event_type
    """,
)
def event_seasonal_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast backtest of the seasonal-naive baseline: predict each
    day's total value per event type as the value from 7 CALENDAR days
    earlier (same weekday), and score MAE / MAPE over the evaluable
    days — the no-skill baseline every real forecaster must beat, and
    the standard way to quantify weekly seasonality strength. The
    prediction comes from a day-offset SELF-JOIN (day = day − 7), not
    `lag(v, 7)`: a 7-ROW window offset silently stops meaning "same
    weekday" the moment the observed calendar has gaps (ADVICE r1;
    same reasoning as event_daily_acf's day-offset join — a days
    without a day-7 predecessor simply drop out of the backtest). One
    fact aggregate collapses to the |types|×|days| frame; the join and
    error rollup run over that tiny frame (the fact table is scanned
    once). MAPE is safe under ANSI division because evaluated days
    have v > 0 by construction (a day appears only if it had events;
    values are positive)."""
    ev = (
        _t(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select(
            "event_type",
            "value",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        )
        .withColumn(
            "day",
            ((F.col("us") - F.col("us") % 86400000000) / 86400000000).cast(
                "long"
            ),
        )
    )
    daily = ev.groupBy("event_type", "day").agg(F.sum("value").alias("v"))
    # Alias-to-self mints fresh expression ids so the self-join keys
    # don't collapse (CLAUDE.md cogroup/self-join pitfall).
    prior = daily.select(
        F.col("event_type").alias("et2"),
        F.col("day").alias("day2"),
        F.col("v").alias("p"),
    )
    pred = daily.join(
        prior,
        (F.col("et2") == F.col("event_type"))
        & (F.col("day2") == F.col("day") - 7),
    ).select("event_type", "v", "p")
    return (
        pred.groupBy("event_type")
        .agg(
            F.count("p").cast("long").alias("n_days_evaluated"),
            (F.round(F.avg(F.abs(F.col("v") - F.col("p"))) * 1000.0) / 1000.0)
            .alias("mae"),
            (
                F.round(
                    F.avg(F.abs(F.col("v") - F.col("p")) / F.col("v"))
                    * 1000000.0
                )
                / 1000000.0
            ).alias("mape"),
        )
        .orderBy("event_type")
    )


@q(
    "event_hourly_interpolation",
    """
    WITH obs AS (
      SELECT event_type,
             CAST(epoch_ns(ts) // 1000 // 3600000000 AS BIGINT) AS hr,
             avg(value) AS v
      FROM events WHERE value IS NOT NULL
      GROUP BY event_type, hr
    ),
    bounds AS (
      SELECT event_type, min(hr) AS mn, max(hr) AS mx FROM obs GROUP BY event_type
    ),
    spine AS (
      SELECT b.event_type, unnest(range(b.mn, b.mx + 1)) AS hr FROM bounds b
    ),
    j AS (
      SELECT s.event_type, s.hr, o.v FROM spine s
      LEFT JOIN obs o ON o.event_type = s.event_type AND o.hr = s.hr
    ),
    n AS (
      SELECT j.*,
        last_value(v IGNORE NULLS) OVER w_prev AS pv,
        last_value(CASE WHEN v IS NOT NULL THEN hr END IGNORE NULLS)
          OVER w_prev AS ph,
        first_value(v IGNORE NULLS) OVER w_next AS nv,
        first_value(CASE WHEN v IS NOT NULL THEN hr END IGNORE NULLS)
          OVER w_next AS nh
      FROM j
      WINDOW
        w_prev AS (PARTITION BY event_type ORDER BY hr ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        w_next AS (PARTITION BY event_type ORDER BY hr ASC
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    ),
    filled AS (
      SELECT event_type, hr,
             CASE WHEN v IS NOT NULL THEN v
                  ELSE pv + (nv - pv) * (hr - ph) / (nh - ph) END AS fv,
             CASE WHEN v IS NULL THEN 1 ELSE 0 END AS interp
      FROM n
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_hours,
           CAST(sum(interp) AS BIGINT) AS n_interpolated,
           round(sum(fv) * 1000.0) / 1000.0 AS filled_sum,
           round(avg(fv) * 1000000.0) / 1000000.0 AS filled_avg
    FROM filled GROUP BY event_type ORDER BY event_type
    """,
)
def event_hourly_interpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation gap fill: the hourly mean-value series per
    event type has ~5% missing hours; each gap hour is filled by the
    straight line between its nearest observed neighbors
    (pv + (nv−pv)·(h−ph)/(nh−ph)) — the between-neighbors sibling of
    `user_event_locf_fill` (LOCF carries stale values into gaps;
    interpolation splits the difference, the usual choice for
    physical/metric series). Spine generation is an in-row
    `sequence`/explode per type (bounded by the type's own [min,max]
    hour, so edges are always observed and the division never sees
    ph = nh); neighbor lookup is two IGNORE-NULLS windows over one
    type-key shuffle. Interpolation weights are exact integer hour
    arithmetic — both engines fill identical values modulo the
    rounded display."""
    ev = (
        _t(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select(
            "event_type",
            "value",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        )
        .withColumn(
            "hr",
            ((F.col("us") - F.col("us") % 3600000000) / 3600000000).cast("long"),
        )
    )
    obs = ev.groupBy("event_type", "hr").agg(F.avg("value").alias("v"))
    spine = (
        obs.groupBy("event_type")
        .agg(F.min("hr").alias("mn"), F.max("hr").alias("mx"))
        .select(
            "event_type",
            F.explode(F.sequence(F.col("mn"), F.col("mx"))).alias("hr"),
        )
    )
    j = spine.join(obs, ["event_type", "hr"], "left")
    w_prev = (
        W.partitionBy("event_type")
        .orderBy(F.asc("hr"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    w_next = (
        W.partitionBy("event_type")
        .orderBy(F.asc("hr"))
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    hr_if_obs = F.when(F.col("v").isNotNull(), F.col("hr"))
    n = j.select(
        "event_type",
        "hr",
        "v",
        F.last("v", ignorenulls=True).over(w_prev).alias("pv"),
        F.last(hr_if_obs, ignorenulls=True).over(w_prev).alias("ph"),
        F.first("v", ignorenulls=True).over(w_next).alias("nv"),
        F.first(hr_if_obs, ignorenulls=True).over(w_next).alias("nh"),
    )
    fv = F.when(F.col("v").isNotNull(), F.col("v")).otherwise(
        F.col("pv")
        + (F.col("nv") - F.col("pv"))
        * (F.col("hr") - F.col("ph"))
        / (F.col("nh") - F.col("ph"))
    )
    filled = n.select(
        "event_type",
        fv.alias("fv"),
        F.when(F.col("v").isNull(), 1).otherwise(0).alias("interp"),
    )
    return (
        filled.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_hours"),
            F.sum("interp").cast("long").alias("n_interpolated"),
            (F.round(F.sum("fv") * 1000.0) / 1000.0).alias("filled_sum"),
            (F.round(F.avg("fv") * 1000000.0) / 1000000.0).alias("filled_avg"),
        )
        .orderBy("event_type")
    )


@q(
    "daily_new_returning_users",
    """
    WITH e AS (
      SELECT user_id,
             CAST(epoch_ns(ts) // 1000 // 86400000000 AS BIGINT) AS day
      FROM events
    ),
    first_day AS (SELECT user_id, min(day) AS fd FROM e GROUP BY user_id),
    active AS (SELECT DISTINCT user_id, day FROM e),
    daily AS (
      SELECT a.day,
             CAST(count(*) AS BIGINT) AS n_active,
             CAST(sum(CASE WHEN f.fd = a.day THEN 1 ELSE 0 END) AS BIGINT)
               AS n_new
      FROM active a JOIN first_day f ON f.user_id = a.user_id
      GROUP BY a.day
    )
    SELECT day, n_active, n_new,
           n_active - n_new AS n_returning,
           CAST(sum(n_new) OVER (ORDER BY day ASC
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cumulative_users
    FROM daily ORDER BY day
    """,
)
def daily_new_returning_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily audience composition: active users split into new (first
    ever activity that day) vs returning, plus the cumulative
    audience curve (running sum of new) — the first product metric
    any events pipeline ships, and the acquisition-side complement
    of `user_weekly_retention`. NO per-user join anywhere: new-user
    counts come from aggregating the first-day table BY DAY and
    joining day-grain to day-grain (two calendar-bounded frames — a
    per-user label join, broadcast or not, would move corpus-scale
    rows for a |days|-sized answer); the cumulative window runs over
    the |days|-bounded daily frame, never the fact table. All
    integers — exact in both engines."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("us")
    ).select(
        "user_id",
        ((F.col("us") - F.col("us") % 86400000000) / 86400000000)
        .cast("long")
        .alias("day"),
    )
    first_day = ev.groupBy("user_id").agg(F.min("day").alias("fd"))
    active = ev.distinct()
    daily_active = active.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("n_active")
    )
    new_by_day = first_day.groupBy(F.col("fd").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("n_new")
    )
    daily = daily_active.join(F.broadcast(new_by_day), "day", "left").select(
        "day",
        "n_active",
        F.coalesce("n_new", F.lit(0)).cast("long").alias("n_new"),
    )
    wcum = W.orderBy(F.asc("day")).rowsBetween(W.unboundedPreceding, W.currentRow)
    return daily.select(
        "day",
        "n_active",
        "n_new",
        (F.col("n_active") - F.col("n_new")).alias("n_returning"),
        F.sum("n_new").over(wcum).cast("long").alias("cumulative_users"),
    ).orderBy("day")


@q(
    "user_cohort_ltv_curve",
    """
    WITH e AS (
      SELECT user_id, event_type, value,
             CAST(epoch_ns(ts) // 1000 // 86400000000 // 7 AS BIGINT) AS wk
      FROM events
    ),
    cohort AS (SELECT user_id, min(wk) AS cw FROM e GROUP BY user_id),
    csize AS (SELECT cw, CAST(count(*) AS BIGINT) AS n_users FROM cohort GROUP BY cw),
    mx AS (SELECT max(wk) AS mw FROM e),
    wrev AS (
      SELECT c.cw, e.wk - c.cw AS age, sum(e.value) AS rev
      FROM e JOIN cohort c ON c.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.value IS NOT NULL
      GROUP BY c.cw, e.wk - c.cw
    ),
    spine AS (
      SELECT cs.cw, unnest(range(0, mx.mw - cs.cw + 1)) AS age
      FROM csize cs, mx
    ),
    filled AS (
      SELECT s.cw, s.age, coalesce(w.rev, 0.0) AS rev
      FROM spine s LEFT JOIN wrev w ON w.cw = s.cw AND w.age = s.age
    )
    SELECT f.cw AS cohort_week, f.age, cs.n_users,
           round(sum(f.rev) OVER (PARTITION BY f.cw ORDER BY f.age ASC
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                           AND CURRENT ROW)
                 * 1000.0) / 1000.0 AS cum_revenue,
           round(sum(f.rev) OVER (PARTITION BY f.cw ORDER BY f.age ASC
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                           AND CURRENT ROW)
                 / cs.n_users * 1000000.0) / 1000000.0 AS ltv_per_user
    FROM filled f JOIN csize cs ON cs.cw = f.cw
    ORDER BY cohort_week, age
    """,
)
def user_cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort LTV curve: users grouped by their first-activity
    week, purchase revenue accumulated per cohort over cohort AGE —
    the money-side sibling of `user_weekly_retention` (retention
    counts who comes back; LTV measures what they're worth), and the
    curve unit-economics payback math reads from. Zero-revenue ages
    are spine-filled (in-row `sequence` per cohort up to the corpus
    horizon) so the cumulative window steps through every age in both
    engines. Shape: one per-user cohort aggregate broadcast back onto
    the fact (user-key shuffle), revenue collapses to the
    |cohorts|×|ages| frame, and the running sums are windows over
    that tiny frame."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        "value",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    day = (F.col("us") - F.col("us") % 86400000000) / 86400000000
    e = ev.select(
        "user_id",
        "event_type",
        "value",
        ((day - day % 7) / 7).cast("long").alias("wk"),
    )
    cohort = e.groupBy("user_id").agg(F.min("wk").alias("cw"))
    csize = cohort.groupBy("cw").agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    mx = e.agg(F.max("wk").alias("mw"))
    wrev = (
        e.where((F.col("event_type") == "purchase") & F.col("value").isNotNull())
        # user-keyed equi-join, NOT broadcast-hinted: the cohort table
        # is per-user (corpus-scale at 100 TB) — let AQE pick the
        # strategy at actual sizes.
        .join(cohort, "user_id")
        .groupBy("cw", (F.col("wk") - F.col("cw")).alias("age"))
        .agg(F.sum("value").alias("rev"))
    )
    spine = (
        csize.crossJoin(F.broadcast(mx))
        .select(
            "cw",
            F.explode(
                F.sequence(F.lit(0), F.col("mw") - F.col("cw"))
            ).alias("age"),
        )
    )
    filled = spine.join(wrev, ["cw", "age"], "left").select(
        "cw", "age", F.coalesce(F.col("rev"), F.lit(0.0)).alias("rev")
    )
    wcum = (
        W.partitionBy("cw")
        .orderBy(F.asc("age"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = F.sum("rev").over(wcum)
    return (
        filled.join(F.broadcast(csize), "cw")
        .select(
            F.col("cw").alias("cohort_week"),
            "age",
            "n_users",
            (F.round(cum * 1000.0) / 1000.0).alias("cum_revenue"),
            (F.round(cum / F.col("n_users") * 1000000.0) / 1000000.0).alias(
                "ltv_per_user"
            ),
        )
        .orderBy("cohort_week", "age")
    )


@q(
    "purchase_attribution_position",
    """
    WITH e AS (
      SELECT user_id, event_id, event_type, epoch_ns(ts) // 1000 AS us
      FROM events
    ),
    t AS (
      SELECT user_id, event_type, us,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY us ASC, event_id ASC) AS idx
      FROM e WHERE event_type <> 'purchase'
    ),
    p AS (SELECT user_id, us FROM e WHERE event_type = 'purchase'),
    joined AS (
      SELECT p.user_id, p.us AS p_us, t.event_type, t.idx,
             CAST(count(*) OVER (PARTITION BY p.user_id, p.us) AS BIGINT) AS c
      FROM p JOIN t ON t.user_id = p.user_id AND t.us < p.us
    ),
    credited AS (
      SELECT event_type,
             CASE WHEN c = 1 THEN 1.0
                  WHEN c = 2 THEN 0.5
                  WHEN idx = 1 OR idx = c THEN 0.4
                  ELSE 0.2 / (c - 2) END AS credit
      FROM joined
    )
    SELECT event_type AS channel,
           round(sum(credit) * 1000.0) / 1000.0 AS total_credit,
           CAST(count(*) AS BIGINT) AS n_credited_touches
    FROM credited GROUP BY event_type ORDER BY channel
    """,
)
def purchase_attribution_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped, 40/20/40) multi-touch attribution:
    each purchase spreads credit over ALL its prior touches — 40% to
    the first, 40% to the most recent, 20% split across the middle —
    the journey-aware sibling of `purchase_attribution_last_touch`
    (which a first-touch-heavy acquisition channel makes look
    worthless). The purchase×prior-touch join is user-local (both
    sides shuffle once on user_id; fan-out is bounded by per-user
    activity — real deployments sessionize first to cap it, exactly
    what `user_sessions` provides upstream). Touch ordinals come
    from one shared window; credits are exact rational arithmetic
    from integer positions, so per-channel sums agree across engines
    before the display round."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    t = ev.where(F.col("event_type") != "purchase").select(
        "user_id",
        "event_type",
        "us",
        F.row_number()
        .over(W.partitionBy("user_id").orderBy(F.asc("us"), F.asc("event_id")))
        .alias("idx"),
    )
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("us").alias("p_us")
    )
    joined = p.join(
        t, (t.user_id == F.col("p_user")) & (t.us < F.col("p_us"))
    ).select(
        "event_type",
        "idx",
        F.count(F.lit(1))
        .over(W.partitionBy("p_user", "p_us"))
        .cast("long")
        .alias("c"),
    )
    credit = (
        F.when(F.col("c") == 1, 1.0)
        .when(F.col("c") == 2, 0.5)
        .when((F.col("idx") == 1) | (F.col("idx") == F.col("c")), 0.4)
        .otherwise(0.2 / (F.col("c") - 2))
    )
    return (
        joined.select(F.col("event_type").alias("channel"), credit.alias("credit"))
        .groupBy("channel")
        .agg(
            (F.round(F.sum("credit") * 1000.0) / 1000.0).alias("total_credit"),
            F.count(F.lit(1)).cast("long").alias("n_credited_touches"),
        )
        .orderBy("channel")
    )


@q(
    "event_value_cusum_changepoint",
    """
    WITH daily AS (
      SELECT event_type,
             CAST(epoch_ns(ts) // 1000 // 86400000000 AS BIGINT) AS day,
             CAST(round(sum(value) * 1000.0) AS BIGINT) AS s
      FROM events WHERE value IS NOT NULL
      GROUP BY event_type, day
    ),
    seq AS (
      SELECT event_type, day, s,
             sum(s) OVER (PARTITION BY event_type ORDER BY day ASC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS prefix,
             row_number() OVER (PARTITION BY event_type ORDER BY day ASC) AS d,
             sum(s) OVER (PARTITION BY event_type) AS tot,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM daily
    ),
    cusum AS (
      SELECT event_type, day,
             n * prefix - d * tot AS numer, n,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY abs(n * prefix - d * tot) DESC,
                                         day ASC) AS rk
      FROM seq
    )
    SELECT event_type, day AS change_day,
           round(abs(numer) * 1.0 / n / 1000.0 * 1000.0) / 1000.0
             AS max_abs_cusum
    FROM cusum WHERE rk = 1 ORDER BY event_type
    """,
)
def event_value_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection: for each event type, the day
    where the cumulative deviation of daily value totals from the
    series mean peaks — the classic single-change-point locator
    (where the level shifted, complementing the PSI entry's did-it-
    shift answer). Determinism engineering: daily totals quantize to
    integer milli-units, and CUSUM_d = prefix_d − d·mean is rescaled
    by n to the EXACT integer n·prefix_d − d·total — the argmax runs
    entirely in integer arithmetic, so no floating-point
    accumulation order can move the change-point in either engine
    (floats appear only in the display column). One fact aggregate
    collapses to the |types|×|days| frame; windows run over that
    tiny frame."""
    ev = (
        _t(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select(
            "event_type",
            "value",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        )
        .withColumn(
            "day",
            ((F.col("us") - F.col("us") % 86400000000) / 86400000000).cast(
                "long"
            ),
        )
    )
    # DECIMAL(38,0) from the daily rollup on: the frame is tiny
    # (|types| x |days| — calendar-bounded), and int64 walls sit both
    # on the per-type total (tot overflows past ~9e15 value units) and
    # on the n·prefix products (past ~9.2e18/n_days) — exact decimal
    # costs nothing here and a 100x corpus never hits the ANSI throw
    # (VERDICT r8 item 3 audit; the DuckDB side already auto-widens
    # its sums to HUGEINT, so only the Spark wall existed)
    daily = ev.groupBy("event_type", "day").agg(
        F.round(F.sum("value") * 1000.0).cast("decimal(38,0)").alias("s")
    )
    wt = W.partitionBy("event_type")
    wo = wt.orderBy(F.asc("day"))
    seq = daily.select(
        "event_type",
        "day",
        F.sum("s").over(wo.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("prefix"),
        F.row_number().over(wo).alias("d"),
        F.sum("s").over(wt).alias("tot"),
        F.count(F.lit(1)).over(wt).alias("n"),
    )
    numer = F.col("n") * F.col("prefix") - F.col("d") * F.col("tot")
    cusum = seq.select(
        "event_type",
        "day",
        numer.alias("numer"),
        "n",
        F.row_number()
        .over(wt.orderBy(F.abs(numer).desc(), F.asc("day")))
        .alias("rk"),
    )
    return (
        cusum.where(F.col("rk") == 1)
        .select(
            "event_type",
            F.col("day").alias("change_day"),
            (
                F.round(
                    F.abs(F.col("numer")) * 1.0 / F.col("n") / 1000.0 * 1000.0
                )
                / 1000.0
            ).alias("max_abs_cusum"),
        )
        .orderBy("event_type")
    )


@q(
    "user_survival_km",
    """
    WITH e AS (
      SELECT user_id,
             CAST(epoch_ns(ts) // 1000 // 86400000000 AS BIGINT) AS day
      FROM events
    ),
    horizon AS (SELECT max(day) AS h FROM e),
    life AS (
      SELECT user_id, max(e.day) - min(e.day) AS t,
             CASE WHEN max(e.day) >= horizon.h - 6 THEN 0 ELSE 1 END AS event
      FROM e, horizon GROUP BY user_id, horizon.h
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM life),
    byt AS (
      SELECT t, CAST(sum(event) AS BIGINT) AS d,
             CAST(sum(1 - event) AS BIGINT) AS c
      FROM life GROUP BY t
    ),
    arr AS (
      SELECT list([CAST(t AS DOUBLE), CAST(d AS DOUBLE), CAST(c AS DOUBLE)]
                  ORDER BY t ASC) AS s
      FROM byt
    ),
    ex AS (
      SELECT n, s, unnest(generate_series(1, len(s))) AS i
      FROM arr, tot
    )
    SELECT CAST(s[i][1] AS BIGINT) AS lifetime_days,
           n - CAST(list_reduce(
                 list_prepend(0.0,
                   list_transform(s[1:i-1], x -> x[2] + x[3])),
                 (a, b) -> a + b) AS BIGINT) AS n_at_risk,
           CAST(s[i][2] AS BIGINT) AS n_deaths,
           CAST(s[i][3] AS BIGINT) AS n_censored,
           round(list_reduce(
                   list_prepend([CAST(n AS DOUBLE), 1.0], s[1:i]),
                   (acc, r) -> [acc[1] - (r[2] + r[3]),
                                CASE WHEN r[2] > 0
                                     THEN acc[2] * (acc[1] - r[2]) / acc[1]
                                     ELSE acc[2] END])[2]
                 * 1000000.0) / 1000000.0 AS survival
    FROM ex ORDER BY lifetime_days
    """,
)
def user_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve of user lifetimes (first to last
    activity day): users still active in the final week are
    right-CENSORED — they leave the risk set without counting as
    churn, which is exactly the bias-correction KM exists for (naive
    churn curves count the not-yet-churned as churned). S(t) =
    Π_{tᵢ≤t} (1 − dᵢ/n_riskᵢ). DETERMINISM: the r3 driver flagged
    the original exp(Σ ln(1−d/n)) spelling — ln/exp are libm calls
    that differ by an ulp between the JVM and DuckDB, and round-number
    risk sets land the 1e-6 display round exactly ON half-way
    boundaries (e.g. n=3200, d=1 → ×10⁶ = 999687.5). The product now
    folds IN-ROW over the t-sorted event list with a two-slot
    [n_remaining, product] array accumulator (F.aggregate ↔ DuckDB
    list_reduce, both left folds, the Holt pattern): each factor
    (n_risk−d)/n_risk is ONE correctly-rounded IEEE division of exact
    integers and each product step one correctly-rounded multiply, so
    the pre-round double is bitwise identical across engines — no
    transcendentals anywhere. Shape: one per-user aggregate (key
    shuffle), then everything runs in-row on the tiny |distinct
    lifetimes| frame; row membership and ordering are pure
    integers."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("us")
    ).select(
        "user_id",
        ((F.col("us") - F.col("us") % 86400000000) / 86400000000)
        .cast("long")
        .alias("day"),
    )
    horizon = ev.agg(F.max("day").alias("h"))
    life = (
        ev.crossJoin(F.broadcast(horizon))
        .groupBy("user_id", "h")
        .agg(F.min("day").alias("fd"), F.max("day").alias("ld"))
        .select(
            (F.col("ld") - F.col("fd")).alias("t"),
            F.when(F.col("ld") >= F.col("h") - 6, 0).otherwise(1).alias("event"),
        )
    )
    tot = life.agg(F.count(F.lit(1)).cast("long").alias("n"))
    byt = life.groupBy("t").agg(
        F.sum("event").cast("long").alias("d"),
        F.sum(1 - F.col("event")).cast("long").alias("c"),
    )
    arr = byt.agg(
        F.array_sort(F.collect_list(F.struct("t", "d", "c"))).alias("s")
    ).crossJoin(F.broadcast(tot))
    ex = arr.select("n", "s", F.posexplode("s").alias("i", "e"))
    prior = F.aggregate(
        F.slice(F.col("s"), F.lit(1), F.col("i")),
        F.lit(0).cast("long"),
        lambda a, x: a + x["d"] + x["c"],
    )
    fold = F.aggregate(
        F.slice(F.col("s"), F.lit(1), F.col("i") + 1),
        F.array(F.col("n").cast("double"), F.lit(1.0)),
        lambda acc, r: F.array(
            acc[0] - (r["d"] + r["c"]).cast("double"),
            F.when(
                r["d"] > 0,
                acc[1] * (acc[0] - r["d"].cast("double")) / acc[0],
            ).otherwise(acc[1]),
        ),
    )
    return ex.select(
        F.col("e")["t"].alias("lifetime_days"),
        (F.col("n") - prior).alias("n_at_risk"),
        F.col("e")["d"].alias("n_deaths"),
        F.col("e")["c"].alias("n_censored"),
        (F.round(fold[1] * 1000000.0) / 1000000.0).alias("survival"),
    ).orderBy("lifetime_days")


_AB_VARIANT_SQL = (
    f"CASE WHEN ({_md5_byte_sql('CAST(user_id AS VARCHAR)', 'ab:')}) % 2 = 0 "
    "THEN 'A' ELSE 'B' END"
)


@q(
    "ab_cuped_adjustment",
    f"""
    WITH tb AS (SELECT min(epoch_ns(ts) // 1000) AS tmn,
                       max(epoch_ns(ts) // 1000) AS tmx FROM events),
    u AS (
      SELECT user_id, {_AB_VARIANT_SQL} AS variant,
             round(sum(CASE WHEN epoch_ns(ts) // 1000
                                 < tb.tmn + (tb.tmx - tb.tmn) // 2
                            THEN value ELSE 0 END) * 1000000.0) / 1000000.0 AS x,
             round(sum(CASE WHEN epoch_ns(ts) // 1000
                                 >= tb.tmn + (tb.tmx - tb.tmn) // 2
                            THEN value ELSE 0 END) * 1000000.0) / 1000000.0 AS y
      FROM events, tb WHERE value IS NOT NULL
      GROUP BY user_id, tb.tmn, tb.tmx
    ),
    theta AS (
      SELECT (sum(x * y) - sum(x) * sum(y) / count(*))
             / nullif(sum(x * x) - sum(x) * sum(x) / count(*), 0.0) AS th,
             sum(x) / count(*) AS xbar
      FROM u
    )
    SELECT variant,
           CAST(count(*) AS BIGINT) AS n_users,
           round(avg(y) * 1000.0) / 1000.0 AS mean_post,
           round(avg(y - theta.th * (x - theta.xbar)) * 1000.0) / 1000.0
             AS mean_post_cuped,
           round(var_samp(y) * 1000.0) / 1000.0 AS var_post,
           round(var_samp(y - theta.th * (x - theta.xbar)) * 1000.0) / 1000.0
             AS var_post_cuped
    FROM u, theta GROUP BY variant, theta.th, theta.xbar ORDER BY variant
    """,
)
def ab_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED (Controlled-experiment Using Pre-Experiment Data): the
    post-period metric is adjusted by the pooled pre-period
    covariate, Y' = Y − θ(X − X̄) with θ = cov(X,Y)/var(X), which
    provably cuts metric variance (by the X,Y correlation²) without
    biasing the treatment contrast — the standard ship-faster trick
    on top of `ab_test_purchase_lift`'s variant split (same 'ab:'
    salted-hash assignment, so the two entries describe one
    experiment). Per-user pre/post sums quantize at 1e-6 so the
    moment sums feeding θ see identical inputs in both engines;
    everything is two aggregates over the per-user frame with the
    one-row θ broadcast back. Degenerate var(X) = 0 NULLs out via
    nullif."""
    ev = (
        _t(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select(
            "user_id",
            "value",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        )
    )
    tb = ev.agg(F.min("us").alias("tmn"), F.max("us").alias("tmx"))
    mid = F.col("tmn") + F.floor((F.col("tmx") - F.col("tmn")) / 2)
    r6 = lambda c: F.round(c * 1000000.0) / 1000000.0  # noqa: E731
    u = (
        ev.crossJoin(F.broadcast(tb))
        .groupBy("user_id")
        .agg(
            r6(
                F.sum(F.when(F.col("us") < mid, F.col("value")).otherwise(0))
            ).alias("x"),
            r6(
                F.sum(F.when(F.col("us") >= mid, F.col("value")).otherwise(0))
            ).alias("y"),
        )
        .select(
            F.when(_md5_byte0(F.col("user_id"), salt="ab:") % 2 == 0, "A")
            .otherwise("B")
            .alias("variant"),
            "x",
            "y",
        )
    )
    n = F.count(F.lit(1))
    theta = u.agg(
        (
            (F.sum(F.col("x") * F.col("y")) - F.sum("x") * F.sum("y") / n)
            / F.nullif(
                F.sum(F.col("x") * F.col("x")) - F.sum("x") * F.sum("x") / n,
                F.lit(0.0),
            )
        ).alias("th"),
        (F.sum("x") / n).alias("xbar"),
    )
    adj = F.col("y") - F.col("th") * (F.col("x") - F.col("xbar"))
    r3 = lambda c: F.round(c * 1000.0) / 1000.0  # noqa: E731
    return (
        u.crossJoin(F.broadcast(theta))
        .groupBy("variant")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            r3(F.avg("y")).alias("mean_post"),
            r3(F.avg(adj)).alias("mean_post_cuped"),
            r3(F.var_samp("y")).alias("var_post"),
            r3(F.var_samp(adj)).alias("var_post_cuped"),
        )
        .orderBy("variant")
    )


@q(
    "ab_did_estimate",
    f"""
    WITH tb AS (SELECT min(epoch_ns(ts) // 1000) AS tmn,
                       max(epoch_ns(ts) // 1000) AS tmx FROM events),
    e AS (
      SELECT {_AB_VARIANT_SQL} AS variant,
             CASE WHEN epoch_ns(ts) // 1000
                       < tb.tmn + (tb.tmx - tb.tmn) // 2
                  THEN 'pre' ELSE 'post' END AS period,
             value
      FROM events, tb WHERE value IS NOT NULL
    ),
    cells AS (
      SELECT variant, period, avg(value) AS m,
             CAST(count(*) AS BIGINT) AS n
      FROM e GROUP BY variant, period
    )
    SELECT
      CAST(sum(n) AS BIGINT) AS n_events,
      round(max(CASE WHEN variant = 'A' AND period = 'pre' THEN m END)
            * 1000.0) / 1000.0 AS mean_a_pre,
      round(max(CASE WHEN variant = 'A' AND period = 'post' THEN m END)
            * 1000.0) / 1000.0 AS mean_a_post,
      round(max(CASE WHEN variant = 'B' AND period = 'pre' THEN m END)
            * 1000.0) / 1000.0 AS mean_b_pre,
      round(max(CASE WHEN variant = 'B' AND period = 'post' THEN m END)
            * 1000.0) / 1000.0 AS mean_b_post,
      round(((max(CASE WHEN variant = 'B' AND period = 'post' THEN m END)
              - max(CASE WHEN variant = 'B' AND period = 'pre' THEN m END))
             - (max(CASE WHEN variant = 'A' AND period = 'post' THEN m END)
                - max(CASE WHEN variant = 'A' AND period = 'pre' THEN m END)))
            * 1000000.0) / 1000000.0 AS did
    FROM cells
    """,
)
def ab_did_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences over the hashed variant split and the
    time midpoint: (B_post − B_pre) − (A_post − A_pre) — the causal
    contrast that differences away both the groups' level gap and
    the shared time trend, the workhorse when treatment wasn't
    randomized per-unit (and here a placebo check for the hash
    split: a near-zero DiD is what a clean assignment should show).
    One fact aggregate to 4 cells, then a conditional pivot — the
    same shape as `returnflag_status_pivot`. Cell means are the only
    floats; display-rounded."""
    ev = (
        _t(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select(
            "user_id",
            "value",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        )
    )
    tb = ev.agg(F.min("us").alias("tmn"), F.max("us").alias("tmx"))
    mid = F.col("tmn") + F.floor((F.col("tmx") - F.col("tmn")) / 2)
    cells = (
        ev.crossJoin(F.broadcast(tb))
        .select(
            F.when(_md5_byte0(F.col("user_id"), salt="ab:") % 2 == 0, "A")
            .otherwise("B")
            .alias("variant"),
            F.when(F.col("us") < mid, "pre").otherwise("post").alias("period"),
            "value",
        )
        .groupBy("variant", "period")
        .agg(F.avg("value").alias("m"), F.count(F.lit(1)).alias("n"))
    )

    def cell(v: str, p: str):
        return F.max(
            F.when((F.col("variant") == v) & (F.col("period") == p), F.col("m"))
        )

    r3 = lambda c: F.round(c * 1000.0) / 1000.0  # noqa: E731
    did = (cell("B", "post") - cell("B", "pre")) - (
        cell("A", "post") - cell("A", "pre")
    )
    return cells.agg(
        F.sum("n").cast("long").alias("n_events"),
        r3(cell("A", "pre")).alias("mean_a_pre"),
        r3(cell("A", "post")).alias("mean_a_post"),
        r3(cell("B", "pre")).alias("mean_b_pre"),
        r3(cell("B", "post")).alias("mean_b_post"),
        (F.round(did * 1000000.0) / 1000000.0).alias("did"),
    )


@q(
    "event_rolling_median",
    """
    WITH daily AS (
      SELECT event_type,
             CAST(epoch_ns(ts) // 1000 // 86400000000 AS BIGINT) AS day,
             CAST(round(sum(value) * 1000.0) AS BIGINT) AS s
      FROM events WHERE value IS NOT NULL
      GROUP BY event_type, day
    ),
    mx AS (SELECT max(day) AS md FROM daily),
    fan AS (
      SELECT d.event_type, unnest(range(d.day, least(d.day + 6, mx.md) + 1))
               AS window_day,
             d.s
      FROM daily d, mx
    )
    SELECT event_type, window_day,
           CAST(count(*) AS BIGINT) AS n_days_in_window,
           round(quantile_cont(s, 0.5) / 1000.0 * 1000.0) / 1000.0
             AS rolling_median
    FROM fan GROUP BY event_type, window_day
    ORDER BY event_type, window_day
    """,
)
def event_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day rolling MEDIAN of daily value totals per event
    type — the robust rolling statistic a few outlier days can't
    drag (unlike `rolling_weekly_revenue`'s rolling sum). Rolling
    order statistics don't decompose into window frames the way sums
    do, so this uses the fan-out-then-aggregate decomposition from
    `rolling_distinct_users`: each day feeds the ≤7 windows it
    belongs to (in-row `sequence`/explode — linear in days×7), then
    ONE grouped exact percentile per (type, window-day). Daily
    totals quantize to integer milli-units first, so the median
    interpolation arithmetic is identical in both engines. At 100 TB
    swap the exact percentile for `percentile_approx` — the fan-out
    shape is unchanged."""
    ev = (
        _t(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select(
            "event_type",
            "value",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        )
        .withColumn(
            "day",
            ((F.col("us") - F.col("us") % 86400000000) / 86400000000).cast(
                "long"
            ),
        )
    )
    daily = ev.groupBy("event_type", "day").agg(
        F.round(F.sum("value") * 1000.0).cast("long").alias("s")
    )
    mx = daily.agg(F.max("day").alias("md"))
    fan = (
        daily.crossJoin(F.broadcast(mx))
        .select(
            "event_type",
            F.explode(
                F.sequence(F.col("day"), F.least(F.col("day") + 6, F.col("md")))
            ).alias("window_day"),
            "s",
        )
    )
    return (
        fan.groupBy("event_type", "window_day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days_in_window"),
            (
                F.round(F.percentile("s", F.lit(0.5)) / 1000.0 * 1000.0)
                / 1000.0
            ).alias("rolling_median"),
        )
        .orderBy("event_type", "window_day")
    )


@q(
    "user_burstiness_profile",
    """
    WITH e AS (
      SELECT user_id,
             CAST(epoch_ns(ts) // 1000 // 86400000000 AS BIGINT) AS day
      FROM events
    ),
    daily AS (
      SELECT user_id, day, CAST(count(*) AS BIGINT) AS c
      FROM e GROUP BY user_id, day
    ),
    u AS (
      SELECT user_id,
             max(day) - min(day) + 1 AS span,
             CAST(sum(c) AS BIGINT) AS s,
             CAST(sum(c * c) AS BIGINT) AS ss
      FROM daily GROUP BY user_id
      HAVING max(day) - min(day) + 1 >= 2
    ),
    fano AS (
      SELECT user_id,
             ((ss - s * 1.0 * s / span) / (span - 1))
             / (s * 1.0 / span) AS fano
      FROM u
    )
    SELECT CASE WHEN fano > 1.5 THEN 'bursty'
                WHEN fano < 0.5 THEN 'regular'
                ELSE 'poisson-like' END AS activity_class,
           CAST(count(*) AS BIGINT) AS n_users,
           round(avg(fano) * 1000000.0) / 1000000.0 AS avg_fano
    FROM fano GROUP BY 1 ORDER BY activity_class
    """,
)
def user_burstiness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burstiness profiling via the Fano factor (variance-to-mean of
    a user's daily event counts over their active span, zero days
    included): ≈1 is Poisson-random arrival, >1 bursty sessions,
    <1 metronome-regular — the dispersion fingerprint that separates
    bot-like regularity from human burstiness. The zero-filled
    variance needs NO spine fan-out: zeros contribute nothing to Σc
    or Σc², so span + two integer sums from the active days
    reconstruct it exactly — the moment algebra runs on exact
    integers and the class boundaries compare exact rationals, so
    membership is engine-identical (only avg_fano is a rounded float
    payload). Two key-shuffle aggregates total."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("us")
    ).select(
        "user_id",
        ((F.col("us") - F.col("us") % 86400000000) / 86400000000)
        .cast("long")
        .alias("day"),
    )
    daily = ev.groupBy("user_id", "day").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    u = (
        daily.groupBy("user_id")
        .agg(
            (F.max("day") - F.min("day") + 1).alias("span"),
            F.sum("c").cast("long").alias("s"),
            F.sum(F.col("c") * F.col("c")).cast("long").alias("ss"),
        )
        .where(F.col("span") >= 2)
    )
    fano = (
        (F.col("ss") - F.col("s") * 1.0 * F.col("s") / F.col("span"))
        / (F.col("span") - 1)
    ) / (F.col("s") * 1.0 / F.col("span"))
    cls = (
        F.when(fano > 1.5, "bursty")
        .when(fano < 0.5, "regular")
        .otherwise("poisson-like")
    )
    return (
        u.select(cls.alias("activity_class"), fano.alias("fano"))
        .groupBy("activity_class")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            (F.round(F.avg("fano") * 1000000.0) / 1000000.0).alias("avg_fano"),
        )
        .orderBy("activity_class")
    )


@q(
    "event_reach_wilson_ci",
    """
    WITH n AS (SELECT CAST(count(DISTINCT user_id) AS DOUBLE) AS n FROM events),
    k AS (
      SELECT event_type, CAST(count(DISTINCT user_id) AS DOUBLE) AS k
      FROM events GROUP BY event_type
    )
    SELECT event_type,
           CAST(k AS BIGINT) AS n_reached, CAST(n.n AS BIGINT) AS n_users,
           round(k / n.n * 1000000.0) / 1000000.0 AS reach,
           round(((k / n.n + 1.96 * 1.96 / (2.0 * n.n)
                   - 1.96 * sqrt((k / n.n) * (1.0 - k / n.n) / n.n
                                 + 1.96 * 1.96 / (4.0 * n.n * n.n)))
                  / (1.0 + 1.96 * 1.96 / n.n)) * 1000000.0) / 1000000.0
             AS wilson_lb,
           round(((k / n.n + 1.96 * 1.96 / (2.0 * n.n)
                   + 1.96 * sqrt((k / n.n) * (1.0 - k / n.n) / n.n
                                 + 1.96 * 1.96 / (4.0 * n.n * n.n)))
                  / (1.0 + 1.96 * 1.96 / n.n)) * 1000000.0) / 1000000.0
             AS wilson_ub
    FROM k, n ORDER BY event_type
    """,
)
def event_reach_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson score 95% confidence intervals for per-event-type user
    reach (share of the audience that ever fired the type) — the
    interval that stays inside [0,1] and behaves at small n or
    extreme proportions, where the naive normal (Wald) interval
    collapses; the right error bar for every reach/conversion
    readout in the experiment entries. Two distinct-count
    aggregates; the interval is one literal-constant expression over
    exact integer counts — bit-identical across engines before the
    display round."""
    ev = _t(spark, sf_dir, "events")
    n = ev.agg(F.countDistinct("user_id").cast("double").alias("n"))
    k = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("double").alias("k")
    )
    p = F.col("k") / F.col("n")
    z2 = 1.96 * 1.96
    disc = F.sqrt(
        p * (1.0 - p) / F.col("n") + z2 / (4.0 * F.col("n") * F.col("n"))
    )
    denom = 1.0 + z2 / F.col("n")
    center = p + z2 / (2.0 * F.col("n"))
    r6 = lambda c: F.round(c * 1000000.0) / 1000000.0  # noqa: E731
    return (
        k.crossJoin(F.broadcast(n))
        .select(
            "event_type",
            F.col("k").cast("long").alias("n_reached"),
            F.col("n").cast("long").alias("n_users"),
            r6(p).alias("reach"),
            r6((center - 1.96 * disc) / denom).alias("wilson_lb"),
            r6((center + 1.96 * disc) / denom).alias("wilson_ub"),
        )
        .orderBy("event_type")
    )


@q(
    "user_journey_edit_distance",
    """
    WITH e AS (
      SELECT user_id, event_id, event_type, epoch_ns(ts) // 1000 AS us
      FROM events
    ),
    seq AS (
      SELECT user_id,
             string_agg(substr(event_type, 1, 1), '' ORDER BY us ASC,
                        event_id ASC) AS full_j
      FROM e GROUP BY user_id
    ),
    j AS (
      SELECT user_id, substr(full_j, 1, 30) AS journey,
             substr(full_j, 1, 4) AS pfx
      FROM seq
    ),
    pairs AS (
      SELECT a.user_id AS id_a, b.user_id AS id_b,
             levenshtein(a.journey, b.journey) AS dist
      FROM j a JOIN j b
        ON b.pfx = a.pfx AND a.user_id < b.user_id
    )
    SELECT dist, CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(min(id_a) AS BIGINT) AS min_id_a,
           CAST(min(id_b) AS BIGINT) AS min_id_b
    FROM pairs GROUP BY dist ORDER BY dist
    """,
)
def user_journey_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-journey similarity: each user's event sequence becomes a
    string of type initials (time-ordered, event_id tie-break,
    capped at 30 steps), and blocked pairs — same 4-step journey
    prefix — score by levenshtein edit distance, the sequence
    clustering primitive behind 'users who behave alike' (string
    edit distance on journeys, vs `event_path_trigrams`' fixed-width
    n-grams). The prefix block key's cardinality GROWS with the data
    (alphabet^4 = 625 possible values here, realized count rising
    with user count — asserted in test_scale_patterns) so within-
    block pair generation stays sub-quadratic, unlike a head-char ×
    length-decile key whose ~20 fixed blocks would go O(n²) at 100×;
    the 30-char cap bounds each distance evaluation's O(len²) cost.
    Output is the exact-integer distance histogram."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.substring("event_type", 1, 1).alias("ch"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    # Cap BEFORE collecting (r6 collect_list audit): only the first 30
    # events per user ever matter (the journey truncates there), and
    # the literal rn<=30 filter rides WindowGroupLimit below the sort —
    # a hot user's multi-million-event history never materializes in
    # one aggregation buffer. Value-identical: chars 1..30 of the
    # time-ordered concat ARE the first 30 events' chars.
    w30 = W.partitionBy("user_id").orderBy(F.asc("us"), F.asc("event_id"))
    capped = ev.withColumn("_rn", F.row_number().over(w30)).where(
        F.col("_rn") <= 30
    )
    seq = capped.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("us", "event_id", "ch"))),
                lambda x: x["ch"],
            ),
            "",
        ).alias("full_j")
    )
    j = seq.select(
        "user_id",
        F.substring("full_j", 1, 30).alias("journey"),
        F.substring("full_j", 1, 4).alias("pfx"),
    )
    a = j.select(
        F.col("user_id").alias("id_a"),
        F.col("journey").alias("j_a"),
        "pfx",
    )
    b = j.select(
        F.col("user_id").alias("id_b"),
        F.col("journey").alias("j_b"),
        F.col("pfx").alias("pfx2"),
    )
    pairs = a.join(
        b,
        (F.col("pfx") == F.col("pfx2")) & (F.col("id_a") < F.col("id_b")),
    ).select(F.levenshtein(F.col("j_a"), F.col("j_b")).alias("dist"), "id_a", "id_b")
    return (
        pairs.groupBy("dist")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.min("id_a").cast("long").alias("min_id_a"),
            F.min("id_b").cast("long").alias("min_id_b"),
        )
        .orderBy("dist")
    )


@q(
    "event_value_ks_test",
    """
    WITH tb AS (SELECT min(epoch_ns(ts) // 1000) AS tmn,
                       max(epoch_ns(ts) // 1000) AS tmx FROM events),
    e AS (
      SELECT event_type, value,
             CASE WHEN epoch_ns(ts) // 1000
                       < tb.tmn + (tb.tmx - tb.tmn) // 2 THEN 1 ELSE 0 END
               AS pre
      FROM events, tb WHERE value IS NOT NULL
    ),
    byval AS (
      SELECT event_type, value,
             CAST(sum(pre) AS BIGINT) AS c1,
             CAST(sum(1 - pre) AS BIGINT) AS c2
      FROM e GROUP BY event_type, value
    ),
    cum AS (
      SELECT event_type, value,
             sum(c1) OVER w AS cum1, sum(c2) OVER w AS cum2,
             sum(c1) OVER (PARTITION BY event_type) AS n1,
             sum(c2) OVER (PARTITION BY event_type) AS n2
      FROM byval
      WINDOW w AS (PARTITION BY event_type ORDER BY value ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    ranked AS (
      SELECT cum.*,
             abs(cum1 * n2 - cum2 * n1) AS dnum,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY abs(cum1 * n2 - cum2 * n1) DESC,
                                         value ASC) AS rk
      FROM cum
    )
    SELECT event_type,
           CAST(n1 AS BIGINT) AS n_pre, CAST(n2 AS BIGINT) AS n_post,
           round(dnum * 1.0 / (n1 * n2) * 1000000.0) / 1000000.0 AS ks_stat,
           round(value * 1000000.0) / 1000000.0 AS at_value
    FROM ranked WHERE rk = 1 ORDER BY event_type
    """,
)
def event_value_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic per event type: the
    maximum gap between the early-half and late-half empirical CDFs
    of `value` — the UNBINNED drift test next to `event_value_psi`
    (PSI needs bin choices; KS compares the full distributions and
    also reports WHERE they diverge most). Determinism engineering
    as in the CUSUM entry: the ECDF gap rescales to the exact
    integer |cum1·n2 − cum2·n1|, so the argmax (and its tie-break on
    the value) runs entirely in integer arithmetic — floats appear
    only in the display columns. One fact aggregate collapses to the
    per-distinct-value frame. Scale shape (r6 low-cardinality-window
    audit): `value` is continuous, so the per-distinct-value frame
    grows WITH the corpus while `event_type` has a handful of values —
    the former per-type cumulative/total/argmax windows each funneled
    a corpus-sized slice through one task. Now: cumulative counts ride
    `ordered_prefix` (range-bucketed two-level prefix sums restarted
    per type), the per-type totals are a ≤|types|-row broadcast, and
    the argmax is a min-struct aggregate — no per-type single-task
    pass anywhere. At 100 TB exact per-value ECDFs give way to
    quantile-sketch CDFs; the gap algebra is unchanged."""
    from ..operators.ranking import ordered_prefix
    ev = (
        _t(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select(
            "event_type",
            "value",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        )
    )
    tb = ev.agg(F.min("us").alias("tmn"), F.max("us").alias("tmx"))
    mid = F.col("tmn") + F.floor((F.col("tmx") - F.col("tmn")) / 2)
    byval = (
        ev.crossJoin(F.broadcast(tb))
        .select(
            "event_type",
            "value",
            F.when(F.col("us") < mid, 1).otherwise(0).alias("pre"),
        )
        .groupBy("event_type", "value")
        .agg(
            F.sum("pre").cast("long").alias("c1"),
            F.sum(1 - F.col("pre")).cast("long").alias("c2"),
        )
    )
    pre = ordered_prefix(
        byval,
        "value",
        rank_col=None,
        sums={"_b1": "c1", "_b2": "c2"},
        buckets=32,
        partition_by=["event_type"],
    )
    totals = byval.groupBy("event_type").agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum("c2").cast("long").alias("n2"),
    )
    cum = pre.select(
        "event_type",
        "value",
        (F.col("_b1") + F.col("c1")).alias("cum1"),
        (F.col("_b2") + F.col("c2")).alias("cum2"),
    ).join(F.broadcast(totals), "event_type")
    # DECIMAL(38,0) products: cum·n reaches n1·n2 <= (N/2)² per type,
    # which blows int64 past ~6e9 events per type — real at 100 TB.
    # The multiply runs on the COLLAPSED per-distinct-value frame
    # (post-shuffle, 2 ops per row), so exact decimal is free; the
    # DuckDB oracle's window sums are already HUGEINT (VERDICT r8
    # item 3 audit). The prefix/total COUNTS stay long — they are
    # bounded by events-per-type (< 9.2e18 at any reachable scale).
    dnum = F.abs(
        F.col("cum1").cast("decimal(38,0)") * F.col("n2")
        - F.col("cum2").cast("decimal(38,0)") * F.col("n1")
    )
    # argmax by (dnum DESC, value ASC) == min-struct over (-dnum,
    # value): dnum is an exact DECIMAL(38,0) integer (r9 width
    # escalation), so the negation and the lexicographic struct order
    # are exact.
    ranked = (
        cum.select(
            "event_type",
            "n1",
            "n2",
            F.struct(
                (-dnum).alias("_nd"), F.col("value").alias("value")
            ).alias("_kv"),
        )
        .groupBy("event_type", "n1", "n2")
        .agg(F.min("_kv").alias("_best"))
        .select(
            "event_type",
            "n1",
            "n2",
            (-F.col("_best._nd")).alias("dnum"),
            F.col("_best.value").alias("value"),
        )
    )
    return (
        ranked
        .select(
            "event_type",
            F.col("n1").cast("long").alias("n_pre"),
            F.col("n2").cast("long").alias("n_post"),
            (
                # n1*n2 in DECIMAL too (code-review r9): a long*long
                # product here would re-open the exact int64 wall the
                # dnum escalation removed. Exact product -> one
                # double conversion, same as DuckDB's HUGEINT path.
                F.round(
                    F.col("dnum") * 1.0
                    / (F.col("n1").cast("decimal(38,0)") * F.col("n2"))
                    * 1000000.0
                )
                / 1000000.0
            ).alias("ks_stat"),
            (F.round(F.col("value") * 1000000.0) / 1000000.0).alias("at_value"),
        )
        .orderBy("event_type")
    )


@q(
    "event_daily_acf",
    """
    WITH daily AS (
      SELECT event_type,
             CAST(epoch_ns(ts) // 1000 // 86400000000 AS BIGINT) AS day,
             CAST(round(sum(value) * 1000.0) AS BIGINT) AS s
      FROM events WHERE value IS NOT NULL
      GROUP BY event_type, day
    ),
    lags AS (SELECT unnest(range(1, 8)) AS lag),
    pairs AS (
      SELECT a.event_type, l.lag, a.s AS x, b.s AS y
      FROM daily a
      CROSS JOIN lags l
      JOIN daily b ON b.event_type = a.event_type AND b.day = a.day - l.lag
    ),
    m AS (
      SELECT event_type, lag,
             CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
             CAST(sum(x * x) AS DOUBLE) AS sxx,
             CAST(sum(y * y) AS DOUBLE) AS syy,
             CAST(sum(x * y) AS DOUBLE) AS sxy
      FROM pairs GROUP BY event_type, lag
    )
    SELECT event_type, CAST(lag AS BIGINT) AS lag,
           CAST(n AS BIGINT) AS n_pairs,
           round((n * sxy - sx * sy)
                 / nullif(sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 0.0)
                 * 1000000.0) / 1000000.0 AS acf
    FROM m ORDER BY event_type, lag
    """,
)
def event_daily_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of the daily value series at lags
    1..7, per event type — the diagnostic that reveals AR structure
    and weekly seasonality (a lag-7 spike confirms what the
    seasonal-naive backtest exploits; near-zero ACF says the series
    is noise and forecasting is hopeless). Lagged pairs come from a
    DAY-OFFSET self-join (robust to calendar gaps, unlike row-offset
    lag) after the 7-way in-row lag fan-out; daily totals quantize
    to integer milli-units so every moment sum is exact and the
    Pearson-per-lag expression is bit-identical across engines
    before the display round. All joins and windows run on the
    |types|×|days| frame — the fact table is scanned once. Zero-
    variance lags NULL out via nullif instead of throwing."""
    ev = (
        _t(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select(
            "event_type",
            "value",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        )
        .withColumn(
            "day",
            ((F.col("us") - F.col("us") % 86400000000) / 86400000000).cast(
                "long"
            ),
        )
    )
    daily = ev.groupBy("event_type", "day").agg(
        F.round(F.sum("value") * 1000.0).cast("long").alias("s")
    )
    lag_fan = daily.select(
        "event_type",
        "day",
        F.col("s").alias("x"),
        F.explode(F.sequence(F.lit(1), F.lit(7))).alias("lag"),
    )
    b = daily.select(
        "event_type", F.col("day").alias("bday"), F.col("s").alias("y")
    )
    pairs = lag_fan.join(
        b,
        (lag_fan.event_type == b.event_type)
        & (F.col("bday") == F.col("day") - F.col("lag")),
    ).select(lag_fan.event_type.alias("event_type"), "lag", "x", "y")
    m = pairs.groupBy("event_type", "lag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
    )
    acf = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / F.nullif(
        F.sqrt(
            (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
            * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
        ),
        F.lit(0.0),
    )
    return m.select(
        "event_type",
        F.col("lag").cast("long").alias("lag"),
        F.col("n").cast("long").alias("n_pairs"),
        (F.round(acf * 1000000.0) / 1000000.0).alias("acf"),
    ).orderBy("event_type", "lag")


@q(
    "ab_ratio_metric_delta",
    f"""
    WITH u AS (
      SELECT user_id, {_AB_VARIANT_SQL} AS variant,
             CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                  AS DOUBLE) AS x,
             round(sum(CASE WHEN event_type = 'purchase' THEN value
                            ELSE 0 END) * 1000000.0) / 1000000.0 AS y
      FROM events GROUP BY user_id
    ),
    m AS (
      SELECT variant, CAST(count(*) AS DOUBLE) AS n,
             sum(x) AS sx, sum(y) AS sy,
             sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
      FROM u GROUP BY variant
    )
    SELECT variant, CAST(n AS BIGINT) AS n_users,
           round(sy / nullif(sx, 0.0) * 1000000.0) / 1000000.0
             AS revenue_per_click,
           round(sqrt(((syy - sy * sy / n)
                       - 2.0 * (sy / nullif(sx, 0.0)) * (sxy - sx * sy / n)
                       + (sy / nullif(sx, 0.0)) * (sy / nullif(sx, 0.0))
                         * (sxx - sx * sx / n))
                      / (n - 1.0))
                 / (sx / n) / sqrt(n) * 1000000.0) / 1000000.0 AS delta_se
    FROM m ORDER BY variant
    """,
)
def ab_ratio_metric_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-method inference for a ratio metric — revenue per click,
    per A/B variant (same 'ab:' hash assignment as the other
    experiment entries): the metric is ΣY/ΣX across users, NOT a
    mean of per-user values, so its standard error needs the delta
    method, SE(R) = √(S_yy − 2R·S_yx + R²·S_xx) / (x̄·√n) with S the
    per-user sample (co)variances — the correction every
    experimentation platform applies to ratio metrics (a naive
    per-user-mean SE is biased whenever X varies). Per-user X is an
    exact count and Y quantizes at 1e-6, so the one grouped moment
    aggregate per variant feeds bit-identical sums to the closed
    expression; zero-click arms NULL out via nullif."""
    ev = _t(spark, sf_dir, "events")
    u = (
        ev.groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
            .cast("double")
            .alias("x"),
            (
                F.round(
                    F.sum(
                        F.when(
                            F.col("event_type") == "purchase", F.col("value")
                        ).otherwise(0)
                    )
                    * 1000000.0
                )
                / 1000000.0
            ).alias("y"),
        )
        .select(
            F.when(_md5_byte0(F.col("user_id"), salt="ab:") % 2 == 0, "A")
            .otherwise("B")
            .alias("variant"),
            "x",
            "y",
        )
    )
    m = u.groupBy("variant").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    r = F.col("sy") / F.nullif(F.col("sx"), F.lit(0.0))
    se = (
        F.sqrt(
            (
                (F.col("syy") - F.col("sy") * F.col("sy") / F.col("n"))
                - 2.0 * r * (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n"))
                + r * r * (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))
            )
            / (F.col("n") - 1.0)
        )
        / (F.col("sx") / F.col("n"))
        / F.sqrt(F.col("n"))
    )
    return m.select(
        "variant",
        F.col("n").cast("long").alias("n_users"),
        (F.round(r * 1000000.0) / 1000000.0).alias("revenue_per_click"),
        (F.round(se * 1000000.0) / 1000000.0).alias("delta_se"),
    ).orderBy("variant")


@q(
    "ab_srm_check",
    f"""
    WITH u AS (
      SELECT DISTINCT user_id, {_AB_VARIANT_SQL} AS variant
      FROM events
    ),
    s AS (
      SELECT CAST(sum(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS DOUBLE) AS na,
             CAST(sum(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS DOUBLE) AS nb
      FROM u
    )
    SELECT CAST(na AS BIGINT) AS users_a,
           CAST(nb AS BIGINT) AS users_b,
           round(((na - nb) * (na - nb) / (na + nb)) * 1000000.0) / 1000000.0
             AS chi2,
           CAST(CASE WHEN (na - nb) * (na - nb) / (na + nb) > 3.841
                THEN 1 ELSE 0 END AS BIGINT) AS srm_flag
    FROM s
    """,
)
def ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch guardrail: chi-square (1 df) of the
    realized A/B user split against the designed 50/50 — the health
    check that must pass BEFORE `ab_test_purchase_lift`'s z means
    anything (assignment bugs show up as SRM long before they show up
    as fake lift; 3.841 = χ²₁ at α=0.05). Same 'ab:'-salted
    assignment as the readout entries, so this audits exactly the
    split they use. One distinct-user aggregate → a single row; the
    statistic is one fp expression over exact integer counts
    (membership decided on integers — the flag can't flake)."""
    ev = _t(spark, sf_dir, "events")
    u = ev.select(
        "user_id",
        F.when(_md5_byte0(F.col("user_id"), salt="ab:") % 2 == 0, "A")
        .otherwise("B")
        .alias("variant"),
    ).distinct()
    s = u.agg(
        F.sum(F.when(F.col("variant") == "A", 1).otherwise(0))
        .cast("double")
        .alias("na"),
        F.sum(F.when(F.col("variant") == "B", 1).otherwise(0))
        .cast("double")
        .alias("nb"),
    )
    chi2 = (F.col("na") - F.col("nb")) * (F.col("na") - F.col("nb")) / (
        F.col("na") + F.col("nb")
    )
    return s.select(
        F.col("na").cast("long").alias("users_a"),
        F.col("nb").cast("long").alias("users_b"),
        (F.round(chi2 * 1000000.0) / 1000000.0).alias("chi2"),
        F.when(chi2 > 3.841, 1).otherwise(0).cast("long").alias("srm_flag"),
    )


@q(
    "audience_overlap_matrix",
    """
    WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
    sizes AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM ut GROUP BY event_type
    ),
    inter AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(count(*) AS BIGINT) AS n_both
      FROM ut a JOIN ut b
        ON b.user_id = a.user_id AND a.event_type < b.event_type
      GROUP BY a.event_type, b.event_type
    )
    SELECT i.type_a, i.type_b, sa.n AS n_a, sb.n AS n_b, i.n_both,
           round((i.n_both * 10000.0 / (sa.n + sb.n - i.n_both))) / 10000.0
             AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.event_type = i.type_a
    JOIN sizes sb ON sb.event_type = i.type_b
    ORDER BY type_a, type_b
    """,
)
def audience_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise audience overlap: for every event-type pair, the exact
    user-set intersection and Jaccard — the 'do these segments reach
    the same people' readout behind budget dedup and exposure
    planning. Scale shape: ONE distinct over (user, type) — the only
    fact-sized shuffle — then a user-key self-join whose fan-out per
    user is bounded by the type vocabulary (≤ |types| per user, so
    pairs ≤ n·|types|²/2, linear in users); sizes are a marginal of
    the same distinct frame, broadcast back onto the |types|²-bounded
    intersection counts. Jaccard uses scale-then-divide over exact
    integer counts."""
    ev = _t(spark, sf_dir, "events")
    ut = ev.select("user_id", "event_type").distinct()
    sizes = ut.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    a = ut.select("user_id", F.col("event_type").alias("type_a"))
    b = ut.select(
        F.col("user_id").alias("uid2"), F.col("event_type").alias("type_b")
    )
    inter = (
        a.join(
            b,
            (F.col("user_id") == F.col("uid2"))
            & (F.col("type_a") < F.col("type_b")),
        )
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_both"))
    )
    sa = sizes.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b"))
    return (
        inter.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            "n_both",
            (
                F.round(
                    F.col("n_both")
                    * 10000.0
                    / (F.col("n_a") + F.col("n_b") - F.col("n_both"))
                )
                / 10000.0
            ).alias("jaccard"),
        )
        .orderBy("type_a", "type_b")
    )


# ---------------------------------------------------------------------------
# Holt linear smoothing
# ---------------------------------------------------------------------------

_HOLT_A = 0.5  # level smoothing
_HOLT_B = 0.3  # trend smoothing
# The trend update b' = β(l'−l) + (1−β)b collapses algebraically to
# b' = αβ(x−l) + (1−αβ)b, which references each accumulator slot ONCE
# and shares no subexpression with the level update. That form is
# load-bearing: DuckDB 1.0's list_reduce evaluates struct_pack
# accumulator fields SEQUENTIALLY (a later field's acc.l reads the
# field just computed — verified by probe), so the textbook spelling
# silently folds with a corrupted state. A LIST accumulator has no
# such field ordering; both engines fold [l, b] below.
_HOLT_AB = _HOLT_A * _HOLT_B
_HOLT_AB1 = 1 - _HOLT_AB


@q(
    "user_value_holt_forecast",
    f"""
    WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             round(avg(value) * 1000000.0) / 1000000.0 AS v
      FROM events WHERE value IS NOT NULL
      GROUP BY user_id, CAST(ts AS DATE)
    ),
    arr AS (
      SELECT user_id, array_agg(v ORDER BY day ASC) AS vals
      FROM daily GROUP BY user_id HAVING count(*) >= 2
    ),
    fitted AS (
      SELECT user_id, CAST(len(vals) AS BIGINT) AS n_days,
             list_reduce(
               list_prepend(
                 [vals[2], vals[2] - vals[1]],
                 list_transform(vals[3:], x -> [x, 0.0])),
               (acc, e) -> [
                 {_HOLT_A} * e[1] + {1 - _HOLT_A} * (acc[1] + acc[2]),
                 {_HOLT_AB} * (e[1] - acc[1]) + {_HOLT_AB1} * acc[2]
               ]) AS st
      FROM arr
    )
    SELECT user_id, n_days,
           round(st[1] * 10000.0) / 10000.0 AS level,
           round(st[2] * 10000.0) / 10000.0 AS trend,
           round((st[1] + st[2]) * 10000.0) / 10000.0 AS forecast_1,
           round((st[1] + 3 * st[2]) * 10000.0) / 10000.0 AS forecast_3
    FROM fitted ORDER BY user_id
    """,
)
def user_value_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing (level + trend) of each
    user's daily mean value, with 1- and 3-day-ahead forecasts —
    the trend-aware upgrade of `user_value_ewma` and the simplest
    forecaster worth shipping for per-entity metrics. Same in-row
    determinism engineering as the EWMA entry: one shuffle assembles
    the day-sorted array, then the recursion l_t = α·x_t+(1−α)(l+b),
    b_t = β(l_t−l)+(1−β)b runs as an ordered LEFT FOLD over a
    two-slot [level, trend] ARRAY accumulator (F.aggregate ↔ DuckDB
    list_reduce — the vector state is what separates this from a
    scalar fold), initialized the textbook way (l₂=x₂, b₂=x₂−x₁ —
    anchored at the SECOND point so the first fold step consumes x₃
    with an in-sync state; a property test proves the recursion then
    tracks an exactly-linear series exactly. Users need ≥2 days).
    Daily means are 1e-6-quantized first so fold
    inputs are identical constants across engines, and the fp op
    sequence inside the lambda is written identically on both sides
    using the algebraic trend form b' = αβ(x−l) + (1−αβ)b — see the
    _HOLT_AB comment for why that form (and the array state) is
    load-bearing against a DuckDB struct-fold field-ordering bug.
    Per-user day arrays are calendar-bounded, so the in-row state is
    O(days) at any corpus scale."""
    ev = (
        _t(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select("user_id", F.to_date("ts").alias("day"), "value")
    )
    daily = ev.groupBy("user_id", "day").agg(
        (F.round(F.avg("value") * 1000000.0) / 1000000.0).alias("v")
    )
    arr = (
        daily.groupBy("user_id")
        .agg(F.array_sort(F.collect_list(F.struct("day", "v"))).alias("s"))
        .where(F.size("s") >= 2)
    )
    vals = F.transform(F.col("s"), lambda x: x["v"])
    n = F.size(vals)
    init = F.array(
        F.element_at(vals, 2),
        F.element_at(vals, 2) - F.element_at(vals, 1),
    )
    st = F.aggregate(
        F.slice(vals, 3, F.greatest(n - 2, F.lit(0))),
        init,
        lambda acc, x: F.array(
            F.lit(_HOLT_A) * x
            + F.lit(1 - _HOLT_A) * (F.element_at(acc, 1) + F.element_at(acc, 2)),
            F.lit(_HOLT_AB) * (x - F.element_at(acc, 1))
            + F.lit(_HOLT_AB1) * F.element_at(acc, 2),
        ),
    )
    fitted = arr.select(
        "user_id", n.cast("long").alias("n_days"), st.alias("st")
    )
    lvl, trd = F.element_at("st", 1), F.element_at("st", 2)
    return fitted.select(
        "user_id",
        "n_days",
        (F.round(lvl * 10000.0) / 10000.0).alias("level"),
        (F.round(trd * 10000.0) / 10000.0).alias("trend"),
        (F.round((lvl + trd) * 10000.0) / 10000.0).alias("forecast_1"),
        (F.round((lvl + 3 * trd) * 10000.0) / 10000.0).alias("forecast_3"),
    ).orderBy("user_id")


# --- Deterministic reservoir sample ------------------------------------------

_RSV_K = 5


@q(
    "events_reservoir_sample",
    f"""
    WITH h AS (
      SELECT event_type, event_id,
             {_md5_uint48_sql("CAST(event_id AS VARCHAR)", "rsv:")} AS h
      FROM events
    ),
    r AS (
      SELECT event_type, event_id, h,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY h ASC, event_id ASC) AS rank
      FROM h
    )
    SELECT event_type, CAST(rank AS BIGINT) AS rank,
           CAST(event_id AS BIGINT) AS event_id
    FROM r WHERE rank <= {_RSV_K}
    ORDER BY event_type, rank
    """,
)
def events_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-per-group 'reservoir' sample: the k events
    whose salted-md5 hashes are the k SMALLEST per event type — the
    order-statistic spelling of uniform-without-replacement sampling
    that stays reproducible across runs, task retries, partitionings,
    and engines (rand() reservoirs lose all four; salt 'rsv:' keeps it
    independent of the split/strat/ws samplers per the house salting
    rule). Rides ``sketch.k_smallest``'s salted two-level rank, so no
    event type's full history ever sorts in one task; the event_id
    tie-break pins the (astronomically unlikely) 48-bit collision.
    The retained set is a valid KMV sketch of the same salt — one scan
    can serve both sampling and cardinality estimation. Relationship
    to `doc_source_capped_sample` (ext): same deterministic-lottery
    idea, but this one survives a single corpus-sized group (two-level
    rank vs one partitioned window) and RETURNS the sampled rows
    rather than a checksum."""
    from ..operators.sketch import k_smallest, kmv_hash

    ev = _t(spark, sf_dir, "events")
    hashed = ev.select(
        "event_type",
        "event_id",
        kmv_hash(F.col("event_id"), "rsv:").alias("h"),
    )
    small = k_smallest(
        hashed, _RSV_K, ("event_type",), tiebreak=("event_id",)
    )
    wr = W.partitionBy("event_type").orderBy(F.asc("h"), F.asc("event_id"))
    return (
        small.withColumn("rank", F.row_number().over(wr).cast("long"))
        .select("event_type", "rank", F.col("event_id").cast("long"))
        .orderBy("event_type", "rank")
    )


# --- Temporal split with embargo ----------------------------------------------

_EMB_TRAIN_END = 1705708800  # 2024-01-20 00:00:00 UTC
_EMB_TEST_START = 1705881600  # 2024-01-22 00:00:00 UTC (2-day embargo)


@q(
    "events_embargo_split",
    f"""
    WITH e AS (
      SELECT user_id,
             CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS sec
      FROM events
    ),
    lab AS (
      SELECT user_id,
             CASE WHEN sec < {_EMB_TRAIN_END} THEN 'train'
                  WHEN sec >= {_EMB_TEST_START} THEN 'test'
                  ELSE 'embargo' END AS split
      FROM e
    ),
    agg AS (
      SELECT split,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      FROM lab GROUP BY split
    ),
    leak AS (
      SELECT CAST(count(*) AS BIGINT) AS n
      FROM (
        SELECT user_id FROM lab WHERE split = 'train'
        INTERSECT
        SELECT user_id FROM lab WHERE split = 'test'
      )
    )
    SELECT a.split, a.n_events, a.n_users, leak.n AS n_overlap_users
    FROM agg a CROSS JOIN leak
    ORDER BY a.split
    """,
)
def events_embargo_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal train/test split with an EMBARGO gap (the
    finance-standard purge between fit and evaluation windows that
    stops boundary-straddling sessions leaking labels): events before
    2024-01-20 train, events from 2024-01-22 test, the 2 days between
    are embargoed. Membership is an integer epoch-second compare on
    BOTH engines (the events ts encoding varies across testdata
    regenerations — Spark reads through sources/catalog.load_table,
    the oracle through epoch_ns, both landing on the same integer
    seconds). n_overlap_users counts users active in BOTH train and
    test — the residual identity-level contamination an embargo does
    NOT remove (that's `split_leakage_audit`'s content-level job).
    Scale shape: map-only labeling, one grouped aggregate, and a
    user-key semi-intersection; nothing global."""
    ev = _t(spark, sf_dir, "events")
    lab = ev.select(
        "user_id",
        F.when(
            F.unix_timestamp("ts") < F.lit(_EMB_TRAIN_END), "train"
        )
        .when(F.unix_timestamp("ts") >= F.lit(_EMB_TEST_START), "test")
        .otherwise("embargo")
        .alias("split"),
    )
    agg = lab.groupBy("split").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )
    tr = lab.where(F.col("split") == "train").select("user_id").distinct()
    te = lab.where(F.col("split") == "test").select("user_id").distinct()
    leak = (
        tr.join(te, "user_id", "semi")
        .agg(F.count(F.lit(1)).cast("long").alias("n_overlap_users"))
    )
    return (
        agg.crossJoin(F.broadcast(leak))
        .select("split", "n_events", "n_users", "n_overlap_users")
        .orderBy("split")
    )
