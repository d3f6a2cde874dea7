"""Thirty-fifth batch: the remaining mergeable-state patterns as
hash-gated entries — an engine-portable HyperLogLog (the sketch
family's constant-memory distinct estimator, until now pytest-only via
Spark's opaque built-in ``hll_sketch_agg``), incremental JOIN-view
maintenance (the Δ-join algebra that keeps a materialized join rollup
current at the cost of the delta slices, the join-side twin of
``orders_incremental_agg_merge``), and CMS join-size estimation (the
AMS-F₂ / inner-product pre-join planning probe).

Reference scope note: the reference (``coded4alex/data_engineer_task``)
recomputes its warehouse tables from scratch per run (``task.py``
truncate-and-reload) and has no approximate operators (SURVEY §2.5);
both entries extend the engine for the 100 TB incremental-rollup
workload.

Same contract as plans/analytics.py (see its authoring rules).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.sketch import (
    _HLL_M,
    _HLL_NUM,
    _HLL_RHO_MAX,
    _HLL_SMALL,
    _HLL_W_NIBBLES,
    cms_build,
    cms_inner_product,
    hll_estimate,
    hll_sketch,
)
from .analytics import _t, q

# --- DuckDB spelling of the HLL register/rho derivation ---------------------
# Shares every constant with operators/sketch.py so the two sides are
# the SAME algorithm: first md5 byte = register, rank of the next 48
# bits from the hex string (anchored regexp strip of leading zero
# nibbles + a 4-case first-nibble table), integer register fold.
_NIB = "instr('0123456789abcdef', substr({s}, {p}, 1)) - 1"

# the register index + leading-zero-stripped rank window, as select-list
# fragments over a column named h (both HLL oracles build on these —
# ONE spelling of the subtle rank derivation, so a future fix cannot
# desynchronize the two declared oracles)
_REG_EXPR = f"({_NIB.format(s='h', p=1)}) * 16 + ({_NIB.format(s='h', p=2)})"
_T_EXPR = f"regexp_replace(substr(h, 3, {_HLL_W_NIBBLES}), '^0+', '')"
_D = _NIB.format(s="t", p=1)
_RHO_CASE = f"""CASE WHEN length(t) = 0 THEN {_HLL_RHO_MAX}
                  ELSE ({_HLL_W_NIBBLES} - length(t)) * 4
                       + CASE WHEN ({_D}) >= 8 THEN 0
                              WHEN ({_D}) >= 4 THEN 1
                              WHEN ({_D}) >= 2 THEN 2
                              ELSE 3 END + 1 END"""


def _fold_cte_sql(group: str, src: str) -> str:
    """The exact-BIGINT harmonic fold over a (group, reg, mr) source:
    SELECT body producing (group, n_registers, sum_int, v)."""
    return f"""
      SELECT {group},
             CAST(count(*) AS BIGINT) AS n_registers,
             sum(CAST(1 AS BIGINT) << ({_HLL_RHO_MAX} - mr))
               + ({_HLL_M} - count(*))
                 * (CAST(1 AS BIGINT) << {_HLL_RHO_MAX}) AS sum_int,
             {_HLL_M} - count(*) AS v
      FROM {src} GROUP BY {group}"""


def _hll_sql(expr: str, group: str, table: str, where: str) -> str:
    h = f"md5('hll:' || {expr})"
    return f"""
    hashed AS (
      SELECT {group}, {_REG_EXPR} AS reg, {_T_EXPR} AS t
      FROM (SELECT {group}, {h} AS h FROM {table} WHERE {where})
    ),
    rho AS (
      SELECT {group}, reg, {_RHO_CASE} AS rho FROM hashed
    ),
    regs AS (
      SELECT {group}, reg, max(rho) AS mr FROM rho GROUP BY {group}, reg
    ),
    folded AS ({_fold_cte_sql(group, "regs")}
    )"""


@q(
    "event_user_hll_distinct",
    f"""
    WITH {_hll_sql("CAST(user_id AS VARCHAR)", "event_type", "events",
                   "user_id IS NOT NULL")},
    ex AS (
      SELECT event_type,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
      FROM events GROUP BY event_type
    )
    SELECT f.event_type, ex.n_exact, f.n_registers,
           round((CASE WHEN {_HLL_NUM!r} / CAST(sum_int AS DOUBLE)
                            <= {_HLL_SMALL!r} AND v > 0
                       THEN {float(_HLL_M)!r}
                            * ln({float(_HLL_M)!r} / CAST(v AS DOUBLE))
                       ELSE {_HLL_NUM!r} / CAST(sum_int AS DOUBLE)
                  END) * 100.0) / 100.0 AS hll_est
    FROM folded f JOIN ex USING (event_type)
    ORDER BY event_type
    """,
)
def event_user_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event type via the engine-portable
    HyperLogLog (``operators/sketch.py::hll_sketch/hll_estimate``,
    m=256 registers), reported NEXT TO the exact count so the entry
    also pins the estimator's accuracy on real data. Cross-engine
    determinism: the register index/rank are integer-and-string md5
    derivations, the harmonic fold is an exact BIGINT sum of powers of
    two, and the raw estimate is one IEEE division — the only
    transcendental (small-range ln(m/V)) has an irrational true value
    for every reachable V, so the 1e-2 display round is boundary-safe
    (house transcendental policy).

    Scale shape: one shuffle on (type, register) with map-side partial
    max reduces ANY corpus to ≤ 256 rows per type; the exact-count
    companion shuffles distinct (type, user) — at 100 TB you drop it
    and keep the sketch, or go exact-mergeable via the bitmap entry
    (``event_user_bitmap_distinct``). Per-shard register tables persist
    and fold with ``hll_merge`` (merge ≡ one-shot, property-tested in
    tests/test_scale_patterns.py)."""
    ev = _t(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    sk = hll_sketch(ev, "user_id", group_cols=("event_type",))
    est = hll_estimate(sk, group_cols=("event_type",))
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("n_exact")
    )
    return (
        est.join(exact, "event_type")
        .select(
            "event_type",
            "n_exact",
            "n_registers",
            (F.round(F.col("hll_raw") * 100.0) / 100.0).alias("hll_est"),
        )
        .orderBy("event_type")
    )


_REV_BOUND_CACHE: dict[tuple, int] = {}


def _lineitem_revenue_bound(sf_dir: str, li: DataFrame) -> int:
    """Upper bound on Σ round(price·1e4) if EVERY lineitem row landed
    in one month-group: rows × round(max_price·1e4).

    Footer-first (ADVICE r9): parquet footers carry exact row counts
    and column min/max, so the bound costs O(files) metadata reads
    instead of a driver action scanning the fact table — and the
    result is cached on the files' (path, size, mtime) identity
    (``catalog.parquet_file_identity``, the one shared spelling of
    the walk/stat pattern — code-review r10 findings 2 and 4: a file
    vanishing mid-walk now degrades to the fallback instead of
    crashing the entry). Falls back to a 2-column Spark stats job
    when footers are unreadable or a row group lacks l_extendedprice
    stats (then cached under the same key). Python ints are
    unbounded, so the product itself cannot overflow while deciding
    whether Spark's accumulator would."""
    from ..sources.catalog import parquet_file_identity

    ident = parquet_file_identity(f"{sf_dir}/lineitem.parquet")
    files, key = ident if ident is not None else ([], None)
    if key is not None and key in _REV_BOUND_CACHE:
        return _REV_BOUND_CACHE[key]

    bound = None
    if files:
        try:
            import pyarrow.parquet as pq

            n, mx = 0, 0.0
            for f in files:
                md = pq.ParquetFile(f).metadata
                n += md.num_rows
                idx = md.schema.to_arrow_schema().get_field_index(
                    "l_extendedprice"
                )
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(idx).statistics
                    if st is None or not st.has_min_max:
                        raise ValueError("row group without price stats")
                    mx = max(mx, float(st.max))
            bound = n * int(round(mx * 10000))
        except Exception:
            bound = None
    if bound is None:
        st = li.agg(
            F.count(F.lit(1)).alias("n"), F.max("l_extendedprice").alias("mx")
        ).collect()[0]
        bound = int(st["n"]) * int(round(float(st["mx"] or 0) * 10000))
    if key is not None:
        _REV_BOUND_CACHE[key] = bound
    return bound


@q(
    "orders_incremental_join_merge",
    """
    SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
           CAST(count(*) AS BIGINT) AS n_items,
           round((sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000.0)
                           AS BIGINT)) / 10000.0) * 100.0) / 100.0
             AS revenue
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    GROUP BY 1 ORDER BY month NULLS LAST
    """,
)
def orders_incremental_join_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental JOIN-view maintenance: the monthly-revenue join view
    V = orders ⋈ lineitem is kept current under ingest of BOTH a new
    orders slice ΔO (orderdate ≥ 1997-01-01) and a new lineitem slice
    ΔL (shipdate ≥ 1997-06-01) without rejoining the old slices with
    each other. The Δ-join algebra partitions the join exactly:

      (O∪ΔO) ⋈ (L∪ΔL) = O⋈L  ∪  O⋈ΔL  ∪  ΔO⋈L  ∪  ΔO⋈ΔL

    — the first quadrant is the already-materialized view state; the
    three delta quadrants each touch at most one full slice, so a
    refresh costs |Δ| · (join fan-out), not |base|². Each quadrant
    reduces to per-month PARTIAL aggregates (count/sum — algebraic, as
    in ``orders_incremental_agg_merge``) and the partials merge. The
    oracle recomputes the full join in one pass: hash equality proves
    the quadrants are disjoint and exhaustive (a duplicated or dropped
    quadrant shifts counts and revenue).

    Float discipline (caught by the scale/layout matrix at sf0.1): the
    quadrant split changes the SUM's association order, so revenue
    rides exact 1e-4-unit BIGINTs — the true per-row product
    price·(1−disc) has ≤4 decimals (cents × 2-dp discount), so
    round(x·10⁴) is the exact integer on both engines and the merged
    sum is association-free; only the final display division is float.

    Scale shape: at 100 TB the base quadrant is never recomputed (it
    IS the stored rollup — materialized here only because the entry
    must build the view from scratch); ΔO⋈L and ΔO⋈ΔL broadcast the
    small ΔO side under AQE (no forced hint — delta size is data-
    dependent, the guarded-broadcast house rule), and O⋈ΔL shuffles
    only ΔL plus the matching keys of O."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    o_cut = F.lit("1997-01-01").cast("date")
    l_cut = F.lit("1997-06-01").cast("timestamp")

    # NULL-safe split: a NULL cut column must land in exactly one
    # slice (coalesce → 'old'), or the quadrants silently LOSE the row
    # while the oracle's predicate-free full join keeps it under a
    # NULL month (code-review r7; the driver data has no NULL dates
    # today, but 'disjoint and exhaustive' must hold by construction)
    o_old = orders.where(F.coalesce(F.col("o_orderdate") < o_cut, F.lit(True)))
    o_new = orders.where(F.col("o_orderdate") >= o_cut)
    l_old = li.where(F.coalesce(F.col("l_shipdate") < l_cut, F.lit(True)))
    l_new = li.where(F.col("l_shipdate") >= l_cut)

    # Count-guarded accumulator escalation (VERDICT r8 item 3 audit):
    # per-row 1e-4-unit products reach round(max_price·1e4) ≈ 1e9, so
    # int64 carries ~9e9 rows per month-group — marginal at 100 TB.
    # Unlike the tiny CUSUM/KS frames this sum IS the hot path (it
    # folds the whole fact scan), so decimal is gated on a measured
    # bound (conservative all-rows-in-one-month product vs 2^62). The
    # bound comes from parquet FOOTER stats — row counts + column
    # max — not a scan, and is cached per file identity, so repeated
    # invocations in one session (bench reps) pay nothing (ADVICE
    # r9); a stats-less layout falls back to the one 2-column Spark
    # stats job, overcounting nothing. The DuckDB oracle already sums
    # to HUGEINT; escalation changes only the Spark accumulator
    # width, never the value.
    rev_bound = _lineitem_revenue_bound(sf_dir, li)
    rev_t = "decimal(38,0)" if rev_bound >= (1 << 62) else "long"

    def partial(o: DataFrame, l: DataFrame) -> DataFrame:
        return (
            o.join(l, o.o_orderkey == l.l_orderkey)
            .groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("month"))
            .agg(
                F.count(F.lit(1)).alias("pn"),
                F.sum(
                    F.round(
                        F.col("l_extendedprice")
                        * (1 - F.col("l_discount"))
                        * 10000.0
                    ).cast(rev_t)
                ).alias("ps"),
            )
        )

    merged = (
        partial(o_old, l_old)       # the stored view state
        .unionByName(partial(o_old, l_new))
        .unionByName(partial(o_new, l_old))
        .unionByName(partial(o_new, l_new))
        .groupBy("month")
        .agg(
            F.sum("pn").cast("long").alias("n_items"),
            (F.round((F.sum("ps") / 10000.0) * 100.0) / 100.0).alias(
                "revenue"
            ),
        )
    )
    # explicit null ordering: the NULL-safe split above deliberately
    # ADMITS NULL o_orderdate rows (→ a NULL month group), and Spark
    # defaults NULLS FIRST asc while DuckDB defaults NULLS LAST
    # (ADVICE r7) — pin the DuckDB side too
    return merged.orderBy(F.asc_nulls_last("month"))


@q(
    "lineitem_selfjoin_size_cms",
    """
    WITH vocab AS (
      SELECT CAST(l_partkey AS VARCHAR) AS token,
             CAST(count(*) AS BIGINT) AS w
      FROM lineitem GROUP BY 1
    ),
    cells AS (
      SELECT j, (instr('0123456789abcdef',
                       substr(md5('cms:' || CAST(j AS VARCHAR) || ':' || token), 1, 1)) - 1) * 16
                + (instr('0123456789abcdef',
                         substr(md5('cms:' || CAST(j AS VARCHAR) || ':' || token), 2, 1)) - 1)
                AS bucket,
             CAST(sum(w) AS BIGINT) AS c
      FROM vocab, (SELECT unnest(range(4)) AS j)
      GROUP BY 1, 2
    ),
    ip AS (
      SELECT j, CAST(sum(c * c) AS BIGINT) AS ip FROM cells GROUP BY j
    ),
    est AS (SELECT CAST(min(ip) AS BIGINT) AS cms_est FROM ip),
    exact AS (
      SELECT CAST(sum(w) AS BIGINT) AS n_rows,
             CAST(count(*) AS BIGINT) AS n_keys,
             CAST(sum(w * w) AS BIGINT) AS selfjoin_exact
      FROM vocab
    )
    SELECT n_rows, n_keys, selfjoin_exact, cms_est,
           round((CAST(cms_est AS DOUBLE) / CAST(selfjoin_exact AS DOUBLE))
                 * 10000.0) / 10000.0 AS overest_ratio
    FROM exact CROSS JOIN est
    """,
)
def lineitem_selfjoin_size_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-size estimation WITHOUT running the join: the self-join
    size of lineitem on l_partkey (= Σ_p f(p)² — the second frequency
    moment F₂, Alon-Matias-Szegedy '96) estimated from a count-min
    sketch by the row-wise inner product min_j Σ_b c[j][b]²
    (Cormode & Muthukrishnan '05 §4.2,
    ``operators/sketch.py::cms_inner_product``), reported NEXT TO the
    exact Σ f² so the entry pins the estimator's one-sided error on
    real data (est ≥ exact always — collisions only add mass;
    property-tested in test_scale_patterns.py).

    This is the pre-join planning probe: per-shard CMS sketches are
    O(depth×256) persisted state (mergeable cell-wise,
    ``cms_merge``), so a 100 TB planner prices a candidate shuffle
    join — or detects a runaway hot-key fan-out — by folding sketches,
    never by executing the join. Every decision rides exact BIGINTs
    (counts, products, sums, min); the one float is the displayed
    ratio of two exact integers."""
    li = _t(spark, sf_dir, "lineitem")
    keyed = li.select(F.col("l_partkey").cast("string").alias("token"))
    sk = cms_build(keyed, "token")
    est = cms_inner_product(sk, sk)
    per_key = keyed.groupBy("token").agg(F.count(F.lit(1)).alias("w"))
    exact = per_key.agg(
        F.sum("w").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum(F.col("w") * F.col("w")).cast("long").alias("selfjoin_exact"),
    )
    return exact.crossJoin(F.broadcast(est)).select(
        "n_rows",
        "n_keys",
        "selfjoin_exact",
        "cms_est",
        (
            F.round(
                (
                    F.col("cms_est").cast("double")
                    / F.col("selfjoin_exact").cast("double")
                )
                * 10000.0
            )
            / 10000.0
        ).alias("overest_ratio"),
    )


@q(
    "rolling_weekly_hll_users",
    f"""
    WITH hashed AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             {_REG_EXPR} AS reg, {_T_EXPR} AS t
      FROM (SELECT ts, md5('hll:' || CAST(user_id AS VARCHAR)) AS h
            FROM events WHERE user_id IS NOT NULL)
    ),
    rho AS (
      SELECT day, reg, {_RHO_CASE} AS rho FROM hashed
    ),
    daily AS (SELECT day, reg, max(rho) AS mr FROM rho GROUP BY day, reg),
    fan AS (
      SELECT day + CAST(i AS INTEGER) AS wday, reg, mr
      FROM daily, UNNEST(range(0, 7)) AS t(i)
    ),
    merged AS (
      -- re-max per (window, register): several contributing days can
      -- hit the same register; the fold below must see ONE row each
      SELECT wday, reg, max(mr) AS mr FROM fan GROUP BY wday, reg
    ),
    folded AS ({_fold_cte_sql("wday", "merged")}
    ),
    exact AS (
      SELECT wday, CAST(count(user_id) AS BIGINT) AS n_exact
      FROM (
        SELECT DISTINCT
               CAST(date_trunc('day', ts) AS DATE) + CAST(i AS INTEGER) AS wday,
               user_id
        FROM events, UNNEST(range(0, 7)) AS t(i)
        WHERE user_id IS NOT NULL
      ) GROUP BY wday
    ),
    bounds AS (
      SELECT max(CAST(date_trunc('day', ts) AS DATE)) AS max_day FROM events
    )
    SELECT strftime(f.wday, '%Y-%m-%d') AS day, e.n_exact,
           round((CASE WHEN {_HLL_NUM!r} / CAST(sum_int AS DOUBLE)
                            <= {_HLL_SMALL!r} AND v > 0
                       THEN {float(_HLL_M)!r}
                            * ln({float(_HLL_M)!r} / CAST(v AS DOUBLE))
                       ELSE {_HLL_NUM!r} / CAST(sum_int AS DOUBLE)
                  END) * 100.0) / 100.0 AS hll_users_7d
    FROM folded f JOIN exact e ON f.wday = e.wday, bounds
    WHERE f.wday <= max_day
    ORDER BY day
    """,
)
def rolling_weekly_hll_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day distinct users per day from a per-day HLL
    SKETCH CUBE — the mergeable twin of ``rolling_distinct_users``
    (which fans every EVENT out ×7 and re-distincts). Here history is
    reduced ONCE to per-day register tables (days × 256 rows — the
    state a production rollup persists per ingest, the
    ``SketchRollup`` pipeline's layout), and each trailing window is
    answered by fanning out and re-maxing REGISTERS, not events:
    days×7×256 rows of state motion regardless of event volume. This
    is the time-bucketed sketch-cube pattern (hypertable continuous
    aggregates, Druid/Theta rollups) — windows, MAU/WAU, or any ad-hoc
    day range fold from the same cube without touching raw history.

    The exact companion (same fan-out-the-events shape as the sibling
    entry) is reported next to the estimate to pin accuracy on real
    data; at 100 TB you keep only the sketch path. Determinism: the
    register fold is max (idempotent/associative — window overlap is
    harmless), the estimate the same exact-BIGINT harmonic fold as
    ``event_user_hll_distinct``."""
    ev_all = _t(spark, sf_dir, "events")
    ev = ev_all.where(F.col("user_id").isNotNull())
    daily = hll_sketch(
        ev.withColumn("day", F.col("ts").cast("date")),
        "user_id",
        group_cols=("day",),
    )
    fan = daily.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(6)),
                lambda i: F.date_add(F.col("day"), i),
            )
        ).alias("wday"),
        "reg",
        "mr",
    )
    folded = fan.groupBy("wday", "reg").agg(F.max("mr").alias("mr"))
    est = hll_estimate(folded, group_cols=("wday",))
    exact = (
        ev.select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(6)),
                    lambda i: F.date_add(F.col("ts").cast("date"), i),
                )
            ).alias("wday"),
            "user_id",
        )
        .distinct()
        .groupBy("wday")
        .agg(F.count("user_id").cast("long").alias("n_exact"))
    )
    # bounds from the UNFILTERED events — the oracle's bounds CTE has
    # no user_id filter, and the sibling rolling_distinct_users trims
    # against the raw frame too; a trailing all-NULL-user day must not
    # shift the trim asymmetrically (code-review r7)
    bounds = ev_all.agg(F.max(F.col("ts").cast("date")).alias("max_day"))
    return (
        est.join(exact, "wday")
        .crossJoin(F.broadcast(bounds))
        .where(F.col("wday") <= F.col("max_day"))
        .select(
            F.date_format("wday", "yyyy-MM-dd").alias("day"),
            "n_exact",
            (F.round(F.col("hll_raw") * 100.0) / 100.0).alias(
                "hll_users_7d"
            ),
        )
        .orderBy("day")
    )


# Next-batch entries register on import (chained, keeps each file navigable).
from . import analytics_ext35  # noqa: E402,F401  isort:skip
