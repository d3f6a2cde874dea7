"""The engine's declared query inventory over the driver testdata.

Each entry pairs a Spark DataFrame program with an equivalent ANSI-SQL
oracle (DuckDB dialect-compatible) over the same parquet tables. The
pairs re-express every operator family from SURVEY.md §2 (reference
``coded4alex/data_engineer_task``) on the TPC-H-ish testdata, plus the
large-scale training-data operators (dedup / similarity / text
analysis) the 100 TB north star calls for.

Authoring rules (keep these or the driver's hash compare breaks):
 - alias every computed column IDENTICALLY in Spark and SQL
 - round every float aggregate (both sides) — fp summation order differs
 - ALWAYS round via scale-then-divide (round(x * 10^n) / 10^n), never
   round(x, n): the two engines' fixed-scale rounding disagrees on
   half-way values (Spark BigDecimal half-up vs DuckDB's scaled
   std::round) — bit twice (v_ma3, ABC revenue) before this rule
 - cast DuckDB COUNT/SUM of ints to BIGINT (sum(int) is HUGEINT there)
 - no raw timestamps in output — format to string or extract ints
 - explicit null ordering + deterministic tie-breaks on every sort
   (SURVEY §2.4 D3)
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..operators.normalize import explode_multivalue, surrogate_key
from ..operators.relational import anti_join, semi_join, top_k, top_k_per_group, yoy_growth
from ..sources.catalog import gated_broadcast, load_table

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}


def q(name: str, sql: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLE[name] = sql
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _t_wide(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load + spread across the session's full parallelism. The doc/
    embedding test files are single-row-group parquet (one scan
    partition), so compute-dense per-row pipelines (shingling, hashing,
    vector math) would otherwise run in ONE task — and broadcast joins
    keep that layout downstream. The repartition round-robins the
    (small) table once; at real scale the scan is already
    multi-partition and this is a no-op choice, the operators
    themselves stay partitioning-agnostic."""
    df = load_table(spark, sf_dir, name)
    return df.repartition(spark.sparkContext.defaultParallelism)


def _md5_byte_sql(expr: str, salt: str) -> str:
    """DuckDB spelling of sampling._md5_byte0(col, salt): first md5
    byte of salt + expr. Salts keep each sampling operator's membership
    independent (see operators/sampling.py)."""
    h = f"md5('{salt}' || {expr})"
    return (
        f"(instr('0123456789abcdef', substr({h}, 1, 1)) - 1) * 16 + "
        f"(instr('0123456789abcdef', substr({h}, 2, 1)) - 1)"
    )


_SPLIT_BYTE = _md5_byte_sql("CAST(doc_id AS VARCHAR)", "split:")
_STRAT_BYTE = _md5_byte_sql("CAST(doc_id AS VARCHAR)", "strat:")


# ---------------------------------------------------------------------------
# Relational core (reference parity patterns, SURVEY §2.1-§2.3)
# ---------------------------------------------------------------------------


@q(
    "pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(count(*) AS BIGINT)                                   AS n_items,
           round((sum(l_quantity)) * 100.0) / 100.0                                  AS sum_qty,
           round((sum(l_extendedprice)) * 100.0) / 100.0                             AS sum_base_price,
           round((sum(l_extendedprice * (1 - l_discount))) * 100.0) / 100.0          AS sum_disc_price,
           round((avg(l_quantity)) * 10000.0) / 10000.0                                  AS avg_qty,
           round((avg(l_discount)) * 10000.0) / 10000.0                                  AS avg_disc
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-12-01'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-shaped scan→filter→agg. The filter and the 2-column
    grouping key reach the parquet scan (PushedFilters + ReadSchema
    pruning); partial aggregation is map-side."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("2000-12-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            (F.round((F.sum("l_quantity")) * 100.0) / 100.0).alias("sum_qty"),
            (F.round((F.sum("l_extendedprice")) * 100.0) / 100.0).alias("sum_base_price"),
            (F.round((F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))) * 100.0) / 100.0).alias("sum_disc_price"),
            (F.round((F.avg("l_quantity")) * 10000.0) / 10000.0).alias("avg_qty"),
            (F.round((F.avg("l_discount")) * 10000.0) / 10000.0).alias("avg_disc"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@q(
    "revenue_by_nation",
    """
    SELECT n.n_name AS nation,
           round(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 10000.0)
                          AS BIGINT)) / 100.0) / 100.0 AS revenue,
           CAST(count(DISTINCT o.o_orderkey) AS BIGINT) AS n_orders
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey  = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    GROUP BY n.n_name
    ORDER BY revenue DESC NULLS LAST, nation
    """,
)
def revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join: fact lineitem ⋈ orders, then broadcast dims. nation/
    region are constant-size (25/5 rows at ANY scale factor) and stay
    unconditionally hinted; customer GROWS with the corpus, so its
    hint is gated on footer-measured size (``gated_broadcast``, r10
    audit) — under the cap only the lineitem⋈orders join shuffles,
    co-partitioned on orderkey; past it the customer join falls back
    to the planner instead of OOMing every executor at 100 TB.

    Revenue sums exact 1e-4-unit BIGINTs: price·(1−disc) has 4 true
    decimals, so round(x·10⁴) is the same integer on both engines and
    the sum is association-free. A double sum is not — at sf0.01 two
    nations' exact revenue sits on a half cent, and the partial-merge
    order decided which way it rounded. Dividing the unit sum by 100
    lands exactly on that half cent, which both engines round away
    from zero. The accumulator widens to decimal on the same footer
    bound as ``orders_incremental_join_merge``."""
    from .analytics_ext34 import _lineitem_revenue_bound

    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    rev_t = "decimal(38,0)" if _lineitem_revenue_bound(sf_dir, li) >= (1 << 62) else "long"
    units = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000.0)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(gated_broadcast(cust, sf_dir, "customer"), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            (F.round(F.sum(units.cast(rev_t)) / 100.0) / 100.0).alias("revenue"),
            F.countDistinct("o_orderkey").alias("n_orders"),
        )
        .orderBy(F.desc_nulls_last("revenue"), F.asc("nation"))
    )


@q(
    "orders_without_lineitems",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_orders_no_items
    FROM orders o
    WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
    """,
)
def orders_without_lineitems(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join validation count (reference Q1/Q2 pattern,
    ``queries.py:40-51``) on the testdata star."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return anti_join(
        orders, li.select(F.col("l_orderkey").alias("o_orderkey")), "o_orderkey"
    ).agg(F.count(F.lit(1)).alias("n_orders_no_items"))


@q(
    "big_spender_segments",
    """
    SELECT c.c_mktsegment AS segment, CAST(count(*) AS BIGINT) AS n_customers
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
    GROUP BY c.c_mktsegment
    ORDER BY n_customers DESC NULLS LAST, segment
    """,
)
def big_spender_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join (EXISTS) — the distributed form of the reference's
    client-side IN-list splice (``task.py:222-223``)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    big = orders.where(F.col("o_totalprice") > 300000).select(
        F.col("o_custkey").alias("c_custkey")
    )
    return (
        semi_join(cust, big, "c_custkey")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy(F.desc_nulls_last("n_customers"), F.asc("segment"))
    )


@q(
    "part_name_split",
    """
    SELECT p_partkey,
           upper(substr(split_part(p_name, ' ', 1), 1, 1))
             || lower(substr(split_part(p_name, ' ', 1), 2)) AS first_word,
           CASE WHEN strpos(p_name, ' ') > 0
                THEN substr(p_name, strpos(p_name, ' ') + 1)
                ELSE '' END AS last_word
    FROM part ORDER BY p_partkey
    """,
)
def part_name_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-space name split + initcap (reference T14/T15 nsplit UDF,
    ``task.py:55-60``) as pure native columns — no Python UDF."""
    from ..functions.names import with_name_parts

    part = _t(spark, sf_dir, "part")
    return (
        with_name_parts(part.select("p_partkey", F.col("p_name").alias("name")),
                        first_col="first_word", last_col="last_word")
        .select("p_partkey", "first_word", "last_word")
        .orderBy("p_partkey")
    )


@q(
    "part_name_vocabulary",
    """
    SELECT word, CAST(count(*) AS BIGINT) AS n_parts
    FROM (SELECT trim(unnest(string_split(p_name, ' '))) AS word FROM part)
    WHERE word IS NOT NULL AND word <> ''
    GROUP BY word
    ORDER BY n_parts DESC NULLS LAST, word
    """,
)
def part_name_vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """split → explode → trim → groupBy (reference T6/T8/T9/T10 chain,
    ``task.py:76-91``) via the generic normalizer."""
    part = _t(spark, sf_dir, "part")
    return (
        explode_multivalue(part.select("p_name"), "p_name", sep=" ", trim=True,
                           keep_null_rows=False, out_col="word")
        .where(F.col("word").isNotNull() & (F.col("word") != ""))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n_parts"))
        .orderBy(F.desc_nulls_last("n_parts"), F.asc("word"))
    )


@q(
    "brand_surrogate_keys",
    """
    SELECT CAST(row_number() OVER (ORDER BY p_brand) AS BIGINT) AS id, p_brand
    FROM (SELECT DISTINCT p_brand FROM part)
    ORDER BY id
    """,
)
def brand_surrogate_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic dense surrogate keys over a distinct dimension
    (reference T13, ``task.py:100``; ordering per SURVEY §2.4 D2)."""
    part = _t(spark, sf_dir, "part")
    return surrogate_key(
        part.select("p_brand").distinct(), order_by=["p_brand"], key_col="id"
    ).select("id", "p_brand").orderBy("id")


@q(
    "all_company_names",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT name) AS BIGINT) AS n_distinct
    FROM (SELECT c_name AS name FROM customer
          UNION ALL
          SELECT s_name AS name FROM supplier)
    """,
)
def all_company_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL + distinct (reference T11/T12 concat+dedup,
    ``task.py:95-99``)."""
    cust = _t(spark, sf_dir, "customer").select(F.col("c_name").alias("name"))
    supp = _t(spark, sf_dir, "supplier").select(F.col("s_name").alias("name"))
    u = cust.unionByName(supp)
    return u.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("name").alias("n_distinct"),
    )


@q(
    "busiest_order_month",
    """
    SELECT CAST(month(o_orderdate) AS INT) AS order_month,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM orders
    GROUP BY month(o_orderdate)
    ORDER BY n_orders DESC NULLS LAST, order_month
    LIMIT 1
    """,
)
def busiest_order_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-month top-1 (reference Q7 ``queries.py:85-90``, with the
    month-name post-processing folded into the plan per D5)."""
    orders = _t(spark, sf_dir, "orders")
    return top_k(
        orders.groupBy(F.month("o_orderdate").alias("order_month"))
        .agg(F.count(F.lit(1)).alias("n_orders")),
        [F.desc_nulls_last("n_orders"), F.asc("order_month")],
    )


@q(
    "longest_ship_delay",
    """
    SELECT o.o_orderkey,
           CAST(date_diff('day', o.o_orderdate, max(l.l_shipdate)) AS BIGINT) AS delay_days
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderkey, o.o_orderdate
    ORDER BY delay_days DESC NULLS LAST, o.o_orderkey
    LIMIT 5
    """,
)
def longest_ship_delay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max order→ship gap (reference Q6 'longest gap' pattern,
    ``queries.py:79-82``) with explicit NULLS LAST + key tie-break."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return top_k(
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.max("l_shipdate").alias("last_ship"))
        .select(
            "o_orderkey",
            F.datediff(F.col("last_ship"), F.col("o_orderdate"))
            .cast("long")
            .alias("delay_days"),
        ),
        [F.desc_nulls_last("delay_days"), F.asc("o_orderkey")],
        k=5,
    )


@q(
    "order_growth_by_year",
    """
    WITH per_year AS (
      SELECT CAST(year(o_orderdate) AS INT) AS order_year,
             CAST(count(*) AS BIGINT) AS n
      FROM orders GROUP BY year(o_orderdate)
    )
    SELECT order_year, n,
           round(((n - lag(n) OVER (ORDER BY order_year))
                 / CAST(lag(n) OVER (ORDER BY order_year) AS DOUBLE) * 100) * 10000.0) / 10000.0
             AS growth_pct
    FROM per_year
    ORDER BY order_year
    """,
)
def order_growth_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """YoY growth via lag window (reference Q8's manual self-join on
    year = year+1, ``queries.py:93-108``, rewritten per SURVEY §2.3).
    Years are contiguous here so lag ≡ the self-join; the operator
    nulls out gap years to preserve self-join semantics in general."""
    orders = _t(spark, sf_dir, "orders")
    per_year = orders.groupBy(
        F.year("o_orderdate").alias("order_year")
    ).agg(F.count(F.lit(1)).alias("n"))
    return (
        yoy_growth(per_year, "order_year", "n")
        .select(
            "order_year", "n", (F.round((F.col("growth_pct")) * 10000.0) / 10000.0).alias("growth_pct")
        )
        .orderBy("order_year")
    )


@q(
    "top_orders_per_priority",
    """
    SELECT o_orderpriority, o_orderkey, round((o_totalprice) * 100.0) / 100.0 AS total_price
    FROM (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice DESC NULLS LAST, o_orderkey) AS rn
      FROM orders
    ) WHERE rn <= 3
    ORDER BY o_orderpriority, total_price DESC NULLS LAST, o_orderkey
    """,
)
def top_orders_per_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group via window row_number (no per-group collect)."""
    orders = _t(spark, sf_dir, "orders")
    return (
        top_k_per_group(
            orders.select("o_orderpriority", "o_orderkey", "o_totalprice"),
            group_by=["o_orderpriority"],
            order_by=[F.desc_nulls_last("o_totalprice"), F.asc("o_orderkey")],
            k=3,
        )
        .select(
            "o_orderpriority",
            "o_orderkey",
            (F.round(F.col("o_totalprice") * 100.0) / 100.0).alias("total_price"),
        )
        .orderBy(
            "o_orderpriority", F.desc_nulls_last("total_price"), F.asc("o_orderkey")
        )
    )


@q(
    "order_stats_rollup",
    """
    SELECT CAST(year(o_orderdate) AS INT) AS order_year, o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           round((sum(o_totalprice)) * 100.0) / 100.0 AS total
    FROM orders
    GROUP BY ROLLUP (year(o_orderdate), o_orderstatus)
    ORDER BY order_year NULLS FIRST, o_orderstatus NULLS FIRST
    """,
)
def order_stats_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals — beyond the reference's single-column
    GROUP BYs (SURVEY §2.5 scoping), native in both engines."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.rollup(
            F.year("o_orderdate").alias("order_year"), F.col("o_orderstatus")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (F.round((F.sum("o_totalprice")) * 100.0) / 100.0).alias("total"),
        )
        .orderBy(
            F.asc_nulls_first("order_year"), F.asc_nulls_first("o_orderstatus")
        )
    )


@q(
    "order_status_grouping_sets",
    """
    SELECT o_orderstatus, o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(grouping(o_orderstatus) AS INT) AS g_status,
           CAST(grouping(o_orderpriority) AS INT) AS g_priority
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                            (o_orderstatus), ())
    ORDER BY g_status, g_priority,
             o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
    """,
)
def order_status_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary GROUPING SETS (not just the ROLLUP chain) with
    ``grouping()`` markers distinguishing real NULL keys from
    aggregation placeholders — one Expand + one aggregate, no
    multi-pass unions."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupingSets(
            [["o_orderstatus", "o_orderpriority"], ["o_orderstatus"], []],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.grouping("o_orderstatus").cast("int").alias("g_status"),
            F.grouping("o_orderpriority").cast("int").alias("g_priority"),
        )
        .orderBy(
            "g_status",
            "g_priority",
            F.asc_nulls_first("o_orderstatus"),
            F.asc_nulls_first("o_orderpriority"),
        )
    )


@q(
    "returnflag_status_pivot",
    """
    SELECT l_returnflag,
           round((coalesce(sum(l_quantity) FILTER (WHERE l_linestatus = 'O'), 0)) * 100.0) / 100.0 AS qty_open,
           round((coalesce(sum(l_quantity) FILTER (WHERE l_linestatus = 'F'), 0)) * 100.0) / 100.0 AS qty_filled
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def returnflag_status_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (conditional aggregation) — expressed as FILTER aggs in the
    oracle; Spark's .pivot produces the same plan shape."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(
                F.coalesce(
                    F.sum(F.when(F.col("l_linestatus") == "O", F.col("l_quantity"))),
                    F.lit(0.0),
                ),
                2,
            ).alias("qty_open"),
            F.round(
                F.coalesce(
                    F.sum(F.when(F.col("l_linestatus") == "F", F.col("l_quantity"))),
                    F.lit(0.0),
                ),
                2,
            ).alias("qty_filled"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# Events: windowed aggregation + sessionization (streaming-unified batch)
# ---------------------------------------------------------------------------


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
    "stream_hourly_event_stats",
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
def stream_hourly_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same hourly aggregation executed as a REAL Structured
    Streaming query (parquet file source, multiple micro-batches via
    maxFilesPerTrigger, memory sink) — verified against the same batch
    SQL oracle: streaming and batch must agree exactly."""
    from ..streaming.aggregate import run_stream_once

    return run_stream_once(
        spark, f"{sf_dir}/events.parquet", query_name="stream_hourly"
    )


@q(
    "stream_dedup_event_stats",
    """
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
           round((sum(value)) * 100.0) / 100.0 AS total_value
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def stream_dedup_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact-dedup as a REAL Structured Streaming query: the
    events stream unioned with itself (every row arrives twice), then
    dropDuplicatesWithinWatermark(event_id) with watermark-bounded
    state. The oracle aggregates the ORIGINAL table — union+dedup must
    be an exact identity, proving the duplicate stream compacted back
    to the source."""
    from ..streaming.aggregate import run_stream_dedup_once

    return run_stream_dedup_once(
        spark, f"{sf_dir}/events.parquet", query_name="stream_dedup"
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
    "segment_balance_deciles",
    """
    SELECT c_mktsegment, decile, CAST(count(*) AS BIGINT) AS n_customers,
           round(avg(c_acctbal) * 100) / 100 AS avg_balance
    FROM (
      SELECT c_mktsegment, c_acctbal,
             ntile(10) OVER (PARTITION BY c_mktsegment
                             ORDER BY c_acctbal, c_custkey) AS decile
      FROM customer
    ) GROUP BY c_mktsegment, decile ORDER BY c_mktsegment, decile
    """,
)
def segment_balance_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment account-balance deciles — the distribution-
    profiling shape behind quantile-based quality cuts.

    Scale shape (r6 low-cardinality-window audit): `c_mktsegment` has
    five values, so the former per-segment ntile window funneled each
    segment's whole customer slice through one task. The decile now
    rides ``ordered_prefix`` partitioned by segment (range-bucketed
    two-level rank, custkey tie-break) + ``ntile_of_rank`` integer
    arithmetic against a ≤|segments|-row broadcast of group counts —
    assignments are provably the ntile's (test_ntile_of_rank_matches_
    ntile), so values are unchanged and the oracle keeps the window
    spelling."""
    from ..operators.ranking import ntile_of_rank, ordered_prefix

    cust = _t(spark, sf_dir, "customer").select(
        "c_mktsegment", "c_acctbal", "c_custkey"
    )
    ranked = ordered_prefix(
        cust,
        "c_acctbal",
        ["c_custkey"],
        rank_col="_r",
        buckets=32,
        partition_by=["c_mktsegment"],
    )
    n_seg = cust.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("_n")
    )
    return (
        ranked.join(F.broadcast(n_seg), "c_mktsegment")
        .select(
            "c_mktsegment",
            "c_acctbal",
            ntile_of_rank(F.col("_r"), F.col("_n"), 10).alias("decile"),
        )
        .groupBy("c_mktsegment", "decile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            (F.round(F.avg("c_acctbal") * 100) / 100).alias("avg_balance"),
        )
        .orderBy("c_mktsegment", "decile")
    )


@q(
    "stream_purchase_click_join",
    """
    WITH p AS (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS us
               FROM events WHERE event_type = 'purchase'),
         c AS (SELECT user_id, epoch_ns(ts) // 1000 AS us
               FROM events WHERE event_type = 'click')
    SELECT p.event_id AS event_id, p.user_id AS user_id,
           CAST(count(*) AS BIGINT) AS n_clicks_30m
    FROM p JOIN c
      ON c.user_id = p.user_id
     AND c.us BETWEEN p.us - 1800000000 AND p.us
    GROUP BY p.event_id, p.user_id
    ORDER BY event_id
    """,
)
def stream_purchase_click_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join as a REAL Structured Streaming query
    (both sides streams, watermark-bounded join state) — the streaming
    twin of `purchase_click_window_counts`, verified against the same
    batch range-join oracle (inner form)."""
    from ..streaming.aggregate import run_stream_interval_join_once

    return run_stream_interval_join_once(
        spark, f"{sf_dir}/events.parquet", query_name="stream_pc_join"
    )


@q(
    "rolling_weekly_revenue",
    """
    WITH daily AS (
      SELECT o_orderdate AS day,
             date_diff('day', DATE '1970-01-01', o_orderdate) AS day_num,
             CAST(count(*) AS BIGINT) AS n_orders,
             sum(o_totalprice) AS rev
      FROM orders GROUP BY o_orderdate
    )
    SELECT strftime(day, '%Y-%m-%d') AS day, n_orders,
           round(rev * 100) / 100 AS day_revenue,
           round(sum(rev) OVER (ORDER BY day_num
                                RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
                 * 100) / 100 AS revenue_7d
    FROM daily ORDER BY day
    """,
)
def rolling_weekly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day revenue per order day: a RANGE-frame window over
    the daily aggregate (value-based frame, not row-based — days with
    no orders shorten the window, exactly the gap semantics ROWS
    frames get wrong). One shuffle for the daily groupBy; the window
    runs on the already-tiny per-day frame."""
    orders = _t(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("o_totalprice").alias("rev"),
    )
    w = (
        W.orderBy(F.datediff(F.col("day"), F.lit("1970-01-01").cast("date")))
        .rangeBetween(-6, 0)
    )
    return (
        daily.select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "n_orders",
            (F.round(F.col("rev") * 100) / 100).alias("day_revenue"),
            (F.round(F.sum("rev").over(w) * 100) / 100).alias("revenue_7d"),
        )
        .orderBy("day")
    )


@q(
    "doc_stratified_sample",
    f"""
    WITH s AS (
      SELECT doc_id, lang FROM documents WHERE {_STRAT_BYTE} < 51
    ),
    t AS (SELECT lang, count(*) AS n_total FROM documents GROUP BY lang)
    SELECT t.lang AS lang, CAST(t.n_total AS BIGINT) AS n_total,
           CAST(count(s.doc_id) AS BIGINT) AS n_sampled,
           CAST(coalesce(sum(s.doc_id), 0) AS BIGINT) AS id_sum
    FROM t LEFT JOIN s ON s.lang = t.lang
    GROUP BY t.lang, t.n_total ORDER BY lang
    """,
)
def doc_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~20% sample (md5-byte cut < 51/256) profiled per
    language stratum — membership is per-row and engine-portable, so
    every stratum samples at the same rate with zero per-stratum
    passes; id_sum is the membership checksum."""
    from ..operators.sampling import stratified_hash_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    sampled = stratified_hash_sample(docs, "doc_id", fraction=51 / 256).select(
        F.col("doc_id").alias("s_doc_id"), F.col("lang").alias("s_lang")
    )
    totals = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_total"))
    return (
        totals.join(sampled, totals["lang"] == sampled["s_lang"], "left")
        .groupBy("lang", "n_total")
        .agg(
            F.count("s_doc_id").alias("n_sampled"),
            F.coalesce(F.sum("s_doc_id"), F.lit(0)).cast("long").alias("id_sum"),
        )
        .orderBy("lang")
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


# ---------------------------------------------------------------------------
# Text analysis (documents table)
# ---------------------------------------------------------------------------

_STOP_SQL = "('the', 'a', 'an', 'and', 'of', 'to', 'in', 'is', 'it')"


@q(
    "doc_token_stats",
    f"""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS token_count,
           CAST(length(text) AS BIGINT) AS char_count,
           round(((length(text) - (len(string_split(text, ' ')) - 1))::DOUBLE
                 / len(string_split(text, ' '))) * 10000.0) / 10000.0 AS avg_token_len,
           round((len(list_filter(string_split(text, ' '),
                                 t -> t IN {_STOP_SQL}))::DOUBLE
                 / len(string_split(text, ' '))) * 10000.0) / 10000.0 AS stopword_ratio,
           round((len(regexp_extract_all(text, '[.,!?;:]'))::DOUBLE
                 / length(text)) * 10000.0) / 10000.0 AS punct_ratio
    FROM documents ORDER BY doc_id
    """,
)
def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality features (token count / char count / avg
    token length / stopword + punct density) — all native columns."""
    from ..operators.text import token_stats

    docs = _t_wide(spark, sf_dir, "documents")
    return token_stats(docs, "doc_id", "text").orderBy("doc_id")


@q(
    "doc_bpe_token_counts",
    r"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '\w{1,4}|[^\w\s]')) AS BIGINT)
             AS bpe_tokens
    FROM documents ORDER BY doc_id
    """,
)
def doc_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-word-ish token counting via one regexp pass (BPE-budget
    estimation for training pipelines)."""
    from ..operators.text import bpe_ish_token_count

    docs = _t_wide(spark, sf_dir, "documents")
    return bpe_ish_token_count(docs, "doc_id", "text").orderBy("doc_id")


@q(
    "doc_split_counts",
    f"""
    WITH b AS (
      SELECT doc_id, {_SPLIT_BYTE} AS bucket FROM documents
    ),
    s AS (
      SELECT doc_id, CASE WHEN bucket < 204 THEN 'train'
                          WHEN bucket < 230 THEN 'val'
                          ELSE 'test' END AS split
      FROM b
    )
    SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(doc_id) AS BIGINT) AS id_sum
    FROM s GROUP BY split ORDER BY split
    """,
)
def doc_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (~80/10/10 by first md5 byte
    of the doc id) — map-only, rand()-free, engine-portable membership.
    The per-split id_sum is a membership checksum: the oracle recomputes
    the same hash, so any row landing in a different split changes the
    sum."""
    from ..operators.sampling import hash_split

    docs = _t(spark, sf_dir, "documents")
    return (
        hash_split(docs.select("doc_id"), "doc_id")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("doc_id").cast("long").alias("id_sum"),
        )
        .orderBy("split")
    )


@q(
    "doc_tfidf_top_terms",
    """
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    tf AS (
      SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY doc_id, token
    ),
    dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
    n AS (SELECT count(*) AS n FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.token, CAST(tf.tf AS BIGINT) AS tf,
             round(tf.tf * (ln((n.n + 1.0) / (dfreq.df + 1.0)) + 1.0) * 10000)
               / 10000 AS score
      FROM tf, dfreq, n WHERE tf.token = dfreq.token
    )
    SELECT doc_id, token, tf, score FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY score DESC, token) AS rn
      FROM scored
    ) WHERE rn <= 3
    ORDER BY doc_id, score DESC, token
    """,
)
def doc_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document — tf and df aggregations plus a
    broadcast of the vocabulary-sized df table (stopwords are exactly
    the hot keys a shuffled token join would skew on)."""
    from ..operators.text import tfidf_top_terms

    docs = _t_wide(spark, sf_dir, "documents")
    return tfidf_top_terms(docs, "doc_id", "text", k=3).orderBy(
        "doc_id", F.desc("score"), F.asc("token")
    )


@q(
    "doc_pack_chunks",
    """
    WITH nt AS (
      SELECT lang, doc_id, len(string_split(text, ' ')) AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT lang, n_tokens,
             CAST(floor(coalesce(sum(n_tokens) OVER (
                    PARTITION BY lang ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) / 1000.0) AS BIGINT) AS chunk
      FROM nt
    )
    SELECT lang, chunk, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens
    FROM c GROUP BY lang, chunk ORDER BY lang, chunk
    """,
)
def doc_pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window packing: docs streamed per language in id order,
    chunk boundary every ~1000 tokens (floor of the exclusive running
    token count). The single-window running sum is the canonical Spark
    formulation; lang bounds the sort at scale."""
    from ..operators.sampling import pack_token_budget

    docs = _t(spark, sf_dir, "documents")
    return pack_token_budget(
        docs, "doc_id", "text", part_col="lang", budget=1000
    ).orderBy("lang", "chunk")


@q(
    "language_profile",
    """
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           round((avg(n_chars)) * 10000.0) / 10000.0 AS avg_chars,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
    FROM documents GROUP BY lang ORDER BY lang
    """,
)
def language_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus profile (doc counts, sizes, token volume)."""
    docs = _t_wide(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            (F.round((F.avg("n_chars")) * 10000.0) / 10000.0).alias("avg_chars"),
            F.sum(F.size(F.split("text", " "))).cast("long").alias("total_tokens"),
        )
        .orderBy("lang")
    )


_SIMHASH_AVGS = ",\n           ".join(
    f"avg(instr('0123456789abcdef', substr(md5(token), {p}, 1)) - 1) AS a{p}"
    for p in range(1, 17)
)
_SIMHASH_BITS = " || ".join(
    f"CASE WHEN a{p} >= 7.5 THEN '1' ELSE '0' END" for p in range(1, 17)
)


@q(
    "doc_simhash",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ), agg AS (
      SELECT doc_id,
           {_SIMHASH_AVGS}
      FROM toks GROUP BY doc_id
    )
    SELECT doc_id, {_SIMHASH_BITS} AS simhash
    FROM agg ORDER BY doc_id
    """,
)
def doc_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash-style 16-bit fingerprint (frequency-weighted per-position
    majority over token md5 digits)."""
    from ..operators.text import simhash16, tokenize

    docs = _t_wide(spark, sf_dir, "documents")
    return simhash16(tokenize(docs, "doc_id", "text"), "doc_id").orderBy("doc_id")


_SHINGLE_CTE = """
    toks AS (
      SELECT doc_id,
             unnest(string_split(text, ' ')) AS token,
             generate_subscripts(string_split(text, ' '), 1) AS pos
      FROM documents
    ), sh AS (
      SELECT doc_id, pos,
             token || ' ' || lead(token, 1) OVER w || ' ' || lead(token, 2) OVER w
               AS shingle
      FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ), shf AS (SELECT doc_id, pos, shingle FROM sh WHERE shingle IS NOT NULL)
"""


@q(
    "doc_winnow_fingerprints",
    f"""
    WITH {_SHINGLE_CTE},
    loc AS (
      SELECT doc_id, pos,
             min(md5(shingle)) OVER (PARTITION BY doc_id ORDER BY pos
                                     ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
             count(*) OVER (PARTITION BY doc_id) AS n_sh
      FROM shf
    )
    SELECT doc_id, CAST(count(DISTINCT fp) AS BIGINT) AS n_fingerprints
    FROM loc WHERE pos <= greatest(n_sh - 3, 1)
    GROUP BY doc_id ORDER BY doc_id
    """,
)
def doc_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing rolling-hash fingerprints (local-min selection over a
    sliding shingle window) — document fingerprinting for containment
    detection."""
    from ..operators.text import tokenize, winnow_fingerprints

    docs = _t_wide(spark, sf_dir, "documents")
    return winnow_fingerprints(
        tokenize(docs, "doc_id", "text"), "doc_id", k=3, window=4
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Deduplication (documents table)
# ---------------------------------------------------------------------------


@q(
    "dedup_docs_exact",
    """
    SELECT min(doc_id) AS doc_id, lang, source,
           CAST(count(*) AS BIGINT) AS n_duplicates
    FROM documents GROUP BY lang, source ORDER BY lang, source
    """,
)
def dedup_docs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact keep-first dedup by key (hash-groupBy, min-id survivor) —
    generic form of the reference's drop_duplicates keep-first."""
    from ..operators.dedup import exact_dedup

    docs = _t_wide(spark, sf_dir, "documents")
    return (
        exact_dedup(docs.select("doc_id", "lang", "source"), ["lang", "source"], "doc_id")
        .orderBy("lang", "source")
    )


_MINHASH_MINS = ",\n           ".join(
    f"min(md5('{i}:' || shingle)) AS mh_{i}" for i in range(8)
)


@q(
    "doc_minhash_signatures",
    f"""
    WITH {_SHINGLE_CTE}
    SELECT doc_id,
           {_MINHASH_MINS}
    FROM shf GROUP BY doc_id ORDER BY doc_id
    """,
)
def doc_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8-hash MinHash signatures over 3-token shingles (deterministic
    seeded md5 'hash family'). One shuffle for any signature width."""
    from ..operators.dedup import minhash_signatures

    docs = _t_wide(spark, sf_dir, "documents")
    return minhash_signatures(
        docs, "doc_id", "text", n_hashes=8, shingle_k=3
    ).orderBy("doc_id")


def _near_dup_tail(
    n_hashes: int = 8, band_size: int = 2, as_cte: bool = False
) -> str:
    """SQL tail shared by the near-dup entries, parameterized by band
    layout (must mirror ``operators/dedup.py::lsh_candidate_pairs``:
    band value = md5 of the '|'-joined member hashes). ``as_cte`` wraps
    the final select as ``pairs AS (...)`` (no ORDER BY) so downstream
    CTEs — e.g. the recursive component closure — can compose on it."""
    n_bands = n_hashes // band_size
    band_case = " ".join(
        "WHEN {b} THEN md5({parts})".format(
            b=b,
            parts=" || '|' || ".join(
                f"mh_{b * band_size + j}" for j in range(band_size)
            ),
        )
        for b in range(n_bands)
    )
    band_values = ", ".join(f"({b})" for b in range(n_bands))
    final = """
    SELECT c.id_a AS id_a, c.id_b AS id_b,
           round(coalesce(i.n_inter, 0) * 10000.0
                 / (za.n + zb.n - coalesce(i.n_inter, 0))) / 10000.0 AS jaccard
    FROM cand c
    LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
    JOIN sizes za ON za.doc_id = c.id_a
    JOIN sizes zb ON zb.doc_id = c.id_b"""
    tail = (
        f",\n    pairs AS ({final}\n    )"
        if as_cte
        else f"{final}\n    ORDER BY c.id_a, c.id_b"
    )
    return f"""
    sig AS (
      SELECT doc_id,
           {_MINHASH_MINS}
      FROM shf GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, bb.band,
             CASE bb.band {band_case} END AS band_val
      FROM sig, (VALUES {band_values}) bb(band)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_val = b.band_val AND a.doc_id < b.doc_id
    ),
    sets AS (SELECT DISTINCT doc_id, shingle FROM shf),
    sizes AS (SELECT doc_id, count(*) AS n FROM sets GROUP BY doc_id),
    inter AS (
      SELECT c.id_a, c.id_b, count(*) AS n_inter
      FROM cand c
      JOIN sets sa ON sa.doc_id = c.id_a
      JOIN sets sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle
      GROUP BY c.id_a, c.id_b
    ){tail}
"""


@q(
    "near_dup_pairs",
    f"""
    WITH {_SHINGLE_CTE},
    {_near_dup_tail(band_size=2)}
    """,
)
def near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full MinHash+LSH near-dup pipeline: signatures → band buckets →
    candidate pairs → exact Jaccard verification. Candidates only ever
    come from shared buckets — never an all-pairs join; the shingle set
    is computed once and persisted (see operators/dedup.py::
    near_duplicates)."""
    from ..operators.dedup import near_duplicates

    docs = _t_wide(spark, sf_dir, "documents")
    return near_duplicates(
        docs, "doc_id", "text", n_hashes=8, shingle_k=3, band_size=2
    ).orderBy("id_a", "id_b")


@q(
    "near_dup_pairs_char",
    f"""
    WITH shf AS (
      SELECT doc_id, substr(text, CAST(i AS INTEGER), 8) AS shingle
      FROM (SELECT doc_id, text,
                   unnest(generate_series(1, length(text) - 7)) AS i
            FROM documents)
    ),
    {_near_dup_tail(band_size=4)}
    """,
)
def near_dup_pairs_char(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-8-gram variant of the MinHash+LSH near-dup pipeline —
    tokenization-free, robust to spacing/punctuation noise. Same
    signature→band→verify chain as `near_dup_pairs`, swapping the
    shingle frame (row-local substr windows, zero shuffle). Char
    8-grams repeat heavily across a shared-vocabulary corpus, so
    banding is stricter here (2 bands × 4 hashes: 4-hash agreement)
    — with 2-hash bands the candidate set at sf0.1 is 71k pairs vs
    330, a 200× verification-cost difference."""
    from ..operators.dedup import near_duplicates

    docs = _t_wide(spark, sf_dir, "documents")
    return near_duplicates(
        docs,
        "doc_id",
        "text",
        n_hashes=8,
        shingle_k=8,
        band_size=4,
        shingle_mode="char",
    ).orderBy("id_a", "id_b")


@q(
    "near_dup_clusters",
    f"""
    WITH RECURSIVE {_SHINGLE_CTE},
    {_near_dup_tail(band_size=2, as_cte=True)},
    edges AS (
      SELECT id_a AS u, id_b AS v FROM pairs WHERE jaccard >= 0.5
      UNION ALL
      SELECT id_b AS u, id_a AS v FROM pairs WHERE jaccard >= 0.5
    ),
    nodes AS (SELECT DISTINCT u AS node FROM edges),
    reach AS (
      SELECT node, node AS lbl FROM nodes
      UNION
      SELECT e.v AS node, r.lbl FROM reach r JOIN edges e ON e.u = r.node
    ),
    lab AS (SELECT node, min(lbl) AS cluster FROM reach GROUP BY node)
    SELECT cluster, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(node) AS BIGINT) AS id_sum
    FROM lab GROUP BY cluster ORDER BY cluster
    """,
)
def near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs → dedup GROUPS: connected components over the verified
    near-dup graph (jaccard >= 0.5), labeling every member with the
    min doc id of its component — the survivor-selection step (keep
    one per cluster) that actual corpus dedup runs after pairing.
    Spark side is min-label propagation (O(diameter) sweeps, scalar
    convergence checks); the oracle closes the same graph with a
    recursive CTE. id_sum is the membership checksum."""
    from ..operators.dedup import near_duplicates
    from ..operators.graph import connected_components

    docs = _t_wide(spark, sf_dir, "documents")
    pairs = near_duplicates(
        docs, "doc_id", "text", n_hashes=8, shingle_k=3, band_size=2,
        threshold=0.5,
    )
    labels = connected_components(pairs.select("id_a", "id_b"))
    return (
        labels.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("node").cast("long").alias("id_sum"),
        )
        .orderBy("cluster")
    )


# ---------------------------------------------------------------------------
# Similarity search (embeddings table)
# ---------------------------------------------------------------------------

_EMB_BASE = """
    base AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      FROM embeddings
    )
"""


@q(
    "embedding_cosine_topk",
    f"""
    WITH {_EMB_BASE},
    qv AS (SELECT * FROM base WHERE vec_id < 20),
    pairs AS (
      SELECT qv.vec_id AS query_id, b.vec_id AS neighbor_id,
             round((list_dot_product(qv.v, b.v) / (qv.nrm * b.nrm)) * 100000.0) / 100000.0 AS cos_sim
      FROM qv JOIN base b ON b.vec_id <> qv.vec_id
    )
    SELECT query_id, neighbor_id, cos_sim FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC NULLS LAST, neighbor_id) AS rn
      FROM pairs
    ) WHERE rn <= 3
    ORDER BY query_id, cos_sim DESC NULLS LAST, neighbor_id
    """,
)
def embedding_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k (query rows ride in the scorer's
    closure against the full table; one Arrow-batched numpy matmul per
    record batch — see operators/similarity.py module docstring for
    why dense vector math avoids interpreted HOF folds). The
    correctness baseline for the bucketed ANN variant."""
    from ..operators.similarity import cosine_topk

    emb = _t_wide(spark, sf_dir, "embeddings")
    return cosine_topk(
        emb, "vec_id", "embedding", query_filter=F.col("vec_id") < 20, k=3
    ).orderBy("query_id", F.desc_nulls_last("cos_sim"), F.asc("neighbor_id"))


_BUCKET_SQL = " || ".join(
    f"(CASE WHEN embedding[{i}] >= 0 THEN '1' ELSE '0' END)" for i in range(1, 7)
)


@q(
    "embedding_ann_bucketed",
    f"""
    WITH base AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm,
             {_BUCKET_SQL} AS bucket
      FROM embeddings
    )
    SELECT a.bucket AS bucket, a.vec_id AS id_a, b.vec_id AS id_b,
           round((list_dot_product(a.v, b.v) / (a.nrm * b.nrm)) * 100000.0) / 100000.0 AS cos_sim
    FROM base a JOIN base b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE round((list_dot_product(a.v, b.v) / (a.nrm * b.nrm)) * 100000.0) / 100000.0 >= 0.0
    ORDER BY a.bucket, a.vec_id, b.vec_id
    """,
)
def embedding_ann_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucketed ANN: pairs enumerated only within buckets (the
    scale path — bucket is the shuffle key)."""
    from ..operators.similarity import bucketed_similar_pairs

    emb = _t_wide(spark, sf_dir, "embeddings")
    return bucketed_similar_pairs(
        emb, "vec_id", "embedding", n_bits=6, threshold=0.0
    ).orderBy("bucket", "id_a", "id_b")


@q(
    "label_centroid_profile",
    """
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           round((avg(embedding[1]::DOUBLE)) * 100000.0) / 100000.0 AS avg_d1,
           round((avg(embedding[2]::DOUBLE)) * 100000.0) / 100000.0 AS avg_d2,
           round((avg(embedding[3]::DOUBLE)) * 100000.0) / 100000.0 AS avg_d3
    FROM embeddings GROUP BY label ORDER BY label
    """,
)
def label_centroid_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid coordinates (leading dims) — array element
    access + grouped averages (the IVF centroid-build shape)."""
    emb = _t_wide(spark, sf_dir, "embeddings")
    return (
        emb.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            *[
                (F.round((F.avg(F.element_at("embedding", i).cast("double"))) * 100000.0) / 100000.0).alias(f"avg_d{i}")
                for i in (1, 2, 3)
            ],
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# Multimodal plumbing (binary column + Arrow-batched decode)
# ---------------------------------------------------------------------------

_HEXV = "instr('0123456789abcdef', substr(hx, {p}, 1)) - 1"


@q(
    "multimodal_decode",
    f"""
    WITH h AS (SELECT doc_id AS id, md5(text) AS hx FROM documents),
    b AS (
      SELECT id,
             ({_HEXV.format(p=1)}) * 16 + ({_HEXV.format(p=2)}) AS b0,
             ({_HEXV.format(p=3)}) * 16 + ({_HEXV.format(p=4)}) AS b1,
             ({_HEXV.format(p=31)}) * 16 + ({_HEXV.format(p=32)}) AS b15
      FROM h
    )
    SELECT id,
           CAST(16 AS BIGINT) AS byte_len,
           CASE b0 % 4 WHEN 0 THEN 'jpeg' WHEN 1 THEN 'png'
                       WHEN 2 THEN 'wav' ELSE 'mp4' END AS format,
           CAST(16 * (1 + b0 % 64) AS BIGINT) AS width,
           CAST(16 * (1 + b1 % 64) AS BIGINT) AS height,
           CAST(1 + b15 % 8 AS BIGINT) AS n_frames
    FROM b ORDER BY id
    """,
)
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal column plumbing end-to-end: synthesize a binary media
    column, then extract metadata via an Arrow-batched mapInPandas
    decode (deterministic fake codec — the real decoder is an
    env-gated drop-in). The oracle recomputes the same metadata in
    pure SQL, so the whole binary path is value-checked."""
    from ..operators.multimodal import decode_media, synthesize_media_column

    docs = _t_wide(spark, sf_dir, "documents")
    media = synthesize_media_column(docs, "doc_id", "text")
    return decode_media(media, "doc_id", "media").orderBy("id")


@q(
    "embedding_ivf_assign",
    f"""
    WITH {_EMB_BASE},
    cents AS (SELECT vec_id AS centroid_id, v AS cv, nrm AS cnrm
              FROM base WHERE vec_id < 8),
    scored AS (
      SELECT b.vec_id, c.centroid_id,
             round((list_dot_product(c.cv, b.v) / (c.cnrm * b.nrm)) * 100000.0) / 100000.0 AS cos_sim
      FROM base b CROSS JOIN cents c
    )
    SELECT vec_id, centroid_id, cos_sim FROM (
      SELECT *, row_number() OVER (PARTITION BY vec_id
                                   ORDER BY cos_sim DESC NULLS LAST, centroid_id) AS rn
      FROM scored
    ) WHERE rn = 1
    ORDER BY vec_id
    """,
)
def embedding_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse quantization: every vector assigned to its best
    (broadcast) centroid — the cluster-build half of IVF ANN search;
    the probe half reuses the same join within the assigned cluster."""
    from ..operators.similarity import ivf_assign

    emb = _t_wide(spark, sf_dir, "embeddings")
    return ivf_assign(
        emb, "vec_id", "embedding", centroid_filter=F.col("vec_id") < 8
    ).orderBy("vec_id")


@q(
    "embedding_near_dup_pairs",
    f"""
    WITH base AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm,
             {_BUCKET_SQL} AS bucket
      FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round((list_dot_product(a.v, b.v) / (a.nrm * b.nrm)) * 100000.0) / 100000.0 AS cos_sim
    FROM base a JOIN base b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE round((list_dot_product(a.v, b.v) / (a.nrm * b.nrm)) * 100000.0) / 100000.0 >= 0.35
    ORDER BY a.vec_id, b.vec_id
    """,
)
def embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate candidates: same sign-LSH bucket
    AND cosine above threshold (0.35 ≈ top 0.1% of this corpus's pair
    distribution — the corpus has no true near-dups, so the operator is
    exercised at the top of the real distribution)."""
    from ..operators.similarity import bucketed_similar_pairs

    emb = _t_wide(spark, sf_dir, "embeddings")
    return (
        bucketed_similar_pairs(emb, "vec_id", "embedding", n_bits=6, threshold=0.35)
        .select("id_a", "id_b", "cos_sim")
        .orderBy("id_a", "id_b")
    )


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
    "order_price_quantiles",
    """
    SELECT o_orderpriority,
           round((quantile_cont(o_totalprice, 0.5)::DOUBLE) * 100.0) / 100.0 AS p50,
           round((quantile_cont(o_totalprice, 0.9)::DOUBLE) * 100.0) / 100.0 AS p90
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def order_price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated quantiles (Spark ``percentile`` ≡ DuckDB
    ``quantile_cont``). The approximate path for 100 TB is
    ``percentile_approx`` — same call shape, sketch-merged, not
    oracle-comparable by construction."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            (F.round((F.expr("percentile(o_totalprice, 0.5)")) * 100.0) / 100.0).alias("p50"),
            (F.round((F.expr("percentile(o_totalprice, 0.9)")) * 100.0) / 100.0).alias("p90"),
        )
        .orderBy("o_orderpriority")
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
    "customer_order_cohorts",
    """
    WITH c94 AS (SELECT DISTINCT o_custkey FROM orders
                 WHERE year(o_orderdate) = 1994),
         c95 AS (SELECT DISTINCT o_custkey FROM orders
                 WHERE year(o_orderdate) = 1995),
         i AS (SELECT * FROM c94 INTERSECT SELECT * FROM c95),
         x AS (SELECT * FROM c94 EXCEPT SELECT * FROM c95)
    SELECT 'both_94_95' AS cohort, CAST(count(*) AS BIGINT) AS n_customers,
           min(o_custkey) AS min_key, max(o_custkey) AS max_key FROM i
    UNION ALL
    SELECT 'only_1994', CAST(count(*) AS BIGINT), min(o_custkey),
           max(o_custkey) FROM x
    ORDER BY cohort
    """,
)
def customer_order_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT set operations (a gap in the reference —
    SURVEY §2.5 lists UNION ALL as its only set op): customers active
    in both 1994 and 1995 vs 1994-only. Spark plans both as
    (broadcastable) semi/anti joins over the distinct key sets."""
    o = _t(spark, sf_dir, "orders")
    c94 = o.where(F.year("o_orderdate") == 1994).select("o_custkey").distinct()
    c95 = o.where(F.year("o_orderdate") == 1995).select("o_custkey").distinct()

    def summarize(df: DataFrame, label: str) -> DataFrame:
        return df.agg(
            F.lit(label).alias("cohort"),
            F.count(F.lit(1)).alias("n_customers"),
            F.min("o_custkey").alias("min_key"),
            F.max("o_custkey").alias("max_key"),
        ).select("cohort", "n_customers", "min_key", "max_key")

    return summarize(c94.intersect(c95), "both_94_95").unionByName(
        summarize(c94.subtract(c95), "only_1994")
    ).orderBy("cohort")


def _hamming_sql(a: str, b: str, n_pos: int = 16) -> str:
    return " + ".join(
        f"CASE WHEN substr({a}, {p}, 1) <> substr({b}, {p}, 1) THEN 1 ELSE 0 END"
        for p in range(1, n_pos + 1)
    )


_SIMHASH_CTE = f"""
    toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ), agg AS (
      SELECT doc_id,
           {_SIMHASH_AVGS}
      FROM toks GROUP BY doc_id
    ), sim AS (
      SELECT doc_id, {_SIMHASH_BITS} AS simhash FROM agg
    )
"""


@q(
    "simhash_dup_groups",
    f"""
    WITH {_SIMHASH_CTE}
    SELECT simhash, CAST(count(*) AS BIGINT) AS n_docs,
           min(doc_id) AS first_doc
    FROM sim GROUP BY simhash HAVING count(*) > 1
    ORDER BY simhash
    """,
)
def simhash_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fingerprint-bucket dedup, the scale-real SimHash usage: group by
    the exact fingerprint (one shuffle on a 16-char key) and report
    multi-doc buckets with the keep-first survivor. All-pairs hamming
    comparison is deliberately NOT an entry — it is quadratic by
    construction; bounded neighbor search lives in
    `simhash_query_neighbors`."""
    from ..operators.text import simhash16, tokenize

    docs = _t_wide(spark, sf_dir, "documents")
    sim = simhash16(tokenize(docs, "doc_id", "text"), "doc_id")
    return (
        sim.groupBy("simhash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
        )
        .where(F.col("n_docs") > 1)
        .orderBy("simhash")
    )


@q(
    "simhash_query_neighbors",
    f"""
    WITH {_SIMHASH_CTE},
    q AS (SELECT doc_id AS query_id, simhash AS sq FROM sim WHERE doc_id < 10),
    scored AS (
      SELECT q.query_id, s.doc_id,
             CAST({_hamming_sql("q.sq", "s.simhash")} AS BIGINT) AS hamming
      FROM q JOIN sim s ON s.doc_id <> q.query_id
    ),
    ranked AS (
      SELECT query_id, doc_id, hamming,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY hamming, doc_id) AS rn
      FROM scored
    )
    SELECT query_id, doc_id, hamming FROM ranked WHERE rn <= 5
    ORDER BY query_id, hamming, doc_id
    """,
)
def simhash_query_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded fingerprint-neighbor search: for each of 10 query docs,
    the 5 nearest documents by simhash hamming distance. The query set
    broadcasts, so scoring is map-only over the corpus and the window
    top-k bounds the output — query×corpus work, never corpus², which
    is the shape that survives 100 TB (all-pairs hamming does not)."""
    from ..operators.text import simhash16, tokenize

    docs = _t_wide(spark, sf_dir, "documents")
    sim = simhash16(tokenize(docs, "doc_id", "text"), "doc_id")
    queries = sim.where(F.col("doc_id") < 10).select(
        F.col("doc_id").alias("query_id"), F.col("simhash").alias("sq")
    )
    scored = sim.join(
        F.broadcast(queries), F.col("doc_id") != F.col("query_id")
    )
    hamming = sum(
        (F.substring("sq", p, 1) != F.substring("simhash", p, 1)).cast("int")
        for p in range(1, 17)
    )
    w = W.partitionBy("query_id").orderBy("hamming", "doc_id")
    return (
        scored.select(
            "query_id", "doc_id", hamming.cast("bigint").alias("hamming")
        )
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .drop("rn")
        .orderBy("query_id", "hamming", "doc_id")
    )


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
    "doc_quality_gate",
    f"""
    WITH s AS (
      SELECT doc_id, lang,
             len(string_split(text, ' ')) AS tc,
             round(((length(text) - (len(string_split(text, ' ')) - 1))::DOUBLE
                   / len(string_split(text, ' '))) * 10000.0) / 10000.0 AS avg_len,
             round((len(list_filter(string_split(text, ' '),
                                   t -> t IN {_STOP_SQL}))::DOUBLE
                   / len(string_split(text, ' '))) * 10000.0) / 10000.0 AS stop_r,
             round((len(regexp_extract_all(text, '[.,!?;:]'))::DOUBLE
                   / length(text)) * 10000.0) / 10000.0 AS punct_r
      FROM documents
    ),
    g AS (
      SELECT doc_id, lang,
             CASE WHEN tc BETWEEN 30 AND 80
                   AND avg_len BETWEEN 2.0 AND 12.0
                   AND stop_r <= 0.12 AND punct_r <= 0.2
                  THEN 1 ELSE 0 END AS passed
      FROM s
    )
    SELECT lang, passed, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(doc_id) AS BIGINT) AS id_sum
    FROM g GROUP BY lang, passed ORDER BY lang, passed
    """,
)
def doc_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-based corpus quality gate (length band / avg-token-length
    band / stopword + punct density caps — the Gopher/C4-style first
    filter pass), profiled per (lang, verdict) with an id_sum
    membership checksum. The gate itself is one shuffle-free
    projection; only this profile aggregates."""
    from ..operators.quality import quality_gate

    docs = _t_wide(spark, sf_dir, "documents")
    gated = quality_gate(docs, "doc_id", "text", keep_cols=("lang",))
    return (
        gated.groupBy("lang", F.col("passed").cast("int").alias("passed"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("doc_id").cast("long").alias("id_sum"),
        )
        .orderBy("lang", "passed")
    )


_LANG_KEYWORDS = {
    "en": ("the", "and", "of", "to", "in", "is", "it", "a", "an"),
    "de": ("der", "die", "das", "und", "ist", "ein", "zu", "nicht"),
}
_KW_SQL = {
    lang: "(" + ", ".join(f"'{w}'" for w in kws) + ")"
    for lang, kws in _LANG_KEYWORDS.items()
}


@q(
    "doc_language_id",
    f"""
    WITH s AS (
      SELECT doc_id,
             round((len(list_filter(string_split(text, ' '),
                                   t -> t IN {_KW_SQL["de"]}))::DOUBLE
                   / len(string_split(text, ' '))) * 10000.0) / 10000.0 AS score_de,
             round((len(list_filter(string_split(text, ' '),
                                   t -> t IN {_KW_SQL["en"]}))::DOUBLE
                   / len(string_split(text, ' '))) * 10000.0) / 10000.0 AS score_en
      FROM documents
    )
    SELECT doc_id, score_de, score_en,
           CASE WHEN score_de >= score_en THEN 'de' ELSE 'en' END
             AS predicted_lang
    FROM s ORDER BY doc_id
    """,
)
def doc_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword-hit-ratio language ID (argmax over per-language keyword
    densities, alphabetical tie-break) — shuffle-free per-row scoring;
    the production version swaps keyword sets for per-language n-gram
    tables through the same broadcast shape."""
    from ..operators.text import language_scores

    docs = _t_wide(spark, sf_dir, "documents")
    return language_scores(docs, "doc_id", "text", _LANG_KEYWORDS).orderBy(
        "doc_id"
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
    "customer_scd2_segments",
    """
    WITH dim AS (
      SELECT c_custkey AS k, c_mktsegment AS segment FROM customer
    ),
    upd AS (
      SELECT c_custkey AS k,
             CASE WHEN c_custkey % 7 = 1 THEN c_mktsegment
                  ELSE 'SEG_' || CAST(c_custkey % 3 AS VARCHAR) END AS segment
      FROM customer WHERE c_custkey % 7 < 2
    ),
    changed AS (
      SELECT u.k, u.segment FROM upd u JOIN dim d ON d.k = u.k
      WHERE u.segment <> d.segment
    ),
    final AS (
      SELECT d.k, d.segment,
             CASE WHEN d.k IN (SELECT k FROM changed) THEN 0 ELSE 1 END
               AS is_current
      FROM dim d
      UNION ALL
      SELECT k, segment, 1 AS is_current FROM changed
    )
    SELECT is_current, segment, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(k) AS BIGINT) AS id_sum
    FROM final GROUP BY is_current, segment ORDER BY is_current, segment
    """,
)
def customer_scd2_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 dimension merge exercised end-to-end: the customer table as
    a versioned dimension, an update batch that changes segments for
    keys ≡0 (mod 7), no-ops keys ≡1 (mod 7), and leaves the rest
    alone. Changed keys close their old version and open a new one;
    no-op updates produce NO spurious versions. Output: row counts +
    key checksums per (is_current, segment)."""
    from ..operators.upsert import scd2_merge

    cust = _t(spark, sf_dir, "customer")
    dim = cust.select(
        "c_custkey",
        F.col("c_mktsegment").alias("segment"),
        F.lit("1994-01-01").cast("date").alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    updates = cust.where(F.col("c_custkey") % 7 < 2).select(
        "c_custkey",
        F.when(F.col("c_custkey") % 7 == 1, F.col("c_mktsegment"))
        .otherwise(
            F.concat(F.lit("SEG_"), (F.col("c_custkey") % 3).cast("string"))
        )
        .alias("segment"),
        F.lit("1995-06-01").cast("date").alias("eff"),
    )
    merged = scd2_merge(
        dim, updates, ["c_custkey"], ["segment"], effective_col="eff"
    )
    return (
        merged.groupBy(
            F.col("is_current").cast("int").alias("is_current"), "segment"
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("c_custkey").cast("long").alias("id_sum"),
        )
        .orderBy("is_current", "segment")
    )


def _kmeans_oracle_ctes(n_iters: int, k: int = 8, round_to: int = 6) -> str:
    """Unrolled Lloyd's-iteration CTE chain (DuckDB) mirroring
    ``similarity.kmeans_fit(k, n_iters)`` — the same fixed-iteration
    unrolling trick the pagerank oracle uses. Per iteration: argmin
    squared-L2 assignment (d2 ASC, cluster ASC tie-break — numpy
    argmin's first-minimum under bitwise-equal ties), per-(cluster,
    dim) mean rounded via scale-then-divide, empty clusters keeping
    the previous centroid (the LEFT JOIN coalesce). kmeans_fit's
    early-stop is a rounded FIXPOINT check, so running all
    ``n_iters`` unconditionally computes identical centroids — the
    update is the identity from the fixpoint on. Ends with ``afin``:
    (vec_id, cluster, d2) under the final centroids.

    DETERMINISM (ADVICE r3): d2 is QUANTIZED to ``round_to`` decimals
    before the argmin on BOTH sides — the raw values are not
    bitwise-comparable cross-engine (the Spark kernel expands
    |v|²−2v·c+|c|², this CTE sums (x−c)² directly, and the two
    re-associate differently), so a vector near-equidistant to two
    centroids could otherwise flip assignment. Post-quantization the
    engines agree except when a raw d2 sits within ~1 ulp of a
    10^-round_to boundary; genuine near-ties resolve by the shared
    (d2 ASC, cluster ASC) tie-break."""
    s = 10 ** round_to
    parts = [
        f"""vx AS (
      SELECT vec_id, generate_subscripts(embedding, 1) AS d,
             CAST(unnest(embedding) AS DOUBLE) AS x
      FROM embeddings
    ),
    seed AS (
      SELECT vec_id, row_number() OVER (ORDER BY vec_id ASC) - 1 AS cluster
      FROM embeddings ORDER BY vec_id ASC LIMIT {k}
    ),
    c0 AS (
      SELECT s.cluster, v.d, round(v.x * {s}.0) / {s}.0 AS c
      FROM seed s JOIN vx v USING (vec_id)
    )"""
    ]
    for i in range(1, n_iters + 1):
        parts.append(
            f"""d{i} AS (
      SELECT v.vec_id, c.cluster,
             round(sum((v.x - c.c) * (v.x - c.c)) * {s}.0) / {s}.0 AS d2
      FROM vx v JOIN c{i - 1} c USING (d)
      GROUP BY v.vec_id, c.cluster
    ),
    a{i} AS (
      SELECT vec_id, cluster FROM (
        SELECT vec_id, cluster,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY d2 ASC, cluster ASC) AS rn
        FROM d{i}
      ) WHERE rn = 1
    ),
    c{i} AS (
      SELECT p.cluster, p.d,
             coalesce(round(m.c * {s}.0) / {s}.0, p.c) AS c
      FROM c{i - 1} p
      LEFT JOIN (
        SELECT a.cluster, v.d, avg(v.x) AS c
        FROM a{i} a JOIN vx v USING (vec_id)
        GROUP BY a.cluster, v.d
      ) m ON m.cluster = p.cluster AND m.d = p.d
    )"""
        )
    parts.append(
        f"""dfin AS (
      SELECT v.vec_id, c.cluster,
             round(sum((v.x - c.c) * (v.x - c.c)) * {s}.0) / {s}.0 AS d2
      FROM vx v JOIN c{n_iters} c USING (d)
      GROUP BY v.vec_id, c.cluster
    ),
    afin AS (
      SELECT vec_id, cluster, d2 FROM (
        SELECT vec_id, cluster, d2,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY d2 ASC, cluster ASC) AS rn
        FROM dfin
      ) WHERE rn = 1
    )"""
    )
    return ",\n    ".join(parts)


@q(
    "embedding_kmeans_clusters",
    f"""
    WITH {_kmeans_oracle_ctes(5)}
    SELECT CAST(cluster AS INTEGER) AS cluster,
           CAST(count(*) AS BIGINT) AS n_vectors,
           round(sum(d2) * 100.0) / 100.0 AS inertia
    FROM afin GROUP BY cluster ORDER BY cluster
    """,
)
def embedding_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained k-means IVF: 5 Lloyd iterations over the embeddings
    (deterministic lowest-id init, centroids rounded per iteration),
    then per-cluster population and inertia. The loop moves only the
    k×d centroid table through the driver per iteration — assignment
    is a map-only stage against centroid literals, so the shape holds
    at any corpus size. The oracle unrolls the 5 iterations as
    chained CTEs (``_kmeans_oracle_ctes`` — the pagerank pattern):
    valid because kmeans_fit's early-stop fires only at a rounded
    fixpoint, where further updates are the identity. Blob-separation
    + determinism unit tests remain in tests/test_scale_patterns.py."""
    from ..operators.similarity import kmeans_fit

    # Natural scan layout, NOT _t_wide: each iteration is one numpy
    # matmul per partition, so at this row count worker fan-out costs
    # more than it buys; a real corpus arrives multi-partition anyway.
    emb = _t(spark, sf_dir, "embeddings")
    _, assigned = kmeans_fit(emb, "vec_id", "embedding", k=8, n_iters=5)
    return (
        assigned.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            (F.round((F.sum("_d2")) * 100.0) / 100.0).alias("inertia"),
        )
        .orderBy("cluster")
    )


# Second-batch entries register themselves into QUERIES/ORACLE on import
# (kept in a sibling module so this file stays navigable).
from . import analytics_ext  # noqa: E402,F401  isort:skip
