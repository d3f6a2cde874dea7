"""Relational entries over the TPC-H-shaped star (lineitem, orders,
customer, part, supplier, nation, region): star joins, anti/semi joins,
rollups, cubes and grouping sets, ranking and top-k, calendar and
time-series shapes, statistics, graph walks and privacy audits.

Same contract as plans/analytics.py (see its authoring rules).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window, Window as W
from pyspark.sql import functions as F

from ..operators.normalize import explode_multivalue, surrogate_key
from ..operators.relational import anti_join, semi_join, top_k, top_k_per_group, yoy_growth
from ..operators.sampling import _md5_uint16
from ..sources.catalog import gated_broadcast
from ..sources.local import local_frame
from .shared import _md5_u16_sql, _t, _t_wide, q


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


@q(
    "brand_metric_unpivot",
    """
    WITH wide AS (
      SELECT p_brand,
             round((avg(p_size)) * 10000.0) / 10000.0        AS avg_size,
             round((avg(p_retailprice)) * 100.0) / 100.0 AS avg_retail
      FROM part GROUP BY p_brand
    )
    SELECT p_brand, 'avg_size' AS metric, avg_size AS value FROM wide
    UNION ALL
    SELECT p_brand, 'avg_retail' AS metric, avg_retail AS value FROM wide
    ORDER BY p_brand, metric
    """,
)
def brand_metric_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot / melt — the inverse of `returnflag_status_pivot`: fold a
    wide per-brand metric row into (brand, metric, value) long form.
    Spark's native `unpivot` is a map-only Expand over the aggregated
    frame, so the only shuffle is the groupBy that built the wide
    table."""
    part = _t(spark, sf_dir, "part")
    wide = part.groupBy("p_brand").agg(
        (F.round((F.avg("p_size")) * 10000.0) / 10000.0).alias("avg_size"),
        (F.round((F.avg("p_retailprice")) * 100.0) / 100.0).alias("avg_retail"),
    )
    return wide.unpivot(
        ["p_brand"], ["avg_size", "avg_retail"], "metric", "value"
    ).orderBy("p_brand", "metric")


@q(
    "customers_no_urgent_notin",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey NOT IN (
      SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    )
    ORDER BY c_custkey
    """,
)
def customers_no_urgent_notin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-aware NOT IN anti join — a different operator from
    `left_anti` (Q1's pattern): NOT IN must yield an empty result if the
    subquery produces any NULL, so Spark plans a null-aware
    BroadcastHashJoin rather than a plain anti join. Declared in SQL
    text form because that null-aware semantics has no DataFrame-API
    spelling."""
    _t(spark, sf_dir, "customer").createOrReplaceTempView("notin_customer")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("notin_orders")
    return spark.sql(
        """
        SELECT c_custkey, c_name FROM notin_customer
        WHERE c_custkey NOT IN (
          SELECT o_custkey FROM notin_orders WHERE o_orderpriority = '1-URGENT'
        )
        ORDER BY c_custkey
        """
    )


@q(
    "bulky_orders_vs_customer_avg",
    """
    WITH per_order AS (
      SELECT o.o_orderkey, o.o_custkey, CAST(count(*) AS BIGINT) AS n_items
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderkey, o.o_custkey
    )
    SELECT o_orderkey, o_custkey, n_items FROM per_order p
    WHERE n_items > 1.5 * (
      SELECT avg(n_items) FROM per_order p2 WHERE p2.o_custkey = p.o_custkey
    )
    ORDER BY o_custkey, o_orderkey
    """,
)
def bulky_orders_vs_customer_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (oracle form) ≡ window aggregate
    (Spark form): orders with >1.5× their own customer's average item
    count. The window rewrite computes the per-customer average in the
    same shuffle that groups the orders — one pass, no self-join, which
    is the plan that survives 100 TB (the naive correlated form
    re-aggregates per probe row). Integer item counts keep the
    comparison exact across engines."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    per_order = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_custkey")
        .agg(F.count(F.lit(1)).alias("n_items"))
    )
    w = W.partitionBy("o_custkey")
    return (
        per_order.withColumn("cust_avg", F.avg("n_items").over(w))
        .where(F.col("n_items") > 1.5 * F.col("cust_avg"))
        .select("o_orderkey", "o_custkey", "n_items")
        .orderBy("o_custkey", "o_orderkey")
    )


@q(
    "segment_acctbal_ranks",
    """
    WITH ranked AS (
      SELECT c_mktsegment, c_custkey, round((c_acctbal) * 100.0) / 100.0 AS acctbal,
             dense_rank()   OVER w AS rnk,
             round((percent_rank() OVER w) * 1000000.0) / 1000000.0 AS pct_rank,
             round((cume_dist()    OVER w) * 1000000.0) / 1000000.0 AS cume,
             row_number() OVER (PARTITION BY c_mktsegment
                                ORDER BY c_acctbal DESC, c_custkey) AS rn
      FROM customer
      WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC)
    )
    SELECT c_mktsegment, c_custkey, acctbal, rnk, pct_rank, cume, rn
    FROM ranked WHERE rn <= 5
    ORDER BY c_mktsegment, rn
    """,
)
def segment_acctbal_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-function family (dense_rank / percent_rank / cume_dist) —
    the reference has no window functions at all (SURVEY §2.5). Top-5
    balances per market segment; the row_number tie-break keeps output
    deterministic while the analytic ranks keep their pure ORDER BY
    c_acctbal semantics. percent_rank/cume_dist are exact rationals, so
    they compare bit-stably across engines.

    Scale shape (r6 low-cardinality-window audit): the former
    per-segment windows funneled every segment's full customer slice
    through one task (five segments; cume_dist/percent_rank defeat the
    rank-limit pushdown). Every analytic rank is a pure function of
    the per-VALUE rollup: with `before` = rows above this value and
    `cnt` = its tie count, dense_rank is the value's own two-level
    rank, RANK−1 = before ⇒ percent_rank = before/(n−1), cume_dist =
    (before+cnt)/n — all exact rationals of exact integers. Customers
    rejoin only for value groups that can host rn ≤ 5 (before < 5 —
    ≤ 5 groups per segment, broadcast), so the remaining row_number
    window runs on a handful of candidate rows (the curriculum-bucket
    staging trick). Values bit-identical; the oracle keeps the window
    spelling."""
    from ..operators.ranking import ordered_prefix

    c = _t(spark, sf_dir, "customer").select(
        "c_mktsegment", "c_custkey", "c_acctbal"
    )
    vals = c.groupBy("c_mktsegment", "c_acctbal").agg(
        F.count(F.lit(1)).cast("long").alias("_cnt")
    )
    pre = ordered_prefix(
        vals.withColumn("_negbal", -F.col("c_acctbal")),
        "_negbal",
        rank_col="rnk",
        sums={"_before": "_cnt"},
        buckets=32,
        partition_by=["c_mktsegment"],
    ).drop("_negbal")
    n_seg = c.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("_n")
    )
    cand_vals = pre.where(F.col("_before") < 5)
    cand = c.join(
        F.broadcast(cand_vals), ["c_mktsegment", "c_acctbal"]
    ).join(F.broadcast(n_seg), "c_mktsegment")
    wv = W.partitionBy("c_mktsegment", "c_acctbal").orderBy(
        F.asc("c_custkey")
    )
    pct = F.when(
        F.col("_n") > 1,
        F.col("_before").cast("double") / (F.col("_n") - 1).cast("double"),
    ).otherwise(F.lit(0.0))
    cume = (F.col("_before") + F.col("_cnt")).cast("double") / F.col(
        "_n"
    ).cast("double")
    return (
        cand.select(
            "c_mktsegment",
            "c_custkey",
            (F.round(F.col("c_acctbal") * 100.0) / 100.0).alias("acctbal"),
            F.col("rnk").cast("int").alias("rnk"),
            (F.round(pct * 1000000.0) / 1000000.0).alias("pct_rank"),
            (F.round(cume * 1000000.0) / 1000000.0).alias("cume"),
            (F.col("_before") + F.row_number().over(wv))
            .cast("int")
            .alias("rn"),
        )
        .where(F.col("rn") <= 5)
        .orderBy("c_mktsegment", "rn")
    )


@q(
    "ship_calendar_profile",
    """
    SELECT CAST(year(l_shipdate) AS INT)    AS yr,
           CAST(quarter(l_shipdate) AS INT) AS qtr,
           dayname(l_shipdate)              AS dow,
           CAST(count(*) AS BIGINT)         AS n_items,
           round((sum(l_quantity)) * 100.0) / 100.0        AS sum_qty
    FROM lineitem
    GROUP BY yr, qtr, dow
    ORDER BY yr, qtr, dow
    """,
)
def ship_calendar_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-kernel profiling: year / quarter / day-name extraction
    feeding one grouped aggregate. All three date kernels run inside
    whole-stage codegen on the scan; the group key is low-cardinality
    (year × 4 × 7) so the shuffle is a few hundred rows regardless of
    input scale."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy(
            F.year("l_shipdate").cast("int").alias("yr"),
            F.quarter("l_shipdate").cast("int").alias("qtr"),
            F.date_format("l_shipdate", "EEEE").alias("dow"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            (F.round((F.sum("l_quantity")) * 100.0) / 100.0).alias("sum_qty"),
        )
        .orderBy("yr", "qtr", "dow")
    )


@q(
    "part_name_fuzzy_neighbors",
    """
    WITH queries AS (
      SELECT p_partkey AS query_key, p_name AS query_name
      FROM part WHERE p_partkey < 5
    ),
    scored AS (
      SELECT q.query_key, q.query_name, p.p_partkey AS neighbor_key,
             p.p_name AS neighbor_name,
             CAST(levenshtein(q.query_name, p.p_name) AS INT) AS edit_dist
      FROM queries q JOIN part p ON p.p_partkey <> q.query_key
    )
    SELECT query_key, neighbor_key, neighbor_name, edit_dist FROM (
      SELECT *, row_number() OVER (PARTITION BY query_key
                                   ORDER BY edit_dist, neighbor_key) AS rn
      FROM scored
    ) WHERE rn <= 3
    ORDER BY query_key, edit_dist, neighbor_key
    """,
)
def part_name_fuzzy_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance fuzzy matching (the string-similarity counterpart
    of the embedding/simhash neighbor entries): 3 nearest part names by
    Levenshtein for each query key. The query set broadcasts, so
    scoring is map-only query×corpus — the only shape a pairwise string
    metric survives at scale — and the window top-k bounds output."""
    part = _t(spark, sf_dir, "part")
    queries = part.where(F.col("p_partkey") < 5).select(
        F.col("p_partkey").alias("query_key"), F.col("p_name").alias("query_name")
    )
    scored = part.join(
        F.broadcast(queries), F.col("p_partkey") != F.col("query_key")
    ).select(
        "query_key",
        F.col("p_partkey").alias("neighbor_key"),
        F.col("p_name").alias("neighbor_name"),
        F.levenshtein("query_name", "p_name").cast("int").alias("edit_dist"),
    )
    w = W.partitionBy("query_key").orderBy("edit_dist", "neighbor_key")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .drop("rn")
        .orderBy("query_key", "edit_dist", "neighbor_key")
    )


@q(
    "order_priority_status_cube",
    """
    SELECT COALESCE(o_orderpriority, 'ALL') AS priority,
           COALESCE(o_orderstatus, 'ALL')   AS status,
           grouping(o_orderpriority) + grouping(o_orderstatus) AS agg_level,
           CAST(count(*) AS BIGINT) AS n_orders,
           round((sum(o_totalprice)) * 100.0) / 100.0 AS total_price
    FROM orders
    GROUP BY CUBE (o_orderpriority, o_orderstatus)
    ORDER BY agg_level, priority, status
    """,
)
def order_priority_status_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE — all 2^n grouping combinations in ONE Expand + aggregate
    (completes the ROLLUP / GROUPING SETS family): per-(priority,
    status), per-priority, per-status, and grand-total rows, tagged
    with their grouping level. One scan, one shuffle, regardless of
    how many grouping sets the cube expands to."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderpriority", "o_orderstatus")
        .agg(
            # grouping() markers must resolve inside the Aggregate node
            (
                F.grouping("o_orderpriority") + F.grouping("o_orderstatus")
            ).alias("agg_level"),
            F.count(F.lit(1)).alias("n_orders"),
            (F.round((F.sum("o_totalprice")) * 100.0) / 100.0).alias("total_price"),
        )
        .select(
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            "agg_level",
            "n_orders",
            "total_price",
        )
        .orderBy("agg_level", "priority", "status")
    )


@q(
    "order_due_calendar",
    """
    SELECT o_orderkey,
           strftime(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY,
                    '%Y-%m-%d') AS due_date,
           strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end,
           strftime(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH,
                    '%Y-%m-%d') AS review_date,
           CAST(date_diff('day', CAST(o_orderdate AS DATE),
                          last_day(CAST(o_orderdate AS DATE))) AS INT)
             AS days_to_month_end
    FROM orders WHERE o_orderkey < 100
    ORDER BY o_orderkey
    """,
)
def order_due_calendar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval / calendar arithmetic kernels (date_add, add_months,
    last_day, datediff) — all map-only projections in codegen. Dates
    ship as formatted strings so the oracle compare is type-exact.
    add_months pins month-end clamping semantics (Jan 31 + 1 month =
    Feb 28 in both engines)."""
    orders = _t(spark, sf_dir, "orders")
    d = F.to_date("o_orderdate")
    return (
        orders.where(F.col("o_orderkey") < 100)
        .select(
            "o_orderkey",
            F.date_format(F.date_add(d, 30), "yyyy-MM-dd").alias("due_date"),
            F.date_format(F.last_day(d), "yyyy-MM-dd").alias("month_end"),
            F.date_format(F.add_months(d, 3), "yyyy-MM-dd").alias("review_date"),
            F.datediff(F.last_day(d), d).cast("int").alias("days_to_month_end"),
        )
        .orderBy("o_orderkey")
    )


@q(
    "lateral_top_suppliers",
    """
    SELECT n.n_name, s.s_name, s.acctbal
    FROM nation n,
    LATERAL (
      SELECT s_name, round((s_acctbal) * 100.0) / 100.0 AS acctbal
      FROM supplier WHERE s_nationkey = n.n_nationkey
      ORDER BY s_acctbal DESC, s_name ASC LIMIT 2
    ) s
    ORDER BY n.n_name ASC, s.acctbal DESC, s.s_name ASC
    """,
)
def lateral_top_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery — per-nation top-2 suppliers phrased
    as a dependent subquery rather than a window. Declared in SQL text
    (LATERAL has no DataFrame-API spelling); Spark decorrelates it into
    a join + per-group limit, so the plan converges with the
    `top_orders_per_priority` window shape instead of re-executing the
    subquery per outer row — the property that keeps LATERAL usable on
    a large outer side."""
    _t(spark, sf_dir, "nation").createOrReplaceTempView("lat_nation")
    _t(spark, sf_dir, "supplier").createOrReplaceTempView("lat_supplier")
    return spark.sql(
        """
        SELECT n.n_name, s.s_name, s.acctbal
        FROM lat_nation n,
        LATERAL (
          SELECT s_name, round((s_acctbal) * 100.0) / 100.0 AS acctbal
          FROM lat_supplier WHERE s_nationkey = n.n_nationkey
          ORDER BY s_acctbal DESC, s_name ASC LIMIT 2
        ) s
        ORDER BY n.n_name ASC, s.acctbal DESC, s.s_name ASC
        """
    )


@q(
    "full_priority_coverage_customers",
    """
    WITH pr AS (SELECT DISTINCT o_orderpriority FROM orders),
    need AS (SELECT CAST(count(*) AS BIGINT) AS need FROM pr),
    cover AS (
      SELECT o_custkey,
             CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS n_priorities,
             CAST(count(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY o_custkey
    )
    SELECT c.o_custkey, c.n_priorities, c.n_orders
    FROM cover c, need
    WHERE c.n_priorities = need.need
    ORDER BY c.o_custkey
    """,
)
def full_priority_coverage_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational division (the FOR-ALL query family — absent from the
    reference, SURVEY §2.5): customers who have placed orders at EVERY
    priority level. Division by counting: distinct covered values per
    customer == universe size, one aggregate over the fact table
    instead of the textbook double-NOT-EXISTS (two correlated
    anti-join passes). The universe count broadcasts as a one-row
    frame."""
    orders = _t(spark, sf_dir, "orders")
    need = (
        orders.select("o_orderpriority")
        .distinct()
        .agg(F.count(F.lit(1)).cast("long").alias("need"))
    )
    cover = orders.groupBy("o_custkey").agg(
        F.count_distinct("o_orderpriority").cast("long").alias("n_priorities"),
        F.count(F.lit(1)).cast("long").alias("n_orders"),
    )
    return (
        cover.crossJoin(F.broadcast(need))
        .where(F.col("n_priorities") == F.col("need"))
        .select("o_custkey", "n_priorities", "n_orders")
        .orderBy("o_custkey")
    )


@q(
    "customer_rfm_segments",
    """
    WITH per_cust AS (
      SELECT o_custkey,
             max(o_orderdate) AS last_order,
             CAST(count(*) AS BIGINT) AS frequency,
             round((sum(o_totalprice)) * 100.0) / 100.0 AS monetary
      FROM orders GROUP BY o_custkey
    ),
    scored AS (
      SELECT o_custkey, frequency, monetary,
             ntile(4) OVER (ORDER BY last_order ASC, o_custkey ASC) AS r_q,
             ntile(4) OVER (ORDER BY frequency ASC, o_custkey ASC) AS f_q,
             ntile(4) OVER (ORDER BY monetary ASC, o_custkey ASC) AS m_q
      FROM per_cust
    )
    SELECT r_q, f_q, m_q,
           CAST(count(*) AS BIGINT) AS n_customers,
           round((sum(monetary)) * 100.0) / 100.0 AS total_monetary
    FROM scored GROUP BY r_q, f_q, m_q
    ORDER BY r_q, f_q, m_q
    """,
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (recency / frequency / monetary quartiles) —
    the classic customer-scoring matrix. One fact aggregate; the
    oracle keeps the three literal ntile windows, while the Spark
    plan computes IDENTICAL quartiles without any single-partition
    window (the r4 allowlist's documented swap, now landed): three
    global ranks in ONE ``ordered_prefix_multi`` call (range-bucket
    two-level, exact-integer offsets; recency keys on epoch-days so
    the cut sampling stays numeric — all three keys share a single
    percentile cuts job, VERDICT r5 item 5) + ``ntile_of_rank``
    integer bucket arithmetic. custkey tie-breaks make every quartile
    assignment engine-identical. Output is the segment-cell census."""
    from ..operators.ranking import RankSpec, ntile_of_rank, ordered_prefix_multi

    orders = _t(spark, sf_dir, "orders")
    # persisted (ADVICE r5): the cuts job, the stats job, the count
    # below, and the final window chain each re-execute this scan +
    # groupBy otherwise; the first aux job materializes the cache
    # (jobs are sequential, so no racing-writer hazard).
    per_cust = orders.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).cast("long").alias("frequency"),
        (F.round((F.sum("o_totalprice")) * 100.0) / 100.0).alias("monetary"),
    ).persist()
    n = per_cust.agg(F.count(F.lit(1)).cast("long").alias("_n"))
    g = ordered_prefix_multi(
        per_cust,
        [
            RankSpec(
                F.datediff(
                    F.col("last_order"), F.lit("1970-01-01").cast("date")
                ),
                ["o_custkey"],
                "_rr",
            ),
            RankSpec("frequency", ["o_custkey"], "_rf"),
            RankSpec("monetary", ["o_custkey"], "_rm"),
        ],
        buckets=32,
    )
    scored = g.crossJoin(F.broadcast(n)).select(
        "o_custkey", "frequency", "monetary",
        ntile_of_rank(F.col("_rr"), F.col("_n"), 4).alias("r_q"),
        ntile_of_rank(F.col("_rf"), F.col("_n"), 4).alias("f_q"),
        ntile_of_rank(F.col("_rm"), F.col("_n"), 4).alias("m_q"),
    )
    return (
        scored.groupBy("r_q", "f_q", "m_q")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            (F.round((F.sum("monetary")) * 100.0) / 100.0).alias("total_monetary"),
        )
        .orderBy("r_q", "f_q", "m_q")
    )


@q(
    "order_price_histogram",
    """
    WITH b AS (
      SELECT CAST(least(floor((o_totalprice - 0.0) / 25000.0), 19) AS INT)
               AS bucket
      FROM orders
    )
    SELECT bucket,
           round((bucket * 25000.0) * 10.0) / 10.0       AS lo,
           round(((bucket + 1) * 25000.0) * 10.0) / 10.0 AS hi,
           CAST(count(*) AS BIGINT)         AS n_orders
    FROM b GROUP BY bucket ORDER BY bucket
    """,
)
def order_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram (fixed $25k buckets, top bucket clamped) —
    the profiling complement to the equi-depth `segment_balance_deciles`
    (ntile) and the exact/approx quantile entries. Pure map-side floor
    arithmetic + a bucket-count shuffle bounded by bucket count, so
    the shape is scan-dominated at any volume."""
    orders = _t(spark, sf_dir, "orders")
    bucket = F.least(
        F.floor(F.col("o_totalprice") / 25000.0), F.lit(19)
    ).cast("int")
    return (
        orders.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
        .select(
            "bucket",
            (F.round((F.col("bucket") * 25000.0) * 10.0) / 10.0).alias("lo"),
            (F.round(((F.col("bucket") + 1) * 25000.0) * 10.0) / 10.0).alias("hi"),
            "n_orders",
        )
        .orderBy("bucket")
    )


@q(
    "brand_type_listing",
    """
    WITH per AS (
      SELECT p_brand,
             CAST(count(DISTINCT p_type) AS BIGINT) AS n_types,
             list(DISTINCT p_type) AS types
      FROM part GROUP BY p_brand
    )
    SELECT p_brand, n_types,
           array_to_string(list_sort(types)[1:5], ',') AS first_types
    FROM per ORDER BY p_brand
    """,
)
def brand_type_listing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered grouped string assembly (LISTAGG family): per brand,
    the distinct part-type census plus the first five types
    lexicographically, comma-joined. collect_set dedupes map-side
    before the (brand-bounded) shuffle; sort_array + slice keep
    the assembled string bounded and deterministic — grouped string
    aggregation is only scale-safe when the group payload is capped,
    which the slice makes explicit."""
    part = _t(spark, sf_dir, "part")
    return (
        part.groupBy("p_brand")
        .agg(F.collect_set("p_type").alias("types"))
        .select(
            "p_brand",
            F.size("types").cast("long").alias("n_types"),
            F.array_join(F.slice(F.sort_array("types"), 1, 5), ",").alias(
                "first_types"
            ),
        )
        .orderBy("p_brand")
    )


@q(
    "priority_price_dispersion",
    """
    WITH per_order AS (
      SELECT o.o_orderkey, o.o_orderpriority, o.o_totalprice,
             CAST(count(l.l_orderkey) AS BIGINT) AS n_items
      FROM orders o LEFT JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      GROUP BY o.o_orderkey, o.o_orderpriority, o.o_totalprice
    )
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           round((stddev_samp(o_totalprice)) * 100.0) / 100.0 AS price_stddev,
           round((corr(CAST(n_items AS DOUBLE), o_totalprice)) * 10000.0) / 10000.0
             AS items_price_corr
    FROM per_order GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def priority_price_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregate family (stddev_samp / corr — absent from
    the reference's COUNT-only surface, SURVEY §2.5): per priority, the
    price dispersion and the item-count↔price correlation. The
    per-order item count comes from one fact-key aggregate join; both
    moments then partial-aggregate map-side (sum/sum-of-squares/
    cross-moment decomposition is Spark's built-in implementation), so
    the priority-level shuffle carries five doubles per group."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    per_order = (
        orders.join(
            li.select("l_orderkey"),
            orders["o_orderkey"] == li["l_orderkey"],
            "left",
        )
        .groupBy("o_orderkey", "o_orderpriority", "o_totalprice")
        .agg(F.count("l_orderkey").cast("long").alias("n_items"))
    )
    return (
        per_order.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            # nanvl: Spark yields NaN (DuckDB: NULL) for stddev/corr on
            # single-row or zero-variance groups — map to NULL so the
            # engines stay identical on degenerate groups.
            F.round(
                F.nanvl(
                    F.stddev_samp("o_totalprice"),
                    F.lit(None).cast("double"),
                ),
                2,
            ).alias("price_stddev"),
            F.round(
                F.nanvl(
                    F.corr(F.col("n_items").cast("double"), F.col("o_totalprice")),
                    F.lit(None).cast("double"),
                ),
                4,
            ).alias("items_price_corr"),
        )
        .orderBy("o_orderpriority")
    )


@q(
    "status_priority_entropy",
    """
    WITH c AS (
      SELECT o_orderstatus, o_orderpriority,
             CAST(count(*) AS DOUBLE) AS n
      FROM orders GROUP BY o_orderstatus, o_orderpriority
    ),
    p AS (
      SELECT o_orderstatus, n / sum(n) OVER (PARTITION BY o_orderstatus) AS p
      FROM c
    )
    SELECT o_orderstatus,
           round((-sum(p * ln(p))) * 10000.0) / 10000.0 AS entropy_nats,
           CAST(count(*) AS BIGINT) AS n_classes
    FROM p GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def status_priority_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of the priority distribution within each order
    status — the information-theoretic balance metric (0 = one class
    dominates, ln(5) ≈ 1.609 = perfectly uniform over 5 priorities)
    used to monitor label balance in training data. Same scale shape
    as the chi-square entry: fact collapses to the class-count frame
    in one aggregate; probabilities and the entropy fold run over
    that bounded frame."""
    orders = _t(spark, sf_dir, "orders")
    c = orders.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).cast("double").alias("n")
    )
    p = c.select(
        "o_orderstatus",
        (
            F.col("n") / F.sum("n").over(W.partitionBy("o_orderstatus"))
        ).alias("p"),
    )
    return (
        p.groupBy("o_orderstatus")
        .agg(
            (F.round((-F.sum(F.col("p") * F.log(F.col("p")))) * 10000.0) / 10000.0).alias(
                "entropy_nats"
            ),
            F.count(F.lit(1)).cast("long").alias("n_classes"),
        )
        .orderBy("o_orderstatus")
    )


@q(
    "custkey_ancestry_depths",
    """
    WITH RECURSIVE anc AS (
      SELECT c_custkey AS node, c_custkey AS ancestor, 0 AS depth
      FROM customer WHERE c_custkey < 1024
      UNION ALL
      SELECT node, ancestor // 2, depth + 1 FROM anc WHERE ancestor >= 1
    )
    SELECT depth,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(node) AS BIGINT) AS node_checksum
    FROM anc GROUP BY depth ORDER BY depth
    """,
)
def custkey_ancestry_depths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4 ``WITH RECURSIVE``) — the hierarchical
    traversal family (org charts, BOM rollups, folder trees) the
    reference has no surface for. The testdata ships no parent-child
    table, so the hierarchy is the synthetic binary tree
    ``parent(k) = k div 2`` over custkeys: every customer's full
    ancestor chain is enumerated to the root, then rolled up per
    depth. UNION ALL recursion on a strict DAG with log2(N) depth —
    each iteration is one broadcast-able self-extension; rows never
    revisit a node, so the fixpoint is exactly N·log N rows."""
    cust = _t(spark, sf_dir, "customer")
    cust.select("c_custkey").createOrReplaceTempView("_anc_seed")
    return spark.sql(
        """
        WITH RECURSIVE anc AS (
          SELECT c_custkey AS node, c_custkey AS ancestor, 0 AS depth
          FROM _anc_seed WHERE c_custkey < 1024
          UNION ALL
          SELECT node, ancestor div 2, depth + 1 FROM anc WHERE ancestor >= 1
        )
        SELECT depth,
               CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(sum(node) AS BIGINT) AS node_checksum
        FROM anc GROUP BY depth ORDER BY depth
        """
    )


@q(
    "order_price_winsorized",
    """
    WITH cuts AS (
      SELECT quantile_cont(o_totalprice, 0.05)::DOUBLE AS lo,
             quantile_cont(o_totalprice, 0.95)::DOUBLE AS hi
      FROM orders
    )
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           round((avg(o_totalprice)) * 100.0) / 100.0 AS mean_raw,
           round((avg(least(greatest(o_totalprice, lo), hi))) * 100.0) / 100.0
             AS mean_winsorized,
           CAST(sum(CASE WHEN o_totalprice < lo OR o_totalprice > hi
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped
    FROM orders, cuts
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def order_price_winsorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization (percentile clipping, the standard robust
    preprocessing for heavy-tailed features): global p05/p95 cuts from
    ONE exact-percentile aggregate, broadcast back as a one-row frame,
    then a map-side clamp + per-priority stats. Two passes total —
    never a per-row correlated percentile. At 100 TB the cuts pass
    swaps to ``percentile_approx`` (same plan shape, sketch-merged)."""
    orders = _t(spark, sf_dir, "orders")
    cuts = orders.agg(
        F.expr("percentile(o_totalprice, 0.05)").alias("lo"),
        F.expr("percentile(o_totalprice, 0.95)").alias("hi"),
    )
    clipped = F.least(
        F.greatest(F.col("o_totalprice"), F.col("lo")), F.col("hi")
    )
    return (
        orders.crossJoin(F.broadcast(cuts))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            (F.round((F.avg("o_totalprice")) * 100.0) / 100.0).alias("mean_raw"),
            (F.round((F.avg(clipped)) * 100.0) / 100.0).alias("mean_winsorized"),
            F.sum(
                F.when(
                    (F.col("o_totalprice") < F.col("lo"))
                    | (F.col("o_totalprice") > F.col("hi")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_clipped"),
        )
        .orderBy("o_orderpriority")
    )


@q(
    "suppliers_with_orders_exists",
    """
    SELECT s.s_suppkey, s.s_name
    FROM supplier s
    WHERE EXISTS (
      SELECT 1 FROM lineitem l WHERE l.l_suppkey = s.s_suppkey
        AND l.l_quantity > 45
    )
    ORDER BY s.s_suppkey
    """,
)
def suppliers_with_orders_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS subquery in SQL-text form — Catalyst
    decorrelates it to one LeftSemi join (pinned in the plan tests), so
    the subquery never re-executes per outer row. Complements the
    DataFrame-API semi_join operator and the NOT IN anti form: all
    three spellings of membership land on the same physical plans."""
    _t(spark, sf_dir, "supplier").createOrReplaceTempView("_ex_supplier")
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("_ex_lineitem")
    return spark.sql(
        """
        SELECT s.s_suppkey, s.s_name
        FROM _ex_supplier s
        WHERE EXISTS (
          SELECT 1 FROM _ex_lineitem l WHERE l.l_suppkey = s.s_suppkey
            AND l.l_quantity > 45
        )
        ORDER BY s.s_suppkey
        """
    )


@q(
    "orders_vs_global_avg",
    """
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_above_avg,
           round((min(o_totalprice)) * 100.0) / 100.0 AS min_above
    FROM orders
    WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def orders_vs_global_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery: the global average computes ONCE
    (a one-row subquery broadcast into the filter), never per row —
    the plan shows a single ReusedSubquery/Subquery node feeding the
    scan filter. SQL-text form; the DataFrame spelling is the
    crossJoin(broadcast(agg)) pattern used by the winsorized entry."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("_ga_orders")
    return spark.sql(
        """
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_above_avg,
               round((min(o_totalprice)) * 100.0) / 100.0 AS min_above
        FROM _ga_orders
        WHERE o_totalprice > (SELECT avg(o_totalprice) FROM _ga_orders)
        GROUP BY o_orderpriority ORDER BY o_orderpriority
        """
    )


@q(
    "customer_page_two",
    """
    SELECT c_custkey, c_name, round((c_acctbal) * 100.0) / 100.0 AS acctbal
    FROM customer
    ORDER BY c_acctbal DESC, c_custkey ASC
    LIMIT 10 OFFSET 10
    """,
)
def customer_page_two(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIMIT/OFFSET pagination (page 2 of the balance leaderboard)
    with a fully deterministic sort (custkey tie-break). OFFSET in a
    distributed engine still sorts/skips the prefix — fine for bounded
    page depth; past a few thousand rows the scale-correct pattern is
    KEYSET pagination (WHERE (acctbal, custkey) < last-seen, same
    ORDER BY + LIMIT), which prunes instead of skipping."""
    cust = _t(spark, sf_dir, "customer")
    return (
        cust.select(
            "c_custkey",
            "c_name",
            (F.round((F.col("c_acctbal")) * 100.0) / 100.0).alias("acctbal"),
        )
        .orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
        .offset(10)
        .limit(10)
    )


@q(
    "priority_price_trend",
    """
    SELECT o_orderpriority,
           CAST(regr_count(o_totalprice, dayofyear(o_orderdate)) AS BIGINT)
             AS n_orders,
           round((regr_slope(o_totalprice,
                            CAST(dayofyear(o_orderdate) AS DOUBLE))) * 10000.0) / 10000.0
             AS slope,
           round((regr_intercept(o_totalprice,
                                CAST(dayofyear(o_orderdate) AS DOUBLE))) * 100.0) / 100.0
             AS intercept,
           round((regr_r2(o_totalprice,
                         CAST(dayofyear(o_orderdate) AS DOUBLE))) * 1000000.0) / 1000000.0 AS r2
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def priority_price_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority least-squares trend of order price over day-of-year
    via the SQL regression aggregates. regr_* decompose into running
    co-moments (n, Σx, Σy, Σxy, Σx², Σy²), so the whole fit is one
    hash aggregate with map-side partial combine — no per-group data
    movement beyond the six doubles, which is why this shape holds at
    100 TB while a per-group ``collect + np.polyfit`` would not."""
    orders = _t(spark, sf_dir, "orders")
    x = F.dayofyear("o_orderdate").cast("double")
    y = F.col("o_totalprice")
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.regr_count(y, x).cast("long").alias("n_orders"),
            (F.round((F.regr_slope(y, x)) * 10000.0) / 10000.0).alias("slope"),
            (F.round((F.regr_intercept(y, x)) * 100.0) / 100.0).alias("intercept"),
            (F.round((F.regr_r2(y, x)) * 1000000.0) / 1000000.0).alias("r2"),
        )
        .orderBy("o_orderpriority")
    )


@q(
    "priority_geomean_price",
    """
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
           round((exp(avg(ln(o_totalprice)))) * 100.0) / 100.0 AS geomean_price
    FROM orders WHERE o_totalprice > 0
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def priority_geomean_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometric-mean price per priority via a CUSTOM grouped-agg
    pandas UDAF — the one aggregate surface the inventory lacked. The
    UDAF is Arrow-batched (plans as ``ArrowAggregatePython``, never the
    banned row-at-a-time ``BatchEvalPython``); the scan still prunes to
    two columns and pushes the positive-price filter. Honest scale
    note: unlike JVM aggregates, pandas UDAFs get NO map-side partial
    combine — every row crosses the group shuffle — so a UDAF is the
    right tool only when the aggregate genuinely can't be decomposed
    into built-ins. This one CAN (the oracle's ``exp(avg(ln(x)))`` is
    the native partial-aggregating form); it's declared as a UDAF
    precisely to pin the custom-aggregate surface against the oracle.
    The log-mean-exp identity is the numerically stable form (a direct
    product of 1e6 prices overflows doubles). ANSI guard:
    positive-price filter on both sides keeps ``ln`` total."""
    @F.pandas_udf("double")
    def _geomean(v: pd.Series) -> float:
        return float(np.exp(np.log(v.to_numpy()).mean()))

    # Spark refuses to mix group-agg pandas UDFs with JVM aggregates in
    # one agg() (INVALID_PANDAS_UDF_PLACEMENT), so the row count rides
    # along as a second tiny UDAF instead of F.count.
    @F.pandas_udf("long")
    def _n(v: pd.Series) -> int:
        return len(v)

    orders = _t(spark, sf_dir, "orders").where(F.col("o_totalprice") > 0)
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            _n("o_totalprice").alias("n_orders"),
            (F.round((_geomean("o_totalprice")) * 100.0) / 100.0).alias("geomean_price"),
        )
        .orderBy("o_orderpriority")
    )


@q(
    "part_skyline_frontier",
    """
    SELECT x.p_partkey, x.p_size, x.p_retailprice
    FROM part x
    WHERE NOT EXISTS (
      SELECT 1 FROM part y
      WHERE y.p_size >= x.p_size AND y.p_retailprice <= x.p_retailprice
        AND (y.p_size > x.p_size OR y.p_retailprice < x.p_retailprice)
    )
    ORDER BY x.p_size DESC, x.p_partkey
    """,
)
def part_skyline_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto frontier): parts not dominated on
    (maximize size, minimize price). The oracle spells the O(n²)
    NOT EXISTS dominance test; the engine runs the O(n log n) sweep —
    collapse to per-size best price (one bounded-domain aggregate),
    then a running min over strictly-larger sizes decides survival,
    and a broadcast join back recovers the winning part rows (ties on
    (size, price) all survive, matching strict dominance). The global
    window orders only the per-size frame (|distinct sizes| rows —
    domain-bounded), never the fact."""
    part = _t(spark, sf_dir, "part")
    per_size = part.groupBy("p_size").agg(
        F.min("p_retailprice").alias("_bp")
    )
    w = W.orderBy(F.desc("p_size")).rowsBetween(W.unboundedPreceding, -1)
    front = (
        per_size.select(
            F.col("p_size").alias("_sz"),
            "_bp",
            F.min("_bp").over(w).alias("_min_larger"),
        )
        .where(F.col("_min_larger").isNull() | (F.col("_bp") < F.col("_min_larger")))
        .select("_sz", "_bp")
    )
    return (
        part.join(
            F.broadcast(front),
            (part.p_size == front._sz) & (part.p_retailprice == front._bp),
        )
        .select("p_partkey", "p_size", "p_retailprice")
        .orderBy(F.desc("p_size"), "p_partkey")
    )


@q(
    "order_price_benford",
    """
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                              AS VARCHAR), 1, 1) AS BIGINT) AS digit
      FROM orders WHERE o_totalprice > 0
    ),
    c AS (SELECT digit, count(*) AS n FROM d GROUP BY digit),
    t AS (SELECT digit, n, sum(n) OVER () AS total FROM c)
    SELECT digit, CAST(n AS BIGINT) AS n_orders,
           round(n * 10000.0 / total) / 10000.0 AS obs_pct,
           round(log10(1 + 1.0 / digit) * 10000.0) / 10000.0 AS benford_pct,
           round(abs(n * 1.0 / total - log10(1 + 1.0 / digit)) * 10000.0)
             / 10000.0 AS abs_dev
    FROM t ORDER BY digit
    """,
)
def order_price_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law leading-digit profile of order totals — the
    classic fabricated-data / unit-mixing screen. Map-only digit
    extraction, a 9-bucket aggregate, and a 9-row window for the
    total: nothing but the partial counts ever cross the shuffle, so
    the screen is one fact scan at any scale.

    DETERMINISM (r3 transcendental audit): the digit — a GROUP KEY —
    derives from the leading character of the exact cents BIGINT
    (prices are cents-quantized at the source, and multiplying by 100
    never changes the leading digit of a positive value), NOT from
    floor(log10(x)): exact powers of 10 ARE reachable prices
    (10.00, 100.00, …), their true log10 is exactly integer, and a
    libm returning 1 ulp low would flip floor() — digit 1 becoming
    digit 9 — differently per engine. The remaining log10 feeds only
    the display-rounded theoretical-share columns, where the true
    values are transcendental (never exactly on a grid boundary)."""
    orders = _t(spark, sf_dir, "orders").where(F.col("o_totalprice") > 0)
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    digit = F.substring(cents.cast("string"), 1, 1).cast("long")
    counts = orders.groupBy(digit.alias("digit")).agg(
        F.count(F.lit(1)).alias("n")
    )
    total = F.sum("n").over(W.partitionBy())
    ben = F.log10(F.lit(1) + F.lit(1.0) / F.col("digit"))
    return (
        counts.select(
            "digit",
            F.col("n").cast("long").alias("n_orders"),
            (F.round(F.col("n") * 10000.0 / total) / 10000.0).alias("obs_pct"),
            (F.round(ben * 10000.0) / 10000.0).alias("benford_pct"),
            (
                F.round(F.abs(F.col("n") * 1.0 / total - ben) * 10000.0)
                / 10000.0
            ).alias("abs_dev"),
        )
        .orderBy("digit")
    )


@q(
    "orders_incremental_agg_merge",
    """
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
           round((sum(o_totalprice)) * 100.0) / 100.0 AS total_price,
           min(o_totalprice) AS min_price,
           max(o_totalprice) AS max_price,
           round((sum(o_totalprice) / count(*)) * 10000.0) / 10000.0 AS avg_price
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def orders_incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance: the orders fact is split into
    a 'history' slice and a 'new-partition' slice, each reduced to
    per-priority PARTIAL aggregates (count/sum/min/max — all algebraic:
    their merge is itself count-sum/sum/min/max, and avg derives from
    the merged sum and count), then the partials are merged WITHOUT
    touching the underlying rows again. The oracle recomputes from the
    full table in one pass — hash equality proves merge ≡ recompute,
    which is the contract that lets a materialized 100 TB rollup absorb
    each new ingest slice at the cost of aggregating ONLY that slice.
    (The same decomposition is what Spark's own partial aggregation
    does inside one query; here it is made explicit ACROSS queries,
    i.e. across time. Non-algebraic aggregates need sketch
    intermediates instead — the HLL/bitmap/CMS entries.)"""
    orders = _t(spark, sf_dir, "orders")
    cut = F.lit("1997-01-01").cast("date")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("pn"),
            F.sum("o_totalprice").alias("ps"),
            F.min("o_totalprice").alias("pmin"),
            F.max("o_totalprice").alias("pmax"),
        )

    history = partial(orders.where(F.col("o_orderdate") < cut))
    delta = partial(orders.where(F.col("o_orderdate") >= cut))
    return (
        history.unionByName(delta)
        .groupBy("o_orderpriority")
        .agg(
            F.sum("pn").cast("long").alias("n_orders"),
            (F.round((F.sum("ps")) * 100.0) / 100.0).alias("total_price"),
            F.min("pmin").alias("min_price"),
            F.max("pmax").alias("max_price"),
            (F.round((F.sum("ps") / F.sum("pn")) * 10000.0) / 10000.0).alias("avg_price"),
        )
        .orderBy("o_orderpriority")
    )


@q(
    "customer_k_anonymity",
    """
    SELECT c_nationkey, c_mktsegment,
           CAST(floor(c_acctbal / 2000) AS BIGINT) AS bal_bucket,
           CAST(count(*) AS BIGINT) AS group_size,
           CASE WHEN count(*) < 5 THEN 1 ELSE 0 END AS at_risk
    FROM customer
    GROUP BY c_nationkey, c_mktsegment, floor(c_acctbal / 2000)
    ORDER BY c_nationkey, c_mktsegment, bal_bucket
    """,
)
def customer_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (k=5) over the quasi-identifier tuple
    (nation, market segment, coarse balance bucket): any equivalence
    class smaller than k re-identifies its members under linkage
    attacks, so releases must suppress or generalize those rows. One
    hash aggregate over the dimension — the privacy sibling of the PII
    scrub operators (`scrub_pii` redacts direct identifiers; this
    measures the indirect ones). At 100 TB the group count is bounded
    by the quasi-identifier domain, not the fact, so the audit is one
    map-combined shuffle like any low-cardinality rollup."""
    cust = _t(spark, sf_dir, "customer")
    return (
        cust.groupBy(
            "c_nationkey",
            "c_mktsegment",
            F.floor(F.col("c_acctbal") / 2000).cast("long").alias("bal_bucket"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("group_size"))
        .select(
            "c_nationkey",
            "c_mktsegment",
            "bal_bucket",
            "group_size",
            F.when(F.col("group_size") < 5, 1).otherwise(0).alias("at_risk"),
        )
        .orderBy("c_nationkey", "c_mktsegment", "bal_bucket")
    )


@q(
    "priority_customer_multiset",
    """
    WITH a AS (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'),
    b AS (SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH'),
    i AS (
      SELECT 'intersect_all' AS set_op, o_custkey
      FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b)
    ),
    x AS (
      SELECT 'except_all' AS set_op, o_custkey
      FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b)
    )
    SELECT set_op, o_custkey, CAST(count(*) AS BIGINT) AS n_rows
    FROM (SELECT * FROM i UNION ALL SELECT * FROM x)
    GROUP BY set_op, o_custkey ORDER BY set_op, o_custkey
    """,
)
def priority_customer_multiset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset (bag) set operations — INTERSECT ALL keeps
    min(count_a, count_b) copies per key, EXCEPT ALL keeps
    count_a − count_b — via Spark's native ``intersectAll`` /
    ``exceptAll``, completing the set-op family next to the DISTINCT
    variants in `customer_order_cohorts`. Both plan as a single
    aggregate-then-replicate over the union (no join), so the cost is
    one shuffle on the compared row, exactly like the SQL spec's
    counting semantics. Per-key output counts make duplicate
    multiplicity visible to the oracle compare."""
    orders = _t(spark, sf_dir, "orders")
    a = orders.where(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    b = orders.where(F.col("o_orderpriority") == "2-HIGH").select("o_custkey")
    tagged = a.intersectAll(b).select(
        F.lit("intersect_all").alias("set_op"), "o_custkey"
    ).unionByName(
        a.exceptAll(b).select(F.lit("except_all").alias("set_op"), "o_custkey")
    )
    return (
        tagged.groupBy("set_op", "o_custkey")
        .agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
        .orderBy("set_op", "o_custkey")
    )


def _md5_hex_int_sql(expr: str, salt: str, n_hex: int) -> str:
    """DuckDB spelling of conv(substr(md5(salt||expr),1,n_hex),16,10):
    positional nibble arithmetic over the md5 hex prefix (DuckDB has no
    base-16 string→int conversion; instr over the hex alphabet is the
    same engine-portable trick as analytics._md5_byte_sql)."""
    h = f"md5('{salt}' || {expr})"
    terms = " + ".join(
        f"(instr('0123456789abcdef', substr({h}, {i + 1}, 1)) - 1)"
        f" * {16 ** (n_hex - 1 - i)}"
        for i in range(n_hex)
    )
    return f"({terms})"


_ROW_STR = (
    "CAST(o_orderkey AS VARCHAR) || '|' || CAST(o_custkey AS VARCHAR)"
    " || '|' || o_orderstatus || '|' || o_orderpriority"
)


@q(
    "orders_partition_checksums",
    f"""
    SELECT strftime(o_orderdate, '%Y-%m') AS month,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum({_md5_hex_int_sql(_ROW_STR, "ck:", 8)}) AS BIGINT)
             AS checksum
    FROM orders GROUP BY strftime(o_orderdate, '%Y-%m')
    ORDER BY month
    """,
)
def orders_partition_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition table fingerprints for cross-system reconciliation:
    each row hashes its canonical key/attribute string to a 32-bit
    md5-prefix integer, and a partition's checksum is the SUM of its
    row hashes — order-independent, mergeable (a partition's checksum
    is the sum of its files' checksums), and engine-portable (md5 is
    bit-identical everywhere; replica drift shows up as a differing
    (month, checksum) row without shipping any data). This is how two
    100 TB replicas compare: exchange |partitions| rows, re-sync only
    divergent months. Floats stay OUT of the hashed string — their
    decimal rendering is not engine-portable; the salt keeps this
    fingerprint independent of the sampling operators' md5 buckets.
    Map-only hash + one low-cardinality aggregate."""
    orders = _t(spark, sf_dir, "orders")
    row_str = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.col("o_orderstatus"),
        F.col("o_orderpriority"),
    )
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("ck:"), row_str)), 1, 8), 16, 10
    ).cast("long")
    return (
        orders.groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("month"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(h).cast("long").alias("checksum"),
        )
        .orderBy("month")
    )


@q(
    "part_abc_classification",
    """
    WITH rev AS (
      SELECT l_partkey,
             CAST(round(sum(l_extendedprice * (1 - l_discount)) * 100.0)
                  AS BIGINT) AS cents
      FROM lineitem GROUP BY l_partkey
    ),
    c AS (
      SELECT cents,
             sum(cents) OVER (ORDER BY cents DESC, l_partkey
                              ROWS UNBOUNDED PRECEDING) AS cum_cents,
             sum(cents) OVER () AS total_cents
      FROM rev
    ),
    k AS (
      SELECT CASE WHEN 5 * cum_cents <= 4 * total_cents THEN 'A'
                  WHEN 20 * cum_cents <= 19 * total_cents THEN 'B'
                  ELSE 'C' END AS abc_class,
             cents, total_cents
      FROM c
    )
    SELECT abc_class, CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(cents) AS DOUBLE) / 100.0 AS class_revenue,
           round(CAST(sum(cents) AS DOUBLE) * 10000.0 / max(total_cents))
             / 10000.0 AS revenue_share
    FROM k GROUP BY abc_class ORDER BY abc_class
    """,
)
def part_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto classification of parts by revenue: rank by
    revenue, A = parts inside the first 80% of cumulative revenue,
    B = next 15%, C = the tail — the standard inventory-prioritization
    cut. Per-part revenue lives as exact-integer CENTS end to end
    (CLAUDE.md's membership rule): the cumulative sums are BIGINTs —
    order-independent, so the two-level prefix can't re-associate a
    float — and the 80/95% thresholds are integer cross-
    multiplications (5·cum ≤ 4·total, 20·cum ≤ 19·total; headroom:
    20·total_cents overflows BIGINT only past ~4.6e17 cents ≈ $4.6
    quadrillion). The prefix sums come from ``ordered_prefix``
    (range-bucket two-level: approx-cut placement, exact-integer
    offsets — the r4 allowlist's documented repartitionByRange swap,
    now landed), so no task ever sorts the whole part frame; the fact
    contributes one grouped aggregate."""
    from ..operators.ranking import ordered_prefix

    li = _t(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            * 100.0
        )
        .cast("long")
        .alias("cents")
    )
    tot = rev.agg(F.sum("cents").cast("long").alias("total_cents"))
    pre = ordered_prefix(
        rev.withColumn("_negc", -F.col("cents")),
        "_negc",
        ["l_partkey"],
        rank_col=None,
        sums={"_before": "cents"},
        buckets=32,
        materialize=False,
    )
    cum = F.col("_before") + F.col("cents")
    k = pre.crossJoin(F.broadcast(tot)).select(
        F.when(5 * cum <= 4 * F.col("total_cents"), "A")
        .when(20 * cum <= 19 * F.col("total_cents"), "B")
        .otherwise("C")
        .alias("abc_class"),
        "cents",
        "total_cents",
    )
    return (
        k.groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            (F.sum("cents").cast("double") / 100.0).alias("class_revenue"),
            (
                F.round(
                    F.sum("cents").cast("double")
                    * 10000.0
                    / F.max("total_cents")
                )
                / 10000.0
            ).alias("revenue_share"),
        )
        .orderBy("abc_class")
    )


@q(
    "order_price_woe_bins",
    """
    WITH r AS (
      SELECT o_totalprice,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS bad,
             ntile(10) OVER (ORDER BY o_totalprice ASC, o_orderkey ASC) AS bin
      FROM orders
    ),
    c AS (
      SELECT bin, CAST(count(*) AS DOUBLE) AS n, CAST(sum(bad) AS DOUBLE) AS nb
      FROM r GROUP BY bin
    ),
    t AS (SELECT c.*, sum(n) OVER () AS tot, sum(nb) OVER () AS b FROM c)
    SELECT bin, CAST(n AS BIGINT) AS n_orders, CAST(nb AS BIGINT) AS n_bad,
           round(ln((((n - nb) + 0.5) / ((tot - b) + 5.0)) / ((nb + 0.5) / (b + 5.0)))
                 * 1000000.0) / 1000000.0 AS woe,
           round(((((n - nb) + 0.5) / ((tot - b) + 5.0)) - ((nb + 0.5) / (b + 5.0)))
                 * ln((((n - nb) + 0.5) / ((tot - b) + 5.0)) / ((nb + 0.5) / (b + 5.0)))
                 * 1000000.0) / 1000000.0 AS iv_term
    FROM t ORDER BY bin
    """,
)
def order_price_woe_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence encoding of order price vs the binary
    'finished' label (o_orderstatus = 'F'): decile-bin the price,
    then per bin WOE = ln(good-share / bad-share) with +0.5 Laplace
    smoothing (finite even for pure bins), plus the information-value
    term whose column sum is the feature's IV — the classic
    supervised binning for risk scorecards and a leakage-free
    categorical encoder. ntile ties break on o_orderkey so both
    engines assign identical bins. The oracle keeps the literal
    ntile; the Spark plan computes the IDENTICAL deciles without a
    single-partition window (the r4 allowlist's documented swap, now
    landed): ``ordered_prefix`` global ranks (range-bucket two-level,
    exact-integer offsets) + ``ntile_of_rank`` integer bucket
    arithmetic — no float can flip a bin edge."""
    from ..operators.ranking import ntile_of_rank, ordered_prefix

    orders = _t(spark, sf_dir, "orders")
    # persisted (ADVICE r5): the count, both ordered_prefix aux jobs,
    # and the final window re-scan this projection otherwise.
    base = orders.select(
        "o_totalprice",
        "o_orderkey",
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("bad"),
    ).persist()
    n = base.agg(F.count(F.lit(1)).cast("long").alias("_n"))
    r = (
        ordered_prefix(
            base, "o_totalprice", ["o_orderkey"], rank_col="_r", buckets=32
        )
        .crossJoin(F.broadcast(n))
        .select(
            "bad",
            ntile_of_rank(F.col("_r"), F.col("_n"), 10).alias("bin"),
        )
    )
    c = r.groupBy("bin").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("bad").cast("double").alias("nb"),
    )
    t = c.select(
        "bin",
        "n",
        "nb",
        F.sum("n").over(W.partitionBy()).alias("tot"),
        F.sum("nb").over(W.partitionBy()).alias("b"),
    )
    good_share = ((F.col("n") - F.col("nb")) + 0.5) / (
        (F.col("tot") - F.col("b")) + 5.0
    )
    bad_share = (F.col("nb") + 0.5) / (F.col("b") + 5.0)
    woe = F.log(good_share / bad_share)
    return (
        t.select(
            "bin",
            F.col("n").cast("long").alias("n_orders"),
            F.col("nb").cast("long").alias("n_bad"),
            (F.round(woe * 1000000.0) / 1000000.0).alias("woe"),
            (F.round((good_share - bad_share) * woe * 1000000.0) / 1000000.0).alias(
                "iv_term"
            ),
        )
        .orderBy("bin")
    )


@q(
    "brand_basket_rules",
    """
    WITH ob AS (
      SELECT DISTINCT l_orderkey, p_brand
      FROM lineitem JOIN part ON l_partkey = p_partkey
    ),
    nord AS (SELECT CAST(count(DISTINCT l_orderkey) AS DOUBLE) AS n FROM ob),
    bc AS (SELECT p_brand, CAST(count(*) AS DOUBLE) AS nb FROM ob GROUP BY p_brand),
    pairs AS (
      SELECT a.p_brand AS b1, b.p_brand AS b2, CAST(count(*) AS DOUBLE) AS np
      FROM ob a JOIN ob b ON b.l_orderkey = a.l_orderkey AND a.p_brand < b.p_brand
      GROUP BY a.p_brand, b.p_brand
    )
    SELECT b1, b2, CAST(np AS BIGINT) AS n_both,
           round((np / nord.n) * 1000000.0) / 1000000.0 AS support,
           round((np / c1.nb) * 1000000.0) / 1000000.0 AS conf_fwd,
           round((np / c2.nb) * 1000000.0) / 1000000.0 AS conf_rev,
           round((np * nord.n / (c1.nb * c2.nb)) * 1000000.0) / 1000000.0 AS lift
    FROM pairs, nord
    JOIN bc c1 ON c1.p_brand = pairs.b1
    JOIN bc c2 ON c2.p_brand = pairs.b2
    WHERE np / nord.n >= 0.005
    ORDER BY np * nord.n / (c1.nb * c2.nb) DESC, b1 ASC, b2 ASC
    LIMIT 20
    """,
)
def brand_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over brands co-purchased in one
    order: support, both-direction confidence, and lift for the top-20
    highest-lift brand pairs above minimum support. The pair build is
    an equi-self-join on the order key of the DISTINCT (order, brand)
    set — fan-out is bounded by brands-per-order (≤ items-per-order),
    never |brands|². Brand marginals (|brands| rows) broadcast onto
    the pair aggregate, so the only real shuffles are the distinct
    and the pair count. Lift is a single fp expression over exact
    integer counts — bit-identical both engines — so ordering by the
    RAW lift (tie-broken by pair) picks the same 20 rows before the
    display round. At 100 TB this is the FPGrowth-1/2-itemset pass;
    deeper itemsets iterate the same join shape."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    ob = (
        li.join(gated_broadcast(part, sf_dir, "part"), li.l_partkey == part.p_partkey)
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    nord = ob.agg(F.countDistinct("l_orderkey").cast("double").alias("n"))
    bc = ob.groupBy("p_brand").agg(F.count(F.lit(1)).cast("double").alias("nb"))
    a = ob.select(F.col("l_orderkey"), F.col("p_brand").alias("b1"))
    b = ob.select(
        F.col("l_orderkey").alias("l_orderkey2"), F.col("p_brand").alias("b2")
    )
    pairs = (
        a.join(b, (a.l_orderkey == b.l_orderkey2) & (F.col("b1") < F.col("b2")))
        .groupBy("b1", "b2")
        .agg(F.count(F.lit(1)).cast("double").alias("np"))
    )
    c1 = bc.select(F.col("p_brand").alias("b1"), F.col("nb").alias("nb1"))
    c2 = bc.select(F.col("p_brand").alias("b2"), F.col("nb").alias("nb2"))
    lift = F.col("np") * F.col("n") / (F.col("nb1") * F.col("nb2"))
    return (
        pairs.crossJoin(F.broadcast(nord))
        .join(F.broadcast(c1), "b1")
        .join(F.broadcast(c2), "b2")
        .where(F.col("np") / F.col("n") >= 0.005)
        .orderBy(F.desc(lift), F.asc("b1"), F.asc("b2"))
        .limit(20)
        .select(
            "b1",
            "b2",
            F.col("np").cast("long").alias("n_both"),
            (F.round(F.col("np") / F.col("n") * 1000000.0) / 1000000.0).alias(
                "support"
            ),
            (F.round(F.col("np") / F.col("nb1") * 1000000.0) / 1000000.0).alias(
                "conf_fwd"
            ),
            (F.round(F.col("np") / F.col("nb2") * 1000000.0) / 1000000.0).alias(
                "conf_rev"
            ),
            (F.round(lift * 1000000.0) / 1000000.0).alias("lift"),
        )
    )


_GRID_R = 4.0  # degrees; cell size == radius so 3×3 neighborhood suffices


def _coord_sql(key: str, salt: str, span: float, off: float) -> str:
    return f"({_md5_u16_sql(key, salt)} / 65536.0 * {span} - {off})"


@q(
    "customer_supplier_grid_join",
    f"""
    WITH c AS (
      SELECT c_custkey,
             {_coord_sql("CAST(c_custkey AS VARCHAR)", "clat:", 180.0, 90.0)} AS lat,
             {_coord_sql("CAST(c_custkey AS VARCHAR)", "clon:", 360.0, 180.0)} AS lon
      FROM customer
    ),
    s AS (
      SELECT s_suppkey,
             {_coord_sql("CAST(s_suppkey AS VARCHAR)", "slat:", 180.0, 90.0)} AS lat,
             {_coord_sql("CAST(s_suppkey AS VARCHAR)", "slon:", 360.0, 180.0)} AS lon
      FROM supplier
    ),
    sx AS (
      SELECT s.*, CAST(floor(lat / {_GRID_R}) AS INT) + dy.dy AS cy,
             CAST(floor(lon / {_GRID_R}) AS INT) + dx.dx AS cx
      FROM s
      CROSS JOIN (VALUES (-1), (0), (1)) dy(dy)
      CROSS JOIN (VALUES (-1), (0), (1)) dx(dx)
    )
    SELECT c.c_custkey, sx.s_suppkey,
           round(sqrt((c.lat - sx.lat) * (c.lat - sx.lat)
                      + (c.lon - sx.lon) * (c.lon - sx.lon)) * 1000000.0)
             / 1000000.0 AS dist_deg
    FROM c JOIN sx
      ON CAST(floor(c.lat / {_GRID_R}) AS INT) = sx.cy
     AND CAST(floor(c.lon / {_GRID_R}) AS INT) = sx.cx
    WHERE (c.lat - sx.lat) * (c.lat - sx.lat)
          + (c.lon - sx.lon) * (c.lon - sx.lon) < {_GRID_R} * {_GRID_R}
    ORDER BY c.c_custkey, sx.s_suppkey
    """,
)
def customer_supplier_grid_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial proximity join via grid bucketing: customers paired
    with every supplier within 4° (planar L2 on synthetic md5-derived
    coordinates — per-side salts, no trig so membership is exact IEEE
    arithmetic in both engines). The canonical distributed spatial
    join: quantize to radius-sized cells, explode ONE side to its 3×3
    cell neighborhood, equi-join on the cell key, then refine with
    the exact distance predicate — turning an unjoinable
    theta-distance condition into a shuffle-equi-join with bounded
    (9×) fan-out on the smaller side. At 100 TB both sides shuffle
    once on the cell key (or the exploded side broadcasts, as here
    with the dim-sized supplier table); skewed cells (urban density)
    would split via AQE skew handling or a finer grid. Longitude
    wraparound at ±180° is ignored on this synthetic plane."""
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        (_md5_uint16(F.col("c_custkey"), salt="clat:").cast("double")
         / 65536.0 * 180.0 - 90.0).alias("lat"),
        (_md5_uint16(F.col("c_custkey"), salt="clon:").cast("double")
         / 65536.0 * 360.0 - 180.0).alias("lon"),
    )
    supp = _t(spark, sf_dir, "supplier").select(
        "s_suppkey",
        (_md5_uint16(F.col("s_suppkey"), salt="slat:").cast("double")
         / 65536.0 * 180.0 - 90.0).alias("lat"),
        (_md5_uint16(F.col("s_suppkey"), salt="slon:").cast("double")
         / 65536.0 * 360.0 - 180.0).alias("lon"),
    )
    off = F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1)))
    sx = (
        supp.withColumn("dy", off)
        .withColumn("dx", off)
        .select(
            F.col("s_suppkey"),
            F.col("lat").alias("slat"),
            F.col("lon").alias("slon"),
            (F.floor(F.col("lat") / _GRID_R).cast("int") + F.col("dy")).alias("cy"),
            (F.floor(F.col("lon") / _GRID_R).cast("int") + F.col("dx")).alias("cx"),
        )
    )
    d2 = (F.col("lat") - F.col("slat")) * (F.col("lat") - F.col("slat")) + (
        F.col("lon") - F.col("slon")
    ) * (F.col("lon") - F.col("slon"))
    return (
        cust.join(
            F.broadcast(sx),
            (F.floor(F.col("lat") / _GRID_R).cast("int") == F.col("cy"))
            & (F.floor(F.col("lon") / _GRID_R).cast("int") == F.col("cx")),
        )
        .where(d2 < _GRID_R * _GRID_R)
        .select(
            "c_custkey",
            "s_suppkey",
            (F.round(F.sqrt(d2) * 1000000.0) / 1000000.0).alias("dist_deg"),
        )
        .orderBy("c_custkey", "s_suppkey")
    )


_PR_SQL_GRAPH = """
    ob AS (
      SELECT DISTINCT l_orderkey, p_brand
      FROM lineitem JOIN part ON l_partkey = p_partkey
    ),
    nodes AS (SELECT DISTINCT p_brand AS brand FROM ob),
    cnt AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
    pairs AS (
      SELECT a.p_brand AS b1, b.p_brand AS b2, CAST(count(*) AS DOUBLE) AS np
      FROM ob a JOIN ob b ON b.l_orderkey = a.l_orderkey AND a.p_brand < b.p_brand
      GROUP BY a.p_brand, b.p_brand
    ),
    edges AS (
      SELECT b1 AS src, b2 AS dst, np FROM pairs
      UNION ALL
      SELECT b2 AS src, b1 AS dst, np FROM pairs
    )
"""


def _pr_iter_sql(prev: str, name: str) -> str:
    return f"""
    {name} AS (
      SELECT nd.brand, 0.15 / cnt.n + 0.85 * coalesce(s.inflow, 0.0) AS pr
      FROM nodes nd CROSS JOIN cnt
      LEFT JOIN (
        SELECT ew.dst, sum(ew.w * {prev}.pr) AS inflow
        FROM ew JOIN {prev} ON {prev}.brand = ew.src
        GROUP BY ew.dst
      ) s ON s.dst = nd.brand
    )"""


@q(
    "brand_copurchase_pagerank",
    f"""
    WITH {_PR_SQL_GRAPH},
    deg AS (SELECT src, sum(np) AS deg FROM edges GROUP BY src),
    ew AS (
      SELECT e.src, e.dst, e.np / d.deg AS w
      FROM edges e JOIN deg d ON d.src = e.src
    ),
    r0 AS (SELECT brand, 1.0 / cnt.n AS pr FROM nodes, cnt),
    {_pr_iter_sql("r0", "r1")},
    {_pr_iter_sql("r1", "r2")},
    {_pr_iter_sql("r2", "r3")}
    SELECT brand, round(pr * 1000000.0) / 1000000.0 AS pagerank
    FROM r3 ORDER BY brand
    """,
)
def brand_copurchase_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank (damping 0.85) on the brand co-purchase graph
    after exactly 3 power iterations from the uniform vector — the
    fixed-iteration unrolling that makes an 'iterative' graph
    algorithm a plain relational program (each iteration is one
    edges⋈ranks join + a per-node sum; the oracle spells the same
    three unrolled CTEs). Edge weights are co-purchase counts,
    row-normalized into a transition matrix. The rank vector is
    |brands|-sized — it BROADCASTS onto the edge list each iteration,
    so at 100 TB only the one-time pair count shuffles the fact
    table; iterating costs |edges|-sized joins. Output is ordered by
    brand (never by the float), so fp summation-order noise stays in
    the rounded payload."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    ob = (
        li.join(gated_broadcast(part, sf_dir, "part"), li.l_partkey == part.p_partkey)
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    nodes = ob.select(F.col("p_brand").alias("brand")).distinct()
    cnt = nodes.agg(F.count(F.lit(1)).cast("double").alias("n"))
    a = ob.select("l_orderkey", F.col("p_brand").alias("b1"))
    b = ob.select(
        F.col("l_orderkey").alias("lo2"), F.col("p_brand").alias("b2")
    )
    pairs = (
        a.join(b, (a.l_orderkey == b.lo2) & (F.col("b1") < F.col("b2")))
        .groupBy("b1", "b2")
        .agg(F.count(F.lit(1)).cast("double").alias("np"))
    )
    edges = pairs.select(
        F.col("b1").alias("src"), F.col("b2").alias("dst"), "np"
    ).unionByName(
        pairs.select(F.col("b2").alias("src"), F.col("b1").alias("dst"), "np")
    )
    deg = edges.groupBy("src").agg(F.sum("np").alias("deg"))
    ew = edges.join(deg, "src").select(
        "src", "dst", (F.col("np") / F.col("deg")).alias("w")
    )
    base = nodes.crossJoin(F.broadcast(cnt))
    r = base.select("brand", (F.lit(1.0) / F.col("n")).alias("pr"))
    for _ in range(3):
        inflow = (
            ew.join(
                F.broadcast(r.select(F.col("brand").alias("src"), "pr")), "src"
            )
            .groupBy("dst")
            .agg(F.sum(F.col("w") * F.col("pr")).alias("inflow"))
        )
        r = (
            base.join(
                F.broadcast(inflow.withColumnRenamed("dst", "brand")),
                "brand",
                "left",
            )
            .select(
                "brand",
                (
                    0.15 / F.col("n")
                    + 0.85 * F.coalesce(F.col("inflow"), F.lit(0.0))
                ).alias("pr"),
            )
        )
    return r.select(
        "brand", (F.round(F.col("pr") * 1000000.0) / 1000000.0).alias("pagerank")
    ).orderBy("brand")


@q(
    "brand_copurchase_triangles",
    """
    WITH ob AS (
      SELECT DISTINCT l_orderkey, p_brand
      FROM lineitem JOIN part ON l_partkey = p_partkey
    ),
    nord AS (SELECT CAST(count(DISTINCT l_orderkey) AS DOUBLE) AS n FROM ob),
    bc AS (SELECT p_brand, CAST(count(*) AS DOUBLE) AS nb FROM ob GROUP BY p_brand),
    pairs AS (
      SELECT a.p_brand AS b1, b.p_brand AS b2, CAST(count(*) AS DOUBLE) AS np
      FROM ob a JOIN ob b ON b.l_orderkey = a.l_orderkey AND a.p_brand < b.p_brand
      GROUP BY a.p_brand, b.p_brand
    ),
    edges AS (
      SELECT b1, b2 FROM pairs, nord
      JOIN bc c1 ON c1.p_brand = pairs.b1
      JOIN bc c2 ON c2.p_brand = pairs.b2
      WHERE np * nord.n / (c1.nb * c2.nb) > 1.0
    ),
    tri AS (
      SELECT e1.b1 AS a, e1.b2 AS b, e2.b2 AS c
      FROM edges e1
      JOIN edges e2 ON e2.b1 = e1.b2
      JOIN edges e3 ON e3.b1 = e1.b1 AND e3.b2 = e2.b2
    ),
    corners AS (
      SELECT a AS brand FROM tri
      UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri
    ),
    degs AS (
      SELECT brand, CAST(count(*) AS BIGINT) AS degree
      FROM (SELECT b1 AS brand FROM edges UNION ALL SELECT b2 FROM edges)
      GROUP BY brand
    )
    SELECT d.brand, d.degree,
           CAST(coalesce(t.n, 0) AS BIGINT) AS n_triangles
    FROM degs d
    LEFT JOIN (SELECT brand, count(*) AS n FROM corners GROUP BY brand) t
      ON t.brand = d.brand
    ORDER BY d.brand
    """,
)
def brand_copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting on the lift-filtered brand co-purchase graph
    (edges kept only when observed co-purchase exceeds the
    independence expectation, lift > 1): per-brand degree and the
    number of triangles each brand participates in — the local
    clustering structure that connected components can't see, and
    the classic distributed-graph benchmark op. Enumeration uses the
    a<b<c orientation (each triangle counted once) as two
    edge-list self-joins; the lift predicate is a single fp
    expression over exact counts, so edge membership is bit-identical
    across engines. At 100 TB the same plan holds with edges
    pre-partitioned by key — fan-out is bounded by the heavy-hitter
    degree, which the lift filter itself suppresses (high-df nodes
    rarely beat independence)."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    ob = (
        li.join(gated_broadcast(part, sf_dir, "part"), li.l_partkey == part.p_partkey)
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    nord = ob.agg(F.countDistinct("l_orderkey").cast("double").alias("n"))
    bc = ob.groupBy("p_brand").agg(F.count(F.lit(1)).cast("double").alias("nb"))
    a = ob.select("l_orderkey", F.col("p_brand").alias("b1"))
    b = ob.select(F.col("l_orderkey").alias("lo2"), F.col("p_brand").alias("b2"))
    pairs = (
        a.join(b, (a.l_orderkey == b.lo2) & (F.col("b1") < F.col("b2")))
        .groupBy("b1", "b2")
        .agg(F.count(F.lit(1)).cast("double").alias("np"))
    )
    c1 = bc.select(F.col("p_brand").alias("b1"), F.col("nb").alias("nb1"))
    c2 = bc.select(F.col("p_brand").alias("b2"), F.col("nb").alias("nb2"))
    edges = (
        pairs.crossJoin(F.broadcast(nord))
        .join(F.broadcast(c1), "b1")
        .join(F.broadcast(c2), "b2")
        .where(F.col("np") * F.col("n") / (F.col("nb1") * F.col("nb2")) > 1.0)
        .select("b1", "b2")
    )
    e1 = edges.select(F.col("b1").alias("a"), F.col("b2").alias("b"))
    e2 = edges.select(F.col("b1").alias("b"), F.col("b2").alias("c"))
    e3 = edges.select(F.col("b1").alias("a2"), F.col("b2").alias("c2"))
    tri = e1.join(e2, "b").join(
        e3, (F.col("a") == F.col("a2")) & (F.col("c") == F.col("c2"))
    )
    corners = (
        tri.select(F.col("a").alias("brand"))
        .unionByName(tri.select(F.col("b").alias("brand")))
        .unionByName(tri.select(F.col("c").alias("brand")))
        .groupBy("brand")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    degs = (
        edges.select(F.col("b1").alias("brand"))
        .unionByName(edges.select(F.col("b2").alias("brand")))
        .groupBy("brand")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )
    return (
        degs.join(F.broadcast(corners), "brand", "left")
        .select(
            "brand",
            "degree",
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_triangles"),
        )
        .orderBy("brand")
    )


@q(
    "order_acctbal_spearman",
    """
    WITH pairs AS (
      SELECT o.o_totalprice AS x, c.c_acctbal AS y
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    ranked AS (
      SELECT
        rank() OVER (ORDER BY x ASC)
          + (CAST(count(*) OVER (PARTITION BY x) AS DOUBLE) - 1.0) / 2.0 AS rx,
        rank() OVER (ORDER BY y ASC)
          + (CAST(count(*) OVER (PARTITION BY y) AS DOUBLE) - 1.0) / 2.0 AS ry
      FROM pairs
    ),
    m AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             sum(rx) AS sx, sum(ry) AS sy,
             sum(rx * rx) AS sxx, sum(ry * ry) AS syy,
             sum(rx * ry) AS sxy
      FROM ranked
    )
    SELECT CAST(n AS BIGINT) AS n_pairs,
           round((n * sxy - sx * sy)
                 / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
                 * 1000000.0) / 1000000.0 AS spearman_rho
    FROM m
    """,
)
def order_acctbal_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between order price and the ordering
    customer's account balance — the robust (monotonic, outlier-proof)
    sibling of the Pearson `priority_price_dispersion` entry. Ties get
    proper AVERAGE ranks — and an average rank is a pure function of
    the VALUE: avg_rank(v) = before(v) + (count(v)+1)/2, where
    before(v) counts rows with a strictly smaller value. So the plan
    never ranks rows at all: it rolls the pair frame up per distinct
    value (one map-side-combinable aggregate), adds exclusive prefix
    COUNTS over the value frame via ``ordered_prefix`` (range-bucket
    two-level — no single-partition window; the r4 allowlist's
    documented swap, now landed), and joins the per-value rank back
    map-only. before/count are exact integers; the +/2 halves are
    exact in doubles, so both engines assign identical ranks. The rho
    itself is the moment-decomposed Pearson over ranks: one final
    aggregate of five sums, map-side combined."""
    from ..operators.ranking import ordered_prefix

    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    # persisted (ADVICE r5): both _avg_ranks value rollups, their
    # ordered_prefix aux jobs, and the final double rank join all
    # re-execute the orders⋈customer join otherwise.
    pairs = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("o_totalprice").alias("x"), F.col("c_acctbal").alias("y")
    ).persist()
    def _avg_ranks(col: str, out: str):
        # Both variables' per-value rollups ride ONE tagged frame and
        # ONE partitioned ordered_prefix call (r6): the prefix counts
        # restart per tag, so each variable gets its own average
        # ranks, and the whole rank build costs a single
        # approx-percentile aux job (the per-(tag, bucket) offsets are
        # in-plan broadcast joins).
        return pairs.groupBy(col).agg(
            F.count(F.lit(1)).cast("long").alias("_c")
        ).select(F.lit(out).alias("_t"), F.col(col).alias("_val"), "_c")

    u = _avg_ranks("x", "rx").unionByName(_avg_ranks("y", "ry")).persist()
    pre = ordered_prefix(
        u, "_val", rank_col=None, sums={"_before": "_c"}, buckets=32,
        partition_by=["_t"],
    )
    avg_rank = (
        F.col("_before").cast("double")
        + (F.col("_c").cast("double") + 1.0) / 2.0
    )
    rx = pre.where(F.col("_t") == "rx").select(
        F.col("_val").alias("x"), avg_rank.alias("rx")
    )
    ry = pre.where(F.col("_t") == "ry").select(
        F.col("_val").alias("y"), avg_rank.alias("ry")
    )
    ranked = pairs.join(rx, "x").join(ry, "y").select("rx", "ry")
    m = ranked.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("rx").alias("sx"),
        F.sum("ry").alias("sy"),
        F.sum(F.col("rx") * F.col("rx")).alias("sxx"),
        F.sum(F.col("ry") * F.col("ry")).alias("syy"),
        F.sum(F.col("rx") * F.col("ry")).alias("sxy"),
    )
    rho = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return m.select(
        F.col("n").cast("long").alias("n_pairs"),
        (F.round(rho * 1000000.0) / 1000000.0).alias("spearman_rho"),
    )


@q(
    "nation_revenue_share",
    """
    WITH rev AS (
      SELECT r.r_name AS region, n.n_name AS nation,
             sum(o.o_totalprice) AS rev,
             CAST(count(*) AS BIGINT) AS n_orders
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      GROUP BY r.r_name, n.n_name
    )
    SELECT region, nation, n_orders,
           round(rev * 100.0) / 100.0 AS revenue,
           round(rev / sum(rev) OVER (PARTITION BY region) * 1000000.0)
             / 1000000.0 AS share_of_region,
           CAST(rank() OVER (PARTITION BY region
                             ORDER BY round(rev * 100.0) / 100.0 DESC,
                                      nation ASC) AS BIGINT) AS rank_in_region
    FROM rev ORDER BY region, nation
    """,
)
def nation_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-parent hierarchical shares (the ratio_to_report
    family): each nation's slice of its region's revenue plus its
    in-region rank — the drill-down companion to the flat
    `revenue_by_nation` and `order_stats_rollup` entries. One fact
    aggregate collapses to the |nation|-bounded frame; the parent
    total and rank are windows over that tiny frame (never a second
    fact pass or a self-join on the parent). Rank orders by the
    CENTS-ROUNDED revenue with the nation name as tie-break, so fp
    summation-order noise can't reorder ranks between engines."""
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = _t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    rev = (
        o.join(gated_broadcast(c, sf_dir, "customer"), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.sum("o_totalprice").alias("rev"),
            F.count(F.lit(1)).cast("long").alias("n_orders"),
        )
    )
    wreg = W.partitionBy("region")
    rev_cents = F.round(F.col("rev") * 100.0) / 100.0
    return (
        rev.select(
            "region",
            "nation",
            "n_orders",
            rev_cents.alias("revenue"),
            (
                F.round(F.col("rev") / F.sum("rev").over(wreg) * 1000000.0)
                / 1000000.0
            ).alias("share_of_region"),
            F.rank()
            .over(wreg.orderBy(rev_cents.desc(), F.asc("nation")))
            .cast("long")
            .alias("rank_in_region"),
        )
        .orderBy("region", "nation")
    )


@q(
    "region_budget_allocation",
    """
    WITH rev AS (
      SELECT r.r_name AS region, n.n_name AS nation,
             round(sum(o.o_totalprice) * 100.0) / 100.0 AS rev_c
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      GROUP BY r.r_name, n.n_name
    ),
    base AS (
      SELECT region, nation, rev_c,
             sum(rev_c) OVER (PARTITION BY region) AS tot_c,
             floor(100000000.0 * rev_c / sum(rev_c) OVER (PARTITION BY region))
               AS base_cents,
             100000000.0 * rev_c / sum(rev_c) OVER (PARTITION BY region)
               - floor(100000000.0 * rev_c
                       / sum(rev_c) OVER (PARTITION BY region)) AS frac
      FROM rev
    ),
    ranked AS (
      SELECT base.*,
             rank() OVER (PARTITION BY region
                          ORDER BY frac DESC, nation ASC) AS rk,
             100000000 - sum(base_cents) OVER (PARTITION BY region) AS leftover
      FROM base
    )
    SELECT region, nation,
           round((base_cents + CASE WHEN rk <= leftover THEN 1 ELSE 0 END)
                 / 100.0 * 100.0) / 100.0 AS alloc,
           CAST(CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
             AS got_extra_cent
    FROM ranked ORDER BY region, nation
    """,
)
def region_budget_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder pro-rata allocation: a 1,000,000.00 budget
    per region is split across its nations proportionally to revenue,
    in integer cents, with the floor-division shortfall handed out
    one cent at a time to the largest fractional remainders — so
    every region's allocations sum to the target EXACTLY (the
    reconciliation property naive share×target rounding loses, and
    the same algorithm as parliamentary seat apportionment). Shares
    are computed from CENTS-ROUNDED revenue, so every downstream
    floor/frac/rank is arithmetic over doubles both engines agree on
    bit-for-bit — no fp-noise boundary can flip a cent. All windows
    run over the |nation|-bounded frame after one fact aggregate."""
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = _t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    rev = (
        o.join(gated_broadcast(c, sf_dir, "customer"), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg((F.round(F.sum("o_totalprice") * 100.0) / 100.0).alias("rev_c"))
    )
    wreg = W.partitionBy("region")
    target_cents = 100000000.0  # 1,000,000.00 per region, in cents
    exact = target_cents * F.col("rev_c") / F.sum("rev_c").over(wreg)
    base = rev.select(
        "region",
        "nation",
        F.floor(exact).alias("base_cents"),
        (exact - F.floor(exact)).alias("frac"),
    )
    ranked = base.select(
        "region",
        "nation",
        "base_cents",
        F.rank()
        .over(wreg.orderBy(F.desc("frac"), F.asc("nation")))
        .alias("rk"),
        (F.lit(100000000) - F.sum("base_cents").over(wreg)).alias("leftover"),
    )
    extra = F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0)
    return (
        ranked.select(
            "region",
            "nation",
            (
                F.round((F.col("base_cents") + extra) / 100.0 * 100.0) / 100.0
            ).alias("alloc"),
            extra.cast("long").alias("got_extra_cent"),
        )
        .orderBy("region", "nation")
    )


@q(
    "customer_golden_record",
    """
    WITH cnt AS (
      SELECT greatest(CAST(count(*) // 3 AS BIGINT), 1) AS m FROM customer
    ),
    src AS (
      SELECT c_custkey % cnt.m AS master_key, c_custkey, c_name,
             CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_mktsegment END AS seg,
             CASE WHEN c_custkey % 5 = 0 THEN NULL ELSE c_acctbal END AS bal
      FROM customer, cnt
    )
    SELECT master_key,
           CAST(count(*) AS BIGINT) AS n_sources,
           arg_max(c_name, c_custkey) AS name,
           arg_max(seg, CASE WHEN seg IS NOT NULL THEN c_custkey END)
             AS mktsegment,
           round(max(bal) * 100.0) / 100.0 AS max_acctbal,
           CAST(sum(CASE WHEN seg IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_null_segments
    FROM src GROUP BY master_key ORDER BY master_key
    """,
)
def customer_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MDM golden-record survivorship: duplicate source records (here
    customers folded into master_key groups of ~3, with
    deterministically injected field nulls standing in for source
    gaps) merge into one record per entity, each field by its own
    rule — name from the NEWEST source (max version key), segment
    from the newest NON-NULL source (the classic recency-with-
    fallback rule, spelled as max_by/arg_max over a conditional
    version key so null fields can never win), balance as the group
    max. Survivorship is therefore ONE hash aggregate — no window
    cascade, no per-field self-joins — which is what keeps entity
    consolidation linear at 100 TB: records shuffle once on the
    match key that entity resolution (the near-dup operators)
    produced upstream."""
    cust = _t(spark, sf_dir, "customer")
    cnt = cust.agg(
        F.greatest(
            F.floor(F.count(F.lit(1)) / 3).cast("long"), F.lit(1)
        ).alias("m")
    )
    src = cust.crossJoin(F.broadcast(cnt)).select(
        (F.col("c_custkey") % F.col("m")).alias("master_key"),
        "c_custkey",
        "c_name",
        F.when(F.col("c_custkey") % 7 == 0, None)
        .otherwise(F.col("c_mktsegment"))
        .alias("seg"),
        F.when(F.col("c_custkey") % 5 == 0, None)
        .otherwise(F.col("c_acctbal"))
        .alias("bal"),
    )
    return (
        src.groupBy("master_key")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sources"),
            F.max_by("c_name", "c_custkey").alias("name"),
            F.max_by(
                "seg", F.when(F.col("seg").isNotNull(), F.col("c_custkey"))
            ).alias("mktsegment"),
            (F.round(F.max("bal") * 100.0) / 100.0).alias("max_acctbal"),
            F.sum(F.when(F.col("seg").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_null_segments"),
        )
        .orderBy("master_key")
    )


@q(
    "customer_revenue_waterfall",
    """
    WITH monthly AS (
      SELECT o_custkey AS c,
             year(o_orderdate) * 12 + month(o_orderdate) AS m,
             CAST(round(sum(o_totalprice) * 100.0) AS BIGINT) AS cents
      FROM orders GROUP BY o_custkey, year(o_orderdate) * 12 + month(o_orderdate)
    ),
    b AS (SELECT min(m) AS mn, max(m) AS mx FROM monthly),
    prev AS (SELECT c, m + 1 AS m, cents AS prev_c FROM monthly),
    cur AS (SELECT c, m, cents AS cur_c FROM monthly),
    pairs AS (
      SELECT coalesce(p.c, q.c) AS c, coalesce(p.m, q.m) AS m,
             p.prev_c, q.cur_c
      FROM prev p FULL OUTER JOIN cur q ON q.c = p.c AND q.m = p.m
    )
    SELECT m,
           CAST((m - 1) // 12 AS BIGINT) AS yr,
           CAST((m - 1) % 12 + 1 AS BIGINT) AS mo,
           CAST(sum(coalesce(prev_c, 0)) AS BIGINT) AS start_cents,
           CAST(sum(CASE WHEN prev_c IS NULL THEN cur_c ELSE 0 END) AS BIGINT)
             AS new_cents,
           CAST(sum(CASE WHEN prev_c IS NOT NULL AND cur_c > prev_c
                         THEN cur_c - prev_c ELSE 0 END) AS BIGINT)
             AS expansion_cents,
           CAST(sum(CASE WHEN prev_c IS NOT NULL AND cur_c IS NOT NULL
                              AND cur_c < prev_c
                         THEN prev_c - cur_c ELSE 0 END) AS BIGINT)
             AS contraction_cents,
           CAST(sum(CASE WHEN cur_c IS NULL THEN prev_c ELSE 0 END) AS BIGINT)
             AS churned_cents,
           CAST(sum(coalesce(cur_c, 0)) AS BIGINT) AS end_cents
    FROM pairs, b
    WHERE m > b.mn AND m <= b.mx
    GROUP BY m ORDER BY m
    """,
)
def customer_revenue_waterfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth accounting: each month's revenue change decomposed per
    customer into new (no revenue last month), expansion (grew),
    contraction (shrank), and churned (no revenue this month) — the
    SaaS revenue-bridge/waterfall that explains WHY the top line
    moved, reconciling exactly as start + new + expansion −
    contraction − churned = end. The month-pair alignment is ONE
    full-outer self-join of the monthly aggregate shifted by one
    month (key = customer × month; never an orders×orders join).
    Revenue is cents-rounded ONCE per (customer, month) — everything
    downstream is exact BIGINT arithmetic, so the waterfall
    reconciles to the cent in both engines. First month is excluded
    (no prior month to bridge from); the m+1 phantom row the shift
    creates falls to the m <= max bound."""
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("m"),
        "o_totalprice",
    )
    monthly = o.groupBy(F.col("o_custkey").alias("c"), "m").agg(
        F.round(F.sum("o_totalprice") * 100.0).cast("long").alias("cents")
    )
    b = monthly.agg(F.min("m").alias("mn"), F.max("m").alias("mx"))
    prev = monthly.select("c", (F.col("m") + 1).alias("m"), F.col("cents").alias("prev_c"))
    cur = monthly.select("c", "m", F.col("cents").alias("cur_c"))
    pairs = prev.join(cur, ["c", "m"], "full_outer")
    has_prev = F.col("prev_c").isNotNull()
    has_cur = F.col("cur_c").isNotNull()
    return (
        pairs.crossJoin(F.broadcast(b))
        .where((F.col("m") > F.col("mn")) & (F.col("m") <= F.col("mx")))
        .groupBy("m")
        .agg(
            F.sum(F.coalesce(F.col("prev_c"), F.lit(0))).cast("long").alias("start_cents"),
            F.sum(F.when(~has_prev, F.col("cur_c")).otherwise(0))
            .cast("long")
            .alias("new_cents"),
            F.sum(
                F.when(
                    has_prev & (F.col("cur_c") > F.col("prev_c")),
                    F.col("cur_c") - F.col("prev_c"),
                ).otherwise(0)
            )
            .cast("long")
            .alias("expansion_cents"),
            F.sum(
                F.when(
                    has_prev & has_cur & (F.col("cur_c") < F.col("prev_c")),
                    F.col("prev_c") - F.col("cur_c"),
                ).otherwise(0)
            )
            .cast("long")
            .alias("contraction_cents"),
            F.sum(F.when(~has_cur, F.col("prev_c")).otherwise(0))
            .cast("long")
            .alias("churned_cents"),
            F.sum(F.coalesce(F.col("cur_c"), F.lit(0))).cast("long").alias("end_cents"),
        )
        .select(
            "m",
            (((F.col("m") - 1) - (F.col("m") - 1) % 12) / 12).cast("long").alias("yr"),
            ((F.col("m") - 1) % 12 + 1).cast("long").alias("mo"),
            "start_cents",
            "new_cents",
            "expansion_cents",
            "contraction_cents",
            "churned_cents",
            "end_cents",
        )
        .orderBy("m")
    )


@q(
    "customer_revenue_gini",
    """
    WITH rev AS (
      SELECT o_custkey,
             CAST(round(sum(o_totalprice) * 100.0) AS BIGINT) AS cents
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT cents,
             row_number() OVER (ORDER BY cents ASC, o_custkey ASC) AS i
      FROM rev
    ),
    m AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(cents) AS DOUBLE) AS s,
             CAST(sum(i * cents) AS DOUBLE) AS si
      FROM ranked
    )
    SELECT CAST(n AS BIGINT) AS n_customers,
           round(s / 100.0 * 100.0) / 100.0 AS total_revenue,
           round((2.0 * si / (n * s) - (n + 1.0) / n) * 1000000.0) / 1000000.0
             AS gini
    FROM m
    """,
)
def customer_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of revenue concentration across customers —
    the scalar inequality metric behind whale/long-tail analysis,
    complementing `part_abc_classification` (which buckets; Gini
    measures). Uses the rank formula G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n
    over ascending-sorted revenue with customer-key tie-breaks.
    Per-customer revenue is cents-rounded BEFORE ranking, so ranks
    and both moment sums are exact-integer-derived and the final
    expression is bit-identical across engines. Ranks come from
    ``ordered_prefix`` (range-bucket two-level rank: approx-cut
    placement, exact-integer offsets — the r4 allowlist's documented
    swap, now landed), so no task ever sorts the whole customer
    frame; the Gini algebra is unchanged."""
    from ..operators.ranking import ordered_prefix

    rev = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.round(F.sum("o_totalprice") * 100.0).cast("long").alias("cents"))
    )
    ranked = ordered_prefix(
        rev, "cents", ["o_custkey"], rank_col="i", buckets=32
    ).select("cents", "i")
    m = ranked.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("cents").cast("double").alias("s"),
        F.sum(F.col("i") * F.col("cents")).cast("double").alias("si"),
    )
    gini = 2.0 * F.col("si") / (F.col("n") * F.col("s")) - (
        F.col("n") + 1.0
    ) / F.col("n")
    return m.select(
        F.col("n").cast("long").alias("n_customers"),
        (F.round(F.col("s") / 100.0 * 100.0) / 100.0).alias("total_revenue"),
        (F.round(gini * 1000000.0) / 1000000.0).alias("gini"),
    )


# Fellegi-Sunter field weights: ln(m/u) for agreement, ln((1-m)/(1-u))
# for disagreement, precomputed as literals (m = P(agree | match),
# u = P(agree | non-match)) — runtime arithmetic is pure literal sums.
_W_SEG_AGREE = 2.0817  # m=0.95, u=0.12  -> ln(7.9167)
_W_SEG_DISAGREE = -2.8737  # ln(0.05/0.88)
_W_BAL_AGREE = 2.9957  # m=0.90, u=0.045 -> ln(20.0)
_W_BAL_DISAGREE = -2.2561  # ln(0.10/0.955)


@q(
    "customer_linkage_scores",
    f"""
    WITH src AS (
      SELECT c_custkey, c_mktsegment, c_acctbal, c_nationkey,
             CAST(floor(c_acctbal / 2000.0) AS BIGINT) AS bal_block
      FROM customer
    ),
    ord AS (
      SELECT *, row_number() OVER (
               PARTITION BY c_nationkey, bal_block
               ORDER BY c_acctbal ASC, c_custkey ASC) AS rn
      FROM src
    ),
    pairs AS (
      SELECT least(a.c_custkey, b.c_custkey) AS id_a,
             greatest(a.c_custkey, b.c_custkey) AS id_b,
             (CASE WHEN a.c_mktsegment = b.c_mktsegment
                   THEN {_W_SEG_AGREE} ELSE {_W_SEG_DISAGREE} END)
             + (CASE WHEN abs(a.c_acctbal - b.c_acctbal) < 500.0
                     THEN {_W_BAL_AGREE} ELSE {_W_BAL_DISAGREE} END) AS score
      FROM ord a JOIN ord b
        ON b.c_nationkey = a.c_nationkey AND b.bal_block = a.bal_block
       AND b.rn BETWEEN a.rn + 1 AND a.rn + 3
    )
    SELECT round(score * 10000.0) / 10000.0 AS score,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(min(id_a) AS BIGINT) AS min_id_a,
           CAST(max(id_b) AS BIGINT) AS max_id_b
    FROM pairs GROUP BY score ORDER BY score
    """,
)
def customer_linkage_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter probabilistic record linkage via SORTED
    NEIGHBORHOOD candidate generation: within each (nation, coarse
    balance block) partition, records sort by (balance, key) and each
    record pairs with its next W=3 neighbors only — candidate count is
    O(n·W), LINEAR in data size, unlike block-join all-pairs whose
    ~150 fixed blocks would grow candidates n²/150 at 100×
    (test_scale_patterns asserts the n·W bound). Each pair scores by
    field-agreement log-odds weights (precomputed literals: segment
    match, balance-within-500); the score histogram is the output —
    the bimodal gap between match and non-match modes is where a
    linkage deployment sets its threshold. All runtime arithmetic is
    sums of literal doubles over exact comparisons — bit-identical
    across engines. At 100 TB the one shuffle is the window partition
    (customer is a dimension table — even at 1000× a partition's sort
    fits a task); sort-order neighbors are exactly the high-recall
    candidates for numeric fields, and boundary pairs lost at block
    edges are the standard, documented sorted-neighborhood recall
    tradeoff (multi-pass with offset blocks is the production knob)."""
    src = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        "c_nationkey",
        F.floor(F.col("c_acctbal") / 2000.0).cast("long").alias("bal_block"),
    )
    w = W.partitionBy("c_nationkey", "bal_block").orderBy(
        F.col("c_acctbal").asc(), F.col("c_custkey").asc()
    )
    nbr = F.array(
        *[
            F.lead(
                F.struct(
                    F.col("c_custkey").alias("id"),
                    F.col("c_mktsegment").alias("seg"),
                    F.col("c_acctbal").alias("bal"),
                ),
                i,
            ).over(w)
            for i in (1, 2, 3)
        ]
    )
    exploded = (
        src.withColumn("nbrs", nbr)
        .withColumn("nb", F.explode("nbrs"))
        .where(F.col("nb").isNotNull())
    )
    score = F.when(
        F.col("c_mktsegment") == F.col("nb.seg"), F.lit(_W_SEG_AGREE)
    ).otherwise(F.lit(_W_SEG_DISAGREE)) + F.when(
        F.abs(F.col("c_acctbal") - F.col("nb.bal")) < 500.0, F.lit(_W_BAL_AGREE)
    ).otherwise(F.lit(_W_BAL_DISAGREE))
    pairs = exploded.select(
        F.least(F.col("c_custkey"), F.col("nb.id")).alias("id_a"),
        F.greatest(F.col("c_custkey"), F.col("nb.id")).alias("id_b"),
        score.alias("score"),
    )
    return (
        pairs.groupBy(
            (F.round(F.col("score") * 10000.0) / 10000.0).alias("score")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.min("id_a").cast("long").alias("min_id_a"),
            F.max("id_b").cast("long").alias("max_id_b"),
        )
        .orderBy("score")
    )


_CELL = 10.0  # degrees; coarse enough that dense cells exist at test SFs
_MIN_PTS = 4


def _dbscan_iter_sql(prev: str, name: str) -> str:
    return f"""
    {name} AS (
      SELECT d.cid, min(least(p2.lbl, p1.lbl)) AS lbl
      FROM dense d
      JOIN {prev} p1 ON p1.cid = d.cid
      JOIN adj a ON a.cid = d.cid
      JOIN {prev} p2 ON p2.cid = a.nid
      GROUP BY d.cid
    )"""


@q(
    "customer_grid_density_clusters",
    f"""
    WITH pts AS (
      SELECT c_custkey,
             CAST(floor(({_md5_u16_sql("CAST(c_custkey AS VARCHAR)", "clat:")}
                          / 65536.0 * 180.0 - 90.0) / {_CELL}) AS BIGINT) AS cy,
             CAST(floor(({_md5_u16_sql("CAST(c_custkey AS VARCHAR)", "clon:")}
                          / 65536.0 * 360.0 - 180.0) / {_CELL}) AS BIGINT) AS cx
      FROM customer
    ),
    dense AS (
      SELECT cy, cx, cy * 1000 + cx AS cid, CAST(count(*) AS BIGINT) AS n_pts
      FROM pts GROUP BY cy, cx HAVING count(*) >= {_MIN_PTS}
    ),
    adj AS (
      SELECT d.cid, n.cid AS nid
      FROM dense d
      CROSS JOIN (VALUES (-1), (0), (1)) dy(dy)
      CROSS JOIN (VALUES (-1), (0), (1)) dx(dx)
      JOIN dense n ON n.cy = d.cy + dy.dy AND n.cx = d.cx + dx.dx
    ),
    l0 AS (SELECT cid, cid AS lbl FROM dense),
    {_dbscan_iter_sql("l0", "l1")},
    {_dbscan_iter_sql("l1", "l2")},
    {_dbscan_iter_sql("l2", "l3")}
    SELECT l3.lbl AS cluster_label,
           CAST(count(*) AS BIGINT) AS n_cells,
           CAST(sum(dense.n_pts) AS BIGINT) AS n_points
    FROM l3 JOIN dense ON dense.cid = l3.cid
    GROUP BY l3.lbl ORDER BY cluster_label
    """,
)
def customer_grid_density_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN-lite density clustering on the synthetic customer
    coordinate plane: cells of a 10° grid holding ≥ 4 points are
    'dense' (core) cells, and touching dense cells merge into
    clusters via min-label propagation over the 8-neighborhood,
    unrolled for 3 iterations — the same fixed-iteration relational
    unrolling as `brand_copurchase_pagerank` (the full-convergence
    variant lives in `operators/graph.py::connected_components`).
    Convergence bound, precisely: min-label propagation advances ONE
    hop per sweep, so 3 sweeps fully label exactly the cells within
    graph distance ≤ 3 of their cluster's min-cid cell; a cluster
    whose min-label cell has eccentricity > 3 surfaces as multiple
    deterministic split labels (ADVICE r1 — still parity-safe since
    both engines run the identical unrolled program; delegate to
    connected_components when exact clusters matter). Scale
    shape: the point table aggregates once to the cell grid
    (map-side combinable); everything after — adjacency (9× explode
    equi-join), propagation joins — runs on the dense-cell frame,
    which is bounded by the grid, not the data. Noise points (sparse
    cells) drop out exactly as DBSCAN discards them."""
    cust = _t(spark, sf_dir, "customer")
    lat = (
        _md5_uint16(F.col("c_custkey"), salt="clat:").cast("double")
        / 65536.0 * 180.0 - 90.0
    )
    lon = (
        _md5_uint16(F.col("c_custkey"), salt="clon:").cast("double")
        / 65536.0 * 360.0 - 180.0
    )
    pts = cust.select(
        F.floor(lat / _CELL).cast("long").alias("cy"),
        F.floor(lon / _CELL).cast("long").alias("cx"),
    )
    dense = (
        pts.groupBy("cy", "cx")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pts"))
        .where(F.col("n_pts") >= _MIN_PTS)
        .withColumn("cid", F.col("cy") * 1000 + F.col("cx"))
    )
    off = F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1)))
    probe = (
        dense.select("cid", "cy", "cx")
        .withColumn("dy", off)
        .withColumn("dx", off)
        .select(
            "cid",
            (F.col("cy") + F.col("dy")).alias("ny"),
            (F.col("cx") + F.col("dx")).alias("nx"),
        )
    )
    adj = probe.join(
        dense.select(
            F.col("cid").alias("nid"),
            F.col("cy").alias("ny"),
            F.col("cx").alias("nx"),
        ),
        ["ny", "nx"],
    ).select("cid", "nid")
    lbl = dense.select("cid", F.col("cid").alias("lbl"))
    for _ in range(3):
        lbl = (
            dense.select("cid")
            .join(lbl.select(F.col("cid"), F.col("lbl").alias("own")), "cid")
            .join(adj, "cid")
            .join(
                lbl.select(
                    F.col("cid").alias("nid"), F.col("lbl").alias("nlbl")
                ),
                "nid",
            )
            .groupBy("cid")
            .agg(F.min(F.least(F.col("nlbl"), F.col("own"))).alias("lbl"))
        )
    return (
        lbl.join(dense.select("cid", "n_pts"), "cid")
        .groupBy(F.col("lbl").alias("cluster_label"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_cells"),
            F.sum("n_pts").cast("long").alias("n_points"),
        )
        .orderBy("cluster_label")
    )


@q(
    "nation_theil_decomposition",
    """
    WITH rev AS (
      SELECT o.o_custkey,
             CAST(round(sum(o.o_totalprice) * 100.0) AS BIGINT) AS cents
      FROM orders o GROUP BY o.o_custkey
    ),
    x AS (
      SELECT n.n_name AS nation, rev.cents * 1.0 AS v
      FROM rev
      JOIN customer c ON c.c_custkey = rev.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
    ),
    g AS (
      SELECT nation, CAST(count(*) AS DOUBLE) AS ng, avg(v) AS mg
      FROM x GROUP BY nation
    ),
    tot AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(v) AS mu FROM x),
    within AS (
      SELECT x.nation,
             sum((x.v / gg.mg) * ln(x.v / gg.mg)) / gg.ng AS tg
      FROM x JOIN (SELECT nation, ng, mg FROM g) gg ON gg.nation = x.nation
      GROUP BY x.nation, gg.ng, gg.mg
    )
    SELECT g.nation, CAST(g.ng AS BIGINT) AS n_customers,
           round(g.mg / 100.0 * 100.0) / 100.0 AS mean_rev_cents,
           round((g.ng / tot.n) * (g.mg / tot.mu) * w.tg * 1000000.0)
             / 1000000.0 AS theil_within_term,
           round((g.ng / tot.n) * (g.mg / tot.mu) * ln(g.mg / tot.mu)
                 * 1000000.0) / 1000000.0 AS theil_between_term
    FROM g JOIN within w ON w.nation = g.nation CROSS JOIN tot
    ORDER BY g.nation
    """,
)
def nation_theil_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T index of customer revenue inequality, decomposed by
    nation: summing theil_within_term gives the inequality INSIDE
    nations, summing theil_between_term the inequality BETWEEN
    national means, and together they reconstruct the total — the
    additive decomposability that makes Theil (not Gini, which
    doesn't decompose) the tool for 'where does the inequality
    live?' questions. Revenue is cents-rounded per customer before
    any ratio, group means are the only fp aggregates feeding the
    logs, and output rows order by nation — floats stay in the
    rounded payload. Shape: one fact aggregate to customer grain,
    one group aggregate to nation grain, windows/joins over the
    |nation| frame only."""
    rev = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.round(F.sum("o_totalprice") * 100.0).cast("long").alias("cents"))
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    x = (
        rev.join(gated_broadcast(c, sf_dir, "customer"), rev.o_custkey == c.c_custkey)
        .join(F.broadcast(nat), c.c_nationkey == nat.n_nationkey)
        .select(F.col("n_name").alias("nation"), (F.col("cents") * 1.0).alias("v"))
    )
    g = x.groupBy("nation").agg(
        F.count(F.lit(1)).cast("double").alias("ng"), F.avg("v").alias("mg")
    )
    tot = x.agg(F.count(F.lit(1)).cast("double").alias("n"), F.avg("v").alias("mu"))
    within = (
        x.join(F.broadcast(g), "nation")
        .groupBy("nation", "ng", "mg")
        .agg(
            (
                F.sum((F.col("v") / F.col("mg")) * F.log(F.col("v") / F.col("mg")))
                / F.col("ng")
            ).alias("tg")
        )
        .select("nation", "tg")
    )
    return (
        g.join(within, "nation")
        .crossJoin(F.broadcast(tot))
        .select(
            "nation",
            F.col("ng").cast("long").alias("n_customers"),
            (F.round(F.col("mg") / 100.0 * 100.0) / 100.0).alias("mean_rev_cents"),
            (
                F.round(
                    (F.col("ng") / F.col("n"))
                    * (F.col("mg") / F.col("mu"))
                    * F.col("tg")
                    * 1000000.0
                )
                / 1000000.0
            ).alias("theil_within_term"),
            (
                F.round(
                    (F.col("ng") / F.col("n"))
                    * (F.col("mg") / F.col("mu"))
                    * F.log(F.col("mg") / F.col("mu"))
                    * 1000000.0
                )
                / 1000000.0
            ).alias("theil_between_term"),
        )
        .orderBy("nation")
    )


@q(
    "customer_segment_mode_imputation",
    """
    WITH src AS (
      SELECT c_custkey, c_nationkey,
             CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_mktsegment END AS seg
      FROM customer
    ),
    modes AS (
      SELECT c_nationkey, seg AS mode_seg FROM (
        SELECT c_nationkey, seg, count(*) AS c,
               row_number() OVER (PARTITION BY c_nationkey
                                  ORDER BY count(*) DESC, seg ASC) AS rk
        FROM src WHERE seg IS NOT NULL GROUP BY c_nationkey, seg
      ) WHERE rk = 1
    )
    SELECT s.c_nationkey AS nationkey, m.mode_seg,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(CASE WHEN s.seg IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_imputed,
           CAST(sum(CASE WHEN coalesce(s.seg, m.mode_seg) = m.mode_seg
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_final_mode
    FROM src s JOIN modes m ON m.c_nationkey = s.c_nationkey
    GROUP BY s.c_nationkey, m.mode_seg ORDER BY nationkey
    """,
)
def customer_segment_mode_imputation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-mode categorical imputation: missing market segments
    (deterministically injected nulls standing in for source gaps)
    fill with the customer's nation's most common segment —
    the categorical sibling of `user_event_locf_fill` (ordered
    carry-forward) and `event_hourly_interpolation` (numeric
    between-neighbors). The mode table is one grouped count +
    row_number with a full (count DESC, value ASC) tie-break — both
    engines elect the identical mode even for tied counts — and is
    dimension-sized, so it BROADCASTS back onto the rows. Output
    audits the fill: how many rows were imputed and how many end up
    at the mode."""
    src = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        F.when(F.col("c_custkey") % 7 == 0, None)
        .otherwise(F.col("c_mktsegment"))
        .alias("seg"),
    )
    modes = (
        src.where(F.col("seg").isNotNull())
        .groupBy("c_nationkey", "seg")
        .agg(F.count(F.lit(1)).alias("c"))
        .select(
            "c_nationkey",
            "seg",
            F.row_number()
            .over(
                W.partitionBy("c_nationkey").orderBy(F.desc("c"), F.asc("seg"))
            )
            .alias("rk"),
        )
        .where(F.col("rk") == 1)
        .select("c_nationkey", F.col("seg").alias("mode_seg"))
    )
    return (
        src.join(F.broadcast(modes), "c_nationkey")
        .groupBy(
            F.col("c_nationkey").alias("nationkey"), F.col("mode_seg")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum(F.when(F.col("seg").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_imputed"),
            F.sum(
                F.when(
                    F.coalesce(F.col("seg"), F.col("mode_seg"))
                    == F.col("mode_seg"),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_final_mode"),
        )
        .orderBy("nationkey")
    )


@q(
    "brand_price_index_laspeyres",
    """
    WITH li AS (
      SELECT l_partkey,
             year(l_shipdate) * 12 + month(l_shipdate) AS m,
             sum(l_extendedprice) AS ext, sum(l_quantity) AS qty
      FROM lineitem GROUP BY l_partkey, year(l_shipdate) * 12 + month(l_shipdate)
    ),
    priced AS (SELECT l_partkey, m, ext / qty AS p, qty FROM li),
    base AS (
      SELECT l_partkey, p AS p0, qty AS q0 FROM priced, (SELECT min(m) AS m0 FROM priced) b
      WHERE priced.m = b.m0
    )
    SELECT priced.m AS month_key,
           CAST(count(*) AS BIGINT) AS n_parts_matched,
           round(sum(priced.p * base.q0) / sum(base.p0 * base.q0)
                 * 1000000.0) / 1000000.0 AS laspeyres_index
    FROM priced JOIN base ON base.l_partkey = priced.l_partkey
    GROUP BY priced.m ORDER BY month_key
    """,
)
def brand_price_index_laspeyres(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laspeyres price index: each month's part prices weighted by
    BASE-month quantities, over parts traded in both months — the
    index-number construction behind CPI-style inflation series
    (base weights isolate pure price movement from quantity mix
    shifts; index = Σp_t·q₀ / Σp₀·q₀, first month ≡ 1). Unit prices
    derive from one (part, month) aggregate of the fact table; the
    base-month slice is part-dimension-sized and broadcasts back.
    Matched-parts counts make the survivorship visible (parts absent
    from the base month drop out — the classic index-number
    caveat)."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .groupBy(
            "l_partkey",
            (F.year("l_shipdate") * 12 + F.month("l_shipdate")).alias("m"),
        )
        .agg(F.sum("l_extendedprice").alias("ext"), F.sum("l_quantity").alias("qty"))
        .select(
            "l_partkey", "m", (F.col("ext") / F.col("qty")).alias("p"), "qty"
        )
    )
    m0 = li.agg(F.min("m").alias("m0"))
    base = (
        li.crossJoin(F.broadcast(m0))
        .where(F.col("m") == F.col("m0"))
        .select(
            "l_partkey", F.col("p").alias("p0"), F.col("qty").alias("q0")
        )
    )
    return (
        li.join(F.broadcast(base), "l_partkey")
        .groupBy(F.col("m").alias("month_key"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts_matched"),
            (
                F.round(
                    F.sum(F.col("p") * F.col("q0"))
                    / F.sum(F.col("p0") * F.col("q0"))
                    * 1000000.0
                )
                / 1000000.0
            ).alias("laspeyres_index"),
        )
        .orderBy("month_key")
    )


_MODERN_SQL = """
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT)
         AS n_finished,
       CAST(count(*) FILTER (WHERE o_totalprice > 300000.0) AS BIGINT)
         AS n_big,
       percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice)
         AS median_price_disc
FROM {orders}
GROUP BY ALL
ORDER BY ALL
"""


@q("order_modern_sql_surface", _MODERN_SQL.format(orders="orders"))
def order_modern_sql_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modern ANSI SQL surface in one declared statement —
    FILTER-clause conditional aggregates (the standard spelling of
    the CASE-WHEN-sum idiom), GROUP BY ALL / ORDER BY ALL (grouping
    inferred from the select list), and percentile_disc WITHIN GROUP
    (inverse-distribution ordered-set aggregate). Declared in SQL
    text form since the surface itself is the point; the physical
    plan is the same single hash aggregate the DataFrame spelling
    produces. percentile_disc returns an ACTUAL data value (no
    interpolation), so it is exactly engine-identical without
    rounding."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("modern_orders")
    return spark.sql(_MODERN_SQL.format(orders="modern_orders"))


@q(
    "open_order_aging_buckets",
    """
    WITH ref AS (SELECT max(o_orderdate) AS r FROM orders),
    aged AS (
      SELECT o_orderpriority,
             CAST(round(o_totalprice * 100.0) AS BIGINT) AS cents,
             date_diff('day', o_orderdate, ref.r) AS age
      FROM orders, ref WHERE o_orderstatus <> 'F'
    )
    SELECT o_orderpriority,
           CASE WHEN age <= 30 THEN '0-30'
                WHEN age <= 60 THEN '31-60'
                WHEN age <= 90 THEN '61-90'
                ELSE '90+' END AS age_bucket,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(cents) AS BIGINT) AS open_cents
    FROM aged GROUP BY o_orderpriority, 2
    ORDER BY o_orderpriority, age_bucket
    """,
)
def open_order_aging_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order aging report: unfinished orders bucketed by days
    outstanding relative to the data horizon (0-30/31-60/61-90/90+),
    with counts and open value per priority — the accounts-
    receivable-style operational report every order book needs
    (where is old value stuck, and at what priority). Ages are exact
    integer day differences from the broadcast horizon date; value
    is per-ROW cents-rounded before summing so the bucket totals are
    exact integers. One fact aggregate; at 100 TB the same plan
    holds with the horizon from metadata instead of a max() scan."""
    o = _t(spark, sf_dir, "orders")
    ref = o.agg(F.max("o_orderdate").alias("r"))
    aged = (
        o.where(F.col("o_orderstatus") != "F")
        .crossJoin(F.broadcast(ref))
        .select(
            "o_orderpriority",
            F.round(F.col("o_totalprice") * 100.0).cast("long").alias("cents"),
            F.datediff(F.col("r"), F.col("o_orderdate")).alias("age"),
        )
    )
    bucket = (
        F.when(F.col("age") <= 30, "0-30")
        .when(F.col("age") <= 60, "31-60")
        .when(F.col("age") <= 90, "61-90")
        .otherwise("90+")
    )
    return (
        aged.groupBy("o_orderpriority", bucket.alias("age_bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("open_cents"),
        )
        .orderBy("o_orderpriority", "age_bucket")
    )


@q(
    "brand_top_parts_with_ties",
    """
    WITH priced AS (
      SELECT p_brand, p_partkey,
             CAST(round(p_retailprice * 100.0) AS BIGINT) AS cents
      FROM part
    ),
    ranked AS (
      SELECT p_brand, p_partkey, cents,
             rank() OVER (PARTITION BY p_brand ORDER BY cents DESC) AS rk
      FROM priced
    )
    SELECT p_brand, CAST(rk AS BIGINT) AS price_rank, p_partkey,
           round(cents / 100.0 * 100.0) / 100.0 AS retail_price
    FROM ranked WHERE rk <= 3
    ORDER BY p_brand, price_rank, p_partkey
    """,
)
def brand_top_parts_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ties-INCLUSIVE top-3 parts per brand by retail price, via
    RANK — deliberately different semantics from
    `top_orders_per_priority`'s row_number top-k: when prices tie at
    the cut, rank keeps EVERY tied part (no arbitrary winner), which
    is what 'top 3 prices' actually means for reporting and what
    row_number silently violates. Prices compare as exact cents
    integers, so tie groups are engine-identical; output cardinality
    varies with the data (that's the point). Same
    WindowGroupLimit-eligible single-window shape as the row_number
    variant."""
    priced = _t(spark, sf_dir, "part").select(
        "p_brand",
        "p_partkey",
        F.round(F.col("p_retailprice") * 100.0).cast("long").alias("cents"),
    )
    ranked = priced.select(
        "p_brand",
        "p_partkey",
        "cents",
        F.rank()
        .over(W.partitionBy("p_brand").orderBy(F.desc("cents")))
        .alias("rk"),
    )
    return (
        ranked.where(F.col("rk") <= 3)
        .select(
            "p_brand",
            F.col("rk").cast("long").alias("price_rank"),
            "p_partkey",
            (F.round(F.col("cents") / 100.0 * 100.0) / 100.0).alias(
                "retail_price"
            ),
        )
        .orderBy("p_brand", "price_rank", "p_partkey")
    )


@q(
    "nation_revenue_hhi",
    """
    WITH rev AS (
      SELECT r.r_name AS region, n.n_name AS nation,
             round(sum(o.o_totalprice) * 100.0) / 100.0 AS rev_c
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      GROUP BY r.r_name, n.n_name
    ),
    folded AS (
      SELECT region,
             CAST(count(*) AS BIGINT) AS n_nations,
             list(rev_c ORDER BY nation ASC) AS revs
      FROM rev GROUP BY region
    )
    SELECT region, n_nations,
           round((list_reduce(list_transform(revs,
                    x -> pow(x / list_reduce(revs, (a, b) -> a + b), 2)),
                    (a, b) -> a + b)) * 1000000.0) / 1000000.0 AS hhi,
           round((list_max(revs) / list_reduce(revs, (a, b) -> a + b))
                 * 1000000.0) / 1000000.0 AS top_share
    FROM folded ORDER BY region
    """,
)
def nation_revenue_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman concentration index: per region, the sum
    of squared nation revenue shares (1/n = perfectly even, 1.0 =
    monopoly) plus the top nation's share — the standard audit for
    'is this region's revenue dangerously concentrated'. Float
    discipline per CLAUDE.md: shares derive from cents-quantized
    revenues, and both the total and the Σshare² fold IN-ROW over a
    nation-name-ordered list (`F.aggregate` ↔ DuckDB `list_reduce`,
    both left folds) — no grouped float sum whose partition order
    could flip a display digit. The fact aggregate is the only big
    shuffle; everything after runs on the |region|×|nation| frame."""
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    r = _t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    rev = (
        o.join(gated_broadcast(c, sf_dir, "customer"), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(
            F.col("r_name").alias("region"), F.col("n_name").alias("nation")
        )
        .agg((F.round(F.sum("o_totalprice") * 100.0) / 100.0).alias("rev_c"))
    )
    folded = rev.groupBy("region").agg(
        F.count(F.lit(1)).cast("long").alias("n_nations"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("nation", "rev_c"))),
            lambda x: x["rev_c"],
        ).alias("revs"),
    )
    tot = F.aggregate("revs", F.lit(0.0), lambda a, b: a + b)
    hhi = F.aggregate(
        F.transform("revs", lambda x: F.pow(x / tot, 2)),
        F.lit(0.0),
        lambda a, b: a + b,
    )
    return folded.select(
        "region",
        "n_nations",
        (F.round(hhi * 1000000.0) / 1000000.0).alias("hhi"),
        (F.round((F.array_max("revs") / tot) * 1000000.0) / 1000000.0).alias(
            "top_share"
        ),
    ).orderBy("region")


@q(
    "customer_l_diversity",
    """
    WITH g AS (
      SELECT c_nationkey,
             CAST(floor(c_acctbal / 2000) AS BIGINT) AS bal_bucket,
             CAST(count(*) AS BIGINT) AS group_size,
             CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS l
      FROM customer
      GROUP BY c_nationkey, floor(c_acctbal / 2000)
    )
    SELECT l,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(group_size) AS BIGINT) AS n_customers,
           CAST(CASE WHEN l < 2 THEN 1 ELSE 0 END AS BIGINT) AS at_risk
    FROM g GROUP BY l ORDER BY l
    """,
)
def customer_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit, the attribute-disclosure complement of
    `customer_k_anonymity`: a quasi-identifier group (nation, coarse
    balance bucket) that is k-anonymous can still leak its SENSITIVE
    attribute if every member shares one value — l = distinct
    sensitive values (market segment) per group, and l=1 groups are
    the disclosure risk this histogram flags. One hash aggregate with
    a distinct count over the bounded QI domain; same scale shape as
    the k-anonymity rollup."""
    cust = _t(spark, sf_dir, "customer")
    g = cust.groupBy(
        "c_nationkey",
        F.floor(F.col("c_acctbal") / 2000).cast("long").alias("bal_bucket"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("group_size"),
        F.countDistinct("c_mktsegment").cast("long").alias("l"),
    )
    return (
        g.groupBy("l")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_groups"),
            F.sum("group_size").cast("long").alias("n_customers"),
        )
        .select(
            "l",
            "n_groups",
            "n_customers",
            F.when(F.col("l") < 2, 1).otherwise(0).cast("long").alias("at_risk"),
        )
        .orderBy("l")
    )


def _fd_sql(fd_name: str, table: str, lhs: str, rhs: str) -> str:
    return f"""
      SELECT '{fd_name}' AS fd,
             CAST(count(*) AS BIGINT) AS n_lhs_groups,
             CAST(sum(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_violating,
             CAST(max(d) AS BIGINT) AS max_rhs_distinct
      FROM (SELECT {lhs}, count(DISTINCT {rhs}) AS d
            FROM {table} GROUP BY {lhs})"""


@q(
    "fd_violation_audit",
    f"""
    SELECT * FROM (
    {_fd_sql("n_nationkey->n_name", "nation", "n_nationkey", "n_name")}
    UNION ALL
    {_fd_sql("o_orderkey->o_custkey", "orders", "o_orderkey", "o_custkey")}
    UNION ALL
    {_fd_sql("user_id->event_type", "events", "user_id", "event_type")}
    ) ORDER BY fd
    """,
)
def fd_violation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency profiling: for each candidate FD X→Y,
    count the X-groups whose Y is not unique — the audit that
    validates assumed keys/dependencies before a pipeline relies on
    them (the first two FDs must hold by schema; user_id→event_type is
    the deliberately-violated control proving the detector detects).
    Each FD is one distinct-count aggregate collapsed to a single row;
    the union is 3 rows. At 100 TB each check is one map-combined
    shuffle on X — the same shape as any keyed distinct count, and
    checks share nothing so they parallelize as independent stages."""

    def fd(fd_name: str, table: str, lhs: str, rhs: str) -> DataFrame:
        t = _t(spark, sf_dir, table)
        g = t.groupBy(lhs).agg(F.countDistinct(rhs).alias("d"))
        return g.agg(
            F.lit(fd_name).alias("fd"),
            F.count(F.lit(1)).cast("long").alias("n_lhs_groups"),
            F.sum(F.when(F.col("d") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_violating"),
            F.max("d").cast("long").alias("max_rhs_distinct"),
        )

    return (
        fd("n_nationkey->n_name", "nation", "n_nationkey", "n_name")
        .unionByName(fd("o_orderkey->o_custkey", "orders", "o_orderkey", "o_custkey"))
        .unionByName(fd("user_id->event_type", "events", "user_id", "event_type"))
        .orderBy("fd")
    )


# ---------------------------------------------------------------------------
# Poisson bootstrap
# ---------------------------------------------------------------------------

_B_REPS = 32
# Inverse-CDF cut points of Poisson(1) on the md5-uint16 scale
# (u in [0, 65535]); identical integer literals on both engines.
_POIS_CUTS: list[int] = []
_cum = 0.0
for _k in range(8):
    _cum += math.exp(-1) / math.factorial(_k)
    _POIS_CUTS.append(math.floor(_cum * 65536))


def _pois_w_sql(u: str) -> str:
    cases = " ".join(
        f"WHEN {u} < {c} THEN {k}" for k, c in enumerate(_POIS_CUTS)
    )
    return f"(CASE {cases} ELSE {len(_POIS_CUTS)} END)"


def _pois_w_col(u):
    w = F.lit(len(_POIS_CUTS))
    for k in range(len(_POIS_CUTS) - 1, -1, -1):
        w = F.when(u < _POIS_CUTS[k], k).otherwise(w)
    return w


# One md5 digest = 128 bits = EIGHT independent 16-bit uniforms, so
# B=32 replicates cost 4 hashes per row, not 32. u for replicate
# b = 8g + j is hex window j of md5('boot:{g}:{key}').
_REPS_PER_HASH = 8
_N_HASH_GROUPS = _B_REPS // _REPS_PER_HASH


def _u16_window_sql(h: str, j: int) -> str:
    hv = lambda p: (  # noqa: E731
        f"(instr('0123456789abcdef', substr({h}, {4 * j + p}, 1)) - 1)"
    )
    return f"((({hv(1)} * 16 + {hv(2)}) * 16 + {hv(3)}) * 16 + {hv(4)})"


def _u16_window_col(h, j: int):
    _HEX = "0123456789abcdef"
    hv = lambda p: F.instr(F.lit(_HEX), F.substring(h, 4 * j + p, 1)) - 1  # noqa: E731
    return ((hv(1) * 16 + hv(2)) * 16 + hv(3)) * 16 + hv(4)


@q(
    "order_price_bootstrap_ci",
    f"""
    WITH hashed AS (
      SELECT o.o_orderkey,
             CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents,
             gg.g,
             md5('boot:' || CAST(gg.g AS VARCHAR) || ':'
                 || CAST(o.o_orderkey AS VARCHAR)) AS h
      FROM orders o,
           (SELECT unnest(generate_series(0, {_N_HASH_GROUPS - 1})) AS g) gg
    ),
    reps AS (
      SELECT cents, g * {_REPS_PER_HASH} + jj.j AS b,
             CASE jj.j {" ".join(f"WHEN {j} THEN {_u16_window_sql('h', j)}"
                                 for j in range(_REPS_PER_HASH))} END AS u
      FROM hashed,
           (SELECT unnest(generate_series(0, {_REPS_PER_HASH - 1})) AS j) jj
    ),
    wtd AS (
      SELECT b, cents, {_pois_w_sql("u")} AS w FROM reps
    ),
    est AS (
      SELECT b,
             CAST(sum(w) AS BIGINT) AS n_eff,
             round(sum(w * cents) * 10000.0 / sum(w)) / 10000.0 AS mean_cents
      FROM wtd GROUP BY b HAVING sum(w) > 0
    ),
    point AS (
      SELECT round(sum(CAST(round(o_totalprice * 100) AS BIGINT)) * 10000.0
                   / count(*)) / 10000.0 AS point_mean_cents
      FROM orders
    )
    SELECT CAST(count(*) AS BIGINT) AS n_reps,
           any_value(p.point_mean_cents) AS point_mean_cents,
           round(list_reduce(
                   list_transform(list(e.mean_cents ORDER BY e.b),
                                  x -> round(x * 10000.0)),
                   (a, x) -> a + x)
                 / count(*) / 10000.0 * 10000.0) / 10000.0 AS boot_mean_cents,
           list_sort(list(e.mean_cents))[2] AS ci90_lo_cents,
           list_sort(list(e.mean_cents))[{_B_REPS - 1}] AS ci90_hi_cents
    FROM est e, point p
    """,
)
def order_price_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap (the web-scale bootstrap: Chamandy et al.,
    Google 2012) for the mean order price. Materializing B resamples
    of a 100 TB fact table is impossible; instead every row draws an
    independent Poisson(1) weight per replicate — the large-n limit of
    multinomial resampling — so ONE scan with a B-way in-row fan-out
    serves all replicates, and the per-replicate weighted sums are
    map-side combinable into a B-row shuffle. One 128-bit digest
    yields EIGHT independent 16-bit uniforms, so the hash bill is
    B/8 md5s per row — at 100 TB the hash IS the map-stage cost, and
    the windowing is an 8× cut for free. Determinism: the weight
    derives from the salted portable md5 (`boot:{{g}}:` per-hash-group
    salt, CLAUDE.md rule) through exact integer inverse-CDF cut
    points; prices are cents-quantized so replicate means are exact
    integer ratios under a display round, and the bootstrap mean folds
    IN-ROW over the b-ordered replicate list. ci90 = 2nd / 31st order
    statistics of the 32 replicate means (≈ p5 / p95); the HAVING
    sum(w)>0 guard keeps the ANSI division total (a replicate losing
    every row is impossible in practice but must not throw). The
    fan-out input loads via _t_wide: the testdata parquet is a single
    row group, and the 32×·md5-dense map stage must not run in one
    task (at real scale the scan is already multi-partition and the
    repartition is a no-op choice)."""
    orders = _t_wide(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    hashed = orders.select(
        "o_orderkey",
        cents.alias("cents"),
        F.explode(F.sequence(F.lit(0), F.lit(_N_HASH_GROUPS - 1))).alias("g"),
    ).select(
        "cents",
        "g",
        F.md5(
            F.concat(
                F.lit("boot:"),
                F.col("g").cast("string"),
                F.lit(":"),
                F.col("o_orderkey").cast("string"),
            )
        ).alias("h"),
    )
    reps = hashed.select(
        "cents",
        "g",
        F.posexplode(
            F.array(*[_u16_window_col(F.col("h"), j) for j in range(_REPS_PER_HASH)])
        ).alias("j", "u"),
    ).select(
        "cents",
        (F.col("g") * _REPS_PER_HASH + F.col("j")).alias("b"),
        "u",
    )
    wtd = reps.select("b", "cents", _pois_w_col(F.col("u")).alias("w"))
    est = (
        wtd.groupBy("b")
        .agg(
            F.sum("w").cast("long").alias("n_eff"),
            (
                F.round(F.sum(F.col("w") * F.col("cents")) * 10000.0 / F.sum("w"))
                / 10000.0
            ).alias("mean_cents"),
        )
        .where(F.col("n_eff") > 0)
    )
    point = orders.agg(
        (F.round(F.sum(cents) * 10000.0 / F.count(F.lit(1))) / 10000.0).alias(
            "point_mean_cents"
        )
    )
    by_b = F.array_sort(F.collect_list(F.struct("b", "mean_cents")))
    boot_mean = (
        F.round(
            F.aggregate(
                F.transform(by_b, lambda s: F.round(s["mean_cents"] * 10000.0)),
                F.lit(0.0),
                lambda a, x: a + x,
            )
            / F.count(F.lit(1))
            / 10000.0
            * 10000.0
        )
        / 10000.0
    )
    by_val = F.array_sort(F.collect_list("mean_cents"))
    return est.crossJoin(F.broadcast(point)).agg(
        F.count(F.lit(1)).cast("long").alias("n_reps"),
        F.any_value("point_mean_cents").alias("point_mean_cents"),
        boot_mean.alias("boot_mean_cents"),
        F.element_at(by_val, 2).alias("ci90_lo_cents"),
        F.element_at(by_val, _B_REPS - 1).alias("ci90_hi_cents"),
    )


# ---------------------------------------------------------------------------
# Z-order locality
# ---------------------------------------------------------------------------

_Z_BITS = 16
_Z_EPOCH = "1995-01-01"


def _z_sql(x: str, y: str) -> str:
    return " + ".join(
        f"((({x} >> {i}) & 1) << {2 * i}) + ((({y} >> {i}) & 1) << {2 * i + 1})"
        for i in range(_Z_BITS)
    )


def _z_col(x, y):
    z = F.lit(0).cast("long")
    for i in range(_Z_BITS):
        z = (
            z
            + F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i)
            + F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return z


@q(
    "orders_zorder_locality",
    f"""
    WITH keyed AS (
      SELECT o_custkey AS ck,
             (CAST(o_orderdate AS DATE) - DATE '{_Z_EPOCH}') AS dy
      FROM orders
    ),
    z AS (
      SELECT ck, dy,
             ({_z_sql("(ck & 65535)", "(dy & 65535)")}) >> 22 AS bucket
      FROM keyed
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(max(ck) - min(ck) AS BIGINT) AS cust_span,
           CAST(max(dy) - min(dy) AS BIGINT) AS day_span
    FROM z GROUP BY bucket ORDER BY bucket
    """,
)
def orders_zorder_locality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton curve) layout audit: interleave the bits of
    (customer key, order-day) into one sort key, cut the curve into
    file-sized buckets (top 10 bits → ≤1024 'files'), and measure the
    per-bucket span of EACH dimension. Small spans on both axes are
    precisely what makes lakehouse data skipping work — min/max column
    stats per file prune queries filtering on EITHER dimension,
    unlike a single-column sort which only prunes its leading key.
    The interleave is a fully unrolled 16-bit integer expression
    (pure codegen, exact on both engines — no UDF, no float); the
    audit itself is one map-side-combinable aggregate. At 100 TB the
    same z-value IS the repartitionByRange key a writer would use;
    dimensions are grid-quantized to 2^16 cells (the & 65535), which
    is the standard curve resolution trade-off."""
    keyed = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("ck"),
        # LONG, not the datediff default int: a date before the epoch
        # sets bit 15 after the mask, and (1 << 31) in 32-bit Java
        # arithmetic wraps negative while DuckDB's DATE−DATE math is
        # BIGINT — the interleave must run in 64-bit on both engines.
        F.datediff(F.col("o_orderdate"), F.lit(_Z_EPOCH))
        .cast("long")
        .alias("dy"),
    )
    z = keyed.select(
        "ck",
        "dy",
        F.shiftright(
            _z_col(
                F.col("ck").bitwiseAND(F.lit(65535)),
                F.col("dy").bitwiseAND(F.lit(65535)),
            ),
            22,
        ).alias("bucket"),
    )
    return (
        z.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            (F.max("ck") - F.min("ck")).cast("long").alias("cust_span"),
            (F.max("dy") - F.min("dy")).cast("long").alias("day_span"),
        )
        .select(F.col("bucket").cast("long").alias("bucket"), "n_orders", "cust_span", "day_span")
        .orderBy("bucket")
    )


_OLS_EPOCH = "1995-01-01"


@q(
    "nation_revenue_trend_ols",
    f"""
    WITH daily AS (
      SELECT n.n_name AS nation,
             (CAST(o.o_orderdate AS DATE) - DATE '{_OLS_EPOCH}') AS x,
             CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS y
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY 1, 2
    ),
    s AS (
      SELECT nation,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx
      FROM daily GROUP BY nation HAVING count(*) >= 2
    )
    SELECT nation, n AS n_days,
           CASE WHEN n * sxx - sx * sx <> 0
                THEN round((n * sxy - sx * sy) * 10000.0
                           / (n * sxx - sx * sx)) / 10000.0
           END AS slope_cents_per_day,
           CASE WHEN n * sxx - sx * sx <> 0
                THEN round((CAST(sy AS DOUBLE)
                            - (CAST(n * sxy - sx * sy AS DOUBLE)
                               / (n * sxx - sx * sx)) * sx)
                           * 100.0 / n) / 100.0
           END AS intercept_cents
    FROM s ORDER BY nation
    """,
)
def nation_revenue_trend_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation revenue trend: closed-form least-squares slope and
    intercept of daily revenue against the day index — the
    data-parallel regression shape (collapse the fact to per-group
    sufficient statistics, solve in closed form; no iterative
    optimizer, no driver state). Determinism engineering: x is an
    integer day index and y an exact cents integer, so n, Σx, Σy,
    Σxy, Σx² are all EXACT integer aggregates (map-side combinable,
    immune to float re-association); the slope/intercept then derive
    from those exact integers through an identical fp op sequence on
    both engines. Magnitude check: Σxy ≤ days·maxday·maxdaily ≈
    2.4e3·2.4e3·6e7 ≈ 3.5e14 at sf0.1 — five orders below BIGINT
    overflow, and the day grain keeps growth linear in calendar, not
    rows. The dims broadcast into the fact scan (star shape); the
    daily collapse is the only fact shuffle."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    daily = (
        # customer is CORPUS-scale (grows with SF) — unhinted, AQE
        # picks the strategy; only the 25-row nation dim is forced.
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.datediff("o_orderdate", F.lit(_OLS_EPOCH)).alias("x"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("y")
        )
    )
    s = (
        daily.groupBy("nation")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("x").cast("long").alias("sx"),
            F.sum("y").cast("long").alias("sy"),
            F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
            F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        )
        .where(F.col("n") >= 2)
    )
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    slope = F.when(den != 0, F.round(num * 10000.0 / den) / 10000.0)
    intercept = F.when(
        den != 0,
        F.round(
            (
                F.col("sy").cast("double")
                - (num.cast("double") / den) * F.col("sx")
            )
            * 100.0
            / F.col("n")
        )
        / 100.0,
    )
    return s.select(
        "nation",
        F.col("n").alias("n_days"),
        slope.alias("slope_cents_per_day"),
        intercept.alias("intercept_cents"),
    ).orderBy("nation")


# --- Histogram quantiles ----------------------------------------------------
_BUCKET_CENTS = 100_000  # $1000-wide fixed grid
_QS = (("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100))


@q(
    "price_histogram_quantiles",
    f"""
    WITH c AS (
      SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
      FROM lineitem
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM c),
    t AS (
      SELECT q, (qn * n.n + qd - 1) // qd AS tgt, n.n AS n
      FROM (VALUES {", ".join(f"('{q}', CAST({qn} AS BIGINT), CAST({qd} AS BIGINT))" for q, qn, qd in _QS)})
           AS qs(q, qn, qd)
      CROSS JOIN n
    ),
    dc AS (
      SELECT cents, CAST(count(*) AS BIGINT) AS cnt,
             sum(CAST(count(*) AS BIGINT))
               OVER (ORDER BY cents ASC) AS cum
      FROM c GROUP BY cents
    ),
    ex AS (
      SELECT t.q, min(dc.cents) AS exact_cents
      FROM t JOIN dc ON dc.cum >= t.tgt GROUP BY t.q
    ),
    hb AS (
      SELECT cents // {_BUCKET_CENTS} AS bucket,
             CAST(count(*) AS BIGINT) AS bcnt,
             sum(CAST(count(*) AS BIGINT))
               OVER (ORDER BY cents // {_BUCKET_CENTS} ASC) AS bcum
      FROM c GROUP BY cents // {_BUCKET_CENTS}
    ),
    est AS (
      SELECT t.q, t.tgt, b.bucket, b.bcnt, b.bcum,
             CAST(b.bucket * {_BUCKET_CENTS} AS DOUBLE)
             + {_BUCKET_CENTS}.0
               * (CAST(t.tgt - (b.bcum - b.bcnt) AS DOUBLE)
                  / CAST(b.bcnt AS DOUBLE)) AS est_cents
      FROM t JOIN hb b ON b.bucket = (
        SELECT min(b2.bucket) FROM hb b2 WHERE b2.bcum >= t.tgt
      )
    )
    SELECT e.q,
           round(CAST(x.exact_cents AS DOUBLE)) / 100.0 AS exact_usd,
           round(e.est_cents) / 100.0 AS est_usd,
           round(((e.est_cents - CAST(x.exact_cents AS DOUBLE))
                  / CAST(x.exact_cents AS DOUBLE)) * 100.0 * 10000.0)
             / 10000.0 AS err_pct
    FROM est e JOIN ex x ON x.q = e.q
    ORDER BY e.q
    """,
)
def price_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantiles without a global sort: a fixed $1000-grid histogram of
    line-item prices answers p50/p90/p99 by linear interpolation inside
    the covering bucket, reported next to the exact order statistic and
    the realized error. Per-shard histograms on a fixed grid merge by
    integer addition (≡ one-shot — the pytest property pins it), which
    is why at 100 TB percentile dashboards keep O(buckets) state per
    shard/day instead of re-sorting history.

    Spark shape: one scan → two integer groupBys (distinct cents for
    the exact path — bounded by price cardinality — and the bucket
    grid); target selection joins a 3-row broadcast against the
    cumulative frames. DETERMINISM: targets are integer-ceil
    ((qn·n + qd − 1) DIV qd — float q·n would misceil at exact
    multiples), bucket/rank decisions are BIGINT comparisons, and the
    interpolation is three IEEE ops on exactly-representable integers."""
    li = _t(spark, sf_dir, "lineitem")
    c = li.select(
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents")
    )
    n = c.agg(F.count(F.lit(1)).cast("long").alias("n"))
    targets = (
        local_frame(spark, list(_QS), "q string, qn bigint, qd bigint")
        .crossJoin(F.broadcast(n))
        .select(
            "q",
            F.expr("(qn * n + qd - 1) DIV qd").alias("tgt"),
        )
    )
    dc = (
        c.groupBy("cents")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .withColumn(
            "cum",
            F.sum("cnt").over(
                Window.orderBy(F.asc("cents")).rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
            ),
        )
    )
    ex = (
        F.broadcast(targets)
        .join(dc, dc["cum"] >= targets["tgt"])
        .groupBy("q")
        .agg(F.min("cents").alias("exact_cents"))
    )
    hb = (
        c.select(F.expr(f"cents DIV {_BUCKET_CENTS}").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("bcnt"))
        .withColumn(
            "bcum",
            F.sum("bcnt").over(
                Window.orderBy(F.asc("bucket")).rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
            ),
        )
    )
    cover = (
        F.broadcast(targets)
        .join(hb, hb["bcum"] >= targets["tgt"])
        .groupBy("q", "tgt")
        .agg(F.min("bucket").alias("bucket"))
        .join(hb, "bucket")
    )
    est_cents = F.col("bucket").cast("double") * float(_BUCKET_CENTS) + float(
        _BUCKET_CENTS
    ) * (
        (F.col("tgt") - (F.col("bcum") - F.col("bcnt"))).cast("double")
        / F.col("bcnt").cast("double")
    )
    est = cover.select("q", est_cents.alias("est_cents"))
    return (
        est.join(ex, "q")
        .select(
            "q",
            (
                F.round(F.col("exact_cents").cast("double")) / 100.0
            ).alias("exact_usd"),
            (F.round(F.col("est_cents")) / 100.0).alias("est_usd"),
            (
                F.round(
                    (
                        (
                            F.col("est_cents")
                            - F.col("exact_cents").cast("double")
                        )
                        / F.col("exact_cents").cast("double")
                    )
                    * 100.0
                    * 10000.0
                )
                / 10000.0
            ).alias("err_pct"),
        )
        .orderBy("q")
    )


# --- Grouped shape moments from exact integer power sums --------------------
#
# skewness / excess kurtosis per group, derived ENTIRELY from the four
# integer power sums (n, Σx, Σx², Σx³, Σx⁴) — the mergeable
# sufficient-statistics pattern: map-side combine reduces each
# partition to five BIGINTs per group, shards/days merge by integer
# addition, and the shape stats are a FIXED expression tree of IEEE
# ops on those exactly-representable integers — bitwise identical
# cross-engine (sqrt is an IEEE-exact basic op; no pow/libm anywhere).

@q(
    "quantity_shape_moments",
    """
    WITH s AS (
      SELECT l_returnflag,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS s1,
             CAST(sum(CAST(l_quantity AS BIGINT)
                      * CAST(l_quantity AS BIGINT)) AS BIGINT) AS s2,
             CAST(sum(CAST(l_quantity AS BIGINT)
                      * CAST(l_quantity AS BIGINT)
                      * CAST(l_quantity AS BIGINT)) AS BIGINT) AS s3,
             CAST(sum(CAST(l_quantity AS BIGINT)
                      * CAST(l_quantity AS BIGINT)
                      * CAST(l_quantity AS BIGINT)
                      * CAST(l_quantity AS BIGINT)) AS BIGINT) AS s4
      FROM lineitem GROUP BY l_returnflag
    ),
    m AS (
      SELECT l_returnflag, n, s1,
             CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
             CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS e2,
             CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS e3,
             CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) AS e4
      FROM s
    ),
    cm AS (
      SELECT l_returnflag, n, mu,
             e2 - mu * mu AS m2,
             e3 - 3.0 * mu * e2 + 2.0 * mu * mu * mu AS m3,
             e4 - 4.0 * mu * e3 + 6.0 * mu * mu * e2
                - 3.0 * mu * mu * mu * mu AS m4
      FROM m
    )
    SELECT l_returnflag, n,
           round(mu * 1000000.0) / 1000000.0 AS mean_qty,
           round(sqrt(m2) * 1000000.0) / 1000000.0 AS stddev_pop,
           round((m3 / (m2 * sqrt(m2))) * 1000000.0) / 1000000.0
             AS skewness,
           round((m4 / (m2 * m2) - 3.0) * 1000000.0) / 1000000.0
             AS excess_kurtosis
    FROM cm ORDER BY l_returnflag
    """,
)
def quantity_shape_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag distribution shape (mean, population stddev,
    skewness, excess kurtosis) computed from exact integer power sums
    — five BIGINTs per group, map-side combinable and mergeable across
    shards/days by integer addition, so 100 TB shape monitoring never
    recomputes from raw rows. The moment formulas are a fixed IEEE
    expression tree on exactly-representable integers (μ powers
    spelled as repeated multiplication, `m2^1.5` as `m2*sqrt(m2)` —
    sqrt is IEEE-exact, pow is libm and banned), spelled identically
    on both engines, so even the unrounded doubles are bitwise
    identical. l_quantity is integer-valued at the source; the BIGINT
    cast makes the sums exact (Σx⁴ ≤ 50⁴·|lineitem| ≈ 4e12 at sf0.1 —
    five orders of magnitude under the BIGINT ceiling)."""
    li = _t(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("long")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(x).cast("long").alias("s1"),
        F.sum(x * x).cast("long").alias("s2"),
        F.sum(x * x * x).cast("long").alias("s3"),
        F.sum(x * x * x * x).cast("long").alias("s4"),
    )
    nd = F.col("n").cast("double")
    mu = F.col("s1").cast("double") / nd
    e2 = F.col("s2").cast("double") / nd
    e3 = F.col("s3").cast("double") / nd
    e4 = F.col("s4").cast("double") / nd
    m = s.select("l_returnflag", "n", mu.alias("mu"), e2.alias("e2"),
                 e3.alias("e3"), e4.alias("e4"))
    mu_, e2_, e3_, e4_ = (F.col(c) for c in ("mu", "e2", "e3", "e4"))
    cm = m.select(
        "l_returnflag",
        "n",
        "mu",
        (e2_ - mu_ * mu_).alias("m2"),
        (e3_ - F.lit(3.0) * mu_ * e2_ + F.lit(2.0) * mu_ * mu_ * mu_).alias(
            "m3"
        ),
        (
            e4_
            - F.lit(4.0) * mu_ * e3_
            + F.lit(6.0) * mu_ * mu_ * e2_
            - F.lit(3.0) * mu_ * mu_ * mu_ * mu_
        ).alias("m4"),
    )
    m2, m3, m4 = F.col("m2"), F.col("m3"), F.col("m4")
    return cm.select(
        "l_returnflag",
        "n",
        (F.round(F.col("mu") * 1000000.0) / 1000000.0).alias("mean_qty"),
        (F.round(F.sqrt(m2) * 1000000.0) / 1000000.0).alias("stddev_pop"),
        (F.round((m3 / (m2 * F.sqrt(m2))) * 1000000.0) / 1000000.0).alias(
            "skewness"
        ),
        (
            F.round((m4 / (m2 * m2) - F.lit(3.0)) * 1000000.0) / 1000000.0
        ).alias("excess_kurtosis"),
    ).orderBy("l_returnflag")


# --- t-closeness -------------------------------------------------------------
#
# For an ORDERED sensitive attribute the Earth-Mover's Distance between
# a quasi-group's distribution and the global one has the closed form
#   EMD = (1/(b-1)) · Σ_j |P_g(≤j) − P(≤j)|
# over the b fixed bins. Cross-multiplying the prefix shares keeps the
# entire decision integral: |cum_g·N − cum_t·n_g| is an exact BIGINT
# (headroom: the binding term is emd_den = n_g·N·(b−1) ≤ 10·N², so
# BIGINT overflows only past N ≈ 9.6e8 customers), and
# the t=0.15 violation test becomes 2·Σ|…| > 3·n_g·N·(b−1)/10 · …,
# spelled below with integer factors only.

_TC_BINS = 11  # acctbal cents shifted +100000, div 100000 → bins 0..10
_TC_SHIFT = 100_000
_TC_WIDTH = 100_000


@q(
    "customer_t_closeness",
    f"""
    WITH c AS (
      SELECT c_mktsegment AS seg,
             CAST((CAST(round(c_acctbal * 100) AS BIGINT) + {_TC_SHIFT})
                  // {_TC_WIDTH} AS BIGINT) AS bin
      FROM customer
    ),
    segs AS (SELECT DISTINCT seg FROM c),
    bins AS (SELECT unnest(range(0, {_TC_BINS})) AS bin),
    grid AS (SELECT seg, bin FROM segs CROSS JOIN bins),
    gc AS (
      SELECT seg, bin, CAST(count(*) AS BIGINT) AS cnt
      FROM c GROUP BY seg, bin
    ),
    tc AS (
      SELECT bin, CAST(count(*) AS BIGINT) AS tcnt FROM c GROUP BY bin
    ),
    f AS (
      SELECT g.seg, g.bin,
             coalesce(gc.cnt, 0) AS cnt,
             coalesce(tc.tcnt, 0) AS tcnt
      FROM grid g
      LEFT JOIN gc ON gc.seg = g.seg AND gc.bin = g.bin
      LEFT JOIN tc ON tc.bin = g.bin
    ),
    p AS (
      SELECT seg, bin,
             sum(cnt)  OVER (PARTITION BY seg ORDER BY bin) AS cum_g,
             sum(tcnt) OVER (PARTITION BY seg ORDER BY bin) AS cum_t,
             sum(cnt)  OVER (PARTITION BY seg) AS n_g,
             sum(tcnt) OVER (PARTITION BY seg) AS n_t
      FROM f
    ),
    e AS (
      SELECT seg,
             CAST(max(n_g) AS BIGINT) AS n_customers,
             CAST(sum(abs(cum_g * max_nt.n - cum_t * n_g)) AS BIGINT)
               AS emd_num,
             CAST(max(n_g) AS BIGINT) * max_nt.n * {_TC_BINS - 1}
               AS emd_den
      FROM p, (SELECT CAST(count(*) AS BIGINT) AS n FROM c) AS max_nt
      GROUP BY seg, max_nt.n
    )
    SELECT seg AS mktsegment, n_customers,
           round(CAST(emd_num AS DOUBLE) / emd_den * 1000000.0)
             / 1000000.0 AS emd,
           CAST(CASE WHEN 20 * emd_num > 3 * emd_den THEN 1 ELSE 0 END
                AS BIGINT) AS t_violation
    FROM e ORDER BY mktsegment
    """,
)
def customer_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (the attribute-disclosure metric that
    completes the k-anonymity / l-diversity privacy trio): per market
    segment, the Earth-Mover's Distance between the segment's account-
    balance distribution and the global one over a FIXED ordered
    $1000-cents bin grid, flagged against t = 0.15.

    EMD over ordered bins has the prefix-share closed form; cross-
    multiplying shares makes every term |cum_g·N − cum_t·n_g| an
    exact BIGINT (headroom note: the binding term is the denominator
    n_g·N·(b−1) ≤ 10·N², overflowing BIGINT past N ≈ 9.6e8 customers —
    at that scale promote to DECIMAL(38,0) like the AUC entry), so EMD and the
    violation flag (20·Σ|…| > 3·n_g·N·(b−1), t=0.15 with b−1=10
    folded in) are integer-decided; the only float is the single
    display division. Scale shape: one fact aggregate to the
    (segments × 11)-cell grid; the prefix windows are PARTITIONED by
    segment over 11 fixed bins each — the global prefix rides the
    same grid (joined per segment), so no unpartitioned window
    exists. Negative balances shift +$1000 before the integer div so
    truncating (Spark div) and flooring (DuckDB //) division agree on
    the non-negative domain."""
    cust = _t(spark, sf_dir, "customer")
    c = cust.select(
        F.col("c_mktsegment").alias("seg"),
        (
            (
                F.round(F.col("c_acctbal") * 100).cast("long")
                + F.lit(_TC_SHIFT)
            )
            / _TC_WIDTH
        )
        .cast("long")
        .alias("bin"),
    )
    segs = c.select("seg").distinct()
    bins = spark.range(_TC_BINS).select(F.col("id").alias("bin"))
    grid = segs.crossJoin(F.broadcast(bins))
    gc = c.groupBy("seg", "bin").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    tc = c.groupBy("bin").agg(F.count(F.lit(1)).cast("long").alias("tcnt"))
    f = (
        grid.join(gc, ["seg", "bin"], "left")
        .join(F.broadcast(tc), "bin", "left")
        .select(
            "seg",
            "bin",
            F.coalesce("cnt", F.lit(0)).alias("cnt"),
            F.coalesce("tcnt", F.lit(0)).alias("tcnt"),
        )
    )
    wseg = W.partitionBy("seg").orderBy("bin")
    wall = W.partitionBy("seg")
    p = f.select(
        "seg",
        F.sum("cnt").over(wseg).alias("cum_g"),
        F.sum("tcnt").over(wseg).alias("cum_t"),
        F.sum("cnt").over(wall).alias("n_g"),
    )
    n_total = c.agg(F.count(F.lit(1)).cast("long").alias("n"))
    e = (
        p.crossJoin(F.broadcast(n_total))
        .groupBy("seg")
        .agg(
            F.max("n_g").cast("long").alias("n_customers"),
            F.sum(
                F.abs(F.col("cum_g") * F.col("n") - F.col("cum_t") * F.col("n_g"))
            )
            .cast("long")
            .alias("emd_num"),
            (F.max("n_g") * F.max("n") * (_TC_BINS - 1))
            .cast("long")
            .alias("emd_den"),
        )
    )
    return e.select(
        F.col("seg").alias("mktsegment"),
        "n_customers",
        (
            F.round(
                F.col("emd_num").cast("double") / F.col("emd_den") * 1000000.0
            )
            / 1000000.0
        ).alias("emd"),
        F.when(20 * F.col("emd_num") > 3 * F.col("emd_den"), 1)
        .otherwise(0)
        .cast("long")
        .alias("t_violation"),
    ).orderBy("mktsegment")


# --- Join-key skew histogram --------------------------------------------------

@q(
    "orders_custkey_skew_profile",
    """
    WITH pc AS (
      SELECT o_custkey, CAST(count(*) AS BIGINT) AS cnt
      FROM orders GROUP BY o_custkey
    ),
    t AS (
      SELECT CAST(count(*) AS BIGINT) AS n_keys,
             CAST(sum(cnt) AS BIGINT) AS n_rows,
             CAST(max(cnt) AS BIGINT) AS max_cnt
      FROM pc
    )
    SELECT pc.cnt AS orders_per_customer,
           CAST(count(*) AS BIGINT) AS n_customers,
           round(CAST(count(*) AS BIGINT) * 1000000.0 / max(t.n_keys))
             / 1000000.0 AS key_share,
           round(CAST(max(t.max_cnt) AS DOUBLE) * max(t.n_keys)
                 * 1000000.0 / max(t.n_rows)) / 1000000.0
             AS skew_factor
    FROM pc CROSS JOIN t
    GROUP BY pc.cnt ORDER BY pc.cnt
    """,
)
def orders_custkey_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew profile for the orders→customer key: the
    count-of-counts histogram (how many customers place exactly k
    orders) plus the skew factor max/mean — the diagnostic that
    decides whether a key needs salting or an AQE skew-join hint
    BEFORE the shuffle burns. The histogram domain is bounded by the
    heaviest key's count (≪ corpus); all memberships are exact
    integers, shares/skew are single display divisions of exact
    integers. Scale shape: one fact aggregate with map-side combine,
    one ≤max_cnt-row regroup, one broadcast scalar frame."""
    orders = _t(spark, sf_dir, "orders")
    pc = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    t = pc.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("cnt").cast("long").alias("n_rows"),
        F.max("cnt").cast("long").alias("max_cnt"),
    )
    return (
        pc.crossJoin(F.broadcast(t))
        .groupBy(F.col("cnt").alias("orders_per_customer"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            (
                F.round(
                    F.count(F.lit(1)).cast("long")
                    * 1000000.0
                    / F.max("n_keys")
                )
                / 1000000.0
            ).alias("key_share"),
            (
                F.round(
                    F.max("max_cnt").cast("double")
                    * F.max("n_keys")
                    * 1000000.0
                    / F.max("n_rows")
                )
                / 1000000.0
            ).alias("skew_factor"),
        )
        .orderBy("orders_per_customer")
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
