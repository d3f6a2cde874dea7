"""Generic relational operators, parameterized by schema.

Each generalizes a pattern the reference hand-writes in SQL or pandas
(citations per function). All are lazy DataFrame → DataFrame transforms;
Catalyst picks the physical strategy (broadcast vs sort-merge, etc.).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def anti_join(left: DataFrame, right: DataFrame, on: str | Sequence[str]) -> DataFrame:
    """Rows of ``left`` with no match in ``right`` (NOT EXISTS).

    Reference pattern: LEFT JOIN ... WHERE right.key IS NULL
    (``queries.py:40-51``). Spark has a first-class anti join — no
    outer-join materialization, and the probe side never shuffles the
    payload columns. Right side is pruned to the join key, and plans
    exactly as Spark's own ``NOT EXISTS``: duplicate keys cannot change
    an anti join's rows, so de-duplicating them first would only add an
    aggregate, a shuffle stage and a job ahead of the broadcast.
    """
    on = [on] if isinstance(on, str) else list(on)
    return left.join(right.select(*on), on, "left_anti")


def semi_join(left: DataFrame, right: DataFrame, on: str | Sequence[str]) -> DataFrame:
    """Rows of ``left`` with ≥1 match in ``right`` (EXISTS), each once.

    Reference pattern: client-side IN-list splicing between two queries
    (``task.py:222-223``, ``queries.py:115-121``) — collapses into one
    distributed semi join, no driver round-trip. Same key-only right
    side as ``anti_join``, the shape Spark gives ``EXISTS``.
    """
    on = [on] if isinstance(on, str) else list(on)
    return left.join(right.select(*on), on, "left_semi")


def top_k(df: DataFrame, order_by: Sequence[Column], k: int = 1) -> DataFrame:
    """ORDER BY ... LIMIT k — the reference's favorite shape
    (``queries.py:60,68,76,82,89,108``).

    Callers must pass explicit null ordering (``desc_nulls_last`` etc.):
    Postgres DESC defaults NULLS FIRST, Spark/DuckDB NULLS LAST
    (SURVEY §2.4 D3) — forcing the caller to choose removes the trap.
    Physical plan is TakeOrderedAndProject: per-partition top-k then a
    k-row merge on the driver — no global sort, scales to any input.
    """
    return df.orderBy(*order_by).limit(k)


def top_k_per_group(
    df: DataFrame,
    group_by: Sequence[str],
    order_by: Sequence[Column],
    k: int = 1,
    rank_col: str = "_rank",
) -> DataFrame:
    """Top-k within each group via row_number window (single shuffle on
    the group keys; map-side partial sort under AQE)."""
    w = Window.partitionBy(*group_by).orderBy(*order_by)
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .where(F.col(rank_col) <= k)
        .drop(rank_col)
    )


def yoy_growth(
    df: DataFrame,
    year_col: str,
    value_col: str,
    growth_col: str = "growth_pct",
    prev_col: str = "prev_value",
) -> DataFrame:
    """Year-over-year % growth of a per-year measure.

    The reference hand-rolls this as two identical grouped subqueries
    self-joined on ``t1.year = t2.year + 1`` (``queries.py:93-108``).
    Idiomatic Spark: one ``lag`` window — one shuffle instead of two
    aggregations + a join, and the subquery isn't computed twice.
    Note ``lag`` looks at the previous *row*, so a gap year yields
    growth vs the latest earlier year — the self-join form instead
    drops gap years. We keep self-join semantics by nulling out rows
    where the previous year isn't year-1, matching the reference.

    Float division (Spark/DuckDB semantics), not Postgres integer
    division — SURVEY §2.4 D4.

    Input rows are summed per year first, so duplicate year rows are
    well-defined (lag over un-aggregated duplicates would compare a
    year to ITSELF, nondeterministically nulling the next year's
    growth). The window is deliberately unpartitioned: post-aggregate
    cardinality is bounded by the number of distinct years (decades,
    not data volume), so the single-task sort is trivial at any scale.
    """
    df = df.groupBy(year_col).agg(F.sum(value_col).alias(value_col))
    w = Window.orderBy(year_col)
    prev_year = F.lag(year_col).over(w)
    prev_val = F.lag(value_col).over(w)
    adjacent = prev_year == (F.col(year_col) - F.lit(1))
    return (
        df.withColumn(prev_col, F.when(adjacent, prev_val))
        .withColumn(
            growth_col,
            (F.col(value_col) - F.col(prev_col)) / F.col(prev_col) * 100.0,
        )
    )
