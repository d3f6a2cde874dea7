"""Helpers shared by more than one entry family, and ``q``, the
decorator every declared entry registers through.

A helper used by a single family lives in that family's module; only
what two or more families use lives here. ``plans/analytics.py``
orders the registrations by its ``INVENTORY`` tuple.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ..sources.catalog import load_table


REGISTERED_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
REGISTERED_ORACLE: dict[str, str] = {}


def q(name: str, sql: str | None = None):
    """Register a declared entry: its Spark form and, when given, its
    DuckDB oracle. A name registers once."""

    def deco(fn):
        if name in REGISTERED_QUERIES:
            raise ValueError(f"entry {name!r} is registered twice")
        REGISTERED_QUERIES[name] = fn
        if sql is not None:
            REGISTERED_ORACLE[name] = sql
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


_STOP_SQL = "('the', 'a', 'an', 'and', 'of', 'to', 'in', 'is', 'it')"


def _md5_u16_sql(expr: str, salt: str) -> str:
    """DuckDB spelling of sampling._md5_uint16(col, salt): first two
    md5 bytes (0..65535) of salt + expr."""
    h = f"md5('{salt}' || {expr})"

    def hv(p: int) -> str:
        return f"(instr('0123456789abcdef', substr({h}, {p}, 1)) - 1)"

    return f"((({hv(1)} * 16 + {hv(2)}) * 16 + {hv(3)}) * 16 + {hv(4)})"


def _md5_uint48_sql(expr: str, salt: str = "kmv:") -> str:
    """DuckDB spelling of sketch.kmv_hash(col, salt): first 12 md5
    nibbles as a BIGINT in [0, 2^48). Salted so sketch membership is
    independent of the split/strat/ws hashes (operators/sampling.py)."""
    h = f"md5('{salt}' || {expr})"
    hv = lambda p: (  # noqa: E731
        f"(instr('0123456789abcdef', substr({h}, {p}, 1)) - 1)"
    )
    acc = hv(1)
    for p in range(2, 13):
        acc = f"({acc} * 16 + {hv(p)})"
    return f"CAST({acc} AS BIGINT)"
