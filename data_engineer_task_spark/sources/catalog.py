"""Testdata catalog helpers: load driver parquet tables, register views.

Every table in TESTDATA.md is one parquet file under
``{sf_dir}/{name}.parquet``. ``register_testdata`` mirrors the DuckDB
oracle's pre-registered views so ``spark.sql`` text matches oracle SQL
table names one-for-one. ``open_parquet`` is the package's one way to
open parquet: it infers a file set's schema once per process.
"""

from __future__ import annotations

import copy
import threading
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..schemas import TESTDATA_TABLES


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # Older driver testdata stored events.ts as TIMESTAMP(NANOS), which
    # Spark's reader rejects. Read nanos as long and floor-convert to
    # micros — identical to DuckDB's ns→us truncation, so oracle-safe.
    # Set before EVERY table open, not only events: the flag is part of
    # the schema memo's key, so one conf state for every open keeps a
    # table's key stable whatever order the tables are opened in.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = open_parquet(spark, f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(raw.dtypes).get("ts") == "bigint":
        raw = raw.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return _normalize_ntz(spark, raw)


def _normalize_ntz(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Cast any timestamp_ntz column to timestamp (LTZ).

    The driver parquet stores naive micros (isAdjustedToUTC=false);
    Spark 4 infers those as TIMESTAMP_NTZ, which `unix_micros`,
    `window`, and friends reject. The DuckDB oracle treats the same
    values as UTC instants, so the correct reading is "wall clock IS
    UTC": pin the session timezone to UTC (idempotent, runtime-safe)
    and cast — the stored micros are then preserved bit-for-bit.
    """
    ntz_cols = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    if not ntz_cols:
        return df
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return df.withColumns(
        {c: F.col(c).cast("timestamp") for c in ntz_cols}
    )


def register_testdata(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TESTDATA_TABLES
) -> dict[str, DataFrame]:
    out = {}
    for name in tables:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


_ROW_COUNT_CACHE: dict[tuple, int] = {}

# Conservative per-value estimate for a broadcast row's in-memory cost;
# with the 256 MiB working cap below, a 2-column dim projection stays
# hinted to ~8M rows and a full-width customer to ~2M — past that the
# hint silently vanishes and the join falls back to the planner (SMJ,
# or AQE's own broadcast decision if runtime stats allow it).
_BROADCAST_BYTES_PER_VALUE = 16
_BROADCAST_LIMIT_BYTES = 256 << 20


def parquet_file_identity(path: str) -> tuple[list[str], tuple] | None:
    """The part-file list and a (path, size, mtime_ns) identity key for
    a parquet path or glob — a single file, a (partitioned) directory,
    or a glob over either — the shared base of every footer-metadata
    shortcut (row counts, column stats) and of the schema memo, so the
    walk/sort/stat pattern exists ONCE (code-review r10 finding 4).
    Hidden names (``_SUCCESS``, ``_temporary/``, ``.crc``) are skipped
    as Spark's own listing skips them. Returns None when the layout is
    missing, not on the local FS (a non-``file:`` URI: object stores,
    HDFS), a ``{a,b}`` alternation Python's glob cannot expand, or a
    file vanishes between walk and stat (testdata regeneration racing
    a run) — callers fall back to not knowing."""
    import glob
    import os
    from urllib.parse import urlparse

    if path.startswith("file:"):
        path = urlparse(path).path
    if "://" in path or "{" in path:
        return None
    try:
        files: list[str] = []
        roots = glob.glob(path) if glob.has_magic(path) else [path]
        for root in roots:
            if os.path.isdir(root):
                for top, dirs, names in os.walk(root):
                    dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
                    files += [
                        os.path.join(top, n)
                        for n in names
                        if n.endswith(".parquet")
                        and not n.startswith(("_", "."))
                    ]
            elif os.path.exists(root):
                files.append(root)
        if not files:
            return None
        files.sort()
        key = tuple(
            (f, st.st_size, st.st_mtime_ns)
            for f in files
            for st in [os.stat(f)]
        )
        return files, key
    except OSError:
        return None


# Parquet schema inference (``mergeSchemasInParallel``) is a one-task
# Spark job on EVERY ``spark.read.parquet``, even for one file. The
# memo keeps each inferred schema under the files' identity plus the
# session confs that shape inference; a later open of the same files
# reads with ``.schema(cached)`` and launches no job. LRU-bounded.
_SCHEMA_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.caseSensitive",
    "spark.sql.parquet.mergeSchema",
)
_SCHEMA_MEMO_SIZE = 256
_SCHEMA_MEMO: OrderedDict[tuple, StructType] = OrderedDict()
_SCHEMA_LOCK = threading.Lock()


def _schema_key(spark: SparkSession, paths: tuple[str, ...]) -> tuple | None:
    idents = [parquet_file_identity(p) for p in paths]
    if not idents or None in idents:
        return None
    confs = tuple(spark.conf.get(c) for c in _SCHEMA_CONFS)
    return paths, tuple(i[1] for i in idents), confs


def _memo_get(key: tuple | None) -> StructType | None:
    if key is None:
        return None
    with _SCHEMA_LOCK:
        schema = _SCHEMA_MEMO.get(key)
        if schema is not None:
            _SCHEMA_MEMO.move_to_end(key)
        return schema


def _infer(spark: SparkSession, paths: tuple[str, ...], key: tuple | None) -> DataFrame:
    df = spark.read.parquet(*paths)
    if key is not None:
        with _SCHEMA_LOCK:
            _SCHEMA_MEMO[key] = copy.deepcopy(df.schema)
            while len(_SCHEMA_MEMO) > _SCHEMA_MEMO_SIZE:
                _SCHEMA_MEMO.popitem(last=False)
    return df


def open_parquet(spark: SparkSession, *paths: str) -> DataFrame:
    """``spark.read.parquet(*paths)`` that infers each file set's schema
    once per process. The memo key is the paths as given, every file's
    (path, size, mtime_ns) identity and the values of ``_SCHEMA_CONFS``;
    a hit reads with that schema and launches no Spark job. A rewritten
    file, a conf change, or a path the local FS cannot stat infers as a
    plain read does. The package's one way to open parquet."""
    key = _schema_key(spark, paths)
    schema = _memo_get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(*paths)
    return _infer(spark, paths, key)


def parquet_schema(spark: SparkSession, *paths: str) -> StructType:
    """The schema ``open_parquet(spark, *paths)`` reads with, from the
    memo when it holds the key — no DataFrame is built then. A copy:
    ``StructType.add`` mutates in place."""
    key = _schema_key(spark, paths)
    schema = _memo_get(key)
    if schema is None:
        schema = _infer(spark, paths, key).schema
    return copy.deepcopy(schema)


def table_row_count(sf_dir: str, name: str) -> int | None:
    """Exact row count from parquet FOOTER metadata — no scan, no Spark
    job; cached on the files' (path, size, mtime) identity. Returns
    None when the layout is unreadable (caller falls back to not
    knowing)."""
    ident = parquet_file_identity(f"{sf_dir}/{name}.parquet")
    if ident is None:
        return None
    files, key = ident
    if key in _ROW_COUNT_CACHE:
        return _ROW_COUNT_CACHE[key]
    try:
        import pyarrow.parquet as pq

        n = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    except Exception:
        return None
    _ROW_COUNT_CACHE[key] = n
    return n


def gated_broadcast(df: DataFrame, sf_dir: str, name: str) -> DataFrame:
    """``F.broadcast(df)`` only when the backing table is measured
    small; the frame unchanged otherwise.

    House rule (CLAUDE.md, r10 audit): an explicit broadcast hint
    bypasses Spark's size guard, so it must never be FORCED on a frame
    that grows with the corpus — customer and part are linear in the
    scale factor, and at 100 TB a forced hint OOMs every executor. But
    just dropping the hint was measured 2-3x slower at bench scale
    (the unhinted join stays SortMergeJoin even under AQE), so the
    hint is gated on a measured bound instead — parquet footer row
    counts (scan-free, cached; the ``BROADCAST_GROUP_LIMIT`` /
    footer-stats precedent), priced at a conservative 16 bytes per
    projected value against a 256 MiB working cap. Unknown size =
    no hint (the safe side)."""
    rows = table_row_count(sf_dir, name)
    if (
        rows is not None
        and rows * max(1, len(df.columns)) * _BROADCAST_BYTES_PER_VALUE
        <= _BROADCAST_LIMIT_BYTES
    ):
        return F.broadcast(df)
    return df
