"""Table opens at their job floor: the parquet schema memo behind
``catalog.open_parquet`` and the job budgets of the short relational
entries that open tables through it."""

from __future__ import annotations

import os
import re
import time

import pytest

from data_engineer_task_spark.plans.analytics import QUERIES
from data_engineer_task_spark.schemas import TESTDATA_TABLES
from data_engineer_task_spark.sources import catalog
from data_engineer_task_spark.sources.catalog import open_parquet

from conftest import SF_SMOKE


def _formatted(spark, df) -> str:
    """The formatted physical plan with expression ids masked (each
    read mints fresh ones)."""
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    return re.sub(r"#\d+", "#", plan)


def _rows(df) -> list[tuple]:
    return sorted((tuple(r) for r in df.collect()), key=repr)


def test_second_open_launches_no_job(spark, in_job_group, tmp_path):
    path = str(tmp_path / "t.parquet")
    spark.range(10).selectExpr("id", "id * 2 AS v").write.parquet(path)
    first, first_jobs = in_job_group(lambda: open_parquet(spark, path))
    again, again_jobs = in_job_group(lambda: open_parquet(spark, path))
    assert first_jobs, "the first open infers the schema with a Spark job"
    assert again_jobs == set()
    assert again.schema == first.schema


def test_rewritten_file_is_reinferred(spark, in_job_group, tmp_path):
    path = str(tmp_path / "t.parquet")
    spark.range(3).write.parquet(path)
    assert open_parquet(spark, path).columns == ["id"]
    time.sleep(0.01)  # a distinct mtime even on coarse-clock filesystems
    spark.range(3).selectExpr("id", "'x' AS s").write.mode("overwrite").parquet(path)
    df, jobs = in_job_group(lambda: open_parquet(spark, path))
    assert jobs
    assert df.columns == ["id", "s"]
    assert _rows(df) == [(0, "x"), (1, "x"), (2, "x")]


def test_schema_shaping_conf_change_is_reinferred(spark, in_job_group, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    # written without Spark's schema footer, so inference reads the
    # parquet types and binaryAsString decides the column's type
    path = str(tmp_path / "b.parquet")
    pq.write_table(pa.table({"b": pa.array([b"ab"], pa.binary())}), path)
    key = "spark.sql.parquet.binaryAsString"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        assert dict(open_parquet(spark, path).dtypes)["b"] == "binary"
        spark.conf.set(key, "true")
        df, jobs = in_job_group(lambda: open_parquet(spark, path))
        assert jobs
        assert dict(df.dtypes)["b"] == "string"
    finally:
        spark.conf.set(key, old)


def test_unstattable_paths_have_no_identity(tmp_path):
    assert catalog.parquet_file_identity("s3a://bucket/t.parquet") is None
    assert catalog.parquet_file_identity(str(tmp_path / "{a,b}.parquet")) is None
    assert catalog.parquet_file_identity(str(tmp_path / "absent.parquet")) is None
    (tmp_path / "d").mkdir()
    for name in ("part-0.parquet", "_SUCCESS", ".part-0.parquet.crc"):
        (tmp_path / "d" / name).write_bytes(b"x")
    files, _ = catalog.parquet_file_identity(f"file:{tmp_path}/d")
    assert [os.path.basename(f) for f in files] == ["part-0.parquet"]
    files, _ = catalog.parquet_file_identity(str(tmp_path / "d" / "*.parquet"))
    assert [os.path.basename(f) for f in files] == ["part-0.parquet"]


def test_memo_is_bounded(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(catalog, "_SCHEMA_MEMO_SIZE", 2)
    paths = [str(tmp_path / f"t{i}.parquet") for i in range(3)]
    for p in paths:
        spark.range(1).write.parquet(p)
        open_parquet(spark, p)
    assert len(catalog._SCHEMA_MEMO) == 2
    assert not any(k[0] == (paths[0],) for k in catalog._SCHEMA_MEMO)


@pytest.mark.parametrize("name", TESTDATA_TABLES)
def test_memo_served_read_matches_plain_read(spark, in_job_group, name):
    """Same formatted physical plan and same rows as a plain read, for
    every testdata table (events under the legacy nanos flag that
    ``load_table`` sets)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{SF_SMOKE}/{name}.parquet"
    open_parquet(spark, path)
    served, jobs = in_job_group(lambda: open_parquet(spark, path))
    assert jobs == set()
    plain = spark.read.parquet(path)
    assert _formatted(spark, served) == _formatted(spark, plain)
    assert _rows(served) == _rows(plain)


# Shrink-only total jobs (build + execute) per entry on a warm second
# run at sf0.001, measured at 4 and 8 cores. The batch entries launch
# no job while their plan is built; the stream's micro-batches run in
# its own query's job group, so its count is the memory-sink read.
RELATIONAL_JOB_BUDGET = {
    "pricing_summary": 4,
    "big_spender_segments": 5,
    "orders_without_lineitems": 3,
    "user_sessions": 4,
    "hourly_event_stats": 4,
    "stream_hourly_event_stats": 3,
}


@pytest.mark.parametrize("name", RELATIONAL_JOB_BUDGET)
def test_relational_entry_within_job_budget(spark, in_job_group, name):
    QUERIES[name](spark, SF_SMOKE).collect()  # first open of each table
    df, build = in_job_group(lambda: QUERIES[name](spark, SF_SMOKE))
    _, run = in_job_group(df.collect)
    if not name.startswith("stream_"):
        assert build == set(), f"{name} launched jobs while building its plan"
    assert len(build | run) <= RELATIONAL_JOB_BUDGET[name]
