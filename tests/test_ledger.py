"""Idempotency-ledger behavior (reference test_check_history, task.py:248-251)."""

from __future__ import annotations

import hashlib

import pytest

from data_engineer_task_spark.sources.ledger import Ledger


def test_ledger_roundtrip(spark, tmp_path):
    led = Ledger(spark, str(tmp_path / "history"))
    assert not led.seen("netflix_titles.csv")
    assert led.check_and_record("netflix_titles.csv") is False  # first run: proceed
    assert led.seen("netflix_titles.csv")
    assert led.check_and_record("netflix_titles.csv") is True  # second run: skip
    assert not led.seen("other.csv")


def test_ledger_launches_no_spark_jobs(spark, tmp_path, in_job_group):
    """The point lookup and the record are filesystem calls, not Spark
    jobs: one marker object per name, named by its SHA-256 and holding
    the name."""
    led = Ledger(spark, str(tmp_path / "history"))
    name = "/data/in/netflix_titles.csv"
    (miss, hit), jobs = in_job_group(
        lambda: (led.seen(name), led.record(name) or led.seen(name))
    )
    assert (miss, hit) == (False, True)
    assert jobs == set()
    marker = tmp_path / "history" / hashlib.sha256(name.encode()).hexdigest()
    assert marker.read_text() == name


def test_duplicate_record_fails_loudly(spark, tmp_path):
    """A second record of the same name (two pipelines that both passed
    ``seen``) raises instead of silently recording the name twice."""
    led = Ledger(spark, str(tmp_path / "history"))
    led.record("a.csv")
    with pytest.raises(FileExistsError, match="marker already exists"):
        led.record("a.csv")
    led.record("b.csv")  # other names are unaffected
    assert led.seen("a.csv") and led.seen("b.csv")
