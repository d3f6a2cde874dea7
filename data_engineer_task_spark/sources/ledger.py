"""Idempotency ledger (reference T5/Q11/Q12, ``task.py:231-240``).

The reference keeps a one-column Postgres table ``history(name)`` and
does a point lookup before ETL, building SQL with ``str.format``
(injection-prone, ``queries.py:36-38``). Here: a small parquet append
table + a parameterized filter — no SQL string splicing.

Concurrency note: parquet append is not transactional; two concurrent
pipelines could both pass the check. The reference has the same race
(check-then-insert without a transaction). For exactly-once at scale
this would sit on a transactional table format (Delta/Iceberg —
not in this image, stubbed at the format layer) — the API here stays.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..schemas import HISTORY
from .local import local_frame


class Ledger:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def _exists(self) -> bool:
        """One driver-side FS check, not a Spark job — via the Hadoop
        FileSystem API so any scheme the session can read works
        (file://, hdfs://, s3a://); an os.listdir here would silently
        report 'never seen' for every remote ledger and re-run every
        pipeline."""
        sc = self.spark.sparkContext
        jvm = sc._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(self.path)
        fs = hpath.getFileSystem(sc._jsc.hadoopConfiguration())
        if not fs.exists(hpath):
            return False
        for status in fs.listStatus(hpath):
            if status.getPath().getName().endswith(".parquet"):
                return True
        return False

    def seen(self, name: str) -> bool:
        if not self._exists():
            return False
        df = self.spark.read.schema(HISTORY).parquet(self.path)
        return df.where(F.col("name") == F.lit(name)).limit(1).count() > 0

    def record(self, name: str) -> None:
        local_frame(self.spark, [(name,)], HISTORY).coalesce(1).write.mode(
            "append"
        ).parquet(self.path)

    def check_and_record(self, name: str) -> bool:
        """True if already seen (skip ETL); else records and returns False."""
        if self.seen(name):
            return True
        self.record(name)
        return False
