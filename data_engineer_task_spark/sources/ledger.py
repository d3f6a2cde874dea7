"""Idempotency ledger (reference T5/Q11/Q12, ``task.py:231-240``).

The reference keeps a one-column Postgres table ``history(name)`` and
does a point lookup before ETL, building SQL with ``str.format``
(injection-prone, ``queries.py:36-38``). Here: one marker object per
recorded name, ``<ledger dir>/<sha256 of the name>`` holding the name,
written and probed through the Hadoop FileSystem API (any scheme the
session can read: file://, hdfs://, s3a://). ``seen`` is one ``exists``
call and ``record`` one ``create`` — the point lookup again, O(1) per
check however many ingests the ledger holds, and no Spark job for
either. A name string never reaches a path or a query unhashed.

Legacy format: ledgers written as a parquet table of names (before the
marker format) are not read. A file recorded there is re-ingested once;
that re-ingest overwrites its own warehouse slice by design
(``NetflixPipeline.run``), so nothing is duplicated.

Concurrency note: ``record`` creates its marker with
``overwrite=false``, so a second record of the same name raises
``FileExistsError`` instead of silently recording it twice. Two
concurrent pipelines can still both pass ``seen`` and both run the
ETL (check-then-insert, the reference's race too); the loser's record
then fails loudly. The create is atomic where the filesystem makes
create-if-absent atomic (HDFS); the local filesystem checks then opens,
so two creators racing inside that window can both succeed. The same
marker helpers stamp ``SketchRollup``'s configuration.
"""

from __future__ import annotations

import hashlib

from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession


def _fs_path(spark: SparkSession, path: str):
    """(Hadoop FileSystem, Path) for ``path`` — driver-side, no job."""
    sc = spark.sparkContext
    hpath = sc._jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(sc._jsc.hadoopConfiguration()), hpath


def _java_error(e: Py4JJavaError, class_name: str) -> bool:
    return e.java_exception.getClass().getName() == class_name


def read_marker(spark: SparkSession, path: str) -> str | None:
    """The text of the marker at ``path``, or None when there is none."""
    fs, hpath = _fs_path(spark, path)
    try:
        stream = fs.open(hpath)
    except Py4JJavaError as e:
        if _java_error(e, "java.io.FileNotFoundException"):
            return None
        raise
    try:
        return bytes(stream.readAllBytes()).decode()
    finally:
        stream.close()


def write_marker(spark: SparkSession, path: str, text: str) -> None:
    """Create the marker at ``path`` holding ``text``; raises
    ``FileExistsError`` if one is already there (never overwrites)."""
    fs, hpath = _fs_path(spark, path)
    try:
        out = fs.create(hpath, False)
    except Py4JJavaError as e:
        if _java_error(e, "org.apache.hadoop.fs.FileAlreadyExistsException"):
            raise FileExistsError(f"marker already exists: {path}") from None
        raise
    try:
        out.write(bytearray(text.encode()))
    finally:
        out.close()


class Ledger:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path.rstrip("/")

    def _marker(self, name: str) -> str:
        return f"{self.path}/{hashlib.sha256(name.encode()).hexdigest()}"

    def seen(self, name: str) -> bool:
        fs, hpath = _fs_path(self.spark, self._marker(name))
        return bool(fs.exists(hpath))

    def record(self, name: str) -> None:
        """Record ``name``; raises ``FileExistsError`` if it already is."""
        write_marker(self.spark, self._marker(name), name)

    def check_and_record(self, name: str) -> bool:
        """True if already seen (skip ETL); else records and returns False."""
        if self.seen(name):
            return True
        self.record(name)
        return False
