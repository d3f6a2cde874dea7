"""Driver-built frames that stay in the JVM.

``spark.createDataFrame(list)`` plans as ``Scan ExistingRDD``: a
Python-RDD-backed scan that starts a Python worker for every task that
reads it. A ``pyarrow.Table`` ships to the JVM as Arrow batches and
plans as ``LocalTableScan`` — no Python anywhere in the execution plan.

Not pandas: a pandas input silently falls back to the RDD path whenever
its Arrow conversion fails (``spark.sql.execution.arrow.pyspark.
fallback.enabled`` defaults to true). A ``pyarrow.Table`` has no
fallback, so a row that does not fit ``schema`` raises here instead of
quietly putting Python back under every downstream task.

This is the package's ONLY ``createDataFrame`` call site (a test greps
for it).
"""

from __future__ import annotations

from collections.abc import Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema


def local_frame(
    spark: SparkSession, rows: Sequence[tuple], schema: T.StructType | str
) -> DataFrame:
    """``rows`` (tuples in ``schema``'s column order) as a
    ``LocalTableScan`` frame; ``schema`` is a StructType or DDL string."""
    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)
    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)
