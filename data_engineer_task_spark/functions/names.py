"""Name parsing (reference T14/T15, ``task.py:55-60,103-106``).

The reference's ``nsplit`` UDF splits at the FIRST space:
``'Woody Harrelson' → ('Woody','Harrelson')``; no space →
``('Cher','')`` (empty string, not NULL). First name is then
capitalized (single token, so ``str.capitalize ≡ initcap``
[verified, SURVEY §2 T15]).

Re-expressed as native columns — no Python UDF: this was the
reference's hot spot (~3.4 s of a 3.5 s transform, per-row ``.apply``,
SURVEY §6); native ``F.split`` stays inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def with_name_parts(
    df: DataFrame,
    name_col: str = "name",
    first_col: str = "first_name",
    last_col: str = "last_name",
) -> DataFrame:
    # F.get (not []) — ANSI mode (Spark 4 default) raises on an
    # out-of-bounds index; single-token names have no element 1.
    parts = F.split(F.col(name_col), " ", 2)
    return df.withColumns(
        {
            first_col: F.initcap(F.get(parts, 0)),
            last_col: F.coalesce(F.get(parts, 1), F.lit("")),
        }
    )
