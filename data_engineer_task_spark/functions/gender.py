"""Gender enrichment as a broadcast lookup join (reference T16/D6).

The reference calls gender_guesser per row inside a pandas ``.apply``
(``task.py:34,43-51``) — a per-row external-lib call that (a) is the
slow path and (b) makes results depend on whatever nam_dict version is
installed on each executor. Engine approach (SURVEY §2.4 D6): build the
name→gender mapping ONCE as a small DataFrame, broadcast-join it, and
fold the reference's label rules at build time:

    mostly_male → male; mostly_female → female; andy → unknown;
    not found → unknown   (``task.py:43-51``)

Lookup is case-insensitive on the FIRST name (the reference passes
``first_name`` post-capitalize, and gender_guesser lowercases keys).

HERMETIC SOURCE (VERDICT r1 missing-4): the canonical mapping is the
checked-in snapshot ``resources/gender_names.csv`` — results never
depend on which packages are installed. Since r8 the snapshot is the
CURATED table written by ``tools/vendor_gender_names.py`` (every
dataset first name with >=5 occurrences is an explicit decision;
golden-label tests pin it). ``tools/refresh_gender_snapshot.py``
derives a nam_dict-exact table when that lib is available, but writes
it ALONGSIDE the snapshot by default and prints the label diff —
replacing the curated snapshot (--overwrite) requires reconciling the
diff and re-running the golden tests. There is no built-in fallback
list: a missing snapshot raises ``FileNotFoundError`` rather than
silently relabel the personnel from a different table.
"""

from __future__ import annotations

import csv
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.local import local_frame

_FOLD = {"mostly_male": "male", "mostly_female": "female", "andy": "unknown"}

GENDER_SCHEMA = T.StructType(
    [
        T.StructField("_name_key", T.StringType(), False),
        T.StructField("gender", T.StringType(), False),
    ]
)


_SNAPSHOT = Path(__file__).resolve().parent.parent / "resources" / "gender_names.csv"


def _mapping() -> dict[str, str]:
    """Canonical name→gender mapping, loaded from the checked-in
    snapshot (driver-side: the table is tiny and broadcast after).
    Labels in the file are already folded (male/female/unknown)."""
    with open(_SNAPSHOT, newline="") as f:
        return {
            row["name_key"].lower(): _FOLD.get(row["gender"], row["gender"])
            for row in csv.DictReader(f)
        }


def gender_lookup_df(spark: SparkSession) -> DataFrame:
    rows = [(k, v) for k, v in sorted(_mapping().items())]
    return local_frame(spark, rows, GENDER_SCHEMA)


def with_gender(
    df: DataFrame,
    lookup: DataFrame,
    first_name_col: str = "first_name",
    gender_col: str = "gender",
) -> DataFrame:
    """Broadcast-join gender onto ``df``; unmatched → 'unknown'.

    The join is on ``lower(first_name)`` and the lookup's columns are
    referenced through the lookup frame, so the output carries EXACTLY
    ``df``'s columns plus ``gender_col`` (replaced in place if ``df``
    already has it) — no lookup column leaks, and no
    AMBIGUOUS_REFERENCE when ``df`` already has a 'gender'."""
    joined = df.join(
        F.broadcast(lookup),
        F.lower(df[first_name_col]) == lookup["_name_key"],
        "left",
    )
    gender = F.coalesce(lookup["gender"], F.lit("unknown")).alias(gender_col)
    cols = [gender if c == gender_col else df[c] for c in df.columns]
    return joined.select(*cols, *([] if gender_col in df.columns else [gender]))
