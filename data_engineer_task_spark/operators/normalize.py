"""Multi-valued attribute normalization + surrogate keys.

Generalizes the reference's transform spine (``task.py:74-139``):
comma-separated string → array → one row per element → trimmed →
distinct dimension with surrogate ids → bridge table. SURVEY §2 T6-T18.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def explode_multivalue(
    df: DataFrame,
    col: str,
    *,
    sep: str = ",",
    trim: bool = True,
    keep_null_rows: bool = True,
    out_col: str | None = None,
) -> DataFrame:
    """Split ``col`` on ``sep`` and un-nest to one row per element.

    ``keep_null_rows=True`` uses ``explode_outer``: a NULL input yields
    one NULL row — this matches pandas ``df.explode`` (``task.py:82-84``)
    and is the semantics the reference's golden numbers assume
    [verified, SURVEY §2 T8]. Plain ``explode`` silently drops those
    rows. ``trim=False`` reproduces the reference's untrimmed-listings
    quirk (SURVEY §2.4 D1).
    """
    out_col = out_col or col
    element = F.explode_outer if keep_null_rows else F.explode
    # \Q…\E: F.split takes a regex; a raw '|' or '.' separator would
    # otherwise split per character (see operators/text.py::tokenize)
    exploded = element(F.split(F.col(col), f"\\Q{sep}\\E"))
    others = [c for c in df.columns if c != col]
    if trim:
        # a generator cannot sit inside trim(): explode, then trim
        df, value = df.select(*others, exploded.alias("__elem")), F.trim("__elem")
    else:
        value = exploded
    # out_col replaces a same-named column in place, else goes last
    cols = [value.alias(out_col) if c == out_col else c for c in others]
    return df.select(*cols, *([] if out_col in others else [value.alias(out_col)]))


def surrogate_key(
    df: DataFrame,
    order_by: Sequence[str],
    key_col: str = "id",
) -> DataFrame:
    """Assign a dense 1..N surrogate key, deterministically.

    The reference uses an insertion-order ``range`` counter
    (``task.py:100``) — position-dependent, meaningless across runs. We
    order by natural key instead (SURVEY §2.4 D2): deterministic, and no
    query in the workload depends on specific id values, only on
    join-consistency.

    ``order_by`` must be a TOTAL order (unique key tuples): ties would
    let row_number assign ids in run-varying order, and since the dim
    frame re-executes per action, a dimension write and a bridge build
    could even disagree WITHIN one run — silently breaking the
    join-consistency this function exists to guarantee. Duplicates
    raise a named error (code-review r5) instead.

    Scale note: ``row_number`` over a global window is a single-reducer
    sort — fine up to ~10^7 dimension rows (dimensions are small by
    definition). For a >10^8-row key assignment use
    ``operators/ranking.py::ordered_prefix`` (two-level range-bucket
    rank — dense AND parallel).
    """
    w = Window.orderBy(*[F.col(c) for c in order_by])
    dup = F.count(F.lit(1)).over(Window.partitionBy(*[F.col(c) for c in order_by]))
    guard = F.when(
        dup > 1,
        F.raise_error(
            F.concat(
                F.lit("surrogate_key: order_by is not unique at ("),
                F.concat_ws(
                    ", ", *[F.col(c).cast("string") for c in order_by]
                ),
                F.lit(") — ids would be run-order-dependent"),
            )
        ),
    ).cast("long")
    return df.withColumn(
        key_col, F.coalesce(guard, F.row_number().over(w).cast("long"))
    )


def normalize_multivalue(
    df: DataFrame,
    id_col: str,
    value_col: str,
    *,
    sep: str = ",",
    trim: bool = True,
    key_col: str = "id",
) -> tuple[DataFrame, DataFrame]:
    """Full normalizer: (dimension, bridge) pair from a multi-valued col.

    dimension: distinct non-null trimmed values + surrogate key.
    bridge: (id_col, key_col) — one row per (entity, value) pair.
    This is the generic form of the reference's personnel/movie_crew
    build (``task.py:90-128``).
    """
    exploded = explode_multivalue(
        df.select(id_col, value_col), value_col, sep=sep, trim=trim, keep_null_rows=False
    )
    dim = surrogate_key(
        exploded.select(value_col).where(F.col(value_col).isNotNull()).distinct(),
        order_by=[value_col],
        key_col=key_col,
    )
    bridge = exploded.join(F.broadcast(dim), value_col, "inner").select(id_col, key_col)
    return dim, bridge
