"""Thirtieth batch: BPE-style merge training — the tokenizer-training
loop as a distributed job (`operators/text.py::phrase_merge_rounds`).

Reference scope note: the reference (``coded4alex/data_engineer_task``)
has no tokenizer operators (SURVEY §2.5); this extends the engine for
the 100 TB training-data workload, where vocabulary learning (BPE /
WordPiece merges) runs over the full corpus with O(1) driver state per
round. The oracle unrolls the fixed merge rounds as chained CTEs (the
kmeans/pagerank pattern), reproducing the greedy left-to-right rewrite
with the same sentinel-seeded list fold on both engines.

Same contract as plans/analytics.py (see its authoring rules).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.local import local_frame
from .analytics import _t, _t_wide, q

_ROUNDS = 4


def _merge_round_ctes(r: int) -> str:
    """CTE block for merge round ``r``: in-row adjacent pairs of the
    previous round's token lists, exact-integer counts, the (cnt DESC,
    a ASC, b ASC) top-1, and the greedy left-fold rewrite (sentinel
    [NULL] seed keeps the accumulator list-typed; ``acc[len(acc)]`` on
    the sentinel is NULL, which never equals a real symbol — unlike
    '', which string_split DOES emit for leading/double spaces
    (ADVICE r4) — mirroring Spark's NULL-seeded ``F.aggregate``)."""
    prev = r - 1
    return f"""pr{r} AS (
      SELECT unnest(list_zip(toks[1:len(toks)-1], toks[2:len(toks)])) AS z
      FROM tok{prev}
    ),
    cnt{r} AS (
      SELECT z[1] AS a, z[2] AS b, CAST(count(*) AS BIGINT) AS cnt
      FROM pr{r} GROUP BY 1, 2
    ),
    top{r} AS (
      SELECT a, b, cnt FROM cnt{r}
      ORDER BY cnt DESC, a ASC, b ASC LIMIT 1
    ),
    tok{r} AS (
      SELECT doc_id,
             list_reduce([[NULL]] || list_transform(t.toks, s -> [s]),
               (acc, x) -> CASE WHEN acc[len(acc)] = p.a AND x[1] = p.b
                                THEN acc[1:len(acc)-1]
                                     || [p.a || ' ' || p.b]
                                ELSE acc || x END)[2:] AS toks
      FROM tok{prev} t CROSS JOIN top{r} p
    ),
    tt{r} AS (SELECT CAST(sum(len(toks)) AS BIGINT) AS t FROM tok{r})"""


_BPE_CTES = ",\n    ".join(
    ["tok0 AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)"]
    + [_merge_round_ctes(r) for r in range(1, _ROUNDS + 1)]
)

_BPE_SELECT = "\n    UNION ALL\n    ".join(
    f"""SELECT {r} AS round, p.a || ' ' || p.b AS merged_pair,
           p.cnt AS pair_count, tt{r}.t AS total_tokens_after
    FROM top{r} p, tt{r}"""
    for r in range(1, _ROUNDS + 1)
)


@q(
    "doc_bpe_phrase_merges",
    f"""
    WITH {_BPE_CTES}
    SELECT * FROM (
      {_BPE_SELECT}
    ) ORDER BY round
    """,
)
def doc_bpe_phrase_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer training as a Spark job: {_ROUNDS} BPE-style merge
    rounds over the documents corpus (word-level symbols — the phrase
    variant of the byte-pair loop). Per round: count adjacent symbol
    pairs corpus-wide, pick the most frequent, rewrite every document
    with the greedy left-to-right merge; one output row per round
    (learned pair, its raw adjacency count, corpus tokens after the
    rewrite — the overlap case like "order order order" merges fewer
    times than it counts, and both engines agree because both fold
    left).

    100 TB shape: the canonical vocabulary-learning loop — O(1) driver
    state per round (ONE pair), pair counting is a vocabulary²-bounded
    shuffle with map-side combine over IN-ROW pair fan-out (never a
    position self-join), the rewrite is map-only. DETERMINISM: exact
    integer counts, total (cnt DESC, pair ASC) tie-break, and the
    sentinel-seeded list fold (`F.aggregate` ↔ DuckDB `list_reduce`,
    both left folds) — no floats anywhere."""
    from ..operators.text import phrase_merge_rounds

    # _t_wide: the per-round fold/pair stages otherwise run in the doc
    # file's single scan partition (one task does the whole corpus).
    docs = _t_wide(spark, sf_dir, "documents")
    stats, _toks = phrase_merge_rounds(
        docs, "doc_id", "text", rounds=_ROUNDS
    )
    rows = [
        (r, f"{a} {b}", cnt, total)
        for r, (a, b, cnt, total) in enumerate(stats, 1)
    ]
    out = local_frame(
        spark, rows, "round INT, merged_pair STRING, pair_count BIGINT, "
        "total_tokens_after BIGINT"
    )
    return out.orderBy("round")


# --- Grouped shape moments from exact integer power sums --------------------
#
# skewness / excess kurtosis per group, derived ENTIRELY from the four
# integer power sums (n, Σx, Σx², Σx³, Σx⁴) — the mergeable
# sufficient-statistics pattern: map-side combine reduces each
# partition to five BIGINTs per group, shards/days merge by integer
# addition, and the shape stats are a FIXED expression tree of IEEE
# ops on those exactly-representable integers — bitwise identical
# cross-engine (sqrt is an IEEE-exact basic op; no pow/libm anywhere).


@q(
    "quantity_shape_moments",
    """
    WITH s AS (
      SELECT l_returnflag,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS s1,
             CAST(sum(CAST(l_quantity AS BIGINT)
                      * CAST(l_quantity AS BIGINT)) AS BIGINT) AS s2,
             CAST(sum(CAST(l_quantity AS BIGINT)
                      * CAST(l_quantity AS BIGINT)
                      * CAST(l_quantity AS BIGINT)) AS BIGINT) AS s3,
             CAST(sum(CAST(l_quantity AS BIGINT)
                      * CAST(l_quantity AS BIGINT)
                      * CAST(l_quantity AS BIGINT)
                      * CAST(l_quantity AS BIGINT)) AS BIGINT) AS s4
      FROM lineitem GROUP BY l_returnflag
    ),
    m AS (
      SELECT l_returnflag, n, s1,
             CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
             CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS e2,
             CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS e3,
             CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) AS e4
      FROM s
    ),
    cm AS (
      SELECT l_returnflag, n, mu,
             e2 - mu * mu AS m2,
             e3 - 3.0 * mu * e2 + 2.0 * mu * mu * mu AS m3,
             e4 - 4.0 * mu * e3 + 6.0 * mu * mu * e2
                - 3.0 * mu * mu * mu * mu AS m4
      FROM m
    )
    SELECT l_returnflag, n,
           round(mu * 1000000.0) / 1000000.0 AS mean_qty,
           round(sqrt(m2) * 1000000.0) / 1000000.0 AS stddev_pop,
           round((m3 / (m2 * sqrt(m2))) * 1000000.0) / 1000000.0
             AS skewness,
           round((m4 / (m2 * m2) - 3.0) * 1000000.0) / 1000000.0
             AS excess_kurtosis
    FROM cm ORDER BY l_returnflag
    """,
)
def quantity_shape_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag distribution shape (mean, population stddev,
    skewness, excess kurtosis) computed from exact integer power sums
    — five BIGINTs per group, map-side combinable and mergeable across
    shards/days by integer addition, so 100 TB shape monitoring never
    recomputes from raw rows. The moment formulas are a fixed IEEE
    expression tree on exactly-representable integers (μ powers
    spelled as repeated multiplication, `m2^1.5` as `m2*sqrt(m2)` —
    sqrt is IEEE-exact, pow is libm and banned), spelled identically
    on both engines, so even the unrounded doubles are bitwise
    identical. l_quantity is integer-valued at the source; the BIGINT
    cast makes the sums exact (Σx⁴ ≤ 50⁴·|lineitem| ≈ 4e12 at sf0.1 —
    five orders of magnitude under the BIGINT ceiling)."""
    li = _t(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("long")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(x).cast("long").alias("s1"),
        F.sum(x * x).cast("long").alias("s2"),
        F.sum(x * x * x).cast("long").alias("s3"),
        F.sum(x * x * x * x).cast("long").alias("s4"),
    )
    nd = F.col("n").cast("double")
    mu = F.col("s1").cast("double") / nd
    e2 = F.col("s2").cast("double") / nd
    e3 = F.col("s3").cast("double") / nd
    e4 = F.col("s4").cast("double") / nd
    m = s.select("l_returnflag", "n", mu.alias("mu"), e2.alias("e2"),
                 e3.alias("e3"), e4.alias("e4"))
    mu_, e2_, e3_, e4_ = (F.col(c) for c in ("mu", "e2", "e3", "e4"))
    cm = m.select(
        "l_returnflag",
        "n",
        "mu",
        (e2_ - mu_ * mu_).alias("m2"),
        (e3_ - F.lit(3.0) * mu_ * e2_ + F.lit(2.0) * mu_ * mu_ * mu_).alias(
            "m3"
        ),
        (
            e4_
            - F.lit(4.0) * mu_ * e3_
            + F.lit(6.0) * mu_ * mu_ * e2_
            - F.lit(3.0) * mu_ * mu_ * mu_ * mu_
        ).alias("m4"),
    )
    m2, m3, m4 = F.col("m2"), F.col("m3"), F.col("m4")
    return cm.select(
        "l_returnflag",
        "n",
        (F.round(F.col("mu") * 1000000.0) / 1000000.0).alias("mean_qty"),
        (F.round(F.sqrt(m2) * 1000000.0) / 1000000.0).alias("stddev_pop"),
        (F.round((m3 / (m2 * F.sqrt(m2))) * 1000000.0) / 1000000.0).alias(
            "skewness"
        ),
        (
            F.round((m4 / (m2 * m2) - F.lit(3.0)) * 1000000.0) / 1000000.0
        ).alias("excess_kurtosis"),
    ).orderBy("l_returnflag")


# Thirty-first-batch entries register themselves into QUERIES/ORACLE
# on import.
from . import analytics_ext30  # noqa: E402,F401  isort:skip
