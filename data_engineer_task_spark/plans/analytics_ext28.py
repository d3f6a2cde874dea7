"""Twenty-ninth batch: set-membership and quantile estimation as
relational plans — a portable Bloom-filter prefilter (measured vs
theoretical false-positive rate) and mergeable fixed-grid histogram
quantiles (estimate vs exact order statistic).

Reference scope note: the reference (``coded4alex/data_engineer_task``)
has no approximate operators (SURVEY §2.5); these complete the classic
sketch trio (CMS ext23, KMV ext26, Bloom here) plus the
sort-free quantile path. Every MEMBERSHIP / bucket / rank decision in
both entries rides exact integers (salted-md5 bit positions, cents
BIGINTs, integer-ceil targets); the only floats are single
correctly-rounded IEEE ops on exactly-representable inputs — bitwise
identical cross-engine.

Same contract as plans/analytics.py (see its authoring rules).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.local import local_frame
from .analytics import _t, q

# --- Bloom parameters -------------------------------------------------------
_M_BITS = 4096  # 2^12 — three md5 nibbles address a bit exactly
_H = 3
_SALTS = tuple(f"bloom{i}:" for i in range(_H))


def _pos_sql(expr: str, salt: str) -> str:
    """DuckDB: first 3 md5 nibbles of salt||expr as an INT in
    [0, 4096) — one Bloom bit position (instr-nibble spelling shared
    with ext26/operators/sampling.py; no mod, 3 nibbles ARE 12 bits)."""
    h = f"md5('{salt}' || {expr})"
    hv = lambda p: (  # noqa: E731
        f"(instr('0123456789abcdef', substr({h}, {p}, 1)) - 1)"
    )
    return f"(({hv(1)} * 16 + {hv(2)}) * 16 + {hv(3)})"


def _pos_col(col, salt: str):
    """Spark twin of ``_pos_sql`` (conv of the same 3-nibble prefix)."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), col.cast("string"))), 1, 3),
        16,
        10,
    ).cast("int")


@q(
    "customer_bloom_prefilter",
    f"""
    WITH a AS (
      SELECT DISTINCT o_custkey FROM orders
      WHERE o_orderpriority = '1-URGENT'
    ),
    bits AS (
      SELECT DISTINCT pos FROM (
        {" UNION ALL ".join(f"SELECT {_pos_sql('o_custkey', s)} AS pos FROM a" for s in _SALTS)}
      )
    ),
    probe AS (
      SELECT c_custkey,
             {", ".join(f"{_pos_sql('c_custkey', s)} AS p{i}" for i, s in enumerate(_SALTS))}
      FROM customer
    ),
    hits AS (
      SELECT c_custkey FROM probe
      WHERE {" AND ".join(f"p{i} IN (SELECT pos FROM bits)" for i in range(_H))}
    ),
    stats AS (
      SELECT
        (SELECT CAST(count(*) AS BIGINT) FROM a) AS n_members,
        (SELECT CAST(count(*) AS BIGINT) FROM customer) AS n_probed,
        (SELECT CAST(count(*) AS BIGINT) FROM bits) AS n_bits_set,
        (SELECT CAST(count(*) AS BIGINT) FROM hits) AS n_hits,
        (SELECT CAST(count(*) AS BIGINT) FROM hits
         WHERE c_custkey NOT IN (SELECT o_custkey FROM a)) AS n_false_pos
    )
    SELECT n_members, n_probed, n_bits_set, n_hits, n_false_pos,
           CASE WHEN n_probed > n_members THEN
             round((CAST(n_false_pos AS DOUBLE)
                    / CAST(n_probed - n_members AS DOUBLE)) * 1000000.0)
               / 1000000.0
           END AS fpr_measured,
           round((CAST(n_bits_set AS DOUBLE) / {_M_BITS}.0)
                 * (CAST(n_bits_set AS DOUBLE) / {_M_BITS}.0)
                 * (CAST(n_bits_set AS DOUBLE) / {_M_BITS}.0)
                 * 1000000.0) / 1000000.0 AS fpr_theory
    FROM stats
    """,
)
def customer_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter prefilter built and audited as a relational plan:
    the urgent-order customer set becomes an {_M_BITS}-bit filter
    ({_H} salted-md5 bit positions per member), every customer is
    probed, and the realized false-positive rate sits next to the
    (bits_set/m)^h theory value. No filter ever misses a member
    (guaranteed by construction — the pytest property pins it).

    100 TB shape: the set-bits table is BOUNDED by m (≤{_M_BITS} rows
    — broadcast-sized by construction, no matter how large the member
    set), so the probe side is a map-only scan plus {_H} broadcast
    semi-joins; this is exactly how a join prefilter cuts a shuffle's
    probe volume before the real key exchange (the declared twin of
    Spark's own runtime `BloomFilterAggregate`, which plan tests
    already pin). DETERMINISM: membership = exact-integer nibble
    positions; the two rates are single IEEE divisions/products of
    exactly-representable integers."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")

    a = (
        orders.where(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
        .distinct()
    )
    bits = (
        a.select(
            F.explode(
                F.array(*[_pos_col(F.col("o_custkey"), s) for s in _SALTS])
            ).alias("pos")
        )
        .distinct()
    )
    # long-form probe: one row per (customer, hash slot); a customer
    # hits iff all H slot positions land on set bits
    probe = customer.select(
        "c_custkey",
        F.explode(
            F.array(*[_pos_col(F.col("c_custkey"), s) for s in _SALTS])
        ).alias("pos"),
    )
    hits = (
        probe.join(F.broadcast(bits), "pos")
        .groupBy("c_custkey")
        .agg(F.count(F.lit(1)).alias("_nm"))
        .where(F.col("_nm") == _H)
        .select("c_custkey")
    )
    false_pos = hits.join(
        a.withColumnRenamed("o_custkey", "c_custkey"), "c_custkey", "anti"
    )

    n_members = a.agg(F.count(F.lit(1)).cast("long").alias("n_members"))
    n_probed = customer.agg(F.count(F.lit(1)).cast("long").alias("n_probed"))
    n_bits = bits.agg(F.count(F.lit(1)).cast("long").alias("n_bits_set"))
    n_hits = hits.agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    n_fp = false_pos.agg(F.count(F.lit(1)).cast("long").alias("n_false_pos"))

    p = F.col("n_bits_set").cast("double") / float(_M_BITS)
    return (
        n_members.crossJoin(F.broadcast(n_probed))
        .crossJoin(F.broadcast(n_bits))
        .crossJoin(F.broadcast(n_hits))
        .crossJoin(F.broadcast(n_fp))
        .select(
            "n_members",
            "n_probed",
            "n_bits_set",
            "n_hits",
            "n_false_pos",
            # NULL-guard the degenerate every-probe-is-a-member case:
            # the denominator (non-member probes) is 0 there and the
            # unguarded division would emit Infinity through round()
            # on both engines (ADVICE r4) — mirror ranking_auc's
            # empty-class NULL convention instead.
            F.when(
                F.col("n_probed") > F.col("n_members"),
                F.round(
                    (
                        F.col("n_false_pos").cast("double")
                        / (F.col("n_probed") - F.col("n_members")).cast(
                            "double"
                        )
                    )
                    * 1000000.0
                )
                / 1000000.0,
            ).alias("fpr_measured"),
            (F.round(p * p * p * 1000000.0) / 1000000.0).alias("fpr_theory"),
        )
    )


# --- Histogram quantiles ----------------------------------------------------
_BUCKET_CENTS = 100_000  # $1000-wide fixed grid
_QS = (("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100))


@q(
    "price_histogram_quantiles",
    f"""
    WITH c AS (
      SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
      FROM lineitem
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM c),
    t AS (
      SELECT q, (qn * n.n + qd - 1) // qd AS tgt, n.n AS n
      FROM (VALUES {", ".join(f"('{q}', CAST({qn} AS BIGINT), CAST({qd} AS BIGINT))" for q, qn, qd in _QS)})
           AS qs(q, qn, qd)
      CROSS JOIN n
    ),
    dc AS (
      SELECT cents, CAST(count(*) AS BIGINT) AS cnt,
             sum(CAST(count(*) AS BIGINT))
               OVER (ORDER BY cents ASC) AS cum
      FROM c GROUP BY cents
    ),
    ex AS (
      SELECT t.q, min(dc.cents) AS exact_cents
      FROM t JOIN dc ON dc.cum >= t.tgt GROUP BY t.q
    ),
    hb AS (
      SELECT cents // {_BUCKET_CENTS} AS bucket,
             CAST(count(*) AS BIGINT) AS bcnt,
             sum(CAST(count(*) AS BIGINT))
               OVER (ORDER BY cents // {_BUCKET_CENTS} ASC) AS bcum
      FROM c GROUP BY cents // {_BUCKET_CENTS}
    ),
    est AS (
      SELECT t.q, t.tgt, b.bucket, b.bcnt, b.bcum,
             CAST(b.bucket * {_BUCKET_CENTS} AS DOUBLE)
             + {_BUCKET_CENTS}.0
               * (CAST(t.tgt - (b.bcum - b.bcnt) AS DOUBLE)
                  / CAST(b.bcnt AS DOUBLE)) AS est_cents
      FROM t JOIN hb b ON b.bucket = (
        SELECT min(b2.bucket) FROM hb b2 WHERE b2.bcum >= t.tgt
      )
    )
    SELECT e.q,
           round(CAST(x.exact_cents AS DOUBLE)) / 100.0 AS exact_usd,
           round(e.est_cents) / 100.0 AS est_usd,
           round(((e.est_cents - CAST(x.exact_cents AS DOUBLE))
                  / CAST(x.exact_cents AS DOUBLE)) * 100.0 * 10000.0)
             / 10000.0 AS err_pct
    FROM est e JOIN ex x ON x.q = e.q
    ORDER BY e.q
    """,
)
def price_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantiles without a global sort: a fixed $1000-grid histogram of
    line-item prices answers p50/p90/p99 by linear interpolation inside
    the covering bucket, reported next to the exact order statistic and
    the realized error. Per-shard histograms on a fixed grid merge by
    integer addition (≡ one-shot — the pytest property pins it), which
    is why at 100 TB percentile dashboards keep O(buckets) state per
    shard/day instead of re-sorting history.

    Spark shape: one scan → two integer groupBys (distinct cents for
    the exact path — bounded by price cardinality — and the bucket
    grid); target selection joins a 3-row broadcast against the
    cumulative frames. DETERMINISM: targets are integer-ceil
    ((qn·n + qd − 1) DIV qd — float q·n would misceil at exact
    multiples), bucket/rank decisions are BIGINT comparisons, and the
    interpolation is three IEEE ops on exactly-representable integers."""
    li = _t(spark, sf_dir, "lineitem")
    c = li.select(
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents")
    )
    n = c.agg(F.count(F.lit(1)).cast("long").alias("n"))
    targets = (
        local_frame(spark, list(_QS), "q string, qn bigint, qd bigint")
        .crossJoin(F.broadcast(n))
        .select(
            "q",
            F.expr("(qn * n + qd - 1) DIV qd").alias("tgt"),
        )
    )
    dc = (
        c.groupBy("cents")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .withColumn(
            "cum",
            F.sum("cnt").over(
                Window.orderBy(F.asc("cents")).rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
            ),
        )
    )
    ex = (
        F.broadcast(targets)
        .join(dc, dc["cum"] >= targets["tgt"])
        .groupBy("q")
        .agg(F.min("cents").alias("exact_cents"))
    )
    hb = (
        c.select(F.expr(f"cents DIV {_BUCKET_CENTS}").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("bcnt"))
        .withColumn(
            "bcum",
            F.sum("bcnt").over(
                Window.orderBy(F.asc("bucket")).rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
            ),
        )
    )
    cover = (
        F.broadcast(targets)
        .join(hb, hb["bcum"] >= targets["tgt"])
        .groupBy("q", "tgt")
        .agg(F.min("bucket").alias("bucket"))
        .join(hb, "bucket")
    )
    est_cents = F.col("bucket").cast("double") * float(_BUCKET_CENTS) + float(
        _BUCKET_CENTS
    ) * (
        (F.col("tgt") - (F.col("bcum") - F.col("bcnt"))).cast("double")
        / F.col("bcnt").cast("double")
    )
    est = cover.select("q", est_cents.alias("est_cents"))
    return (
        est.join(ex, "q")
        .select(
            "q",
            (
                F.round(F.col("exact_cents").cast("double")) / 100.0
            ).alias("exact_usd"),
            (F.round(F.col("est_cents")) / 100.0).alias("est_usd"),
            (
                F.round(
                    (
                        (
                            F.col("est_cents")
                            - F.col("exact_cents").cast("double")
                        )
                        / F.col("exact_cents").cast("double")
                    )
                    * 100.0
                    * 10000.0
                )
                / 10000.0
            ).alias("err_pct"),
        )
        .orderBy("q")
    )


# Thirtieth-batch entries register themselves into QUERIES/ORACLE
# on import.
from . import analytics_ext29  # noqa: E402,F401  isort:skip
