"""Sketch entries: count-min, HyperLogLog, KMV and Bloom filters,
their sharded and mixed-depth merges, and the incremental
``SketchRollup`` pipeline (``sketch_rollup_report``).

Same contract as plans/analytics.py (see its authoring rules).
"""

from __future__ import annotations

import hashlib
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.sketch import (
    _HLL_M,
    _HLL_NUM,
    _HLL_RHO_MAX,
    _HLL_SMALL,
    _HLL_W_NIBBLES,
    cms_build,
    cms_inner_product,
    hll_estimate,
    hll_sketch,
    kmv_estimate,
    kmv_sketch,
)
from .shared import _md5_uint48_sql, _t, _t_wide, q


@q(
    "doc_token_cms_topk",
    """
    WITH toks AS (
      SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ),
    vocab AS (SELECT token, count(*) AS cnt FROM toks GROUP BY token),
    cells AS (
      SELECT j, (instr('0123456789abcdef',
                       substr(md5('cms:' || CAST(j AS VARCHAR) || ':' || token), 1, 1)) - 1) * 16
               + (instr('0123456789abcdef',
                        substr(md5('cms:' || CAST(j AS VARCHAR) || ':' || token), 2, 1)) - 1)
               AS bucket,
             cnt
      FROM vocab CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS j)
    ),
    sketch AS (
      SELECT j, bucket, CAST(sum(cnt) AS BIGINT) AS c
      FROM cells GROUP BY j, bucket
    ),
    top10 AS (
      SELECT token, CAST(cnt AS BIGINT) AS true_cnt
      FROM vocab ORDER BY cnt DESC, token ASC LIMIT 10
    ),
    probe AS (
      SELECT t.token, t.true_cnt, min(s.c) AS cms_est
      FROM top10 t
      CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS j) d
      JOIN sketch s
        ON s.j = d.j
       AND s.bucket = (instr('0123456789abcdef',
                             substr(md5('cms:' || CAST(d.j AS VARCHAR) || ':' || t.token), 1, 1)) - 1) * 16
                     + (instr('0123456789abcdef',
                              substr(md5('cms:' || CAST(d.j AS VARCHAR) || ':' || t.token), 2, 1)) - 1)
      GROUP BY t.token, t.true_cnt
    )
    SELECT token, true_cnt, CAST(cms_est AS BIGINT) AS cms_est
    FROM probe ORDER BY true_cnt DESC, token ASC
    """,
)
def doc_token_cms_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch frequency estimates for the corpus's top-10
    tokens, next to the exact counts. The sketch (4 × 256 mergeable
    counters, md5-bucket hashing) is the fixed-size substitute for the
    exact vocabulary at 100 TB — the oracle rebuilds the identical grid
    in SQL, and the one-sided CMS guarantee (est >= truth) is pinned by
    a property test. See operators/sketch.py for shuffle shape."""
    from ..operators.sketch import cms_build, cms_estimate

    docs = _t_wide(spark, sf_dir, "documents")
    tokens = docs.select(
        F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    # ONE vocabulary aggregation feeds both the sketch (via the
    # pre-aggregated weight_col path) and the exact top-10 — the
    # corpus-wide explode + token shuffle happens once, not twice.
    vocab = tokens.groupBy("token").agg(
        F.count(F.lit(1)).cast("long").alias("true_cnt")
    )
    sketch = cms_build(vocab, "token", depth=4, weight_col="true_cnt")
    top10 = vocab.orderBy(F.desc("true_cnt"), F.asc("token")).limit(10)
    return cms_estimate(sketch, top10, "token", depth=4).orderBy(
        F.desc("true_cnt"), F.asc("token")
    )


_K = 64
# (k-1) · 2^48 — 6 significant bits, exactly representable as DOUBLE;
# one literal shared by both engines so the estimate is ONE division.
_KMV_SCALE = f"{(_K - 1) << 48}.0"


_UD_V_SQL = "CAST(user_id AS VARCHAR) || '|' || strftime(ts, '%Y-%m-%d')"


@q(
    "event_kmv_user_days",
    f"""
    WITH ud AS (
      SELECT DISTINCT event_type, {_UD_V_SQL} AS v FROM events
    ),
    hs AS (
      SELECT DISTINCT event_type, {_md5_uint48_sql("v")} AS h FROM ud
    ),
    rk AS (
      SELECT event_type, h,
             row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
      FROM hs
    ),
    sk AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_sketch,
             max(h) AS hk
      FROM rk WHERE rn <= {_K} GROUP BY event_type
    ),
    ex AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_exact
      FROM ud GROUP BY event_type
    ),
    j AS (
      SELECT ex.event_type, n_exact, n_sketch,
             CASE WHEN n_sketch < {_K} THEN CAST(n_sketch AS DOUBLE)
                  ELSE {_KMV_SCALE} / CAST(hk AS DOUBLE) END AS raw
      FROM ex JOIN sk ON ex.event_type = sk.event_type
    )
    SELECT event_type, n_exact, n_sketch,
           round(raw * 10000.0) / 10000.0 AS kmv_est,
           round(((raw - CAST(n_exact AS DOUBLE))
                  / CAST(n_exact AS DOUBLE)) * 100.0 * 10000.0) / 10000.0
             AS rel_err_pct
    FROM j ORDER BY event_type
    """,
)
def event_kmv_user_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct active user-days per event type — exact count next to
    its KMV(k=64) sketch estimate and the realized relative error; the
    DAU-class cardinality that at 100 TB is kept as an O(k) mergeable
    sketch per shard/day (`kmv_merge` folds partials ≡ one-shot,
    property-tested) instead of re-shuffling every distinct value.

    Spark shape: ONE events scan fans into (a) the exact distinct
    count (the oracle-able small-scale truth) and (b) the sketch path,
    whose only corpus-sized exchange carries one row per distinct
    (event_type, 48-bit hash) with map-side partial distinct; the
    rank-k window then reduces each group to 64 rows, and the estimate
    is O(groups) state. DETERMINISM: ranks/membership ride exact
    integer hashes; `kmv_raw` is one IEEE division of exactly-
    representable doubles (see operators/sketch.py), so the display
    rounds sit on bitwise-identical floats."""
    ev = _t(spark, sf_dir, "events")
    ud = ev.select(
        "event_type",
        F.concat(
            F.col("user_id").cast("string"),
            F.lit("|"),
            F.date_format("ts", "yyyy-MM-dd"),
        ).alias("v"),
    ).distinct()
    exact = ud.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_exact")
    )
    est = kmv_estimate(
        kmv_sketch(ud, "v", k=_K, group_cols=("event_type",)),
        k=_K,
        group_cols=("event_type",),
    )
    n = F.col("n_exact").cast("double")
    return (
        exact.join(est, "event_type")
        .select(
            "event_type",
            "n_exact",
            "n_sketch",
            (F.round(F.col("kmv_raw") * 10000.0) / 10000.0).alias("kmv_est"),
            (
                F.round(
                    ((F.col("kmv_raw") - n) / n) * 100.0 * 10000.0
                )
                / 10000.0
            ).alias("rel_err_pct"),
        )
        .orderBy("event_type")
    )


@q(
    "audience_kmv_jaccard",
    f"""
    WITH ud AS (
      SELECT DISTINCT event_type, {_UD_V_SQL} AS v
      FROM events WHERE event_type IN ('click', 'purchase')
    ),
    hs AS (
      SELECT DISTINCT event_type, {_md5_uint48_sql("v")} AS h FROM ud
    ),
    rk AS (
      SELECT event_type, h,
             row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
      FROM hs
    ),
    sk AS (SELECT event_type, h FROM rk WHERE rn <= {_K}),
    su AS (
      SELECT h FROM (SELECT DISTINCT h FROM sk) ORDER BY h LIMIT {_K}
    ),
    uagg AS (
      SELECT CAST(count(*) AS BIGINT) AS nu, max(h) AS hku FROM su
    ),
    rho AS (
      SELECT CAST(count(*) AS BIGINT) AS r
      FROM su
      WHERE h IN (SELECT h FROM sk WHERE event_type = 'click')
        AND h IN (SELECT h FROM sk WHERE event_type = 'purchase')
    ),
    ex AS (
      SELECT CAST(sum(in_a) AS BIGINT) AS n_a,
             CAST(sum(in_b) AS BIGINT) AS n_b,
             CAST(sum(in_a * in_b) AS BIGINT) AS n_inter
      FROM (
        SELECT v,
               max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS in_a,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                 AS in_b
        FROM ud GROUP BY v
      )
    ),
    calc AS (
      SELECT n_a, n_b, n_inter,
             CAST(n_inter AS DOUBLE)
               / CAST(n_a + n_b - n_inter AS DOUBLE) AS jacc_exact_raw,
             CAST(r AS DOUBLE)
               / CAST(CASE WHEN nu < {_K} THEN nu ELSE {_K} END AS DOUBLE)
               AS jacc_kmv_raw,
             CASE WHEN nu < {_K} THEN CAST(nu AS DOUBLE)
                  ELSE {_KMV_SCALE} / CAST(hku AS DOUBLE) END AS union_raw
      FROM ex, uagg, rho
    )
    SELECT n_a, n_b, n_inter,
           round(jacc_exact_raw * 1000000.0) / 1000000.0 AS jaccard_exact,
           round(jacc_kmv_raw * 1000000.0) / 1000000.0 AS jaccard_kmv,
           round(union_raw * 10000.0) / 10000.0 AS union_kmv_est,
           round(jacc_kmv_raw * union_raw * 10000.0) / 10000.0
             AS inter_kmv_est
    FROM calc
    """,
)
def audience_kmv_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch-style audience overlap: Jaccard and intersection
    of the click vs purchase user-day sets estimated from two KMV(64)
    sketches — union = k-min of the merged sketches (exact, because
    the k smallest of A ∪ B all lie in k-min(A) ∪ k-min(B)), ρ = the
    union sketch's members present in BOTH input sketches, so
    Ĵ = ρ/k and |A∩B|^ = Ĵ · n̂_union — next to the exact answers.
    At 100 TB this is how audience overlap matrices are computed:
    per-audience O(k) sketches pairwise-combined, never a corpus join.

    Spark shape: one filtered events scan → distinct (audience, hash)
    exchange → rank-k windows; everything after the sketches is O(k)
    (the union re-min, the two semi-join membership flags, and four
    single-row aggregates attached by the sanctioned broadcast-scalar
    crossJoins). DETERMINISM: membership/ranks are exact-integer; the
    three raw estimates are fixed sequences of correctly-rounded IEEE
    ops on bitwise-identical doubles, spelled identically both sides
    before the display rounds."""
    ev = _t(spark, sf_dir, "events")
    ud = (
        ev.where(F.col("event_type").isin("click", "purchase"))
        .select(
            "event_type",
            F.concat(
                F.col("user_id").cast("string"),
                F.lit("|"),
                F.date_format("ts", "yyyy-MM-dd"),
            ).alias("v"),
        )
        .distinct()
    )
    # exact side: per-v membership-flag collapse, no self-join
    ex = ud.groupBy("v").agg(
        F.max(
            F.when(F.col("event_type") == "click", 1).otherwise(0)
        ).alias("in_a"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("in_b"),
    )
    exact = ex.agg(
        F.sum("in_a").cast("long").alias("n_a"),
        F.sum("in_b").cast("long").alias("n_b"),
        F.sum(F.col("in_a") * F.col("in_b")).cast("long").alias("n_inter"),
    )
    sk = kmv_sketch(ud, "v", k=_K, group_cols=("event_type",))
    su = sk.select("h").distinct().orderBy("h").limit(_K)
    uagg = su.agg(
        F.count(F.lit(1)).cast("long").alias("nu"), F.max("h").alias("hku")
    )
    sa = sk.where(F.col("event_type") == "click").select("h")
    sb = sk.where(F.col("event_type") == "purchase").select("h")
    rho = (
        su.join(sa, "h", "semi")
        .join(sb, "h", "semi")
        .agg(F.count(F.lit(1)).cast("long").alias("r"))
    )
    scale = F.lit(float((_K - 1) << 48))
    denom = F.when(F.col("nu") < _K, F.col("nu")).otherwise(F.lit(_K))
    calc = (
        exact.crossJoin(F.broadcast(uagg))
        .crossJoin(F.broadcast(rho))
        .select(
            "n_a",
            "n_b",
            "n_inter",
            (
                F.col("n_inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast(
                    "double"
                )
            ).alias("jacc_exact_raw"),
            (F.col("r").cast("double") / denom.cast("double")).alias(
                "jacc_kmv_raw"
            ),
            F.when(F.col("nu") < _K, F.col("nu").cast("double"))
            .otherwise(scale / F.col("hku").cast("double"))
            .alias("union_raw"),
        )
    )
    return calc.select(
        "n_a",
        "n_b",
        "n_inter",
        (F.round(F.col("jacc_exact_raw") * 1000000.0) / 1000000.0).alias(
            "jaccard_exact"
        ),
        (F.round(F.col("jacc_kmv_raw") * 1000000.0) / 1000000.0).alias(
            "jaccard_kmv"
        ),
        (F.round(F.col("union_raw") * 10000.0) / 10000.0).alias(
            "union_kmv_est"
        ),
        (
            F.round(F.col("jacc_kmv_raw") * F.col("union_raw") * 10000.0)
            / 10000.0
        ).alias("inter_kmv_est"),
    )


# --- Bloom parameters -------------------------------------------------------
_M_BITS = 4096  # 2^12 — three md5 nibbles address a bit exactly
_H = 3
_SALTS = tuple(f"bloom{i}:" for i in range(_H))


def _pos_sql(expr: str, salt: str) -> str:
    """DuckDB: first 3 md5 nibbles of salt||expr as an INT in
    [0, 4096) — one Bloom bit position (instr-nibble spelling shared
    with _md5_uint48_sql/operators/sampling.py; no mod, 3 nibbles ARE 12 bits)."""
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


# --- DuckDB spelling of the HLL register/rho derivation ---------------------
# Shares every constant with operators/sketch.py so the two sides are
# the SAME algorithm: first md5 byte = register, rank of the next 48
# bits from the hex string (anchored regexp strip of leading zero
# nibbles + a 4-case first-nibble table), integer register fold.
_NIB = "instr('0123456789abcdef', substr({s}, {p}, 1)) - 1"

# the register index + leading-zero-stripped rank window, as select-list
# fragments over a column named h (both HLL oracles build on these —
# ONE spelling of the subtle rank derivation, so a future fix cannot
# desynchronize the two declared oracles)
_REG_EXPR = f"({_NIB.format(s='h', p=1)}) * 16 + ({_NIB.format(s='h', p=2)})"
_T_EXPR = f"regexp_replace(substr(h, 3, {_HLL_W_NIBBLES}), '^0+', '')"
_D = _NIB.format(s="t", p=1)
_RHO_CASE = f"""CASE WHEN length(t) = 0 THEN {_HLL_RHO_MAX}
                  ELSE ({_HLL_W_NIBBLES} - length(t)) * 4
                       + CASE WHEN ({_D}) >= 8 THEN 0
                              WHEN ({_D}) >= 4 THEN 1
                              WHEN ({_D}) >= 2 THEN 2
                              ELSE 3 END + 1 END"""


def _fold_cte_sql(group: str, src: str) -> str:
    """The exact-BIGINT harmonic fold over a (group, reg, mr) source:
    SELECT body producing (group, n_registers, sum_int, v)."""
    return f"""
      SELECT {group},
             CAST(count(*) AS BIGINT) AS n_registers,
             sum(CAST(1 AS BIGINT) << ({_HLL_RHO_MAX} - mr))
               + ({_HLL_M} - count(*))
                 * (CAST(1 AS BIGINT) << {_HLL_RHO_MAX}) AS sum_int,
             {_HLL_M} - count(*) AS v
      FROM {src} GROUP BY {group}"""


def _hll_sql(expr: str, group: str, table: str, where: str) -> str:
    h = f"md5('hll:' || {expr})"
    return f"""
    hashed AS (
      SELECT {group}, {_REG_EXPR} AS reg, {_T_EXPR} AS t
      FROM (SELECT {group}, {h} AS h FROM {table} WHERE {where})
    ),
    rho AS (
      SELECT {group}, reg, {_RHO_CASE} AS rho FROM hashed
    ),
    regs AS (
      SELECT {group}, reg, max(rho) AS mr FROM rho GROUP BY {group}, reg
    ),
    folded AS ({_fold_cte_sql(group, "regs")}
    )"""


@q(
    "event_user_hll_distinct",
    f"""
    WITH {_hll_sql("CAST(user_id AS VARCHAR)", "event_type", "events",
                   "user_id IS NOT NULL")},
    ex AS (
      SELECT event_type,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
      FROM events GROUP BY event_type
    )
    SELECT f.event_type, ex.n_exact, f.n_registers,
           round((CASE WHEN {_HLL_NUM!r} / CAST(sum_int AS DOUBLE)
                            <= {_HLL_SMALL!r} AND v > 0
                       THEN {float(_HLL_M)!r}
                            * ln({float(_HLL_M)!r} / CAST(v AS DOUBLE))
                       ELSE {_HLL_NUM!r} / CAST(sum_int AS DOUBLE)
                  END) * 100.0) / 100.0 AS hll_est
    FROM folded f JOIN ex USING (event_type)
    ORDER BY event_type
    """,
)
def event_user_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event type via the engine-portable
    HyperLogLog (``operators/sketch.py::hll_sketch/hll_estimate``,
    m=256 registers), reported NEXT TO the exact count so the entry
    also pins the estimator's accuracy on real data. Cross-engine
    determinism: the register index/rank are integer-and-string md5
    derivations, the harmonic fold is an exact BIGINT sum of powers of
    two, and the raw estimate is one IEEE division — the only
    transcendental (small-range ln(m/V)) has an irrational true value
    for every reachable V, so the 1e-2 display round is boundary-safe
    (house transcendental policy).

    Scale shape: one shuffle on (type, register) with map-side partial
    max reduces ANY corpus to ≤ 256 rows per type; the exact-count
    companion shuffles distinct (type, user) — at 100 TB you drop it
    and keep the sketch, or go exact-mergeable via the bitmap entry
    (``event_user_bitmap_distinct``). Per-shard register tables persist
    and fold with ``hll_merge`` (merge ≡ one-shot, property-tested in
    tests/test_scale_patterns.py)."""
    ev = _t(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    sk = hll_sketch(ev, "user_id", group_cols=("event_type",))
    est = hll_estimate(sk, group_cols=("event_type",))
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("n_exact")
    )
    return (
        est.join(exact, "event_type")
        .select(
            "event_type",
            "n_exact",
            "n_registers",
            (F.round(F.col("hll_raw") * 100.0) / 100.0).alias("hll_est"),
        )
        .orderBy("event_type")
    )


@q(
    "lineitem_selfjoin_size_cms",
    """
    WITH vocab AS (
      SELECT CAST(l_partkey AS VARCHAR) AS token,
             CAST(count(*) AS BIGINT) AS w
      FROM lineitem GROUP BY 1
    ),
    cells AS (
      SELECT j, (instr('0123456789abcdef',
                       substr(md5('cms:' || CAST(j AS VARCHAR) || ':' || token), 1, 1)) - 1) * 16
                + (instr('0123456789abcdef',
                         substr(md5('cms:' || CAST(j AS VARCHAR) || ':' || token), 2, 1)) - 1)
                AS bucket,
             CAST(sum(w) AS BIGINT) AS c
      FROM vocab, (SELECT unnest(range(4)) AS j)
      GROUP BY 1, 2
    ),
    ip AS (
      SELECT j, CAST(sum(c * c) AS BIGINT) AS ip FROM cells GROUP BY j
    ),
    est AS (SELECT CAST(min(ip) AS BIGINT) AS cms_est FROM ip),
    exact AS (
      SELECT CAST(sum(w) AS BIGINT) AS n_rows,
             CAST(count(*) AS BIGINT) AS n_keys,
             CAST(sum(w * w) AS BIGINT) AS selfjoin_exact
      FROM vocab
    )
    SELECT n_rows, n_keys, selfjoin_exact, cms_est,
           round((CAST(cms_est AS DOUBLE) / CAST(selfjoin_exact AS DOUBLE))
                 * 10000.0) / 10000.0 AS overest_ratio
    FROM exact CROSS JOIN est
    """,
)
def lineitem_selfjoin_size_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-size estimation WITHOUT running the join: the self-join
    size of lineitem on l_partkey (= Σ_p f(p)² — the second frequency
    moment F₂, Alon-Matias-Szegedy '96) estimated from a count-min
    sketch by the row-wise inner product min_j Σ_b c[j][b]²
    (Cormode & Muthukrishnan '05 §4.2,
    ``operators/sketch.py::cms_inner_product``), reported NEXT TO the
    exact Σ f² so the entry pins the estimator's one-sided error on
    real data (est ≥ exact always — collisions only add mass;
    property-tested in test_scale_patterns.py).

    This is the pre-join planning probe: per-shard CMS sketches are
    O(depth×256) persisted state (mergeable cell-wise,
    ``cms_merge``), so a 100 TB planner prices a candidate shuffle
    join — or detects a runaway hot-key fan-out — by folding sketches,
    never by executing the join. Every decision rides exact BIGINTs
    (counts, products, sums, min); the one float is the displayed
    ratio of two exact integers."""
    li = _t(spark, sf_dir, "lineitem")
    keyed = li.select(F.col("l_partkey").cast("string").alias("token"))
    sk = cms_build(keyed, "token")
    est = cms_inner_product(sk, sk)
    per_key = keyed.groupBy("token").agg(F.count(F.lit(1)).alias("w"))
    exact = per_key.agg(
        F.sum("w").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum(F.col("w") * F.col("w")).cast("long").alias("selfjoin_exact"),
    )
    return exact.crossJoin(F.broadcast(est)).select(
        "n_rows",
        "n_keys",
        "selfjoin_exact",
        "cms_est",
        (
            F.round(
                (
                    F.col("cms_est").cast("double")
                    / F.col("selfjoin_exact").cast("double")
                )
                * 10000.0
            )
            / 10000.0
        ).alias("overest_ratio"),
    )


@q(
    "rolling_weekly_hll_users",
    f"""
    WITH hashed AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             {_REG_EXPR} AS reg, {_T_EXPR} AS t
      FROM (SELECT ts, md5('hll:' || CAST(user_id AS VARCHAR)) AS h
            FROM events WHERE user_id IS NOT NULL)
    ),
    rho AS (
      SELECT day, reg, {_RHO_CASE} AS rho FROM hashed
    ),
    daily AS (SELECT day, reg, max(rho) AS mr FROM rho GROUP BY day, reg),
    fan AS (
      SELECT day + CAST(i AS INTEGER) AS wday, reg, mr
      FROM daily, UNNEST(range(0, 7)) AS t(i)
    ),
    merged AS (
      -- re-max per (window, register): several contributing days can
      -- hit the same register; the fold below must see ONE row each
      SELECT wday, reg, max(mr) AS mr FROM fan GROUP BY wday, reg
    ),
    folded AS ({_fold_cte_sql("wday", "merged")}
    ),
    exact AS (
      SELECT wday, CAST(count(user_id) AS BIGINT) AS n_exact
      FROM (
        SELECT DISTINCT
               CAST(date_trunc('day', ts) AS DATE) + CAST(i AS INTEGER) AS wday,
               user_id
        FROM events, UNNEST(range(0, 7)) AS t(i)
        WHERE user_id IS NOT NULL
      ) GROUP BY wday
    ),
    bounds AS (
      SELECT max(CAST(date_trunc('day', ts) AS DATE)) AS max_day FROM events
    )
    SELECT strftime(f.wday, '%Y-%m-%d') AS day, e.n_exact,
           round((CASE WHEN {_HLL_NUM!r} / CAST(sum_int AS DOUBLE)
                            <= {_HLL_SMALL!r} AND v > 0
                       THEN {float(_HLL_M)!r}
                            * ln({float(_HLL_M)!r} / CAST(v AS DOUBLE))
                       ELSE {_HLL_NUM!r} / CAST(sum_int AS DOUBLE)
                  END) * 100.0) / 100.0 AS hll_users_7d
    FROM folded f JOIN exact e ON f.wday = e.wday, bounds
    WHERE f.wday <= max_day
    ORDER BY day
    """,
)
def rolling_weekly_hll_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day distinct users per day from a per-day HLL
    SKETCH CUBE — the mergeable twin of ``rolling_distinct_users``
    (which fans every EVENT out ×7 and re-distincts). Here history is
    reduced ONCE to per-day register tables (days × 256 rows — the
    state a production rollup persists per ingest, the
    ``SketchRollup`` pipeline's layout), and each trailing window is
    answered by fanning out and re-maxing REGISTERS, not events:
    days×7×256 rows of state motion regardless of event volume. This
    is the time-bucketed sketch-cube pattern (hypertable continuous
    aggregates, Druid/Theta rollups) — windows, MAU/WAU, or any ad-hoc
    day range fold from the same cube without touching raw history.

    The exact companion (same fan-out-the-events shape as the sibling
    entry) is reported next to the estimate to pin accuracy on real
    data; at 100 TB you keep only the sketch path. Determinism: the
    register fold is max (idempotent/associative — window overlap is
    harmless), the estimate the same exact-BIGINT harmonic fold as
    ``event_user_hll_distinct``."""
    ev_all = _t(spark, sf_dir, "events")
    ev = ev_all.where(F.col("user_id").isNotNull())
    daily = hll_sketch(
        ev.withColumn("day", F.col("ts").cast("date")),
        "user_id",
        group_cols=("day",),
    )
    fan = daily.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(6)),
                lambda i: F.date_add(F.col("day"), i),
            )
        ).alias("wday"),
        "reg",
        "mr",
    )
    folded = fan.groupBy("wday", "reg").agg(F.max("mr").alias("mr"))
    est = hll_estimate(folded, group_cols=("wday",))
    exact = (
        ev.select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(6)),
                    lambda i: F.date_add(F.col("ts").cast("date"), i),
                )
            ).alias("wday"),
            "user_id",
        )
        .distinct()
        .groupBy("wday")
        .agg(F.count("user_id").cast("long").alias("n_exact"))
    )
    # bounds from the UNFILTERED events — the oracle's bounds CTE has
    # no user_id filter, and the sibling rolling_distinct_users trims
    # against the raw frame too; a trailing all-NULL-user day must not
    # shift the trim asymmetrically (code-review r7)
    bounds = ev_all.agg(F.max(F.col("ts").cast("date")).alias("max_day"))
    return (
        est.join(exact, "wday")
        .crossJoin(F.broadcast(bounds))
        .where(F.col("wday") <= F.col("max_day"))
        .select(
            F.date_format("wday", "yyyy-MM-dd").alias("day"),
            "n_exact",
            (F.round(F.col("hll_raw") * 100.0) / 100.0).alias(
                "hll_users_7d"
            ),
        )
        .orderBy("day")
    )


_N_SHARDS = 3


def _kernel_digest() -> str:
    """Content digest of everything that determines the PERSISTED
    sketch bytes: the sketch operator module (register hash, rho, KMV
    hash derivations), the rollup pipeline module (slug/layout/ledger
    discipline), and the oracle-side k / scale constants. Folded into
    the state-dir tag so a value-affecting kernel change invalidates
    stale /tmp state BY CONSTRUCTION — the r8 design keyed on a
    manually-bumped version string, which only worked if someone
    remembered to bump it (ADVICE r8)."""
    from ..operators import sketch as _sketch_mod
    from . import sketch_rollup as _rollup_mod

    h = hashlib.md5()
    for mod in (_sketch_mod, _rollup_mod):
        with open(mod.__file__, "rb") as f:
            h.update(f.read())
    h.update(f"|{_K}|{_KMV_SCALE}".encode())
    return h.hexdigest()[:12]


def _footer_digest(path: str) -> str:
    """md5 of a file's last 64 KiB — for parquet that spans the footer
    (row-group offsets + min/max stats), so regenerated testdata whose
    name/size/mtime all coincide with the old files still gets a fresh
    state dir (VERDICT r8 seam probe: the name/size/mtime triple alone
    is spoofable by an unlucky regeneration). Bounded read: never more
    than 64 KiB per part file, regardless of data scale."""
    with open(path, "rb") as f:
        f.seek(0, os.SEEK_END)
        f.seek(max(0, f.tell() - 65536))
        return hashlib.md5(f.read()).hexdigest()[:12]


def _state_base() -> str:
    """Per-user, mode-0700 scratch root for persisted sketch state.
    The r8 design nested state directly under the world-shared
    tempfile.gettempdir(), where another user could pre-create a
    colliding dir and the ledger would fold foreign parquet into the
    gated answer (ADVICE r8). Ownership is verified, not assumed: a
    pre-existing dir owned by someone else raises instead of being
    silently reused."""
    import stat as statmod

    uid = os.getuid() if hasattr(os, "getuid") else "u"
    base = os.path.join(tempfile.gettempdir(), f"spark_graft_state_{uid}")
    # lstat + symlink rejection (code-review r9): makedirs/stat/chmod
    # all FOLLOW symlinks, so a pre-planted symlink at this predictable
    # name pointing at a victim-owned directory would pass a stat-based
    # ownership check while redirecting state to an attacker-chosen
    # location. Refuse anything that is not a real directory we own.
    if os.path.islink(base):
        raise RuntimeError(
            f"sketch state base {base} is a symlink — refusing to "
            "follow it for sketch state"
        )
    os.makedirs(base, mode=0o700, exist_ok=True)
    st = os.lstat(base)
    if not statmod.S_ISDIR(st.st_mode):
        raise RuntimeError(f"sketch state base {base} is not a directory")
    if hasattr(os, "getuid") and st.st_uid != os.getuid():
        raise RuntimeError(
            f"sketch state base {base} is owned by another user — "
            "refusing to read or write sketch state there"
        )
    os.chmod(base, 0o700)
    return base


@q(
    "sketch_rollup_report",
    f"""
    WITH {_hll_sql("CAST(user_id AS VARCHAR)", "event_type", "events",
                   "user_id IS NOT NULL")},
    uv AS (
      SELECT DISTINCT event_type, CAST(user_id AS VARCHAR) AS v
      FROM events WHERE user_id IS NOT NULL
    ),
    khs AS (
      SELECT DISTINCT event_type, {_md5_uint48_sql("v")} AS h FROM uv
    ),
    krk AS (
      SELECT event_type, h,
             row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
      FROM khs
    ),
    ksk AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_sketch, max(h) AS hk
      FROM krk WHERE rn <= {_K} GROUP BY event_type
    ),
    ex AS (
      SELECT event_type,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
      FROM events WHERE user_id IS NOT NULL GROUP BY event_type
    )
    SELECT f.event_type, ex.n_exact,
           round((CASE WHEN {_HLL_NUM!r} / CAST(sum_int AS DOUBLE)
                            <= {_HLL_SMALL!r} AND v > 0
                       THEN {float(_HLL_M)!r}
                            * ln({float(_HLL_M)!r} / CAST(v AS DOUBLE))
                       ELSE {_HLL_NUM!r} / CAST(sum_int AS DOUBLE)
                  END) * 100.0) / 100.0 AS hll_est,
           round((CASE WHEN n_sketch < {_K} THEN CAST(n_sketch AS DOUBLE)
                       ELSE {_KMV_SCALE} / CAST(hk AS DOUBLE)
                  END) * 10000.0) / 10000.0 AS kmv_est
    FROM folded f JOIN ksk USING (event_type) JOIN ex USING (event_type)
    ORDER BY event_type
    """,
)
def sketch_rollup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event type answered from PERSISTED per-shard
    sketch state: events split into {_N_SHARDS} shards (event_id mod),
    each reduced to HLL register + KMV hash-set parquet through the
    real ``SketchRollup.ingest()`` (second ingest of shard 0 exercises
    the ledger-skip path inside the gated run), estimates folded on
    read. Reported next to the exact count so the entry also pins both
    estimators' accuracy on real data.

    Determinism: HLL/KMV state is pure integers (register maxima,
    48-bit hash minima) — exact through the parquet round-trip and
    order-free under any shard partitioning, which is WHY fold-on-read
    can hash-match a one-shot oracle. The only floats are the final
    single IEEE divisions (and HLL's small-range ln, irrational at
    every reachable V — house transcendental policy), display-rounded
    identically on both engines (the HLL and KMV entries' gate
    spellings).

    Scale shape: each ingest shuffles one shard down to ≤ 256 + k rows
    per event type and never touches other shards; estimates() reads
    shards × groups × (256 + k) rows of state regardless of how much
    raw history the shards summarized. At 100 TB this is the only
    affordable "distinct users, updated per ingest" shape — history is
    scanned exactly once, when its shard arrives.

    The staging dir lives under a per-user mode-0700 scratch root and
    is keyed by the source files' content identity (name/size/footer
    digest) AND a digest of the sketch kernel sources: repeated runs
    in one round reuse the ledger-skipped state; regenerated testdata
    at the same path — or a value-affecting kernel change — gets a
    fresh dir instead of being served stale sketches (ADVICE r8 +
    VERDICT r8 seam probe)."""
    from .sketch_rollup import SketchRollup

    ev = _t(spark, sf_dir, "events").where(F.col("user_id").isNotNull())

    events_path = os.path.join(sf_dir, "events.parquet")
    if os.path.isdir(events_path):
        # recursive, deterministic walk (code-review r9): a
        # partitionBy layout nests part files under key=... dirs, and
        # open()ing a directory entry raises IsADirectoryError — the
        # digest must key on the FILES wherever they sit
        stats = []
        for root, dirs, files in os.walk(events_path):
            dirs[:] = sorted(d for d in dirs if not d.startswith((".", "_")))
            for f in sorted(files):
                if f.startswith((".", "_")):
                    continue
                p = os.path.join(root, f)
                stats.append(
                    (
                        os.path.relpath(p, events_path),
                        os.path.getsize(p),
                        _footer_digest(p),
                    )
                )
    else:
        stats = [
            (
                os.path.basename(events_path),
                os.path.getsize(events_path),
                _footer_digest(events_path),
            )
        ]
    tag = hashlib.md5(
        f"{events_path}|{_N_SHARDS}|{stats}|{_kernel_digest()}"
        f"|event_type|user_id|{_K}".encode()
    ).hexdigest()[:12]
    state = os.path.join(_state_base(), f"sketch_rollup_{tag}")

    roll = SketchRollup(
        spark,
        state,
        group_cols=("event_type",),
        value_col="user_id",
        k=_K,
    )
    for s in range(_N_SHARDS):
        roll.ingest(
            ev.where(F.pmod(F.col("event_id"), F.lit(_N_SHARDS)) == s),
            f"events-shard-{s}",
        )
    # replay: the ledger must skip (False) — the idempotency half of
    # the pipeline contract, exercised inside the hash-gated run. This
    # raise is the ONLY detection (a regressed re-ingest overwrites
    # the same slug with identical state, so the folded answer — and
    # the hash — would be unchanged); explicit if/raise, not assert,
    # so -O/PYTHONOPTIMIZE can strip neither the check nor the replay
    # exercise itself (code-review r8).
    replay_ingested = roll.ingest(
        ev.where(F.pmod(F.col("event_id"), F.lit(_N_SHARDS)) == 0),
        "events-shard-0",
    )
    if replay_ingested is not False:
        raise AssertionError(
            "ledger replay must skip an already-ingested shard"
        )

    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("n_exact")
    )
    return (
        roll.estimates()
        .join(exact, "event_type")
        .select(
            "event_type",
            "n_exact",
            (F.round(F.col("hll_est") * 100.0) / 100.0).alias("hll_est"),
            (F.round(F.col("kmv_est") * 10000.0) / 10000.0).alias(
                "kmv_est"
            ),
        )
        .orderBy("event_type")
    )


_CMS_BUCKET = (
    "(instr('0123456789abcdef',"
    " substr(md5('cms:' || CAST({j} AS VARCHAR) || ':' || {tok}), 1, 1)) - 1) * 16"
    " + (instr('0123456789abcdef',"
    " substr(md5('cms:' || CAST({j} AS VARCHAR) || ':' || {tok}), 2, 1)) - 1)"
)


@q(
    "doc_token_cms_sharded_merge",
    f"""
    WITH toks AS (
      SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ),
    vocab AS (SELECT token, count(*) AS cnt FROM toks GROUP BY token),
    cells AS (
      SELECT j, {_CMS_BUCKET.format(j="j", tok="token")} AS bucket, cnt
      FROM vocab CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS j)
    ),
    sketch AS (
      SELECT j, bucket, CAST(sum(cnt) AS BIGINT) AS c
      FROM cells GROUP BY j, bucket
    ),
    panel AS (
      SELECT token, CAST(cnt AS BIGINT) AS true_cnt
      FROM vocab ORDER BY cnt DESC, token ASC LIMIT 10 OFFSET 10
    ),
    probe AS (
      SELECT t.token, t.true_cnt, min(s.c) AS cms_est
      FROM panel t
      CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS j) d
      JOIN sketch s
        ON s.j = d.j
       AND s.bucket = {_CMS_BUCKET.format(j="d.j", tok="t.token")}
      GROUP BY t.token, t.true_cnt
    )
    SELECT token, true_cnt, CAST(cms_est AS BIGINT) AS cms_est
    FROM probe ORDER BY true_cnt DESC, token ASC
    """,
)
def doc_token_cms_sharded_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CMS partial-merge contract as a gated entry: the corpus is
    split into two doc shards, each reduced to its OWN 4x256 sketch,
    and the shards are folded with ``cms_merge`` — whose r9 rewrite
    (depth-row coverage trim, ADVICE r8) this gates end-to-end, since
    the oracle builds the grid ONE-SHOT in SQL: hash equality proves
    shard-build -> merge == one-shot, cell-exactly, cross-engine (the
    equal-depth identity path of the trim; the mixed-depth trim path
    is property-tested). The probe panel is the SECOND frequency
    decile (ranks 11-20), where cells are lighter and a merge defect
    that duplicated or dropped cell mass would not hide under a
    heavy-hitter's collision slack.

    Scale shape: one (shard, token) groupBy collapses the corpus with
    map-side combine — the only shuffle that scales with data, and
    ReuseExchange serves all three consumers (two shard sketches + the
    exact panel) from that single exchange; everything after is
    fixed-size (<= shards x depth x 256 cells). At 100 TB the shards
    are per-day/per-partition persisted sketch state and the merge
    reads only sketch rows — history is never re-scanned."""
    from ..operators.sketch import cms_build, cms_estimate, cms_merge

    docs = _t_wide(spark, sf_dir, "documents")
    toks = docs.select(
        F.pmod(F.col("doc_id"), F.lit(2)).alias("sh"),
        F.explode(F.split(F.col("text"), " ")).alias("token"),
    )
    pv = toks.groupBy("sh", "token").agg(
        F.count(F.lit(1)).cast("long").alias("w")
    )
    merged = cms_merge(
        cms_build(pv.where(F.col("sh") == 0), "token", depth=4, weight_col="w"),
        cms_build(pv.where(F.col("sh") == 1), "token", depth=4, weight_col="w"),
    )
    vocab = pv.groupBy("token").agg(
        F.sum("w").cast("long").alias("true_cnt")
    )
    panel = (
        vocab.orderBy(F.desc("true_cnt"), F.asc("token")).offset(10).limit(10)
    )
    return cms_estimate(merged, panel, "token", depth=4).orderBy(
        F.desc("true_cnt"), F.asc("token")
    )


@q(
    "doc_token_cms_mixed_depth_merge",
    f"""
    WITH toks AS (
      SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ),
    vocab AS (SELECT token, count(*) AS cnt FROM toks GROUP BY token),
    -- the trimmed merge of a depth-4 and a depth-2 shard keeps only
    -- the covered-by-all rows j in {{0,1}}, where BOTH shards wrote
    -- full mass: cell-wise that is the one-shot depth-2 grid over the
    -- whole vocabulary (shard partition of the corpus sums out).
    cells AS (
      SELECT j, {_CMS_BUCKET.format(j="j", tok="token")} AS bucket, cnt
      FROM vocab CROSS JOIN (SELECT unnest([0, 1]) AS j)
    ),
    sketch AS (
      SELECT j, bucket, CAST(sum(cnt) AS BIGINT) AS c
      FROM cells GROUP BY j, bucket
    ),
    panel AS (
      SELECT token, CAST(cnt AS BIGINT) AS true_cnt
      FROM vocab ORDER BY cnt DESC, token ASC LIMIT 10 OFFSET 10
    ),
    probe AS (
      SELECT t.token, t.true_cnt, min(s.c) AS cms_est
      FROM panel t
      CROSS JOIN (SELECT unnest([0, 1]) AS j) d
      JOIN sketch s
        ON s.j = d.j
       AND s.bucket = {_CMS_BUCKET.format(j="d.j", tok="t.token")}
      GROUP BY t.token, t.true_cnt
    )
    SELECT token, true_cnt, CAST(cms_est AS BIGINT) AS cms_est
    FROM probe ORDER BY true_cnt DESC, token ASC
    """,
)
def doc_token_cms_mixed_depth_merge(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Mixed-depth CMS merge, end-to-end: shard 0 (doc_id even) builds
    a depth-4 sketch, shard 1 (doc_id odd) a depth-2 sketch, and
    ``cms_merge`` folds them — its coverage trim must keep exactly the
    j in {0,1} rows where both shards carry full mass. The probe panel
    (second frequency decile, ranks 11-20, the same defect-sensitive
    band doc_token_cms_sharded_merge uses) is estimated with ``cms_estimate(depth=None)``,
    which fans over the MERGED sketch's own depth-row domain: if the
    trim wrongly kept the deep shard's partial j in {2,3} rows, the
    min would pick up half-mass cells and drop below the oracle's
    trimmed-grid estimates — a value, not just shape, mismatch.

    Scale shape: identical to ``doc_token_cms_sharded_merge`` — one
    (shard, token) groupBy with map-side combine is the only
    corpus-scaling shuffle (ReuseExchange serves both shard sketches
    and the exact panel from that one exchange); merge + probe run on
    fixed-size cell frames (<= shards x depth x 256 rows, broadcast).
    At 100 TB mixed depths are the REAL rollup case: persisted
    per-partition sketch state built by different pipeline versions
    (a depth upgrade) merges to the min common depth instead of
    silently underestimating."""
    from ..operators.sketch import cms_build, cms_estimate, cms_merge

    docs = _t_wide(spark, sf_dir, "documents")
    toks = docs.select(
        F.pmod(F.col("doc_id"), F.lit(2)).alias("sh"),
        F.explode(F.split(F.col("text"), " ")).alias("token"),
    )
    pv = toks.groupBy("sh", "token").agg(
        F.count(F.lit(1)).cast("long").alias("w")
    )
    merged = cms_merge(
        cms_build(pv.where(F.col("sh") == 0), "token", depth=4, weight_col="w"),
        cms_build(pv.where(F.col("sh") == 1), "token", depth=2, weight_col="w"),
    )
    vocab = pv.groupBy("token").agg(
        F.sum("w").cast("long").alias("true_cnt")
    )
    panel = (
        vocab.orderBy(F.desc("true_cnt"), F.asc("token")).offset(10).limit(10)
    )
    return cms_estimate(merged, panel, "token", depth=None).orderBy(
        F.desc("true_cnt"), F.asc("token")
    )
