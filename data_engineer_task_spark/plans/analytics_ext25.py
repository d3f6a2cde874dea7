"""Twenty-sixth-batch declared queries: driver-gate coverage for the
distributed connected-components escalation path, and ranking-metric
evaluation for curation quality scores.

Same contract as plans/analytics.py (see its authoring rules): every
entry is a Spark program + a DuckDB oracle that must hash-match.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.local import local_frame
from .analytics import _SHINGLE_CTE, _near_dup_tail, _t, _t_wide, q


@q(
    "near_dup_clusters_twophase",
    f"""
    WITH RECURSIVE {_SHINGLE_CTE},
    {_near_dup_tail(band_size=2, as_cte=True)},
    edges AS (
      SELECT id_a AS u, id_b AS v FROM pairs WHERE jaccard >= 0.5
      UNION ALL
      SELECT id_b AS u, id_a AS v FROM pairs WHERE jaccard >= 0.5
    ),
    nodes AS (SELECT DISTINCT u AS node FROM edges),
    reach AS (
      SELECT node, node AS lbl FROM nodes
      UNION
      SELECT e.v AS node, r.lbl FROM reach r JOIN edges e ON e.u = r.node
    ),
    lab AS (SELECT node, min(lbl) AS cluster FROM reach GROUP BY node)
    SELECT cluster, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(node) AS BIGINT) AS id_sum
    FROM lab GROUP BY cluster ORDER BY cluster
    """,
)
def near_dup_clusters_twophase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`near_dup_clusters` driven through the Kiveris large-star/
    small-star two-phase variant (``strategy="two_phase"``) instead of
    the adaptive ladder — VERDICT r3 next-8: the O(log n)-round
    escalation path the ladder reaches only on deeper-than-max_iters
    graphs was pytest-pinned but never oracle-gated on real data.
    Identical oracle (recursive-CTE closure) and identical output to
    `near_dup_clusters`: the algorithms share one min-label fixpoint,
    so a hash match here proves the star-forest contraction — round
    alternation, checksum convergence, self-loop re-labeling — lands
    the exact same labels as the union-find. At 100 TB this is the
    variant that handles a pathological long-chain dup graph (O(log n)
    two-shuffle rounds; per-round eager localCheckpoint cuts the
    16×/round lineage growth)."""
    from ..operators.dedup import near_duplicates
    from ..operators.graph import connected_components

    docs = _t_wide(spark, sf_dir, "documents")
    pairs = near_duplicates(
        docs, "doc_id", "text", n_hashes=8, shingle_k=3, band_size=2,
        threshold=0.5,
    )
    labels = connected_components(
        pairs.select("id_a", "id_b"), strategy="two_phase"
    )
    return (
        labels.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("node").cast("long").alias("id_sum"),
        )
        .orderBy("cluster")
    )


@q(
    "doc_quality_score_auc",
    """
    WITH d AS (
      SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS tok,
             CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
               AS dtok
      FROM documents
    ),
    m AS (
      SELECT 'n_tokens' AS score_name, tok AS s, y FROM d
      UNION ALL
      SELECT 'n_distinct_tokens' AS score_name, dtok AS s, y FROM d
    ),
    g AS (
      SELECT score_name, s, CAST(sum(y) AS BIGINT) AS cp,
             CAST(sum(1 - y) AS BIGINT) AS cn
      FROM m GROUP BY score_name, s
    ),
    c AS (
      SELECT score_name, cp, cn,
             coalesce(sum(cn) OVER (PARTITION BY score_name ORDER BY s ASC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS cl
      FROM g
    ),
    t AS (
      SELECT score_name,
             CAST(sum(cp) AS BIGINT) AS n_pos,
             CAST(sum(cn) AS BIGINT) AS n_neg,
             CAST(sum(cp * (2 * cl + cn)) AS BIGINT) AS u2
      FROM c GROUP BY score_name
    )
    SELECT score_name, n_pos, n_neg,
           round(u2 / (2.0 * n_pos * n_neg) * 1000000.0) / 1000000.0 AS auc
    FROM t ORDER BY score_name
    """,
)
def doc_quality_score_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking AUC (tie-corrected Mann-Whitney U) of candidate
    quality-score columns against a binary label — the standard
    offline gate for a model-based curation filter ("does this score
    actually rank the target slice above the rest?"), completing the
    eval family (recall / calibration / kappa / confusion had no
    threshold-free ranking metric). Here the label is lang='en' and
    the scores are token count and distinct-token count; any integer
    score plugs into the same shape.

    U is computed from per-score-value (c_pos, c_neg) counts:
    U2 = Σ_s c_pos(s)·(2·cum_neg_below(s) + c_neg(s)), AUC = U2 /
    (2·n_pos·n_neg) — the ×2 scaling keeps the half-credit tie term
    integral, so everything up to the final display division is EXACT
    BIGINT arithmetic (no rank window over the corpus, no float rank
    averaging): cross-engine identical by construction. At 100 TB:
    one map-only scoring pass, one groupBy on (score, value) whose
    output is score-cardinality-bounded (≪ corpus), and a window over
    that tiny frame — the corpus never sorts globally. The final AUC
    is two correctly-rounded IEEE ops on exact integers under the
    display round. Core math lives in
    ``operators/quality.py::ranking_auc`` (property-tested against an
    O(n²) pair-counting reference)."""
    from ..operators.quality import ranking_auc

    docs = _t_wide(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), r"\Q \E")
    d = docs.select(
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
        F.size(toks).cast("long").alias("tok"),
        F.size(F.array_distinct(toks)).cast("long").alias("dtok"),
    )
    # in-row fan-out, not a union: one corpus scan serves both scores
    # (a union's branches each re-scan the fact table)
    m = d.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("n_tokens").alias("score_name"),
                    F.col("tok").alias("s"),
                ),
                F.struct(
                    F.lit("n_distinct_tokens").alias("score_name"),
                    F.col("dtok").alias("s"),
                ),
            )
        ).alias("e"),
        "y",
    ).select("e.score_name", "e.s", "y")
    return ranking_auc(
        m, "s", "y", group_cols=["score_name"]
    ).orderBy("score_name")


_PCA_D = 64
_PCA_ITERS = 12


def _pca_power_ctes(d: int, iters: int) -> str:
    """Unrolled fixed-iteration power-method CTE chain (DuckDB) over an
    integer-exact covariance matrix — the kmeans/pagerank unrolling
    pattern applied to linear algebra. Coordinates quantize to exact
    micro-unit BIGINTs, so the moment sums S_i and P_ij are EXACT
    integers (order-free, engine-identical); the covariance then
    derives through a fixed sequence of correctly-rounded IEEE ops,
    and every matvec / normalization folds IN-ROW in one defined
    order (list_reduce left folds, sqrt is IEEE-exact) — so the
    iterate v_t is bitwise identical cross-engine at every step, no
    per-iteration rounding needed. Ends with ``vfin`` (the unit
    iterate), ``wfin`` (C·vfin), ``nn`` (count)."""
    parts = [
        f"""xq AS (
      SELECT list_transform(embedding::DOUBLE[],
                            x -> CAST(round(x * 1000000.0) AS BIGINT)) AS q
      FROM embeddings
    ),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM xq),
    si AS (
      SELECT ii.i, CAST(sum(q[ii.i]) AS BIGINT) AS s
      FROM xq, (SELECT unnest(generate_series(1, {d})) AS i) ii
      GROUP BY ii.i
    ),
    pij AS (
      SELECT ii.i, jj.j, CAST(sum(q[ii.i] * q[jj.j]) AS BIGINT) AS p
      FROM xq,
           (SELECT unnest(generate_series(1, {d})) AS i) ii,
           (SELECT unnest(generate_series(1, {d})) AS j) jj
      WHERE jj.j >= ii.i
      GROUP BY ii.i, jj.j
    ),
    cfull AS (
      SELECT pp.i, pp.j,
             (pp.p * 1.0 / nn.n / 1000000000000.0)
             - (sa.s * 1.0 / nn.n / 1000000.0)
               * (sb.s * 1.0 / nn.n / 1000000.0) AS c
      FROM (SELECT i, j, p FROM pij
            UNION ALL
            SELECT j AS i, i AS j, p FROM pij WHERE i <> j) pp
      JOIN si sa ON sa.i = pp.i
      JOIN si sb ON sb.i = pp.j
      CROSS JOIN nn
    ),
    crows AS (SELECT i, list(c ORDER BY j) AS cr FROM cfull GROUP BY i),
    v0 AS (SELECT list_transform(generate_series(1, {d}),
                                 k -> CASE WHEN k = 1 THEN 1.0
                                           ELSE 0.0 END) AS v)"""
    ]
    for t in range(1, iters + 1):
        parts.append(
            f"""w{t} AS (
      SELECT list(list_reduce(
               list_prepend(0.0, list_transform(generate_series(1, {d}),
                            k -> cr[k] * v[k])),
               (a, b) -> a + b) ORDER BY i) AS w
      FROM crows, v{t - 1}
    ),
    v{t} AS (
      SELECT list_transform(w, x -> x / (CASE WHEN nrm > 0
                                              THEN nrm ELSE 1.0 END)) AS v
      FROM (SELECT w, sqrt(list_reduce(list_prepend(0.0,
                      list_transform(w, y -> y * y)), (a, b) -> a + b)) AS nrm
            FROM w{t})
    )"""
        )
    parts.append(
        f"""vfin AS (SELECT v FROM v{iters}),
    wfin AS (
      SELECT list(list_reduce(
               list_prepend(0.0, list_transform(generate_series(1, {d}),
                            k -> cr[k] * v[k])),
               (a, b) -> a + b) ORDER BY i) AS w
      FROM crows, vfin
    )"""
    )
    return ",\n    ".join(parts)


def _integer_moments(
    base: DataFrame, d: int
) -> tuple[int, dict[int, int], dict[tuple[int, int], int]]:
    """Exact integer first/second moments of a quantized-vector frame
    ``base(q: array<long>)``: returns ``(n, S, P)`` with
    ``S[i] = Σ q_i`` and ``P[(i,j)] = Σ q_i·q_j`` (symmetric), the
    driver-side state the PCA power method folds.

    Accumulator-width escalation (VERDICT r8 item 3): int64 moment
    sums carry ~3e7 rows per dimension pair at micro-unit quantization
    before ANSI mode THROWS on overflow — a loud wall, but a wall. One
    stats job (piggybacked on the n-count the caller needs anyway)
    also takes ``qmax = max_i |q_i|``; the worst-case moment bound
    ``n·qmax²`` is then computed in exact Python-int arithmetic, and
    if it crosses 2^62 (2× safety under the int64 max) BOTH the
    per-row products and the sums run as DECIMAL(38,0) — exact to
    1e38, so a 100×-scale corpus degrades to a slightly slower exact
    plan instead of an exception. The returned values are plain Python
    ints either way (Decimal → int is exact), so the caller's
    covariance arithmetic — and the cross-engine bitwise contract with
    the DuckDB oracle, whose BIGINT sums auto-widen to HUGEINT — is
    unchanged by the escalation."""
    st = base.select(
        F.count(F.lit(1)).alias("n"),
        F.max(
            F.aggregate(
                F.col("q"),
                F.lit(0).cast("long"),
                lambda a, x: F.greatest(a, F.abs(x)),
            )
        ).alias("qmax"),
    ).collect()[0]
    n, qmax = int(st["n"]), int(st["qmax"] or 0)
    prod_t = "decimal(38,0)" if n * qmax * qmax >= (1 << 62) else "long"
    pairs = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.lit(d)),
            lambda i: F.transform(
                F.sequence(i, F.lit(d)),
                lambda j: F.struct(
                    i.cast("int").alias("i"),
                    j.cast("int").alias("j"),
                    (
                        F.get(F.col("q"), i - 1).cast(prod_t)
                        * F.get(F.col("q"), j - 1).cast(prod_t)
                    ).cast(prod_t).alias("p"),
                ),
            ),
        )
    )
    prows = (
        base.select(F.explode(pairs).alias("e"))
        .groupBy(F.col("e.i").alias("i"), F.col("e.j").alias("j"))
        .agg(F.sum("e.p").cast(prod_t).alias("p"))
        .collect()
    )
    srows = (
        base.select(F.posexplode("q").alias("i0", "x"))
        .groupBy((F.col("i0") + 1).alias("i"))
        .agg(F.sum(F.col("x").cast(prod_t)).cast(prod_t).alias("s"))
        .collect()
    )
    S = {int(r["i"]): int(r["s"]) for r in srows}
    P: dict[tuple[int, int], int] = {}
    for r in prows:
        P[(int(r["i"]), int(r["j"]))] = int(r["p"])
        P[(int(r["j"]), int(r["i"]))] = int(r["p"])
    return n, S, P


@q(
    "embedding_pca_top_component",
    f"""
    WITH {_pca_power_ctes(_PCA_D, _PCA_ITERS)},
    ray AS (
      SELECT list_reduce(
               list_prepend(0.0, list_transform(generate_series(1, {_PCA_D}),
                            k -> v[k] * w[k])),
               (a, b) -> a + b) AS lam
      FROM vfin, wfin
    ),
    tr AS (
      SELECT list_reduce(
               list_prepend(0.0,
                 (SELECT list(c ORDER BY i) FROM cfull WHERE i = j)),
               (a, b) -> a + b) AS trace
    ),
    top AS (
      SELECT kk.k AS top_dim, abs(v[kk.k]) AS loading
      FROM vfin, (SELECT unnest(generate_series(1, {_PCA_D})) AS k) kk
      ORDER BY abs(v[kk.k]) DESC, kk.k ASC LIMIT 1
    )
    SELECT nn.n AS n_vectors,
           round(ray.lam * 1000000.0) / 1000000.0 AS lambda1,
           round(ray.lam / tr.trace * 1000000.0) / 1000000.0
             AS explained_frac,
           CAST(top.top_dim AS INTEGER) AS top_dim,
           round(top.loading * 1000000.0) / 1000000.0 AS top_loading
    FROM nn, ray, tr, top
    """,
)
def embedding_pca_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding corpus — eigenvalue,
    explained-variance fraction, and dominant loading dimension — the
    canonical embedding-health / decorrelation diagnostic (an
    anisotropic corpus with one dominant direction embeds poorly; PCA
    whitening/truncation decisions start from exactly these numbers).

    Spark shape (the 100 TB story): the corpus collapses in ONE scan —
    coordinates quantize in-row to exact micro-unit BIGINTs, each row
    fans out its d(d+1)/2 upper-triangle products in-row (codegen
    HOFs, no join, no literal blowup), and a map-side-combinable
    integer groupBy yields the d² moment frame (2 080 rows for d=64).
    Only O(d²) state reaches the driver; the 12 fixed power-method
    iterations run there in pure Python over doubles — mirroring the
    oracle's unrolled list_reduce CTE chain op-for-op (left folds in
    k order, IEEE-exact sqrt, guard-divide) so the iterate is bitwise
    identical cross-engine at every step with NO per-iteration
    rounding (the kmeans lesson applied proactively: every input is
    an exact integer moment, every transform a defined-order sequence
    of correctly-rounded IEEE ops). DETERMINISM: the one discrete
    output (top_dim) argmaxes |v_i| over bitwise-identical doubles
    with a dim tie-break; the floats are display-rounded. Overflow
    headroom (VERDICT r8 item 3): int64 moment sums carry ~3e7 rows
    per dimension pair at micro-unit quantization; ``_integer_moments``
    bounds the worst case as n·qmax² from the n-count job it runs
    anyway and escalates the accumulators to exact DECIMAL(38,0) past
    2^62 — a 100× scale-up degrades to a slightly slower exact plan,
    never an ANSI throw (pinned by
    ``test_r9_seams.py::test_integer_moments_escalate_past_int64``)."""
    import math

    emb = _t(spark, sf_dir, "embeddings")
    d, iters = _PCA_D, _PCA_ITERS
    q_col = F.transform(
        F.col("embedding"),
        lambda x: F.round(x.cast("double") * 1000000.0).cast("long"),
    )
    base = emb.select(q_col.alias("q"))
    n, S, P = _integer_moments(base, d)
    assert len(S) == d, f"embedding dim {len(S)} != {d}"
    # covariance: same op sequence as the oracle's cfull expression
    C = {
        (i, j): (P[(i, j)] * 1.0 / n / 1000000000000.0)
        - (S[i] * 1.0 / n / 1000000.0) * (S[j] * 1.0 / n / 1000000.0)
        for i in range(1, d + 1)
        for j in range(1, d + 1)
    }

    def matvec(v):
        w = []
        for i in range(1, d + 1):
            acc = 0.0  # left fold in k order == list_reduce with 0.0 seed
            for k in range(1, d + 1):
                acc = acc + C[(i, k)] * v[k - 1]
            w.append(acc)
        return w

    v = [1.0] + [0.0] * (d - 1)
    for _ in range(iters):
        w = matvec(v)
        acc = 0.0
        for y in w:
            acc = acc + y * y
        nrm = math.sqrt(acc)
        v = [x / (nrm if nrm > 0 else 1.0) for x in w]
    w = matvec(v)
    lam = 0.0
    for k in range(1, d + 1):
        lam = lam + v[k - 1] * w[k - 1]
    trace = 0.0
    for i in range(1, d + 1):
        trace = trace + C[(i, i)]
    top_dim = min(range(1, d + 1), key=lambda k: (-abs(v[k - 1]), k))
    out = local_frame(
        spark,
        [(int(n), float(lam), float(lam / trace), int(top_dim),
          float(abs(v[top_dim - 1])))],
        "n_vectors long, _lam double, _frac double, top_dim int, _load double",
    )
    return out.select(
        "n_vectors",
        (F.round(F.col("_lam") * 1000000.0) / 1000000.0).alias("lambda1"),
        (F.round(F.col("_frac") * 1000000.0) / 1000000.0).alias(
            "explained_frac"
        ),
        "top_dim",
        (F.round(F.col("_load") * 1000000.0) / 1000000.0).alias("top_loading"),
    )


# Twenty-seventh-batch entries register themselves into QUERIES/ORACLE
# on import.
from . import analytics_ext26  # noqa: E402,F401  isort:skip
