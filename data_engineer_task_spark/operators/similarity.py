"""Similarity search over embedding columns (``array<float>``).

Brute-force cosine top-k as the correctness baseline, and a
sign-LSH-bucketed variant as the scale path (candidates only within a
bucket — the 100 TB shape: bucket is the shuffle key, each bucket's
pair enumeration is local to a partition).

Dense vector math runs in Arrow-vectorized numpy (one BLAS matmul per
record batch), not per-element column expressions: Spark's higher-order
functions (``zip_with``/``aggregate`` lambdas) evaluate interpreted,
outside whole-stage codegen, which is the wrong side of a 10-100× gap
for d-dimensional kernels. The *structure* stays declarative — scans,
bucket shuffles, top-k windows are all DataFrame ops; only the
per-batch arithmetic drops into numpy. Small sides (query sets,
centroid tables) ship in UDF closures: map-only stages, no join, the
same plan shape a broadcast join would give with zero build overhead.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W
from pyspark.sql import types as T

from ..sources.local import local_frame


def as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def _round_half_away(v: "np.ndarray", round_to: int) -> "np.ndarray":
    """Scale-then-divide rounding with the HALF-AWAY-FROM-ZERO tie rule
    — numpy's np.round is half-EVEN, which disagrees with both Spark's
    BigDecimal HALF_UP and DuckDB's std::round exactly on half-way
    values (the same divergence class the plans' authoring rules ban);
    this matches round(x * 10^n) / 10^n on both engines bit-for-bit
    (the trailing +0.0 normalizes the sign(v)·0 = -0.0 case — the
    engines' rounds return +0.0 — code-review r5)."""
    s = 10.0 ** round_to
    return np.sign(v) * np.floor(np.abs(v) * s + 0.5) / s + 0.0


def _round_half_away_scalar(x: float, round_to: int) -> float:
    """Driver-side scalar twin of ``_round_half_away`` (same
    floor(|x|·s + 0.5) formula, bit-identical results). Python's
    built-in ``round()`` is banker's (half-EVEN) on the correct
    decimal value, which disagrees with the engines' half-away display
    round exactly on representable half-way values — and k-means init
    rounds RAW float32 embedding coordinates, where dyadic values like
    odd/128 (x·10⁶ exactly N.5) are reachable (ADVICE r3). The +0.0
    normalizes copysign's -0.0 (engines return +0.0 — code-review
    r5)."""
    s = 10.0 ** round_to
    return math.copysign(math.floor(abs(x) * s + 0.5) / s, x) + 0.0


def _safe_cos(num: "np.ndarray", den: "np.ndarray", round_to: int) -> "np.ndarray":
    """Cosine with zero-norm degenerate pairs pinned to -1 instead of
    NaN: numpy propagates 0/0 → NaN, Spark sorts NaN ABOVE every real
    value on DESC (desc_nulls_last does not catch NaN), and numpy
    comparisons with NaN are False — so an unguarded kernel lets one
    zero-norm vector hijack rank 1 of every top-k while silently
    vanishing from thresholded pair sets. -1 ranks it last and keeps
    it out of any threshold >= -1, deterministically."""
    return _round_half_away(
        np.where(den > 0, num / np.where(den > 0, den, 1.0), -1.0), round_to
    )


def cosine_topk(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    query_filter: Column,
    k: int = 3,
    round_to: int = 5,
) -> DataFrame:
    """Exact top-k neighbors for the rows matching ``query_filter``
    against the whole table. The query set is small by construction (it
    is the thing a user asks about), so it collects to the driver and
    rides in the scorer's closure: scoring is a map-only scan — corpus
    batch × query matrix in one matmul — and only the narrow
    (query_id, neighbor_id, cos) triples shuffle for the top-k window.
    Ranking uses the ROUNDED similarity with an id tie-break so results
    are stable under fp reassociation. Scale note: the top-k window
    partitions by query_id, so one query's candidates land in one task
    — this is the declared BRUTE-FORCE baseline; at corpus scale use
    the IVF / PQ / IVF-PQ entries (pruned candidates) or interpose a
    salted two-level rank like ``sketch.k_smallest`` when exact
    full-corpus top-k is really wanted."""
    base = emb.select(F.col(id_col), as_double(F.col(vec_col)).alias("_v"))
    qrows = base.where(query_filter).orderBy(id_col).collect()
    if not qrows:
        return local_frame(
            emb.sparkSession,
            [],
            base.select(
                F.col(id_col).alias("query_id"),
                F.col(id_col).alias("neighbor_id"),
                F.lit(0.0).alias("cos_sim"),
            ).schema,
        )
    qids = [r[id_col] for r in qrows]
    Q = np.asarray([r["_v"] for r in qrows], dtype=np.float64)
    qnorm = np.sqrt((Q * Q).sum(axis=1))
    if (qnorm == 0).any():
        bad = [q for q, n in zip(qids, qnorm) if n == 0]
        raise ValueError(f"zero-norm query vector(s) {bad!r} — cosine undefined")

    @F.pandas_udf("array<double>")
    def sims(vs: pd.Series) -> pd.Series:
        V = np.asarray(vs.tolist(), dtype=np.float64)
        norm = np.sqrt((V * V).sum(axis=1))
        S = _safe_cos(V @ Q.T, norm[:, None] * qnorm[None, :], round_to)
        return pd.Series(list(S))

    qid_lit = F.array(*[F.lit(q) for q in qids])
    scored = (
        base.select(
            F.col(id_col).alias("neighbor_id"),
            F.posexplode(sims("_v")).alias("_qi", "cos_sim"),
        )
        .withColumn("query_id", F.element_at(qid_lit, F.col("_qi") + 1))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", "cos_sim")
    )
    w = W.partitionBy("query_id").orderBy(
        F.desc_nulls_last("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .drop("_rn")
    )


def sign_bucket(vec_col: str, n_bits: int = 6) -> Column:
    """Sign-LSH bucket id: concatenated sign bits of the leading dims.
    (A full random-hyperplane LSH replaces element_at with dot products
    against broadcast hyperplanes — same downstream shape.) Vectors
    shorter than ``n_bits`` raise a named error up front instead of
    ANSI element_at's mid-stage INVALID_ARRAY_INDEX (code-review r5);
    NULL vectors raise through the same guard (ADVICE r5: size(NULL)
    is NULL, so the short-vector condition alone is NULL for them and
    they'd silently collapse into bucket '000…0' — every NULL
    embedding in one hot bucket, inconsistent with the loud-fail
    convention)."""
    guard = F.when(
        F.col(vec_col).isNull() | (F.size(F.col(vec_col)) < n_bits),
        F.raise_error(
            F.concat(
                F.lit(f"sign_bucket needs >= {n_bits} dims, got "),
                # NULL vector → NULL size; coalesce keeps the error
                # message itself non-NULL
                F.coalesce(
                    F.size(F.col(vec_col)).cast("string"), F.lit("NULL vector")
                ),
            )
        ),
    )
    bits = [
        F.when(F.element_at(F.col(vec_col), i) >= 0, F.lit("1")).otherwise(F.lit("0"))
        for i in range(1, n_bits + 1)
    ]
    return F.coalesce(guard, F.concat(*bits))


def bucketed_similar_pairs(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    n_bits: int = 6,
    threshold: float = 0.0,
    round_to: int = 5,
) -> DataFrame:
    """ANN candidate pairs: enumerated within sign-LSH buckets only.
    One shuffle partitions the corpus by bucket; each bucket's pairwise
    scoring is then a single local gram matrix (``V @ V.T``) instead of
    a self-join that re-evaluates a d-element fold per pair. Output:
    bucket, id_a, id_b, cos_sim (id_a < id_b). At scale the bucket key
    bounds pair count; a pathologically hot bucket (sign bits are
    correlated for clustered corpora) gets split by raising ``n_bits``
    or salting the bucket key — the per-group matrix is
    O(bucket_size²), which is exactly the quantity LSH exists to cap."""
    id_type = emb.schema[id_col].dataType.simpleString()
    base = (
        emb.select(F.col(id_col), F.col(vec_col), as_double(F.col(vec_col)).alias("_v"))
        .withColumn("bucket", sign_bucket(vec_col, n_bits))
        .drop(vec_col)
    )

    def gram(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col)
        ids = pdf[id_col].to_numpy()
        V = np.asarray(pdf["_v"].tolist(), dtype=np.float64)
        norm = np.sqrt((V * V).sum(axis=1))
        S = _safe_cos(V @ V.T, np.outer(norm, norm), round_to)
        ia, ib = np.triu_indices(len(ids), k=1)
        keep = S[ia, ib] >= threshold
        return pd.DataFrame(
            {
                "bucket": np.repeat(pdf["bucket"].iloc[0], int(keep.sum())),
                "id_a": ids[ia[keep]],
                "id_b": ids[ib[keep]],
                "cos_sim": S[ia[keep], ib[keep]],
            }
        )

    return base.groupBy("bucket").applyInPandas(
        gram,
        f"bucket string, id_a {id_type}, id_b {id_type}, cos_sim double",
    )


def clustered_similar_pairs(
    assigned: DataFrame,
    id_col: str,
    *,
    cluster_col: str = "cluster",
    vec_col: str = "_v",
    threshold: float = 0.0,
    round_to: int = 5,
) -> DataFrame:
    """Pairwise cosine within pre-assigned clusters — the SemDeDup
    decomposition (Abbas et al. 2023, arXiv:2303.09540): k-means first,
    then pair enumeration ONLY inside each cluster, so total pair work
    is Σ cluster_size² instead of corpus². ``assigned`` is
    ``kmeans_fit``'s output (id, ``_v`` double vector, ``cluster``).
    Same per-group gram-matrix kernel as ``bucketed_similar_pairs``
    (one shuffle on the cluster key, one BLAS matmul per cluster, only
    pairs >= threshold materialize); at corpus scale k grows ∝ n so
    cluster size — and the per-group matrix — stays bounded.
    Output: (cluster, id_a, id_b, cos_sim), id_a < id_b, cos_sim
    rounded to ``round_to`` and thresholded on the ROUNDED value."""
    id_type = assigned.schema[id_col].dataType.simpleString()
    base = assigned.select(
        F.col(cluster_col).alias("cluster"), F.col(id_col), F.col(vec_col)
    )

    def gram(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col)
        ids = pdf[id_col].to_numpy()
        V = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
        norm = np.sqrt((V * V).sum(axis=1))
        S = _safe_cos(V @ V.T, np.outer(norm, norm), round_to)
        ia, ib = np.triu_indices(len(ids), k=1)
        keep = S[ia, ib] >= threshold
        return pd.DataFrame(
            {
                "cluster": np.repeat(pdf["cluster"].iloc[0], int(keep.sum())),
                "id_a": ids[ia[keep]],
                "id_b": ids[ib[keep]],
                "cos_sim": S[ia[keep], ib[keep]],
            }
        )

    return base.groupBy("cluster").applyInPandas(
        gram,
        f"cluster int, id_a {id_type}, id_b {id_type}, cos_sim double",
    )


def cos_to_centroid(
    assigned: DataFrame,
    centroids: list[list[float]],
    *,
    vec_col: str = "_v",
    cluster_col: str = "cluster",
    round_to: int = 5,
) -> DataFrame:
    """Add ``cos2c``: rounded cosine of each vector to ITS OWN cluster
    centroid — SemDeDup's survivor criterion (within a duplicate group,
    the member LEAST similar to the centroid is kept, maximizing
    diversity). The k×d centroid matrix rides in the UDF closure, so
    this is a map-only stage (no join)."""
    C = np.asarray(centroids, dtype=np.float64)
    cn = np.sqrt((C * C).sum(axis=1))

    @F.pandas_udf("double")
    def c2c(vs: pd.Series, cl: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype="float64")
        V = np.asarray(vs.tolist(), dtype=np.float64)
        idx = cl.to_numpy()
        Cv = C[idx]
        num = (V * Cv).sum(axis=1)
        den = np.sqrt((V * V).sum(axis=1)) * cn[idx]
        return pd.Series(_safe_cos(num, den, round_to))

    return assigned.withColumn("cos2c", c2c(vec_col, cluster_col))


def _assign_to_centroids(
    base: DataFrame, centroids: list[list[float]], *, round_to: int = 6
) -> DataFrame:
    """Add a ``cluster`` (0-based argmin squared-L2, lowest-index
    tie-break) and ``_d2`` (that distance) column. The centroid matrix
    ships in the UDF closure (k×d — driver-side tiny), so this is a
    map-only stage: no join, no shuffle. Dense distance-to-all-
    centroids is the one place a vectorized Arrow UDF beats native
    column expressions: the k×d literal expression tree costs Catalyst
    planning + codegen per k-means iteration and evaluates
    element-by-element, while one numpy matmul per Arrow batch is
    O(n·k·d) in BLAS.

    DETERMINISM: the argmin runs on d2 QUANTIZED to ``round_to``
    decimals (ADVICE r3) — the raw values are never bitwise-comparable
    cross-engine (this kernel uses the expanded |v|²−2v·c+|c|² form,
    the oracle CTE sums (x−c)² directly, and each re-associates its
    sums differently), so a vector near-equidistant to two centroids
    could flip assignment between engines. After quantization both
    engines see identical buckets except when a raw d2 sits within fp
    noise (~1 ulp) of a 10^-round_to boundary, and genuine near-ties
    resolve by the shared lowest-cluster tie-break. The reported _d2
    is the quantized value, so downstream inertia sums fold
    bitwise-identical addends."""
    import numpy as np
    import pandas as pd

    C = np.asarray(centroids, dtype=np.float64)
    c_sq = (C * C).sum(axis=1)

    # NOTE: legacy PandasUDFType form on purpose — PySpark 4.1 type-hint
    # inference rejects the Series -> DataFrame (struct result) shape.
    @F.pandas_udf("struct<cluster:int,d2:double>", F.PandasUDFType.SCALAR)
    def assign(vs):
        if len(vs) == 0:
            return pd.DataFrame({"cluster": pd.array([], dtype="int32"),
                                 "d2": pd.array([], dtype="float64")})
        V = np.asarray(vs.tolist(), dtype=np.float64)
        if np.isnan(V).any():
            # fail LOUDLY: np.argmin treats NaN as the minimum, so one
            # NaN coordinate assigns its row to cluster 0, poisons that
            # centroid's mean, and next iteration collapses the WHOLE
            # corpus into cluster 0 with no error (code-review r5 —
            # the cosine kernels have _safe_cos for this class; an L2
            # argmin has no analogous safe ordering to pin)
            raise ValueError(
                "NaN embedding coordinate in k-means assignment — "
                "filter or impute vectors before clustering"
            )
        d2 = (V * V).sum(axis=1)[:, None] - 2.0 * (V @ C.T) + c_sq[None, :]
        # clamp BEFORE rounding: the expanded form can dip a few ulps
        # below zero on self-distances, while the oracle's direct form
        # is non-negative by construction
        q2 = _round_half_away(np.maximum(d2, 0.0), round_to)
        cl = q2.argmin(axis=1)  # lowest-index tie-break, like array_position
        return pd.DataFrame(
            {
                "cluster": cl.astype("int32"),
                "d2": q2[np.arange(len(cl)), cl],
            }
        )

    return base.withColumn("_a", assign("_v")).select(
        "*", F.col("_a.cluster").alias("cluster"), F.col("_a.d2").alias("_d2")
    ).drop("_a")


def kmeans_fit(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    k: int = 8,
    n_iters: int = 5,
    round_to: int = 6,
) -> tuple[list[list[float]], DataFrame]:
    """Lloyd's k-means over a distributed embedding table. Per
    iteration: one map-only assignment pass (centroid literals — no
    join) plus one groupBy computing the d per-dimension means, then
    the k×d centroid table (tiny) returns to the driver. That loop
    shape is the canonical Spark iterative-ML pattern: only O(k·d)
    state ever crosses the driver boundary, so it scales to any row
    count. Determinism: init = the k lowest-``id_col`` vectors;
    centroids rounded to ``round_to`` decimals each iteration via the
    half-away scale-then-divide rule — NOT Python's half-even round()
    (ADVICE r3: init rounds raw float32 coordinates, where x·10⁶
    landing exactly on N.5 is reachable) — which pins down fp
    summation-order noise; empty clusters keep their previous
    centroid. Returns (centroids, assignment DataFrame with
    ``cluster`` and QUANTIZED squared distance ``_d2`` — see
    ``_assign_to_centroids`` for the cross-engine argmin contract)."""
    base = emb.select(
        id_col, as_double(F.col(vec_col)).alias("_v")
    ).persist()
    init = base.orderBy(id_col).limit(k).collect()
    if len(init) < k:
        raise ValueError(f"need >= {k} vectors, got {len(init)}")
    dim = len(init[0]["_v"])
    centroids = [
        [_round_half_away_scalar(float(x), round_to) for x in r["_v"]]
        for r in init
    ]
    for _ in range(n_iters):
        assigned = _assign_to_centroids(base, centroids, round_to=round_to)
        rows = (
            assigned.groupBy("cluster")
            .agg(*[F.avg(F.element_at("_v", d + 1)).alias(f"c{d}") for d in range(dim)])
            .collect()
        )
        new = {
            r["cluster"]: [
                _round_half_away_scalar(float(r[f"c{d}"]), round_to)
                for d in range(dim)
            ]
            for r in rows
        }
        updated = [new.get(c, centroids[c]) for c in range(k)]
        if updated == centroids:
            # Rounded fixpoint: every further iteration is a no-op, so
            # stopping changes nothing but the job count.
            break
        centroids = updated
    final = _assign_to_centroids(base, centroids, round_to=round_to)
    # The cache served its purpose (one scan per iteration); release
    # it so repeated fits don't pin corpus copies for the session
    # lifetime. Consuming `final` re-reads the source once —
    # deterministic, and cheaper than a leaked cache under pressure.
    base.unpersist(blocking=False)
    return centroids, final


def ivf_assign(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    centroid_filter: Column,
    round_to: int = 5,
) -> DataFrame:
    """IVF coarse quantization: assign every vector to its
    highest-cosine centroid (centroids broadcast). On a real corpus the
    centroids come from k-means over a sample; here any deterministic
    seed set works (``centroid_filter``), since the operator under test
    is the assignment join, not the training.
    Output: (id, centroid_id, cos_sim)."""
    base = emb.select(F.col(id_col), as_double(F.col(vec_col)).alias("_v"))
    crows = base.where(centroid_filter).orderBy(id_col).collect()
    if not crows:
        raise ValueError("centroid_filter matched no rows")
    cids = [r[id_col] for r in crows]
    C = np.asarray([r["_v"] for r in crows], dtype=np.float64)
    cnorm = np.sqrt((C * C).sum(axis=1))
    if (cnorm == 0).any():
        bad = [cid for cid, n in zip(cids, cnorm) if n == 0]
        raise ValueError(
            f"centroid_filter selected zero-norm vector(s) {bad!r} — an "
            "unguarded NaN column would capture the entire corpus"
        )

    # The centroid table is O(k·d) — it rides in the UDF closure, so
    # assignment is a map-only scan (no cross join, no per-vector
    # window): batch × centroid matmul, argmax over the ROUNDED cosine
    # with the lowest-centroid-id tie-break (centroids are sorted by
    # id, and numpy argmax takes the first maximum).
    # Legacy PandasUDFType form: PySpark 4.1 type-hint inference
    # rejects the Series -> DataFrame (struct result) shape.
    @F.pandas_udf("struct<ci:int,cos_sim:double>", F.PandasUDFType.SCALAR)
    def best(vs):
        V = np.asarray(vs.tolist(), dtype=np.float64)
        norm = np.sqrt((V * V).sum(axis=1))
        S = _safe_cos(V @ C.T, norm[:, None] * cnorm[None, :], round_to)
        ci = S.argmax(axis=1)
        return pd.DataFrame(
            {
                "ci": ci.astype("int32"),
                "cos_sim": S[np.arange(len(ci)), ci],
            }
        )

    cid_lit = F.array(*[F.lit(c) for c in cids])
    return base.withColumn("_b", best("_v")).select(
        F.col(id_col),
        F.element_at(cid_lit, F.col("_b.ci") + 1).alias("centroid_id"),
        F.col("_b.cos_sim").alias("cos_sim"),
    )


def ivf_topk(
    assigned: DataFrame,
    centroids: list[list[float]],
    queries: list[tuple],
    id_col: str,
    *,
    k: int = 5,
    nprobe: int = 2,
    round_to: int = 6,
) -> DataFrame:
    """IVF top-k search: answer cosine nearest-neighbor queries by
    scanning only the ``nprobe`` inverted lists whose centroids are
    closest to each query — the recall/cost dial that makes ANN search
    linear-in-probed-cells instead of linear-in-corpus.

    ``assigned`` is ``kmeans_fit``'s output (``_v`` + ``cluster``);
    ``queries`` is a small driver-side list of (query_id, vector).
    Query→cell routing happens on the driver (q×k cosine over the tiny
    centroid matrix), producing a (query_id, cluster, qvec) probe
    frame that broadcast-joins the corpus ON THE CLUSTER KEY — so the
    scan prunes to the probed cells before any vector math, the same
    way partition pruning drops files. Per-candidate cosine is one
    numpy kernel per Arrow batch; ranking is a per-query window with
    rounded-similarity + id tie-breaks, so results are deterministic.

    Returns (query_id, neighbor id, cos_sim, rank<=k)."""
    C = np.asarray(centroids, dtype=np.float64)
    cnorm = np.sqrt((C * C).sum(axis=1))
    probe_rows = []
    for qid, qv in queries:
        q = np.asarray(list(qv), dtype=np.float64)
        qn = float(np.sqrt(q @ q))
        if qn == 0.0:
            raise ValueError(f"query {qid!r} has zero norm — cosine undefined")
        den = cnorm * qn
        # zero-norm centroid (empty cell kept its init) → never probed;
        # shared guard + half-away rounding (code-review r5 deduped the
        # former inline np.where copy); stable argsort = lowest-cluster
        # tie-break, matching ORDER BY rsim DESC, cluster
        cells = np.argsort(-_safe_cos(C @ q, den, round_to), kind="stable")[:nprobe]
        probe_rows.extend(
            (qid, int(c), [float(x) for x in q]) for c in cells
        )
    # query ids share the corpus id domain
    probes = local_frame(
        assigned.sparkSession,
        probe_rows,
        T.StructType(
            [
                T.StructField("query_id", assigned.schema[id_col].dataType),
                T.StructField("cluster", T.LongType()),
                T.StructField("_q", T.ArrayType(T.DoubleType())),
            ]
        ),
    )

    @F.pandas_udf("double")
    def rowcos(a: pd.Series, b: pd.Series) -> pd.Series:
        A = np.asarray(a.tolist(), dtype=np.float64)
        B = np.asarray(b.tolist(), dtype=np.float64)
        num = (A * B).sum(axis=1)
        den = np.sqrt((A * A).sum(axis=1)) * np.sqrt((B * B).sum(axis=1))
        # shared zero-norm/NaN guard (code-review r5 deduped the
        # former inline copy of the same np.where spelling)
        return pd.Series(_safe_cos(num, den, round_to))

    cand = assigned.join(F.broadcast(probes), "cluster")
    w = W.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc(id_col)
    )
    return (
        cand.withColumn("cos_sim", rowcos("_v", "_q"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", id_col, "cos_sim", "rank")
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the embedding-compression half of a
# production IVF-PQ ANN index (Jégou et al., "Product Quantization for
# Nearest Neighbor Search"). Split each d-dim vector into m subvectors,
# k-means each subspace independently (the codebooks), and store every
# vector as m small integer codes: d×4 bytes → m bytes (here 64 floats
# → 4 codes). Search never decodes: a query builds an m×k table of
# subspace distances ONCE, and each candidate's approximate distance is
# m table lookups summed (ADC — asymmetric distance computation).
# At 100 TB the codes column (plus the O(m·k·d) codebooks) replaces the
# raw embedding column for candidate scoring — the corpus scan becomes
# integer lookups against a broadcast-sized table, and exact re-ranking
# touches only the final shortlist.
# ---------------------------------------------------------------------------


def _pq_codes_udf(codebooks: list[list[list[float]]], round_to: int):
    """Arrow kernel shared by ``pq_fit`` and ``pq_encode``: all m
    codebooks ride the closure; per subspace the expanded-form squared
    L2, clamped at zero and QUANTIZED to ``round_to`` decimals before
    the argmin (lowest-code tie-break) — the exact
    ``_assign_to_centroids`` cross-engine contract."""
    m = len(codebooks)
    Cs = [np.asarray(cb, dtype=np.float64) for cb in codebooks]
    dsub = Cs[0].shape[1]
    csq = [(C * C).sum(axis=1) for C in Cs]

    @F.pandas_udf("array<int>")
    def encode(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype=object)
        V = np.asarray(vs.tolist(), dtype=np.float64)
        if np.isnan(V).any():
            # same loud-fail contract as _assign_to_centroids: argmin
            # treats NaN as the minimum and would silently emit code 0
            raise ValueError(
                "NaN embedding coordinate in PQ encoding — filter or "
                "impute vectors before encoding"
            )
        codes = np.empty((len(V), m), dtype=np.int32)
        for j in range(m):
            Vj = V[:, j * dsub : (j + 1) * dsub]
            d2 = (
                (Vj * Vj).sum(axis=1)[:, None]
                - 2.0 * (Vj @ Cs[j].T)
                + csq[j][None, :]
            )
            q2 = _round_half_away(np.maximum(d2, 0.0), round_to)
            codes[:, j] = q2.argmin(axis=1)
        return pd.Series(list(codes))

    return encode


def pq_fit(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    m: int = 4,
    k: int = 4,
    n_iters: int = 2,
    round_to: int = 6,
) -> list[list[list[float]]]:
    """Train m independent subspace codebooks (each k × d/m) with the
    deterministic ``kmeans_fit`` contract (lowest-id init, per-iteration
    half-away-rounded centroids, quantized-d2 argmin). Training state is
    O(m·k·d) on the driver; at corpus scale you fit on a sample and
    encode everything — the fit never needs the full table.

    r11 (guide §2.4/§4.3): all m subspace fits ride ONE job per Lloyd
    iteration instead of m independent ``kmeans_fit`` loops — a single
    Arrow pass assigns every row to its m subspace clusters (the
    ``pq_encode`` kernel on the current codebooks), then one
    posexplode + (subspace, cluster) groupBy computes all m·k centroid
    means map-side-combined. Per subspace the math is unchanged
    (identical init slices of the k lowest-``id_col`` vectors,
    identical quantized-d2 argmin, identical per-dim means rounded
    half-away each iteration; the per-subspace update is a pure
    function of (data, that subspace's centroids), so iterating a
    subspace already at its rounded fixpoint is a no-op — joint
    early-stop therefore returns exactly what the sequential loop
    did). Jobs: 1 + n_iters, down from m·(1 + n_iters)."""
    base = emb.select(id_col, as_double(F.col(vec_col)).alias("_v")).persist()
    try:
        init = base.orderBy(id_col).limit(k).collect()
        if len(init) < k:
            raise ValueError(f"need >= {k} vectors, got {len(init)}")
        dim = len(init[0]["_v"])
        if dim % m != 0:
            raise ValueError(f"dim {dim} not divisible by m={m}")
        dsub = dim // m
        codebooks = [
            [
                [
                    _round_half_away_scalar(float(x), round_to)
                    for x in r["_v"][j * dsub : (j + 1) * dsub]
                ]
                for r in init
            ]
            for j in range(m)
        ]
        for _ in range(n_iters):
            codes = _pq_codes_udf(codebooks, round_to)
            rows = (
                base.select("_v", F.posexplode(codes(F.col("_v"))).alias("_j", "_cl"))
                .groupBy("_j", "_cl")
                .agg(
                    *[
                        F.avg(
                            F.element_at("_v", F.col("_j") * dsub + d + 1)
                        ).alias(f"c{d}")
                        for d in range(dsub)
                    ]
                )
                .collect()
            )
            new = {
                (r["_j"], r["_cl"]): [
                    _round_half_away_scalar(float(r[f"c{d}"]), round_to)
                    for d in range(dsub)
                ]
                for r in rows
            }
            updated = [
                [new.get((j, c), codebooks[j][c]) for c in range(k)]
                for j in range(m)
            ]
            if updated == codebooks:
                # Rounded fixpoint in every subspace: further iterations
                # are no-ops (same early-stop rule as kmeans_fit).
                break
            codebooks = updated
        return codebooks
    finally:
        base.unpersist(blocking=False)


def pq_encode(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    codebooks: list[list[list[float]]],
    *,
    round_to: int = 6,
) -> DataFrame:
    """Encode every vector to its m PQ codes in ONE map-only Arrow pass
    (all m codebooks ride the closure — O(m·k·d), broadcast-sized).
    Per subspace: expanded-form squared L2, clamped and quantized
    before the argmin — see ``_pq_codes_udf`` for the cross-engine
    contract (a SQL oracle that sums (x−c)² directly and rounds
    reproduces the same codes). Output: (id, codes array<int>)."""
    encode = _pq_codes_udf(codebooks, round_to)
    return emb.select(
        id_col, encode(as_double(F.col(vec_col))).alias("codes")
    )
