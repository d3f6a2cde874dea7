"""Entries over the embeddings table: cosine top-k, ANN search
(bucketed, IVF, PQ, IVF-PQ) and its recall, k-means, semantic dedup,
PCA, quantization and embedding profiles, and the entries that join
embeddings to documents.

Same contract as plans/analytics.py (see its authoring rules).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window, Window as W
from pyspark.sql import functions as F

from ..sources.local import local_frame
from .shared import _SPLIT_BYTE, _t, _t_wide, q


_EMB_BASE = """
    base AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      FROM embeddings
    )
"""


@q(
    "embedding_cosine_topk",
    f"""
    WITH {_EMB_BASE},
    qv AS (SELECT * FROM base WHERE vec_id < 20),
    pairs AS (
      SELECT qv.vec_id AS query_id, b.vec_id AS neighbor_id,
             round((list_dot_product(qv.v, b.v) / (qv.nrm * b.nrm)) * 100000.0) / 100000.0 AS cos_sim
      FROM qv JOIN base b ON b.vec_id <> qv.vec_id
    )
    SELECT query_id, neighbor_id, cos_sim FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC NULLS LAST, neighbor_id) AS rn
      FROM pairs
    ) WHERE rn <= 3
    ORDER BY query_id, cos_sim DESC NULLS LAST, neighbor_id
    """,
)
def embedding_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k (query rows ride in the scorer's
    closure against the full table; one Arrow-batched numpy matmul per
    record batch — see operators/similarity.py module docstring for
    why dense vector math avoids interpreted HOF folds). The
    correctness baseline for the bucketed ANN variant."""
    from ..operators.similarity import cosine_topk

    emb = _t_wide(spark, sf_dir, "embeddings")
    return cosine_topk(
        emb, "vec_id", "embedding", query_filter=F.col("vec_id") < 20, k=3
    ).orderBy("query_id", F.desc_nulls_last("cos_sim"), F.asc("neighbor_id"))


_BUCKET_SQL = " || ".join(
    f"(CASE WHEN embedding[{i}] >= 0 THEN '1' ELSE '0' END)" for i in range(1, 7)
)


@q(
    "embedding_ann_bucketed",
    f"""
    WITH base AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm,
             {_BUCKET_SQL} AS bucket
      FROM embeddings
    )
    SELECT a.bucket AS bucket, a.vec_id AS id_a, b.vec_id AS id_b,
           round((list_dot_product(a.v, b.v) / (a.nrm * b.nrm)) * 100000.0) / 100000.0 AS cos_sim
    FROM base a JOIN base b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE round((list_dot_product(a.v, b.v) / (a.nrm * b.nrm)) * 100000.0) / 100000.0 >= 0.0
    ORDER BY a.bucket, a.vec_id, b.vec_id
    """,
)
def embedding_ann_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucketed ANN: pairs enumerated only within buckets (the
    scale path — bucket is the shuffle key)."""
    from ..operators.similarity import bucketed_similar_pairs

    emb = _t_wide(spark, sf_dir, "embeddings")
    return bucketed_similar_pairs(
        emb, "vec_id", "embedding", n_bits=6, threshold=0.0
    ).orderBy("bucket", "id_a", "id_b")


@q(
    "label_centroid_profile",
    """
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           round((avg(embedding[1]::DOUBLE)) * 100000.0) / 100000.0 AS avg_d1,
           round((avg(embedding[2]::DOUBLE)) * 100000.0) / 100000.0 AS avg_d2,
           round((avg(embedding[3]::DOUBLE)) * 100000.0) / 100000.0 AS avg_d3
    FROM embeddings GROUP BY label ORDER BY label
    """,
)
def label_centroid_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid coordinates (leading dims) — array element
    access + grouped averages (the IVF centroid-build shape)."""
    emb = _t_wide(spark, sf_dir, "embeddings")
    return (
        emb.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            *[
                (F.round((F.avg(F.element_at("embedding", i).cast("double"))) * 100000.0) / 100000.0).alias(f"avg_d{i}")
                for i in (1, 2, 3)
            ],
        )
        .orderBy("label")
    )


@q(
    "embedding_ivf_assign",
    f"""
    WITH {_EMB_BASE},
    cents AS (SELECT vec_id AS centroid_id, v AS cv, nrm AS cnrm
              FROM base WHERE vec_id < 8),
    scored AS (
      SELECT b.vec_id, c.centroid_id,
             round((list_dot_product(c.cv, b.v) / (c.cnrm * b.nrm)) * 100000.0) / 100000.0 AS cos_sim
      FROM base b CROSS JOIN cents c
    )
    SELECT vec_id, centroid_id, cos_sim FROM (
      SELECT *, row_number() OVER (PARTITION BY vec_id
                                   ORDER BY cos_sim DESC NULLS LAST, centroid_id) AS rn
      FROM scored
    ) WHERE rn = 1
    ORDER BY vec_id
    """,
)
def embedding_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse quantization: every vector assigned to its best
    (broadcast) centroid — the cluster-build half of IVF ANN search;
    the probe half reuses the same join within the assigned cluster."""
    from ..operators.similarity import ivf_assign

    emb = _t_wide(spark, sf_dir, "embeddings")
    return ivf_assign(
        emb, "vec_id", "embedding", centroid_filter=F.col("vec_id") < 8
    ).orderBy("vec_id")


@q(
    "embedding_near_dup_pairs",
    f"""
    WITH base AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm,
             {_BUCKET_SQL} AS bucket
      FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round((list_dot_product(a.v, b.v) / (a.nrm * b.nrm)) * 100000.0) / 100000.0 AS cos_sim
    FROM base a JOIN base b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE round((list_dot_product(a.v, b.v) / (a.nrm * b.nrm)) * 100000.0) / 100000.0 >= 0.35
    ORDER BY a.vec_id, b.vec_id
    """,
)
def embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate candidates: same sign-LSH bucket
    AND cosine above threshold (0.35 ≈ top 0.1% of this corpus's pair
    distribution — the corpus has no true near-dups, so the operator is
    exercised at the top of the real distribution)."""
    from ..operators.similarity import bucketed_similar_pairs

    emb = _t_wide(spark, sf_dir, "embeddings")
    return (
        bucketed_similar_pairs(emb, "vec_id", "embedding", n_bits=6, threshold=0.35)
        .select("id_a", "id_b", "cos_sim")
        .orderBy("id_a", "id_b")
    )


def _kmeans_oracle_ctes(n_iters: int, k: int = 8, round_to: int = 6) -> str:
    """Unrolled Lloyd's-iteration CTE chain (DuckDB) mirroring
    ``similarity.kmeans_fit(k, n_iters)`` — the same fixed-iteration
    unrolling trick the pagerank oracle uses. Per iteration: argmin
    squared-L2 assignment (d2 ASC, cluster ASC tie-break — numpy
    argmin's first-minimum under bitwise-equal ties), per-(cluster,
    dim) mean rounded via scale-then-divide, empty clusters keeping
    the previous centroid (the LEFT JOIN coalesce). kmeans_fit's
    early-stop is a rounded FIXPOINT check, so running all
    ``n_iters`` unconditionally computes identical centroids — the
    update is the identity from the fixpoint on. Ends with ``afin``:
    (vec_id, cluster, d2) under the final centroids.

    DETERMINISM (ADVICE r3): d2 is QUANTIZED to ``round_to`` decimals
    before the argmin on BOTH sides — the raw values are not
    bitwise-comparable cross-engine (the Spark kernel expands
    |v|²−2v·c+|c|², this CTE sums (x−c)² directly, and the two
    re-associate differently), so a vector near-equidistant to two
    centroids could otherwise flip assignment. Post-quantization the
    engines agree except when a raw d2 sits within ~1 ulp of a
    10^-round_to boundary; genuine near-ties resolve by the shared
    (d2 ASC, cluster ASC) tie-break."""
    s = 10 ** round_to
    parts = [
        f"""vx AS (
      SELECT vec_id, generate_subscripts(embedding, 1) AS d,
             CAST(unnest(embedding) AS DOUBLE) AS x
      FROM embeddings
    ),
    seed AS (
      SELECT vec_id, row_number() OVER (ORDER BY vec_id ASC) - 1 AS cluster
      FROM embeddings ORDER BY vec_id ASC LIMIT {k}
    ),
    c0 AS (
      SELECT s.cluster, v.d, round(v.x * {s}.0) / {s}.0 AS c
      FROM seed s JOIN vx v USING (vec_id)
    )"""
    ]
    for i in range(1, n_iters + 1):
        parts.append(
            f"""d{i} AS (
      SELECT v.vec_id, c.cluster,
             round(sum((v.x - c.c) * (v.x - c.c)) * {s}.0) / {s}.0 AS d2
      FROM vx v JOIN c{i - 1} c USING (d)
      GROUP BY v.vec_id, c.cluster
    ),
    a{i} AS (
      SELECT vec_id, cluster FROM (
        SELECT vec_id, cluster,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY d2 ASC, cluster ASC) AS rn
        FROM d{i}
      ) WHERE rn = 1
    ),
    c{i} AS (
      SELECT p.cluster, p.d,
             coalesce(round(m.c * {s}.0) / {s}.0, p.c) AS c
      FROM c{i - 1} p
      LEFT JOIN (
        SELECT a.cluster, v.d, avg(v.x) AS c
        FROM a{i} a JOIN vx v USING (vec_id)
        GROUP BY a.cluster, v.d
      ) m ON m.cluster = p.cluster AND m.d = p.d
    )"""
        )
    parts.append(
        f"""dfin AS (
      SELECT v.vec_id, c.cluster,
             round(sum((v.x - c.c) * (v.x - c.c)) * {s}.0) / {s}.0 AS d2
      FROM vx v JOIN c{n_iters} c USING (d)
      GROUP BY v.vec_id, c.cluster
    ),
    afin AS (
      SELECT vec_id, cluster, d2 FROM (
        SELECT vec_id, cluster, d2,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY d2 ASC, cluster ASC) AS rn
        FROM dfin
      ) WHERE rn = 1
    )"""
    )
    return ",\n    ".join(parts)


@q(
    "embedding_kmeans_clusters",
    f"""
    WITH {_kmeans_oracle_ctes(5)}
    SELECT CAST(cluster AS INTEGER) AS cluster,
           CAST(count(*) AS BIGINT) AS n_vectors,
           round(sum(d2) * 100.0) / 100.0 AS inertia
    FROM afin GROUP BY cluster ORDER BY cluster
    """,
)
def embedding_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained k-means IVF: 5 Lloyd iterations over the embeddings
    (deterministic lowest-id init, centroids rounded per iteration),
    then per-cluster population and inertia. The loop moves only the
    k×d centroid table through the driver per iteration — assignment
    is a map-only stage against centroid literals, so the shape holds
    at any corpus size. The oracle unrolls the 5 iterations as
    chained CTEs (``_kmeans_oracle_ctes`` — the pagerank pattern):
    valid because kmeans_fit's early-stop fires only at a rounded
    fixpoint, where further updates are the identity. Blob-separation
    + determinism unit tests remain in tests/test_scale_patterns.py."""
    from ..operators.similarity import kmeans_fit

    # Natural scan layout, NOT _t_wide: each iteration is one numpy
    # matmul per partition, so at this row count worker fan-out costs
    # more than it buys; a real corpus arrives multi-partition anyway.
    emb = _t(spark, sf_dir, "embeddings")
    _, assigned = kmeans_fit(emb, "vec_id", "embedding", k=8, n_iters=5)
    return (
        assigned.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            (F.round((F.sum("_d2")) * 100.0) / 100.0).alias("inertia"),
        )
        .orderBy("cluster")
    )


@q(
    "embedding_norm_profile",
    """
    SELECT vec_id,
           CAST(len(embedding) AS INT) AS dim,
           round((sqrt(list_dot_product(embedding::DOUBLE[],
                                       embedding::DOUBLE[]))) * 100000.0) / 100000.0 AS l2_norm,
           CAST(len(list_filter(embedding, x -> x > 0)) AS INT) AS n_pos,
           round((list_max(list_transform(embedding::DOUBLE[],
                                         x -> abs(x)))) * 100000.0) / 100000.0 AS max_abs
    FROM embeddings WHERE vec_id < 50 ORDER BY vec_id
    """,
)
def embedding_norm_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions as first-class operators: transform
    / filter / aggregate / zip_with folds over the embedding column,
    entirely JVM-side (no UDF, no Python worker). This is the kernel
    vocabulary the similarity operators are built from, declared
    standalone so the oracle pins each fold's semantics."""
    emb = _t(spark, sf_dir, "embeddings")
    v = F.transform("embedding", lambda x: x.cast("double"))
    sq_sum = F.aggregate(
        F.zip_with(v, v, lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
    )
    return (
        emb.where(F.col("vec_id") < 50)
        .select(
            "vec_id",
            F.size("embedding").alias("dim"),
            (F.round((F.sqrt(sq_sum)) * 100000.0) / 100000.0).alias("l2_norm"),
            F.size(F.filter("embedding", lambda x: x > F.lit(0.0))).alias("n_pos"),
            (F.round((F.array_max(F.transform(v, F.abs))) * 100000.0) / 100000.0).alias("max_abs"),
        )
        .orderBy("vec_id")
    )


@q(
    "training_sample_assembly",
    f"""
    WITH j AS (
      SELECT d.doc_id, d.lang, d.source,
             CAST(len(string_split(d.text, ' ')) AS INT) AS n_tokens,
             round((sqrt(list_dot_product(e.embedding::DOUBLE[],
                                         e.embedding::DOUBLE[]))) * 100000.0) / 100000.0 AS l2_norm,
             {_SPLIT_BYTE} AS bucket
      FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
    )
    SELECT doc_id, lang, source, n_tokens, l2_norm FROM j
    WHERE bucket < 204 AND n_tokens BETWEEN 5 AND 2000
    ORDER BY doc_id
    """,
)
def training_sample_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capstone sample-prep query — the shape a training-data pipeline
    actually ships: text table ⋈ embedding table on document id, token
    count and vector norm as features, a length quality filter, and the
    deterministic md5 train-split membership — one pass, all JVM-side.
    The doc⋈embedding equi-join is THE recurring shuffle of sample
    assembly; at warehouse scale both tables bucket on the id
    (test_bucketed_join_avoids_shuffle proves the zero-Exchange
    layout), making this map-only end to end."""
    from ..operators.sampling import hash_split

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    v = F.transform("embedding", lambda x: x.cast("double"))
    sq_sum = F.aggregate(
        F.zip_with(v, v, lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
    )
    joined = docs.join(emb, docs.doc_id == emb.vec_id).select(
        docs.doc_id,
        "lang",
        "source",
        F.size(F.split("text", " ")).alias("n_tokens"),
        (F.round((F.sqrt(sq_sum)) * 100000.0) / 100000.0).alias("l2_norm"),
    )
    return (
        hash_split(joined, "doc_id")
        .where(F.col("split") == "train")
        .where(F.col("n_tokens").between(5, 2000))
        .drop("split")
        .orderBy("doc_id")
    )


@q(
    "embedding_ivf_topk",
    f"""
    WITH {_kmeans_oracle_ctes(3)},
    qv AS (SELECT vec_id AS query_id FROM embeddings ORDER BY vec_id ASC LIMIT 3),
    qx AS (SELECT q.query_id, v.d, v.x FROM qv q JOIN vx v ON v.vec_id = q.query_id),
    qnorm AS (SELECT query_id, sqrt(sum(x * x)) AS qn FROM qx GROUP BY query_id),
    cnorm AS (SELECT cluster, sqrt(sum(c * c)) AS cn FROM c3 GROUP BY cluster),
    route AS (
      SELECT query_id, cluster FROM (
        SELECT query_id, cluster,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY rsim DESC, cluster ASC) AS rn
        FROM (
          SELECT q.query_id, c.cluster,
                 CASE WHEN cn.cn * qn.qn > 0
                      THEN round((sum(q.x * c.c) / (cn.cn * qn.qn)) * 1000000.0)
                           / 1000000.0
                      ELSE -1.0 END AS rsim
          FROM qx q
          JOIN c3 c USING (d)
          JOIN cnorm cn ON cn.cluster = c.cluster
          JOIN qnorm qn ON qn.query_id = q.query_id
          GROUP BY q.query_id, c.cluster, cn.cn, qn.qn
        )
      ) WHERE rn <= 2
    ),
    vnorm AS (SELECT vec_id, sqrt(sum(x * x)) AS vn FROM vx GROUP BY vec_id),
    cand AS (
      SELECT r.query_id, a.vec_id
      FROM route r JOIN afin a ON a.cluster = r.cluster
    ),
    dots AS (
      SELECT c.query_id, c.vec_id, sum(v.x * q.x) AS dot
      FROM cand c
      JOIN vx v ON v.vec_id = c.vec_id
      JOIN qx q ON q.query_id = c.query_id AND q.d = v.d
      GROUP BY c.query_id, c.vec_id
    ),
    scored AS (
      SELECT d.query_id, d.vec_id,
             CASE WHEN vn.vn * qn.qn > 0
                  THEN round((d.dot / (vn.vn * qn.qn)) * 1000000.0) / 1000000.0
                  ELSE -1.0 END AS cos_sim
      FROM dots d
      JOIN vnorm vn USING (vec_id)
      JOIN qnorm qn USING (query_id)
    )
    SELECT query_id, vec_id, cos_sim, CAST(rank AS INTEGER) AS rank FROM (
      SELECT query_id, vec_id, cos_sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, vec_id ASC) AS rank
      FROM scored
    ) WHERE rank <= 5
    ORDER BY query_id ASC, rank ASC
    """,
)
def embedding_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN search path over the trained IVF index: route each query to
    its nprobe=2 nearest k-means cells, scan only those inverted lists,
    rank by rounded cosine with id tie-breaks. The oracle reuses the
    unrolled-Lloyd's CTE chain (``analytics._kmeans_oracle_ctes``, 3
    iterations to match) — with centroids pinned by those CTEs the
    nprobe routing and per-cell scan are plain SQL top-k. Exact-recall
    vs brute force on separated blobs stays pinned in
    tests/test_scale_patterns.py."""
    from ..operators.similarity import ivf_topk, kmeans_fit

    emb = _t(spark, sf_dir, "embeddings")
    centroids, assigned = kmeans_fit(emb, "vec_id", "embedding", k=8, n_iters=3)
    qrows = emb.orderBy("vec_id").limit(3).collect()
    queries = [(int(r["vec_id"]), list(r["embedding"])) for r in qrows]
    return ivf_topk(assigned, centroids, queries, "vec_id", k=5, nprobe=2).orderBy(
        "query_id", "rank"
    )


@q(
    "embedding_quantization_error",
    """
    WITH v AS (
      SELECT label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    scaled AS (
      SELECT label,
             list_max(list_transform(e, x -> abs(x))) / 127.0 AS scale,
             e
      FROM v
    ),
    err AS (
      SELECT label, scale,
             list_max(list_transform(
               e, x -> abs(x - round(x / scale) * scale))) AS max_err
      FROM scaled WHERE scale > 0
    )
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vectors,
           round((avg(scale)) * 1000000.0) / 1000000.0 AS avg_scale,
           round((avg(max_err)) * 1000000.0) / 1000000.0 AS avg_max_err,
           round((max(max_err)) * 1000000.0) / 1000000.0 AS worst_err
    FROM err GROUP BY label ORDER BY label
    """,
)
def embedding_quantization_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization round-trip error — the storage/serving
    compression every embedding store applies (4× smaller than fp32,
    ~2 decimal digits of error). Per-vector scale = max|x|/127;
    reconstruction error is computed entirely with in-row
    higher-order functions on doubles (transform → max fold) — a
    map-only pass with one label-bounded aggregate, no Python, no
    shuffle of vector payloads. Per-vector max is order-independent,
    so only the final avg carries fp-sum-order sensitivity (rounded)."""
    emb = _t(spark, sf_dir, "embeddings")
    e = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    scaled = emb.select(
        "label",
        (
            F.array_max(F.transform(e, lambda x: F.abs(x))) / F.lit(127.0)
        ).alias("scale"),
        e.alias("e"),
    ).where(F.col("scale") > 0)
    err = scaled.select(
        "label",
        "scale",
        F.array_max(
            F.transform(
                F.col("e"),
                lambda x: F.abs(
                    x - F.round(x / F.col("scale"), 0) * F.col("scale")
                ),
            )
        ).alias("max_err"),
    )
    return (
        err.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vectors"),
            (F.round((F.avg("scale")) * 1000000.0) / 1000000.0).alias("avg_scale"),
            (F.round((F.avg("max_err")) * 1000000.0) / 1000000.0).alias("avg_max_err"),
            (F.round((F.max("max_err")) * 1000000.0) / 1000000.0).alias("worst_err"),
        )
        .orderBy("label")
    )


@q(
    "embedding_silhouette_by_label",
    """
    WITH dims AS (
      SELECT vec_id, label, generate_subscripts(embedding, 1) AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS x
      FROM embeddings
    ),
    cent AS (
      SELECT label AS clabel, dim, avg(x) AS c FROM dims GROUP BY label, dim
    ),
    dist AS (
      SELECT d.vec_id, d.label, c.clabel,
             sqrt(sum((d.x - c.c) * (d.x - c.c))) AS dist
      FROM dims d JOIN cent c ON d.dim = c.dim
      GROUP BY d.vec_id, d.label, c.clabel
    ),
    ab AS (
      SELECT vec_id, label,
             min(CASE WHEN label = clabel THEN dist END) AS a,
             min(CASE WHEN label <> clabel THEN dist END) AS b
      FROM dist GROUP BY vec_id, label
    ),
    s AS (
      SELECT label,
             CASE WHEN greatest(a, b) > 0 THEN (b - a) / greatest(a, b)
                  ELSE 0 END AS s
      FROM ab
    )
    SELECT label, CAST(count(*) AS BIGINT) AS n_vectors,
           round(avg(s) * 10000) / 10000 AS silhouette
    FROM s GROUP BY label ORDER BY label
    """,
)
def embedding_silhouette_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified (centroid-based) silhouette per label: a = distance
    to the own-label centroid, b = distance to the nearest other
    centroid, s = (b−a)/max(a,b) — the standard O(n·k·d) surrogate for
    the O(n²·d) pairwise silhouette, and the go-to label-quality /
    cluster-separation score for an embedded corpus. The plan shape is
    scale-honest: centroids are a (k×d)-bounded aggregate; each point
    meets only the k centroids (dimension-keyed join + per-(point,
    centroid) reduce), never another point. Positive silhouette ⇒ the
    label is closer to its own centroid than to any other — a gate for
    'are these labels worth training on'."""
    emb = _t_wide(spark, sf_dir, "embeddings")
    dims = emb.select(
        "vec_id",
        "label",
        F.posexplode(F.transform("embedding", lambda v: v.cast("double"))).alias(
            "dim", "x"
        ),
    )
    cent = (
        dims.groupBy(F.col("label").alias("clabel"), "dim")
        .agg(F.avg("x").alias("c"))
    )
    dist = (
        dims.join(cent, "dim")
        .groupBy("vec_id", "label", "clabel")
        .agg(F.sqrt(F.sum((F.col("x") - F.col("c")) ** 2)).alias("dist"))
    )
    ab = dist.groupBy("vec_id", "label").agg(
        F.min(F.when(F.col("label") == F.col("clabel"), F.col("dist"))).alias("a"),
        F.min(F.when(F.col("label") != F.col("clabel"), F.col("dist"))).alias("b"),
    )
    s = ab.select(
        "label",
        F.when(
            F.greatest("a", "b") > 0,
            (F.col("b") - F.col("a")) / F.greatest("a", "b"),
        )
        .otherwise(F.lit(0.0))
        .alias("s"),
    )
    return (
        s.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vectors"),
            (F.round(F.avg("s") * 10000) / 10000).alias("silhouette"),
        )
        .orderBy("label")
    )


# dot product as a sequential left fold — the same iteration order as
# DuckDB's list_dot_product, so the sum is bit-identical across engines
def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


_ANN_RECALL_BUCKET = " || ".join(
    f"(CASE WHEN embedding[{i}] >= 0 THEN '1' ELSE '0' END)" for i in range(1, 7)
)


@q(
    "embedding_ann_recall",
    f"""
    WITH base AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
               AS nrm,
             {_ANN_RECALL_BUCKET} AS bucket
      FROM embeddings
    ),
    qv AS (SELECT * FROM base WHERE vec_id < 20),
    exact AS (
      SELECT qv.vec_id AS query_id, b.vec_id AS neighbor_id,
             row_number() OVER (
               PARTITION BY qv.vec_id
               ORDER BY round((list_dot_product(qv.v, b.v) / (qv.nrm * b.nrm))
                              * 100000.0) / 100000.0 DESC,
                        b.vec_id ASC) AS rn
      FROM qv JOIN base b ON b.vec_id <> qv.vec_id
    ),
    gt AS (SELECT query_id, neighbor_id FROM exact WHERE rn <= 10),
    annc AS (
      SELECT qv.vec_id AS query_id, b.vec_id AS neighbor_id,
             row_number() OVER (
               PARTITION BY qv.vec_id
               ORDER BY round((list_dot_product(qv.v, b.v) / (qv.nrm * b.nrm))
                              * 100000.0) / 100000.0 DESC,
                        b.vec_id ASC) AS rn
      FROM qv JOIN base b ON b.bucket = qv.bucket AND b.vec_id <> qv.vec_id
    ),
    ann AS (
      SELECT query_id, neighbor_id,
             CAST(count(*) OVER (PARTITION BY query_id) AS BIGINT) AS n_cand
      FROM annc WHERE rn <= 10
    )
    SELECT gt.query_id,
           CAST(max(coalesce(ann.n_cand, 0)) AS BIGINT) AS n_ann_results,
           CAST(sum(CASE WHEN ann.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hits,
           round(sum(CASE WHEN ann.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                 / 10.0 * 1000000.0) / 1000000.0 AS recall_at_10
    FROM gt LEFT JOIN ann
      ON ann.query_id = gt.query_id AND ann.neighbor_id = gt.neighbor_id
    GROUP BY gt.query_id ORDER BY gt.query_id
    """,
)
def embedding_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the 6-bit sign-LSH bucketed ANN against exact
    brute-force cosine ground truth, per query — the evaluation
    harness that must gate any ANN index before it replaces exact
    search (`embedding_ann_bucketed` gives the fast path; this entry
    measures what that speed costs in recall). Both rankings use the
    identical sequential-fold dot product (F.aggregate/zip_with here,
    list_dot_product in the oracle — same iteration order, so scores
    are bit-identical before the 1e-5 tie-round) and the same
    (rounded score, id) total order. Scale shape: queries broadcast
    onto the corpus for ground truth (query×corpus, the one
    deliberately-exact part — at 100 TB you'd sample queries), while
    the ANN side only probes same-bucket rows; the recall join is
    query-set-sized."""
    emb = _t(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    bucket = F.concat(
        *[
            F.when(F.get(F.col("embedding"), i) >= 0, "1").otherwise("0")
            for i in range(6)
        ]
    )
    base = emb.select(
        "vec_id",
        v.alias("v"),
        F.sqrt(_dot(v, v)).alias("nrm"),
        bucket.alias("bucket"),
    )
    qv = base.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"),
        F.col("bucket").alias("qbucket"),
    )
    cos = (
        F.round(
            _dot(F.col("qv"), F.col("v")) / (F.col("qnrm") * F.col("nrm"))
            * 100000.0
        )
        / 100000.0
    )
    # r10 optimization (guide §2.4/§4.1): the exact and ANN rankings
    # used to be two separate broadcast joins, each paying the
    # interpreted `_dot` fold over every (query x corpus) pair, each
    # with its own window shuffle+sort on query_id. The ANN candidate
    # set is the bucket-matched SUBSET of the exact pair set under the
    # SAME (cos DESC, vec_id ASC) total order, so its row_number
    # equals a running count of bucket-matched rows in the global
    # ranking — one scored join, one exchange, one sort, one fold
    # pass; both ranks read off the same WindowExec. (vec_id is unique
    # per query partition, so the order is total and the running count
    # over matched rows is exactly the subset's row_number.)
    scored = base.join(
        F.broadcast(qv), F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id",
        "vec_id",
        cos.alias("_cos"),
        (F.col("bucket") == F.col("qbucket")).alias("_m"),
    )
    rank_w = W.partitionBy("query_id").orderBy(
        F.col("_cos").desc(), F.asc("vec_id")
    )
    ranked = scored.select(
        "query_id",
        "vec_id",
        "_m",
        F.row_number().over(rank_w).alias("rn"),
        F.sum(F.when(F.col("_m"), 1).otherwise(0))
        .over(rank_w.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("rn_ann"),
    )
    # r11 optimization (guide §2.4; closes VERDICT r10 item 1): the
    # r10 readout split `ranked` into exact/ann frames and LEFT-joined
    # them back — and because both sides derive from the same lineage,
    # the planner kept TWO full scored-join+window subtrees (see
    # plans/r11/embedding_ann_recall_before.txt). The recall numbers
    # are all per-query counts over the SAME ranked rows:
    #   n_hits        = Σ(rn<=10 ∧ matched ∧ rn_ann<=10)  (top-10 ∩ ANN-10)
    #   ann_count     = Σ(matched ∧ rn_ann<=10)           (= min(|matched|,10))
    #   n_ann_results = any hit ? ann_count : 0  (oracle: max(coalesce)
    #                   over gt rows is n_cand iff >=1 exact row joins)
    # so ONE conditional groupBy replaces the self-join: one scored
    # join, one window, one aggregate — no duplicated subtree. Every
    # query with >=1 scored row has rn=1, so the group set matches gt.
    in_ann10 = F.col("_m") & (F.col("rn_ann") <= 10)
    hits = F.sum(F.when((F.col("rn") <= 10) & in_ann10, 1).otherwise(0))
    ann_count = F.sum(F.when(in_ann10, 1).otherwise(0))
    return (
        ranked.groupBy("query_id")
        .agg(
            F.when(hits > 0, ann_count)
            .otherwise(F.lit(0))
            .cast("long")
            .alias("n_ann_results"),
            hits.cast("long").alias("n_hits"),
            (F.round(hits / 10.0 * 1000000.0) / 1000000.0).alias(
                "recall_at_10"
            ),
        )
        .orderBy("query_id")
    )


@q(
    "embedding_matryoshka_truncation",
    """
    WITH f AS (
      SELECT label,
             list_reduce(list_transform(embedding[1:8]::DOUBLE[], x -> x * x),
                         (a, b) -> a + b)
             / list_reduce(list_transform(embedding::DOUBLE[], x -> x * x),
                           (a, b) -> a + b) AS frac8,
             list_reduce(list_transform(embedding[1:16]::DOUBLE[], x -> x * x),
                         (a, b) -> a + b)
             / list_reduce(list_transform(embedding::DOUBLE[], x -> x * x),
                           (a, b) -> a + b) AS frac16
      FROM embeddings
    )
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           round(avg(frac8) * 10000.0) / 10000.0 AS energy_frac_8,
           round(avg(frac16) * 10000.0) / 10000.0 AS energy_frac_16
    FROM f GROUP BY label ORDER BY label
    """,
)
def embedding_matryoshka_truncation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style truncation audit: the fraction of each
    vector's squared norm retained by its first 8 and 16 of 64 dims,
    averaged per label — the measurement that decides whether serving
    can use a truncated prefix (MRL) instead of the full embedding.
    Per-vector fractions fold IN-ROW in one defined order
    (``F.aggregate`` ↔ DuckDB ``list_reduce``, both left folds —
    CLAUDE.md's float-determinism rule; the 0.0 seed is exact so both
    engines produce identical doubles), entirely JVM-side. Map-only
    until the |labels|-row aggregate."""
    emb = _t(spark, sf_dir, "embeddings")
    v = F.transform("embedding", lambda x: x.cast("double"))

    def sumsq(col):
        return F.aggregate(col, F.lit(0.0), lambda acc, x: acc + x * x)

    full = sumsq(v)
    f = emb.select(
        "label",
        (sumsq(F.slice(v, 1, 8)) / full).alias("frac8"),
        (sumsq(F.slice(v, 1, 16)) / full).alias("frac16"),
    )
    return (
        f.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            (F.round(F.avg("frac8") * 10000.0) / 10000.0).alias("energy_frac_8"),
            (F.round(F.avg("frac16") * 10000.0) / 10000.0).alias(
                "energy_frac_16"
            ),
        )
        .orderBy("label")
    )


# Declared RRF shortlist depth: each retriever contributes its top-K
# candidates ONLY (K identical in the Spark plan and the DuckDB oracle,
# per the oracle-truncation rule — both engines cap, so the contract
# holds at any corpus size). K < the 500-doc sf0.001 corpus, so the
# truncation path is exercised at EVERY test scale, not just in prod.
_RRF_K = 300


@q(
    "hybrid_rrf_search",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    tf AS (
      SELECT doc_id, token, CAST(count(*) AS DOUBLE) AS tf
      FROM toks GROUP BY doc_id, token
    ),
    dl AS (SELECT doc_id, CAST(sum(tf) AS DOUBLE) AS dl FROM tf GROUP BY doc_id),
    stats AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM dl),
    df AS (SELECT token, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY token),
    qterms AS (SELECT token, df FROM df ORDER BY df DESC, token ASC LIMIT 3),
    bm AS (
      SELECT tf.doc_id,
             round(sum(ln(1.0 + (s.n - q.df + 0.5) / (q.df + 0.5))
                 * tf.tf * 2.2
                 / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl)))
                 * 1000000.0) / 1000000.0 AS bm25
      FROM tf
      JOIN qterms q ON q.token = tf.token
      JOIN dl ON dl.doc_id = tf.doc_id
      CROSS JOIN stats s
      GROUP BY tf.doc_id
    ),
    bm_top AS (
      SELECT doc_id, bm25 FROM bm
      ORDER BY bm25 DESC, doc_id ASC LIMIT {_RRF_K}
    ),
    bmr AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS r_bm25
      FROM bm_top
    ),
    base AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
               AS nrm
      FROM embeddings
    ),
    qv AS (SELECT * FROM base WHERE vec_id = 0),
    cs AS (
      SELECT b.vec_id AS doc_id,
             round((list_dot_product(qv.v, b.v) / (qv.nrm * b.nrm))
                   * 100000.0) / 100000.0 AS cos_sim
      FROM base b, qv WHERE b.vec_id <> 0
    ),
    cs_top AS (
      SELECT doc_id, cos_sim FROM cs
      ORDER BY cos_sim DESC, doc_id ASC LIMIT {_RRF_K}
    ),
    csr AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY cos_sim DESC, doc_id ASC) AS r_cos
      FROM cs_top
    ),
    fused AS (
      SELECT coalesce(bmr.doc_id, csr.doc_id) AS doc_id,
             coalesce(1.0 / (60 + bmr.r_bm25), 0.0)
             + coalesce(1.0 / (60 + csr.r_cos), 0.0) AS rrf,
             coalesce(bmr.r_bm25, 0) AS r_bm25,
             coalesce(csr.r_cos, 0) AS r_cos
      FROM bmr FULL OUTER JOIN csr ON csr.doc_id = bmr.doc_id
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(r_bm25 AS BIGINT) AS r_bm25,
           CAST(r_cos AS BIGINT) AS r_cos,
           round(rrf * 1000000.0) / 1000000.0 AS rrf
    FROM fused
    ORDER BY round(rrf * 1000000.0) / 1000000.0 DESC, doc_id ASC
    LIMIT 20
    """,
)
def hybrid_rrf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion (k=60): the BM25
    lexical ranking (3 highest-df query terms, as `doc_bm25_search`)
    and the dense cosine ranking against query vector 0 (as
    `embedding_cosine_topk`'s scorer) fuse by 1/(60+rank) — the
    standard way RAG stacks combine sparse and dense retrievers
    without score calibration, since RRF only consumes RANKS.

    DECLARED CONTRACT: each retriever contributes its top-K=_RRF_K
    shortlist only (rank 0 = "outside that retriever's shortlist",
    contribution 0) — the production RRF shape, where fusion consumes
    finite posting-list / ANN results, never a full corpus ranking.
    The cap is identical in the DuckDB oracle, so the hash contract
    holds at every corpus size (oracle-truncation rule). Both ranks
    are row_numbers over (rounded score, id) total orders, so fp
    noise can't permute them or the cutoff; the fusion sum is exact
    rational arithmetic in doubles.

    Scale shape (VERDICT r4 item 3 — the former corpus-wide
    single-partition ranks are gone): each shortlist materializes via
    TakeOrderedAndProject (per-partition top-K, driver merge of K·P
    rows) / the ANN scorer's partitioned top-k window; the only
    unpartitioned windows left rank WITHIN the K-row shortlists —
    constant-bounded frames, same class as the PQ/ADC shortlist
    ranks. The fusion join is 2·K rows, trivially broadcast."""
    from ..operators.similarity import cosine_topk

    docs = _t_wide(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", r"\Q \E")).alias("token")
    )
    tf = toks.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).cast("double").alias("tf")
    )
    dl = tf.groupBy("doc_id").agg(F.sum("tf").cast("double").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("dl").alias("avgdl"),
    )
    dfreq = tf.groupBy("token").agg(
        F.count(F.lit(1)).cast("double").alias("df")
    )
    qterms = dfreq.orderBy(F.desc("df"), F.asc("token")).limit(3)
    idf = F.log(1.0 + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    term_score = idf * F.col("tf") * 2.2 / (
        F.col("tf") + 1.2 * (0.25 + 0.75 * F.col("dl") / F.col("avgdl"))
    )
    bm = (
        tf.join(F.broadcast(qterms), "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            (F.round(F.sum(term_score) * 1000000.0) / 1000000.0).alias("bm25")
        )
    )
    # top-K shortlist via TakeOrderedAndProject, THEN rank within the
    # K-row frame — the unpartitioned window sees ≤ _RRF_K rows
    bm_top = bm.orderBy(F.desc("bm25"), F.asc("doc_id")).limit(_RRF_K)
    bmr = bm_top.select(
        "doc_id",
        F.row_number()
        .over(W.partitionBy().orderBy(F.desc("bm25"), F.asc("doc_id")))
        .alias("r_bm25"),
    )
    emb = _t_wide(spark, sf_dir, "embeddings")
    # finite k is part of the DECLARED contract (mirrored in the
    # oracle's cs_top LIMIT) — not a silent cap: the r2 k=600 bug was
    # an UNDECLARED cap the oracle didn't share.
    cs = cosine_topk(
        emb,
        "vec_id",
        "embedding",
        query_filter=F.col("vec_id") == 0,
        k=_RRF_K,
    ).select(F.col("neighbor_id").alias("doc_id"), "cos_sim")
    csr = cs.select(
        "doc_id",
        F.row_number()
        .over(W.partitionBy().orderBy(F.desc("cos_sim"), F.asc("doc_id")))
        .alias("r_cos"),
    )
    fused = bmr.join(csr, "doc_id", "full_outer").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.coalesce(F.col("r_bm25"), F.lit(0)).cast("long").alias("r_bm25"),
        F.coalesce(F.col("r_cos"), F.lit(0)).cast("long").alias("r_cos"),
        (
            F.coalesce(1.0 / (60 + F.col("r_bm25")), F.lit(0.0))
            + F.coalesce(1.0 / (60 + F.col("r_cos")), F.lit(0.0))
        ).alias("rrf_raw"),
    )
    rrf = F.round(F.col("rrf_raw") * 1000000.0) / 1000000.0
    return (
        fused.orderBy(rrf.desc(), F.asc("doc_id"))
        .limit(20)
        .select("doc_id", "r_bm25", "r_cos", rrf.alias("rrf"))
    )


@q(
    "embedding_dimension_profile",
    """
    WITH x AS (
      SELECT generate_subscripts(embedding, 1) - 1 AS dim,
             CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000.0)
                  AS BIGINT) AS q
      FROM embeddings
    ),
    s AS (
      SELECT dim,
             CAST(count(*) AS BIGINT) AS n_vecs,
             CAST(sum(q) AS BIGINT) AS sq,
             CAST(sum(q * q) AS BIGINT) AS sqq,
             CAST(min(q) AS BIGINT) AS mn,
             CAST(max(q) AS BIGINT) AS mx
      FROM x GROUP BY dim
    )
    SELECT CAST(dim AS BIGINT) AS dim, n_vecs,
           round(sq * 10000.0 / n_vecs / 1000000.0) / 10000.0 AS mean_v,
           round(sqrt(greatest((CAST(sqq AS DOUBLE)
                                - CAST(sq AS DOUBLE) * sq / n_vecs)
                               / n_vecs, 0.0))
                 / 1000000.0 * 10000.0) / 10000.0 AS sd_v,
           round(mn * 10000.0 / 1000000.0) / 10000.0 AS min_v,
           round(mx * 10000.0 / 1000000.0) / 10000.0 AS max_v
    FROM s ORDER BY dim
    """,
)
def embedding_dimension_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-DIMENSION embedding health profile: mean / sd / min / max
    of every coordinate across the corpus — the monitor that catches
    dead dimensions (sd ≈ 0), scale drift between encoder versions,
    and clipped coordinates, none of which the per-vector
    `embedding_norm_profile` can see. Determinism engineering: floats
    are 1e-6-quantized IN-ROW to exact integers before any cross-row
    aggregation, so sums and sum-of-squares are exact (Σq² ≈
    4e10·rows — BIGINT-safe past 10⁶× this corpus) and the
    mean/sd derive from exact integers through identical fp ops on
    both engines. Plan: posexplode fan-out (rows × 64 — in-row), then
    ONE map-side-combinable aggregate to a |dims|-row frame; at
    100 TB this is a single pass with a 64-row shuffle."""
    emb = _t_wide(spark, sf_dir, "embeddings")
    x = emb.select(
        F.posexplode(
            F.transform(
                "embedding",
                lambda v: F.round(v.cast("double") * 1000000.0).cast("long"),
            )
        ).alias("dim", "q")
    )
    s = x.groupBy("dim").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.sum("q").cast("long").alias("sq"),
        F.sum(F.col("q") * F.col("q")).cast("long").alias("sqq"),
        F.min("q").cast("long").alias("mn"),
        F.max("q").cast("long").alias("mx"),
    )
    # the greatest(…, 0) clamp is load-bearing: sq² exceeds 2^53 for a
    # near-constant dimension, and fp cancellation can leave the true-
    # zero variance a hair NEGATIVE — DuckDB's sqrt throws on that
    # while Spark returns NaN, so without a symmetric clamp the gate
    # crashes exactly on the dead dimensions this entry exists to find.
    sd = F.sqrt(
        F.greatest(
            (
                F.col("sqq").cast("double")
                - F.col("sq").cast("double") * F.col("sq") / F.col("n_vecs")
            )
            / F.col("n_vecs"),
            F.lit(0.0),
        )
    )
    return s.select(
        F.col("dim").cast("long").alias("dim"),
        "n_vecs",
        (F.round(F.col("sq") * 10000.0 / F.col("n_vecs") / 1000000.0) / 10000.0).alias(
            "mean_v"
        ),
        (F.round(sd / 1000000.0 * 10000.0) / 10000.0).alias("sd_v"),
        (F.round(F.col("mn") * 10000.0 / 1000000.0) / 10000.0).alias("min_v"),
        (F.round(F.col("mx") * 10000.0 / 1000000.0) / 10000.0).alias("max_v"),
    ).orderBy("dim")


_SEM_EMB_BASE = """
    base AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      FROM embeddings
    )
"""

# Within-cluster duplicate pairs under the final (5-iteration) centroids;
# threshold on the ROUNDED cosine, mirroring similarity._safe_cos.
_SEM_PAIRS = f"""
    {_SEM_EMB_BASE},
    sempairs AS (
      SELECT * FROM (
        SELECT a.cluster, a.vec_id AS id_a, b.vec_id AS id_b,
               round(list_dot_product(x.v, y.v) / (x.nrm * y.nrm)
                     * 100000.0) / 100000.0 AS cos_sim
        FROM afin a
        JOIN afin b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        JOIN base x ON x.vec_id = a.vec_id
        JOIN base y ON y.vec_id = b.vec_id
      ) WHERE cos_sim >= 0.35
    )
"""


@q(
    "embedding_semantic_dup_pairs",
    f"""
    WITH {_kmeans_oracle_ctes(5)},
    {_SEM_PAIRS}
    SELECT CAST(cluster AS INTEGER) AS cluster, id_a, id_b, cos_sim
    FROM sempairs ORDER BY id_a, id_b
    """,
)
def embedding_semantic_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup candidate structure (Abbas et al. 2023): k-means the
    embeddings (5 fixed Lloyd iterations, deterministic init — the
    same model the kmeans/IVF entries pin), then enumerate cosine
    pairs >= 0.35 ONLY within each cluster. The cluster key bounds the
    pair work to Σ cluster_size² — with k grown ∝ corpus size this is
    the shape that makes embedding-space dedup feasible at 100 TB,
    where an unclustered pair join is corpus². One shuffle on the
    cluster key; each cluster scores as a single local BLAS gram
    matrix (operators/similarity.py::clustered_similar_pairs)."""
    from ..operators.similarity import clustered_similar_pairs, kmeans_fit

    emb = _t(spark, sf_dir, "embeddings")
    _, assigned = kmeans_fit(emb, "vec_id", "embedding", k=8, n_iters=5)
    return clustered_similar_pairs(
        assigned, "vec_id", threshold=0.35
    ).orderBy("id_a", "id_b")


@q(
    "embedding_semantic_dedup_survivors",
    f"""
    WITH RECURSIVE {_kmeans_oracle_ctes(5)},
    {_SEM_PAIRS},
    edges AS (
      SELECT id_a AS u, id_b AS v FROM sempairs
      UNION ALL
      SELECT id_b AS u, id_a AS v FROM sempairs
    ),
    nodes AS (SELECT DISTINCT u AS node FROM edges),
    reach AS (
      SELECT node, node AS lbl FROM nodes
      UNION
      SELECT e.v AS node, r.lbl FROM reach r JOIN edges e ON e.u = r.node
    ),
    lab AS (SELECT node, min(lbl) AS comp FROM reach GROUP BY node),
    cvec AS (SELECT cluster, list(c ORDER BY d) AS cv FROM c5 GROUP BY cluster),
    dup AS (
      SELECT l.node, l.comp, a.cluster AS kcluster,
             round(list_dot_product(b.v, cv.cv)
                   / (b.nrm * sqrt(list_dot_product(cv.cv, cv.cv)))
                   * 100000.0) / 100000.0 AS cos2c
      FROM lab l
      JOIN afin a ON a.vec_id = l.node
      JOIN base b ON b.vec_id = l.node
      JOIN cvec cv ON cv.cluster = a.cluster
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY comp
                                   ORDER BY cos2c ASC, node ASC) AS rn
      FROM dup
    ),
    vc AS (SELECT cluster, CAST(count(*) AS BIGINT) AS n_vectors
           FROM afin GROUP BY cluster),
    pc AS (SELECT cluster, CAST(count(*) AS BIGINT) AS dup_pairs
           FROM sempairs GROUP BY cluster),
    gc AS (SELECT kcluster AS cluster,
                  CAST(count(DISTINCT comp) AS BIGINT) AS dup_groups
           FROM dup GROUP BY kcluster),
    rc AS (SELECT kcluster AS cluster,
                  CAST(count(*) AS BIGINT) AS n_removed,
                  CAST(sum(node) AS BIGINT) AS removed_id_sum
           FROM ranked WHERE rn > 1 GROUP BY kcluster)
    SELECT CAST(vc.cluster AS INTEGER) AS cluster, vc.n_vectors,
           CAST(coalesce(pc.dup_pairs, 0) AS BIGINT) AS dup_pairs,
           CAST(coalesce(gc.dup_groups, 0) AS BIGINT) AS dup_groups,
           CAST(coalesce(rc.n_removed, 0) AS BIGINT) AS n_removed,
           CAST(coalesce(rc.removed_id_sum, 0) AS BIGINT) AS removed_id_sum
    FROM vc
    LEFT JOIN pc ON pc.cluster = vc.cluster
    LEFT JOIN gc ON gc.cluster = vc.cluster
    LEFT JOIN rc ON rc.cluster = vc.cluster
    ORDER BY cluster
    """,
)
def embedding_semantic_dedup_survivors(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Full SemDeDup pass: within-cluster duplicate pairs → connected
    components (transitive duplicate GROUPS) → keep the one member per
    group with the LOWEST cosine to its cluster centroid (the paper's
    diversity-maximizing survivor rule; ties break on vec_id), report
    per-cluster removal stats with a removed-id checksum. Components
    come from operators/graph.py::connected_components (driver
    union-find at this metadata scale — dup pairs ≪ corpus — with the
    distributed two-phase escalation behind it); the oracle closes the
    same graph with a recursive CTE. cos-to-centroid is a map-only
    Arrow kernel against the k×d centroid closure — no join."""
    from ..operators.graph import connected_components
    from ..operators.similarity import (
        clustered_similar_pairs,
        cos_to_centroid,
        kmeans_fit,
    )

    emb = _t(spark, sf_dir, "embeddings")
    centroids, assigned = kmeans_fit(emb, "vec_id", "embedding", k=8, n_iters=5)
    # Three consumers (pair gram, cos2c map, per-cluster counts) —
    # persist + eager count per the shingle-frame convention so AQE
    # doesn't race three rebuilds of the assignment UDF stage.
    assigned = assigned.persist()
    assigned.count()
    pairs = clustered_similar_pairs(assigned, "vec_id", threshold=0.35).persist()
    pairs.count()
    comp = connected_components(pairs, "id_a", "id_b").select(
        "node", F.col("cluster").alias("comp")
    )
    c2 = cos_to_centroid(assigned, centroids).select(
        "vec_id", F.col("cluster").alias("kcluster"), "cos2c"
    )
    dup = comp.join(c2, comp["node"] == c2["vec_id"]).select(
        "node", "comp", "kcluster", "cos2c"
    )
    ranked = dup.withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("comp").orderBy(F.asc("cos2c"), F.asc("node"))
        ),
    )
    vc = assigned.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors")
    )
    pc = pairs.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("long").alias("dup_pairs")
    )
    gc = dup.groupBy(F.col("kcluster").alias("cluster")).agg(
        F.countDistinct("comp").cast("long").alias("dup_groups")
    )
    rc = (
        ranked.where(F.col("rn") > 1)
        .groupBy(F.col("kcluster").alias("cluster"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_removed"),
            F.sum("node").cast("long").alias("removed_id_sum"),
        )
    )
    zero = F.lit(0).cast("long")
    return (
        vc.join(pc, "cluster", "left")
        .join(gc, "cluster", "left")
        .join(rc, "cluster", "left")
        .select(
            "cluster",
            "n_vectors",
            F.coalesce("dup_pairs", zero).alias("dup_pairs"),
            F.coalesce("dup_groups", zero).alias("dup_groups"),
            F.coalesce("n_removed", zero).alias("n_removed"),
            F.coalesce("removed_id_sum", zero).alias("removed_id_sum"),
        )
        .orderBy("cluster")
    )


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


_M = 4  # subspaces
_DSUB = 16  # dims per subspace (64 / 4)
_PQ_K = 4  # codes per subspace
_PQ_ITERS = 2
_RT = 6  # d2 / centroid quantization decimals (the kmeans contract)
_TOPK = 10


def _adc_table(
    qvec: list[float], codebooks: list[list[list[float]]], round_to: int = _RT
) -> list[list[float]]:
    """m×k ADC table: subspace-j squared distance from the query to
    each code centroid, folded left-to-right over the dsub dims (the
    oracle's sum() re-associates, so quantize at the shared 1e-6 grid
    — the same contract the codebooks themselves ride)."""
    from ..operators.similarity import _round_half_away_scalar

    dsub = len(codebooks[0][0])
    table: list[list[float]] = []
    for j, cb in enumerate(codebooks):
        row = []
        for cvec in cb:
            acc = 0.0
            for d in range(dsub):
                diff = qvec[j * dsub + d] - cvec[d]
                acc += diff * diff
            row.append(_round_half_away_scalar(acc, round_to))
        table.append(row)
    return table


def _adc_col(table: list[list[float]]):
    """Left-to-right sum of the per-subspace table lookups over a
    ``codes`` array column — spelled identically to the oracle's
    ``q0.t + q1.t + …`` so the unrounded doubles match bitwise."""
    t_lits = [F.array(*[F.lit(v) for v in row]) for row in table]
    col = F.element_at(t_lits[0], F.col("codes")[0] + 1)
    for j in range(1, len(table)):
        col = col + F.element_at(t_lits[j], F.col("codes")[j] + 1)
    return col


def _pq_subspace_ctes(j: int, *, k: int, n_iters: int, round_to: int) -> str:
    """Unrolled Lloyd chain for subspace ``j`` over the sliced list
    ``embedding[lo:hi]`` — a parametrized twin of
    ``analytics._kmeans_oracle_ctes`` (same quantized-d2 argmin,
    lowest-cluster tie-break, per-iteration rounded means, empty
    clusters keeping the previous centroid, and the rounded-fixpoint
    early-stop argument). Emits ``vx{j}`` … ``afin{j}`` and the final
    centroid CTE ``c{j}_{n_iters}``; the shared ``seedq`` CTE (lowest-k
    vec_ids) must already be in scope."""
    s = 10**round_to
    lo, hi = j * _DSUB + 1, (j + 1) * _DSUB
    parts = [
        f"""vx{j} AS (
      SELECT vec_id, generate_subscripts(embedding[{lo}:{hi}], 1) AS d,
             CAST(unnest(embedding[{lo}:{hi}]) AS DOUBLE) AS x
      FROM embeddings
    ),
    c{j}_0 AS (
      SELECT sq.cluster, v.d, round(v.x * {s}.0) / {s}.0 AS c
      FROM seedq sq JOIN vx{j} v USING (vec_id)
    )"""
    ]
    for i in range(1, n_iters + 1):
        parts.append(
            f"""d{j}_{i} AS (
      SELECT v.vec_id, c.cluster,
             round(sum((v.x - c.c) * (v.x - c.c)) * {s}.0) / {s}.0 AS d2
      FROM vx{j} v JOIN c{j}_{i - 1} c USING (d)
      GROUP BY v.vec_id, c.cluster
    ),
    a{j}_{i} AS (
      SELECT vec_id, cluster FROM (
        SELECT vec_id, cluster,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY d2 ASC, cluster ASC) AS rn
        FROM d{j}_{i}
      ) WHERE rn = 1
    ),
    c{j}_{i} AS (
      SELECT p.cluster, p.d,
             coalesce(round(m.c * {s}.0) / {s}.0, p.c) AS c
      FROM c{j}_{i - 1} p
      LEFT JOIN (
        SELECT a.cluster, v.d, avg(v.x) AS c
        FROM a{j}_{i} a JOIN vx{j} v USING (vec_id)
        GROUP BY a.cluster, v.d
      ) m ON m.cluster = p.cluster AND m.d = p.d
    )"""
        )
    parts.append(
        f"""dfin{j} AS (
      SELECT v.vec_id, c.cluster,
             round(sum((v.x - c.c) * (v.x - c.c)) * {s}.0) / {s}.0 AS d2
      FROM vx{j} v JOIN c{j}_{n_iters} c USING (d)
      GROUP BY v.vec_id, c.cluster
    ),
    afin{j} AS (
      SELECT vec_id, cluster FROM (
        SELECT vec_id, cluster,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY d2 ASC, cluster ASC) AS rn
        FROM dfin{j}
      ) WHERE rn = 1
    ),
    qt{j} AS (
      SELECT c.cluster,
             round(sum((qx.x - c.c) * (qx.x - c.c)) * {s}.0) / {s}.0 AS t
      FROM vx{j} qx
      JOIN qv ON qx.vec_id = qv.qid
      JOIN c{j}_{n_iters} c USING (d)
      GROUP BY c.cluster
    )"""
    )
    return ",\n    ".join(parts)


_PQ_CTES = ",\n    ".join(
    [
        f"""seedq AS (
      SELECT vec_id, row_number() OVER (ORDER BY vec_id ASC) - 1 AS cluster
      FROM embeddings ORDER BY vec_id ASC LIMIT {_PQ_K}
    ),
    qv AS (SELECT min(vec_id) AS qid FROM embeddings)"""
    ]
    + [
        _pq_subspace_ctes(j, k=_PQ_K, n_iters=_PQ_ITERS, round_to=_RT)
        for j in range(_M)
    ]
)


@q(
    "embedding_pq_adc_topk",
    f"""
    WITH {_PQ_CTES},
    adc AS (
      SELECT a0.vec_id,
             q0.t + q1.t + q2.t + q3.t AS adc
      FROM afin0 a0
      JOIN afin1 a1 USING (vec_id)
      JOIN afin2 a2 USING (vec_id)
      JOIN afin3 a3 USING (vec_id)
      JOIN qt0 q0 ON q0.cluster = a0.cluster
      JOIN qt1 q1 ON q1.cluster = a1.cluster
      JOIN qt2 q2 ON q2.cluster = a2.cluster
      JOIN qt3 q3 ON q3.cluster = a3.cluster
    ),
    topk AS (
      SELECT vec_id, adc,
             row_number() OVER (ORDER BY adc ASC, vec_id ASC) AS rank
      FROM adc
    )
    SELECT t.rank AS rank, t.vec_id,
           round(t.adc * 1000000.0) / 1000000.0 AS adc_d2,
           round(list_reduce(
             list_transform(range(1, 65),
               i -> (CAST(e.embedding[i] AS DOUBLE)
                     - CAST(qe.embedding[i] AS DOUBLE))
                    * (CAST(e.embedding[i] AS DOUBLE)
                       - CAST(qe.embedding[i] AS DOUBLE))),
             (a, b) -> a + b) * 1000000.0) / 1000000.0 AS exact_d2
    FROM topk t
    JOIN embeddings e ON e.vec_id = t.vec_id
    CROSS JOIN (
      SELECT e2.embedding FROM embeddings e2 JOIN qv ON e2.vec_id = qv.qid
    ) qe
    WHERE t.rank <= {_TOPK}
    ORDER BY t.rank
    """,
)
def embedding_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ's compression half, end-to-end: train {_M}×{_PQ_K}
    subspace codebooks (2 Lloyd iterations each, the deterministic
    ``kmeans_fit`` contract), PQ-encode the corpus (64 floats → 4
    codes, one map-only Arrow pass), then answer the lowest-vec_id
    query by ADC — its m×k subspace-distance table is built ONCE on
    the driver and each candidate costs m integer lookups summed, the
    raw vectors never rescanned. Top-{_TOPK} by (adc ASC, vec_id ASC)
    with the exact squared L2 alongside (the re-ranking truth,
    computed only for the shortlist).

    100 TB shape: codebooks/table are O(m·k·d) closure state; encode
    and ADC are map-only corpus scans over the CODES column (16× to
    64× smaller than raw vectors); exact math touches top-k rows.

    DETERMINISM: codes ride the quantized-d2 argmin contract
    (``_assign_to_centroids``/ADVICE r3 — residual kmeans-class
    boundary risk, documented in COVERAGE.md); the ADC sum folds the
    SAME quantized table values in the SAME left-to-right order on
    both engines (bitwise-identical doubles), and exact_d2 folds
    in-row (`F.aggregate` ↔ `list_reduce`, both left folds), so rank
    and both display columns agree given code agreement."""
    from ..operators.similarity import as_double, pq_encode, pq_fit

    emb = _t(spark, sf_dir, "embeddings")
    codebooks = pq_fit(
        emb, "vec_id", "embedding", m=_M, k=_PQ_K, n_iters=_PQ_ITERS,
        round_to=_RT,
    )
    encoded = pq_encode(
        emb, "vec_id", "embedding", codebooks, round_to=_RT
    )

    qrow = (
        emb.select("vec_id", as_double(F.col("embedding")).alias("_v"))
        .orderBy("vec_id")
        .limit(1)
        .collect()[0]
    )
    qvec = [float(x) for x in qrow["_v"]]
    adc_col = _adc_col(_adc_table(qvec, codebooks))
    qlit = F.array(*[F.lit(x) for x in qvec])
    # orderBy + limit plans as TakeOrderedAndProject (per-partition
    # top-k + driver merge, no global sort); the rank window then runs
    # over the 10 surviving rows only.
    topk = (
        encoded.select("vec_id", adc_col.alias("adc"))
        .orderBy(F.asc("adc"), F.asc("vec_id"))
        .limit(_TOPK)
        .withColumn(
            "rank",
            F.row_number().over(Window.orderBy(F.asc("adc"), F.asc("vec_id"))),
        )
    )
    exact_d2 = F.aggregate(
        F.zip_with(
            as_double(F.col("embedding")),
            qlit,
            lambda a, b: (a - b) * (a - b),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        topk.join(emb.select("vec_id", "embedding"), "vec_id")
        .select(
            "rank",
            "vec_id",
            (F.round(F.col("adc") * 1000000.0) / 1000000.0).alias("adc_d2"),
            (F.round(exact_d2 * 1000000.0) / 1000000.0).alias("exact_d2"),
        )
        .orderBy("rank")
    )


_COARSE_K = 4  # coarse cells (seedq's LIMIT is shared with PQ's k)
_COARSE_ITERS = 2
_IVFPQ_PQ_ITERS = 1  # one Lloyd step per subspace bounds the job count
_NPROBE = 2
_K_OUT = 5


def _coarse_ctes(*, k: int, n_iters: int, round_to: int) -> str:
    """Unrolled coarse-quantizer Lloyd chain over the FULL embedding
    (``g`` prefix; same quantized-d2 argmin / rounded-means /
    empty-cluster-keeps-previous contract as ``_kmeans_oracle_ctes``),
    ending with ``gafin`` (vec_id → coarse cell), ``gqt`` (query →
    cell distance, quantized) and ``gprobe`` (the nprobe nearest
    cells, (t ASC, cluster ASC))."""
    s = 10**round_to
    parts = [
        f"""gx AS (
      SELECT vec_id, generate_subscripts(embedding, 1) AS d,
             CAST(unnest(embedding) AS DOUBLE) AS x
      FROM embeddings
    ),
    gc0 AS (
      SELECT sq.cluster, v.d, round(v.x * {s}.0) / {s}.0 AS c
      FROM seedq sq JOIN gx v USING (vec_id)
    )"""
    ]
    for i in range(1, n_iters + 1):
        parts.append(
            f"""gd{i} AS (
      SELECT v.vec_id, c.cluster,
             round(sum((v.x - c.c) * (v.x - c.c)) * {s}.0) / {s}.0 AS d2
      FROM gx v JOIN gc{i - 1} c USING (d)
      GROUP BY v.vec_id, c.cluster
    ),
    ga{i} AS (
      SELECT vec_id, cluster FROM (
        SELECT vec_id, cluster,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY d2 ASC, cluster ASC) AS rn
        FROM gd{i}
      ) WHERE rn = 1
    ),
    gc{i} AS (
      SELECT p.cluster, p.d,
             coalesce(round(m.c * {s}.0) / {s}.0, p.c) AS c
      FROM gc{i - 1} p
      LEFT JOIN (
        SELECT a.cluster, v.d, avg(v.x) AS c
        FROM ga{i} a JOIN gx v USING (vec_id)
        GROUP BY a.cluster, v.d
      ) m ON m.cluster = p.cluster AND m.d = p.d
    )"""
        )
    parts.append(
        f"""gdfin AS (
      SELECT v.vec_id, c.cluster,
             round(sum((v.x - c.c) * (v.x - c.c)) * {s}.0) / {s}.0 AS d2
      FROM gx v JOIN gc{n_iters} c USING (d)
      GROUP BY v.vec_id, c.cluster
    ),
    gafin AS (
      SELECT vec_id, cluster FROM (
        SELECT vec_id, cluster,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY d2 ASC, cluster ASC) AS rn
        FROM gdfin
      ) WHERE rn = 1
    ),
    gqt AS (
      SELECT c.cluster,
             round(sum((qx.x - c.c) * (qx.x - c.c)) * {s}.0) / {s}.0 AS t
      FROM gx qx
      JOIN qv ON qx.vec_id = qv.qid
      JOIN gc{n_iters} c USING (d)
      GROUP BY c.cluster
    ),
    gprobe AS (
      SELECT cluster FROM gqt ORDER BY t ASC, cluster ASC LIMIT {_NPROBE}
    )"""
    )
    return ",\n    ".join(parts)


_IVFPQ_CTES = ",\n    ".join(
    [
        f"""seedq AS (
      SELECT vec_id, row_number() OVER (ORDER BY vec_id ASC) - 1 AS cluster
      FROM embeddings ORDER BY vec_id ASC LIMIT {_PQ_K}
    ),
    qv AS (SELECT min(vec_id) AS qid FROM embeddings)"""
    ]
    + [_coarse_ctes(k=_COARSE_K, n_iters=_COARSE_ITERS, round_to=_RT)]
    + [
        _pq_subspace_ctes(j, k=_PQ_K, n_iters=_IVFPQ_PQ_ITERS, round_to=_RT)
        for j in range(_M)
    ]
)


@q(
    "embedding_ivfpq_topk",
    f"""
    WITH {_IVFPQ_CTES},
    cand AS (
      SELECT vec_id FROM gafin
      WHERE cluster IN (SELECT cluster FROM gprobe)
    ),
    adc AS (
      SELECT a0.vec_id,
             q0.t + q1.t + q2.t + q3.t AS adc
      FROM cand
      JOIN afin0 a0 USING (vec_id)
      JOIN afin1 a1 USING (vec_id)
      JOIN afin2 a2 USING (vec_id)
      JOIN afin3 a3 USING (vec_id)
      JOIN qt0 q0 ON q0.cluster = a0.cluster
      JOIN qt1 q1 ON q1.cluster = a1.cluster
      JOIN qt2 q2 ON q2.cluster = a2.cluster
      JOIN qt3 q3 ON q3.cluster = a3.cluster
    ),
    topk AS (
      SELECT vec_id, adc,
             row_number() OVER (ORDER BY adc ASC, vec_id ASC) AS rank
      FROM adc
    )
    SELECT t.rank AS rank, t.vec_id,
           round(t.adc * 1000000.0) / 1000000.0 AS adc_d2,
           round(list_reduce(
             list_transform(range(1, 65),
               i -> (CAST(e.embedding[i] AS DOUBLE)
                     - CAST(qe.embedding[i] AS DOUBLE))
                    * (CAST(e.embedding[i] AS DOUBLE)
                       - CAST(qe.embedding[i] AS DOUBLE))),
             (a, b) -> a + b) * 1000000.0) / 1000000.0 AS exact_d2
    FROM topk t
    JOIN embeddings e ON e.vec_id = t.vec_id
    CROSS JOIN (
      SELECT e2.embedding FROM embeddings e2 JOIN qv ON e2.vec_id = qv.qid
    ) qe
    WHERE t.rank <= {_K_OUT}
    ORDER BY t.rank
    """,
)
def embedding_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full IVF-PQ index, built and searched in one declared plan:
    a {_COARSE_K}-cell coarse quantizer ({_COARSE_ITERS} Lloyd
    iterations) assigns every vector to a cell; PQ ({_M}×{_PQ_K}
    codebooks, {_IVFPQ_PQ_ITERS} Lloyd step per subspace) encodes every
    vector to {_M} codes; the lowest-vec_id query then probes its
    {_NPROBE} nearest cells and scores ONLY those candidates by ADC,
    returning the top-{_K_OUT} with the exact squared L2 re-rank
    column.

    100 TB shape: index build = two map-only corpus passes (coarse
    assign + encode) against O(k·d) closure state; search touches the
    probed cells' code rows only — pruning happens on the CLUSTER KEY
    before any per-vector arithmetic, and raw vectors are read only
    for the final top-k rows. DETERMINISM: every argmin/rank rides
    the quantized-d2 contract (kmeans-class residual documented in
    COVERAGE.md); probe selection, ADC sums, and the exact fold are
    spelled identically on both engines ((t ASC, cluster ASC) probe
    tie-break, left-to-right lookup sums, `F.aggregate` ↔
    `list_reduce` folds)."""
    from ..operators.similarity import (
        _round_half_away_scalar,
        as_double,
        kmeans_fit,
        pq_encode,
        pq_fit,
    )

    emb = _t(spark, sf_dir, "embeddings")

    # index build: coarse cells + PQ codes (both corpus-wide)
    coarse_cbs, assigned = kmeans_fit(
        emb, "vec_id", "embedding", k=_COARSE_K, n_iters=_COARSE_ITERS,
        round_to=_RT,
    )
    codebooks = pq_fit(
        emb, "vec_id", "embedding", m=_M, k=_PQ_K,
        n_iters=_IVFPQ_PQ_ITERS, round_to=_RT,
    )
    encoded = pq_encode(
        emb, "vec_id", "embedding", codebooks, round_to=_RT
    )

    # query + probe: O(k·d) driver arithmetic, same quantized grid
    qrow = (
        emb.select("vec_id", as_double(F.col("embedding")).alias("_v"))
        .orderBy("vec_id")
        .limit(1)
        .collect()[0]
    )
    qvec = [float(x) for x in qrow["_v"]]
    cell_d = []
    for ci, cvec in enumerate(coarse_cbs):
        acc = 0.0
        for d in range(len(qvec)):
            diff = qvec[d] - cvec[d]
            acc += diff * diff
        cell_d.append((_round_half_away_scalar(acc, _RT), ci))
    probes = [ci for _, ci in sorted(cell_d)[:_NPROBE]]

    cand = assigned.where(F.col("cluster").isin(probes)).select("vec_id")
    adc_col = _adc_col(_adc_table(qvec, codebooks))
    topk = (
        encoded.join(cand, "vec_id", "semi")
        .select("vec_id", adc_col.alias("adc"))
        .orderBy(F.asc("adc"), F.asc("vec_id"))
        .limit(_K_OUT)
        .withColumn(
            "rank",
            F.row_number().over(Window.orderBy(F.asc("adc"), F.asc("vec_id"))),
        )
    )
    qlit = F.array(*[F.lit(x) for x in qvec])
    exact_d2 = F.aggregate(
        F.zip_with(
            as_double(F.col("embedding")),
            qlit,
            lambda a, b: (a - b) * (a - b),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        topk.join(emb.select("vec_id", "embedding"), "vec_id")
        .select(
            "rank",
            "vec_id",
            (F.round(F.col("adc") * 1000000.0) / 1000000.0).alias("adc_d2"),
            (F.round(exact_d2 * 1000000.0) / 1000000.0).alias("exact_d2"),
        )
        .orderBy("rank")
    )
