"""Deduplication and curation entries over the documents table: exact
and near-duplicate detection (shingles, MinHash-LSH, SimHash,
winnowing, exact Jaccard, containment), duplicate clustering,
segment-level dedup, split leakage and the two curation pipelines.

Same contract as plans/analytics.py (see its authoring rules).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from .shared import _SPLIT_BYTE, _STOP_SQL, _md5_byte_sql, _t, _t_wide, q


_SIMHASH_AVGS = ",\n           ".join(
    f"avg(instr('0123456789abcdef', substr(md5(token), {p}, 1)) - 1) AS a{p}"
    for p in range(1, 17)
)
_SIMHASH_BITS = " || ".join(
    f"CASE WHEN a{p} >= 7.5 THEN '1' ELSE '0' END" for p in range(1, 17)
)


@q(
    "doc_simhash",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ), agg AS (
      SELECT doc_id,
           {_SIMHASH_AVGS}
      FROM toks GROUP BY doc_id
    )
    SELECT doc_id, {_SIMHASH_BITS} AS simhash
    FROM agg ORDER BY doc_id
    """,
)
def doc_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash-style 16-bit fingerprint (frequency-weighted per-position
    majority over token md5 digits)."""
    from ..operators.text import simhash16, tokenize

    docs = _t_wide(spark, sf_dir, "documents")
    return simhash16(tokenize(docs, "doc_id", "text"), "doc_id").orderBy("doc_id")


_SHINGLE_CTE = """
    toks AS (
      SELECT doc_id,
             unnest(string_split(text, ' ')) AS token,
             generate_subscripts(string_split(text, ' '), 1) AS pos
      FROM documents
    ), sh AS (
      SELECT doc_id, pos,
             token || ' ' || lead(token, 1) OVER w || ' ' || lead(token, 2) OVER w
               AS shingle
      FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ), shf AS (SELECT doc_id, pos, shingle FROM sh WHERE shingle IS NOT NULL)
"""


@q(
    "doc_winnow_fingerprints",
    f"""
    WITH {_SHINGLE_CTE},
    loc AS (
      SELECT doc_id, pos,
             min(md5(shingle)) OVER (PARTITION BY doc_id ORDER BY pos
                                     ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
             count(*) OVER (PARTITION BY doc_id) AS n_sh
      FROM shf
    )
    SELECT doc_id, CAST(count(DISTINCT fp) AS BIGINT) AS n_fingerprints
    FROM loc WHERE pos <= greatest(n_sh - 3, 1)
    GROUP BY doc_id ORDER BY doc_id
    """,
)
def doc_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing rolling-hash fingerprints (local-min selection over a
    sliding shingle window) — document fingerprinting for containment
    detection."""
    from ..operators.text import tokenize, winnow_fingerprints

    docs = _t_wide(spark, sf_dir, "documents")
    return winnow_fingerprints(
        tokenize(docs, "doc_id", "text"), "doc_id", k=3, window=4
    ).orderBy("doc_id")


@q(
    "dedup_docs_exact",
    """
    SELECT min(doc_id) AS doc_id, lang, source,
           CAST(count(*) AS BIGINT) AS n_duplicates
    FROM documents GROUP BY lang, source ORDER BY lang, source
    """,
)
def dedup_docs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact keep-first dedup by key (hash-groupBy, min-id survivor) —
    generic form of the reference's drop_duplicates keep-first."""
    from ..operators.dedup import exact_dedup

    docs = _t_wide(spark, sf_dir, "documents")
    return (
        exact_dedup(docs.select("doc_id", "lang", "source"), ["lang", "source"], "doc_id")
        .orderBy("lang", "source")
    )


_MINHASH_MINS = ",\n           ".join(
    f"min(md5('{i}:' || shingle)) AS mh_{i}" for i in range(8)
)


@q(
    "doc_minhash_signatures",
    f"""
    WITH {_SHINGLE_CTE}
    SELECT doc_id,
           {_MINHASH_MINS}
    FROM shf GROUP BY doc_id ORDER BY doc_id
    """,
)
def doc_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8-hash MinHash signatures over 3-token shingles (deterministic
    seeded md5 'hash family'). One shuffle for any signature width."""
    from ..operators.dedup import minhash_signatures

    docs = _t_wide(spark, sf_dir, "documents")
    return minhash_signatures(
        docs, "doc_id", "text", n_hashes=8, shingle_k=3
    ).orderBy("doc_id")


def _near_dup_tail(
    n_hashes: int = 8, band_size: int = 2, as_cte: bool = False
) -> str:
    """SQL tail shared by the near-dup entries, parameterized by band
    layout (must mirror ``operators/dedup.py::lsh_candidate_pairs``:
    band value = md5 of the '|'-joined member hashes). ``as_cte`` wraps
    the final select as ``pairs AS (...)`` (no ORDER BY) so downstream
    CTEs — e.g. the recursive component closure — can compose on it."""
    n_bands = n_hashes // band_size
    band_case = " ".join(
        "WHEN {b} THEN md5({parts})".format(
            b=b,
            parts=" || '|' || ".join(
                f"mh_{b * band_size + j}" for j in range(band_size)
            ),
        )
        for b in range(n_bands)
    )
    band_values = ", ".join(f"({b})" for b in range(n_bands))
    final = """
    SELECT c.id_a AS id_a, c.id_b AS id_b,
           round(coalesce(i.n_inter, 0) * 10000.0
                 / (za.n + zb.n - coalesce(i.n_inter, 0))) / 10000.0 AS jaccard
    FROM cand c
    LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
    JOIN sizes za ON za.doc_id = c.id_a
    JOIN sizes zb ON zb.doc_id = c.id_b"""
    tail = (
        f",\n    pairs AS ({final}\n    )"
        if as_cte
        else f"{final}\n    ORDER BY c.id_a, c.id_b"
    )
    return f"""
    sig AS (
      SELECT doc_id,
           {_MINHASH_MINS}
      FROM shf GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, bb.band,
             CASE bb.band {band_case} END AS band_val
      FROM sig, (VALUES {band_values}) bb(band)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_val = b.band_val AND a.doc_id < b.doc_id
    ),
    sets AS (SELECT DISTINCT doc_id, shingle FROM shf),
    sizes AS (SELECT doc_id, count(*) AS n FROM sets GROUP BY doc_id),
    inter AS (
      SELECT c.id_a, c.id_b, count(*) AS n_inter
      FROM cand c
      JOIN sets sa ON sa.doc_id = c.id_a
      JOIN sets sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle
      GROUP BY c.id_a, c.id_b
    ){tail}
"""


@q(
    "near_dup_pairs",
    f"""
    WITH {_SHINGLE_CTE},
    {_near_dup_tail(band_size=2)}
    """,
)
def near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full MinHash+LSH near-dup pipeline: signatures → band buckets →
    candidate pairs → exact Jaccard verification. Candidates only ever
    come from shared buckets — never an all-pairs join; the shingle set
    is computed once and persisted (see operators/dedup.py::
    near_duplicates)."""
    from ..operators.dedup import near_duplicates

    docs = _t_wide(spark, sf_dir, "documents")
    return near_duplicates(
        docs, "doc_id", "text", n_hashes=8, shingle_k=3, band_size=2
    ).orderBy("id_a", "id_b")


@q(
    "near_dup_pairs_char",
    f"""
    WITH shf AS (
      SELECT doc_id, substr(text, CAST(i AS INTEGER), 8) AS shingle
      FROM (SELECT doc_id, text,
                   unnest(generate_series(1, length(text) - 7)) AS i
            FROM documents)
    ),
    {_near_dup_tail(band_size=4)}
    """,
)
def near_dup_pairs_char(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-8-gram variant of the MinHash+LSH near-dup pipeline —
    tokenization-free, robust to spacing/punctuation noise. Same
    signature→band→verify chain as `near_dup_pairs`, swapping the
    shingle frame (row-local substr windows, zero shuffle). Char
    8-grams repeat heavily across a shared-vocabulary corpus, so
    banding is stricter here (2 bands × 4 hashes: 4-hash agreement)
    — with 2-hash bands the candidate set at sf0.1 is 71k pairs vs
    330, a 200× verification-cost difference."""
    from ..operators.dedup import near_duplicates

    docs = _t_wide(spark, sf_dir, "documents")
    return near_duplicates(
        docs,
        "doc_id",
        "text",
        n_hashes=8,
        shingle_k=8,
        band_size=4,
        shingle_mode="char",
    ).orderBy("id_a", "id_b")


@q(
    "near_dup_clusters",
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
def near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs → dedup GROUPS: connected components over the verified
    near-dup graph (jaccard >= 0.5), labeling every member with the
    min doc id of its component — the survivor-selection step (keep
    one per cluster) that actual corpus dedup runs after pairing.
    Spark side is min-label propagation (O(diameter) sweeps, scalar
    convergence checks); the oracle closes the same graph with a
    recursive CTE. id_sum is the membership checksum."""
    from ..operators.dedup import near_duplicates
    from ..operators.graph import connected_components

    docs = _t_wide(spark, sf_dir, "documents")
    pairs = near_duplicates(
        docs, "doc_id", "text", n_hashes=8, shingle_k=3, band_size=2,
        threshold=0.5,
    )
    labels = connected_components(pairs.select("id_a", "id_b"))
    return (
        labels.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("node").cast("long").alias("id_sum"),
        )
        .orderBy("cluster")
    )


def _hamming_sql(a: str, b: str, n_pos: int = 16) -> str:
    return " + ".join(
        f"CASE WHEN substr({a}, {p}, 1) <> substr({b}, {p}, 1) THEN 1 ELSE 0 END"
        for p in range(1, n_pos + 1)
    )


_SIMHASH_CTE = f"""
    toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ), agg AS (
      SELECT doc_id,
           {_SIMHASH_AVGS}
      FROM toks GROUP BY doc_id
    ), sim AS (
      SELECT doc_id, {_SIMHASH_BITS} AS simhash FROM agg
    )
"""


@q(
    "simhash_dup_groups",
    f"""
    WITH {_SIMHASH_CTE}
    SELECT simhash, CAST(count(*) AS BIGINT) AS n_docs,
           min(doc_id) AS first_doc
    FROM sim GROUP BY simhash HAVING count(*) > 1
    ORDER BY simhash
    """,
)
def simhash_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fingerprint-bucket dedup, the scale-real SimHash usage: group by
    the exact fingerprint (one shuffle on a 16-char key) and report
    multi-doc buckets with the keep-first survivor. All-pairs hamming
    comparison is deliberately NOT an entry — it is quadratic by
    construction; bounded neighbor search lives in
    `simhash_query_neighbors`."""
    from ..operators.text import simhash16, tokenize

    docs = _t_wide(spark, sf_dir, "documents")
    sim = simhash16(tokenize(docs, "doc_id", "text"), "doc_id")
    return (
        sim.groupBy("simhash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
        )
        .where(F.col("n_docs") > 1)
        .orderBy("simhash")
    )


@q(
    "simhash_query_neighbors",
    f"""
    WITH {_SIMHASH_CTE},
    q AS (SELECT doc_id AS query_id, simhash AS sq FROM sim WHERE doc_id < 10),
    scored AS (
      SELECT q.query_id, s.doc_id,
             CAST({_hamming_sql("q.sq", "s.simhash")} AS BIGINT) AS hamming
      FROM q JOIN sim s ON s.doc_id <> q.query_id
    ),
    ranked AS (
      SELECT query_id, doc_id, hamming,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY hamming, doc_id) AS rn
      FROM scored
    )
    SELECT query_id, doc_id, hamming FROM ranked WHERE rn <= 5
    ORDER BY query_id, hamming, doc_id
    """,
)
def simhash_query_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded fingerprint-neighbor search: for each of 10 query docs,
    the 5 nearest documents by simhash hamming distance. The query set
    broadcasts, so scoring is map-only over the corpus and the window
    top-k bounds the output — query×corpus work, never corpus², which
    is the shape that survives 100 TB (all-pairs hamming does not)."""
    from ..operators.text import simhash16, tokenize

    docs = _t_wide(spark, sf_dir, "documents")
    sim = simhash16(tokenize(docs, "doc_id", "text"), "doc_id")
    queries = sim.where(F.col("doc_id") < 10).select(
        F.col("doc_id").alias("query_id"), F.col("simhash").alias("sq")
    )
    scored = sim.join(
        F.broadcast(queries), F.col("doc_id") != F.col("query_id")
    )
    hamming = sum(
        (F.substring("sq", p, 1) != F.substring("simhash", p, 1)).cast("int")
        for p in range(1, 17)
    )
    w = W.partitionBy("query_id").orderBy("hamming", "doc_id")
    return (
        scored.select(
            "query_id", "doc_id", hamming.cast("bigint").alias("hamming")
        )
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .drop("rn")
        .orderBy("query_id", "hamming", "doc_id")
    )


@q(
    "doc_jaccard_join_exact",
    f"""
    WITH {_SHINGLE_CTE},
    s AS (SELECT DISTINCT doc_id, shingle FROM shf),
    sizes AS (SELECT doc_id, count(*) AS n FROM s GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ni
      FROM s a JOIN s b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    j AS (
      SELECT id_a, id_b, CAST(ni AS BIGINT) AS n_common,
             round(ni * 10000.0 / (za.n + zb.n - ni)) / 10000.0 AS jaccard,
             ni * 1.0 / (za.n + zb.n - ni) AS true_jac
      FROM inter
      JOIN sizes za ON id_a = za.doc_id
      JOIN sizes zb ON id_b = zb.doc_id
    )
    SELECT id_a, id_b, n_common, jaccard FROM j WHERE true_jac >= 0.5
    ORDER BY id_a, id_b
    """,
)
def doc_jaccard_join_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT shingle-Jaccard similarity join (threshold 0.5) via
    PPJoin-style prefix filtering — candidates from rare-first prefix
    overlap, then in-row verification. The oracle is the unpruned
    brute inverted-index form: hash equality proves the prefix filter
    drops no qualifying pair (the guarantee MinHash/LSH trades away).
    See ``operators/dedup.py::jaccard_join_exact``."""
    from ..operators.dedup import jaccard_join_exact

    docs = _t_wide(spark, sf_dir, "documents")
    return jaccard_join_exact(
        docs, "doc_id", "text", threshold=0.5, shingle_k=3
    ).orderBy("id_a", "id_b")


_BAND_CASE = " ".join(
    f"WHEN {b} THEN md5(mh_{2 * b} || '|' || mh_{2 * b + 1})" for b in range(4)
)


@q(
    "incremental_near_dup",
    f"""
    WITH {_SHINGLE_CTE},
    sig AS (
      SELECT doc_id,
           {_MINHASH_MINS}
      FROM shf GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, bb.band,
             CASE bb.band {_BAND_CASE} END AS band_val
      FROM sig, (VALUES (0), (1), (2), (3)) bb(band)
    ),
    m AS (
      SELECT DISTINCT q.doc_id AS id_q, c.doc_id AS id_c
      FROM bands q JOIN bands c
        ON c.band = q.band AND c.band_val = q.band_val
      WHERE c.doc_id % 2 = 0 AND q.doc_id % 2 = 1
    )
    SELECT id_q AS doc_id,
           CAST(count(*) AS BIGINT) AS n_corpus_matches,
           CAST(min(id_c) AS BIGINT) AS first_match_id
    FROM m GROUP BY id_q ORDER BY doc_id
    """,
)
def incremental_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (new-batch-vs-corpus) near-dup detection: even
    doc_ids play the already-ingested corpus, odd ids the incoming
    batch; each batch doc reports how many corpus docs it shares an
    LSH band bucket with and its first (min-id) corpus partner — the
    rows a crawl pipeline would route to verification/drop. Uses
    ``operators/dedup.py::lsh_match_against``: the corpus is banded
    once (at real scale: a persisted band table that successive
    batches reuse — each increment shuffles only the batch, never
    re-scans the corpus), and candidates stay bucket-bounded exactly
    like the self-join family."""
    from ..operators.dedup import lsh_match_against, minhash_signatures

    docs = _t_wide(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") % 2 == 0)
    batch = docs.where(F.col("doc_id") % 2 == 1)
    sig_c = minhash_signatures(corpus, "doc_id", "text", n_hashes=8, shingle_k=3)
    sig_q = minhash_signatures(batch, "doc_id", "text", n_hashes=8, shingle_k=3)
    m = lsh_match_against(sig_c, sig_q, "doc_id", n_hashes=8, band_size=2)
    return (
        m.groupBy(F.col("id_q").alias("doc_id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_corpus_matches"),
            F.min("id_c").cast("long").alias("first_match_id"),
        )
        .orderBy("doc_id")
    )


@q(
    "doc_ngram_novelty",
    f"""
    WITH {_SHINGLE_CTE},
    sets AS (SELECT DISTINCT doc_id, shingle FROM shf),
    nov AS (
      SELECT doc_id, shingle,
             min(doc_id) OVER (PARTITION BY shingle) AS first_doc
      FROM sets
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT)
             AS n_novel,
           round((sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
                  * 10000.0 / count(*))) / 10000.0 AS novelty
    FROM nov GROUP BY doc_id ORDER BY doc_id
    """,
)
def doc_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram novelty against the growing corpus: a doc's shingle is
    'novel' if no lower-id document contains it (ingestion order =
    doc_id), and the per-doc novelty fraction is the curation signal
    that separates fresh content from remix/boilerplate — the
    continuous cousin of the binary dedup verdict. Plan: ONE window
    (min doc_id per shingle — a single shuffle on shingle, map-side
    combinable) then the per-doc aggregate; no join against a
    vocabulary table at all. At 100 TB the shingle partition is the
    shuffle to watch — stopword-heavy shingles are the hot keys, and
    the same rare-first prefix trick the PPJoin entry uses (or a
    df-cap filter) bounds them; the window itself only computes min,
    so AQE's skew split applies cleanly."""
    docs = _t_wide(spark, sf_dir, "documents")
    from ..operators.dedup import shingle_set

    # in-row array_distinct → explode (CLAUDE.md shingle-frame rule):
    # a doc's shingles are row-local, so a global .distinct() would
    # shuffle the widest frame in the pipeline for nothing.
    sets = shingle_set(docs, "doc_id", "text", shingle_k=3)
    nov = sets.withColumn(
        "first_doc", F.min("doc_id").over(W.partitionBy("shingle"))
    )
    novel = F.sum(
        F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    )
    return (
        nov.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            novel.cast("long").alias("n_novel"),
            (
                F.round(novel * 10000.0 / F.count(F.lit(1))) / 10000.0
            ).alias("novelty"),
        )
        .orderBy("doc_id")
    )


@q(
    "near_dup_threshold_sweep",
    f"""
    WITH {_SHINGLE_CTE},
    {_near_dup_tail(band_size=2, as_cte=True)}
    SELECT CAST(t.threshold AS DOUBLE) AS threshold,
           CAST(sum(CASE WHEN p.jaccard >= CAST(t.threshold AS DOUBLE)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs
    FROM pairs p,
         (VALUES (CAST(0.1 AS DOUBLE)), (CAST(0.3 AS DOUBLE)),
                 (CAST(0.5 AS DOUBLE)), (CAST(0.7 AS DOUBLE)),
                 (CAST(0.9 AS DOUBLE))) t(threshold)
    GROUP BY t.threshold ORDER BY threshold
    """,
)
def near_dup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup threshold calibration: how many candidate pairs survive
    each Jaccard cutoff, computed from ONE candidate generation + ONE
    verification pass (the expensive work) with a 5-row literal
    threshold frame cross-joined on top (broadcast-scalar piggyback —
    the same pattern as the other VALUES cross joins, never a data×
    data product). Reading the curve's elbow is how a production
    pipeline picks its threshold instead of guessing; re-running the
    whole pipeline per candidate threshold would cost 5× for the same
    answer."""
    from ..operators.dedup import near_duplicates

    docs = _t_wide(spark, sf_dir, "documents")
    pairs = near_duplicates(
        docs, "doc_id", "text", n_hashes=8, shingle_k=3, band_size=2
    )
    thresholds = F.explode(
        F.array(*[F.lit(t) for t in (0.1, 0.3, 0.5, 0.7, 0.9)])
    ).alias("threshold")
    return (
        pairs.select("jaccard", thresholds)
        .groupBy("threshold")
        .agg(
            F.sum(
                F.when(F.col("jaccard") >= F.col("threshold"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_pairs")
        )
        .orderBy("threshold")
    )


@q(
    "split_leakage_audit",
    f"""
    WITH {{shingle}},
    {{tail}}
    , sp AS (
      SELECT doc_id, CASE WHEN {{byte}} < 204 THEN 'train'
                          WHEN {{byte}} < 230 THEN 'val'
                          ELSE 'test' END AS split
      FROM documents
    )
    SELECT least(a.split, b.split) AS split_a,
           greatest(a.split, b.split) AS split_b,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(CASE WHEN p.jaccard >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_pairs_j50
    FROM pairs p
    JOIN sp a ON a.doc_id = p.id_a
    JOIN sp b ON b.doc_id = p.id_b
    GROUP BY least(a.split, b.split), greatest(a.split, b.split)
    ORDER BY split_a, split_b
    """.format(
        shingle=_SHINGLE_CTE.strip(),
        tail=_near_dup_tail(band_size=2, as_cte=True).strip(),
        byte=_SPLIT_BYTE,
    ),
)
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test LEAKAGE audit: near-duplicate pairs bucketed by the
    split pair their members land in — the contamination check every
    eval pipeline needs, because a test doc whose near-dup sits in
    train inflates benchmarks exactly like direct contamination
    (`doc_contamination_overlap` checks corpus-vs-benchmark; this
    checks WITHIN-corpus across the split boundary). Composes the two
    existing deterministic machineries unchanged: salted-md5 split
    assignment and the MinHash/LSH near-dup pipeline — and because
    the split label is a PURE FUNCTION of the id, it's re-derived
    in-row on the pair frame directly (no label-table join at all; a
    corpus-sized label table couldn't broadcast at 100 TB). Cross-
    split rows (train≠test etc.) with jaccard ≥ 0.5 are the ones a
    production run would re-assign or drop."""
    from ..operators.dedup import near_duplicates
    from ..operators.sampling import hash_split

    docs = _t_wide(spark, sf_dir, "documents")
    pairs = near_duplicates(
        docs, "doc_id", "text", n_hashes=8, shingle_k=3, band_size=2
    )
    lab = (
        hash_split(hash_split(pairs, "id_a").withColumnRenamed("split", "sp_a"),
                   "id_b")
        .withColumnRenamed("split", "sp_b")
    )
    return (
        lab.groupBy(
            F.least("sp_a", "sp_b").alias("split_a"),
            F.greatest("sp_a", "sp_b").alias("split_b"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum(F.when(F.col("jaccard") >= 0.5, 1).otherwise(0))
            .cast("long")
            .alias("n_pairs_j50"),
        )
        .orderBy("split_a", "split_b")
    )


@q(
    "corpus_dedup_savings",
    """
    WITH h AS (
      SELECT source, md5(text) AS content_hash, doc_id, n_chars
      FROM documents
    ),
    keep AS (
      SELECT source, content_hash, min(doc_id) AS keeper,
             CAST(count(*) AS BIGINT) AS n_copies,
             CAST(sum(n_chars) AS BIGINT) AS bytes_all,
             CAST(min(n_chars) AS BIGINT) AS bytes_keep
      FROM h GROUP BY source, content_hash
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_unique,
           CAST(sum(n_copies) AS BIGINT) AS n_docs,
           CAST(sum(n_copies) - count(*) AS BIGINT) AS n_removed,
           CAST(sum(bytes_all - bytes_keep) AS BIGINT) AS bytes_removed,
           round((CAST(sum(n_copies) - count(*) AS DOUBLE)
                  * 10000.0 / sum(n_copies))) / 10000.0 AS removal_rate
    FROM keep GROUP BY source ORDER BY source
    """,
)
def corpus_dedup_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup ROI report: per source, how many docs and bytes exact
    content dedup removes (keep-first by min id; duplicate copies all
    share one n_chars, so bytes_removed = Σ(bytes_all − bytes_keep)
    exactly) — the number that justifies the dedup stage's cost to a
    pipeline owner and flags which ingestion sources re-crawl the
    same content. Shuffle carries (source, md5, id, length) — never
    bodies — then two map-combinable aggregates; removal_rate is
    exact-integer arithmetic under a display round."""
    docs = _t(spark, sf_dir, "documents")
    h = docs.select(
        "source", F.md5("text").alias("content_hash"), "doc_id", "n_chars"
    )
    keep = h.groupBy("source", "content_hash").agg(
        F.count(F.lit(1)).cast("long").alias("n_copies"),
        F.sum("n_chars").cast("long").alias("bytes_all"),
        F.min("n_chars").cast("long").alias("bytes_keep"),
    )
    return (
        keep.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_unique"),
            F.sum("n_copies").cast("long").alias("n_docs"),
            (F.sum("n_copies") - F.count(F.lit(1))).cast("long").alias("n_removed"),
            F.sum(F.col("bytes_all") - F.col("bytes_keep"))
            .cast("long")
            .alias("bytes_removed"),
            (
                F.round(
                    (F.sum("n_copies") - F.count(F.lit(1))).cast("double")
                    * 10000.0
                    / F.sum("n_copies")
                )
                / 10000.0
            ).alias("removal_rate"),
        )
        .orderBy("source")
    )


_SEG = 10  # tokens per non-overlapping segment

# Shared CTE: one row per (doc, segment) with the segment's text,
# md5 hash, and token length. Mirrors the Spark-side sequence→explode→
# slice chunker (same arithmetic as doc_overlap_chunks with
# width == stride, so the tail segment is short, never overlapping).
_SEGMENT_CTE = f"""
    t AS (SELECT doc_id, source, string_split(text, ' ') AS toks
          FROM documents),
    n AS (SELECT doc_id, source, toks,
                 (greatest(len(toks) - {_SEG}, 0) + {_SEG} - 1)
                   // {_SEG} + 1 AS nseg
          FROM t),
    segx AS (
      SELECT doc_id, source, toks,
             unnest(generate_series(0, nseg - 1)) AS seg_id
      FROM n
    ),
    seg AS (
      SELECT doc_id, source, CAST(seg_id AS BIGINT) AS seg_id,
             array_to_string(
               toks[seg_id * {_SEG} + 1 : seg_id * {_SEG} + {_SEG}], ' ')
               AS seg_text,
             CAST(len(toks[seg_id * {_SEG} + 1 : seg_id * {_SEG} + {_SEG}])
                  AS BIGINT) AS seg_len
      FROM segx
    ),
    segh AS (SELECT doc_id, source, seg_id, seg_text, seg_len,
                    md5(seg_text) AS seg_hash
             FROM seg)
"""


def _segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark mirror of _SEGMENT_CTE via the library operator
    ``operators/dedup.py::text_segments`` — one row per fixed
    10-token segment with md5 hash, entirely in-row."""
    from ..operators.dedup import text_segments

    docs = _t_wide(spark, sf_dir, "documents")
    return text_segments(
        docs, "doc_id", "text", seg=_SEG, keep_cols=("source",)
    )


@q(
    "corpus_dup_segment_audit",
    f"""
    WITH {_SEGMENT_CTE},
    marked AS (
      SELECT source, seg_len,
             min(doc_id) OVER (PARTITION BY seg_hash) AS lo,
             max(doc_id) OVER (PARTITION BY seg_hash) AS hi
      FROM segh
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_segments,
           CAST(sum(CASE WHEN lo <> hi THEN 1 ELSE 0 END) AS BIGINT)
             AS n_shared,
           CAST(sum(CASE WHEN lo <> hi THEN seg_len ELSE 0 END) AS BIGINT)
             AS shared_tokens,
           round((sum(CASE WHEN lo <> hi THEN 1 ELSE 0 END)
                  * 10000.0 / count(*))) / 10000.0 AS shared_frac
    FROM marked GROUP BY source ORDER BY source
    """,
)
def corpus_dup_segment_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication audit (fixed-window approximation
    of Lee et al. 2022 suffix-array dedup): hash every non-overlapping
    10-token segment corpus-wide; a segment occurrence is SHARED when
    the same hash appears in at least one OTHER document (min(doc) ≠
    max(doc) over the hash partition — intra-doc repeats don't count).
    Per-source shared-token mass is the boilerplate/re-crawl signal
    that decides whether the rewrite stage below is worth running.
    Plan: in-row segmenting, then ONE shuffle — a window on seg_hash
    computing only min/max doc id (map-side combinable, no join-back,
    and the shuffle carries (hash, doc_id, source, len), never segment
    bodies). At 100 TB the hot keys are ubiquitous boilerplate
    segments; the window's min/max are cheap per-key and AQE's skew
    split applies — contrast with a count-distinct join-back, which
    would double the shuffle volume for the same verdict."""
    segs = _segments(spark, sf_dir)
    wh = W.partitionBy("seg_hash")
    marked = segs.select(
        "source",
        "seg_len",
        F.min("doc_id").over(wh).alias("lo"),
        F.max("doc_id").over(wh).alias("hi"),
    )
    shared = F.when(F.col("lo") != F.col("hi"), 1).otherwise(0)
    return (
        marked.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_segments"),
            F.sum(shared).cast("long").alias("n_shared"),
            F.sum(F.when(F.col("lo") != F.col("hi"), F.col("seg_len")).otherwise(0))
            .cast("long")
            .alias("shared_tokens"),
            (F.round(F.sum(shared) * 10000.0 / F.count(F.lit(1))) / 10000.0).alias(
                "shared_frac"
            ),
        )
        .orderBy("source")
    )


@q(
    "doc_segment_dedup_rewrite",
    f"""
    WITH {_SEGMENT_CTE},
    ranked AS (
      SELECT doc_id, seg_id, seg_text, seg_len,
             row_number() OVER (PARTITION BY seg_hash
                                ORDER BY doc_id, seg_id) AS rn
      FROM segh
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_segments,
           CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           CAST(sum(CASE WHEN rn = 1 THEN seg_len ELSE 0 END) AS BIGINT)
             AS tokens_kept,
           md5(coalesce(string_agg(seg_text, ' ' ORDER BY seg_id)
                          FILTER (WHERE rn = 1), '')) AS rewritten_md5
    FROM ranked GROUP BY doc_id ORDER BY doc_id
    """,
)
def doc_segment_dedup_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REWRITE step exact-substring dedup exists for: keep only
    the first corpus-wide occurrence of every 10-token segment
    (ordered by (doc_id, seg_id) — ingestion order), reassemble each
    document from its surviving segments in position order, and emit
    kept/total counts plus an md5 checksum of the rewritten text (the
    checksum stands in for the text so the result frame stays narrow;
    a production run would write the text to the corpus sink instead).
    Fully-duplicated documents survive as rows with n_kept = 0 and
    md5('') — they exit the corpus. Plan: ONE window shuffle on
    seg_hash (row_number — this entry must move segment bodies through
    the shuffle because the rewrite needs them, but bodies are capped
    at 10 tokens each), then a per-doc aggregate whose order-by-seg_id
    reassembly is deterministic on both engines (array_sort over
    (seg_id, text) structs ↔ string_agg ORDER BY). At 100 TB this is
    the canonical two-pass dedup shape; the keep-first rule needs no
    global coordination beyond the hash partition itself."""
    from ..operators.dedup import segment_dedup_rewrite

    docs = _t_wide(spark, sf_dir, "documents")
    return (
        segment_dedup_rewrite(docs, "doc_id", "text", seg=_SEG)
        .select(
            "doc_id",
            "n_segments",
            "n_kept",
            "tokens_kept",
            F.md5("rewritten_text").alias("rewritten_md5"),
        )
        .orderBy("doc_id")
    )


@q(
    "near_dup_keep_best",
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
    lab AS (SELECT node, min(lbl) AS cluster FROM reach GROUP BY node),
    scored AS (
      SELECT l.cluster, l.node, d.n_chars,
             row_number() OVER (PARTITION BY l.cluster
                                ORDER BY d.n_chars DESC, l.node ASC) AS rn,
             CAST(count(*) OVER (PARTITION BY l.cluster) AS BIGINT)
               AS n_docs,
             CAST(sum(d.n_chars) OVER (PARTITION BY l.cluster) AS BIGINT)
               AS total_chars
      FROM lab l JOIN documents d ON d.doc_id = l.node
    )
    SELECT cluster, node AS keeper_id,
           CAST(n_chars AS BIGINT) AS keeper_chars, n_docs,
           CAST(total_chars - n_chars AS BIGINT) AS dropped_chars
    FROM scored WHERE rn = 1 ORDER BY cluster
    """,
)
def near_dup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivor selection by QUALITY: within each near-dup cluster
    (same MinHash→LSH→verify→connected-components chain as
    near_dup_clusters, jaccard ≥ 0.5) keep the LONGEST member
    (n_chars DESC, doc_id ASC tie-break) instead of the min-id — the
    rule real curation uses, since the longest near-duplicate is
    usually the un-truncated original. Emits the keeper plus how many
    docs/chars the cluster drops. Plan: cluster labels join the
    documents quality column on doc_id (an id-partitioned shuffle
    join — at 100 TB both sides are big, but labels only exist for
    clustered docs, a tiny fraction of the corpus), then one window
    pass on cluster for the deterministic argmax + size/mass. Any
    scalar quality score (model-based, fasttext, etc.) slots into the
    ORDER BY without touching the plan shape."""
    from ..operators.dedup import near_duplicates
    from ..operators.graph import connected_components

    docs = _t_wide(spark, sf_dir, "documents")
    pairs = near_duplicates(
        docs, "doc_id", "text", n_hashes=8, shingle_k=3, band_size=2,
        threshold=0.5,
    )
    labels = connected_components(pairs.select("id_a", "id_b"))
    scored = labels.join(
        docs.select(F.col("doc_id").alias("node"), "n_chars"), "node"
    )
    wc = W.partitionBy("cluster")
    ranked = scored.select(
        "cluster",
        "node",
        "n_chars",
        F.row_number()
        .over(wc.orderBy(F.col("n_chars").desc(), F.col("node").asc()))
        .alias("rn"),
        F.count(F.lit(1)).over(wc).cast("long").alias("n_docs"),
        F.sum("n_chars").over(wc).cast("long").alias("total_chars"),
    )
    return (
        ranked.where(F.col("rn") == 1)
        .select(
            "cluster",
            F.col("node").alias("keeper_id"),
            F.col("n_chars").cast("long").alias("keeper_chars"),
            "n_docs",
            (F.col("total_chars") - F.col("n_chars"))
            .cast("long")
            .alias("dropped_chars"),
        )
        .orderBy("cluster")
    )


# ---------------------------------------------------------------------------
# LSH recall evaluation
# ---------------------------------------------------------------------------

# Deterministic ~25% doc sample for the recall evaluation (engine-
# portable salted md5 byte — own salt so membership is independent of
# the split/stratum/sample operators, per the sampling-salt rule).
_LSHR_BYTE = _md5_byte_sql("CAST(doc_id AS VARCHAR)", "lshr:")


@q(
    "lsh_recall_vs_exact",
    f"""
    WITH sdocs AS (SELECT * FROM documents WHERE {_LSHR_BYTE} < 64),
    {_SHINGLE_CTE.replace("FROM documents", "FROM sdocs")},
    {_near_dup_tail(band_size=2, as_cte=True)},
    einter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ni
      FROM sets a JOIN sets b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    ep AS (
      SELECT id_a, id_b
      FROM einter
      JOIN sizes za ON id_a = za.doc_id
      JOIN sizes zb ON id_b = zb.doc_id
      WHERE ni * 1.0 / (za.n + zb.n - ni) >= 0.5
    ),
    flags AS (
      SELECT CASE WHEN c.id_a IS NOT NULL THEN 1 ELSE 0 END AS in_l
      FROM ep e LEFT JOIN cand c ON e.id_a = c.id_a AND e.id_b = c.id_b
    )
    SELECT CAST(count(*) AS BIGINT) AS n_exact,
           CAST(sum(in_l) AS BIGINT) AS n_lsh,
           CAST(sum(in_l) AS BIGINT) AS n_hit,
           CASE WHEN count(*) > 0
                THEN round(sum(in_l) * 10000.0 / count(*)) / 10000.0
           END AS recall
    FROM flags
    """,
)
def lsh_recall_vs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closes the dedup evaluation loop: MinHash→LSH banding is a
    RECALL gamble (8 hashes × 4 bands of 2 ⇒ P[candidate] = 1−(1−j²)⁴,
    ~0.86 at j=0.5), and this entry MEASURES the gamble against the
    exact PPJoin similarity join at the same 0.5 threshold — the
    number that justifies band/hash sizing in production. Because the
    LSH pipeline exact-verifies its candidates (true-J membership),
    its surviving pair set is exactly (exact pairs ∩ band candidates)
    — PPJoin is lossless at the threshold, so LSH verification is a
    subset of work the exact join already did. The entry therefore
    runs the exact join ONCE and intersects with the raw candidate
    set instead of re-verifying: identical numbers (precision 1.0,
    n_lsh = n_hit ≤ n_exact — every shortfall a banding miss), one
    full verification phase saved (r2 bench-tail fix, part 1). Part
    2: the evaluation runs on a deterministic ~25% md5-sampled doc
    subset (salt ``lshr:``) — recall is a corpus-level RATE, so
    estimating it on a stable sample is the production shape; at
    100 TB you'd shrink the rate further. Both pair sets still come
    from the bucketed operators, never all-pairs; the comparison is
    a pair-key left join collapsing to one summary row."""
    from ..operators.dedup import (
        jaccard_join_exact,
        lsh_candidate_pairs,
        minhash_signatures,
        shingle_set,
    )
    from ..operators.sampling import _md5_byte0

    docs = _t_wide(spark, sf_dir, "documents").where(
        _md5_byte0(F.col("doc_id"), salt="lshr:") < 64
    )
    # ONE shingle build persisted and shared by both pipelines — each
    # operator would otherwise build + persist its own copy of the
    # widest frame (code-review r2 catch).
    sets = shingle_set(docs, "doc_id", "text", shingle_k=3).persist()
    sets.count()
    exact = jaccard_join_exact(
        docs, "doc_id", "text", threshold=0.5, shingle_k=3, shingle_sets=sets
    ).select("id_a", "id_b")
    sigs = minhash_signatures(
        docs, "doc_id", "text", n_hashes=8, shingle_sets=sets
    )
    cands = lsh_candidate_pairs(sigs, "doc_id", n_hashes=8, band_size=2).select(
        "id_a", "id_b", F.lit(1).alias("in_l")
    )
    flags = exact.join(cands, ["id_a", "id_b"], "left").select(
        F.coalesce("in_l", F.lit(0)).alias("in_l")
    )
    recall = F.when(
        F.count(F.lit(1)) > 0,
        F.round(F.sum("in_l") * 10000.0 / F.count(F.lit(1))) / 10000.0,
    )
    return flags.agg(
        F.count(F.lit(1)).cast("long").alias("n_exact"),
        F.sum("in_l").cast("long").alias("n_lsh"),
        F.sum("in_l").cast("long").alias("n_hit"),
        recall.alias("recall"),
    )


# ---------------------------------------------------------------------------
# Quality × duplication interaction
# ---------------------------------------------------------------------------

@q(
    "quality_dup_interaction",
    f"""
    WITH {_SHINGLE_CTE},
    {_near_dup_tail(band_size=2, as_cte=True)},
    dup AS (
      SELECT DISTINCT id FROM (
        SELECT id_a AS id FROM pairs WHERE jaccard >= 0.5
        UNION ALL
        SELECT id_b AS id FROM pairs WHERE jaccard >= 0.5
      )
    ),
    s AS (
      SELECT doc_id,
             len(string_split(text, ' ')) AS tc,
             round(((length(text) - (len(string_split(text, ' ')) - 1))::DOUBLE
                   / len(string_split(text, ' '))) * 10000.0) / 10000.0
               AS avg_len,
             round((len(list_filter(string_split(text, ' '),
                                   t -> t IN {_STOP_SQL}))::DOUBLE
                   / len(string_split(text, ' '))) * 10000.0) / 10000.0
               AS stop_r,
             round((len(regexp_extract_all(text, '[.,!?;:]'))::DOUBLE
                   / length(text)) * 10000.0) / 10000.0 AS punct_r
      FROM documents
    ),
    g AS (
      SELECT doc_id,
             CASE WHEN tc BETWEEN 30 AND 80
                   AND avg_len BETWEEN 2.0 AND 12.0
                   AND stop_r <= 0.12 AND punct_r <= 0.2
                  THEN 1 ELSE 0 END AS passed
      FROM s
    ),
    f AS (
      SELECT g.passed,
             CASE WHEN d.id IS NOT NULL THEN 1 ELSE 0 END AS is_near_dup
      FROM g LEFT JOIN dup d ON d.id = g.doc_id
    )
    SELECT passed, is_near_dup,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(count(*) * 10000.0
                 / sum(count(*)) OVER (PARTITION BY passed)) / 10000.0
             AS share_of_quality_class
    FROM f GROUP BY passed, is_near_dup ORDER BY passed, is_near_dup
    """,
)
def quality_dup_interaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-family curation audit: does LOW-quality content
    near-duplicate more often than high-quality content? (It usually
    does — template spam both fails quality rules and re-crawls — and
    the answer decides filter ORDER: run the cheap gate first only if
    it doesn't starve the dedup stage of its true positives.) The 2×2
    (quality verdict × near-dup membership) table with row-normalized
    shares composes two existing machineries unchanged: the map-only
    quality gate and the banded near-dup pipeline; membership is a
    LEFT join of the corpus against the (tiny) dup-id set — keyed on
    id, unhinted, AQE picks the strategy. Shares are exact integer
    ratios under a display round via a window over the 4-cell frame."""
    from ..operators.dedup import near_duplicates
    from ..operators.quality import quality_gate

    docs = _t_wide(spark, sf_dir, "documents")
    gated = quality_gate(docs, "doc_id", "text").select(
        "doc_id", F.col("passed").cast("int").alias("passed")
    )
    pairs = near_duplicates(
        docs, "doc_id", "text", n_hashes=8, shingle_k=3, band_size=2,
        threshold=0.5,
    )
    dup = (
        pairs.select(F.col("id_a").alias("id"))
        .union(pairs.select(F.col("id_b").alias("id")))
        .distinct()
        .withColumn("_d", F.lit(1))
    )
    f = gated.join(dup, gated.doc_id == dup.id, "left").select(
        "passed",
        F.when(F.col("_d").isNotNull(), 1).otherwise(0).alias("is_near_dup"),
    )
    from pyspark.sql import Window as W

    cell = f.groupBy("passed", "is_near_dup").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    tot = F.sum("n_docs").over(W.partitionBy("passed"))
    return cell.select(
        "passed",
        "is_near_dup",
        "n_docs",
        (F.round(F.col("n_docs") * 10000.0 / tot) / 10000.0).alias(
            "share_of_quality_class"
        ),
    ).orderBy("passed", "is_near_dup")


@q(
    "near_dup_containment_pairs",
    f"""
    WITH {_SHINGLE_CTE},
    {_near_dup_tail(band_size=2, as_cte=True)},
    cont AS (
      SELECT c.id_a, c.id_b,
             CAST(coalesce(i.n_inter, 0) AS BIGINT) AS n_common,
             round(coalesce(i.n_inter, 0) * 10000.0 / za.n) / 10000.0
               AS contain_a_in_b,
             round(coalesce(i.n_inter, 0) * 10000.0 / zb.n) / 10000.0
               AS contain_b_in_a
      FROM cand c
      LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
      JOIN sizes za ON za.doc_id = c.id_a
      JOIN sizes zb ON zb.doc_id = c.id_b
    )
    SELECT id_a, id_b, n_common, contain_a_in_b, contain_b_in_a
    FROM cont
    WHERE contain_a_in_b >= 0.9 OR contain_b_in_a >= 0.9
    ORDER BY id_a, id_b
    """,
)
def near_dup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC near-duplication: shingle containment |A∩B|/|A|
    instead of Jaccard — the signal that catches a short document
    fully embedded in a longer one (quotes, syndication, wrapper
    boilerplate), which symmetric Jaccard structurally misses (a
    100-shingle doc inside a 10000-shingle doc has containment 1.0
    but Jaccard ≈ 0.01). Same scale machinery as the Jaccard
    entries — MinHash signatures → banded LSH candidates → exact
    shingle verification restricted to candidates (broadcast the
    candidate list, never the shingle sets) — only the verification
    RATIO changes; pairs where either direction ≥ 0.9 survive.
    Caveat, stated honestly: MinHash banding is tuned for JACCARD
    resemblance, so extreme-size-ratio containments may not band
    together — a production containment pass over 100 TB hashes the
    SHORT side's shingles into a Bloom/CMS probe instead; at this
    corpus's size ratios the banding recall is exact (pinned by the
    oracle, which verifies ALL banded candidates)."""
    from ..operators.dedup import (
        containment_verify,
        lsh_candidate_pairs,
        minhash_signatures,
        shingle_set,
    )

    docs = _t_wide(spark, sf_dir, "documents")
    # in-row-distinct shingle frame, persisted ONCE and shared by the
    # signature aggregation and both verification sides (code-review
    # r2 catch: the first cut global-distinct'd the widest frame and
    # recomputed it per consumer).
    sets = shingle_set(docs, "doc_id", "text", shingle_k=3).persist()
    sets.count()
    sig = minhash_signatures(
        docs, "doc_id", "text", n_hashes=8, shingle_sets=sets
    )
    cand = lsh_candidate_pairs(sig, "doc_id", n_hashes=8, band_size=2)
    cont = containment_verify(cand, sets, "doc_id")
    return (
        cont.where(
            (F.col("contain_a_in_b") >= 0.9) | (F.col("contain_b_in_a") >= 0.9)
        )
        .orderBy("id_a", "id_b")
    )


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


# Gate thresholds for the declared entry: the quality_gate operator
# defaults (Gopher/C4-style first pass), which at the driver corpus
# reject a meaningful slice (~45% at sf0.01) while leaving the
# near-dup stage real work. The pipeline normalizes FIRST, so every
# stat below is computed on the normalized text — mirrored exactly in
# the oracle's `norm` CTE (lower → strip [.,!?;:] → collapse ws →
# trim, all with DuckDB's 'g' flag: Spark regexp_replace is global).
_MIN_TOKENS, _MAX_TOKENS = 30, 80
_MIN_ATL, _MAX_ATL = 2.0, 12.0
_MAX_SWR, _MAX_PR = 0.12, 0.2
_NEAR_DUP_THRESHOLD = 0.6

# Shared funnel head (normalize → gated stats → exact survivors):
# spelled ONCE and composed by both curation oracles (this entry and
# curation_keepbest_survivors, its keep-best × segment-dedup variant),
# so a gate-spelling or threshold change cannot silently decouple them
# (code-review r7).
_CURATION_HEAD_SQL = f"""norm AS (
      SELECT doc_id,
             trim(regexp_replace(regexp_replace(lower(text), '[.,!?;:]', '', 'g'),
                                 '\\s+', ' ', 'g')) AS nt
      FROM documents
    ),
    stats AS (
      -- token_stats on the NORMALIZED text, ratios display-rounded to
      -- 4 dp BEFORE the threshold compare (the operator gates on its
      -- rounded output columns — mirror or boundary docs flip).
      SELECT doc_id, nt,
             len(string_split(nt, ' ')) AS tc,
             round(((length(nt) - (len(string_split(nt, ' ')) - 1))::DOUBLE
                   / len(string_split(nt, ' '))) * 10000.0) / 10000.0 AS atl,
             round((len(list_filter(string_split(nt, ' '), t -> t IN {_STOP_SQL}))::DOUBLE
                   / len(string_split(nt, ' '))) * 10000.0) / 10000.0 AS swr,
             round((CASE WHEN length(nt) > 0
                         THEN len(regexp_extract_all(nt, '[.,!?;:]'))::DOUBLE
                              / length(nt)
                    END) * 10000.0) / 10000.0 AS pr
      FROM norm
    ),
    gate AS (
      -- NULL stats (NULL/empty text) route to REJECT, as the
      -- pipeline's coalesce(passed, FALSE) does.
      SELECT doc_id, nt,
             coalesce(tc BETWEEN {_MIN_TOKENS} AND {_MAX_TOKENS}
                      AND atl BETWEEN {_MIN_ATL} AND {_MAX_ATL}
                      AND swr <= {_MAX_SWR} AND pr <= {_MAX_PR},
                      FALSE) AS passed
      FROM stats
    ),
    passed AS (SELECT doc_id, nt FROM gate WHERE passed),
    hsurv AS (SELECT min(doc_id) AS doc_id FROM passed GROUP BY md5(nt)),
    exact AS (SELECT doc_id, nt FROM passed
              WHERE doc_id IN (SELECT doc_id FROM hsurv))"""

_CURATION_SQL = f"""
    WITH RECURSIVE
    {_CURATION_HEAD_SQL},
    toks AS (
      SELECT doc_id, unnest(string_split(nt, ' ')) AS token,
             generate_subscripts(string_split(nt, ' '), 1) AS pos
      FROM exact
    ), sh AS (
      SELECT doc_id, pos,
             token || ' ' || lead(token, 1) OVER w || ' '
                   || lead(token, 2) OVER w AS shingle
      FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ), shf AS (SELECT doc_id, pos, shingle FROM sh WHERE shingle IS NOT NULL),
    {_near_dup_tail(band_size=2, as_cte=True)},
    edges AS (
      SELECT id_a AS u, id_b AS v FROM pairs WHERE jaccard >= {_NEAR_DUP_THRESHOLD}
      UNION ALL
      SELECT id_b AS u, id_a AS v FROM pairs WHERE jaccard >= {_NEAR_DUP_THRESHOLD}
    ),
    nodes AS (SELECT DISTINCT u AS node FROM edges),
    reach AS (
      SELECT node, node AS lbl FROM nodes
      UNION
      SELECT e.v AS node, r.lbl FROM reach r JOIN edges e ON e.u = r.node
    ),
    lab AS (SELECT node, min(lbl) AS cluster FROM reach GROUP BY node),
    losers AS (SELECT node AS doc_id FROM lab WHERE node <> cluster),
    kept AS (SELECT doc_id FROM exact
             WHERE doc_id NOT IN (SELECT doc_id FROM losers)),
    outs AS (
      SELECT doc_id, 'rejected:quality_gate' AS outcome FROM gate WHERE NOT passed
      UNION ALL
      SELECT doc_id, 'rejected:exact_dedup' AS outcome FROM passed
       WHERE doc_id NOT IN (SELECT doc_id FROM hsurv)
      UNION ALL
      SELECT doc_id, 'rejected:near_dedup' AS outcome FROM losers
      UNION ALL
      SELECT doc_id, CASE WHEN b < 204 THEN 'split:train'
                          WHEN b < 230 THEN 'split:val'
                          ELSE 'split:test' END AS outcome
      FROM (SELECT doc_id, {_SPLIT_BYTE} AS b FROM kept)
    )
    SELECT doc_id, outcome FROM outs ORDER BY doc_id
"""


@q("curation_pipeline_survivors", _CURATION_SQL)
def curation_pipeline_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship composition: normalize → quality gate → exact
    dedup → MinHash-LSH near-dup (keep-first) → md5 split, one outcome
    row per input document (funnel conservation: |out| == |in|, every
    doc labeled exactly once). Runs the REAL pipeline object — not a
    re-spelling of its stages — so the entry certifies the surface a
    user actually calls.

    Scale shape: every stage is the already-audited operator (map-only
    gate, digest-only exact shuffle, banded LSH — never all-pairs,
    metadata-scale component closure, map-only split); the composition
    adds only semi/anti joins on the id column."""
    from .curation import CurationConfig, CurationPipeline

    docs = _t_wide(spark, sf_dir, "documents")
    cfg = CurationConfig(
        min_tokens=_MIN_TOKENS,
        max_tokens=_MAX_TOKENS,
        min_avg_token_len=_MIN_ATL,
        max_avg_token_len=_MAX_ATL,
        max_stopword_ratio=_MAX_SWR,
        max_punct_ratio=_MAX_PR,
        near_dup_threshold=_NEAR_DUP_THRESHOLD,
    )
    pipe = CurationPipeline(spark, config=cfg)
    return pipe.classify(docs.select("doc_id", "text")).orderBy("doc_id")


_KEEPBEST_SEG = 10  # CurationConfig.segment_len default
_THRESHOLD = 0.5  # looser than the base entry: keep-best needs clusters

# The normalize → stats → gate → passed → hsurv → exact head is the
# SHARED _CURATION_HEAD_SQL (same thresholds, same rounded-stat gating);
# the segment stage splices in after `exact` and the shingle source
# switches to the REWRITTEN text.
_KEEPBEST_SQL = f"""
    WITH RECURSIVE
    {_CURATION_HEAD_SQL},
    -- segment-dedup rewrite (doc_segment_dedup_rewrite's proven SQL,
    -- applied to the NORMALIZED text of the exact survivors): keep the
    -- first corpus-wide occurrence of every {_KEEPBEST_SEG}-token window,
    -- ordered (doc_id, seg_id); reassemble survivors in position order
    segt AS (SELECT doc_id, string_split(nt, ' ') AS toks FROM exact),
    segn AS (SELECT doc_id, toks,
                    (greatest(len(toks) - {_KEEPBEST_SEG}, 0) + {_KEEPBEST_SEG} - 1)
                      // {_KEEPBEST_SEG} + 1 AS nseg
             FROM segt),
    segx AS (SELECT doc_id, toks,
                    unnest(generate_series(0, nseg - 1)) AS seg_id
             FROM segn),
    segh AS (
      SELECT doc_id, seg_id,
             array_to_string(
               toks[seg_id * {_KEEPBEST_SEG} + 1 : seg_id * {_KEEPBEST_SEG} + {_KEEPBEST_SEG}], ' ')
               AS seg_text
      FROM segx
    ),
    segr AS (
      SELECT doc_id, seg_id, seg_text,
             row_number() OVER (PARTITION BY md5(seg_text)
                                ORDER BY doc_id, seg_id) AS rn
      FROM segh
    ),
    rw AS (
      SELECT doc_id,
             sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS n_kept,
             coalesce(string_agg(seg_text, ' ' ORDER BY seg_id)
                        FILTER (WHERE rn = 1), '') AS rt
      FROM segr GROUP BY doc_id
    ),
    seg_kept AS (SELECT doc_id, rt AS nt FROM rw WHERE n_kept > 0),
    -- near-dup over the REWRITTEN text: 3-token shingles → MinHash →
    -- banded LSH → exact-Jaccard verify (the shared _near_dup_tail)
    toks AS (
      SELECT doc_id, unnest(string_split(nt, ' ')) AS token,
             generate_subscripts(string_split(nt, ' '), 1) AS pos
      FROM seg_kept
    ), sh AS (
      SELECT doc_id, pos,
             token || ' ' || lead(token, 1) OVER w || ' '
                   || lead(token, 2) OVER w AS shingle
      FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ), shf AS (SELECT doc_id, pos, shingle FROM sh WHERE shingle IS NOT NULL),
    {_near_dup_tail(band_size=2, as_cte=True)},
    edges AS (
      SELECT id_a AS u, id_b AS v FROM pairs WHERE jaccard >= {_THRESHOLD}
      UNION ALL
      SELECT id_b AS u, id_a AS v FROM pairs WHERE jaccard >= {_THRESHOLD}
    ),
    nodes AS (SELECT DISTINCT u AS node FROM edges),
    reach AS (
      SELECT node, node AS lbl FROM nodes
      UNION
      SELECT e.v AS node, r.lbl FROM reach r JOIN edges e ON e.u = r.node
    ),
    lab AS (SELECT node, min(lbl) AS cluster FROM reach GROUP BY node),
    -- keep-BEST survivor rule (near_dup_keep_best's proven argmax):
    -- longest ORIGINAL text wins, min-id tie-break — scored on the raw
    -- documents column even though clusters were built from the
    -- rewritten text (exactly what the pipeline does)
    scored AS (
      SELECT l.cluster, l.node,
             row_number() OVER (PARTITION BY l.cluster
                                ORDER BY length(d.text) DESC, l.node ASC)
               AS rn
      FROM lab l JOIN documents d ON d.doc_id = l.node
    ),
    losers AS (SELECT node AS doc_id FROM scored WHERE rn <> 1),
    kept AS (SELECT doc_id FROM seg_kept
             WHERE doc_id NOT IN (SELECT doc_id FROM losers)),
    outs AS (
      SELECT doc_id, 'rejected:quality_gate' AS outcome FROM gate WHERE NOT passed
      UNION ALL
      SELECT doc_id, 'rejected:exact_dedup' AS outcome FROM passed
       WHERE doc_id NOT IN (SELECT doc_id FROM hsurv)
      UNION ALL
      SELECT doc_id, 'rejected:segment_dedup' AS outcome FROM rw WHERE n_kept = 0
      UNION ALL
      SELECT doc_id, 'rejected:near_dedup' AS outcome FROM losers
      UNION ALL
      SELECT doc_id, CASE WHEN b < 204 THEN 'split:train'
                          WHEN b < 230 THEN 'split:val'
                          ELSE 'split:test' END AS outcome
      FROM (SELECT doc_id, {_SPLIT_BYTE} AS b FROM kept)
    )
    SELECT doc_id, outcome FROM outs ORDER BY doc_id
"""


@q("curation_keepbest_survivors", _KEEPBEST_SQL)
def curation_keepbest_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The variant-flag composition: normalize → quality gate → exact
    dedup → SEGMENT dedup (keep-first 10-token windows, rewrite) →
    MinHash-LSH near-dup on the rewritten text with KEEP-BEST survivor
    selection (longest original text, min-id tie-break) → md5 split.
    One outcome row per input document (funnel conservation), running
    the REAL pipeline object so the entry certifies the configured
    surface users call.

    Scale shape: adds to the audited base funnel one window shuffle on
    seg_hash (segment bodies capped at {_KEEPBEST_SEG} tokens each — the only
    stage that moves them) and one cluster-keyed window argmax over
    the near-dup members (a tiny fraction of the corpus). Everything
    else is the same digest/semi/anti-join machinery as the base
    entry."""
    from .curation import CurationConfig, CurationPipeline

    docs = _t_wide(spark, sf_dir, "documents")
    cfg = CurationConfig(
        min_tokens=_MIN_TOKENS,
        max_tokens=_MAX_TOKENS,
        min_avg_token_len=_MIN_ATL,
        max_avg_token_len=_MAX_ATL,
        max_stopword_ratio=_MAX_SWR,
        max_punct_ratio=_MAX_PR,
        near_dup_threshold=_THRESHOLD,
        near_dup_keep="best",
        segment_dedup=True,
        segment_len=_KEEPBEST_SEG,
    )
    pipe = CurationPipeline(spark, config=cfg)
    return pipe.classify(docs.select("doc_id", "text")).orderBy("doc_id")


@q(
    "doc_segment_dedup_incremental",
    f"""
    WITH {_SEGMENT_CTE},
    thr AS (SELECT (max(doc_id) // 5) * 4 AS t FROM documents),
    ranked AS (
      SELECT doc_id, seg_id, seg_text, seg_len,
             row_number() OVER (PARTITION BY seg_hash
                                ORDER BY doc_id, seg_id) AS rn
      FROM segh
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_segments,
           CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           CAST(sum(CASE WHEN rn = 1 THEN seg_len ELSE 0 END) AS BIGINT)
             AS tokens_kept,
           md5(coalesce(string_agg(seg_text, ' ' ORDER BY seg_id)
                          FILTER (WHERE rn = 1), '')) AS rewritten_md5
    FROM ranked, thr WHERE doc_id > thr.t
    GROUP BY doc_id ORDER BY doc_id
    """,
)
def doc_segment_dedup_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental segment dedup as a gated entry (VERDICT r9 item 8's
    optional IVM gate): the corpus splits at (max_id // 5) * 4 into an
    already-curated BASE (~80%) and a new DELTA batch; the base is
    reduced to its segment first-occurrence INDEX
    (``segment_first_index`` — the persistable bucketed state) and the
    delta is curated with ``segment_dedup_incremental`` — one
    |Δ|-sized window plus one hash join against the index, history
    never re-windowed. The oracle computes the FULL-corpus keep-first
    window and restricts output to delta docs: hash equality proves
    the incremental factorization (absent-from-index AND
    first-within-delta) is exactly the recompute, cross-engine.

    Scale shape: the recurring cost is |Δ| log |Δ| (delta window) +
    one co-located join against state bucketed by seg_hash; the index
    build is a map-side-combinable min-struct groupBy paid ONCE per
    base (and in steady state maintained append-only). This is the
    100 TB answer to the keep-best funnel's corpus-growing seg_hash
    shuffle measured in SCALING.md r9: re-curation joins, instead of
    re-windowing the corpus."""
    from ..operators.dedup import segment_dedup_incremental

    docs = _t_wide(spark, sf_dir, "documents")
    # integer `div`, not float `/`+cast: the float path loses exactness
    # past 2^53 and the oracle's `//` is integer floor division
    thr = docs.agg((F.expr("max(doc_id) div 5") * 4).alias("t"))
    with_thr = docs.crossJoin(F.broadcast(thr))
    base = with_thr.where(F.col("doc_id") <= F.col("t")).drop("t")
    delta = with_thr.where(F.col("doc_id") > F.col("t")).drop("t")
    return (
        segment_dedup_incremental(base, delta, "doc_id", "text", seg=_SEG)
        .select(
            "doc_id",
            "n_segments",
            "n_kept",
            "tokens_kept",
            F.md5("rewritten_text").alias("rewritten_md5"),
        )
        .orderBy("doc_id")
    )
