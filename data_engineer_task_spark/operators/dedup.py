"""Deduplication operators for training-data pipelines.

Exact and near-duplicate detection, all as shuffle-conscious DataFrame
programs:

 - exact: hash-groupBy keep-first — one shuffle on the hash
 - MinHash + LSH: shingle → per-seed min-hash signature → band buckets →
   bucket self-join for candidates → exact Jaccard verification.
   The self-join is on (band, value) buckets, never all-pairs: at 100 TB
   the candidate set is the only quadratic-ish object and banding keeps
   it near-linear for realistic dup rates.

Determinism: "random" hash functions are md5 over a seed prefix —
reproducible across runs, engines, and languages (same trick the
SQL oracle uses, so results are bit-comparable).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from .text import shingles_from_text

# Above this many candidate pairs the verify joins stop FORCING a
# broadcast of the candidate list (an explicit hint bypasses Spark's
# size guard; ~5M pairs ≈ low hundreds of MB hashed — past it, AQE
# plans from the persisted frame's real size). Candidates grow
# linearly with corpus at a fixed dup rate, so a fixed hint is a
# driver-OOM at 100 TB.
BROADCAST_CANDIDATE_LIMIT = 5_000_000


def exact_dedup(
    df: DataFrame, key_cols: list[str], id_col: str
) -> DataFrame:
    """Keep-first (min id) per key group — the distributed form of the
    reference's ``drop_duplicates`` keep-first (``task.py:99``, SURVEY
    §2 T12), with an explicit deterministic survivor rule."""
    return (
        df.groupBy(*key_cols)
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("n_duplicates"),
        )
        .select(id_col, *key_cols, "n_duplicates")
    )


def content_hash_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact content dedup by md5 — hash first so the shuffle carries
    32-byte digests, not document bodies."""
    hashed = df.select(id_col, F.md5(F.col(text_col)).alias("content_hash"))
    return exact_dedup(hashed, ["content_hash"], id_col)


def shingle_set(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_k: int = 3,
    shingle_mode: str = "token",
) -> DataFrame:
    """The canonical (id, shingle) set frame: per-document shingles
    deduplicated IN-ROW (``array_distinct`` before the explode — a
    document's shingles are row-local, so a global ``.distinct()``
    would shuffle the widest frame in the pipeline to do what a
    map-side array op does for free). Returned UNPERSISTED: callers
    that feed it to multiple consumers persist + eagerly count it
    themselves (AQE launches consumer stages concurrently and racing
    writers would each recompute the subplan)."""
    from .text import char_shingle_array, token_shingle_array

    arr = {
        "token": lambda c: token_shingle_array(c, k=shingle_k),
        "char": lambda c: char_shingle_array(c, k=shingle_k),
    }[shingle_mode](F.col(text_col))
    return df.select(
        F.col(id_col), F.explode(F.array_distinct(arr)).alias("shingle")
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n_hashes: int = 8,
    shingle_k: int = 3,
    shingle_sets: DataFrame | None = None,
) -> DataFrame:
    """Per-document MinHash signature: mh_i = min over shingles of
    md5('<i>:' || shingle). One groupBy with n_hashes aggregates —
    a single shuffle regardless of signature width, and a CHEAP one:
    a document's shingles are row-local, so map-side partial
    aggregation collapses to one (id, 8×32-byte digests) row per doc
    before anything moves. Pass ``shingle_sets`` (id, shingle) to
    reuse an already-computed (e.g. persisted) shingle frame; min over
    the set equals min over the bag, so distinct or not both give the
    same signature.

    NOTE (measured, sf0.1): the tempting "zero-shuffle" rewrite —
    ``array_min(transform(arr, s -> md5(...)))`` in-row — is 2-3×
    SLOWER end-to-end: higher-order-function lambdas evaluate
    interpreted (outside codegen) and allocate n_hashes temp arrays
    per row, while this explode+aggregate form keeps md5 inside
    whole-stage codegen and moves no more data than the in-row form.
    Don't "optimize" it back."""
    sh = (
        shingle_sets
        if shingle_sets is not None
        else shingles_from_text(df, id_col, text_col, k=shingle_k)
    )
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("shingle")))).alias(f"mh_{i}")
        for i in range(n_hashes)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n_hashes: int = 8,
    shingle_k: int = 3,
    band_size: int = 2,
    threshold: float = 0.0,
    shingle_mode: str = "token",
    max_bucket_size: int | None = None,
    shingle_sets: DataFrame | None = None,
) -> DataFrame:
    """Full MinHash→LSH→exact-verify near-dup pipeline with the shingle
    set computed ONCE and persisted, then shared by the signature
    aggregation and the Jaccard verification joins. Without sharing,
    the shingle subplan (the widest intermediate — one row per (doc,
    shingle)) executes twice; the distinct set is also exactly what
    both consumers need, so the cache holds the narrowest sufficient
    frame. The per-document set is deduplicated IN-ROW
    (``array_distinct`` before the explode): a document's shingles all
    live in its own row, so a global ``.distinct()`` — a full shuffle
    of the widest frame in the pipeline — would move 100 TB to do what
    a map-side array op does for free. ``shingle_mode``: 'token'
    (k-token) or 'char' (k-char n-grams — tokenization-free, robust to
    spacing/punctuation).

    Caching note: three intermediates (sets/sigs/cands) stay persisted
    after the returned DataFrame is consumed — they back its lineage,
    so the operator cannot unpersist them itself. One-shot pipelines
    are unaffected; loop/service callers should
    ``spark.catalog.clearCache()`` between corpora."""
    if shingle_sets is not None:
        # caller supplies an (id, shingle) frame it already persisted —
        # the cross-operator sharing path (e.g. the LSH-recall eval
        # runs this AND the exact join on one shingle build).
        sets = shingle_sets
    else:
        sets = shingle_set(
            df, id_col, text_col, shingle_k=shingle_k, shingle_mode=shingle_mode
        ).persist()
        # Materialize the cache eagerly: the downstream plan references
        # `sets` four times (signatures, both verify sides, sizes) and
        # AQE launches those stages concurrently — racing writers would
        # each recompute the full shingle subplan instead of hitting
        # the cache.
        sets.count()
    # Persist the (narrow: id + n_hashes digests) signature frame too:
    # the LSH band self-join consumes it on BOTH sides, and without the
    # cache each side re-runs the 8-way md5-min aggregation.
    sigs = minhash_signatures(
        df, id_col, text_col, n_hashes=n_hashes, shingle_sets=sets
    ).persist()
    # Materialize eagerly (code-review r5): the LSH band self-join
    # consumes sigs on BOTH sides, and a lazily-persisted
    # InMemoryRelation lets AQE's racing scan stages each recompute
    # partitions of the widest aggregation — the same racing-writers
    # hazard the sets.count() above documents.
    sigs.count()
    # Persist + materialize candidates as well: jaccard_verify references
    # them twice (intersection branch + final assembly), and without the
    # cache the whole signature/band-join subplan executes twice.
    cands = lsh_candidate_pairs(
        sigs,
        id_col,
        n_hashes=n_hashes,
        band_size=band_size,
        max_bucket_size=max_bucket_size,
    ).persist()
    n_cand = cands.count()
    return jaccard_verify(
        df,
        cands,
        id_col,
        text_col,
        shingle_k=shingle_k,
        threshold=threshold,
        shingle_sets=sets,
        # the materialization count doubles as the broadcast-safety
        # gate (see BROADCAST_CANDIDATE_LIMIT)
        broadcast_candidates=n_cand <= BROADCAST_CANDIDATE_LIMIT,
    )


def _band_array(n_hashes: int, band_size: int):
    """The banded-signature expression BOTH candidate generators share
    (and the SQL oracles mirror in analytics.py::_near_dup_tail /
    ext19's _BAND_CASE): band value = md5 of the '|'-joined member
    hashes. One definition — the incremental-vs-batch invariant test
    depends on these staying byte-identical."""
    n_bands = n_hashes // band_size
    return F.array(
        *[
            F.md5(
                F.concat_ws(
                    "|",
                    *[F.col(f"mh_{b * band_size + j}") for j in range(band_size)],
                )
            )
            for b in range(n_bands)
        ]
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str,
    *,
    n_hashes: int = 8,
    band_size: int = 2,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Band the signature and self-join on (band index, band value):
    documents agreeing on ALL hashes of any band become a candidate
    pair. Returns distinct (id_a, id_b) with id_a < id_b.

    Hot-bucket cap (VERDICT r1 next-9): a degenerate band value — every
    empty/boilerplate document lands in ONE bucket — makes that
    bucket's self-join O(bucket²), the one quadratic risk banding
    can't bound by itself. With ``max_bucket_size`` set, members of a
    bucket of size s > max split into ceil(s/max) salted sub-buckets
    (engine-portable md5 salt keyed by id ALONE — deterministic across
    runs; equal-size buckets therefore split identically across
    bands, and buckets of DIFFERING sizes split with different
    moduli, so a pair dropped in one band can resurface in another —
    the bound below is per bucket, and the cross-band union is at
    most n_bands× it, still linear in n at fixed max) and pairs
    generate only within a sub-bucket, bounding each original
    bucket's expected candidates by ~ceil(s/max)·(max²/2) instead of
    s²/2. The price is recall only INSIDE degenerate
    buckets (cross-sub-bucket pairs skipped) — exactly the slice exact
    dedup already catches, since a bucket only degenerates when
    signatures collide en masse (near-identical content). Default off:
    the oracle-paired declared queries keep byte-stable semantics; at
    100 TB, set it (e.g. 10_000) as the skew backstop."""
    if n_hashes % band_size:
        raise ValueError(
            f"band_size={band_size} must divide n_hashes={n_hashes} — "
            "otherwise the trailing hashes are computed but never banded, "
            "silently changing LSH recall"
        )
    banded = signatures.select(
        F.col(id_col),
        F.posexplode(_band_array(n_hashes, band_size)).alias("band", "band_val"),
    )
    join_keys = [
        (F.col("a.band") == F.col("b.band")),
        (F.col("a.band_val") == F.col("b.band_val")),
    ]
    if max_bucket_size is not None:
        from .sampling import _md5_uint16

        sizes = banded.groupBy("band", "band_val").agg(
            F.count(F.lit(1)).alias("_bsz")
        )
        n_split = F.ceil(F.col("_bsz") / F.lit(max_bucket_size))
        salt = F.when(F.col("_bsz") <= max_bucket_size, F.lit(0)).otherwise(
            F.pmod(_md5_uint16(F.col(id_col).cast("string"), salt="lshb:"), n_split)
        )
        banded = banded.join(sizes, ["band", "band_val"]).withColumn(
            "_salt", salt
        )
        join_keys.append(F.col("a._salt") == F.col("b._salt"))
    a = banded.alias("a")
    b = banded.alias("b")
    cond = join_keys[0]
    for k in join_keys[1:]:
        cond = cond & k
    return (
        a.join(b, cond & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def lsh_match_against(
    corpus_sigs: DataFrame,
    query_sigs: DataFrame,
    id_col: str,
    *,
    n_hashes: int = 8,
    band_size: int = 2,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """INCREMENTAL dedup primitive: match a new batch's signatures
    against an existing corpus's — the shape every production crawl
    pipeline needs (dedup today's batch vs everything already
    ingested) that a self-join can't express. Bands both frames
    identically and equi-joins query bands to corpus bands; returns
    distinct (id_q, id_c).

    Scale: the corpus side is banded ONCE and can be a persisted /
    pre-materialized band table that successive batches join against —
    each increment then costs one shuffle of the (small) batch, never
    a re-scan of the corpus text.

    Hot-bucket cap: with ``max_bucket_size`` set, a degenerate band
    value (empty/boilerplate docs massed in BOTH corpus and batch)
    can't make the query × corpus bucket join quadratic: corpus
    members of a bucket of size s > max split into ceil(s/max)
    md5-salted sub-buckets (salt keyed by id alone, same scheme as
    ``lsh_candidate_pairs``), and each QUERY member is salted with the
    SAME modulus — derived from the CORPUS bucket size, so the two
    sides agree — landing it in exactly one sub-bucket. Each query row
    then meets ~max corpus rows per degenerate band instead of s. The
    recall price is cross-sub-bucket matches inside degenerate buckets
    only — the near-identical-content slice exact dedup already
    catches. Default off: byte-stable semantics for oracle-paired
    entries; at 100 TB set it (e.g. 10_000) as the skew backstop."""
    if n_hashes % band_size:
        raise ValueError(
            f"band_size={band_size} must divide n_hashes={n_hashes}"
        )
    bands = _band_array(n_hashes, band_size)
    bc = corpus_sigs.select(
        F.col(id_col).alias("id_c"), F.posexplode(bands).alias("band", "band_val")
    )
    bq = query_sigs.select(
        F.col(id_col).alias("id_q"), F.posexplode(bands).alias("band", "band_val")
    )
    join_keys = ["band", "band_val"]
    if max_bucket_size is not None:
        from .sampling import _md5_uint16

        sizes = bc.groupBy("band", "band_val").agg(
            F.count(F.lit(1)).alias("_bsz")
        )
        n_split = F.ceil(F.col("_bsz") / F.lit(max_bucket_size))

        def _salt(idc):
            return F.when(
                F.col("_bsz") <= max_bucket_size, F.lit(0)
            ).otherwise(
                F.pmod(_md5_uint16(F.col(idc).cast("string"), salt="lshb:"), n_split)
            )

        bc = bc.join(sizes, ["band", "band_val"]).withColumn(
            "_salt", _salt("id_c")
        )
        # inner join: a query band value absent from the corpus has no
        # matches anyway, so dropping it loses nothing.
        bq = bq.join(sizes, ["band", "band_val"]).withColumn(
            "_salt", _salt("id_q")
        )
        join_keys.append("_salt")
    return bq.join(bc, join_keys).select("id_q", "id_c").distinct()


def jaccard_verify(
    df: DataFrame,
    candidates: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_k: int = 3,
    threshold: float = 0.0,
    shingle_sets: DataFrame | None = None,
    broadcast_candidates: bool = True,
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs. Joins the distinct
    (id, shingle) set to itself THROUGH the candidate list, so cost is
    O(candidates × shingles), never all-pairs.
    Output: id_a, id_b, jaccard (rounded 4). Pass ``shingle_sets``
    (id, shingle, already distinct) to reuse a shared/persisted frame."""
    sets = (
        shingle_sets
        if shingle_sets is not None
        else shingles_from_text(df, id_col, text_col, k=shingle_k)
        .select(id_col, "shingle")
        .distinct()
    )
    sizes = sets.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    sa = sets.select(F.col(id_col).alias("id_a"), "shingle")
    sb = sets.select(
        F.col(id_col).alias("id_b_r"), F.col("shingle").alias("shingle_b")
    )
    # Broadcast the candidate list, NOT the shingle sets: LSH banding
    # keeps candidates ≪ corpus, while `sa`/`sb` are the widest
    # frames in the pipeline (left unhinted, Spark broadcast a 1.35M-row
    # hashed relation here at sf0.1). The candidate-restricted product
    # then meets `sb` at whatever strategy AQE picks from real sizes.
    # ``broadcast_candidates=False`` (self-review r6): candidates GROW
    # linearly with corpus at a fixed dup rate, and an explicit
    # F.broadcast OVERRIDES Spark's size checks — at 100 TB a
    # billions-of-pairs list would OOM the driver. near_duplicates
    # already counts the candidates and flips this off past
    # BROADCAST_CANDIDATE_LIMIT, letting AQE plan from the persisted
    # frame's real size instead.
    cand_side = (
        F.broadcast(candidates) if broadcast_candidates else candidates
    )
    inter = (
        cand_side
        .join(sa, "id_a")
        .join(
            sb,
            (F.col("id_b") == F.col("id_b_r"))
            & (F.col("shingle") == F.col("shingle_b")),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    na = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    nb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        candidates.join(inter, ["id_a", "id_b"], "left")
        .na.fill({"n_inter": 0})
        .join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a",
            "id_b",
            # Scale-then-divide: round(n*1e4/union)/1e4 puts the round on a
            # double both engines compute identically (int*1e4 is exact),
            # avoiding half-way disagreements between Spark's BigDecimal
            # half-up and DuckDB's std::round on round((x) * 10000.0) / 10000.0.
            (
                F.round(
                    F.col("n_inter")
                    * 10000.0
                    / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
                )
                / 10000.0
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def jaccard_join_exact(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    threshold: float = 0.5,
    shingle_k: int = 3,
    shingle_sets: DataFrame | None = None,
) -> DataFrame:
    """EXACT similarity self-join: every pair with shingle-set Jaccard
    >= threshold, guaranteed no false negatives — the deterministic
    counterpart of the MinHash/LSH family (which trades recall for
    candidate count). Scale comes from PPJoin-style **prefix
    filtering** (Xiao et al., WWW'08): order each document's shingles
    by global rarity (document frequency asc, shingle asc — a total
    order), keep only the first ``|S| - ceil(t*|S|) + 1`` as its
    prefix, and generate candidates from prefix∩prefix instead of
    set∩set. Any pair meeting the threshold MUST share a prefix
    element under a fixed global order, so the candidate set is a
    superset of the answer; rare-first ordering makes it a SMALL
    superset (hot shingles fall out of every prefix, which also
    removes the skewed keys from the candidate self-join). Exact
    verification then computes true Jaccard in-row on the joined
    shingle arrays. Shuffles: one on shingle for df, one on shingle
    for the candidate join (rare keys only), one on id for arrays —
    never an all-pairs product.

    The membership test is on the TRUE Jaccard (the pruning bounds
    guarantee recall only for true J >= t; a rounded-value filter
    would admit pairs just below t that the pruning may drop). All
    float pruning bounds carry a 1e-9 downward slack so thresholds
    whose binary representation rounds UP (e.g. 0.4: t/(1+t) floats
    above 2/7) never over-tighten an exact-boundary pair away — the
    slack can only admit a few extra candidates, never lose one.

    Caching note: the shingle-set frame stays persisted after the
    returned DataFrame is consumed (it backs its lineage; a frame the
    caller passed as ``shingle_sets=`` stays the caller's); loop or
    service callers should ``spark.catalog.clearCache()`` between
    corpora — same constraint as ``near_duplicates``."""
    if shingle_sets is not None:
        sets = shingle_sets  # caller-persisted shared frame
    else:
        sets = shingle_set(df, id_col, text_col, shingle_k=shingle_k).persist()
        sets.count()  # materialize before AQE races the three consumers

    cands = _ppjoin_candidates(sets, id_col, threshold)
    arrs = sets.groupBy(id_col).agg(
        F.array_sort(F.collect_set("shingle")).alias("shset")
    )
    aa = arrs.select(
        F.col(id_col).alias("id_a"), F.col("shset").alias("sh_a")
    )
    ab = arrs.select(
        F.col(id_col).alias("id_b"), F.col("shset").alias("sh_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        cands.join(aa, "id_a")
        .join(ab, "id_b")
        # membership on TRUE Jaccard (matches the pruning guarantee);
        # the reported value uses scale-then-divide rounding — see
        # jaccard_verify above
        .where(inter * 1.0 / union >= F.lit(threshold))
        .select(
            "id_a",
            "id_b",
            inter.cast("long").alias("n_common"),
            (F.round(inter * 10000.0 / union) / 10000.0).alias("jaccard"),
        )
    )


def _ppjoin_candidates(
    sets: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """The PPJoin candidate stage of ``jaccard_join_exact``, factored
    out so the soak harness can time/count candidates separately from
    exact verification (VERDICT r9 item 4 stage attribution). Pure
    refactor: the composed plan is byte-identical."""
    dfreq = sets.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    ranked = sets.join(dfreq, "shingle")
    wsz = W.partitionBy(id_col)
    word = W.partitionBy(id_col).orderBy(F.asc("df"), F.asc("shingle"))
    prefix_len = (
        F.count(F.lit(1)).over(wsz)
        - F.ceil(F.count(F.lit(1)).over(wsz) * F.lit(threshold) - 1e-9)
        + 1
    )
    prefix = (
        ranked.select(
            id_col,
            "shingle",
            F.row_number().over(word).alias("_rn"),
            F.count(F.lit(1)).over(wsz).alias("_n"),
            prefix_len.alias("_plen"),
        )
        .where(F.col("_rn") <= F.col("_plen"))
        .select(id_col, "shingle", "_rn", "_n")
    )
    pa = prefix.select(
        F.col(id_col).alias("id_a"),
        "shingle",
        F.col("_rn").alias("rn_a"),
        F.col("_n").alias("n_a"),
    )
    pb = prefix.select(
        F.col(id_col).alias("id_b"),
        F.col("shingle").alias("shingle_b"),
        F.col("_rn").alias("rn_b"),
        F.col("_n").alias("n_b"),
    )
    t = float(threshold)
    # PPJoin pruning predicates, applied INSIDE the candidate join so
    # pruned pairs never reach the distinct shuffle:
    #  - length filter: Jac(A,B) >= t forces t*|B| <= |A| (and sym.)
    #  - positional filter: matching at prefix positions (i, j) leaves
    #    at most 1 + min(|A|-i, |B|-j) common shingles, which must
    #    reach the overlap bound ceil(t/(1+t)*(|A|+|B|))
    overlap_min = F.ceil(
        F.lit(t / (1.0 + t)) * (F.col("n_a") + F.col("n_b")) - 1e-9
    )
    cands = (
        pa.join(
            pb,
            (pa.shingle == pb.shingle_b)
            & (pa.id_a < pb.id_b)
            & (F.col("n_a") >= F.lit(t) * F.col("n_b") - 1e-9)
            & (F.col("n_b") >= F.lit(t) * F.col("n_a") - 1e-9)
            & (
                F.lit(1)
                + F.least(
                    F.col("n_a") - F.col("rn_a"), F.col("n_b") - F.col("rn_b")
                )
                >= overlap_min
            ),
        )
        .select("id_a", "id_b")
        .distinct()
    )
    return cands


def text_segments(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    seg: int = 10,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Fixed-window exact-substring units (Lee et al. 2022
    approximated with non-overlapping ``seg``-token windows): one row
    per segment with position, text, token length, and md5 hash —
    entirely in-row (sequence → explode → slice), zero shuffle. The
    md5 means downstream shuffles can carry the 32-char digest
    instead of segment bodies whenever the body isn't needed."""
    toks = F.split(text_col, " ")
    nseg = (
        F.floor((F.greatest(F.size(toks) - seg, F.lit(0)) + seg - 1) / seg).cast(
            "int"
        )
        + 1
    )
    s = df.select(
        id_col,
        *keep_cols,
        toks.alias("_toks"),
        F.explode(F.sequence(F.lit(0), nseg - 1)).alias("seg_id"),
    )
    chunk = F.slice("_toks", F.col("seg_id") * seg + 1, seg)
    return s.select(
        id_col,
        *keep_cols,
        F.col("seg_id").cast("long").alias("seg_id"),
        F.array_join(chunk, " ").alias("seg_text"),
        F.size(chunk).cast("long").alias("seg_len"),
        F.md5(F.array_join(chunk, " ")).alias("seg_hash"),
    )


def segment_dedup_rewrite(
    df: DataFrame, id_col: str, text_col: str, *, seg: int = 10
) -> DataFrame:
    """Corpus-wide exact-substring dedup REWRITE: keep only the first
    occurrence (ordered by (id, position) — ingestion order) of every
    ``seg``-token segment and reassemble each document from its
    survivors. Returns (id, n_segments, n_kept, tokens_kept,
    rewritten_text); fully-duplicated documents come back with
    n_kept = 0 and empty text. ONE window shuffle on seg_hash — the
    only stage that must move segment bodies, each capped at ``seg``
    tokens — then a per-doc aggregate whose position-sorted
    reassembly is deterministic."""
    segs = text_segments(df, id_col, text_col, seg=seg)
    rn = F.row_number().over(
        W.partitionBy("seg_hash").orderBy(id_col, "seg_id")
    )
    ranked = segs.select(
        id_col, "seg_id", "seg_text", "seg_len", rn.alias("rn")
    )
    kept_struct = F.when(F.col("rn") == 1, F.struct("seg_id", "seg_text"))
    return ranked.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_segments"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_kept"),
        F.sum(F.when(F.col("rn") == 1, F.col("seg_len")).otherwise(0))
        .cast("long")
        .alias("tokens_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(kept_struct)),
                lambda s: s["seg_text"],
            ),
            " ",
        ).alias("rewritten_text"),
    )


def segment_first_index(
    df: DataFrame, id_col: str, text_col: str, *, seg: int = 10
) -> DataFrame:
    """The persistable STATE of incremental segment dedup: one row per
    distinct segment hash with its first occurrence ``(seg_hash,
    first_id, first_seg_id)`` under ingestion order (id, seg_id).

    Built with a map-side-combinable ``min(struct)`` groupBy — NOT a
    window — so constructing (and later compacting) the index never
    funnels a hash's occurrences through one task beyond the combine.
    At 100 TB this frame is the thing you persist bucketed by
    ``seg_hash`` (`writer.bucketBy`): the incremental join in
    ``segment_dedup_incremental`` then co-locates with the state and
    only the new batch shuffles."""
    segs = text_segments(df, id_col, text_col, seg=seg)
    first = F.min(
        F.struct(F.col(id_col).alias("first_id"),
                 F.col("seg_id").alias("first_seg_id"))
    ).alias("_f")
    return segs.groupBy("seg_hash").agg(first).select(
        "seg_hash", "_f.first_id", "_f.first_seg_id"
    )


def segment_dedup_incremental(
    base: DataFrame,
    delta: DataFrame,
    id_col: str,
    text_col: str,
    *,
    seg: int = 10,
    index: DataFrame | None = None,
) -> DataFrame:
    """Incremental (IVM-style) exact-substring dedup: curate ONLY the
    new batch against the already-curated base, without re-windowing
    the whole corpus (VERDICT r9 item 8 — the seg_hash window is the
    keep-best funnel's one corpus-growing stage, and re-curation
    must not pay it again for history).

    Exactness: when every base id precedes every delta id (ingestion
    order), the full-corpus keep-first rule restricted to delta rows
    factorizes EXACTLY as

        delta row is kept  ⇔  its hash is absent from the base index
                              AND it is the first occurrence within
                              the delta batch

    — the base side enters only through the first-occurrence INDEX
    (``segment_first_index``), so the recurring cost is one |Δ|-sized
    window plus one hash join against persisted state; history is
    never re-scanned. Output schema matches
    ``segment_dedup_rewrite`` restricted to delta documents (the
    gated entry hash-proves that equivalence cross-engine).

    State maintenance: the next index = index ∪ (fresh delta hashes'
    first occurrences) — append-only; with the index bucketed by
    seg_hash both the probe join and the append are co-located."""
    if index is None:
        index = segment_first_index(base, id_col, text_col, seg=seg)
    segs_d = text_segments(delta, id_col, text_col, seg=seg)
    rn = F.row_number().over(
        W.partitionBy("seg_hash").orderBy(id_col, "seg_id")
    )
    ranked = segs_d.select(
        id_col, "seg_id", "seg_text", "seg_len", rn.alias("rn"), "seg_hash"
    )
    probed = ranked.join(
        index.select("seg_hash", F.lit(1).alias("_in_base")),
        "seg_hash",
        "left",
    )
    keep = (F.col("rn") == 1) & F.col("_in_base").isNull()
    kept_struct = F.when(keep, F.struct("seg_id", "seg_text"))
    return probed.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_segments"),
        F.sum(F.when(keep, 1).otherwise(0)).cast("long").alias("n_kept"),
        F.sum(F.when(keep, F.col("seg_len")).otherwise(0))
        .cast("long")
        .alias("tokens_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(kept_struct)),
                lambda s: s["seg_text"],
            ),
            " ",
        ).alias("rewritten_text"),
    )


def containment_verify(
    candidates: DataFrame,
    shingle_sets: DataFrame,
    id_col: str,
    *,
    broadcast_candidates: bool = True,
) -> DataFrame:
    """Exact shingle-set CONTAINMENT for candidate pairs — the
    asymmetric companion of ``jaccard_verify``: |A∩B|/|A| and
    |A∩B|/|B| (rounded 1e-4) instead of the symmetric ratio, which is
    what detects a short document embedded in a longer one. Same join
    shape: the (tiny, banding-bounded) candidate list broadcasts into
    the caller-persisted (id, shingle) frame — never all-pairs, and
    the shingle frame is shared with signature generation. Pass
    ``broadcast_candidates=False`` past ``BROADCAST_CANDIDATE_LIMIT``
    pairs (same driver-OOM guard as ``jaccard_verify`` — an explicit
    hint bypasses Spark's size checks). Output:
    id_a, id_b, n_common, contain_a_in_b, contain_b_in_a."""
    sets = shingle_sets
    sizes = sets.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    sa = sets.select(F.col(id_col).alias("id_a"), "shingle")
    sb = sets.select(
        F.col(id_col).alias("id_b_r"), F.col("shingle").alias("shingle_b")
    )
    inter = (
        (F.broadcast(candidates) if broadcast_candidates else candidates)
        .join(sa, "id_a")
        .join(
            sb,
            (F.col("id_b") == F.col("id_b_r"))
            & (F.col("shingle") == F.col("shingle_b")),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    za = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("na"))
    zb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("nb"))
    # LEFT join + zero fill, mirroring jaccard_verify (code-review r5):
    # a candidate pair with NO shared shingles (a band collision of
    # disjoint sets) must report containment 0.0, not vanish — the
    # ext23 oracle has ALWAYS spelled the LEFT JOIN/coalesce(0), so
    # the former inner join here was a latent cross-engine divergence
    # waiting for the first disjoint banded candidate.
    return (
        candidates.join(inter, ["id_a", "id_b"], "left")
        .na.fill({"n_inter": 0})
        .join(za, "id_a")
        .join(zb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.col("n_inter").cast("long").alias("n_common"),
            (F.round(F.col("n_inter") * 10000.0 / F.col("na")) / 10000.0).alias(
                "contain_a_in_b"
            ),
            (F.round(F.col("n_inter") * 10000.0 / F.col("nb")) / 10000.0).alias(
                "contain_b_in_a"
            ),
        )
    )
