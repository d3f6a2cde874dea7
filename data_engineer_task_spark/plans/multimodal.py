"""Multimodal entries: binary media columns synthesized from the
documents table, then decoded, header-parsed, resized, frame-sampled
and featurized in Arrow batches.

Same contract as plans/analytics.py (see its authoring rules).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .shared import _t_wide, q


_HEXV = "instr('0123456789abcdef', substr(hx, {p}, 1)) - 1"


@q(
    "multimodal_decode",
    f"""
    WITH h AS (SELECT doc_id AS id, md5(text) AS hx FROM documents),
    b AS (
      SELECT id,
             ({_HEXV.format(p=1)}) * 16 + ({_HEXV.format(p=2)}) AS b0,
             ({_HEXV.format(p=3)}) * 16 + ({_HEXV.format(p=4)}) AS b1,
             ({_HEXV.format(p=31)}) * 16 + ({_HEXV.format(p=32)}) AS b15
      FROM h
    )
    SELECT id,
           CAST(16 AS BIGINT) AS byte_len,
           CASE b0 % 4 WHEN 0 THEN 'jpeg' WHEN 1 THEN 'png'
                       WHEN 2 THEN 'wav' ELSE 'mp4' END AS format,
           CAST(16 * (1 + b0 % 64) AS BIGINT) AS width,
           CAST(16 * (1 + b1 % 64) AS BIGINT) AS height,
           CAST(1 + b15 % 8 AS BIGINT) AS n_frames
    FROM b ORDER BY id
    """,
)
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal column plumbing end-to-end: synthesize a binary media
    column, then extract metadata via an Arrow-batched mapInPandas
    decode (deterministic fake codec — the real decoder is an
    env-gated drop-in). The oracle recomputes the same metadata in
    pure SQL, so the whole binary path is value-checked."""
    from ..operators.multimodal import decode_media, synthesize_media_column

    docs = _t_wide(spark, sf_dir, "documents")
    media = synthesize_media_column(docs, "doc_id", "text")
    return decode_media(media, "doc_id", "media").orderBy("id")


# DuckDB spelling of one md5-digest byte (1-based byte position p over
# the 32-char hex string) — same parse the multimodal_decode oracle
# uses, generalized to a lambda-bound position for list_transform.
_BYTE_AT_P = (
    "((instr('0123456789abcdef', substr(hx, 2 * p - 1, 1)) - 1) * 16"
    " + (instr('0123456789abcdef', substr(hx, 2 * p, 1)) - 1))"
)

# first payload byte (hex chars 1-2) — drives the fake codec's format
_B0 = (
    "((instr('0123456789abcdef', substr(hx, 1, 1)) - 1) * 16"
    " + (instr('0123456789abcdef', substr(hx, 2, 1)) - 1))"
)


@q(
    "multimodal_feature_topk",
    f"""
    WITH h AS (SELECT doc_id AS id, md5(text) AS hx FROM documents),
    -- decode: first payload byte selects the fake codec's format
    -- (b0 % 4 = 3 -> 'mp4'); featurize: byte-bucket histogram over the
    -- 16 payload bytes, L1-normalized (operators/multimodal.py
    -- fake_decode / extract_features re-derived in SQL)
    feats AS (
      SELECT id,
             list_transform(generate_series(0, 7), k ->
               CAST(len(list_filter(
                 list_transform(generate_series(1, 16),
                                p -> {_BYTE_AT_P} % 8),
                 x -> x = k)) AS DOUBLE) / 16.0) AS v
      FROM h
      WHERE {_B0} % 4 <> 3
    ),
    base AS (SELECT id, v, sqrt(list_dot_product(v, v)) AS nrm FROM feats),
    qv AS (SELECT * FROM base WHERE id < 40),
    pairs AS (
      SELECT qv.id AS query_id, b.id AS neighbor_id,
             round((list_dot_product(qv.v, b.v) / (qv.nrm * b.nrm))
                   * 100000.0) / 100000.0 AS cos_sim
      FROM qv JOIN base b ON b.id <> qv.id
    )
    SELECT query_id, neighbor_id, cos_sim FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC NULLS LAST,
                                            neighbor_id) AS rn
      FROM pairs
    ) WHERE rn <= 3
    ORDER BY query_id, cos_sim DESC NULLS LAST, neighbor_id
    """,
)
def multimodal_feature_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media → neighbors, end-to-end: synthesize the binary column,
    decode it (Arrow mapInPandas, fake codec), keep only non-video
    media (a DECODED-metadata predicate, so the decode step is load-
    bearing for the answer, not a dead branch), featurize the kept
    payloads (byte-bucket histogram → unit-L1 ``array<double>``), and
    answer cosine top-3 for the id<40 query panel with the brute-force
    baseline scorer.

    Determinism: 16-byte payloads make every feature an exact multiple
    of 1/16 (binary-representable), so vectors are bit-identical across
    engines; cosine ties (coarse 8-dim histograms collide often) break
    on neighbor_id in both spellings.

    Scale shape: decode and featurize are map-only Arrow stages over
    the binary column; the metadata filter joins NARROW frames (id +
    8 doubles vs id) so payload bytes never shuffle — at 100 TB a
    fused decode+featurize pass would also skip featurizing the
    filtered-out quarter, but the operators stay separately-contracted
    here on purpose (each is independently swappable for a real
    codec/encoder). The scorer is the declared brute-force baseline
    (queries ride the closure; one matmul per record batch; per-query
    top-k window) — the IVF/PQ entries are the corpus-scale path."""
    from ..operators.multimodal import (
        decode_media,
        extract_features,
        synthesize_media_column,
    )
    from ..operators.similarity import cosine_topk

    docs = _t_wide(spark, sf_dir, "documents")
    media = synthesize_media_column(docs, "doc_id", "text")
    meta = decode_media(media, "doc_id", "media")
    feats = extract_features(media, "doc_id", "media", dim=8)
    kept = feats.join(
        meta.where(F.col("format") != "mp4").select("id"), "id", "left_semi"
    )
    return cosine_topk(
        kept, "id", "features", query_filter=F.col("id") < 40, k=3
    ).orderBy("query_id", F.desc_nulls_last("cos_sim"), F.asc("neighbor_id"))


# last payload byte (hex chars 31-32) — drives the fake codec's
# n_frames, same parse as the multimodal_decode oracle's b15
_B15 = (
    "((instr('0123456789abcdef', substr(hx, 31, 1)) - 1) * 16"
    " + (instr('0123456789abcdef', substr(hx, 32, 1)) - 1))"
)

_RESIZE_W, _RESIZE_H = 40, 40  # -> 40*40//64 = 25 bytes (non-multiple
# of the 16-byte payload, so the cycle's truncation path is exercised)


@q(
    "multimodal_frame_sample",
    f"""
    WITH h AS (SELECT doc_id AS id, md5(text) AS hx FROM documents),
    nf AS (SELECT id, hx, 1 + ({_B15}) % 8 AS n_frames FROM h),
    -- frame at index i = payload rotated left by i bytes (i < 16 so
    -- k = i), truncated to 8 bytes = hex rotated by 2i chars, first 16
    fr AS (
      SELECT id, CAST(i AS BIGINT) AS frame_idx,
             substr(substr(hx, 2 * i + 1) || substr(hx, 1, 2 * i),
                    1, 16) AS frame_hex
      FROM nf, UNNEST(generate_series(0, n_frames - 1, 2)) AS t(i)
    )
    SELECT id, frame_idx, frame_hex FROM fr ORDER BY id, frame_idx
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-style frame sampling over the binary column: one media row
    fans out to one row per sampled frame (every 2nd index below the
    clip's fake-decoded frame count, 1-8 here) — the row-multiplying
    mapInPandas shape, value-checked by emitting each extracted
    frame's hex. Scale shape: map-only Arrow stage, fan-out bounded by
    n_frames/every_n per row; frames inherit the scan's partitioning
    and nothing shuffles until a consumer asks."""
    from ..operators.multimodal import sample_frames, synthesize_media_column

    docs = _t_wide(spark, sf_dir, "documents")
    media = synthesize_media_column(docs, "doc_id", "text")
    frames = sample_frames(media, "doc_id", "media", every_n=2)
    return frames.select(
        "id",
        "frame_idx",
        F.lower(F.hex("frame")).alias("frame_hex"),
    ).orderBy("id", "frame_idx")


@q(
    "multimodal_resize",
    f"""
    SELECT doc_id AS id,
           CAST({_RESIZE_W} AS BIGINT) AS width,
           CAST({_RESIZE_H} AS BIGINT) AS height,
           CAST({_RESIZE_W * _RESIZE_H // 64} AS BIGINT) AS byte_len,
           substr(md5(text) || md5(text), 1,
                  {2 * (_RESIZE_W * _RESIZE_H // 64)}) AS resized_hex
    FROM documents ORDER BY id
    """,
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image resize over the binary column: binary in → binary out,
    one row per row (the fake kernel cycles the payload to exactly
    width*height//64 bytes, so output size tracks the target box and
    the 25-byte target exercises mid-payload truncation). The output
    stays opaque binary — chainable into decode/featurize — and the
    gate pins the exact bytes via hex. Map-only Arrow stage; payloads
    never leave their scan partition."""
    from ..operators.multimodal import resize_media, synthesize_media_column

    docs = _t_wide(spark, sf_dir, "documents")
    media = synthesize_media_column(docs, "doc_id", "text")
    resized = resize_media(
        media, "doc_id", "media", width=_RESIZE_W, height=_RESIZE_H
    )
    return resized.select(
        "id",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.length("media").cast("long").alias("byte_len"),
        F.lower(F.hex("media")).alias("resized_hex"),
    ).orderBy("id")


def _be(col: Column, nbytes: int) -> Column:
    """Hex spelling of an nbytes big-endian unsigned field."""
    return F.lpad(F.hex(col), 2 * nbytes, "0")


def _le(col: Column, nbytes: int) -> Column:
    """Hex spelling of an nbytes little-endian unsigned field (the
    big-endian hex with its byte pairs reversed)."""
    s = F.lpad(F.hex(col), 2 * nbytes, "0")
    return F.concat(*[F.substring(s, 2 * i - 1, 2) for i in range(nbytes, 0, -1)])


@q(
    "multimodal_header_decode",
    """
    WITH p AS (
      -- parameters derive from q = doc_id // 4, NOT doc_id itself:
      -- the format selector m consumes doc_id's low bits, so any
      -- parameter still keyed on doc_id is CORRELATED with its own
      -- branch (r10 seam probe: ch = 1 + doc_id % 2 under m = 2 --
      -- which forces doc_id even -- could never reach ch = 2, and
      -- dl hit only {12, 28}); ch and dl further split q's parity
      -- (r = q // 2) so the ch x dl grid has no dead corners
      SELECT doc_id AS id, doc_id % 4 AS m,
             1 + (doc_id // 4) % 4096 AS w,
             1 + ((doc_id // 4) * 7) % 2160 AS h,
             8000 + ((doc_id // 8) % 40) * 1000 AS rate,
             1 + (doc_id // 4) % 2 AS ch,
             4 * (1 + (doc_id // 8) % 8) AS dl
      FROM documents
    )
    SELECT id,
           CAST(CASE m WHEN 0 THEN 29 WHEN 1 THEN 29
                       WHEN 2 THEN 44 + dl ELSE 17 END AS BIGINT) AS byte_len,
           CASE m WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
                  WHEN 2 THEN 'wav' ELSE 'unknown' END AS format,
           CAST(CASE m WHEN 0 THEN w WHEN 1 THEN w
                       WHEN 2 THEN rate ELSE 0 END AS BIGINT) AS width,
           CAST(CASE m WHEN 0 THEN h WHEN 1 THEN h
                       WHEN 2 THEN ch ELSE 0 END AS BIGINT) AS height,
           CAST(CASE m WHEN 0 THEN 1 WHEN 1 THEN 1
                       WHEN 2 THEN dl // (2 * ch) ELSE 0 END AS BIGINT) AS n_frames
    FROM p ORDER BY id
    """,
)
def multimodal_header_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-byte-format decode, end-to-end: each doc synthesizes a
    VALID media payload chosen by ``doc_id % 4`` —

    - m=0: a 29-byte PNG (signature + IHDR with 4-byte big-endian
      width/height, bit depth 8, color type 6),
    - m=1: a 29-byte JPEG (SOI, then a COM segment the marker walk
      must SKIP, then a full SOF0 with 2-byte big-endian
      height-before-width, then EOI),
    - m=2: a RIFF/WAVE file (little-endian fmt chunk: PCM, channels,
      sample rate, byte rate, block align; a data chunk whose length
      over block-align is the frame count; word-aligned sizes),
    - m=3: an unparseable payload (0x00 + md5 bytes) that must come
      back as the 'unknown' quarantine row with zeroed dims —

    then parses the bytes with the REAL ``header_decode`` through the
    pandas-free ``mapInArrow`` seam. Dims/rates/channels are doc_id
    arithmetic on q = id//4 (w = 1+q%4096, h = 1+(7q)%2160,
    rate = 8000+1000·((q//2)%40), ch = 1+q%2, data_len = 4·(1+(q//2)%8)
    — derived from the bits ABOVE the format selector m = id%4, so no
    parameter is correlated with its own branch and the ch × dl grid
    reaches every corner incl. ch=2/dl=4; r10 seam fix), so the oracle
    re-derives every output column without parsing anything: only a
    correct synthesis AND a correct parse can hash-match.

    Scale shape: synthesis is whole-stage-codegen string/hex expressions
    (no Python), decode is one map-only Arrow stage bounded at 64 KiB
    of payload per row here and by the scan's batch size in general;
    payloads never shuffle — the output is six narrow metadata columns
    that inherit the scan's partitioning."""
    from ..operators.multimodal import decode_media_arrow, header_decode

    docs = _t_wide(spark, sf_dir, "documents")
    media = synth_header_media(docs)
    return decode_media_arrow(
        media, "doc_id", "media", decode_fn=header_decode
    ).orderBy("id")


def synth_header_media(docs: DataFrame) -> DataFrame:
    """The entry's header synthesizer, factored for direct edge
    testing (valid for ANY non-negative doc_id: every derived field is
    modulo-bounded below its byte width). Input needs (doc_id, text);
    output is (doc_id, media binary)."""
    did = F.col("doc_id")
    m = F.pmod(did, F.lit(4))
    # all parameters derive from the bits ABOVE the format selector
    # (q = id >> 2, r = id >> 3; exact for the non-negative ids the
    # synthesizer is specified for — == the oracle's doc_id // 4 //
    # 2), so no field is correlated with its own branch (r10 seam
    # probe: ch keyed on id%2 under the m==2 branch could never be 2)
    qid = F.shiftright(did, 2)
    rid = F.shiftright(did, 3)
    w = (F.lit(1) + F.pmod(qid, F.lit(4096))).cast("long")
    # (q % 2160) * 7 % 2160 == (q * 7) % 2160, without the int64
    # multiply overflow a raw q*7 hits past ~1.3e18 under ANSI (found
    # by the extreme-id seam test; the oracle's //4 * 7 spelling is
    # safe at any reachable testdata id)
    h = (F.lit(1) + F.pmod(F.pmod(qid, F.lit(2160)) * 7, F.lit(2160))).cast(
        "long"
    )
    rate = (F.lit(8000) + F.pmod(rid, F.lit(40)) * 1000).cast("long")
    ch = (F.lit(1) + F.pmod(qid, F.lit(2))).cast("long")
    dl = (F.lit(4) * (F.lit(1) + F.pmod(rid, F.lit(8)))).cast("long")
    ba = (ch * 2).cast("long")

    png_hex = F.concat(
        F.lit("89504e470d0a1a0a0000000d49484452"),  # sig + IHDR len/tag
        _be(w, 4),
        _be(h, 4),
        F.lit("0806000000"),  # depth 8, color 6, compression/filter/interlace
    )
    jpeg_hex = F.concat(
        # SOI, COM(len 4, 2 payload bytes) — exercises the segment skip
        F.lit("ffd8fffe00045347"),
        F.lit("ffc0001108"),  # SOF0, seglen 17, precision 8
        _be(h, 2),
        _be(w, 2),
        F.lit("03012200021101031101"),  # 3 components (YCbCr specs)
        F.lit("ffd9"),  # EOI
    )
    # data-chunk payload: dl zero bytes, dl in {4,8,...,32}
    zeros = F.element_at(
        F.array(*[F.lit("00" * (4 * (i + 1))) for i in range(8)]),
        (F.pmod(rid, F.lit(8)) + 1).cast("int"),
    )
    wav_hex = F.concat(
        F.lit("52494646"),  # "RIFF"
        _le(dl + 36, 4),
        F.lit("57415645666d742010000000"),  # "WAVE" + "fmt " + len 16
        F.lit("0100"),  # PCM
        _le(ch, 2),
        _le(rate, 4),
        _le(rate * ba, 4),  # byte rate
        _le(ba, 2),
        F.lit("1000"),  # 16 bits/sample
        F.lit("64617461"),  # "data"
        _le(dl, 4),
        zeros,
    )
    unknown_hex = F.concat(F.lit("00"), F.md5(F.col("text")))

    return docs.select(
        did.alias("doc_id"),
        F.unhex(
            F.when(m == 0, png_hex)
            .when(m == 1, jpeg_hex)
            .when(m == 2, wav_hex)
            .otherwise(unknown_hex)
        ).alias("media"),
    )
