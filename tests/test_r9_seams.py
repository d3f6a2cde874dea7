"""Adversarial probes at the r8 seams (VERDICT r8 item 8): the newly
gated surfaces driven through their edge geometries —

(a) the sketch-rollup state-dir tag under a regenerated-testdata
    collision where file name, size, AND mtime all coincide (the r8
    triple was spoofable; the tag now folds a footer content digest
    and a kernel-source digest);
(b) ``resize_media`` with a target box smaller than 64 px² (the cycle
    kernel's byte budget rounds to zero — it must emit a 1-byte
    binary, never an empty payload or a raise);
(c) ``sample_frames`` when the clip has a single frame (fan-out of
    exactly one row), when ``every_n`` exceeds the frame count (frame
    0 only), and on empty payloads (zero rows, not a raise).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# (a) state-dir tag: name/size/mtime collision must NOT collide the tag
# ---------------------------------------------------------------------------

def test_footer_digest_breaks_size_mtime_collisions(tmp_path):
    """Two 'generations' of a data file with identical name, byte size,
    and mtime — only content differs — must produce different footer
    digests (and therefore different state tags): the r8 tag keyed on
    (name, size, mtime) and would have served generation-1 sketches
    against generation-2 data."""
    from data_engineer_task_spark.plans.sketch import _footer_digest

    p = tmp_path / "events.parquet"
    p.write_bytes(b"A" * 4096)
    os.utime(p, (1_700_000_000, 1_700_000_000))
    d1 = _footer_digest(str(p))
    p.write_bytes(b"A" * 4095 + b"B")  # same size, same name
    os.utime(p, (1_700_000_000, 1_700_000_000))  # same mtime
    d2 = _footer_digest(str(p))
    assert d1 != d2

    # and the digest is stable for identical content (tag reuse across
    # runs in one round depends on it)
    p.write_bytes(b"A" * 4096)
    assert _footer_digest(str(p)) == d1

    # bounded read: a file much larger than the 64 KiB window digests
    # only its tail — a tail-preserving prefix change is invisible BY
    # DESIGN (parquet footers live at the tail), so assert the window
    # semantics explicitly rather than letting them drift
    big = tmp_path / "big.parquet"
    tail = b"T" * 70_000  # fixed region spanning the whole 64 KiB window
    big.write_bytes(b"X" * 200_000 + tail)
    t1 = _footer_digest(str(big))
    big.write_bytes(b"Y" * 200_000 + tail)
    assert _footer_digest(str(big)) == t1  # pre-window change: same tail
    big.write_bytes(b"X" * 200_000 + tail[:-1] + b"U")
    assert _footer_digest(str(big)) != t1  # tail change: new digest


def test_kernel_digest_tracks_kernel_sources():
    """The state tag's kernel component must be a content digest of the
    sketch kernel sources (ADVICE r8: a value-affecting change to
    operators/sketch.py must invalidate persisted state WITHOUT a
    manual version bump). Recompute the expected digest from the same
    inputs and pin the derivation."""
    import hashlib

    from data_engineer_task_spark.operators import sketch as sketch_mod
    from data_engineer_task_spark.plans import sketch_rollup as rollup_mod
    from data_engineer_task_spark.plans.sketch import _K, _KMV_SCALE, _kernel_digest

    h = hashlib.md5()
    for mod in (sketch_mod, rollup_mod):
        with open(mod.__file__, "rb") as f:
            h.update(f.read())
    h.update(f"|{_K}|{_KMV_SCALE}".encode())
    assert _kernel_digest() == h.hexdigest()[:12]
    # sensitivity: any byte change in either source changes the digest
    h2 = hashlib.md5()
    for mod in (sketch_mod, rollup_mod):
        with open(mod.__file__, "rb") as f:
            h2.update(f.read() + b"#")
    h2.update(f"|{_K}|{_KMV_SCALE}".encode())
    assert _kernel_digest() != h2.hexdigest()[:12]


def test_state_base_is_per_user_0700():
    """Persisted sketch state must live under a per-user scratch root
    with owner-only permissions (ADVICE r8: the r8 path was a
    predictable world-shared /tmp name another user could pre-create
    and poison)."""
    from data_engineer_task_spark.plans.sketch import _state_base

    base = _state_base()
    st = os.stat(base)
    assert st.st_uid == os.getuid()
    assert (st.st_mode & 0o777) == 0o700
    assert str(os.getuid()) in os.path.basename(base)


# ---------------------------------------------------------------------------
# (b) resize below the 64 px² byte-budget floor
# ---------------------------------------------------------------------------

def test_fake_resize_tiny_box_and_empty_payload():
    from data_engineer_task_spark.operators.multimodal import fake_resize

    # 4x4 = 16 px -> 16//64 = 0 bytes requested -> floor at 1 byte
    out = fake_resize(b"\xab\xcd", 4, 4)
    assert out == b"\xab"
    # empty payload at the floor: defined zero byte, not a raise
    assert fake_resize(b"", 4, 4) == b"\x00"
    # exact boundary: 8x8 = 64 px -> exactly 1 byte
    assert fake_resize(b"\xab\xcd", 8, 8) == b"\xab"


def test_resize_media_tiny_box_spark(spark):
    """The Spark seam under the tiny box: every row yields a 1-byte
    binary (never empty, never null), ids preserved."""
    from data_engineer_task_spark.operators.multimodal import resize_media

    df = spark.createDataFrame(
        [(1, bytearray(b"\x10\x20\x30")), (2, bytearray(b"")), (3, None)],
        "id long, media binary",
    )
    rows = {
        r["id"]: bytes(r["media"])
        for r in resize_media(df, "id", "media", width=4, height=4).collect()
    }
    assert rows == {1: b"\x10", 2: b"\x00", 3: b"\x00"}


# ---------------------------------------------------------------------------
# (c) frame sampling at the fan-out edges
# ---------------------------------------------------------------------------

def test_sample_frames_single_frame_and_large_stride(spark):
    from data_engineer_task_spark.operators.multimodal import sample_frames

    # fake_decode: n_frames = 1 + payload[-1] % 8 -> last byte 0x00
    # gives exactly ONE frame; 0x07 gives 8
    one = bytearray(b"\x05\x06\x00")
    eight = bytearray(b"\x05\x06\x07")
    df = spark.createDataFrame(
        [(1, one), (2, eight), (3, bytearray(b"")), (4, None)],
        "id long, media binary",
    )

    # single-frame clip: exactly one row, frame_idx 0, frame = head bytes
    # empty/null payloads: ZERO rows (n_frames = 0), not a raise
    got = sorted(
        (r["id"], r["frame_idx"], bytes(r["frame"]))
        for r in sample_frames(df, "id", "media", every_n=2).collect()
    )
    assert [g for g in got if g[0] == 1] == [(1, 0, b"\x05\x06\x00")]
    assert [g[1] for g in got if g[0] == 2] == [0, 2, 4, 6]
    assert not [g for g in got if g[0] in (3, 4)]

    # stride past the clip length: frame 0 only, for every non-empty clip
    wide = sample_frames(df, "id", "media", every_n=100).collect()
    assert sorted((r["id"], r["frame_idx"]) for r in wide) == [(1, 0), (2, 0)]


# ---------------------------------------------------------------------------
# integer-moment kernels past the int64 wall (VERDICT r8 item 3)
# ---------------------------------------------------------------------------

def test_integer_moments_escalate_past_int64(spark):
    """Drive the PCA moment kernel past the int64 accumulator bound:
    per-row products of 9e18 sit just INSIDE int64, but the 40-row sum
    (3.6e20) overflows it — without the count-guarded DECIMAL(38,0)
    escalation ANSI mode throws ArithmeticException here. The escalated
    path must return the exact value."""
    from data_engineer_task_spark.plans.embedding import _integer_moments

    rows = [([3_000_000_000, 2_000_000_000],) for _ in range(40)]
    base = spark.createDataFrame(rows, "q array<long>")
    n, S, P = _integer_moments(base, 2)
    assert n == 40
    assert S[1] == 40 * 3_000_000_000 and S[2] == 40 * 2_000_000_000
    assert P[(1, 1)] == 40 * 9_000_000_000_000_000_000  # 3.6e20 > int64
    assert P[(1, 2)] == 40 * 6_000_000_000_000_000_000
    assert P[(2, 1)] == P[(1, 2)]
    assert P[(2, 2)] == 40 * 4_000_000_000_000_000_000

    # the small-corpus fast path (long accumulators) stays exact too
    small = spark.createDataFrame([([3, 4],), ([5, 6],)], "q array<long>")
    n2, S2, P2 = _integer_moments(small, 2)
    assert (n2, S2[1], S2[2]) == (2, 8, 10)
    assert (P2[(1, 1)], P2[(1, 2)], P2[(2, 2)]) == (34, 42, 52)

    # empty corpus: graceful (0, {}, {}), not a None-arithmetic crash
    empty = spark.createDataFrame([], "q array<long>")
    assert _integer_moments(empty, 2) == (0, {}, {})


def test_header_synthesis_valid_at_extreme_doc_ids(spark):
    """The header synthesizer must emit parseable bytes for ANY
    non-negative doc_id (every derived field is modulo-bounded below
    its byte width) — probe the hex-surgery endian paths at huge ids,
    the zero id, and each format branch at the 2^40 scale a 100 TB
    corpus would reach."""
    from data_engineer_task_spark.operators.multimodal import header_decode
    from data_engineer_task_spark.plans.multimodal import synth_header_media

    ids = [0, 1, 2, 3, (1 << 40) + 0, (1 << 40) + 1, (1 << 40) + 2,
           (1 << 40) + 3, (1 << 62), (1 << 62) + 1, (1 << 62) + 2]
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in ids], "doc_id long, text string"
    )
    rows = {r["doc_id"]: bytes(r["media"])
            for r in synth_header_media(docs).collect()}
    for i in ids:
        meta = header_decode(rows[i])
        m = i % 4
        if m == 3:
            assert meta == {"format": "unknown", "width": 0, "height": 0,
                            "n_frames": 0}
            continue
        exp_fmt = {0: "png", 1: "jpeg", 2: "wav"}[m]
        assert meta["format"] == exp_fmt, (i, meta)
        # r10: parameters derive from the bits above the format
        # selector (q = i >> 2, r = i >> 3), decorrelating each field
        # from its own branch
        if m in (0, 1):
            assert meta["width"] == 1 + (i >> 2) % 4096
            assert meta["height"] == 1 + ((i >> 2) * 7) % 2160
            assert meta["n_frames"] == 1
        else:
            ch, dl = 1 + (i >> 2) % 2, 4 * (1 + (i >> 3) % 8)
            assert meta["width"] == 8000 + ((i >> 3) % 40) * 1000
            assert meta["height"] == ch
            assert meta["n_frames"] == dl // (2 * ch)
