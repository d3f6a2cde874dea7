"""Round-10 adversarial seam probes (VERDICT r9 item 7).

(a) ``header_decode`` on payloads that ALMOST parse — truncated PNG
    signature, RIFF without WAVE, SOF-less JPEG, truncated chunk
    bodies — must quarantine as 'unknown' (or parse to exactly what
    the bytes say), and NEVER raise: one bad blob must not kill a
    100 TB scan. Plus the WAV synthesizer at the ch/dl boundary grid.
(b) ``_footer_digest`` on a dangling symlink (must fail loudly, not
    hand back a digest of nothing) and on sub-64KiB files.
(c) ``bench._load_prior`` on poisoned BENCH_DETAIL.json (truncated
    JSON, wrong shapes, non-numeric / NaN / inf / negative values)
    must degrade to "no prior", never crash the bench.
"""

from __future__ import annotations

import json
import os

import pytest


# ---------------------------------------------------------------------------
# (a) header_decode quarantine on almost-parseable payloads
# ---------------------------------------------------------------------------

def _png(w: int = 5, h: int = 7) -> bytes:
    return (
        b"\x89PNG\r\n\x1a\n"
        + (13).to_bytes(4, "big")
        + b"IHDR"
        + w.to_bytes(4, "big")
        + h.to_bytes(4, "big")
        + bytes.fromhex("0806000000")
    )


def test_header_decode_quarantines_almost_parseable():
    from data_engineer_task_spark.operators.multimodal import header_decode

    unknown = {"format": "unknown", "width": 0, "height": 0, "n_frames": 0}
    probes = {
        "empty": b"",
        "truncated png signature": b"\x89PNG\r\n",
        "png signature, IHDR tag missing": b"\x89PNG\r\n\x1a\x0a" + b"\x00" * 8,
        "riff without wave": b"RIFF" + (36).to_bytes(4, "little") + b"AVI LIST",
        "riff truncated before format tag": b"RIFF\x04\x00\x00\x00",
        "wave with no fmt chunk": b"RIFF"
        + (12).to_bytes(4, "little")
        + b"WAVE"
        + b"data"
        + (0).to_bytes(4, "little"),
        "sof-less jpeg (SOI + COM + EOI)": bytes.fromhex("ffd8fffe00045347ffd9"),
        "jpeg SOI only": b"\xff\xd8",
        "jpeg fill bytes then truncation": b"\xff\xd8\xff\xff\xff",
        "jpeg zero-length segment": bytes.fromhex("ffd8ffe00000ffd9"),
        "single zero byte": b"\x00",
        "high-entropy garbage": bytes(range(256)),
    }
    for label, payload in probes.items():
        assert header_decode(payload) == unknown, label

    # a VALID payload with trailing garbage still parses (the walk
    # stops at the first complete header) — quarantine is for
    # unparseable bytes, not strict-length files
    meta = header_decode(_png() + b"\xde\xad\xbe\xef")
    assert (meta["format"], meta["width"], meta["height"]) == ("png", 5, 7)


def test_header_decode_truncated_bodies_never_raise():
    """Every prefix of a valid header of each format must come back as
    SOME dict (unknown or a partial parse) without raising — the
    resync/bounds logic has no index-error path."""
    from data_engineer_task_spark.operators.multimodal import header_decode

    wav = bytes.fromhex(
        "52494646"  # RIFF
        + "28000000"
        + "57415645666d742010000000"
        + "0100" + "0200" + "803e0000" + "00fa0000" + "0400" + "1000"
        + "64617461" + "04000000" + "00000000"
    )
    jpeg = bytes.fromhex(
        "ffd8fffe00045347ffc00011080007000503012200021101031101ffd9"
    )
    for full in (_png(), jpeg, wav):
        for cut in range(len(full)):
            meta = header_decode(full[:cut])
            assert set(meta) == {"format", "width", "height", "n_frames"}


def test_wav_synthesizer_boundary_grid(spark):
    """The ch x dl boundary grid (VERDICT r9 item 7a): both channel
    counts crossed with the smallest/largest data-chunk lengths, the
    parsed frame count must equal the oracle's dl // (2*ch) arithmetic
    — including dl=4, ch=2 where exactly ONE frame fills the chunk."""
    from data_engineer_task_spark.operators.multimodal import header_decode
    from data_engineer_task_spark.plans.multimodal import synth_header_media

    # doc_id % 4 == 2 selects the WAV branch; ch = 1 + (id>>2) % 2 and
    # dl = 4 * (1 + (id>>3) % 8) live in the bits ABOVE the selector
    # (the r10 decorrelation — keyed on id%2, ch=2 was unreachable).
    # Corner ids: 2 -> (ch1,dl4), 6 -> (ch2,dl4), 58 -> (ch1,dl32),
    # 62 -> (ch2,dl32); plus a full sweep of the 2x8 grid.
    ids = sorted({2, 6, 58, 62} | {2 + 4 * k for k in range(16)})
    assert {(1 + (i >> 2) % 2, 4 * (1 + (i >> 3) % 8)) for i in ids} == {
        (c, d) for c in (1, 2) for d in range(4, 36, 4)
    }
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in ids], "doc_id long, text string"
    )
    rows = {r["doc_id"]: bytes(r["media"])
            for r in synth_header_media(docs).collect()}
    for i, payload in rows.items():
        ch, dl = 1 + (i >> 2) % 2, 4 * (1 + (i >> 3) % 8)
        meta = header_decode(payload)
        assert meta["format"] == "wav", i
        assert meta["height"] == ch, i
        assert meta["n_frames"] == dl // (2 * ch), (i, ch, dl, meta)
        # the data chunk really is word-aligned and fully present
        assert len(payload) == 44 + dl, i


# ---------------------------------------------------------------------------
# (b) _footer_digest edge cases
# ---------------------------------------------------------------------------

def test_footer_digest_dangling_symlink_fails_loudly(tmp_path):
    """A dangling symlink where a state part-file should be means the
    input is broken — the digest must raise (so ingest fails and no
    state tag is minted), never hand back a digest of nothing that
    would mint a stable-looking tag for unreadable data."""
    from data_engineer_task_spark.plans.sketch import _footer_digest

    link = tmp_path / "part-00000.parquet"
    link.symlink_to(tmp_path / "gone.parquet")
    with pytest.raises(OSError):
        _footer_digest(str(link))


def test_footer_digest_small_file_and_growth(tmp_path):
    """Files shorter than the 64 KiB window digest their whole content;
    appending AFTER a digest was taken changes the digest (the
    stat-then-read race can only produce a tag that matches NEITHER
    version — which resolves to a fresh state dir, the safe side)."""
    from data_engineer_task_spark.plans.sketch import _footer_digest

    p = tmp_path / "tiny.parquet"
    p.write_bytes(b"PAR1 tiny body PAR1")
    d1 = _footer_digest(str(p))
    assert len(d1) == 12
    with open(p, "ab") as f:
        f.write(b" grown")
    assert _footer_digest(str(p)) != d1


# ---------------------------------------------------------------------------
# (c) bench prior-file poisoning
# ---------------------------------------------------------------------------

def test_bench_load_prior_poisoned_inputs(tmp_path):
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "bench_mod", os.path.join(os.path.dirname(__file__), "..", "bench.py")
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)

    p = tmp_path / "BENCH_DETAIL.json"

    def load(doc) -> dict:
        p.write_text(doc if isinstance(doc, str) else json.dumps(doc))
        return bench._load_prior(str(p), 0.1)

    # missing file
    assert bench._load_prior(str(tmp_path / "absent.json"), 0.1) == {}
    # truncated / non-JSON (a killed run mid-write)
    assert load('{"sf": 0.1, "queries": {"q1": 1.2') == {}
    assert load("not json at all") == {}
    # wrong top-level / queries shapes
    assert load([1, 2, 3]) == {}
    assert load({"sf": 0.1, "queries": [1, 2]}) == {}
    # cross-sf prior is ignored wholesale (the r9 guard)
    assert load({"sf": 1.0, "queries": {"q1": 1.2}}) == {}
    # poisoned values dropped, clean ones kept — and bools are not
    # "numbers 1/0" here
    got = load({
        "sf": 0.1,
        "queries": {
            "ok": 1.5, "ok_int": 2,
            "neg": -1.0, "zero": 0, "nan": float("nan"),
            "inf": float("inf"), "str": "1.2", "bool": True,
            "none": None,
        },
    })
    assert got == {"ok": 1.5, "ok_int": 2.0}
    assert all(isinstance(v, float) for v in got.values())


# ---------------------------------------------------------------------------
# gated dimension broadcasts (r10 rule-compliance sweep)
# ---------------------------------------------------------------------------

def test_gated_broadcast_follows_measured_size(spark, tmp_path, monkeypatch):
    """The corpus-growing dims (customer/part) get their broadcast hint
    only under the footer-measured size cap: small table → hint in the
    optimized plan; past the cap (or unknown size) → unhinted, so the
    planner decides and a 100 TB dim cannot be forced onto every
    executor."""
    from data_engineer_task_spark.sources import catalog

    pdf = spark.range(1000).withColumnRenamed("id", "c_custkey")
    pdf.write.mode("overwrite").parquet(str(tmp_path / "customer.parquet"))
    df = spark.read.parquet(str(tmp_path / "customer.parquet"))

    fact = spark.range(10).withColumnRenamed("id", "c_custkey")

    def hinted(dim) -> bool:
        plan = fact.join(dim, "c_custkey")._jdf.queryExecution().optimizedPlan().toString()
        return "broadcast" in plan.lower()

    assert hinted(catalog.gated_broadcast(df, str(tmp_path), "customer"))
    monkeypatch.setattr(catalog, "_BROADCAST_LIMIT_BYTES", 10)
    catalog._ROW_COUNT_CACHE.clear()
    assert not hinted(catalog.gated_broadcast(df, str(tmp_path), "customer"))
    # unknown layout (no such file) = no hint, the safe side
    assert not hinted(
        catalog.gated_broadcast(df, str(tmp_path), "absent_table")
    )
