"""Round-12 PNG codec tests (VERDICT r11 #3): the image entries'
codec-adversarial claim made concrete, mirroring the WAV suite
(test_harness_sensitivity.py::test_codec_decode_bug_classes_caught).

Three layers:
  1. encode ∘ decode is the identity on the closed-form pixels for
     assets spanning every (filter-type, dimension) class;
  2. each classic PNG-decode bug class (filters ignored, Paeth
     mis-predicted, Average mis-rounded, header byte-order) produces
     features that DIVERGE from the closed form — the oracle really can
     catch a broken codec, the check is not vacuously symmetric;
  3. structurally corrupt containers (flipped IDAT byte, bad CRC,
     truncation, bad signature) are REJECTED, never silently decoded
     into features (the crafted-corrupt-payload golden).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from numalogic_prometheus_spark.operators.multimodal import (
    PNG_MAGIC,
    _png_dims,
    _png_pixels,
    decode_png,
    synthesize_png,
)

# spans every filter-cycle phase and several dimension classes
DOC_IDS = [0, 1, 2, 3, 4, 7, 42, 96, 499]


def _features(pix: np.ndarray, w: int, h: int) -> tuple:
    posw = (
        np.arange(h, dtype=np.int64)[:, None] * w
        + np.arange(w, dtype=np.int64)[None, :]
        + 1
    )
    return (
        int(pix.sum()),
        int((pix * pix).sum()),
        int((posw[:, :, None] * pix).sum()),
    )


def _reference(doc_id: int) -> tuple:
    w, h = _png_dims(doc_id)
    return _features(_png_pixels(doc_id, w, h), w, h)


def test_png_roundtrip_exact():
    for d in DOC_IDS:
        w, h, filters, pix = decode_png(synthesize_png(d))
        assert (w, h) == _png_dims(d)
        assert np.array_equal(filters, (d + np.arange(h)) % 5)
        assert _features(pix, w, h) == _reference(d)
        assert np.array_equal(pix, _png_pixels(d, w, h))


def _inflate(payload: bytes):
    """Raw scanline stream + dims, bypassing decode_png's filter
    reconstruction so the buggy variants below can re-reconstruct."""
    ihdr = payload[16 : 16 + 13]
    w, h = struct.unpack(">II", ihdr[:8])
    idat = bytearray()
    pos = 8
    while pos < len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        tag = payload[pos + 4 : pos + 8]
        if tag == b"IDAT":
            idat.extend(payload[pos + 8 : pos + 8 + length])
        pos += 12 + length
    return w, h, zlib.decompress(bytes(idat))


def _reconstruct(w: int, h: int, stream: bytes, bug: str) -> np.ndarray:
    """A deliberately-buggy de-filter: one classic mistake per class."""
    stride = w * 3
    prev = np.zeros(stride, dtype=np.int64)
    out = np.zeros((h, stride), dtype=np.int64)
    for y in range(h):
        row = stream[y * (1 + stride) : (y + 1) * (1 + stride)]
        ftype = row[0]
        filt = np.frombuffer(row[1:], dtype=np.uint8).astype(np.int64)
        if bug == "ignore_filters":
            recon = filt  # treats every row as filter 0
        else:
            recon = np.zeros(stride, dtype=np.int64)
            for i in range(stride):
                left = recon[i - 3] if i >= 3 else 0
                up = prev[i]
                upleft = prev[i - 3] if i >= 3 else 0
                if ftype == 0:
                    pred = 0
                elif ftype == 1:
                    pred = left
                elif ftype == 2:
                    pred = up
                elif ftype == 3:
                    if bug == "average_no_floor":
                        pred = (left + up + 1) // 2  # rounds, spec floors
                    else:
                        pred = (left + up) // 2
                else:
                    if bug == "paeth_as_up":
                        pred = up  # skips the predictor entirely
                    else:
                        p = left + up - upleft
                        pa, pb, pc = (
                            abs(p - left), abs(p - up), abs(p - upleft)
                        )
                        if pa <= pb and pa <= pc:
                            pred = left
                        elif pb <= pc:
                            pred = up
                        else:
                            pred = upleft
                recon[i] = (filt[i] + pred) & 255
        out[y] = recon
        prev = recon
    return out.reshape(h, w, 3)


def test_png_decode_bug_classes_caught():
    for bug in ("ignore_filters", "paeth_as_up", "average_no_floor"):
        diverged = False
        for d in DOC_IDS:
            payload = synthesize_png(d)
            w, h, stream = _inflate(payload)
            if _features(_reconstruct(w, h, stream, bug), w, h) != _reference(d):
                diverged = True
                break
        assert diverged, f"decode bug class {bug!r} not detectable"
    # header byte-order bug: little-endian read of the big-endian IHDR
    # yields garbage dimensions — detectable as a structural error for
    # every asset (stream length no longer matches w,h)
    for d in DOC_IDS:
        payload = synthesize_png(d)
        w_le, h_le = struct.unpack("<II", payload[16:24])
        assert (w_le, h_le) != _png_dims(d)


def test_png_corrupt_payloads_rejected():
    payload = synthesize_png(42)

    # bad signature
    with pytest.raises(ValueError, match="signature"):
        decode_png(b"\x00" + payload[1:])

    # flipped byte inside IDAT data → CRC mismatch, never a decode
    idat_off = payload.index(b"IDAT") + 4
    corrupt = bytearray(payload)
    corrupt[idat_off + 2] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        decode_png(bytes(corrupt))

    # flipped byte with the CRC recomputed to match (a "valid" container
    # carrying a garbled stream) → the documented ValueError, never a
    # leaked zlib.error (r12 self-review: error contract normalized)
    start = payload.index(b"IDAT") - 4
    (length,) = struct.unpack(">I", payload[start : start + 4])
    data = bytearray(payload[start + 8 : start + 8 + length])
    data[2] ^= 0xFF
    rebuilt = (
        payload[:start]
        + struct.pack(">I", length)
        + b"IDAT"
        + bytes(data)
        + struct.pack(">I", zlib.crc32(b"IDAT" + bytes(data)) & 0xFFFFFFFF)
        + payload[start + 12 + length :]
    )
    with pytest.raises(ValueError):
        decode_png(rebuilt)

    # a 12-byte IHDR with a valid CRC → ValueError, never struct.error
    ih_start = payload.index(b"IHDR") - 4
    (ih_len,) = struct.unpack(">I", payload[ih_start : ih_start + 4])
    short_ihdr = payload[ih_start + 8 : ih_start + 8 + ih_len - 1]
    rebuilt2 = (
        payload[:ih_start]
        + struct.pack(">I", len(short_ihdr))
        + b"IHDR"
        + short_ihdr
        + struct.pack(
            ">I", zlib.crc32(b"IHDR" + short_ihdr) & 0xFFFFFFFF
        )
        + payload[ih_start + 12 + ih_len :]
    )
    with pytest.raises(ValueError, match="IHDR length"):
        decode_png(rebuilt2)

    # truncation at any chunk boundary
    with pytest.raises(ValueError):
        decode_png(payload[: len(payload) // 2])

    # IEND missing entirely
    with pytest.raises(ValueError, match="IHDR or IEND"):
        decode_png(payload[: payload.index(b"IEND") - 4])

    # garbage appended after IEND (r12 ADVICE: a garbled container must
    # never silently decode — trailing bytes are corruption too)
    with pytest.raises(ValueError, match="trailing"):
        decode_png(payload + b"\x00garbage")


# ---------------------------------------------------------------------------
# APNG (round-12 video frame demux) — same three layers as the still
# image: round-trip exactness, demux-bug-class detectability,
# structural-corruption rejection.
# ---------------------------------------------------------------------------

from numalogic_prometheus_spark.operators.multimodal import (  # noqa: E402
    _apng_dims,
    _apng_n_frames,
    _apng_pixels,
    decode_apng,
    synthesize_apng,
)


def test_apng_roundtrip_exact():
    for d in DOC_IDS:
        w, h, frames = decode_apng(synthesize_apng(d))
        assert (w, h) == _apng_dims(d)
        assert len(frames) == _apng_n_frames(d)
        for t, (dnum, pix) in enumerate(frames):
            assert dnum == t + 1  # the fcTL delay is really parsed
            assert np.array_equal(pix, _apng_pixels(d, t, w, h))


def _chunks_of(payload: bytes):
    """(offset, tag, length) for every chunk — test-side surgery map."""
    out = []
    pos = 8
    while pos < len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        out.append((pos, payload[pos + 4 : pos + 8], length))
        pos += 12 + length
    return out


def _rechunk(tag: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + tag
        + data
        + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
    )


def test_apng_demux_bug_classes_caught():
    """Classic demux failures must be structural errors, never silent
    wrong features: swapped frame order (sequence numbers misorder),
    an fdAT sequence off-by-one, an acTL frame-count lie, and a
    non-canvas frame geometry."""
    d = 7  # 5 frames, so there are at least two fdAT frames to swap
    payload = synthesize_apng(d)
    chunks = _chunks_of(payload)

    def spans(tag):
        return [
            (off, off + 12 + ln) for off, t, ln in chunks if t == tag
        ]

    # swap the last two fdAT chunks wholesale → sequence misorder
    f1, f2 = spans(b"fdAT")[-2:]
    swapped = (
        payload[: f1[0]]
        + payload[f2[0] : f2[1]]
        + payload[f1[1] : f2[0]]
        + payload[f1[0] : f1[1]]
        + payload[f2[1] :]
    )
    with pytest.raises(ValueError, match="sequence"):
        decode_apng(swapped)

    # rewrite an fdAT's sequence number (CRC fixed up) → off-by-one
    off, end = spans(b"fdAT")[0]
    data = bytearray(payload[off + 8 : end - 4])
    (seq,) = struct.unpack(">I", bytes(data[:4]))
    data[:4] = struct.pack(">I", seq + 1)
    bumped = payload[:off] + _rechunk(b"fdAT", bytes(data)) + payload[end:]
    with pytest.raises(ValueError, match="sequence"):
        decode_apng(bumped)

    # acTL declares one frame more than the container carries
    off, end = spans(b"acTL")[0]
    n, plays = struct.unpack(">II", payload[off + 8 : end - 4])
    lied = (
        payload[:off]
        + _rechunk(b"acTL", struct.pack(">II", n + 1, plays))
        + payload[end:]
    )
    with pytest.raises(ValueError, match="frames"):
        decode_apng(lied)

    # an fcTL claiming a sub-canvas frame region → unsupported geometry
    off, end = spans(b"fcTL")[0]
    fctl = bytearray(payload[off + 8 : end - 4])
    fctl[4:8] = struct.pack(">I", 4)  # frame width 4 != canvas
    shrunk = payload[:off] + _rechunk(b"fcTL", bytes(fctl)) + payload[end:]
    with pytest.raises(ValueError, match="geometry"):
        decode_apng(shrunk)


def test_apng_corrupt_payloads_rejected():
    payload = synthesize_apng(42)
    # flipped byte inside an fdAT → CRC mismatch
    off = payload.index(b"fdAT") + 8
    corrupt = bytearray(payload)
    corrupt[off] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        decode_apng(bytes(corrupt))
    # missing acTL entirely (a plain PNG is not an animation)
    from numalogic_prometheus_spark.operators.multimodal import (
        synthesize_png,
    )

    with pytest.raises(ValueError, match="acTL"):
        decode_apng(synthesize_png(42))
    # truncation
    with pytest.raises(ValueError):
        decode_apng(payload[: len(payload) // 2])


def test_registered_oracles_match_real_decoders_directly():
    """The r12 second-review pass, made permanent: execute the ACTUAL
    registered DuckDB oracle SQL over a crafted documents table that
    spans every (dimension, filter-phase) class — 91 ids for PNG
    (lcm 13·7), 60 for APNG (lcm 5·3·4) — and compare against features
    computed from the REAL decode path, not the closed form. This
    closes the loop the per-scale sweeps sample: oracle ≡ codec on
    full class coverage, independent of the fixture's doc_id range."""
    import duckdb

    from numalogic_prometheus_spark import plans
    from numalogic_prometheus_spark.operators.multimodal import (
        decode_apng,
        synthesize_apng,
    )

    plans._load_all()
    ids = list(range(182))  # two full PNG cycles, three APNG cycles
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT)")
    con.executemany("INSERT INTO documents VALUES (?)", [(d,) for d in ids])

    want = {}
    for d in ids:
        w, h, _f, pix = decode_png(synthesize_png(d))
        posw = (
            np.arange(h, dtype=np.int64)[:, None] * w
            + np.arange(w, dtype=np.int64)[None, :]
            + 1
        )
        want[d] = (
            w, h, w * h * 3,
            int(pix[:, :, 0].sum()), int(pix[:, :, 1].sum()),
            int(pix[:, :, 2].sum()), int((pix * pix).sum()),
            int(pix.max()), int((posw[:, :, None] * pix).sum()),
        )
    got = {
        r[0]: tuple(r[1:])
        for r in con.sql(
            plans._ORACLES["multimodal_image_png_features"]
        ).fetchall()
    }
    assert got == want

    want2 = set()
    for d in ids:
        w, h, frames = decode_apng(synthesize_apng(d))
        posw = (
            np.arange(h, dtype=np.int64)[:, None] * w
            + np.arange(w, dtype=np.int64)[None, :]
            + 1
        )
        for t, (dnum, pix) in enumerate(frames):
            want2.add(
                (
                    d, t, w, h, dnum, int(pix.sum()),
                    int((pix * pix).sum()), int(pix.max()),
                    int((posw[:, :, None] * pix).sum()),
                )
            )
    got2 = set(
        tuple(r)
        for r in con.sql(
            plans._ORACLES["multimodal_video_apng_frames"]
        ).fetchall()
    )
    assert got2 == want2


# ---------------------------------------------------------------------------
# Round 14 — real nearest-neighbor resize over decoded pixels
# ---------------------------------------------------------------------------


def test_resize_nearest_hand_cases():
    """The floor map src = (dst * src_size) // dst_size, both
    directions, against hand-computed expectations."""
    import numpy as np

    from numalogic_prometheus_spark.operators.multimodal import (
        resize_nearest,
    )

    # 2×2 → 4×4 upsample: each source pixel becomes a 2×2 block
    src = np.arange(2 * 2 * 3, dtype=np.int64).reshape(2, 2, 3)
    up = resize_nearest(src, 4, 4)
    assert up.shape == (4, 4, 3)
    for y2 in range(4):
        for x2 in range(4):
            assert (up[y2, x2] == src[y2 // 2, x2 // 2]).all()

    # 4×4 → 2×2 downsample picks rows/cols 0 and 2
    src = np.arange(4 * 4 * 3, dtype=np.int64).reshape(4, 4, 3)
    down = resize_nearest(src, 2, 2)
    assert (down == src[[0, 2]][:, [0, 2]]).all()

    # identity when dims match
    assert (resize_nearest(src, 4, 4) == src).all()

    # non-divisible: 3 → 2 picks indexes (0*3)//2=0 and (1*3)//2=1
    src = np.arange(3 * 3 * 3, dtype=np.int64).reshape(3, 3, 3)
    got = resize_nearest(src, 2, 2)
    assert (got == src[[0, 1]][:, [0, 1]]).all()


def test_resize_features_match_closed_form():
    """Kernel-level twin of the registry oracle: decode + resize per
    doc, features recomputed independently from the closed-form source
    signal through the same floor map."""
    import numpy as np

    from numalogic_prometheus_spark.operators.multimodal import (
        RESIZE_H,
        RESIZE_W,
        resize_nearest,
    )

    for d in list(range(40)) + [1234, 99991]:
        w, h, _f, pix = decode_png(synthesize_png(d))
        r = resize_nearest(pix, RESIZE_W, RESIZE_H)
        # independent recomputation (no codec, no resize kernel)
        exp = np.empty((RESIZE_H, RESIZE_W, 3), dtype=np.int64)
        for y2 in range(RESIZE_H):
            for x2 in range(RESIZE_W):
                sy, sx = (y2 * h) // RESIZE_H, (x2 * w) // RESIZE_W
                for c in range(3):
                    exp[y2, x2, c] = (
                        d * 4099 + sy * 131 + sx * 17 + c * 59
                    ) % 256
        assert np.array_equal(r, exp), f"doc {d}"
