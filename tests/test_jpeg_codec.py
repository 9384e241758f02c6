"""Baseline JPEG codec tests.

Encoder and decoder communicate only through the bitstream (the
decoder rebuilds quantization and Huffman tables from DQT/DHT
segments), so round-trips exercise the real wire format: marker
layout, canonical Huffman construction, byte stuffing, DC prediction,
zigzag, quality scaling, and the MCU walk in both 4:4:4 and
MCU-interleaved 4:2:0 form. PIL cross-checks document the
external-decoder gate (skipped where PIL is absent, like the PNG one).
"""

from __future__ import annotations

import struct

import numpy as np
import pytest

from tdigest_spark.functions.jpeg_codec import (
    _UNZIGZAG,
    _ZIGZAG,
    jpeg_decode,
    jpeg_encode,
)

RNG = np.random.default_rng(19740101)


def _gradient(h, w):
    # cliff-free smooth ramp scaled into [20, 220] — modulo wraps would
    # plant 200-level edges whose ringing swamps a max-error assertion
    yy, xx = np.mgrid[0:h, 0:w]
    ramp = yy / max(h - 1, 1) + xx / max(w - 1, 1)
    return (20 + ramp * 100).astype(np.uint8)


def test_zigzag_is_a_permutation_and_matches_spec_corners():
    assert sorted(_ZIGZAG.tolist()) == list(range(64))
    assert _ZIGZAG[_UNZIGZAG].tolist() == list(range(64))
    # T.81 figure 5: sequence starts DC, right, down-left diagonal ...
    assert _ZIGZAG[:6].tolist() == [0, 1, 8, 16, 9, 2]
    assert _ZIGZAG[-1] == 63


def test_constant_images_roundtrip_exactly():
    # a constant block is DC-only; with Annex-K tables at q>=90 the DC
    # quantizer is small enough that reconstruction is exact
    for val in (0, 77, 128, 255):
        img = np.full((16, 24), val, dtype=np.uint8)
        out = jpeg_decode(jpeg_encode(img, quality=95))
        assert out.shape == img.shape and out.dtype == np.uint8
        assert int(np.abs(out.astype(int) - int(val)).max()) == 0


@pytest.mark.parametrize("h,w", [(8, 8), (37, 53), (64, 1), (1, 64), (5, 5)])
def test_grayscale_roundtrip_smooth(h, w):
    # smooth content survives q=90 nearly losslessly, including
    # non-multiple-of-8 dims (edge-replicated padding is cropped back)
    img = _gradient(h, w)
    out = jpeg_decode(jpeg_encode(img, quality=90))
    assert out.shape == (h, w)
    err = out.astype(int) - img.astype(int)
    assert np.sqrt((err ** 2).mean()) < 1.5
    assert np.abs(err).max() <= 4


def test_rgb_roundtrip_smooth():
    yy, xx = np.mgrid[0:37, 0:53]
    img = np.stack([(yy * 2 + xx) % 200, (yy + xx * 2) % 200,
                    (yy + xx) % 150], axis=-1).astype(np.uint8)
    out = jpeg_decode(jpeg_encode(img, quality=90))
    assert out.shape == (37, 53, 3)
    err = out.astype(int) - img.astype(int)
    assert np.sqrt((err ** 2).mean()) < 2.0
    assert np.abs(err).max() <= 8  # chroma rounding through YCbCr


def test_noise_quality_ladder():
    # rate-distortion sanity: lower quality -> strictly worse RMSE on
    # incompressible content, and q=95 keeps noise within a few levels
    img = RNG.integers(0, 256, (32, 32), dtype=np.uint8)
    rmses = []
    for q in (95, 75, 50):
        out = jpeg_decode(jpeg_encode(img, quality=q))
        err = out.astype(int) - img.astype(int)
        rmses.append(float(np.sqrt((err ** 2).mean())))
    assert rmses[0] < 4.0
    assert rmses[0] < rmses[1] < rmses[2]
    # and the byte size shrinks with quality
    sizes = [len(jpeg_encode(img, quality=q)) for q in (95, 75, 50)]
    assert sizes[0] > sizes[1] > sizes[2]


def test_marker_structure():
    data = jpeg_encode(_gradient(16, 16), quality=90)
    assert data[:2] == b"\xff\xd8" and data[-2:] == b"\xff\xd9"
    assert data[2:4] == b"\xff\xe0" and data[6:11] == b"JFIF\x00"
    # walk segments: grayscale must carry 1 DQT, 2 DHT, SOF0, SOS
    pos, seen = 2, []
    while data[pos + 1] != 0xDA:
        assert data[pos] == 0xFF
        seen.append(data[pos + 1])
        pos += 2 + struct.unpack(">H", data[pos + 2:pos + 4])[0]
    assert seen.count(0xDB) == 1 and seen.count(0xC4) == 2
    assert 0xC0 in seen
    rgb = jpeg_encode(np.zeros((8, 8, 3), dtype=np.uint8), quality=90)
    assert rgb.count(b"\xff\xdb") >= 2  # luma + chroma DQT


def test_byte_stuffing_roundtrip():
    # content tuned to produce 0xFF bytes in the entropy stream with
    # high probability; the stuffed stream must still round-trip
    img = RNG.integers(0, 256, (48, 48), dtype=np.uint8)
    data = jpeg_encode(img, quality=85)
    assert b"\xff\x00" in data  # stuffing actually occurred
    out = jpeg_decode(data)
    assert out.shape == img.shape


def test_dc_prediction_across_blocks():
    # stripes of different flat values exercise signed DC diffs in
    # both directions across many blocks
    img = np.repeat(
        np.array([[10, 240, 60, 200, 30, 180]], dtype=np.uint8), 8, axis=0)
    img = np.repeat(img, 8, axis=1)  # 8 x 48, six flat blocks
    out = jpeg_decode(jpeg_encode(img, quality=95))
    err = np.abs(out.astype(int) - img.astype(int))
    assert err.max() <= 2


def test_validation_errors():
    with pytest.raises(ValueError, match="SOI"):
        jpeg_decode(b"\x00\x01\x02\x03")
    with pytest.raises(ValueError, match="quality"):
        jpeg_encode(np.zeros((8, 8), dtype=np.uint8), quality=0)
    with pytest.raises(ValueError, match="expects"):
        jpeg_encode(np.zeros((8, 8, 4), dtype=np.uint8))
    with pytest.raises(ValueError, match="non-empty"):
        jpeg_encode(np.zeros((0, 8), dtype=np.uint8))
    good = jpeg_encode(np.full((8, 8), 99, dtype=np.uint8), quality=90)
    with pytest.raises(ValueError, match="truncated|marker"):
        jpeg_decode(good[:-20])
    # progressive SOF2 must be rejected, not mis-decoded
    bad = good.replace(b"\xff\xc0", b"\xff\xc2", 1)
    with pytest.raises(ValueError, match="baseline"):
        jpeg_decode(bad)
    # sampling factors above 2 must be rejected: patch SOF sampling
    rgb = jpeg_encode(np.zeros((8, 8, 3), dtype=np.uint8), quality=90)
    sof = rgb.index(b"\xff\xc0")
    comp0_samp = sof + 4 + 6 + 1  # marker+len, prec+h+w+nc, comp id
    bad = rgb[:comp0_samp] + b"\x33" + rgb[comp0_samp + 1:]
    with pytest.raises(ValueError, match="sampling factors above 2"):
        jpeg_decode(bad)
    with pytest.raises(ValueError, match="subsampling"):
        jpeg_encode(np.zeros((8, 8, 3), dtype=np.uint8), subsampling="422")


def test_decode_features_pipeline_with_jpeg_payloads(spark):
    """Spark-side plumbing: JPEG payloads flow through the same
    mapInPandas decode as PNG/WAV, with metadata shape validation and
    per-channel means over the decoded (not closed-form) domain."""
    import pandas as pd
    from tdigest_spark.operators.multimodal import MEDIA_SCHEMA, decode_features

    rows = []
    imgs = {}
    for mid in range(6):
        h, w = 16 + mid, 24 + mid
        if mid % 2 == 0:
            img = _gradient(h, w)
            ch = 1
        else:
            yy, xx = np.mgrid[0:h, 0:w]
            img = np.stack([(yy + xx + mid) % 200] * 3, axis=-1).astype(np.uint8)
            ch = 3
        imgs[mid] = img
        rows.append({
            "media_id": mid,
            "kind": "image",
            "payload": jpeg_encode(img, quality=95),
            "meta": {"width": w, "height": h, "channels": ch,
                     "n_samples": 0, "sample_rate": 0},
        })
    df = spark.createDataFrame(pd.DataFrame(rows), schema=MEDIA_SCHEMA)
    out = {r["media_id"]: r for r in decode_features(df).collect()}
    assert len(out) == 6
    for mid, img in imgs.items():
        r = out[mid]
        assert r["n_units"] == img.size
        assert r["n_channels"] == (3 if mid % 2 else 1)
        # lossy but tight at q=95 on smooth content
        assert abs(r["mean_val"] - img.mean()) < 1.0
        if mid % 2:
            assert r["ch2_mean"] is not None
        else:
            assert r["ch1_mean"] is None and r["ch2_mean"] is None


def test_jpeg_matches_pil_when_available():
    """Independent-decoder cross-check: PIL (when installed) must read
    our JPEGs within quantization tolerance, and we must read
    PIL-written baseline JPEGs. Skipped in sandboxes without PIL."""
    PIL = pytest.importorskip("PIL.Image")
    import io

    img = _gradient(32, 40)
    theirs = np.asarray(PIL.open(io.BytesIO(jpeg_encode(img, quality=90))))
    assert theirs.shape == img.shape
    assert np.abs(theirs.astype(int) - img.astype(int)).max() <= 6
    buf = io.BytesIO()
    PIL.fromarray(img, mode="L").save(
        buf, format="JPEG", quality=90, subsampling=0)
    ours = jpeg_decode(buf.getvalue())
    assert np.abs(ours.astype(int) - img.astype(int)).max() <= 6


# ------------------------------------------------ 4:2:0 subsampling

def test_constant_images_roundtrip_exactly_420():
    # constant chroma survives box-downsampling exactly, so the
    # DC-only argument holds for the subsampled stream too
    for val in (0, 77, 128, 255):
        img = np.full((17, 23, 3), val, dtype=np.uint8)
        out = jpeg_decode(jpeg_encode(img, quality=95, subsampling="420"))
        assert out.shape == img.shape
        assert int(np.abs(out.astype(int) - int(val)).max()) == 0


@pytest.mark.parametrize("h,w", [(16, 16), (37, 53), (9, 13), (8, 33)])
def test_rgb_roundtrip_smooth_420(h, w):
    # smooth chroma loses little to 2x2 box-averaging; odd dims cover
    # the pad-to-MCU (16x16) edge handling on both axes
    yy, xx = np.mgrid[0:h, 0:w]
    img = np.stack([
        np.clip(100 + yy + xx, 0, 255),
        np.clip(50 + 2 * xx, 0, 255),
        np.clip(30 + 2 * yy, 0, 255),
    ], axis=-1).astype(np.uint8)
    out = jpeg_decode(jpeg_encode(img, quality=90, subsampling="420"))
    assert out.shape == (h, w, 3)
    err = out.astype(int) - img.astype(int)
    assert np.sqrt((err ** 2).mean()) < 3.0
    assert np.abs(err).max() <= 14  # nearest-neighbor chroma upsample


def test_420_sampling_bytes_and_size_saving():
    img = RNG.integers(0, 256, (32, 32, 3), dtype=np.uint8)
    enc420 = jpeg_encode(img, quality=85, subsampling="420")
    enc444 = jpeg_encode(img, quality=85, subsampling="444")
    # SOF0 declares Y 2x2, Cb/Cr 1x1
    sof = enc420.index(b"\xff\xc0")
    comps = enc420[sof + 10:sof + 19]
    assert comps[1] == 0x22 and comps[4] == 0x11 and comps[7] == 0x11
    # chroma-rich noise is where 4:2:0 actually saves bytes
    assert len(enc420) < len(enc444)
    # and the stream still round-trips through the generic decoder
    assert jpeg_decode(enc420).shape == img.shape


def test_gray_in_rgb_420_matches_444():
    # r=g=b content has constant chroma (128): subsampling must cost
    # nothing — the two modes' decodes agree to rounding
    g = _gradient(24, 40)
    img = np.stack([g] * 3, axis=-1)
    d444 = jpeg_decode(jpeg_encode(img, quality=90, subsampling="444"))
    d420 = jpeg_decode(jpeg_encode(img, quality=90, subsampling="420"))
    assert np.abs(d444.astype(int) - d420.astype(int)).max() <= 2


def test_jpeg_420_matches_pil_when_available():
    """The real-world gate: PIL writes 4:2:0 by default below quality
    95 — we must read it, and PIL must read our 4:2:0 stream."""
    PIL = pytest.importorskip("PIL.Image")
    import io

    g = _gradient(32, 40)
    img = np.stack([g, np.flipud(g), np.fliplr(g)], axis=-1)
    buf = io.BytesIO()
    PIL.fromarray(img, mode="RGB").save(
        buf, format="JPEG", quality=90, subsampling=2)
    ours = jpeg_decode(buf.getvalue())
    assert np.abs(ours.astype(int) - img.astype(int)).max() <= 24
    theirs = np.asarray(
        PIL.open(io.BytesIO(jpeg_encode(img, quality=90, subsampling="420")))
    )
    assert np.abs(theirs.astype(int) - img.astype(int)).max() <= 24


def test_fill_bytes_before_markers_are_skipped():
    """T.81 B.1.1.2: any number of 0xFF fill bytes may pad before a
    marker code; the walk must skip them, not misread segment lengths."""
    img = (np.arange(64, dtype=np.float64).reshape(8, 8) * 3 % 256).astype(
        np.uint8
    )
    data = jpeg_encode(img, quality=90)
    # inject two fill bytes before the first post-SOI marker
    assert data[2] == 0xFF
    padded = data[:2] + b"\xff\xff" + data[2:]
    np.testing.assert_array_equal(jpeg_decode(padded), jpeg_decode(data))


def test_decode_time_is_linear_in_stream_size():
    """A >= 100 KB stream decodes at the same per-byte cost as a small
    one: the bit reader drops consumed bits, so no step costs time
    proportional to the bytes already read (an unmasked accumulator
    made the 150 KB decode ~8x slower per byte than a 17 KB one)."""
    import time

    rng = np.random.default_rng(7)

    def per_byte(side: int, reps: int) -> tuple[int, float]:
        data = jpeg_encode(rng.integers(0, 256, (side, side), dtype=np.uint8), quality=95)
        best = float("inf")
        for _ in range(reps):
            t0 = time.perf_counter()
            out = jpeg_decode(data)
            best = min(best, time.perf_counter() - t0)
        assert out.shape == (side, side)
        return len(data), best / len(data)

    _, small = per_byte(128, 3)
    size, big = per_byte(384, 2)
    assert size >= 100_000
    assert big <= 3 * small, (big, small)
