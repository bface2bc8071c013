"""Multimodal: REAL PNG/WAV decode (core/media.py) and the fake fallback
for formats needing external codecs."""
from __future__ import annotations

import pytest

from post_ocr_corretion_spark.operators.multimodal import (
    FEATURE_DIM,
    decode_image,
    extract_features,
    frame_sample_offsets,
    synthetic_blobs,
)


def test_decode_fallback_is_deterministic_and_strict_raises():
    a, da = decode_image(b"same bytes")
    b, db = decode_image(b"same bytes")
    assert (a == b).all() and len(a) == FEATURE_DIM
    assert da == db == "fake"
    assert (decode_image(b"other")[0] != a).any()
    with pytest.raises(NotImplementedError):
        decode_image(b"x", strict=True)


def test_png_roundtrip_all_shapes():
    import numpy as np

    from post_ocr_corretion_spark.core.media import decode_png, encode_png

    rs = np.random.RandomState(7)
    for shape in [(5, 9), (8, 3, 3), (4, 6, 4), (1, 1, 3), (2, 2)]:
        img = rs.randint(0, 256, size=shape, dtype=np.uint8)
        out = decode_png(encode_png(img))
        want = img if img.ndim == 3 else img[:, :, None]
        assert (out == want).all(), shape


def test_png_all_five_filters_decode():
    """Hand-build a PNG whose rows use filters 0..4 and check the decode
    against an independent reference unfiltering."""
    import struct
    import zlib

    import numpy as np

    from post_ocr_corretion_spark.core.media import PNG_SIG, decode_png

    w, h, c = 4, 5, 3
    rs = np.random.RandomState(3)
    img = rs.randint(0, 256, size=(h, w, c), dtype=np.uint8)

    def paeth(a, b, cc):
        p = a + b - cc
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
        if pa <= pb and pa <= pc:
            return a
        if pb <= pc:
            return b
        return cc

    stride = w * c
    flat = img.reshape(h, stride).astype(int)
    raw = bytearray()
    for y in range(h):
        f = y % 5
        raw.append(f)
        prev = flat[y - 1] if y > 0 else np.zeros(stride, dtype=int)
        for i in range(stride):
            x = flat[y][i]
            left = flat[y][i - c] if i >= c else 0
            upleft = int(prev[i - c]) if i >= c else 0
            if f == 0:
                v = x
            elif f == 1:
                v = x - left
            elif f == 2:
                v = x - prev[i]
            elif f == 3:
                v = x - ((left + prev[i]) >> 1)
            else:
                v = x - paeth(left, int(prev[i]), upleft)
            raw.append(v & 0xFF)

    def chunk(tag, payload):
        return struct.pack(">I", len(payload)) + tag + payload + struct.pack(
            ">I", zlib.crc32(tag + payload) & 0xFFFFFFFF
        )

    png = (
        PNG_SIG
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )
    assert (decode_png(png) == img).all()


def test_wav_roundtrip_and_features():
    import numpy as np

    from post_ocr_corretion_spark.core.media import audio_features, decode_wav, encode_wav

    t = np.arange(500)
    mono = (2000 * np.sin(t * 0.05)).astype(np.int16)
    samples, rate = decode_wav(encode_wav(mono, framerate=8000))
    assert rate == 8000 and (samples[:, 0] == mono).all()
    stereo = np.stack([mono, -mono], axis=1)
    s2, _ = decode_wav(encode_wav(stereo, framerate=16000))
    assert (s2 == stereo).all()
    f = audio_features(samples, rate)
    assert f[0] == 500 and f[2] == 8000


def test_real_decodes_flow_through_spark(spark):
    """PNG/JPEG/WAV blobs report their real decoder and real stats; only
    video falls back to the fake."""
    blobs = synthetic_blobs(spark, 12)
    rows = {r.blob_id: r for r in extract_features(blobs).collect()}
    assert {r.decoder for r in rows.values() if r.kind == "image"} == {"png", "jpeg"}
    for i, r in rows.items():
        if r.kind == "image":
            assert r.decoder == ("png" if (i // 3) % 2 == 0 else "jpeg")
            assert r.features[0] == 12 + (i % 4) and r.features[1] == 16 + (i % 5)
        elif r.kind == "audio":
            assert r.decoder == "wav"
            assert r.features[2] == 8000.0
        else:
            assert r.decoder == "fake"


def test_frame_sampling():
    assert frame_sample_offsets(3500, 1000) == [0, 1000, 2000, 3000]
    assert frame_sample_offsets(0) == []
    assert frame_sample_offsets(None) == []


def test_extract_features_plumbing(spark):
    blobs = synthetic_blobs(spark, 12)
    feats = extract_features(blobs).collect()
    assert len(feats) == 12
    by_id = {r.blob_id: r for r in feats}
    for i in range(12):
        r = by_id[i]
        assert len(r.features) == FEATURE_DIM
        assert r.n_bytes > 0
        if r.kind == "video":
            assert len(r.frame_offsets) > 0 and r.frame_offsets[0] == 0
        else:
            assert r.frame_offsets == []
    # determinism: a second run yields identical features
    again = {r.blob_id: r.features for r in extract_features(blobs).collect()}
    assert all(again[i] == by_id[i].features for i in range(12))


def test_corrupt_real_format_bytes_fall_back_not_crash():
    """Truncated/garbage PNG or WAV bytes must degrade to the labeled
    'fake' decoder (or raise ONLY under strict), never kill the task."""
    import pytest as _pytest

    from post_ocr_corretion_spark.core.media import PNG_SIG

    bad_png = PNG_SIG + b"\x00\x01garbage-not-chunks"
    feats, dec = decode_image(bad_png)
    assert dec == "fake" and len(feats) == FEATURE_DIM
    bad_wav = b"RIFF\x10\x00\x00\x00WAVEjunkjunk"
    feats2, dec2 = decode_image(bad_wav)
    assert dec2 == "fake"
    with _pytest.raises((ValueError, NotImplementedError)):
        decode_image(bad_png, strict=True)
