"""Real media codecs with zero external dependencies (round-2: replaces
the round-1 md5 stub for the formats stdlib can express).

- PNG: full decoder for 8-bit greyscale / RGB / RGBA, non-interlaced,
  implementing all five scanline filters (None/Sub/Up/Average/Paeth) per
  the PNG spec, over stdlib ``zlib`` + ``struct``; plus a deterministic
  encoder (filter 0) used by the fixture datagen — so decode tests run
  against genuinely encoded files.
- WAV: PCM 16-bit decode/encode via stdlib ``wave``.

Baseline JPEG decodes in core/jpeg.py. Video containers genuinely need
external libraries and stay stubbed (honestly marked) in
operators/multimodal.py.
"""
from __future__ import annotations

import io
import struct
import wave
import zlib

import numpy as np

PNG_SIG = b"\x89PNG\r\n\x1a\n"

_CHANNELS = {0: 1, 2: 3, 6: 4}  # color type → samples per pixel (8-bit only)


def encode_png(arr: np.ndarray) -> bytes:
    """(h, w) or (h, w, {1,3,4}) uint8 → PNG bytes (filter 0 rows)."""
    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim == 2:
        a = a[:, :, None]
    h, w, c = a.shape
    color_type = {1: 0, 3: 2, 4: 6}[c]

    def chunk(tag: bytes, payload: bytes) -> bytes:
        return (
            struct.pack(">I", len(payload))
            + tag
            + payload
            + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    raw = b"".join(b"\x00" + a[y].tobytes() for y in range(h))
    return (
        PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, 9))
        + chunk(b"IEND", b"")
    )


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def decode_png(data: bytes) -> np.ndarray:
    """PNG bytes → (h, w, c) uint8. Supports 8-bit depth, color types
    0/2/6, interlace 0; raises ValueError on anything else."""
    if data[:8] != PNG_SIG:
        raise ValueError("not a PNG (bad signature)")
    pos = 8
    width = height = None
    channels = None
    idat = bytearray()
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + length]
        crc = struct.unpack(">I", data[pos + 8 + length : pos + 12 + length])[0]
        if zlib.crc32(tag + payload) & 0xFFFFFFFF != crc:
            raise ValueError(f"bad CRC in {tag!r} chunk")
        if tag == b"IHDR":
            width, height, depth, color_type, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", payload
            )
            if depth != 8:
                raise ValueError(f"unsupported bit depth {depth}")
            if color_type not in _CHANNELS:
                raise ValueError(f"unsupported color type {color_type}")
            if interlace != 0:
                raise ValueError("interlaced PNG not supported")
            channels = _CHANNELS[color_type]
        elif tag == b"IDAT":
            idat.extend(payload)
        elif tag == b"IEND":
            break
        pos += 12 + length
    if width is None or not idat:
        raise ValueError("missing IHDR/IDAT")

    raw = zlib.decompress(bytes(idat))
    stride = width * channels
    if len(raw) != height * (stride + 1):
        raise ValueError("IDAT length mismatch")
    out = np.zeros((height, stride), dtype=np.uint8)
    bpp = channels  # bytes per pixel at depth 8
    prev = np.zeros(stride, dtype=np.int64)
    for y in range(height):
        ftype = raw[y * (stride + 1)]
        line = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=y * (stride + 1) + 1
        ).astype(np.int64)
        if ftype == 0:  # None
            cur = line
        elif ftype == 1:  # Sub
            cur = line.copy()
            for i in range(bpp, stride):
                cur[i] = (cur[i] + cur[i - bpp]) & 0xFF
        elif ftype == 2:  # Up
            cur = (line + prev) & 0xFF
        elif ftype == 3:  # Average
            cur = line.copy()
            for i in range(stride):
                left = cur[i - bpp] if i >= bpp else 0
                cur[i] = (cur[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            cur = line.copy()
            for i in range(stride):
                left = int(cur[i - bpp]) if i >= bpp else 0
                upleft = int(prev[i - bpp]) if i >= bpp else 0
                cur[i] = (cur[i] + _paeth(left, int(prev[i]), upleft)) & 0xFF
        else:
            raise ValueError(f"unknown filter type {ftype}")
        out[y] = cur.astype(np.uint8)
        prev = cur
    return out.reshape(height, width, channels)


def encode_wav(samples: np.ndarray, framerate: int = 16000) -> bytes:
    """(n,) or (n, ch) int16 → WAV bytes (PCM 16-bit)."""
    a = np.asarray(samples, dtype=np.int16)
    if a.ndim == 1:
        a = a[:, None]
    buf = io.BytesIO()
    with wave.open(buf, "wb") as f:
        f.setnchannels(a.shape[1])
        f.setsampwidth(2)
        f.setframerate(framerate)
        f.writeframes(a.tobytes())
    return buf.getvalue()


def decode_wav(data: bytes) -> tuple[np.ndarray, int]:
    """WAV bytes → ((n, ch) int16 samples, framerate). PCM 16-bit only."""
    with wave.open(io.BytesIO(data), "rb") as f:
        if f.getsampwidth() != 2:
            raise ValueError(f"unsupported sample width {f.getsampwidth()}")
        n, ch, rate = f.getnframes(), f.getnchannels(), f.getframerate()
        raw = f.readframes(n)
    return np.frombuffer(raw, dtype=np.int16).reshape(n, ch), rate


def image_features(arr: np.ndarray) -> np.ndarray:
    """8-dim deterministic feature vector from a decoded (h, w, c) image:
    dims, channel count, intensity stats, edge energy."""
    a = arr.astype(np.float64)
    grey = a.mean(axis=2)
    gx = np.abs(np.diff(grey, axis=1)).mean() if grey.shape[1] > 1 else 0.0
    gy = np.abs(np.diff(grey, axis=0)).mean() if grey.shape[0] > 1 else 0.0
    return np.array(
        [
            float(arr.shape[0]),
            float(arr.shape[1]),
            float(arr.shape[2]),
            float(a.mean() / 255.0),
            float(a.std() / 255.0),
            float(a.min() / 255.0),
            float(a.max() / 255.0),
            float((gx + gy) / 255.0),
        ]
    )


def audio_features(samples: np.ndarray, framerate: int) -> np.ndarray:
    """8-dim deterministic feature vector from decoded PCM samples."""
    x = samples.astype(np.float64) / 32768.0
    mono = x.mean(axis=1)
    zc = int(np.count_nonzero(np.diff(np.signbit(mono)))) if len(mono) > 1 else 0
    return np.array(
        [
            float(samples.shape[0]),
            float(samples.shape[1]),
            float(framerate),
            float(mono.mean()),
            float(mono.std()),
            float(np.sqrt((mono**2).mean()) if len(mono) else 0.0),
            float(zc),
            float(samples.shape[0] / framerate if framerate else 0.0),
        ]
    )
