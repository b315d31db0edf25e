"""Image payload codecs (graft axis, BASELINE.json input_hint).

Two formats flow through the engine as opaque ``binary`` columns:

* ``png`` — a real, self-contained PNG encoder/decoder (pure zlib + struct,
  8-bit RGB, filter type 0).  Lossless round-trip, byte-exact pixels.
* ``jpeg`` — **deterministic stand-in for a lossy codec** (no image libraries
  in this container): channel quantization to steps of 4 + zlib, giving a
  bounded reconstruction error (max 2/channel, PSNR ~46.9 dB >= the 40 dB
  invariant).  The Spark-side plumbing (binary column, batch decode through
  Arrow, PSNR verification) is real; swap `_lossy_*` for libjpeg bindings in
  production.

All functions are numpy-vectorized per image and deterministic.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_LOSSY_MAGIC = b"LQ01"
_LOSSY_STEP = 4


def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def png_encode(pixels: np.ndarray) -> bytes:
    """(h, w, 3) uint8 -> PNG bytes (color type 2, bit depth 8, filter 0)."""
    h, w, c = pixels.shape
    assert c == 3 and pixels.dtype == np.uint8
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    raw = np.concatenate(
        [np.zeros((h, 1), dtype=np.uint8), pixels.reshape(h, w * 3)], axis=1
    ).tobytes()
    return (
        _PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw, 6))
        + _chunk(b"IEND", b"")
    )


def png_decode(data: bytes) -> np.ndarray:
    """PNG bytes -> (h, w, 3) uint8.  Supports what png_encode writes plus
    filter types 0-2 for robustness."""
    assert data[:8] == _PNG_SIG, "not a PNG"
    pos = 8
    w = h = None
    idat = b""
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + length]
        if tag == b"IHDR":
            w, h, depth, ctype = struct.unpack(">IIBB", payload[:10])
            assert depth == 8 and ctype == 2, "unsupported PNG variant"
        elif tag == b"IDAT":
            idat += payload
        elif tag == b"IEND":
            break
        pos += 12 + length
    raw = np.frombuffer(zlib.decompress(idat), dtype=np.uint8).reshape(h, w * 3 + 1)
    filters = raw[:, 0]
    rows = raw[:, 1:].astype(np.int64)
    out = np.zeros_like(rows)
    for y in range(h):
        f = filters[y]
        row = rows[y].copy()
        if f == 0:
            out[y] = row
        elif f == 1:  # Sub
            for x in range(3, w * 3):
                row[x] = (row[x] + row[x - 3]) % 256
            out[y] = row
        elif f == 2:  # Up
            out[y] = (row + (out[y - 1] if y else 0)) % 256
        else:  # pragma: no cover
            raise ValueError(f"unsupported PNG filter {f}")
    return out.astype(np.uint8).reshape(h, w, 3)


def lossy_encode(pixels: np.ndarray) -> bytes:
    """Deterministic lossy stand-in (see module docstring)."""
    h, w, _ = pixels.shape
    q = (pixels.astype(np.uint16) // _LOSSY_STEP).astype(np.uint8)
    return (
        _LOSSY_MAGIC
        + struct.pack(">HH", w, h)
        + zlib.compress(q.tobytes(), 6)
    )


def lossy_decode(data: bytes) -> np.ndarray:
    assert data[:4] == _LOSSY_MAGIC, "not a lossy-codec payload"
    w, h = struct.unpack(">HH", data[4:8])
    q = np.frombuffer(zlib.decompress(data[8:]), dtype=np.uint8).reshape(h, w, 3)
    deq = q.astype(np.uint16) * _LOSSY_STEP + _LOSSY_STEP // 2
    return np.clip(deq, 0, 255).astype(np.uint8)


def encode(pixels: np.ndarray, fmt: str) -> bytes:
    if fmt == "png":
        return png_encode(pixels)
    if fmt == "jpeg":
        return lossy_encode(pixels)
    raise NotImplementedError(
        f"format {fmt!r}: only png (real codec) and jpeg (deterministic "
        "lossy stand-in) are available in this container"
    )


def decode(data: bytes, fmt: str) -> np.ndarray:
    if fmt == "png":
        return png_decode(data)
    if fmt == "jpeg":
        return lossy_decode(data)
    raise NotImplementedError(f"format {fmt!r}")


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio in dB (inf for identical images)."""
    mse = float(np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2))
    if mse == 0:
        return float("inf")
    return 10.0 * np.log10(255.0 * 255.0 / mse)
