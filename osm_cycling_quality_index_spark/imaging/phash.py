"""64-bit DCT perceptual hash (graft payload invariant, BASELINE.json
input_hint ``phash:int64``).

Classic pHash construction: grayscale -> area-mean resize to 32x32 -> 2D
DCT-II -> top-left 8x8 low-frequency block (DC excluded from the median) ->
median threshold -> 64 bits.  Pure numpy, deterministic.
"""

from __future__ import annotations

import numpy as np

_N = 32


def _dct_matrix(n: int) -> np.ndarray:
    k = np.arange(n)[:, None]
    i = np.arange(n)[None, :]
    m = np.cos(np.pi / n * (i + 0.5) * k)
    m[0] *= 1.0 / np.sqrt(2.0)
    return m * np.sqrt(2.0 / n)


_DCT = _dct_matrix(_N)


def _resize_area(gray: np.ndarray, n: int) -> np.ndarray:
    """Area-mean resize to (n, n) via bin averaging (deterministic): each
    bin's sum from the four corners of the 2D cumulative sum, over its
    area."""
    h, w = gray.shape
    ys = (np.arange(n + 1) * h // n).astype(np.int64)
    xs = (np.arange(n + 1) * w // n).astype(np.int64)
    ys[1:] = np.maximum(ys[1:], ys[:-1] + 1) if h >= n else ys[1:]
    xs[1:] = np.maximum(xs[1:], xs[:-1] + 1) if w >= n else xs[1:]
    y0, y1 = ys[:-1, None], np.maximum(ys[1:], ys[:-1] + 1)[:, None]
    x0, x1 = xs[None, :-1], np.maximum(xs[1:], xs[:-1] + 1)[None, :]
    csum = np.zeros((h + 1, w + 1), dtype=np.float64)
    csum[1:, 1:] = np.cumsum(np.cumsum(gray, axis=0), axis=1)
    return (csum[y1, x1] - csum[y0, x1] - csum[y1, x0] + csum[y0, x0]) / ((y1 - y0) * (x1 - x0))


def phash64_batch32(stack: np.ndarray) -> np.ndarray:
    """Vectorized pHash for a batch of (n, 32, 32, 3) uint8 images (the
    common synth/bench shape — no resize needed)."""
    gray = stack.astype(np.float64) @ np.array([0.299, 0.587, 0.114])
    freq = np.einsum("ij,njk,lk->nil", _DCT, gray, _DCT)
    block = freq[:, :8, :8].reshape(len(stack), 64)
    med = np.median(block[:, 1:], axis=1, keepdims=True)
    bits = (block > med).astype(np.uint64)
    weights = np.uint64(1) << np.arange(63, -1, -1, dtype=np.uint64)
    return (bits * weights).sum(axis=1, dtype=np.uint64).view(np.int64)


def phash64(pixels: np.ndarray) -> int:
    """(h, w, 3) uint8 -> signed 64-bit perceptual hash."""
    gray = pixels.astype(np.float64) @ np.array([0.299, 0.587, 0.114])
    small = _resize_area(gray, _N)
    freq = _DCT @ small @ _DCT.T
    block = freq[:8, :8].flatten()
    med = np.median(block[1:])
    # first coefficient is the most significant bit
    return int(np.packbits(block > med).view(">i8")[0])
