"""Pure-numpy image codecs, perceptual hash, and PSNR.

The sandbox has no PIL/OpenCV, so the corpus' ``bytes`` column is produced
by these deterministic codecs (the Spark-side plumbing — schema, Arrow
batch shape, validation joins — is the real deliverable; the codec is the
clearly-marked stand-in the task brief allows):

  * fmt='png'  — a real, spec-conformant PNG (8-bit RGB, filter 0, zlib),
                 losslessly round-trippable by this module and by any PNG
                 reader.
  * fmt='jpeg' — a deterministic LOSSY stand-in ("QIMG"): 6-bit uniform
                 quantization + zlib.  Reconstruction error is uniform in
                 [-2, 2] per channel → PSNR ≈ 46 dB, comfortably above the
                 40 dB gate (BASELINE.json input_hint) while still being a
                 genuinely lossy round-trip.
  * fmt='gif'  — lossless raw zlib container ("QLS0").

In production these three branches would call a real codec inside the same
``mapInPandas`` batch; nothing else changes.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_EPS = float(np.finfo(np.float64).eps)


def _png_chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def encode_png(arr: np.ndarray) -> bytes:
    """Encode an (h, w, 3) uint8 array as a real RGB8 PNG (filter 0)."""
    h, w, c = arr.shape
    assert c == 3 and arr.dtype == np.uint8
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    raw = b"".join(b"\x00" + arr[y].tobytes() for y in range(h))
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw, 6))
        + _png_chunk(b"IEND", b"")
    )


def decode_png(data: bytes) -> np.ndarray:
    """Decode a PNG produced by :func:`encode_png` (8-bit RGB, filters 0-2)."""
    assert data[:8] == _PNG_SIG, "not a PNG"
    pos, w, h, idat = 8, 0, 0, b""
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + length]
        if tag == b"IHDR":
            w, h, depth, ctype = struct.unpack(">IIBB", payload[:10])
            assert depth == 8 and ctype == 2, "only RGB8 supported"
        elif tag == b"IDAT":
            idat += payload
        pos += 12 + length
    raw = zlib.decompress(idat)
    stride = w * 3
    # fast path: every scanline filter byte is 0 (the only filter
    # :func:`encode_png` emits, hence the whole synthetic corpus) — one
    # vectorized reshape/slice instead of an h-iteration Python row loop
    # (guide §4.2: whole-batch native ops inside the decode kernel; the
    # per-row loop below remains the general 0-2 filter path)
    if len(raw) == h * (stride + 1):
        rows = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride + 1)
        if h > 0 and not rows[:, 0].any():
            return rows[:, 1:].reshape(h, w, 3).copy()
    out = np.empty((h, w, 3), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        row = raw[y * (stride + 1) : (y + 1) * (stride + 1)]
        filt, body = row[0], np.frombuffer(row[1:], dtype=np.uint8).copy()
        if filt == 2:  # Up
            body = (body.astype(np.int16) + prev).astype(np.uint8)
        elif filt == 1:  # Sub
            body = body.reshape(w, 3)
            for x in range(1, w):
                body[x] = (body[x].astype(np.int16) + body[x - 1]).astype(np.uint8)
            body = body.reshape(-1)
        elif filt != 0:
            raise ValueError(f"unsupported PNG filter {filt}")
        prev = body
        out[y] = body.reshape(w, 3)
    return out


_QIMG_MAGIC = b"QIMG"  # lossy 6-bit stand-in (fmt='jpeg')
_QLS_MAGIC = b"QLS0"  # lossless zlib stand-in (fmt='gif')
_QBITS = 6
_QSTEP = 256 // (1 << _QBITS)  # 4


def encode_lossy(arr: np.ndarray) -> bytes:
    h, w, _ = arr.shape
    q = (arr // _QSTEP).astype(np.uint8)
    return _QIMG_MAGIC + struct.pack(">HH", w, h) + zlib.compress(q.tobytes(), 6)


def encode_lossless(arr: np.ndarray) -> bytes:
    h, w, _ = arr.shape
    return _QLS_MAGIC + struct.pack(">HH", w, h) + zlib.compress(arr.tobytes(), 6)


def decode_image(data: bytes, fmt: str) -> np.ndarray:
    """Decode corpus bytes for any supported fmt → (h, w, 3) uint8."""
    if data[:8] == _PNG_SIG:
        return decode_png(data)
    magic, (w, h) = data[:4], struct.unpack(">HH", data[4:8])
    body = zlib.decompress(data[8:])
    arr = np.frombuffer(body, dtype=np.uint8).reshape(h, w, 3)
    if magic == _QIMG_MAGIC:
        # reconstruct at bucket centers → max abs error = _QSTEP/2
        return (arr.astype(np.uint16) * _QSTEP + _QSTEP // 2).clip(0, 255).astype(np.uint8)
    if magic == _QLS_MAGIC:
        return arr.copy()
    raise ValueError(f"unknown image container for fmt={fmt!r}")


def encode_image(arr: np.ndarray, fmt: str) -> bytes:
    if fmt == "png":
        return encode_png(arr)
    if fmt == "jpeg":
        return encode_lossy(arr)
    if fmt == "gif":
        return encode_lossless(arr)
    raise ValueError(f"unsupported fmt {fmt!r}")


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio in dB between two uint8 images."""
    diff = a.astype(np.float64) - b.astype(np.float64)
    mse = float(np.mean(diff * diff))
    if mse == 0.0:
        return float("inf")
    return 10.0 * np.log10(255.0 * 255.0 / mse)


def channel_sum(arr: np.ndarray) -> np.ndarray:
    """Per-pixel ``r + g + b`` of an (h, w, 3) uint8 image, exact in int32."""
    s = arr[..., 0].astype(np.int32)
    s += arr[..., 1]
    s += arr[..., 2]
    return s


def _block_means(s: np.ndarray, ny: int, nx: int) -> tuple:
    """Gray block means of a channel-sum image over its ``np.linspace``
    grid of ``ny × nx`` blocks, from exact integer block sums, and the
    float tolerance of a comparison between two of them.

    The tolerance bounds how far a comparison of two gray block means
    may be off between the per-block float loop and the exact block sums
    here.  The loop's block mean is off the true one by at most about
    ``(n + 1)·u·255`` for an ``n``-pixel block (one rounding per pixel of
    gray, one per addition, one for the division; ``u`` is half an ulp of
    1), and its mean of 64 means by another ``64·u·255``; each mean here
    is the true one rounded once.  Two such values compared, against the
    same two here, err by less than ``255·eps·(n_max + 128)``: a
    comparison farther apart than that has the same sign in both."""
    h, w = s.shape
    ys = np.linspace(0, h, ny + 1).astype(int)
    xs = np.linspace(0, w, nx + 1).astype(int)
    n = np.outer(np.diff(ys), np.diff(xs))
    sums = np.add.reduceat(
        np.add.reduceat(s, xs[:-1], axis=1, dtype=np.int64), ys[:-1], axis=0
    )
    return sums / (3 * n), 255 * _EPS * (int(n.max()) + 128)


def _pack64(bits: np.ndarray) -> int:
    """64 bits, row-major and most significant first, as a signed int64."""
    return int(np.packbits(bits).view(">i8")[0])


def _loop_block_means(arr: np.ndarray, ny: int, nx: int) -> np.ndarray:
    gray = arr.astype(np.float64).mean(axis=2)
    h, w = gray.shape
    ys = np.linspace(0, h, ny + 1).astype(int)
    xs = np.linspace(0, w, nx + 1).astype(int)
    m = np.empty((ny, nx))
    for i in range(ny):
        for j in range(nx):
            m[i, j] = gray[ys[i] : ys[i + 1], xs[j] : xs[j + 1]].mean()
    return m


def _phash64_loop(arr: np.ndarray) -> int:
    """Reference average hash: one float mean per block."""
    m = _loop_block_means(arr, 8, 8)
    return _pack64(m > m.mean())


def _dhash64_loop(arr: np.ndarray) -> int:
    """Reference difference hash: one float mean per block."""
    m = _loop_block_means(arr, 8, 9)
    return _pack64(m[:, 1:] > m[:, :-1])


def phash64(arr: np.ndarray) -> int:
    """64-bit average-hash: grayscale → 8×8 block means → mean threshold.

    Deterministic, numpy-only perceptual hash (signed int64 so it fits a
    Spark LongType column).  Blocks are the ``np.linspace(0, n, 9)`` grid
    of each side, gray is the channel mean, and bit ``8i + j`` (most
    significant first) is block ``(i, j)``'s mean above the mean of all
    64.  The input is an (h, w, 3) uint8 image, as :func:`decode_image`
    returns.

    Exactness contract: the result equals the per-block float loop
    (``_phash64_loop``) on every such input.  Block sums are exact integers;
    when a block mean lies within the loop's float error of the overall
    mean (constant and two-level images, see :func:`_block_means`), the
    loop itself decides.  A side under 8 px leaves a row or column of
    the grid empty, and the hash is 0, as the loop's NaN means give.
    """
    h, w = arr.shape[:2]
    if h < 8 or w < 8:
        return 0
    m, tol = _block_means(channel_sum(arr), 8, 8)
    d = m - m.mean()
    if np.abs(d).min() <= tol:
        return _phash64_loop(arr)
    return _pack64(d > 0)


def hamming64(a: int, b: int) -> int:
    return bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")


def make_image(rng: np.random.Generator, w: int, h: int) -> np.ndarray:
    """Deterministic synthetic test image: smooth gradient + seeded noise.

    Smooth content keeps the lossy round-trip PSNR stable and the phash
    meaningful (pure noise would make every phash bit a coin flip).
    """
    yy, xx = np.mgrid[0:h, 0:w]
    base = np.stack(
        [
            (xx * 255 / max(w - 1, 1)),
            (yy * 255 / max(h - 1, 1)),
            ((xx + yy) * 255 / max(w + h - 2, 1)),
        ],
        axis=2,
    )
    noise = rng.integers(-12, 13, size=(h, w, 3))
    return np.clip(base + noise, 0, 255).astype(np.uint8)


def dhash64(arr: np.ndarray) -> int:
    """64-bit difference-hash: grayscale → 8×9 block means → sign of each
    horizontal gradient (row-major), signed int64.

    Complements :func:`phash64` (average hash): dhash keys on local
    gradient STRUCTURE, phash on global brightness layout — the pair
    disagrees exactly on the uniform-brightness-shift edits that defeat
    one of them alone.

    Exactness contract: as :func:`phash64`, the result equals the
    per-block float loop (``_dhash64_loop``) on every (h, w, 3) uint8
    input, and an adjacent pair of block means within the loop's float
    error of each other goes to the loop.  A side under 8 px high or
    9 px wide leaves blocks empty; those grids go to the loop too, whose
    NaN comparisons give mixed bits (a 5×40 image hashes to a non-zero
    value).
    """
    h, w = arr.shape[:2]
    if h < 8 or w < 9:
        return _dhash64_loop(arr)
    m, tol = _block_means(channel_sum(arr), 8, 9)
    d = m[:, 1:] - m[:, :-1]
    if np.abs(d).min() <= tol:
        return _dhash64_loop(arr)
    return _pack64(d > 0)
