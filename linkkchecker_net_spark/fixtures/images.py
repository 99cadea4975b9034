"""images — deterministic image corpora for the multimodal operators.

Each generator maps an id column to one encoded image (or image pair, or
HTML page) per id through `pipeline._parallel.map_rows`: pixels are pure
arithmetic (or seeded numpy) in the id, so a DuckDB oracle can price what
Spark must earn by decoding the bytes.  Every generator keeps the
`(spark, ids_df)` signature and spreads a small id scan over the
session's cores first (`spread_scan`).

Most corpora come in the north-rule table shape, CORPUS_SCHEMA; the
fixtures of the pixel-only operators carry just IMG_SCHEMA.
"""

from __future__ import annotations

import base64
import hashlib

import numpy as np
from pyspark.sql import DataFrame

from linkkchecker_net_spark import imaging
from linkkchecker_net_spark.pipeline._parallel import map_rows, spread_scan

CORPUS_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, "
    "caption string, phash long"
)
IMG_SCHEMA = "image_id string, bytes binary, fmt string"
FMTS = ("png", "jpeg", "gif")


def _splitmix64(n: np.ndarray) -> np.ndarray:
    """SplitMix64 finalizer over uint64 — full-avalanche deterministic
    noise for fixtures (a weaker multiplicative hash leaves the block
    pattern monotone and every average-hash collides)."""
    x = n + np.uint64(0x9E3779B97F4A7C15)
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def _corpus_row(i: int, arr: np.ndarray, fmt: str, caption: str) -> tuple:
    """A CORPUS_SCHEMA row with phash 0 whose bytes are truncated to 6
    (undecodable) on i%9==4."""
    data = imaging.encode_image(arr, fmt)
    if i % 9 == 4:
        data = data[:6]
    h, w = arr.shape[:2]
    return (f"img_{i:06d}", data, w, h, fmt, caption, 0)


def _dims(i: int) -> tuple[int, int]:
    """(w, h) = (8+(i%5)*4, 6+(i%7)*2), both even."""
    return 8 + (i % 5) * 4, 6 + (i % 7) * 2


def arith_dims_image(i: int) -> tuple[bytes, str]:
    """Encoded image ``i`` of the arithmetic-dims entry fixtures and its
    fmt: w = 16 + 3i mod 33, h = 16 + 5i mod 33, codec by i % 3."""
    w = 16 + (i * 3) % 33
    h = 16 + (i * 5) % 33
    fmt = FMTS[i % 3]
    arr = imaging.make_image(np.random.default_rng(5_000_011 + i), w, h)
    return imaging.encode_image(arr, fmt), fmt


def _rowgrad(i: int) -> np.ndarray:
    """Row gradient: value (i*37 + row) % 251 on every channel/column."""
    w, h = _dims(i)
    col = ((i * 37 + np.arange(h)) % 251).astype(np.uint8)
    return np.stack([np.repeat(col[:, None], w, axis=1)] * 3, axis=2)


def _stripes(j: int, w: int, h: int) -> np.ndarray:
    """Row r is the constant RGB ((j*37+r*5)%251, (j*53+r*7)%251,
    (j*71+r*11)%251)."""
    r = np.arange(h)
    chans = [
        ((j * 37 + r * 5) % 251).astype(np.uint8),
        ((j * 53 + r * 7) % 251).astype(np.uint8),
        ((j * 71 + r * 11) % 251).astype(np.uint8),
    ]
    return np.stack([np.repeat(c[:, None], w, axis=1) for c in chans], axis=2)


def _md5_noise(i: int, w: int) -> np.ndarray:
    """int(md5(f"{i}:{c}")[:6], 16) % 251 per column c — noise the oracle
    can price."""
    return np.array([
        int(hashlib.md5(f"{i}:{c}".encode()).hexdigest()[:6], 16) % 251
        for c in range(w)
    ])


def synth_corpus(spark, ids_df: DataFrame, fmt_cycle=FMTS) -> DataFrame:
    """Deterministic corpus synthesis from an id column (sandbox stand-in
    for reading a real image corpus): seeded numpy per id → encoded bytes,
    with the phash of the decoded pixels."""

    def row(i):
        i = int(i)
        rng = np.random.default_rng(42 * 1_000_003 + i)
        w = int(rng.integers(16, 40))
        h = int(rng.integers(16, 40))
        arr = imaging.make_image(rng, w, h)
        fmt = fmt_cycle[i % len(fmt_cycle)]
        data = imaging.encode_image(arr, fmt)
        ph = imaging.phash64(imaging.decode_image(data, fmt))
        yield (f"img_{i:06d}", data, w, h, fmt, f"caption of img_{i:06d}", ph)

    return map_rows(spread_scan(ids_df), row, CORPUS_SCHEMA)


def synth_bordered_corpus(spark, ids_df: DataFrame) -> DataFrame:
    """Deterministic letterbox fixture: per id, a bright checkerboard
    content block (channel0 alternates 128/255 — every row AND column of
    content carries a >=128 pixel, so no content line can ever classify
    as border, lossy ±2 included) padded with black borders of
    arithmetic widths top=id%4, bottom=(id//4)%3, left=(id//12)%3,
    right=(id//36)%2."""

    def row(i):
        i = int(i)
        t, b = i % 4, (i // 4) % 3
        l, r = (i // 12) % 3, (i // 36) % 2
        w0, h0 = 16 + i % 9, 12 + i % 7
        ys, xs = np.mgrid[0:h0, 0:w0]
        content = np.zeros((h0, w0, 3), dtype=np.uint8)
        content[..., 0] = 128 + 127 * ((xs + ys) % 2)
        arr = np.zeros((h0 + t + b, w0 + l + r, 3), dtype=np.uint8)
        arr[t:t + h0, l:l + w0] = content
        fmt = FMTS[i % 3]
        yield (f"img_{i:06d}", imaging.encode_image(arr, fmt), fmt)

    return map_rows(spread_scan(ids_df), row, IMG_SCHEMA)


def synth_gradient_corpus(spark, ids_df: DataFrame) -> DataFrame:
    """Deterministic dhash fixture with EXACT pair distances: each group
    g = id//2 draws 64 random step signs (seeded by g); block means walk
    ±14 from 128 along each row, 8×8-px blocks (64×72 image) — so the
    dhash bits ARE the step signs by construction.  The odd member flips
    the first g%6 steps → intra-pair hamming is exactly g%6; cross-group
    patterns are independent draws (measured min cross hamming 17 over
    the 240-image fixture, lossy round-trip included — margins verified
    offline, see q_image_dhash docstring).  The ±14 step with ±2 lossy
    pixel error leaves every gradient sign a ≥12-point margin: hashes
    are codec-independent."""

    def row(i):
        i = int(i)
        g, odd = divmod(i, 2)
        rng = np.random.default_rng(70_000_003 + g)
        steps = rng.integers(0, 2, 64)
        if odd:
            steps = steps.copy()
            steps[: g % 6] ^= 1
        m = np.empty((8, 9))
        for r in range(8):
            m[r, 0] = 128.0
            for c in range(8):
                m[r, c + 1] = m[r, c] + (14.0 if steps[r * 8 + c] else -14.0)
        arr = np.repeat(np.repeat(m, 8, axis=0), 8, axis=1)
        img = np.stack([arr] * 3, axis=2).clip(0, 255).astype(np.uint8)
        fmt = FMTS[i % 3]
        yield (f"img_{i:06d}", imaging.encode_image(img, fmt), fmt)

    return map_rows(spread_scan(ids_df), row, IMG_SCHEMA)


def synth_striped_corpus(spark, ids_df: DataFrame) -> DataFrame:
    """Deterministic sharpness fixture with EXACT Laplacian energy:
    32×32 vertical stripes of width s = 2^(1+id%4), levels A=2 and
    B=2+Δ with Δ = 4·(1+id%7) — both lossy-codec bucket centers
    (v ≡ 2 mod 4), so every codec round-trips the pixels EXACTLY and
    the energy is pure arithmetic: boundaries contribute 2 columns ×
    (h−2) rows × (3Δ)², i.e. lap_sq_sum = 540·(32/s − 1)·Δ².  Wider
    stripes = fewer edges = blurrier, spanning ~1k–700k in
    sharpness_x100 across the (s, Δ) grid."""

    def row(i):
        i = int(i)
        s = 1 << (1 + i % 4)
        delta = 4 * (1 + i % 7)
        xs = np.arange(32)
        line = np.where((xs // s) % 2 == 0, 2, 2 + delta).astype(np.uint8)
        arr = np.repeat(np.tile(line, (32, 1))[:, :, None], 3, axis=2)
        fmt = FMTS[i % 3]
        yield (f"img_{i:06d}", imaging.encode_image(arr, fmt), fmt)

    return map_rows(spread_scan(ids_df), row, IMG_SCHEMA)


def synth_meta_corpus(spark, ids_df: DataFrame) -> DataFrame:
    """Deterministic audit fixture in the EXACT north-rule table shape:
    per id a gradient tile is encoded, decoded back, and its TRUE
    (w, h, fmt, phash) recorded — then one declared fact is corrupted by
    arithmetic rule: i%7==1 → w+1, i%7==3 → fmt rotated, i%7==5 →
    phash⊕1, i%7==6 → bytes truncated to 6 (undecodable); else clean.
    Because the declared phash is computed from the ROUND-TRIPPED
    pixels, clean rows match bit-exactly on every codec — no margin
    analysis needed."""

    def row(i):
        i = int(i)
        w, h = 16 + i % 5, 12 + i % 4
        ys, xs = np.mgrid[0:h, 0:w]
        arr = np.stack(
            [((xs * 7 + ys * 13 + i) % 17 * 15) % 256] * 3, axis=2
        ).astype(np.uint8)
        fmt = FMTS[i % 3]
        data = imaging.encode_image(arr, fmt)
        ph = imaging.phash64(imaging.decode_image(data, fmt))
        m = i % 7
        yield (
            f"img_{i:06d}",
            data[:6] if m == 6 else data,
            w + (1 if m == 1 else 0),
            h,
            FMTS[(i + 1) % 3] if m == 3 else fmt,
            f"tile {i}",
            ph ^ 1 if m == 5 else ph,
        )

    return map_rows(spread_scan(ids_df), row, CORPUS_SCHEMA)


def synth_inline_corpus(spark, ids_df: DataFrame) -> DataFrame:
    """Deterministic HTML pages with inline base64 images: per id, img 0
    is a row-gradient tile (pixel value (i*37+row) % 251 on every
    channel/column) in the i%3-rotated codec; i%4==2 pages add a second
    4x4 constant-fill PNG; i%9==4 pages truncate img 0's payload to 6
    bytes (valid base64, undecodable container); i%6==1 pages carry a
    data:text/plain URI and i%5==3 a plain http <img> — both must be
    ignored by the extractor.  Every decodable pixel sum is an
    arithmetic function of id, so the DuckDB oracle knows the answer
    WITHOUT decoding — Spark must earn it from the payload."""

    def row(i):
        i = int(i)
        fmt = FMTS[i % 3]
        data = imaging.encode_image(_rowgrad(i), fmt)
        if i % 9 == 4:
            data = data[:6]
        b64 = base64.b64encode(data).decode("ascii")
        parts = [f'<img src="data:image/{fmt};base64,{b64}">']
        if i % 6 == 1:
            t64 = base64.b64encode(b"not an image").decode("ascii")
            parts.append(f'<a href="data:text/plain;base64,{t64}">t</a>')
        if i % 5 == 3:
            parts.append(f'<img src="http://cdn.test/x/{i}.jpg">')
        if i % 4 == 2:
            tiny = np.full((4, 4, 3), (i * 11) % 251, dtype=np.uint8)
            b2 = base64.b64encode(imaging.encode_image(tiny, "png")).decode(
                "ascii"
            )
            parts.append(f'<img src="data:image/png;base64,{b2}">')
        yield (
            f"http://in.test/p{i}",
            "<html><body>" + "".join(parts) + "</body></html>",
        )

    return map_rows(spread_scan(ids_df), row, "url string, body string")


def synth_rowgrad_corpus(spark, ids_df: DataFrame) -> DataFrame:
    """North-rule-shaped corpus whose pixels are a pure row gradient:
    value (i*37 + row) % 251 on every channel/column, w = 8+(i%5)*4 and
    h = 6+(i%7)*2 (both even — factor-2 blocks tile exactly), codec
    rotated by i%3, bytes truncated on i%9==4.  Every block-mean the
    resize computes is therefore arithmetic in (i, row) — the oracle
    can price the whole transform without pixels."""

    def row(i):
        i = int(i)
        yield _corpus_row(i, _rowgrad(i), FMTS[i % 3], f"grad {i}")

    return map_rows(spread_scan(ids_df), row, CORPUS_SCHEMA)


def synth_rgbstripe_corpus(spark, ids_df: DataFrame) -> DataFrame:
    """North-rule-shaped corpus whose rows carry channel-distinct
    stripes: row r of image i is the constant RGB
    ((i*37+r*5)%251, (i*53+r*7)%251, (i*71+r*11)%251), w = 8+(i%5)*4,
    h = 6+(i%7)*2, codec rotated by i%3, bytes truncated on i%9==4 —
    every palette cell count is w × (rows hitting that cell), pure
    arithmetic for the oracle."""

    def row(i):
        i = int(i)
        arr = _stripes(i, *_dims(i))
        yield _corpus_row(i, arr, FMTS[i % 3], f"stripe {i}")

    return map_rows(spread_scan(ids_df), row, CORPUS_SCHEMA)


def synth_tiled_corpus(spark, ids_df: DataFrame) -> DataFrame:
    """Quadrant-structured corpus for crop-robust dedup: images come in
    groups of 4 (g = id//4, one codec per GROUP so equal pixels stay
    equal through the decode): v0 = the group's base 8×8 pattern
    P(g,r,c) = (g·31 + r·5 + c·3) % 239, v1 = base with the
    bottom-right quadrant shifted +8 (two lossy buckets — survives the
    6-bit quantization), v2 = base with BOTH top quadrants shifted,
    v3 = a fully distinct pattern.  Within a complete group the shared-
    quadrant counts are exactly (v0,v1)=3, (v0,v2)=2, (v1,v2)=1 and 0
    for every v3 pairing — pure structure for the oracle."""

    def row(i):
        i = int(i)
        g, v = i // 4, i % 4
        r = np.arange(8)[:, None]
        c = np.arange(8)[None, :]
        base = ((g * 31 + r * 5 + c * 3) % 239).astype(np.int64)
        # group-id digits stamped into EVERY quadrant as 4k+2 values
        # (fixed points of the lossy recon, ≥4 apart for distinct digits —
        # different buckets even through the 6-bit codec), so quadrants
        # never collide across groups no matter how many groups the SF
        # produces (g < 64^3)
        digits = [
            (g % 64) * 4 + 2,
            ((g // 64) % 64) * 4 + 2,
            ((g // 4096) % 64) * 4 + 2,
        ]
        for quad_r, quad_c in ((0, 0), (0, 5), (5, 0), (5, 5)):
            for k, d in enumerate(digits):
                base[quad_r + k, quad_c + k] = d
        if v == 3:
            px = (base + 97) % 239
        else:
            px = base.copy()
            if v == 1:
                px[4:, 4:] = (px[4:, 4:] + 8) % 239
            elif v == 2:
                px[:4, :] = (px[:4, :] + 8) % 239
        arr = np.repeat(px.astype(np.uint8)[:, :, None], 3, axis=2)
        fmt = FMTS[g % 3]
        yield (
            f"img_{i:06d}", imaging.encode_image(arr, fmt), 8, 8, fmt,
            f"tile {i}", 0,
        )

    return map_rows(spread_scan(ids_df), row, CORPUS_SCHEMA)


def synth_twin_corpus(spark, ids_df: DataFrame) -> DataFrame:
    """Candidate-pair corpus for the decode-verify stage: per id i, a
    REFERENCE image (the channel-distinct stripe array of
    synth_rgbstripe_corpus, lossless 'gif' container) and a CANDIDATE:
    the identical array lossless on i%4==0 (exact twin), the same
    array through the LOSSY codec on i%4==1 (codec-noise twin —
    recon at bucket centers, error deterministic per pixel), and the
    stripe array of i+13 otherwise (true non-dup, same dims).  Every
    pixel of both sides is pure arithmetic for the oracle.
    """

    def row(i):
        i = int(i)
        w, h = _dims(i)
        a = _stripes(i, w, h)
        if i % 4 == 0:
            b, fmt_b = a, "gif"
        elif i % 4 == 1:
            b, fmt_b = a, "jpeg"
        else:
            b, fmt_b = _stripes(i + 13, w, h), "gif"
        yield (
            f"pair_{i:06d}", imaging.encode_image(a, "gif"), "gif",
            imaging.encode_image(b, fmt_b), fmt_b, w, h,
        )

    return map_rows(
        spread_scan(ids_df), row,
        "pair_id string, bytes_a binary, fmt_a string, "
        "bytes_b binary, fmt_b string, w int, h int",
    )


def synth_asym_corpus(spark, ids_df: DataFrame) -> DataFrame:
    """Asymmetric-content corpus for mirror-dedup: each image is a
    distinct 8x8 splitmix64-hashed block pattern upscaled to >=32px
    (block structure keeps the 8x8 average-hash fully informative —
    verified 5000/5000 distinct canonical hashes, 0 accidentally
    mirror-symmetric, at the largest driver-checked SF).  Rows with
    i%10==7 are the HORIZONTAL MIRROR of image i-1 (lossless png), the
    flipped-repost fixture; i%9==4 truncates bytes (decode-fail arm).
    """

    def row(i):
        i = int(i)
        src = i - 1 if i % 10 == 7 else i
        # >=32px on both axes so every 8x8 hash block has pixels
        w, h = 32 + (src % 5) * 4, 32 + (src % 7) * 2
        br = np.arange(8, dtype=np.uint64)[:, None]
        bc = np.arange(8, dtype=np.uint64)[None, :]
        n = np.uint64(src) * np.uint64(64) + br * np.uint64(8) + bc
        blocks = (_splitmix64(n) % np.uint64(251)).astype(np.uint8)
        base = blocks[np.ix_(np.arange(h) * 8 // h, np.arange(w) * 8 // w)]
        if i % 10 == 7:
            base = base[:, ::-1]
        yield _corpus_row(i, np.stack([base] * 3, axis=2), "png", f"asym {i}")

    return map_rows(spread_scan(ids_df), row, CORPUS_SCHEMA)


def synth_periodic_corpus(spark, ids_df: DataFrame) -> DataFrame:
    """Column-pattern corpus for tile_periodicity: every row and
    channel identical, so column sums are pure arithmetic in (i, c).
    Arms by i%3 — 0: period-4 tile pattern ((i*31 + (c%4)*37) % 251);
    1: aperiodic md5 noise (int(md5(f"{i}:{c}")[:6],16) % 251 — md5 so
    the ORACLE can price every column); 2: constant (i*13) % 251 (the
    degenerate every-period case; 0 at i%251==0 exercises the
    zero-mass guard).  w = 24+(i%5)*4 (always > max_period),
    h = 4+(i%2)*2; bytes truncate on i%9==4.
    """

    def row(i):
        i = int(i)
        w, h = 24 + (i % 5) * 4, 4 + (i % 2) * 2
        arm = i % 3
        if arm == 0:
            v = np.array([(i * 31 + (c % 4) * 37) % 251 for c in range(w)])
        elif arm == 1:
            v = _md5_noise(i, w)
        else:
            v = np.full(w, (i * 13) % 251)
        base = np.repeat(v[None, :].astype(np.uint8), h, axis=0)
        yield _corpus_row(i, np.stack([base] * 3, axis=2), "png", f"per {i}")

    return map_rows(spread_scan(ids_df), row, CORPUS_SCHEMA)


def synth_textband_corpus(spark, ids_df: DataFrame) -> DataFrame:
    """Row-banded corpus for text_in_image, every pixel arithmetic in
    (i, r, c) so the oracle replays the jump counts: arms by i%3 —
    0: a middle-third band of period-3 black/white glyph stripes over
    a constant background (the meme-caption shape; exactly h/3 texty
    rows); 1: a smooth +4/column ramp (no jumps >= 64); 2: md5 pixel
    noise, identical across rows (jumps on ~55% of columns — above the
    texty band, the sensor-noise decoy).  h = 9 + (i%2)*3,
    w = 24 + (i%5)*4; bytes truncate on i%9==4.
    """

    def row(i):
        i = int(i)
        w, h = 24 + (i % 5) * 4, 9 + (i % 2) * 3
        arm = i % 3
        if arm == 0:
            stripe = np.array(
                [255 if (c // 3) % 2 else 0 for c in range(w)], dtype=np.uint8
            )
            bg = np.full(w, (i * 7) % 128, dtype=np.uint8)
            base = np.stack(
                [stripe if h // 3 <= r < 2 * (h // 3) else bg for r in range(h)]
            )
        elif arm == 1:
            v = np.minimum(np.arange(w) * 4 + (i % 50), 250)
            base = np.repeat(v[None, :].astype(np.uint8), h, axis=0)
        else:
            base = np.repeat(_md5_noise(i, w).astype(np.uint8)[None, :], h, axis=0)
        yield _corpus_row(i, np.stack([base] * 3, axis=2), "png", f"band {i}")

    return map_rows(spread_scan(ids_df), row, CORPUS_SCHEMA)
