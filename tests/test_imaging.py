"""Imaging codec tests: round-trips, PSNR gate, phash stability."""

from __future__ import annotations

import numpy as np

from linkkchecker_net_spark import imaging


def _img(seed=7, w=33, h=21):
    rng = np.random.default_rng(seed)
    return imaging.make_image(rng, w, h)


def test_png_roundtrip_lossless():
    arr = _img()
    data = imaging.encode_png(arr)
    assert data[:8] == b"\x89PNG\r\n\x1a\n"
    out = imaging.decode_png(data)
    assert np.array_equal(arr, out)
    assert imaging.psnr(arr, out) == float("inf")


def test_lossy_roundtrip_psnr_above_gate():
    arr = _img()
    out = imaging.decode_image(imaging.encode_lossy(arr), "jpeg")
    p = imaging.psnr(arr, out)
    # the 40 dB gate (BASELINE.json input_hint) with real, nonzero error
    assert 40.0 <= p < 60.0
    assert not np.array_equal(arr, out)


def test_lossless_container_roundtrip():
    arr = _img()
    out = imaging.decode_image(imaging.encode_lossless(arr), "gif")
    assert np.array_equal(arr, out)


def test_encode_decode_dispatch():
    arr = _img()
    for fmt in ("png", "jpeg", "gif"):
        out = imaging.decode_image(imaging.encode_image(arr, fmt), fmt)
        assert out.shape == arr.shape
        assert imaging.psnr(arr, out) >= 40.0


def test_phash_deterministic_and_local():
    arr = _img()
    h1 = imaging.phash64(arr)
    assert h1 == imaging.phash64(arr.copy())
    assert -(1 << 63) <= h1 < (1 << 63)
    # lossy re-encode barely moves the perceptual hash
    lossy = imaging.decode_image(imaging.encode_lossy(arr), "jpeg")
    assert imaging.hamming64(h1, imaging.phash64(lossy)) <= 4
    # a very different image gets a distant hash
    other = _img(seed=12345)[:21, :33][::-1]
    assert imaging.hamming64(h1, imaging.phash64(255 - other)) > 10


def test_laplacian_sharpness_flat_tiny_and_striped(spark):
    """Flat frame → zero energy; <3px image → interior 0 (guarded, not
    a crash); one striped id matches the closed-form 540·(32/s−1)·Δ²."""
    import pandas as pd
    from linkkchecker_net_spark.pipeline.multimodal import laplacian_sharpness
    from linkkchecker_net_spark.fixtures.images import synth_striped_corpus

    flat = imaging.encode_image(
        np.full((8, 8, 3), 77, dtype=np.uint8), "png"
    )
    tiny = imaging.encode_image(
        np.full((2, 2, 3), 10, dtype=np.uint8), "gif"
    )
    corpus = spark.createDataFrame(
        pd.DataFrame(
            {"image_id": ["flat", "tiny"], "bytes": [flat, tiny],
             "fmt": ["png", "gif"]}
        )
    )
    out = {r["image_id"]: r for r in laplacian_sharpness(corpus).collect()}
    assert out["flat"]["lap_sq_sum"] == 0 and not out["flat"]["sharp"]
    assert out["tiny"]["interior_px"] == 0
    assert out["tiny"]["sharpness_x100"] == 0  # div guarded

    ids = spark.createDataFrame([(5,)], "id long")  # s=4, delta=24
    row = laplacian_sharpness(synth_striped_corpus(spark, ids)).collect()[0]
    assert row["lap_sq_sum"] == 540 * (32 // 4 - 1) * 24 * 24


# ------------------------------------------------------------ inline_images
def test_inline_images_extract_and_decode(spark):
    """Extractor harvests only data:image URIs (text/plain and http
    <img> ignored), decodes for real, and the pixel checksum equals the
    numpy truth."""
    import base64

    import numpy as np

    from linkkchecker_net_spark import imaging
    from linkkchecker_net_spark.pipeline.multimodal import inline_images

    arr = np.arange(4 * 3 * 3, dtype=np.uint8).reshape(3, 4, 3)
    b64 = base64.b64encode(imaging.encode_image(arr, "png")).decode()
    t64 = base64.b64encode(b"plain").decode()
    body = (
        f'<img src="data:image/png;base64,{b64}">'
        f'<a href="data:text/plain;base64,{t64}">x</a>'
        '<img src="http://cdn.test/a.jpg">'
    )
    pages = spark.createDataFrame(
        [("http://t.test/", body)], "url string, body string"
    )
    rows = inline_images(pages).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.img_pos, r.fmt, r.ok, r.w, r.h) == (0, "png", True, 4, 3)
    assert r.pix_sum == int(arr.astype(np.int64).sum())


def test_inline_images_corrupt_payload(spark):
    """Valid base64 of a truncated container -> ok=False, NULL dims."""
    import base64

    from linkkchecker_net_spark.pipeline.multimodal import inline_images

    b64 = base64.b64encode(b"\x89PNGxx").decode()
    pages = spark.createDataFrame(
        [("u", f'<img src="data:image/png;base64,{b64}">')],
        "url string, body string",
    )
    r = inline_images(pages).collect()[0]
    assert r.ok is False and r.w is None and r.pix_sum is None


def test_inline_images_lossy_roundtrip_checksum(spark):
    """jpeg (lossy) checksum equals the dequantized truth, not the
    original pixels — proves the decode path, not an echo."""
    import base64

    import numpy as np

    from linkkchecker_net_spark import imaging
    from linkkchecker_net_spark.pipeline.multimodal import inline_images

    arr = np.full((2, 2, 3), 37, dtype=np.uint8)  # 37//4*4+2 = 38
    b64 = base64.b64encode(imaging.encode_image(arr, "jpeg")).decode()
    pages = spark.createDataFrame(
        [("u", f'<img src="data:image/jpeg;base64,{b64}">')],
        "url string, body string",
    )
    r = inline_images(pages).collect()[0]
    assert r.pix_sum == 38 * 12
    assert r.pix_sum != int(arr.astype(np.int64).sum())


def test_colorfulness_grayscale_and_hand_values(spark):
    """grayscale=true for an R=G=B image (the stripe-corpus fixture never
    produces one); hand-checked ppm math; truncated bytes -> ok=false."""
    import numpy as np

    from linkkchecker_net_spark import imaging
    from linkkchecker_net_spark.pipeline.multimodal import colorfulness

    gray = np.full((2, 3, 3), 77, dtype=np.uint8)
    col = np.zeros((1, 2, 3), dtype=np.uint8)
    col[:, :, 0] = 10  # R=10 G=0 B=0: rg=10, yb2=|10+0-0|=10 per pixel
    rows = [
        ("g", imaging.encode_image(gray, "png"), "png"),
        ("c", imaging.encode_image(col, "gif"), "gif"),
        ("bad", b"\x00\x01", "png"),
    ]
    corpus = spark.createDataFrame(
        rows, "image_id string, bytes binary, fmt string"
    )
    got = {r["image_id"]: r.asDict() for r in colorfulness(corpus).collect()}
    assert got["g"]["grayscale"] is True and got["g"]["colorfulness_ppm"] == 0
    # c: n=2, sum_rg=20, sum_yb=20 -> mean_rg = 1e7, mean_yb = 5e6
    assert got["c"] == {
        "image_id": "c", "ok": True, "mean_rg_ppm": 10_000_000,
        "mean_yb_ppm": 5_000_000, "colorfulness_ppm": 15_000_000,
        "grayscale": False,
    }
    assert got["bad"]["ok"] is False and got["bad"]["grayscale"] is None


def test_contrast_stats_flat_image_is_low_contrast(spark):
    """flat image -> contrast 0 / low_contrast (the stripe fixture never
    produces one); hand-checked luma; truncated bytes -> ok=false."""
    import numpy as np

    from linkkchecker_net_spark import imaging
    from linkkchecker_net_spark.pipeline.multimodal import contrast_stats

    flat = np.full((2, 2, 3), 100, dtype=np.uint8)  # luma = 800 everywhere
    hi = np.zeros((1, 2, 3), dtype=np.uint8)
    hi[0, 1] = 255  # luma 0 and 2040
    rows = [
        ("f", imaging.encode_image(flat, "png"), "png"),
        ("h", imaging.encode_image(hi, "gif"), "gif"),
        ("bad", b"\x00", "png"),
    ]
    corpus = spark.createDataFrame(
        rows, "image_id string, bytes binary, fmt string"
    )
    got = {r["image_id"]: r.asDict() for r in contrast_stats(corpus).collect()}
    assert got["f"] == {
        "image_id": "f", "ok": True, "lum_min": 800, "lum_max": 800,
        "contrast": 0, "low_contrast": True,
    }
    assert got["h"]["contrast"] == 2040 and got["h"]["low_contrast"] is False
    assert got["bad"]["ok"] is False


def test_tile_neardup_crop_robustness(spark):
    """Hand-built pair: B = A with one quadrant replaced -> 3 shared;
    C = A with 3 quadrants replaced -> 1 shared (below threshold);
    lossy codec on one of the shared-quadrant images must not break
    equality when the group shares a codec (the fixture contract)."""
    import numpy as np

    from linkkchecker_net_spark import imaging
    from linkkchecker_net_spark.pipeline.multimodal import tile_neardup

    a = np.arange(8 * 8 * 3, dtype=np.uint8).reshape(8, 8, 3) % 200
    b = a.copy(); b[4:, 4:] = (b[4:, 4:] + 50) % 200
    c = a.copy(); c[:4, :] = 0; c[4:, 4:] = 1
    rows = [
        ("A", imaging.encode_image(a, "jpeg"), "jpeg"),
        ("B", imaging.encode_image(b, "jpeg"), "jpeg"),
        ("C", imaging.encode_image(c, "jpeg"), "jpeg"),
        ("bad", b"\x00", "png"),
    ]
    corpus = spark.createDataFrame(
        rows, "image_id string, bytes binary, fmt string"
    )
    got = {(r["id_a"], r["id_b"]): r["n_shared"]
           for r in tile_neardup(corpus, min_shared=2).collect()}
    assert got == {("A", "B"): 3}


def test_pixel_verify_codec_noise_vs_distinct(spark):
    """Exact twins SAD 0; lossy twins pass the MAE gate with nonzero
    SAD; distinct stripes fail — and the lossy SAD matches the codec's
    bucket-center error formula exactly."""
    import numpy as np
    from pyspark.sql import functions as F

    from linkkchecker_net_spark.pipeline.multimodal import pixel_verify
    from linkkchecker_net_spark.fixtures.images import synth_twin_corpus

    ids = spark.range(12).select(F.col("id").cast("long").alias("id"))
    out = {r["pair_id"]: r for r in pixel_verify(
        synth_twin_corpus(spark, ids)).collect()}
    assert len(out) == 12
    for i in range(12):
        r = out[f"pair_{i:06d}"]
        w, h = 8 + (i % 5) * 4, 6 + (i % 7) * 2
        assert r["n_px"] == w * h
        if i % 4 == 0:
            assert r["sad"] == 0 and r["dup"] is True
        elif i % 4 == 1:
            rr = np.arange(h)
            sad = 0
            for mul, step in ((37, 5), (53, 7), (71, 11)):
                v = (i * mul + rr * step) % 251
                sad += int(np.abs(v - ((v // 4) * 4 + 2)).sum()) * w
            assert r["sad"] == sad and r["dup"] is True
        else:
            assert r["dup"] is False and r["mae_ppm"] > 20000


# ------------------------------------------------------------ nn_thumbnails
def test_nn_thumbnails_matches_numpy_index_math(spark):
    """The nearest-neighbor thumb (un-shadowed in r5 — was dead code behind
    the area-average resize_images) equals direct numpy fancy-indexing on
    the decoded source, per image, bit-for-bit after lossless round-trip."""
    import pandas as pd
    from linkkchecker_net_spark.pipeline.multimodal import nn_thumbnails

    rows = []
    rng_vals = [(7, 11), (12, 9), (30, 5)]
    for i, (w, h) in enumerate(rng_vals):
        arr = ((np.arange(h * w * 3).reshape(h, w, 3) * (i * 31 + 7)) % 251
               ).astype(np.uint8)
        rows.append({"image_id": f"im{i}", "bytes": imaging.encode_image(arr, "png"),
                     "fmt": "png", "_arr": arr})
    corpus = spark.createDataFrame(
        pd.DataFrame([{k: v for k, v in r.items() if k != "_arr"} for r in rows])
    )
    out = {r["image_id"]: bytes(r["thumb"])
           for r in nn_thumbnails(corpus, out_w=4, out_h=3).collect()}
    assert len(out) == 3
    for i, r in enumerate(rows):
        arr = r["_arr"]
        ys = (np.arange(3) * arr.shape[0] // 3).clip(0, arr.shape[0] - 1)
        xs = (np.arange(4) * arr.shape[1] // 4).clip(0, arr.shape[1] - 1)
        want = arr[ys][:, xs]
        got = imaging.decode_image(out[f"im{i}"], "png")
        assert np.array_equal(got, want)


def test_format_sniff_magic_ladder(spark):
    """Real PNG/JPEG-SOI/GIF87a signatures and the sandbox QIMG/QLS0
    containers all classify; declared lies read mismatch; junk reads
    unknown regardless of declaration."""
    import numpy as np

    from linkkchecker_net_spark.pipeline.multimodal import format_sniff

    arr = np.zeros((4, 4, 3), dtype=np.uint8)
    png = imaging.encode_image(arr, "png")
    qimg = imaging.encode_image(arr, "jpeg")
    qls = imaging.encode_image(arr, "gif")
    rows = [
        ("i1", bytearray(png), "png"),
        ("i2", bytearray(qimg), "jpeg"),
        ("i3", bytearray(qls), "gif"),
        ("i4", bytearray(png), "jpeg"),            # declared lies
        ("i5", bytearray(b"\xff\xd8\xff\xe0rest"), "jpeg"),  # real SOI
        ("i6", bytearray(b"GIF87a......"), "gif"),
        ("i7", bytearray(b"JUNKDATA"), "png"),
        ("i8", None, "png"),
    ]
    df = spark.createDataFrame(
        rows, "image_id string, bytes binary, fmt string"
    )
    out = {r["image_id"]: r for r in format_sniff(df).collect()}
    assert out["i1"]["sniffed"] == "png" and out["i1"]["verdict"] == "match"
    assert out["i2"]["sniffed"] == "jpeg" and out["i2"]["verdict"] == "match"
    assert out["i3"]["sniffed"] == "gif" and out["i3"]["verdict"] == "match"
    assert out["i4"]["verdict"] == "mismatch"
    assert out["i5"]["sniffed"] == "jpeg" and out["i5"]["verdict"] == "match"
    assert out["i6"]["sniffed"] == "gif"
    assert out["i7"]["verdict"] == "unknown"
    assert out["i8"]["sniffed"] == "unknown" and out["i8"]["n_bytes"] == 0


def test_image_entropy_flat_vs_spread(spark):
    """A constant image concentrates one bin (entropy 0, low); a
    4-value image spread evenly over the 4 bins hits ln(4); truncated
    payloads stay ok=false / low_entropy=true."""
    import math

    import numpy as np

    from linkkchecker_net_spark.pipeline.multimodal import image_entropy

    flat = np.full((4, 4, 3), 10, dtype=np.uint8)
    spread = np.zeros((4, 4, 3), dtype=np.uint8)
    spread[0], spread[1], spread[2], spread[3] = 0, 70, 140, 210
    rows = [
        ("flat", bytearray(imaging.encode_image(flat, "png")), "png"),
        ("spread", bytearray(imaging.encode_image(spread, "png")), "png"),
        ("trunc", bytearray(imaging.encode_image(flat, "png"))[:6], "png"),
    ]
    df = spark.createDataFrame(
        rows, "image_id string, bytes binary, fmt string"
    )
    out = {r["image_id"]: r for r in image_entropy(df).collect()}
    assert out["flat"]["entropy"] == 0.0 and out["flat"]["low_entropy"]
    assert out["spread"]["entropy"] == round(
        -4 * (0.25 * math.log(0.25)), 6
    )
    assert out["spread"]["low_entropy"] is False
    assert out["trunc"]["ok"] is False and out["trunc"]["entropy"] is None
    assert out["trunc"]["low_entropy"] is True


def test_phash_hamming_hist_blocks_and_popcounts(spark):
    """Pairs form only within a shared 16-bit prefix; distances are
    exact popcounts of the xor; cross-block pairs never appear."""
    from linkkchecker_net_spark.pipeline.multimodal import phash_hamming_hist

    rows = [
        ("a", (1 << 48) | 0b0000),
        ("b", (1 << 48) | 0b0011),   # dist(a,b)=2
        ("c", (1 << 48) | 0b0001),   # dist(a,c)=1, dist(b,c)=1
        ("d", (2 << 48) | 0b0000),   # different block: no pairs with a/b/c
    ]
    df = spark.createDataFrame(rows, "image_id string, phash long")
    out = {r["dist"]: r["n_pairs"] for r in phash_hamming_hist(df).collect()}
    assert out == {1: 2, 2: 1}


def test_image_model_score_hand_values(spark):
    """Constant-10 image: all mass in bin0 -> score = -2*10^6 + 400*10
    (drop); constant-140: bin2 -> +10^6 + 400*140 (keep); truncated
    payload stays ok=false / NULL score / keep=false."""
    import numpy as np

    from linkkchecker_net_spark.pipeline.multimodal import image_model_score

    dark = np.full((4, 4, 3), 10, dtype=np.uint8)
    mid = np.full((4, 4, 3), 140, dtype=np.uint8)
    rows = [
        ("dark", bytearray(imaging.encode_image(dark, "png")), "png"),
        ("mid", bytearray(imaging.encode_image(mid, "png")), "png"),
        ("trunc", bytearray(imaging.encode_image(dark, "png"))[:6], "png"),
    ]
    df = spark.createDataFrame(
        rows, "image_id string, bytes binary, fmt string"
    )
    out = {r["image_id"]: r for r in image_model_score(df).collect()}
    assert out["dark"]["score"] == -2 * 1_000_000 + 400 * 10
    assert out["dark"]["keep"] is False
    assert out["mid"]["score"] == 1_000_000 + 400 * 140
    assert out["mid"]["keep"] is True
    assert out["trunc"]["ok"] is False
    assert out["trunc"]["score"] is None and out["trunc"]["keep"] is False


def test_mirror_phash_pairs_catches_flip_and_reupload(spark, new_cached_rdds):
    """A mirrored copy pairs with its original (mirrored=true), a
    byte-identical re-upload pairs with mirrored=false, and an
    unrelated image pairs with nothing; no cached relation outlives the
    call."""
    import numpy as np

    from linkkchecker_net_spark.pipeline.multimodal import mirror_phash_pairs
    from linkkchecker_net_spark.fixtures.images import _splitmix64

    def blocks(seed):
        n = (
            np.uint64(seed) * np.uint64(64)
            + np.arange(64, dtype=np.uint64).reshape(8, 8)
        )
        b = (_splitmix64(n) % np.uint64(251)).astype(np.uint8)
        return np.stack([np.repeat(np.repeat(b, 4, 0), 4, 1)] * 3, axis=2)

    a = blocks(1)
    rows = [
        ("a", bytearray(imaging.encode_image(a, "png")), "png"),
        ("flip", bytearray(imaging.encode_image(a[:, ::-1], "png")), "png"),
        ("dup", bytearray(imaging.encode_image(a, "png")), "png"),
        ("other", bytearray(imaging.encode_image(blocks(2), "png")), "png"),
    ]
    df = spark.createDataFrame(
        rows, "image_id string, bytes binary, fmt string"
    )
    got = {
        (r["img_a"], r["img_b"]): r["mirrored"]
        for r in mirror_phash_pairs(df).collect()
    }
    assert got == {
        ("a", "flip"): True,
        ("a", "dup"): False,
        ("dup", "flip"): True,
    }
    assert new_cached_rdds() == []


def test_tile_periodicity_arms(spark):
    """A true period-3 pattern fires at 3 with zero mismatch; noise
    stays untiled; a constant image is the documented degenerate
    every-period case (best 2); truncation keeps NULLs."""
    import numpy as np

    from linkkchecker_net_spark.pipeline.multimodal import tile_periodicity

    def img(v):
        base = np.repeat(np.array(v, dtype=np.uint8)[None, :], 4, axis=0)
        return bytearray(
            imaging.encode_image(np.stack([base] * 3, axis=2), "png")
        )

    tiled = img([10, 200, 60] * 8)          # period 3
    noise = img([17, 201, 33, 90, 4, 250, 140, 77, 8, 183, 99, 60] * 2)
    const = img([42] * 24)
    rows = [
        ("tiled", tiled, "png"),
        ("noise", noise, "png"),
        ("const", const, "png"),
        ("trunc", img([1] * 24)[:6], "png"),
    ]
    df = spark.createDataFrame(
        rows, "image_id string, bytes binary, fmt string"
    )
    out = {r["image_id"]: r for r in tile_periodicity(df).collect()}
    t = out["tiled"]
    assert t["best_period"] == 3 and t["mismatch_ppm"] == 0 and t["is_tiled"]
    assert out["noise"]["is_tiled"] is False
    c = out["const"]
    assert c["best_period"] == 2 and c["is_tiled"]
    assert out["trunc"]["ok"] is False
    assert out["trunc"]["best_period"] is None
    assert out["trunc"]["is_tiled"] is False


def test_text_in_image_band_arms(spark):
    """Stripe band rows count as texty (period-3 glyph stripes),
    constant background rows don't, a smooth ramp never fires, and
    truncation keeps NULLs."""
    import numpy as np

    from linkkchecker_net_spark.pipeline.multimodal import text_in_image

    w = 24
    stripe = np.array(
        [255 if (c // 3) % 2 else 0 for c in range(w)], dtype=np.uint8
    )
    bg = np.full(w, 40, dtype=np.uint8)
    meme = np.stack([bg, bg, bg, stripe, stripe, stripe, bg, bg, bg])
    ramp = np.repeat(
        np.minimum(np.arange(w) * 4, 250)[None, :].astype(np.uint8),
        9, axis=0,
    )

    def enc(b):
        return bytearray(
            imaging.encode_image(np.stack([b] * 3, axis=2), "png")
        )

    rows = [
        ("meme", enc(meme), "png"),
        ("ramp", enc(ramp), "png"),
        ("trunc", enc(ramp)[:6], "png"),
    ]
    df = spark.createDataFrame(
        rows, "image_id string, bytes binary, fmt string"
    )
    out = {r["image_id"]: r for r in text_in_image(df).collect()}
    m = out["meme"]
    assert m["texty_rows"] == 3 and m["n_rows"] == 9
    assert m["text_ppm"] == 3 * 1_000_000 // 9 and m["has_text"]
    assert out["ramp"]["texty_rows"] == 0
    assert out["ramp"]["has_text"] is False
    assert out["trunc"]["ok"] is False and out["trunc"]["has_text"] is False


def test_corner_overlay_arms(spark):
    """A varied photo with one pasted flat corner badge fires; a fully
    flat image does NOT (global-range guard routes it to the entropy
    filter); truncation keeps NULLs."""
    import numpy as np

    from linkkchecker_net_spark.pipeline.multimodal import corner_overlay

    rng = np.arange(16, dtype=np.uint8)
    photo = (np.add.outer(rng * 16, rng) % 251).astype(np.uint8)
    badged = photo.copy()
    badged[:4, :4] = 200  # flat top-left badge
    flat = np.full((16, 16), 9, dtype=np.uint8)

    def enc(b):
        return bytearray(
            imaging.encode_image(np.stack([b] * 3, axis=2), "png")
        )

    rows = [
        ("badged", enc(badged), "png"),
        ("photo", enc(photo), "png"),
        ("flat", enc(flat), "png"),
        ("trunc", enc(flat)[:6], "png"),
    ]
    df = spark.createDataFrame(
        rows, "image_id string, bytes binary, fmt string"
    )
    out = {r["image_id"]: r for r in corner_overlay(df).collect()}
    b = out["badged"]
    assert b["flat_corners"] >= 1 and b["has_overlay"]
    assert out["photo"]["has_overlay"] is False
    f = out["flat"]
    assert f["flat_corners"] == 4 and f["has_overlay"] is False
    assert out["trunc"]["ok"] is False
    assert out["trunc"]["has_overlay"] is False


# ------------------------------------------------- vectorized hash exactness
# The spec: phash64, dhash64 and _image_features as they were with one
# float mean per block, copied verbatim (the thumbnail hash calls the spec
# phash).  The vectorized kernels must give the same output on every input.
def _spec_phash64(arr: np.ndarray) -> int:
    gray = arr.astype(np.float64).mean(axis=2)
    h, w = gray.shape
    ys = np.linspace(0, h, 9).astype(int)
    xs = np.linspace(0, w, 9).astype(int)
    blocks = np.empty((8, 8))
    for i in range(8):
        for j in range(8):
            blocks[i, j] = gray[ys[i] : ys[i + 1], xs[j] : xs[j + 1]].mean()
    bits = (blocks > blocks.mean()).flatten()
    val = 0
    for bit in bits:
        val = (val << 1) | int(bit)
    if val >= 1 << 63:
        val -= 1 << 64
    return val


def _spec_dhash64(arr: np.ndarray) -> int:
    gray = arr.astype(np.float64).mean(axis=2)
    h, w = gray.shape
    ys = np.linspace(0, h, 9).astype(int)
    xs = np.linspace(0, w, 10).astype(int)
    m = np.empty((8, 9))
    for i in range(8):
        for j in range(9):
            m[i, j] = gray[ys[i] : ys[i + 1], xs[j] : xs[j + 1]].mean()
    bits = (m[:, 1:] > m[:, :-1]).flatten()
    val = 0
    for bit in bits:
        val = (val << 1) | int(bit)
    if val >= 1 << 63:
        val -= 1 << 64
    return val


def _spec_image_features(arr: np.ndarray) -> dict:
    gray = arr.astype(np.float32).mean(axis=2)
    mean_luma = float(gray.mean())
    luma_var = float(gray.var())
    gx = np.abs(np.diff(gray, axis=1)).mean()
    gy = np.abs(np.diff(gray, axis=0)).mean()
    edge_density = float(gx + gy)
    hist = np.bincount((gray.ravel() / 16).astype(np.int32).clip(0, 15), minlength=16)
    p = hist / max(hist.sum(), 1)
    p = p[p > 0]
    hist_entropy = float(-(p * np.log2(p)).sum())
    h, w = gray.shape
    ys = (np.arange(32) * h // 32).clip(0, h - 1)
    xs = (np.arange(32) * w // 32).clip(0, w - 1)
    thumb = arr[ys][:, xs]
    return dict(
        mean_luma=mean_luma,
        luma_var=luma_var,
        edge_density=edge_density,
        hist_entropy=hist_entropy,
        thumb_phash=_spec_phash64(thumb),
    )


def _spec_feature_row(arr: np.ndarray) -> dict:
    # a 0-px side raised at the thumbnail index, and image_metadata wrote
    # its defaults: NaN features, thumb_phash 0
    try:
        return _spec_image_features(arr)
    except IndexError:
        nan = float("nan")
        return dict(mean_luma=nan, luma_var=nan, edge_density=nan,
                    hist_entropy=nan, thumb_phash=0)


def _exactness_images() -> list:
    rng = np.random.default_rng(20261019)
    out = []
    # validate-shaped images through all three codecs, and their mirrors
    sides = (48, 64, 96, 128, 160, 192, 224, 256)
    for i in range(72):
        w, h = (sides[i % 8] + int(d) for d in rng.integers(-4, 5, size=2))
        fmt = ("png", "jpeg", "gif")[(i // 8) % 3]
        arr = imaging.make_image(rng, w, h)
        arr = imaging.decode_image(imaging.encode_image(arr, fmt), fmt)
        out += [arr, arr[:, ::-1]]
    # every side 0-300, both ways round
    for s in range(301):
        out.append(imaging.make_image(rng, s, 300 - s))
        out.append(imaging.make_image(rng, (s * 37) % 97, s))
    for v in range(256):
        n = 1 + v % 40
        # constant images whose gray v/3 is not representable
        out.append(np.full((n + 3, n, 3), (v, 0, 0), np.uint8))
        out.append(np.full((n, n + 5, 3), (v, (v * 7) % 256, 1), np.uint8))
        # two-level: one column band, one row band
        a = np.zeros((8 + v % 57, 8 + v % 61, 3), np.uint8)
        a[:, : 1 + v % a.shape[1]] = (v, 1, 2)
        out += [a, a.transpose(1, 0, 2)]
        # stripes and a checkerboard of period 1-4
        k = 1 + v % 4
        yy, xx = np.indices(a.shape[:2])
        out.append(np.where(((yy // k) % 2)[..., None] == 1, a, 255 - v).astype(np.uint8))
        out.append((((yy // k + xx // k) % 2)[..., None] * np.array([v, 3, 5])).astype(np.uint8))
    return out


def _same(a, b) -> bool:
    if isinstance(b, float) and np.isnan(b):
        return isinstance(a, float) and np.isnan(a)
    return type(a) is type(b) and a == b


def test_vectorized_hashes_and_features_match_the_loop_spec():
    import warnings

    from linkkchecker_net_spark.pipeline.multimodal import _image_features

    bad = []
    with warnings.catch_warnings():
        # the spec warns on empty blocks, gradients and thumbnail indices
        warnings.simplefilter("ignore")
        for arr in _exactness_images():
            if imaging.phash64(arr) != _spec_phash64(arr):
                bad.append(("phash64", arr.shape))
            if imaging.dhash64(arr) != _spec_dhash64(arr):
                bad.append(("dhash64", arr.shape))
            want = _spec_feature_row(arr)
            got = _image_features(arr)
            if got.keys() != want.keys() or not all(_same(got[k], want[k]) for k in want):
                bad.append(("features", arr.shape))
    assert bad == []


def test_image_metadata_degenerate_sides_keep_their_rows(spark):
    """Images with a side under 8 px, or of 0 px, decode in all three
    codecs and keep the rows the loop spec gives: phash 0, and for a
    0-px side NaN features and thumb_phash 0."""
    import warnings

    from linkkchecker_net_spark.pipeline.multimodal import image_metadata

    rows = []
    for h, w in ((0, 40), (40, 0), (1, 1), (5, 40), (7, 7)):
        arr = imaging.make_image(np.random.default_rng(100 * h + w), w, h)
        for fmt in ("png", "jpeg", "gif"):
            data = bytearray(imaging.encode_image(arr, fmt))
            rows.append((f"{h}x{w}.{fmt}", data, fmt))
    df = spark.createDataFrame(rows, "image_id string, bytes binary, fmt string")
    got = {r["image_id"]: r.asDict() for r in image_metadata(df).collect()}
    assert len(got) == len(rows)
    for iid, data, fmt in rows:
        arr = imaging.decode_image(bytes(data), fmt)
        with warnings.catch_warnings():
            warnings.simplefilter("ignore")
            want = dict(
                image_id=iid, fmt=fmt, n_bytes=len(data), w=arr.shape[1],
                h=arr.shape[0], decode_ok=True, phash=_spec_phash64(arr),
                **_spec_feature_row(arr),
            )
        assert want["phash"] == 0
        if 0 in arr.shape:
            assert want["thumb_phash"] == 0 and np.isnan(want["mean_luma"])
        # a NaN feature reaches Spark as NULL
        want = {k: None if _same(v, float("nan")) else v for k, v in want.items()}
        assert got[iid] == want
