"""P14 — image decode + validation against the corpus (north-rule gate).

Every fetched image row must satisfy decoded-pixel allclose — PSNR ≥ 40 dB
for lossy formats, exact for lossless — plus caption equality versus the
corpus (BASELINE.json input_hint).  The reference only HEAD-checks images
(/root/reference/SpiderEngine/Engine.cs:246) and compares file paths
(UsedImagesChecker.cs:75-99); decoded-pixel validation is the graft's new
capability.

Implementation: equi-join fetched image rows to `web` (body) and `corpus`
(reference bytes + caption), then one `map_rows` Arrow pass that decodes
both sides per row and emits scalar metrics — bytes never survive the
stage, so the shuffle after validation carries only
(image_id, psnr, flags), not pixels (SURVEY.md §7 "binary image bytes
inflating shuffles").
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkkchecker_net_spark import imaging
from linkkchecker_net_spark.pipeline._parallel import map_rows
from linkkchecker_net_spark.reports.reports import IMAGE_MIMES

VALIDATION_SCHEMA = (
    "image_id string, url string, fmt string, psnr double, "
    "psnr_ok boolean, caption_ok boolean, phash_dist int, valid boolean"
)

PSNR_GATE_DB = 40.0


def _validate_row(
    image_id, url, fmt, body, web_caption, ref_bytes, ref_caption, ref_phash
):
    psnr = float("nan")
    psnr_ok = False
    phash_dist = -1
    try:
        fetched = imaging.decode_image(bytes(body), fmt)
        ref = imaging.decode_image(bytes(ref_bytes), fmt)
        if fetched.shape == ref.shape:
            psnr = imaging.psnr(fetched, ref)
            psnr_ok = bool(psnr >= PSNR_GATE_DB)
        phash_dist = imaging.hamming64(imaging.phash64(fetched), int(ref_phash))
    except Exception:
        pass
    caption_ok = bool(
        web_caption is not None
        and ref_caption is not None
        and web_caption == ref_caption
    )
    yield (
        image_id, url, fmt, psnr, psnr_ok, caption_ok, phash_dist,
        psnr_ok and caption_ok,
    )


def validate_images(
    results: DataFrame, web: DataFrame, corpus: DataFrame
) -> DataFrame:
    """One row per fetched corpus image: PSNR vs corpus pixels, caption
    equality, phash distance, and the combined `valid` gate."""
    fetched = results.filter(
        (F.col("classification") == "ok")
        & F.col("content_type").isin(IMAGE_MIMES)
        & F.col("image_id").isNotNull()
    ).select("url", "image_id")
    w = web.select(
        F.col("url"), F.col("body"), F.col("caption").alias("web_caption")
    )
    c = corpus.select(
        F.col("image_id"),
        F.col("bytes").alias("ref_bytes"),
        F.col("fmt"),
        F.col("caption").alias("ref_caption"),
        F.col("phash").alias("ref_phash"),
    )
    joined = fetched.join(w, "url", "inner").join(c, "image_id", "inner")
    return map_rows(
        joined.select(
            "image_id", "url", "fmt", "body", "web_caption", "ref_bytes",
            "ref_caption", "ref_phash",
        ),
        _validate_row,
        VALIDATION_SCHEMA,
    )
