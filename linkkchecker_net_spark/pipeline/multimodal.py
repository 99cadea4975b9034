"""Multimodal column plumbing: opaque binary image payloads + typed metadata.

Images ride as `binary` columns with typed metadata beside them, decoded
by the repo's own pure-numpy codecs (imaging.py).  Every per-image pass is
one Arrow-batched `map_rows` over (id, bytes, fmt) columns — decode plus
pixel math per row, scalars out — so bytes die at the stage boundary and
only scalars cross any shuffle; `image_metadata`, the gated validate hot
path, keeps its own batch loop.  The deterministic corpora these operators
are checked on live in `fixtures/images.py`.
"""

from __future__ import annotations

import hashlib
import math
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import Window as PWindow
from pyspark.sql import functions as F

from ._parallel import map_rows

from linkkchecker_net_spark import imaging

IMAGE_META_SCHEMA = (
    "image_id string, fmt string, n_bytes long, w int, h int, "
    "decode_ok boolean, phash long, thumb_phash long, mean_luma double, "
    "luma_var double, edge_density double, hist_entropy double"
)


# the 16 luma histogram bins as ranges of the channel sum: bin(s) is
# ``s / 3 / 16`` in float32, clipped, which is monotone in ``s``
_HIST_STARTS = np.searchsorted(
    (np.arange(766, dtype=np.float32) / np.float32(3) / 16).astype(np.int32).clip(0, 15),
    np.arange(16),
)


def _image_features(arr: np.ndarray) -> dict:
    """Feature battery over decoded pixels — the quality/dedup signals a
    training-data pipeline extracts per image (luma stats, gradient edge
    density, histogram entropy, thumbnail phash for near-dup blocking).

    Gray is the float32 channel mean: a sum of three bytes is exact in
    float32, so ``s / 3`` rounds once, as ``mean(axis=2)`` does, and a
    gray value's histogram bin depends on ``s`` alone.  An image
    with a 0-px side has no pixels: its features are NaN and its
    thumbnail hash 0."""
    h, w = arr.shape[:2]
    if h == 0 or w == 0:
        return dict(
            mean_luma=math.nan, luma_var=math.nan, edge_density=math.nan,
            hist_entropy=math.nan, thumb_phash=0,
        )
    s = imaging.channel_sum(arr)
    gray = s.astype(np.float32) / np.float32(3)
    mean_luma = float(gray.mean())
    luma_var = float(gray.var())
    gx = np.abs(np.diff(gray, axis=1)).mean()
    gy = np.abs(np.diff(gray, axis=0)).mean()
    edge_density = float(gx + gy)
    hist = np.add.reduceat(np.bincount(s.ravel(), minlength=766), _HIST_STARTS)
    p = hist / max(hist.sum(), 1)
    p = p[p > 0]
    hist_entropy = float(-(p * np.log2(p)).sum())
    ys = np.arange(32) * h // 32
    xs = np.arange(32) * w // 32
    thumb = arr[ys][:, xs]
    return dict(
        mean_luma=mean_luma,
        luma_var=luma_var,
        edge_density=edge_density,
        hist_entropy=hist_entropy,
        thumb_phash=imaging.phash64(thumb),
    )


def _decode(data, fmt: str) -> np.ndarray | None:
    """Decoded pixels of one payload, or None when it does not decode."""
    try:
        return imaging.decode_image(bytes(data), fmt)
    except Exception:
        return None


def image_metadata(
    corpus: DataFrame, level: str = "full", content_md5: bool = False
) -> DataFrame:
    """Decode pass with a tiered cost contract — at 10^10 images the
    per-image work is the bill, so callers request only what they gate on:

      * ``level="dims"``  — decode + dimensions only (resolution/aspect
        gates); skips phash AND the feature battery.
      * ``level="phash"`` — dims + 64-bit perceptual hash (near-dup paths).
      * ``level="full"``  — everything incl. the feature battery (default;
        the `image_meta` driver query pins this output).

    ``content_md5=True`` additionally emits the byte-content hash computed
    IN THE SAME SCAN (the bytes are already in hand) so exact-dup logic
    never re-reads the payload.  Bytes are dropped at the stage boundary —
    only scalars cross any shuffle.  The further production step when
    decode_ok can be deferred is a header-only dims probe (PIL lazy-open /
    JPEG SOF analog); here decode_ok is part of every gate's contract, so
    the decode is kept."""
    import hashlib

    if level not in ("dims", "phash", "full"):
        raise ValueError(f"unknown level {level!r}")
    nan = float("nan")
    feat_names = (
        ("mean_luma", "luma_var", "edge_density", "hist_entropy", "thumb_phash")
        if level == "full"
        else ()
    )
    want_phash = level in ("phash", "full")

    schema = "image_id string, fmt string, n_bytes long, w int, h int, decode_ok boolean"
    if want_phash:
        schema += ", phash long"
    if level == "full":
        schema = IMAGE_META_SCHEMA
    if content_md5:
        schema += ", content_md5 string"

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in (
                "image_id", "fmt", "n_bytes", "w", "h", "decode_ok",
                *(("phash",) if want_phash else ()),
                *feat_names,
                *(("content_md5",) if content_md5 else ()))}
            for r in pdf.itertuples(index=False):
                data = bytes(r.bytes)
                ok, w, h, ph = False, -1, -1, 0
                feats = dict.fromkeys(feat_names, nan)
                if feat_names:
                    feats["thumb_phash"] = 0
                arr = _decode(data, r.fmt)
                if arr is not None:
                    ok, (h, w) = True, arr.shape[:2]
                    if want_phash:
                        ph = imaging.phash64(arr)
                    if feat_names:
                        feats = _image_features(arr)
                rows["image_id"].append(r.image_id)
                rows["fmt"].append(r.fmt)
                rows["n_bytes"].append(len(data))
                rows["w"].append(w)
                rows["h"].append(h)
                rows["decode_ok"].append(ok)
                if want_phash:
                    rows["phash"].append(ph)
                for k in feat_names:
                    rows[k].append(feats[k])
                if content_md5:
                    rows["content_md5"].append(hashlib.md5(data).hexdigest())
            if rows["image_id"]:
                yield pd.DataFrame(rows)

    return corpus.select("image_id", "fmt", "bytes").mapInPandas(extract, schema)


def phash_neardup_pairs(corpus: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-duplicate IMAGE pairs by perceptual-hash hamming distance —
    the image-payload counterpart of text simhash_pairs, and the dedup
    pass a 100 TB image+caption corpus runs before training.

    The heavy work (decode + 8×8 block-mean phash) happens in
    image_metadata's mapInPandas Arrow pass; pairing then reuses the
    shared 4×16-bit chunk blocking (pipeline/dedup.hamming_blocked_pairs),
    so only images agreeing on at least one 16-bit phash chunk ever meet
    in the join — never O(N²), and by pigeonhole recall is EXACT for
    max_hamming ≤ 3.

    Returns (img_a, img_b, hamming); undecodable images are excluded.
    """
    from linkkchecker_net_spark.pipeline.dedup import hamming_blocked_pairs

    meta = image_metadata(corpus, level="phash").filter(
        F.col("decode_ok")
    ).select("image_id", "phash")
    return hamming_blocked_pairs(
        meta, "image_id", "phash", max_hamming, "img_a", "img_b"
    )


def caption_phash_neardup_pairs(
    corpus: DataFrame, max_hamming: int = 3
) -> DataFrame:
    """Cross-modal near-dup over an image+caption corpus (the north-rule
    input table shape: image_id, bytes, fmt, caption, ...): pairs that
    match by EITHER decoded perceptual hash (hamming ≤ r) OR exact caption
    text — the joint dedup a multimodal training pipeline runs, since
    re-captioned copies and re-encoded pixels each evade one signal alone.

    Both legs are blocked joins, never O(N²): the phash leg reuses the
    16-bit chunk blocking (exact recall ≤ radius 3 by pigeonhole), the
    caption leg joins on md5(caption) so only identical captions meet.
    A hot caption ("no caption") is the skew risk on the second leg —
    production filters null/boilerplate captions first, same as
    stop-shingles.  The two pair sets merge with a full-outer join on the
    pair key, so each pair reports which signal(s) fired.

    Returns (img_a, img_b, phash_match, caption_match).
    """
    ph = phash_neardup_pairs(corpus, max_hamming).select(
        "img_a", "img_b", F.lit(True).alias("phash_match")
    )
    cap = corpus.select("image_id", F.md5("caption").alias("cap_md5"))
    cpairs = (
        cap.select(F.col("image_id").alias("img_a"), "cap_md5")
        .join(cap.select(F.col("image_id").alias("img_b"), "cap_md5"), "cap_md5")
        .filter(F.col("img_a") < F.col("img_b"))
        .select("img_a", "img_b", F.lit(True).alias("caption_match"))
    )
    return ph.join(cpairs, ["img_a", "img_b"], "full_outer").select(
        "img_a",
        "img_b",
        F.coalesce("phash_match", F.lit(False)).alias("phash_match"),
        F.coalesce("caption_match", F.lit(False)).alias("caption_match"),
    )


def image_clusters(corpus: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-duplicate IMAGE cluster assignment: connected components over
    the phash pair graph — the image counterpart of text `dedup_clusters`
    (pipeline/dedup.py), and the step that turns pairwise near-dup hits
    into one-representative-per-cluster retention decisions.

    cluster_id = the minimum image_id reachable through radius-`max_hamming`
    phash pairs (zero-padded ids make lexicographic min == numeric min);
    undecodable images cluster to themselves.  Scale shape: pair generation
    is the blocked join (never O(N²)); label propagation is
    diameter-many shuffle rounds with large-star/small-star escalation —
    both inherited, not re-implemented.

    Returns (image_id, cluster_id).
    """
    from linkkchecker_net_spark.pipeline.dedup import dedup_clusters

    ids = corpus.select(F.col("image_id").alias("doc_id"))
    pairs = phash_neardup_pairs(corpus, max_hamming).select(
        F.col("img_a").alias("doc_a"), F.col("img_b").alias("doc_b")
    )
    return dedup_clusters(ids, pairs).select(
        F.col("doc_id").alias("image_id"), "cluster_id"
    )


def image_quality_gate(
    corpus: DataFrame, min_dim: int = 24, max_aspect: float = 1.8
) -> DataFrame:
    """Resolution / aspect-ratio quality gate — the image analog of the
    text `quality_score` pass a multimodal training pipeline runs before
    dedup (LAION-style: drop tiny images and extreme aspect ratios, and
    anything that fails to decode).

    All gate arithmetic is JVM-side codegen over the scalars the
    mapInPandas decode pass (image_metadata) already produced; bytes never
    reach this stage.  Returns (image_id, w, h, decode_ok, dims_ok,
    aspect_ok, keep); undecoded images carry w = h = -1 and fail every
    gate.
    """
    meta = image_metadata(corpus, level="dims").select(
        "image_id", "w", "h", "decode_ok"
    )
    dims_ok = F.col("decode_ok") & (F.least("w", "h") >= F.lit(min_dim))
    aspect_ok = F.col("decode_ok") & (
        F.greatest("w", "h").cast("double") / F.least("w", "h").cast("double")
        <= F.lit(float(max_aspect))
    )
    return meta.select(
        "image_id",
        "w",
        "h",
        "decode_ok",
        dims_ok.alias("dims_ok"),
        aspect_ok.alias("aspect_ok"),
        (dims_ok & aspect_ok).alias("keep"),
    )


def image_dedup_keep(corpus: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Representative selection over phash near-dup clusters: keep exactly
    one image per cluster — the highest-resolution member, ties broken by
    smallest image_id (deterministic).  This is the retention decision a
    LAION-scale image dedup actually emits (pairs → clusters → keep set).

    One decode pass (image_metadata) feeds BOTH the pair graph and the
    area ranking; the keep window partitions by cluster_id, and near-dup
    clusters are near-cliques (a handful of rows each), so the window
    carries no skew risk.  Returns (image_id, cluster_id, keep).
    """
    from pyspark.sql import Window

    from linkkchecker_net_spark.pipeline.dedup import (
        dedup_clusters,
        hamming_blocked_pairs,
    )

    # ONE eager decode pass; the checkpointed 4-scalar-column table feeds
    # the pair graph, the cluster rounds (eager inside dedup_clusters) AND
    # the final area-ranking join — persist+unpersist here would drop the
    # cache before the returned plan runs and silently decode twice
    meta = image_metadata(corpus, level="phash").select(
        "image_id", "phash", "decode_ok", (F.col("w") * F.col("h")).alias("area")
    ).localCheckpoint()
    pairs = hamming_blocked_pairs(
        meta.filter(F.col("decode_ok")), "image_id", "phash",
        max_hamming, "doc_a", "doc_b",
    )
    clusters = dedup_clusters(
        meta.select(F.col("image_id").alias("doc_id")), pairs
    ).select(F.col("doc_id").alias("image_id"), "cluster_id")
    ranked = clusters.join(meta.select("image_id", "area"), "image_id").withColumn(
        "_rk",
        F.row_number().over(
            Window.partitionBy("cluster_id").orderBy(
                F.col("area").desc(), F.col("image_id")
            )
        ),
    )
    return ranked.select(
        "image_id", "cluster_id", (F.col("_rk") == 1).alias("keep")
    )


def image_radius_search(
    corpus: DataFrame, queries: DataFrame, max_hamming: int = 3
) -> DataFrame:
    """Reverse image search by perceptual hash: for each query image, the
    corpus images within `max_hamming` phash bits — the image counterpart
    of embedding ANN (pipeline/similarity.py), used for targeted dedup
    ("is this eval image in the training corpus?") and decontamination.

    Both sides pay one mapInPandas decode; the match is the asymmetric
    chunk-blocked join (pigeonhole-exact recall ≤ radius 3), never
    queries × corpus.  queries: (image_id, bytes, fmt) like the corpus.
    Returns (query_id, image_id).
    """
    from linkkchecker_net_spark.pipeline.dedup import hamming_blocked_join

    q = image_metadata(queries, level="phash").filter(
        F.col("decode_ok")
    ).select(F.col("image_id").alias("query_id"), F.col("phash").alias("q_hash"))
    c = image_metadata(corpus, level="phash").filter(
        F.col("decode_ok")
    ).select(F.col("image_id").alias("corpus_id"), F.col("phash").alias("c_hash"))
    return hamming_blocked_join(
        q, c, "query_id", "corpus_id", "q_hash", "c_hash", max_hamming
    ).select("query_id", F.col("corpus_id").alias("image_id"))


DEFAULT_ASPECT_BUCKETS = ((1, 1), (4, 3), (3, 4), (16, 9), (9, 16))


def aspect_bucket(
    corpus: DataFrame, buckets=DEFAULT_ASPECT_BUCKETS
) -> DataFrame:
    """SDXL-style aspect-ratio bucketing: assign every image to the bucket
    whose aspect ratio is multiplicatively closest to its own, so a
    training loader can batch same-bucket images without destructive
    cropping.  Nearest = argmin over max(r, 1/r) where
    r = (w·bh)/(h·bw); ties keep the EARLIEST bucket in `buckets`
    (strict-< fold → deterministic).  Distances use only integer products
    and one exactly-rounded IEEE division, so any engine computing the
    same formula (the DuckDB oracle does) lands on bit-identical doubles.

    One mapInPandas decode pass (image_metadata) produces w/h; every gate
    and the argmin fold are JVM codegen over scalars — bytes never reach
    this stage.  Undecodable images get bucket = NULL.  Returns
    (image_id, w, h, decode_ok, bucket).
    """
    meta = image_metadata(corpus, level="dims").select(
        "image_id", "w", "h", "decode_ok"
    )
    best_d = None
    best_i = None
    for i, (bw, bh) in enumerate(buckets):
        r = (F.col("w") * F.lit(bh)).cast("double") / (
            F.col("h") * F.lit(bw)
        ).cast("double")
        d = F.greatest(r, F.lit(1.0) / r)
        if best_d is None:
            best_d, best_i = d, F.lit(i)
        else:
            closer = d < best_d
            best_i = F.when(closer, F.lit(i)).otherwise(best_i)
            best_d = F.when(closer, d).otherwise(best_d)
    label = F.lit(None).cast("string")
    for i, (bw, bh) in reversed(list(enumerate(buckets))):
        label = F.when(best_i == i, F.lit(f"{bw}:{bh}")).otherwise(label)
    return meta.select(
        "image_id",
        "w",
        "h",
        "decode_ok",
        F.when(F.col("decode_ok"), label).alias("bucket"),
    )


def image_shard_pack(
    corpus: DataFrame, shard_bytes: int = 65536, n_shards: int = 8
) -> DataFrame:
    """WebDataset-style shard manifest for an image corpus: hash-assign
    images to `n_shards` output streams, order each stream by image_id,
    and cut it into ~`shard_bytes` tar members by cumulative payload size
    — the image twin of pack_sequences (curation.py), bytes instead of
    tokens.  An image belongs to the chunk its FIRST byte lands in.

    Packing never decodes: it reads only octet_length(bytes), so the
    payload column stays opaque and is pruned before the shuffle.  The
    running-byte-offset window partitions by the content-hash shard key —
    a 10^10-image corpus is n_shards independent streaming cumsums
    (rows-unbounded-preceding frame, O(1) state), never one global scan.

    Returns (shard_id, chunk_id, n_images, n_bytes, min_image_id,
    max_image_id).
    """
    hex8 = F.substring(F.md5(F.col("image_id")), 1, 8)
    shard = F.pmod(F.conv(hex8, 16, 10).cast("long"), F.lit(n_shards))
    w = (
        PWindow.partitionBy("shard_id")
        .orderBy("image_id")
        .rowsBetween(PWindow.unboundedPreceding, PWindow.currentRow)
    )
    assigned = (
        corpus.select(
            "image_id",
            shard.alias("shard_id"),
            F.length("bytes").cast("long").alias("n_b"),
        )
        .withColumn("cum_b", F.sum("n_b").over(w))
        .withColumn(
            "chunk_id",
            F.floor((F.col("cum_b") - F.col("n_b")) / F.lit(shard_bytes)),
        )
    )
    return assigned.groupBy("shard_id", "chunk_id").agg(
        F.count("*").alias("n_images"),
        F.sum("n_b").alias("n_bytes"),
        F.min("image_id").alias("min_image_id"),
        F.max("image_id").alias("max_image_id"),
    )


def image_funnel(
    corpus: DataFrame, min_dim: int = 24, max_aspect: float = 1.8
) -> DataFrame:
    """End-to-end image curation decision: decode gate → resolution gate →
    aspect gate → exact-byte dedup canonical selection, one keep/reason
    verdict per image — the image twin of curation_funnel (curation.py)
    and the first funnel a LAION-scale pipeline runs (byte-level dedup by
    content hash BEFORE any perceptual pass; phash near-dup retention is
    the separate image_dedup_keep stage).

    `reason` is the FIRST failing gate in that order (NULL when the image
    survives), so per-stage funnel loss is one groupBy(reason) away.

    Scale shape: ONE dims-level decode pass (image_metadata level="dims",
    content_md5=True) produces both the dim scalars and the byte-content
    hash in the same scan — no phash, no feature battery, no second read
    of the payload.  The only shuffle is the dedup window keyed on the
    content hash (no hot key beyond a duplicate cluster's own size); bytes
    never cross it — only (image_id, dims, md5) leave the scan.

    Returns (image_id, decode_ok, dims_ok, aspect_ok, canonical, keep,
    reason).
    """
    meta = image_metadata(corpus, level="dims", content_md5=True).select(
        "image_id", "w", "h", "decode_ok", "content_md5"
    )
    dims_ok = F.col("decode_ok") & (F.least("w", "h") >= F.lit(min_dim))
    aspect_ok = F.col("decode_ok") & (
        F.greatest("w", "h").cast("double") / F.least("w", "h").cast("double")
        <= F.lit(float(max_aspect))
    )
    canonical = F.col("image_id") == F.min("image_id").over(
        PWindow.partitionBy("content_md5")
    )
    gated = meta.select(
        "image_id",
        "decode_ok",
        dims_ok.alias("dims_ok"),
        aspect_ok.alias("aspect_ok"),
        canonical.alias("canonical"),
    )
    reason = (
        F.when(~F.col("decode_ok"), F.lit("decode"))
        .when(~F.col("dims_ok"), F.lit("dims"))
        .when(~F.col("aspect_ok"), F.lit("aspect"))
        .when(~F.col("canonical"), F.lit("duplicate"))
    )
    return gated.select(
        "image_id",
        "decode_ok",
        "dims_ok",
        "aspect_ok",
        "canonical",
        reason.isNull().alias("keep"),
        reason.alias("reason"),
    )


def nn_thumbnails(corpus: DataFrame, out_w: int = 8, out_h: int = 8) -> DataFrame:
    """Nearest-neighbor thumbnail (pure numpy — the 'real' branch of the
    multimodal transform pattern); emits re-encoded lossless bytes.

    Renamed from ``resize_images`` (r4 verdict item 3): the module's second
    ``resize_images`` (area-average, oracled) silently shadowed this one.
    ``tests/test_no_shadowed_defs.py`` now pins the whole package against the
    duplicate-top-level-def class of bug."""

    def row(iid, fmt, data):
        arr = imaging.decode_image(bytes(data), fmt)
        ys = (np.arange(out_h) * arr.shape[0] // out_h).clip(0, arr.shape[0] - 1)
        xs = (np.arange(out_w) * arr.shape[1] // out_w).clip(0, arr.shape[1] - 1)
        yield iid, imaging.encode_lossless(arr[ys][:, xs])

    return map_rows(
        corpus.select("image_id", "fmt", "bytes"), row,
        "image_id string, thumb binary",
    )


def clip_alignment(
    corpus: DataFrame,
    threshold: float = 0.0,
    id_col: str = "image_id",
    phash_col: str = "phash",
    caption_col: str = "caption",
    round_dp: int = 6,
) -> DataFrame:
    """CLIP-score-style image<->caption alignment gate (the LAION-400M /
    DataComp filter shape: drop pairs whose image and text embeddings
    disagree), with deterministic sandbox embeddings so the score is
    engine-replayable:

      * image embedding  = the 64 phash bits as +-1 (the decode pass
        already produced phash; production swaps in a real CLIP image
        tower via the image_metadata mapInPandas battery — the gate,
        threshold and output shape are unchanged),
      * text embedding   = 64-dim hashed-unigram sign projection: token
        t contributes sign bit j of md5(t) (two 32-bit md5 halves give
        the 64 dims) — the same md5-prefix hash device as dsir_weights.

    score = <img, txt> / (|img| * |txt|)  (|img| = 8 = sqrt(64)), 0 for
    caption-less rows; align_pass = score >= threshold.  Output anchored
    on the FULL corpus (left join — empty-caption rows keep a verdict,
    the repetition_stats lesson).

    Scale shape: the token explode is map-side; the (id, dim) partial
    aggregation combines map-side to <= 64 rows per image before any
    exchange; phash rides the rows so no join back to the corpus is
    needed; the final per-image fold reads 64 rows.  Everything is JVM
    codegen — no Python in the hot path.  Skew: captions are short and
    bounded, so the only hot key is a repeated id_col (upstream dedup's
    job).  No reference analog; SURVEY §2.10.
    """
    toks = corpus.select(
        F.col(id_col),
        F.col(phash_col).alias("_ph"),
        F.explode(F.split(F.col(caption_col), " ")).alias("tok"),
    ).filter(F.col("tok") != "")
    toks = toks.withColumn(
        "_h1", F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10).cast("long")
    ).withColumn(
        "_h2", F.conv(F.substring(F.md5(F.col("tok")), 9, 8), 16, 10).cast("long")
    )

    def bit(c, j):
        # +-1 sign from bit j; j is a Python int (shiftright's amount is
        # a literal), so the 64 dims unroll into one codegen expression.
        return F.shiftright(c, j).bitwiseAND(F.lit(1)) * 2 - 1

    elems = [
        F.struct(
            bit(F.col("_h1") if j < 32 else F.col("_h2"), j % 32).alias("s"),
            bit(F.col("_ph"), j).alias("pb"),
        )
        for j in range(64)
    ]
    dims = toks.select(
        id_col, F.posexplode(F.array(*elems)).alias("dim", "e")
    )
    cap = dims.groupBy(
        F.col(id_col), F.col("dim"), F.col("e.pb").alias("pb")
    ).agg(F.sum("e.s").alias("capj"))
    per_img = (
        cap.select(
            id_col,
            (F.col("capj") * F.col("pb")).alias("term"),
            (F.col("capj") * F.col("capj")).alias("c2"),
        )
        .groupBy(id_col)
        .agg(F.sum("term").alias("dot"), F.sum("c2").alias("nrm2"))
    )
    score = F.when(
        F.col("nrm2") > 0,
        F.col("dot").cast("double")
        / (F.lit(8.0) * F.sqrt(F.col("nrm2").cast("double"))),
    ).otherwise(F.lit(0.0))
    scored = per_img.select(
        id_col, F.round(score, round_dp).alias("clip_score")
    )
    base = corpus.select(id_col).distinct()
    return base.join(scored, id_col, "left").select(
        id_col,
        F.coalesce("clip_score", F.lit(0.0)).alias("clip_score"),
        (F.coalesce("clip_score", F.lit(0.0)) >= F.lit(threshold)).alias(
            "align_pass"
        ),
    )


# ---------------------------------------------------------------------------
# Letterbox / black-border detection (FFmpeg-cropdetect semantics): count
# leading/trailing rows and columns whose every pixel is near-black, emit
# the crop box.  A web image corpus is full of letterboxed thumbnails and
# padded social-card renders; cropping them BEFORE phash/feature
# extraction stops the border pixels from dominating the hash.
# ---------------------------------------------------------------------------

BORDER_SCHEMA = (
    "image_id string, fmt string, w int, h int, top int, bottom int, "
    "left int, right int, content_w int, content_h int, has_border boolean"
)


def _crop_box(arr: np.ndarray, luma_thresh: float) -> tuple:
    """(top, bottom, left, right) black-border widths of one decoded
    image — a row/col is border iff its max channel value <= thresh."""
    rowmax = arr.max(axis=(1, 2)).astype(np.float64)
    colmax = arr.max(axis=(0, 2)).astype(np.float64)
    h, w = arr.shape[0], arr.shape[1]
    top = int(np.argmax(rowmax > luma_thresh)) if (rowmax > luma_thresh).any() else h
    if top == h:  # all-black frame: report it as one top border
        return h, 0, 0, 0
    bottom = int(np.argmax(rowmax[::-1] > luma_thresh))
    left = int(np.argmax(colmax > luma_thresh))
    right = int(np.argmax(colmax[::-1] > luma_thresh))
    return top, bottom, left, right


def detect_borders(corpus: DataFrame, luma_thresh: float = 16.0) -> DataFrame:
    """Decode each payload once, emit the crop box (mapInPandas — bytes
    die at the stage boundary, scalars out).  luma_thresh=16 is the
    broadcast-black level FFmpeg cropdetect defaults to; the lossy
    codec's ±2 error stays far inside it.  Scale: map-only scan."""
    def row(iid, data, fmt):
        arr = imaging.decode_image(bytes(data), fmt)
        t, b, l, r = _crop_box(arr, luma_thresh)
        h, w = arr.shape[0], arr.shape[1]
        yield (
            iid, fmt, w, h, t, b, l, r, max(w - l - r, 0), max(h - t - b, 0),
            bool(t or b or l or r),
        )

    return map_rows(
        corpus.select("image_id", "bytes", "fmt"), row, BORDER_SCHEMA
    )


# ---------------------------------------------------------------------------
# Difference-hash (dhash) near-dup — the gradient-structure complement to
# the phash average-hash path.  Same blocked-join scale shape.
# ---------------------------------------------------------------------------


def dhash_neardup_pairs(corpus: DataFrame, max_hamming: int = 3) -> DataFrame:
    """(img_a, img_b, hamming) by 64-bit dhash distance.

    Decode + dhash in one mapInPandas Arrow pass (bytes die at the stage
    boundary), then the shared 4×16-bit chunk blocking
    (pipeline/dedup.hamming_blocked_pairs — exact recall ≤ 3 by
    pigeonhole).  dhash keys on horizontal gradient signs, so it catches
    the brightness-shifted re-exports phash's global mean threshold
    misses; a production dedup ORs both pair sets (same shape as
    caption_phash_neardup_pairs' two-leg merge).
    """
    from linkkchecker_net_spark.pipeline.dedup import hamming_blocked_pairs

    def row(iid, data, fmt):
        arr = _decode(data, fmt)
        if arr is None:
            return  # undecodable: excluded, like phash path
        yield iid, imaging.dhash64(arr)

    hashed = map_rows(
        corpus.select("image_id", "bytes", "fmt"), row,
        "image_id string, dhash long",
    )
    return hamming_blocked_pairs(
        hashed, "image_id", "dhash", max_hamming, "img_a", "img_b"
    )


# ---------------------------------------------------------------------------
# Blur / sharpness scoring — Laplacian energy over decoded pixels.  A
# training-data image funnel drops blurry thumbnails and upscaled
# re-encodes BEFORE captioning spends GPU time on them; variance-of-
# Laplacian is the standard cheap focus measure (Pech-Pacheco et al.,
# ICPR'00).  The reference never looks inside image bytes at all
# (LinkChecker.net checks status codes only) — this is pipeline-axis
# surface, same decode scan as detect_borders.
# ---------------------------------------------------------------------------

SHARPNESS_SCHEMA = (
    "image_id string, fmt string, w int, h int, lap_sq_sum long, "
    "interior_px long, sharpness_x100 long, sharp boolean"
)


def laplacian_sharpness(
    corpus: DataFrame, sharp_thresh_x100: int = 20000
) -> DataFrame:
    """(image_id, fmt, w, h, lap_sq_sum, interior_px, sharpness_x100,
    sharp) — integer Laplacian focus measure per image.

    gray3 = R+G+B (integer, no float luma weights — keeps every value
    exact across engines); L = 4c − N − S − E − W over the interior
    (valid convolution, no border handling ambiguity); lap_sq_sum = ΣL²
    as int64.  sharpness_x100 = 100·lap_sq_sum div interior — an
    integer per-pixel energy, bit-identical anywhere.  Scale: one
    mapInPandas decode scan, bytes die at the stage boundary, map-only.
    """
    def row(iid, data, fmt):
        arr = _decode(data, fmt)
        if arr is None:
            return  # undecodable: excluded, like the hash paths
        g = arr.astype(np.int64).sum(axis=2)
        h, w = g.shape
        if h < 3 or w < 3:
            lap, interior = 0, 0
        else:
            c = g[1:-1, 1:-1]
            L = (
                4 * c
                - g[:-2, 1:-1] - g[2:, 1:-1]
                - g[1:-1, :-2] - g[1:-1, 2:]
            )
            lap = int((L * L).sum())
            interior = (h - 2) * (w - 2)
        yield iid, fmt, w, h, lap, interior

    scanned = map_rows(
        corpus.select("image_id", "bytes", "fmt"), row,
        "image_id string, fmt string, w int, h int, lap_sq_sum long, "
        "interior_px long",
    )
    score = F.expr("100 * lap_sq_sum div greatest(interior_px, 1)")
    return scanned.select(
        "image_id", "fmt", "w", "h", "lap_sq_sum", "interior_px",
        score.alias("sharpness_x100"),
        (score >= F.lit(int(sharp_thresh_x100))).alias("sharp"),
    )


# ---------------------------------------------------------------------------
# Declared-vs-actual metadata audit over the north-rule input table
# (image_id, bytes, w, h, fmt, caption, phash).  Web-scraped corpora lie:
# the Content-Type says png while the magic says jpeg, the <img width>
# says 800 while the pixels say 160, and a stale phash column poisons
# every dedup join downstream.  The audit decodes once and verifies the
# three declared facts a pipeline actually joins/filters on.
# ---------------------------------------------------------------------------

META_AUDIT_SCHEMA = (
    "image_id string, fmt string, actual_fmt string, w int, h int, "
    "actual_w int, actual_h int, decodable boolean, dims_ok boolean, "
    "fmt_ok boolean, phash_hamming long, phash_ok boolean, ok boolean"
)


def sniff_fmt(data: bytes) -> str | None:
    """Container detection by magic bytes (the only trustworthy fmt)."""
    if data[:8] == b"\x89PNG\r\n\x1a\n":
        return "png"
    if data[:4] == b"QIMG":
        return "jpeg"
    if data[:4] == b"QLS0":
        return "gif"
    return None


def meta_consistency(corpus: DataFrame) -> DataFrame:
    """(image_id, fmt, actual_fmt, w, h, actual_w, actual_h, decodable,
    dims_ok, fmt_ok, phash_hamming, phash_ok, ok) — one decode scan.

    Undecodable payloads fail every check (audit semantics: an
    unverifiable row is a bad row) with NULL actuals.  phash is compared
    exactly (the declared column is supposed to be the pipeline's own
    hash of these pixels); the hamming distance is emitted so a
    tolerance policy can re-gate without re-decoding.  Scale: map-only
    mapInPandas, bytes die at the stage boundary.
    """
    def row(iid, data, fmt, w, h, ph):
        data = bytes(data)
        afmt = sniff_fmt(data)
        arr = _decode(data, fmt)
        if arr is None:
            yield (
                iid, fmt, afmt, int(w), int(h), None, None, False, False,
                False, None, False, False,
            )
            return
        ah, aw = arr.shape[0], arr.shape[1]
        hamm = imaging.hamming64(imaging.phash64(arr), int(ph))
        dims_ok = aw == int(w) and ah == int(h)
        fmt_ok = afmt == fmt
        yield (
            iid, fmt, afmt, int(w), int(h), aw, ah, True, dims_ok, fmt_ok,
            hamm, hamm == 0, bool(dims_ok and fmt_ok and hamm == 0),
        )

    return map_rows(
        corpus.select("image_id", "bytes", "fmt", "w", "h", "phash"), row,
        META_AUDIT_SCHEMA,
    )


# --------------------------------------------------------- inline data: URIs
DATA_URI_PAT = r"data:image/[a-z]+;base64,[A-Za-z0-9+/=]+"
_DATA_FMT_PAT = r"data:image/([a-z]+);base64,"
_DATA_B64_PAT = r";base64,([A-Za-z0-9+/=]+)$"

INLINE_IMG_SCHEMA = (
    "url string, img_pos int, fmt string, ok boolean, w int, h int, "
    "pix_sum long"
)


def inline_images(
    pages: DataFrame,
    url_col: str = "url",
    body_col: str = "body",
) -> DataFrame:
    """Extract + decode inline ``data:image/*;base64`` payloads:
    (url, img_pos, fmt, ok, w, h, pix_sum).

    Pages "fetch" inline images with the page itself — no frontier
    round-trip — so a crawler that validates images (the reference's
    UsedImagesChecker purpose) must decode them at parse time or they
    silently escape the audit.  Extraction is whole-stage codegen (one
    regexp_extract_all over the body + per-URI attribute regexps +
    JVM ``unbase64``); only the decoded-bytes pass crosses to Python,
    as one Arrow ``mapInPandas`` batch that returns scalars (dims +
    full-pixel checksum) and drops the payload at the stage boundary —
    identical plan shape to image_meta.

    Scale: map-only end-to-end (zero shuffles); payload bytes never
    move between stages, so the exchange-free plan holds at any page
    count.  pix_sum is the uint8 sum over every decoded
    channel/pixel — a value unobtainable without a full decode.
    """
    uris = pages.select(
        F.col(url_col).alias("url"),
        F.posexplode(
            F.regexp_extract_all(F.col(body_col), F.lit(DATA_URI_PAT), 0)
        ).alias("img_pos", "uri"),
    ).select(
        "url",
        "img_pos",
        F.regexp_extract("uri", _DATA_FMT_PAT, 1).alias("mime_fmt"),
        F.unbase64(F.regexp_extract("uri", _DATA_B64_PAT, 1)).alias("data"),
    )

    def row(url, pos, fmt, data):
        arr = _decode(data, fmt)
        if arr is None:
            yield url, int(pos), fmt, False, None, None, None
            return
        yield (
            url, int(pos), fmt, True, arr.shape[1], arr.shape[0],
            int(arr.astype(np.int64).sum()),
        )

    return map_rows(uris, row, INLINE_IMG_SCHEMA)


# ------------------------------------------------------------- image resize
RESIZE_SCHEMA = (
    "image_id string, ok boolean, w int, h int, rw int, rh int, "
    "pix_sum long, rpix_sum long"
)


def resize_images(corpus: DataFrame, factor: int = 2) -> DataFrame:
    """Decode → area-average downsample by ``factor`` → integer
    checksums: (image_id, ok, w, h, rw, rh, pix_sum, rpix_sum).

    THE canonical image-pipeline transform (training corpora are
    resized before feature extraction; thumbnails before near-dup).
    Box semantics: each output pixel is the floor of its
    factor×factor block mean (pure integer — engine- and
    platform-exact, unlike float bilinear).  Images whose dims don't
    tile by ``factor`` are cropped to the largest tiling region first
    (standard pooling semantics); undecodable rows keep ok=false with
    NULL dims/sums.

    Scale: one mapInPandas Arrow pass, map-only, zero shuffles; bytes
    die at the stage boundary and only 6 scalars per image survive —
    the same exchange-free shape as image_meta, so the plan is flat at
    any corpus size.
    """

    def row(iid, data, fmt):
        arr = _decode(data, fmt)
        if arr is None:
            yield iid, False, None, None, None, None, None, None
            return
        h, w, _ = arr.shape
        rh, rw = h // factor, w // factor
        crop = arr[: rh * factor, : rw * factor].astype(np.int64)
        rs = (
            crop.reshape(rh, factor, rw, factor, 3).sum(axis=(1, 3))
            // (factor * factor)
        )
        yield (
            iid, True, w, h, rw, rh, int(arr.astype(np.int64).sum()),
            int(rs.sum()),
        )

    return map_rows(
        corpus.select("image_id", "bytes", "fmt"), row, RESIZE_SCHEMA
    )


# -------------------------------------------------------- image histogram
HIST_SCHEMA = (
    "image_id string, ok boolean, b0 long, b1 long, b2 long, b3 long, "
    "vmin int, vmax int, dark_ppm long, bright_ppm long, exposure_ok boolean"
)

# exposure gate: reject when >60% of pixels sit in the darkest or
# brightest quartile bin (integer ppm so the threshold never crosses a
# float boundary between engines)
EXPOSURE_MAX_PPM = 600_000


def image_histogram(corpus: DataFrame) -> DataFrame:
    """Decode → 4-bin luminance histogram (bin = value // 64) + exposure
    gate: (image_id, ok, b0..b3, vmin, vmax, dark_ppm, bright_ppm,
    exposure_ok).

    THE standard corpus pre-filter (LAION/DataComp drop under/over-
    exposed images before paying CLIP inference); the bins double as a
    cheap brightness signature for stratified sampling.  dark_ppm =
    10^6 * b0 // total, bright_ppm = 10^6 * b3 // total — integer
    division, engine-exact.  Undecodable rows keep ok=false with NULL
    stats and a non-NULL exposure_ok=false (a corrupt payload never
    passes a gate).

    Scale: one mapInPandas Arrow pass, map-only, zero shuffles; bytes
    die at the stage boundary — same flat plan shape as image_meta /
    resize_images at any corpus size.
    """

    def row(iid, data, fmt):
        arr = _decode(data, fmt)
        if arr is None:
            yield (iid, False) + (None,) * 8 + (False,)
            return
        flat = arr.reshape(-1)
        bins = np.bincount(flat // 64, minlength=4)
        total = int(flat.size)
        dark = 1_000_000 * int(bins[0]) // total
        bright = 1_000_000 * int(bins[3]) // total
        yield (
            iid, True, *(int(b) for b in bins[:4]), int(flat.min()),
            int(flat.max()), dark, bright,
            dark <= EXPOSURE_MAX_PPM and bright <= EXPOSURE_MAX_PPM,
        )

    return map_rows(
        corpus.select("image_id", "bytes", "fmt"), row, HIST_SCHEMA
    )


# ---------------------------------------------------------------------------
# Dominant-color palette — decode → 2-bit/channel joint quantization →
# per-image top-k cells.  LAION-scale curation uses exactly this as a
# near-free pre-filter (flat-color logos/banners out, screenshots vs
# photos stratification) and as a blocking key for near-dup candidate
# generation: images whose top cell differs need no pixel comparison.
# The 64-cell code (r>>6)*16+(g>>6)*4+(b>>6) is codec-invariant under
# the corpus' lossy stand-in (6-bit quantization reconstructs at bucket
# centers v//4*4+2, which never crosses a 64-value bin boundary), so
# palette cells are bit-identical across png/jpeg/gif rows.
# ---------------------------------------------------------------------------

PALETTE_SCHEMA = (
    "image_id string, ok boolean, rank int, cell int, pix_cnt long, "
    "share_ppm long, n_colors int"
)


def color_palette(corpus: DataFrame, top_k: int = 3) -> DataFrame:
    """Decode → 64-cell joint RGB quantization → top-k dominant cells:
    one row per (image, rank≤k): (image_id, ok, rank, cell, pix_cnt,
    share_ppm, n_colors); undecodable rows keep ONE ok=false row with
    NULL stats.  Ordering is (count DESC, cell ASC) — fully
    deterministic, no float ties.

    Scale: one mapInPandas Arrow pass, map-only, zero shuffles; bytes
    die at the stage boundary and ≤ k skinny rows per image survive —
    the same flat plan shape as image_meta at any corpus size.
    """

    def row(iid, data, fmt):
        arr = _decode(data, fmt)
        if arr is None:
            yield iid, False, None, None, None, None, None
            return
        cells = (
            (arr[:, :, 0] >> 6).astype(np.int32) * 16
            + (arr[:, :, 1] >> 6) * 4
            + (arr[:, :, 2] >> 6)
        ).reshape(-1)
        counts = np.bincount(cells, minlength=64)
        total = int(cells.size)
        n_colors = int((counts > 0).sum())
        order = sorted(np.flatnonzero(counts), key=lambda c: (-counts[c], c))
        for rank, c in enumerate(order[:top_k], start=1):
            n = int(counts[c])
            yield iid, True, rank, int(c), n, 1_000_000 * n // total, n_colors

    return map_rows(
        corpus.select("image_id", "bytes", "fmt"), row, PALETTE_SCHEMA
    )


COLORFULNESS_SCHEMA = (
    "image_id string, ok boolean, mean_rg_ppm long, mean_yb_ppm long, "
    "colorfulness_ppm long, grayscale boolean"
)


def colorfulness(corpus: DataFrame) -> DataFrame:
    """Integer-exact opponent-channel colorfulness (the Hasler–Süsstrunk
    2003 metric's mean term, kept in exact integer ppm so the DuckDB
    oracle replays it bit-for-bit — the std term would force float
    accumulation order onto both engines for no extra test power).

    Per decoded pixel: rg = |R − G| and yb2 = |R + G − 2B| (the yellow–
    blue opponent at 2× scale to stay integral).  Outputs per image:
    mean_rg_ppm = floor(1e6·Σrg / n), mean_yb_ppm = floor(1e6·Σyb2 /
    2n), colorfulness_ppm = their sum, grayscale = both sums zero
    (R=G=B everywhere).  Undecodable rows keep one ok=false row.

    The LAION-style use: grayscale and near-monochrome images are
    routed out of (or sampled down in) text-to-image training mixes.

    Scale: one mapInPandas Arrow pass — map-only, zero shuffles, bytes
    dead at the stage boundary, four longs per image survive; the same
    flat plan as image_meta/color_palette at any corpus size.
    """

    def row(iid, data, fmt):
        arr = _decode(data, fmt)
        if arr is None:
            yield iid, False, None, None, None, None
            return
        px = arr.astype(np.int64)
        r, g, b = px[:, :, 0], px[:, :, 1], px[:, :, 2]
        sum_rg = int(np.abs(r - g).sum())
        sum_yb = int(np.abs(r + g - 2 * b).sum())
        n = int(arr.shape[0] * arr.shape[1])
        m_rg = 1_000_000 * sum_rg // n
        m_yb = 1_000_000 * sum_yb // (2 * n)
        yield iid, True, m_rg, m_yb, m_rg + m_yb, sum_rg == 0 and sum_yb == 0

    return map_rows(
        corpus.select("image_id", "bytes", "fmt"), row, COLORFULNESS_SCHEMA
    )


CONTRAST_SCHEMA = (
    "image_id string, ok boolean, lum_min int, lum_max int, contrast int, "
    "low_contrast boolean"
)

# low-contrast gate on the 0..2040 integer-luma scale (≈10/255 — the
# LAION-style "flat image" screen)
LOW_CONTRAST_LT = 80


def contrast_stats(corpus: DataFrame) -> DataFrame:
    """Integer-exact luminance contrast gate: per decoded pixel the
    8×-scaled integer luma 2R + 5G + B (the Rec.601-ish weights kept
    integral — no float rounding for the oracle to chase), per image its
    min/max and range, and the LAION-style ``low_contrast`` flag
    (contrast < 80 on the 0..2040 scale ≈ 10 8-bit levels): flat,
    single-color and near-empty images are routed out of (or sampled
    down in) image-training mixes.  Undecodable rows keep one ok=false
    row.

    Scale: one mapInPandas Arrow pass — map-only, zero shuffles, bytes
    dead at the stage boundary, three ints per image survive; same flat
    plan as image_meta/colorfulness at any corpus size.
    """

    def row(iid, data, fmt):
        arr = _decode(data, fmt)
        if arr is None:
            yield iid, False, None, None, None, None
            return
        px = arr.astype(np.int64)
        lum = 2 * px[:, :, 0] + 5 * px[:, :, 1] + px[:, :, 2]
        lo, hi = int(lum.min()), int(lum.max())
        yield iid, True, lo, hi, hi - lo, hi - lo < LOW_CONTRAST_LT

    return map_rows(
        corpus.select("image_id", "bytes", "fmt"), row, CONTRAST_SCHEMA
    )


def tile_neardup(corpus: DataFrame, min_shared: int = 2) -> DataFrame:
    """Crop-robust image near-dup via quadrant hashing (the PDQ/partial-
    hash family): decode, split into 2×2 quadrants, hash each
    quadrant's decoded bytes, and pair images sharing ≥ ``min_shared``
    quadrant hashes — catching edits phash misses (a replaced banner,
    a cropped corner) because the UNTOUCHED quadrants still collide.
    Output (id_a, id_b, n_shared) with id_a < id_b.

    Scale: the decode pass is one mapInPandas (4 skinny hash rows per
    image survive, bytes die at the stage boundary); the pair search is
    an inverted-index equi-join on (quadrant-position, hash) — never
    all-pairs — followed by a partial-aggregated pair count.  A viral
    quadrant (solid white) is the hot-key risk: the same stop-shingle /
    AQE mitigation as the text inverted indexes (pipeline/dedup.py).
    """

    def row(iid, data, fmt):
        arr = _decode(data, fmt)
        if arr is None:
            return
        h2, w2 = arr.shape[0] // 2, arr.shape[1] // 2
        quads = [arr[:h2, :w2], arr[:h2, w2:], arr[h2:, :w2], arr[h2:, w2:]]
        for q, quad in enumerate(quads):
            yield iid, q, hashlib.md5(quad.tobytes()).hexdigest()[:16]

    qh = map_rows(
        corpus.select("image_id", "bytes", "fmt"), row,
        "image_id string, q int, qhash string",
    )
    a = qh.select(F.col("image_id").alias("id_a"), "q", "qhash")
    b = qh.select(F.col("image_id").alias("id_b"), "q", "qhash")
    return (
        a.join(b, ["q", "qhash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= int(min_shared))
    )


def pixel_verify(pairs: DataFrame, mae_ppm_max: int = 20_000) -> DataFrame:
    """Decode-verify stage for image near-dup candidate pairs — the
    exactness backstop AFTER hash blocking (phash/dhash/tile buckets
    propose, pixels dispose): decode both sides, compute the integer
    sum of absolute per-channel differences, and accept pairs whose
    mean absolute error is within `mae_ppm_max` of full scale
    (255·3·n_px denominator, floor ppm) — codec noise passes (the
    lossy stand-in's bucket-center recon errs ≤ 2/channel ≈ 3.9k ppm),
    distinct content fails.

    Input: (pair_id, bytes_a, fmt_a, bytes_b, fmt_b, w, h).  Output:
    (pair_id, n_px, sad, mae_ppm, dup).

    Scale: one Arrow-batched mapInPandas decode pass, bytes dead at
    the stage boundary (scalars out) — the same shape as
    image_meta/validate_images; pair candidates arrive pre-blocked so
    the decode cost is O(candidates), never O(N²).
    """

    def row(pair_id, bytes_a, fmt_a, bytes_b, fmt_b):
        a = imaging.decode_image(bytes(bytes_a), fmt_a)
        b = imaging.decode_image(bytes(bytes_b), fmt_b)
        sad = int(np.abs(a.astype(np.int32) - b.astype(np.int32)).sum())
        n_px = int(a.shape[0] * a.shape[1])
        mae_ppm = sad * 1_000_000 // (n_px * 3 * 255)
        yield pair_id, n_px, sad, mae_ppm, mae_ppm <= int(mae_ppm_max)

    return map_rows(
        pairs.select("pair_id", "bytes_a", "fmt_a", "bytes_b", "fmt_b"), row,
        "pair_id string, n_px long, sad long, mae_ppm long, dup boolean",
    )


def caption_dup(corpus: DataFrame) -> DataFrame:
    """Caption-duplication QA over the north-rule image+caption table —
    the text-side LAION hygiene check (a handful of boilerplate
    captions ("image", "photo", product-feed templates) cover a huge
    share of alt-text corpora and poison contrastive training): per
    distinct normalized caption (lowercased, whitespace collapsed),
    how many images carry it, plus its corpus share and the
    is_boilerplate verdict at >= 0.1% share.

    Output: (caption_norm, n_images, share_ppm, boilerplate).

    Scale: one caption-keyed count (partial-agg — the hot boilerplate
    caption is ONE row per map task) + a 1-row total broadcast.
    """
    norm = F.trim(
        F.regexp_replace(F.lower(F.col("caption")), r"\s+", " ")
    )
    counts = (
        corpus.select(norm.alias("caption_norm"))
        .groupBy("caption_norm")
        .agg(F.count("*").alias("n_images"))
    )
    tot = counts.agg(F.sum("n_images").alias("_tot"))
    share = F.floor(F.col("n_images") * 1_000_000 / F.col("_tot"))
    return counts.crossJoin(F.broadcast(tot)).select(
        "caption_norm",
        "n_images",
        share.alias("share_ppm"),
        (share >= 1000).alias("boilerplate"),
    )


# magic-byte grammar: real web signatures plus this sandbox's stand-in
# codec containers (imaging.py: QIMG = the lossy 'jpeg' stand-in, QLS0 =
# the lossless 'gif' stand-in) — production adds rows, not code
_MAGIC8 = {
    "89504E470D0A1A0A": "png",  # real PNG signature
}
_MAGIC6 = {
    "474946383761": "gif",  # GIF87a
    "474946383961": "gif",  # GIF89a
}
_MAGIC4 = {
    "51494D47": "jpeg",  # QIMG (sandbox lossy stand-in)
    "514C5330": "gif",   # QLS0 (sandbox lossless stand-in)
}
_MAGIC3 = {
    "FFD8FF": "jpeg",  # real JPEG SOI
}


def format_sniff(corpus: DataFrame) -> DataFrame:
    """Magic-byte format sniff vs the declared ``fmt`` column — the
    image-table twin of `charset_sniff`: at crawl scale the declared
    format LIES (mislabelled uploads, content-type copy-paste, s3 keys
    renamed in flight), and a decoder dispatched on the lie either
    errors late or, worse, decodes garbage.  Sniffing 8 leading bytes
    JVM-side costs nothing and routes the row before any Arrow decode
    batch is paid for.

    Per row: (image_id, declared, sniffed, n_bytes, verdict ∈ match /
    mismatch / unknown).  The grammar covers the real PNG/JPEG/GIF
    signatures AND this sandbox's stand-in containers, WebP-style
    RIFF excluded until a codec exists.

    Scale: map-only codegen (hex-prefix ladder on a substring of the
    binary column — the bytes themselves never leave the scan), zero
    Python, zero shuffles; composes with `image_funnel` as the first
    gate.
    """
    hex8 = F.upper(F.hex(F.expr("substring(bytes, 1, 8)")))
    sniffed = F.lit("unknown")
    for pref, f_ in reversed(list(_MAGIC3.items())):
        sniffed = F.when(
            hex8.startswith(pref), F.lit(f_)
        ).otherwise(sniffed)
    for pref, f_ in reversed(list(_MAGIC4.items())):
        sniffed = F.when(
            hex8.startswith(pref), F.lit(f_)
        ).otherwise(sniffed)
    for pref, f_ in reversed(list(_MAGIC6.items())):
        sniffed = F.when(
            hex8.startswith(pref), F.lit(f_)
        ).otherwise(sniffed)
    for pref, f_ in reversed(list(_MAGIC8.items())):
        sniffed = F.when(
            hex8.startswith(pref), F.lit(f_)
        ).otherwise(sniffed)
    sniffed = F.when(F.col("bytes").isNull(), F.lit("unknown")).otherwise(
        sniffed
    )
    declared = F.lower(F.col("fmt"))
    verdict = (
        F.when(sniffed == "unknown", F.lit("unknown"))
        .when(sniffed == declared, F.lit("match"))
        .otherwise(F.lit("mismatch"))
    )
    return corpus.select(
        "image_id",
        declared.alias("declared"),
        sniffed.alias("sniffed"),
        F.coalesce(F.octet_length("bytes"), F.lit(0))
        .cast("long")
        .alias("n_bytes"),
        verdict.alias("verdict"),
    )


ENTROPY_SCHEMA = (
    "image_id string, ok boolean, entropy double, low_entropy boolean"
)
ENTROPY_FLAT_MAX = 1.0  # nats; ln(4) = 1.386 is the 4-bin maximum


def image_entropy(corpus: DataFrame) -> DataFrame:
    """Decode → Shannon entropy of the 4-bin luminance histogram (nats,
    round-6) + a low-entropy gate — the blank/flat-image filter
    (single-color placeholders, tracking pixels blown up to banner
    size, solid-background product shots) that LAION-style pipelines
    run before paying embedding inference.  4 bins match
    `image_histogram`, so the two gates share one mental model; max
    possible entropy is ln(4) ≈ 1.386.

    Per row: (image_id, ok, entropy, low_entropy = rounded entropy ≤
    ENTROPY_FLAT_MAX); undecodable rows keep ok=false, NULL entropy,
    low_entropy=true (a corrupt payload never passes).

    Scale: one mapInPandas Arrow pass, map-only, zero shuffles; bytes
    die at the stage boundary (the image_histogram plan shape).
    The entropy sum runs in fixed b0→b3 order so the oracle's DOUBLE
    arithmetic reproduces it bit-exactly.
    """
    def row(iid, data, fmt):
        arr = _decode(data, fmt)
        if arr is None:
            yield iid, False, None, True
            return
        flat = arr.reshape(-1)
        bins = np.bincount(flat // 64, minlength=4)
        total = float(flat.size)
        h = 0.0
        for b in bins[:4]:
            if int(b) > 0:
                p = int(b) / total
                h = h + p * math.log(p)
        ent = round(-h, 6)
        yield iid, True, ent, ent <= ENTROPY_FLAT_MAX

    return map_rows(
        corpus.select("image_id", "bytes", "fmt"), row, ENTROPY_SCHEMA
    )


def phash_hamming_hist(corpus: DataFrame, block_bits: int = 16) -> DataFrame:
    """Hamming-distance histogram over the BLOCKED phash candidate
    pairs — the threshold-tuning companion to `image_neardup`: before
    committing to "distance ≤ k is a duplicate", look at the actual
    distance distribution of the candidate set (a clean corpus shows a
    bimodal split — a near-zero dup spike and a ~32-centered random
    mass; the valley is the right k).

    Pairs are formed ONLY within a top-``block_bits`` phash-prefix
    block (the image_neardup chunking idea in its simplest form), so
    this is the distribution of what blocking actually surfaces, not
    all O(N²) pairs — which is the set the threshold applies to.

    Output: (dist, n_pairs), dist = popcount(ph_a XOR ph_b) ∈ [0, 64].

    Scale: one block-keyed self-join (block population is the
    operative bound, exactly as in the neardup path) + a ≤65-row
    partial agg; no windows.
    """
    ph = corpus.select(
        F.col("image_id").alias("id"),
        F.col("phash").cast("long").alias("ph"),
        F.shiftrightunsigned(
            F.col("phash").cast("long"), 64 - int(block_bits)
        ).alias("blk"),
    )
    a, b = ph.alias("a"), ph.alias("b")
    pairs = a.join(
        b,
        (F.col("a.blk") == F.col("b.blk"))
        & (F.col("a.id") < F.col("b.id")),
    )
    dist = F.bit_count(
        F.col("a.ph").bitwiseXOR(F.col("b.ph"))
    ).cast("int")
    return (
        pairs.select(dist.alias("dist"))
        .groupBy("dist")
        .agg(F.count("*").alias("n_pairs"))
        .select("dist", F.col("n_pairs").cast("long").alias("n_pairs"))
    )


# --------------------------------------------------------------------------
# model-based image quality scorer (linear probe serving shape)
# --------------------------------------------------------------------------

IMG_MODEL_SCHEMA = (
    "image_id string, ok boolean, ppm0 long, ppm1 long, ppm2 long, "
    "ppm3 long, mean_luma long"
)

# default linear probe: penalize extreme-dark/extreme-bright mass, reward
# midtone mass and brightness — a stand-in for a trained aesthetic /
# NSFW-safety probe; integer weights so the score replays exactly
IMG_MODEL_WEIGHTS = {
    "ppm0": -2,
    "ppm1": 1,
    "ppm2": 1,
    "ppm3": -2,
    "mean_luma": 400,
}


def image_model_score(
    corpus: DataFrame,
    weights: dict[str, int] | None = None,
    keep_min: int = 0,
) -> DataFrame:
    """Model-based image keep/drop gate in the SERVING shape a 100 TB
    image pipeline uses for aesthetic / safety filters (LAION's
    aesthetic predictor, DataComp's CLIP-score gates): a feature pass
    over decoded pixels, then a dot product against a broadcast weight
    table — swap the feature UDF for an embedding model and the weight
    table for trained coefficients and the plan is unchanged.  This is
    the image twin of `quality_model` (pipeline/curation.py).

    Features (all integers, so the score replays exactly on the oracle
    side): ppm0..ppm3 = 4-bin luminance-histogram mass in parts-per-
    million (floor), mean_luma = floor mean pixel value.  Score =
    sum(weight_f * value_f) over the broadcast weight table; keep fires
    on decodable AND score >= keep_min.  Undecodable rows keep
    ok=false, NULL score, keep=false — a corrupt payload never passes.

    Scale: one mapInPandas Arrow decode pass (bytes die at the stage
    boundary), a 5-row broadcast join, and a per-image partial agg on
    the already-decoded feature rows — map-side combinable, no skew
    (keys are unique image_ids).
    """
    w = dict(IMG_MODEL_WEIGHTS if weights is None else weights)

    def row(iid, data, fmt):
        arr = _decode(data, fmt)
        if arr is None:
            yield iid, False, None, None, None, None, None
            return
        flat = arr.reshape(-1).astype(np.int64)
        bins = np.bincount(flat // 64, minlength=4)
        total = int(flat.size)
        yield (
            iid, True, *(int(bins[bi]) * 1_000_000 // total for bi in range(4)),
            int(flat.sum()) // total,
        )

    feats = map_rows(
        corpus.select("image_id", "bytes", "fmt"), row, IMG_MODEL_SCHEMA
    )
    spark = corpus.sparkSession
    wdf = spark.createDataFrame(
        [(k, int(v)) for k, v in sorted(w.items())],
        "feature string, weight long",
    )
    long_feats = feats.filter(F.col("ok")).select(
        "image_id",
        F.explode(
            F.map_from_arrays(
                F.array(*[F.lit(c) for c in sorted(w)]),
                F.array(*[F.col(c) for c in sorted(w)]),
            )
        ).alias("feature", "value"),
    )
    scores = (
        long_feats.join(F.broadcast(wdf), "feature")
        .groupBy("image_id")
        .agg(
            F.sum(F.col("weight") * F.col("value"))
            .cast("long")
            .alias("score")
        )
    )
    return (
        feats.select("image_id", "ok")
        .join(scores, "image_id", "left")
        .select(
            "image_id",
            "ok",
            "score",
            (
                F.col("ok")
                & (F.coalesce(F.col("score"), F.lit(keep_min - 1))
                   >= F.lit(int(keep_min)))
            ).alias("keep"),
        )
    )


# --------------------------------------------------------------------------
# mirror-invariant near-dup (flipped-repost detection)
# --------------------------------------------------------------------------


def mirror_phash_pairs(corpus: DataFrame) -> DataFrame:
    """Mirror-invariant exact-phash duplicate pairs — catches the
    flipped repost, the single most common transform applied to stolen
    images precisely BECAUSE it defeats plain phash matching (DCT
    coefficients scramble under reflection, so hamming distance to the
    original goes to ~32).  The standard counter (imagededup /
    commercial-reverse-image practice): hash BOTH the image and its
    horizontal mirror and match on the canonical (least) of the two —
    an image A and its mirror B satisfy {ph(A), ph(mirror A)} =
    {ph(mirror B), ph(B)}, so `least` of the pair is a shared exact
    key.

    Per pair: (img_a, img_b, mirrored) with mirrored=true when the two
    originals hash differently (a genuine flip), false for byte-level
    re-uploads of the same orientation.

    Scale: one mapInPandas decode pass emitting two 64-bit hashes
    (bytes die at the stage boundary), then a group-by on the canonical
    hash with pairs formed only inside each group — an inverted index on
    a 64-bit key, never all-pairs; undecodable rows drop out before the
    group-by.
    """

    def row(iid, data, fmt):
        arr = _decode(data, fmt)
        if arr is None:
            return
        yield iid, imaging.phash64(arr), imaging.phash64(arr[:, ::-1])

    # one read of the decode+hash pass: group on the canonical hash and
    # pair within each group, so no self-join re-reads (or caches) the
    # opaque mapInPandas stage
    groups = (
        map_rows(
            corpus.select("image_id", "bytes", "fmt"), row,
            "image_id string, ph long, mph long",
        )
        .groupBy(F.least("ph", "mph").alias("canon"))
        .agg(F.collect_list(F.struct("image_id", "ph")).alias("m"))
        .filter(F.size("m") > 1)
    )
    return (
        groups.select(F.explode("m").alias("a"), "m")
        .select("a", F.explode("m").alias("b"))
        .filter(F.col("a.image_id") < F.col("b.image_id"))
        .select(
            F.col("a.image_id").alias("img_a"),
            F.col("b.image_id").alias("img_b"),
            (F.col("a.ph") != F.col("b.ph")).alias("mirrored"),
        )
        .dropDuplicates()
    )


# --------------------------------------------------------------------------
# sprite-sheet / thumbnail-collage detection (column periodicity)
# --------------------------------------------------------------------------

TILE_PERIOD_MAX_MISMATCH_PPM = 10_000


def tile_periodicity(
    corpus: DataFrame, min_period: int = 2, max_period: int = 8
) -> DataFrame:
    """Sprite-sheet / thumbnail-collage detector — LAION-style cleaning
    drops "images" that are really GRIDS of repeated thumbnails,
    texture swatches or sprite sheets (they poison near-dup blocking
    and caption alignment: one grid matches everything its cells
    match).  A tiled image repeats along x with period p, so its
    column luminance sums satisfy col[c] ≈ col[c+p]; the detector
    scans p = min_period..max_period and reports the best period by
    total absolute mismatch (integer sums — both engines replay the
    fold exactly).

    Per row: (image_id, ok, best_period, mismatch_ppm, is_tiled) —
    mismatch_ppm normalizes the best period's mismatch by the total
    column mass; is_tiled fires when the best period's rounded
    mismatch is <= 10000 ppm (1%).  Undecodable rows: ok=false, NULL
    metrics, is_tiled=false.  A constant image is periodic at EVERY p
    — best_period reports the smallest (documented degenerate case;
    compose with image_entropy's flat filter).

    Scale: one mapInPandas Arrow decode pass, map-only, bytes die at
    the stage boundary; the period scan is O(w * max_period) integer
    work per image.
    """

    def row(iid, data, fmt):
        arr = _decode(data, fmt)
        if arr is None:
            yield iid, False, None, None, False
            return
        cols = arr.astype(np.int64).sum(axis=(0, 2))
        w = cols.shape[0]
        total = int(cols.sum())
        best_p, best_mm = None, None
        for p in range(min_period, max_period + 1):
            if w <= p:
                break
            mm = int(np.abs(cols[p:] - cols[:-p]).sum())
            if best_mm is None or mm < best_mm:
                best_p, best_mm = p, mm
        if best_p is None or total == 0:
            yield iid, True, None, None, False
            return
        ppm = best_mm * 1_000_000 // total
        yield iid, True, best_p, ppm, ppm <= TILE_PERIOD_MAX_MISMATCH_PPM

    return map_rows(
        corpus.select("image_id", "bytes", "fmt"), row,
        "image_id string, ok boolean, best_period int, "
        "mismatch_ppm long, is_tiled boolean",
    )


# --------------------------------------------------------------------------
# rendered-text overlay detection (meme/banner filter)
# --------------------------------------------------------------------------

TEXT_ROW_MIN_PPM = 300_000


def text_in_image(corpus: DataFrame) -> DataFrame:
    """Rendered-text overlay heuristic — image-caption pipelines drop
    or down-weight memes, banners and screenshot-of-text images
    (LAION's "contains text" flag, DataComp's OCR filters) because the
    rendered words leak into CLIP embeddings and poison the
    image↔caption alignment signal.  Without an OCR model in the
    sandbox, the detector uses the strong-edge BAND signature of
    rendered glyphs: a text row carries MANY high-contrast horizontal
    transitions — but fewer than noise — so a row is "texty" when its
    count J of adjacent-column luminance jumps >= 64 satisfies
    8*J >= w AND 20*J <= 9*w (between 12.5% and 45% of columns;
    smooth photos sit below, sensor noise above).  The band bounds are
    the honest stub's tuning knobs; swapping in a real OCR pass keeps
    the same plan shape.

    Per row: (image_id, ok, texty_rows, n_rows, text_ppm, has_text) —
    has_text fires at >= 30% texty rows; undecodable rows keep
    ok=false / NULLs / has_text=false.

    Scale: one mapInPandas Arrow decode pass, map-only, integer
    arithmetic only (both engines replay the jump counts exactly).
    """

    def row(iid, data, fmt):
        arr = _decode(data, fmt)
        if arr is None:
            yield iid, False, None, None, None, False
            return
        g = arr.astype(np.int64).sum(axis=2) // 3  # mean luma
        h, w = g.shape
        jumps = (np.abs(np.diff(g, axis=1)) >= 64).sum(axis=1)
        texty = int(((8 * jumps >= w) & (20 * jumps <= 9 * w)).sum())
        ppm = texty * 1_000_000 // h
        yield iid, True, texty, h, ppm, ppm >= TEXT_ROW_MIN_PPM

    return map_rows(
        corpus.select("image_id", "bytes", "fmt"), row,
        "image_id string, ok boolean, texty_rows int, n_rows int, "
        "text_ppm long, has_text boolean",
    )


# --------------------------------------------------------------------------
# corner watermark/logo overlay detection
# --------------------------------------------------------------------------

OVERLAY_FLAT_MAX = 8
OVERLAY_GLOBAL_MIN = 64


def corner_overlay(corpus: DataFrame) -> DataFrame:
    """Stock-photo watermark / logo-overlay heuristic: a pasted corner
    badge is locally FLAT (near-constant pixels) while the photo
    around it varies — the inverse signature of natural image corners.
    Image-caption pipelines flag these because the overlay text/logo
    contaminates both the embedding and any OCR pass, and because
    watermarked stock images are a licensing signal a curation run
    must surface.

    Per image, the four w/4 x h/4 corner tiles are tested: a corner is
    an overlay candidate when its luma range (max-min) <= 8 while the
    GLOBAL luma range >= 64 (a flat corner in an already-flat image is
    just a flat image — compose with image_entropy).  Output:
    (image_id, ok, flat_corners, global_range, has_overlay) with
    has_overlay = ok AND flat_corners >= 1 AND global range >= 64;
    undecodable rows keep NULLs / false.

    Scale: one mapInPandas Arrow decode pass, map-only, integer
    min/max folds only — both engines replay the tile ranges exactly.
    """

    def row(iid, data, fmt):
        arr = _decode(data, fmt)
        if arr is None:
            yield iid, False, None, None, False
            return
        g = arr.astype(np.int64).sum(axis=2) // 3
        h, w = g.shape
        th, tw = max(h // 4, 1), max(w // 4, 1)
        tiles = [
            g[:th, :tw], g[:th, w - tw:],
            g[h - th:, :tw], g[h - th:, w - tw:],
        ]
        flat = sum(
            1 for t in tiles
            if int(t.max()) - int(t.min()) <= OVERLAY_FLAT_MAX
        )
        grange = int(g.max()) - int(g.min())
        yield iid, True, flat, grange, flat >= 1 and grange >= OVERLAY_GLOBAL_MIN

    return map_rows(
        corpus.select("image_id", "bytes", "fmt"), row,
        "image_id string, ok boolean, flat_corners int, "
        "global_range long, has_overlay boolean",
    )
