"""pipeline/sketch (HLL, CMS), multimodal.clip_alignment, similarity.sq8_ann
— invariants + hand-checkable cases beyond the driver's DuckDB oracles."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


# ------------------------------------------------------------------ HLL
def test_hll_accuracy_and_merge(spark):
    """p=10 HLL: estimate within the sketch's expected band (~3.25% std
    error -> assert 15%), and union+re-max of two shard register tables
    equals the register table of the union (the mergeability that makes
    the sketch 100 TB-viable)."""
    from linkkchecker_net_spark.pipeline.sketch import (
        hll_distinct,
        hll_estimate,
        hll_registers,
    )

    df = spark.range(5000).select(
        (F.col("id") % 2).cast("string").alias("grp"),
        F.col("id").alias("k"),
    )
    out = {r["grp"]: r for r in hll_distinct(df, "grp", "k").collect()}
    assert set(out) == {"0", "1"}
    for r in out.values():
        assert r["n_exact"] == 2500
        assert r["rel_err"] < 0.15

    a, b = df.filter(F.col("k") < 2000), df.filter(F.col("k") >= 2000)
    merged = (
        hll_registers(a, "grp", "k")
        .unionByName(hll_registers(b, "grp", "k"))
        .groupBy("grp", "reg")
        .agg(F.max("rho").alias("rho"))
    )
    direct = {
        (r["grp"],): r["hll_est"]
        for r in hll_estimate(hll_registers(df, "grp", "k")).collect()
    }
    via_merge = {(r["grp"],): r["hll_est"] for r in hll_estimate(merged).collect()}
    assert direct == via_merge


def test_hll_small_range_linear_counting(spark):
    """A 3-distinct-key group must take the linear-counting branch and
    land essentially exact."""
    from linkkchecker_net_spark.pipeline.sketch import hll_distinct

    df = spark.range(300).select(
        F.lit("g").alias("grp"), (F.col("id") % 3).alias("k")
    )
    r = hll_distinct(df, "grp", "k").collect()[0]
    assert r["n_exact"] == 3
    assert abs(r["hll_est"] - 3) < 0.01


# ------------------------------------------------------------------ CMS
def test_cms_overestimates_only(spark):
    """CMS point estimates never under-count, and with d*w >> n_tokens
    the top tokens are exact."""
    from linkkchecker_net_spark.pipeline.sketch import cms_point_estimates

    toks = spark.range(2000).select(
        F.concat(F.lit("t"), (F.col("id") % 50).cast("string")).alias("token")
    )
    probe = toks.select("token").distinct()
    exact = {r["token"]: r["cnt"] for r in toks.groupBy("token").agg(F.count("*").alias("cnt")).collect()}
    for r in cms_point_estimates(toks, probe).collect():
        assert r["cms_est"] >= exact[r["token"]]


def test_cms_unseen_token_zero_floor(spark):
    """Probing a token absent from the stream can still collide upward,
    but an empty stream's sketch answers 0 (the COALESCE path)."""
    from linkkchecker_net_spark.pipeline.sketch import cms_point_estimates

    empty = spark.range(0).select(F.lit("x").alias("token"))
    probe = spark.range(3).select(
        F.concat(F.lit("p"), F.col("id").cast("string")).alias("token")
    )
    rows = cms_point_estimates(empty, probe).collect()
    assert {r["cms_est"] for r in rows} == {0}


# ----------------------------------------------------------- clip_align
def test_clip_alignment_real_phash(spark):
    """Over the real decode-pass corpus (synth_corpus phash): scores in
    [-1, 1], full anchoring (one verdict per image), deterministic."""
    from linkkchecker_net_spark.pipeline.multimodal import clip_alignment
    from linkkchecker_net_spark.fixtures.images import synth_corpus

    ids = spark.range(40).select(F.col("id"))
    corpus = synth_corpus(spark, ids).persist()
    out = clip_alignment(corpus, threshold=0.0)
    rows = sorted((r["image_id"], r["clip_score"]) for r in out.collect())
    assert len(rows) == 40
    assert all(-1.0 <= s <= 1.0 for _, s in rows)
    rows2 = sorted(
        (r["image_id"], r["clip_score"])
        for r in clip_alignment(corpus, threshold=0.0).collect()
    )
    assert rows == rows2
    corpus.unpersist()


def test_clip_alignment_empty_caption_anchored(spark):
    """Caption-less rows keep a (0.0, pass-at-threshold-0) verdict."""
    from linkkchecker_net_spark.pipeline.multimodal import clip_alignment

    df = spark.createDataFrame(
        [("a", 123456789, ""), ("b", 123456789, "some caption words")],
        "image_id string, phash long, caption string",
    )
    out = {r["image_id"]: r for r in clip_alignment(df, threshold=0.0).collect()}
    assert out["a"]["clip_score"] == 0.0 and out["a"]["align_pass"]
    assert out["b"]["clip_score"] != 0.0


# -------------------------------------------------------------- sq8_ann
@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def test_sq8_matches_exact_topk_at_full_rerank(spark, emb):
    """With rerank >= corpus size SQ8 degenerates to the exact integer
    top-k (quantization only gates candidate ORDER, rerank is exact) —
    pin it against brute force on the same floor(x*1000) integer dot."""
    from pyspark.sql import Window

    from linkkchecker_net_spark.pipeline.similarity import sq8_ann

    corpus = emb.limit(80).persist()
    queries = corpus.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding"),
    )
    got = {
        (r["query_id"], r["rank"]): r["vec_id"]
        for r in sq8_ann(corpus, queries, k=5, rerank=10_000).collect()
    }

    def quant(c):
        return F.transform(
            c, lambda x: F.floor(x.cast("double") * F.lit(1000.0)).cast("long")
        )

    q = queries.select("query_id", quant(F.col("q_embedding")).alias("qq"))
    c = corpus.select("vec_id", quant(F.col("embedding")).alias("cq"))
    dot = F.aggregate(
        F.zip_with(F.col("qq"), F.col("cq"), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("vec_id"))
    brute = (
        q.crossJoin(c)
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", dot.alias("score"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
    )
    want = {(r["query_id"], r["rank"]): r["vec_id"] for r in brute.collect()}
    assert got == want
    corpus.unpersist()


def test_sq8_recall_at_tight_rerank(spark, emb):
    """rerank=30 over the sf0.001 corpus: code-space candidates must
    recover >= 80% of the exact top-10 (SQ8's whole point — tiny codes,
    near-exact recall)."""
    from linkkchecker_net_spark.pipeline.similarity import sq8_ann

    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding"),
    )
    tight = sq8_ann(emb, queries, k=10, rerank=30)
    loose = sq8_ann(emb, queries, k=10, rerank=10_000)
    t = {(r["query_id"], r["vec_id"]) for r in tight.collect()}
    l = {(r["query_id"], r["vec_id"]) for r in loose.collect()}
    assert len(t & l) / len(l) >= 0.8


def test_pq_ann_structure_and_recall(spark):
    """PQ ADC candidates must contain the true nearest neighbours often
    enough that the exact rerank reproduces brute-force top-1 for most
    queries on a separable corpus (two well-separated gaussian-ish
    blobs made deterministic)."""
    from linkkchecker_net_spark.pipeline.similarity import pq_ann
    from pyspark.sql import functions as F

    rows = []
    for i in range(40):
        base = 1.0 if i % 2 == 0 else -1.0
        rows.append((i, [base + ((i * 7 + d) % 11) * 0.01
                         for d in range(16)]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    qs = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding"),
    )
    out = pq_ann(emb, qs, m=4, n_codes=4, k=5, ncand=20)
    rowsb = out.collect()
    by_q = {}
    for r in rowsb:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == {0, 1, 2}
    for q, rs in by_q.items():
        ranks = sorted(r["rank"] for r in rs)
        assert ranks == list(range(1, len(rs) + 1))  # contiguous ranks
        # exact rerank ordering: score ascending with rank
        rs2 = sorted(rs, key=lambda r: r["rank"])
        scores = [r["score"] for r in rs2]
        assert scores == sorted(scores)
        # same-blob vectors (same parity) must dominate the top ranks
        top = rs2[0]
        assert top["vec_id"] % 2 == q % 2
        assert all(r["vec_id"] != q for r in rs)


def test_hard_negatives_excludes_same_label(spark):
    from linkkchecker_net_spark.pipeline.similarity import hard_negatives
    from pyspark.sql import functions as F

    rows = [(i, [float(i % 3), 1.0], i % 2) for i in range(12)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    qs = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding"),
        F.col("label").alias("q_label"),
    )
    out = hard_negatives(emb, qs, k=4).collect()
    labels = {i: lab for i, _, lab in rows}
    for r in out:
        assert labels[r["vec_id"]] != labels[r["query_id"]]
        assert r["vec_id"] != r["query_id"]


def test_cluster_purity_hand_values(spark):
    """Vectors split cleanly around two init centroids; labels are pure
    in cluster 0 and 2:1 in cluster 1; majority ties break to the
    smallest label string."""
    from linkkchecker_net_spark.pipeline.cluster import cluster_purity

    rows = [
        (0, [0.0, 0.0], "a"),
        (1, [10.0, 10.0], "b"),
        (2, [0.1, 0.0], "a"),
        (3, [9.9, 10.0], "b"),
        (4, [10.0, 9.9], "b"),
        (5, [0.0, 0.1], "a"),
        (6, [10.1, 10.0], "c"),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label string"
    )
    out = {
        r["cluster"]: r for r in cluster_purity(emb, k=2).collect()
    }
    c0, c1 = out[0], out[1]
    assert (c0["n_vecs"], c0["majority_label"], c0["n_majority"]) == (
        3, "a", 3,
    )
    assert c0["purity_ppm"] == 1_000_000
    assert (c1["n_vecs"], c1["majority_label"], c1["n_majority"]) == (
        4, "b", 3,
    )
    assert c1["purity_ppm"] == 3_000_000 // 4


def test_hll_retention_inclusion_exclusion(spark):
    """Disjoint cohorts: intersection ~0; identical cohorts:
    intersection ~ |A| and retention ~ 1e6 (sketch noise bounded by
    the estimates themselves)."""
    from pyspark.sql import functions as F

    from linkkchecker_net_spark.pipeline.sketch import hll_retention

    disjoint = spark.range(400).select(
        F.when(F.col("id") % 2 == 0, "a").otherwise("b").alias("arm"),
        F.col("id").alias("user_id"),
    )
    r = hll_retention(disjoint).collect()[0]
    # A and B share no users: est_a+est_b ~= est_union
    assert r["est_intersection"] <= 0.05 * r["est_union"]
    same = spark.range(200).select(
        F.explode(F.array(F.lit("a"), F.lit("b"))).alias("arm"),
        F.col("id").alias("user_id"),
    )
    r2 = hll_retention(same).collect()[0]
    assert r2["est_a"] == r2["est_b"] == r2["est_union"]
    assert r2["retention_ppm"] == 1_000_000
