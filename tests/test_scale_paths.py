"""Equivalence tests for the at-scale code paths (SURVEY.md §7 M5):
salted politeness, bloom-layered anti-join, blocked cosine — every scale
path must produce byte-identical results to the simple path."""

from __future__ import annotations

from linkkchecker_net_spark.engine import catalog, tables
from linkkchecker_net_spark.engine.driver import CrawlConfig, CrawlDriver


def _run(spark, fx, ckpt, **cfg):
    web = tables.web_df(spark, fx["web"])
    robots = tables.robots_df(spark, fx["robots"])
    d = CrawlDriver(spark, web, robots, CrawlConfig(ckpt_dir=str(ckpt), **cfg))
    d.run(fx["seeds"])
    return d


def _rows(d):
    return sorted(tuple(r) for r in d.results().collect())


def test_salted_politeness_equivalence(spark, golden_fixtures, tmp_path):
    """J7: two-phase salted top-K must equal the plain per-host window."""
    fx = dict(golden_fixtures)
    fx["robots"] = [dict(r, budget=5) for r in golden_fixtures["robots"]]
    plain = _run(spark, fx, tmp_path / "plain")
    salted = _run(spark, fx, tmp_path / "salted", politeness_salt=7)
    assert _rows(plain) == _rows(salted)


def test_bloom_layered_antijoin_equivalence(spark, golden_fixtures, tmp_path):
    """J1 layering: bloom pre-filter + exact anti-join ≡ plain anti-join
    (force the exchange path by setting the broadcast threshold to 0)."""
    fx = golden_fixtures
    plain = _run(spark, fx, tmp_path / "nb", broadcast_seen_threshold=0)
    bloomed = _run(
        spark, fx, tmp_path / "wb", broadcast_seen_threshold=0, use_bloom=True
    )
    assert _rows(plain) == _rows(bloomed)


def test_blocked_cosine_equals_bruteforce(spark):
    from linkkchecker_net_spark.pipeline.dedup import embedding_neardup_pairs
    from linkkchecker_net_spark.pipeline.similarity import blocked_cosine_pairs

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    brute = {
        (r["vec_a"], r["vec_b"], r["cosine"])
        for r in embedding_neardup_pairs(emb, threshold=0.35).collect()
    }
    blocked = {
        (r["vec_a"], r["vec_b"], r["cosine"])
        for r in blocked_cosine_pairs(emb, threshold=0.35, block_size=128).collect()
    }
    assert brute == blocked
    assert len(brute) > 0


def test_ann_lsh_recall_floor(spark):
    """ann_lsh is approximate by design (the one remaining rows-only
    contract query): assert a recall floor against the exact brute-force
    top-k so a silent recall collapse fails loudly."""
    from pyspark.sql import functions as F

    from linkkchecker_net_spark.pipeline.similarity import (
        cosine_topk_bruteforce,
        lsh_bucket_ann,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    exact = {
        (r["query_id"], r["vec_id"])
        for r in cosine_topk_bruteforce(emb, queries, k=10).collect()
    }
    approx = {
        (r["query_id"], r["vec_id"])
        for r in lsh_bucket_ann(emb, queries, k=10).collect()
    }
    assert approx, "lsh_bucket_ann returned nothing"
    # every returned neighbor must be genuinely bucketed — and recall of
    # the true top-k must clear a floor (tuned to the fixed seed/planes)
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.2, f"ann_lsh recall collapsed: {recall:.2f}"


def test_crawl_log(spark, golden_spark_crawl, golden_oracle_crawl):
    from linkkchecker_net_spark.reports import crawl_log

    log = crawl_log(golden_spark_crawl.results())
    rows = {r["url"]: r for r in log.collect()}
    assert len(rows) == len(golden_oracle_crawl.results)
    ok = [r for r in golden_oracle_crawl.results if r["classification"] == "ok"]
    bad = [r for r in golden_oracle_crawl.results if r["classification"] == "broken"]
    uns = [r for r in golden_oracle_crawl.results if r["classification"] == "unsupported"]
    assert rows[ok[0]["url"]]["severity"] == "Info"
    assert rows[bad[0]["url"]]["severity"] == "Error"
    assert rows[uns[0]["url"]]["severity"] == "Warn"
    assert "Unsupported scheme" in rows[uns[0]["url"]]["message"]
    # LogResult format: "<status> for <url> in <parent>" (Engine.cs:253-262)
    some = ok[0]
    msg = rows[some["url"]]["message"]
    assert f"for {some['url']}" in msg


def test_shuffle_join_paths_equivalence(
    spark, golden_fixtures, golden_spark_crawl, tmp_path
):
    """The >threshold physical strategies — shuffle fetch join (plain left
    join instead of broadcast-inner + anti recovery), shuffle body join,
    shuffle parent join, parallel W2 rank — must be row-identical to the
    all-broadcast small-crawl plan.  This is the plan the saturated
    steady-state bench (and a 10^10-frontier epoch) actually runs."""
    fx = golden_fixtures
    plain = golden_spark_crawl
    shuffled = _run(
        spark,
        fx,
        tmp_path / "sh",
        broadcast_batch_threshold=0,
        broadcast_parseable_threshold=0,
        parallel_rank_threshold=0,
    )
    assert _rows(plain) == _rows(shuffled)


def test_budget_sentinel_always_enforced(spark, golden_fixtures, tmp_path):
    """VERDICT r2 item 3: unbounded politeness is the EXPLICIT
    default_budget=None sentinel — an integer budget is always enforced,
    never inferred unbounded from magnitude (a genuine 10^8 budget on a
    10^10-URL host must bound that host)."""
    fx = dict(golden_fixtures)
    fx["robots"] = []
    bounded = _run(spark, fx, tmp_path / "b8", default_budget=10**8)
    unbounded = _run(spark, fx, tmp_path / "ub")  # default: None
    # same final crawl (the fixture never reaches 10^8 rows per host)...
    assert _rows(bounded) == _rows(unbounded)
    # ...but W1 RAN for the integer budget and was skipped for the sentinel
    assert bounded._politeness_flags() == (False, True)
    assert unbounded._politeness_flags() == (True, True)
    # a binding integer budget defers work across more epochs without
    # changing the reachable set
    small = _run(spark, fx, tmp_path / "sm", default_budget=3)
    assert {(r[0], r[7]) for r in _rows(small)} == {
        (r[0], r[7]) for r in _rows(unbounded)
    }  # same (url, classification) set
    assert len(catalog.list_complete_epochs(str(tmp_path / "sm"))) > len(
        catalog.list_complete_epochs(str(tmp_path / "ub"))
    )


def test_pace_fetch_epoch(spark, golden_fixtures, tmp_path):
    """VERDICT r2 item 4: CrawlConfig.pace_fetch routes the post-join batch
    through the per-host applyInPandas pacer honoring robots crawl_delay —
    crawl outputs row-identical to the unpaced plan, and within an epoch
    each host's fetch_ts gaps are >= crawl_delay."""
    from linkkchecker_net_spark.engine import epoch as epoch_mod, tables

    delay = 0.02
    fx = dict(golden_fixtures)
    fx["robots"] = [dict(r, crawl_delay=delay) for r in golden_fixtures["robots"]]
    plain = _run(spark, fx, tmp_path / "np")
    paced = _run(spark, fx, tmp_path / "pp", pace_fetch=True)
    assert _rows(plain) == _rows(paced)

    # r3 verdict item 7: the politeness audit is a metrics() read — epochs
    # where any host fetched >1 URL report a min same-host gap >= the delay
    pm = [r.asDict() for r in paced.metrics().collect()]
    multi = [r for r in pm if (r["paced_hosts"] or 0) > 0]
    assert multi, "no epoch batched multiple URLs per host"
    for r in multi:
        assert r["min_gap_sec"] >= delay * 0.9, r
    assert all(
        r["min_gap_sec"] is None for r in plain.metrics().collect()
    ), "unpaced crawl must record NULL pacing"

    # in-epoch timestamp contract: drive epoch 1 by hand (epoch 0 is the
    # per-host-unique seed batch) and read the pacer's fetch_ts
    web = tables.web_df(spark, fx["web"])
    robots = tables.robots_df(spark, fx["robots"])
    d = CrawlDriver(
        spark, web, robots,
        CrawlConfig(ckpt_dir=str(tmp_path / "ts"), pace_fetch=True),
    )
    d.init_seeds(fx["seeds"])
    state = d.run_one_epoch(d._read_state())
    res = epoch_mod.run_epoch(
        spark,
        frontier=catalog.read_table(spark, state["frontier_path"]),
        seen=spark.read.parquet(*d._seen_paths(state, 0)),
        web=web,
        robots=robots,
        seed_authorities=state["seed_authorities"],
        seed_prefixes=state["seed_prefixes"],
        epoch=1,
        next_rank=state["next_rank"],
        default_budget=None,
        pace_fetch=True,
        crawl_delays=d._delays(),
    )
    by_host: dict[str, list[float]] = {}
    for r in res.fetched.select("host", "fetch_ts").collect():
        by_host.setdefault(r["host"], []).append(r["fetch_ts"])
    multi = {h: sorted(v) for h, v in by_host.items() if len(v) > 1}
    assert multi, "epoch 1 should batch multiple URLs per host"
    for h, ts in multi.items():
        gaps = [b - a for a, b in zip(ts, ts[1:])]
        assert min(gaps) >= delay * 0.9, (h, min(gaps))
    for df in res.persisted:
        df.unpersist()


def test_seen_compaction_equivalence(
    spark, golden_fixtures, golden_spark_crawl, tmp_path
):
    """Seen compaction (one seen_full/ snapshot once more than
    seen_compact_every delta dirs accumulate) only bounds the anti-join
    read fan-in: results are row-identical to the uncompacted crawl."""
    import os

    compacted = _run(spark, golden_fixtures, tmp_path / "cc", seen_compact_every=2)
    assert _rows(golden_spark_crawl) == _rows(compacted)
    ck = str(tmp_path / "cc")
    snapshots = [
        e for e in catalog.list_complete_epochs(ck)
        if os.path.isdir(os.path.join(catalog.epoch_dir(ck, e), "seen_full"))
    ]
    assert len(snapshots) >= 2, snapshots


def test_dedup_clusters_components(spark):
    """Connected-components cluster assignment: chains (worst-case
    diameter) and multi-component graphs resolve to the min-id label."""
    from linkkchecker_net_spark.pipeline.dedup import dedup_clusters

    docs = spark.createDataFrame([(i,) for i in range(8)], "doc_id long")
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(7)], "doc_a long, doc_b long"
    )
    out = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup_clusters(docs, chain).collect()
    }
    assert out == {i: 0 for i in range(8)}

    two = spark.createDataFrame(
        [(0, 1), (1, 2), (4, 5)], "doc_a long, doc_b long"
    )
    out2 = {
        r["doc_id"]: r["cluster_id"] for r in dedup_clusters(docs, two).collect()
    }
    assert out2 == {0: 0, 1: 0, 2: 0, 3: 3, 4: 4, 5: 4, 6: 6, 7: 7}


def test_dedup_clusters_star_escalation(spark):
    """r3 verdict item 8: a chain graph (worst case for label propagation —
    rounds = diameter) escalates to large-star/small-star after
    `star_after` non-converged rounds and resolves in <= 2*log2(n)
    contraction rounds, same labels."""
    import math

    from pyspark.sql import functions as F

    from linkkchecker_net_spark.pipeline.dedup import _star_labels, dedup_clusters

    n = 64
    docs = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    out = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup_clusters(docs, chain, star_after=2).collect()
    }
    assert out == {i: 0 for i in range(n)}

    # the contraction itself: every non-isolated node stars to the
    # component min within the O(log n) round bound
    e = chain.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    sym = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    stats: dict = {}
    lbl = {
        r["doc_id"]: r["label"] for r in _star_labels(sym, stats=stats).collect()
    }
    assert lbl == {i: 0 for i in range(1, n)}
    assert stats["star_rounds"] <= 2 * int(math.log2(n)), stats


def test_truncate_plans_equivalence(
    spark, golden_fixtures, golden_spark_crawl, tmp_path
):
    """truncate_plans (eager localCheckpoint in place of persist) must be
    a pure plan-depth optimization: crawl results byte-identical to the
    default persist path."""
    fx = golden_fixtures
    plain = golden_spark_crawl
    truncated = _run(spark, fx, tmp_path / "tp1", truncate_plans=True)
    assert _rows(plain) == _rows(truncated)


def test_phash_neardup_pairs_vs_bruteforce(spark):
    """Image near-dup: the 4×16-bit chunk-blocked join must find exactly
    the pairs a brute-force hamming scan over the decoded phashes finds
    (pigeonhole recall is exact at radius ≤ 3), on a corpus with genuine
    near-dups (noise-perturbed copies) and undecodable rows (excluded)."""
    import numpy as np

    from linkkchecker_net_spark import imaging
    from linkkchecker_net_spark.pipeline.multimodal import (
        image_metadata,
        phash_neardup_pairs,
    )

    rows = []
    for i in range(40):
        rng = np.random.default_rng(31_000 + i)
        arr = imaging.make_image(rng, 32, 32).astype(np.int16)
        coarse = rng.integers(-100, 101, size=(8, 8))
        ys = (np.arange(32) * 8 // 32).clip(0, 7)
        arr += coarse[np.ix_(ys, ys)][:, :, None]
        arr = np.clip(arr, 0, 255).astype(np.uint8)
        rows.append((f"img_{i:03d}", imaging.encode_lossy(arr), "jpeg"))
        if i % 8 == 0:  # near-dup twin
            noise = np.random.default_rng(63_000 + i).integers(-1, 2, size=arr.shape)
            twin = np.clip(arr.astype(np.int16) + noise, 0, 255).astype(np.uint8)
            rows.append((f"img_{i:03d}_twin", imaging.encode_lossy(twin), "jpeg"))
    rows.append(("img_bad", b"\x00\x01notanimage", "jpeg"))
    corpus = spark.createDataFrame(rows, "image_id string, bytes binary, fmt string")

    got = {
        (r["img_a"], r["img_b"], r["hamming"])
        for r in phash_neardup_pairs(corpus, max_hamming=3).collect()
    }

    meta = {
        r["image_id"]: r["phash"]
        for r in image_metadata(corpus).filter("decode_ok").collect()
    }
    assert "img_bad" not in meta
    ids = sorted(meta)
    want = set()
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            hm = imaging.hamming64(meta[ids[x]], meta[ids[y]])
            if hm <= 3:
                want.add((ids[x], ids[y], hm))
    assert got == want
    assert len(want) >= 5  # the twins are actually found


def test_caption_phash_neardup_flags(spark):
    """Cross-modal joint near-dup: phash twins flag phash_match, caption
    twins flag caption_match, a pair that is both flags both; unrelated
    images pair with nothing."""
    import numpy as np

    from linkkchecker_net_spark import imaging
    from linkkchecker_net_spark.pipeline.multimodal import (
        caption_phash_neardup_pairs,
    )

    def img(seed):
        rng = np.random.default_rng(seed)
        arr = imaging.make_image(rng, 32, 32).astype(np.int16)
        coarse = rng.integers(-100, 101, size=(8, 8))
        ys = (np.arange(32) * 8 // 32).clip(0, 7)
        arr += coarse[np.ix_(ys, ys)][:, :, None]
        return np.clip(arr, 0, 255).astype(np.uint8)

    a = img(1)
    noise = np.random.default_rng(2).integers(-1, 2, size=a.shape)
    a_twin = np.clip(a.astype(np.int16) + noise, 0, 255).astype(np.uint8)
    rows = [
        ("img_a", imaging.encode_lossy(a), "jpeg", "cap one"),
        ("img_b", imaging.encode_lossy(a_twin), "jpeg", "cap two"),   # pixel twin of a
        ("img_c", imaging.encode_lossy(img(3)), "jpeg", "cap one"),   # caption twin of a
        ("img_d", imaging.encode_lossy(img(4)), "jpeg", "cap four"),  # unrelated
        ("img_e", imaging.encode_lossy(a_twin), "jpeg", "cap two"),   # both vs img_b
    ]
    corpus = spark.createDataFrame(
        rows, "image_id string, bytes binary, fmt string, caption string"
    )
    got = {
        (r["img_a"], r["img_b"]): (r["phash_match"], r["caption_match"])
        for r in caption_phash_neardup_pairs(corpus, max_hamming=3).collect()
    }
    assert got[("img_a", "img_c")] == (False, True)
    assert got[("img_b", "img_e")] == (True, True)
    assert got[("img_a", "img_b")][0] is True
    assert ("img_a", "img_d") not in got and ("img_c", "img_d") not in got


def test_hamming_blocked_join_vs_bruteforce(spark):
    """Asymmetric radius search: the chunk-blocked two-table join must
    return exactly the (query, corpus) pairs a brute-force hamming scan
    finds at radius 3 (pigeonhole-exact), including hamming-0 self hits
    and excluding everything past the radius."""
    import random

    from linkkchecker_net_spark import imaging
    from linkkchecker_net_spark.pipeline.dedup import hamming_blocked_join

    rnd = random.Random(7)

    def signed64(u):
        return u - (1 << 64) if u >= 1 << 63 else u

    corpus_hashes = [signed64(rnd.getrandbits(64)) for _ in range(60)]
    queries = []
    for qi in range(12):
        base = corpus_hashes[qi * 3]
        flipped = base
        for b in rnd.sample(range(64), qi % 5):  # 0..4 bit flips
            flipped = signed64((flipped ^ (1 << b)) & 0xFFFFFFFFFFFFFFFF)
        queries.append((f"q_{qi:02d}", flipped))
    cdf = spark.createDataFrame(
        [(f"c_{i:02d}", h) for i, h in enumerate(corpus_hashes)],
        "corpus_id string, c_hash long",
    )
    qdf = spark.createDataFrame(queries, "query_id string, q_hash long")

    got = {
        (r["query_id"], r["corpus_id"], r["hamming"])
        for r in hamming_blocked_join(qdf, cdf, max_hamming=3).collect()
    }
    want = {
        (qid, f"c_{ci:02d}", imaging.hamming64(qh, ch))
        for qid, qh in queries
        for ci, ch in enumerate(corpus_hashes)
        if imaging.hamming64(qh, ch) <= 3
    }
    assert got == want
    assert any(h == 0 for _, _, h in want)  # exact hits exercised
    assert len(want) < len(queries) * len(corpus_hashes)


def test_image_clusters_and_keep(spark):
    """Cluster assignment + representative retention: twins cluster with
    their base under the base's id; the higher-resolution member is kept
    (resolution beats id order), singletons keep themselves."""
    import numpy as np

    from linkkchecker_net_spark import imaging
    from linkkchecker_net_spark.pipeline.multimodal import (
        image_clusters,
        image_dedup_keep,
    )

    def img(seed, w=32, h=32):
        return imaging.make_image(np.random.default_rng(seed), w, h)

    a = img(1, 40, 40)
    # upscaled twin: same content at higher resolution -> same phash
    ys = (np.arange(64) * 40 // 64).clip(0, 39)
    a_big = a[ys][:, ys]
    rows = [
        ("img_a", imaging.encode_lossy(a), "jpeg"),
        ("img_b", imaging.encode_lossy(a_big), "jpeg"),  # twin, larger area
        ("img_c", imaging.encode_lossy(img(3)), "jpeg"),  # singleton
        ("img_bad", b"\x00\x01", "jpeg"),  # undecodable singleton
    ]
    corpus = spark.createDataFrame(rows, "image_id string, bytes binary, fmt string")

    clusters = {r["image_id"]: r["cluster_id"] for r in image_clusters(corpus).collect()}
    assert clusters["img_a"] == clusters["img_b"] == "img_a"
    assert clusters["img_c"] == "img_c"
    assert clusters["img_bad"] == "img_bad"

    keep = {r["image_id"]: r["keep"] for r in image_dedup_keep(corpus).collect()}
    assert keep == {"img_a": False, "img_b": True, "img_c": True, "img_bad": True}


def test_aspect_bucket_assignment(spark):
    """Known dims land in the multiplicatively-nearest bucket; ties keep
    the earliest bucket; undecodable rows get a NULL bucket."""
    import numpy as np

    from linkkchecker_net_spark import imaging
    from linkkchecker_net_spark.pipeline.multimodal import aspect_bucket

    def enc(w, h):
        return imaging.encode_lossless(
            imaging.make_image(np.random.default_rng(w * 100 + h), w, h)
        )

    rows = [
        ("sq", enc(32, 32), "png"),       # exactly 1:1
        ("land", enc(40, 30), "png"),     # exactly 4:3
        ("port", enc(30, 40), "png"),     # exactly 3:4
        ("wide", enc(48, 27), "png"),     # exactly 16:9
        ("tall", enc(27, 48), "png"),     # exactly 9:16
        ("mid", enc(40, 32), "png"),      # 1.25 -> nearer 4:3 than 1:1
        ("bad", b"\x00", "png"),          # undecodable
    ]
    corpus = spark.createDataFrame(rows, "image_id string, bytes binary, fmt string")
    got = {r["image_id"]: r["bucket"] for r in aspect_bucket(corpus).collect()}
    assert got == {
        "sq": "1:1", "land": "4:3", "port": "3:4", "wide": "16:9",
        "tall": "9:16", "mid": "4:3", "bad": None,
    }


def test_image_shard_pack_chunking(spark):
    """Byte-budget packing: an image belongs to the chunk its first byte
    lands in; per-shard cumsum is independent of other shards."""
    from linkkchecker_net_spark.pipeline.multimodal import image_shard_pack

    rows = [
        ("img_a", b"\x01" * 100),
        ("img_b", b"\x02" * 200),
        ("img_c", b"\x03" * 100),
    ]
    corpus = spark.createDataFrame(rows, "image_id string, bytes binary")
    # n_shards=1 collapses hashing: one stream ordered img_a, img_b, img_c
    # with first-byte offsets 0, 100, 300 -> chunks 0, 0, 1 at 250 bytes
    out = {
        (r["shard_id"], r["chunk_id"]): (r["n_images"], r["n_bytes"],
                                         r["min_image_id"], r["max_image_id"])
        for r in image_shard_pack(corpus, shard_bytes=250, n_shards=1).collect()
    }
    assert out == {
        (0, 0): (2, 300, "img_a", "img_b"),
        (0, 1): (1, 100, "img_c", "img_c"),
    }


def test_curation_funnel_reasons(spark):
    """Each gate fires in precedence order and attributes the FIRST
    failing reason; a clean doc survives with reason NULL."""
    from linkkchecker_net_spark.pipeline.curation import curation_funnel

    good = ("the quick brown fox jumps over the lazy dog and then "
            "the fox is a friend of the dog in every way we know")
    rows = [
        (1, good),                                  # keep
        (2, "der der und und ist das die der und ist das der die und "
            "der das und ist die der das und"),     # German -> lang
        (3, "the a of and is"),                     # <20 tokens -> quality
        # 24 tokens, 18 distinct (quality passes), but "the fox" covers
        # 8/24 > 0.2 of tokens -> repetition
        (4, "the fox the fox the fox the fox ate one two three four "
            "five six seven eight nine ten eleven twelve"),
        (5, good + " mail me at bob@corp.io"),      # -> pii
        (6, good),                                  # dup of 1 -> duplicate
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["keep"], r["reason"])
           for r in curation_funnel(docs).collect()}
    assert got == {
        1: (True, None), 2: (False, "lang"), 3: (False, "quality"),
        4: (False, "repetition"), 5: (False, "pii"), 6: (False, "duplicate"),
    }


def test_image_funnel_reasons(spark):
    """Decode, dims, aspect and byte-dedup gates fire in precedence
    order; the canonical (min-id) copy of a byte-twin survives."""
    import numpy as np

    from linkkchecker_net_spark import imaging
    from linkkchecker_net_spark.pipeline.multimodal import image_funnel

    def enc(seed, w, h):
        return imaging.encode_lossless(
            imaging.make_image(np.random.default_rng(seed), w, h)
        )

    ok = enc(1, 32, 32)
    rows = [
        ("img_a", ok, "png"),              # keep (canonical of the twin)
        ("img_b", ok, "png"),              # byte twin -> duplicate
        ("img_c", b"\x00\x01", "png"),     # -> decode
        ("img_d", enc(2, 16, 16), "png"),  # -> dims (min_dim 24)
        ("img_e", enc(3, 48, 24), "png"),  # aspect 2.0 -> aspect
    ]
    corpus = spark.createDataFrame(rows, "image_id string, bytes binary, fmt string")
    got = {r["image_id"]: (r["keep"], r["reason"])
           for r in image_funnel(corpus, min_dim=24, max_aspect=1.8).collect()}
    assert got == {
        "img_a": (True, None), "img_b": (False, "duplicate"),
        "img_c": (False, "decode"), "img_d": (False, "dims"),
        "img_e": (False, "aspect"),
    }


def test_new_image_ops_empty_corpus(spark):
    """Every new image operator must return an empty, correctly-typed
    result on an empty corpus (empty mapInPandas batches are an accident
    of partitioning at scale)."""
    from linkkchecker_net_spark.pipeline.multimodal import (
        aspect_bucket,
        image_clusters,
        image_dedup_keep,
        image_funnel,
        image_quality_gate,
        image_radius_search,
        image_shard_pack,
    )

    empty = spark.createDataFrame([], "image_id string, bytes binary, fmt string")
    assert aspect_bucket(empty).count() == 0
    assert image_quality_gate(empty).count() == 0
    assert image_shard_pack(empty).count() == 0
    assert image_funnel(empty).count() == 0
    assert image_clusters(empty).count() == 0
    assert image_dedup_keep(empty).count() == 0
    assert image_radius_search(empty, empty).count() == 0


def test_curation_funnel_empty(spark):
    from linkkchecker_net_spark.pipeline.curation import curation_funnel

    empty = spark.createDataFrame([], "doc_id long, text string")
    df = curation_funnel(empty)
    assert df.count() == 0
    assert df.columns == [
        "doc_id", "lang_ok", "quality_ok", "repetition_ok", "pii_ok",
        "canonical", "keep", "reason",
    ]


def test_ivf_ann_full_probe_equals_bruteforce(spark):
    """With nprobe = n_cells the IVF path degenerates to exact search:
    its output must equal the exhaustive integer-dot top-k, and with
    nprobe < n_cells every hit must come from a probed cell."""
    import math

    import numpy as np
    from pyspark.sql import functions as F

    from linkkchecker_net_spark.pipeline.similarity import ivf_ann

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    got = {
        (r["query_id"], r["vec_id"], r["score"], r["rank"])
        for r in ivf_ann(emb, queries, n_cells=8, nprobe=8, k=5).collect()
    }

    rows = emb.select("vec_id", "embedding").collect()
    vecs = {
        r["vec_id"]: np.array(
            [math.floor(float(x) * 1000) for x in r["embedding"]], dtype=np.int64
        )
        for r in rows
    }
    want = set()
    for qid in range(5):
        scored = sorted(
            ((int(vecs[qid] @ v), vid) for vid, v in vecs.items() if vid != qid),
            key=lambda t: (-t[0], t[1]),
        )[:5]
        want |= {(qid, vid, s, i + 1) for i, (s, vid) in enumerate(scored)}
    assert got == want

    # partial probe: a strict subset is allowed, never a superset
    partial = {
        (r["query_id"], r["vec_id"])
        for r in ivf_ann(emb, queries, n_cells=8, nprobe=2, k=5).collect()
    }
    assert partial  # non-empty
    assert len(partial) <= len(want)


def test_pca_top_component_rank1_exact(spark):
    """Points on the (3,4) line: C is rank-1, the power iteration hits
    the fixed point (0.6, 0.8) after one step, var_explained is
    exactly 1.0, and the declared means match."""
    from linkkchecker_net_spark.pipeline.similarity import pca_top_component

    rows = [
        (0, [0.0, 0.0]),
        (1, [3.0, 4.0]),
        (2, [6.0, 8.0]),
        (3, [-3.0, -4.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["dim"]: r for r in pca_top_component(df).collect()}
    assert out[0]["mean"] == 1.5 and out[1]["mean"] == 2.0
    assert out[0]["pc1"] == 0.6 and out[1]["pc1"] == 0.8
    assert out[0]["var_explained"] == 1.0


def test_pca_top_component_negative_entry_kept(spark):
    """Anti-correlated dims: pc1 keeps a negative first entry when the
    max-|entry| coordinate is already positive (sign rule anchors on
    the largest magnitude, not on entry 0)."""
    from linkkchecker_net_spark.pipeline.similarity import pca_top_component

    rows = [(0, [1.0, -2.0]), (1, [-1.0, 2.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["dim"]: r for r in pca_top_component(df).collect()}
    assert out[0]["pc1"] == -0.447214 and out[1]["pc1"] == 0.894427
    assert out[0]["var_explained"] == 1.0


def test_pca_top_component_empty_corpus_is_zero(spark):
    """An empty corpus has zero moments, not 0/0: mean 0, pc1 stays the
    start vector, var_explained 0 — no NaN row."""
    from linkkchecker_net_spark.pipeline.similarity import pca_top_component

    df = spark.createDataFrame([], "vec_id long, embedding array<float>")
    out = {r["dim"]: r for r in pca_top_component(df, dim=2).collect()}
    assert out[0]["mean"] == 0.0 and out[1]["mean"] == 0.0
    assert out[0]["pc1"] == 0.707107 and out[1]["pc1"] == 0.707107
    assert out[0]["var_explained"] == 0.0


def test_pca_top_component_ragged_vectors_raise(spark):
    """Rows of length 2, 1 and 3 hold 3·2 values in total: a reshape would
    silently misalign them, so the kernel must raise instead."""
    import pytest

    from linkkchecker_net_spark.pipeline.similarity import pca_top_component

    rows = [(0, [1.0, 2.0]), (1, [3.0]), (2, [4.0, 5.0, 6.0])]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).coalesce(1)
    with pytest.raises(Exception, match="ragged vectors"):
        pca_top_component(df, dim=2).collect()


def test_pca_top_component_skips_null_elements(spark):
    """A null element is skipped, as SQL avg/sum skip it: the dim-0 mean
    is over its three non-null values, and no NaN reaches the output."""
    import math

    from linkkchecker_net_spark.pipeline.similarity import pca_top_component

    rows = [
        (0, [3.0, 4.0]),
        (1, [6.0, 8.0]),
        (2, [None, 4.0]),
        (3, [-3.0, -4.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["dim"]: r for r in pca_top_component(df, dim=2).collect()}
    assert out[0]["mean"] == 2.0 and out[1]["mean"] == 3.0
    vals = [out[d][c] for d in (0, 1) for c in ("pc1", "var_explained")]
    assert all(math.isfinite(v) for v in vals), vals
    assert abs(out[0]["pc1"] ** 2 + out[1]["pc1"] ** 2 - 1.0) < 1e-5


def test_ann_recall_report_floors_and_shape(spark):
    """Three methods × five queries, n_exact = k everywhere, and every
    floor boolean true at the measured sf0.001 recalls (ivf ≥ 0.8,
    sq8 = 1.0, pq ≥ 0.5 against floors 0.5 / 0.8 / 0.2)."""
    from pyspark.sql import functions as F

    from linkkchecker_net_spark.pipeline.similarity import ann_recall_report

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding"),
    )
    rows = ann_recall_report(emb, queries, k=10).collect()
    assert len(rows) == 15
    assert {r["method"] for r in rows} == {"ivf", "sq8", "pq"}
    assert all(r["n_exact"] == 10 for r in rows)
    assert all(r["recall_floor_met"] for r in rows)


def test_dim_truncation_eval_full_dim_row_is_exact(spark):
    """The frac=1 row is tautologically 1.0; hand-built embeddings where
    the first half carries all the signal keep recall 1.0 at frac=2,
    while a tail-heavy corpus degrades below it."""
    from linkkchecker_net_spark.pipeline.similarity import (
        dim_truncation_eval,
    )

    # signal entirely in dims 0-1, noise-free: truncation to half (2
    # dims) preserves the exact neighbor ranking
    rows = [
        (i, [float(i % 7), float((i * 3) % 5), 0.0, 0.0]) for i in range(24)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )
    out = {
        r["frac"]: r
        for r in dim_truncation_eval(
            emb, k=3, n_queries=2, fracs=(1, 2)
        ).collect()
    }
    assert out[1]["recall"] == 1.0 and out[1]["dims"] == 4
    assert out[2]["recall"] == 1.0 and out[2]["dims"] == 2


def test_embedding_drift_identical_and_shifted(spark):
    """Identical populations: cosine 1, zero drift; shifting one dim of
    side b moves top_drift_dim there with the exact gap."""
    from linkkchecker_net_spark.pipeline.similarity import embedding_drift

    a = spark.createDataFrame(
        [(i, [1.0, 2.0, 3.0]) for i in range(4)],
        "vec_id long, embedding array<float>",
    )
    same = embedding_drift(a, a).collect()[0]
    assert same["mean_cosine"] == 1.0 and same["top_drift"] == 0.0
    b = spark.createDataFrame(
        [(i, [1.0, 2.0, 8.0]) for i in range(2)],
        "vec_id long, embedding array<float>",
    )
    r = embedding_drift(a, b).collect()[0]
    assert (r["n_a"], r["n_b"]) == (4, 2)
    assert r["top_drift_dim"] == 2 and r["top_drift"] == 5.0
    assert r["mean_cosine"] < 1.0


def test_pq_advisor_arithmetic(spark):
    """Jégou sizing at (m=8, k=256) over a 16-dim corpus: 64-bit codes,
    8x compression vs float32, codebook 2048*2*4 bytes; a dim not
    divisible by m flags the misconfiguration."""
    from linkkchecker_net_spark.pipeline.similarity import pq_advisor

    emb = spark.createDataFrame(
        [(i, [float(i)] * 16) for i in range(100)],
        "vec_id long, embedding array<float>",
    )
    r = pq_advisor(emb, m=8, k=256).collect()[0]
    assert (r["n_vecs"], r["dim"], r["code_bits"]) == (100, 16, 64)
    assert r["compression_x"] == 8.0
    assert r["codes_mib"] == round(100 * 64 / (8.0 * 1024 * 1024), 6)
    assert r["codebook_mib"] == round(2048 * 2 * 4 / (1024.0 * 1024), 6)
    assert r["m_divides_dim"] is True
    odd = spark.createDataFrame(
        [(1, [0.0] * 15)], "vec_id long, embedding array<float>"
    )
    assert pq_advisor(odd, m=8).collect()[0]["m_divides_dim"] is False
