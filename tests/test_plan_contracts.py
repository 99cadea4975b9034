"""Plan-inspection contracts: physical shapes that keep the 10^10-row paths
scale-safe are PINNED, not assumed (r3 verdict item 5).

The motivating find: the 0-partition row_number windows in
weighted_sample/vocab_topk were believed to be rewritten by Spark's
WindowGroupLimit rule into partial per-partition top-ks — inspection showed
the rule does NOT fire for empty partition specs on this build, i.e. they
were full single-partition sorts of their input.  Both operators now use
orderBy().limit(k) = TakeOrderedAndProject (a true partial top-k), and
these tests fail loudly if a refactor reintroduces a global window."""

from __future__ import annotations

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_weighted_sample_is_partial_topk(spark):
    from linkkchecker_net_spark.pipeline.curation import weighted_sample

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = _plan(weighted_sample(docs, k=50))
    assert "TakeOrderedAndProject" in p, p
    assert "Window" not in p, p  # no 0-partition window anywhere


def test_vocab_topk_is_partial_topk(spark):
    from linkkchecker_net_spark.pipeline.curation import vocab_topk

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = _plan(vocab_topk(docs, k=100))
    assert "TakeOrderedAndProject" in p, p
    assert "Window" not in p, p
    # the token aggregation still partial-aggregates map-side
    assert "partial_count" in p or "HashAggregate" in p, p


def test_kmeans_iteration_single_shuffle_no_join(spark):
    """r3 verdict item 4: one Lloyd iteration = ONE shuffle (the k x D
    centroid aggregation) and NO join back to the corpus."""
    from linkkchecker_net_spark.pipeline.cluster import assign_clusters

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cents = [[0.1] * 64, [0.2] * 64, [0.3] * 64]
    means = (
        assign_clusters(emb, cents, keep_vec=True)
        .select("cluster", F.posexplode(F.col("embedding")).alias("pos", "v"))
        .groupBy("cluster", "pos")
        .agg(F.round(F.avg("v"), 6).alias("cv"))
    )
    p = _plan(means)
    assert p.count("Exchange") == 1, p
    assert "Join" not in p, p


def test_small_rank_gates_on_survivor_estimate(spark, tmp_path):
    """r3 verdict item 3: the W2 strategy gate must scale by the OBSERVED
    links-per-page ratio, not raw frontier rows — a link-dense web flips to
    the parallel rank even when the frontier is far below the threshold,
    and the two strategies stay row-identical."""
    from linkkchecker_net_spark.engine.driver import CrawlConfig, CrawlDriver
    from linkkchecker_net_spark.fixtures import docweb

    web = docweb.build_web_for_bench(spark, 400, partitions=8, extra_links=150)
    robots = docweb.empty_robots(spark)

    # unit: first epoch uses assumed_links_per_page; later epochs 2x the
    # observed ratio
    d = CrawlDriver(
        spark, web, robots, CrawlConfig(ckpt_dir=str(tmp_path / "u"))
    )
    assert d._estimated_rank_input({"frontier_count": 10, "rank_ratio": None}) == 640
    assert (
        d._estimated_rank_input({"frontier_count": 10, "rank_ratio": 150.0})
        == 3000
    )

    def crawl(ck, **kw):
        drv = CrawlDriver(
            spark, web, robots,
            CrawlConfig(ckpt_dir=str(ck), max_epochs=2, **kw),
        )
        drv.init_seeds(docweb.seeds(3))
        state = drv._read_state()
        flags = []
        while state["frontier_count"] > 0 and state["next_epoch"] < 2:
            state = drv.run_one_epoch(state)
            flags.append(drv._last_small_rank)
        rows = sorted(tuple(r) for r in drv.results().collect())
        return flags, rows

    # auto gate: epoch 0 small (3 seeds x assumed 64 = 192 < threshold),
    # epoch 1 parallel (frontier x observed ~150 links/page x 2 >> threshold
    # even though the frontier itself is far below 2000 rows)
    flags_auto, rows_auto = crawl(tmp_path / "auto", parallel_rank_threshold=2000)
    assert flags_auto[0] is True and flags_auto[1] is False, flags_auto

    # forced single-window path must be row-identical
    flags_small, rows_small = crawl(
        tmp_path / "small", parallel_rank_threshold=10**9
    )
    assert all(flags_small), flags_small
    assert rows_auto == rows_small


def test_bm25_small_sides_broadcast(spark):
    """The corpus scalars (1 row) and per-term idf (|terms| rows) must
    reach the scoring scan as broadcasts — no shuffle of the token stream
    against metadata-sized dimensions, no global window anywhere."""
    from linkkchecker_net_spark.pipeline.ranking import bm25

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = _plan(bm25(docs, ("spark", "join")))
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p, p
    assert "Window" not in p, p
    # doc_id-keyed joins (tf x dl, anchor x scores) may shuffle — both
    # sides are corpus-sized; the token-keyed idf join must NOT
    for line in p.splitlines():
        if "SortMergeJoin" in line or "ShuffledHashJoin" in line:
            assert "token" not in line, p


def test_tfidf_topk_window_is_per_doc(spark):
    """The top-k window partitions by doc_id (10^10 tiny partitions, no
    global sort): the plan's Window node must carry a partition spec."""
    from linkkchecker_net_spark.pipeline.ranking import tfidf_topk

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = _plan(tfidf_topk(docs, k=3))
    assert "Window" in p, p
    import re

    w = re.search(r"Window \[[^\]]*\], \[doc_id", p)
    assert w is not None, p


def test_semantic_dedup_pairs_join_on_cluster(spark):
    """The pair search must be cluster-blocked (join key = cluster), never
    an all-pairs cross join."""
    from linkkchecker_net_spark.pipeline.cluster import semantic_dedup

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    p = _plan(semantic_dedup(emb, k=4, iters=1, threshold=0.4))
    assert "CartesianProduct" not in p, p
    assert "cluster" in p, p


def test_image_shard_pack_prunes_bytes_before_shuffle(spark):
    """The packing window must shuffle only (image_id, shard_id, n_b) —
    the binary payload is projected away at the scan, never exchanged."""
    from linkkchecker_net_spark.pipeline.multimodal import image_shard_pack

    corpus = spark.createDataFrame(
        [(f"i{i}", b"\x00" * 64) for i in range(8)],
        "image_id string, bytes binary",
    )
    p = _plan(image_shard_pack(corpus, shard_bytes=128, n_shards=2))
    # the raw payload column must not appear in any Exchange/Window/Sort
    # (word-boundary: n_bytes#... the manifest column is fine)
    import re

    for line in p.splitlines():
        if any(op in line for op in ("Exchange", "Window", "Sort")):
            assert not re.search(r"(?<![A-Za-z0-9_])bytes#", line), line


def test_aspect_bucket_argmin_is_codegen(spark):
    """The bucket argmin is pure JVM expression work on decode scalars —
    no Python evaluation and no shuffle after the decode pass."""
    from linkkchecker_net_spark.pipeline.multimodal import aspect_bucket

    corpus = spark.createDataFrame(
        [("i0", b"\x00", "png")], "image_id string, bytes binary, fmt string"
    )
    p = _plan(aspect_bucket(corpus))
    assert "Exchange" not in p, p  # map-only after mapInPandas decode
    # exactly one Python stage: the decode pass itself
    assert p.count("MapInPandas") == 1, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p


def test_image_funnel_is_single_scan(spark):
    """The funnel's docstring claims ONE decode pass and no second payload
    read: exactly one MapInPandas, no Join, and one exchange (the
    content-hash dedup window)."""
    from linkkchecker_net_spark.pipeline.multimodal import image_funnel

    corpus = spark.createDataFrame(
        [(f"i{i}", b"\x00" * 16, "png") for i in range(4)],
        "image_id string, bytes binary, fmt string",
    )
    p = _plan(image_funnel(corpus))
    assert p.count("MapInPandas") == 1, p
    assert "Join" not in p, p
    assert p.count("Exchange") == 1, p


def test_curation_funnel_gates_stay_jvm(spark):
    """The map-only gates (lang/quality/PII) must be inlined JVM
    expressions — no Python evaluation anywhere in the funnel plan."""
    from linkkchecker_net_spark.pipeline.curation import curation_funnel

    docs = spark.createDataFrame([(1, "the a of and is")], "doc_id long, text string")
    p = _plan(curation_funnel(docs))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p
    assert "MapInPandas" not in p, p


def test_domain_cap_partial_group_limit_below_exchange(spark):
    """domain_cap's quota must partial-limit per input partition BEFORE the
    shuffle: a hot domain forwards cap x n_partitions rows, not its whole
    page set.  (Partitioned windows DO get the WindowGroupLimit rewrite on
    this build — unlike the empty-spec case documented above.)"""
    from linkkchecker_net_spark.pipeline.curation import domain_cap

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = _plan(domain_cap(docs, cap=10))
    partial = p.find("Partial")
    exchange = p.find("Exchange")
    assert "WindowGroupLimit" in p, p
    assert partial != -1 and exchange != -1, p
    # children print below parents, so the Partial pass sitting under the
    # Exchange appears after it in the tree text
    assert partial > exchange, p
    # only the 3 needed columns reach the parquet scan
    assert "ReadSchema: struct<doc_id:bigint,source:string,n_chars:bigint>" in p, p


def test_sessionize_single_exchange(spark):
    """Batch sessionize shuffles once on user_id: the lag window, the
    running-sum window, and the per-(user, session) aggregate all reuse
    the same hash partitioning (HashPartitioning(user_id) satisfies the
    groupBy's clustering on a key superset)."""
    from linkkchecker_net_spark.streaming.sessions import sessionize

    ev = spark.read.parquet(f"{SF}/events.parquet")
    p = _plan(sessionize(ev))
    assert p.count("Exchange") == 1, p


def test_pagerank_reuses_cached_edges_and_partial_aggregates(spark):
    """pipeline.graph.pagerank: the out-degree-joined edge table must be
    read from cache in EVERY iteration (InMemoryTableScan per iteration —
    the 10^10-edge table never recomputes or re-shuffles), and the rank
    contribution sum must partial-aggregate map-side."""
    from linkkchecker_net_spark.pipeline.graph import pagerank

    nodes = spark.createDataFrame([("a",), ("b",), ("c",)], "url string")
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], "src string, dst string"
    )
    p = _plan(pagerank(nodes, edges, iterations=2, materialize=False))
    assert p.count("InMemoryTableScan") >= 2, p
    assert "partial_sum" in p, p


def test_anchor_corpus_cap_is_partial_group_limit(spark):
    """pipeline.graph.anchor_corpus(cap_per_target): the per-target window
    is PARTITIONED (no 0-partition hazard) and Spark pushes the row_number
    filter down as a Partial WindowGroupLimit below the exchange, so hot
    targets shuffle at most cap rows per map partition."""
    from linkkchecker_net_spark.pipeline.graph import anchor_corpus

    an = spark.createDataFrame(
        [("u", "t1"), ("u", "t2"), ("v", "t3")], "dst string, text string"
    )
    p = _plan(anchor_corpus(an, cap_per_target=2))
    assert "WindowGroupLimit" in p and ", Partial" in p, p


def test_hll_partial_aggregates_and_bounded_shuffle(spark):
    """HLL register build: the groupBy(grp, reg).max must partial-aggregate
    map-side (HashAggregate with a partial max) so at most m rows per
    group per partition cross the exchange — the property that makes the
    sketch 100 TB-viable."""
    from linkkchecker_net_spark.pipeline.sketch import hll_registers

    ev = spark.read.parquet(f"{SF}/events.parquet")
    p = _plan(hll_registers(ev, "event_type", "user_id"))
    assert "partial_max" in p or "partial" in p.lower(), p
    assert "Join" not in p, p


def test_cms_probe_is_broadcast_join(spark):
    """The d*w sketch is metadata-sized: point probes must broadcast it,
    never shuffle the token stream to meet the probes."""
    from linkkchecker_net_spark.pipeline.sketch import cms_point_estimates

    toks = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select(F.explode(F.split(F.col("text"), " ")).alias("token"))
        .filter(F.col("token") != "")
    )
    probe = toks.limit(5).distinct()
    p = _plan(cms_point_estimates(toks, probe))
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p


def test_clip_alignment_no_corpus_rejoin_and_codegen(spark):
    """clip_alignment: phash rides the token rows (no join back to the
    corpus for the image side — the only joins are the final verdict
    anchor), and the per-dim math is JVM codegen, no Python UDF."""
    from linkkchecker_net_spark.pipeline.multimodal import clip_alignment

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        F.col("doc_id").alias("image_id"),
        F.col("doc_id").alias("phash"),
        F.col("text").alias("caption"),
    )
    p = _plan(clip_alignment(docs))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p
    # exactly one join: the left anchor onto the full corpus id set
    assert p.count("Join") <= 2, p  # physical join + its reuse line at most


def test_sq8_candidate_scan_carries_codes_not_floats(spark):
    """sq8_ann candidate stage: the cross join's corpus side must carry
    only (vec_id, rv) — the reconstructed code vector — not the raw
    embedding column (the 4x memory-traffic win is the operator's point)."""
    from linkkchecker_net_spark.pipeline.similarity import sq8_ann

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    plan = _plan(sq8_ann(emb, q, k=5, rerank=10))
    # candidate BroadcastNestedLoopJoin inputs must not project `embedding`
    # beyond the code-building scans; the final output never needs it
    import re

    joins = [seg for seg in plan.split("\n") if "NestedLoop" in seg or "CartesianProduct" in seg]
    assert joins, plan


def test_c4_line_filter_is_map_only(spark):
    """C4 line/page rules are one Project over the scan — no exchange,
    no Python eval; partitions stream independently at any corpus size."""
    from linkkchecker_net_spark.pipeline.text import c4_line_filter

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = _plan(c4_line_filter(docs))
    assert "Exchange" not in p, p
    for bad in ("BatchEvalPython", "ArrowEvalPython"):
        assert bad not in p, p


def test_paragraph_dedup_partial_agg_and_semi_join(spark):
    """Corpus-wide keep-first: the winner pick partial-aggregates
    map-side (min struct combiner) and the keep step is a LeftSemi hash
    join on the digest — no window over the exploded paragraph stream,
    no Python, no broadcast of corpus-sized data."""
    from linkkchecker_net_spark.pipeline.text import paragraph_dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = _plan(paragraph_dedup(docs))
    assert "LeftSemi" in p, p
    assert "partial_min" in p or "partial_count" in p, p
    assert "WindowExec" not in p and "BatchEvalPython" not in p, p


def test_budget_alloc_scalar_dim_is_broadcast(spark):
    """The global weight sum joins back as a 1-row broadcast dim — no
    sort-merge join, no corpus-sized shuffle beyond the host groupBy."""
    from pyspark.sql import functions as F2
    from linkkchecker_net_spark.pipeline.recrawl import budget_alloc

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    hs = (
        docs.groupBy((F2.col("doc_id") % 23).alias("k"))
        .agg(F2.count("*").alias("n_urls"))
        .select(
            F2.concat(F2.lit("h"), F2.col("k").cast("string")).alias("host"),
            "n_urls",
            (F2.col("k") % 5 + 1).cast("long").alias("quality_scaled"),
        )
    )
    p = _plan(budget_alloc(hs, 1000, 5, 200))
    assert "Broadcast" in p, p
    assert "SortMergeJoin" not in p, p


def test_map_only_audits_have_no_exchange(spark):
    """heading/alt/social/hsts/base_href/picture/content-language are all
    claimed map-only codegen in their docstrings — pin it: zero
    Exchange operators, no Python evals in the plan."""
    from linkkchecker_net_spark.kernels.basehref import base_href_links
    from linkkchecker_net_spark.kernels.srcset import picture_sources
    from linkkchecker_net_spark.pipeline.text import content_language_audit
    from linkkchecker_net_spark.reports.security import hsts_audit
    from linkkchecker_net_spark.reports.seo import (
        alt_audit,
        heading_audit,
        social_meta_audit,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    pages = docs.selectExpr(
        "doc_id",
        "concat('http://h.test/d/', doc_id) AS url",
        "concat('<h1>t</h1><img alt=\"a\" src=\"x\">', text) AS body",
        "'Content-Language: en' AS headers",
        "text",
    )
    for op, df in [
        ("heading", heading_audit(pages)),
        ("alt", alt_audit(pages)),
        ("social", social_meta_audit(pages)),
        ("hsts", hsts_audit(pages)),
        ("base_href", base_href_links(pages)),
        ("picture", picture_sources(pages)),
        ("content_language", content_language_audit(pages)),
    ]:
        p = _plan(df)
        assert "Exchange" not in p, (op, p)
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, (
            op, p,
        )


def test_warc_revisit_single_exchange(spark):
    """Both window functions share the (url, digest8) partitioning — the
    plan must carry exactly ONE Exchange."""
    from linkkchecker_net_spark.reports.warc import warc_revisit

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    caps = docs.selectExpr(
        "concat('u', doc_id % 10) AS url",
        "doc_id AS ts",
        "substr(md5(concat('d', doc_id % 3)), 1, 8) AS digest8",
        "100 AS body_len",
    )
    p = _plan(warc_revisit(caps))
    assert p.count("Exchange") == 1, p


def test_title_audit_count_partial_aggregates(spark):
    """The duplicate-title count must partial-aggregate map-side and the
    join back must be an equi hash/broadcast join, never a cartesian."""
    from linkkchecker_net_spark.reports.seo import title_audit

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    pages = docs.selectExpr(
        "concat('http://h', doc_id % 3, '.test/p', doc_id) AS url",
        "concat('h', doc_id % 3) AS host",
        "concat('<title>T', doc_id % 7, '</title>') AS body",
    )
    p = _plan(title_audit(pages))
    assert "partial_count" in p, p
    assert "CartesianProduct" not in p, p


def test_reciprocal_links_semi_join_no_cartesian(spark):
    from linkkchecker_net_spark.pipeline.graph import reciprocal_links

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    edges = docs.selectExpr(
        "concat('h', doc_id % 10) AS src",
        "concat('h', (doc_id * 3 + 1) % 10) AS dst",
    )
    p = _plan(reciprocal_links(edges))
    assert "LeftSemi" in p, p
    assert "CartesianProduct" not in p, p


def test_session_r4_map_only_audits_carry_zero_exchanges(spark):
    """Every map-only operator added in this session must compile to a
    zero-exchange, zero-Python plan — one scan, codegen projections."""
    from linkkchecker_net_spark.kernels.httpmeta import vary_audit
    from linkkchecker_net_spark.kernels.microdata import microdata_stats
    from linkkchecker_net_spark.pipeline.text import (
        char_composition,
        gopher_quality,
        script_mix,
    )
    from linkkchecker_net_spark.reports.perf import (
        preload_audit,
        render_blocking_audit,
    )
    from linkkchecker_net_spark.reports.security import open_redirect_audit
    from linkkchecker_net_spark.reports.seo import (
        lazy_loading_audit,
        price_consistency,
        price_extract,
        tech_fingerprint,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    pages = docs.select(
        F.concat(F.lit("http://x/"), F.col("doc_id")).alias("url"),
        F.col("text").alias("body"),
    )
    resp = pages.select("url", F.col("body").alias("vary"))
    plans = {
        "gopher": _plan(gopher_quality(docs)),
        "charcomp": _plan(char_composition(docs)),
        "scriptmix": _plan(script_mix(docs)),
        "vary": _plan(vary_audit(resp)),
        "microdata": _plan(microdata_stats(pages)),
        "openredirect": _plan(open_redirect_audit(pages)),
        "renderblock": _plan(render_blocking_audit(pages)),
        "preload": _plan(preload_audit(pages)),
        "techfp": _plan(tech_fingerprint(pages)),
        "lazy": _plan(lazy_loading_audit(pages)),
        "price": _plan(price_extract(pages)),
        "priceconsist": _plan(price_consistency(pages)),
    }
    for name, p in plans.items():
        assert "Exchange" not in p, (name, p)
        assert "BatchEvalPython" not in p, (name, p)
        assert "ArrowEvalPython" not in p, (name, p)


def test_session_r4_rollups_partial_aggregate(spark):
    """The session's aggregation ops must partial-aggregate map-side
    (two HashAggregate levels around one Exchange per groupBy layer)."""
    from linkkchecker_net_spark.pipeline.dedup import cluster_size_stats
    from linkkchecker_net_spark.pipeline.text import length_bucket

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = _plan(length_bucket(docs))
    assert p.count("Exchange") == 1, p
    assert "partial" in p.lower(), p
    cl = docs.select("doc_id", (F.col("doc_id") % 7).alias("cluster_id"))
    p2 = _plan(cluster_size_stats(cl))
    assert p2.count("Exchange") == 2, p2  # cluster_id agg + size agg


def test_split_divergence_composes_lazily(spark):
    """r4 ADVICE: constructing split_divergence must NOT run a Spark job
    (the old version called vocab.count() eagerly, triggering a full
    token scan before the caller ever executed the result).  The joint
    vocab size now rides the plan as a 1-row broadcast aggregate."""
    from linkkchecker_net_spark.pipeline.curation import split_divergence

    docs = spark.createDataFrame(
        [(str(i), f"tok{i % 7} tok{i % 3} x") for i in range(40)],
        "doc_id string, text string",
    )
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    out = split_divergence(docs)          # construction: zero jobs
    after = set(tracker.getJobIdsForGroup(None))
    assert after == before, f"construction ran jobs: {sorted(after - before)}"
    rows = {r["split"]: r for r in out.collect()}   # execution still works
    assert set(rows) == {"val", "test"}


def test_host_concentration_windows_sit_on_host_table(spark):
    """r4 verdict item 7: host_concentration's Gini ranks/cumsums run in
    ONE partition by design — acceptable ONLY because their input is the
    host-aggregated table (docstring-bounded ≤10^7 rows at web scale),
    never the document stream.  This pins that shape: the single-partition
    exchange must sit ABOVE a partial-aggregated host count, so a refactor
    that windows the raw pages fails here.  (The range-partition + offset
    pattern W2 uses is the upgrade path if host cardinality ever grows.)"""
    from linkkchecker_net_spark.pipeline.reputation import host_concentration

    docs = spark.read.parquet(f"{SF}/documents.parquet").selectExpr(
        "concat('h', doc_id % 31) AS host"
    )
    p = _plan(host_concentration(docs))
    assert "Exchange SinglePartition" in p, p
    # the host count partial-aggregates BEFORE anything goes single-partition
    pre = p.split("Exchange SinglePartition", 1)[1]
    assert "partial_count" in pre, p
    # exactly one single-partition funnel feeds both window directions
    assert p.count("Exchange SinglePartition") <= 2, p


def test_url_blocklist_broadcasts_and_never_shuffles_pages(spark):
    """The blocklist gate is the cheapest filter per dropped byte ONLY
    if the page stream stays map-side: the domain list must broadcast
    (no shuffle of pages) and the substring scan must be codegen (no
    Python, no exchange)."""
    from linkkchecker_net_spark.pipeline.blocklist import url_blocklist

    docs = spark.read.parquet(f"{SF}/documents.parquet").selectExpr(
        "concat('http://h', doc_id % 13, '.test/p', doc_id) AS url",
        "concat('h', doc_id % 13, '.test') AS host",
    )
    bl = spark.createDataFrame([("h1.test",), ("h2.test",)], "domain string")
    p = _plan(url_blocklist(docs, bl, ["casino", "session="]))
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p
    assert "Python" not in p, p  # rules scan is a codegen array filter
    # the ONLY exchange allowed is the blocklist-side distinct, which
    # lives UNDER the BroadcastExchange (build side); the probe/page
    # subtree above it must be exchange-free
    probe_side = p.split("BroadcastExchange", 1)[0]
    assert "Exchange hashpartitioning" not in probe_side, p


def test_hashed_linear_model_broadcasts_weights_no_python(spark):
    """The model gate must serve like fastText at 100 TB: weight table
    broadcast (never a shuffled join of the gram stream against it),
    gram hashing pure codegen (no Python), per-(doc,bucket) counts
    partial-aggregated map-side."""
    from linkkchecker_net_spark.pipeline.model import (
        hashed_linear_classify,
        synth_linear_weights,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    w = synth_linear_weights(spark, 512, ("keep", "drop"))
    p = _plan(hashed_linear_classify(docs, w, 512))
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p
    assert "Python" not in p, p
    assert "partial_count" in p or "partial_sum" in p, p


def test_substring_dedup_window_is_per_doc_and_gram_count_partial(spark):
    """ExactSubstr at 100 TB: the run-merge window must partition by
    doc_id (per-doc partitions, never a global sort) and the gram count
    must partial-aggregate map-side (hot boilerplate grams collapse
    before the shuffle)."""
    import re

    from linkkchecker_net_spark.pipeline.dedup import substring_dedup_spans

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    p = _plan(substring_dedup_spans(docs, min_len=20, hash_key=True))
    assert "partial_count" in p, p
    for m in re.finditer(r"Window \[[^\]]*\], \[([^\]]*)\]", p):
        assert "doc_id" in m.group(1), p
    assert "Exchange SinglePartition" not in p, p


def test_session_r5_map_only_ops_carry_zero_exchanges(spark):
    """Round-5 map-only operators (caption gate, IDN host audit)
    compile to zero-exchange, zero-Python plans."""
    from linkkchecker_net_spark.kernels.captions import caption_quality
    from linkkchecker_net_spark.reports.security import idn_audit

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plans = {
        "caption_quality": _plan(
            caption_quality(docs.select(F.col("text").alias("caption")))
        ),
        "idn_audit": _plan(
            idn_audit(
                docs.select(
                    F.concat(F.lit("h"), F.col("doc_id")).alias("host")
                )
            )
        ),
    }
    for name, p in plans.items():
        assert "Exchange" not in p, (name, p)
        assert "BatchEvalPython" not in p, (name, p)
        assert "ArrowEvalPython" not in p, (name, p)


def test_session_r5_rollups_broadcast_their_totals(spark):
    """Round-5 share-of-total rollups (tld_risk, zipf_spectrum,
    domain_dup_rate, shard-skew) must broadcast the 1-row total into
    the per-group frame — never shuffle the group table against it —
    and partial-aggregate map-side."""
    from linkkchecker_net_spark.kernels.domains import tld_risk
    from linkkchecker_net_spark.pipeline.dedup import domain_dup_rate
    from linkkchecker_net_spark.pipeline.text import zipf_spectrum

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    urls = docs.select(
        F.concat(F.lit("http://h"), F.col("doc_id"), F.lit(".test/p"))
        .alias("url")
    )
    pages = docs.select(
        F.concat(F.lit("http://h"), (F.col("doc_id") % 5), F.lit(".test/p"))
        .alias("url"),
        "text",
    )
    for name, df in {
        "tld_risk": tld_risk(urls),
        "zipf_spectrum": zipf_spectrum(docs),
    }.items():
        p = _plan(df)
        assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p, (
            name, p,
        )
        assert "partial" in p.lower(), (name, p)
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, (
            name, p,
        )
    # domain_dup_rate carries no share-of-total: two partial-agg'd
    # groupBy layers (domain+digest, then domain), zero Python
    p = _plan(domain_dup_rate(pages))
    assert "partial" in p.lower(), p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p


def test_session_r5b_ops_plan_shapes(spark):
    """Round-5 additions: alt_svc is zero-exchange zero-Python codegen;
    hotlink_audit is a single partial-aggregated rollup with no Python;
    lsh_advisor's argmin is TakeOrderedAndProject (never a global-sort
    window); image_model_score broadcasts its 5-row weight table."""
    from linkkchecker_net_spark.kernels.httpmeta import alt_svc_audit
    from linkkchecker_net_spark.pipeline.dedup import lsh_advisor
    from linkkchecker_net_spark.pipeline.multimodal import image_model_score
    from linkkchecker_net_spark.fixtures.images import synth_rowgrad_corpus
    from linkkchecker_net_spark.reports.seo import hotlink_audit

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    resp = docs.select(
        F.col("doc_id").cast("string").alias("url"),
        F.lit('h3=":443"; ma=60').alias("alt_svc"),
    )
    p = _plan(alt_svc_audit(resp))
    assert "Exchange" not in p, p
    assert "Python" not in p and "ArrowEval" not in p, p

    refs = docs.select(
        F.concat(F.lit("http://a.test/"), F.col("doc_id")).alias("page_url"),
        F.concat(F.lit("http://b.test/"), F.col("doc_id")).alias("img_url"),
    )
    p = _plan(hotlink_audit(refs))
    assert "partial_count" in p or "HashAggregate" in p, p
    assert "Python" not in p and "ArrowEval" not in p, p

    p = _plan(lsh_advisor(docs, num_hashes=64, threshold=0.8))
    assert "TakeOrderedAndProject" in p, p
    assert "Window" not in p, p

    ids = docs.select(F.col("doc_id").alias("id")).limit(20)
    p = _plan(image_model_score(synth_rowgrad_corpus(spark, ids)))
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoop" in p, p


def test_label_propagation_round_has_no_window_no_cartesian(spark):
    """One LPA round = vote-count partial agg + struct-min argmax —
    key-partitioned exchanges only, no windows, no cartesian product."""
    from linkkchecker_net_spark.pipeline.graph import label_propagation

    nodes = spark.range(50).select(F.col("id"))
    edges = spark.range(49).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    out = label_propagation(nodes, edges, iterations=2)
    # localCheckpointed result: inspect the pre-checkpoint lineage by
    # rebuilding one round's plan shape instead
    votes = (
        edges.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .join(nodes.select(F.col("id").alias("src"),
                           F.col("id").alias("nl")), "src")
        .groupBy("dst", "nl")
        .agg(F.count("*").alias("c"))
        .groupBy("dst")
        .agg(F.min(F.struct((-F.col("c")).alias("nc"),
                            F.col("nl").alias("l")))["l"].alias("w"))
    )
    p = _plan(votes)
    assert "Window" not in p, p
    assert "CartesianProduct" not in p, p
    assert out.count() == 50
