"""pipeline.graph.pagerank — hand-checkable graphs + invariants."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from linkkchecker_net_spark.pipeline.graph import pagerank


def _pr(spark, node_ids, edge_pairs, **kw):
    nodes = spark.createDataFrame([(n,) for n in node_ids], "url string")
    edges = spark.createDataFrame(
        [(s, d) for s, d in edge_pairs], "src string, dst string"
    )
    rows = pagerank(nodes, edges, **kw).collect()
    return {r["url"]: r["pagerank"] for r in rows}


def test_cycle_is_uniform(spark):
    """On a k-cycle the uniform distribution is the exact fixed point —
    every iteration reproduces it, so 4 iterations must return 1/k."""
    ids = [f"n{i}" for i in range(4)]
    edges = [(ids[i], ids[(i + 1) % 4]) for i in range(4)]
    out = _pr(spark, ids, edges)
    for v in out.values():
        assert math.isclose(v, 0.25, rel_tol=1e-12)


def test_star_center_dominates_and_matches_numpy(spark):
    """Star (all leaves -> center, center dangling): compare against a
    straight numpy power iteration with the same drop-dangling variant."""
    leaves = [f"l{i}" for i in range(5)]
    ids = ["c"] + leaves
    edges = [(l, "c") for l in leaves]
    out = _pr(spark, ids, edges, iterations=3)

    n, d = len(ids), 0.85
    r = {u: 1.0 / n for u in ids}
    for _ in range(3):
        nxt = {u: (1.0 - d) / n for u in ids}
        nxt["c"] += d * sum(r[l] / 1.0 for l in leaves)
        r = nxt
    for u in ids:
        assert math.isclose(out[u], r[u], rel_tol=1e-12), u
    assert out["c"] > max(out[l] for l in leaves) * 3


def test_parallel_edges_count_toward_outdegree(spark):
    """a posts two links to b and one to c: b gets 2/3 of a's mass."""
    ids = ["a", "b", "c"]
    edges = [("a", "b"), ("a", "b"), ("a", "c")]
    out = _pr(spark, ids, edges, iterations=1)
    base = 0.15 / 3
    assert math.isclose(out["b"], base + 0.85 * (1 / 3) * (2 / 3), rel_tol=1e-12)
    assert math.isclose(out["c"], base + 0.85 * (1 / 3) * (1 / 3), rel_tol=1e-12)


def test_empty_graph(spark):
    nodes = spark.createDataFrame([], "url string")
    edges = spark.createDataFrame([], "src string, dst string")
    assert pagerank(nodes, edges).count() == 0


def test_anchor_extraction_handles_markup():
    from linkkchecker_net_spark.kernels.anchortext import extract_anchor_texts

    html = (
        '<a href="/a">foo <b>bar</b></a>'
        "<a href='/b'>x &amp; y</a>"
        '<a href="/c">first<a href="/d">implicit close'
        "<a>no href — skipped</a>"
        '<a href="/e">  spaced\n\ttext  </a>'
    )
    got = extract_anchor_texts(html.encode("utf-8"))
    assert got == [
        ("/a", "foo bar"),
        ("/b", "x & y"),
        ("/c", "first"),
        ("/d", "implicit close"),  # dangling anchor emitted at EOF
        ("/e", "spaced text"),
    ]
    assert extract_anchor_texts(None) == []
    assert extract_anchor_texts(b"") == []


def test_anchor_corpus_cap_keeps_count_exact(spark):
    from linkkchecker_net_spark.pipeline.graph import anchor_corpus

    rows = [("u1", f"t{i}") for i in range(10)] + [("u2", "only")]
    an = spark.createDataFrame(rows, "dst string, text string")
    out = {
        r["url"]: r for r in anchor_corpus(an, cap_per_target=3).collect()
    }
    assert out["u1"]["n_anchors"] == 10  # count is over ALL anchors
    assert len(out["u1"]["anchor_blob"].split(" ")) == 3  # blob is capped
    assert out["u2"]["anchor_blob"] == "only"


def test_hits_matches_reference_iteration(spark, new_cached_rdds):
    """Directory page linking to 3 endorsed targets: compare hub/authority
    against a straight dict-based replication of the same L1-normalized
    half-steps; no cached relation outlives the call."""
    from linkkchecker_net_spark.pipeline.graph import hits

    ids = ["dir", "p1", "p2", "p3", "stray"]
    edge_pairs = [("dir", "p1"), ("dir", "p2"), ("dir", "p3"), ("p1", "p2")]
    nodes = spark.createDataFrame([(n,) for n in ids], "url string")
    edges = spark.createDataFrame(edge_pairs, "src string, dst string")
    got = {
        r["url"]: (r["hub"], r["authority"])
        for r in hits(nodes, edges, iterations=2).collect()
    }

    h = {u: 1.0 for u in ids}
    a = {}
    for _ in range(2):
        a = {}
        for s, d in edge_pairs:
            a[d] = a.get(d, 0.0) + h.get(s, 0.0)
        sa = sum(a.values())
        a = {k: v / sa for k, v in a.items()}
        h = {}
        for s, d in edge_pairs:
            h[s] = h.get(s, 0.0) + a[d]
        sh = sum(h.values())
        h = {k: v / sh for k, v in h.items()}
    for u in ids:
        assert math.isclose(got[u][0], h.get(u, 0.0), rel_tol=1e-12, abs_tol=1e-15), u
        assert math.isclose(got[u][1], a.get(u, 0.0), rel_tol=1e-12, abs_tol=1e-15), u
    assert got["dir"][0] > got["p1"][0]  # the directory is the top hub
    assert got["stray"] == (0.0, 0.0)
    assert new_cached_rdds() == []


def test_trustrank_spam_cluster_scores_zero(spark):
    """Personalized teleport: a link-spam clique unreachable from the
    trusted seed gets exactly 0 mass; trusted-reachable pages don't."""
    ids = ["seed", "good", "spam1", "spam2"]
    edges = [
        ("seed", "good"),
        ("spam1", "spam2"),
        ("spam2", "spam1"),
        ("spam1", "good"),  # spam linking OUT doesn't launder mass IN
    ]
    nodes = spark.createDataFrame([(n,) for n in ids], "url string")
    e = spark.createDataFrame(edges, "src string, dst string")
    t = spark.createDataFrame([("seed",)], "url string")
    out = {
        r["url"]: r["pagerank"]
        for r in pagerank(nodes, e, iterations=4, teleport=t).collect()
    }
    assert out["spam1"] == 0.0 and out["spam2"] == 0.0
    assert out["seed"] > 0 and out["good"] > 0
    # classic pagerank by contrast gives the clique teleport mass
    classic = {
        r["url"]: r["pagerank"]
        for r in pagerank(nodes, e, iterations=4).collect()
    }
    assert classic["spam1"] > 0


def test_trustrank_empty_teleport_raises(spark):
    nodes = spark.createDataFrame([("a",)], "url string")
    e = spark.createDataFrame([], "src string, dst string")
    t = spark.createDataFrame([], "url string")
    cache = spark._jsparkSession.sharedState().cacheManager()
    before = cache.cachedData().size()
    with pytest.raises(ValueError):
        pagerank(nodes, e, teleport=t)
    # the raise comes before the edge table is persisted, so no cache
    # entry is left registered behind it
    assert cache.cachedData().size() == before


def test_priority_from_rank_log_buckets(spark):
    from linkkchecker_net_spark.pipeline.graph import priority_from_rank

    pr = spark.createDataFrame(
        [("a", 0.4), ("b", 0.2), ("c", 0.1), ("d", 0.4 / 2**70), ("e", 0.3)],
        "url string, pagerank double",
    )
    out = {r["url"]: r["priority"] for r in priority_from_rank(pr).collect()}
    assert out == {"a": 0, "b": 1, "c": 2, "d": 63, "e": 0}  # d clamps


def test_pagerank_priority_drives_politeness_window(spark):
    """Loop closure: seeds built from PageRank put the high-rank URL in
    the first politeness batch; the low-rank URL carries over.  Also the
    first engine-level pin of split_politeness's priority-first ordering."""
    from linkkchecker_net_spark.engine.epoch import split_politeness
    from linkkchecker_net_spark.pipeline.graph import pagerank_seeds

    # star + chain: everyone links to hub; spoke pages link onward
    ids = ["hub"] + [f"s{i}" for i in range(4)]
    urls = {n: f"http://one.test/{n}" for n in ids}
    nodes = spark.createDataFrame([(u,) for u in urls.values()], "url string")
    edges = spark.createDataFrame(
        [(urls[f"s{i}"], urls["hub"]) for i in range(4)]
        + [(urls[f"s{i}"], urls[f"s{(i + 1) % 4}"]) for i in range(4)],
        "src string, dst string",
    )
    seeds = pagerank_seeds(pagerank(nodes, edges))
    assert set(seeds.columns) == {"idx", "seed_url", "priority"}
    pri = {r["seed_url"]: r["priority"] for r in seeds.collect()}
    assert pri[urls["hub"]] == 0
    assert all(pri[urls[f"s{i}"]] > 0 for i in range(4))

    frontier = seeds.select(
        F.col("seed_url").alias("url"),
        F.lit("one.test").alias("host"),
        "priority",
        F.lit(0).alias("crawl_depth"),
        F.monotonically_increasing_id().alias("discovery_rank"),
    )
    robots = spark.createDataFrame(
        [("one.test", 1)], "host string, budget int"
    )
    batch, carry = split_politeness(frontier, robots, default_budget=None)
    assert [r["url"] for r in batch.collect()] == [urls["hub"]]
    assert carry.count() == 4


def test_rank_mass_bounded(spark):
    """Drop-dangling variant: total mass never exceeds 1 and every node
    keeps at least the teleport floor."""
    ids = [f"n{i}" for i in range(6)]
    edges = [(ids[i], ids[(i * 3 + 1) % 6]) for i in range(4)]  # n4,n5 dangle
    out = _pr(spark, ids, edges, iterations=5)
    assert sum(out.values()) <= 1.0 + 1e-9
    floor = 0.15 / 6
    assert all(v >= floor - 1e-12 for v in out.values())


# ---------------------------------------------------------------------------
# resolve_redirects — pointer-doubling chain resolution
# ---------------------------------------------------------------------------


def _rr(spark, edge_pairs, **kw):
    from linkkchecker_net_spark.pipeline.graph import resolve_redirects

    edges = spark.createDataFrame(
        [(s, d) for s, d in edge_pairs], "src string, dst string"
    )
    rows = resolve_redirects(edges, **kw).collect()
    return {r["url"]: (r["final_url"], r["hops"], r["terminal"]) for r in rows}


def test_redirect_chain_resolves_with_exact_hops(spark):
    # a -> b -> c -> T : every chain member resolves to T with its own
    # remaining-hop count
    out = _rr(spark, [("a", "b"), ("b", "c"), ("c", "T")])
    assert out["a"] == ("T", 3, "resolved")
    assert out["b"] == ("T", 2, "resolved")
    assert out["c"] == ("T", 1, "resolved")


def test_redirect_cycle_and_feeder_classified_loop(spark):
    # x <-> y is a 2-cycle; f feeds INTO the cycle — all three are loops
    out = _rr(spark, [("x", "y"), ("y", "x"), ("f", "x")])
    for u in ("x", "y", "f"):
        assert out[u] == (None, None, "loop"), u


def test_redirect_self_loop(spark):
    out = _rr(spark, [("s", "s"), ("a", "s")])
    assert out["s"] == (None, None, "loop")
    assert out["a"] == (None, None, "loop")


def test_redirect_long_chain_beyond_one_doubling(spark):
    # chain of 9 needs 4 doubling rounds (2^4=16 >= 9); rounds are sized
    # from the edge count so this must resolve exactly
    n = 9
    edges = [(f"u{i}", f"u{i+1}") for i in range(n)]  # u0->...->u9(terminal)
    out = _rr(spark, edges)
    for i in range(n):
        assert out[f"u{i}"] == ("u9", n - i, "resolved"), i


def test_redirect_duplicate_src_keeps_min_dst(spark):
    # functional-graph contract: duplicate Location rows collapse keep-min
    out = _rr(spark, [("a", "z"), ("a", "b")])
    assert out["a"] == ("b", 1, "resolved")


def test_redirect_empty_edges(spark):
    out = _rr(spark, [])
    assert out == {}


# ---------------------------------------------------------------------------
# host_linkgraph — host-level rollup
# ---------------------------------------------------------------------------


def test_host_linkgraph_rollup_and_intra_flag(spark):
    from linkkchecker_net_spark.pipeline.graph import host_linkgraph

    edges = spark.createDataFrame(
        [
            ("http://a.test/1", "http://a.test/2"),
            ("http://a.test/2", "http://a.test/1"),
            ("http://a.test/1", "http://b.test/x"),
            ("mailto:u@a.test", "http://b.test/x"),  # no authority -> dropped
        ],
        "src string, dst string",
    )
    rows = host_linkgraph(edges).collect()
    got = {(r["src_host"], r["dst_host"]): (r["links"], r["intra"]) for r in rows}
    assert got == {
        ("a.test", "a.test"): (2, True),
        ("a.test", "b.test"): (1, False),
    }


# ---------------------------------------------------------------------------
# pagination_chains — pointer-doubling chain assembly
# ---------------------------------------------------------------------------

from linkkchecker_net_spark.pipeline.graph import pagination_chains  # noqa: E402


def _chains(spark, page_ids, edge_pairs, **kw):
    pages = spark.createDataFrame([(p,) for p in page_ids], "url string")
    edges = spark.createDataFrame(
        [(s, d) for s, d in edge_pairs], "src string, dst string"
    )
    rows = pagination_chains(pages, edges, **kw).collect()
    return {r["url"]: (r["chain_head"], r["pos"], r["chain_len"]) for r in rows}


def test_long_chain_positions_exact(spark):
    """A 9-page chain (forces >3 doubling rounds incl. a checkpoint) gets
    head=p0 and pos=index for every member."""
    ids = [f"p{i}" for i in range(9)]
    edges = [(ids[i], ids[i + 1]) for i in range(8)]
    out = _chains(spark, ids, edges, checkpoint_every=2)
    for i, u in enumerate(ids):
        assert out[u] == ("p0", i, 9)


def test_singletons_and_multiple_chains(spark):
    """Pages with no rel=next are 1-length chains; disjoint chains don't
    interfere."""
    ids = ["a1", "a2", "b1", "b2", "b3", "solo"]
    edges = [("a1", "a2"), ("b1", "b2"), ("b2", "b3")]
    out = _chains(spark, ids, edges)
    assert out["solo"] == ("solo", 0, 1)
    assert out["a2"] == ("a1", 1, 2)
    assert out["b3"] == ("b1", 2, 3)
    assert out["b1"] == ("b1", 0, 3)


def test_duplicate_next_edges_collapse_keep_min(spark):
    """Functional cleanup: conflicting rel=next targets collapse to the
    lexicographic min on BOTH sides (src and dst), deterministically."""
    ids = ["h", "x", "y"]
    # h claims two successors; both x and y claim h as predecessor target
    edges = [("h", "x"), ("h", "y")]
    out = _chains(spark, ids, edges)
    assert out["x"] == ("h", 1, 2)
    assert out["y"] == ("y", 0, 1)  # dropped edge -> y is a singleton


def test_no_edges_all_singletons(spark):
    ids = ["q1", "q2"]
    out = _chains(spark, ids, [])
    assert out == {"q1": ("q1", 0, 1), "q2": ("q2", 0, 1)}


# --------------------------------------------------------------- anchor_spam
def _spam(spark, rows, **kw):
    from linkkchecker_net_spark.pipeline.graph import anchor_spam

    an = spark.createDataFrame(
        rows, "src string, dst string, text string"
    )
    return {r["url"]: r.asDict() for r in anchor_spam(an, **kw).collect()}


def test_anchor_spam_link_farm_flagged(spark):
    """10 identical anchors from 2 hosts -> ppm concentration maxes out,
    integer score 1000, flagged; an organic target with diverse anchors
    and hosts stays below threshold."""
    farm = [
        (f"http://farm-{i % 2}.test/p/{i}", "http://victim.test/", "cheap pills")
        for i in range(10)
    ]
    organic = [
        (f"http://site-{i}.test/a", "http://good.test/", f"text {i}")
        for i in range(5)
    ]
    out = _spam(spark, farm + organic)
    v = out["http://victim.test/"]
    assert v["n_anchors"] == 10 and v["n_texts"] == 1 and v["n_hosts"] == 2
    assert v["top_text_ppm"] == 1_000_000
    assert v["top_host_ppm"] == 500_000  # 5/10 per host
    assert v["spam_score"] == 500 + 250 == 750
    g = out["http://good.test/"]
    assert g["n_texts"] == 5 and g["n_hosts"] == 5
    assert g["top_text_ppm"] == 200_000 and g["spam_score"] == 200
    assert not g["spam"]
    # default threshold 900: single-host farm trips it, two-host doesn't
    assert not v["spam"]
    one_host = [
        (f"http://farm.test/p/{i}", "http://victim2.test/", "buy now")
        for i in range(10)
    ]
    out2 = _spam(spark, one_host)
    v2 = out2["http://victim2.test/"]
    assert v2["spam_score"] == 1000 and v2["spam"]


def test_anchor_spam_min_anchors_gate(spark):
    """Perfect concentration at low volume is NEVER flagged — two
    identical anchors is normal linking, not a farm."""
    rows = [
        ("http://a.test/x", "http://t.test/", "home"),
        ("http://a.test/y", "http://t.test/", "home"),
    ]
    out = _spam(spark, rows)
    t = out["http://t.test/"]
    assert t["spam_score"] == 1000 and not t["spam"]
    # lowering the volume gate flips it
    out2 = _spam(spark, rows, min_anchors=2)
    assert out2["http://t.test/"]["spam"]


def test_degree_hist_buckets_exact(spark):
    from linkkchecker_net_spark.pipeline.graph import degree_hist

    # out-degrees: a->3 edges (bucket 2, hi 4), b->1 (bucket 0, hi 1)
    # in-degrees: x<-2 (bucket 1, hi 2), y<-1, z<-1 (bucket 0 x2)
    edges = [("a", "x"), ("a", "x"), ("a", "y"), ("b", "z")]
    df = spark.createDataFrame(edges, "src string, dst string")
    out = {(r["direction"], r["bucket"]): r for r in degree_hist(df).collect()}
    assert out[("out", 2)]["bucket_hi"] == 4
    assert out[("out", 2)]["n_nodes"] == 1
    assert out[("out", 0)]["n_nodes"] == 1
    assert out[("in", 1)]["bucket_hi"] == 2 and out[("in", 1)]["n_nodes"] == 1
    assert out[("in", 0)]["n_nodes"] == 2


def test_host_concentration_gini_bounds(spark):
    from linkkchecker_net_spark.pipeline.reputation import (
        fetch_fairness,
        host_concentration,
    )

    # perfectly equal: gini 0, jain 1.0
    eq = spark.createDataFrame(
        [("a",), ("a",), ("b",), ("b",)], "host string"
    )
    rows = host_concentration(eq, top_k=1).collect()
    assert all(r["gini_ppm"] == 0 for r in rows)
    fair = fetch_fairness(eq).collect()[0]
    assert fair["jain_ppm"] == 1_000_000
    assert fair["max_host_share_ppm"] == 500_000
    # total skew: one host holds everything but one doc
    sk = spark.createDataFrame(
        [("a",)] * 9 + [("b",)], "host string"
    )
    srow = {r["host"]: r for r in host_concentration(sk, top_k=1).collect()}
    assert srow["a"]["in_top_k"] is True and srow["b"]["in_top_k"] is False
    assert srow["a"]["share_ppm"] == 900_000
    assert srow["a"]["cum_share_ppm"] == 900_000
    assert srow["b"]["cum_share_ppm"] == 1_000_000
    # gini = (2*(1*1+2*9) - 3*10) / (2*10) = 8/20 = 0.4
    assert srow["a"]["gini_ppm"] == 400_000
    sfair = fetch_fairness(sk).collect()[0]
    # jain = 100 / (2*82) = 0.6097...
    assert sfair["jain_ppm"] == 609_756


def test_host_components_chain_ring_pair(spark):
    """A 4-host chain, a 3-host ring (cycle safety), and an isolated
    pair — every host appears (centers included), labels are the
    lexicographic component minimum, sizes are exact."""
    from linkkchecker_net_spark.pipeline.graph import host_components

    edges = spark.createDataFrame(
        [
            ("a", "b"), ("b", "c"), ("c", "d"),          # chain
            ("r1", "r2"), ("r2", "r3"), ("r3", "r1"),    # ring
            ("x", "y"), ("y", "x"),                      # pair, both dirs
            ("z", "z"),                                  # self-loop only
        ],
        "src_host string, dst_host string",
    )
    out = {r["host"]: r for r in host_components(edges).collect()}
    assert {h for h in out} == {"a", "b", "c", "d", "r1", "r2", "r3", "x", "y"}
    assert all(out[h]["component"] == "a" for h in "abcd")
    assert out["a"]["component_size"] == 4
    assert all(out[h]["component"] == "r1" for h in ("r1", "r2", "r3"))
    assert out["r1"]["component_size"] == 3
    assert out["x"]["component"] == "x" and out["x"]["component_size"] == 2
    assert "z" not in out  # self-loops carry no component information


def test_label_propagation_two_triangles(spark):
    """Hand-traced 4-round sync LPA: two triangles joined by one bridge
    settle to communities 1 and 3 (the trace crosses the bridge once —
    node 3's label seeds triangle two, then each core re-converges);
    an isolated node keeps its own label."""
    from linkkchecker_net_spark.pipeline.graph import label_propagation

    nodes = spark.createDataFrame(
        [(1,), (2,), (3,), (10,), (11,), (12,), (99,)], "id long"
    )
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (10, 11), (10, 12), (11, 12), (3, 10)],
        "src long, dst long",
    )
    out = {
        r["id"]: r["community"]
        for r in label_propagation(nodes, edges, iterations=4).collect()
    }
    assert out == {1: 1, 2: 1, 3: 1, 10: 3, 11: 3, 12: 3, 99: 99}


def test_kcore_cascade_rounds(spark):
    """Leaf peels round 1, its degree-3 holder follows round 2, the
    triangle+holder core survives k=2: the multi-round cascade that
    distinguishes peeling from a one-shot degree filter."""
    from linkkchecker_net_spark.pipeline.graph import kcore

    nodes = spark.createDataFrame(
        [(1,), (2,), (3,), (4,), (5,)], "id long"
    )
    # triangle 1-2-3; node 4 hangs off 1 and 2 (deg 3 w/ leaf), leaf 5
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (4, 1), (4, 2), (4, 5)],
        "src long, dst long",
    )
    out = {
        r["id"]: (r["in_kcore"], r["dropped_round"])
        for r in kcore(nodes, edges, k=3, rounds=4).collect()
    }
    # round 1: leaf 5 (deg 1) and triangle corner 3 (deg 2) peel;
    # round 2: the deg-3 survivors 1, 2, 4 lose their peeled
    # neighbors and cascade out — no 3-core in this graph
    assert out[5] == (False, 1) and out[3] == (False, 1)
    assert out[1] == (False, 2) and out[2] == (False, 2)
    assert out[4] == (False, 2)
    # with k=2 the triangle+holder survive
    out2 = {
        r["id"]: r["in_kcore"]
        for r in kcore(nodes, edges, k=2, rounds=4).collect()
    }
    assert out2 == {1: True, 2: True, 3: True, 4: True, 5: False}


def test_asset_projection_hub_cap_and_weights(spark):
    """Shared assets project to weighted edges; a hub asset above the
    fanout cap contributes nothing (the jquery guard); unique assets
    produce no edges."""
    from linkkchecker_net_spark.pipeline.graph import asset_projection

    rows = [
        ("a", "s1"), ("b", "s1"), ("a", "s2"), ("b", "s2"), ("c", "s2"),
        ("a", "hub"), ("b", "hub"), ("c", "hub"), ("d", "hub"),
        ("d", "solo"),
        ("a", "s1"),  # duplicate membership collapses
    ]
    df = spark.createDataFrame(rows, "host string, asset_digest string")
    out = {
        (r["host_a"], r["host_b"]): r["shared_assets"]
        for r in asset_projection(df, max_fanout=3).collect()
    }
    assert out == {("a", "b"): 2, ("a", "c"): 1, ("b", "c"): 1}
