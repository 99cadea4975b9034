"""Link-graph analytics over the crawl's parsed edge set.

The reference engine keeps no global link-graph state — its scan loop is
per-page (`SpiderEngine/Engine.cs:160-240` visits, extracts, enqueues).
At web scale the frontier's per-host priority queue (north star: "keyed by
(host_hash, priority, crawl_depth)") needs a priority SIGNAL; PageRank
over the crawled anchor graph is the canonical one.  This module computes
it Spark-first from the same parse output the epoch loop already emits.

Scale design (10^10-node graph):
  * the edge table is joined with out-degrees ONCE and hash-partitioned by
    ``src`` before the loop — every iteration's rank join lands on that
    cached partitioning, so only the (small, 2-column) rank table moves
    per iteration;
  * each iteration is one join + one partial-aggregated ``groupBy(dst)``:
    the map-side combine bounds shuffle rows by distinct-dst-per-partition,
    not by edge count;
  * dangling-node mass is DROPPED each iteration (a documented, widely used
    variant): redistributing it uniformly needs one extra metadata-sized
    scalar aggregation per iteration and makes the independent-oracle SQL
    needlessly stateful — the fixed-point ordering is unaffected for
    ranking use;
  * rank lineage grows linearly with iterations — ``checkpoint_every``
    truncates it periodically with ``localCheckpoint`` (single-box / RDD-
    replicated; on multi-executor clusters with executor churn prefer a
    reliable checkpoint dir, same trade-off as engine.epoch.run_epoch).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    node_col: str = "url",
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 4,
    damping: float = 0.85,
    checkpoint_every: int = 0,
    materialize: bool = True,
    teleport: DataFrame | None = None,
) -> DataFrame:
    """Damped power-iteration PageRank — optionally PERSONALIZED.

    ``nodes`` — one row per graph node (``node_col``); ``edges`` — one row
    per directed edge (``src_col`` → ``dst_col``), duplicates = parallel
    edges and count toward out-degree, exactly like repeated hrefs on a
    page.  Edges whose ``dst`` is outside ``nodes`` leak their mass (same
    treatment as dangling nodes); callers that care semi-join first.

    rank_{t+1}(v) = (1-d)*t(v) + d * sum_{u->v} rank_t(u)/outdeg(u)

    ``teleport=None`` — classic PageRank, t(v) = 1/N uniform.
    ``teleport=<nodes subset>`` — TrustRank (Gyongyi 2004): t(v) = 1/|T|
    on the trusted set, 0 elsewhere, and rank_0 = t; mass can only enter
    the graph through the whitelist, so link-spam clusters unreachable
    from trusted seeds score ~0.  The crawl's own seed list is the natural
    whitelist.  Same plan physics: the flag joins into the pinned node
    table once, the loop is unchanged.

    Returns (node_col, pagerank).  ``materialize=True`` (default) eagerly
    localCheckpoints the final rank table (N rows x 16 bytes — the output
    itself) so the loop's persisted inputs can be released before return.
    """
    n = nodes.count()  # metadata-sized action (one long)
    if n == 0:
        return nodes.select(
            F.col(node_col), F.lit(0.0).alias("pagerank")
        )
    if teleport is not None:
        n_t = teleport.count()  # metadata-sized
        if n_t == 0:
            raise ValueError("teleport set is empty")
    deg = edges.groupBy(src_col).agg(
        F.count("*").cast("double").alias("outdeg")
    )
    ew = (
        edges.join(deg, src_col)
        .select(
            F.col(src_col).alias("src"),
            F.col(dst_col).alias("dst"),
            "outdeg",
        )
        .repartition("src")
        .persist()
    )
    pinned = nodes.select(F.col(node_col).alias("id"))
    if teleport is not None:
        pinned = pinned.join(
            teleport.select(F.col(node_col).alias("id"))
            .distinct()
            .withColumn("_t", F.lit(True)),
            "id",
            "left",
        ).select(
            "id",
            F.when(F.col("_t"), F.lit(1.0 / n_t))
            .otherwise(F.lit(0.0))
            .alias("t"),
        )
    else:
        pinned = pinned.select("id", F.lit(1.0 / n).alias("t"))
    pinned_nodes = pinned.repartition("id").persist()
    ranks = pinned_nodes.select("id", F.col("t").alias("rank"))
    for it in range(iterations):
        contrib = (
            ew.join(ranks.select("id", "rank").withColumnRenamed("id", "src"), "src")
            .select("dst", (F.col("rank") / F.col("outdeg")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("m"))
        )
        ranks = pinned_nodes.join(
            contrib.withColumnRenamed("dst", "id"), "id", "left"
        ).select(
            "id",
            (
                F.lit(1.0 - damping) * F.col("t")
                + F.lit(damping) * F.coalesce(F.col("m"), F.lit(0.0))
            ).alias("rank"),
        )
        if checkpoint_every and (it + 1) % checkpoint_every == 0:
            ranks = ranks.localCheckpoint(eager=False)
    out = ranks.select(
        F.col("id").alias(node_col), F.col("rank").alias("pagerank")
    )
    if materialize:
        out = out.localCheckpoint()
        ew.unpersist()
        pinned_nodes.unpersist()
    return out


def hits(
    nodes: DataFrame,
    edges: DataFrame,
    node_col: str = "url",
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 2,
) -> DataFrame:
    """HITS (Kleinberg 1999) hubs & authorities, L1-normalized per
    half-step — the complement to PageRank for seed discovery: a good
    hub is a directory page whose outlinks are worth enqueueing even
    when the hub itself ranks low.

        a_k(v) = sum_{u->v} h_{k-1}(u) / ||.||_1
        h_k(u) = sum_{u->v} a_k(v)     / ||.||_1

    Scale: TWO persisted copies of the edge table, hash-partitioned by
    src and by dst — each half-step's join reuses the matching
    partitioning so edges never re-shuffle; the normalizing sums are
    1-row aggregates broadcast back (no driver collect, no global
    window).  Nodes without in-/out-links get 0 (left-join coalesce).

    Returns (node_col, hub, authority).
    """
    es = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .repartition("src")
        .persist()
    )
    ed = es.repartition("dst").persist()
    h = nodes.select(F.col(node_col).alias("id"), F.lit(1.0).alias("h"))
    a = None
    # each half-step table is PERSISTED before it is read twice (once by
    # its 1-row normalizer aggregate — a broadcast subtree that executes
    # as its own job — and once by the join that consumes it).  Without
    # this, neither read can reuse the other's work, so every half-step
    # re-runs the entire preceding chain: the base edge join is
    # recomputed ~2^(2*iterations) times (measured 10 s on a 8k-edge
    # graph at 2 iterations; 1.5 s persisted).  The tables are N rows ×
    # 16 bytes — rank-table-sized, never edge-sized.
    half_steps = []
    try:
        for _ in range(iterations):
            ar = (
                es.join(
                    h.select(F.col("id").alias("src"), F.col("h").alias("hv")),
                    "src",
                )
                .groupBy("dst")
                .agg(F.sum("hv").alias("v"))
                .persist()
            )
            half_steps.append(ar)
            a = ar.crossJoin(F.broadcast(ar.agg(F.sum("v").alias("s")))).select(
                F.col("dst").alias("id"), (F.col("v") / F.col("s")).alias("a")
            )
            hr = (
                ed.join(
                    a.select(F.col("id").alias("dst"), F.col("a").alias("av")),
                    "dst",
                )
                .groupBy("src")
                .agg(F.sum("av").alias("v"))
                .persist()
            )
            half_steps.append(hr)
            h = hr.crossJoin(F.broadcast(hr.agg(F.sum("v").alias("s")))).select(
                F.col("src").alias("id"), (F.col("v") / F.col("s")).alias("h")
            )
        out = (
            nodes.select(F.col(node_col).alias("id"))
            .join(h, "id", "left")
            .join(a, "id", "left")
            .select(
                F.col("id").alias(node_col),
                F.coalesce("h", F.lit(0.0)).alias("hub"),
                F.coalesce("a", F.lit(0.0)).alias("authority"),
            )
        )
        return out.localCheckpoint()
    finally:
        es.unpersist()
        ed.unpersist()
        for df in half_steps:
            df.unpersist()


def priority_from_rank(
    pr: DataFrame, node_col: str = "url", buckets: int = 64
) -> DataFrame:
    """Map PageRank to the frontier's integer ``priority`` (0 = crawl
    first — the politeness window's leading sort key,
    engine/epoch.py:99 ``split_politeness``).

    priority = clamp(floor(log2(max_rank / rank)), 0, buckets-1): each
    halving of rank costs one level, so the head of the rank distribution
    separates finely while the tail collapses — the shape a recrawl
    scheduler wants.  Scale: ONE scalar max aggregation (metadata-sized),
    then pure map-side codegen — no global sort/ntile window.
    """
    mx = pr.agg(F.max("pagerank")).first()[0]  # one double
    if not mx or mx <= 0:
        return pr.select(node_col, F.lit(0).alias("priority"))
    lvl = F.floor(F.log2(F.lit(float(mx)) / F.col("pagerank")))
    p = F.least(F.lit(buckets - 1), F.greatest(F.lit(0), lvl)).cast("int")
    return pr.select(
        node_col, F.coalesce(p, F.lit(buckets - 1)).alias("priority")
    )


def pagerank_seeds(
    pr: DataFrame, node_col: str = "url", buckets: int = 64
) -> DataFrame:
    """Recrawl seed list (idx, seed_url, priority) for
    ``CrawlDriver.init_seeds_df`` — the loop-closure the north star names:
    the per-host priority queue consumes PageRank from the previous
    crawl's parsed graph.  idx = xxhash64(url): deterministic keep-first
    tie-break key, no global ordering pass."""
    pri = priority_from_rank(pr, node_col=node_col, buckets=buckets)
    return pri.select(
        F.xxhash64(node_col).alias("idx"),
        F.col(node_col).alias("seed_url"),
        "priority",
    )


def anchor_corpus(
    anchors: DataFrame,
    dst_col: str = "dst",
    text_col: str = "text",
    cap_per_target: int | None = None,
) -> DataFrame:
    """Per-target anchor-text corpus: (url, n_anchors, anchor_blob).

    ``anchors`` — one row per parsed ``<a>`` (resolved target + anchor
    text).  The blob is the target's anchor texts sorted and
    space-joined — a deterministic scalar (oracle-hashable and directly
    usable as a retrieval/training field).

    Scale: one partial-aggregated ``groupBy(dst)``.  The skew hazard is
    real — home pages collect 10^8 in-links — so ``cap_per_target`` keeps
    only the k deterministically-first anchors per target (ranked by
    ``xxhash64(dst, text)``, a seeded sample) via a window that Spark 4
    push-downs as a partial group-limit; ``n_anchors`` still counts ALL
    anchors (cheap count agg, no list state).
    """
    from pyspark.sql import Window

    base = anchors.select(
        F.col(dst_col).alias("url"), F.col(text_col).alias("text")
    )
    counts = base.groupBy("url").agg(F.count("*").alias("n_anchors"))
    kept = base
    if cap_per_target is not None:
        w = Window.partitionBy("url").orderBy(
            F.xxhash64("url", "text"), "text"
        )
        kept = (
            base.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= cap_per_target)
            .drop("_rn")
        )
    blobs = kept.groupBy("url").agg(
        F.concat_ws(" ", F.sort_array(F.collect_list("text"))).alias(
            "anchor_blob"
        )
    )
    return counts.join(blobs, "url")


def resolve_redirects(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    checkpoint_every: int = 4,
) -> DataFrame:
    """Resolve redirect (Location) chains to their terminal URL by pointer
    doubling — O(log L) shuffle rounds for chains of length L, never a
    per-hop driver loop.

    The reference engine follows redirects transparently inside a single
    HttpWebResponse (`SpiderEngine/Engine.cs` fetch path), so chains are
    invisible to it; at crawl scale the Location edges are data, and a
    frontier needs them resolved in bulk: a fetch of N URLs that are all
    hop-1 of the same chain is N wasted fetches.

    ``edges`` — one row per redirecting URL with its Location target.  A
    redirect graph is functional (out-degree 1); duplicate src rows are
    collapsed keep-min(dst) for determinism.

    Rounds double the covered hop count: f_{k+1}(x) = f_k(f_k(x)), so
    ceil(log2(#edges)) + 1 rounds cover every acyclic chain (a chain can
    visit each redirect node at most once).  Rows whose cursor still
    points at a redirecting URL after that are cycle members or chains
    that ENTER a cycle — classified 'loop', final_url/hops NULL (a loop
    has no terminal).  Each round is one self-join on the cursor key over
    the REDIRECT subgraph only (tiny relative to the corpus — 3xx rows);
    lineage is truncated every ``checkpoint_every`` rounds.

    Returns (url, final_url, hops, terminal in {'resolved','loop'}).
    """
    e = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .groupBy("src")
        .agg(F.min("dst").alias("dst"))
    )
    out_schema = lambda df: df.select(  # noqa: E731
        F.col("src").alias("url"),
        F.col("final_url"),
        F.col("hops"),
        F.col("terminal"),
    )
    # checkpoint the collapsed edge state FIRST; the row count, the
    # interior-size round bound, and the terminal-classification key set
    # below all read the checkpoint instead of re-running the groupBy
    # (previously e was recomputed by the count, the loop seed, and the
    # srcs join)
    f0 = e.select(
        "src", F.col("dst").alias("cur"), F.lit(1).cast("long").alias("hops")
    ).localCheckpoint()
    f = f0
    n = f0.count()  # metadata-sized action over the checkpoint (one long)
    if n == 0:
        return out_schema(
            f0.select(
                "src",
                F.lit(None).cast("string").alias("final_url"),
                F.lit(None).cast("long").alias("hops"),
                F.lit(None).cast("string").alias("terminal"),
            )
        )
    # round bound from the measured chain-interior size, not the edge
    # count: an acyclic chain of L edges has L-1 interior nodes (a dst
    # that redirects again), so ceil(log2(interior+1)) + 1 doubling
    # rounds cover every chain — at 10^8 redirect edges the old
    # ceil(log2(n)) bound burned ~27 rounds when real chains are < 32
    # hops (~6 rounds).  One extra metadata-sized count against the
    # checkpointed (tiny, 3xx-only) edge state buys the difference;
    # loop/cycle classification is round-count-independent (a cycle
    # member's cursor sits on a redirecting URL after ANY number of
    # rounds), and resolved rows' hops stop accumulating once the
    # terminal is reached, so the output is bit-identical.
    interior = (
        f0.select(F.col("cur").alias("src"))
        .join(f0.select("src"), "src", "left_semi")
        .count()
    )
    rounds = max(int(interior).bit_length(), 0) + 1
    for r in range(rounds):
        j = f.select(
            F.col("src").alias("cur"),
            F.col("cur").alias("nxt"),
            F.col("hops").alias("h2"),
        )
        f = (
            f.join(j, "cur", "left")
            .select(
                "src",
                F.coalesce("nxt", "cur").alias("cur"),
                (F.col("hops") + F.coalesce(F.col("h2"), F.lit(0))).alias("hops"),
            )
        )
        if checkpoint_every and (r + 1) % checkpoint_every == 0:
            f = f.localCheckpoint()
    srcs = f0.select(F.col("src").alias("cur"), F.lit(True).alias("_s"))
    resolved = f.join(srcs, "cur", "left").select(
        "src",
        F.when(F.col("_s").isNull(), F.col("cur")).alias("final_url"),
        F.when(F.col("_s").isNull(), F.col("hops")).alias("hops"),
        F.when(F.col("_s").isNotNull(), F.lit("loop"))
        .otherwise(F.lit("resolved"))
        .alias("terminal"),
    )
    return out_schema(resolved)


def host_linkgraph(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    host_pattern: str = r"^[a-z][a-z0-9+.-]*://([^/]+)",
) -> DataFrame:
    """Collapse the page-level link graph to a host-level rollup:
    (src_host, dst_host, links, intra).

    The host graph is the unit crawl policy operates on (politeness,
    per-domain budgets, spam-neighborhood detection) — 10^10 page edges
    roll up to ~10^7 host pairs, small enough to drive scheduling.  One
    map-side host extraction (JVM regexp, no UDF) + one partial-aggregated
    groupBy; skew (every page linking to a hub host) is absorbed by the
    map-side combine — reducers see distinct (src_host, dst_host) keys.
    """
    hosts = edges.select(
        F.regexp_extract(F.col(src_col), host_pattern, 1).alias("src_host"),
        F.regexp_extract(F.col(dst_col), host_pattern, 1).alias("dst_host"),
    ).filter((F.col("src_host") != "") & (F.col("dst_host") != ""))
    return (
        hosts.groupBy("src_host", "dst_host")
        .agg(F.count("*").alias("links"))
        .withColumn("intra", F.col("src_host") == F.col("dst_host"))
    )


def pagination_chains(
    pages: DataFrame,
    next_edges: DataFrame,
    url_col: str = "url",
    src_col: str = "src",
    dst_col: str = "dst",
    checkpoint_every: int = 4,
) -> DataFrame:
    """Assemble rel=next pagination chains: every page gets its chain
    head, 0-based position, and chain length — by pointer doubling on
    PREDECESSOR pointers, O(log L) shuffle rounds for chains of length L.

    The reference treats each page independently (`SpiderEngine/
    Spider.cs` has no pagination notion); a crawl scheduler wants chains
    because page 1 of a 400-page listing is worth fetching eagerly and
    page 397 is not, and a training-data packer wants multi-page
    articles reassembled in order.

    ``pages`` — the full page set (singletons are chains of length 1;
    anchoring on pages, not edges, keeps no-next pages visible — same
    full-set anchoring rule as `text.repetition_stats`).  ``next_edges``
    — one row per rel=next link.  Pagination is functional both ways;
    duplicate src (or dst) rows are collapsed keep-min for determinism.
    Input must be acyclic (a rel=next cycle is a crawl trap — feed
    `traps.url_traps` upstream); the round cap bounds the loop for
    adversarial input regardless.

    Scale: rounds = ceil(log2(#edges)) + 1 self-joins over the EDGE
    subgraph only; the corpus-sized `pages` set joins once at the end.
    chain_len is a window over chain heads — millions of independent
    partitions.  Lineage truncated every ``checkpoint_every`` rounds.

    Returns (url, chain_head, pos, chain_len).
    """
    e = (
        next_edges.select(
            F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
        )
        .groupBy("src")
        .agg(F.min("dst").alias("dst"))
        .groupBy("dst")
        .agg(F.min("src").alias("src"))
    )
    n = e.count()  # metadata-sized action (one long)
    p = pages.select(F.col(url_col).alias("url"))
    if n == 0:
        return p.select(
            "url",
            F.col("url").alias("chain_head"),
            F.lit(0).cast("long").alias("pos"),
            F.lit(1).cast("long").alias("chain_len"),
        )
    # round bound from the measured chain-interior size (the
    # resolve_redirects rationale): a chain of L edges has L-1 interior
    # nodes (a dst that is also a predecessor's src), so
    # ceil(log2(interior+1)) + 1 rounds cover every chain; one extra
    # metadata-sized count over the edge set replaces up-to-log2(#edges)
    # wasted self-join rounds.  Output unchanged: a covered node's
    # (cur, pos) stop changing once its head is reached.
    interior = (
        e.select("src")
        .join(e.select(F.col("dst").alias("src")), "src", "left_semi")
        .count()
    )
    rounds = max(int(interior).bit_length(), 0) + 1
    # state over edge-touched nodes: cur = highest known ancestor,
    # pos = hops walked to it; head reached when cur has no predecessor
    f = e.select(
        F.col("dst").alias("node"),
        F.col("src").alias("cur"),
        F.lit(1).cast("long").alias("pos"),
    ).localCheckpoint()
    for r in range(rounds):
        j = f.select(
            F.col("node").alias("cur"),
            F.col("cur").alias("nxt"),
            F.col("pos").alias("p2"),
        )
        f = f.join(j, "cur", "left").select(
            "node",
            F.coalesce("nxt", "cur").alias("cur"),
            (F.col("pos") + F.coalesce(F.col("p2"), F.lit(0))).alias("pos"),
        )
        if checkpoint_every and (r + 1) % checkpoint_every == 0:
            f = f.localCheckpoint()
    anchored = p.join(
        f.select(F.col("node").alias("url"), "cur", "pos"), "url", "left"
    ).select(
        "url",
        F.coalesce("cur", F.col("url")).alias("chain_head"),
        F.coalesce("pos", F.lit(0)).cast("long").alias("pos"),
    )
    w = Window.partitionBy("chain_head")
    return anchored.select(
        "url", "chain_head", "pos",
        F.count("*").over(w).cast("long").alias("chain_len"),
    )


# hreflang alternate tags in canonical attribute order (rel before
# hreflang before href — the linkpolicy fixture convention; the
# production swap point is the same scan_page rel capture named in
# kernels/linkpolicy's docstring)
HREFLANG_TAG_PAT = (
    r'(?i)<link\s+rel="alternate"\s+hreflang="[^"]*"\s+href="[^"]*"\s*/?>'
)
_HREFLANG_LANG_PAT = r'(?i)hreflang="([^"]*)"'
_HREFLANG_HREF_PAT = r'(?i)href="([^"]*)"'


def hreflang_audit(
    pages: DataFrame,
    url_col: str = "url",
    body_col: str = "body",
) -> DataFrame:
    """(src, dst, lang, reciprocal) — the hreflang alternate graph with
    Google's return-link rule audited.

    `<link rel="alternate" hreflang=..>` clusters are how multilingual
    sites declare language variants; search engines IGNORE annotations
    whose target doesn't link back, so a crawler auditing a site (the
    reference's whole purpose, re-imagined at web scale) must flag
    non-reciprocal pairs — they're config bugs exactly like the broken
    links the reference reports.  The reference parses <a>/<link
    rel=stylesheet> only (`SpiderEngine/Engine.cs:324-326`); this reads
    the rel=alternate family it skips.

    Extraction is regexp-over-body in pure codegen (one
    regexp_extract_all + explode, zero Python); the audit is one
    self-equi-join on (src,dst) against the distinct reversed edge set —
    partitioned hash join, no skew beyond hot hub pages (salt upstream
    if a single URL is alternate-target of millions).  Self-referencing
    annotations (recommended practice) are trivially reciprocal.
    """
    tags = pages.select(
        F.col(url_col).alias("src"),
        F.explode(
            F.regexp_extract_all(
                F.col(body_col), F.lit(HREFLANG_TAG_PAT), 0
            )
        ).alias("tag"),
    )
    edges = tags.select(
        "src",
        F.regexp_extract("tag", _HREFLANG_LANG_PAT, 1).alias("lang"),
        F.regexp_extract("tag", _HREFLANG_HREF_PAT, 1).alias("dst"),
    ).filter(F.col("dst") != "")
    rev = (
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        .distinct()
        .withColumn("_r", F.lit(True))
    )
    return edges.join(rev, ["src", "dst"], "left").select(
        "src", "dst", "lang",
        F.col("_r").isNotNull().alias("reciprocal"),
    )


def anchor_spam(
    anchors: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    text_col: str = "text",
    min_anchors: int = 4,
    score_threshold: int = 900,
) -> DataFrame:
    """Per-target anchor-text spam score over the parsed <a> edge set.

    Link farms reveal themselves in the ANCHOR DISTRIBUTION, not the
    page body: a target whose in-links repeat one commercial phrase from
    a handful of hosts is bought, not earned (the signal behind
    TrustRank's motivating examples, Gyongyi 2004 §2).  The reference
    only walks links (`SpiderEngine/Engine.cs:324-326`); a web-scale
    frontier must DEMOTE spam targets before spending fetch budget, so
    this feeds `priority_from_rank` / `recrawl.budget_alloc` the same
    way host_reputation does.

    Inputs: one row per parsed anchor (``src_col`` page URL, ``dst_col``
    resolved target, ``text_col`` anchor text).  Output per target:

      n_anchors       total in-anchors
      n_hosts         distinct linking hosts (parsed from src)
      n_texts         distinct anchor texts
      top_text_ppm    1e6 * (most-frequent text's count) div n_anchors
      top_host_ppm    1e6 * (most-frequent host's count) div n_anchors
      spam_score      top_text_ppm div 2000 + top_host_ppm div 2000
                      (0..1000, integer end-to-end — partition-order and
                      engine independent, same discipline as
                      reputation.host_reputation)
      spam            spam_score >= score_threshold AND
                      n_anchors >= min_anchors  (low-volume targets are
                      never flagged: 2 identical anchors is normal)

    Scale (10^10 anchors): two two-level partial aggregations — per
    (dst,text) then per dst, per (dst,host) then per dst — each map-side
    combined, so shuffle rows are bounded by distinct pairs, not edge
    count; the final join is dst-keyed between two already-aggregated
    tables.  Hot targets (home pages) are exactly the rows where the
    two-level shape matters: their 10^8 anchors collapse to
    distinct-text/host counts per partition before moving.
    """
    host = F.regexp_extract(F.col(src_col), r"^[a-z]+://([^/]+)", 1)
    base = anchors.select(
        F.col(dst_col).alias("url"),
        F.col(text_col).alias("text"),
        host.alias("host"),
    )
    by_text = (
        base.groupBy("url", "text")
        .agg(F.count("*").alias("cnt"))
        .groupBy("url")
        .agg(
            F.sum("cnt").alias("n_anchors"),
            F.count("*").alias("n_texts"),
            F.max("cnt").alias("top_text_cnt"),
        )
    )
    by_host = (
        base.groupBy("url", "host")
        .agg(F.count("*").alias("cnt"))
        .groupBy("url")
        .agg(
            F.count("*").alias("n_hosts"),
            F.max("cnt").alias("top_host_cnt"),
        )
    )
    j = by_text.join(by_host, "url")
    top_text_ppm = F.expr("1000000 * top_text_cnt div n_anchors")
    top_host_ppm = F.expr("1000000 * top_host_cnt div n_anchors")
    score = (
        F.expr("(1000000 * top_text_cnt div n_anchors) div 2000")
        + F.expr("(1000000 * top_host_cnt div n_anchors) div 2000")
    )
    return j.select(
        "url",
        "n_anchors",
        "n_hosts",
        "n_texts",
        top_text_ppm.alias("top_text_ppm"),
        top_host_ppm.alias("top_host_ppm"),
        score.alias("spam_score"),
        (
            (score >= F.lit(score_threshold))
            & (F.col("n_anchors") >= F.lit(min_anchors))
        ).alias("spam"),
    )


def reciprocal_links(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    farm_ppm: int = 500_000,
    min_out: int = 3,
) -> DataFrame:
    """Reciprocal-link (link-exchange) lint over the host graph: for each
    host, how many of its distinct outbound host edges are returned by
    the target — the classic link-farm signal ("link to me and I'll
    link to you") that complements anchor_spam's text-concentration
    score.  Output per linking host: (host, n_out, n_reciprocal,
    reciprocal_ppm, farm_suspect) with ppm = floor(1e6·rec/out) and
    farm_suspect = ppm ≥ farm_ppm ∧ n_out ≥ min_out (tiny blogrolls are
    not farms).

    Plan: distinct directed host edges (self-loops dropped) → a
    left_semi self-join on the REVERSED pair marks reciprocated edges →
    two skinny per-host counts joined back.  Scale: the edge set is
    host×host (orders of magnitude below page edges); both joins key on
    (src,dst) pairs — a hub host with 10^6 out-edges is a big GROUP not
    a hot JOIN key, and the groupBy partial-aggregates map-side.  AQE
    handles residual pair skew.
    """
    e = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    rec = e.join(rev, ["src", "dst"], "left_semi")
    out_n = e.groupBy("src").agg(F.count("*").alias("n_out"))
    rec_n = rec.groupBy("src").agg(F.count("*").alias("n_reciprocal"))
    j = out_n.join(rec_n, "src", "left").select(
        F.col("src").alias("host"),
        "n_out",
        F.coalesce("n_reciprocal", F.lit(0)).alias("n_reciprocal"),
    )
    ppm = (F.col("n_reciprocal") * 1_000_000 / F.col("n_out")).cast("long")
    return j.select(
        "host",
        "n_out",
        "n_reciprocal",
        ppm.alias("reciprocal_ppm"),
        (
            (ppm >= F.lit(int(farm_ppm)))
            & (F.col("n_out") >= F.lit(int(min_out)))
        ).alias("farm_suspect"),
    )


def degree_hist(edges: DataFrame) -> DataFrame:
    """Link-graph degree-distribution histogram (the power-law
    diagnostic every web-graph paper opens with): per direction
    ('in'/'out'), log2 degree buckets — bucket b holds nodes with
    degree in (2^(b-1), 2^b], i.e. bucket_hi = the smallest power of
    two >= degree — with node counts.  Bucket boundaries come from the
    integer bit length of deg-1 (no float log anywhere), identical on
    any engine.

    Input: (src, dst) one row per edge.  Output:
    (direction, bucket, bucket_hi, n_nodes).

    Scale: two partial-aggregated groupBys (node -> degree, then
    bucket -> count); output is O(log max_degree) rows per direction.
    The degree aggregation is the only real shuffle and its keys are
    nodes — hot pages (10^6 in-links) are ONE row after the map-side
    combine, so no skew survives to the reducer.
    """

    def _bucketed(col_name: str, direction: str):
        deg = (
            edges.groupBy(F.col(col_name).alias("node"))
            .agg(F.count("*").alias("deg"))
        )
        # smallest power of two >= deg via the bit length of deg-1:
        # bucket = ceil(log2(deg)) computed as length(bin(deg-1)) for
        # deg > 1 (deg=1 -> bucket 0), bucket_hi = 1 << bucket — pure
        # integer/string ops, no float log
        bucket = (
            F.when(F.col("deg") <= 1, F.lit(0))
            .otherwise(F.length(F.bin(F.col("deg") - 1)))
            .cast("int")
        )
        return (
            deg.select(
                F.lit(direction).alias("direction"),
                bucket.alias("bucket"),
            )
            .groupBy("direction", "bucket")
            .agg(F.count("*").alias("n_nodes"))
            .select(
                "direction",
                "bucket",
                # python-side F.shiftleft only takes a literal shift;
                # the SQL form accepts a column
                F.expr("shiftleft(CAST(1 AS BIGINT), bucket)").alias(
                    "bucket_hi"
                ),
                "n_nodes",
            )
        )

    return _bucketed("src", "out").unionByName(_bucketed("dst", "in"))


def host_components(
    edges: DataFrame, src_col: str = "src_host", dst_col: str = "dst_host"
) -> DataFrame:
    """Weakly-connected components of the host link graph — the
    site-family detector: mirror farms, white-label template networks
    and link rings all surface as multi-host components, and crawl
    policy (budget, trust, dedup) should price the FAMILY, not each
    host (composes with `mirror_hosts`, which catches only pairwise
    mirrors, and `host_reputation`).

    Output per host appearing in the edge list: (host, component =
    lexicographic min host reachable, component_size).

    Scale: symmetrized distinct edge list into
    :func:`~linkkchecker_net_spark.pipeline.dedup._star_labels` —
    large-star/small-star alternation, O(log n) rounds on ANY graph
    shape including the chain/ring farms this operator exists to find
    (min-label propagation would need diameter-many rounds exactly
    there); the size rollup is one label-keyed partial agg.
    """
    from .dedup import _star_labels

    e = (
        edges.select(
            F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    sym = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    # _star_labels omits component minima (stars point AT them) — anchor
    # on the full node set and coalesce centers to themselves, the
    # dedup_clusters consumption pattern
    nodes = sym.select(F.col("src").alias("host")).distinct()
    star = _star_labels(sym).select(
        F.col("doc_id").alias("host"), F.col("label").alias("component")
    )
    labels = (
        nodes.join(star, "host", "left")
        .select(
            "host",
            F.coalesce("component", F.col("host")).alias("component"),
        )
    )
    sizes = labels.groupBy("component").agg(
        F.count("*").alias("component_size")
    )
    return labels.join(sizes, "component").select(
        "host",
        "component",
        F.col("component_size").cast("long").alias("component_size"),
    )


def label_propagation(
    nodes: DataFrame,
    edges: DataFrame,
    node_col: str = "id",
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 4,
) -> DataFrame:
    """Deterministic synchronous label propagation (Raghavan 2007) over
    the UNDIRECTED view of the edge set — the cheap community detector
    for host-graph structure (mirror farms, link rings, template
    networks) when `host_components` (pure connectivity) is too coarse:
    LPA splits a weakly-connected blob into densely-linked cores.

    Determinism contract (both engines replay it exactly): labels start
    as the node's own id; each round every node adopts the label with
    the highest vote among its neighbors' current labels (parallel
    edges = weighted votes), ties broken by the SMALLEST label;
    isolated nodes keep their label.  Synchronous updates, fixed
    `iterations` rounds — the convergence-free variant whose output is
    a pure function of the graph, not of visit order (asynchronous LPA
    is run-order-dependent and cannot be oracled).

    Returns (node_col, community).

    Scale: per round, one groupBy (node, label) vote count (map-side
    combined — a mill host voting one label collapses early) and one
    min(struct(-votes, label)) argmax per node — two key-partitioned
    exchanges, no windows, no self-joins; the undirected edge table is
    built once and persisted across rounds (the pagerank loop shape).
    """
    und = (
        edges.select(
            F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
        )
        .unionByName(
            edges.select(
                F.col(dst_col).alias("src"), F.col(src_col).alias("dst")
            )
        )
        .repartition("dst")
        .persist()
    )
    pinned = nodes.select(F.col(node_col).alias("id")).persist()
    labels = pinned.select("id", F.col("id").alias("label"))
    for _ in range(iterations):
        votes = (
            und.join(
                labels.withColumnRenamed("id", "src").withColumnRenamed(
                    "label", "nl"
                ),
                "src",
            )
            .groupBy("dst", "nl")
            .agg(F.count("*").alias("c"))
        )
        winner = votes.groupBy("dst").agg(
            F.min(
                F.struct((-F.col("c")).alias("nc"), F.col("nl").alias("l"))
            )["l"].alias("new_label")
        )
        labels = pinned.join(
            winner.withColumnRenamed("dst", "id"), "id", "left"
        ).select(
            "id",
            F.coalesce(F.col("new_label"), F.col("id")).alias("label"),
        )
    out = labels.select(
        F.col("id").alias(node_col), F.col("label").alias("community")
    ).localCheckpoint()
    und.unpersist()
    pinned.unpersist()
    return out


def kcore(
    nodes: DataFrame,
    edges: DataFrame,
    node_col: str = "id",
    src_col: str = "src",
    dst_col: str = "dst",
    k: int = 3,
    rounds: int = 6,
) -> DataFrame:
    """Fixed-round synchronous k-core peeling over the undirected edge
    view — the density filter for link analysis: a node survives the
    k-core iff it keeps >= k neighbors AFTER every weaker node is
    peeled away, which is exactly the property link farms fake with
    fan-in (high degree) but cannot fake with mutually-dense cores.
    PageRank finds mass, components find reach, LPA finds vote cores;
    k-core finds DENSITY.

    Synchronous peeling: each round recomputes degrees over the
    surviving subgraph and drops every node with degree < k at once;
    ``rounds`` is FIXED so the output is a pure function of the graph
    (full peeling needs at most |V| rounds; chains peel one layer per
    round, so `rounds` bounds the peel depth — callers wanting the
    exact core raise it; the driver query pins 6 and the oracle unrolls
    the same 6).  Parallel edges count toward degree, like repeated
    hrefs.

    Returns (node_col, in_kcore, dropped_round) — dropped_round is the
    1-based round that peeled the node, NULL for survivors.

    Scale: per round, one count agg keyed by node over the surviving
    edge set (map-side combined) plus two semi-joins that shrink the
    edge table — every exchange is key-partitioned, no windows; the
    undirected edge table is built once and persisted.
    """
    und = (
        edges.select(
            F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
        )
        .unionByName(
            edges.select(
                F.col(dst_col).alias("src"), F.col(src_col).alias("dst")
            )
        )
        .persist()
    )
    state = nodes.select(
        F.col(node_col).alias("id"),
        F.lit(None).cast("int").alias("dropped_round"),
    )
    for r in range(1, rounds + 1):
        alive = state.filter(F.col("dropped_round").isNull()).select("id")
        live_edges = und.join(
            alive.withColumnRenamed("id", "src"), "src", "left_semi"
        ).join(alive.withColumnRenamed("id", "dst"), "dst", "left_semi")
        deg = live_edges.groupBy("dst").agg(F.count("*").alias("c"))
        survivors = (
            alive.join(deg.withColumnRenamed("dst", "id"), "id", "left")
            .filter(F.coalesce(F.col("c"), F.lit(0)) >= k)
            .select("id")
            .withColumn("_s", F.lit(True))
        )
        state = (
            state.join(survivors, "id", "left")
            .select(
                "id",
                F.when(
                    F.col("dropped_round").isNotNull(),
                    F.col("dropped_round"),
                )
                .when(F.col("_s").isNull(), F.lit(r))
                .alias("dropped_round"),
            )
            .localCheckpoint(eager=False)
        )
    out = state.select(
        F.col("id").alias(node_col),
        F.col("dropped_round").isNull().alias("in_kcore"),
        "dropped_round",
    ).localCheckpoint()
    und.unpersist()
    return out


def asset_projection(
    assets: DataFrame,
    left_col: str = "host",
    asset_col: str = "asset_digest",
    max_fanout: int = 50,
) -> DataFrame:
    """Bipartite projection: (host, asset) memberships → weighted
    host-host edges, weight = number of DISTINCT shared assets.  The
    generalization of `favicon_clusters` to any asset class (favicons,
    script digests, image phashes, tracker IDs): two hosts that share
    many content-addressed assets are one operation — the projection
    edge list feeds `host_components`/`label_propagation`/`kcore`
    directly.

    THE scale hazard of every bipartite projection is the hub asset: a
    jquery.min.js digest shared by 10^7 hosts would alone emit 10^14
    pairs.  Standard guard (and this function's contract): assets with
    more than ``max_fanout`` distinct holders are EXCLUDED from the
    projection and returned separately by the companion column — a hub
    asset shared by half the web carries no mirror signal anyway
    (discriminative power ~ 1/df, the IDF argument).  The cap bounds
    the join output at C(max_fanout, 2) pairs per asset.

    Returns (host_a, host_b, shared_assets) with host_a < host_b.

    Scale: one distinct + one count agg keyed by asset (map-side
    combined), the capped self-join keyed by asset, one pair-keyed
    count — every exchange key-partitioned; the cap is enforced
    BEFORE the self-join so the hub never fans out.
    """
    m = assets.select(
        F.col(left_col).alias("h"), F.col(asset_col).alias("a")
    ).dropDuplicates()
    df_counts = m.groupBy("a").agg(F.count("*").alias("holders"))
    kept = m.join(
        df_counts.filter(F.col("holders") <= max_fanout).select("a"),
        "a",
        "left_semi",
    )
    x = kept.select(F.col("h").alias("host_a"), "a")
    y = kept.select(F.col("h").alias("host_b"), "a")
    return (
        x.join(y, "a")
        .filter(F.col("host_a") < F.col("host_b"))
        .groupBy("host_a", "host_b")
        .agg(F.count("*").cast("long").alias("shared_assets"))
    )
