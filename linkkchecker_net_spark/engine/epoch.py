"""One crawl epoch as a Spark DataFrame DAG (SURVEY.md §3.1).

The reference's recursive task-tree crawl
(/root/reference/SpiderEngine/Engine.cs:149-210,322-349) flattened into a
per-BFS-level dataflow:

  frontier ─W1 politeness rank/budget─→ batch | carry
  batch ─J6 fetch join (web)─→ P11 classify ─→ results append
  ok html+css rows ─P8/P9/P10 parse (Arrow UDFs)─→ explode candidates
  candidates ─P1 canonicalize─→ F1 scheme / F10 robots gates
             ─W3 intra-epoch dedup─→ J1 anti-join seen ∪ carry
             ─W2 deterministic rank─→ new frontier entries
  frontier' = carry ∪ new

Shuffle census per epoch (scale notes, SURVEY.md §4):
  1. politeness window   — exchange on host (skipped entirely when robots is
                           empty + budget unbounded; hot-host skew: budget
                           bounds the damage; salted two-phase top-K is the
                           M5 path)
  2. fetch join          — NO web exchange: the budget-bounded batch is the
                           broadcast build side of an inner join, missing
                           (dead-link) rows recovered by a tiny anti-join
                           (Iceberg url_hash bucketing is the alternative on
                           a real cluster)
  3. W3 dedup            — groupBy(url) + min_by combiner: duplicates
                           collapse map-side BEFORE the exchange
  4. anti-join seen      — broadcast while the seen key-set fits executor
                           memory; exchange + bloom pre-filter layering
                           (engine/filters.py) past the threshold
  5. W2 rank             — parallel range-partition sort + per-partition
                           offset ranks (kernels never funnel through one
                           task); input bounded by Σ politeness budgets,
                           NOT by frontier size

Per-page work (P8 parse + P9 meta + P10 css + P1 canonicalize + F1/P2) is
ONE fused Arrow pass (kernels/fused.py); everything else is JVM-side
whole-stage-codegen'd CASE/contains expressions.  The fetched and extracted
intermediates are persisted so each executes exactly once per epoch.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from linkkchecker_net_spark.kernels import fused
from linkkchecker_net_spark.kernels.classify import classification_expr

CSS_TAG_RANK = 4

_ORDER_COLS = ["parent_rank", "tag_rank", "doc_pos"]


@dataclass
class EpochResult:
    batch: DataFrame
    carry: DataFrame
    results: DataFrame
    page_meta: DataFrame
    seen_delta: DataFrame
    new_frontier_entries: DataFrame
    persisted: list = field(default_factory=list)  # unpersist after writes
    counts: dict = field(default_factory=dict)
    # the post-fetch intermediate (carries fetch_ts when pace_fetch is on)
    fetched: DataFrame | None = None


def _host_expr(url_col):
    return F.lower(F.parse_url(url_col, F.lit("HOST")))


def _path_expr(url_col):
    p = F.parse_url(url_col, F.lit("PATH"))
    return F.when(p.isNull() | (p == ""), F.lit("/")).otherwise(p)


def split_politeness(
    frontier: DataFrame,
    robots: DataFrame,
    default_budget: int | None,
    salt_partitions: int = 0,
    trap_budgets: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """W1/A4/O3 — per-host priority rank, top-`budget` rows form the batch.

    robots is a small dimension table → broadcast join (no shuffle for it);
    the window exchange on host is shuffle #1.

    J7 hot-host skew defusal (north rule): with `salt_partitions` > 0 the
    top-K runs in two phases — phase 1 ranks within (host, salt) where
    salt = pmod(xxhash64(url), S), keeping at most `budget` rows per salted
    group (a superset of the true top-K, ≤ S·budget rows per host survive);
    phase 2 ranks the pruned set per host exactly.  A host holding 50% of a
    10^10-row frontier thus never lands in one window partition.
    """
    order = [F.col("priority"), F.col("crawl_depth"), F.col("discovery_rank")]
    # default_budget=None is the explicit unbounded sentinel (rank never
    # exceeds the row count, so Long.MaxValue-1 is "no bound")
    fallback = F.lit(2**62 if default_budget is None else default_budget)
    with_budget = (
        frontier.join(
            F.broadcast(robots.select("host", "budget")), on="host", how="left"
        ).withColumn("budget", F.coalesce("budget", fallback))
    )
    if trap_budgets is not None:
        # trap-aware damping (pipeline/traps.py wired into F10): hosts the
        # driver flagged for URL-template explosion get their budget capped
        # — least(), so an explicit robots budget can only tighten further.
        # The trap table is flagged-hosts-only (small) → broadcast dim.
        with_budget = (
            with_budget.join(
                F.broadcast(trap_budgets.select("host", "trap_budget")),
                on="host",
                how="left",
            )
            .withColumn(
                "budget",
                F.least(
                    F.col("budget"),
                    F.coalesce(F.col("trap_budget"), F.col("budget")),
                ),
            )
            .drop("trap_budget")
        )
    if salt_partitions > 0:
        w1 = Window.partitionBy(
            "host", F.pmod(F.xxhash64("url"), F.lit(salt_partitions))
        ).orderBy(*order)
        pruned = (
            with_budget.withColumn("_sr", F.row_number().over(w1))
            .filter(F.col("_sr") <= F.col("budget"))
            .drop("_sr")
        )
        # rows pruned in phase 1 can never be in the per-host top-budget —
        # they go straight to the carry
        early_carry = with_budget.join(
            pruned.select("url"), on="url", how="left_anti"
        ).drop("budget")
    else:
        pruned = with_budget
        early_carry = None

    w = Window.partitionBy("host").orderBy(*order)
    ranked = pruned.withColumn("_pr", F.row_number().over(w))
    batch = ranked.filter(F.col("_pr") <= F.col("budget")).drop("_pr", "budget")
    carry = ranked.filter(F.col("_pr") > F.col("budget")).drop("_pr", "budget")
    if early_carry is not None:
        carry = carry.unionByName(early_carry)
    return batch, carry


def fetch_and_classify(
    batch: DataFrame, web: DataFrame, epoch: int, broadcast_batch: bool = True
) -> DataFrame:
    """S2/S3 + J6 + P11 — fetch join against the synthetic web + classify.

    In production the join body is replaced by an async HTTP batch inside
    the same per-host grouping; the plan shape is identical.  A URL absent
    from `web` is a dead link → 404 (Engine.cs:168-201 semantics); web
    status 0 encodes a network error (exception branch, Engine.cs:204-208).
    content_type/image_id are recorded only for 2xx (Engine.cs:172-174).

    JOIN STRATEGY (the big-web scale path): a left-outer join can only
    broadcast its non-preserved side, so `batch LEFT JOIN web` would
    shuffle the ENTIRE web every epoch.  Instead: INNER join with the
    (politeness-budget-bounded, hence broadcastable) batch as the build
    side — web streams through with NO shuffle — then recover the missing
    (dead-link) rows with a tiny anti-join against the matched key set.
    web is never exchanged; per-epoch cost is one scan.

    BODY COLUMN (the HEAD optimization, Engine.cs:242-252): this join is
    status/header-only — it never touches `web.body`, so the parquet
    reader column-prunes the payload bytes out of the scan entirely.  The
    parse stage attaches bodies to its (ok ∧ parseable) subset with its own
    join (`attach_bodies`); a dead-link-heavy epoch therefore never
    decompresses a single page body.
    """
    w = web.select(
        F.col("url").alias("w_url"),
        F.col("url_hash").alias("w_url_hash"),
        F.col("status").alias("w_status"),
        F.col("content_type").alias("w_ct"),
        F.col("image_id").alias("w_image_id"),
    )
    cond = (batch.url_hash == w.w_url_hash) & (batch.url == w.w_url)
    if broadcast_batch:
        matched = F.broadcast(batch).join(w, cond, "inner")
        missing = batch.join(
            F.broadcast(matched.select(F.col("w_url").alias("m_url"))),
            batch.url == F.col("m_url"),
            "left_anti",
        )
        nulls = [
            F.lit(None).cast(t).alias(c)
            for c, t in [
                ("w_url", "string"),
                ("w_url_hash", "long"),
                ("w_status", "int"),
                ("w_ct", "string"),
                ("w_image_id", "string"),
            ]
        ]
        joined = matched.unionByName(missing.select("*", *nulls))
    else:
        joined = batch.join(w, cond, "left")
    is_err = F.col("w_status") == 0
    status = (
        F.when(F.col("w_url").isNull(), F.lit(404))
        .when(is_err, F.lit(None).cast(T.IntegerType()))
        .otherwise(F.col("w_status"))
    )
    error = F.when(is_err, F.lit("connection error"))
    ok = (status >= 200) & (status < 300)
    # ONE select instead of six chained withColumn + drop: Catalyst
    # collapses the chain into this exact projection anyway
    # (CollapseProject), but each withColumn is an eager re-analysis of
    # the whole epoch subtree on the driver — measured ~0.18 s of the
    # ~0.77 s per-epoch DAG-construction cost (cProfile over the 26-epoch
    # sf0.1 crawl).  The classification expression references the status/
    # error EXPRESSIONS (the optimizer inlined the columns identically
    # before); result columns, order and values are unchanged.
    keep = [c for c in batch.columns]
    return joined.select(
        *keep,
        status.alias("status"),
        error.alias("error"),
        F.when(ok, F.col("w_ct")).alias("content_type"),
        F.when(ok, F.col("w_image_id")).alias("image_id"),
        classification_expr(status, error, F.lit(False)).alias(
            "classification"
        ),
        F.lit(epoch).alias("epoch"),
    )


def generate_candidates(
    fetched: DataFrame,
    web: DataFrame,
    seed_authorities: list[str],
    seed_prefixes: list[str],
    epoch: int,
    broadcast_parseable: bool = True,
    pin=DataFrame.persist,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """P8/P9/P10 + P1 in ONE fused Arrow pass (kernels/fused.py) →
    (candidates, page_meta, persisted handle).

    Bodies enter here and ONLY here: the (ok ∧ parseable) subset of the
    fetch output — already politeness-bounded and usually a fraction of
    the batch — is broadcast into an inner join against the web's
    (url, body) projection, so page payloads flow parquet-scan → Arrow
    parse in one streaming pass: never cached, never exchanged, and never
    read at all for rows the parser won't see.  When an epoch has no
    parseable rows (a dead-link flush), AQE sees the empty broadcast side
    and collapses the join to an empty relation — the body scan is skipped
    entirely.  (The HEAD optimization, Engine.cs:242-252.)
    """
    parseable = fetched.filter(
        (F.col("classification") == "ok")
        & (
            (
                (F.col("content_type") == "text/html")
                & F.col("may_contain_links")
            )
            | (F.col("content_type") == "text/css")
        )
    ).select(
        "url",
        "url_hash",
        "host",
        "discovery_rank",
        "crawl_depth",
        "priority",
        "seed_url",
        "may_contain_links",
        "expand_links",
        "content_type",
    )
    bodies = web.select(
        F.col("url_hash").alias("b_url_hash"),
        F.col("url").alias("b_url"),
        "body",
    )
    if broadcast_parseable:
        parseable = F.broadcast(parseable)
    with_body = (
        bodies.join(
            parseable,
            (F.col("b_url_hash") == F.col("url_hash"))
            & (F.col("b_url") == F.col("url")),
            "inner",
        )
        .filter(F.col("body").isNotNull())
        .drop("b_url_hash", "b_url", "url_hash")
    )
    # mapInArrow (not mapInPandas): the kernel reads page bodies as
    # zero-copy memoryviews of the Arrow data buffer — the pandas bridge
    # materialized every body as a Python bytes object first, one full
    # extra pass of the epoch's dominant byte volume through the cache
    # hierarchy (the 8-busy-core bandwidth bottleneck, BENCH/BASELINE.md)
    extracted = with_body.mapInArrow(
        fused.extract_batches(set(seed_authorities), tuple(sorted(set(seed_prefixes)))),
        fused.FUSED_SCHEMA,
    )
    extracted = pin(extracted)

    # page-level extractions for in-site pages (CanonicalChecker /
    # DescriptionLengthChecker are F2-gated: CanonicalChecker.cs:34-36)
    page_meta = extracted.filter(F.col("kind") == "meta").select(
        "url",
        F.xxhash64("url").alias("url_hash"),
        "canonical_href",
        "meta_description",
        "embedded_css",
        F.col("parent_depth").alias("crawl_depth"),
        F.lit(epoch).alias("epoch"),
    )

    # skinny candidate rows: url + order key + per-link flags (parent
    # strings are recovered post-dedup from the batch — see fused.py)
    candidates = extracted.filter(F.col("kind") == "cand").select(
        "url", "supported", "may_contain_links", "expand_links",
        "parent_rank", "parent_depth", "tag_rank", "doc_pos",
    )
    return candidates, page_meta, extracted


def dedup_gate_rank(
    candidates: DataFrame,
    seen: DataFrame,
    carry: DataFrame,
    robots: DataFrame,
    batch: DataFrame,
    next_rank: int,
    epoch: int,
    skip_robots: bool = False,
    broadcast_seen: bool = False,
    bloom_bcast=None,
    bloom_gap: DataFrame | None = None,
    small_rank: bool = False,
    broadcast_batch: bool = True,
    pin=DataFrame.persist,
    rank_lo: int = 0,
) -> tuple[DataFrame, DataFrame]:
    """F10 gate → W3 dedup → J1 anti-join → W2 rank over candidates that
    arrive already canonicalized (kernels/fused.py did P1/F1/P2).

    Returns (new_results_rows, new_frontier_entries, persisted handles):
    unsupported-scheme and robots-blocked candidates become terminal result
    rows (they consume a discovery_rank and enter the seen set exactly like
    the oracle's sequential walk); the rest become frontier entries at
    depth+1.
    """
    cand = candidates.withColumn("url_hash", F.xxhash64("url"))

    # W3 — keep-first per URL in deterministic candidate order.  Expressed
    # as groupBy + min_by(struct, order-key) instead of a window so Spark
    # partial-aggregates map-side (a combiner): duplicate URLs collapse
    # BEFORE the exchange, shrinking the shuffle — the window form ships
    # every candidate row.
    order_key = F.struct(*[F.col(c) for c in _ORDER_COLS])
    # payload excludes the grouping key (url_hash, url) — repeating the ~70
    # url bytes inside the min_by struct would double every shuffle row
    payload = F.struct(
        *[F.col(c) for c in cand.columns if c not in ("url_hash", "url")]
    )
    cand = (
        cand.groupBy("url_hash", "url")
        .agg(F.min_by(payload, order_key).alias("_w"))
        .select("url_hash", "url", "_w.*")
    )

    # J1 — anti-join the seen set (claimed through THIS epoch's batch) and
    # the politeness carry (discovered-but-unfetched URLs).  While the seen
    # set fits executor memory it is broadcast (left_anti builds right), so
    # the million-row candidate side never shuffles; past the threshold the
    # plan falls back to the exchange anti-join (+ bloom pre-filter at
    # 10^10 scale — engine/filters.py layering).
    seen_keys = seen.select("url_hash", "url")
    if broadcast_seen:
        seen_keys = F.broadcast(seen_keys)
        cand = cand.join(seen_keys, on=["url_hash", "url"], how="left_anti")
    elif bloom_bcast is not None:
        # bloom pre-filter layering (BASELINE.json:6): candidates that are
        # bloom-NEGATIVE are definitely new vs the HISTORICAL seen set and
        # bypass the anti-join exchange; positives (true dupes + ~1% fp)
        # take the exact path.  The bloom was built before this epoch's
        # claims, so the fresh branch still anti-joins the (politeness-
        # bounded, broadcastable) current-epoch claim delta.
        from linkkchecker_net_spark.engine.filters import bloom_maybe_udf

        cand = cand.withColumn("_maybe", bloom_maybe_udf(bloom_bcast)("url_hash"))
        fresh = cand.filter(~F.col("_maybe")).drop("_maybe")
        if bloom_gap is not None:
            fresh = fresh.join(
                F.broadcast(bloom_gap.select("url_hash", "url")),
                on=["url_hash", "url"],
                how="left_anti",
            )
        suspect = cand.filter(F.col("_maybe")).drop("_maybe")
        cand = fresh.unionByName(
            suspect.join(seen_keys, on=["url_hash", "url"], how="left_anti")
        )
    else:
        cand = cand.join(seen_keys, on=["url_hash", "url"], how="left_anti")
    cand = cand.join(
        F.broadcast(carry.select("url")) if broadcast_seen else carry.select("url"),
        on="url",
        how="left_anti",
    )

    # parent enrichment — candidates are skinny (fused.py): recover the
    # parent-inherited columns (parent_url, seed_url, priority) from the
    # politeness-bounded batch via a broadcast join on parent_rank (1:1 —
    # discovery_rank is unique), and re-derive host JVM-side.  This runs on
    # the post-dedup post-anti-join survivor set, typically ~100x smaller
    # than the raw candidate stream.
    parent = batch.select(
        F.col("discovery_rank").alias("parent_rank"),
        F.col("url").alias("parent_url"),
        F.col("seed_url"),
        F.col("priority"),
    )
    if broadcast_batch:
        parent = F.broadcast(parent)
    cand = cand.join(parent, on="parent_rank", how="left")
    cand = cand.withColumn(
        "host", F.when(F.col("supported"), _host_expr(F.col("url")))
    )

    # F10 — robots gate (broadcast dim join).  Plain rules stay on the
    # codegen startswith fast path; rules carrying RFC 9309 metachars
    # ('*' anywhere, '$' at end) go through the same regex grammar as
    # kernels/robotsparse.robots_match — see rule_match_expr.  With only
    # Disallow lists (no Allow), RFC matching IS "any rule matches", so
    # no longest-match precedence is needed here.
    if skip_robots:
        cand = cand.withColumn("robots_blocked", F.lit(False))
    else:
        from linkkchecker_net_spark.kernels.robotsparse import (
            is_wildcard_rule_expr,
            pattern_regex_expr,
        )

        # split ONCE on the broadcast dim: prefix rules keep the codegen
        # startswith fast path; wildcard rules arrive as pre-built
        # regexes, so the per-candidate loop never re-detects/re-builds
        rob = robots.select(
            "host",
            F.filter(
                "disallow", lambda p: ~is_wildcard_rule_expr(p)
            ).alias("dis_prefix"),
            F.transform(
                F.filter("disallow", is_wildcard_rule_expr),
                pattern_regex_expr,
            ).alias("dis_rex"),
        )
        path = _path_expr(F.col("url"))
        cand = cand.join(F.broadcast(rob), on="host", how="left").withColumn(
            "robots_blocked",
            F.col("supported")
            & (
                F.coalesce(
                    F.exists(
                        F.col("dis_prefix"), lambda p: F.startswith(path, p)
                    ),
                    F.lit(False),
                )
                | F.coalesce(
                    F.exists(
                        F.col("dis_rex"), lambda rx: F.regexp_like(path, rx)
                    ),
                    F.lit(False),
                )
            ),
        )

    # W2 — deterministic discovery rank over this epoch's survivors.
    # Two physical strategies for the same logical rank (equal outputs,
    # tested by test_rank_paths_equivalence):
    #   small epochs  — one row_number window (a single-partition sort of a
    #                   politeness-bounded survivor set is microseconds and
    #                   adds ZERO extra jobs — the sampling pass + counts
    #                   collect of the parallel path are 2 jobs/epoch of
    #                   pure flat time);
    #   large epochs  — parallel range-partition sort + per-partition
    #                   offset ranks (kernels never funnel through one
    #                   task); input bounded by Σ politeness budgets, NOT
    #                   by frontier size.  Ranks are independent of the
    #                   sampled range boundaries because the order key
    #                   (parent_rank, tag_rank, doc_pos) is a total order.
    cand = cand.drop("dis_prefix", "dis_rex")
    if small_rank:
        w2 = Window.orderBy(*_ORDER_COLS)
        cand = cand.withColumn(
            "discovery_rank",
            (F.row_number().over(w2).cast("long") + F.lit(next_rank - 1)),
        )
        # the rank window ran in ONE partition (that is what makes it
        # cheap for small batches) — fan the survivors back out so the
        # three downstream consumers (results/frontier/seen writes) do not
        # all serialize through a single task
        cand = cand.repartition(F.col("url_hash"))
        rank_source = None
        pre_rank = None
    else:
        # materialize the heavy pipeline (parse → W3 dedup → anti-join)
        # BEFORE the parallel rank (its counts job and the downstream
        # consumers each re-read this pin instead of re-executing the
        # pipeline).  Parent ranks are bounded by [frontier min rank,
        # next_rank) — both free from the epoch manifests — so the rank
        # uses the sampling-free bucketed strategy: ONE flat job per epoch
        # (counts+cache), not two (sampling, then counts)
        pre_rank = pin(cand)
        cand, rank_source = _global_rank(
            pre_rank, next_rank, bucket_bounds=(rank_lo, next_rank)
        )
    # crawl_depth = parent_depth + 1 is inlined into the two consumer
    # projections below instead of a dedicated withColumn — one fewer
    # eager re-analysis of the whole candidate subtree per epoch (the
    # fetch_and_classify projection-fusion rationale); the persisted
    # cache carries parent_depth, the consumers compute the same value
    crawl_depth = (F.col("parent_depth") + 1).alias("crawl_depth")

    # the candidate pipeline (parse → canonicalize → windows → anti-join)
    # feeds three consumers (gated results, seen delta, new frontier) —
    # persist so it executes once per epoch
    cand = pin(cand)

    new_results = cand.filter(~F.col("supported") | F.col("robots_blocked")).select(
        "url",
        "url_hash",
        F.when(F.col("supported"), F.col("host")).alias("host"),
        F.lit(None).cast(T.IntegerType()).alias("status"),
        F.lit(None).cast(T.StringType()).alias("error"),
        (~F.col("supported")).alias("unsupported_scheme"),
        F.lit(None).cast(T.StringType()).alias("content_type"),
        F.when(~F.col("supported"), F.lit("unsupported"))
        .otherwise(F.lit("robots_blocked"))
        .alias("classification"),
        "parent_url",
        "seed_url",
        crawl_depth,
        "discovery_rank",
        F.lit(epoch).alias("epoch"),
        F.lit(None).cast(T.StringType()).alias("image_id"),
    )

    new_frontier = cand.filter(F.col("supported") & ~F.col("robots_blocked")).select(
        "url",
        "url_hash",
        "host",
        F.xxhash64("host").alias("host_hash"),
        "priority",
        crawl_depth,
        "parent_url",
        "seed_url",
        "may_contain_links",
        "expand_links",
        "discovery_rank",
    )
    handles = [cand]
    if rank_source is not None:
        handles.append(rank_source)
    if pre_rank is not None:
        handles.append(pre_rank)
    return new_results, new_frontier, handles


def _global_rank(
    df: DataFrame,
    start: int,
    order_cols: list[str] | None = None,
    bucket_bounds: tuple[int, int] | None = None,
) -> DataFrame:
    """Dense global rank in `order_cols` order, computed in parallel —
    never a single-partition window.  Two strategies:

    * ``bucket_bounds=(lo, hi)`` — the epoch path.  The leading order
      column (parent_rank) is KNOWN to lie in [lo, hi) (frontier min rank
      and next_rank come free from the epoch manifests), so partition
      boundaries need NO sampling job: bucket = (parent_rank - lo) div
      width, a pure codegen expression that is monotone in the order key.
      ONE job (the per-bucket counts collect, which doubles as the cache
      build) replaces the range-partitioner's sampling pass + counts pass
      of the sampled path — r2 item 1 / r3 verdict item 6.  Out-of-range
      ranks clamp into the edge buckets (still correct — clamping keeps
      bucket monotone in the key; bounds only affect balance).
    * ``bucket_bounds=None`` — the general path (distributed seed init,
      where no rank bounds exist): repartitionByRange sampling + counts.

    The counts collect is metadata-sized (one row per bucket — the same
    shape Spark's own zipWithIndex uses)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T2

    order_cols = order_cols or _ORDER_COLS
    if bucket_bounds is not None:
        lo, hi = bucket_bounds
        span = max(int(hi) - int(lo), 1)
        nparts = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
        )
        nparts = max(1, min(nparts, span))
        width = -(-span // nparts)  # ceil
        bucket = F.least(
            F.greatest(
                F.expr(f"(parent_rank - {int(lo)}L) div {width}L").cast("int"),
                F.lit(0),
            ),
            F.lit(nparts - 1),
        )
        sorted_df = (
            df.withColumn("_bk", bucket)
            .repartition(nparts, F.col("_bk"))
            .sortWithinPartitions("_bk", *order_cols)
            .persist()
        )
        key_col = "_bk"
    else:
        sorted_df = (
            df.repartitionByRange(*order_cols)
            .sortWithinPartitions(*order_cols)
            .withColumn("_pid", F.spark_partition_id())
            .persist()
        )
        key_col = "_pid"
    counts = {
        r[key_col]: r["n"]
        for r in sorted_df.groupBy(key_col).agg(F.count("*").alias("n")).collect()
    }
    offsets, acc = {}, start
    for k in sorted(counts):
        offsets[k] = acc
        acc += counts[k]

    out_schema = T2.StructType(
        [f for f in sorted_df.schema.fields if f.name != key_col]
        + [T2.StructField("discovery_rank", T2.LongType(), False)]
    )

    def add_rank(batches):
        # a hash-partitioned task may hold SEVERAL buckets (sorted, so each
        # is one contiguous run, possibly split across Arrow batches);
        # `consumed` carries the per-bucket cursor across batches
        consumed: dict[int, int] = {}
        for pdf in batches:
            m = len(pdf)
            if m == 0:
                continue
            ks = pdf[key_col].to_numpy()
            ranks = np.empty(m, dtype=np.int64)
            starts = np.flatnonzero(np.r_[True, ks[1:] != ks[:-1]])
            ends = np.r_[starts[1:], m]
            for s, e in zip(starts, ends):
                b = int(ks[s])
                base = offsets.get(b, 0) + consumed.get(b, 0)
                ranks[s:e] = np.arange(base, base + (e - s), dtype=np.int64)
                consumed[b] = consumed.get(b, 0) + (e - s)
            pdf = pdf.drop(columns=[key_col])
            pdf["discovery_rank"] = pd.Series(ranks, index=pdf.index)
            yield pdf

    ranked = sorted_df.mapInPandas(add_rank, out_schema)
    return ranked, sorted_df


def results_projection(fetched: DataFrame) -> DataFrame:
    return fetched.select(
        "url",
        "url_hash",
        "host",
        "status",
        "error",
        F.lit(False).alias("unsupported_scheme"),
        "content_type",
        "classification",
        "parent_url",
        "seed_url",
        "crawl_depth",
        "discovery_rank",
        "epoch",
        "image_id",
    )


def run_epoch(
    spark: SparkSession,
    frontier: DataFrame,
    seen: DataFrame,
    web: DataFrame,
    robots: DataFrame,
    seed_authorities: list[str],
    seed_prefixes: list[str],
    epoch: int,
    next_rank: int,
    default_budget: int | None,
    broadcast_batch: bool = True,
    skip_politeness: bool = False,
    skip_robots: bool = False,
    broadcast_seen: bool = False,
    politeness_salt: int = 0,
    bloom_bcast=None,
    small_rank: bool = False,
    broadcast_parseable: bool = True,
    pace_fetch: bool = False,
    crawl_delays: dict[str, float] | None = None,
    truncate_plans: bool = False,
    rank_lo: int = 0,
    trap_budgets: DataFrame | None = None,
) -> EpochResult:
    """Wire the full epoch DAG; nothing is materialized here — the driver
    decides what to write/count (writes ARE the checkpoint).

    truncate_plans: materialize each shared intermediate with an eager
    localCheckpoint instead of persist().  Same execution work (the
    intermediates were cached anyway), but every downstream job's logical
    plan becomes a shallow checkpoint scan — without it, each of the 4-6
    concurrent epoch writes re-analyzes the FULL epoch DAG, ~8s of
    driver-serial Catalyst time per epoch at bench scale (a flat cost that
    caps scaling efficiency).  Trade-off: localCheckpoint blocks are not
    recomputable under executor loss — on a multi-executor cluster keep it
    off (the default) or point it at reliable checkpoint storage."""
    if skip_politeness:
        # no robots rows and an unbounded default budget ⇒ W1 is the
        # identity: batch = frontier, no window exchange, no robots join
        batch, carry = frontier, frontier.limit(0)
        batch_needs_pin = False  # already a shallow, re-readable scan
    else:
        batch, carry = split_politeness(
            frontier,
            robots,
            default_budget,
            salt_partitions=politeness_salt,
            trap_budgets=trap_budgets,
        )
        batch_needs_pin = True
    if truncate_plans:
        pin = lambda df: df.localCheckpoint(eager=True)  # noqa: E731
    else:
        pin = DataFrame.persist
    # The batch (politeness-bounded, body-free) feeds the fetch join, the
    # seen delta, and the dead-link anti-join — persist the SMALL side.
    # Skipped when W1 was the identity: the batch is then a bare frontier
    # scan, and re-reading a coalesced parquet is cheaper than one more
    # eager materialization job per epoch.
    if batch_needs_pin:
        batch = pin(batch)
    # fetched is BODY-FREE (status/header columns only — bodies are joined
    # in by the parse stage, see generate_candidates), so persisting it is
    # a batch-sized cache write, not a page-payload copy.  It feeds the
    # results projection, the parseable filter, and the dead-link recovery.
    fetched = fetch_and_classify(batch, web, epoch, broadcast_batch=broadcast_batch)
    if pace_fetch:
        # the interval half of politeness (robots crawl_delay): route the
        # post-join batch through the per-host applyInPandas pacer — one
        # exchange on host, each host's rows fetched serially ≥ delay
        # apart while distinct hosts proceed in parallel.  fetch_ts rides
        # along in `fetched` (results_projection drops it — outputs are
        # row-identical to the unpaced plan).
        from linkkchecker_net_spark.engine.paced_fetch import paced_fetch

        fetched = paced_fetch(fetched, crawl_delays or {}, default_delay=0.0)
    fetched = pin(fetched)

    seen_delta = batch.select(
        "url_hash",
        "url",
        F.col("crawl_depth").alias("first_depth"),
        F.lit(epoch).alias("epoch"),
    )
    seen_through_now = seen.select("url_hash", "url").unionByName(
        seen_delta.select("url_hash", "url")
    )

    candidates, page_meta, html_persisted = generate_candidates(
        fetched, web, seed_authorities, seed_prefixes, epoch,
        broadcast_parseable=broadcast_parseable,
        pin=pin,
    )
    gated_results, new_frontier, cand_persists = dedup_gate_rank(
        candidates,
        seen_through_now,
        carry,
        robots,
        batch,
        next_rank,
        epoch,
        skip_robots=skip_robots,
        broadcast_seen=broadcast_seen,
        bloom_bcast=bloom_bcast,
        bloom_gap=seen_delta if bloom_bcast is not None else None,
        small_rank=small_rank,
        broadcast_batch=broadcast_batch,
        pin=pin,
        rank_lo=rank_lo,
    )
    results = results_projection(fetched).unionByName(gated_results)
    # terminal gated rows (unsupported / robots_blocked) are claimed too —
    # they enter the seen set at their discovery depth, like the oracle's
    # sequential walk (and ScanResults.AddOrReplace at Engine.cs:263-273)
    seen_delta = seen_delta.unionByName(
        gated_results.select(
            "url_hash",
            "url",
            F.col("crawl_depth").alias("first_depth"),
            F.col("epoch"),
        )
    )
    return EpochResult(
        batch=batch,
        carry=carry,
        results=results,
        page_meta=page_meta,
        seen_delta=seen_delta,
        new_frontier_entries=new_frontier,
        persisted=[batch, fetched, html_persisted, *cand_persists],
        fetched=fetched,
    )
