"""BFS epoch driver loop with checkpoint/resume (SURVEY.md §7 M3).

The reference's recursion-as-task-tree (Engine.cs:322-349) becomes
iteration over depth: one Spark job per epoch materializes
frontier/seen/results/page_meta/metrics to the checkpoint catalog, and the
manifest commit (atomic rename) makes every epoch a resume point — kill the
process anywhere and `CrawlDriver.resume()` continues from the last
complete epoch, producing final tables content-identical to an
uninterrupted run (north-rule resume gate; the reference's analog is
cancellation handling at Program.cs:31-40).
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from linkkchecker_net_spark import schemas
from linkkchecker_net_spark.engine import catalog, epoch as epoch_mod
from linkkchecker_net_spark.engine.filters import build_bloom
from linkkchecker_net_spark.kernels.canonicalize import (
    authority_udf,
    base_prefix_udf,
    host_udf,
    normalize_seed_udf,
)


@dataclass
class CrawlConfig:
    ckpt_dir: str
    # per-host politeness budget per epoch.  None is the EXPLICIT unbounded
    # sentinel (W1 skipped when robots is also empty); any integer — however
    # large — is always enforced.  Never inferred from magnitude: a genuine
    # 10^8 budget on a 10^10-URL host must bound that host.
    default_budget: int | None = None
    max_epochs: int = 1000
    # broadcast the politeness-bounded batch into the fetch join (web never
    # shuffles).  Above the threshold the fetch join becomes a plain
    # left-outer shuffle join — with the body column split out of the fetch
    # join (epoch.py), the web's meta side is ~90 B/row, so shuffling it
    # beats funneling the batch through a driver-side broadcast collect
    # (which is serial driver time: collect + hash-relation build, repeated
    # for the parent-enrichment join — pure flat cost that caps scaling
    # efficiency).  Measured on the bench box: the parallel exchange wins
    # from ~20k rows up at 8 cores, and the gap widens with cores.
    broadcast_batch_threshold: int = 20_000
    # the parse stage's body join broadcasts the (ok ∧ parseable) key set so
    # page payloads never shuffle; above this the bodies exchange instead
    broadcast_parseable_threshold: int = 2_000_000
    # broadcast the seen key set into the anti-join while it is genuinely
    # small; beyond this the exchange anti-join (+ bloom layering) kicks in.
    # Driver-side collect+build of the broadcast hash relation costs more
    # than a parallel exchange of the (skinny) candidate keys well before
    # executor memory becomes the binding constraint.
    broadcast_seen_threshold: int = 200_000
    # J7: two-phase salted politeness top-K (0 = off); set to ~#cores when a
    # single host can dominate the frontier
    politeness_salt: int = 0
    # bloom pre-filter for the exchange anti-join path (built per epoch from
    # the seen set; only used once the seen set exceeds the broadcast
    # threshold)
    use_bloom: bool = False
    bloom_fp_rate: float = 0.01
    # compact seen deltas into one snapshot when this many accumulate —
    # keeps the anti-join read fan-in bounded across long crawls
    seen_compact_every: int = 8
    # W2 rank strategy: epochs whose ESTIMATED rank-input (survivor) count
    # falls below this use one row_number window (zero extra jobs); above
    # it the parallel bucketed-sort + offsets path.  The estimate is
    # frontier_count x the PREVIOUS epoch's observed survivors-per-fetched-
    # page ratio (from the manifests) x a 2x safety factor — NOT raw
    # frontier rows (r3 verdict: a 199k-page frontier at 150 links/page
    # pushed ~10^7 survivor rows through one window task while still
    # classifying as "small").
    parallel_rank_threshold: int = 200_000
    # first epoch only (no observed ratio yet): assumed survivors per
    # fetched page.  Worst-case single-window exposure is bounded by
    # (true links-per-page / assumed) x threshold, after which the
    # observed ratio takes over.
    assumed_links_per_page: int = 64
    # materialize epoch intermediates via eager localCheckpoint so every
    # epoch write analyzes a shallow plan (kills ~8s/epoch of driver-serial
    # Catalyst re-analysis).  Off by default: checkpoint blocks are not
    # recomputable under executor loss — safe in local/bench runs, opt-in
    # on a real cluster.
    truncate_plans: bool = False
    # interval half of politeness: route the post-join fetch batch through
    # the per-host applyInPandas pacer honoring robots crawl_delay
    # (engine/paced_fetch.py).  Off by default: the synthetic-web fetch is
    # a join, so pacing only adds wall-clock; in a live-HTTP deployment
    # this switch belongs ON.
    pace_fetch: bool = False
    # crawl-trap damping (pipeline/traps.py wired into F10): after each
    # epoch, measure URL-template explosion (distinct URLs per distinct
    # template) on the OUTGOING frontier; hosts clearing the ratio with at
    # least trap_min_urls distinct URLs get their politeness budget capped
    # at trap_budget for every later epoch (sticky — a trap host keeps
    # generating URL variety, capping keeps it bounded without banning).
    # None = off (the default; no plan change anywhere).
    trap_explosion_threshold: float | None = None
    trap_budget: int = 8
    trap_min_urls: int = 64


class CrawlDriver:
    def __init__(
        self,
        spark: SparkSession,
        web: DataFrame,
        robots: DataFrame,
        config: CrawlConfig,
    ) -> None:
        self.spark = spark
        self.web = web
        self.robots = robots
        self.cfg = config
        self._robots_empty: bool | None = None
        self._crawl_delays: dict[str, float] | None = None
        # sticky trap-host set (trap_explosion_threshold); derived per
        # epoch from the live frontier, so a resumed driver re-converges
        # from the same frontier without any extra checkpoint state
        self._trap_hosts: set[str] = set()
    def _politeness_flags(self) -> tuple[bool, bool]:
        """(skip_politeness, skip_robots): with an empty robots table and the
        EXPLICIT unbounded sentinel (default_budget=None), W1 and F10 are
        identities — skip their exchanges.  An integer budget is always
        enforced, regardless of magnitude."""
        if self._robots_empty is None:
            self._robots_empty = self.robots.limit(1).count() == 0
        unbounded = self.cfg.default_budget is None
        return (self._robots_empty and unbounded, self._robots_empty)

    def _estimated_rank_input(self, state: dict) -> int:
        """Upper-bound estimate of this epoch's W2 rank input (candidate
        survivors): batch size (<= frontier_count) x survivors-per-fetched-
        page, where the ratio is the previous epoch's OBSERVED
        ranked_rows/fetched (carried in the manifests) x 2 safety, or
        `assumed_links_per_page` on the first epoch."""
        ratio = state.get("rank_ratio")
        if ratio is None:
            ratio = float(self.cfg.assumed_links_per_page)
        else:
            ratio = 2.0 * float(ratio)
        return int(state["frontier_count"] * max(ratio, 1.0))

    def _delays(self) -> dict[str, float]:
        """robots crawl_delay dimension, collected once (small dim table)."""
        if self._crawl_delays is None:
            if self._robots_empty:
                self._crawl_delays = {}
            else:
                self._crawl_delays = {
                    r["host"]: float(r["crawl_delay"])
                    for r in self.robots.select("host", "crawl_delay")
                    .filter(F.col("crawl_delay") > 0)
                    .collect()
                }
        return self._crawl_delays

    # ------------------------------------------------------------------ init
    def init_seeds(self, seeds: list[dict]) -> dict:
        """Epoch-0 init from a seed list: list position is the
        first-occurrence order and a missing priority is 0; the list
        becomes a seed DataFrame for :meth:`init_seeds_df`."""
        import pandas as pd

        # a pandas frame converts through Arrow in one block, where a list
        # of rows is pickled row by row (~8 task-seconds for 20k seeds);
        # explicit dtypes because pandas 2.x types empty columns float64,
        # which Arrow cannot cast to the string/int schema
        pdf = pd.DataFrame({
            "idx": pd.Series(range(len(seeds)), dtype="int64"),
            "seed_url": pd.Series([s.get("seed_url") for s in seeds], dtype=object),
            "priority": pd.Series([int(s.get("priority", 0)) for s in seeds], dtype="int32"),
        })
        return self.init_seeds_df(
            self.spark.createDataFrame(pdf, "idx long, seed_url string, priority int")
        )

    def init_seeds_df(self, seeds_df: DataFrame) -> dict:
        """Epoch-0 init: writes the init frontier, seen delta and manifest.

        `seeds_df` columns: idx (long, defines first-occurrence order),
        seed_url (string), priority (int).  Each seed goes through
        `normalize_seed` (EngineConfig.cs:58-70 scheme defaulting +
        canonicalization); the first occurrence of each URL is kept, with
        its priority, and seeds are claimed at init with dense ranks in
        input order.  Every step is a DataFrame op, so a seed list far
        beyond driver memory still initializes.

        Ranks come from epoch._global_rank (parallel range-partition sort +
        per-partition offsets) — a 10^10-seed list never funnels through a
        single-partition window.
        """
        canon = seeds_df.select(
            "idx",
            F.col("priority").cast("int").alias("priority"),
            normalize_seed_udf("seed_url").alias("url"),
        ).filter(F.col("url").isNotNull())
        first = canon.groupBy("url").agg(
            F.min("idx").alias("idx"),
            F.min_by("priority", "idx").alias("priority"),
        )
        ranked, rank_src = epoch_mod._global_rank(first, 0, order_cols=["idx"])
        frontier = (
            ranked.withColumn("host", F.coalesce(host_udf(F.col("url")), F.lit("")))
            .select(
                "url",
                F.xxhash64("url").alias("url_hash"),
                "host",
                F.xxhash64(F.col("host")).alias("host_hash"),
                "priority",
                F.lit(0).alias("crawl_depth"),
                F.lit(None).cast("string").alias("parent_url"),
                F.col("url").alias("seed_url"),
                F.lit(True).alias("may_contain_links"),
                F.lit(True).alias("expand_links"),
                "discovery_rank",
            )
            # already range-partitioned by the rank sort — no extra exchange
        )
        d = catalog.init_dir(self.cfg.ckpt_dir)
        os.makedirs(d, exist_ok=True)
        obs = Observation("init_seeds")
        catalog.write_table(
            frontier.observe(obs, F.count(F.lit(1)).alias("n")),
            os.path.join(d, "frontier"),
        )
        rank_src.unpersist()
        written = self.spark.read.parquet(os.path.join(d, "frontier"))
        init_delta = written.select(
            "url_hash", "url", F.col("crawl_depth").alias("first_depth"),
            F.lit(-1).alias("epoch"),
        )
        catalog.write_table(init_delta, os.path.join(d, "seen_delta"))
        n = int(obs.get["n"])
        # one job for both seed-config dimensions (authority set + base
        # prefixes), partial-aggregated map-side — not two full re-scans
        pairs = (
            written.select(
                authority_udf("url").alias("a"), base_prefix_udf("url").alias("p")
            )
            .distinct()
            .collect()
        )
        seed_auths = sorted({r["a"] for r in pairs if r["a"] is not None})
        seed_prefixes = sorted({r["p"] for r in pairs if r["p"] is not None})
        manifest = {
            "next_rank": n,
            "frontier_count": n,
            "seed_authorities": seed_auths,
            "seed_prefixes": seed_prefixes,
            "next_epoch": 0,
        }
        catalog.write_manifest(d, manifest)
        return manifest

    # ------------------------------------------------------------- one epoch
    def _seen_paths(self, state: dict, upto_epoch: int) -> list[str]:
        """Seen-set read set: compacted base snapshot (if any) + the delta
        dirs after it.  Deltas are never deleted — compaction only bounds
        the per-epoch read fan-in."""
        base = state.get("seen_base")
        if base:
            paths = [base]
            start = state["seen_base_epoch"] + 1
        else:
            paths = [os.path.join(catalog.init_dir(self.cfg.ckpt_dir), "seen_delta")]
            start = 0
        for e in range(start, upto_epoch + 1):
            p = os.path.join(catalog.epoch_dir(self.cfg.ckpt_dir, e), "seen_delta")
            if os.path.isdir(p):
                paths.append(p)
        return [p for p in paths if os.path.isdir(p)]

    def _read_state(self) -> dict:
        """Locate the last complete epoch (or init) and rebuild loop state."""
        ck = self.cfg.ckpt_dir
        epochs = catalog.list_complete_epochs(ck)
        if epochs:
            last = epochs[-1]
            man = catalog.read_manifest(catalog.epoch_dir(ck, last))
            frontier_path = os.path.join(catalog.epoch_dir(ck, last), "frontier")
        else:
            man = catalog.read_manifest(catalog.init_dir(ck))
            if man is None:
                raise RuntimeError("checkpoint not initialized — call init_seeds()")
            last = -1
            frontier_path = os.path.join(catalog.init_dir(ck), "frontier")
        return {
            "next_epoch": man["next_epoch"],
            "next_rank": man["next_rank"],
            "frontier_count": man["frontier_count"],
            "seed_authorities": man["seed_authorities"],
            "seed_prefixes": man.get("seed_prefixes", []),
            "last_epoch": last,
            "frontier_path": frontier_path,
            "seen_base": man.get("seen_base"),
            "seen_base_epoch": man.get("seen_base_epoch", -2),
            "seen_total": man.get("seen_total", man["frontier_count"]),
            "frontier_min_rank": man.get("min_rank_fro", 0),
            "rank_ratio": man.get("rank_ratio"),
        }

    def run_one_epoch(self, state: dict) -> dict:
        ck, cfg, spark = self.cfg.ckpt_dir, self.cfg, self.spark
        e = state["next_epoch"]
        t0 = time.monotonic()
        # NOTE: re-reading the (small, coalesced) frontier parquet each epoch
        # is deliberate — it truncates the logical plan at every epoch
        # boundary.  Chaining the live DataFrame across epochs grows the
        # plan tree exponentially with depth (Catalyst re-optimizes, and
        # even explainString OOMs, by ~epoch 10); the read itself is lazy
        # and folds into the next epoch's first job.
        frontier = catalog.read_table(spark, state["frontier_path"])
        skip_pol, skip_rob = self._politeness_flags()
        trap_budgets = None
        if cfg.trap_explosion_threshold is not None and self._trap_hosts:
            trap_budgets = spark.createDataFrame(
                [(h, cfg.trap_budget) for h in sorted(self._trap_hosts)],
                "host string, trap_budget long",
            )
            # a capped host makes W1 a real bound even when the default
            # budget is the unbounded sentinel and robots is empty
            skip_pol = False
        broadcast_seen = (
            state.get("seen_total", 0) + state["frontier_count"]
            <= cfg.broadcast_seen_threshold
        )
        seen = spark.read.parquet(*self._seen_paths(state, e - 1))
        bloom_bcast = None
        if cfg.use_bloom and not broadcast_seen:
            blob = build_bloom(
                seen.select("url_hash"),
                capacity_hint=max(state.get("seen_total", 0), 1024),
                fp_rate=cfg.bloom_fp_rate,
            )
            # ship via TorrentBroadcast (one copy per executor), never as a
            # closure capture re-pickled into every task
            bloom_bcast = spark.sparkContext.broadcast(blob)
        res = epoch_mod.run_epoch(
            spark,
            frontier=frontier,
            seen=seen,
            web=self.web,
            robots=self.robots,
            seed_authorities=state["seed_authorities"],
            seed_prefixes=state["seed_prefixes"],
            epoch=e,
            next_rank=state["next_rank"],
            default_budget=cfg.default_budget,
            broadcast_batch=state["frontier_count"] <= cfg.broadcast_batch_threshold,
            skip_politeness=skip_pol,
            skip_robots=skip_rob,
            broadcast_seen=broadcast_seen,
            politeness_salt=cfg.politeness_salt,
            bloom_bcast=bloom_bcast,
            small_rank=(small_rank := (
                self._estimated_rank_input(state) < cfg.parallel_rank_threshold
            )),
            broadcast_parseable=state["frontier_count"]
            <= cfg.broadcast_parseable_threshold,
            pace_fetch=cfg.pace_fetch,
            crawl_delays=self._delays() if cfg.pace_fetch else None,
            truncate_plans=cfg.truncate_plans,
            rank_lo=state.get("frontier_min_rank", 0),
            trap_budgets=trap_budgets,
        )
        self._last_small_rank = small_rank  # observability for tests

        ed = catalog.epoch_dir(ck, e)
        os.makedirs(ed, exist_ok=True)
        # the expensive shared stages (fetch join, candidate pipeline) are
        # persisted inside run_epoch — each executes exactly once.  Output
        # partition count tracks the epoch size so small epochs write a few
        # files, not shuffle_partitions-many tiny ones.
        nparts = max(1, min(64, state["frontier_count"] // 20_000 + 1))
        # results first and UNcoalesced: it materializes the persisted
        # intermediates at full parallelism (a trailing coalesce(1) would
        # serialize the whole cache build into one task); the small state
        # tables then write from cache with few output files.  Epoch stats
        # ride the writes via observe() — zero extra aggregation jobs.
        classes = ["ok", "redirect", "broken", "error", "unsupported", "robots_blocked"]
        obs_r = Observation(f"results_e{e}")
        results_obs = res.results.observe(
            obs_r,
            *[
                F.sum(F.when(F.col("classification") == c, 1).otherwise(0)).alias(c)
                for c in classes
            ],
            F.max("discovery_rank").alias("mx"),
        )
        # the three state tables are small projections of the epoch caches:
        # `repartition`, NOT `coalesce`, bounds the output file count — a
        # trailing coalesce(n) would collapse the upstream cache scan itself
        # to n tasks, serializing a 100s-of-MB read to write a 1 MB table.
        # All FOUR writes are submitted concurrently: they are independent
        # sinks of the same persisted intermediates, and the cache's
        # per-partition block locking makes racing jobs share (not repeat)
        # the pipeline computation — the small state writes ride inside the
        # big results write's wall-clock instead of trailing it as
        # driver-serial fixed cost (which caps scaling efficiency).
        new_frontier = res.carry.unionByName(res.new_frontier_entries)
        obs_f = Observation(f"frontier_e{e}")
        frontier_obs = new_frontier.observe(
            obs_f,
            F.count(F.lit(1)).alias("n"),
            F.max("discovery_rank").alias("mx"),
            # min rank bounds next epoch's bucketed W2 rank (rank_lo)
            F.min("discovery_rank").alias("mn"),
        ).repartition(nparts)
        import concurrent.futures as _cf

        writes = {
            "results": results_obs,
            "seen_delta": res.seen_delta.repartition(nparts),
            "page_meta": res.page_meta.repartition(nparts),
            "frontier": frontier_obs,
        }
        with _cf.ThreadPoolExecutor(len(writes)) as pool:
            futs = [
                pool.submit(catalog.write_table, df, os.path.join(ed, name))
                for name, df in writes.items()
            ]
            for f in futs:
                f.result()
        # politeness audit (r3 verdict item 7): when pacing is on, record
        # the per-epoch same-host min fetch gap in the manifest, so a
        # production politeness audit is a metrics() read, not a debug run.
        # One batch-sized job over the already-persisted fetch cache —
        # pace_fetch deployments are wall-clock-bound on the sleeps anyway.
        pacing = None
        if cfg.pace_fetch and "fetch_ts" in res.fetched.columns:
            gap = F.expr(
                "array_min(zip_with(slice(ts, 2, size(ts) - 1),"
                " slice(ts, 1, size(ts) - 1), (a, b) -> a - b))"
            )
            prow = (
                res.fetched.groupBy("host")
                .agg(F.sort_array(F.collect_list("fetch_ts")).alias("ts"))
                .filter(F.size("ts") >= 2)
                .select(gap.alias("g"))
                .agg(F.min("g").alias("mg"), F.count("*").alias("nh"))
                .collect()[0]
            )
            pacing = {
                "min_gap_sec": float(prow["mg"]) if prow["mg"] is not None else None,
                "multi_fetch_hosts": int(prow["nh"] or 0),
            }
        # trap measurement (pipeline/traps.py): URL-template explosion on
        # the OUTGOING frontier — the host whose frontier share keeps
        # growing in URL variety but not in templates is the trap.  One
        # batch-sized aggregate over the already-persisted intermediates;
        # the driver collects FLAGGED HOSTS ONLY (bounded by real trap
        # count — for adversarial trap fleets swap the collect for a
        # DataFrame join into the next epoch's trap_budgets dim).
        if cfg.trap_explosion_threshold is not None:
            from linkkchecker_net_spark.pipeline.traps import (
                trap_hosts as _trap_hosts_op,
            )

            flagged = (
                _trap_hosts_op(
                    new_frontier.select("url"),
                    explosion_threshold=cfg.trap_explosion_threshold,
                )
                .filter(F.col("trap") & (F.col("n_urls") >= cfg.trap_min_urls))
                .select("host")
                .collect()
            )
            self._trap_hosts.update(r["host"] for r in flagged)
        for df in res.persisted:
            df.unpersist()

        rstats, fstats = obs_r.get, obs_f.get
        by_class = {c: int(rstats[c] or 0) for c in classes if rstats[c]}
        max_rank_res = rstats["mx"]
        frontier_count, max_rank_fro = int(fstats["n"]), fstats["mx"]
        min_rank_fro = int(fstats["mn"]) if fstats["mn"] is not None else 0
        # ranks are consumed by BOTH terminal result rows and new frontier
        # entries — advance past the max of either
        next_rank = max(
            state["next_rank"],
            (max_rank_res if max_rank_res is not None else -1) + 1,
            (max_rank_fro if max_rank_fro is not None else -1) + 1,
        )
        fetched_n = sum(
            v for k, v in by_class.items() if k not in ("unsupported", "robots_blocked")
        )
        elapsed = time.monotonic() - t0

        # compact the seen set when the delta fan-in gets wide
        seen_base = state.get("seen_base")
        seen_base_epoch = state.get("seen_base_epoch", -2)
        cur_paths = self._seen_paths({**state}, e)
        if len(cur_paths) > cfg.seen_compact_every:
            full = os.path.join(ed, "seen_full")
            catalog.write_table(spark.read.parquet(*cur_paths), full)
            seen_base, seen_base_epoch = full, e

        # observed survivors-per-fetched-page: ranks are consumed exactly by
        # this epoch's W2 input (gated results + new frontier entries), so
        # the next_rank delta IS the rank-input row count — the signal the
        # next epoch's small_rank gate scales by (no extra job)
        ranked_rows = next_rank - state["next_rank"]
        rank_ratio = (
            ranked_rows / fetched_n if fetched_n > 0 else state.get("rank_ratio")
        )
        manifest = {
            "next_rank": next_rank,
            "frontier_count": frontier_count,
            "seed_authorities": state["seed_authorities"],
            "seed_prefixes": state["seed_prefixes"],
            "next_epoch": e + 1,
            "by_class": by_class,
            "fetched": fetched_n,
            "elapsed_sec": elapsed,
            "seen_base": seen_base,
            "seen_base_epoch": seen_base_epoch,
            # every results row was claimed exactly once → exact seen size
            "seen_total": state.get("seen_total", 0) + sum(by_class.values()),
            "min_rank_fro": min_rank_fro,
            "rank_ratio": rank_ratio,
            "pacing": pacing,
        }
        catalog.write_manifest(ed, manifest)
        return {
            **state,
            "next_epoch": e + 1,
            "next_rank": next_rank,
            "frontier_count": frontier_count,
            "last_epoch": e,
            "frontier_path": os.path.join(ed, "frontier"),
            "seen_base": seen_base,
            "seen_base_epoch": seen_base_epoch,
            "seen_total": manifest["seen_total"],
            "frontier_min_rank": min_rank_fro,
            "rank_ratio": rank_ratio,
        }

    # ------------------------------------------------------------------ loop
    def run(
        self, seeds: list[dict] | None = None, seeds_df: DataFrame | None = None
    ) -> dict:
        """Run to frontier exhaustion.  With seeds=None, resume from the
        last complete checkpoint (wiping partially-written epochs).
        seeds_df takes the distributed init path (init_seeds_df)."""
        if seeds is not None:
            self.init_seeds(seeds)
        elif seeds_df is not None:
            self.init_seeds_df(seeds_df)
        catalog.wipe_incomplete(self.cfg.ckpt_dir)
        state = self._read_state()
        while state["frontier_count"] > 0 and state["next_epoch"] < self.cfg.max_epochs:
            state = self.run_one_epoch(state)
        return state

    resume = run  # resume() == run(seeds=None)

    # ----------------------------------------------------------- final reads
    def results(self, upto_epoch: int | None = None) -> DataFrame:
        ck = self.cfg.ckpt_dir
        last = upto_epoch if upto_epoch is not None else (catalog.list_complete_epochs(ck) or [-1])[-1]
        paths = catalog.results_paths(ck, last)
        return self.spark.read.parquet(*paths)

    def page_meta(self) -> DataFrame:
        ck = self.cfg.ckpt_dir
        last = (catalog.list_complete_epochs(ck) or [-1])[-1]
        return self.spark.read.parquet(*catalog.page_meta_paths(ck, last))

    def seen(self) -> DataFrame:
        ck = self.cfg.ckpt_dir
        last = (catalog.list_complete_epochs(ck) or [-1])[-1]
        return self.spark.read.parquet(*catalog.seen_delta_paths(ck, last))

    def metrics(self) -> DataFrame:
        """Per-epoch metrics table, materialized from the epoch manifests
        (the per-partition lineage records) — no extra write per epoch."""
        ck = self.cfg.ckpt_dir
        rows = []
        for e in catalog.list_complete_epochs(ck):
            man = catalog.read_manifest(catalog.epoch_dir(ck, e)) or {}
            bc = man.get("by_class", {})
            pacing = man.get("pacing") or {}
            rows.append(
                (
                    e,
                    man.get("fetched", 0),
                    bc.get("ok", 0),
                    bc.get("redirect", 0),
                    bc.get("broken", 0),
                    bc.get("error", 0),
                    bc.get("unsupported", 0),
                    sum(bc.values()),
                    man.get("frontier_count", 0),
                    float(man.get("elapsed_sec", 0.0)),
                    pacing.get("min_gap_sec"),
                    pacing.get("multi_fetch_hosts"),
                )
            )
        return self.spark.createDataFrame(rows, schema=schemas.METRICS)
