"""The benchmark's workloads.

Each workload generates its inputs from the seed into the run's work
directory, warms up, runs its operation repeatedly for the measurement
window, and checks the program's output.  The program is driven only
through its public functions: CrawlDriver, reports.*, catalog manifests,
pipeline.multimodal.image_metadata and imaging.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np

from metrics import Tally

# ---------------------------------------------------------------- shared


class Run:
    """State of one benchmark run: the session, the work directory, the
    tracer (traced runs only) and the failure tally."""

    def __init__(self, work: str, seed: int, seconds: float) -> None:
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.tracer = None
        self.tally = Tally()
        self.spark = None
        self.inputs = os.path.join(work, "inputs")

    def span(self, name: str, **attrs):
        from contextlib import nullcontext

        return self.tracer.span(name, **attrs) if self.tracer else nullcontext()

    def fresh_dir(self, name: str) -> str:
        path = os.path.join(self.work, name)
        shutil.rmtree(path, ignore_errors=True)
        return path


def window_open(t0: float, seconds: float, walls: list[float]) -> bool:
    """Whether to start another operation: always the first, then while
    the measurement window has not yet elapsed."""
    return not walls or time.perf_counter() - t0 < seconds


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed(fn):
    t = time.perf_counter()
    out = fn()
    return time.perf_counter() - t, out


class EpochLog:
    """Times every CrawlDriver.run_one_epoch call of one driver and reads
    the epoch's `fetched` count from its committed manifest."""

    def __init__(self, run: Run, driver) -> None:
        from linkkchecker_net_spark.engine import catalog

        self.walls: list[float] = []
        self.fetched: list[int] = []
        inner = driver.run_one_epoch

        def run_one_epoch(state):
            t = time.perf_counter()
            with run.span("driver.run_one_epoch"):
                new = inner(state)
            self.walls.append(time.perf_counter() - t)
            man = catalog.read_manifest(catalog.epoch_dir(driver.cfg.ckpt_dir, new["last_epoch"]))
            self.fetched.append(int(man["fetched"]))
            return new

        driver.run_one_epoch = run_one_epoch


def report_pass(run: Run, driver) -> dict:
    """The CLI's post-crawl reads, each forced: the failure count over the
    results, then the canonical and description reports over page_meta."""
    from linkkchecker_net_spark.reports import reports

    out = {}
    t0 = time.perf_counter()
    with run.span("reports.failure_count"):
        out["reports.failure_count_s"], out["failures"] = timed(
            lambda: reports.failure_count(driver.results())
        )
    with run.span("reports.canonical_report"):
        out["reports.canonical_s"], _ = timed(
            lambda: noop_write(reports.canonical_report(driver.page_meta()))
        )
    with run.span("reports.description_report"):
        out["reports.description_s"], _ = timed(
            lambda: noop_write(reports.description_report(driver.page_meta()))
        )
    out["report_s"] = time.perf_counter() - t0
    out["catalog.files_read"] = len(driver.results().inputFiles()) + 2 * len(
        driver.page_meta().inputFiles()
    )
    return out


def robots_rows(k: list[int], budgets: tuple) -> list[dict]:
    """The CLI's --robots table for the docweb hosts: one disallow rule per
    host (plain prefixes and an RFC 9309 wildcard), picked by `k`, and the
    given per-host budgets (None = the crawl's default budget)."""
    rules = [f"/missing/{k[0] + 1}", f"/js/app-{k[1]}", f"/canon/*{k[2]}$", f"/img/{k[3]}"]
    hosts = ["site-0.test", "site-1.test", "site-2.test", "cdn.test"]
    return [
        {"host": h, "disallow": [r], "crawl_delay": 0.0, "budget": b}
        for h, r, b in zip(hosts, rules, budgets)
    ]


def write_robots(run: Run, rows: list[dict]) -> None:
    import pandas as pd

    from linkkchecker_net_spark import schemas

    run.spark.createDataFrame(pd.DataFrame(rows), schema=schemas.ROBOTS).write.mode(
        "overwrite"
    ).parquet(os.path.join(run.inputs, "robots"))


# ------------------------------------------------------- crawl_saturated


def _page_class(i: int) -> str:
    if i < 3:
        return "ok"
    m = i % 17
    return {3: "broken", 5: "redirect", 7: "broken", 11: "error", 13: "redirect"}.get(m, "ok")


def saturated_expected(n: int) -> dict[str, str]:
    """url -> classification for one saturated crawl of the n-page docweb,
    from the docweb formulas: every page by its status, every other seeded
    link target is absent from the web (broken), and each expanded page
    with i % 11 == 4 adds one unsupported mailto link."""
    exp = {f"http://site-{i % 3}.test/page/{i}": _page_class(i) for i in range(n)}
    for i in range(n):
        base = f"http://site-{i % 3}.test"
        others = [f"{base}/page/{(i * 13 + 1) % n}"]
        if i % 7 == 2:
            others.append(f"{base}/missing/{i}")
        if i % 4 == 1:
            others += [f"{base}/canon/{i}", f"http://cdn.test/img/{(i * 3) % 60}.bin"]
        if i % 5 == 3:
            others.append(f"{base}/js/app-{i % 7}.js")
        if i % 9 == 6:
            others.append(f"http://cdn.test/bg/{i % 20}.png")
        for u in others:
            exp.setdefault(u, "broken")
        if _page_class(i) == "ok" and i % 11 == 4:
            exp[f"mailto:user{i}@example.test"] = "unsupported"
    return exp


class CrawlSaturated:
    """The full reachable set of a heavy-page docweb seeded through
    init_seeds_df, with an unbounded budget: one saturated epoch per
    crawl.  A robots table with disallow rules (no per-host budgets) keeps
    the politeness window and robots gating in the plan; every URL they
    could block is already seeded, so the results stay the formula's."""

    name = "crawl_saturated"
    PAGES = 2000
    # the warm-up crawl runs the same code paths over a small web, so the
    # measured crawl pays no first-use cost (worker start, kernel imports)
    WARM_PAGES = 200

    def __init__(self, run: Run) -> None:
        rng = np.random.default_rng([run.seed, 1])
        # the page count stays fixed for every seed: which host a docweb
        # link lands on depends on it, so it changes the number of URLs
        self.n = self.PAGES
        # seeded order of the seed list: idx -> (idx * a + b) mod p is a
        # bijection on [0, p) for prime p > every idx
        self.p = 2_147_483_647
        self.a = int(rng.integers(1, self.p))
        self.b = int(rng.integers(0, self.p))
        k = [int(x) for x in rng.integers(0, 7, size=4)]
        self.robots = robots_rows(k, budgets=(None, None, None, None))
        self.ops: list[dict] = []

    def make_inputs(self, run: Run) -> None:
        """The web snapshot and the seed list as stored tables, the way
        the CLI reads its inputs; the seed list holds every URL the web can
        reach, in a seeded order."""
        from pyspark.sql import functions as F

        from linkkchecker_net_spark.fixtures import docweb

        for n in (self.n, self.WARM_PAGES):
            # bench.py's leg page weight: 150 extra links, ~30 KB of filler
            docweb.build_web_for_bench(
                run.spark, n, partitions=16, extra_links=150, filler=30000
            ).write.mode("overwrite").parquet(os.path.join(run.inputs, f"web{n}"))
            docweb.saturated_seed_df(run.spark, n, partitions=8).withColumn(
                "idx", (F.col("idx") * F.lit(self.a) + F.lit(self.b)) % F.lit(self.p)
            ).write.mode("overwrite").parquet(os.path.join(run.inputs, f"seeds{n}"))
        write_robots(run, self.robots)

    def load_inputs(self, run: Run) -> None:
        for x in (f"web{self.n}", f"seeds{self.n}", "robots"):
            run.spark.read.parquet(os.path.join(run.inputs, x)).count()

    def crawl(self, run: Run, n: int) -> dict:
        from linkkchecker_net_spark.engine.driver import CrawlConfig, CrawlDriver

        spark = run.spark
        ck = run.fresh_dir("ckpt_saturated")
        driver = CrawlDriver(
            spark,
            spark.read.parquet(os.path.join(run.inputs, f"web{n}")),
            spark.read.parquet(os.path.join(run.inputs, "robots")),
            CrawlConfig(ckpt_dir=ck),
        )
        log = EpochLog(run, driver)
        with run.span("driver.init_seeds_df"):
            seeds = spark.read.parquet(os.path.join(run.inputs, f"seeds{n}"))
            ingest_s, _ = timed(lambda: driver.init_seeds_df(seeds))
        loop_s, _ = timed(driver.run)
        return {"driver": driver, "ingest_s": ingest_s, "loop_s": loop_s, "log": log}

    def check(self, run: Run, driver, n: int) -> bool:
        got = [(r["url"], r["classification"]) for r in driver.results().select("url", "classification").collect()]
        exp = saturated_expected(n)
        ok = len(got) == len(exp) and dict(got) == exp
        return run.tally.record(ok, f"{self.name}: results differ from the docweb formula")

    def warmup(self, run: Run) -> None:
        c = self.crawl(run, self.WARM_PAGES)
        self.check(run, c["driver"], self.WARM_PAGES)

    def measure(self, run: Run) -> dict:
        t0 = time.perf_counter()
        self.ops = []
        walls = [c["ingest_s"] + c["loop_s"] for c in self.ops]
        while window_open(t0, run.seconds, walls):
            c = self.crawl(run, self.n)
            self.check(run, c["driver"], self.n)
            self.ops.append(c)
            walls.append(c["ingest_s"] + c["loop_s"])
        fetched = [sum(c["log"].fetched) for c in self.ops]
        return {
            "samples": walls,
            # URLs per second of the whole crawl a user waits for, seed
            # ingest included; the loop-only rate splits ingest from the
            # epoch differently run to run, so it is printed, not gated
            "rate_per_s": _median([f / w for f, w in zip(fetched, walls)]),
            "op_s.p50": _median(walls),
            "crawl_urls_per_s": _median([f / c["loop_s"] for f, c in zip(fetched, self.ops)]),
            "seed_ingest_s": _median([c["ingest_s"] for c in self.ops]),
        }

    def post(self, run: Run) -> dict:
        out = report_pass(run, self.ops[-1]["driver"])
        exp = sum(1 for v in saturated_expected(self.n).values() if v != "ok")
        run.tally.record(out["failures"] == exp, f"{self.name}: failure_count {out['failures']} != {exp}")
        return out


# ------------------------------------------------------------ crawl_ramp


class CrawlRamp:
    """BFS from the three docweb seeds over a light-page web with a
    per-host budget and a robots table: many small epochs, politeness
    and robots gating on."""

    name = "crawl_ramp"
    PAGES = 1200
    BUDGET = 3
    WARM_EPOCHS = 4

    def __init__(self, run: Run) -> None:
        rng = np.random.default_rng([run.seed, 2])
        self.n = self.PAGES
        k = [int(x) for x in rng.integers(0, 7, size=4)]
        self.robots = robots_rows(k, budgets=(self.BUDGET + 1, None, self.BUDGET - 1, None))
        self.driver = None
        self.cfg = None
        self.log = None

    def make_inputs(self, run: Run) -> None:
        from pyspark.sql import functions as F

        from linkkchecker_net_spark.fixtures import docweb

        docs = os.path.join(run.inputs, "docs")
        run.spark.range(0, self.n, 1, 4).select(F.col("id").alias("doc_id")).write.mode(
            "overwrite"
        ).parquet(os.path.join(docs, "documents.parquet"))
        docweb.build_web(run.spark, docs).write.mode("overwrite").parquet(
            os.path.join(run.inputs, "web")
        )
        write_robots(run, self.robots)

    def load_inputs(self, run: Run) -> None:
        for x in ("web", "robots"):
            run.spark.read.parquet(os.path.join(run.inputs, x)).count()

    def _start(self, run: Run) -> None:
        from linkkchecker_net_spark.engine.driver import CrawlConfig, CrawlDriver
        from linkkchecker_net_spark.fixtures import docweb

        spark = run.spark
        self.cfg = CrawlConfig(
            ckpt_dir=run.fresh_dir("ckpt_ramp"), default_budget=self.BUDGET, max_epochs=0
        )
        self.driver = CrawlDriver(
            spark,
            spark.read.parquet(os.path.join(run.inputs, "web")),
            spark.read.parquet(os.path.join(run.inputs, "robots")),
            self.cfg,
        )
        self.log = EpochLog(run, self.driver)
        self.driver.init_seeds(docweb.seeds())

    def _epoch(self, run: Run) -> bool:
        """Run one more epoch; False once the frontier is exhausted."""
        self.cfg.max_epochs += 1
        state = self.driver.resume()
        return state["frontier_count"] > 0

    def warmup(self, run: Run) -> None:
        self._start(run)
        for _ in range(self.WARM_EPOCHS):
            self._epoch(run)

    def measure(self, run: Run) -> dict:
        start = len(self.log.walls)
        t0 = time.perf_counter()
        while window_open(t0, run.seconds, self.log.walls[start:]):
            if not self._epoch(run):
                break
        walls, fetched = self.log.walls[start:], self.log.fetched[start:]
        for _ in walls:
            run.tally.record(True)
        if not walls:
            run.tally.record(False, f"{self.name}: no epoch completed")
        return {
            "samples": walls,
            "rate_per_s": sum(fetched) / sum(walls),
            "op_s.p50": _median(walls),
            "crawl_urls_per_s": sum(fetched) / sum(walls),
        }

    def check(self, run: Run) -> None:
        """Results order and seen set equal the oracle's after the same
        number of epochs, under the same seeds, robots and budget."""
        from linkkchecker_net_spark.fixtures import docweb
        from linkkchecker_net_spark.oracle import bfs

        cols = ["url", "status", "classification", "parent_url", "crawl_depth", "discovery_rank", "epoch"]
        web_rows = [
            {**r.asDict(), "body": bytes(r["body"]) if r["body"] is not None else None}
            for r in run.spark.read.parquet(os.path.join(run.inputs, "web")).collect()
        ]
        epochs = self.cfg.max_epochs
        oracle = bfs.crawl_oracle(
            web_rows, docweb.seeds(), self.robots, default_budget=self.BUDGET, max_epochs=epochs
        )
        got = sorted(
            (tuple(r) for r in self.driver.results().select(*cols).collect()), key=lambda t: t[5]
        )
        want = sorted((tuple(r[c] for c in cols) for r in oracle.results), key=lambda t: t[5])
        run.tally.record(got == want, f"{self.name}: results differ from the oracle after {epochs} epochs")
        seen = {(r["url"], r["first_depth"]) for r in self.driver.seen().collect()}
        run.tally.record(seen == set(oracle.seen.items()), f"{self.name}: seen set differs from the oracle")

    def post(self, run: Run) -> dict:
        self.check(run)
        return report_pass(run, self.driver)


# ------------------------------------------------------- validate_corpus

SIDES = (48, 64, 96, 128, 160, 192, 224, 256)
FORMATS = ("png", "jpeg", "gif")


def size_class(side: int) -> str:
    return "small" if side < 112 else "medium" if side < 176 else "large"


class ValidateCorpus:
    """image_metadata(level="full") over an image+caption corpus in the
    BASELINE.json shape: png/jpeg/gif in equal thirds, sides 48-256 px."""

    name = "validate_corpus"
    IMAGES = 800
    WARM_PASSES = 2

    def __init__(self, run: Run) -> None:
        self.expected = None

    def make_inputs(self, run: Run) -> None:
        import pandas as pd
        from pyspark.sql import functions as F

        seed = run.seed

        def gen(batches):
            from linkkchecker_net_spark import imaging

            for pdf in batches:
                out = {k: [] for k in ("image_id", "bytes", "w", "h", "fmt", "caption", "phash")}
                for i in pdf["id"].astype(int):
                    rng = np.random.default_rng([seed, 3, int(i)])
                    side = SIDES[i % len(SIDES)]
                    w, h = (side + int(d) for d in rng.integers(-4, 5, size=2))
                    fmt = FORMATS[(i // len(SIDES)) % len(FORMATS)]
                    data = imaging.encode_image(imaging.make_image(rng, w, h), fmt)
                    out["image_id"].append(f"img_{i:06d}")
                    out["bytes"].append(data)
                    out["w"].append(w)
                    out["h"].append(h)
                    out["fmt"].append(fmt)
                    out["caption"].append(f"caption of img_{i:06d}: a {fmt} of {w}x{h}")
                    out["phash"].append(imaging.phash64(imaging.decode_image(data, fmt)))
                yield pd.DataFrame(out)

        run.spark.range(0, self.IMAGES, 1, 16).select(F.col("id")).mapInPandas(
            gen, "image_id string, bytes binary, w int, h int, fmt string, caption string, phash long"
        ).write.mode("overwrite").parquet(os.path.join(run.inputs, "corpus"))

    def load_inputs(self, run: Run) -> None:
        self.corpus(run).count()

    def corpus(self, run: Run):
        return run.spark.read.parquet(os.path.join(run.inputs, "corpus"))

    def one_pass(self, run: Run) -> dict:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from linkkchecker_net_spark.pipeline.multimodal import image_metadata

        obs = Observation("validate")
        meta = image_metadata(self.corpus(run), level="full").observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.count_if("decode_ok").alias("ok"),
            F.bit_xor(F.xxhash64("image_id", "phash")).alias("x"),
        )
        with run.span("multimodal.image_metadata"):
            wall, _ = timed(lambda: noop_write(meta))
        got = obs.get
        return {"wall": wall, "n": int(got["n"]), "ok": int(got["ok"]), "x": got["x"]}

    def warmup(self, run: Run) -> None:
        from pyspark.sql import functions as F

        from linkkchecker_net_spark.pipeline.multimodal import image_metadata

        corpus = self.corpus(run)
        row = corpus.agg(
            F.count(F.lit(1)).alias("n"), F.bit_xor(F.xxhash64("image_id", "phash")).alias("x")
        ).collect()[0]
        self.expected = {"n": int(row["n"]), "x": row["x"]}
        stored = {r["image_id"]: r["phash"] for r in corpus.select("image_id", "phash").collect()}
        got = image_metadata(corpus, level="full").select("image_id", "decode_ok", "phash").collect()
        ok = len(got) == len(stored) and all(r["decode_ok"] and stored.get(r["image_id"]) == r["phash"] for r in got)
        run.tally.record(ok, f"{self.name}: a row failed to decode or its phash differs from the stored one")
        # pass times keep falling over the first few passes of a process
        for _ in range(self.WARM_PASSES):
            self.one_pass(run)

    def measure(self, run: Run) -> dict:
        t0 = time.perf_counter()
        passes = []
        while window_open(t0, run.seconds, [p["wall"] for p in passes]):
            p = self.one_pass(run)
            exp = self.expected
            run.tally.record(
                p["n"] == exp["n"] and p["ok"] == exp["n"] and p["x"] == exp["x"],
                f"{self.name}: pass output differs from the stored corpus",
            )
            passes.append(p)
        return {
            "samples": [p["wall"] for p in passes],
            "rate_per_s": _median([p["ok"] / p["wall"] for p in passes]),
            "op_s.p50": _median([p["wall"] for p in passes]),
            "validate_images_per_s": _median([p["ok"] / p["wall"] for p in passes]),
            "decode_fail_frac": 1 - sum(p["ok"] for p in passes) / sum(p["n"] for p in passes),
        }

    def post(self, run: Run) -> dict:
        return {}

    def microbench(self, run: Run, per_class: int = 12) -> dict:
        """Single-thread per-image cost of decode, phash and the feature
        battery on this workload's own images, by size class."""
        from linkkchecker_net_spark import imaging
        from linkkchecker_net_spark.pipeline import multimodal

        rows = self.corpus(run).select("bytes", "fmt", "w", "h").limit(per_class * 3 * len(SIDES)).collect()
        cost: dict[str, dict[str, list[float]]] = {}
        for r in rows:
            cls = cost.setdefault(size_class(max(r["w"], r["h"])), {"decode": [], "phash": [], "features": []})
            data, fmt = bytes(r["bytes"]), r["fmt"]
            arr = imaging.decode_image(data, fmt)
            for key, fn in (
                ("decode", lambda: imaging.decode_image(data, fmt)),
                ("phash", lambda: imaging.phash64(arr)),
                # the feature battery's kernel, which image_metadata runs per image
                ("features", lambda: multimodal._image_features(arr)),
            ):
                cls[key].append(min(timed(fn)[0] for _ in range(3)) * 1e6)
        out = {}
        for c in ("small", "medium", "large"):
            for key, metric in (("decode", "imaging.decode_us"), ("phash", "imaging.phash_us"), ("features", "multimodal.features_us")):
                xs = cost.get(c, {}).get(key, [])
                out[f"{metric}.{c}"] = _median(xs) if xs else 0.0
        return out


# ------------------------------------------------------------- query_hot

HOT_QUERIES = (
    "minhash_lsh_pairs", "dedup_clusters", "minhash_recall", "containment",
    "cluster_keep", "quality_keep", "pagerank", "hits", "host_components",
    "semantic_dedup", "ann_ivf", "bpe_merges",
)
WORDS = (
    "a the key value row column table data part hash join merge sort scan "
    "filter group agg order line customer query spark stream batch window "
    "vector small big fast slow"
).split()


def _norm_rows(cols, rows) -> tuple[list, list]:
    """Column-name-aligned, order-insensitive rows, floats to 6 places."""
    import math

    def cell(v):
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else round(v, 6)
        return v

    order = sorted(range(len(cols)), key=lambda j: cols[j])
    out = [tuple(cell(r[j]) for j in order) for r in rows]
    return sorted(cols), sorted(out, key=repr)


class QueryHot:
    """The twelve heaviest non-crawl battery queries over generated
    `documents` and `embeddings` tables, each built and then forced with
    the noop sink; one operation is one query."""

    name = "query_hot"
    DOCS = 1000
    VECS = 500

    def __init__(self, run: Run) -> None:
        self.sf = os.path.join(run.inputs, "sf")
        self.seed = run.seed

    def make_inputs(self, run: Run) -> None:
        """Tables in the shape of the repository's test data: texts of
        10-100 words over a 31-word vocabulary, 5 % near duplicates (an
        earlier text plus " dup"), a few exact duplicates; unit 64-d
        float32 embeddings with ten labels."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        rng = np.random.default_rng([self.seed, 4])
        texts: list[str] = []
        for i in range(self.DOCS):
            u = rng.random()
            if i > 10 and u < 0.05:
                texts.append(texts[int(rng.integers(0, i))] + " dup")
            elif i > 10 and u < 0.052:
                texts.append(texts[int(rng.integers(0, i))])
            else:
                texts.append(" ".join(rng.choice(WORDS[:-1] if i % 2 else WORDS, int(rng.integers(10, 101)))))
        langs = rng.choice(["en", "zh", "es", "fr", "de"], self.DOCS, p=[0.4, 0.15, 0.15, 0.15, 0.15])
        os.makedirs(self.sf, exist_ok=True)
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array(range(self.DOCS), pa.int64()),
                    "text": texts,
                    "lang": langs.tolist(),
                    "source": [f"src{i % 20}" for i in range(self.DOCS)],
                    "n_chars": pa.array([len(t) for t in texts], pa.int64()),
                }
            ),
            os.path.join(self.sf, "documents.parquet"),
        )
        emb = rng.standard_normal((self.VECS, 64)).astype(np.float32)
        emb /= np.linalg.norm(emb, axis=1, keepdims=True)
        pq.write_table(
            pa.table(
                {
                    "vec_id": pa.array(range(self.VECS), pa.int64()),
                    "embedding": pa.array(list(emb), pa.list_(pa.float32())),
                    "label": pa.array(rng.integers(0, 10, self.VECS), pa.int32()),
                }
            ),
            os.path.join(self.sf, "embeddings.parquet"),
        )

    def load_inputs(self, run: Run) -> None:
        for t in ("documents", "embeddings"):
            run.spark.read.parquet(os.path.join(self.sf, f"{t}.parquet")).count()

    def battery(self, run: Run, check: bool = False) -> dict:
        import __spark_entry__ as entry

        qs = entry.queries()
        out = {}
        for name in HOT_QUERIES:
            with run.span(f"query.{name}.build"):
                build, df = timed(lambda: qs[name](run.spark, self.sf))
            with run.span(f"query.{name}.exec"):
                if check:
                    exe, rows = timed(lambda: [tuple(r) for r in df.collect()])
                    out[f"rows.{name}"] = (df.columns, rows)
                else:
                    exe, _ = timed(lambda: noop_write(df))
            out[name] = (build, exe)
        return out

    def warmup(self, run: Run) -> None:
        """A cold pass that collects every query's rows and compares them
        with its DuckDB oracle_sql() twin, once per process."""
        import duckdb

        import __spark_entry__ as entry

        got = self.battery(run, check=True)
        con = duckdb.connect()
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf}/{t}.parquet'")
        sqls = entry.oracle_sql()
        for name in HOT_QUERIES:
            res = con.execute(sqls[name])
            want = _norm_rows([d[0] for d in res.description], res.fetchall())
            run.tally.record(
                _norm_rows(*got[f"rows.{name}"]) == want,
                f"{self.name}: {name} rows differ from its DuckDB oracle",
            )
        con.close()

    def measure(self, run: Run) -> dict:
        t0 = time.perf_counter()
        passes = []
        while window_open(t0, run.seconds, [sum(sum(v) for v in p.values()) for p in passes]):
            passes.append(self.battery(run))
            for _ in HOT_QUERIES:
                run.tally.record(True)
        walls = [sum(sum(v) for v in p.values()) for p in passes]
        per_query = [sum(p[n]) for p in passes for n in HOT_QUERIES]
        out = {
            "samples": per_query,
            "rate_per_s": len(HOT_QUERIES) / _median(walls),
            "op_s.p50": _median(per_query),
            "queries_s": _median(walls),
        }
        for n in HOT_QUERIES:
            out[f"query.{n}.build_s"] = _median([p[n][0] for p in passes])
            out[f"query.{n}.exec_s"] = _median([p[n][1] for p in passes])
        return out

    def post(self, run: Run) -> dict:
        return {}


def _median(xs: list[float]) -> float:
    import statistics

    return float(statistics.median(xs))


WORKLOADS = {w.name: w for w in (CrawlSaturated, CrawlRamp, ValidateCorpus, QueryHot)}
