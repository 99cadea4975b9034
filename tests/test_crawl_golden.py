"""End-to-end golden crawl: Spark engine ≡ pure-Python oracle (SURVEY.md §5.2).

Asserts the north-rule correctness gate: same seed list + politeness budget
⇒ identical final URL-seen set, identical crawl ordering
(url, crawl_depth, discovery_rank), identical classified results.
"""

from __future__ import annotations

import os

import pytest

from linkkchecker_net_spark.engine import catalog, tables
from linkkchecker_net_spark.engine.driver import CrawlConfig, CrawlDriver
from linkkchecker_net_spark.oracle import bfs

RESULT_COLS = [
    "url",
    "host",
    "status",
    "error",
    "unsupported_scheme",
    "content_type",
    "classification",
    "parent_url",
    "seed_url",
    "crawl_depth",
    "discovery_rank",
    "epoch",
    "image_id",
]


def run_spark_crawl(spark, fx, tmp, budget=10**9, max_epochs=1000):
    web = tables.web_df(spark, fx["web"])
    robots = tables.robots_df(spark, fx["robots"])
    driver = CrawlDriver(
        spark,
        web,
        robots,
        CrawlConfig(ckpt_dir=str(tmp), default_budget=budget, max_epochs=max_epochs),
    )
    driver.run(fx["seeds"])
    return driver


def spark_results_rows(driver):
    rows = [r.asDict() for r in driver.results().select(*RESULT_COLS).collect()]
    rows.sort(key=lambda r: r["discovery_rank"])
    return rows


def oracle_results_rows(crawl):
    rows = [{k: r[k] for k in RESULT_COLS} for r in crawl.results]
    rows.sort(key=lambda r: r["discovery_rank"])
    return rows


@pytest.fixture(scope="module")
def spark_crawl(golden_spark_crawl):
    return golden_spark_crawl


@pytest.fixture(scope="module")
def oracle_crawl(golden_oracle_crawl):
    return golden_oracle_crawl


def test_results_equal_oracle(spark_crawl, oracle_crawl):
    got = spark_results_rows(spark_crawl)
    want = oracle_results_rows(oracle_crawl)
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert g == w, f"mismatch at rank {w['discovery_rank']}:\n spark={g}\n oracle={w}"


def test_seen_set_equal_oracle(spark_crawl, oracle_crawl):
    got = {
        (r["url"], r["first_depth"])
        for r in spark_crawl.seen().select("url", "first_depth").collect()
    }
    want = set(oracle_crawl.seen.items())
    assert got == want


def test_crawl_ordering_contract(spark_crawl, oracle_crawl):
    got = [
        (r["url"], r["crawl_depth"], r["discovery_rank"])
        for r in spark_crawl.results()
        .select("url", "crawl_depth", "discovery_rank")
        .orderBy("discovery_rank")
        .collect()
    ]
    want = sorted(
        ((r["url"], r["crawl_depth"], r["discovery_rank"]) for r in oracle_crawl.results),
        key=lambda t: t[2],
    )
    assert got == want


def test_page_meta_equal_oracle(spark_crawl, oracle_crawl):
    got = {
        r["url"]: (r["canonical_href"], r["meta_description"])
        for r in spark_crawl.page_meta().collect()
    }
    want = {
        pm["url"]: (pm["canonical_href"], pm["meta_description"])
        for pm in oracle_crawl.page_meta
    }
    assert got == want


def test_politeness_budget_equivalence(spark, golden_fixtures, tmp_path, oracle_crawl):
    """Budgeted crawl: per-epoch host counts capped; same final seen set;
    matches a budgeted oracle exactly."""
    fx = golden_fixtures
    budget = 7
    robots = [dict(r, budget=budget) for r in fx["robots"]]
    fx_b = dict(fx, robots=robots)
    driver = run_spark_crawl(spark, fx_b, tmp_path / "b")
    oracle_b = bfs.crawl_oracle(fx["web"], fx["seeds"], robots)

    got = spark_results_rows(driver)
    want = oracle_results_rows(oracle_b)
    assert got == want

    # budget respected per (epoch, host) over fetched rows
    from collections import Counter

    fetched = Counter(
        (r["epoch"], r["host"])
        for r in got
        if r["classification"] not in ("unsupported", "robots_blocked")
    )
    assert max(fetched.values()) <= budget
    # same reachability as the unbudgeted crawl, more epochs
    assert {r["url"] for r in got} == {r["url"] for r in oracle_crawl.results}


def test_metrics_written(spark_crawl, oracle_crawl):
    m = {r["epoch"]: r.asDict() for r in spark_crawl.metrics().collect()}
    assert len(m) == oracle_crawl.epoch
    total_fetched = sum(row["fetched"] for row in m.values())
    oracle_fetched = sum(
        1
        for r in oracle_crawl.results
        if r["classification"] not in ("unsupported", "robots_blocked")
    )
    assert total_fetched == oracle_fetched
    assert all(row["elapsed_sec"] > 0 for row in m.values())


def test_is_base_of_gates(spark, golden_spark_crawl, golden_oracle_crawl):
    """Engine.cs:76/:171 two-gate semantics: the https same-host page is
    FETCHED ok (supported scheme) but never EXPANDED (authority differs
    from the http seed) and gets no meta row (IsBaseOf fails on scheme)."""
    res = {r["url"]: r for r in golden_spark_crawl.results().collect()}
    https_url = next(u for u in res if u.startswith("https://"))
    assert res[https_url]["classification"] == "ok"
    assert not any("never-crawled" in u for u in res), "https page was expanded"
    metas = {r["url"] for r in golden_spark_crawl.page_meta().collect()}
    assert https_url not in metas
    # sub-directory pages are crawled (authority gate) but outside the
    # /page/ seed's IsBaseOf prefix -> no canonical/description meta rows
    subdir = [u for u in res if "/dir/sub/" in u and res[u]["classification"] == "ok"]
    assert subdir, "fixture lost its /dir/sub pages"
    assert not any(u in metas for u in subdir)


def test_wildcard_robots_engine_equals_oracle(spark, tmp_path):
    """RFC 9309 wildcard Disallow rules ('*' + '$' anchor) gate the
    SAME urls in the engine (rule_match_expr inside the F10 exists
    lambda) and the oracle (_rule_match) — and plain-prefix rules keep
    their old behavior alongside."""

    def page(path, links):
        body = "".join(f'<a href="{l}">x</a>' for l in links).encode()
        return dict(
            url=f"http://w.test{path}", host="w.test", status=200,
            content_type="text/html", body=body,
        )

    web = [
        page("/", ["/a/1/c", "/a/1/cc", "/data/f.json", "/data/f.jsonx",
                   "/tmp9", "/plain/x", "/old/y"]),
        page("/a/1/c", []), page("/a/1/cc", []),
        page("/data/f.json", []), page("/data/f.jsonx", []),
        page("/tmp9", []), page("/plain/x", []), page("/old/y", []),
    ]
    robots = [dict(host="w.test",
                   disallow=["/a/*/c$", "/*.json$", "/tmp*", "/old/"],
                   crawl_delay=0.0, budget=10**9)]
    seeds = [dict(seed_url="http://w.test/", priority=0)]
    fx = dict(web=web, seeds=seeds, robots=robots)

    driver = run_spark_crawl(spark, fx, tmp_path / "wc")
    oracle = bfs.crawl_oracle(web, seeds, robots)

    got = {(r["url"], r["classification"])
           for r in driver.results().select("url", "classification").collect()}
    want = {(r["url"], r["classification"]) for r in oracle.results}
    assert got == want
    blocked = {u for u, c in want if c == "robots_blocked"}
    # $ anchor: /a/1/c blocked, /a/1/cc NOT; /tmp* wildcard; plain /old/
    assert blocked == {
        "http://w.test/a/1/c", "http://w.test/data/f.json",
        "http://w.test/tmp9", "http://w.test/old/y",
    }


# whitespace kinds Spark's `trim` leaves (tab, newline, U+00A0), a
# scheme-less seed, an upper-case scheme+host, a later duplicate with a
# different priority, empty/None seeds and an entry with no priority key
ADVERSARIAL_SEEDS = [
    {"seed_url": "\thttp://a.test/x", "priority": 3},
    {"seed_url": "b.test/y\n", "priority": 1},
    {"seed_url": "\u00a0http://c.test/dir/\u00a0", "priority": 2},
    {"seed_url": "d.test/page", "priority": 0},
    {"seed_url": "HTTP://UPPER.test/", "priority": 5},
    {"seed_url": "http://a.test/x", "priority": 9},
    {"seed_url": "", "priority": 4},
    {"seed_url": None, "priority": 4},
    {"seed_url": "http://e.test:8080/dir/p"},
]

FRONTIER_COLS = ["url", "host", "priority", "crawl_depth", "discovery_rank", "seed_url"]


@pytest.mark.parametrize(
    "seeds",
    [ADVERSARIAL_SEEDS, [], [{"seed_url": ""}, {"seed_url": None}, {"seed_url": " \t"}]],
    ids=["adversarial", "empty", "all_invalid"],
)
@pytest.mark.parametrize("entry", ["list", "df"])
def test_seed_init_matches_oracle(spark, golden_fixtures, tmp_path, entry, seeds):
    """Both seed-ingest entry points give the oracle's init frontier,
    next_rank and seed authority/prefix sets; with no valid seed, run()
    writes no epoch."""
    web = tables.web_df(spark, golden_fixtures["web"])
    robots = tables.robots_df(spark, golden_fixtures["robots"])
    driver = CrawlDriver(spark, web, robots, CrawlConfig(ckpt_dir=str(tmp_path)))
    if entry == "list":
        manifest = driver.init_seeds(seeds)
    else:
        manifest = driver.init_seeds_df(
            spark.createDataFrame(
                [(i, s["seed_url"], s.get("priority", 0)) for i, s in enumerate(seeds)],
                "idx long, seed_url string, priority int",
            )
        )
    oracle = bfs.OracleCrawl(web={}, robots={})
    oracle.init_seeds(seeds)

    got = [
        tuple(r)
        for r in spark.read.parquet(
            os.path.join(catalog.init_dir(str(tmp_path)), "frontier")
        )
        .select(*FRONTIER_COLS)
        .orderBy("discovery_rank")
        .collect()
    ]
    want = [tuple(getattr(e, c) for c in FRONTIER_COLS) for e in oracle.frontier]
    assert got == want
    assert manifest["frontier_count"] == len(want)
    assert manifest["next_rank"] == oracle.next_rank
    assert set(manifest["seed_authorities"]) == oracle.seed_authorities
    assert set(manifest["seed_prefixes"]) == oracle.seed_prefixes
    if not want:
        assert driver.run()["frontier_count"] == 0
        assert catalog.list_complete_epochs(str(tmp_path)) == []
