from __future__ import annotations

import pytest


@pytest.fixture(scope="session")
def spark():
    from linkkchecker_net_spark.session import build_session

    s = build_session(app_name="lnks-tests", cores=4, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def new_cached_rdds(spark):
    """Callable listing the RDDs cached since the test began.  A local
    checkpoint (a function's materialized output) is not a cached
    relation and is not listed."""
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())

    def listed():
        m = jsc.getPersistentRDDs()
        return [
            m[k].rdd().toString()
            for k in m.keySet()
            if k not in before and not m[k].rdd().isCheckpointed()
        ]

    return listed


@pytest.fixture(scope="session")
def golden_fixtures():
    from linkkchecker_net_spark.fixtures import webgen

    return webgen.make_fixtures("golden", seed=42)


@pytest.fixture(scope="session")
def golden_spark_crawl(spark, golden_fixtures, tmp_path_factory):
    """One shared full Spark crawl of the golden fixture."""
    from linkkchecker_net_spark.engine import tables
    from linkkchecker_net_spark.engine.driver import CrawlConfig, CrawlDriver

    fx = golden_fixtures
    web = tables.web_df(spark, fx["web"])
    robots = tables.robots_df(spark, fx["robots"])
    driver = CrawlDriver(
        spark, web, robots, CrawlConfig(ckpt_dir=str(tmp_path_factory.mktemp("gold")))
    )
    driver.run(fx["seeds"])
    return driver


@pytest.fixture(scope="session")
def golden_oracle_crawl(golden_fixtures):
    from linkkchecker_net_spark.oracle import bfs

    fx = golden_fixtures
    return bfs.crawl_oracle(fx["web"], fx["seeds"], fx["robots"])
