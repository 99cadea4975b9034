"""Bloom + cuckoo seen-filter tests (north-rule components)."""

from __future__ import annotations

import numpy as np
import pytest

from linkkchecker_net_spark.engine.filters import (
    BloomFilter,
    CuckooFilter,
    ShardedBloom,
    build_bloom,
)


def _keys(n, seed=0):
    rng = np.random.default_rng(seed)
    return rng.integers(-(2**63), 2**63 - 1, size=n, dtype=np.int64)


def test_bloom_no_false_negatives():
    keys = _keys(10_000)
    bf = BloomFilter(len(keys), fp_rate=0.01)
    bf.add(keys)
    assert bf.contains(keys).all(), "bloom must never false-negative"


def test_bloom_fp_rate_bounded():
    keys = _keys(10_000)
    bf = BloomFilter(len(keys), fp_rate=0.01)
    bf.add(keys)
    other = _keys(100_000, seed=1)
    fp = bf.contains(other).mean()
    assert fp < 0.03, f"false-positive rate {fp:.4f} too high"


def test_bloom_roundtrip():
    keys = _keys(1000)
    bf = BloomFilter(len(keys))
    bf.add(keys)
    bf2 = BloomFilter.from_bytes(bf.to_bytes())
    assert bf2.contains(keys).all()
    assert (bf2.bits == bf.bits).all()


def test_cuckoo_membership_and_delete():
    keys = _keys(5_000)
    cf = CuckooFilter(len(keys) * 2)
    assert cf.add(keys) == len(keys)
    assert cf.contains(keys).all(), "cuckoo must never false-negative"
    other = _keys(50_000, seed=2)
    fp = cf.contains(other).mean()
    assert fp < 0.01, f"cuckoo fp rate {fp:.4f} too high for 16-bit fingerprints"
    # delete support (bloom can't do this)
    half = keys[: len(keys) // 2]
    assert cf.delete(half) == len(half)
    assert not cf.contains(half).all()
    assert cf.contains(keys[len(keys) // 2 :]).all()


def test_cuckoo_roundtrip():
    keys = _keys(1000)
    cf = CuckooFilter(4000)
    cf.add(keys)
    cf2 = CuckooFilter.from_bytes(cf.to_bytes())
    assert cf2.contains(keys).all()
    assert cf2.count == cf.count


def test_sharded_bloom_semantics():
    keys = _keys(20_000)
    sb = ShardedBloom(len(keys), fp_rate=0.01, shards=16)
    sb.add(keys)
    assert sb.contains(keys).all(), "sharded bloom must never false-negative"
    other = _keys(100_000, seed=3)
    assert sb.contains(other).mean() < 0.03
    sb2 = ShardedBloom.from_bytes(sb.to_bytes())
    assert sb2.contains(keys).all()


@pytest.mark.usefixtures("spark")
def test_spark_builders(spark):
    import pandas as pd

    pdf = pd.DataFrame({"url_hash": _keys(20_000)})
    df = spark.createDataFrame(pdf)

    blob = build_bloom(df, capacity_hint=20_000)
    bf = ShardedBloom.from_bytes(blob)
    assert bf.contains(pdf["url_hash"].to_numpy()).all()


def test_bloom_build_driver_traffic_is_O_m(spark):
    """The sharded build must ship ~m bits total to the driver, NOT a
    full-m partial per task (the 10^10-scale OOM the sharding exists to
    prevent): with range-partitioned shards, total collected bytes stays
    within a small multiple of one filter's serialized size."""
    import pandas as pd

    import linkkchecker_net_spark.engine.filters as filt

    pdf = pd.DataFrame({"url_hash": _keys(50_000)})
    df = spark.createDataFrame(pdf).repartition(16)  # many build tasks

    shards = 8
    blob = filt.build_bloom(df, capacity_hint=50_000, shards=shards)
    sb = filt.ShardedBloom.from_bytes(blob)
    m_total_bytes = sum(bf.bits.nbytes for bf in sb.shards)

    # re-run the builder's distributed stage and measure what reaches the
    # driver: one row per (task, shard-present), each m/shards bits
    from pyspark.sql import functions as F

    m, k = sb.shards[0].m, sb.shards[0].k

    def partials(batches):
        from linkkchecker_net_spark.engine.filters import BloomFilter, ShardedBloom

        local = {}
        for b in batches:
            if not len(b):
                continue
            ks = b["url_hash"].to_numpy(dtype="int64")
            sh = ShardedBloom.shard_of(ks, shards)
            for p in np.unique(sh):
                bf = local.get(int(p))
                if bf is None:
                    bf = BloomFilter.__new__(BloomFilter)
                    bf.m, bf.k = m, k
                    bf.bits = np.zeros(m // 64, dtype="uint64")
                    local[int(p)] = bf
                bf.add(ks[sh == p])
        yield pd.DataFrame(
            {"p": list(local.keys()), "bits": [bf.bits.tobytes() for bf in local.values()]}
        )

    rows = (
        df.select("url_hash")
        .withColumn("p", F.pmod(F.col("url_hash"), F.lit(shards)))
        .repartitionByRange(shards, "p")
        .drop("p")
        .mapInPandas(partials, "p int, bits binary")
        .collect()
    )
    collected = sum(len(bytes(r["bits"])) for r in rows)
    assert collected <= 3 * m_total_bytes, (
        f"driver traffic {collected} vs filter size {m_total_bytes}: "
        "build is shipping per-task full partials again"
    )
    assert sb.contains(pdf["url_hash"].to_numpy()).all()


def test_bloom_udf_uses_broadcast(spark):
    """bloom_maybe_udf takes a Broadcast handle (not a closure-captured
    blob) and returns exact membership signals for present keys."""
    import pandas as pd

    from linkkchecker_net_spark.engine.filters import bloom_maybe_udf

    keys = _keys(5_000)
    sb = ShardedBloom(len(keys), shards=8)
    sb.add(keys)
    bcast = spark.sparkContext.broadcast(sb.to_bytes())
    df = spark.createDataFrame(pd.DataFrame({"url_hash": keys}))
    out = df.withColumn("maybe", bloom_maybe_udf(bcast)("url_hash"))
    assert out.filter("NOT maybe").count() == 0  # no false negatives
    bcast.destroy()


def test_bloom_advisor_formula(spark):
    """Bloom 1970 optimum at p=1e-3: 14.377588 bits/key (the classic
    ~14.4), k=10 hashes; MiB scales linearly with n."""
    import math

    from pyspark.sql import functions as F

    from linkkchecker_net_spark.engine.filters import bloom_advisor

    urls = spark.range(1000).select(
        F.concat(F.lit("u"), F.col("id").cast("string")).alias("url")
    )
    r = bloom_advisor(urls, target_fp_ppm=1000).collect()[0]
    bpk = -math.log(0.001) / (math.log(2.0) ** 2)
    assert r["n_urls"] == 1000
    assert r["bits_per_key"] == round(bpk, 6)
    assert r["n_hashes"] == 10
    assert r["total_mib"] == round(1000 * bpk / (8 * 1024 * 1024), 6)


def test_cuckoo_advisor_formula(spark):
    """Fan-2014 arithmetic at p=0.001, b=4, n=100: f=ceil(log2(8000))=13,
    bits/key=13/0.95, bucket table rounds 100/3.8 up to 32 (pow2), and
    the cuckoo beats the Bloom optimum (14.38 bits/key) at this target."""
    from pyspark.sql import functions as F

    from linkkchecker_net_spark.engine.filters import cuckoo_advisor

    urls = spark.range(100).select(
        F.concat(F.lit("http://h.test/"), F.col("id")).alias("url")
    )
    r = cuckoo_advisor(urls, target_fp_ppm=1000).collect()[0]
    assert r["n_urls"] == 100
    assert r["fp_bits"] == 13
    assert r["bits_per_key"] == round(13 / 0.95, 6)
    assert r["n_buckets"] == 32
    assert r["provisioned_mib"] == round(32 * 4 * 13 / (8.0 * 1024 * 1024), 6)
    assert r["bloom_bits_per_key"] == round(
        -__import__("math").log(0.001) / (__import__("math").log(2) ** 2), 6
    )
    assert r["winner"] == "cuckoo"
