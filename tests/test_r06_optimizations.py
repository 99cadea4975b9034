"""Focused tests for round-6 optimization internals.

Each optimization this round must preserve outputs bit-exactly; these
tests pin the non-obvious internal contracts the optimizations rely on
(the oracle gate in test_entry_contract.py already pins every query's
end-to-end output).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def spark():
    from linkkchecker_net_spark.session import build_session

    s = build_session(app_name="test_r06_opt", cores=4)
    yield s


def test_spread_scan_widens_narrow_and_noops_wide(spark):
    """guide §2.5 guard: a narrow scan is repartitioned to session
    parallelism; an already-wide input is returned UNCHANGED (no
    gratuitous exchange at production scan widths)."""
    from linkkchecker_net_spark.pipeline._parallel import spread_scan

    target = spark.sparkContext.defaultParallelism
    narrow = spark.range(0, 100, 1, 1).toDF("id")
    out = spread_scan(narrow)
    assert out.rdd.getNumPartitions() == target
    assert sorted(r["id"] for r in out.collect()) == list(range(100))

    wide = spark.range(0, 100, 1, max(target, 2)).toDF("id")
    same = spread_scan(wide)
    # identity: no repartition node added
    assert same is wide


def test_resolve_redirects_interior_bound_covers_long_chain(spark):
    """The doubling-round bound is now ceil(log2(interior+1))+1; a fixture
    where interior (4) is far below the edge count (54) must still fully
    resolve the 5-hop chain with exact hop counts, and a 2-cycle must
    classify 'loop'."""
    from linkkchecker_net_spark.pipeline.graph import resolve_redirects

    rows = [(f"s{i}", f"t{i}") for i in range(50)]  # 50 disjoint 1-hop
    rows += [("c0", "c1"), ("c1", "c2"), ("c2", "c3"), ("c3", "c4"), ("c4", "end")]
    rows += [("x", "y"), ("y", "x")]  # 2-cycle
    edges = spark.createDataFrame(rows, "src string, dst string")
    out = {r["url"]: r for r in resolve_redirects(edges).collect()}
    assert out["c0"]["final_url"] == "end" and out["c0"]["hops"] == 5
    assert out["c3"]["final_url"] == "end" and out["c3"]["hops"] == 2
    assert out["s7"]["final_url"] == "t7" and out["s7"]["hops"] == 1
    assert out["x"]["terminal"] == "loop" and out["x"]["final_url"] is None
    assert out["c0"]["terminal"] == "resolved"


def test_pagination_chains_interior_bound_long_chain(spark):
    from linkkchecker_net_spark.pipeline.graph import pagination_chains

    # one 6-page chain + 40 disjoint 2-page chains (interior far below n)
    edges = [(f"p{i}", f"p{i+1}") for i in range(5)]
    edges += [(f"a{k}", f"b{k}") for k in range(40)]
    pages = spark.createDataFrame(
        [(u,) for u in {s for s, _ in edges} | {d for _, d in edges} | {"lone"}],
        "url string",
    )
    e = spark.createDataFrame(edges, "src string, dst string")
    out = {r["url"]: r for r in pagination_chains(pages, e).collect()}
    assert out["p5"]["chain_head"] == "p0" and out["p5"]["pos"] == 5
    assert out["p0"]["chain_len"] == 6
    assert out["b3"]["chain_head"] == "a3" and out["b3"]["pos"] == 1
    assert out["lone"]["chain_len"] == 1 and out["lone"]["pos"] == 0


def test_decode_png_fast_path_matches_row_loop():
    """The vectorized all-filter-0 fast path must agree with the general
    row loop, and non-zero filters must still decode via the loop."""
    from linkkchecker_net_spark import imaging

    rng = np.random.default_rng(7)
    arr = rng.integers(0, 255, (17, 13, 3)).astype(np.uint8)
    data = imaging.encode_png(arr)  # filter 0 everywhere -> fast path
    assert (imaging.decode_png(data) == arr).all()

    # hand-build the same image with filter 2 (Up) rows: row_y stores
    # (row_y - row_{y-1}) mod 256 -> exercises the loop path
    h, w, _ = arr.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    rows = []
    prev = np.zeros(w * 3, dtype=np.uint8)
    for y in range(h):
        cur = arr[y].reshape(-1)
        rows.append(b"\x02" + ((cur.astype(np.int16) - prev) % 256).astype(np.uint8).tobytes())
        prev = cur
    raw = b"".join(rows)

    def chunk(tag, payload):
        body = tag + payload
        return struct.pack(">I", len(payload)) + body + struct.pack(
            ">I", zlib.crc32(body) & 0xFFFFFFFF
        )

    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, 6))
        + chunk(b"IEND", b"")
    )
    assert (imaging.decode_png(png) == arr).all()


def test_minhash_signature_expr_equals_column_form(spark):
    """The single-SQL-string signature aggregate must equal the per-column
    F.min(F.xxhash64(lit, lit, col)) form it replaced (same literal types
    into xxhash64)."""
    from linkkchecker_net_spark.pipeline.dedup import minhash_signatures

    df = spark.createDataFrame(
        [(1, "aa"), (1, "bb"), (2, "cc")], "doc_id long, shingle string"
    )
    got = {
        r["doc_id"]: list(r["signature"])
        for r in minhash_signatures(df, num_hashes=8, seed=42).collect()
    }
    cols = [
        F.min(F.xxhash64(F.lit(42), F.lit(j), F.col("shingle"))).alias(f"_h{j}")
        for j in range(8)
    ]
    ref = {
        r["doc_id"]: [r[f"_h{j}"] for j in range(8)]
        for r in df.groupBy("doc_id").agg(*cols).collect()
    }
    assert got == ref
