"""Scan-parallelism guard for CPU-heavy map stages.

Guide §2.5 "input skew": a small parquet file is one (or two) scan
partitions — splittable only at row-group boundaries, so
`files.maxPartitionBytes` / `minPartitionNum` cannot cut further — and any
expensive per-row pipeline fused into that scan stage (stride-1 gram
explodes, per-row hashing ladders, image decodes) then runs on ONE core
while the rest of the executor idles.  Measured on the bench corpus: the
shingle explode + partial-dedup of `jaccard_pairs` spent 2.7 s in a
single-task scan stage on a 32-core session.

`spread_scan` repartitions ONLY when the input's planned partition count
is below the session's default parallelism, so at production scale (where
a table is thousands of splits) it is a no-op and no gratuitous exchange
is added — the scale-adaptive form the optimization guide prescribes
instead of a constant tuned for either local mode or the cluster.  The
round-robin exchange it inserts on the small side costs one pass of the
(small by construction) input and is retry-deterministic (Spark sorts
before round-robin repartition, SPARK-23207).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread_scan(df: DataFrame, target: "int | None" = None) -> DataFrame:
    """Repartition `df` to `target` (default: the session default
    parallelism) iff its planned partition count is lower; no-op (and no
    exchange) otherwise."""
    if target is None:
        target = df.sparkSession.sparkContext.defaultParallelism
    current = df.rdd.getNumPartitions()
    if current >= target or target <= 1:
        return df
    return df.repartition(target)
