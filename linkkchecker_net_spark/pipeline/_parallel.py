"""Scan-parallelism guard and the per-row Python map for CPU-heavy stages.

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

`map_rows` is the one place where per-row Python meets Arrow batches: every
per-image pass (decode + pixel math, fixture generation) is a function from
one input row to 0..n output tuples, and `map_rows` runs it as one
`mapInPandas` pass.
"""

from __future__ import annotations

from typing import Callable, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import _parse_datatype_string


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


def row_batches(
    fn: Callable[..., Iterable[tuple]], names: list[str]
) -> Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]:
    """The `mapInPandas` batch function behind `map_rows`: `fn(*row)` per
    input row, its tuples gathered into one frame per batch.  A batch
    that yields no rows yields no frame — pandas builds empty-list
    columns as float64, which Arrow cannot cast to string/binary."""

    def batches(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in pdfs:
            rows = [
                out
                for row in pdf.itertuples(index=False, name=None)
                for out in fn(*row)
            ]
            if rows:
                yield pd.DataFrame.from_records(rows, columns=names)

    return batches


def map_rows(
    df: DataFrame, fn: Callable[..., Iterable[tuple]], schema: str
) -> DataFrame:
    """Per-row Python map over `df`: `fn` takes `df`'s columns in order and
    yields 0..n tuples in `schema` field order."""
    names = _parse_datatype_string(schema).names
    return df.mapInPandas(row_batches(fn, names), schema)
