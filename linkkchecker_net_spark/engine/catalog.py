"""Checkpoint catalog: parquet-backed epoch-versioned crawl state.

The design is Iceberg-shaped (epoch snapshots with per-partition lineage,
atomic manifest commit, append-only deltas) implemented over plain parquet
directories because the sandbox has no Iceberg jars — swapping
``spark.read.parquet(path)`` for ``spark.read.format("iceberg")`` is the
only change needed on a real cluster (SURVEY.md §7 M2 fallback note).

Layout:

    ckpt_dir/
      init/MANIFEST.json + frontier/ + seen_delta/
      epoch=00000K/MANIFEST.json + frontier/ + seen_delta/ + results/
                   + page_meta/ (+ seen_full/ on a compaction epoch)

The MANIFEST is written last via atomic rename — a directory without a
manifest is an incomplete epoch and is ignored on resume (the Spark analog
of the reference being killable at any point, Program.cs:31-40; resume is
the north rule's per-partition-lineage checkpoint contract).
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession


def _epoch_dir(ckpt_dir: str, epoch: int) -> str:
    return os.path.join(ckpt_dir, f"epoch={epoch:06d}")


def init_dir(ckpt_dir: str) -> str:
    return os.path.join(ckpt_dir, "init")


def write_table(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").parquet(path)


def read_table(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def write_manifest(dir_path: str, manifest: dict) -> None:
    tmp = os.path.join(dir_path, "MANIFEST.json.tmp")
    dst = os.path.join(dir_path, "MANIFEST.json")
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    os.replace(tmp, dst)  # atomic commit


def read_manifest(dir_path: str) -> dict | None:
    p = os.path.join(dir_path, "MANIFEST.json")
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def list_complete_epochs(ckpt_dir: str) -> list[int]:
    out = []
    if not os.path.isdir(ckpt_dir):
        return out
    for name in os.listdir(ckpt_dir):
        if name.startswith("epoch=") and read_manifest(os.path.join(ckpt_dir, name)):
            out.append(int(name.split("=", 1)[1]))
    return sorted(out)


def seen_delta_paths(ckpt_dir: str, upto_epoch: int) -> list[str]:
    """All seen-set delta directories from init through the given epoch."""
    paths = [os.path.join(init_dir(ckpt_dir), "seen_delta")]
    for e in range(upto_epoch + 1):
        p = os.path.join(_epoch_dir(ckpt_dir, e), "seen_delta")
        if os.path.isdir(p):
            paths.append(p)
    return [p for p in paths if os.path.isdir(p)]


def results_paths(ckpt_dir: str, upto_epoch: int) -> list[str]:
    paths = []
    for e in range(upto_epoch + 1):
        p = os.path.join(_epoch_dir(ckpt_dir, e), "results")
        if os.path.isdir(p):
            paths.append(p)
    return paths


def page_meta_paths(ckpt_dir: str, upto_epoch: int) -> list[str]:
    paths = []
    for e in range(upto_epoch + 1):
        p = os.path.join(_epoch_dir(ckpt_dir, e), "page_meta")
        if os.path.isdir(p):
            paths.append(p)
    return paths


def wipe_incomplete(ckpt_dir: str) -> None:
    """Remove epoch dirs without a manifest (partial writes from a kill)."""
    if not os.path.isdir(ckpt_dir):
        return
    for name in os.listdir(ckpt_dir):
        full = os.path.join(ckpt_dir, name)
        if (
            (name.startswith("epoch=") or name == "init")
            and os.path.isdir(full)
            and read_manifest(full) is None
        ):
            shutil.rmtree(full)


def epoch_dir(ckpt_dir: str, epoch: int) -> str:
    return _epoch_dir(ckpt_dir, epoch)
