"""Explicit StructType schemas for every engine table (SURVEY.md §1.3).

All schemas are fixed and declared here once — never inferred: inference is
slow and nondeterministic at 10^10-URL scale.

Reference data-model provenance:
  * corpus   — mandated input shape (BASELINE.json `input_hint`)
  * web      — synthetic-web stand-in for live HTTP
               (/root/reference/SpiderEngine/Engine.cs:242-252)
  * results  — ScanResult analog
               (/root/reference/SpiderInterface/ScanResult.cs:6-12)
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- mandated input table: image+caption corpus -------------------------
CORPUS = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), True),
        T.StructField("w", T.IntegerType(), True),
        T.StructField("h", T.IntegerType(), True),
        T.StructField("fmt", T.StringType(), True),
        T.StructField("caption", T.StringType(), True),
        T.StructField("phash", T.LongType(), True),
    ]
)

# --- synthetic web snapshot (what the fetch stage serves) ----------------
WEB = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("url_hash", T.LongType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("status", T.IntegerType(), False),
        T.StructField("redirect_to", T.StringType(), True),
        T.StructField("content_type", T.StringType(), True),
        T.StructField("body", T.BinaryType(), True),
        T.StructField("image_id", T.StringType(), True),
        # caption the page publishes next to the image (alt-text analog);
        # the image-validation gate compares it to corpus.caption
        T.StructField("caption", T.StringType(), True),
    ]
)

# --- crawl state tables ---------------------------------------------------
RESULTS = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("url_hash", T.LongType(), False),
        T.StructField("host", T.StringType(), True),
        T.StructField("status", T.IntegerType(), True),
        T.StructField("error", T.StringType(), True),
        T.StructField("unsupported_scheme", T.BooleanType(), False),
        T.StructField("content_type", T.StringType(), True),
        T.StructField("classification", T.StringType(), False),
        T.StructField("parent_url", T.StringType(), True),
        T.StructField("seed_url", T.StringType(), True),
        T.StructField("crawl_depth", T.IntegerType(), False),
        T.StructField("discovery_rank", T.LongType(), False),
        T.StructField("epoch", T.IntegerType(), False),
        T.StructField("image_id", T.StringType(), True),
    ]
)

METRICS = T.StructType(
    [
        T.StructField("epoch", T.IntegerType(), False),
        T.StructField("fetched", T.LongType(), False),
        T.StructField("ok", T.LongType(), False),
        T.StructField("redirect", T.LongType(), False),
        T.StructField("broken", T.LongType(), False),
        T.StructField("error", T.LongType(), False),
        T.StructField("unsupported", T.LongType(), False),
        T.StructField("new_candidates", T.LongType(), False),
        T.StructField("frontier_size", T.LongType(), False),
        T.StructField("elapsed_sec", T.DoubleType(), False),
        # pacing audit (pace_fetch runs only): smallest observed same-host
        # fetch gap this epoch, and how many hosts fetched >1 URL (the rows
        # the crawl_delay contract actually binds).  NULL when unpaced.
        T.StructField("min_gap_sec", T.DoubleType(), True),
        T.StructField("paced_hosts", T.LongType(), True),
    ]
)

# --- config tables --------------------------------------------------------
SEEDS = T.StructType(
    [
        T.StructField("seed_url", T.StringType(), False),
        T.StructField("priority", T.IntegerType(), False),
    ]
)

ROBOTS = T.StructType(
    [
        T.StructField("host", T.StringType(), False),
        T.StructField("disallow", T.ArrayType(T.StringType()), True),
        T.StructField("crawl_delay", T.DoubleType(), True),
        T.StructField("budget", T.IntegerType(), True),
    ]
)

SITEMAPS = T.StructType(
    [
        T.StructField("host", T.StringType(), False),
        T.StructField("loc", T.ArrayType(T.StringType()), True),
    ]
)

# --- kernel output shapes -------------------------------------------------
# P8+P9 one-pass page parse output (SURVEY.md §2.9)
LINK_STRUCT = T.StructType(
    [
        T.StructField("tag", T.StringType(), False),
        T.StructField("href", T.StringType(), False),
        T.StructField("may_contain_links", T.BooleanType(), False),
        T.StructField("tag_rank", T.IntegerType(), False),
        T.StructField("doc_pos", T.IntegerType(), False),
    ]
)

PARSED_PAGE = T.StructType(
    [
        T.StructField("links", T.ArrayType(LINK_STRUCT), True),
        T.StructField("canonical_href", T.StringType(), True),
        T.StructField("meta_description", T.StringType(), True),
        T.StructField("embedded_css", T.ArrayType(T.StringType()), True),
    ]
)
