"""Replicates the driver's correctness gate: run every queries() entry on
Spark and its oracle_sql() twin on DuckDB over the same parquet tables,
compare row multisets (column-name-aligned, order-insensitive)."""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import __spark_entry__ as entrymod  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def _norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 6)
    return v


def _norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda j: cols[j])
    out = [tuple(_norm_cell(r[j]) for j in order) for r in rows]
    return sorted(cols), sorted(out, key=repr)


# Physical-dtype guard: the driver's value hash canonicalizes through
# pandas/Arrow, where every signed int ≤64 bits unifies — but a DuckDB
# HUGEINT (int128, what SUM(BIGINT) returns) or unsigned 64-bit column
# changes the pandas representation and diverges even when every value is
# equal.  That was exactly the r4 ann_ivf red (rows_match and schema_match
# green, hash red).  compare_query therefore rejects any oracle column whose
# physical type can't round-trip the driver's canonicalization.
_DRIVER_UNSAFE_DUCK_TYPES = {"HUGEINT", "UHUGEINT", "UBIGINT"}


def compare_query(spark, duck, name):
    qfn = entrymod.queries()[name]
    sdf = qfn(spark, SF_DIR)
    s_cols = sdf.columns
    s_rows = [tuple(r) for r in sdf.collect()]
    sql = entrymod.oracle_sql()[name]
    rel = duck.sql(sql)
    bad_types = {
        c: str(t)
        for c, t in zip(rel.columns, rel.types)
        if str(t) in _DRIVER_UNSAFE_DUCK_TYPES
    }
    assert not bad_types, (
        f"{name}: oracle emits driver-unsafe physical dtypes (the driver "
        f"hash diverges even on equal values — CAST to BIGINT): {bad_types}"
    )
    res = duck.execute(sql)
    d_cols = [d[0] for d in res.description]
    d_rows = res.fetchall()
    sc, sr = _norm_rows(s_cols, s_rows)
    dc, dr = _norm_rows(d_cols, d_rows)
    assert sc == dc, f"{name}: column mismatch {sc} vs {dc}"
    assert len(sr) == len(dr), f"{name}: row count {len(sr)} vs {len(dr)}"
    mismatches = [(a, b) for a, b in zip(sr, dr) if a != b]
    assert not mismatches, f"{name}: first mismatches {mismatches[:5]}"


NON_CRAWL = [
    "classify", "canonicalize", "extract_links", "extract_css",
    "politeness_topk", "seen_dedup", "sitemap_locs", "sitemap_report",
    "used_images_paths", "validate_images",
    "dedup_exact", "dedup_fingerprint", "jaccard_pairs", "minhash_lsh_pairs",
    "dedup_clusters", "substring_dedup", "simhash", "simhash_pairs",
    "image_meta", "image_neardup",
    "embed_neardup", "ann_topk", "ann_lsh_recall", "lang_id", "token_count",
    "quality_score", "fingerprint", "event_stats", "multimodal_neardup",
    "decontaminate", "stratified_sample", "shard_assign", "shard_skew",
    "vocab_topk",
    "repetition_stats", "pii_stats", "pack_sequences", "winnow", "kmeans",
    "redact_pii", "weighted_sample", "semantic_dedup", "bm25", "tfidf_topk",
    "unigram_ppl", "bigram_ppl", "bpe_pairs", "bpe_merges", "bpe_encode",
    "quality_model", "langid_model", "dsir_weights",
    "image_clusters", "image_quality_gate", "image_dedup_keep", "image_search",
    "aspect_bucket", "image_shard_pack", "curation_funnel", "image_funnel",
    "ann_ivf", "dup_span", "domain_cap", "sessionize", "parse_robots",
    "pagerank", "trustrank", "hits", "anchor_texts", "anchor_spam",
    "clip_align", "hll_users", "cms_tokens", "ann_sq8", "robots_sitemaps",
    "resolve_redirects", "url_traps", "host_linkgraph", "host_components", "phash_hamming_hist", "host_latency",
    "sitemap_delta", "rate_alert", "pca_top", "oov_rate",
    "politeness_gap", "ann_recall_report", "viewport_audit",
    "bidi_audit", "mime_sniff", "render_triage",
    "host_language_profile", "host_error_streak", "consent_banner",
    "paywall_detect", "mojibake_fix", "cluster_keep",
    "simhash_hamming_hist", "packing_efficiency",
    "frontier_prefix_stats", "canonical_chains", "bloom_advisor",
    "cuckoo_advisor", "lsh_advisor", "minhash_recall",
    "image_quality_model", "alt_svc", "hotlink_audit", "image_flip_dedup",
    "label_propagation", "incremental_dedup", "dim_truncation",
    "kcore", "favicon_clusters", "embedding_drift",
    "status_transitions", "dga_score", "tile_periodicity", "heaps_law",
    "text_in_image", "cluster_purity", "asof_join", "range_join",
    "hypertable_rollup", "hll_retention", "asset_projection",
    "corner_overlay", "pq_advisor",
    "quality_keep",
    "url_normalize", "dust_rules", "mirror_hosts", "soft404",
    "registrable_domains", "url_blocklist", "url_score", "robots_delta",
    "idn_audit", "caption_quality", "bpe_fertility", "domain_dup_rate",
    "zipf_spectrum", "tld_risk", "pmi_collocations",
    "char_coverage", "readability", "compression_audit",
    "format_sniff", "image_entropy", "bitext_candidates",
    "url_lang_mismatch",
    "change_rate",
    "meta_robots", "nofollow_links", "rel_canonical",
    "c4_lines", "paragraph_dedup", "cdc_dedup", "sitemap_meta", "budget_alloc",
    "image_borders", "charset_sniff", "cache_policy", "warc_manifest",
    "image_dhash", "host_reputation", "revalidation_plan", "retry_after",
    "pagination_chains", "image_sharpness", "hreflang", "meta_audit",
    "srcset", "inline_images", "feed_links", "link_header",
    "resize_images", "caption_pairs", "image_histogram",
    "jsonld_images", "mixed_content", "fragment_audit", "sitemap_images",
    "meta_refresh", "sri_audit", "cdx_index", "color_palette",
    "favicon_pick", "host_templates", "cookie_audit", "feed_discovery",
    "csp_parse", "referrer_policy", "blank_target", "sitemap_index",
    "domain_mix", "semantic_decontaminate", "content_language",
    "title_audit", "heading_audit", "alt_audit", "colorfulness",
    "base_href", "contrast",
    "picture_sources", "reciprocal_links", "warc_revisit",
    "social_meta", "hsts", "dataset_card", "length_quantiles",
    "robots_match", "crawl_delay_audit", "sitemap_robots_conflict",
    "canonical_consistency", "event_dedup", "tile_neardup",
    "containment", "editdist", "unicode_hygiene", "main_content",
    "session_params", "outlink_stats", "breadcrumbs",
    "embedding_hygiene", "keyword_stuffing", "content_length",
    "redirect_edges", "dataset_split", "split_balance", "allcaps",
    "gopher_quality", "lexical_diversity", "char_composition",
    "ppl_buckets", "length_outliers", "cluster_size_stats",
    "script_mix", "amp_audit", "microdata",
    "ann_pq", "hard_negatives",
    "host_concentration", "fetch_fairness", "degree_hist",
    "freshness_audit", "burst_detect", "ring_rebalance",
    "pixel_verify", "etag_stability", "vary_audit",
    "source_overlap", "split_divergence", "open_redirect",
    "robots_coverage", "render_blocking", "preconnect",
    "sentence_dup", "length_bucket", "sitemap_generate",
    "tech_fingerprint", "lazy_loading", "price_extract",
    "preload_audit", "price_consistency", "partition_advisor",
    "epoch_shuffle", "caption_dup", "temporal_split",
    "dom_depth", "page_weight", "tracker_audit",
    "shingle_novelty", "utm_params", "lang_script_check",
    "robots_generate", "table_extract",
]
CRAWL_DEPENDENT = [
    "crawl_results", "crawl_broken", "host_stats", "description_report",
    "canonical_report", "used_images", "crawl_log", "failure_count",
    "recrawl_schedule", "crawl_diff",
]
@pytest.mark.parametrize("name", NON_CRAWL)
def test_non_crawl_query(spark, duck, name):
    compare_query(spark, duck, name)


@pytest.mark.parametrize("name", CRAWL_DEPENDENT)
def test_crawl_query(spark, duck, name):
    compare_query(spark, duck, name)


def test_zero_rows_only_queries():
    """Every queries() entry has a DuckDB oracle (VERDICT r2 item 7)."""
    assert set(entrymod.queries()) == set(entrymod.oracle_sql())


def test_gate_covers_every_query():
    """Every registered query is in exactly one of the two gate lists —
    a new operator can't silently skip the local oracle gate."""
    listed = set(NON_CRAWL) | set(CRAWL_DEPENDENT)
    missing = set(entrymod.queries()) - listed
    assert not missing, f"queries missing from the gate lists: {missing}"
    stale = listed - set(entrymod.queries())
    assert not stale, f"gate lists name unregistered queries: {stale}"
    assert not (set(NON_CRAWL) & set(CRAWL_DEPENDENT))


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns == ["url", "status", "classification"]
