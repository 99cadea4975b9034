"""Text analysis operators: language ID, quality scoring, token counting,
document fingerprinting.  All JVM-side (split/regexp/md5 built-ins) —
whole-stage-codegen'd, no Python in the hot path; each has an exact ANSI-SQL
twin for the DuckDB oracle."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# language stopword marker lists — a deliberately simple, fully
# SQL-expressible n-gram/stopword heuristic (deterministic function of the
# text, independently computable by the oracle)
LANG_MARKERS = {
    "en": ["the", "a", "of", "and", "is"],
    "de": ["der", "die", "und", "ist", "das"],
    "fr": ["le", "la", "et", "est", "les"],
    "es": ["el", "la", "de", "es", "los"],
}


def _count_token(text_col, token: str):
    # occurrences of a whole token in a single-space-joined text
    padded = F.concat(F.lit(" "), text_col, F.lit(" "))
    needle = f" {token} "
    return (
        (F.length(padded) - F.length(F.replace(padded, F.lit(needle), F.lit(""))))
        / len(needle)
    ).cast("int")


def lang_id(docs: DataFrame) -> DataFrame:
    """Stopword-count language ID with deterministic tie-break (first
    language in LANG_MARKERS order wins ties; 'und' = no markers hit)."""
    scores = {
        lang: sum([_count_token(F.col("text"), t) for t in toks], F.lit(0))
        for lang, toks in LANG_MARKERS.items()
    }
    best_score = F.greatest(*scores.values())
    pred = F.lit("und")
    for lang in reversed(list(LANG_MARKERS)):  # earlier langs override later
        pred = F.when((scores[lang] == best_score) & (best_score > 0), F.lit(lang)).otherwise(pred)
    out = docs.select("doc_id", pred.alias("pred_lang"))
    return out


def token_count(docs: DataFrame) -> DataFrame:
    """Whitespace tokens + a BPE-ish proxy (4-chars-per-token heuristic
    over non-space chars) — both integer-exact."""
    toks = F.size(F.split(F.col("text"), " "))
    non_space = F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
    return docs.select(
        "doc_id",
        toks.alias("n_tokens"),
        F.ceil(non_space / 4).cast("long").alias("n_bpe_est"),
        F.length("text").alias("n_chars"),
    )


def quality_score(docs: DataFrame, stop_lang: str = "en") -> DataFrame:
    """Quality-signal columns: length, mean word length, stopword count,
    distinct-token ratio — the usual pretraining quality features, exact
    integers/rationals (rounded for cross-engine comparison)."""
    toks = F.split(F.col("text"), " ")
    n_tokens = F.size(toks)
    n_chars = F.length("text")
    stop_hits = sum(
        [_count_token(F.col("text"), t) for t in LANG_MARKERS[stop_lang]], F.lit(0)
    )
    distinct_ratio = F.size(F.array_distinct(toks)) / n_tokens
    mean_word_len = (n_chars - (n_tokens - 1)) / n_tokens
    return docs.select(
        "doc_id",
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        stop_hits.alias("stopword_hits"),
        F.round(distinct_ratio, 6).alias("distinct_ratio"),
        F.round(mean_word_len, 6).alias("mean_word_len"),
        (
            (n_tokens >= 20) & (stop_hits > 0) & (distinct_ratio > 0.2)
        ).alias("quality_pass"),
    )


def repetition_stats(
    docs: DataFrame, top_frac_max: float = 0.2, dup_frac_max: float = 0.3
) -> DataFrame:
    """Gopher-style repetition quality rules (Rae et al. 2021 §A1.1):
    fraction of tokens covered by the single most frequent 2-gram, and
    fraction of 5-grams that are duplicates of an earlier 5-gram in the
    same doc.  Boilerplate/spam pages (nav bars, keyword stuffing) light
    up both signals; clean prose stays near zero.

    Plan: one explode per k into a per-(doc, gram) count — the groupBy
    keys are (doc_id, gram), so partial aggregation collapses each doc's
    repeated grams map-side and no doc ever concentrates on one reducer
    beyond its own (bounded) gram set.  Pure JVM (split/transform/explode/
    count) — whole-stage codegen, exact SQL twin for the oracle.
    """
    toks = F.split(F.col("text"), " ")
    n_tokens = F.size(toks)
    base = docs.select("doc_id", toks.alias("toks"), n_tokens.alias("n_tokens"))

    def kgrams(k: int):
        n = F.size(F.col("toks")) - F.lit(k - 1)
        # sequence(1, 0) DESCENDS in Spark — gate the short-doc case to an
        # empty gram array instead
        g = F.when(
            n >= 1,
            F.transform(
                F.sequence(F.lit(1), n),
                lambda i: F.array_join(F.slice(F.col("toks"), i, k), " "),
            ),
        ).otherwise(F.array().cast("array<string>"))
        return base.select("doc_id", "n_tokens", F.explode(g).alias("gram"))

    top2 = (
        kgrams(2)
        .groupBy("doc_id", "gram")
        .agg(F.count("*").alias("cnt"))
        .groupBy("doc_id")
        .agg(F.max("cnt").alias("top_2gram_cnt"))
    )
    g5 = (
        kgrams(5)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("total_5grams"),
            F.countDistinct("gram").alias("distinct_5grams"),
        )
    )
    # anchor on the FULL doc set: a <2-token doc has no 2-grams at all and
    # previously vanished from the output entirely (ADVICE r3 — a
    # downstream inner-join filter would silently drop it); it scores
    # top_2gram_cnt=0 and passes both rules
    anchored = (
        base.select("doc_id", "n_tokens")
        .join(top2, "doc_id", "left")
        .withColumn(
            "top_2gram_cnt", F.coalesce("top_2gram_cnt", F.lit(0).cast("long"))
        )
    )
    top_frac = F.round(
        F.col("top_2gram_cnt") * 2 / F.col("n_tokens"), 6
    )
    dup_frac = F.round(
        1 - F.col("distinct_5grams") / F.col("total_5grams"), 6
    )
    return (
        anchored.join(g5, "doc_id", "left")
        .select(
            "doc_id",
            F.col("top_2gram_cnt"),
            top_frac.alias("top_2gram_frac"),
            F.coalesce(dup_frac, F.lit(0.0)).alias("dup_5gram_frac"),
            (
                (top_frac <= top_frac_max)
                & (F.coalesce(dup_frac, F.lit(0.0)) <= dup_frac_max)
            ).alias("repetition_pass"),
        )
    )


# PII patterns kept to the regex subset Java (Spark) and RE2-ish (DuckDB)
# engines evaluate identically: character classes + bounded repetition only
PII_EMAIL_RE = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
PII_PHONE_RE = "[0-9]{3}-[0-9]{3}-[0-9]{4}"


def pii_stats(docs: DataFrame) -> DataFrame:
    """PII-signal counting (emails, phone-shaped numbers) — the redaction /
    filtering pre-pass a training pipeline runs before packing shards.
    Counting, not redaction: the downstream policy (drop doc vs mask span)
    is the caller's; `regexp_replace` with the same patterns is the mask
    variant.  Pure JVM regexp — scales as a map-only pass."""
    return docs.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(PII_EMAIL_RE)).alias("n_emails"),
        F.regexp_count(F.col("text"), F.lit(PII_PHONE_RE)).alias("n_phones"),
        (
            (F.regexp_count(F.col("text"), F.lit(PII_EMAIL_RE)) > 0)
            | (F.regexp_count(F.col("text"), F.lit(PII_PHONE_RE)) > 0)
        ).alias("has_pii"),
    )


def redact_pii(docs: DataFrame) -> DataFrame:
    """The masking counterpart of pii_stats: replace email/phone spans
    with typed placeholder tokens (the redaction policy most training
    pipelines apply instead of dropping the doc).  Map-only regexp —
    scales as a pure projection."""
    t = F.regexp_replace(F.col("text"), PII_EMAIL_RE, "[EMAIL]")
    t = F.regexp_replace(t, PII_PHONE_RE, "[PHONE]")
    return docs.select("doc_id", t.alias("text_redacted"))


def winnow_fingerprints(
    docs: DataFrame, k: int = 3, window: int = 4
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD'03 — the MOSS algorithm): hash every word k-gram, slide a
    `window`-wide window over the hash sequence, keep the minimum of each
    window, emit the distinct selected hashes per doc.  Guarantees every
    shared substring of ≥ k+window-1 tokens shares a fingerprint, at
    ~1/window the density of full shingling — the local-fingerprint dedup
    primitive between md5-everything and MinHash.

    Variant note: min-per-window with set-dedup (ties collapse in the
    distinct), not the paper's rightmost-tie robust winnowing — the
    guarantee above is unchanged.

    Gram hash = first 8 hex digits of md5, so an independent SQL engine
    computes it bit-identically (same trick as pipeline.dedup.simhash).
    Everything is per-doc array ops (split → transform → slice minima →
    array_distinct → explode) inside whole-stage codegen: no shuffle at
    all until the caller aggregates, no Python, and a doc's cost is
    O(tokens × window) regardless of corpus size.

    Returns distinct (doc_id, fp) rows, fp = bigint gram hash.
    """
    from ._parallel import spread_scan

    # per-doc cost is O(tokens x window) interpreted-HOF md5 work — spread
    # a narrow scan so it does not run single-task (guide §2.5; no-op at
    # production scan widths)
    docs = spread_scan(docs)
    toks = F.split(F.col("text"), " ")
    n_grams = F.size(toks) - F.lit(k - 1)
    grams = F.when(
        n_grams >= 1,
        F.transform(
            F.sequence(F.lit(1), n_grams),
            lambda i: F.conv(
                F.substring(F.md5(F.array_join(F.slice(toks, i, k), " ")), 1, 8),
                16,
                10,
            ).cast("long"),
        ),
    ).otherwise(F.array().cast("array<long>"))
    base = docs.select("doc_id", grams.alias("gh"))
    n_windows = F.size(F.col("gh")) - F.lit(window - 1)
    # fewer grams than a full window -> a single window over what exists
    # (the paper's boundary case: every doc with >= 1 gram fingerprints)
    mins = F.when(
        n_windows >= 1,
        F.transform(
            F.sequence(F.lit(1), n_windows),
            lambda i: F.array_min(F.slice(F.col("gh"), i, window)),
        ),
    ).otherwise(
        F.when(F.size(F.col("gh")) >= 1, F.array(F.array_min(F.col("gh"))))
        .otherwise(F.array().cast("array<long>"))
    )
    return base.select(
        "doc_id", F.explode(F.array_distinct(mins)).alias("fp")
    )


def fingerprint(docs: DataFrame, prefix_tokens: int = 8) -> DataFrame:
    """Document fingerprints: full-text md5 + normalized-prefix md5 (the
    rolling/winnowing stand-in both engines can compute bit-identically)."""
    prefix = F.array_join(F.slice(F.split(F.col("text"), " "), 1, prefix_tokens), " ")
    return docs.select(
        "doc_id",
        F.md5("text").alias("text_md5"),
        F.md5(prefix).alias("prefix_md5"),
    )


# ---------------------------------------------------------------------------
# C4-style line filtering (Raffel et al., JMLR'20 §2.2 — the line/page
# rules behind the C4 corpus, simplified to the SQL-expressible core)
# ---------------------------------------------------------------------------

# a kept line ends in terminal punctuation and carries >= C4_MIN_WORDS
# whitespace words; any line mentioning javascript is dropped (cookie /
# enable-JS boilerplate); pages containing "lorem ipsum" or "{" are
# rejected wholesale; a page needs >= C4_MIN_KEPT surviving lines
C4_MIN_WORDS = 3
C4_MIN_KEPT = 3
_TERMINAL_PAT = r'[.!?"]$'
_JS_PAT = r"(?i)javascript"


def _line_kept(ln):
    return (
        ln.rlike(_TERMINAL_PAT)
        & (F.size(F.split(F.trim(ln), r"\s+")) >= C4_MIN_WORDS)
        & ~ln.rlike(_JS_PAT)
    )


def c4_line_filter(docs: DataFrame, min_kept: int = C4_MIN_KEPT) -> DataFrame:
    """(doc_id, n_lines, n_kept, has_lorem, has_brace, c4_pass, cleaned).

    Pure per-row array work (split / filter / array_join — whole-stage
    codegen, zero shuffle): line-level rules drop boilerplate lines,
    page-level rules reject template/code pages outright.  ``cleaned`` is
    the newline-join of surviving lines (empty when the page is
    rejected).  Scale: map-only — partitions stream independently; the
    only memory is one page's line array.
    """
    lines = F.split(F.col("text"), "\n")
    kept = F.filter(lines, _line_kept)
    has_lorem = F.lower(F.col("text")).contains("lorem ipsum")
    has_brace = F.col("text").contains("{")
    ok = ~has_lorem & ~has_brace & (F.size(kept) >= min_kept)
    return docs.select(
        "doc_id",
        F.size(lines).alias("n_lines"),
        F.size(kept).alias("n_kept"),
        has_lorem.alias("has_lorem"),
        has_brace.alias("has_brace"),
        ok.alias("c4_pass"),
        F.when(ok, F.array_join(kept, "\n")).otherwise(F.lit("")).alias(
            "cleaned"
        ),
    )


# ---------------------------------------------------------------------------
# CCNet paragraph-level exact dedup (Wenzek et al., LREC'20 §3.1: hash
# every paragraph, keep the first occurrence corpus-wide)
# ---------------------------------------------------------------------------


def paragraph_dedup(docs: DataFrame, sep: str = "\n\n") -> DataFrame:
    """(doc_id, n_paras, n_kept, cleaned) — corpus-wide paragraph dedup.

    Explode paragraphs with position, hash each (md5 — CCNet uses the
    first 64 bits of SHA-1; any collision-safe digest works), pick ONE
    winner per hash corpus-wide (min (doc_id, pos) — deterministic
    keep-first in document order, matching CCNet's sharded head/middle/
    tail convention at shard granularity), and reassemble every doc from
    its surviving paragraphs in original order.

    Scale: one hash-partitioned groupBy on the paragraph digest (min_by
    combiner — partial aggregation map-side), one co-keyed join back on
    (hash, doc, pos), one groupBy doc_id with sort_array over collected
    (pos, text) pairs.  Paragraph text rides through the shuffle once;
    for 100 TB corpora swap the carried text for (digest → first-writer
    re-read) if paragraphs are huge — the plan shape is unchanged.
    """
    paras = docs.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), sep)).alias("pos", "para"),
    ).filter(F.trim(F.col("para")) != "")
    hashed = paras.select(
        "doc_id", "pos", "para", F.md5(F.col("para")).alias("h")
    )
    winners = hashed.groupBy("h").agg(
        F.min(F.struct("doc_id", "pos")).alias("w")
    ).select("h", F.col("w.doc_id").alias("doc_id"), F.col("w.pos").alias("pos"))
    kept = hashed.join(winners, ["h", "doc_id", "pos"], "leftsemi")
    stats = hashed.groupBy("doc_id").agg(
        F.count("*").alias("n_paras")
    )
    rebuilt = kept.groupBy("doc_id").agg(
        F.count("*").alias("n_kept"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "para"))),
                lambda s: s["para"],
            ),
            sep,
        ).alias("cleaned"),
    )
    return (
        stats.join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            "n_paras",
            F.coalesce("n_kept", F.lit(0).cast("long")).alias("n_kept"),
            F.coalesce("cleaned", F.lit("")).alias("cleaned"),
        )
    )


# ---------------------------------------------------------------------------
# Host-scoped boilerplate template detection (the nav/footer problem).
# CCNet's paragraph dedup (above) removes corpus-wide repeats; template
# lines are a *host-conditional* phenomenon: a line is boilerplate when
# it appears on most pages OF ITS OWN HOST (nav bars, cookie banners,
# footers), even if globally rare.  Standard practice in production web
# corpora (e.g. the "line appears in ≥ N% of pages from the same
# domain" rule used by several public pipelines) — removing it before
# training stops the model from memorizing site chrome.
# ---------------------------------------------------------------------------


def host_templates(
    pages: DataFrame, pct: int = 60, min_pages: int = 2
) -> DataFrame:
    """pages: (host, url, text) → per-page template stats:
    (host, url, n_lines, tmpl_lines, kept_lines, kept_ppm).

    A line is template iff distinct-page support × 100 ≥ pct × the
    host's page count and the host has ≥ min_pages pages.  Integer-ppm
    output keeps the oracle engine-exact.

    Scale: lines shuffle once keyed by (host, md5(line)) — partial
    aggregation map-side, so the exchange carries one row per distinct
    (host, line), not one per occurrence; the template dimension that
    survives the support filter is tiny (chrome lines per host are
    single-digit) and broadcasts back under AQE; the final rollup is
    keyed by (host, url) — the frontier's own bucketing key.  Hot-host
    skew inherits the engine's salted-repartition pattern if one host
    dominates a partition.
    """
    lines = pages.select(
        "host",
        "url",
        F.explode(F.split(F.col("text"), "\n")).alias("line"),
    ).filter(F.trim(F.col("line")) != "")
    hashed = lines.select(
        "host", "url", F.md5(F.trim(F.col("line"))).alias("h")
    )
    n_pages = pages.groupBy("host").agg(
        F.countDistinct("url").alias("n_pages")
    )
    line_pages = hashed.groupBy("host", "h").agg(
        F.countDistinct("url").alias("page_cnt")
    )
    tmpl = (
        line_pages.join(n_pages, "host")
        .filter(
            (F.col("page_cnt") * 100 >= pct * F.col("n_pages"))
            & (F.col("n_pages") >= min_pages)
        )
        .select("host", "h")
        .withColumn("_t", F.lit(True))
    )
    return (
        hashed.join(tmpl, ["host", "h"], "left")
        .groupBy("host", "url")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(F.when(F.col("_t"), 1).otherwise(0))
            .cast("long")
            .alias("tmpl_lines"),
        )
        .withColumn("kept_lines", F.col("n_lines") - F.col("tmpl_lines"))
        .withColumn(
            "kept_ppm", F.expr("1000000 * kept_lines div n_lines")
        )
    )


# -- declared-vs-detected content language ----------------------------------

_HTML_LANG_PAT = r'(?i)<html\b[^>]*(?:^|[\s"])lang="([^"]*)"'
_CONTENT_LANGUAGE_PAT = r"(?im)^content-language:[ \t]*([^\r\n]*)"


def _primary_subtag(col):
    # BCP 47 primary language subtag: lowercase, strip region/script
    # ("EN-us" -> "en"); empty/whitespace values -> NULL
    tag = F.lower(F.trim(col))
    primary = F.split(tag, "-")[0]
    return F.when(primary != "", primary)


def content_language_audit(pages: DataFrame) -> DataFrame:
    """pages: (doc_id, headers, body, text) → declared-vs-detected
    language audit, one row per page: (doc_id, attr_lang, header_lang,
    declared, pred_lang, verdict).

    Declared sources, HTML-spec precedence (the root element's lang
    attribute wins over the Content-Language header): ``attr_lang`` =
    the <html lang="..."> attribute, ``header_lang`` = the FIRST token
    of the Content-Language header's comma list (the header is a list;
    the first entry is the primary audience language).  Both are
    normalized to the BCP 47 primary subtag (lowercased, region/script
    subtags stripped: "EN-us" ≡ "en").  Detected = the stopword-count
    lang_id over the extracted text.  Verdict: 'undeclared' (no source
    declared anything), 'undetected' (declared but the detector scored
    no language), 'match' / 'mismatch' otherwise — the audit a crawl
    pipeline uses both to QA sites (mislabeled lang hurts search) and to
    pick the trustworthy label for corpus routing.

    Scale: pure whole-stage-codegen regex/string expressions — map-only,
    no shuffle, no Python.  Reference analog: none (the C# engine never
    inspects language); the lang_id detector half is pipeline.text's.
    """
    attr = _primary_subtag(F.regexp_extract("body", _HTML_LANG_PAT, 1))
    hdr = _primary_subtag(
        F.split(F.regexp_extract("headers", _CONTENT_LANGUAGE_PAT, 1), ",")[0]
    )
    scores = {
        lang: sum([_count_token(F.col("text"), t) for t in toks], F.lit(0))
        for lang, toks in LANG_MARKERS.items()
    }
    best_score = F.greatest(*scores.values())
    pred = F.lit("und")
    for lang in reversed(list(LANG_MARKERS)):
        pred = F.when(
            (scores[lang] == best_score) & (best_score > 0), F.lit(lang)
        ).otherwise(pred)
    rows = pages.select(
        "doc_id",
        attr.alias("attr_lang"),
        hdr.alias("header_lang"),
        pred.alias("pred_lang"),
    )
    declared = F.coalesce("attr_lang", "header_lang")
    verdict = (
        F.when(declared.isNull(), "undeclared")
        .when(F.col("pred_lang") == "und", "undetected")
        .when(declared == F.col("pred_lang"), "match")
        .otherwise("mismatch")
    )
    return rows.select(
        "doc_id",
        "attr_lang",
        "header_lang",
        declared.alias("declared"),
        "pred_lang",
        verdict.alias("verdict"),
    )


# -- invisible/control character hygiene -------------------------------------

# soft hyphen, zero-width space/non-joiner/joiner, word joiner, BOM/ZWNBSP
_INVISIBLE_CLASS = "[\u00ad\u200b\u200c\u200d\u2060\ufeff]"
# C0/C1 controls except tab/newline/carriage-return
_CONTROL_CLASS = "[\u0000-\u0008\u000b\u000c\u000e-\u001f\u007f-\u009f]"


def unicode_hygiene(docs: DataFrame) -> DataFrame:
    """Invisible-character hygiene pass: counts and strips the
    characters that wreck tokenizers and dedup — soft hyphens (break
    tokens into unmatched shingles), zero-width (spam/SEO cloaking and
    watermarking), control chars (OCR/scrape damage).  Output:
    (doc_id, n_invisible, n_control, clean_text, changed).

    The standard pre-tokenization cleanup step (C4/CCNet pipelines run
    exactly this class of filter before counting anything).  Counting
    BEFORE stripping keeps the audit trail — a doc with thousands of
    zero-widths is a spam signal, not just a cleanup.

    Map-only codegen: two regexp_count + two regexp_replace over the
    text column; nothing shuffles, no Python.
    """
    n_inv = F.regexp_count("text", F.lit(_INVISIBLE_CLASS))
    n_ctl = F.regexp_count("text", F.lit(_CONTROL_CLASS))
    clean = F.regexp_replace(
        F.regexp_replace("text", _INVISIBLE_CLASS, ""),
        _CONTROL_CLASS,
        "",
    )
    return docs.select(
        "doc_id",
        n_inv.cast("long").alias("n_invisible"),
        n_ctl.cast("long").alias("n_control"),
        clean.alias("clean_text"),
        ((n_inv + n_ctl) > 0).alias("changed"),
    )


# -- main-content extraction (text-density heuristic) ------------------------

_P_BLOCK_PAT = r"(?is)<p\b[^>]*>(.*?)</p>"


def main_content(pages: DataFrame, min_main_chars: int = 50) -> DataFrame:
    """Boilerplate-vs-content split by text density (the trafilatura /
    readability family's core heuristic, reduced to its deterministic
    skeleton): harvest <p> block texts, pick the LONGEST block as the
    main content, and report how much of the page's paragraph text
    lives in it.  Output: (url, n_blocks, total_chars, main_chars,
    main_ppm, main_text, verdict in no_content / thin / ok).

    A crawler feeding a training corpus extracts from here — link
    farms and nav-shell pages score thin (many tiny blocks), article
    pages concentrate mass in one block.  Ties on block length break
    to the EARLIEST block (document order), so both engines agree.

    Map-only codegen: one regexp_extract_all + array aggregates.
    """
    blocks = F.regexp_extract_all("body", F.lit(_P_BLOCK_PAT), 1)
    lens = F.transform(blocks, lambda b: F.length(b))
    total = F.aggregate(lens, F.lit(0), lambda a, x: a + x)
    main_len = F.coalesce(F.array_max(lens), F.lit(0))
    main_idx = F.array_position(lens, main_len).cast("int")  # 1-based, first tie
    rows = pages.select(
        "url",
        F.size(blocks).alias("n_blocks"),
        total.cast("long").alias("total_chars"),
        main_len.cast("long").alias("main_chars"),
        F.when(
            total > 0, (main_len * 1_000_000 / total).cast("long")
        ).alias("main_ppm"),
        F.when(main_idx > 0, F.element_at(blocks, main_idx)).alias(
            "main_text"
        ),
    )
    verdict = (
        F.when(F.col("n_blocks") == 0, "no_content")
        .when(F.col("main_chars") < min_main_chars, "thin")
        .otherwise("ok")
    )
    return rows.select(
        "url", "n_blocks", "total_chars", "main_chars", "main_ppm",
        "main_text", verdict.alias("verdict"),
    )


def keyword_stuffing(
    docs: DataFrame, share_ppm_threshold: int = 200_000, min_tokens: int = 10
) -> DataFrame:
    """Keyword-stuffing detector: the share of a doc's tokens taken by
    its single most repeated token — the classic on-page spam metric
    (an honest document's top token is a stopword at a few percent; a
    stuffed one repeats the target phrase to 20%+).  Output: (doc_id,
    n_tokens, top_token, top_count, top_share_ppm, stuffed) with the
    flag requiring BOTH the share ≥ threshold AND ≥ min_tokens (tiny
    docs trivially concentrate).  Tie on count → lexicographically
    smallest token (deterministic in both engines).

    Complements quality_score's distinct-ratio (which a stuffer evades
    by padding with unique junk) and anchor_spam (which scores the
    inbound side).

    Scale: explode → ONE partial-aggregated groupBy (doc_id, token) →
    max_by per doc.  The (doc, token) key is naturally high-cardinality
    and skew-free; hot docs are bounded by max doc length.
    """
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    ).filter(F.col("tok") != "")
    per = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("c"))
    # smallest-token-wins tie semantics: rows at the max count, min token
    mx = per.groupBy("doc_id").agg(F.max("c").alias("max_c"))
    winner = (
        per.join(mx, "doc_id")
        .filter(F.col("c") == F.col("max_c"))
        .groupBy("doc_id")
        .agg(F.min("tok").alias("top_token"), F.max("c").alias("top_count"))
    )
    n = toks.groupBy("doc_id").agg(F.count("*").alias("n_tokens"))
    j = n.join(winner, "doc_id")
    share = (F.col("top_count") * 1_000_000 / F.col("n_tokens")).cast("long")
    return j.select(
        "doc_id",
        "n_tokens",
        "top_token",
        "top_count",
        share.alias("top_share_ppm"),
        (
            (share >= F.lit(int(share_ppm_threshold)))
            & (F.col("n_tokens") >= F.lit(int(min_tokens)))
        ).alias("stuffed"),
    )


def allcaps_spam(
    docs: DataFrame, caps_ppm_threshold: int = 300_000, min_tokens: int = 5
) -> DataFrame:
    """ALL-CAPS shouting detector: the share of a doc's multi-letter
    tokens written fully upper-case — the clickbait/spam headline
    signal quality classifiers weight heavily (legit prose caps a few
    percent of tokens: acronyms; listing spam caps most of them).
    Single-letter tokens are excluded (the pronoun 'I', initials) and
    tokens with no letters at all (numbers, punctuation) don't enter
    either count.  Output: (doc_id, n_alpha_tokens, n_caps,
    caps_ppm, shouting) with the flag gated on min_tokens.

    Map-only codegen: one split + two array filters, no shuffle.
    """
    toks = F.split(F.col("text"), " ")
    alpha = F.filter(
        toks, lambda t: t.rlike("[A-Za-z].*[A-Za-z]")
    )  # >= 2 letters
    caps = F.filter(alpha, lambda t: t.rlike("^[^a-z]*$") & t.rlike("[A-Z]"))
    n_alpha = F.size(alpha)
    n_caps = F.size(caps)
    ppm = F.when(
        n_alpha > 0, (n_caps * 1_000_000 / n_alpha).cast("long")
    )
    return docs.select(
        "doc_id",
        n_alpha.alias("n_alpha_tokens"),
        n_caps.alias("n_caps"),
        ppm.alias("caps_ppm"),
        (
            F.coalesce(ppm >= F.lit(int(caps_ppm_threshold)), F.lit(False))
            & (n_alpha >= F.lit(int(min_tokens)))
        ).alias("shouting"),
    )


GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_quality(
    docs: DataFrame,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_len: int = 3,
    max_mean_len: int = 10,
) -> DataFrame:
    """Full Gopher quality-rule battery (Rae et al. 2021 §A1.1) — the
    length/symbol/bullet/stopword sibling of :func:`repetition_stats`:

    1. word count in [min_words, max_words]
    2. mean word length in [min_mean_len, max_mean_len] chars
    3. symbol-to-word ratio ('#' chars + '...'/'…' occurrences) <= 0.1
    4. < 90% of lines start with a bullet ('-', '*', '•')
    5. < 30% of lines end with an ellipsis
    6. >= 80% of words contain at least one alphabetic character
    7. >= 2 distinct Gopher stop words present (the/be/to/of/and/
       that/have/with)

    Every rule is evaluated in exact integer arithmetic (cross-
    multiplied rationals, never floats), so the DuckDB oracle replays
    it bit-identically.  Words tokenize on runs of whitespace (empties
    dropped); lines split on '\\n' (empties dropped).

    Scale: map-only whole-stage codegen — splits, array filters and
    integer folds per row; zero shuffles, rides any upstream
    partitioning at 100 TB.
    """
    toks = F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != "")
    lines = F.filter(F.split(F.col("text"), "\n"), lambda l: l != "")
    n_words = F.size(toks)
    n_lines = F.size(lines)
    sum_word_chars = F.aggregate(
        F.transform(toks, F.length), F.lit(0), lambda a, x: a + x
    )
    hash_cnt = F.regexp_count(F.col("text"), F.lit("#"))
    ell_cnt = F.regexp_count(F.col("text"), F.lit(r"\.\.\.")) + F.regexp_count(
        F.col("text"), F.lit("…")
    )
    bullet_lines = F.size(
        F.filter(lines, lambda l: F.ltrim(l).rlike("^[-*•]"))
    )
    ellipsis_lines = F.size(
        F.filter(
            lines,
            lambda l: F.rtrim(l).rlike(r"(\.\.\.|…)$"),
        )
    )
    alpha_words = F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]")))
    stop_hits = sum(
        [
            # closure factory keeps the lambda strictly unary (PySpark
            # inspects higher-order-function arity)
            F.exists(toks, (lambda w: lambda t: F.lower(t) == w)(w)).cast(
                "int"
            )
            for w in GOPHER_STOPWORDS
        ],
        F.lit(0),
    )
    words_pass = (n_words >= min_words) & (n_words <= max_words)
    # min <= sum/n <= max  <=>  sum >= min*n AND sum <= max*n
    mean_len_pass = (sum_word_chars >= min_mean_len * n_words) & (
        sum_word_chars <= max_mean_len * n_words
    )
    symbol_pass = (hash_cnt + ell_cnt) * 10 <= n_words
    bullet_pass = bullet_lines * 10 < n_lines * 9
    ellipsis_pass = ellipsis_lines * 10 < n_lines * 3
    alpha_pass = alpha_words * 5 >= n_words * 4
    stop_pass = stop_hits >= 2
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        sum_word_chars.alias("sum_word_chars"),
        (hash_cnt + ell_cnt).alias("symbol_cnt"),
        n_lines.alias("n_lines"),
        bullet_lines.alias("bullet_lines"),
        ellipsis_lines.alias("ellipsis_lines"),
        alpha_words.alias("alpha_words"),
        stop_hits.alias("stop_hits"),
        words_pass.alias("words_pass"),
        mean_len_pass.alias("mean_len_pass"),
        symbol_pass.alias("symbol_pass"),
        bullet_pass.alias("bullet_pass"),
        ellipsis_pass.alias("ellipsis_pass"),
        alpha_pass.alias("alpha_pass"),
        stop_pass.alias("stop_pass"),
        (
            words_pass
            & mean_len_pass
            & symbol_pass
            & bullet_pass
            & ellipsis_pass
            & alpha_pass
            & stop_pass
        ).alias("gopher_pass"),
    )


def lexical_diversity(docs: DataFrame) -> DataFrame:
    """Type-token ratio + hapax-legomena share — the lexical-diversity
    quality signals (low TTR = template/spam text; high hapax share at
    long length = gibberish).  Tokens are lowercased whitespace words.

    Output: (doc_id, n_tokens, n_types, n_hapax, ttr_ppm, hapax_ppm)
    with the ratios as exact floor-ppm integers.

    Scale: explode → per-(doc, token) count → per-doc aggregate.  The
    (doc_id, token) partial aggregation combines map-side, so shuffle
    volume is the per-doc VOCABULARY (types), not the token stream;
    keys are (doc_id, token) — high cardinality, no skew.
    """
    toks = F.filter(
        F.transform(F.split(F.col("text"), r"\s+"), F.lower),
        lambda t: t != "",
    )
    base = docs.select("doc_id", F.size(toks).alias("n_tokens"),
                       toks.alias("_toks"))
    per_tok = (
        base.select("doc_id", F.explode("_toks").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("cnt"))
    )
    per_doc = per_tok.groupBy("doc_id").agg(
        F.count("*").alias("n_types"),
        F.sum((F.col("cnt") == 1).cast("long")).alias("n_hapax"),
    )
    return (
        base.select("doc_id", "n_tokens")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_types", F.lit(0)).alias("n_types"),
            F.coalesce("n_hapax", F.lit(0)).alias("n_hapax"),
            F.when(
                F.col("n_tokens") > 0,
                F.floor(
                    F.coalesce("n_types", F.lit(0)) * 1_000_000
                    / F.col("n_tokens")
                ),
            ).alias("ttr_ppm"),
            F.when(
                F.col("n_tokens") > 0,
                F.floor(
                    F.coalesce("n_hapax", F.lit(0)) * 1_000_000
                    / F.col("n_tokens")
                ),
            ).alias("hapax_ppm"),
        )
    )


def char_composition(
    docs: DataFrame, digit_ppm_max: int = 300_000, run_len: int = 10
) -> DataFrame:
    """Character-class composition gate: per-doc letter/digit/space/
    punctuation shares in exact floor-ppm integers, plus a long-digit-
    run flag (>= run_len consecutive digits — serial-number/price-table
    pages) and the numeric-heavy verdict (digit share above
    digit_ppm_max — the C4/MassiveText "mostly numbers" drop rule).

    No backreference regexes (the oracle's RE2 engine lacks them); all
    classes are explicit ranges both engines support.

    Scale: map-only codegen (four regexp_count + one rlike per row),
    zero shuffles.
    """
    n_chars = F.length("text")
    letters = F.regexp_count(F.col("text"), F.lit("[A-Za-z]"))
    digits = F.regexp_count(F.col("text"), F.lit("[0-9]"))
    spaces = F.regexp_count(F.col("text"), F.lit(" "))
    punct = F.regexp_count(F.col("text"), F.lit("[.,;:!?]"))
    ppm = lambda c: F.when(n_chars > 0, F.floor(c * 1_000_000 / n_chars))  # noqa: E731
    digit_ppm = ppm(digits)
    return docs.select(
        "doc_id",
        n_chars.alias("n_chars"),
        letters.alias("n_letters"),
        digits.alias("n_digits"),
        ppm(letters).alias("letter_ppm"),
        digit_ppm.alias("digit_ppm"),
        ppm(spaces).alias("space_ppm"),
        ppm(punct).alias("punct_ppm"),
        F.col("text").rlike("[0-9]{%d,}" % int(run_len)).alias("digit_run"),
        (
            F.coalesce(digit_ppm >= F.lit(int(digit_ppm_max)), F.lit(False))
        ).alias("numeric_heavy"),
    )


def script_mix(docs: DataFrame) -> DataFrame:
    """Unicode script-composition audit + homograph detector: per-doc
    character counts for the four most spoof-relevant scripts (Latin,
    Cyrillic, Greek, Han), the number of MIXED-SCRIPT tokens (a token
    carrying both Latin and Cyrillic letters — the classic IDN/phishing
    confusable signature, e.g. 'pаypal' with U+0430), the dominant
    script (deterministic tie order latin > cyrillic > greek > han,
    'none' when no scripted chars), and the confusable flag.

    Script classes use each engine's native Unicode-script regex
    (Java `\\p{IsCyrillic}` / RE2 `\\p{Cyrillic}`) — the class
    SEMANTICS match even though the spellings differ.

    Scale: map-only codegen (four regexp_count + one array filter),
    zero shuffles.
    """
    t = F.col("text")
    latin = F.regexp_count(t, F.lit(r"\p{IsLatin}"))
    cyr = F.regexp_count(t, F.lit(r"\p{IsCyrillic}"))
    greek = F.regexp_count(t, F.lit(r"\p{IsGreek}"))
    han = F.regexp_count(t, F.lit(r"\p{IsHan}"))
    toks = F.filter(F.split(t, r"\s+"), lambda x: x != "")
    mixed = F.size(
        F.filter(
            toks,
            lambda x: x.rlike(r"\p{IsLatin}") & x.rlike(r"\p{IsCyrillic}"),
        )
    )
    top = F.greatest(latin, cyr, greek, han)
    dominant = (
        F.when(top == 0, F.lit("none"))
        .when(latin == top, F.lit("latin"))
        .when(cyr == top, F.lit("cyrillic"))
        .when(greek == top, F.lit("greek"))
        .otherwise(F.lit("han"))
    )
    return docs.select(
        "doc_id",
        latin.alias("n_latin"),
        cyr.alias("n_cyrillic"),
        greek.alias("n_greek"),
        han.alias("n_han"),
        mixed.alias("mixed_tokens"),
        dominant.alias("dominant_script"),
        (mixed > 0).alias("confusable"),
    )


def sentence_dup(docs: DataFrame, min_len: int = 10) -> DataFrame:
    """Cross-document sentence-level duplication share — the C4/Lee-2022
    signal between paragraph_dedup (coarser) and dup_span (finer):
    split each doc into sentences (terminal .!? followed by space, a
    deliberately simple engine-portable splitter), drop sentences
    shorter than `min_len` chars, digest, and report per doc how many
    of its sentences also occur in at least one OTHER document —
    boilerplate ("All rights reserved.") lights up, original prose
    stays dark.

    Output: (doc_id, n_sentences, n_dup_sentences, dup_ppm).

    Scale: explode → (digest)-keyed count with map-side partial agg
    (the digest table is sentence-vocabulary-sized); the per-doc
    rollup joins back on digest — hot boilerplate digests are single
    rows after the combine.  Anchored on the full doc set.
    """
    # delimiter-preserving split WITHOUT lookbehind (RE2, the oracle's
    # engine, has none): mark each boundary with \x01, then split on it
    marked = F.regexp_replace(F.col("text"), r"([.!?])\s+", "$1\x01")
    sents = F.filter(
        F.transform(F.split(marked, "\x01"), lambda s: F.trim(s)),
        lambda s: F.length(s) >= int(min_len),
    )
    base = docs.select("doc_id", F.explode(sents).alias("sent")).select(
        "doc_id", F.md5(F.col("sent")).alias("digest")
    )
    # how many DISTINCT docs carry each digest
    df_counts = (
        base.distinct()
        .groupBy("digest")
        .agg(F.count("*").alias("n_docs_with"))
    )
    per_doc = (
        base.join(df_counts, "digest")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_sentences"),
            F.sum((F.col("n_docs_with") >= 2).cast("long")).alias(
                "n_dup_sentences"
            ),
        )
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_sentences", F.lit(0)).alias("n_sentences"),
            F.coalesce("n_dup_sentences", F.lit(0)).alias(
                "n_dup_sentences"
            ),
            F.when(
                F.coalesce("n_sentences", F.lit(0)) > 0,
                F.floor(
                    F.coalesce("n_dup_sentences", F.lit(0))
                    * 1_000_000
                    / F.col("n_sentences")
                ),
            ).alias("dup_ppm"),
        )
    )


def length_bucket(docs: DataFrame, max_bucket_hi: int = 4096) -> DataFrame:
    """Power-of-two length bucketing for batched inference/training —
    the text sibling of aspect_bucket: assign each doc to the smallest
    power-of-two token budget that holds it (bit length of n-1, the
    same float-free rule as degree_hist), cap at `max_bucket_hi`
    (overlong docs truncate there), and report per bucket the doc
    count plus the exact padding waste a pad-to-bucket batcher pays:
    waste_ppm = floor((Σ(bucket_hi - n_tokens)) · 10^6 / Σ bucket_hi).

    Output: (bucket_hi, n_docs, sum_tokens, padded_tokens, waste_ppm).

    Scale: map-only bucket assignment, one bucket-keyed groupBy
    (O(log max) distinct keys — partial agg collapses map-side).
    """
    n = F.size(F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != ""))
    raw_hi = F.expr(
        "shiftleft(CAST(1 AS BIGINT), "
        "CASE WHEN _n <= 1 THEN 0 ELSE length(bin(_n - 1)) END)"
    )
    b = docs.select(n.alias("_n")).select(
        "_n",
        F.least(raw_hi, F.lit(int(max_bucket_hi))).alias("bucket_hi"),
        F.least(F.col("_n"), F.lit(int(max_bucket_hi))).alias("_eff"),
    )
    return (
        b.groupBy("bucket_hi")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("_eff").alias("sum_tokens"),
            F.sum(F.col("bucket_hi") - F.col("_eff")).alias(
                "padded_tokens"
            ),
        )
        .select(
            "bucket_hi",
            "n_docs",
            "sum_tokens",
            "padded_tokens",
            F.floor(
                F.col("padded_tokens")
                * 1_000_000
                / (F.col("bucket_hi") * F.col("n_docs"))
            ).alias("waste_ppm"),
        )
    )


LANG_EXPECTED_SCRIPT = {
    "en": "latin", "de": "latin", "fr": "latin", "es": "latin",
    "ru": "cyrillic", "el": "greek", "zh": "han",
}


def lang_script_check(docs: DataFrame) -> DataFrame:
    """Declared-language vs dominant-script consistency — the cheap
    spoof/corruption check layered on :func:`script_mix`: a doc tagged
    lang=ru written entirely in Latin letters is either mislabeled,
    transliterated, or spam; all three are reasons to route it out of
    the per-language training mix.

    Input: (doc_id, text, lang).  Output: (doc_id, lang,
    dominant_script, expected_script, verdict ∈ consistent /
    inconsistent / unknown_lang / no_script).

    Scale: map-only — script_mix's counting expressions inlined plus a
    literal lang→script map; zero shuffles.
    """
    mixed = script_mix(docs).select("doc_id", "dominant_script")
    expected = F.lit(None).cast("string")
    for lang, script in reversed(list(LANG_EXPECTED_SCRIPT.items())):
        expected = F.when(F.col("lang") == lang, F.lit(script)).otherwise(
            expected
        )
    joined = docs.select("doc_id", "lang").join(mixed, "doc_id")
    verdict = (
        F.when(F.col("_exp").isNull(), F.lit("unknown_lang"))
        .when(F.col("dominant_script") == "none", F.lit("no_script"))
        .when(F.col("dominant_script") == F.col("_exp"), F.lit("consistent"))
        .otherwise(F.lit("inconsistent"))
    )
    return (
        joined.withColumn("_exp", expected)
        .select(
            "doc_id",
            "lang",
            "dominant_script",
            F.col("_exp").alias("expected_script"),
            verdict.alias("verdict"),
        )
    )


def zipf_spectrum(docs: DataFrame) -> DataFrame:
    """Token frequency spectrum in log2 buckets — the corpus-level
    Zipf diagnostic (every clean natural-language corpus shows the
    same ski-slope: a huge hapax band and a thin head).  The hapax
    band's TOKEN share is the working signal: OCR noise, mojibake, and
    id-soup all inflate distinct once-seen tokens, so a hapax
    token-share far above the natural ~40-60% band flags a corrupted
    shard before any model sees it (compose with `unicode_hygiene` /
    `charset_sniff` to find out why).

    Bucket b holds tokens with corpus frequency in (2^(b-1), 2^b]
    (bucket 0 = hapax), computed via the integer bit-length of cnt-1 —
    the `degree_hist` idiom, no float log, identical on any engine.

    Output per bucket: (bucket, freq_hi, n_tokens, n_occ,
    token_share_ppm, occ_share_ppm) — token share over the distinct
    vocab, occurrence share over the token stream.

    Scale: explode → token-keyed partial agg (hot tokens collapse
    map-side) → O(log max_freq)-row bucket agg + a 1-row broadcast
    total; same plan family as `degree_hist`.
    """
    counts = (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
    )
    bucket = (
        F.when(F.col("cnt") <= 1, F.lit(0))
        .otherwise(F.length(F.bin(F.col("cnt") - 1)))
        .cast("int")
    )
    per_bucket = (
        counts.select(bucket.alias("bucket"), "cnt")
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("cnt").alias("n_occ"),
        )
    )
    tot = per_bucket.agg(
        F.sum("n_tokens").alias("_tt"), F.sum("n_occ").alias("_to")
    )
    return (
        per_bucket.crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            # python-side F.shiftleft only takes a literal shift;
            # spell the column-shift in SQL (the degree_hist idiom)
            F.expr("shiftleft(CAST(1 AS BIGINT), bucket)").alias("freq_hi"),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("n_occ").cast("long").alias("n_occ"),
            F.floor(F.col("n_tokens") * 1_000_000 / F.col("_tt"))
            .cast("long")
            .alias("token_share_ppm"),
            F.floor(F.col("n_occ") * 1_000_000 / F.col("_to"))
            .cast("long")
            .alias("occ_share_ppm"),
        )
    )


def char_coverage(docs: DataFrame, cover_ppm: int = 999_500) -> DataFrame:
    """Character-coverage table — the statistic behind SentencePiece's
    ``character_coverage`` knob (Kudo & Richardson 2018 default
    0.9995): rank every character by corpus frequency and mark the
    prefix that covers ``cover_ppm`` of the character stream.  Chars
    outside the covered set are what a tokenizer maps to <unk>/bytes;
    a corpus whose tail explodes (CJK mixed into a Latin corpus,
    emoji floods, mojibake) shows up here before tokenizer training
    wastes a run.

    Output per character, ordered by (cnt desc, ch): (rank, ch, cnt,
    share_ppm, cum_ppm, covered) — ``covered`` uses the cross-
    multiplied integer compare (prefix BEFORE this char still under
    cover_ppm ⇒ this char is needed), so the boundary char is in.

    Scale: char stream partial-aggregates to the alphabet (hot chars
    collapse map-side); the rank/cumsum window runs on the ALPHABET
    table — bounded by distinct Unicode chars in the corpus (≤ ~150k
    rows even for full CJK), the documented single-partition-window
    exception (host_concentration precedent), three orders smaller.
    """
    counts = (
        docs.select(F.explode(F.split(F.col("text"), "")).alias("ch"))
        .filter(F.col("ch") != "")
        .groupBy("ch")
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.orderBy(F.col("cnt").desc(), F.col("ch"))
    tot = counts.agg(F.sum("cnt").alias("_t"))
    ranked = counts.crossJoin(F.broadcast(tot)).select(
        F.row_number().over(w).alias("rank"),
        "ch",
        "cnt",
        F.col("_t").alias("_t"),
        F.sum("cnt").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("_cum"),
    )
    return ranked.select(
        "rank",
        "ch",
        F.col("cnt").cast("long").alias("cnt"),
        F.floor(F.col("cnt") * 1_000_000 / F.col("_t"))
        .cast("long")
        .alias("share_ppm"),
        F.floor(F.col("_cum") * 1_000_000 / F.col("_t"))
        .cast("long")
        .alias("cum_ppm"),
        (
            (F.col("_cum") - F.col("cnt")) * 1_000_000
            < F.lit(int(cover_ppm)) * F.col("_t")
        ).alias("covered"),
    )


def readability(docs: DataFrame, round_dp: int = 6) -> DataFrame:
    """Flesch-Kincaid grade-level gate — the classic readability
    score, used as a cheap fluency/quality axis next to `ppl_buckets`
    (number-soup and keyword-stuffed pages score absurdly high or
    low; natural prose lands mid-band).  Syllables use the standard
    vowel-group heuristic (runs of [aeiouy] per lowercased word, min
    1) — deterministic and engine-replayable, unlike dictionary
    syllabification.

    FK grade = 0.39·(words/sentences) + 11.8·(syllables/word) −
    15.59, with sentences = max(1, count of [.!?]+ runs).  Docs with
    no words get NULL metrics and verdict 'empty'; otherwise verdict
    ∈ easy (≤5) / standard (≤10) / difficult, compared on the
    round_dp-rounded value so the bucket edge is engine-exact.

    Scale: map-only codegen (split + higher-order fold), zero
    shuffles.
    """
    arr = F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != "")
    n_words = F.size(arr)
    n_sent = F.greatest(
        F.lit(1),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[.!?]+"), F.lit(0))),
    )
    syl = F.aggregate(
        arr,
        F.lit(0),
        lambda acc, w: acc
        + F.greatest(
            F.lit(1),
            F.size(
                F.regexp_extract_all(F.lower(w), F.lit(r"[aeiouy]+"), F.lit(0))
            ),
        ),
    )
    grade = F.round(
        F.lit(0.39) * (n_words.cast("double") / n_sent.cast("double"))
        + F.lit(11.8) * (syl.cast("double") / n_words.cast("double"))
        - F.lit(15.59),
        round_dp,
    )
    has_words = n_words > 0
    verdict = (
        F.when(~has_words, F.lit("empty"))
        .when(grade <= 5.0, F.lit("easy"))
        .when(grade <= 10.0, F.lit("standard"))
        .otherwise(F.lit("difficult"))
    )
    return docs.select(
        "doc_id",
        F.when(has_words, n_words).cast("long").alias("n_words"),
        F.when(has_words, n_sent).cast("long").alias("n_sentences"),
        F.when(has_words, syl).cast("long").alias("n_syllables"),
        F.when(has_words, grade).alias("fk_grade"),
        verdict.alias("verdict"),
    )


# the classic UTF-8-bytes-read-as-cp1252 double-encoding digraphs (the
# ftfy core cases).  2-byte sources (Latin letters) become 2-char
# digraphs; 3-byte sources (punctuation) become 3-char trigraphs whose
# middle char is U+20AC (0x80 in cp1252) — e.g. the right single quote
# U+2019 (E2 80 99) renders as "\u00e2\u20ac\u2122".
MOJIBAKE_PAIRS = (
    ("\u00c3\u00a9", "\u00e9"),  # e-acute
    ("\u00c3\u00a8", "\u00e8"),  # e-grave
    ("\u00c3\u00a0", "\u00e0"),  # a-grave
    ("\u00c3\u00a4", "\u00e4"),  # a-umlaut
    ("\u00c3\u00b6", "\u00f6"),  # o-umlaut
    ("\u00c3\u00bc", "\u00fc"),  # u-umlaut
    ("\u00c3\u00b1", "\u00f1"),  # n-tilde
    ("\u00c3\u00a7", "\u00e7"),  # c-cedilla
    ("\u00e2\u20ac\u2122", "\u2019"),  # right single quote
    ("\u00e2\u20ac\u0153", "\u201c"),  # left double quote
    ("\u00e2\u20ac\u009d", "\u201d"),  # right double quote
    ("\u00e2\u20ac\u201c", "\u2013"),  # en dash
    ("\u00e2\u20ac\u00a6", "\u2026"),  # ellipsis
    ("\u00c2\u00a0", "\u00a0"),  # nbsp
)


def mojibake_fix(docs: DataFrame) -> DataFrame:
    """ftfy-lite mojibake repair — UTF-8 bytes decoded as cp1252
    ("\u00c3\u00a9" where "\u00e9" belongs, "\u00e2\u20ac\u2122"
    for an apostrophe) is the single most common text corruption in
    web corpora, survives every downstream tokenizer, and is
    mechanically reversible for the high-frequency digraphs.  This is
    the deterministic replace-chain core of the fix (the ftfy
    heuristic engine is the production swap-in); `zipf_spectrum`'s
    hapax band and `unicode_hygiene` find the shards that need it.

    Output: (doc_id, n_fixed — total digraph replacements, fixed_text,
    had_mojibake).  The count accumulates per pair from the length
    delta divided by that pair's shrink (left sides are mutually
    disjoint, so sequential replaces never create or destroy each
    other's sites — the en-dash trigraph DOES contain a left-double-
    quote char, but as its 3rd char, never forming the quote's own
    \u00e2-led trigraph).

    Scale: map-only codegen replace chain, zero shuffles; the pair
    table is compile-in (extending it is a data change).
    """
    t = F.col("text")
    fixed = t
    n_fixed = F.lit(0)
    for bad, good in MOJIBAKE_PAIRS:
        shrink = len(bad) - len(good)
        nxt = F.replace(fixed, F.lit(bad), F.lit(good))
        n_fixed = n_fixed + (
            (F.length(fixed) - F.length(nxt)) / F.lit(shrink)
        ).cast("int")
        fixed = nxt
    return docs.select(
        "doc_id",
        n_fixed.cast("int").alias("n_fixed"),
        fixed.alias("fixed_text"),
        (n_fixed > 0).alias("had_mojibake"),
    )
