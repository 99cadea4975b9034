"""P1 — URL canonicalization kernel (the most correctness-critical kernel).

Semantics mirror the reference's ``UriExtensions.GetDerivedUri``
(/root/reference/SpiderEngine/UriExtensions.cs:12-24):

  1. if ``href.lower().startswith("http")`` treat as absolute, else resolve
     against the base URL (note: the prefix test is on the raw string, so
     ``https`` matches and — faithfully to the reference — so would a
     relative path beginning with "http");
  2. HTML-entity decode the resulting URL string (``WebUtility.HtmlDecode``);
  3. strip everything from the LAST ``#`` (internal-anchor removal);
  4. re-parse, applying .NET ``Uri``-style normalization: lowercase
     scheme+host, strip default ports (80/443), empty path → "/",
     dot-segment resolution.

Implemented once in pure Python (shared verbatim by the pytest BFS oracle)
and exposed as an Arrow-vectorized pandas UDF for the Spark plan — no
per-row Python crosses the JVM boundary row-at-a-time (north rule,
BASELINE.json input_hint).
"""

from __future__ import annotations

import html
import re
from urllib.parse import urljoin, urlsplit, urlunsplit

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

_DEFAULT_PORTS = {"http": "80", "https": "443"}


def _remove_dot_segments(path: str) -> str:
    """RFC 3986 §5.2.4 — what .NET Uri does to absolute-URL paths."""
    out: list[str] = []
    for seg in path.split("/"):
        if seg == "..":
            if len(out) > 1:
                out.pop()
        elif seg != ".":
            out.append(seg)
    if path.endswith(("/.", "/..")):
        out.append("")
    return "/".join(out)


def _normalize(url: str) -> str | None:
    try:
        parts = urlsplit(url)
    except ValueError:
        return None
    scheme = parts.scheme.lower()
    if not scheme:
        return None
    if scheme in ("http", "https"):
        host = (parts.hostname or "").lower()
        if not host:
            return None
        port = parts.port
        netloc = host
        if port is not None and str(port) != _DEFAULT_PORTS.get(scheme, ""):
            netloc = f"{host}:{port}"
        path = _remove_dot_segments(parts.path) or "/"
        # NOTE: only the LAST '#' was stripped upstream (UriExtensions.cs:18)
        # so a residual fragment from a multi-'#' href survives, exactly as
        # .NET's final `new Uri(decodedUri)` keeps it
        return urlunsplit((scheme, netloc, path, parts.query, parts.fragment))
    # non-http(s) schemes (mailto:, ftp:, ...) are kept verbatim so the
    # unsupported-scheme branch can record them (Engine.cs:263-273)
    return url


# fast paths for hrefs that are ALREADY in canonical form — lowercase
# scheme+host, no port/userinfo, a path with no query/fragment/entity/
# dot-segment triggers.  ~90% of real-web hrefs hit one of these; the rest
# fall through to the full urllib pipeline (identical output, asserted by
# test_kernels.py::test_canonicalize_fast_path_equivalence).
_FAST_ABS = re.compile(r"https?://[a-z0-9\-]+(?:\.[a-z0-9\-]+)*/[^?#%&\s]*\Z")
_FAST_REL = re.compile(r"/[^/?#%&\s][^?#%&\s]*\Z")
_FAST_BASE = re.compile(r"(https?://[a-z0-9\-]+(?:\.[a-z0-9\-]+)*)/")


# one-entry memo for the relative fast path: a page's ~150 links all share
# one base_url, so the base prefix match + dot-segment scan run once per
# page instead of once per link (python workers are single-threaded)
_BASE_MEMO: tuple[str | None, str | None] = (None, None)


def canonicalize(base_url: str | None, href: str | None) -> str | None:
    """Canonical absolute URL, or None when the href cannot form a URL
    (the reference drops such links on the floor via an unobserved task
    exception — Engine.cs:322-349)."""
    global _BASE_MEMO
    if href is None:
        return None
    href = href.strip()
    if not href:
        return None
    if "/." not in href:
        if _FAST_ABS.match(href):
            return href
        if base_url is not None and _FAST_REL.match(href):
            if _BASE_MEMO[0] == base_url:
                pref = _BASE_MEMO[1]
            else:
                mb = _FAST_BASE.match(base_url)
                pref = (
                    mb.group(1)
                    if (mb is not None and "/." not in base_url)
                    else None
                )
                _BASE_MEMO = (base_url, pref)
            if pref is not None:
                return pref + href
    try:
        if href.lower().startswith("http"):
            url = href
        elif base_url:
            url = urljoin(base_url, href)
        else:
            return None
    except ValueError:
        return None
    url = html.unescape(url)  # UriExtensions.cs:16
    idx = url.rfind("#")  # UriExtensions.cs:18-22 (LAST '#')
    if idx != -1:
        url = url[:idx]
    if not url:
        return None
    return _normalize(url)


def normalize_seed(seed: str | None) -> str | None:
    """A seed-list entry as a canonical URL (EngineConfig.cs:58-70): trim
    every whitespace kind, default the scheme to http:// when the seed
    does not start with "http", then canonicalize.  None when the seed
    cannot form a URL."""
    seed = (seed or "").strip()
    if seed and not seed.lower().startswith("http"):
        seed = "http://" + seed
    return canonicalize(None, seed)


def host_of(url: str | None) -> str | None:
    """P2 — authority host (Engine.cs:76 GetLeftPart(Authority) host part)."""
    if not url:
        return None
    try:
        return (urlsplit(url).hostname or "").lower() or None
    except ValueError:
        return None


def split_host(url: str | None) -> str:
    h = host_of(url)
    return h if h is not None else ""


def authority_of(url: str | None) -> str | None:
    """``scheme://host[:port]`` — the reference's expansion base
    (Engine.cs:76: ``BaseUri = new Uri(StartUri.GetLeftPart(Authority))``):
    lowercased scheme+host, explicit non-default port kept (canonicalize
    already strips default ports upstream)."""
    if not url:
        return None
    try:
        parts = urlsplit(url)
        port = parts.port
    except ValueError:
        return None
    scheme = parts.scheme.lower()
    host = (parts.hostname or "").lower()
    if not scheme or not host:
        return None
    if port is not None and str(port) != _DEFAULT_PORTS.get(scheme, ""):
        return f"{scheme}://{host}:{port}"
    return f"{scheme}://{host}"


def base_prefix_of(url: str | None) -> str | None:
    """The string prefix a URL must carry for ``seed.IsBaseOf(url)`` to
    hold: ``scheme://authority`` + the seed's path truncated through its
    last '/' (the .NET segment truncation).  For canonicalized URLs the
    prefix test is exact in both directions.

    The multi-seed checker gate collects the DISTINCT base prefixes of all
    seeds — formulaic seed lists share a handful of directories, so the
    set stays tiny even at 10^10 seeds."""
    auth = authority_of(url)
    if auth is None:
        return None
    p = urlsplit(url).path or "/"
    return auth + (p[: p.rfind("/") + 1] or "/")


@F.pandas_udf(T.StringType())
def canonicalize_udf(base: pd.Series, href: pd.Series) -> pd.Series:
    """Vectorized (Arrow-batched) canonicalization: Series in, Series out."""
    return pd.Series(
        [canonicalize(b, h) for b, h in zip(base, href)], dtype="object"
    )


@F.pandas_udf(T.StringType())
def normalize_seed_udf(seed: pd.Series) -> pd.Series:
    return pd.Series([normalize_seed(s) for s in seed], dtype="object")


@F.pandas_udf(T.StringType())
def host_udf(url: pd.Series) -> pd.Series:
    return pd.Series([split_host(u) for u in url], dtype="object")


@F.pandas_udf(T.StringType())
def authority_udf(url: pd.Series) -> pd.Series:
    return pd.Series([authority_of(u) for u in url], dtype="object")


@F.pandas_udf(T.StringType())
def base_prefix_udf(url: pd.Series) -> pd.Series:
    return pd.Series([base_prefix_of(u) for u in url], dtype="object")


def canonical_segments_match(url: str, canonical_href: str) -> bool:
    """P7 — the reference's segment-wise canonical compare
    (/root/reference/SpiderEngine/CanonicalChecker.cs:46-62): compare path
    segment counts, then each unescaped+lowercased segment from index 1.
    Authority is NOT compared (.NET Uri.Segments is path-only), and .NET
    segment semantics keep the trailing '/' on intermediate segments."""
    from urllib.parse import unquote

    def segs(u: str) -> list[str]:
        path = urlsplit(u).path or "/"
        out, cur = [], ""
        for ch in path:
            cur += ch
            if ch == "/":
                out.append(cur)
                cur = ""
        if cur:
            out.append(cur)
        return out or ["/"]

    a, b = segs(url), segs(canonical_href)
    if len(a) != len(b):
        return False
    return all(unquote(x).lower() == unquote(y).lower() for x, y in zip(a[1:], b[1:]))


@F.pandas_udf(T.BooleanType())
def canonical_match_udf(url: pd.Series, href: pd.Series) -> pd.Series:
    return pd.Series(
        [
            canonical_segments_match(u, h) if h is not None else False
            for u, h in zip(url, href)
        ]
    )


# ---------------------------------------------------------------------------
# Query-string normalization (pure Column expression — JVM codegen, no UDF)
# ---------------------------------------------------------------------------

# ad/analytics click-tracking params: never affect the resource served, so
# two URLs differing only in them are the same page — the classic crawl
# duplicate multiplier (utm_* alone is most of it in the wild)
TRACKING_PARAM_PREFIXES = ("utm_", "fbclid", "gclid", "msclkid", "mc_eid")


def normalize_query_expr(url_col, strip_prefixes=TRACKING_PARAM_PREFIXES):
    """URL with its query string normalized: tracking params stripped,
    remaining params sorted bytewise, fragment-free URLs only (the crawl
    candidate stream is already defragmented by P1 canonicalization).

    Collapses the two biggest query-string duplicate families a frontier
    sees — param ORDER permutations and click-tracking decoration — before
    the seen anti-join, so the 10^10-row seen set never stores them.  The
    reference's .NET Uri normalization keeps query strings verbatim
    (`UriHelpers.cs` — host/scheme/port only), so this is an additive
    dedup layer, off the P1 path, applied where a pipeline opts in.

    Pure built-in expression (split / filter / array_sort / array_join —
    whole-stage codegen); the DuckDB oracle mirrors it with string_split /
    list_filter / list_sort / array_to_string (both engines sort ASCII
    bytewise).
    """
    url = F.col(url_col) if isinstance(url_col, str) else url_col
    base = F.substring_index(url, "?", 1)
    # query part: everything after the FIRST '?' (a '?' inside the query
    # is legal and preserved by substr(len(base)+2))
    q = url.substr(F.length(base) + F.lit(2), F.length(url))
    return F.when(
        ~url.contains("?"), url
    ).otherwise(
        F.concat(
            base,
            F.when(
                F.size(
                    F.filter(
                        F.split(q, "&"),
                        lambda x: ~_is_tracking(x, strip_prefixes),
                    )
                )
                > 0,
                F.concat(
                    F.lit("?"),
                    F.array_join(
                        F.array_sort(
                            F.filter(
                                F.split(q, "&"),
                                lambda x: ~_is_tracking(x, strip_prefixes),
                            )
                        ),
                        "&",
                    ),
                ),
            ).otherwise(F.lit("")),
        )
    )


def _is_tracking(param, prefixes):
    cond = param.startswith(prefixes[0])
    for p in prefixes[1:]:
        cond = cond | param.startswith(p)
    return cond
