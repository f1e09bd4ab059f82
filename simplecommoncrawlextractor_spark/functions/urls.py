"""URL canonicalization, outlink extraction, and the URL filter chain.

The reference harvests outlinks from Wikipedia externallinks SQL dumps
(wikilinks/ExternalLinkExtractor.java:106-158) and pipes each URL through a
JSON-configured regex mapper chain (schema/FieldMapper.java:37-120,
resources/url_mappings.json) plus a URI-validity check (URLUtil.java:35-49).
Here: extraction + canonicalization are Arrow-batched pandas UDFs
(no row-at-a-time Python UDFs anywhere); the filter chain is a fused
JVM-side rlike alternation — Catalyst pushes it below the expensive UDFs.

Canonicalization itself (RFC 3986 normalize + scheme/host lowercase +
query-param sort) is NEW functionality required by the north rule — the
reference only checks URI validity.
"""

from __future__ import annotations

import re
from urllib.parse import parse_qsl, urlencode, urlsplit, urlunsplit

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType

# Matches absolute http(s) URLs and protocol-relative //host/path
# (ExternalLinkExtractor.java:142-144 prepends "http:" to '//' links).
# The protocol-relative alternative must NOT fire on the '//' inside other
# schemes (ftp://, wss://, ...) — that would fabricate http URLs that never
# appeared in the document — hence the lookbehind excluding scheme chars.
_URL_RE = re.compile(
    r"""(?:https?://|(?<![A-Za-z0-9+.:\-])//)[^\s<>"'\])]+""",
    re.IGNORECASE,
)

_DEFAULT_PORTS = {"http": ":80", "https": ":443"}

# RFC 3986 §2.3 unreserved characters; §6.2.2.2 says percent-encodings of
# these MUST be decoded for comparison; §6.2.2.1 uppercases the hex of the
# escapes that remain. Without this, '%7Euser' and '~user' (or '%2e'
# sneaking a dot segment past resolution) become duplicate frontier entries
# and the crawler fetches the same resource twice.
_UNRESERVED = frozenset(
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789-._~"
)
_PCT_RE = re.compile(r"%([0-9A-Fa-f]{2})")
# a path segment that is exactly '.' or '..'
_DOTSEG_RE = re.compile(r"/\.{1,2}(?:/|$)")


def _pct_decode_unreserved(s: str) -> str:
    """Decode %XX escapes of unreserved chars; uppercase the hex of the
    rest (RFC 3986 §6.2.2.1-2)."""

    def sub(m: re.Match) -> str:
        ch = chr(int(m.group(1), 16))
        return ch if ch in _UNRESERVED else "%" + m.group(1).upper()

    return _PCT_RE.sub(sub, s)


def _remove_dot_segments(path: str) -> str:
    """RFC 3986 §5.2.4 for an absolute path: '.' segments vanish, '..'
    pops (never above root), both leave a trailing slash when final."""
    out: list[str] = []
    trailing = False
    for seg in path.lstrip("/").split("/"):
        if seg == ".":
            trailing = True
        elif seg == "..":
            if out:
                out.pop()
            trailing = True
        else:
            out.append(seg)
            trailing = False
    res = "/" + "/".join(out)
    if trailing and not res.endswith("/"):
        res += "/"
    return res


def _canon_path(path: str) -> str:
    """Shared path normalization: collapse duplicate slashes, decode
    unreserved escapes (which may surface new dot segments — decode runs
    first), resolve dot segments. %2F stays encoded (not unreserved), so
    decoding can't create new slashes."""
    while "//" in path:
        path = path.replace("//", "/")
    if "%" in path:
        path = _pct_decode_unreserved(path)
    if _DOTSEG_RE.search(path):
        path = _remove_dot_segments(path)
    return path

# Reference length cap: url_mappings.json:98-105 drops URLs matching ``.{3000}``.
MAX_URL_LEN = 3000


@F.pandas_udf(ArrayType(StringType()))
def extract_urls(text: pd.Series) -> pd.Series:
    """Harvest candidate outlink URLs from a text span (Arrow-batched).

    Protocol-relative ``//host/path`` links get an ``http:`` prefix —
    parity with ExternalLinkExtractor.java:142-144. Whitespace runs inside
    candidate URLs are impossible by construction of the regex (the
    reference instead collapses ``\\s+`` to one space first, :139-141).
    """
    return text.fillna("").str.findall(_URL_RE).map(
        lambda urls: ["http:" + u if u.startswith("//") else u for u in urls]
    )


def _canon_one(u: str) -> str | None:
    """RFC 3986 normalization of one URL. None = unparseable (dropped,
    mirroring the reference's URI-validity drop, URLUtil.java:39-47)."""
    try:
        parts = urlsplit(u)
    except ValueError:
        return None
    scheme = parts.scheme.lower()
    if scheme not in ("http", "https"):
        return None
    host = parts.hostname
    if not host:
        return None
    host = host.rstrip(".").lower()
    netloc = host
    try:
        port = parts.port
    except ValueError:
        return None
    if port is not None and f":{port}" != _DEFAULT_PORTS.get(scheme):
        netloc = f"{host}:{port}"
    path = _canon_path(parts.path or "/")
    query = ""
    if parts.query:
        query = urlencode(sorted(parse_qsl(parts.query, keep_blank_values=True)))
    return urlunsplit((scheme, netloc, path, query, ""))  # fragment dropped


_DECOMP_RE = (
    r"^(?P<scheme>[A-Za-z][A-Za-z0-9+.\-]*)://"
    r"(?P<host>[A-Za-z0-9\-]+(?:\.[A-Za-z0-9\-]+)*)\.?"
    r"(?::(?P<port>\d+))?"
    r"(?P<path>/[^?#]*)?"
    r"(?:\?(?P<query>[^#]*))?"
    r"(?:#.*)?$"
)


def _sort_query(q: str) -> str:
    return urlencode(sorted(parse_qsl(q, keep_blank_values=True)))


# query strings of plain k=v pairs (no %-escapes, '+', or valueless keys):
# sorting the raw parts equals parse_qsl→sort→urlencode, no decode round-trip
_PLAIN_QS_RE = (
    r"^[A-Za-z0-9_.~\-]+=[A-Za-z0-9_.~\-]*"
    r"(?:&[A-Za-z0-9_.~\-]+=[A-Za-z0-9_.~\-]*)*$"
)


def _fast_sort_parts(parts: list[str]) -> str:
    # sort by (key, value) tuples — matches parse_qsl ordering exactly
    # (raw-string sort would diverge when one key prefixes another, since
    # '=' compares greater than digits); every char here is urlencode-safe,
    # so skipping the decode/encode round-trip is lossless
    return "&".join("=".join(kv) for kv in sorted(p.split("=", 1) for p in parts))


@F.pandas_udf(StringType())
def canonicalize_url(url: pd.Series) -> pd.Series:
    """Vectorized canonicalizer: lowercase scheme/host, strip default ports,
    trailing host dots and fragments, sort query params, collapse path
    slashes, path defaults to '/'. Nulls out unparseable / non-http(s)
    URLs (the reference drops those after its URI-validity check,
    URLUtil.java:39-47).

    Three tiers, fastest first:
    1. already-canonical rows: one regex match, returned untouched;
    2. regex-decomposable rows: ALL transforms run as pyarrow.compute
       kernels (RE2 + C++ string ops, ~10-30× the pandas object-dtype
       path — see _urls_arrow's module docstring) — per-row Python only
       for the minority with escapes, dot segments, or 3+/odd query
       params;
    3. leftovers (userinfo, IPv6 brackets, out-of-range ports, exotic
       syntax): urlsplit row-wise (``_canon_one``, the reference
       implementation the fuzz tests pin both tiers against).
    """
    from ._urls_arrow import canonicalize_batch

    return canonicalize_batch(url)


def with_canonical_url(df, url_col: str = "url", out_col: str = "url_canon"):
    """Attach the canonical URL as ONE ``mapInPandas`` pass (round 6).

    Why not ``withColumn(out_col, canonicalize_url(...))``: a downstream
    filter on the canonical form (the F12 chain in
    ``plans.frontier.canonical_candidates``) gets pushed below the
    projection and ExtractPythonUDFs then materializes TWO
    ArrowEvalPython nodes — one feeding the filter, one re-canonicalizing
    the survivors (captured in plans/r06/frontier_schedule_prod_before
    nodes 11+14). ``mapInPandas`` is opaque to predicate pushdown, so the
    canonicalizer provably runs once per row; same function, same Arrow
    batching, all input columns pass through unchanged (measured:
    frontier prod query 1.47 → 1.05 s, the 2M-URL kernel candidate leg
    1.13 → 0.87 s at sf0.1/local[32], byte-identical output)."""
    fields = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields)

    def canon(batches):
        from ._urls_arrow import canonicalize_batch

        for pdf in batches:
            pdf = pdf.copy()
            pdf[out_col] = canonicalize_batch(pdf[url_col])
            yield pdf

    return df.mapInPandas(canon, f"{fields}, `{out_col}` string")


def compile_filter_chain(patterns: list[str]) -> Column:
    """Build the reference's ordered URL filter chain as ONE fused predicate.

    Semantics (schema/FilterFieldMapper.java:50-56 + ChainedFieldMapper.java:32-38):
    each rule blanks the value if its regex FINDS a match; rules don't
    interact, so the chain is equivalent to a single alternation. Plus the
    length cap from url_mappings.json:98-105 and non-null. Returns a
    predicate builder: ``ok(url_col) -> BooleanColumn`` (True = keep).
    """
    fused = "|".join(f"(?:{p})" for p in patterns) if patterns else None

    def ok(c: Column) -> Column:
        cond = c.isNotNull() & (F.length(c) < MAX_URL_LEN)
        if fused:
            cond = cond & ~c.rlike(fused)
        return cond

    return ok


# Default chain: structural rules only (the reference ships wiki-harvest
# specific domain blocklists in url_mappings.json; those are config, not
# engine). Engine-level defaults keep the length cap + obvious non-fetchables.
DEFAULT_FILTER_PATTERNS: list[str] = [
    r"(?i)^https?://localhost[/:]",
    r"(?i)^https?://(127\.0\.0\.1|0\.0\.0\.0|\[?::1\]?)[/:]",
]

url_filter_ok = compile_filter_chain(DEFAULT_FILTER_PATTERNS)
