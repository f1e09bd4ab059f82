"""S9: Wikipedia ``externallinks`` SQL-dump outlink scan.

The reference streams a gzipped mysqldump byte-by-byte
(wikilinks/ExternalLinkExtractor.java:50-183): skip to the first
``VALUES``, then for each parenthesized tuple capture column 3 (the
``el_to`` URL) — single-quoted cells honor backslash escapes (the byte
AFTER a backslash is emitted verbatim, so ``\\'`` → ``'`` and ``\\n`` →
literal ``n``), commas/parens inside quotes don't terminate, and every
other column's bytes are discarded. Captured URLs get ``http:`` prepended
when protocol-relative, whitespace runs collapsed to one space
(:142-145), the ``url_mappings.json`` input_url mapper chain + URI gate
(URLUtil.clean), and emit as (host, url) where host comes from
``new URI(...).getHost()`` or '' (:146-157).

Spark-first: ``spark.read.text`` splits the dump into lines (mysqldump
emits one self-contained INSERT statement per line, so tuples never span
Spark rows — the one structural difference from the byte stream, which
would tolerate a mid-tuple newline); the scanner runs per line as an
Arrow-batched pandas UDF operating on characters (equivalent to the
reference's byte machine for the ASCII metacharacters it switches on).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.mappers import apply_mapper_chain_staged, uri_valid

URL_COLUMN = 3  # el_to in the externallinks schema (ExternalLinkExtractor.java:127)

# fast-path lexer: ONE C-speed regex pass per line that matches whole
# tuples and captures the url column, instead of a Python char loop. A
# cell is an unquoted run (no quote/comma/paren) or a single-quoted
# string honoring backslash escapes (unrolled-loop pattern — linear, no
# catastrophic backtracking); a tuple is 4+ cells. Gap validation makes
# the shortcut safe: any bytes between matched tuples beyond separators
# (mixed-quote cells, short tuples, dangling escapes, stray parens)
# reject the line to the char machine, which IS the reference semantics
# — the fast path is only ever an equivalent shortcut, never a semantic
# fork (equivalence is property-tested in tests/test_wikidump.py).
# \x00 is excluded from every cell class so a batch of lines can be
# joined on NUL and lexed in ONE findall without a tuple ever spanning
# two lines (inputs containing NUL fall back per line)
_QC = r"'[^'\\\x00]*(?:\\[^\x00][^'\\\x00]*)*'"
_UC = r"[^',()\x00]*"
_CELL = "(?:%s|%s)" % (_QC, _UC)
_TUPLE_RE = re.compile(
    r"\((?:%s,){%d}(%s|%s)(?:,%s)*\)" % (_CELL, URL_COLUMN, _QC, _UC, _CELL)
)
# DOTALL: the escaped char may be a newline ('\<LF>' in a cell must
# unescape to LF exactly like the char machine emits it)
_UNESC_RE = re.compile(r"\\(.)", re.DOTALL)


def _cells_postprocess(cells: list[str]) -> list[str]:
    """Strip quotes and batch-unescape captured cells (ONE sub pass for
    the whole list: a quoted cell can never end in an unpaired backslash
    — the pattern pairs every '\\' with its next char — so NUL joints
    are safe)."""
    out: list[str] = []
    esc_idx: list[int] = []
    for c in cells:
        if c[:1] == "'":
            c = c[1:-1]
            if "\\" in c:
                esc_idx.append(len(out))
        out.append(c)
    if esc_idx:
        fixed = _UNESC_RE.sub(
            r"\1", "\x00".join(out[i] for i in esc_idx)
        ).split("\x00")
        for i, v in zip(esc_idx, fixed):
            out[i] = v
    return out


def _lex_lines_batch(lines) -> list[str]:
    """Lex a whole Arrow batch of INSERT lines in TWO C regex passes
    (findall for the capture cells, sub for coverage validation) over the
    NUL-joined regions — per-tuple Python work drops to the quote-strip
    loop. Any irregularity anywhere re-lexes line by line (fast path per
    line, char machine as the authority)."""
    regions = []
    for s in lines:
        if isinstance(s, str) and "\x00" not in s:
            i = s.find("VALUES")
            if i >= 0:
                regions.append(s[i + 6 :])
        elif isinstance(s, str):
            regions = None  # NUL in input: joint marker unusable
            break
    if regions is not None:
        joined = "\x00".join(regions)
        leftover = _TUPLE_RE.sub("", joined)
        if not leftover.strip(" ,;\t\r\n\x00"):
            return _cells_postprocess(_TUPLE_RE.findall(joined))
    out: list[str] = []
    for s in lines:
        if isinstance(s, str):
            out.extend(_lex_values_line(s))
    return out


def _lex_values_line_fast(s: str, url_col: int = URL_COLUMN) -> list[str] | None:
    """Regex tuple scan for the capture column; None = not fully regular
    (unscanned bytes beyond separators between tuples), caller must use
    the char machine."""
    if url_col != URL_COLUMN:
        return None  # the compiled pattern is specialized for el_to
    start = s.find("VALUES")
    if start < 0:
        return []
    region = s[start + 6 :]
    if "\x00" in region:
        return None  # NUL is the batch-unescape join marker
    if _TUPLE_RE.sub("", region).strip(" ,;\t\r\n"):
        return None
    return _cells_postprocess(_TUPLE_RE.findall(region))


def _lex_values_line(s: str, url_col: int = URL_COLUMN) -> list[str]:
    if url_col == URL_COLUMN:
        fast = _lex_values_line_fast(s)
        if fast is not None:
            return fast
    return _lex_values_line_slow(s, url_col)


def _lex_values_line_slow(s: str, url_col: int = URL_COLUMN) -> list[str]:
    """One INSERT line → the captured url-column value of every tuple.
    Mirrors readToVALUES/readRecord/readToSquote exactly: only the capture
    column's characters are buffered; a backslash escape emits the NEXT
    character verbatim; a close paren or top-level comma ends the cell."""
    out: list[str] = []
    start = s.find("VALUES")
    if start < 0:
        return out
    i = start + 6
    n = len(s)
    while i < n:
        if s[i] != "(":
            i += 1
            continue
        i += 1
        col = 0
        buf: list[str] = []
        while i < n:
            ch = s[i]
            if ch == "'":
                i += 1
                while i < n:
                    q = s[i]
                    if q == "\\":
                        if i + 1 < n and col == url_col:
                            buf.append(s[i + 1])
                        i += 2
                    elif q == "'":
                        i += 1
                        break
                    else:
                        if col == url_col:
                            buf.append(q)
                        i += 1
            elif ch == ")":
                if col == url_col:
                    out.append("".join(buf))
                i += 1
                break
            elif ch == ",":
                if col == url_col:
                    out.append("".join(buf))
                buf = []
                col += 1
                i += 1
            else:
                if col == url_col:
                    buf.append(ch)
                i += 1
    return out


def parse_externallinks_dump(lines: DataFrame, value_col: str = "value") -> DataFrame:
    """text lines → one row per tuple's raw captured URL. mapInPandas:
    each Arrow batch of lines is lexed in two C regex passes over a
    NUL-joined buffer (_lex_lines_batch) — the downstream stage explodes
    per-URL anyway, so flattening here costs nothing and removes the
    per-line Python from the scan."""

    def gen(batches):
        for pdf in batches:
            yield pd.DataFrame({"raw_url": _lex_lines_batch(pdf[value_col])})

    return lines.select(F.col(value_col)).mapInPandas(gen, "raw_url string")


def wiki_external_links(
    lines: DataFrame,
    mapper_rules: list[dict] | None = None,
    value_col: str = "value",
) -> DataFrame:
    """The full S9 stage: lex → http:-prefix protocol-relative → collapse
    whitespace → URLUtil.clean (mapper chain + URI gate) → non-blank →
    (host, url). Host parses as Java URI.getHost does for the common case:
    authority up to the first '/', ':' or end; '' when unparseable."""
    raw = parse_externallinks_dump(lines, value_col)
    url = F.when(
        F.col("raw_url").startswith("//"),
        F.concat(F.lit("http:"), F.col("raw_url")),
    ).otherwise(F.col("raw_url"))
    url = F.regexp_replace(url, r"\s+", " ")
    # STAGED chain (one projection per rule, attribute inputs): the
    # single-expression form duplicates its input per rule and predicate
    # pushdown re-inlines it — exponential in rule count (2× per rule was
    # +2 s at sf0.1 with just two rules; url_mappings.json has 14)
    df = apply_mapper_chain_staged(raw.select(url.alias("url")), "url", mapper_rules or [])
    gated = df.withColumn(
        "url", F.when(uri_valid(F.col("url")), F.col("url"))
    )
    # null/blank drop via array-filter + explode instead of a Filter node:
    # a Filter would be pushed below the projection stack, re-inlining the
    # gate expression into the condition; Generate keeps one evaluation
    kept = gated.select(
        F.explode(
            F.filter(
                F.array("url"),
                lambda x: x.isNotNull() & (F.trim(x) != ""),
            )
        ).alias("url")
    )
    # Java URI.getHost() drops the userinfo@ part of the authority and the
    # :port (ExternalLinkExtractor.java:148-151) — the optional [^@/?#]*@
    # group mirrors that (userinfo may carry ':pw'; a '/', '?' or '#'
    # before the '@' ends the authority, so such an '@' belongs to the
    # path/query/fragment and must not be stripped — e.g.
    # http://h.example.com?a@b has host h.example.com, not b)
    host = F.regexp_extract(
        F.col("url"), r"^[A-Za-z][A-Za-z0-9+.\-]*://(?:[^@/?#]*@)?([^/:?#]+)", 1
    )
    return kept.select(host.alias("host"), F.col("url"))
