"""Deterministic synthetic generators (FIXTURES.md) — pure Column
expressions, no Python rows, no RNG: every value is a function of stable
keys, so any two runs (and any two parallelism levels) produce identical
tables. That determinism is load-bearing for the resume/scaling tests.

- ``interleaved_documents``: the engine's input table per
  BASELINE.json.input_hint — (doc_id string, spans array<struct<kind, text,
  media_ref, offset>>) — derived from the driver's flat documents.parquet.
  Text spans embed URLs that exercise the canonicalizer (uppercase hosts,
  default ports, unsorted query params, protocol-relative links per
  wikilinks/ExternalLinkExtractor.java:142-144, >3000-char monsters for the
  url_mappings.json:98-105 length rule) and intentional cross-document
  duplicates for the URL-seen set.
- ``seed_frontier``: Zipf-ish host skew with a hot host holding ~30% of
  URLs (the salting test, north_rule skew clause).
- ``simulated_payload_columns``: fetch bodies derived from url_hash with
  real magic bytes (FIXTURES.md §4) — replaces the S3 range GET of
  cc/CCGetter.java:133-251.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

SPAN_STRUCT = "struct<kind:string,text:string,media_ref:string,offset:int>"


def _txt(text: Column) -> Column:
    return F.struct(
        F.lit("text").alias("kind"),
        text.alias("text"),
        F.lit(None).cast("string").alias("media_ref"),
        F.lit(0).alias("offset"),
    )


def _media(ref: Column) -> Column:
    return F.struct(
        F.lit("media").alias("kind"),
        F.lit("").alias("text"),
        ref.alias("media_ref"),
        F.lit(0).alias("offset"),
    )


def interleaved_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build the interleaved text+media documents table from the driver's
    flat documents.parquet. 2-5 spans/doc; offsets strictly increasing;
    span order is semantic (per-row invariant: span-sequence equality on
    (kind, text, media_ref, order))."""
    from .tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    k = F.col("doc_id")
    ks = k.cast("string")

    url_plain = F.concat(
        F.lit("https://site"), (k % 50).cast("string"),
        F.lit(".example.org/page/"), ks, F.lit("?b=2&a=1"),
    )
    # canonical twin of doc (k+1)'s url_plain — cross-doc duplicate generator
    url_dup = F.concat(
        F.lit("https://site"), ((k + 1) % 50).cast("string"),
        F.lit(".example.org/page/"), (k + 1).cast("string"), F.lit("?a=1&b=2"),
    )
    url_ugly = F.concat(
        F.lit("HTTP://Site"), (k % 37).cast("string"),
        F.lit(".Example.COM:80/Index"), ks, F.lit(".HTML#frag"),
    )
    url_protorel = F.concat(
        F.lit("//cdn"), (k % 11).cast("string"),
        F.lit(".example.net/asset/a"), ks, F.lit(".js"),
    )
    url_monster = F.concat(
        F.lit("https://monster.example.com/"), F.repeat(F.lit("x"), 3100)
    )

    text1 = F.concat(F.col("text"), F.lit(" see "), url_plain, F.lit(" and "), url_protorel)
    text2 = F.when(k % 7 == 0, F.concat(F.lit("visit "), url_monster)).otherwise(
        F.concat(F.lit("ref "), url_ugly, F.lit(" plus "), url_dup)
    )
    media1 = F.concat(F.lit("payloads/"), F.md5((k % 257).cast("string")))
    media2 = F.concat(F.lit("payloads/"), F.md5(((k + 131) % 509).cast("string")))

    spans_full = F.array(
        _txt(text1),
        _media(media1),
        _txt(text2),
        _media(media2),
        _txt(F.col("text")),
    )
    n_spans = (k % 4 + 2).cast("int")  # 2..5
    spans = F.slice(spans_full, 1, n_spans)
    spans = F.transform(
        spans,
        lambda s, i: F.struct(
            s["kind"].alias("kind"),
            s["text"].alias("text"),
            s["media_ref"].alias("media_ref"),
            (i * 100).cast("int").alias("offset"),
        ),
    )
    return docs.select(
        F.format_string("doc-%08d", k).alias("doc_id"),
        spans.cast(f"array<{SPAN_STRUCT}>").alias("spans"),
    )


def seed_frontier(
    spark: SparkSession, n: int = 10_000, hot_share: int = 3, n_hosts: int = 997
) -> DataFrame:
    """Seed URL list with a deliberately hot host: ``hot_share``/10 of all
    rows land on hot.example.com (north_rule skew clause). Priority and
    discovered_at are key-derived — fully deterministic. ``n_hosts``
    controls the cold-host fan-out (default 997 — pinned: the pure-Python
    reference simulator in tests mirrors it)."""
    r = spark.range(n)  # id: bigint
    k = F.col("id")
    host = F.when(k % 10 < hot_share, F.lit("hot.example.com")).otherwise(
        F.concat(F.lit("seed"), (k % n_hosts).cast("string"), F.lit(".example.com"))
    )
    url = F.concat(F.lit("https://"), host, F.lit("/start/"), k.cast("string"))
    return r.select(
        url.alias("url"),
        ((k * 37 % 1000) / 1000.0).alias("priority"),
        F.timestamp_seconds(F.lit(1735689600) + k).alias("discovered_at"),
    )


def simulated_payload_columns(url_hash: Column) -> dict[str, Column]:
    """Deterministic simulated fetch-response columns from a url_hash.

    Magic-byte prefixes cover the sniffer table incl. the octet-stream
    escalation path (cc/warc/Extractor.java:128-139); statuses cover the
    FETCH_STATUS vocabulary (CCGetter.java:69-78); >50 MB lengths trip the
    WReGetter cap (:45); ~8% truncated rows feed the seen-set delete /
    RefetchedDeleter path (:37-43)."""
    h = F.pmod(url_hash, F.lit(9))
    prefix = (
        F.when(h == 0, F.lit(b"%PDF-1.7 "))
        .when(h == 1, F.lit(b"PK\x03\x04zipzip"))
        .when(h == 2, F.lit(b"\x89PNG\r\n\x1a\n....."))
        .when(h == 3, F.lit(b"GIF89a......"))
        .when(h == 4, F.lit(b"\xff\xd8\xff\xe0JFIF"))
        .when(h == 5, F.lit(b"<!DOCTYPE html><html>"))
        .when(h == 6, F.lit(b"plain text body here"))
        .otherwise(F.lit(bytes([251, 7, 219, 144, 3, 99, 200, 180])))  # sniff → octet-stream
    )
    body_len = F.when(F.pmod(url_hash, F.lit(101)) == 0, F.lit(60_000_000)).otherwise(
        F.pmod(url_hash, F.lit(200_000)) + 1000
    )
    status = (
        F.when(F.pmod(url_hash, F.lit(23)) == 0, F.lit(404))
        .when(F.pmod(url_hash, F.lit(29)) == 0, F.lit(503))
        .when(F.pmod(url_hash, F.lit(31)) == 0, F.lit(-1))  # timeout sentinel
        .otherwise(F.lit(200))
    )
    truncated = F.pmod(url_hash, F.lit(13)) == 0
    return {
        "body_prefix": prefix.cast("binary"),
        "body_len": body_len.cast("bigint"),
        "fetch_http_status": status.cast("int"),
        "truncated": truncated,
    }
