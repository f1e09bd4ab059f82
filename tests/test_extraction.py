"""Extraction pipeline (§3.1) + multimodal plumbing + CDX source tests."""

from __future__ import annotations

import gzip
import os

from pyspark.sql import functions as F

from simplecommoncrawlextractor_spark.operators.extraction import (
    ExtractorConfig,
    extract,
    select_predicate,
    write_repository,
)
from simplecommoncrawlextractor_spark.operators.multimodal import (
    image_features,
    media_payloads_from_docs,
)
from simplecommoncrawlextractor_spark.sources import interleaved_documents, read_cdx

RECORDS_SCHEMA = (
    "url string, header_mime string, payload binary, truncated string, length long"
)


def _records(spark):
    rows = [
        ("http://a.com/x.pdf", "application/pdf", bytearray(b"%PDF-1.7 hello"), None, 14),
        ("http://a.com/y.html", "text/html", bytearray(b"<html><body>hi</body>"), None, 21),
        ("http://a.com/z.bin", "application/octet-stream", bytearray(bytes(range(200, 256))), None, 56),
        ("http://a.com/trunc.pdf", "application/pdf", bytearray(b"%PDF-1.7 x"), "length", 10),
        ("http://a.com/empty", "text/plain", bytearray(b""), None, 0),
        ("http://a.com/dup.pdf", "application/pdf", bytearray(b"%PDF-1.7 hello"), None, 14),
    ]
    return spark.createDataFrame(rows, RECORDS_SCHEMA)


def test_select_predicate_exclude_wins(spark):
    cfg = ExtractorConfig(
        include_detected_mimes="pdf", exclude_extensions=r"(?i)\.html"
    )
    df = spark.createDataFrame(
        [("application/pdf", "application/pdf", ".html"),
         ("application/pdf", "application/pdf", ".pdf"),
         ("text/html", "text/html", ".pdf")],
        "d string, h string, e string",
    )
    got = [
        r[0]
        for r in df.select(
            select_predicate(cfg, F.col("d"), F.col("h"), F.col("e"))
        ).collect()
    ]
    # exclude beats include; include on detected mime works (reference bug
    # ExtractorConfig.java:200-201 would never test detected-mime includes)
    assert got == [False, True, False]


def test_extract_pipeline(spark, tmp_path):
    cfg = ExtractorConfig(include_detected_mimes="pdf|html")
    out = extract(_records(spark), cfg)
    rows = {r["url"]: r for r in out.collect()}
    # truncated + empty + octet-stream dropped; duplicate digest collapsed
    assert set(rows) in ({"http://a.com/x.pdf", "http://a.com/y.html"},
                         {"http://a.com/dup.pdf", "http://a.com/y.html"})
    for r in rows.values():
        assert len(r["digest"]) == 32
        assert r["shard"] == r["digest"][:2]
    # K1 write + skip-if-exists on rerun
    repo = str(tmp_path / "repo")
    write_repository(out, repo)
    seen = spark.read.parquet(repo).select("digest").distinct()
    again = extract(_records(spark), cfg, seen_digests=seen)
    assert again.count() == 0
    # shard partitioning on disk (digest[0:2] addressing)
    assert any(p.startswith("shard=") for p in os.listdir(repo))


def test_extract_truncated_flag(spark):
    cfg = ExtractorConfig(include_detected_mimes="pdf", include_truncated=True)
    out = extract(_records(spark), cfg)
    assert "http://a.com/trunc.pdf" in {r["url"] for r in out.collect()} or out.count() >= 2


def test_multimodal_plumbing(spark, sf_dir):
    docs = interleaved_documents(spark, sf_dir)
    media = media_payloads_from_docs(docs)
    n = media.count()
    assert n > 0
    feats = image_features(media)
    frows = feats.collect()
    assert len(frows) == n
    mimes = {r["mime"] for r in frows}
    assert mimes <= {"image/png", "image/jpeg", "image/bmp", "image/webp"}
    for r in frows:
        assert len(r["feat"]) == 8
        if r["mime"] in ("image/bmp", "image/png"):
            assert (r["width"], r["height"]) == (4, 4)
        else:
            assert 64 <= r["width"] <= 2048  # stub-derived (jpeg/webp)
    # determinism (header and stub paths)
    again = image_features(media).collect()
    assert sorted(map(str, frows)) == sorted(map(str, again))


def test_cdx_source_roundtrip(spark, tmp_path):
    # golden row from test/org/tallison/cc/index/TestCCIndexRecord.java:10-19:
    # a '}' inside the mime value must not break the JSON suffix extraction
    lines = [
        'com,example)/p 20260101120000 {"url": "https://example.com/p", '
        '"mime": "application/x-{$ext[1]}", "status": "200", "digest": "ABC123", '
        '"length": "500", "offset": "1000", "filename": "crawl.warc.gz"}',
        "garbage line with no json",
        '{"url": "https://whole.row/json", "mime": "text/html", "status": "301"}',
    ]
    gz = tmp_path / "cdx-00000.gz"
    with gzip.open(gz, "wt") as f:
        f.write("\n".join(lines))
    got = read_cdx(spark, str(tmp_path / "*.gz")).orderBy("url").collect()
    assert len(got) == 2  # bad row swallowed (CCIndexRecord skip semantics)
    by_url = {r["url"]: r for r in got}
    rec = by_url["https://example.com/p"]
    assert rec["mime"] == "application/x-{$ext[1]}"
    assert rec["status"] == 200 and rec["length"] == 500 and rec["offset"] == 1000
    assert rec["fetch_ts"] is not None  # we keep the timestamp the ref drops
    assert by_url["https://whole.row/json"]["status"] == 301
