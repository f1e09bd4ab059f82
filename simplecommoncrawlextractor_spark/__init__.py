"""simplecommoncrawlextractor_spark — a from-scratch PySpark-native engine with the
query/data-processing capabilities of tballison/SimpleCommonCrawlExtractor.

The reference (read-only at /root/reference) is a single-box Java toolkit for
Common Crawl index analytics, ranged WARC fetching into a digest-addressed
repository, and WARC payload extraction. This package re-expresses those
semantics Spark-first:

- ``functions``  — scalar parity layer (normalize_mime, get_tld, extensions,
  clean variants) as Column expressions + vectorized pandas/Arrow UDFs
  (URL canonicalization, outlink extraction, MIME sniffing, base32-SHA1).
- ``sources``    — CDX gz-line scan + parse, synthetic interleaved
  text+media documents, testdata loaders.
- ``operators``  — the analytics mapper/reducer surface (counts, sampling,
  filters, joins, orderings), dedup family, similarity search,
  text analysis, politeness top-k.
- ``plans``      — the URL frontier + fetch scheduler: bloom URL-seen
  state, checkpointed iterative drain loop, simulated fetch, lineage metrics.
- ``streaming``  — Structured Streaming (foreachBatch) drain around the same
  batch core.

No code is ported from the reference; citations in docstrings are
file:line pointers into /root/reference for semantics parity only.
"""

__version__ = "0.1.0"

from .session import get_spark  # noqa: F401
