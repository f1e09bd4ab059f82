"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship frontier query at sf0.001.
``queries()`` — one entry per implemented operator (SURVEY.md §2 + the
training-data-pipeline additions), each (spark, sf_dir) -> DataFrame.
``oracle_sql()`` — matching DuckDB SQL. The synthetic CDX projection is ONE
shared SQL string (operators/cdxview.py) executed verbatim by both engines,
so derivation skew is impossible; operators themselves are DataFrame code.

48 of the 50 entries are oracled. The two without an oracle — the
stateful scheduler round and the image header dimensions — get the
correctness gate's rows-only check and are covered by pytest
golden/equivalence tests instead (tests/test_scheduler.py;
tests/test_multimodal_decode.py and tests/test_vp8l.py parse each header
format; the former pins the gate rows' digest).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from simplecommoncrawlextractor_spark.operators import analytics as A
from simplecommoncrawlextractor_spark.operators import dedup as D
from simplecommoncrawlextractor_spark.operators import sampling as S
from simplecommoncrawlextractor_spark.operators import similarity as SIM
from simplecommoncrawlextractor_spark.operators import textstats as T
from simplecommoncrawlextractor_spark.operators.cdxview import cdx_view, oracle_cte
from simplecommoncrawlextractor_spark.plans.frontier import (
    canonical_candidates,
    harvest_outlinks,
    politeness_schedule,
)
from simplecommoncrawlextractor_spark.sources import interleaved_documents
from simplecommoncrawlextractor_spark.sources.tables import load_table, sort_once

# ---------------------------------------------------------------------------
# DuckDB SQL fragments mirroring the scalar parity layer
# ---------------------------------------------------------------------------

_MIME = "trim(regexp_replace(regexp_replace(lower(mime), '^\"|\"$', '', 'g'), '\\s+', ' ', 'g'))"
_MIME_DET = "trim(regexp_replace(regexp_replace(lower(mime_detected), '^\"|\"$', '', 'g'), '\\s+', ' ', 'g'))"
_HOST = "regexp_extract(url, '^https?://([^/]+)', 1)"
_TLD = (
    f"CASE WHEN {_HOST} NOT LIKE '%.%' OR {_HOST} LIKE '%.' "
    f"OR regexp_matches(regexp_extract({_HOST}, '([^.]*)$', 1), '^[0-9]+$') THEN '' "
    f"ELSE regexp_extract({_HOST}, '([^.]*)$', 1) END"
)
_EXT_RAW = "regexp_extract(url, '\\.([^.]*)$', 1)"
_EXT = (
    f"CASE WHEN url NOT LIKE '%.%' OR length({_EXT_RAW}) > 5 "
    f"OR regexp_matches(trim({_EXT_RAW}), '^[0-9]+$') THEN NULL "
    f"ELSE regexp_replace(lower(trim({_EXT_RAW})), '/$', '') END"
)
_LANG1 = (
    "CASE WHEN languages IS NULL OR trim(languages) = '' THEN 'NULL' "
    "ELSE string_split(languages, ',')[1] END"
)
_FP = "md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))"

_DOWNSAMPLE_RATES = {
    "text/html": 0.5,
    "application/pdf": 1.0,
    "image/png": 0.0,
    "/octet/": 0.25,
}
_RATE_SQL = (
    "CASE mime_detected WHEN 'text/html' THEN 0.5 WHEN 'application/pdf' THEN 1.0 "
    "WHEN 'image/png' THEN 0.0 ELSE CASE WHEN regexp_matches(mime_detected, 'octet') "
    "THEN 0.25 ELSE 0.1 END END"
)

_SHINGLE_CTE = """
toks AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t FROM documents),
sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
       FROM toks, UNNEST(generate_series(1, len(t) - 2)) AS u(i))
""".strip()

# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings")


def _digest_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        cdx_view(spark, sf_dir)
        .filter(F.col("rec_id") % 311 == 0)
        .select("digest")
        .distinct()
    )


# ---------------------------------------------------------------------------
# driver contract
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the frontier bootstrap query (SURVEY §7 Phase 1) on
    sf0.001 — interleaved documents → posexplode spans → outlink harvest →
    RFC 3986 canonicalize → filter chain → xxhash64 → within-batch dedup →
    per-host politeness top-k → fetch batch #1."""
    docs = interleaved_documents(spark, "/root/testdata/sf0.001")
    urls = harvest_outlinks(docs)
    cand = canonical_candidates(urls)
    return politeness_schedule(cand, host_budget=5, salt_k=4).select(
        "host", "fetch_rank", "url_canon", "url_hash", "priority"
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    # --- CDX analytics (A*, O*, F*) -------------------------------------
    q["a1_count_mimes"] = lambda s, d: A.a1_count_mimes(cdx_view(s, d, spread_scan=False))
    q["a2_count_ext"] = lambda s, d: A.a2_count_ext(cdx_view(s, d))
    q["a3_count_ext_by_mime"] = lambda s, d: A.a3_count_ext_by_mime(cdx_view(s, d))
    q["a5_count_tlds"] = lambda s, d: A.a5_count_tlds(cdx_view(s, d))
    q["a6_count_tld_mime_200"] = lambda s, d: A.a6_count_tld_mime_200(cdx_view(s, d))
    q["a7_count_tld_mime_detected"] = lambda s, d: A.a7_count_tld_mime_detected(
        cdx_view(s, d)
    )
    q["a8_count_tld_charset"] = lambda s, d: A.a8_count_tld_charset(cdx_view(s, d))
    q["a9_count_tld_charset_lang"] = lambda s, d: A.a9_count_tld_charset_lang(cdx_view(s, d))
    q["a10_mime_confusion"] = lambda s, d: A.a10_mime_confusion(cdx_view(s, d))
    q["a11_run_stats"] = lambda s, d: A.a11_run_stats(cdx_view(s, d, spread_scan=False))
    q["o2_double_key_sort"] = lambda s, d: A.o2_double_key_sort(cdx_view(s, d))
    q["o4_politeness_topk"] = lambda s, d: A.o4_politeness_topk(cdx_view(s, d))
    q["f5_length_gates"] = lambda s, d: A.f5_length_gates(cdx_view(s, d)).select(
        "rec_id", "url", "length"
    )
    q["f7_digest_semijoin"] = lambda s, d: A.f7_digest_semijoin(
        cdx_view(s, d), _digest_list(s, d)
    ).select("rec_id", "url", "digest")
    q["f9_seen_antijoin"] = lambda s, d: A.f9_seen_antijoin(
        cdx_view(s, d, spread_scan=False), _digest_list(s, d)
    ).select("rec_id", "url", "digest")
    q["f10_downsample_strata"] = lambda s, d: S.deterministic_sample(
        cdx_view(s, d, spread_scan=False), _DOWNSAMPLE_RATES, "mime_detected", "rec_id", default=0.1
    ).select("rec_id", "url", "mime_detected")
    q["a12_sample_tally"] = lambda s, d: S.sample_tally(
        cdx_view(s, d),
        (F.col("status") == 200) & (F.col("rec_id") % 100 < 35),
    )

    # --- parsing / projection / mapper chain ------------------------------
    def p1_cdx_parse(s, d):
        from simplecommoncrawlextractor_spark.sources.cdx import parse_cdx_lines

        raw = cdx_view(s, d).select(
            F.concat(
                F.lit("com,example)/p "),
                F.lit("20260101120000"),
                F.lit(' {"url": "'), F.col("url"),
                F.lit('", "mime-detected": "'), F.col("mime_detected"),
                F.lit('", "status": "'), F.col("status").cast("string"),
                F.lit('", "digest": "'), F.col("digest"),
                F.lit('", "length": "'), F.col("length").cast("string"),
                F.lit('", "offset": "'), F.col("offset").cast("string"),
                F.lit('", "filename": "'), F.col("filename"), F.lit('"}'),
            ).alias("value")
        )
        parsed = parse_cdx_lines(raw)
        return parsed.select(
            "url", "mime_detected", "status", "digest", "length", "offset",
            "filename", F.unix_timestamp("fetch_ts").alias("fetch_epoch"),
        )

    q["p1_cdx_parse"] = p1_cdx_parse

    q["p2_offset_header"] = lambda s, d: cdx_view(s, d).select(
        "rec_id",
        F.concat(
            F.lit("bytes="), F.col("offset").cast("string"), F.lit("-"),
            (F.col("offset") + F.col("length") - 1).cast("string"),
        ).alias("range_header"),
    )

    # p3_to_json retired from the roster (round-4): the to_json projection
    # is pure built-in Spark and its seat now carries repetition_report —
    # the projection keeps a pytest oracle in tests/test_cdx_end_to_end.py.

    q["a4_count_mime_by_ext"] = lambda s, d: A.a4_count_mime_by_ext(cdx_view(s, d))

    q["f8_set_membership"] = lambda s, d: A.with_derived(cdx_view(s, d)).filter(
        F.col("mime_detected").isin("text/html", "application/pdf")
        | F.col("ext").isin("html", "pdf")
    ).select("rec_id", "url", "mime_detected")

    def f11_lang_charset_sample(s, d):
        df = A.with_derived(cdx_view(s, d)).filter(
            F.col("mime_norm").contains("html") | F.col("mime_norm").contains("text")
        )
        key = F.concat_ws("\t", F.col("lang1"), F.coalesce(F.col("charset"), F.lit("")))
        return S.deterministic_sample(
            df, {"eng\tUTF-8": 1.0, "deu\twindows-1252": 0.25, "NULL\t": 0.0},
            key, "rec_id", default=0.5,
        ).select("rec_id", "url", F.col("lang1").alias("lang"), "charset")

    q["f11_downsample_langcharset"] = f11_lang_charset_sample

    def f13_capture(s, d):
        from simplecommoncrawlextractor_spark.functions.mappers import (
            capture_field_mapper,
        )

        return cdx_view(s, d).select(
            "rec_id",
            capture_field_mapper(
                F.col("url"), r"^https://([^/]+)/p/(\d+)", "$1#$2",
                fail_policy="SKIP_FIELD",
            ).alias("host_key"),
            capture_field_mapper(
                F.col("url"), r"\.(html|pdf)$", "ext:$1", fail_policy="STORE_AS_IS"
            ).alias("ext_or_url"),
        )

    q["f13_capture_replace"] = f13_capture

    def s9_wiki_external_links(s, d):
        """S9 end-to-end (ExternalLinkExtractor.java:50-183): cdx URLs are
        encoded into multi-tuple mysqldump INSERT lines — a decoy quoted
        column carrying escaped quotes/commas/parens, the el_to column
        carrying backslash escapes, 1-in-7 rows made protocol-relative —
        then lexed back, cleaned through a mapper-chain config
        (URLUtil.clean), and emitted as (host, url). The oracle computes
        the expected fixpoint directly from cdx, so any lexer
        misalignment or escape bug hash-mismatches. The result sort is
        ``sort_once``, so the lexer and clean chain run once per row."""
        from simplecommoncrawlextractor_spark.functions.mappers import (
            load_field_mapper_config,
        )
        from simplecommoncrawlextractor_spark.sources.wikidump import (
            wiki_external_links,
        )

        cdx = cdx_view(s, d)
        el_url = F.when(
            F.col("rec_id") % 7 == 0,
            F.regexp_replace(F.col("url"), "^https?:", ""),
        ).otherwise(F.col("url"))
        # mysqldump-style escape exercise: '/p/' inside the URL cell is
        # stored as '\/p\/' (backslash + char round-trips to the char)
        esc_url = F.regexp_replace(el_url, "/p/", r"\\/p\\/")
        tup = F.concat(
            F.lit("("),
            F.col("rec_id").cast("string"),
            F.lit(",0,'it\\'s a (test), really','"),
            esc_url,
            F.lit("','idx')"),
        )
        # 449 groups (not 37): balanced across shuffle partitions, so no
        # straggler task carries 2× the tuples; the explicit repartition
        # matters because AQE coalesces this small shuffle output to ~4
        # partitions, which would serialize the lexer AND the whole
        # downstream Arrow-UDF clean chain on 4 cores (measured: 1.69 s →
        # 1.12 s at sf0.1). Line packing only changes dump layout, never
        # the harvested (host, url) set, so the oracle is unaffected.
        lines = (
            cdx.select(
                (F.col("rec_id") % 449).alias("g"),
                F.struct(F.col("rec_id"), tup.alias("t")).alias("st"),
            )
            .groupBy("g")
            .agg(F.array_sort(F.collect_list("st")).alias("a"))
            .select(
                F.concat(
                    F.lit("INSERT INTO `externallinks` VALUES "),
                    F.concat_ws(",", F.transform("a", lambda x: x["t"])),
                    F.lit(";"),
                ).alias("value")
            )
            .repartition(int(s.conf.get("spark.sql.shuffle.partitions", "32")))
        )
        rules = load_field_mapper_config(
            {
                "field_mapper": {
                    "ignore_case": "true",
                    "mappings": [
                        {"f": "input_url", "t": "cleaned_url",
                         "filter": {"find": r"\.example\.404"}},
                        {"f": "input_url", "t": "cleaned_url",
                         "filter": {"find": ".{3000}"}},
                    ],
                }
            }
        )["input_url"]
        # sort_once: the range sample job must not re-run the lexer and clean chain
        return sort_once(wiki_external_links(lines, mapper_rules=rules), "host", "url")

    q["s9_wiki_external_links"] = s9_wiki_external_links

    # (shard_manifest itself is a spark.range projection — golden-tested
    # in tests/test_shards.py and exercised transitively by the oracled
    # s6_s7_shard_fetch_probe below, which derives from the same
    # manifest; its standalone gate entry was retired to hold the
    # 50-entry roster when dedup_components joined)

    def s6_s7_shard_fetch_probe(s, d):
        """S6 download + S7 HEAD probe in one oracled pass: fetch every
        shard (simulated transport) into a throwaway dir, HEAD-probe the
        same manifest, join on output_name. shard_payload_size makes the
        byte counts a closed form of the shard number (75-byte lines ×
        40+(num%23) + 23 bytes of level-0 gzip framing), so the DuckDB
        oracle replays statuses AND sizes exactly — and the join asserts
        download/HEAD agreement inside the gate itself. The result sort is
        ``sort_once``, so each shard is fetched and probed once."""
        import tempfile

        from simplecommoncrawlextractor_spark.sources.shards import (
            download_shards,
            head_shard_sizes,
            shard_manifest,
        )

        out = tempfile.mkdtemp(prefix="ccspark-shards-")
        m = shard_manifest(s, "CC-MAIN-2026-08", n_shards=32)
        dl = download_shards(m, out).select("output_name", "status", "n_bytes")
        hd = head_shard_sizes(m)
        # sort_once: the range sample job must not fetch and probe every shard again
        return sort_once(dl.join(hd, "output_name"), "output_name")

    q["s6_s7_shard_fetch_probe"] = s6_s7_shard_fetch_probe

    def f14_identity(s, d):
        from simplecommoncrawlextractor_spark.functions.mappers import (
            identity_field_mapper,
        )

        messy = _docs(s, d).select(
            "doc_id",
            F.concat(
                F.lit("  "),
                F.regexp_replace(F.col("text"), " the ", "\n \n\n"),
                F.lit("\t"),
            ).alias("messy"),
        )
        return messy.select(
            "doc_id", identity_field_mapper(F.col("messy")).alias("cleaned")
        )

    q["f14_identity_norm"] = f14_identity

    # --- documents: dedup + text analysis -------------------------------
    q["dedup_exact_groups"] = lambda s, d: D.exact_dedup_groups(_docs(s, d))
    # gate path: md5 sigs so the DuckDB oracle replays them bit-for-bit;
    # the production xxhash64 variant (8-byte sigs, JVM-cheap) shares the
    # exact banding plan, is pytest-equivalence-covered
    # (tests/test_dedup.py::test_xxhash_mode_matches_md5_on_true_dups) and
    # benched as dedup_minhash_prod — same split for simhash below
    # (dedup_simhash_prod)
    q["dedup_minhash_lsh"] = lambda s, d: D.minhash_lsh_candidates(_docs(s, d))
    q["dedup_ngram_jaccard"] = lambda s, d: D.ngram_jaccard_pairs(_docs(s, d), threshold=0.05)
    q["dedup_simhash"] = lambda s, d: D.simhash_near_dups(
        _docs(s, d), max_hamming=8, hash_mode="md5hex"
    )

    def dedup_components(s, d):
        """Transitive near-dup clustering: LSH candidate pairs →
        connected components (alternating large-star/small-star) → one
        component id per document, singletons included. The oracle
        recomputes the SAME pair set (shared minhash CTEs) and closes it
        transitively with a recursive CTE — so the gate checks candidate
        generation AND the closure."""
        docs = _docs(s, d)
        pairs = D.minhash_lsh_candidates(docs)
        return D.connected_components_star(pairs, docs).orderBy("doc_id")

    q["dedup_components"] = dedup_components
    q["text_token_hist"] = lambda s, d: T.token_count_hist(_docs(s, d))
    q["text_quality"] = lambda s, d: T.quality_table(_docs(s, d))
    q["text_lang_id"] = lambda s, d: T.lang_id_table(_docs(s, d))
    q["text_fingerprint"] = lambda s, d: T.fingerprint_table(_docs(s, d))

    def text_token_bpe(s, d):
        from simplecommoncrawlextractor_spark.functions.text import token_count

        return _docs(s, d).select(
            "doc_id", token_count("text", mode="bpe").alias("n_bpe_tokens")
        ).orderBy("doc_id")

    q["text_token_bpe"] = text_token_bpe

    # MassiveText repetition gates + corpus-global segment dedup
    # (operators/textquality.py) — oracled since round 4 (their DuckDB
    # replays were previously pytest-only because the roster was full;
    # p3_to_json and ann_near_dups ceded the seats).
    def repetition_report(s, d):
        from simplecommoncrawlextractor_spark.operators.textquality import (
            repetition_report as rr,
        )

        return rr(_docs(s, d)).orderBy("doc_id")

    q["repetition_report"] = repetition_report

    def segment_dup_groups(s, d):
        """Segment granularity on the synthetic word-salad corpus: the
        corpus has no paragraph breaks, so segments are derived by
        splitting at the frequent token 'table' — a deterministic
        segmentation both engines express identically; the operator is
        exercised with its real sep parameter."""
        from simplecommoncrawlextractor_spark.operators.textquality import (
            segment_duplicate_groups as sdg,
        )

        return sdg(_docs(s, d), sep=r"\btable\b").orderBy(
            "segment", "n_occurrences"
        )

    q["segment_duplicate_groups"] = segment_dup_groups

    def substring_dup_spans(s, d):
        """Lee-et-al-style exact duplicated-substring span detection
        (the detection half of 'Deduplicating Training Data Makes
        Language Models Better'): maximal token ranges covered by
        8-token windows whose text repeats corpus-wide — window-gram
        explode, corpus dup semi-join, gaps-and-islands merge. DuckDB
        replays the same windows, dup test, and island merge."""
        from simplecommoncrawlextractor_spark.operators.textquality import (
            duplicate_substring_spans,
        )

        return duplicate_substring_spans(_docs(s, d), n=8).orderBy(
            "doc_id", "span_start"
        )

    q["substring_dup_spans"] = substring_dup_spans

    # (rolling_fingerprint — the vectorized Karp-Rabin kernel — is
    # golden-pinned in tests/test_textstats.py and benched; it is not a
    # gate entry so every rows-only slot goes to a distinct operator)

    # --- events: windowed aggregation / sessionization -------------------
    def events_hourly(s, d):
        e = _events(s, d)
        return (
            e.select(
                F.floor(F.unix_timestamp("ts") / 3600).alias("hour_idx"),
                "event_type",
            )
            .groupBy("hour_idx", "event_type")
            .agg(F.count("*").alias("cnt"))
            .orderBy("hour_idx", "event_type")
        )

    q["events_hourly_counts"] = events_hourly

    def events_sessions(s, d):
        from pyspark.sql.window import Window

        e = _events(s, d)
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        # fractional-second epoch (cast to double) — unix_timestamp truncates
        # to whole seconds and disagrees with the oracle at gap boundaries
        ep = F.col("ts").cast("timestamp").cast("double")  # NTZ → double secs
        gap = ep - F.lag(ep).over(w)
        brk = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
        return (
            e.withColumn("brk", brk)
            .groupBy("user_id")
            .agg(
                F.sum("brk").alias("n_sessions"),
                F.count("*").alias("n_events"),
            )
            .orderBy("user_id")
        )

    q["events_sessionize"] = events_sessions

    # --- embeddings: similarity search -----------------------------------
    # the LSH-bucketed path is the headline (oracled; linear in Σ bucket²);
    # brute-force cosine lives only in tests/test_similarity.py, as the
    # recall reference the approximate paths are measured against
    q["ann_lsh_bucketed"] = lambda s, d: SIM.ann_bucketed_top1(
        _emb(s, d), dim=64, n_planes=4, n_tables=8, max_bucket=512
    )

    def semantic_dedup_pairs(s, d):
        """SemDeDup (cluster-then-dedup): quantized-integer Lloyd's
        k-means (k=16, 2 iterations, deterministic smallest-id init) +
        within-cluster exact-arithmetic cosine ≥ 0.4 — every stage
        integer/decimal, so the DuckDB oracle replays the FULL pipeline
        (both k-means iterations included) bit-for-bit."""
        return SIM.semantic_near_dup_pairs(_emb(s, d))

    q["semantic_dedup_pairs"] = semantic_dedup_pairs
    q["ann_near_dups_bucketed"] = lambda s, d: SIM.embedding_near_dups_bucketed(
        _emb(s, d), threshold=0.4, dim=64, n_planes=4, n_tables=8, max_bucket=512
    )
    # ann_multiprobe_top1 is off the gate roster (its recall suite is in
    # tests/test_similarity.py) but stays on the bench roster (bench.py
    # _extra_bench_queries) for round-over-round continuity.

    # --- extraction (oracled since round 4 via the presniffed path) ------
    def extraction_select(s, d):
        """The full extraction plan — F4 truncated gate, F5 length gates,
        F6 include/exclude selection (reference double-test bug fixed),
        digest dedup, pickExtension cascade — over CDX-derived records
        whose detected_mime is precomputed (extract(presniffed=True), the
        IndexRecordProcessor scenario). Every stage except the sniff UDF
        is SQL, so DuckDB replays selection + ext bit-for-bit; the sniff
        UDF itself stays pytest-verified (tests/test_extraction.py) and
        gate-exercised by multimodal_image_features + its use inside
        this entry's sibling media path in tests."""
        from simplecommoncrawlextractor_spark.operators.extraction import (
            ExtractorConfig,
            extract,
        )

        cdx = cdx_view(s, d)
        records = cdx.select(
            "url",
            F.col("mime").alias("header_mime"),
            F.col("mime_detected").alias("detected_mime"),
            # deterministic truncated flag so F4 actually drops rows
            F.when(F.col("rec_id") % 17 == 0, F.lit("length"))
            .cast("string")
            .alias("truncated"),
            F.col("length").cast("long").alias("length"),
            F.encode(F.col("url"), "UTF-8").alias("payload"),
        )
        cfg = ExtractorConfig(
            include_detected_mimes="^(text/html|application/pdf)",
            include_extensions=r"^\.(txt|123)$",
            exclude_header_mimes="pdf",
            min_payload_bytes=1,
            max_payload_bytes=490000,
        )
        return (
            extract(records, cfg, presniffed=True)
            .select("url", "ext", "detected_mime")
            .orderBy("url")
        )

    q["extraction_select"] = extraction_select

    def warc_roundtrip_records(s, d):
        """The reference's flagship WARC pipeline, oracled end-to-end on
        REAL archive bytes (cc/warc/Extractor.java:46-100 record
        iteration; cc/CCGetter.java:205-217 member layout): deterministic
        rows derived from the documents table → ``write_warc`` (one gzip
        member per record, the CC layout) → ``read_warc`` (binaryFile
        scan + Content-Length walker) → ``warc_response_records`` (F3
        type filter + HTTP unwrap) → projection. The DuckDB oracle
        derives the same rows straight from the documents table — every
        url/mime/truncated flag, byte count, and payload md5 must survive
        the gzip+WARC+HTTP round trip bit-for-bit. The result sort is
        ``sort_once``, so each archive is inflated once."""
        import re
        import tempfile

        from simplecommoncrawlextractor_spark.sources.warc import (
            read_warc,
            warc_response_records,
            write_warc,
        )

        docs = load_table(s, d, "documents")
        rows = docs.select(
            F.concat(
                F.lit("http://"), F.col("source"), F.lit(".example.org/doc/"),
                F.col("doc_id").cast("string"),
            ).alias("url"),
            F.encode(F.col("text"), "UTF-8").alias("payload"),
            F.when(F.col("lang") == "en", F.lit("text/html"))
            .otherwise(F.lit("text/plain"))
            .alias("header_mime"),
            F.when(F.pmod(F.col("doc_id"), F.lit(7)) == 0, F.lit("length"))
            .cast("string")
            .alias("truncated"),
        )
        out_dir = os.path.join(
            tempfile.gettempdir(),
            "ccspark-warc-gate-" + re.sub(r"\W+", "_", d.rstrip("/")),
        )
        # fan the archive write out across the session's shuffle
        # parallelism (was a fixed 4): gzip compression is the write-side
        # cost and one member per record means the archive layout — and
        # the records read back — are identical under any partitioning
        n_w = int(s.conf.get("spark.sql.shuffle.partitions", "32"))
        # zlib level 6 instead of the sink's level-9 default: the gate
        # compares the PARSED records (urls, flags, byte counts, payload
        # md5 of the decompressed payload), which are identical at any
        # level, and level 9's extra compression passes are pure CPU here
        write_warc(rows.repartition(n_w, "url"), out_dir, compresslevel=6)
        resp = warc_response_records(read_warc(s, os.path.join(out_dir, "*.warc.gz")))
        # sort_once: the range sample job must not re-run the read_warc inflate
        return sort_once(
            resp.select(
                "url",
                F.col("header_mime").alias("mime"),
                "truncated",
                F.col("length").alias("n_bytes"),
                F.md5("payload").alias("payload_md5"),
            ),
            "url",
        )

    q["warc_roundtrip_records"] = warc_roundtrip_records

    def multimodal_features(s, d):
        """Header-read image width/height per media payload of the
        interleaved documents, sorted by ``media_ref`` with ``sort_once``
        so ``image_features`` runs once per payload."""
        from simplecommoncrawlextractor_spark.operators.multimodal import (
            image_features,
            media_payloads_from_docs,
        )

        media = media_payloads_from_docs(interleaved_documents(s, d))
        # sort_once: the range sample job must not re-run image_features
        return sort_once(
            image_features(media).select("media_ref", "mime", "width", "height", "n_bytes"),
            "media_ref",
        )

    q["multimodal_image_features"] = multimodal_features

    # --- frontier ---------------------------------------------------------
    def frontier_batch(s, d):
        """The full frontier pipeline — harvest (Arrow UDF) → RFC 3986
        canonicalize → filter chain → xxhash64 dedup → salted two-phase
        politeness top-k — made ORACLE-REPLAYABLE by injecting the
        priority through the operator's own public parameter as a
        48-bit md5-prefix value (DuckDB replays md5 bit-for-bit; the
        default xxhash64-derived priority stays the production path —
        benched separately as ``frontier_schedule_prod`` in bench.py and
        exercised by scheduler_one_round + pytest). With per-URL-unique
        priorities the
        url_hash ordering tiebreak never fires, so selection and
        fetch_rank are exactly window-replayable; the xxhash64 dedup and
        the salt phase still execute for real (salt only pre-filters —
        the two-phase top-k is exact by construction)."""
        docs = interleaved_documents(s, d)
        urls = harvest_outlinks(docs)
        pr48 = F.conv(F.substring(F.md5(F.col("url_canon")), 1, 12), 16, 10)
        cand = canonical_candidates(
            urls,
            priority=pr48.cast("double") / F.lit(float(1 << 48)),
            discovered_at=F.timestamp_seconds(F.lit(1735689600)),
        )
        return (
            politeness_schedule(cand, host_budget=5, salt_k=4)
            .select(
                "host",
                "fetch_rank",
                "url_canon",
                F.conv(F.substring(F.md5(F.col("url_canon")), 1, 12), 16, 10)
                .cast("long")
                .alias("prio48"),
            )
            .orderBy("host", "fetch_rank")
        )

    q["frontier_schedule_batch"] = frontier_batch

    def harvest_counts(s, d):
        docs = interleaved_documents(s, d)
        cand = canonical_candidates(harvest_outlinks(docs))
        return (
            cand.groupBy("host").agg(F.count("*").alias("cnt")).orderBy(F.desc("cnt"), "host")
        )

    q["frontier_harvest_by_host"] = harvest_counts

    def scheduler_one_round(s, d):
        """The full stateful engine, one bootstrap + one drain round in a
        throwaway state dir: politeness schedule → simulated fetch →
        FETCH_STATUS classify → fetch_log. Deterministic output (rows-only
        check: bloom state + checkpointing aren't SQL)."""
        import tempfile

        from simplecommoncrawlextractor_spark.plans import (
            CrawlScheduler,
            StateStore,
        )
        from simplecommoncrawlextractor_spark.sources import seed_frontier

        root = tempfile.mkdtemp(prefix="ccspark-gate-")
        sched = CrawlScheduler(
            s, StateStore(root), host_budget=5, salt_k=4, n_buckets=16
        )
        sched.bootstrap(seed_frontier(s, n=500))
        sched.step()
        return sched.crawl_order()

    q["scheduler_one_round"] = scheduler_one_round

    # Explicit gate order: every ORACLED entry first (round 2's gate
    # recorded exactly 50 of 53 registered entries, silently dropping the
    # oracled frontier_harvest_by_host from the tail), then the four
    # rows-only entries — so any driver-side truncation can only shed
    # rows-only coverage, never an oracle check. The roster is trimmed to
    # 50 total: variant entries whose operator already has an oracled
    # sibling + pytest equivalence (xxhash64 minhash, rolling
    # fingerprint, standalone s6/s7) were retired, not their code.
    order = [
        # CDX analytics (oracled)
        "a1_count_mimes", "a2_count_ext", "a3_count_ext_by_mime",
        "a4_count_mime_by_ext", "a5_count_tlds", "a6_count_tld_mime_200",
        "a7_count_tld_mime_detected", "a8_count_tld_charset",
        "a9_count_tld_charset_lang", "a10_mime_confusion", "a11_run_stats",
        "a12_sample_tally",
        # sorts / filters / parsing (oracled)
        "o2_double_key_sort", "o4_politeness_topk", "f5_length_gates",
        "f7_digest_semijoin", "f8_set_membership", "f9_seen_antijoin",
        "f10_downsample_strata", "f11_downsample_langcharset",
        "f13_capture_replace", "f14_identity_norm",
        "p1_cdx_parse", "p2_offset_header",
        # frontier centerpiece (oracled: generator-replay; since round 4
        # the full schedule batch is oracled too, via md5-prefix priority
        # injection + window replay)
        "frontier_harvest_by_host", "frontier_schedule_batch",
        # sources (oracled)
        "s6_s7_shard_fetch_probe", "s9_wiki_external_links",
        # dedup + text (oracled)
        "dedup_exact_groups", "dedup_minhash_lsh", "dedup_ngram_jaccard",
        "dedup_simhash", "dedup_components", "text_token_hist",
        "text_quality", "text_lang_id", "text_fingerprint", "text_token_bpe",
        "repetition_report", "segment_duplicate_groups", "substring_dup_spans",
        # extraction + the real-WARC round trip (oracled)
        "extraction_select", "warc_roundtrip_records",
        # events (oracled)
        "events_hourly_counts", "events_sessionize",
        # similarity (oracled; multiprobe is bench-only, see above)
        "ann_lsh_bucketed", "ann_near_dups_bucketed", "semantic_dedup_pairs",
        # rows-only tail (stateful / binary-payload / pandas-UDF paths)
        "scheduler_one_round", "multimodal_image_features",
    ]
    assert set(order) == set(q), (set(order) ^ set(q))
    return {k: q[k] for k in order}


def oracle_sql() -> dict[str, str]:
    o: dict[str, str] = {}

    o["a1_count_mimes"] = oracle_cte(
        f"SELECT coalesce({_MIME}, 'NULL') AS mime, count(*) AS cnt "
        "FROM cdx GROUP BY 1 ORDER BY cnt DESC, mime"
    )
    o["a2_count_ext"] = oracle_cte(
        f"SELECT coalesce({_EXT}, 'NULL') AS ext, count(*) AS cnt "
        "FROM cdx GROUP BY 1 ORDER BY cnt DESC, ext"
    )
    o["a3_count_ext_by_mime"] = oracle_cte(
        f"SELECT coalesce({_EXT}, 'NULL') AS ext, coalesce({_MIME}, 'NULL') AS mime, "
        "count(*) AS cnt FROM cdx GROUP BY 1, 2 ORDER BY ext, cnt DESC, mime"
    )
    o["a5_count_tlds"] = oracle_cte(
        f"SELECT {_TLD} AS tld, count(*) AS cnt FROM cdx GROUP BY 1 ORDER BY cnt DESC, tld"
    )
    o["a6_count_tld_mime_200"] = oracle_cte(
        f"SELECT {_TLD} AS tld, coalesce({_MIME}, 'NULL') AS mime, count(*) AS cnt "
        "FROM cdx WHERE status = 200 AND url NOT LIKE '%robots.txt' "
        "GROUP BY 1, 2 ORDER BY tld, cnt DESC, mime"
    )
    o["a7_count_tld_mime_detected"] = oracle_cte(
        f"SELECT {_TLD} AS tld, coalesce({_MIME_DET}, 'NULL') AS mime_detected, "
        "count(*) AS cnt FROM cdx WHERE status = 200 AND url NOT LIKE '%robots.txt' "
        "GROUP BY 1, 2 ORDER BY tld, cnt DESC, mime_detected"
    )
    o["a8_count_tld_charset"] = oracle_cte(
        f"SELECT {_TLD} AS tld, charset, count(*) AS cnt "
        "FROM cdx WHERE status = 200 AND url NOT LIKE '%robots.txt' "
        "AND charset IS NOT NULL AND trim(charset) != '' "
        f"AND trim({_TLD}) != '' "
        "GROUP BY 1, 2 ORDER BY tld, cnt DESC, charset"
    )
    o["a9_count_tld_charset_lang"] = oracle_cte(
        f"SELECT {_TLD} AS tld, "
        "CASE WHEN charset IS NULL OR charset = '' THEN 'UNK' ELSE charset END AS charset, "
        f"{_LANG1} AS lang, count(*) AS cnt FROM cdx "
        "WHERE status = 200 AND url NOT LIKE '%robots.txt' "
        f"AND (coalesce({_MIME_DET}, 'NULL') LIKE '%html%' "
        f"OR coalesce({_MIME_DET}, 'NULL') LIKE '%text%') "
        "GROUP BY 1, 2, 3 ORDER BY tld, charset, cnt DESC, lang"
    )
    o["a10_mime_confusion"] = oracle_cte(
        f"SELECT coalesce({_MIME}, 'NULL') AS mime, coalesce({_MIME_DET}, 'NULL') AS mime_detected, "
        "count(*) AS cnt FROM cdx GROUP BY 1, 2 ORDER BY cnt DESC, mime, mime_detected"
    )
    o["a11_run_stats"] = oracle_cte(
        "SELECT count(*) AS visited, "
        "CAST(sum(CASE WHEN status = 200 THEN 1 ELSE 0 END) AS BIGINT) AS n_200, "
        "CAST(sum(CASE WHEN truncated IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_truncated, "
        "count(DISTINCT filename) AS n_warcs, CAST(sum(length) AS BIGINT) AS total_bytes FROM cdx"
    )
    o["o2_double_key_sort"] = oracle_cte(
        "SELECT filename, status, count(*) AS cnt FROM cdx "
        "GROUP BY 1, 2 ORDER BY filename, cnt DESC, status"
    )
    o["o4_politeness_topk"] = oracle_cte(
        f"SELECT host, fetch_rank, url, priority FROM ("
        f"SELECT {_HOST} AS host, url, length % 1000 AS priority, rec_id, "
        f"row_number() OVER (PARTITION BY {_HOST} ORDER BY length % 1000 DESC, rec_id) AS fetch_rank "
        "FROM cdx) WHERE fetch_rank <= 3 ORDER BY host, fetch_rank"
    )
    o["f5_length_gates"] = oracle_cte(
        "SELECT rec_id, url, length FROM cdx WHERE length >= 10000 AND length > 0"
    )
    o["f7_digest_semijoin"] = oracle_cte(
        "SELECT rec_id, url, digest FROM cdx "
        "WHERE digest IN (SELECT digest FROM cdx WHERE rec_id % 311 = 0)"
    )
    o["f9_seen_antijoin"] = oracle_cte(
        "SELECT rec_id, url, digest FROM cdx c "
        "WHERE NOT EXISTS (SELECT 1 FROM cdx s WHERE s.rec_id % 311 = 0 AND s.digest = c.digest)"
    )
    o["f10_downsample_strata"] = oracle_cte(
        f"SELECT rec_id, url, mime_detected FROM (SELECT *, {_RATE_SQL} AS rate FROM cdx) "
        "WHERE rate >= 1.0 OR rec_id % 1000 < rate * 1000"
    )
    o["a12_sample_tally"] = oracle_cte(
        "SELECT CAST(sum(CASE WHEN status = 200 AND rec_id % 100 < 35 THEN 1 ELSE 0 END) AS BIGINT) AS selected, "
        "count(*) AS total FROM cdx"
    )

    o["p1_cdx_parse"] = oracle_cte(
        'SELECT url, mime_detected, status, digest, length, "offset", filename, '
        "CAST(floor(epoch(TIMESTAMP '2026-01-01 12:00:00')) AS BIGINT) AS fetch_epoch FROM cdx"
    )
    o["p2_offset_header"] = oracle_cte(
        "SELECT rec_id, 'bytes=' || CAST(\"offset\" AS STRING) || '-' || "
        'CAST("offset" + length - 1 AS STRING) AS range_header FROM cdx'
    )
    o["a4_count_mime_by_ext"] = oracle_cte(
        f"SELECT coalesce({_MIME}, 'NULL') AS mime, coalesce({_EXT}, 'NULL') AS ext, "
        "count(*) AS cnt FROM cdx GROUP BY 1, 2 ORDER BY mime, cnt DESC, ext"
    )
    o["f8_set_membership"] = oracle_cte(
        "SELECT rec_id, url, mime_detected FROM cdx "
        "WHERE mime_detected IN ('text/html', 'application/pdf') "
        f"OR {_EXT} IN ('html', 'pdf')"
    )
    o["f11_downsample_langcharset"] = oracle_cte(
        f"SELECT rec_id, url, {_LANG1} AS lang, charset FROM ("
        f"SELECT *, {_LANG1} || chr(9) || coalesce(charset, '') AS k, "
        f"CASE {_LANG1} || chr(9) || coalesce(charset, '') "
        "WHEN 'eng' || chr(9) || 'UTF-8' THEN 1.0 "
        "WHEN 'deu' || chr(9) || 'windows-1252' THEN 0.25 "
        "WHEN 'NULL' || chr(9) THEN 0.0 ELSE 0.5 END AS rate FROM cdx "
        f"WHERE {_MIME} LIKE '%html%' OR {_MIME} LIKE '%text%') "
        "WHERE rate >= 1.0 OR rec_id % 1000 < rate * 1000"
    )
    o["f13_capture_replace"] = oracle_cte(
        "SELECT rec_id, "
        "CASE WHEN regexp_matches(url, '^https://([^/]+)/p/([0-9]+)') THEN "
        "regexp_extract(url, '^https://([^/]+)/p/([0-9]+)', 1) || '#' || "
        "regexp_extract(url, '^https://([^/]+)/p/([0-9]+)', 2) ELSE NULL END AS host_key, "
        "CASE WHEN regexp_matches(url, '\\.(html|pdf)$') THEN "
        "'ext:' || regexp_extract(url, '\\.(html|pdf)$', 1) ELSE url END AS ext_or_url "
        "FROM cdx"
    )
    # S6+S7 end-to-end: simulated_transport writes 40+(num%23) fixed
    # 75-byte lines as level-0 gzip (23 framing bytes), so n_bytes and the
    # HEAD Content-Length are the same closed form of the shard number
    # (sources/shards.py::shard_payload_size)
    o["s6_s7_shard_fetch_probe"] = (
        "SELECT 'CC-MAIN-2026-08-cdx-' || lpad(CAST(i AS VARCHAR), 5, '0') || '.gz' AS output_name, "
        "'ok' AS status, "
        "CAST(23 + 75 * (40 + i % 23) AS BIGINT) AS n_bytes, "
        "CAST(23 + 75 * (40 + i % 23) AS BIGINT) AS content_length "
        "FROM range(32) t(i) ORDER BY output_name"
    )

    o["s9_wiki_external_links"] = oracle_cte(
        "SELECT regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.\\-]*://(?:[^@/?#]*@)?([^/:?#]+)', 1) AS host, url "
        "FROM (SELECT CASE WHEN rec_id % 7 = 0 THEN 'http:' || regexp_replace(url, '^https?:', '') "
        "ELSE url END AS url FROM cdx) "
        "WHERE NOT regexp_matches(url, '\\.example\\.404') "
        "AND length(url) < 3000 "  # RE2 caps {3000}; find('.{3000}') == len >= 3000
        "ORDER BY host, url"
    )

    # extraction_select: full replay of the F4/F5 gates, F6 include/exclude
    # selection (reference double-test bug fixed — the detected-mime
    # include is honored), and the pickExtension cascade; detected_mime is
    # the precomputed CDX column in both engines (extract(presniffed=True)),
    # so the sniff UDF is the only stage outside this oracle.
    _MIMEXT_CASE = (
        "CASE trim(split_part({c}, ';', 1)) "
        "WHEN 'application/pdf' THEN '.pdf' WHEN 'application/zip' THEN '.zip' "
        "WHEN 'application/gzip' THEN '.gz' WHEN 'application/rtf' THEN '.rtf' "
        "WHEN 'text/html' THEN '.html' WHEN 'text/plain' THEN '.txt' "
        "WHEN 'image/png' THEN '.png' WHEN 'image/gif' THEN '.gif' "
        "WHEN 'image/jpeg' THEN '.jpg' WHEN 'image/webp' THEN '.webp' "
        "WHEN 'image/jp2' THEN '.jp2' WHEN 'audio/ogg' THEN '.ogg' "
        "WHEN 'audio/mpeg' THEN '.mp3' WHEN 'audio/x-wav' THEN '.wav' "
        "WHEN 'video/mp4' THEN '.mp4' WHEN 'video/x-msvideo' THEN '.avi' END"
    )
    _UEXT_RAW = (
        "lower(regexp_extract(regexp_extract(url, '^[a-z]+://[^/?#]+([^?#]*)', 1), "
        "'(?i)\\.([a-z0-9]{1,8})$', 1))"
    )
    o["extraction_select"] = oracle_cte(
        f"""
SELECT url, coalesce(detected_ext, header_ext, uext, '.unk') AS ext, detected_mime
FROM (
  SELECT url, mime, mime_detected AS detected_mime, rec_id, length,
         CASE WHEN {_UEXT_RAW} = '' THEN NULL
              ELSE '.' || CASE WHEN {_UEXT_RAW} = 'htm' THEN 'html'
                               ELSE {_UEXT_RAW} END END AS uext,
         {_MIMEXT_CASE.format(c='mime')} AS header_ext,
         CASE WHEN mime_detected <> 'application/octet-stream'
              THEN {_MIMEXT_CASE.format(c='mime_detected')} END AS detected_ext
  FROM cdx
)
WHERE rec_id % 17 <> 0
  AND length >= 1 AND length <= 490000
  AND NOT coalesce(mime IS NOT NULL AND regexp_matches(mime, 'pdf'), FALSE)
  AND (
    (detected_mime IS NOT NULL
     AND regexp_matches(detected_mime, '^(text/html|application/pdf)'))
    OR (uext IS NOT NULL AND regexp_matches(uext, '^\\.(txt|123)$'))
  )
ORDER BY url
""".strip()
    )

    # warc_roundtrip_records: the Spark side pushes these rows through a
    # REAL gzip+WARC+HTTP archive write and re-read; the oracle derives
    # them directly from the documents table — equality means the archive
    # round trip is byte-faithful (md5 over the exact payload bytes).
    o["warc_roundtrip_records"] = """
SELECT 'http://' || source || '.example.org/doc/' || CAST(doc_id AS VARCHAR) AS url,
       CASE WHEN lang = 'en' THEN 'text/html' ELSE 'text/plain' END AS mime,
       CASE WHEN doc_id % 7 = 0 THEN 'length' ELSE NULL END AS truncated,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS payload_md5
FROM documents ORDER BY url
""".strip()

    o["f14_identity_norm"] = (
        "SELECT doc_id, regexp_replace(trim('  ' || regexp_replace(text, ' the ', "
        "chr(10) || ' ' || chr(10) || chr(10), 'g') || chr(9), "
        "' ' || chr(9) || chr(10) || chr(13)), "
        "'(\\r\\n|[\\n\\r]+)(?: *)(?:(?:\\r\\n|[\\n\\r])+\\s*)+', "
        "chr(10) || chr(10), 'g') AS cleaned FROM documents"
    )

    o["dedup_exact_groups"] = (
        f"SELECT {_FP} AS fp, count(*) AS n_docs, min(doc_id) AS rep_id "
        "FROM documents GROUP BY 1 ORDER BY fp"
    )
    # band buckets above the cap are skipped (minhash_lsh_candidates
    # max_band_bucket=256) — mirrored here so the gate tests the cap too.
    # The CTE chain is shared with dedup_components, which closes the
    # same pair set transitively.
    _MINHASH_CTES = f"""{_SHINGLE_CTE},
base AS (SELECT doc_id, md5(shingle) AS h0 FROM sh),
saltsh AS (
  SELECT doc_id, salt, md5(CAST(salt AS STRING) || h0) AS h
  FROM base CROSS JOIN (SELECT UNNEST(generate_series(0, 7)) AS salt)
),
sig AS (SELECT doc_id, salt, min(h) AS sig FROM saltsh GROUP BY 1, 2),
band AS (
  SELECT doc_id, CAST(salt // 2 AS INT) AS band,
         string_agg(sig, ',' ORDER BY sig) AS band_key
  FROM sig GROUP BY 1, 2
),
bkeep AS (SELECT band, band_key FROM band GROUP BY 1, 2 HAVING count(*) <= 256),
bk AS (SELECT band.* FROM band JOIN bkeep USING (band, band_key))"""
    _MINHASH_PAIRS = (
        "SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b "
        "FROM bk a JOIN bk b USING (band, band_key) WHERE a.doc_id < b.doc_id"
    )
    o["dedup_minhash_lsh"] = f"WITH {_MINHASH_CTES}\n{_MINHASH_PAIRS} ORDER BY 1, 2"
    # transitive closure of the same pair set: recursive reachability,
    # component = min reachable id (UNION dedup terminates the recursion)
    o["dedup_components"] = f"""
WITH RECURSIVE {_MINHASH_CTES},
pairs AS ({_MINHASH_PAIRS}),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
reach(node, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT reach.node, e.b FROM reach JOIN edges e ON e.a = reach.r
)
SELECT node AS doc_id, min(r) AS component FROM reach GROUP BY 1 ORDER BY 1
""".strip()
    # shingles with document frequency above the cap are dropped before the
    # self-join (ngram_jaccard_pairs max_doc_freq=128); sizes still count
    # every shingle, so Jaccard is underestimated, never overestimated
    o["dedup_ngram_jaccard"] = f"""
WITH {_SHINGLE_CTE},
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
rare AS (SELECT shingle FROM sh GROUP BY 1 HAVING count(*) <= 128),
shc AS (SELECT sh.* FROM sh JOIN rare USING (shingle)),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
  FROM shc a JOIN shc b USING (shingle) WHERE a.doc_id < b.doc_id GROUP BY 1, 2
)
SELECT id_a, id_b, inter, sa.sz AS sz_a, sb.sz AS sz_b
FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
WHERE inter * 1.0 / (sa.sz + sb.sz - inter) >= 0.05 ORDER BY id_a, id_b
""".strip()
    # dedup_simhash gate path (hash_mode='md5hex'): bit b of a token's
    # 64-bit hash is bit (b%4) of hex digit (b//4) of md5(token) — DuckDB
    # replays the votes, the sign bits, the 4×16-bit segment pigeonhole
    # (with the 256 segment-bucket cap mirrored) and the per-pair hamming
    # count, so the gate tests the full candidate topology, not just rows
    o["dedup_simhash"] = """
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
  FROM documents
),
h AS (SELECT doc_id, md5(tok) AS hx FROM toks),
bits AS (
  SELECT doc_id, b,
         ((('0x' || substr(hx, CAST(b // 4 AS INT) + 1, 1))::INT >> (b % 4)) & 1) * 2 - 1 AS vote
  FROM h, (SELECT unnest(generate_series(0, 63)) AS b)
),
sbits AS (
  SELECT doc_id, b, CASE WHEN sum(vote) > 0 THEN 1 ELSE 0 END AS bit
  FROM bits GROUP BY doc_id, b
),
segv AS (
  SELECT doc_id, CAST(b // 16 AS INT) AS seg,
         CAST(sum(bit << (b % 16)) AS BIGINT) AS seg_val
  FROM sbits GROUP BY 1, 2
),
segkeep AS (SELECT seg, seg_val FROM segv GROUP BY 1, 2 HAVING count(*) <= 256),
sk AS (SELECT segv.* FROM segv JOIN segkeep USING (seg, seg_val)),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sk a JOIN sk b USING (seg, seg_val) WHERE a.doc_id < b.doc_id
),
ham AS (
  SELECT c.id_a, c.id_b,
         CAST(sum(CASE WHEN x.bit != y.bit THEN 1 ELSE 0 END) AS INT) AS hamming
  FROM cand c
  JOIN sbits x ON x.doc_id = c.id_a
  JOIN sbits y ON y.doc_id = c.id_b AND y.b = x.b
  GROUP BY 1, 2
)
SELECT id_a, id_b, hamming FROM ham WHERE hamming <= 8 ORDER BY id_a, id_b
""".strip()
    o["text_token_hist"] = (
        "SELECT n_tokens, count(*) AS cnt FROM (SELECT CAST(len(string_split_regex("
        "trim(text), '\\s+')) AS BIGINT) AS n_tokens FROM documents) GROUP BY 1 ORDER BY 1"
    )
    o["text_quality"] = (
        "SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars, "
        "CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens, "
        "CAST(floor(length(text) * 1000.0 / len(string_split_regex(trim(text), '\\s+'))) AS BIGINT) AS mean_tok_len_x1000, "
        "CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS BIGINT) AS n_punct, "
        "CAST(len(regexp_extract_all(text, '(?i)\\b(?:the|a|of|and|to|is)\\b')) AS BIGINT) AS n_stopwords "
        "FROM documents ORDER BY doc_id"
    )
    o["text_lang_id"] = """
WITH scores AS (
  SELECT doc_id, 'en' AS lang, len(regexp_extract_all(text, '(?i)\\b(?:the|a|of|and|to|is)\\b')) AS score FROM documents
  UNION ALL
  SELECT doc_id, 'de', len(regexp_extract_all(text, '(?i)\\b(?:der|die|und|das|ist|ein)\\b')) FROM documents
  UNION ALL
  SELECT doc_id, 'fr', len(regexp_extract_all(text, '(?i)\\b(?:le|la|et|les|des|est)\\b')) FROM documents
  UNION ALL
  SELECT doc_id, 'es', len(regexp_extract_all(text, '(?i)\\b(?:el|la|los|que|es|una)\\b')) FROM documents
),
best AS (
  SELECT doc_id, lang, score,
         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang DESC) AS rn
  FROM scores
)
SELECT doc_id, CASE WHEN score > 0 THEN lang ELSE 'und' END AS lang_pred
FROM best WHERE rn = 1 ORDER BY doc_id
""".strip()
    o["text_fingerprint"] = (
        f"SELECT doc_id, {_FP} AS fp FROM documents ORDER BY doc_id"
    )
    o["text_token_bpe"] = (
        "SELECT doc_id, CAST(len(regexp_extract_all(text, "
        "'[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_bpe_tokens "
        "FROM documents ORDER BY doc_id"
    )
    # repetition_report: full bit-replay of the MassiveText repetition
    # gates — unigram/bigram counts, top-gram and duplicate fractions as
    # exact integer basis points (same SQL previously lived only in
    # tests/test_textquality.py).
    o["repetition_report"] = """
WITH toks AS (
  SELECT doc_id, tok FROM (
    SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS tok
    FROM documents
  ) WHERE tok <> ''
),
uni AS (SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY 1, 2),
unid AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS n_distinct,
         CAST(max(c) AS BIGINT) AS top_uni
  FROM uni GROUP BY 1
),
warr AS (
  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS w
  FROM documents
),
bg AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS bg
  FROM warr WHERE len(w) >= 2
),
bic AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY 1, 2),
bid AS (
  SELECT doc_id, CAST(max(c) AS BIGINT) AS top_bi,
         CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup_bi
  FROM bic GROUP BY 1
)
SELECT u.doc_id, n_tokens, n_distinct,
  CAST((10000 * (n_tokens - n_distinct)) // n_tokens AS BIGINT) AS dup_token_bp,
  CAST((10000 * top_uni) // n_tokens AS BIGINT) AS top_unigram_bp,
  CAST(COALESCE(CASE WHEN n_tokens > 1 THEN (10000 * top_bi) // (n_tokens - 1) END, 0) AS BIGINT)
    AS top_bigram_bp,
  CAST(COALESCE(CASE WHEN n_tokens > 1 THEN (10000 * dup_bi) // (n_tokens - 1) END, 0) AS BIGINT)
    AS dup_bigram_bp
FROM unid u LEFT JOIN bid USING (doc_id) ORDER BY doc_id
""".strip()
    # segment_duplicate_groups: corpus-global paragraph dedup groups; the
    # word-salad corpus has no paragraph breaks, so the gate derives
    # segments by splitting at the frequent token 'table' in both engines.
    o["segment_duplicate_groups"] = """
WITH segs AS (
  SELECT doc_id, seg FROM (
    SELECT doc_id, unnest(string_split_regex(text, '\\btable\\b')) AS seg
    FROM documents
  ) WHERE trim(seg) <> ''
)
SELECT seg AS segment, CAST(count(*) AS BIGINT) AS n_occurrences,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM segs GROUP BY 1 HAVING count(*) > 1 ORDER BY segment, n_occurrences
""".strip()

    # substring_dup_spans: same windows, same corpus-wide dup test, same
    # gaps-and-islands merge as operators/textquality.py
    # duplicate_substring_spans (n=8).
    o["substring_dup_spans"] = """
WITH t AS (SELECT doc_id, list_filter(string_split_regex(text,'\\s+'), x->x<>'') w
           FROM documents),
g AS (SELECT doc_id, i-1 AS pos, list_aggregate(w[i:i+7], 'string_agg', ' ') AS gram
      FROM t, UNNEST(generate_series(1, len(w)-7)) u(i) WHERE len(w) >= 8),
d AS (SELECT gram FROM g GROUP BY gram HAVING count(*) > 1),
hits AS (SELECT g.doc_id, g.pos FROM g JOIN d USING (gram)),
isl AS (
  SELECT doc_id, pos,
         sum(CASE WHEN gap IS NULL OR gap > 7 THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM (SELECT doc_id, pos,
               pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS gap
        FROM hits)
)
SELECT doc_id, CAST(min(pos) AS INTEGER) AS span_start,
       CAST(max(pos) + 7 AS INTEGER) AS span_end,
       count(*) AS n_windows
FROM isl GROUP BY doc_id, island
ORDER BY doc_id, span_start
""".strip()

    o["events_hourly_counts"] = (
        "SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hour_idx, event_type, "
        "count(*) AS cnt FROM events GROUP BY 1, 2 ORDER BY 1, 2"
    )
    o["events_sessionize"] = """
WITH g AS (
  SELECT user_id, epoch(ts) - lag(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
  FROM events
)
SELECT user_id,
       CAST(sum(CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
       count(*) AS n_events
FROM g GROUP BY 1 ORDER BY 1
""".strip()

    # semantic_dedup_pairs: the FULL SemDeDup pipeline replayed — float
    # quantization (floor basis points), deterministic k-means init (16
    # smallest ids), BOTH Lloyd's iterations with the positive-offset
    # integer-mean centroid update (so // and div agree), the final
    # assignment with (distance, cluster) tiebreak, the 512-cluster cap,
    # and the exact int128 cosine test (dot^2*10^8 >= tau_bp^2*|a|^2*|b|^2).
    o["semantic_dedup_pairs"] = """
WITH v AS (
  SELECT vec_id AS id,
         list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS q
  FROM embeddings
),
c0 AS (SELECT id AS cluster, q AS c FROM v ORDER BY id LIMIT 16),
a1 AS (
  SELECT id, cluster, q FROM (
    SELECT id, cluster, q, row_number() OVER (PARTITION BY id ORDER BY d, cluster) AS rn
    FROM (SELECT v.id, c0.cluster, v.q,
                 list_sum(list_transform(range(1,65), i -> (v.q[i]-c0.c[i])*(v.q[i]-c0.c[i]))) AS d
          FROM v CROSS JOIN c0)
  ) WHERE rn = 1
),
s1 AS (
  SELECT cluster, pos, ((CAST(sum(val) AS BIGINT) + count(*)*10000) // count(*)) - 10000 AS cv
  FROM (SELECT cluster, u.i AS pos, q[u.i] AS val FROM a1, (SELECT unnest(range(1,65)) AS i) u)
  GROUP BY 1, 2
),
c1 AS (SELECT cluster, list(cv ORDER BY pos) AS c FROM s1 GROUP BY 1),
a2 AS (
  SELECT id, cluster, q FROM (
    SELECT id, cluster, q, row_number() OVER (PARTITION BY id ORDER BY d, cluster) AS rn
    FROM (SELECT v.id, c1.cluster, v.q,
                 list_sum(list_transform(range(1,65), i -> (v.q[i]-c1.c[i])*(v.q[i]-c1.c[i]))) AS d
          FROM v CROSS JOIN c1)
  ) WHERE rn = 1
),
s2 AS (
  SELECT cluster, pos, ((CAST(sum(val) AS BIGINT) + count(*)*10000) // count(*)) - 10000 AS cv
  FROM (SELECT cluster, u.i AS pos, q[u.i] AS val FROM a2, (SELECT unnest(range(1,65)) AS i) u)
  GROUP BY 1, 2
),
c2 AS (SELECT cluster, list(cv ORDER BY pos) AS c FROM s2 GROUP BY 1),
af AS (
  SELECT id, cluster, q FROM (
    SELECT id, cluster, q, row_number() OVER (PARTITION BY id ORDER BY d, cluster) AS rn
    FROM (SELECT v.id, c2.cluster, v.q,
                 list_sum(list_transform(range(1,65), i -> (v.q[i]-c2.c[i])*(v.q[i]-c2.c[i]))) AS d
          FROM v CROSS JOIN c2)
  ) WHERE rn = 1
),
keep AS (SELECT cluster FROM af GROUP BY 1 HAVING count(*) <= 512),
t2 AS (SELECT af.* FROM af JOIN keep USING (cluster)),
pairs AS (
  SELECT a.cluster, a.id AS id_a, b.id AS id_b,
         CAST(list_sum(list_transform(range(1,65), i -> a.q[i]*b.q[i])) AS HUGEINT) AS dot,
         CAST(list_sum(list_transform(range(1,65), i -> a.q[i]*a.q[i])) AS HUGEINT) AS na2,
         CAST(list_sum(list_transform(range(1,65), i -> b.q[i]*b.q[i])) AS HUGEINT) AS nb2
  FROM t2 a JOIN t2 b ON a.cluster = b.cluster AND a.id < b.id
)
SELECT cluster, id_a, id_b FROM pairs
WHERE dot > 0 AND dot*dot*100000000 >= CAST(16000000 AS HUGEINT) * na2 * nb2
ORDER BY id_a, id_b
""".strip()
    # SRP weights are pure integer arithmetic (similarity.srp_weight), so the
    # oracle replays the multi-table bucketing bit-for-bit; the per-table
    # bucket-size cap mirrors ann_bucketed_top1(max_bucket=512)
    _ANN_DIM, _ANN_PLANES, _ANN_TABLES, _ANN_CAP = 64, 4, 8, 512

    def _ann_cte(n_tables: int) -> str:
        """planes → proj → buck → keep CTE chain for n_tables SRP tables
        (shared by all bucketed-ANN oracles; parameterized because the
        multi-probe variant uses half the tables)."""
        return f"""
planes AS (
  SELECT g // {_ANN_PLANES} AS tbl, g % {_ANN_PLANES} AS p,
         list_transform(generate_series(0, {_ANN_DIM - 1}),
         j -> CASE WHEN ((1 + g*{_ANN_DIM} + j) * 2654435761) % 4294967296 < 2147483648
              THEN 1.0 ELSE -1.0 END) AS w
  FROM (SELECT unnest(generate_series(0, {_ANN_PLANES * n_tables - 1})) AS g)
),
proj AS (
  SELECT e.vec_id, pl.tbl, pl.p,
         list_dot_product(CAST(e.embedding AS DOUBLE[]), pl.w) AS s
  FROM embeddings e, planes pl
),
buck AS (
  SELECT vec_id, tbl,
         CAST(sum(CASE WHEN s >= 0 THEN 1 << p ELSE 0 END) AS BIGINT) AS bucket
  FROM proj GROUP BY 1, 2
),
keep AS (
  SELECT b.vec_id, b.tbl, b.bucket FROM buck b
  JOIN (SELECT tbl, bucket FROM buck GROUP BY tbl, bucket HAVING count(*) <= {_ANN_CAP}) s
  ON b.tbl = s.tbl AND b.bucket = s.bucket
)
""".strip()

    _COS = (
        "list_dot_product(CAST(ea.embedding AS DOUBLE[]), CAST(eb.embedding AS DOUBLE[]))"
        " / (sqrt(list_dot_product(CAST(ea.embedding AS DOUBLE[]), CAST(ea.embedding AS DOUBLE[])))"
        " * sqrt(list_dot_product(CAST(eb.embedding AS DOUBLE[]), CAST(eb.embedding AS DOUBLE[]))))"
    )
    o["ann_near_dups_bucketed"] = f"""
WITH {_ann_cte(_ANN_TABLES)},
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM keep a JOIN keep b ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT c.id_a, c.id_b
FROM cand c
JOIN embeddings ea ON ea.vec_id = c.id_a
JOIN embeddings eb ON eb.vec_id = c.id_b
WHERE list_dot_product(CAST(ea.embedding AS DOUBLE[]), CAST(eb.embedding AS DOUBLE[]))
      / (sqrt(list_dot_product(CAST(ea.embedding AS DOUBLE[]), CAST(ea.embedding AS DOUBLE[])))
         * sqrt(list_dot_product(CAST(eb.embedding AS DOUBLE[]), CAST(eb.embedding AS DOUBLE[])))) >= 0.4
ORDER BY 1, 2
""".strip()
    o["ann_lsh_bucketed"] = f"""
WITH planes AS (
  SELECT g // {_ANN_PLANES} AS tbl, g % {_ANN_PLANES} AS p,
         list_transform(generate_series(0, {_ANN_DIM - 1}),
         j -> CASE WHEN ((1 + g*{_ANN_DIM} + j) * 2654435761) % 4294967296 < 2147483648
              THEN 1.0 ELSE -1.0 END) AS w
  FROM (SELECT unnest(generate_series(0, {_ANN_PLANES * _ANN_TABLES - 1})) AS g)
),
proj AS (
  SELECT e.vec_id, pl.tbl, pl.p,
         list_dot_product(CAST(e.embedding AS DOUBLE[]), pl.w) AS s
  FROM embeddings e, planes pl
),
buck AS (
  SELECT vec_id, tbl,
         CAST(sum(CASE WHEN s >= 0 THEN 1 << p ELSE 0 END) AS BIGINT) AS bucket
  FROM proj GROUP BY 1, 2
),
keep AS (
  SELECT b.vec_id, b.tbl, b.bucket FROM buck b
  JOIN (SELECT tbl, bucket FROM buck GROUP BY tbl, bucket HAVING count(*) <= {_ANN_CAP}) s
  ON b.tbl = s.tbl AND b.bucket = s.bucket
),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM keep a JOIN keep b ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id != b.vec_id
),
pairs AS (
  SELECT c.id_a, c.id_b,
         list_dot_product(CAST(ea.embedding AS DOUBLE[]), CAST(eb.embedding AS DOUBLE[]))
         / (sqrt(list_dot_product(CAST(ea.embedding AS DOUBLE[]), CAST(ea.embedding AS DOUBLE[])))
            * sqrt(list_dot_product(CAST(eb.embedding AS DOUBLE[]), CAST(eb.embedding AS DOUBLE[])))) AS cos
  FROM cand c
  JOIN embeddings ea ON ea.vec_id = c.id_a
  JOIN embeddings eb ON eb.vec_id = c.id_b
)
SELECT id_a AS vec_id, id_b AS nn_id FROM (
  SELECT *, row_number() OVER (PARTITION BY id_a ORDER BY cos DESC, id_b) AS rn FROM pairs
) WHERE rn = 1 ORDER BY vec_id
""".strip()

    # frontier_harvest_by_host: the synthetic span corpus is generated from
    # documents.doc_id (sources/synth.py:56-92), so the oracle REPLAYS THE
    # GENERATOR — enumerating exactly the URLs each doc embeds, applying
    # the canonical forms by construction (query sort, scheme/host
    # lowercase, default-port/fragment strip, http: on protocol-relative,
    # >3000-char drop) and deduping. Any bug in extract_urls,
    # canonicalize_url, the filter chain, or dedup_by_hash breaks the
    # per-host counts. (frontier_schedule_batch stays rows-only: its
    # priority/rank derive from xxhash64, which DuckDB lacks.)
    o["frontier_harvest_by_host"] = """
WITH d AS (SELECT doc_id AS k FROM documents),
urls AS (
  SELECT 'site' || CAST(k%50 AS VARCHAR) || '.example.org' AS host,
         'https://site' || CAST(k%50 AS VARCHAR) || '.example.org/page/'
           || CAST(k AS VARCHAR) || '?a=1&b=2' AS url_canon
  FROM d
  UNION ALL
  SELECT 'cdn' || CAST(k%11 AS VARCHAR) || '.example.net',
         'http://cdn' || CAST(k%11 AS VARCHAR) || '.example.net/asset/a'
           || CAST(k AS VARCHAR) || '.js'
  FROM d
  UNION ALL
  SELECT 'site' || CAST(k%37 AS VARCHAR) || '.example.com',
         'http://site' || CAST(k%37 AS VARCHAR) || '.example.com/Index'
           || CAST(k AS VARCHAR) || '.HTML'
  FROM d WHERE k%4 != 0 AND k%7 != 0
  UNION ALL
  SELECT 'site' || CAST((k+1)%50 AS VARCHAR) || '.example.org',
         'https://site' || CAST((k+1)%50 AS VARCHAR) || '.example.org/page/'
           || CAST(k+1 AS VARCHAR) || '?a=1&b=2'
  FROM d WHERE k%4 != 0 AND k%7 != 0
),
dedup AS (SELECT DISTINCT host, url_canon FROM urls)
SELECT host, count(*) AS cnt FROM dedup GROUP BY 1 ORDER BY cnt DESC, host
""".strip()

    # frontier_schedule_batch: the SAME generator replay composed with the
    # politeness-window replay (the o4 pattern). The gate entry injects a
    # 48-bit md5-prefix priority through canonical_candidates' public
    # parameter, so DuckDB replays the priority (md5 is bit-identical in
    # both engines; /2^48 is an exact power-of-two scale), the per-host
    # top-5 selection, and fetch_rank — the xxhash64 dedup + salt phases
    # still run for real on the Spark side, and with per-URL-unique
    # priorities they are exactness-preserving by construction.
    _GEN_URLS = o["frontier_harvest_by_host"].rsplit("\ndedup AS", 1)[0]
    o["frontier_schedule_batch"] = (
        _GEN_URLS
        + """
dedup AS (SELECT DISTINCT host, url_canon FROM urls),
pr AS (
  SELECT host, url_canon,
         ('0x' || substr(md5(url_canon), 1, 12))::BIGINT AS prio48
  FROM dedup
),
ranked AS (
  SELECT host, url_canon, prio48,
         row_number() OVER (
           PARTITION BY host ORDER BY prio48 DESC, url_canon
         ) AS fetch_rank
  FROM pr
)
SELECT host, fetch_rank, url_canon, prio48
FROM ranked WHERE fetch_rank <= 5 ORDER BY host, fetch_rank
""".rstrip()
    )

    # scheduler_one_round, multimodal_image_features: rows-only (stateful
    # checkpointing and binary image-header parsing are not
    # DuckDB-expressible); covered by pytest golden + equivalence tests
    # and a pinned digest of the image rows.
    return o
