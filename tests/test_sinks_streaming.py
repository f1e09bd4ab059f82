"""Sink (K2-K4, A15), delete-path (K6), and streaming-drain tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from simplecommoncrawlextractor_spark.operators.sinks import (
    build_dim,
    concat_outputs,
    encode_star,
    write_json_gz,
    write_tsv,
)
from simplecommoncrawlextractor_spark.plans import (
    CrawlScheduler,
    StateStore,
    canonical_candidates,
)
from simplecommoncrawlextractor_spark.sources import seed_frontier


def test_build_dim_deterministic_ids(spark):
    df = spark.createDataFrame(
        [("b",), ("a",), ("c",), ("a",), (None,)], "mime string"
    )
    dim = build_dim(df, "mime")
    got = sorted((r["mime_id"], r["mime"]) for r in dim.collect())
    assert got == [(1, "a"), (2, "b"), (3, "c")]


def test_encode_star_roundtrip(spark):
    df = spark.createDataFrame(
        [(1, "text/html", "com"), (2, "app/pdf", "org"), (3, "text/html", "org")],
        "id long, mime string, tld string",
    )
    fact, dims = encode_star(df, ["mime", "tld"])
    assert set(fact.columns) == {"id", "mime_id", "tld_id"}
    joined = fact.join(dims["mime"], "mime_id").join(dims["tld"], "tld_id")
    back = {(r["id"], r["mime"], r["tld"]) for r in joined.collect()}
    assert back == {(1, "text/html", "com"), (2, "app/pdf", "org"), (3, "text/html", "org")}


def test_tsv_json_sinks_and_concat(spark, tmp_path):
    df = spark.createDataFrame([("a", 1), ("b", 2)], "k string, cnt long")
    write_tsv(df, str(tmp_path / "tsv"))
    back = spark.read.option("sep", "\t").option("header", True).csv(str(tmp_path / "tsv"))
    assert {(r["k"], r["cnt"]) for r in back.collect()} == {("a", "1"), ("b", "2")}
    write_json_gz(df, str(tmp_path / "j1"))
    write_json_gz(df.withColumn("cnt", F.col("cnt") + 10), str(tmp_path / "j2"))
    import glob

    assert glob.glob(str(tmp_path / "j1" / "*.json.gz"))
    merged = concat_outputs(spark, [str(tmp_path / "j1"), str(tmp_path / "j2")])
    assert merged.count() == 4


def test_delete_refetchable_reopens_urls(spark, tmp_path):
    """K6: deleting truncated fetches from the seen set makes exactly those
    URLs pass the bloom+exact probe again — the touched buckets' blobs are
    rebuilt from the remaining exact rows, over the full
    bootstrap→step→janitor lifecycle — and once rediscovered and merged,
    every one of them is back in the frontier."""
    store = StateStore(str(tmp_path / "s"))
    sched = CrawlScheduler(spark, store, host_budget=4, salt_k=4, n_buckets=8)
    sched.bootstrap(seed_frontier(spark, n=150))
    sched.run(2)
    log = sched.crawl_order()
    n_seen_before = sched.url_seen().count()

    sched.delete_refetchable(per_mille=1000)  # all truncated+stored fetches
    seen_after = sched.url_seen()
    n_seen_after = seen_after.count()
    full_log = store.read(spark, "fetch_log", __import__(
        "simplecommoncrawlextractor_spark.plans.scheduler", fromlist=["FETCH_LOG_SCHEMA"]
    ).FETCH_LOG_SCHEMA)
    victim_log = full_log.filter(
        (F.col("WARC_IS_TRUNCATED") == "true")
        & (F.col("FETCH_STATUS") == "ADDED_TO_REPOSITORY")
    )
    victims = victim_log.select(F.xxhash64("URL").alias("url_hash")).distinct()
    n_victims = victims.count()
    assert n_victims > 0, "fixture must produce truncated stored fetches"
    assert n_seen_after == n_seen_before - n_victims
    # victims now pass the probe as new
    cand = victims.withColumn("url", F.lit("x"))
    passed = sched.seen.probe(cand, seen_after, sched.blooms())
    assert passed.count() == n_victims
    # non-victims still blocked
    survivors = seen_after.select("url_hash").limit(20).withColumn("url", F.lit("y"))
    assert sched.seen.probe(survivors, seen_after, sched.blooms()).count() == 0
    # a rediscovered victim passes the probe and stays in the resolved
    # frontier (no url_seen part from its first fetch drops it again)
    rediscovered = canonical_candidates(victim_log.select(F.col("URL").alias("url")))
    sched.merge_candidates(sched.seen.probe(rediscovered, seen_after, sched.blooms()))
    back = sched.frontier().join(victims, "url_hash", "left_semi").count()
    assert back == n_victims


def test_streaming_drain(spark, tmp_path):
    """foreachBatch drain: documents dropped into a folder flow into the
    frontier through the same dedup core; second identical drop adds 0."""
    from simplecommoncrawlextractor_spark.sources import interleaved_documents
    from simplecommoncrawlextractor_spark.streaming import (
        stream_documents_to_frontier,
    )

    docs = interleaved_documents(spark, "/root/testdata/sf0.001")
    src = str(tmp_path / "drops")
    docs.limit(40).write.mode("overwrite").parquet(src)

    store = StateStore(str(tmp_path / "state"))
    sched = CrawlScheduler(spark, store, host_budget=4, salt_k=4, n_buckets=8)
    sched.bootstrap(seed_frontier(spark, n=10))
    n0 = sched.frontier().count()

    q = stream_documents_to_frontier(
        spark, sched, src, str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    n1 = sched.frontier().count()
    assert n1 > n0

    # replay the same files through a fresh stream checkpoint: the seen/
    # frontier dedup keeps the frontier stable (idempotent sink)
    q2 = stream_documents_to_frontier(
        spark, sched, src, str(tmp_path / "ckpt2")
    )
    q2.awaitTermination(120)
    assert sched.frontier().count() == n1


def test_streaming_drain_obeys_robots(spark, tmp_path):
    """The streaming path must apply the same robots admission the batch
    path does: candidates whose host/prefix is disallowed never enter the
    frontier via foreachBatch."""
    from pyspark.sql import functions as F

    from simplecommoncrawlextractor_spark.plans.frontier import (
        canonical_candidates,
        harvest_outlinks,
    )
    from simplecommoncrawlextractor_spark.sources import interleaved_documents
    from simplecommoncrawlextractor_spark.streaming import (
        stream_documents_to_frontier,
    )

    docs = interleaved_documents(spark, "/root/testdata/sf0.001").limit(40)
    src = str(tmp_path / "drops")
    docs.write.mode("overwrite").parquet(src)

    # disallow every host that appears in the drop's harvested candidates
    cand = canonical_candidates(harvest_outlinks(spark.read.parquet(src)))
    hosts = [r["host"] for r in cand.select("host").distinct().collect()]
    assert hosts
    banned = hosts[: max(1, len(hosts) // 2)]
    rules = spark.createDataFrame(
        [(h, "/", 0) for h in banned],
        "host string, disallow_prefix string, crawl_delay int",
    )

    store = StateStore(str(tmp_path / "state"))
    sched = CrawlScheduler(
        spark, store, host_budget=4, salt_k=4, n_buckets=8, robots_rules=rules
    )
    sched.bootstrap(seed_frontier(spark, n=5))
    q = stream_documents_to_frontier(spark, sched, src, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    in_frontier = sched.frontier().filter(F.col("host").isin(banned)).count()
    assert in_frontier == 0, f"{in_frontier} disallowed rows entered via streaming"


def test_streaming_drain_auto_robots_covers_new_hosts(spark, tmp_path):
    """With auto_robots and NO pre-seeded rules, hosts first seen in a
    streamed batch get their robots fetched before admission: /private/
    candidates of disallowed hosts never reach the frontier."""
    from pyspark.sql import functions as F

    from simplecommoncrawlextractor_spark.streaming import (
        stream_documents_to_frontier,
    )

    # documents whose text spans carry /private/ outlinks on 16 hosts
    k = F.col("id")
    url = F.concat(
        F.lit("https://sr"), (k % 16).cast("string"),
        F.lit(".example.com/private/"), k.cast("string"),
    )
    docs = spark.range(64).select(
        F.concat(F.lit("doc"), k.cast("string")).alias("doc_id"),
        F.array(
            F.struct(
                F.lit("text").alias("kind"),
                F.concat(F.lit("see "), url).alias("text"),
                F.lit(None).cast("string").alias("media_ref"),
                F.lit(0).alias("offset"),
            )
        ).alias("spans"),
    )
    src = str(tmp_path / "drops")
    docs.write.mode("overwrite").parquet(src)

    store = StateStore(str(tmp_path / "state"))
    sched = CrawlScheduler(spark, store, host_budget=4, salt_k=4, n_buckets=8,
                           auto_robots=True)
    sched.bootstrap(seed_frontier(spark, n=5))
    q = stream_documents_to_frontier(spark, sched, src, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    from simplecommoncrawlextractor_spark.plans.robots import ROBOTS_SCHEMA
    rules = store.read(spark, "robots", ROBOTS_SCHEMA)
    banned = {r["host"] for r in rules.filter(
        (F.col("disallow_prefix") == "/private/") & F.col("host").startswith("sr")
    ).collect()}
    assert banned, "some streamed hosts must publish /private/ disallows"
    bad = sched.frontier().filter(F.col("host").isin(list(banned))).count()
    assert bad == 0, f"{bad} disallowed streamed candidates entered the frontier"
