"""Scheduler end-to-end tests: politeness budget, kill/resume equivalence,
parallelism invariance, and equivalence against an independent pure-Python
reference simulator of the crawl semantics (SURVEY §5.3)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from simplecommoncrawlextractor_spark.plans import CrawlScheduler, StateStore
from simplecommoncrawlextractor_spark.plans.scheduler import METRICS_SCHEMA
from simplecommoncrawlextractor_spark.plans.state import SEEN_SCHEMA
from simplecommoncrawlextractor_spark.sources import seed_frontier


def _run(spark, root, rounds, n_seeds=200, **kw):
    store = StateStore(root)
    sched = CrawlScheduler(spark, store, host_budget=4, salt_k=4, n_buckets=8, **kw)
    sched.bootstrap(seed_frontier(spark, n=n_seeds))
    for _ in range(rounds):
        sched.step()
    return sched


def _order_rows(sched):
    return [tuple(r) for r in sched.crawl_order().collect()]


def test_politeness_budget_enforced(spark, tmp_path):
    sched = _run(spark, str(tmp_path / "s1"), rounds=2)
    log = sched.crawl_order()
    per_host = log.groupBy("round", "host").count()
    assert per_host.filter(F.col("count") > 4).count() == 0
    # the hot host is saturated every round
    hot = log.filter(F.col("host") == "hot.example.com").groupBy("round").count()
    assert all(r["count"] == 4 for r in hot.collect())


def test_no_url_fetched_twice(spark, tmp_path):
    sched = _run(spark, str(tmp_path / "s2"), rounds=3)
    log = sched.crawl_order()
    assert log.count() == log.select("URL").distinct().count()


def test_kill_resume_equivalence(spark, tmp_path):
    """Uninterrupted 4 rounds == 2 rounds + 'kill' + resume for 2 more."""
    a = _run(spark, str(tmp_path / "uninterrupted"), rounds=4)

    b_root = str(tmp_path / "resumed")
    b1 = _run(spark, b_root, rounds=2)
    del b1  # "kill": drop every in-memory handle; state lives on disk only
    b2 = CrawlScheduler(spark, StateStore(b_root), host_budget=4, salt_k=4, n_buckets=8)
    assert b2.round_no() == 2
    b2.run(2)

    assert _order_rows(a) == _order_rows(b2)
    # URL-seen membership identical too
    sa = {r["url_hash"] for r in a.url_seen().collect()}
    sb = {r["url_hash"] for r in b2.url_seen().collect()}
    assert sa == sb


def test_parallelism_invariance(spark, tmp_path):
    """Same crawl at different shuffle parallelism → identical ordering
    (the sandbox proxy for the N vs 4N cluster-size clause: ordering keys
    are data-derived, never partition-derived)."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "2")
        a = _run(spark, str(tmp_path / "p2"), rounds=3)
        rows_a = _order_rows(a)
        spark.conf.set("spark.sql.shuffle.partitions", "16")
        b = _run(spark, str(tmp_path / "p16"), rounds=3)
        rows_b = _order_rows(b)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert rows_a == rows_b


def test_matches_pure_python_reference_simulator(spark, tmp_path):
    """Independent sequential reimplementation of the crawl semantics
    (seen-set + per-host priority queue + deterministic fetch/outlinks) —
    the Spark engine must produce the identical crawl ordering.

    xxhash64 values are oracled from Spark (the simulator tests scheduling
    semantics, not the hash function)."""
    HOST_BUDGET, ROUNDS, N = 4, 3, 120

    def spark_hashes(urls):
        if not urls:
            return {}
        df = spark.createDataFrame([(u,) for u in urls], "url string")
        return {
            r["url"]: r["h"]
            for r in df.select("url", F.xxhash64("url").alias("h")).collect()
        }

    def pmod(h, n):
        return ((h % n) + n) % n

    def base(n, b):
        digits = "0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZ"
        if n == 0:
            return "0"
        out = ""
        while n:
            out = digits[n % b] + out
            n //= b
        return out

    # --- seed frontier (mirror sources.synth.seed_frontier) ---
    seeds = []
    for k in range(N):
        host = "hot.example.com" if k % 10 < 3 else f"seed{k % 997}.example.com"
        seeds.append((f"https://{host}/start/{k}", (k * 37 % 1000) / 1000.0, 1735689600 + k))

    hashes = spark_hashes([u for u, _, _ in seeds])
    frontier = {}
    for url, pr, ts in seeds:
        h = hashes[url]
        host = url.split("//")[1].split("/")[0]
        row = (url, h, host, pr, ts)
        if h not in frontier:
            frontier[h] = row
    seen = set()
    crawl = []  # (round, host, rank, url)

    for rnd in range(1, ROUNDS + 1):
        by_host = {}
        for url, h, host, pr, ts in frontier.values():
            by_host.setdefault(host, []).append((url, h, host, pr, ts))
        scheduled = []
        for host, rows in by_host.items():
            rows.sort(key=lambda r: (-r[3], r[4], r[1]))
            for rank, r in enumerate(rows[:HOST_BUDGET], 1):
                scheduled.append((rnd, host, rank, r[0], r[1]))
        for _, _, _, _, h in scheduled:
            seen.add(h)
            del frontier[h]
        crawl.extend((rnd, host, rank, url) for rnd, host, rank, url, _ in scheduled)

        # children of successful fetches (mirror plans.fetch)
        children = []
        for rnd_, host, rank, url, h in scheduled:
            status = (
                404 if pmod(h, 23) == 0 else 503 if pmod(h, 29) == 0
                else -1 if pmod(h, 31) == 0 else 200
            )
            body_len = 60_000_000 if pmod(h, 101) == 0 else pmod(h, 200_000) + 1000
            if status != 200 or body_len > 50_000_000:
                continue
            fan = pmod(h, 5)
            for i in range(1, fan + 1):
                if pmod(h + i, 5) == 0:
                    chost = "x" + base(pmod(h + i, 499), 16) + ".example.com"
                else:
                    chost = host
                children.append(f"https://{chost}/d/{base(abs(h), 36)}/{i}")
        # canonicalize: lowercase scheme/host (path untouched)
        canon = []
        for u in children:
            scheme, rest = u.split("://", 1)
            chost, _, path = rest.partition("/")
            canon.append(f"{scheme.lower()}://{chost.lower()}/{path}")
        ch = spark_hashes(sorted(set(canon)))
        for u in canon:
            h = ch[u]
            if h in seen or h in frontier:
                continue
            host = u.split("//")[1].split("/")[0]
            pr = pmod(h, 1000) / 1000.0
            ts = 1735689600 + pmod(h, 86400)
            frontier[h] = (u, h, host, pr, ts)

    sched = _run(spark, str(tmp_path / "vs_sim"), rounds=ROUNDS, n_seeds=N)
    got = [tuple(r) for r in sched.crawl_order().collect()]
    want = sorted(crawl, key=lambda r: (r[0], r[1], r[2]))
    assert got == [tuple(map(lambda x: x, w)) for w in want]
    assert {r["url_hash"] for r in sched.url_seen().collect()} == seen


def test_dedup_by_hash_tiebreak_is_partition_order_independent(spark):
    """Canonical twins ('?a=1&b=2' vs '?b=2&a=1') share url_canon AND the
    hash-derived priority/discovered_at — the retained raw 'url' must be
    the lexicographic minimum regardless of input partitioning/order."""
    from simplecommoncrawlextractor_spark.plans.frontier import (
        canonical_candidates,
    )

    twins = [
        ("https://t.example.com/p?b=2&a=1",),
        ("https://t.example.com/p?a=1&b=2",),
    ]
    for order in (twins, twins[::-1]):
        for parts in (1, 8):
            df = spark.createDataFrame(order, "url string").repartition(parts)
            got = canonical_candidates(df).collect()
            assert len(got) == 1
            assert got[0]["url"] == "https://t.example.com/p?a=1&b=2"


def test_fetch_rate_report_rolls_up_partition_lineage(spark, tmp_path):
    """The per-(round, phase) fetch-rate/skew rollup: totals match the
    fetch log and the round's new frontier rows, each partition has one
    row per phase, and skew_ratio >= 1 by construction.
    The step's three phases cover its wall time."""
    import time

    from simplecommoncrawlextractor_spark.plans import CrawlScheduler, StateStore
    from simplecommoncrawlextractor_spark.sources import seed_frontier

    sched = CrawlScheduler(
        spark, StateStore(str(tmp_path / "st")), host_budget=5, salt_k=4,
        n_buckets=16,
    )
    sched.bootstrap(seed_frontier(spark, n=400))
    t = time.time()
    stats = sched.step()
    wall = time.time() - t
    phases = stats["fetch_sec"] + stats["harvest_sec"] + stats["commit_sec"]
    assert 0.9 * wall <= phases <= wall, (phases, wall)
    rep = sched.fetch_rate_report().collect()
    assert rep, "no lineage rows emitted"
    by_phase = {(r["round"], r["phase"]): r for r in rep}
    fetched = sched.crawl_order().count()
    fetch_rows = [r for (rnd, ph), r in by_phase.items() if ph == "fetch"]
    assert fetch_rows and sum(r["rows"] for r in fetch_rows) == fetched
    harvest_rows = [r for (rnd, ph), r in by_phase.items() if ph == "harvest"]
    assert harvest_rows and sum(r["rows"] for r in harvest_rows) == stats["frontier"]
    lineage = [
        (r["round"], r["phase"], r["partition_id"])
        for r in sched.store.read(spark, "metrics", METRICS_SCHEMA).collect()
    ]
    assert len(lineage) == len(set(lineage)), lineage
    for r in rep:
        assert r["skew_ratio"] >= 1.0 - 1e-9
        assert r["rows_per_sec"] > 0


def test_seen_backend_pinned_in_manifest(spark, tmp_path):
    """Bloom is the only URL-seen backend: any other ``seen_backend`` value
    is rejected up front. (A store pinned to another backend by an older
    build is upgraded on open: test_state.py's
    test_old_bucket_dir_layout_resumes_identically.)"""
    import pytest

    root = str(tmp_path / "pin")
    CrawlScheduler(spark, StateStore(root), n_buckets=8).bootstrap(
        seed_frontier(spark, n=20)
    )
    assert CrawlScheduler(spark, StateStore(root), n_buckets=8).round_no() == 0
    for bad in ("cuckoo", "xor"):
        with pytest.raises(ValueError, match="seen_backend"):
            CrawlScheduler(spark, StateStore(root), n_buckets=8, seen_backend=bad)


def test_bootstrap_refuses_a_used_store(spark, tmp_path):
    """bootstrap starts a crawl: on a store that already holds a snapshot
    it raises, and commits nothing over the crawl's tables."""
    import pytest

    store = StateStore(str(tmp_path / "used"))
    sched = CrawlScheduler(spark, store, host_budget=4, salt_k=4, n_buckets=8)
    sched.bootstrap(seed_frontier(spark, n=20))
    before = store.manifest()
    with pytest.raises(ValueError, match="already at snapshot 1"):
        sched.bootstrap(seed_frontier(spark, n=20))
    assert store.manifest() == before and store.snapshots() == [1]


def test_frontier_commit_is_o_round_and_compaction_neutral(spark, tmp_path, monkeypatch):
    """Round-6 merge-on-read frontier: (a) a normal round's frontier commit
    appends ONLY that round's candidate delta — its on-disk part holds
    O(round) rows, not the O(frontier) rewrite the old path wrote, and the
    scheduled hashes the resolved view drops are url_seen's parts newer
    than the frontier base, not a second copy; (b) compaction (parts
    folding past MAX_FRONTIER_PARTS) is order-neutral: a run compacting
    every 2 rounds schedules the byte-identical crawl order of a run that
    never compacts."""
    import os

    # (a) write volume: newest frontier part row count == that round's
    # appended candidates, while the resolved frontier is much larger
    root = str(tmp_path / "wv")
    store = StateStore(root)
    sched = CrawlScheduler(spark, store, host_budget=4, salt_k=4, n_buckets=8)
    sched.bootstrap(seed_frontier(spark, n=2000))
    stats = [sched.step() for _ in range(3)]
    rel = store.manifest()["tables"]["frontier"]
    assert isinstance(rel, list) and len(rel) == 4  # bootstrap base + 3 deltas
    assert set(store.manifest()["tables"]) == {
        "frontier", "url_seen", "blooms", "fetch_log", "metrics",
    }
    for s, part in zip(stats, rel[1:]):
        assert not s["frontier_compacted"]
        part_rows = spark.read.parquet(os.path.join(root, part)).count()
        assert part_rows == s["frontier"]  # the delta, nothing more
    # the bootstrap base part is never rewritten — only re-referenced
    assert rel[0].startswith("frontier/v")
    # url_seen parts after the frontier base = everything ever scheduled
    base_sid = store.part_sids("frontier")[0]
    scheduled = store.read(spark, "url_seen", SEEN_SCHEMA, after=base_sid).count()
    assert scheduled == sum(s["fetched"] for s in stats) > 0

    # (b) compaction neutrality (+ resume across a compaction boundary)
    monkeypatch.setattr(CrawlScheduler, "MAX_FRONTIER_PARTS", 2)
    compacted = _run(spark, str(tmp_path / "cmp"), rounds=5, n_seeds=300)
    assert any(
        isinstance(store_rel, str)
        for store_rel in [compacted.store.manifest()["tables"]["frontier"]]
    ) or len(compacted.store.manifest()["tables"]["frontier"]) <= 2
    monkeypatch.setattr(CrawlScheduler, "MAX_FRONTIER_PARTS", 100)
    plain = _run(spark, str(tmp_path / "plain"), rounds=5, n_seeds=300)
    assert _order_rows(compacted) == _order_rows(plain)


def test_rounds_run_a_fixed_job_count_and_compile_once(spark, tmp_path):
    """A round runs the same jobs whatever its number, and no more than
    its answer needs; a repeated crawl compiles no generated class, as no
    plan inlines a value that differs between the two crawls, such as a
    phase's wall time in the metrics rows."""
    import uuid

    sc = spark.sparkContext
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    groups, compiled = [], []
    for crawl in range(2):
        sched = CrawlScheduler(
            spark, StateStore(str(tmp_path / f"c{crawl}")), host_budget=4, salt_k=4, n_buckets=8
        )
        sched.bootstrap(seed_frontier(spark, n=200))
        for rnd in range(3):
            groups.append(f"step-{crawl}-{rnd}-{uuid.uuid4().hex}")
            c = compiles.getCount()
            sc.setJobGroup(groups[-1], groups[-1])
            try:
                sched.step()
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            compiled.append(compiles.getCount() - c)
    # the status store fills from the listener bus: drain it first
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = [len(sc.statusTracker().getJobIdsForGroup(g)) for g in groups]
    assert jobs[1] == jobs[2] == jobs[4] == jobs[5], jobs
    assert jobs[1] <= 23, jobs
    assert compiled[3:] == [0, 0, 0], compiled


@pytest.mark.parametrize("auto_robots", [False, True])
def test_failed_round_releases_its_cached_frames(spark, tmp_path, monkeypatch, auto_robots):
    """A round that raises leaves nothing in the session's cache: with
    ``auto_robots`` the first commit to fail is ``refresh_robots``', which
    caches the fresh hosts and their rules; without it, the round's own,
    after the fetched rows and the frontier delta are cached."""
    store = StateStore(str(tmp_path / "s"))
    sched = CrawlScheduler(
        spark, store, host_budget=4, salt_k=4, n_buckets=8, auto_robots=auto_robots
    )
    sched.bootstrap(seed_frontier(spark, n=200))

    def fail(*args, **kwargs):
        raise ValueError("commit failed")

    monkeypatch.setattr(store, "commit", fail)
    spark.catalog.clearCache()
    with pytest.raises(ValueError, match="commit failed"):
        sched.step()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
