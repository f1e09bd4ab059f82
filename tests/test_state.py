"""Bloom URL-seen set + snapshot store unit tests."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from simplecommoncrawlextractor_spark.plans.state import (
    BITS_PER_ITEM,
    BLOOM_SCHEMA,
    MIN_BITS,
    SEEN_SCHEMA,
    BloomSeenSet,
    StateStore,
    N_HASHES,
)


# numpy reference for the blob format: the Spark build, merge and probe
# must agree with it byte for byte
def _ref_positions(hashes, n_bits):
    """Double-hashing probe positions: h1 + i*h2 mod n_bits (uint64 math)."""
    h = np.asarray(hashes, dtype=np.int64).astype(np.uint64)
    h1 = h & np.uint64(0xFFFFFFFF)
    h2 = (h >> np.uint64(32)) | np.uint64(1)
    i = np.arange(N_HASHES, dtype=np.uint64)[:, None]
    return ((h1[None, :] + i * h2[None, :]) % np.uint64(n_bits)).astype(np.int64)


def _ref_bits_for(n_items):
    return max(MIN_BITS, 1 << int(np.ceil(np.log2(max(1, n_items) * BITS_PER_ITEM))))


def _ref_blob(hashes, n_bits, bitmap=None):
    """OR ``hashes`` into ``bitmap`` (a zero blob when None)."""
    bm = np.zeros(n_bits // 8, np.uint8) if bitmap is None else np.frombuffer(bitmap, np.uint8).copy()
    if len(hashes):
        pos = _ref_positions(hashes, n_bits).ravel()
        np.bitwise_or.at(bm, pos // 8, (1 << (pos % 8)).astype(np.uint8))
    return bm.tobytes()


def _ref_test(hashes, bitmap, n_bits):
    pos = _ref_positions(hashes, n_bits)
    bm = np.frombuffer(bitmap, np.uint8)
    return ((bm[pos // 8] >> (pos % 8).astype(np.uint8)) & 1).all(axis=0).astype(bool)


def _ref_merge(rows, new_hashes, n_buckets):
    """numpy merge of blob rows (tuples as ``_bloom_rows`` gives) with new
    hashes, in ``_bloom_rows`` form."""
    out = {r[0]: r for r in rows}
    by_bucket = {}
    for h in new_hashes:
        by_bucket.setdefault(h % n_buckets, []).append(h)
    for b, hs in by_bucket.items():
        if b in out:
            _, bm, n_bits, n_hashes, n_items = out[b]
            out[b] = (b, _ref_blob(hs, n_bits, bm), n_bits, n_hashes, n_items + len(hs))
        else:
            n_bits = _ref_bits_for(len(hs))
            out[b] = (b, _ref_blob(hs, n_bits), n_bits, N_HASHES, len(hs))
    return sorted(out.values())


def test_bloom_blob_no_false_negatives(spark):
    """The Spark build and probe: every built hash probes as a suspect, and
    fresh hashes pass as bloom-negative at a sane false-positive rate."""
    rng = np.random.default_rng(7)
    hashes = rng.integers(-(2**62), 2**62, size=5000, dtype=np.int64)
    probe = rng.integers(-(2**62), 2**62, size=20000, dtype=np.int64)
    fresh = probe[~np.isin(probe, hashes)]
    seen = BloomSeenSet(n_buckets=1)

    def frame(hs):
        return spark.createDataFrame([(int(h),) for h in hs], "url_hash long")

    seen_rows = seen.bucketize(frame(hashes)).select("bucket", "url_hash")
    blooms = seen.build_blooms(seen_rows)
    # a bloom positive is confirmed against the exact rows and dropped, so
    # a false negative would survive the probe
    cand = frame(hashes).selectExpr("url_hash", "cast(url_hash as string) as url")
    assert seen.probe(cand, seen_rows, blooms).count() == 0
    # with the fresh hashes themselves as exact rows, exactly the bloom
    # negatives survive: false-positive rate sane (<3% at 10 bits/item,
    # 7 hashes)
    fresh_rows = seen.bucketize(frame(fresh)).select("bucket", "url_hash")
    fresh_cand = frame(fresh).selectExpr("url_hash", "cast(url_hash as string) as url")
    fp = 1 - seen.probe(fresh_cand, fresh_rows, blooms).count() / len(fresh)
    assert fp < 0.03, fp


def test_bloom_probe_exact_semantics(spark):
    seen = BloomSeenSet(n_buckets=8)
    seen_rows = seen.bucketize(
        spark.range(0, 500).selectExpr("xxhash64(cast(id as string)) as url_hash")
    ).select("bucket", "url_hash")
    blooms = seen.build_blooms(seen_rows)
    cand = spark.range(400, 700).selectExpr(
        "xxhash64(cast(id as string)) as url_hash", "cast(id as string) as url"
    )
    out = seen.probe(cand, seen_rows, blooms)
    got = sorted(r["url"] for r in out.collect())
    assert got == [str(i) for i in range(500, 700)]  # exactly the unseen tail


def test_bloom_merge(spark):
    seen = BloomSeenSet(n_buckets=4)
    first = seen.bucketize(
        spark.range(0, 100).selectExpr("xxhash64(cast(id as string)) as url_hash")
    ).select("bucket", "url_hash")
    blooms = seen.build_blooms(first)
    second = spark.range(100, 200).selectExpr("xxhash64(cast(id as string)) as url_hash")
    merged = seen.merge_blooms(blooms, second)
    all_rows = seen.bucketize(
        spark.range(0, 200).selectExpr("xxhash64(cast(id as string)) as url_hash")
    ).select("bucket", "url_hash")
    # nothing from 0..200 may pass the probe as new
    cand = spark.range(0, 200).selectExpr(
        "xxhash64(cast(id as string)) as url_hash", "cast(id as string) as url"
    )
    assert seen.probe(cand, all_rows, merged).count() == 0


def test_statestore_atomic_snapshots(spark, tmp_path):
    store = StateStore(str(tmp_path / "state"))
    assert store.snapshot_id() == 0
    df1 = spark.range(10).selectExpr("id", "id * 2 as v")
    sid = store.commit({"t": df1})
    assert sid == 1
    df2 = spark.range(5).selectExpr("id", "id * 3 as v")
    store.commit({"t": df2}, meta={"round": 1})
    assert store.snapshot_id() == 2
    got = store.read(spark, "t", "id long, v long")
    assert got.count() == 5
    assert store.manifest()["meta"]["round"] == 1
    # a commit keeps every table it does not name, without rewriting it
    store.commit({"u": df1})
    assert store.manifest()["tables"]["t"] == "t/v2"
    assert store.read(spark, "t", "id long, v long").count() == 5
    assert store.read(spark, "u", "id long, v long").count() == 10
    # missing table → typed empty frame
    assert store.read(spark, "nope", "a int").count() == 0


def test_statestore_torn_commit_invisible(spark, tmp_path):
    """A crash before the manifest swap leaves the old snapshot intact."""
    store = StateStore(str(tmp_path / "state"))
    store.commit({"t": spark.range(3)})
    # simulate a half-written new version dir without a manifest swap
    os.makedirs(os.path.join(store.root, "t", "v99"), exist_ok=True)
    assert store.snapshot_id() == 1
    assert store.read(spark, "t", "id long").count() == 3


def test_rebuild_overfull_blooms(spark):
    """A bucket seeded tiny then flooded past its bit budget is rebuilt by
    merge_delta — FP rate returns to design range."""
    seen = BloomSeenSet(n_buckets=2)
    first = seen.bucketize(
        spark.range(0, 50).selectExpr("xxhash64(cast(id as string)) as url_hash")
    ).select("bucket", "url_hash")
    blooms = seen.build_blooms(first)  # sized for ~50 items (MIN_BITS floor)
    flood = spark.range(50, 30050).selectExpr(
        "xxhash64(cast(id as string)) as url_hash"
    )
    merged = seen.merge_blooms(blooms, flood)
    all_rows = seen.bucketize(
        spark.range(0, 30050).selectExpr("xxhash64(cast(id as string)) as url_hash")
    ).select("bucket", "url_hash")
    # before rebuild: blobs undersized for 15k items/bucket at MIN_BITS=8Kibit
    over = merged.filter(F.col("n_items") * 10 > F.col("n_bits")).count()
    assert over == 2
    rebuilt = seen.merge_delta(blooms, flood, all_rows)
    assert rebuilt.filter(F.col("n_items") * 10 > F.col("n_bits")).count() == 0
    # correctness preserved: nothing seen may pass the probe
    cand = spark.range(0, 30050).selectExpr(
        "xxhash64(cast(id as string)) as url_hash", "cast(id as string) as url"
    )
    assert seen.probe(cand, all_rows, rebuilt).count() == 0


def _bloom_rows(df):
    """Blob rows as plain tuples, bucket-ordered, bitmap as bytes."""
    return sorted(
        (r["bucket"], bytes(r["bitmap"]), r["n_bits"], r["n_hashes"], r["n_items"])
        for r in df.collect()
    )


def _hashes(spark, lo, hi, n_buckets=None, bucket=None):
    df = spark.range(lo, hi).selectExpr("xxhash64(cast(id as string)) as url_hash")
    if bucket is not None:
        df = df.filter(F.pmod("url_hash", F.lit(n_buckets)) == bucket)
    return df


@pytest.mark.parametrize(
    "n_buckets, n, n_bits",
    [(8, 400, 8192), (4, 4800, 16384), (2, 10000, 65536)],
)
def test_blooms_equal_the_numpy_reference(spark, n_buckets, n, n_bits):
    """build_blooms, merge_blooms (into a table missing every odd bucket)
    and merge_delta write the reference's blobs byte for byte, below one
    chunk and across several, and the probe's bloom negatives are the
    reference's."""
    seen = BloomSeenSet(n_buckets=n_buckets)
    first = seen.bucketize(_hashes(spark, 0, n)).select("bucket", "url_hash")
    built = _bloom_rows(seen.build_blooms(first))
    assert built == _ref_merge([], [r.url_hash for r in first.collect()], n_buckets)
    assert {r[2] for r in built} == {n_bits}

    half = [r for r in built if r[0] % 2 == 0]
    blooms = spark.createDataFrame(half, BLOOM_SCHEMA)
    new = _hashes(spark, n, n + n // 4)
    ref = _ref_merge(half, [r.url_hash for r in new.collect()], n_buckets)
    assert _bloom_rows(seen.merge_blooms(blooms, new)) == ref
    after = first.unionByName(seen.bucketize(new).select("bucket", "url_hash"))
    assert _bloom_rows(seen.merge_delta(blooms, new, after)) == ref

    # with the candidates as exact rows, exactly the bloom negatives
    # survive the probe
    cand = _hashes(spark, n // 2, n + 2000)
    cand_rows = seen.bucketize(cand).select("bucket", "url_hash")
    got = {r.url_hash for r in seen.probe(cand, cand_rows, spark.createDataFrame(ref, BLOOM_SCHEMA)).collect()}
    blobs = {r[0]: r for r in ref}
    want = {
        h for h in (r.url_hash for r in cand.collect())
        if not _ref_test([h], blobs[h % n_buckets][1], blobs[h % n_buckets][2])[0]
    }
    assert got == want and 0 < len(want) < 2000 + n // 2


def test_merge_delta_keeps_both_branches(spark):
    """merge_delta materializes the merge once and rebuilds only when a
    bucket overflowed: without an overflow it returns merge_blooms' rows,
    with one the overfull bucket is the reference's build from the exact
    rows and every other bucket is merged."""
    seen = BloomSeenSet(n_buckets=4)
    first = seen.bucketize(_hashes(spark, 0, 1000)).select("bucket", "url_hash")
    blooms = seen.build_blooms(first)
    before = {r[0]: r for r in _bloom_rows(blooms)}

    # no bucket overflows: the result is merge_blooms' rows, byte for byte
    new = _hashes(spark, 1000, 1100)
    after = seen.bucketize(_hashes(spark, 0, 1100)).select("bucket", "url_hash")
    got = _bloom_rows(seen.merge_delta(blooms, new, after))
    assert got == _bloom_rows(seen.merge_blooms(blooms, new))
    assert all(r[2] == before[r[0]][2] for r in got)

    # bucket 0 floods past its bit budget, bucket 1 gets a few rows
    new = _hashes(spark, 1100, 9000, 4, 0).unionByName(
        _hashes(spark, 9000, 9100, 4, 1)
    )
    after = first.unionByName(seen.bucketize(new).select("bucket", "url_hash"))
    merged = seen.merge_blooms(blooms, new)
    got = _bloom_rows(seen.merge_delta(blooms, new, after))
    by_bucket = {r[0]: r for r in got}
    assert by_bucket[0][2] > before[0][2]
    assert by_bucket[0][2] >= by_bucket[0][4] * 10
    rows0 = [r.url_hash for r in after.where("bucket = 0").collect()]
    assert by_bucket[0] == _ref_merge([], rows0, 4)[0]
    untouched = {r[0]: r for r in _bloom_rows(merged) if r[0] != 0}
    assert {b: r for b, r in by_bucket.items() if b != 0} == untouched
    assert by_bucket[1][4] > before[1][4]
    assert by_bucket[2] == before[2] and by_bucket[3] == before[3]


def _settle(spark, tag):
    """Wait until the status store has seen every job submitted so far:
    listener events arrive in order, so once a marker job shows up, any
    earlier job would have too."""
    import time

    sc = spark.sparkContext
    sc.setJobGroup(tag, tag)
    spark.range(1).count()
    deadline = time.time() + 30
    while not sc.statusTracker().getJobIdsForGroup(tag):
        assert time.time() < deadline, "status store never saw the marker job"
        time.sleep(0.05)


def test_empty_state_costs_no_job(spark, tmp_path):
    """Empty state frames live in the JVM: reading a missing table,
    isEmpty() on it, and the robots lookup of a store without a robots
    table run no Spark job; count() runs only its final one-task
    aggregate, never a task that scans the frame."""
    import uuid

    from pyspark.sql.types import StructType

    from simplecommoncrawlextractor_spark.plans import CrawlScheduler
    from simplecommoncrawlextractor_spark.sources import seed_frontier

    sc = spark.sparkContext
    store = StateStore(str(tmp_path / "empty_state"))
    sched = CrawlScheduler(
        spark, StateStore(str(tmp_path / "boot")), host_budget=4, salt_k=4, n_buckets=8
    )
    sched.bootstrap(seed_frontier(spark, n=20))
    _settle(spark, f"settle-{uuid.uuid4().hex}")

    group = f"empty-state-{uuid.uuid4().hex}"
    count_group = f"empty-count-{uuid.uuid4().hex}"
    try:
        sc.setJobGroup(group, "empty state reads")
        frames = {
            SEEN_SCHEMA: store.read(spark, "url_seen", SEEN_SCHEMA),
            BLOOM_SCHEMA: store.read(spark, "blooms", BLOOM_SCHEMA),
        }
        for df in frames.values():
            assert df.isEmpty()
        assert sched._effective_rules() is None
        _settle(spark, f"settle-{uuid.uuid4().hex}")
        assert sc.statusTracker().getJobIdsForGroup(group) == []

        # a global count over an empty LocalRelation still plans one
        # final aggregate task; the scan stage below it has no tasks
        sc.setJobGroup(count_group, "empty state counts")
        for df in frames.values():
            assert df.count() == 0
        _settle(spark, f"settle-{uuid.uuid4().hex}")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # Read each job's own task total: the status store drops a stage that
    # never ran a task first once the session holds spark.ui.retainedStages
    # stages, so per-stage lookups can come back empty late in the suite.
    status = sc._jsc.sc().statusStore()
    tasks = [status.job(j).numTasks() for j in sc.statusTracker().getJobIdsForGroup(count_group)]
    assert sum(tasks) <= len(frames), tasks

    for i, (schema, df) in enumerate(frames.items()):
        declared = StructType.fromDDL(schema)
        assert [(f.name, f.dataType) for f in df.schema.fields] == [
            (f.name, f.dataType) for f in declared.fields
        ]
        casts = [
            f"cast(cast(id as string) as {f.dataType.simpleString()}) as {f.name}"
            for f in declared.fields
        ]
        path = str(tmp_path / f"part{i}")
        spark.range(3).selectExpr(*casts).write.parquet(path)
        union = spark.read.parquet(path).unionByName(df)
        assert union.schema == spark.read.parquet(path).schema
        assert union.count() == 3


def test_bloom_delta_commit_leaves_untouched_buckets_alone(spark, tmp_path):
    """A round writes the bloom blobs as one plain table: buckets that
    received no new hash keep their blob row byte for byte, touched
    buckets carry the new hashes, and probing every seen hash afterwards
    returns nothing. 512 buckets leave most of a ~100-fetch round's
    buckets untouched."""
    from simplecommoncrawlextractor_spark.plans import CrawlScheduler
    from simplecommoncrawlextractor_spark.sources import seed_frontier

    store = StateStore(str(tmp_path / "delta"))
    sched = CrawlScheduler(spark, store, host_budget=4, salt_k=4, n_buckets=512)
    sched.bootstrap(seed_frontier(spark, n=120))
    sched.step()
    before = {r[0]: r for r in _bloom_rows(sched.blooms())}
    seen1 = {r["url_hash"] for r in sched.url_seen().collect()}

    sched.step()
    assert store.manifest()["tables"]["blooms"] == "blooms/v3"
    after = {r[0]: r for r in _bloom_rows(sched.blooms())}
    new = {r["url_hash"] for r in sched.url_seen().collect()} - seen1
    touched = {h % 512 for h in new}
    assert new and len(touched) < 512
    assert set(after) == set(before) | touched
    for b, row in after.items():
        if b in touched:
            assert row[4] == before.get(b, (0,) * 5)[4] + sum(h % 512 == b for h in new)
        else:
            assert row == before[b], b
    seen_rows = sched.url_seen()
    cand = seen_rows.selectExpr("url_hash", "cast(url_hash as string) as url")
    assert sched.seen.probe(cand, seen_rows, sched.blooms()).count() == 0


def test_upsert_empty_delta_carries_forward(spark, tmp_path):
    """A round that schedules nothing brings no new hash: its commit
    still writes a blooms version, holding every bucket's blob
    unchanged."""
    from simplecommoncrawlextractor_spark.plans import CrawlScheduler
    from simplecommoncrawlextractor_spark.sources import seed_frontier

    store = StateStore(str(tmp_path / "empty"))
    sched = CrawlScheduler(spark, store, host_budget=4, salt_k=4, n_buckets=4)
    sched.bootstrap(seed_frontier(spark, n=20))
    sched.step()
    before = _bloom_rows(sched.blooms())
    assert len(before) == 4
    sched.host_budget = 0
    assert sched.step()["fetched"] == 0
    assert store.manifest()["tables"]["blooms"] == "blooms/v3"
    assert _bloom_rows(sched.blooms()) == before


def test_snapshot_time_travel_and_rollback_replay(spark, tmp_path):
    """Iceberg-style snapshot semantics: every commit leaves an immutable
    manifest-{sid}.json; read(..., snapshot=N) time-travels; rollback(N) +
    replaying the remaining rounds reproduces the ORIGINAL crawl order
    byte-for-byte (everything downstream is deterministic)."""
    from simplecommoncrawlextractor_spark.plans import CrawlScheduler
    from simplecommoncrawlextractor_spark.plans.scheduler import FETCH_LOG_SCHEMA
    from simplecommoncrawlextractor_spark.sources import seed_frontier

    root = str(tmp_path / "tt")
    store = StateStore(root)
    sched = CrawlScheduler(spark, store, host_budget=4, salt_k=4, n_buckets=8)
    sched.bootstrap(seed_frontier(spark, n=150))
    frontiers = {}
    for _ in range(3):
        sched.step()
        sid = store.snapshot_id()
        frontiers[sid] = sched.frontier().count()
    original_order = [tuple(r) for r in sched.crawl_order().collect()]
    sids = store.snapshots()
    assert sids == sorted(set(frontiers) | {1})  # bootstrap + 3 steps

    # time travel: historical RESOLVED frontier counts readable without
    # rollback (the raw parts are merge-on-read storage since round 6 —
    # candidate appends, resolved against url_seen at read — so the
    # resolved view is the frontier, not the raw part union)
    mid = sorted(frontiers)[0]
    assert sched.frontier(snapshot=mid).count() == frontiers[mid]
    # historical fetch_log has only the rounds up to that snapshot
    assert (
        store.read(spark, "fetch_log", FETCH_LOG_SCHEMA, snapshot=mid)
        .select("round").distinct().count() == 1
    )

    # rollback to after round 1, replay rounds 2-3 → identical crawl order
    store.rollback(mid)
    sched2 = CrawlScheduler(spark, store, host_budget=4, salt_k=4, n_buckets=8)
    sched2.step()
    sched2.step()
    replayed = [tuple(r) for r in sched2.crawl_order().collect()]
    assert replayed == original_order


def test_rollback_commit_never_reuses_abandoned_sids(spark, tmp_path):
    """Commits after a rollback allocate sids ABOVE every retained
    snapshot: reusing an abandoned lineage's sid would overwrite its data
    dirs while manifest-{sid}.json still points at them, so a concurrent
    time-travel read could observe torn parquet."""
    store = StateStore(str(tmp_path / "ns"))
    s1 = store.commit({"t": spark.range(3).select(F.col("id").alias("x"))})
    s2 = store.commit({"t": spark.range(5).select(F.col("id").alias("x"))})
    store.rollback(s1)
    s3 = store.commit({"t": spark.range(7).select(F.col("id").alias("x"))})
    assert s3 > s2, f"sid {s3} reuses/undershoots the abandoned lineage (max was {s2})"
    # every snapshot — including the abandoned branch — stays readable
    assert store.read(spark, "t", "x long", snapshot=s1).count() == 3
    assert store.read(spark, "t", "x long", snapshot=s2).count() == 5
    assert store.read(spark, "t", "x long", snapshot=s3).count() == 7
    assert store.read(spark, "t", "x long").count() == 7


def test_expire_snapshots_retention_and_orphan_gc(spark, tmp_path):
    """Iceberg expire_snapshots semantics: old manifests drop, the
    current snapshot always survives, append deltas shared by the
    current manifest are never GC'd, and unreferenced rewrite versions
    are deleted from disk."""
    import os

    from simplecommoncrawlextractor_spark.plans import CrawlScheduler
    from simplecommoncrawlextractor_spark.plans.scheduler import FETCH_LOG_SCHEMA
    from simplecommoncrawlextractor_spark.sources import seed_frontier

    root = str(tmp_path / "exp")
    store = StateStore(root)
    sched = CrawlScheduler(spark, store, host_budget=4, salt_k=4, n_buckets=8)
    # force a frontier compaction inside the 3 rounds so superseded parts
    # exist for the GC to sweep (merge-on-read appends are otherwise all
    # referenced by the current manifest — that is the point of them)
    sched.MAX_FRONTIER_PARTS = 2
    sched.bootstrap(seed_frontier(spark, n=150))
    for _ in range(3):
        sched.step()
    order_before = [tuple(r) for r in sched.crawl_order().collect()]
    sids = store.snapshots()
    assert len(sids) == 4
    old_frontiers = {
        p for p in os.listdir(os.path.join(root, "frontier"))
    }
    # bootstrap base, one delta, the compacted base, one delta
    assert len(old_frontiers) == 4

    # orphan_grace_sec=0: this test's parts are seconds old, and the
    # point here is retention semantics, not the in-flight-commit guard
    # (covered by test_expire_snapshots_orphan_grace below)
    out = store.expire_snapshots(keep_last=1, orphan_grace_sec=0)
    assert out["expired"] == sids[:-1]
    assert store.snapshots() == [sids[-1]]
    # current state unaffected — crawl order identical
    assert [tuple(r) for r in sched.crawl_order().collect()] == order_before
    # time travel to an expired snapshot now raises
    with pytest.raises(FileNotFoundError):
        store.manifest(sids[0])
    # pre-compaction frontier history physically gone; the compacted base
    # + the post-compaction delta the current manifest references remain
    left = set(os.listdir(os.path.join(root, "frontier")))
    assert len(left) == 2 and left < old_frontiers
    # append deltas from EVERY round survive (current manifest unions them)
    assert (
        store.read(spark, "fetch_log", FETCH_LOG_SCHEMA)
        .select("round").distinct().count() == 3
    )
    # removed rels all named like table/v{sid} and no longer on disk
    assert out["removed"] and all(
        not os.path.exists(os.path.join(root, rel)) for rel in out["removed"]
    )


def test_expire_snapshots_respects_rollback_current(spark, tmp_path):
    """After rollback the CURRENT snapshot is an old sid; expiry must
    retain it (and its data) even with keep_last=1 pointing elsewhere."""
    from simplecommoncrawlextractor_spark.plans import CrawlScheduler
    from simplecommoncrawlextractor_spark.sources import seed_frontier

    root = str(tmp_path / "rbx")
    store = StateStore(root)
    sched = CrawlScheduler(spark, store, host_budget=4, salt_k=4, n_buckets=8)
    sched.bootstrap(seed_frontier(spark, n=120))
    sched.step()
    mid = store.snapshot_id()
    sched.step()
    last = store.snapshot_id()
    store.rollback(mid)
    out = store.expire_snapshots(keep_last=1)
    # keep_last=1 keeps the newest sid; the rolled-back current also stays
    assert set(store.snapshots()) == {mid, last}
    assert mid not in out["expired"]
    # the rolled-back state still reads and can continue crawling
    sched2 = CrawlScheduler(spark, store, host_budget=4, salt_k=4, n_buckets=8)
    assert sched2.round_no() == 1
    sched2.step()
    assert sched2.crawl_order().count() > 0


def test_expire_snapshots_older_than_retains_recent(spark, tmp_path):
    """older_than keeps every snapshot committed at/after the cutoff even
    beyond keep_last."""
    import pyspark.sql.functions as SF

    store = StateStore(str(tmp_path / "ot"))
    df = spark.range(3).select(
        SF.col("id").cast("int").alias("bucket"), SF.col("id").alias("url_hash")
    )
    for _ in range(3):
        store.commit(tables={"t": df})
    cutoff = store.manifest(store.snapshots()[1])["meta"]["committed_at"]
    out = store.expire_snapshots(keep_last=1, older_than=cutoff)
    assert out["expired"] == [store.snapshots()[0] - 1] or out["expired"] == []
    assert set(store.snapshots()) >= {2, 3}


def test_expire_snapshots_orphan_grace(spark, tmp_path):
    """A fresh unreferenced part dir must survive the default-grace sweep
    (a concurrent commit writes parts BEFORE publishing its manifest —
    zero grace would delete the in-flight snapshot's data), and fall to
    a zero-grace sweep; aging it past the grace makes the default sweep
    take it too."""
    import os

    import pyspark.sql.functions as SF

    root = str(tmp_path / "gr")
    store = StateStore(root)
    df = spark.range(3).select(
        SF.col("id").cast("int").alias("bucket"), SF.col("id").alias("url_hash")
    )
    store.commit(tables={"t": df})
    # simulate the window inside a concurrent commit: parts on disk,
    # manifest not yet published
    inflight = os.path.join(root, "t", "v999")
    os.makedirs(inflight)
    with open(os.path.join(inflight, "part-0.parquet"), "wb") as f:
        f.write(b"x")
    out = store.expire_snapshots(keep_last=1)  # default grace
    assert "t/v999" not in out["removed"] and os.path.isdir(inflight)
    # age it past the grace: now it is a true orphan. The sweep uses the
    # NEWEST mtime under the whole part tree (a partitioned part's
    # subdirectory writes don't touch the top directory — ADVICE r5), so
    # an abandoned part means every entry stopped changing: age them all.
    old = 1.0
    for walk_root, dirs, files in os.walk(inflight):
        for nm in dirs + files:
            os.utime(os.path.join(walk_root, nm), (old, old))
    os.utime(inflight, (old, old))
    out2 = store.expire_snapshots(keep_last=1)
    assert "t/v999" in out2["removed"] and not os.path.exists(inflight)
    # a part whose top dir looks old but whose files are still being
    # written (large partitioned commit) must SURVIVE the default sweep
    os.makedirs(inflight)
    sub = os.path.join(inflight, "host=a")
    os.makedirs(sub)
    with open(os.path.join(sub, "part-0.parquet"), "wb") as f:
        f.write(b"x")
    os.utime(inflight, (old, old))  # top stale, file fresh
    out3 = store.expire_snapshots(keep_last=1)
    assert "t/v999" not in out3["removed"] and os.path.isdir(inflight)
    import shutil as _sh

    _sh.rmtree(inflight)
    # zero grace also sweeps a fresh orphan
    os.makedirs(inflight)
    out3 = store.expire_snapshots(keep_last=1, orphan_grace_sec=0)
    assert "t/v999" in out3["removed"] and not os.path.exists(inflight)


def test_metrics_rows_carry_the_committed_sid_after_rollback(spark, tmp_path):
    """After a rollback the next commit allocates a sid above every
    retained snapshot, not current+1; the round's ``metrics`` rows must
    carry that same sid, the one ``step`` returns."""
    from simplecommoncrawlextractor_spark.plans import CrawlScheduler
    from simplecommoncrawlextractor_spark.plans.scheduler import METRICS_SCHEMA
    from simplecommoncrawlextractor_spark.sources import seed_frontier

    store = StateStore(str(tmp_path / "rb"))
    sched = CrawlScheduler(spark, store, host_budget=4, salt_k=4, n_buckets=8)
    sched.bootstrap(seed_frontier(spark, n=120))
    first = sched.step()["snapshot"]
    sched.step()
    store.rollback(first)
    assert store.next_snapshot_id() > store.snapshot_id() + 1
    stats = sched.step()
    assert stats["snapshot"] == store.snapshot_id()
    sids = {
        r["snapshot"]
        for r in store.read(spark, "metrics", METRICS_SCHEMA)
        .filter(F.col("round") == stats["round"])
        .select("snapshot")
        .distinct()
        .collect()
    }
    assert sids == {stats["snapshot"]}


def _crawl_digest(sched) -> str:
    import hashlib

    h = hashlib.sha256()
    for r in sched.crawl_order().collect():
        h.update(("\t".join(map(str, r)) + "\n").encode())
    return h.hexdigest()


def test_state_parts_are_flat_key_sorted_files(spark, tmp_path):
    """No part is split into ``bucket=N`` directories: every part directory
    holds at most one parquet file per write task (shuffle partitions),
    through a bootstrap and two rounds."""
    from simplecommoncrawlextractor_spark.plans import CrawlScheduler
    from simplecommoncrawlextractor_spark.sources import seed_frontier

    root = str(tmp_path / "flat")
    store = StateStore(root)
    sched = CrawlScheduler(spark, store, host_budget=4, salt_k=4, n_buckets=8)
    sched.bootstrap(seed_frontier(spark, n=200))
    sched.step()
    sched.step()
    assert store.manifest()["tables"]["blooms"] == "blooms/v3"

    n_tasks = int(spark.conf.get("spark.sql.shuffle.partitions"))
    for dirpath, dirs, files in os.walk(root):
        assert not [d for d in dirs if "=" in d], dirpath
        data = [f for f in files if f.endswith(".parquet")]
        assert len(data) <= n_tasks, (dirpath, len(data))


def _to_bucket_dirs(spark, part_dir):
    """Rewrite one part in place in the ``bucket=N`` directory layout that
    stores written before flat parts hold."""
    import shutil

    tmp = part_dir + ".old"
    spark.read.parquet(part_dir).write.partitionBy("bucket").parquet(tmp)
    shutil.rmtree(part_dir)
    os.rename(tmp, part_dir)


def _edit_manifests(root, edit):
    """Apply ``edit`` to the current manifest and every snapshot-log copy."""
    import json

    for fn in os.listdir(root):
        if fn.startswith("manifest") and fn.endswith(".json"):
            path = os.path.join(root, fn)
            with open(path) as f:
                m = json.load(f)
            edit(m)
            with open(path, "w") as f:
                json.dump(m, f, indent=1)


def _to_upsert_entry(spark, root):
    """Rewrite the bloom blobs of the current snapshot the way builds that
    kept an upsert table stored them: a ``u{sid}`` part named by a keyed
    ``{"kind": "upsert", ...}`` entry, in both the current manifest and
    the snapshot log. Returns the part's relative path."""
    sid = StateStore(root).snapshot_id()
    old = f"blooms/u{sid}"
    os.rename(os.path.join(root, f"blooms/v{sid}"), os.path.join(root, old))
    buckets = spark.read.parquet(os.path.join(root, old)).select("bucket").collect()

    def edit(m):
        if m["snapshot"] == sid:
            m["tables"]["blooms"] = {
                "kind": "upsert",
                "key": "bucket",
                "parts": [old],
                "owners": {str(r[0]): 0 for r in buckets},
            }

    _edit_manifests(root, edit)
    return old


def test_old_bucket_dir_layout_resumes_identically(spark, tmp_path):
    """A store written before manifests named their format: a url_seen
    part in the ``bucket=N`` layout, a keyed upsert blooms entry, a
    ``frontier_tombs`` entry, a ``seen_backend`` pin and no ``format``.
    A scheduler that opens it upgrades it in one commit, to a manifest at
    ``FORMAT`` that names only the crawl tables, and resumes to the crawl
    order and frontier of a store that was never rewritten. Orphan GC
    keeps the old parts while a retained manifest names them and sweeps
    them after."""
    from simplecommoncrawlextractor_spark.plans import CrawlScheduler
    from simplecommoncrawlextractor_spark.plans.state import FORMAT
    from simplecommoncrawlextractor_spark.sources import seed_frontier

    kw = dict(host_budget=4, salt_k=4, n_buckets=8)

    def crawl(root, rewrite):
        store = StateStore(root)
        sched = CrawlScheduler(spark, store, **kw)
        sched.bootstrap(seed_frontier(spark, n=200))
        sched.step()
        if rewrite:
            seen_part = os.path.join(root, "url_seen/d2")
            tombs = "frontier_tombs/d2"
            spark.read.parquet(seen_part).select("url_hash").write.parquet(os.path.join(root, tombs))
            _to_bucket_dirs(spark, seen_part)
            assert any(d.startswith("bucket=") for d in os.listdir(seen_part))
            old_parts = {"url_seen/d2", tombs, _to_upsert_entry(spark, root)}

            def pre_format(m):
                del m["meta"]["format"]
                m["meta"]["seen_backend"] = "cuckoo"
                if m["snapshot"] == 2:
                    m["tables"]["frontier_tombs"] = [tombs]

            _edit_manifests(root, pre_format)
            sched = CrawlScheduler(spark, store, **kw)
            m = store.manifest()
            assert m["snapshot"] == 3 and m["meta"]["format"] == FORMAT
            assert m["meta"]["round"] == 1 and "seen_backend" not in m["meta"]
            assert set(m["tables"]) == {"frontier", "url_seen", "blooms", "fetch_log", "metrics"}
            assert m["tables"]["url_seen"] == "url_seen/v3"
        sched.run(2)
        if rewrite:
            store.expire_snapshots(keep_last=4, orphan_grace_sec=0)
            assert all(os.path.isdir(os.path.join(root, p)) for p in old_parts)
            out = store.expire_snapshots(keep_last=1, orphan_grace_sec=0)
            assert old_parts <= set(out["removed"])
        return _crawl_digest(sched), sorted(map(tuple, sched.frontier().collect()))

    control = crawl(str(tmp_path / "control"), rewrite=False)
    assert crawl(str(tmp_path / "old"), rewrite=True) == control


def test_read_of_an_upsert_entry_names_table_and_snapshot(spark, tmp_path):
    """read takes manifests in ``FORMAT`` only. A snapshot from before the
    format stamp (here one holding an older build's keyed upsert entry)
    and one stamped with a newer format both raise a ValueError naming
    the table and the snapshot, not a TypeError from deep in the path
    handling. A direct commit on either raises the same and writes no
    manifest, as it could not carry the base forward; a scheduler refuses
    to open the newer one."""
    from simplecommoncrawlextractor_spark.plans import CrawlScheduler

    root = str(tmp_path / "old")
    store = StateStore(root)
    store.commit({"blooms": spark.range(4).selectExpr("cast(id AS int) AS bucket")})
    sid = store.snapshot_id()
    _to_upsert_entry(spark, root)
    _edit_manifests(root, lambda m: m["meta"].pop("format"))

    def manifests():
        return sorted(f for f in os.listdir(root) if f.startswith("manifest-"))

    before = manifests()
    pre_format = rf"'blooms' at snapshot {sid} is stored in format None"
    with pytest.raises(ValueError, match=pre_format):
        store.read(spark, "blooms", BLOOM_SCHEMA, snapshot=sid)
    with pytest.raises(ValueError, match=pre_format):
        store.commit({"t": spark.range(1)})
    assert manifests() == before and store.snapshot_id() == sid
    _edit_manifests(root, lambda m: m["meta"].update(format=2))
    with pytest.raises(ValueError, match=rf"'t' at snapshot {sid} is stored in format 2"):
        store.read(spark, "t", "id long")
    with pytest.raises(ValueError, match=rf"'blooms' at snapshot {sid} is stored in format 2"):
        store.commit({"blooms": spark.range(4).selectExpr("cast(id AS int) AS bucket")})
    assert manifests() == before
    with pytest.raises(ValueError, match="in format 2"):
        CrawlScheduler(spark, store, n_buckets=8)
