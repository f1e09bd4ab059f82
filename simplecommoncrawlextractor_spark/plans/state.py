"""Snapshot-pinned state tables + the bucketed bloom URL-seen set.

The reference's persistent "seen" state is a digest-addressed filesystem:
existence of ``<root>/<digest[0:2]>/<digest>`` means already-fetched, and a
re-run skips it (cc/warc/Extractor.java:89-91,159-162;
cc/CCGetter.java:134-140,236-240). Deletions exist too: RefetchedDeleter
removes a percentage of truncated files (cc/RefetchedDeleter.java:37-43).

Spark-first re-expression:
- **url_seen**: exact ``(bucket, url_hash)`` rows, hash-bucketed (the analog
  of the digest[0:2] shard). The bucket is a column, not a directory: each
  commit writes one Parquet file per write task, so a round's file count
  does not grow with the bucket count.
- **bloom side-structure**: one bloom-filter blob per bucket, built and
  merged in the JVM with Spark's bitmap functions, partitioned by bucket
  (each task owns whole buckets — no read-modify-write races). Probing a
  candidate batch joins its hashes to their bucket's blob and tests the
  bits; bloom-negative rows are *definitely* unseen and
  skip the exact join entirely; bloom-positive rows are confirmed by a
  ``(bucket, url_hash)`` semi-join against the exact rows, and one final
  left-anti join drops the confirmed ones (false positives survive).
  Catalyst's runtime bloom join filter can't do this: it is per-query, ours
  persists across runs.
- **deletes**: exact rows make deletion trivial — affected buckets are
  rewritten and ONLY their blobs rebuilt (bounded by one bucket's
  cardinality), the analog of RefetchedDeleter's file removals.
- **snapshots**: every commit writes new table versions then atomically
  swaps ``manifest.json`` (os.replace). A killed run resumes from the last
  committed manifest — identical crawl ordering and seen-membership
  (north_rule). This is the Iceberg commit protocol minus the jar (no
  Iceberg runtime is available in this sandbox; the interface hides which).

Scale math (10^10 URLs, design point): 4096 buckets × ~2.4M urls/bucket ×
10 bits ≈ 3 MB/blob, 12 GB total bloom state — each task touches only its
buckets' blobs; exact rows are ~80 GB of parquet, which the confirm join
scans whole while only the bloom-positive suspects are shuffled into it.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

BLOOM_SCHEMA = "bucket int, bitmap binary, n_bits long, n_hashes int, n_items long"
SEEN_SCHEMA = "bucket int, url_hash long"

DEFAULT_N_BUCKETS = 64
BITS_PER_ITEM = 10
N_HASHES = 7
MIN_BITS = 1 << 13  # 8 Kibit floor per bucket blob
CHUNK_BITS = 1 << 15  # the fixed size of Spark's bitmap functions
#: the on-disk format every commit stamps into its manifest's meta
FORMAT = 1


def empty_frame(spark: SparkSession, schema: str) -> DataFrame:
    """A typed zero-row frame that lives in the JVM. Catalyst folds the
    always-false filter to an empty ``LocalRelation``, so building or
    scanning it runs no Python task, and ``isEmpty()`` runs no job.
    ``spark.createDataFrame([], schema)`` would go through ``parallelize``
    and schedule one Python task per default-parallelism slice on every
    scan, each paying the worker's fixed start-up cost for zero rows."""
    fields = StructType.fromDDL(schema).fields
    return (
        spark.range(1)
        .select(*[F.lit(None).cast(f.dataType).alias(f.name) for f in fields])
        .where(F.lit(False))
    )


def _probe_position(i: int | str) -> str:
    """SQL for probe ``i`` of ``url_hash`` by double hashing:
    h1 + i*h2 mod n_bits. h1 < 2^32 and i*h2 < N_HASHES * 2^32, so the
    sum never overflows a long, and n_bits is a power of two, so the mask
    is the modulus."""
    return f"(((url_hash & 4294967295) + {i} * ((url_hash >>> 32) | 1)) & (n_bits - 1))"


class BloomSeenSet:
    """Partitioned bloom URL-seen set over (bucket, url_hash) exact rows.

    The blobs only accelerate: every bloom hit is confirmed against the
    exact rows, so probe output equals a plain anti-join. Blob upkeep is
    OR-bits per round, rebuild-on-overfull and rebuild-on-delete."""

    def __init__(self, n_buckets: int = DEFAULT_N_BUCKETS):
        self.n_buckets = n_buckets

    def bucketize(self, df: DataFrame, hash_col: str = "url_hash") -> DataFrame:
        return df.withColumn(
            "bucket", F.pmod(F.col(hash_col), F.lit(self.n_buckets)).cast("int")
        )

    def build_blooms(self, seen_rows: DataFrame) -> DataFrame:
        """(bucket, url_hash) rows → one bloom blob per bucket: the rows
        merged into an empty blob table."""
        empty = empty_frame(seen_rows.sparkSession, BLOOM_SCHEMA)
        return self.merge_blooms(empty, seen_rows.select("url_hash"))

    def probe(
        self,
        candidates: DataFrame,
        seen_rows: DataFrame,
        blooms: DataFrame,
    ) -> DataFrame:
        """Return candidates NOT in the seen set (the F9/J2 anti-join,
        cc/warc/Extractor.java:89-91), bloom-accelerated.

        Joining the slim ``(bucket, url_hash)`` frame to the blobs keeps
        ONLY the bloom-positive hashes (suspects); a hash whose bucket has
        no blob is definitely new. The suspects are confirmed against the
        exact rows with a ``(bucket, url_hash)`` semi-join (it scans every
        url_seen part; nothing prunes them by bucket), and the single
        final anti-join removes the confirmed-seen hashes from the
        candidates. Algebra: cand hashes = definite_new ∪ suspects, so
        cand ∖ (suspects ∩ seen) = definite_new ∪ (suspects ∖ seen), and
        definite-new rows never enter the confirm join.

        The candidate batch is localCheckpointed first: the plan reads it
        twice (the slim hash path and the final anti-join), and a
        UDF-heavy candidate chain (canonicalize) would run once per read.
        """
        candidates = candidates.localCheckpoint()
        # only the 16-byte (bucket, url_hash) pair meets the blobs — never
        # the full candidate row (at 10^10 scale the candidate payload is
        # 10-50× wider than the hash)
        slim = self.bucketize(candidates).select("bucket", "url_hash")
        # all N_HASHES bits set; the probes are unrolled, as a lambda over
        # them would run interpreted
        hit = " AND ".join(
            f"(cast(conv(hex(substring(bitmap, {p} div 8 + 1, 1)), 16, 10) AS int)"
            f" >> ({p} % 8)) & 1 = 1"
            for p in map(_probe_position, range(N_HASHES))
        )
        suspects = slim.join(blooms, "bucket").where(hit).select("bucket", "url_hash")
        truly_seen = suspects.join(
            seen_rows, on=["bucket", "url_hash"], how="left_semi"
        ).select("url_hash")
        return candidates.join(truly_seen, "url_hash", "left_anti")

    def merge_blooms(self, blooms: DataFrame, new_rows: DataFrame) -> DataFrame:
        """OR new hashes into existing blobs; a bucket with no blob gets
        one sized for its new hashes. ``n_items`` counts every new row.

        A blob of ``n_bits / 8`` bytes holds bit p at bit p % 8 of byte
        p / 8. It is built in ``CHUNK_BITS`` chunks, the fixed size of
        Spark's bitmaps: ``bitmap_construct_agg`` sets a chunk's probe
        positions, ``bitmap_or_agg`` ORs in the stored blob's chunk, and
        the chunks are joined in order and cut to length (a blob below
        one chunk is that chunk's prefix). One exchange: the blobs, the
        bucketized hashes and one marker row per bucket are partitioned
        by bucket, where a window gives each row its bucket's sizes. Hash
        rows explode into their probe positions and blob rows into their
        chunks (a marker stands in for a missing blob, so every chunk has
        a row even with no bit set); the aggregations per (bucket, chunk)
        and per bucket reuse that partitioning."""
        over = "OVER (PARTITION BY bucket)"
        n_new = f"count(url_hash) {over}"
        # smallest power of two >= BITS_PER_ITEM * n_new: the bit length
        # of x - 1 is ceil(log2(x)) in exact integer math
        bits_for = f"greatest({MIN_BITS}L, 1L << length(bin({n_new} * {BITS_PER_ITEM} - 1)))"
        markers = new_rows.sparkSession.range(self.n_buckets).selectExpr("cast(id AS int) AS bucket")
        rows = (
            blooms.unionByName(self.bucketize(new_rows.select("url_hash")), allowMissingColumns=True)
            .unionByName(markers, allowMissingColumns=True)
            .selectExpr(
                "bucket", "bitmap", "url_hash",
                f"coalesce(max(n_bits) {over}, {bits_for}) AS n_bits",
                f"coalesce(max(n_hashes) {over}, {N_HASHES}) AS n_hashes",
                f"coalesce(max(n_items) {over}, 0) + {n_new} AS n_items",
                f"max(n_bits) {over} IS NOT NULL OR {n_new} > 0 AS has_blob",
            )
            .where("has_blob")  # not a marker alone
        )
        sizes = ["n_bits", "n_hashes", "n_items"]
        # the sizes are fixed per bucket: carried through the aggregations
        # with any_value, not grouped on, so each sort keys on (bucket, chunk)
        carry = [F.any_value(c).alias(c) for c in sizes]
        pos = _probe_position("k")
        chunks = (
            rows.selectExpr(
                "bucket", *sizes, "bitmap", "url_hash",
                "explode(sequence(0, IF(url_hash IS NULL,"
                f" (n_bits + {CHUNK_BITS - 1}) div {CHUNK_BITS}, n_hashes) - 1)) AS k",
            )
            .selectExpr(
                "bucket", *sizes,
                f"IF(url_hash IS NULL, k, {pos} div {CHUNK_BITS}) AS chunk",
                f"{pos} % {CHUNK_BITS} AS bit",
                f"substring(bitmap, k * {CHUNK_BITS // 8} + 1, {CHUNK_BITS // 8}) AS stored",
            )
            .groupBy("bucket", "chunk")
            .agg(
                F.bitmap_construct_agg("bit").alias("added"),
                F.bitmap_or_agg("stored").alias("stored"),
                *carry,
            )
            # Spark has no binary OR: OR the two as one more aggregate
            .selectExpr("bucket", "chunk", *sizes, "explode(array(added, stored)) AS bm")
            .groupBy("bucket", "chunk")
            .agg(F.bitmap_or_agg("bm").alias("bm"), *carry)
        )
        return chunks.groupBy("bucket").agg(
            F.expr("substring(listagg(bm) WITHIN GROUP (ORDER BY chunk), 1, any_value(n_bits) div 8)")
            .alias("bitmap"),
            *carry,
        )

    def delete(self, seen_rows: DataFrame, victims: DataFrame) -> tuple[DataFrame, DataFrame]:
        """The deletion path: remove ``victims`` (url_hash) from the seen
        set so they become refetchable — the semantics of RefetchedDeleter
        (cc/RefetchedDeleter.java:37-43), which deletes a percentage of
        truncated payloads from the repo.

        Bloom blobs can't unset bits; exact rows can. We anti-join the
        victims out and rebuild blobs ONLY for buckets that lost rows —
        bucket-local work, deterministic, no eviction cascades. Returns
        (remaining exact rows, rebuilt blobs for the touched buckets) for
        the caller to commit."""
        v = self.bucketize(victims.select("url_hash")).select("bucket", "url_hash")
        remaining = seen_rows.join(v, ["bucket", "url_hash"], "left_anti")
        touched = v.select("bucket").distinct()
        rebuilt = self.build_blooms(
            remaining.join(F.broadcast(touched), "bucket", "left_semi")
        )
        return remaining, rebuilt

    def merge_delta(
        self, blooms: DataFrame, new_rows: DataFrame, seen_after: DataFrame
    ) -> DataFrame:
        """Per-round blob merge: OR ``new_rows``' hashes into ``blooms``,
        then grow any bucket whose item count outran its bit budget (its
        false-positive rate would decay otherwise) by rebuilding its blob
        from ``seen_after``, the post-merge exact rows. ``blooms`` may be
        the whole blob table: a bucket that gets no new hash passes
        through byte for byte, and only a bucket that gets some can newly
        overflow. A rebuild at least doubles the bucket's bits, so
        rebuilds are rare and bucket-local.

        Eager: the merge is locally checkpointed once, and the overfull
        bucket ids (at most ``n_buckets``) are collected to the driver, so
        the merge runs exactly once and the rebuild is planned only when
        a bucket overflowed. The returned frame is materialized on both
        paths; callers need no cache of their own."""
        delta = self.merge_blooms(blooms, new_rows).localCheckpoint()
        overfull = delta.where(f"n_items * {BITS_PER_ITEM} > n_bits").select("bucket")
        if not overfull.collect():
            return delta
        rebuilt = self.build_blooms(
            seen_after.join(F.broadcast(overfull), "bucket", "left_semi")
        )
        untouched = delta.join(rebuilt.select("bucket"), "bucket", "left_anti")
        return untouched.unionByName(rebuilt).localCheckpoint()


class StateStore:
    """Versioned parquet tables + atomic manifest swap (Iceberg-style
    snapshot commits without the jar). Commit = write v{N+1} dirs, then
    os.replace the manifest — readers either see the old snapshot or the
    new one, never a torn state. Resume = read whatever the manifest pins.

    Two table kinds, and a commit names only the tables it writes (every
    other table carries forward as the manifest has it):
    - **rewrite** (``tables=``): full new version each commit (blooms,
      a compacted frontier).
    - **append** (``appends=``): delta part per commit, read = union
      (url_seen, fetch_log, metrics). A part's name carries the snapshot
      id that wrote it (``part_sids``), and ``read(after=sid)`` keeps the
      parts written after one: the scheduler resolves the frontier
      against the url_seen parts newer than the frontier's base.

    No table is written with ``partitionBy``: a part is one Parquet file
    per write task. Spark creates every file and directory on ``file://``
    through Hadoop's local filesystem, which without the native library
    forks ``chmod`` for each, so one directory per bucket would cost a
    fork per write task and bucket.

    Format ``FORMAT`` is those flat parts, each table entry a part path or
    a list of them. Every commit stamps it into the manifest's meta, and
    reading any other format raises; a CrawlScheduler upgrades a store
    written before the stamp when it opens it. Orphan GC still takes the
    older entries, as a retained manifest may name their parts.
    """

    MANIFEST = "manifest.json"

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- manifest ---------------------------------------------------------
    def _manifest_path(self, snapshot: int | None = None) -> str:
        if snapshot is None:
            return os.path.join(self.root, self.MANIFEST)
        return os.path.join(self.root, f"manifest-{int(snapshot)}.json")

    def manifest(self, snapshot: int | None = None) -> dict:
        """Current manifest, or a historical one (time travel): every
        commit also writes an immutable ``manifest-{sid}.json``, and table
        version dirs are never rewritten, so any past snapshot stays
        readable — the Iceberg snapshot-log semantics."""
        p = self._manifest_path(snapshot)  # sids never reused (see commit)
        if not os.path.exists(p):
            if snapshot is not None:
                raise FileNotFoundError(f"no snapshot {snapshot} in {self.root}")
            return {"snapshot": 0, "tables": {}, "meta": {}}
        with open(p) as f:
            return json.load(f)

    def snapshot_id(self) -> int:
        return int(self.manifest()["snapshot"])

    def next_snapshot_id(self) -> int:
        """The sid the next ``commit`` allocates: above EVERY retained
        snapshot, not current+1. After a rollback the current snapshot is
        older than the abandoned lineage's, and reusing an abandoned sid
        would overwrite its v{sid}/d{sid} data dirs while
        manifest-{sid}.json still points at them — a time-travel read
        mid-overwrite would see torn parquet. Allocating past
        max(snapshots) keeps every historical manifest's dirs immutable
        (the Iceberg snapshot-id contract)."""
        return max([self.snapshot_id()] + self.snapshots()) + 1

    def snapshots(self) -> list[int]:
        """All retained snapshot ids, ascending."""
        out = []
        for fn in os.listdir(self.root):
            if fn.startswith("manifest-") and fn.endswith(".json"):
                out.append(int(fn[len("manifest-"):-len(".json")]))
        return sorted(out)

    def rollback(self, snapshot: int) -> int:
        """Make ``snapshot`` the current state (atomic manifest swap, like
        Iceberg's rollback-to-snapshot). Later snapshots' files stay on
        disk and readable; a subsequent commit branches the history —
        commits after a rollback write manifest-{N}.json for NEW ids above
        the rolled-back one, replacing the abandoned lineage."""
        m = self.manifest(snapshot)
        tmp = self._manifest_path() + f".tmp.rb{snapshot}"
        with open(tmp, "w") as f:
            json.dump(m, f, indent=1)
        os.replace(tmp, self._manifest_path())
        return int(m["snapshot"])

    # -- retention --------------------------------------------------------
    # v: rewrite version, d: append delta; u and m are the delta and
    # migration parts of an older build's upsert entries
    _PART_RE = re.compile(r"^[vdum]\d+$")

    def expire_snapshots(
        self,
        keep_last: int = 1,
        older_than: float | None = None,
        orphan_grace_sec: float = 3600.0,
    ) -> dict:
        """Iceberg's expire_snapshots + orphan-file cleanup: drop
        historical ``manifest-{sid}.json`` entries beyond the retention
        policy, then delete every table part directory that no retained
        manifest references. Without this, a 10^10-URL crawl's state dir
        grows O(rounds × state) — with it, disk is bounded by
        ``keep_last`` resolvable snapshots (append deltas shared by the
        current manifest are always retained, so history stays O(crawl)
        only where the data itself is history, e.g. fetch_log).

        ``keep_last``: retain that many most-recent snapshot ids (the
        current snapshot is always retained regardless). ``older_than``:
        additionally retain any snapshot committed at/after this unix
        time. ``orphan_grace_sec``: an unreferenced part directory
        younger than this is NOT swept — a concurrent ``commit`` writes
        part files BEFORE it publishes the manifest that references
        them, so a zero-grace sweep racing such a commit would delete
        the new snapshot's data (Iceberg's ``remove_orphan_files`` has
        the same ``older_than`` guard for the same reason). The age is
        the NEWEST mtime found anywhere under the part tree, not the
        top-level directory's: writing a file into an existing
        subdirectory (Spark's ``_temporary`` task dirs, an older store's
        ``bucket=N`` dirs) does not touch the top directory, so a large
        commit could look hours old at the top while still actively
        writing below. As with Iceberg's guidance,
        ``orphan_grace_sec`` must still exceed the maximum expected
        write-to-publish span of a commit. Returns
        {"expired": [...], "removed": [...part dirs...]}.
        """

        def newest_mtime(path: str) -> float:
            newest = os.path.getmtime(path)
            for walk_root, dirs, files in os.walk(path):
                for nm in dirs + files:
                    try:
                        newest = max(
                            newest, os.path.getmtime(os.path.join(walk_root, nm))
                        )
                    except OSError:
                        pass  # vanished mid-scan (concurrent GC/commit)
            return newest

        cur = self.snapshot_id()
        sids = self.snapshots()
        keep = set(sids[-keep_last:]) if keep_last > 0 else set()
        keep.add(cur)
        if older_than is not None:
            for s in sids:
                m = self.manifest(s)
                if m.get("meta", {}).get("committed_at", 0.0) >= older_than:
                    keep.add(s)
        expired = [s for s in sids if s not in keep]
        for s in expired:
            os.remove(self._manifest_path(s))
        referenced: set[str] = set()
        for m in [self.manifest()] + [self.manifest(s) for s in self.snapshots()]:
            for rel in m["tables"].values():
                if isinstance(rel, dict):
                    referenced.update(rel["parts"])
                elif isinstance(rel, list):
                    referenced.update(rel)
                else:
                    referenced.add(rel)
        removed = []
        for table in os.listdir(self.root):
            tdir = os.path.join(self.root, table)
            if not os.path.isdir(tdir):
                continue
            for part in os.listdir(tdir):
                if not self._PART_RE.match(part):
                    continue  # never touch anything we didn't name
                rel = f"{table}/{part}"
                if rel not in referenced:
                    pdir = os.path.join(tdir, part)
                    try:
                        age = time.time() - newest_mtime(pdir)
                    except OSError:
                        continue  # vanished mid-scan (concurrent GC/commit)
                    if age < orphan_grace_sec:
                        continue  # possibly an in-flight commit's files
                    shutil.rmtree(pdir, ignore_errors=True)
                    removed.append(rel)
        return {"expired": expired, "removed": sorted(removed)}

    # -- read -------------------------------------------------------------
    @staticmethod
    def _format_error(m: dict, name: str) -> ValueError:
        return ValueError(f"table {name!r} at snapshot {m['snapshot']} is stored in "
                          f"format {m['meta'].get('format')}; this build reads format {FORMAT}")

    @classmethod
    def _parts(cls, m: dict, name: str) -> list[str]:
        if m["snapshot"] and m["meta"].get("format") != FORMAT:
            raise cls._format_error(m, name)
        rel = m["tables"].get(name)
        if rel is None:
            return []
        return rel if isinstance(rel, list) else [rel]

    @staticmethod
    def _sid(part: str) -> int:
        return int(part.rsplit("/", 1)[1][1:])  # {name}/v{sid} or {name}/d{sid}

    def part_sids(self, name: str, snapshot: int | None = None) -> list[int]:
        """The snapshot id that wrote each part of table ``name``, in part
        order; empty when the manifest does not name the table."""
        return [self._sid(p) for p in self._parts(self.manifest(snapshot), name)]

    def read(
        self, spark: SparkSession, name: str, schema: str,
        snapshot: int | None = None, after: int | None = None,
    ) -> DataFrame:
        """Read a table at the current snapshot, or at a historical one
        (``snapshot=`` time travel); ``after=sid`` keeps only the parts
        written by later snapshots. A table with no (such) part reads as
        an ``empty_frame`` of ``schema`` (no job, no Python task). All
        parts are one scan with ``schema``, so no read runs a Parquet
        footer-inference job. Raises ValueError, naming the table and the
        snapshot, for a manifest not in ``FORMAT``."""
        parts = self._parts(self.manifest(snapshot), name)
        if after is not None:
            parts = [p for p in parts if self._sid(p) > after]
        if not parts:
            return empty_frame(spark, schema)
        return spark.read.schema(schema).parquet(*[os.path.join(self.root, p) for p in parts])

    # -- commit -----------------------------------------------------------
    def commit(
        self,
        tables: dict[str, DataFrame | None],
        meta: dict | None = None,
        appends: dict[str, DataFrame] | None = None,
    ) -> int:
        """Write new versions of ``tables``, append delta files to
        ``appends`` tables (the manifest tracks the part list — an append
        round writes only the delta, never rewrites history; this is what
        keeps per-round commit cost O(round), not O(crawl)), then
        atomically swap the manifest, stamped ``FORMAT``. Every table the
        commit does not name carries forward unchanged; a ``None`` in
        ``tables`` or ``meta`` drops that entry.

        Refuses, with ``read``'s ValueError and before writing anything, a
        base this build could not read back once stamped: one in another
        format, or one from before the stamp that would carry forward an
        entry that is not a part path or a list of them (an older build's
        keyed upsert entry). A CrawlScheduler's upgrade rewrites or drops
        every such table, so it passes."""
        m = self.manifest()
        fmt = m["meta"].get("format")
        for name, rel in m["tables"].items():
            parts = rel if isinstance(rel, list) else [rel]
            kept_unreadable = name not in tables and not all(isinstance(p, str) for p in parts)
            if fmt != FORMAT and (fmt is not None or kept_unreadable):
                raise self._format_error(m, name)
        sid = self.next_snapshot_id()
        new_tables: dict[str, str | list[str]] = dict(m["tables"])
        for name, df in tables.items():
            if df is None:
                new_tables.pop(name, None)
                continue
            rel = f"{name}/v{sid}"
            df.write.mode("overwrite").parquet(os.path.join(self.root, rel))
            new_tables[name] = rel
        for name, df in (appends or {}).items():
            rel = f"{name}/d{sid}"
            df.write.mode("overwrite").parquet(os.path.join(self.root, rel))
            prev = m["tables"].get(name, [])
            parts = prev if isinstance(prev, list) else [prev]
            new_tables[name] = parts + [rel]
        new_meta = {**m["meta"], **(meta or {}), "format": FORMAT, "committed_at": time.time()}
        manifest = {
            "snapshot": sid,
            "tables": new_tables,
            "meta": {k: v for k, v in new_meta.items() if v is not None},
        }
        # immutable snapshot-log entry first, then the atomic current swap
        with open(self._manifest_path(sid), "w") as f:
            json.dump(manifest, f, indent=1)
        tmp = self._manifest_path() + f".tmp.{sid}"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, self._manifest_path())
        return sid
