"""foreachBatch drain: stream interleaved documents in, maintain the
frontier/seen state through the SAME batch core as plans/scheduler.py.

Pattern (SURVEY §2.8): readStream → harvest/canonicalize/dedup →
foreachBatch(merge into state + schedule). State consistency comes from the
StateStore's atomic manifest commits, exactly as in batch mode — Spark's
streaming checkpointLocation handles source offsets, our manifest handles
table state; both are idempotent under replay because candidate dedup is
keyed on url_hash (an at-least-once sink made effectively-once by the
anti-join).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..plans.frontier import canonical_candidates, harvest_outlinks
from ..plans.scheduler import CrawlScheduler


def stream_documents_to_frontier(
    spark: SparkSession,
    scheduler: CrawlScheduler,
    source_dir: str,
    checkpoint_dir: str,
    schema: str = "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    trigger_once: bool = True,
) -> StreamingQuery:
    """Watch ``source_dir`` for parquet drops of interleaved documents;
    each micro-batch harvests outlinks, dedups against the persistent seen
    set, and merges new candidates into the frontier snapshot."""
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "16")
        .parquet(source_dir)
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        # robots admission runs here too — the streaming path must not
        # smuggle disallowed URLs past the filter the batch path
        # (CrawlScheduler.step) applies to every harvested candidate; with
        # auto_robots, rules for hosts FIRST seen in this batch are fetched
        # before admission (they aren't in the frontier yet)
        raw_cand = canonical_candidates(harvest_outlinks(batch_df))
        if scheduler.auto_robots:
            scheduler.refresh_robots(extra_hosts=raw_cand.select("host"))
        cand = scheduler._admit(raw_cand, scheduler._effective_rules())
        seen_rows = scheduler.url_seen()
        blooms = scheduler.blooms()
        new_cand = scheduler.seen.probe(cand, seen_rows, blooms)
        # O(batch) append commit (round 6): the scheduler's merge-on-read
        # frontier means a micro-batch appends only its own candidates —
        # previously every batch re-read, re-deduped and REWROTE the whole
        # frontier; the winner-per-hash resolution now happens at read.
        # The commit names only the frontier: url_seen, blooms and every
        # other table carry forward unchanged
        scheduler.merge_candidates(new_cand, meta={"stream_batch": batch_id})

    writer = stream.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
