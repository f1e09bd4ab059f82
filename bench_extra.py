"""Round-6 auxiliary benchmarks — NOT part of the driver contract.

``bench.py`` is frozen for measurement; everything exploratory lives
here instead (round-6 rules + guide §1.4):

- ``stages``: noop-sink isolation of the three rewritten hot paths
  (ngram-Jaccard pair counting, SimHash candidates, SRP assignment +
  ANN top-1), per guide §1.4 — ``df.write.format("noop")`` computes
  every column of every row and discards it, so the number is the
  computation, not the sink. These are the measurements the before/
  after claims in OPTIMIZATION_r06.md cite.
- ``control``: a zero-Python JVM hash-aggregate leg (the
  tools/jvm_control.py aggregate, in-session) plus load averages — the
  day-factor normalizer VERDICT r5 item 2 asked for; it cannot live in
  the frozen bench.py, so artifacts that need it cite this output.

Usage:
    SPARK_GRAFT_SF_DIR=/root/testdata/sf1.0 python bench_extra.py [stages|control|all]

Prints one JSON line per section.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# the CPUs this process may run on, as ``get_spark`` defaults to
CPUS = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))


def _noop(spark, label: str, df, trials: int = 2) -> float:
    best = None
    for _ in range(trials):
        spark.sparkContext.setJobDescription(label)
        t0 = time.time()
        df.write.format("noop").mode("overwrite").save()
        dt = time.time() - t0
        best = dt if best is None else min(best, dt)
    spark.sparkContext.setJobDescription(None)
    return round(best, 3)


def run_stages(spark) -> dict:
    from pyspark.sql import functions as F

    from simplecommoncrawlextractor_spark.operators import dedup as D
    from simplecommoncrawlextractor_spark.operators import similarity as SIM
    from simplecommoncrawlextractor_spark.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents")
    emb = load_table(spark, SF_DIR, "embeddings")
    docs.count()  # warm scan
    out = {
        "shingles_sized": _noop(
            spark, "ngram: sized shingle explode",
            D._shingles_sized(docs, 3, "text", "doc_id"),
        ),
        "ngram_jaccard_full": _noop(
            spark, "ngram: full pair pipeline",
            D.ngram_jaccard_pairs(docs, threshold=0.05),
        ),
        "simhash64": _noop(spark, "simhash: 64-bit hashes", D.simhash64(docs)),
        "simhash_near_dups_full": _noop(
            spark, "simhash: candidates+hamming",
            D.simhash_near_dups(docs, max_hamming=8),
        ),
        "srp_assignments": _noop(
            spark, "ann: SRP bucket assignment",
            SIM.srp_bucket_assignments(emb, 64, 4, 8),
        ),
        "ann_bucketed_top1_full": _noop(
            spark, "ann: bucketed top-1",
            SIM.ann_bucketed_top1(emb, dim=64, n_planes=4, n_tables=8, max_bucket=512),
        ),
    }
    return {"metric": "noop_stage_isolation_sec", "sf_dir": SF_DIR, **out}


def run_control(spark) -> dict:
    """The zero-Python normalizer leg: JVM-only hash aggregate over 50M
    generated rows. Report rows/sec and the load window so any artifact
    citing bench numbers can carry its own day factor."""
    from pyspark.sql import functions as F

    n_rows = int(os.environ.get("SPARK_GRAFT_CONTROL_ROWS", "50000000"))
    k = F.col("id")
    host = F.when(k % 10 < 3, F.lit("hot.example.com")).otherwise(
        F.concat(F.lit("h"), (k % 4999).cast("string"), F.lit(".example.com"))
    )
    df = spark.range(n_rows).select(host.alias("host"), (k % 1000).alias("v"))

    def job() -> int:
        return df.groupBy("host").agg(F.count("*").alias("n"), F.sum("v").alias("s")).count()

    job()  # warmup
    best, runs = None, []
    for _ in range(3):
        t0 = time.time()
        job()
        dt = time.time() - t0
        runs.append(round(dt, 3))
        best = dt if best is None else min(best, dt)
    return {
        "metric": "control_rows_per_sec",
        "n_rows": n_rows,
        "runs_sec": runs,
        "rows_per_sec": round(n_rows / best, 1),
        "load1": round(os.getloadavg()[0], 2),
    }


def main() -> int:
    what = sys.argv[1] if len(sys.argv) > 1 else "all"
    from simplecommoncrawlextractor_spark import get_spark

    spark = get_spark(
        app_name="ccspark-bench-extra",
        master=f"local[{CPUS}]",
        shuffle_partitions=int(CPUS),
    )
    if what in ("stages", "all"):
        print(json.dumps(run_stages(spark)))
    if what in ("control", "all"):
        print(json.dumps(run_control(spark)))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
