"""Cross-deployment crawl-order determinism evidence (north rule: the
crawl ordering must be data-derived, so deployment mode / executor count
cannot change results — only throughput).

Runs the full scheduler (bootstrap + R rounds) against a fresh on-disk
state store and prints one ORDER_RESULT
JSON line carrying the sha256 of the materialized crawl ordering
(round, host, fetch_rank, URL — the same object the kill/resume tests
compare). Run it under different masters and diff the hashes:

    spark-submit --master 'local[4]' --py-files dist/ccspark.zip \
        tools/cross_deploy_order.py
    spark-submit --master 'local-cluster[2,2,2048]' \
        --py-files dist/ccspark.zip tools/cross_deploy_order.py

Usage: spark-submit ... tools/cross_deploy_order.py [rounds] [n_seeds]
       (defaults: 3 400)
"""

from __future__ import annotations

import hashlib
import json
import shutil
import sys
import tempfile
import time

from pyspark.sql import SparkSession

sys.path.insert(0, "ccspark.zip")

from simplecommoncrawlextractor_spark.plans import (  # noqa: E402
    CrawlScheduler,
    StateStore,
)
from simplecommoncrawlextractor_spark.sources import seed_frontier  # noqa: E402


def main() -> None:
    rounds = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    n_seeds = int(sys.argv[2]) if len(sys.argv) > 2 else 400
    spark = SparkSession.builder.getOrCreate()

    root = tempfile.mkdtemp(prefix="xdeploy_")
    try:
        t0 = time.time()
        sched = CrawlScheduler(
            spark,
            StateStore(root),
            host_budget=4,
            salt_k=4,
            n_buckets=8,
        )
        sched.bootstrap(seed_frontier(spark, n=n_seeds))
        sched.run(rounds)
        rows = sched.crawl_order().collect()
        h = hashlib.sha256()
        for r in rows:
            h.update(
                f"{r['round']}\x1f{r['host']}\x1f{r['fetch_rank']}\x1f{r['URL']}\x1e".encode()
            )
        seen = sorted(r["url_hash"] for r in sched.url_seen().collect())
        hs = hashlib.sha256(json.dumps(seen).encode()).hexdigest()
        print(
            "ORDER_RESULT "
            + json.dumps(
                {
                    "master": spark.sparkContext.master,
                    "rounds": rounds,
                    "n_seeds": n_seeds,
                    "order_rows": len(rows),
                    "order_sha256": h.hexdigest(),
                    "seen_rows": len(seen),
                    "seen_sha256": hs,
                    "elapsed_sec": round(time.time() - t0, 2),
                }
            )
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
