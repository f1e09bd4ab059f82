"""Write perfbench/pins.json, the answers run.py checks its outputs against.

    python3 perfbench/pin.py

- ``query_mix``: the DuckDB ``oracle_sql()`` answer (row count, value hash,
  columns) of each oracled query in the mix, at the sf0.1 tables.
- ``crawl_bulk``: the SHA-256 of the ``crawl_order()`` rows for seeds
  0..PINNED_SEEDS-1. The crawl order is deterministic, so a pinned seed must
  give its digest again; different seeds must give different digests,
  which this script asserts before it writes anything.

Takes about six minutes on a 4-core box.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run as R  # noqa: E402

PINNED_SEEDS = 16


def main() -> int:
    work = os.path.join(R.ROOT, ".perfbench_work", f"pin-{os.getpid()}")
    R._isolate(work)
    pins = {"query_mix": R.oracle_answers(os.path.join(R.DATA, "sf0.1")), "crawl_bulk": {}}
    spark = R.start_spark(work, None)
    try:
        R.crawl_episode(spark, R.crawl_seeds(spark, R.WARM_SEED, **R.CRAWL_WARM),
                        os.path.join(work, "warm"), R.CRAWL_WARM)
        for seed in range(PINNED_SEEDS):
            ep = R.crawl_episode(spark, R.crawl_seeds(spark, seed, **R.CRAWL),
                                 os.path.join(work, f"store{seed}"), R.CRAWL)
            bad = R.check_crawl(ep, R.CRAWL, None)
            if bad:
                raise RuntimeError(f"seed {seed}: {bad}")
            pins["crawl_bulk"][str(seed)] = R.crawl_digest(ep["rows"])
            print(seed, pins["crawl_bulk"][str(seed)], flush=True)
    finally:
        R.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    if len(set(pins["crawl_bulk"].values())) != PINNED_SEEDS:
        raise RuntimeError("two seeds gave the same crawl order")
    with open(R.PINS, "w") as f:
        json.dump(pins, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
