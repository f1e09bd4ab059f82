"""Self-test of the span tracer and event-log joiner, on tiny inputs.

    python3 perfbench/selftest.py

Runs a traced crawl of 2k seeds and one round, and a traced pass of the
query mix at sf0.001, then asserts that:

- the metric names run.py prints are exactly the ones BENCHMARK.json lists;
- the canonicalize ``mapInPandas`` node reports non-zero Python bytes;
- each round's span self times sum to within 10% of its ``step()`` wall time.

Prints ``selftest ok`` and exits 0, or raises. About a minute and a half
on a 4-core box.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run as R  # noqa: E402
from spans import EventLog, Tracer, self_times, subtree  # noqa: E402

TINY_CRAWL = {**R.CRAWL, "n_seeds": 2_000, "n_hosts": 200, "rounds": 1}


def main() -> int:
    with open(os.path.join(R.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    work = os.path.join(R.ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
    R._isolate(work)
    log_dir = os.path.join(work, "eventlog")
    spark = R.start_spark(work, log_dir)
    tracer = Tracer(spark.sparkContext)
    try:
        ep = R.crawl_episode(spark, R.crawl_seeds(spark, 1, **TINY_CRAWL),
                             os.path.join(work, "store"), TINY_CRAWL, tracer)
        assert not R.check_crawl(ep, TINY_CRAWL, None), R.check_crawl(ep, TINY_CRAWL, None)
        n_crawl_spans = len(tracer.spans)
        qp = R.query_pass(spark, R.query_fns(), R.QUERY_MIX, os.path.join(R.DATA, "sf0.001"), tracer)
        assert not any(o["error"] for o in qp["ops"]), qp["ops"]
    finally:
        R.stop_spark(spark)
    log = EventLog(log_dir)
    crawl_spans, query_spans = tracer.spans[:n_crawl_spans], tracer.spans[n_crawl_spans:]
    print("\n".join(R.span_table(tracer.spans, log)))

    want = {m["name"]: m["unit"] for m in bench["per_layer"]}
    for workload, spans, unit in (("crawl_bulk", crawl_spans, ep), ("query_mix", query_spans, qp)):
        unit["cpu_s"] = 1.0
        got = R.per_layer_metrics(workload, spans, log, ep["store"], [unit])
        assert {k: v["unit"] for k, v in got.items()} == want, set(got) ^ set(want)
        e2e = R.end_to_end_metrics([unit], 1.0, 1.0)
        assert {k: v["unit"] for k, v in e2e.items()} == {m["name"]: m["unit"] for m in bench["end_to_end"]}
    assert {w["name"] for w in bench["workloads"]} == set(R.WORKLOADS)

    boot = [i for s in crawl_spans if s["name"] == "bootstrap" for i in subtree(crawl_spans, s["id"])]
    canon_bytes = log.node_total(boot, R._canonicalize_nodes(log), "data sent to Python workers")
    assert canon_bytes > 0, "canonicalize mapInPandas reported no Python bytes"

    selfs = self_times(crawl_spans)
    for s in (s for s in crawl_spans if s["name"] == "step"):
        wall = s["end"] - s["start"]
        total = sum(selfs[i] for i in subtree(crawl_spans, s["id"]))
        assert abs(total - wall) <= 0.1 * wall, (total, wall)

    layer = R.crawl_layer(crawl_spans, log, ep["store"])
    print(f"canonicalize bytes sent {canon_bytes:.0f}; jobs per round {layer['scheduler.jobs_per_round']:.0f}")
    shutil.rmtree(work, ignore_errors=True)
    print("selftest ok")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
