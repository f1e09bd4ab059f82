"""Command-line entry points — the operational surface a reference user
switches to (`python -m simplecommoncrawlextractor_spark.cli ...`).

Subcommands:
  crawl   run the frontier scheduler N rounds against a state dir
          (resumable: rerun with the same --state to continue)
  query   run one queries() entry against a testdata dir, print rows
  list    list available queries (oracle-checked ones marked)
  robots  show the (simulated) robots rules a crawl would obey
"""

from __future__ import annotations

import argparse
import json
import sys


def _spark(cpus: int):
    from .session import get_spark

    return get_spark(app_name="ccspark-cli", master=f"local[{cpus}]",
                     shuffle_partitions=max(8, cpus))


def _seed_robots(spark, n_seeds: int):
    """The simulated robots rules (fetch + parse) of the seed hosts,
    materialized once: a crawl reads them in every admission and budget."""
    from .plans.robots import bootstrap_robots
    from .sources import seed_frontier

    hosts = seed_frontier(spark, n=n_seeds).selectExpr("parse_url(url, 'HOST') AS host")
    return bootstrap_robots(hosts.distinct()).localCheckpoint()


def cmd_crawl(args: argparse.Namespace) -> int:
    from .plans import CrawlScheduler, StateStore
    from .sources import seed_frontier

    spark = _spark(args.cpus)
    store = StateStore(args.state)
    robots = _seed_robots(spark, args.seeds) if args.obey_robots else None
    sched = CrawlScheduler(
        spark, store, host_budget=args.budget, salt_k=args.salt_k,
        n_buckets=args.buckets, robots_rules=robots,
    )
    if store.snapshot_id() == 0:
        sched.bootstrap(seed_frontier(spark, n=args.seeds))
        print(f"bootstrapped frontier from {args.seeds} seeds", file=sys.stderr)
    else:
        print(f"resuming from snapshot {store.snapshot_id()} (round {sched.round_no()})",
              file=sys.stderr)
    for stats in sched.run(args.rounds):
        print(json.dumps(stats))
    return 0


def cmd_query(args: argparse.Namespace) -> int:
    import __spark_entry__ as entrymod

    spark = _spark(args.cpus)
    q = entrymod.queries()
    if args.name not in q:
        print(f"unknown query {args.name!r}; try: list", file=sys.stderr)
        return 2
    df = q[args.name](spark, args.sf_dir)
    df.show(args.limit, truncate=False)
    return 0


def cmd_list(args: argparse.Namespace) -> int:
    import __spark_entry__ as entrymod

    oracled = set(entrymod.oracle_sql())
    for name in entrymod.queries():
        mark = "oracle" if name in oracled else "rows  "
        print(f"[{mark}] {name}")
    return 0


def cmd_robots(args: argparse.Namespace) -> int:
    _seed_robots(_spark(args.cpus), args.seeds).orderBy("host", "disallow_prefix").show(
        args.limit, truncate=False
    )
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="ccspark")
    p.add_argument("--cpus", type=int, default=8)
    sub = p.add_subparsers(dest="cmd", required=True)

    c = sub.add_parser("crawl", help="run the frontier scheduler")
    c.add_argument("--state", required=True, help="state/checkpoint directory")
    c.add_argument("--seeds", type=int, default=1000)
    c.add_argument("--rounds", type=int, default=3)
    c.add_argument("--budget", type=int, default=10, help="per-host per-round budget")
    c.add_argument("--salt-k", type=int, default=8)
    c.add_argument("--buckets", type=int, default=64)
    c.add_argument("--obey-robots", action="store_true")
    c.set_defaults(fn=cmd_crawl)

    qp = sub.add_parser("query", help="run one driver-contract query")
    qp.add_argument("name")
    qp.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    qp.add_argument("--limit", type=int, default=20)
    qp.set_defaults(fn=cmd_query)

    lp = sub.add_parser("list", help="list queries")
    lp.set_defaults(fn=cmd_list)

    rp = sub.add_parser("robots", help="show simulated robots rules")
    rp.add_argument("--seeds", type=int, default=1000)
    rp.add_argument("--limit", type=int, default=20)
    rp.set_defaults(fn=cmd_robots)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
