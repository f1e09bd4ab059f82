"""robots.txt consumption tests: parser, disallow filtering, crawl-delay
budgets, and scheduler integration."""

from __future__ import annotations

from pyspark.sql import functions as F

from simplecommoncrawlextractor_spark.plans import CrawlScheduler, StateStore
from simplecommoncrawlextractor_spark.plans.frontier import politeness_schedule
from simplecommoncrawlextractor_spark.plans.robots import (
    budget_with_crawl_delay,
    parse_robots_txt,
    robots_filter,
)
from simplecommoncrawlextractor_spark.sources import seed_frontier


def test_parse_robots_txt(spark):
    body = "User-agent: *\nDisallow: /private/\ndisallow: /tmp/\nCrawl-delay: 5\n\n# c\nDisallow:\n"
    df = spark.createDataFrame([("a.com", body)], "host string, body string")
    rules = {(r["disallow_prefix"], r["crawl_delay"]) for r in parse_robots_txt(df).collect()}
    assert rules == {("/private/", 5), ("/tmp/", 5)}


def _cand(spark, rows):
    return spark.createDataFrame(
        rows,
        "url string, url_canon string, url_hash long, host string, "
        "priority double, discovered_at timestamp",
    ).withColumn("discovered_at", F.timestamp_seconds(F.lit(0)))


def test_robots_filter_blocks_prefixes(spark):
    cand = spark.createDataFrame(
        [
            ("https://a.com/private/x", 1, "a.com"),
            ("https://a.com/public/y", 2, "a.com"),
            ("https://b.com/private/z", 3, "b.com"),
        ],
        "url_canon string, url_hash long, host string",
    )
    rules = spark.createDataFrame(
        [("a.com", "/private/", 0)], "host string, disallow_prefix string, crawl_delay int"
    )
    got = {r["url_hash"] for r in robots_filter(cand, rules).collect()}
    assert got == {2, 3}  # a.com/private blocked; b.com untouched


def test_crawl_delay_budget(spark):
    rules = spark.createDataFrame(
        [("a.com", "/x/", 30), ("b.com", "/y/", 0)],
        "host string, disallow_prefix string, crawl_delay int",
    )
    budgets = {r["host"]: r["host_budget"] for r in
               budget_with_crawl_delay(rules, base_budget=10).collect()}
    assert budgets == {"a.com": 2, "b.com": 10}  # 60s / delay 30 = 2


def test_politeness_respects_budget_table(spark):
    rows = [
        (f"u{i}", f"https://slow.com/{i}", i, "slow.com", float(i), None)
        for i in range(10)
    ] + [
        (f"v{i}", f"https://fast.com/{i}", 100 + i, "fast.com", float(i), None)
        for i in range(10)
    ]
    cand = _cand(spark, rows)
    budget = spark.createDataFrame([("slow.com", 2)], "host string, host_budget int")
    out = politeness_schedule(cand, host_budget=5, salt_k=2, budget_table=budget)
    per_host = {r["host"]: r["count"] for r in out.groupBy("host").count().collect()}
    assert per_host == {"slow.com": 2, "fast.com": 5}


def test_bootstrap_robots_full_path(spark):
    """fetch(simulated) → parse → rules: hosts hit their hash-derived
    disallow/delay rules; allow-all hosts produce no rules."""
    from simplecommoncrawlextractor_spark.plans.robots import bootstrap_robots

    hosts = seed_frontier(spark, n=300).selectExpr(
        "parse_url(url, 'HOST') AS host"
    ).distinct()
    rules = bootstrap_robots(hosts)
    rows = rules.collect()
    assert rows, "some hosts must publish rules"
    prefixes = {r["disallow_prefix"] for r in rows}
    assert prefixes <= {"/private/", "/p/", None}
    assert any(r["crawl_delay"] == 2 for r in rows)
    # delay-ONLY hosts (no Disallow line) must still surface their delay
    assert any(
        r["disallow_prefix"] is None and r["crawl_delay"] == 2 for r in rows
    )
    # rules are a strict subset of hosts
    n_hosts = hosts.count()
    assert rules.select("host").distinct().count() < n_hosts


def test_scheduler_with_robots(spark, tmp_path):
    """End-to-end: a rule disallowing /start/ for the hot host empties its
    schedule; crawl-delay throttles another host's budget."""
    rules = spark.createDataFrame(
        [("hot.example.com", "/start/", 0), ("seed103.example.com", "/nope/", 30)],
        "host string, disallow_prefix string, crawl_delay int",
    )
    store = StateStore(str(tmp_path / "s"))
    sched = CrawlScheduler(
        spark, store, host_budget=4, salt_k=4, n_buckets=8,
        robots_rules=rules,
    )
    sched.bootstrap(seed_frontier(spark, n=200))
    sched.step()
    log = sched.crawl_order()
    hot = log.filter(F.col("host") == "hot.example.com").count()
    assert hot == 0  # fully disallowed
    slow = log.filter((F.col("host") == "seed103.example.com") & (F.col("round") == 1)).count()
    assert slow <= 2  # crawl-delay 30 -> budget 60/30 = 2


def _private_seeds(spark, n=120):
    """Seeds whose paths are /private/K — the synth robots body disallows
    /private/ for every host with xxhash64(host) % 3 == 0."""
    k = F.col("id")
    host = F.concat(F.lit("rb"), (k % 24).cast("string"), F.lit(".example.com"))
    return spark.range(n).select(
        F.concat(F.lit("https://"), host, F.lit("/private/"), k.cast("string")).alias("url")
    )


def test_auto_robots_fetches_rules_and_blocks_frontier(spark, tmp_path):
    """auto_robots: round 1 fetches /robots.txt for every frontier host
    through the (simulated) fetch path; rules land in the persistent
    ``robots`` table; URLs already in the frontier whose host disallows
    their path are never scheduled and are evicted."""
    from pyspark.sql import functions as F2

    from simplecommoncrawlextractor_spark.plans import CrawlScheduler, StateStore
    from simplecommoncrawlextractor_spark.plans.robots import ROBOTS_SCHEMA

    store = StateStore(str(tmp_path / "ar"))
    sched = CrawlScheduler(spark, store, host_budget=8, salt_k=4, n_buckets=8,
                           auto_robots=True)
    sched.bootstrap(_private_seeds(spark))
    n_hosts_before = sched.frontier().select("host").distinct().count()
    sched.step()

    rules = store.read(spark, "robots", ROBOTS_SCHEMA)
    assert rules.select("host").distinct().count() == n_hosts_before
    banned = {
        r["host"]
        for r in rules.filter(F2.col("disallow_prefix") == "/private/").collect()
    }
    assert banned, "synth robots should disallow /private/ for ~1/3 of hosts"
    fetched_hosts = {r["host"] for r in sched.crawl_order().collect()}
    assert not (fetched_hosts & banned)
    # blocked rows never pass admission (the view every schedule/harvest
    # consumes) ...
    admitted = sched._admit(sched.frontier(), sched._effective_rules())
    assert admitted.filter(F2.col("host").isin(list(banned))).count() == 0
    # ... and are physically evicted from storage at the next frontier
    # compaction (round-6 merge-on-read: normal rounds append O(round)
    # deltas and leave old rows to the compaction pass)
    sched.MAX_FRONTIER_PARTS = 1
    sched.step()
    assert sched.frontier().filter(F2.col("host").isin(list(banned))).count() == 0
    # step's harvest hops to NEW hosts — those legitimately need a fetch;
    # a second refresh with no new hosts in between must fetch nothing
    sched.refresh_robots()
    assert sched.refresh_robots() == 0


def test_auto_robots_resume_preserves_rules_and_order(spark, tmp_path):
    from simplecommoncrawlextractor_spark.plans import CrawlScheduler, StateStore

    def run(root, split):
        store = StateStore(root)
        s1 = CrawlScheduler(spark, store, host_budget=4, salt_k=4, n_buckets=8,
                            auto_robots=True)
        s1.bootstrap(_private_seeds(spark))
        for _ in range(split):
            s1.step()
        # resume with a FRESH scheduler over the same store
        s2 = CrawlScheduler(spark, store, host_budget=4, salt_k=4, n_buckets=8,
                            auto_robots=True)
        for _ in range(3 - split):
            s2.step()
        return [tuple(r) for r in s2.crawl_order().collect()]

    assert run(str(tmp_path / "a"), 1) == run(str(tmp_path / "b"), 3)


def test_user_agent_group_scoping(spark):
    """RFC 9309 groups: a group naming our agent WINS — the '*' group is
    the fallback, not a union (§2.2.1 most-specific match); a
    non-matching group's Disallow/Crawl-delay lines are ignored, and
    consecutive User-agent lines share one group."""
    body = "\n".join([
        "User-agent: evilbot",
        "Disallow: /evil-only/",
        "Crawl-delay: 99",
        "",
        "User-agent: ccspark",
        "User-agent: otherbot",
        "Disallow: /for-us/",
        "",
        "User-agent: *",
        "Disallow: /everyone/",
        "Crawl-delay: 3",
    ])
    bodies = spark.createDataFrame([("h1", body)], "host string, body string")
    rules = parse_robots_txt(bodies, user_agent="ccspark").collect()
    prefixes = {r["disallow_prefix"] for r in rules}
    assert prefixes == {"/for-us/"}  # not /everyone/: specific group wins
    assert all(r["crawl_delay"] == 0 for r in rules)  # 99=evilbot, 3=fallback
    # an agent with NO specific group falls back to '*'
    star = parse_robots_txt(bodies, user_agent="someother").collect()
    assert {r["disallow_prefix"] for r in star} == {"/everyone/"}
    assert all(r["crawl_delay"] == 3 for r in star)


def test_whitelisting_specific_group_overrides_star_block(spark):
    """The classic whitelist: '*' blocks everything, our agent's group
    allows all — the union reading would starve the crawler on exactly
    the hosts that whitelisted it."""
    body = "User-agent: *\nDisallow: /\n\nUser-agent: ccspark\nDisallow:"
    bodies = spark.createDataFrame([("h1", body)], "host string, body string")
    rules = parse_robots_txt(bodies, user_agent="ccspark").collect()
    assert all(r["disallow_prefix"] is None for r in rules) or rules == []


def test_duplicate_host_bodies_do_not_cross_contaminate(spark):
    """Two (host, body) rows for one host (http+https fetch) must keep
    their groups separate: body B's rules must not land in body A's
    evilbot group."""
    a = "User-agent: evilbot\nDisallow: /evil/"
    b = "User-agent: *\nDisallow: /all/"
    bodies = spark.createDataFrame(
        [("h1", a), ("h1", b)], "host string, body string"
    )
    prefixes = {r["disallow_prefix"] for r in parse_robots_txt(bodies).collect()}
    assert prefixes == {"/all/"}


def test_rules_before_any_group_are_global(spark):
    bodies = spark.createDataFrame(
        [("h1", "Disallow: /headerless/\nUser-agent: evilbot\nDisallow: /x/")],
        "host string, body string",
    )
    prefixes = {r["disallow_prefix"] for r in parse_robots_txt(bodies).collect()}
    assert prefixes == {"/headerless/"}
