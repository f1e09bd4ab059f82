"""robots.txt consumption — a politeness INPUT to the scheduler.

The reference only *drops* robots.txt rows from analytics
(cc/index/mappers/CountMimesByTopLevelDomains.java:63-65); it never obeys
them. The north rule adds real robots filtering: per-host disallow rules
gate what the politeness queue may schedule.

Model: a small ``robots_rules`` table (host, disallow_prefix, crawl_delay)
— in production it is produced by fetching+parsing each host's
/robots.txt (one more fetch stage through the same scheduler); here it is
synthesized deterministically or supplied by the caller. Application is a
broadcast join + prefix predicate: rules tables are tiny relative to the
frontier (≤ one row per (host, rule)), so no shuffle of the frontier is
ever needed. Crawl-delay participates by scaling the per-host budget.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

ROBOTS_SCHEMA = "host string, disallow_prefix string, crawl_delay int"
#: the wall-clock span of one scheduler round that Crawl-delay divides
ROUND_SECONDS = 60


def parse_robots_txt(
    bodies: DataFrame, host_col: str = "host", body_col: str = "body",
    user_agent: str = "*",
) -> DataFrame:
    """robots.txt parser over (host, body) rows — JVM-side only, with
    RFC 9309 *group* semantics: consecutive ``User-agent:`` lines form a
    group's agent set; if any group names our ``user_agent`` (exact
    product token, case-insensitive), ONLY those groups' Disallow/
    Crawl-delay lines apply — the ``*`` groups apply only when no
    specific group matches (RFC 9309 §2.2.1: the most specific match
    wins, '*' is the fallback, never a union). Rules appearing before
    any User-agent line are treated as global (lenient; the RFC calls
    them invalid). Plan shape: posexplode lines → window-running group
    ids per (host, body) → per-group agent match → filter → aggregate
    per host — robots bodies are tiny, so the windows never see skew.
    Duplicate hosts (e.g. the same host fetched twice) are safe: groups
    are scoped per input ROW, never across bodies."""
    from pyspark.sql.window import Window

    # per-BODY id so two bodies for one host can never interleave their
    # line positions inside the group windows. Derived DETERMINISTICALLY
    # from the content (not monotonically_increasing_id): `lines` feeds
    # two branches (the groups agg and the scoped join), and a
    # nondeterministic id re-evaluated per branch under a shuffling
    # upstream plan would silently mis-join group scopes. Identical
    # (host, body) pairs collide by construction, so they are deduped
    # first — semantically a no-op (same body ⇒ same rules), and it keeps
    # colliding rows from interleaving their line positions
    raw = bodies.select(
        F.col(host_col).alias("host"), F.col(body_col).alias("__body")
    ).dropDuplicates(["host", "__body"]).select(
        "host",
        F.xxhash64("host", "__body").alias("body_id"),
        F.col("__body"),
    ).select(
        "host", "body_id",
        F.posexplode(F.split(F.col("__body"), "\n")).alias("pos", "line"),
    )
    is_ua = F.col("line").rlike(r"(?i)^\s*user-agent\s*:")
    w = Window.partitionBy("host", "body_id").orderBy("pos")
    # a group starts at a UA line not directly preceded by another UA line
    starts = (is_ua & ~F.coalesce(F.lag(is_ua).over(w), F.lit(False))).cast("int")
    lines = raw.select(
        "host", "body_id", "pos", "line", is_ua.alias("is_ua"),
        F.sum(starts).over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("grp"),
    )
    ua_val = F.lower(
        F.trim(F.regexp_replace(F.col("line"), r"(?i)^\s*user-agent\s*:", ""))
    )
    groups = (
        lines.filter(F.col("is_ua"))
        .groupBy("host", "body_id", "grp")
        .agg(
            F.max((ua_val == user_agent.lower()).cast("int")).alias("specific"),
            F.max((ua_val == "*").cast("int")).alias("star"),
        )
    )
    # '*' is the fallback: it applies only when the BODY has no group
    # naming our agent
    body_w = Window.partitionBy("host", "body_id")
    groups = groups.withColumn(
        "applies",
        F.when(F.max("specific").over(body_w) == 1, F.col("specific")).otherwise(
            F.col("star")
        ),
    )
    # grp 0 (no preceding UA line) has no groups row → applies defaults on
    scoped = lines.join(groups, ["host", "body_id", "grp"], "left").filter(
        F.coalesce(F.col("applies"), F.lit(1)) == 1
    )
    dis = scoped.filter(F.col("line").rlike(r"(?i)^\s*disallow\s*:")).select(
        "host",
        F.trim(F.regexp_replace(F.col("line"), r"(?i)^\s*disallow\s*:", "")).alias(
            "disallow_prefix"
        ),
    ).filter(F.col("disallow_prefix") != "")
    delay = scoped.filter(F.col("line").rlike(r"(?i)^\s*crawl-delay\s*:")).select(
        "host",
        F.trim(F.regexp_replace(F.col("line"), r"(?i)^\s*crawl-delay\s*:", ""))
        .cast("int")
        .alias("crawl_delay"),
    ).groupBy("host").agg(F.max("crawl_delay").alias("crawl_delay"))
    # FULL outer: a robots.txt with only Crawl-delay (no Disallow) must
    # still yield a rules row, or its delay silently stops being enforced
    return dis.join(delay, "host", "full").select(
        "host",
        F.col("disallow_prefix"),  # null = no disallow, delay-only host
        F.coalesce("crawl_delay", F.lit(0)).alias("crawl_delay"),
    )


def synth_robots_rules(spark: SparkSession, hosts: DataFrame) -> DataFrame:
    """Deterministic robots rules for the sandbox: every 3rd host (by
    xxhash64) disallows /private/, every 5th disallows /p/ entirely, every
    7th asks for crawl-delay 2. Seedless — derived from the host string."""
    h = F.xxhash64("host")
    rules_private = hosts.filter(F.pmod(h, F.lit(3)) == 0).select(
        "host", F.lit("/private/").alias("disallow_prefix"), F.lit(0).alias("crawl_delay")
    )
    rules_p = hosts.filter(F.pmod(h, F.lit(5)) == 0).select(
        "host", F.lit("/p/").alias("disallow_prefix"), F.lit(0).alias("crawl_delay")
    )
    rules_delay = hosts.filter(F.pmod(h, F.lit(7)) == 0).select(
        "host", F.lit("/never-matches/").alias("disallow_prefix"), F.lit(2).alias("crawl_delay")
    )
    return rules_private.unionByName(rules_p).unionByName(rules_delay)


def fetch_robots_bodies(hosts: DataFrame) -> DataFrame:
    """Simulated per-host /robots.txt fetch (the production version is one
    more ranged-fetch stage through the same scheduler): deterministic
    bodies derived from the host hash — every 3rd host disallows /private/,
    every 5th /p/, every 7th sets Crawl-delay 2, the rest allow all."""
    h = F.xxhash64("host")
    body = F.concat(
        F.lit("User-agent: *\n"),
        F.when(F.pmod(h, F.lit(3)) == 0, F.lit("Disallow: /private/\n")).otherwise(F.lit("")),
        F.when(F.pmod(h, F.lit(5)) == 0, F.lit("Disallow: /p/\n")).otherwise(F.lit("")),
        F.when(F.pmod(h, F.lit(7)) == 0, F.lit("Crawl-delay: 2\n")).otherwise(F.lit("")),
    )
    return hosts.select("host", body.alias("body"))


def bootstrap_robots(hosts: DataFrame) -> DataFrame:
    """The full robots path: fetch (simulated) → parse → rules table —
    what a production crawl runs once per newly-seen host before its URLs
    become schedulable."""
    return parse_robots_txt(fetch_robots_bodies(hosts))


def robots_filter(candidates: DataFrame, rules: DataFrame) -> DataFrame:
    """Drop candidates whose canonical path starts with a disallowed prefix
    for their host. Broadcast left-join + prefix test + anti-aggregation —
    the frontier never shuffles; the (tiny) rules table moves instead."""
    path = F.regexp_replace(F.col("url_canon"), r"^[a-z]+://[^/]+", "")
    cand = candidates.withColumn("__path", path)
    joined = cand.join(F.broadcast(rules), "host", "left")
    blocked = (
        joined.filter(
            F.col("disallow_prefix").isNotNull()
            & F.col("__path").startswith(F.col("disallow_prefix"))
        )
        .select("url_hash")
        .distinct()
    )
    return cand.join(blocked, "url_hash", "left_anti").drop("__path")


def budget_with_crawl_delay(rules: DataFrame, base_budget: int) -> DataFrame:
    """Per-host budget table: hosts with Crawl-delay d get at most
    ROUND_SECONDS/d fetches per round (min 1), others the base budget."""
    per_host = rules.groupBy("host").agg(F.max("crawl_delay").alias("crawl_delay"))
    # Crawl-delay may only THROTTLE: the derived budget is clamped to
    # base_budget so a small delay can never raise a host above the cap
    # applied to hosts with no robots.txt at all
    return per_host.select(
        "host",
        F.when(
            F.col("crawl_delay") > 0,
            F.least(
                F.lit(base_budget),
                F.greatest(
                    F.floor(F.lit(ROUND_SECONDS) / F.col("crawl_delay")), F.lit(1)
                ),
            ),
        )
        .otherwise(F.lit(base_budget))
        .cast("int")
        .alias("host_budget"),
    )
