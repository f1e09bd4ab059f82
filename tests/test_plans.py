"""Physical-plan audits: the plan properties that make the engine scale
must not regress — column pruning, partial aggregation, broadcast joins,
and no accidental cartesian products. (SURVEY §4.)"""

from __future__ import annotations

import os
import re
import sys

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from simplecommoncrawlextractor_spark.operators import analytics as A  # noqa: E402
from simplecommoncrawlextractor_spark.operators.cdxview import cdx_view  # noqa: E402
from simplecommoncrawlextractor_spark.plans.frontier import (  # noqa: E402
    canonical_candidates,
    politeness_schedule,
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_count_query_prunes_and_partial_aggregates(spark, sf_dir):
    df = A.a1_count_mimes(cdx_view(spark, sf_dir))
    plan = _plan(df)
    # partial + final hash aggregation (the reference needed a separate
    # reducer program for the final merge; Spark plans both stages)
    assert plan.count("HashAggregate") >= 2
    # column pruning: the scan must read only the two source columns the
    # derivation needs, not the whole orders table
    assert "ReadSchema: struct<o_orderkey:bigint" in plan
    assert "o_totalprice" not in plan.split("ReadSchema")[1].split("\n")[0]


def test_digest_semijoin_broadcasts(spark, sf_dir):
    qs = entrymod.queries()
    plan = _plan(qs["f7_digest_semijoin"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_seen_antijoin_broadcasts(spark, sf_dir):
    qs = entrymod.queries()
    plan = _plan(qs["f9_seen_antijoin"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_frontier_pipeline_no_cartesian(spark, sf_dir):
    from simplecommoncrawlextractor_spark.plans.frontier import harvest_outlinks
    from simplecommoncrawlextractor_spark.sources import interleaved_documents

    docs = interleaved_documents(spark, sf_dir)
    out = politeness_schedule(canonical_candidates(harvest_outlinks(docs)), 5, 4)
    plan = _plan(out)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    # the url_hash dedup must be an aggregation (partial combine), not a sort
    assert "min_by" in plan or "HashAggregate" in plan


def test_filters_reach_parquet_scan(spark, sf_dir):
    # a plain filter on a physical parquet column must be pushed down
    df = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        F.col("o_custkey") == 42
    ).select("o_orderkey")
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(o_custkey), EqualTo(o_custkey,42)]" in plan


def test_whole_stage_codegen_covers_relational_core(spark, sf_dir):
    # AQE wraps the plan lazily and hides codegen spans until execution;
    # disable it for this one assertion so executedPlan is concrete
    old = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        df = A.a6_count_tld_mime_200(cdx_view(spark, sf_dir))
        plan = _plan(df)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old)
    # Spark 4 renders whole-stage-codegen stages as "*(N) Operator"
    assert "*(1)" in plan and "*(2)" in plan


def test_ann_bucketed_no_cartesian_and_min_by(spark, sf_dir):
    """The oracled ANN headline must be equi-joins on (tbl, bucket) + a
    min_by hash aggregation — never a cartesian/nested-loop pair stage or
    a window sort (the round-1 crossJoin is gone for good)."""
    qs = entrymod.queries()
    plan = _plan(qs["ann_lsh_bucketed"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "min_by" in plan
    assert "Window" not in plan
    # the planes table rides a broadcast, not plan literals: no thousands
    # of CASE WHEN weight nodes in the plan text
    assert plan.count("CASE WHEN") < 50


def test_dedup_caps_no_join_branch_reevaluation(spark, sf_dir):
    """minhash/jaccard pair generation comes from ONE grouped subtree
    (collect_list + in-group pairs): the plan must contain exactly one
    scan of the documents table — a self-join shape would scan it twice."""
    qs = entrymod.queries()
    for name in ("dedup_minhash_lsh", "dedup_ngram_jaccard"):
        plan = _plan(qs[name](spark, sf_dir))
        n_scans = plan.count("documents.parquet")
        assert n_scans == 1, (name, n_scans)
        assert "CartesianProduct" not in plan


def test_semantic_dedup_plan_no_cartesian_no_python(spark, sf_dir):
    """SemDeDup plan audit: no CartesianProduct (within-cluster pairs come
    from one grouped pass per cluster key, never a row × row product) and
    no per-row Python UDF node (no BatchEvalPython or ArrowEvalPython).
    The Python that does run is batched: the k-means assignment is a
    MapInPandas and the pair stage a FlatMapGroupsInPandas."""
    from simplecommoncrawlextractor_spark.operators.similarity import (
        semantic_near_dup_pairs,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    plan = _plan(semantic_near_dup_pairs(emb))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the within-cluster pair stage joins on the cluster key
    assert "cluster" in plan


def test_canonicalize_evaluated_exactly_once(spark, sf_dir):
    """Round 6: the F12 filter below the canonicalize projection used to
    split the UDF into TWO ArrowEvalPython nodes (one feeding the filter,
    one re-canonicalizing survivors). The mapInPandas barrier must keep
    it at exactly one Python canonicalize evaluation; extract_urls stays
    the only ArrowEvalPython in the frontier pipeline."""
    from simplecommoncrawlextractor_spark.plans.frontier import harvest_outlinks
    from simplecommoncrawlextractor_spark.sources import interleaved_documents

    docs = interleaved_documents(spark, sf_dir)
    out = politeness_schedule(canonical_candidates(harvest_outlinks(docs)), 5, 4)
    plan = _plan(out)
    assert plan.count("MapInPandas") == 1
    # exactly one ArrowEvalPython stage (extract_urls); a second one means
    # the canonicalizer is being re-evaluated for the filter again
    assert plan.count("ArrowEvalPython") == 1
    assert "canonicalize_url" not in plan.split("MapInPandas")[0]


def test_sniff_evaluated_once_and_conditionally(spark, sf_dir):
    """Round 6: the two-phase sniff must be ONE MapInPandas pass — the
    previous F.when operator split evaluated the full-payload sniff
    unconditionally for every row and duplicated both sniffs below the
    pushed-down selection filter."""
    from simplecommoncrawlextractor_spark.operators.extraction import (
        ExtractorConfig,
        extract,
    )

    df = spark.range(50).select(
        F.concat(F.lit("https://x.com/p/"), F.col("id").cast("string"), F.lit(".html")).alias("url"),
        F.lit("text/html").alias("header_mime"),
        F.concat(F.lit("body"), F.col("id").cast("string")).cast("binary").alias("payload"),
        F.lit(None).cast("string").alias("truncated"),
        (F.col("id") + 100).cast("long").alias("length"),
    )
    out = extract(df, ExtractorConfig(include_detected_mimes="pdf|html"), presniffed=False)
    plan = _plan(out)
    assert plan.count("MapInPandas") == 1
    assert "sniff_mime" not in plan  # no ArrowEvalPython sniff remnants


def test_substring_spans_single_explode_and_partial_agg(spark, sf_dir):
    """Duplicated-substring spans: the gram groupBy partial-aggregates
    map-side (boilerplate grams collapse before the shuffle) and no
    Python UDF appears — tokenize/window-gram generation is all JVM
    higher-order functions."""
    from simplecommoncrawlextractor_spark.operators.textquality import (
        duplicate_substring_spans,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(duplicate_substring_spans(docs))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 2  # partial+final on the gram key


# Python plan nodes: each one runs its rows through a Python worker
_PY_NODES = (
    "MapInPandas",
    "MapInArrow",
    "ArrowEvalPython",
    "BatchEvalPython",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
)
_CHILD = re.compile(r"^((?:   |:  )*)(?:\+- |:- )(.*)$")


def _plan_nodes(plan: str) -> list[tuple[int, str]]:
    """(depth, node text) per plan-tree line; lines that are not tree
    nodes (a string literal's embedded newline) are dropped."""
    lines = plan.splitlines()
    nodes = [(0, lines[0])] if lines else []
    for line in lines[1:]:
        m = _CHILD.match(line)
        if m:
            nodes.append((len(m.group(1)) // 3 + 1, m.group(2)))
    return nodes


def _python_under_range_sort(plan: str) -> list[str]:
    """Python nodes in the child stage of a range exchange, i.e. between an
    ``Exchange rangepartitioning`` and the next exchange (or cached
    relation) below it: the range partitioner's sample job runs that stage
    a second time."""
    nodes = _plan_nodes(plan)
    found = []
    for i, (depth, text) in enumerate(nodes):
        if not text.startswith("Exchange rangepartitioning"):
            continue
        stop_below = None  # depth of a stage boundary whose subtree is skipped
        for d, t in nodes[i + 1 :]:
            if d <= depth:
                break
            if stop_below is not None and d > stop_below:
                continue
            stop_below = None
            name = re.sub(r"^\*\(\d+\) ", "", t)
            if name.startswith(("Exchange", "BroadcastExchange", "ReusedExchange", "InMemory")):
                stop_below = d
            elif name.split(" ", 1)[0] in _PY_NODES:
                found.append(name[:80])
    return found


def test_seen_set_plans_run_no_python(spark):
    """The bloom seen set is bit arithmetic in the JVM: building, merging
    and probing its blobs plans no Python node."""
    from simplecommoncrawlextractor_spark.plans.state import BloomSeenSet

    seen = BloomSeenSet(n_buckets=8)
    hashes = spark.range(100).selectExpr("xxhash64(id) AS url_hash")
    rows = seen.bucketize(hashes).select("bucket", "url_hash")
    blooms = seen.build_blooms(rows)
    plans = {
        "build_blooms": blooms,
        "merge_blooms": seen.merge_blooms(blooms, hashes),
        "probe": seen.probe(hashes, rows, blooms),
    }
    found = {
        name: [t for _, t in _plan_nodes(_plan(df))
               if re.sub(r"^\*\(\d+\) ", "", t).split(" ", 1)[0] in _PY_NODES]
        for name, df in plans.items()
    }
    assert not any(found.values()), found


def test_no_python_stage_under_a_range_sort(spark, sf_dir):
    """A global sort's range partitioner first runs its child stage to
    sample the bounds and then runs it again to write the shuffle, so a
    Python node in that stage runs twice (``sort_once`` ends the stage at
    a hash shuffle instead). No gate query may plan one there."""
    bad = {}
    for name, fn in entrymod.queries().items():
        hits = _python_under_range_sort(_plan(fn(spark, sf_dir)))
        if hits:
            bad[name] = hits
    assert not bad, f"Python nodes re-run by a range sort's sample job: {bad}"


def test_sort_once_runs_the_python_child_once(spark):
    """Under a bare ``orderBy`` the range sample job re-runs the Python
    child, so it sees every row twice; under ``sort_once`` it sees each row
    once, and the sorted rows are the same."""
    from simplecommoncrawlextractor_spark.sources.tables import sort_once

    seen = spark.sparkContext.accumulator(0)

    def count(batches):
        for pdf in batches:
            seen.add(len(pdf))
            yield pdf

    n = 2_000
    df = spark.range(n).select(((F.col("id") * 7919) % n).alias("a")).mapInPandas(count, "a long")
    bare = [r.a for r in df.orderBy("a").collect()]
    assert seen.value == 2 * n
    seen.value = 0
    once = [r.a for r in sort_once(df, "a").collect()]
    assert seen.value == n
    assert once == bare == list(range(n))


def test_split_memo_keys_on_split_confs(spark, tmp_path):
    """The same files read under a different maxPartitionBytes are probed
    again, not served the split count memoized under the old value."""
    from simplecommoncrawlextractor_spark.sources import tables

    path = str(tmp_path / "t.parquet")
    spark.range(50_000).coalesce(1).write.parquet(path)
    conf = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(conf)
    try:
        wide = spark.read.parquet(path)
        assert wide.rdd.getNumPartitions() == 1
        assert tables.spread(wide) is not wide  # 1 split < 8: repartitioned
        spark.conf.set(conf, "4096")
        narrow = spark.read.parquet(path)
        n = narrow.rdd.getNumPartitions()
        assert n >= 8
        assert tables.spread(narrow) is narrow  # enough splits: left as is
        assert tables._SPLITS_MEMO[tables._splits_key(narrow)] == n
    finally:
        spark.conf.set(conf, old)
    assert tables._SPLITS_MEMO[tables._splits_key(wide)] == 1
