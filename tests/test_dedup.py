"""Dedup family: frequency-cap behavior under adversarial skew, xxhash64
production path vs the md5 oracle path, and cap-vs-recall sanity."""

from __future__ import annotations

from pyspark.sql import functions as F

from simplecommoncrawlextractor_spark.operators.dedup import (
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
)


def _corpus(spark):
    """1000 docs that all share ONE hot shingle ('common boiler plate')
    plus a unique tail each; docs 0 and 1 are true near-dups (identical
    long tails); doc 2/3 a second near-dup pair."""
    base = spark.range(1000).select(
        F.concat(F.lit("d"), F.format_string("%04d", F.col("id"))).alias("doc_id"),
        F.concat(
            F.lit("common boiler plate "),
            F.when(F.col("id") < 2, F.lit("alpha beta gamma delta epsilon zeta eta theta"))
            .when(F.col("id") < 4, F.lit("one two three four five six seven eight"))
            .otherwise(
                F.concat(
                    F.lit("unique"), F.col("id").cast("string"),
                    F.lit(" tail"), F.col("id").cast("string"),
                    F.lit(" word"), (F.col("id") * 7).cast("string"),
                )
            ),
        ).alias("text"),
    )
    return base


def test_jaccard_df_cap_bounds_adversarial_shingle(spark):
    docs = _corpus(spark).cache()
    # the hot shingle alone would inject ~500k pairs; capped, the pair set
    # stays near the true near-dups
    pairs = ngram_jaccard_pairs(docs, threshold=0.3, max_doc_freq=50)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert ("d0000", "d0001") in got
    assert ("d0002", "d0003") in got
    assert len(got) < 50, f"cap failed to bound pair blowup: {len(got)} pairs"


def test_jaccard_never_overestimates_under_cap(spark):
    """Capped J ≤ uncapped J for every pair (sizes count all shingles)."""
    docs = _corpus(spark).filter(F.col("doc_id") < "d0050").cache()
    capped = {
        (r["id_a"], r["id_b"]): r["inter"]
        for r in ngram_jaccard_pairs(docs, threshold=0.0, max_doc_freq=10).collect()
    }
    full = {
        (r["id_a"], r["id_b"]): r["inter"]
        for r in ngram_jaccard_pairs(docs, threshold=0.0, max_doc_freq=None).collect()
    }
    assert set(capped) <= set(full)
    for k, inter in capped.items():
        assert inter <= full[k]


def test_minhash_band_cap_skips_identical_pile(spark):
    """500 byte-identical docs share every band signature → one bucket of
    500 per band; with the cap they produce NO lsh candidate pairs (exact
    dedup owns identical piles), while a distinct near-dup pair in normal
    buckets is still found."""
    pile = spark.range(500).select(
        F.concat(F.lit("p"), F.format_string("%03d", F.col("id"))).alias("doc_id"),
        F.lit("spam spam spam wonderful spam lovely spam baked beans spam").alias("text"),
    )
    pair = spark.createDataFrame(
        [
            ("x1", "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
            ("x2", "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        ],
        "doc_id string, text string",
    )
    docs = pile.unionByName(pair)
    got = {(r["id_a"], r["id_b"]) for r in minhash_lsh_candidates(docs, max_band_bucket=64).collect()}
    assert got == {("x1", "x2")}
    uncapped = minhash_lsh_candidates(
        docs.filter(F.col("doc_id") < "p100").unionByName(pair),
        max_band_bucket=None,
    ).count()
    assert uncapped == 100 * 99 // 2 + 1  # the quadratic blowup the cap avoids


def test_xxhash_mode_matches_md5_on_true_dups(spark):
    """Different hash → different random permutations, but docs with
    IDENTICAL shingle sets have identical signatures under ANY hash: both
    modes must emit every true-duplicate pair."""
    docs = _corpus(spark).filter(F.col("doc_id") < "d0100").cache()
    md5_pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_candidates(docs, hash_mode="md5").collect()
    }
    xx_pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_candidates(docs, hash_mode="xxhash64").collect()
    }
    for must in [("d0000", "d0001"), ("d0002", "d0003")]:
        assert must in md5_pairs
        assert must in xx_pairs


def test_simhash_segment_cap_skips_identical_pile(spark):
    """1000 byte-identical docs share all four simhash segments → four
    buckets of 1000; with the cap they produce NO candidate pairs (exact
    dedup owns identical piles) while a distinct near-dup pair in normal
    buckets is still found, and the run stays bounded."""
    from simplecommoncrawlextractor_spark.operators.dedup import simhash_near_dups

    pile = spark.range(1000).select(
        F.concat(F.lit("p"), F.format_string("%04d", F.col("id"))).alias("doc_id"),
        F.lit("spam spam spam wonderful spam lovely spam baked beans spam").alias("text"),
    )
    pair = spark.createDataFrame(
        [
            ("x1", "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
            ("x2", "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        ],
        "doc_id string, text string",
    )
    docs = pile.unionByName(pair)
    got = {
        (r["id_a"], r["id_b"])
        for r in simhash_near_dups(docs, max_hamming=8, max_segment_bucket=64).collect()
    }
    assert got == {("x1", "x2")}
    # uncapped mode (max_segment_bucket=None) really does produce the
    # quadratic pair set the cap avoids — on a small slice so the test
    # stays fast
    small = pile.filter(F.col("doc_id") < "p0050").unionByName(pair)
    uncapped = simhash_near_dups(small, max_hamming=8, max_segment_bucket=None).count()
    assert uncapped == 50 * 49 // 2 + 1


def test_simhash_md5hex_mode_matches_xxhash_on_true_dups(spark):
    """Identical token multisets hash to identical simhashes under ANY
    per-token hash: both modes must emit every true-duplicate pair with
    hamming 0 (the md5hex mode exists so the DuckDB gate oracle can
    replay the bit math exactly)."""
    from simplecommoncrawlextractor_spark.operators.dedup import simhash_near_dups

    docs = _corpus(spark).filter(F.col("doc_id") < "d0030").cache()
    for mode in ("xxhash64", "md5hex"):
        got = {
            (r["id_a"], r["id_b"]): r["hamming"]
            for r in simhash_near_dups(docs, max_hamming=8, hash_mode=mode).collect()
        }
        assert got.get(("d0000", "d0001")) == 0, mode
        assert got.get(("d0002", "d0003")) == 0, mode


def _union_find_components(pairs, nodes) -> dict:
    """Reference CC over collected (id_a, id_b) rows: node → its
    component's min id, singletons their own component."""
    parent = {r["doc_id"]: r["doc_id"] for r in nodes.collect()}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in pairs.collect():
        ra, rb = find(r["id_a"]), find(r["id_b"])
        parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_connected_components_transitive_and_singletons(spark):
    """A~B and B~C cluster A,B,C even when A,C never collided; separate
    clusters stay separate; untouched nodes are their own component; and
    dedup_representatives keeps exactly one doc per cluster."""
    from simplecommoncrawlextractor_spark.operators.dedup import (
        connected_components_star,
        dedup_representatives,
    )

    pairs = spark.createDataFrame(
        [("d0", "d1"), ("d1", "d2"), ("d2", "d3"), ("d5", "d6")],
        "id_a string, id_b string",
    )
    nodes = spark.createDataFrame([(f"d{i}",) for i in range(8)], "doc_id string")
    comp = connected_components_star(pairs, nodes)
    got = {r["doc_id"]: r["component"] for r in comp.collect()}
    assert got == {
        "d0": "d0", "d1": "d0", "d2": "d0", "d3": "d0",
        "d4": "d4", "d5": "d5", "d6": "d5", "d7": "d7",
    }
    docs = nodes.withColumn("text", F.col("doc_id"))
    reps = {r["doc_id"] for r in dedup_representatives(docs, comp).collect()}
    assert reps == {"d0", "d4", "d5", "d7"}


def test_connected_components_long_chain_converges_or_raises(spark):
    """A 12-doc chain (doc_i ~ doc_{i+1} only): star needs 4 rounds to
    reach its fixpoint and a 5th to see that nothing changed. With
    max_iterations=4 it MUST raise rather than return a split labeling;
    with 5 all 12 collapse to one component."""
    import pytest as _pytest

    from simplecommoncrawlextractor_spark.operators.dedup import (
        connected_components_star,
    )

    ids = [f"d{i:02d}" for i in range(12)]
    pairs = spark.createDataFrame(
        [(ids[i], ids[i + 1]) for i in range(11)], "id_a string, id_b string"
    )
    nodes = spark.createDataFrame([(i,) for i in ids], "doc_id string")
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components_star(pairs, nodes, max_iterations=4)
    got = {
        r["doc_id"]: r["component"]
        for r in connected_components_star(pairs, nodes, max_iterations=5).collect()
    }
    assert set(got.values()) == {"d00"}


def test_star_cc_matches_union_find_and_handles_long_chain(spark):
    """connected_components_star must (a) agree with a union-find
    reference on a mixed clusters+singletons graph, (b) collapse a
    1000-node path graph — diameter 999, far beyond any sane
    label-propagation budget — within its O(log n) round bound, and
    (c) agree with union-find on the MinHash candidate pairs of a real
    near-dup fixture."""
    from simplecommoncrawlextractor_spark.operators.dedup import (
        connected_components_star,
        minhash_lsh_candidates,
    )

    # (a) transitive chains + separate cluster + singletons
    pairs = spark.createDataFrame(
        [("d0", "d1"), ("d1", "d2"), ("d2", "d3"), ("d5", "d6")],
        "id_a string, id_b string",
    )
    nodes = spark.createDataFrame([(f"d{i}",) for i in range(8)], "doc_id string")
    got = {
        r["doc_id"]: r["component"]
        for r in connected_components_star(pairs, nodes).collect()
    }
    assert got == _union_find_components(pairs, nodes)

    # (b) adversarial 1000-node path graph: label propagation would need
    # 999 rounds; the star alternation converges in O(log n)
    n = 1000
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    cnodes = spark.range(n).withColumnRenamed("id", "doc_id")
    comp = {
        r["doc_id"]: r["component"]
        for r in connected_components_star(
            chain, cnodes, id_col="doc_id", max_iterations=30
        ).collect()
    }
    assert set(comp.values()) == {0} and len(comp) == n

    # (c) the MinHash fixture's real candidate graph
    texts = []
    base = "the quick brown fox jumps over the lazy dog " * 4
    for i in range(12):
        texts.append((f"m{i:02d}", base + f" tail{i % 3}"))
    docs = spark.createDataFrame(texts, "doc_id string, text string")
    cand = minhash_lsh_candidates(docs).localCheckpoint()
    nodes = docs.select("doc_id")
    got = {
        r["doc_id"]: r["component"]
        for r in connected_components_star(cand, nodes).collect()
    }
    want = _union_find_components(cand, nodes)
    assert got == want
    assert len(set(want.values())) < len(want), "fixture formed no cluster"


def test_gen_pairs_width_check_at_int32_boundary():
    """gen_pairs' int32 index arrays and Arrow offsets must refuse, not
    wrap, past 2^31 - 1 — checked on counts alone, nothing allocated."""
    import pytest

    from simplecommoncrawlextractor_spark.operators.dedup import _check_pair_width

    _check_pair_width(2**31 - 1, 1)  # largest index the int32 ramps hold
    _check_pair_width(2**28 - 1, 8)  # largest id blob the offsets address
    with pytest.raises(OverflowError, match="2,147,483,648 pair instances"):
        _check_pair_width(2**31, 1)
    with pytest.raises(OverflowError, match="268,435,456 pair instances"):
        _check_pair_width(2**28, 8)


def test_ingroup_pairs_enumerates_capped_groups():
    """The Arrow kernels' shared pair enumerator on hand-built sorted keys:
    groups of 1, 2, 3 and cap+1 rows. Singletons and over-cap groups emit
    nothing; every other group emits each (a, b), a < b, once, as int32
    indices; an uncapped call keeps the big group."""
    import numpy as np

    from simplecommoncrawlextractor_spark.operators.dedup import _ingroup_pairs

    keys = np.array([10, 20, 20, 30, 30, 30, 40, 40, 40, 40], dtype=np.int64)
    a, b = _ingroup_pairs(keys, 3)
    assert a.dtype == b.dtype == np.int32
    assert list(zip(a.tolist(), b.tolist())) == [(1, 2), (3, 4), (3, 5), (4, 5)]
    a, b = _ingroup_pairs(keys, None)
    assert a.dtype == b.dtype == np.int32
    assert list(zip(a.tolist(), b.tolist())) == [
        (1, 2), (3, 4), (3, 5), (4, 5),
        (6, 7), (6, 8), (6, 9), (7, 8), (7, 9), (8, 9),
    ]
    a, b = _ingroup_pairs(keys[:1], None)
    assert a.size == b.size == 0
