"""ANN: bucketed-vs-brute-force recall report, bucket cap, determinism.

The bucketed SRP path is the scale headline (equi-join on bucket, linear in
Σ bucket²); brute force exists only here, as the recall reference on the
bounded test fixture — computed once per module in numpy.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from simplecommoncrawlextractor_spark.operators.similarity import (
    ann_bucketed_top1,
    srp_bucket_assignments,
    srp_weight,
)


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()


@pytest.fixture(scope="module")
def cosines(emb):
    """Brute-force all-pairs cosine: (ids ascending, N×N matrix) in float64,
    the precision the library's candidate scoring uses; self-pairs are -inf
    so they never win a top-1 or pass a threshold."""
    rows = emb.select("vec_id", "embedding").orderBy("vec_id").collect()
    ids = [r["vec_id"] for r in rows]
    v = np.array([r["embedding"] for r in rows], dtype=np.float64)
    norm = np.linalg.norm(v, axis=1)
    cos = (v @ v.T) / np.outer(norm, norm)
    np.fill_diagonal(cos, -np.inf)
    return ids, cos


@pytest.fixture(scope="module")
def exact_top1(cosines):
    """vec_id → its cosine nearest neighbour. Ties go to the smaller id,
    as in the library's (cos desc, id asc) order: argmax keeps the first
    maximum and the ids ascend."""
    ids, cos = cosines
    return {ids[i]: ids[j] for i, j in enumerate(cos.argmax(axis=1))}


@pytest.fixture(scope="module")
def exact_near_dups(cosines):
    """Every unordered pair (id_a < id_b) with cosine >= 0.4."""
    ids, cos = cosines
    a, b = np.nonzero(np.triu(cos >= 0.4, k=1))
    return {(ids[i], ids[j]) for i, j in zip(a, b)}


def test_srp_weight_is_pm1_and_balanced():
    ws = [srp_weight(p, 64, j) for p in range(6) for j in range(64)]
    assert set(ws) == {1.0, -1.0}
    # roughly balanced — a degenerate all-ones plane would bucket nothing
    frac = sum(1 for w in ws if w > 0) / len(ws)
    assert 0.35 < frac < 0.65, frac


def test_bucketed_recall_vs_brute_force(spark, emb, exact_top1):
    """Recall report: fraction of brute-force top-1 neighbors the bucketed
    path reproduces exactly, over the vectors the bucketed path covers.
    SRP with 8 tables × 4 planes on clustered synthetic data should
    recover a solid majority; the floor pins regressions, the printout is
    the report."""
    exact = exact_top1
    approx = {
        r["vec_id"]: r["nn_id"]
        for r in ann_bucketed_top1(
            emb, dim=64, n_planes=4, n_tables=8, max_bucket=512
        ).collect()
    }
    covered = set(approx) & set(exact)
    assert covered, "bucketed path returned nothing"
    hits = sum(1 for v in covered if approx[v] == exact[v])
    recall = hits / len(covered)
    coverage = len(approx) / len(exact)
    print(
        f"\nANN recall report: top1-recall={recall:.3f} over {len(covered)} "
        f"covered vectors, coverage={coverage:.3f} of {len(exact)}"
    )
    assert recall >= 0.5, f"recall collapsed: {recall:.3f}"
    assert coverage >= 0.3, f"coverage collapsed: {coverage:.3f}"


def test_bucket_cap_skips_degenerate_pile(spark):
    """1000 identical vectors land in ONE bucket; with max_bucket=64 the
    pile is skipped (no quadratic blowup), while distinct outliers still
    resolve. The pair count must stay bounded by cap² + outliers."""
    base = spark.range(1000).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.lit(1.0)] * 8).cast("array<float>").alias("embedding"),
    )
    outliers = spark.range(1000, 1004).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[(F.when(F.lit(j) == (F.col("id") % 8).cast("int"), -1.0).otherwise(0.5)) for j in range(8)]
        ).cast("array<float>").alias("embedding"),
    )
    df = base.unionByName(outliers)
    out = ann_bucketed_top1(df, dim=8, n_planes=4, max_bucket=64)
    rows = out.collect()
    pile_ids = {r["vec_id"] for r in rows if r["vec_id"] < 1000}
    assert not pile_ids, "over-full bucket was not skipped"
    # uncapped, the pile explodes into ~10^6 within-bucket pairs
    uncapped = ann_bucketed_top1(df, dim=8, n_planes=4, max_bucket=None)
    assert uncapped.filter(F.col("vec_id") < 1000).count() == 1000


def test_bucket_assignment_deterministic_across_parallelism(spark, emb):
    one = srp_bucket_assignments(emb.repartition(1), 64, 4, n_tables=4)
    many = srp_bucket_assignments(emb.repartition(16), 64, 4, n_tables=4)
    assert one.exceptAll(many).count() == 0 and many.exceptAll(one).count() == 0


def test_bucketed_near_dups_recall(spark, emb, exact_near_dups):
    from simplecommoncrawlextractor_spark.operators.similarity import (
        embedding_near_dups_bucketed,
    )

    exact = exact_near_dups
    approx = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dups_bucketed(
            emb, threshold=0.4, dim=64, n_planes=4, n_tables=8, max_bucket=512
        ).collect()
    }
    assert approx <= exact, "bucketed path emitted a non-near-dup pair"
    assert exact, "fixture has no near-dup pairs at this threshold"
    recall = len(approx) / len(exact)
    print(f"\nnear-dup recall report: {recall:.3f} of {len(exact)} true pairs")
    assert recall >= 0.6, recall


def test_multiprobe_beats_pure_multitable_recall(spark, emb, exact_top1):
    """One-bit multi-probe with HALF the tables must beat the 8-table
    pure variant's top-1 recall (that's its whole point)."""
    from simplecommoncrawlextractor_spark.operators.similarity import (
        ann_multiprobe_top1,
    )

    exact = exact_top1
    mp = {
        r["vec_id"]: r["nn_id"]
        for r in ann_multiprobe_top1(
            emb, dim=64, n_planes=4, n_tables=4, max_bucket=512
        ).collect()
    }
    hits = sum(1 for v in set(mp) & set(exact) if mp[v] == exact[v])
    recall = hits / len(exact)
    print(f"\nmulti-probe recall report: top1-recall={recall:.3f} (8-table pure was 0.720)")
    assert recall >= 0.8, recall


def test_semantic_dedup_quantized_kmeans_deterministic_and_sound(spark, emb):
    """SemDeDup pipeline: (a) clustering is parallelism-invariant (exact
    integer arithmetic, data-derived tiebreaks), (b) every emitted pair
    really is co-clustered with quantized cosine >= tau, verified against
    an independent numpy computation, (c) pairs are a subset of the
    brute-force quantized near-dup set (clustering only PRUNES)."""
    import numpy as np

    from simplecommoncrawlextractor_spark.operators.similarity import (
        kmeans_clusters,
        semantic_near_dup_pairs,
    )

    one = {r["vec_id"]: r["cluster"] for r in kmeans_clusters(emb).collect()}
    many = {
        r["vec_id"]: r["cluster"]
        for r in kmeans_clusters(emb.repartition(16)).collect()
    }
    assert one == many and len(one) == emb.count()

    rows = emb.select("vec_id", "embedding").collect()
    q = {
        r["vec_id"]: np.floor(
            np.array(r["embedding"], dtype=np.float64) * 10000
        ).astype(np.int64)
        for r in rows
    }
    tau_bp = 4000
    got = {
        (r["id_a"], r["id_b"]): r["cluster"]
        for r in semantic_near_dup_pairs(emb).collect()
    }
    for (ia, ib), cl in got.items():
        assert one[ia] == cl and one[ib] == cl, "pair not co-clustered"
        dot = int(q[ia] @ q[ib])
        na2, nb2 = int(q[ia] @ q[ia]), int(q[ib] @ q[ib])
        assert dot > 0 and dot * dot * 10**8 >= tau_bp**2 * na2 * nb2

    # brute-force quantized near-dups (all pairs): the clustered result
    # must be a subset — the cluster stage prunes, never invents
    ids = sorted(q)
    brute = set()
    qm = np.stack([q[i] for i in ids])
    dots = qm @ qm.T
    norms = np.einsum("ij,ij->i", qm, qm)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            d = int(dots[x, y])
            if d > 0 and d * d * 10**8 >= tau_bp**2 * int(norms[x]) * int(norms[y]):
                brute.add((ids[x], ids[y]))
    assert set(got) <= brute
    assert len(got) > 0


def test_semantic_dedup_representatives_keeps_one_per_group(spark, emb):
    """End-to-end SemDeDup: every near-dup group keeps exactly its min-id
    member; vectors in no group all survive."""
    from simplecommoncrawlextractor_spark.operators.similarity import (
        semantic_dedup_representatives,
        semantic_near_dup_pairs,
    )

    pairs = [
        (r["id_a"], r["id_b"]) for r in semantic_near_dup_pairs(emb).collect()
    ]
    # union-find ground truth over the emitted pairs
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    all_ids = {r["vec_id"] for r in emb.select("vec_id").collect()}
    grouped = {x for x in parent}
    expected = (all_ids - grouped) | {x for x in grouped if find(x) == x}
    got = {
        r["vec_id"]
        for r in semantic_dedup_representatives(emb).collect()
    }
    assert got == expected
    assert len(pairs) > 0


def test_kmeans_and_semantic_dedup_empty_input(spark):
    """Empty embeddings table: kmeans/semantic dedup return empty frames
    instead of raising at plan construction (r5 review finding: the
    literal-centroid _assign hit a numpy AxisError on zero centroids)."""
    from simplecommoncrawlextractor_spark.operators.similarity import (
        kmeans_clusters,
        semantic_near_dup_pairs,
    )

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert kmeans_clusters(empty).count() == 0
    assert semantic_near_dup_pairs(empty).count() == 0
