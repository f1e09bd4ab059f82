"""Similarity search over the ``embeddings`` table (vec_id, embedding
array<float>, label).

- LSH-bucketed (sign-random-projection) top-k: the 100 TB path. Vectors
  hash to a bucket in each of L independent tables from the signs of k
  fixed pseudo-random projections (deterministic, integer-derived — no
  RNG state to ship); candidate pairs only form inside a bucket, turning
  O(N²) into O(Σ bucket²) per table. Bucket is the shuffle key, so the
  same plan partitions across any cluster.
- Multi-probe variant: the query side also probes each Hamming-1
  neighbor bucket — higher recall per table, half the tables.
- Candidates pay one JVM-side cosine each (``aggregate(zip_with(...))``
  in double precision, no Python).
- SemDeDup: quantized integer k-means, then exact cosine within a cluster.
- The gate's variants are DuckDB-oracled bit-for-bit; every approximate
  variant carries a recall-report test against a brute-force reference
  that lives in tests/test_similarity.py, not here.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sources.tables import sort_once


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def srp_weight(p: int, dim: int, j: int) -> float:
    """Global plane p's ±1 weight for dimension j: Knuth multiplicative
    hash of the (plane, dim) index — pure integer arithmetic, so any engine
    (DuckDB oracle included) reproduces it bit-for-bit. No sin()/RNG."""
    return 1.0 if ((1 + p * dim + j) * 2654435761) % (1 << 32) < (1 << 31) else -1.0


def srp_bucket_assignments(
    emb: DataFrame, dim: int, n_planes: int = 4, n_tables: int = 1,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """(id, tbl, bucket) for every vector × table, as ONE shuffle-free
    Arrow pass (round 6; guide §4.2): the n_tables·n_planes ±1 plane
    matrix rides the task closure as a numpy constant and each batch
    accumulates all projections dimension-by-dimension, vectorized across
    rows and planes. This replaces a broadcast-join that exploded N into
    N·n_tables·n_planes rows, folded each 64-dim dot product through
    Catalyst's *interpreted* higher-order aggregate/zip_with lambdas, and
    then shuffled the scored rows into a (id, tbl) groupBy — all three
    costs vanish (plan: BroadcastNestedLoopJoin + 2 Exchange → MapInPandas,
    0 Exchange).

    Bit-exactness with the previous plan (and the DuckDB oracle, which
    replays ``srp_weight`` in SQL): the accumulation adds the products in
    the same dimension order the JVM left-fold did, in the same float64
    arithmetic; products v_j·(±1.0) are exact, so every intermediate —
    and therefore every sign bit and bucket id — is bit-identical. The
    sign test ``acc >= 0`` maps NaN to bit 0 exactly like the previous
    ``F.when(s >= 0, ...).otherwise(0)``."""
    import numpy as np
    import pandas as pd

    from ..sources.tables import spread

    n_pl = n_planes * n_tables
    # plane p_global = t·n_planes + p: each table draws from a disjoint
    # global plane index, so tables are independent hashes
    W = np.array(
        [[srp_weight(p, dim, j) for j in range(dim)] for p in range(n_pl)],
        dtype=np.float64,
    )
    pw = 1 << np.arange(n_planes, dtype=np.int64)
    id_t = emb.schema[id_col].dataType.simpleString()
    tbl_ids = np.arange(n_tables, dtype=np.int32)

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.array(pdf[vec_col].tolist(), dtype=np.float64)  # B×dim
            b = len(V)
            acc = np.zeros((b, n_pl), dtype=np.float64)
            for j in range(dim):
                # same left-fold order as aggregate(zip_with(...)): exact
                acc += V[:, j : j + 1] * W[None, :, j].reshape(1, n_pl)
            bits = acc >= 0.0
            bk = (bits.reshape(b, n_tables, n_planes) * pw[None, None, :]).sum(axis=2)
            yield pd.DataFrame(
                {
                    id_col: np.repeat(pdf[id_col].to_numpy(), n_tables),
                    "tbl": np.tile(tbl_ids, b),
                    "bucket": bk.reshape(-1),
                }
            )

    # spread: the benchmark embeddings parquet is one row group; without
    # it the whole projection pass would run in a single scan task
    return spread(emb.select(id_col, vec_col)).mapInPandas(
        gen, f"{id_col} {id_t}, tbl int, bucket long"
    )


def _cap_groups(df: DataFrame, keys: list[str], cap: int | None) -> DataFrame:
    """Drop rows of groups larger than ``cap`` (degenerate LSH buckets
    would otherwise go quadratic in the pair stage). The keep set is one
    row per group — always broadcastable."""
    if cap is None:
        return df
    sizes = df.groupBy(*keys).agg(F.count("*").alias("__n"))
    keep = sizes.filter(F.col("__n") <= cap).select(*keys)
    return df.join(F.broadcast(keep), keys, "left_semi")


def _cosine_scored(
    emb: DataFrame, cand: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """(id_a, id_b) candidates → (id_a, id_b, cos): vectors join back once
    per side with per-vector norms precomputed (never re-folded per pair)."""
    normed = emb.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v")
    ).select(id_col, "__v", _norm(F.col("__v")).alias("__n"))
    ea = normed.select(F.col(id_col).alias("id_a"), F.col("__v").alias("va"), F.col("__n").alias("na"))
    eb = normed.select(F.col(id_col).alias("id_b"), F.col("__v").alias("vb"), F.col("__n").alias("nb"))
    return (
        cand.join(ea, "id_a")
        .join(eb, "id_b")
        .select(
            "id_a", "id_b",
            (_dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))).alias("cos"),
        )
    )


def _top1(scored: DataFrame) -> DataFrame:
    """(id_a, id_b, cos) → one nn per id_a as a min_by aggregation
    (map-side partial combine, not a window sort); the ordering (cos desc,
    id asc) is the lexicographic key, and duplicate candidate pairs are
    harmless by construction."""
    return (
        scored.groupBy("id_a")
        .agg(
            F.min_by(
                F.col("id_b"),
                F.struct((-F.col("cos")).alias("nc"), F.col("id_b").alias("i")),
            ).alias("nn_id")
        )
        .select(F.col("id_a").alias("vec_id"), "nn_id")
        .orderBy("vec_id")
    )


def ann_bucketed_top1(
    emb: DataFrame, dim: int = 16, n_planes: int = 4, n_tables: int = 8,
    max_bucket: int | None = 512,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Approximate NN via multi-table SRP LSH: ``n_tables`` independent
    sign-random-projection hashes of ``n_planes`` bits each; candidate
    pairs form inside any table's bucket (OR-amplification — recall
    1-(1-p^k)^L instead of p^k), are deduped slim (ids only), and only
    then pay the cosine. The crossJoin becomes equi-joins on (tbl,
    bucket), shuffle-partitioned, linear in Σ bucket² per table.

    ``max_bucket`` caps degenerate buckets per table (a constant-vector
    pile would go quadratic): over-full buckets are skipped entirely —
    deterministic, oracle-mirrorable; a pair sharing a smaller bucket in
    another table still surfaces. At production scale set max_bucket as a
    multiple of the expected bucket size N / 2^n_planes."""
    # localCheckpoint the assignment: it feeds the cap's size aggregate,
    # the semi-join AND both branches of the bucket self-join — without
    # materialization the Arrow projection pass would re-execute once per
    # branch (guide §3.3: materialize an intermediate both join sides
    # reuse). ~160k slim rows, within-query only — nothing persists
    # across runs.
    asg = srp_bucket_assignments(
        emb, dim, n_planes, n_tables, id_col, vec_col
    ).localCheckpoint()
    buck = _cap_groups(asg, ["tbl", "bucket"], max_bucket)
    a = buck.select(F.col(id_col).alias("id_a"), "tbl", "bucket")
    b = buck.select(F.col(id_col).alias("id_b"), "tbl", "bucket")
    # candidates stay slim (ids only) through the bucket self-join (NOT the
    # in-group pair-list trick dedup uses: ANN buckets are few and large,
    # so per-group pair materialization would skew one task per bucket —
    # the join spreads pair generation across shuffle partitions),
    # UNORDERED (id_a < id_b) — each pair pays the cosine once and is
    # mirrored afterwards. NO distinct: a pair colliding in k tables costs
    # k cosines, but the min_by top-1 is duplicate-invariant and skipping
    # the dedup shuffle is cheaper than the repeated cosine work (measured
    # ~1.5× at sf0.1; the oracle's DISTINCT yields the same result)
    cand = (
        a.join(b, ["tbl", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    scored = _cosine_scored(emb, cand, id_col, vec_col)
    # mirror with ONE evaluation: a union of `scored` with its swap would
    # execute the join+cosine subtree twice; exploding a 2-struct array
    # emits both directions from a single pass (round 6; same rows)
    directed = scored.select(
        F.explode(
            F.array(
                F.struct("id_a", "id_b", "cos"),
                F.struct(
                    F.col("id_b").alias("id_a"),
                    F.col("id_a").alias("id_b"),
                    F.col("cos"),
                ),
            )
        ).alias("x")
    ).select("x.id_a", "x.id_b", "x.cos")
    return _top1(directed)


def ann_multiprobe_top1(
    emb: DataFrame, dim: int = 16, n_planes: int = 4, n_tables: int = 4,
    max_bucket: int | None = 512,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Multi-probe SRP ANN: each query vector probes its own bucket AND
    every Hamming-1 neighbor bucket (flip one plane's sign bit) in each
    table. One flipped plane is exactly the most likely miss — the
    neighbor sits just across one hyperplane — so per-table hit
    probability rises from p^k to p^k + k·p^(k-1)(1-p) (≈0.16 → ≈0.53 at
    p≈0.63), letting HALF the tables of the pure multi-table variant reach
    higher recall for similar candidate volume. Probing is query-side
    only: the index side stays one bucket per (id, tbl), so the join is
    still an equi-join, just on (tbl, probe = bucket)."""
    # materialized once for the same reason as ann_bucketed_top1 (cap
    # aggregate + semi-join + both self-join branches)
    asg = srp_bucket_assignments(
        emb, dim, n_planes, n_tables, id_col, vec_col
    ).localCheckpoint()
    buck = _cap_groups(asg, ["tbl", "bucket"], max_bucket)
    probes = F.array(
        F.col("bucket"), *[F.col("bucket").bitwiseXOR(F.lit(1 << j)) for j in range(n_planes)]
    )
    a = buck.select(
        F.col(id_col).alias("id_a"), "tbl", F.explode(probes).alias("bucket")
    )
    b = buck.select(F.col(id_col).alias("id_b"), "tbl", "bucket")
    cand = (
        a.join(b, ["tbl", "bucket"])
        .filter(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b")
    )
    # duplicates (pair found via several probes/tables) are min_by-invariant
    return _top1(_cosine_scored(emb, cand, id_col, vec_col))


def embedding_near_dups_bucketed(
    emb: DataFrame, threshold: float = 0.95,
    dim: int = 16, n_planes: int = 4, n_tables: int = 8,
    max_bucket: int | None = 512,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Scale path for embedding near-dup pairs: candidates from the same
    multi-table SRP buckets as ann_bucketed_top1, threshold applied after
    one cosine per distinct unordered pair. Recall < 1 by construction —
    but for the near-dup regime (cos ≥ ~0.9, angle ≤ 26°) each 4-bit
    table collides with p^4 ≈ 0.55, so 8 tables catch ≈ 1-(0.45)^8 ≈ 0.998
    of true near-dup pairs; far better than its top-1 recall."""
    asg = srp_bucket_assignments(
        emb, dim, n_planes, n_tables, id_col, vec_col
    ).localCheckpoint()
    buck = _cap_groups(asg, ["tbl", "bucket"], max_bucket)
    a = buck.select(F.col(id_col).alias("id_a"), "tbl", "bucket")
    b = buck.select(F.col(id_col).alias("id_b"), "tbl", "bucket")
    # distinct here (unlike top-1): every surviving pair is OUTPUT, so
    # duplicates across tables would duplicate result rows
    cand = (
        a.join(b, ["tbl", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    return (
        _cosine_scored(emb, cand, id_col, vec_col)
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b")
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# SemDeDup-style semantic dedup: quantized k-means + within-cluster cosine
# ---------------------------------------------------------------------------


def quantized_vectors(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    scale: int = 10_000,
) -> DataFrame:
    """(id, q array<long>): embeddings quantized to integer basis points
    via floor(x*scale) — floor (not round) because floor is defined
    identically in every engine, so the whole semantic-dedup pipeline
    stays in EXACT integer arithmetic and is bit-replayable by the
    DuckDB oracle (float sums are association-order-dependent; integer
    sums are not)."""
    q = F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * scale).cast("long"),
    )
    return emb.select(F.col(id_col).alias("id"), q.alias("q"))


def _assign(vecs: DataFrame, centroid_rows: list[tuple[int, list[int]]]) -> DataFrame:
    """Nearest-centroid assignment as a SHUFFLE-FREE Arrow map: the K
    centroids ride the task closure as a numpy constant (the standard
    O(N·K) Lloyd's cost), each batch computes its B×K distance matrix
    with one BLAS matmul, and nothing leaves the partition — strictly
    better at 10^10 rows than the broadcast-join + min_by regroup this
    replaces, which shuffled N·K scored rows back down to N.

    Exactness: all intermediates (dots ≤ 64·10^8, norms, distances)
    stay below 2^53, so float64 BLAS arithmetic is EXACT integer
    arithmetic here; distances compare as the same integers the
    previous zip_with/aggregate plan produced. Deterministic tiebreak:
    ``centroid_rows`` is sorted by cluster id and argmin returns the
    first minimum, so the smallest cluster id wins equal distances."""
    if not centroid_rows:
        # empty input table → no centroids; assignment is empty, not a
        # numpy AxisError at plan-construction time
        return vecs.limit(0).select(
            "id", F.lit(0).cast("long").alias("cluster"), "q"
        )
    clusters = np.array([c for c, _ in centroid_rows], dtype=np.int64)
    assert (np.diff(clusters) > 0).all() if len(clusters) > 1 else True
    C = np.array([v for _, v in centroid_rows], dtype=np.float64)  # K×dim
    c2 = (C * C).sum(axis=1)  # K

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            Q = np.array(pdf["q"].tolist(), dtype=np.float64)  # B×dim
            # ‖q−c‖² = ‖q‖² − 2q·c + ‖c‖², every term < 2^53 → exact
            d = (Q * Q).sum(axis=1)[:, None] - 2.0 * (Q @ C.T) + c2[None, :]
            idx = d.argmin(axis=1)
            yield pd.DataFrame(
                {"id": pdf["id"], "cluster": clusters[idx], "q": pdf["q"]}
            )

    return vecs.mapInPandas(gen, "id long, cluster long, q array<long>")


def kmeans_clusters(
    emb: DataFrame, k: int = 16, iters: int = 2,
    id_col: str = "vec_id", vec_col: str = "embedding",
    scale: int = 10_000,
) -> DataFrame:
    """Quantized Lloyd's k-means over the embeddings table, exact-integer
    end to end: init centroids are the vectors with the ``k`` smallest
    ids (deterministic, no RNG); each iteration reassigns then recomputes
    centroids as the ELEMENTWISE integer mean
    ``((sum + n*scale) div n) - scale`` — the +n*scale offset keeps the
    dividend positive so truncating division (Spark ``div``) and flooring
    division (DuckDB ``//``) agree. Returns (id, cluster, q), ``q`` the
    quantized vector (the final assignment carries it anyway — callers
    that need q avoid a second scan+quantize pass).

    Plan shape at 10^10 rows: assignment is a shuffle-free Arrow map
    with the K centroids riding the task closure (see ``_assign``); the
    centroid update is one posexplode(64·N) → (cluster, pos) partial-agg
    shuffle per iteration — both scale-linear, no pairwise stage
    anywhere.

    The loop-carried state is K centroids — K·dim integers, metadata-
    scale — so each iteration COLLECTS the (cluster, pos, s, n) partial
    sums (≤ K·dim rows, the same bounded-collect class as the manifest
    owner map) and feeds the next assignment a LITERAL centroid frame.
    That removes the iterative-lineage blowup at the root: iteration
    i+1's plan starts from constants instead of referencing iteration
    i's full plan, no loop-carried checkpoint, and one job per
    iteration instead of a chain of checkpoint materializations
    (measured 4.98 s → ~2 s on semantic_dedup_pairs at sf0.1). The
    N-row quantized table still gets a lazy localCheckpoint — it is
    scanned once per assignment (iters+1 times), and without truncation
    each scan would re-run the quantize transform."""
    vecs = quantized_vectors(emb, id_col, vec_col, scale).localCheckpoint(eager=False)
    # init = the k smallest-id vectors; k rows — driver-side literal
    init = vecs.orderBy("id").limit(k).collect()
    centroid_rows = [(int(r["id"]), [int(v) for v in r["q"]]) for r in init]
    for _ in range(iters):
        assigned = _assign(vecs, centroid_rows)
        sums = (
            assigned.select("cluster", F.posexplode("q").alias("pos", "v"))
            .groupBy("cluster", "pos")
            .agg(F.sum("v").alias("s"), F.count("*").alias("n"))
        ).collect()
        # elementwise integer mean, exactly the engine/oracle formula:
        # ((s + n*scale) div n) - scale with a positive dividend, so
        # Python // (floor), Spark div (trunc) and DuckDB // agree
        by_cluster: dict[int, list[tuple[int, int]]] = {}
        for r in sums:
            cv = (int(r["s"]) + int(r["n"]) * scale) // int(r["n"]) - scale
            by_cluster.setdefault(int(r["cluster"]), []).append((int(r["pos"]), cv))
        centroid_rows = [
            (c, [v for _, v in sorted(pv)]) for c, pv in sorted(by_cluster.items())
        ]
    return _assign(vecs, centroid_rows).select(
        F.col("id").alias(id_col), "cluster", "q"
    )


def semantic_near_dup_pairs(
    emb: DataFrame, k: int = 16, iters: int = 2, tau_bp: int = 4_000,
    max_cluster: int | None = 512,
    id_col: str = "vec_id", vec_col: str = "embedding",
    scale: int = 10_000,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) as a Spark plan: k-means-cluster the
    embeddings, then emit within-cluster pairs whose cosine ≥
    tau_bp/10000. The cosine test runs in EXACT arithmetic — cos ≥ τ ⟺
    dot > 0 ∧ (dot² · 10^8) ≥ (tau_bp² · ‖a‖²·‖b‖²) — as decimal(38,0)
    products (DuckDB replays them as int128), so no float division or
    sqrt ever runs and the oracle matches bit-for-bit.

    ``max_cluster`` skips degenerate clusters the same way the LSH/
    SimHash bucket caps do (oracle-mirrored, truncation visible): pair
    generation is O(Σ cluster²), which a hot cluster would blow up.

    The (id_a, id_b) result sort is ``sort_once``, so ``cluster_pairs``
    runs once per cluster instead of again for the range sort's sample
    job."""
    # the final assignment already carries q — no second scan+quantize
    # pass, no N-row reattach join
    clusters = kmeans_clusters(emb, k, iters, id_col, vec_col, scale)
    t2 = tau_bp * tau_bp
    loose_rhs = float(t2) * (1.0 - 1.0e-6)

    # one applyInPandas per cluster replaces the a⨝b self-join whose
    # zip_with/aggregate dot products were interpreted per element (the
    # measured bottleneck: ~2M pairs × 64 element ops at sf0.1). Per
    # cluster (≤ max_cluster rows, the same cap _cap_groups enforced as
    # a join): ONE float64 BLAS gram matrix — exact, every dot ≤ 64·10^8
    # < 2^53 — then a conservative float prefilter (1e-6 relative slack,
    # ~10 orders wider than double's worst-case rounding over these
    # products) and the EXACT arbitrary-precision integer test
    # dot²·10^8 ≥ τ²·‖a‖²·‖b‖² only on the few survivors, which alone
    # decides membership. Shuffle cost: O(N) rows once — no pair ever
    # crosses the wire.
    def cluster_pairs(key, pdf):
        empty = pd.DataFrame(
            {"cluster": pd.Series([], dtype="int64"),
             "id_a": pd.Series([], dtype="int64"),
             "id_b": pd.Series([], dtype="int64")}
        )
        n = len(pdf)
        if n < 2 or (max_cluster is not None and n > max_cluster):
            return empty
        pdf = pdf.sort_values(id_col)
        ids = pdf[id_col].to_numpy(dtype=np.int64)
        Q = np.array(pdf["q"].tolist(), dtype=np.float64)
        n2 = (Q * Q).sum(axis=1)
        D = Q @ Q.T
        iu, ju = np.triu_indices(n, 1)  # ids ascending → id_a < id_b
        dots = D[iu, ju]
        cand = np.nonzero(
            (dots > 0) & (dots * dots * 1.0e8 >= loose_rhs * n2[iu] * n2[ju])
        )[0]
        keep = [
            c
            for c in cand
            if int(dots[c]) ** 2 * 100_000_000
            >= t2 * int(n2[iu[c]]) * int(n2[ju[c]])
        ]
        return pd.DataFrame(
            {"cluster": np.full(len(keep), int(key[0]), dtype=np.int64),
             "id_a": ids[iu[keep]], "id_b": ids[ju[keep]]}
        )

    # sort_once: the range sample job must not re-run cluster_pairs
    return sort_once(
        clusters.groupBy("cluster").applyInPandas(
            cluster_pairs, "cluster long, id_a long, id_b long"
        ),
        "id_a",
        "id_b",
    )


def semantic_dedup_representatives(
    emb: DataFrame, k: int = 16, iters: int = 2, tau_bp: int = 4_000,
    max_cluster: int | None = 512,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """The complete SemDeDup pipeline end to end: k-means cluster →
    within-cluster exact-cosine near-dup pairs → transitive closure
    (large-star/small-star connected components, O(log n) rounds) → keep
    the min-id representative of every duplicate group. Returns the
    deduplicated (id) rows — the set a training pipeline feeds onward."""
    from .dedup import connected_components_star

    pairs = semantic_near_dup_pairs(
        emb, k, iters, tau_bp, max_cluster, id_col, vec_col
    ).select(F.col("id_a"), F.col("id_b"))
    comp = connected_components_star(pairs, emb.select(id_col), id_col)
    reps = comp.filter(F.col(id_col) == F.col("component")).select(id_col)
    return reps
